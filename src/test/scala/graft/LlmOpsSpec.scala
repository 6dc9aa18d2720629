package graft

import org.apache.spark.sql.functions._

import graft.llm._

class LlmOpsSpec extends SparkSuite {
  init()
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (3L, "completely different content about spark engines and data"),
    (4L, "THE  Quick   Brown Fox Jumps Over The Lazy Dog") // dup after normalize
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val out = TextDedup.exactDedup(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 3)
    val byKeep = out.map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byKeep(0L) == 3) // 0, 1, 4 collapse
    assert(byKeep(2L) == 1 && byKeep(3L) == 1)
  }

  test("decontaminate: shingle overlap with benchmark flags train docs") {
    // bench = doc 0; train = 2 (near dup, shares 3-grams), 3 (disjoint)
    val bench = docs.filter(col("doc_id") === 0L)
    val train = docs.filter(col("doc_id").isin(2L, 3L))
    val out = TextDedup.decontaminate(train, bench, "doc_id", "text",
      shingleLen = 3).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(2L)) // 3 is clean
    // doc 2 shares every 3-gram except those touching leaps/jumps:
    // 7 shingles total, 4 containing the changed word differ → 3 overlap...
    // compute independently: shared 3-grams of the two token sequences
    val a = "the quick brown fox jumps over the lazy dog".split(" ").sliding(3).map(_.mkString(" ")).toSet
    val b = "the quick brown fox leaps over the lazy dog".split(" ").sliding(3).map(_.mkString(" ")).toSet
    assert(out.head.getAs[Long]("overlap_shingles") == (a intersect b).size.toLong)
    // raising minOverlap above the overlap empties the result
    assert(TextDedup.decontaminate(train, bench, "doc_id", "text", 3,
      minOverlap = 100L).count() == 0)
  }

  test("decontaminateBloom: identical to exact decontaminate, plan has bloom prefilter") {
    val bench = docs.filter(col("doc_id") === 0L)
    val train = docs.filter(col("doc_id").isin(2L, 3L))
    val exact = TextDedup.decontaminate(train, bench, "doc_id", "text",
      shingleLen = 3).orderBy("doc_id").collect().toSeq
    // several fpp settings, incl. one high enough that false positives are
    // likely — the confirm join must erase them
    for (fpp <- Seq(0.5, 0.01, 1e-6)) {
      val bloom = TextDedup.decontaminateBloom(train, bench, "doc_id", "text",
        shingleLen = 3, fpp = fpp)
      assert(bloom.orderBy("doc_id").collect().toSeq == exact, s"fpp=$fpp")
    }
    // the prefilter must sit in the plan (pruning BEFORE the join shuffle)
    val plan = TextDedup.decontaminateBloom(train, bench, "doc_id", "text",
      shingleLen = 3).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
  }

  test("gopherQualityFlags: each rule fires on its own pathological doc") {
    val cases = Seq(
      (1L, "the cat sat on the mat with a dog and it was fine here today ok"), // clean
      (2L, "word " * 300),                                  // too many words
      (3L, "a b c d e f g h i j k l m n o p"),              // mean len < 3
      (4L, "### ### ### the ### quick ### fox ### runs"),   // symbol ratio
      (5L, "- one\n- two\n- three\n- four"),                // bullet lines
      (6L, "first line...\nsecond line...\nthird..."),      // ellipsis ends
      (7L, "1 2 3 4 5 6 7 8 9 10 11 12 13 14"),             // no alpha words
      (8L, "zebra quokka visits parks daily quietly")       // no stopwords
    ).toDF("doc_id", "text")
    val out = TextStats.gopherQualityFlags(cases, "doc_id", "text",
      minWords = 5, maxWords = 100).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("keep") == 1)
    assert(out(2L).getAs[Int]("ok_words") == 0 && out(2L).getAs[Int]("keep") == 0)
    assert(out(3L).getAs[Int]("ok_word_len") == 0)
    assert(out(4L).getAs[Int]("ok_symbol") == 0)
    assert(out(5L).getAs[Int]("ok_bullet") == 0)
    assert(out(6L).getAs[Int]("ok_ellipsis") == 0)
    assert(out(7L).getAs[Int]("ok_alpha") == 0)
    assert(out(8L).getAs[Int]("ok_stop") == 0)
  }

  test("minhash: identical docs get identical signatures, est_jaccard 1") {
    val pairs = TextDedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleLen = 3, numHashes = 64, bands = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 4L)) == 1.0)
    // near-dup 2 should be found with high-but-not-1 similarity
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.15 && pairs((0L, 2L)) < 1.0)
    // unrelated doc 3 must not pair with 0 at any band
    assert(!pairs.contains((0L, 3L)))
  }

  test("simhash: identical docs hamming 0, near-dups close, distinct far") {
    val pairs = TextDedup.simhashCandidatePairs(docs, "doc_id", "text", maxHamming = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((0L, 1L)) == 0)
    assert(pairs((0L, 4L)) == 0)
    assert(pairs.get((0L, 2L)).exists(_ < 15))
  }

  test("ngram jaccard exact values") {
    val d = docs.filter(col("doc_id").isin(0, 2))
    val a = d.select(col("doc_id").as("ia"), col("text").as("ta"))
    val b = d.select(col("doc_id").as("ib"), col("text").as("tb"))
    val j = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(TextDedup.ngramJaccard(col("ta"), col("tb"), 3).as("j"))
      .collect()(0).getDouble(0)
    // 9 tokens → 7 shingles each; 4 shared ("jumps"/"leaps" kills 3)
    assert(j == 4.0 / 10.0)
  }

  test("cosine top-k: self-similarity excluded, ranks deterministic") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 4)
    val rows = out.collect()
    assert(rows.length == 12)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("corpus_id")))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9))
  }

  test("lsh ann recall: top-1 of LSH appears in brute-force top-10") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, 10).select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, emb, 1, planes = 8).collect()
    // multi-probe LSH top-1 should usually be a true top-10 neighbor
    val hits = lsh.count(r => brute.contains((r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    assert(hits >= lsh.length / 2, s"LSH recall too low: $hits/${lsh.length}")
  }

  test("sq8: codes in [-127,127], scale cancels, high agreement with float top-k") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val codes = Similarity.sq8Quantize(emb.limit(200)).select("q_emb").collect()
    assert(codes.forall(_.getSeq[Long](0).forall(v => v >= -127 && v <= 127)))
    // every non-zero vector attains ±127 (its own max-|x| element)
    assert(codes.forall(r => r.getSeq[Long](0).exists(v => math.abs(v) == 127)))
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, 10).select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(q, emb, 3).collect()
    // int8 quantization error is small — top-3 should nearly all be true top-10
    val hits = sq8.count(r => brute.contains((r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    assert(hits >= (sq8.length * 2) / 3, s"SQ8 agreement too low: $hits/${sq8.length}")
  }

  test("bigram LM score: hand-computed MLE transitions, short docs absent") {
    val corpus = Seq((1L, "a b"), (2L, "A  b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    // normalized tokens: [a,b] [a,b] [a,c] [x]; bigrams "a b"×2, "a c"×1;
    // left-unigram a=3 ⇒ p(a b)=2/3, p(a c)=1/3; "x" has no bigram
    val out = TextStats.bigramLmScore(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.getLong(1) == 1L))
    assert(math.abs(out(0).getDouble(2) - 2.0 / 3) < 2e-6) // 1e-6 floor grain
    assert(math.abs(out(2).getDouble(2) - 1.0 / 3) < 2e-6)
    // partition invariance of the exact-sum mean
    val rep = TextStats.bigramLmScore(corpus.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getDouble(2)).toSeq == rep.map(_.getDouble(2)).toSeq)
  }

  test("unicode kernels: NFC composes, strip removes marks, others pass through") {
    graft.functions.TextKernels.register(spark)
    val cases = Seq(
      (1L, "e\u0301cole"),   // decomposed e+U+0301 -> NFC composes
      (2L, "\u00e9cole"),    // precomposed U+00E9 - canonically equivalent
      (3L, "nai\u0308ve son\u0303ar"),
      (4L, "\u00f8 \u00df fin"), // o-slash/eszett are letters, not marks
      (5L, "\u4e2d\u6587 ok")    // non-Latin passes through
    ).toDF("doc_id", "text")
    val out = cases.select(col("doc_id"),
        TextStats.nfcNormalize(col("text")).as("nfc"),
        TextStats.stripAccents(TextStats.nfcNormalize(col("text"))).as("st"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L)._1 == "\u00e9cole" && out(1L)._1.length == 5)
    assert(out(1L) == out(2L))              // canonical equivalence
    assert(out(1L)._2 == "ecole")
    assert(out(3L)._2 == "naive sonar")
    assert(out(4L)._2 == "\u00f8 \u00df fin")
    assert(out(5L)._2 == "\u4e2d\u6587 ok")
  }

  test("quality score bounded and sensitive to noise") {
    val out = Seq(
      (1L, "the cat sat on the mat and it was a fine day for everyone involved"),
      (2L, "!!!! ???? ;;;; 1234 5678 !!!!")).toDF("doc_id", "text")
      .select(col("doc_id"), TextStats.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(2L))
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("multimodal stub plumbing: deterministic features, batch boundaries") {
    val docsTable = Tables.t(spark, sfDir, "documents").limit(50)
    val f1 = Multimodal.mediaFeatures(spark, docsTable, "doc_id", "text")
      .orderBy("doc_id").collect()
    val f2 = Multimodal.mediaFeatures(spark, docsTable.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(f1.toSeq == f2.toSeq) // features independent of partitioning
    assert(f1.forall(_.getAs[Int]("n_bytes") > 0))
  }

  test("real image decode: PNG round-trip recovers dimensions and pixels") {
    // the generator's bytes are a genuine PNG...
    val png = Multimodal.syntheticPng(37L)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    // ...and decode recovers the closed-form features, independent of
    // partitioning (batch boundaries)
    def expected(id: Long): (Int, Int, Long) = {
      val w = 16 + (id % 16).toInt; val h = 16 + ((id / 16) % 16).toInt
      val sum = (for (y <- 0 until h; x <- 0 until w) yield
        (x + id) % 256 + (y + 2 * id) % 256 + (x + y) % 256).sum
      (w, h, sum)
    }
    val ids = (0L until 40L).toDF("doc_id")
    val out = Multimodal.imageFeatures(spark, ids.repartition(7), "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 40)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h, s) = expected(id)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Int]("channels") == 3)
      assert(r.getAs[Long]("pixel_sum") == s, s"pixel_sum mismatch for $id")
    }
    // corrupt bytes fail loudly, not silently
    import Multimodal.MediaRow
    intercept[Exception] {
      Multimodal.decodeImages(
        Seq(MediaRow(1L, Array[Byte](1, 2, 3))).toDS()).collect()
    }
  }

  test("real audio decode: WAV round-trip matches closed-form samples") {
    def expected(id: Long): (Long, Long, Int) = {
      val n = 256 + (id % 256).toInt
      val samples = (0 until n).map(i => ((i.toLong * 31 + id * 17) % 65536) - 32768)
      (n.toLong, samples.sum, samples.map(s => math.abs(s).toInt).max)
    }
    val ids = (0L until 40L).toDF("doc_id")
    val out = Multimodal.audioFeatures(spark, ids.repartition(7), "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 40)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, sum, peak) = expected(id)
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Int]("channels") == 1)
      assert(r.getAs[Long]("n_frames") == n, s"n_frames mismatch for $id")
      assert(r.getAs[Long]("sample_sum") == sum, s"sample_sum mismatch for $id")
      assert(r.getAs[Int]("peak") == peak, s"peak mismatch for $id")
    }
    // non-audio bytes fail loudly
    import Multimodal.MediaRow
    intercept[Exception] {
      Multimodal.decodeAudio(
        Seq(MediaRow(1L, Array[Byte](1, 2, 3, 4))).toDS()).collect()
    }
  }

  test("binaryFile ingestion: real files on disk through the production scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mediafiles_spec")
    val ids = (0L until 24L)
    Multimodal.writeMediaFixtures(tmp, ids)
    // 3 files per id actually hit the disk
    assert(tmp.toFile.listFiles().length == 24 * 3)
    // the distributed binaryFile scan recovers ids and byte-identical content
    val pngRows = Multimodal.readMediaFiles(spark, tmp.toString, "*.png")
      .collect().sortBy(_.doc_id)
    assert(pngRows.map(_.doc_id).toSeq == ids.toSeq)
    assert(pngRows(7).content.toSeq == Multimodal.syntheticPng(7L).toSeq)
    // end-to-end: scan → decode matches the synthetic (in-memory) pipeline
    val fromFiles = Multimodal.mediaFileFeatures(spark, tmp.toString)
      .orderBy("kind", "doc_id").collect()
    assert(fromFiles.length == 24 * 3)
    val imgDirect = Multimodal.imageFeatures(spark, ids.toDF("doc_id"), "doc_id")
      .orderBy("doc_id").collect()
    val imgFromFiles = fromFiles.filter(_.getString(0) == "image")
    imgDirect.zip(imgFromFiles).foreach { case (d, f) =>
      assert(f.getLong(1) == d.getAs[Long]("doc_id"))
      assert(f.getLong(2) == d.getAs[Int]("width").toLong)
      assert(f.getLong(3) == d.getAs[Int]("height").toLong)
      assert(f.getLong(5) == d.getAs[Long]("pixel_sum"))
    }
    // a file name with no numeric id fails loudly, not as doc 0
    val bad = java.nio.file.Files.createTempDirectory("graft_mediafiles_bad")
    java.nio.file.Files.write(bad.resolve("noid.png"),
      Multimodal.syntheticPng(1L))
    intercept[Exception] {
      Multimodal.readMediaFiles(spark, bad.toString, "*.png").collect()
    }
  }

  test("NaN embeddings assign to centroid 0, not a -1 sentinel") {
    val cents = Seq(0 -> Array(0.0, 0.0), 1 -> Array(10.0, 10.0))
    val df = Seq(
      (1L, Seq(Double.NaN, 1.0)),  // all distances NaN
      (2L, Seq(9.0, 9.0)),         // clearly centroid 1
      (3L, Seq(0.1, 0.1))          // clearly centroid 0
    ).toDF("id", "emb")
    val out = df.select(col("id"),
        Similarity.argminCentroid(col("emb"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 0, "NaN row must stay in a real inverted list")
    assert(out(2L) == 1 && out(3L) == 0)
  }

  test("real video container decode: AVI/DIB frames match closed form") {
    def expected(id: Long): (Int, Int, Long, Long) = {
      val w = 8 + (id % 8).toInt; val h = 8 + ((id / 8) % 8).toInt
      val n = 2 + (id % 3).toInt
      val sum = (for (f <- 0 until n; y <- 0 until h; x <- 0 until w) yield
        (x + id + f) % 256 + (y + 2 * id) % 256 + (x + y + f) % 256).sum
      (w, h, n.toLong, sum)
    }
    val ids = (0L until 30L).toDF("doc_id")
    val out = Multimodal.videoFeatures(spark, ids.repartition(5), "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 30)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h, n, s) = expected(id)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Long]("n_frames") == n, s"frames mismatch for $id")
      assert(r.getAs[Long]("pixel_sum") == s, s"pixel_sum mismatch for $id")
    }
    // non-AVI bytes fail loudly
    import Multimodal.MediaRow
    intercept[Exception] {
      Multimodal.decodeVideo(
        Seq(MediaRow(1L, "nope".getBytes)).toDS()).collect()
    }
  }

  test("MJPEG video decode: real JPEG frames — dims/counts closed-form, " +
       "pixel sums match an independent ImageIO decode") {
    import Multimodal.MediaRow
    val ids = (0L until 20L).toDF("doc_id")
    val out = Multimodal.videoFeaturesMjpeg(spark, ids.repartition(4),
        "doc_id").orderBy("doc_id").collect()
    assert(out.length == 20)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") == 8 + (id % 8).toInt)
      assert(r.getAs[Int]("height") == 8 + ((id / 8) % 8).toInt)
      assert(r.getAs[Long]("n_frames") == 2 + (id % 3))
      // independent replay: walk the same container bytes and decode each
      // JPEG with ImageIO directly — the operator's sum must match exactly
      // (same codec, same bytes), proving the 00dc path truly decodes
      val bytes = Multimodal.syntheticMjpegAvi(id)
      var want = 0L
      var p = 12
      def u32(o: Int): Int =
        ((bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
          ((bytes(o + 2) & 0xFF) << 16) | ((bytes(o + 3) & 0xFF) << 24))
      def walk(start: Int, end: Int): Unit = {
        var q = start
        while (q + 8 <= end) {
          val tag = new String(bytes, q, 4, "US-ASCII")
          val size = u32(q + 4)
          if (tag == "LIST") walk(q + 12, q + 8 + size)
          else if (tag == "00dc") {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, q + 8, size))
            for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
              val rgb = img.getRGB(x, y)
              want += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            }
          }
          q = q + 8 + size + (size & 1)
        }
      }
      walk(p, bytes.length)
      assert(r.getAs[Long]("pixel_sum") == want,
        s"pixel_sum mismatch for $id")
      assert(want > 0L, s"degenerate all-black decode for $id")
    }
    // a 00dc chunk that is not a JPEG stream fails loudly
    val bad = Multimodal.syntheticMjpegAvi(1L)
    val idx = {
      var i = -1; var q = 0
      while (i < 0 && q + 4 <= bad.length) {
        if (bad(q) == '0' && bad(q + 1) == '0' && bad(q + 2) == 'd' &&
          bad(q + 3) == 'c') i = q
        q += 1
      }
      i
    }
    bad(idx + 8) = 0x00 // corrupt the SOI marker
    intercept[Exception] {
      Multimodal.decodeVideo(Seq(MediaRow(1L, bad)).toDS()).collect()
    }
  }

  test("zero-norm embeddings never rank in cosine top-k") {
    val rows = (0L to 4L).map(i => (i, Array.fill(8)(0.1f * (i + 1)))) :+
      (5L, Array.fill(8)(0.0f)) // zero vector must not poison rankings
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 3)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("corpus_id") != 5L))
    assert(out.forall(r => !r.getAs[Double]("cosine").isNaN))
  }

  test("dedup groups converge on long chains (pointer jumping)") {
    val chain = (0L until 9L).map(i => (i, i + 1, 0.9))
      .toDF("id_a", "id_b", "est_jaccard")
    val ids = (0L to 9L).toDF("id")
    val groups = TextDedup.dedupGroups(chain, ids, maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.values.toSet == Set(0L), s"unconverged: $groups")
  }

  test("dedup groups: components resolved, keepers are group minima") {
    val pairs = Seq((0L, 1L, 0.9), (1L, 4L, 0.9), (2L, 3L, 0.8))
      .toDF("id_a", "id_b", "est_jaccard")
    val ids = (0L to 5L).toDF("id")
    val groups = TextDedup.dedupGroups(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component {0,1,4} → 0; {2,3} → 2; singleton 5 → 5
    assert(groups == Map(0L -> 0L, 1L -> 0L, 4L -> 0L, 2L -> 2L, 3L -> 2L, 5L -> 5L))
  }

  test("dedup groups: distributed loop == local union-find (threshold forced)") {
    // chain + separate component + singleton; a driver row limit of 0
    // forces the distributed pointer-jumping path, default takes local
    // union-find
    val pairs = ((0L until 9L).map(i => (i, i + 1, 0.9)) ++
      Seq((20L, 21L, 0.8))).toDF("id_a", "id_b", "est_jaccard")
    val ids = ((0L to 9L) ++ Seq(20L, 21L, 30L)).toDF("id")
    val local = TextDedup.dedupGroups(pairs, ids)
    val dist = atDriverRowLimit(0L)(
      TextDedup.dedupGroups(pairs, ids, maxIter = 6))
    val lm = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dm = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm == dm, s"local $lm != distributed $dm")
    assert(lm(9L) == 0L && lm(21L) == 20L && lm(30L) == 30L)
    local.unpersist(); dist.unpersist()
  }

  test("dedup groups: string ids use UTF-8 binary order in BOTH plans") {
    // U+E000 is 3 UTF-8 bytes (EE 80 80) but sorts ABOVE the surrogate pair
    // U+1F600 (F0 9F 98 80) in UTF-16 code units — String.compareTo and
    // binary UTF-8 order disagree on this pair, so the local union-find must
    // use UTF8String order to match the distributed min() labels
    val privateUse = "\uE000"      // BMP private-use: UTF-8 smaller
    val emoji = "\uD83D\uDE00"   // U+1F600: UTF-16 code-unit smaller
    assert(privateUse.compareTo(emoji) > 0) // JVM order would pick emoji
    val pairs = Seq((privateUse, emoji, 0.9)).toDF("id_a", "id_b", "est_jaccard")
    val ids = Seq(privateUse, emoji).toDF("id")
    val local = TextDedup.dedupGroups(pairs, ids)
    val dist = atDriverRowLimit(0L)(
      TextDedup.dedupGroups(pairs, ids, maxIter = 3))
    val lm = local.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dm = dist.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lm == dm, s"local $lm != distributed $dm")
    assert(lm(emoji) == privateUse, "group label must be the UTF-8 binary min")
    local.unpersist(); dist.unpersist()
  }

  test("nearDupDedup keeps exactly one doc per duplicate cluster") {
    val out = TextDedup.nearDupDedup(docs, "doc_id", "text", minEstJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val groupOf = out.map(t => t._1 -> t._2).toMap
    assert(groupOf(0L) == 0L && groupOf(1L) == 0L && groupOf(4L) == 0L) // exact dups
    assert(groupOf(3L) == 3L) // unrelated keeps itself
    assert(out.count(_._3) == out.map(_._2).distinct.length) // one keeper per group
  }

  test("ivf ann: top-1 appears in brute-force top-10") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, 10).select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, 1, nCentroids = 8, nProbe = 3).collect()
    val hits = ivf.count(r => brute.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    assert(hits >= ivf.length / 2, s"IVF recall too low: $hits/${ivf.length}")
  }

  test("portable ivf: deterministic fit, partition-invariant, sane recall") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val a = Similarity.ivfTopKPortable(q, emb, 3, nCentroids = 8, nProbe = 3,
      iters = 2).orderBy("query_id", "rank").collect()
    // identical under a different corpus partitioning: md5 init + exact-sum
    // centroid updates + fixed-order distance folds are partition-free
    val b = Similarity.ivfTopKPortable(q, emb.repartition(8), 3,
      nCentroids = 8, nProbe = 3, iters = 2)
      .orderBy("query_id", "rank").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val brute = Similarity.bruteForceTopK(q, emb, 10).select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top1 = a.filter(_.getAs[Int]("rank") == 1)
    val hits = top1.count(r => brute.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    assert(hits >= top1.length / 2, s"portable IVF recall too low: $hits/${top1.length}")
  }

  test("sampled-fit ivf: deterministic, partition-invariant, sane recall") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val a = Similarity.ivfTopKPortable(q, emb, 3, nCentroids = 8, nProbe = 3,
      iters = 2, fitFraction = 0.5).orderBy("query_id", "rank").collect()
    // value-derived sample → identical under a different partitioning
    val b = Similarity.ivfTopKPortable(q, emb.repartition(8), 3,
      nCentroids = 8, nProbe = 3, iters = 2, fitFraction = 0.5)
      .orderBy("query_id", "rank").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val brute = Similarity.bruteForceTopK(q, emb, 10).select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top1 = a.filter(_.getAs[Int]("rank") == 1)
    val hits = top1.count(r => brute.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    assert(hits >= top1.length / 2, s"sampled-fit recall too low: $hits/${top1.length}")
  }

  test("chunkDocuments: stride == chunk reconstructs every document exactly") {
    // non-overlapping windows partition the token stream: re-joining the
    // chunks in order must reproduce the whitespace-normalized document
    val d = Tables.t(spark, sfDir, "documents").limit(100)
    val rebuilt = SeqPack.chunkDocuments(d, "doc_id", "text", 7, 7)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
        .getField("chunk_text")).as("rebuilt"))
    val orig = d.select(col("doc_id"),
      concat_ws(" ", split(trim(col("text")), "\\s+")).as("norm"))
    val bad = rebuilt.join(orig, "doc_id")
      .filter(col("rebuilt") =!= col("norm")).count()
    assert(bad == 0)
  }

  test("chunkDocuments: overlapping windows, short tail, small-doc passthrough") {
    val d = Seq(
      (1L, (1 to 11).map(i => s"t$i").mkString(" ")), // 11 tokens
      (2L, "a b c")                                   // under one chunk
    ).toDF("doc_id", "text")
    val out = SeqPack.chunkDocuments(d, "doc_id", "text", 4, 3)
      .orderBy("doc_id", "chunk_id").collect()
    val c1 = out.filter(_.getLong(0) == 1L).map(r =>
      (r.getAs[Int]("chunk_id"), r.getAs[String]("chunk_text"), r.getAs[Int]("n_chunk_tokens")))
    // ceil((11-4)/3)+1 = 4 windows; starts 1,4,7,10; final runs short
    assert(c1.toSeq == Seq(
      (0, "t1 t2 t3 t4", 4), (1, "t4 t5 t6 t7", 4),
      (2, "t7 t8 t9 t10", 4), (3, "t10 t11", 2)))
    val c2 = out.filter(_.getLong(0) == 2L)
    assert(c2.length == 1 && c2.head.getAs[String]("chunk_text") == "a b c")
  }

  test("pq adc: deterministic, partition-invariant, sane recall") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val a = Similarity.pqTopK(q, emb, 3, numSub = 8, k = 64, iters = 2)
      .orderBy("query_id", "rank").collect()
    val b = Similarity.pqTopK(q, emb.repartition(8), 3, numSub = 8, k = 64,
      iters = 2).orderBy("query_id", "rank").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val brute = Similarity.bruteForceTopK(q, emb, 10).select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top1 = a.filter(_.getAs[Int]("rank") == 1)
    val hits = top1.count(r => brute.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))))
    assert(hits >= top1.length / 2, s"PQ-ADC recall too low: $hits/${top1.length}")
    // codes really compress: every code in [0, 64)
    val books = Similarity.pqTrainPortable(emb, 8, 64, 2)
    assert(books.size == 8 && books.forall(_.size == 64) &&
      books.forall(_.forall(_.length == 8)))
  }

  test("centroid-assignment kernel == argminCentroid HOF, incl. NaN seed") {
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val nanRow = emb.limit(1).select(col("vec_id") + 100000,
      transform(col("emb"), _ => lit(Double.NaN)).as("emb"))
    val v = emb.union(nanRow)
    val cents = Similarity.kmeansPortable(emb, 8, 1, idCol = "vec_id",
      embCol = "emb")
    graft.functions.PqKernels.register(spark, Seq(cents.sortBy(_._1).map(_._2).toSeq))
    val diff = v.select(
        element_at(call_function("graft_pq_encode", col("emb")), 1).as("a"),
        Similarity.argminCentroid(col("emb"), cents).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0)
  }

  test("kmeansClusters: sizes cover the corpus; coords come from the fit") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val out = Similarity.kmeansClusters(emb, 4, 2).collect()
    assert(out.length == 4)
    val total = out.map(r => r.getLong(r.fieldIndex("n_points"))).sum
    assert(total == emb.count())
    val cents = Similarity.kmeansPortable(emb, 4, 2).sortBy(_._1)
    out.sortBy(_.getInt(0)).zip(cents).foreach { case (r, (_, arr)) =>
      assert(r.getDouble(r.fieldIndex("c1")) == arr(0))
      assert(r.getDouble(r.fieldIndex("c4")) == arr(3))
    }
  }

  test("kmeansSilhouette: two tight separated blobs score near 1") {
    val dim = 8
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      val jit = (i % 5) * 0.01
      (i.toLong, Array.fill(dim)(base + jit).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.kmeansSilhouette(df, 2, 3, embCol = "embedding")
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      val s = r.getDouble(r.fieldIndex("mean_silhouette"))
      assert(s > 0.95 && s <= 1.0, s"sil=$s")
    }
  }

  test("pq kernels == HOF executable spec bit-exactly") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val books = Similarity.pqTrainPortable(emb, 8, 16, 1)
    graft.functions.PqKernels.register(spark, books)
    val dsub = books.head.head.length
    val v = emb.select(col("embedding").cast("array<double>").as("emb"))
    val hofCodes = transform(sequence(lit(0), lit(7)), mm =>
      Similarity.pqArgmin(slice(col("emb"), mm * dsub + 1, lit(dsub)), mm, books))
    val diff = v.select(expr("graft_pq_encode(emb)").as("a"), hofCodes.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0)
  }

  test("repetition metrics: duplicate and top n-gram fractions") {
    val d = Seq(
      (1L, "a b a b a b"),            // bigrams: ab ba ab ba ab → 5 total, 2 distinct
      (2L, "all words here differ"),  // no repeated bigrams
      (3L, "one")                     // < 2 tokens → single whole-text shingle
    ).toDF("doc_id", "text")
    val m = TextStats.repetitionMetrics(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Long]("n_bigrams") == 5)
    assert(m(1L).getAs[Double]("dup_bigram_frac") == 1.0 - 2.0 / 5.0)
    assert(m(1L).getAs[Double]("top_bigram_frac") == 3.0 / 5.0)
    assert(m(2L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(m(2L).getAs[Double]("top_bigram_frac") == 1.0 / 3.0)
    assert(m(3L).getAs[Long]("n_bigrams") == 1)
    assert(m(3L).getAs[Double]("dup_bigram_frac") == 0.0 &&
      m(3L).getAs[Double]("dup_trigram_frac") == 0.0)
  }

  test("pii redaction: emails, ipv4, phones replaced with typed tokens") {
    val d = Seq(
      (1L, "mail alice.smith+x@corp-mail.example.org or call +1 (415) 555-0137 now"),
      (2L, "server at 192.168.10.254 timed out"),
      (3L, "no pii in this row at all"),
      (4L, "a@b.io and 10.0.0.1 and 555-123-4567")
    ).toDF("id", "text")
    val out = d.select(col("id"), TextStats.redactPii(col("text")).as("r"),
        TextStats.piiCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L)._1 == "mail <EMAIL> or call <PHONE> now")
    assert(out(1L)._2 == 2)
    assert(out(2L)._1 == "server at <IP> timed out" && out(2L)._2 == 1)
    assert(out(3L)._1 == "no pii in this row at all" && out(3L)._2 == 0)
    assert(out(4L)._1 == "<EMAIL> and <IP> and <PHONE>" && out(4L)._2 == 3)
  }

  test("stripMarkup: scripts/styles/comments/entities/whitespace hand cases") {
    val d = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      (2L, "<script>if (a < b) { x(); }</script>keep<style>p{}</style>me"),
      (3L, "a &amp;amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end"),
      (4L, "<!-- gone --><div\nclass='x'>multi\n\n  line</div>"),
      (5L, "no markup at all")
    ).toDF("id", "html")
    val out = d.select(col("id"), TextStats.stripMarkup(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world")
    assert(out(2L) == "keep me", "script content incl. '<' must vanish")
    // &amp;amp; decodes ONE level (amp last): "&amp;"
    assert(out(3L) == "a &amp; b <tag> \"q\" 's' end")
    assert(out(4L) == "multi line")
    assert(out(5L) == "no markup at all")
    val stats = TextStats.markupStats(d, "id", "html")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tags"), r.getAs[Long]("markup_bp")))).toMap
    assert(stats(1L)._1 == 4L)
    assert(stats(5L) == ((0L, 0L)))
    assert(stats(2L)._2 > 5000L, "mostly-markup doc must show a high share")
  }

  test("langId mechanism: marker words drive prediction") {
    val out = TextStats.withLangId(Seq(
      (1L, "der hund ist nicht mit der katze"),
      (2L, "the cat is with the dog and that")).toDF("id", "text"), "text")
      .select("id", "pred_lang").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en")
  }

  test("seqPack: contiguous offsets, chunk math, partition-invariant") {
    val d = (0L until 200L).map(i => (i, ("tok " * (i % 37 + 1).toInt).trim))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      SeqPack.packSequences(df, Seq(col("doc_id")),
          TextStats.tokenCount(col("text")), seqLen = 64)
        .select("doc_id", "n_tokens", "token_start", "first_seq", "last_seq", "n_seqs")
        .orderBy("doc_id").collect()
    val out = run(d)
    // offsets are the exclusive prefix sum in doc_id order
    var expect = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("token_start") == expect, r.toString)
      expect += r.getAs[Long]("n_tokens")
      val (s0, s1, n) = (r.getAs[Long]("first_seq"), r.getAs[Long]("last_seq"),
        r.getAs[Long]("n_tokens"))
      assert(s0 == r.getAs[Long]("token_start") / 64)
      if (n > 0) assert(s1 == (r.getAs[Long]("token_start") + n - 1) / 64)
      assert(r.getAs[Long]("n_seqs") == s1 - s0 + 1)
    }
    // identical under a different input partitioning (distributed prefix sum)
    assert(run(d.repartition(8)).map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("domainMix: epoch semantics, determinism, zero-rate drop") {
    val d = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "keepall" else if (i % 4 == 1) "half" else "drop"))
      .toDF("id", "domain")
    val out = DomainMix.sampleByDomain(d, col("domain"),
      Map("keepall" -> 20000, "half" -> 5000, "drop" -> 0),
      defaultBp = 10000, keyCols = Seq(col("id")))
    val byDomain = out.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDomain("keepall") == 400L) // exactly 2 epochs of 200 docs
    assert(!byDomain.contains("drop"))
    val half = byDomain("half")
    assert(half > 20 && half < 80, s"half-rate kept $half of 100")
    // copy_id enumerates epochs
    val copies = out.filter(col("domain") === "keepall")
      .groupBy("id").agg(collect_set(col("copy_id")).as("c")).collect()
    assert(copies.forall(_.getSeq[Long](1).toSet == Set(0L, 1L)))
    // pure function of the data: identical on rerun and repartition
    val out2 = DomainMix.sampleByDomain(d.repartition(7), col("domain"),
      Map("keepall" -> 20000, "half" -> 5000, "drop" -> 0),
      defaultBp = 10000, keyCols = Seq(col("id")))
    assert(out2.orderBy("id", "copy_id").collect().map(_.toSeq).toSeq ==
      out.orderBy("id", "copy_id").collect().map(_.toSeq).toSeq)
  }

  test("tf-idf top term: ratio idf, frequency wins, lexicographic ties") {
    val d = Seq(
      (1L, "apple apple banana"),   // apple tf=2 df=1 → 2*3/1=6; banana tf=1 df=3 → 1
      (2L, "banana cherry banana"), // banana tf=2 df=3 → 2; cherry tf=1 df=2 → 1.5
      (3L, "cherry banana")         // cherry 1*3/2=1.5, banana 1*3/3=1 → cherry
    ).toDF("doc_id", "text")
    val m = TextStats.tfIdfTopTerm(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[String]("top_term") == "apple")
    assert(m(1L).getAs[Double]("tfidf") == 6.0)
    assert(m(2L).getAs[String]("top_term") == "banana")
    assert(m(2L).getAs[Double]("tfidf") == 2.0)
    assert(m(3L).getAs[String]("top_term") == "cherry")
    assert(m(3L).getAs[Double]("tfidf") == 1.5)
  }

  test("dup n-gram spans: cross-doc duplication attributed per doc") {
    val d = Seq(
      (1L, "the quick brown fox jumps"),   // trigrams: tqb qbf bfj fjx? (3 total)
      (2L, "the quick brown cat sits"),    // shares "the quick brown" with doc 1
      (3L, "totally unique words only here")
    ).toDF("doc_id", "text")
    val m = TextStats.dupNgramSpanStats(d, "doc_id", "text", n = 3, minCount = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // docs 1 and 2 share exactly one trigram ("the quick brown") out of 3 each
    assert(m(1L).getAs[Long]("n_ngrams") == 3)
    assert(m(1L).getAs[Long]("dup_occ") == 1)
    assert(m(1L).getAs[Double]("dup_frac") == 1.0 / 3.0)
    assert(m(2L).getAs[Double]("dup_frac") == 1.0 / 3.0)
    assert(m(3L).getAs[Long]("dup_occ") == 0)
    assert(m(3L).getAs[Double]("dup_frac") == 0.0)
    // within-doc repeats count toward the corpus total too
    val d2 = Seq((1L, "x y z x y z x y"), (2L, "a b c d")).toDF("doc_id", "text")
    val m2 = TextStats.dupNgramSpanStats(d2, "doc_id", "text", 3, 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // trigrams of doc1: xyz yzx zxy xyz yzx zxy → all 6 occurrences duplicated
    assert(m2(1L).getAs[Long]("n_ngrams") == 6)
    assert(m2(1L).getAs[Double]("dup_frac") == 1.0)
    assert(m2(2L).getAs[Double]("dup_frac") == 0.0)
  }

  test("crossDocNgrams: shared shingles counted across docs, singletons dropped") {
    val d = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "see the quick brown cat"),
      (3L, "the quick brown fox runs and the quick brown fox sleeps")
    ).toDF("doc_id", "text")
    val out = TextDedup.crossDocNgrams(d, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => r.getAs[String]("ngram") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occurrences"))).toMap
    // "the quick brown" is in all 3 docs, twice in doc 3 → (3, 4)
    assert(out("the quick brown") == (3L, 4L))
    // "quick brown fox" is in docs 1 and 3 (twice) → (2, 3)
    assert(out("quick brown fox") == (2L, 3L))
    // nothing that lives in a single doc survives
    assert(!out.contains("brown fox jumps") && !out.contains("brown fox runs"))
  }

  test("bm25: term frequency and doc length drive the ranking") {
    val d = Seq(
      (1L, "spark spark spark engine"),        // tf=3, short
      (2L, "spark engine cluster data query"), // tf=1
      (3L, "totally unrelated words here now"),
      (4L, "spark " * 30 + "pad")              // tf=30 but very long
    ).toDF("doc_id", "text")
    val out = TextStats.bm25(d, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(out(3L) == 0.0)                     // no query term → zero
    assert(out(1L) > out(2L))                  // higher tf wins
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite))
    // saturation: tf=30 in a 31-token doc beats tf=1 but not by 30×
    assert(out(4L) > out(2L) && out(4L) < 30 * out(2L))
  }

  test("sentenceStats: segmentation, empty segments dropped, token math") {
    val d = Seq(
      (1L, "one two three. four five! six?  seven"),
      (2L, "no terminators at all"),
      (3L, "ends with period. and more.")
    ).toDF("doc_id", "text")
    val m = TextStats.sentenceStats(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Int]("n_sentences") == 4)
    assert(m(1L).getAs[Long]("n_tokens") == 7)
    assert(m(1L).getAs[Int]("max_sent_tokens") == 3)
    assert(m(1L).getAs[Double]("mean_sent_tokens") == 7.0 / 4)
    assert(m(2L).getAs[Int]("n_sentences") == 1)
    // trailing "and more." keeps its final dot (no trailing split) → 2 sents
    assert(m(3L).getAs[Int]("n_sentences") == 2)
  }

  test("stratifiedRank == window row_number per stratum; stratifiedSplit exact") {
    import graft.ops.TableOps.DatasetExt
    import org.apache.spark.sql.expressions.Window
    val d = (0 until 97).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "g")
    val got = d.stratifiedRank("g", Seq(md5(col("id").cast("string")), col("id")))
      .select(col("id"), col("stratum_rank"), col("stratum_n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = d.withColumn("rk", row_number().over(
        Window.partitionBy(col("g"))
          .orderBy(md5(col("id").cast("string")), col("id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("rk"), r.getAs[Long]("n"))).toMap
    assert(got == want)
    // split proportions exact per stratum: floor(n_g · 0.8)
    val split = graft.ops.Ml.stratifiedSplit(d, "id", "g", 0.8)
      .groupBy(col("g"), col("split")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sizes = Map("s0" -> 33L, "s1" -> 32L, "s2" -> 32L)
    sizes.foreach { case (g, n) =>
      val train = math.floor(n * 0.8).toLong
      assert(split((g, "train")) == train && split((g, "test")) == n - train)
    }
  }

  test("perplexityBuckets: ntile(3) replay, head scores >= tail scores") {
    import org.apache.spark.sql.expressions.Window
    val d = (0 until 40).map { i =>
      val fluent = "the cat sat on the mat and the dog sat on the rug"
      val weird = s"zx$i qq${i * 7} vv${i * 13} zx$i pp$i mm$i kk$i jj$i"
      (i.toLong, if (i % 2 == 0) fluent else weird, s"l${i % 2}")
    }.toDF("doc_id", "text", "lang")
    val out = TextStats.perplexityBuckets(d, "doc_id", "text", "lang")
    val got = out.select(col("doc_id"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // reference replay via the plain (single-task) ntile window
    val want = TextStats.bigramLmScore(d, "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("nt", ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("mean_p").desc, col("doc_id"))))
      .withColumn("bucket", when(col("nt") === 1, "head")
        .when(col("nt") === 2, "middle").otherwise("tail"))
      .select(col("doc_id"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
    // within each lang, every head score >= every tail score
    val scored = out.select(col("lang"), col("bucket"), col("mean_p")).collect()
    for (l <- Seq("l0", "l1")) {
      val h = scored.filter(r => r.getString(0) == l && r.getString(1) == "head")
        .map(_.getDouble(2))
      val t = scored.filter(r => r.getString(0) == l && r.getString(1) == "tail")
        .map(_.getDouble(2))
      assert(h.min >= t.max)
    }
  }

  test("centroidOutliers: planted far vector flagged, inliers clean") {
    val dim = 8
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((i % 3) + d * 0.01).toFloat).toSeq, i % 3)
    }
    // vec 99: label 0 but sits far from label-0's centroid
    val planted = (99L, Array.fill(dim)(50.0f).toSeq, 0)
    val df = (base :+ planted).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("sq_dist"), r.getAs[Boolean]("is_outlier"))).toMap
    assert(out(99L)._2, "planted outlier must be flagged")
    val inliers = base.map(_._1).filter(i => i % 3 != 0)
    assert(inliers.forall(i => !out(i)._2), "other labels' members are clean")
    assert(out.size == 31)
  }

  test("hardNegatives: same-label neighbors excluded, ranks deterministic") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val labels = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = Similarity.hardNegatives(emb.filter(col("vec_id") < 5), emb, 3)
      .collect()
    assert(out.length == 15)
    out.foreach { r =>
      val (q, c) = (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))
      assert(q != c)
      assert(labels(q) != labels(c), s"negative $c shares label with $q")
      assert(r.getAs[Int]("neg_label") == labels(c))
    }
  }

  test("bpe: greedy merges with count-then-pair order; counts via vocab join") {
    // the classic BPE corpus: low×3 lower×2 newest×4 widest×1
    val df = Seq((0L,
      "low low low lower lower newest newest newest newest widest"))
      .toDF("doc_id", "text")
    val (merges, vocab) = Bpe.train(df, "text", 3)
    // hand-computed: (w,e)=6; then (l,o)=5 ties (s,t)=5 → pair-asc picks
    // (l,o); then (s,t)=5
    assert(merges.map(m => (m.left, m.right, m.count)) ==
      Seq(("w", "e", 6L), ("l", "o", 5L), ("s", "t", 5L)))
    val counts = Bpe.tokenCounts(df, "doc_id", "text", vocab).collect()
    assert(counts.length == 1)
    // low=[lo,w]×3, lower=[lo,we,r]×2, newest=[n,e,we,st]×4, widest=[w,i,d,e,st]
    assert(counts(0).getAs[Long]("n_words") == 10L)
    assert(counts(0).getAs[Long]("n_bpe_tokens") == 33L)
    // encode: vocab syms sorted = d,e,i,lo,n,r,st,w,we → ids 0..8;
    // low=[3,7] lower=[3,8,5] newest=[4,1,8,6] widest=[7,2,0,1,6]
    val enc = Bpe.encode(df, "doc_id", "text", vocab).collect()
    assert(enc.length == 1 && enc(0).getAs[Long]("n_ids") == 33L)
    val expected = (Seq.fill(3)(Seq(3, 7)) ++ Seq.fill(2)(Seq(3, 8, 5)) ++
      Seq.fill(4)(Seq(4, 1, 8, 6)) :+ Seq(7, 2, 0, 1, 6))
      .flatten.mkString(",")
    assert(enc(0).getAs[String]("ids") == expected)
  }

  test("dsirResample: target-vocabulary docs outscore raw-vocabulary docs") {
    val tText = "alpha beta gamma delta epsilon " * 4
    val rText = "uno dos tres cuatro cinco " * 4
    val rows = (0 until 5).map(i => (i.toLong, tText, true)) ++
      (10 until 15).map(i => (i.toLong, rText, false)) :+
      ((20L, "alpha beta gamma uno dos tres", false))
    val df = rows.toDF("doc_id", "text", "tgt")
    val out = DomainMix.dsirResample(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("affinity")).toMap
    assert(out.size == 11)
    assert(out(0L) > out(20L) && out(20L) > out(10L),
      s"target ${out(0L)} > mixed ${out(20L)} > raw ${out(10L)}")
  }

  test("nearDupKeepBest: component keeps highest quality, not lowest id") {
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (0L, long.split(" ").take(20).mkString(" ")), // short near-dup variant
      (1L, long),                                   // longest → best quality
      (2L, long.replace("tok30", "tok30x")),        // near-dup of 1
      (9L, "entirely different content standing alone in its own group")
    ).toDF("doc_id", "text")
      .withColumn("q_score", TextStats.qualityScore(col("text")))
    val out = TextDedup.nearDupKeepBest(d, "doc_id", "text", "q_score",
        minEstJaccard = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("group_id"), r.getAs[Boolean]("keep"))).toMap
    assert(out.size == 4)
    assert(out(9L)._2, "singleton keeps itself")
    // 1 and 2 are near-dups: same group; the longer doc 1 wins despite doc
    // 2 not being the min id either way — and if 0 joined the group, the
    // longest text STILL wins on the length-dominated score
    assert(out(1L)._1 == out(2L)._1)
    assert(out(1L)._2 && !out(2L)._2)
  }

  test("fuzzyJoin: probes match their near-dup source, disjoint text never") {
    val base = (1 to 20).map(i => s"word$i").mkString(" ")
    val corpus = Seq(
      (0L, base),
      (1L, "totally unrelated content about spark catalyst plan rules " +
        "and the tungsten execution engine internals")
    ).toDF("doc_id", "text")
    val probes = Seq(
      (100L, base),                                    // exact copy
      (101L, base.replace("word9", "changed"))         // one-word edit
    ).toDF("probe_id", "probe_text")
    val out = TextDedup.fuzzyJoin(corpus, probes, "doc_id", "text",
        "probe_id", "probe_text", minEstJaccard = 0.3)
      .collect().map(r => (r.getAs[Long]("left_id"),
        r.getAs[Long]("right_id"), r.getAs[Double]("est_jaccard")))
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((0L, 100L)) && pairs.contains((0L, 101L)))
    assert(!pairs.exists(_._1 == 1L), s"unrelated doc matched: $pairs")
    assert(out.find(t => t._2 == 100L).get._3 == 1.0) // identical signatures
  }

  test("lineDedup: corpus-repeated lines stripped, order preserved") {
    val d = Seq(
      (0L, "COMMON HEADER\nunique zero\nshared footer"),
      (1L, "common header\nunique one\nShared Footer"), // dups after normalize
      (2L, "all alone\nnothing shared"),
      (3L, "common header") // all-boilerplate doc must survive as empty
    ).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(d, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[String]("text_dedup") == "unique zero")
    assert(out(1).getAs[String]("text_dedup") == "unique one")
    assert(out(2).getAs[String]("text_dedup") == "all alone\nnothing shared")
    assert(out(3).getAs[String]("text_dedup") == "" &&
      out(3).getAs[Long]("n_lines_kept") == 0L)
    assert(out(0).getAs[Long]("n_lines") == 3L &&
      out(0).getAs[Long]("n_lines_kept") == 1L)
  }

  test("semDedup: near-identical vectors pruned keep-first, distinct kept") {
    val dim = 8
    // three tight groups of 3 near-identical vectors + one singleton;
    // within a group cosine ≈ 1, across groups well below 0.95
    val rows = (0 until 3).flatMap { g =>
      (0 until 3).map { j =>
        val id = (g * 3 + j).toLong
        val v = Array.tabulate(dim)(d =>
          (if (d == g) 10.0 + j * 0.001 else 0.1 * d).toFloat)
        (id, v.toSeq)
      }
    } :+ (100L, Array.tabulate(dim)(d => (d - 4.0).toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, nClusters = 4, tau = 0.95, iters = 3)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("kept"), Option(r.get(2)))).toMap
    assert(out.size == 10)
    // each group keeps exactly its lowest surviving id; singleton kept
    assert(out(100L)._1)
    val keptIds = out.filter(_._2._1).keySet
    (0 until 3).foreach { g =>
      val ids = (0 until 3).map(j => (g * 3 + j).toLong)
      assert(ids.count(keptIds) == 1, s"group $g keeps exactly one: $keptIds")
      assert(keptIds(ids.min), s"group $g keeps its min id")
    }
  }

  test("rboOverlap: identical lists → 1−p^k mass; disjoint lists → 0") {
    import graft.llm.Similarity
    val la = (1 to 5).map(i => (i.toLong, (10 - i).toDouble)).toDF("id", "s")
    // identical ranking: overlap_d = d at every depth →
    // RBO = (1−p)·Σ p^(d−1) = 1 − p^k
    val same = Similarity.rboOverlap(la, la, "id", "s", 0.5, 5).collect()(0)
    assert(same.getAs[Long]("overlap_at_k") == 5L)
    assert(math.abs(same.getAs[Double]("rbo") -
      (1.0 - math.pow(0.5, 5))) < 1e-9)
    val lb = (11 to 15).map(i => (i.toLong, (20 - i).toDouble)).toDF("id", "s")
    val disj = Similarity.rboOverlap(la, lb, "id", "s", 0.5, 5).collect()(0)
    assert(disj.getAs[Long]("overlap_at_k") == 0L)
    assert(disj.getAs[Double]("rbo") == 0.0)
  }

  test("removeDupSpans: shared trigram stripped from both docs, rest kept") {
    import graft.llm.TextDedup
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "other words alpha beta gamma delta trailing"),
      (3L, "completely different text here now")
    ).toDF("id", "text")
    val out = TextDedup.removeDupSpans(docs, "id", "text", n = 3, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getLong(3))).toMap
    // shared trigrams: "alpha beta gamma" and "beta gamma delta" →
    // covered tokens alpha..delta in both docs
    assert(out(1L)._1 == "unique one")
    assert(out(1L)._3 == 4L)
    assert(out(2L)._1 == "other words trailing")
    assert(out(2L)._3 == 4L)
    assert(out(3L)._1 == "completely different text here now")
    assert(out(3L)._3 == 0L, "unique doc untouched")
  }

  test("canonicalUrl: fragment/query/case/trailing-slash normalization") {
    import graft.llm.TextStats.canonicalUrl
    val urls = Seq(
      "HTTPS://WWW.Ex.COM/Path/?q=1#f",   // all four rules at once
      "https://www.ex.com/Path",          // already canonical
      "http://A.B/x/",                    // trailing slash only
      "no-scheme/Path/?x=1").toDF("u")
    val out = urls.select(canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(out(0) == "https://www.ex.com/Path", s"got ${out(0)}")
    assert(out(0) == out(1), "the two spellings must collapse")
    assert(out(2) == "http://a.b/x")
    assert(out(3) == "no-scheme/Path", "path CASE is kept, slash dropped")
  }

  test("temperatureSample: flattens the mixture, preserves total volume") {
    // heavily skewed domains: 900 'big', 90 'mid', 10 'small'
    val skewed = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 990).map(i => (i.toLong, "mid")) ++
      (990 until 1000).map(i => (i.toLong, "small"))).toDF("id", "dom")
    val out = DomainMix.temperatureSample(skewed, "id", "dom")
    val byDom = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    val total = byDom.values.sum
    // α=½ targets shares ∝ sqrt(n): big 30/42.3, mid 9.5/42.3, small 3.2/42.3
    // volume ≈ input (fractional draws wobble it a few %)
    assert(math.abs(total - 1000L) < 100, s"total=$total")
    assert(byDom("big") < 900, "head domain must be trimmed")
    assert(byDom("small") > 10, "tail domain must be boosted (epochs > 1)")
    // every small-domain doc appears ⌊rate⌋ or ⌈rate⌉ times — same rate
    val smallCopies = out.filter(col("dom") === "small")
      .groupBy("id").count().select("count").as[Long].collect()
    assert(smallCopies.max - smallCopies.min <= 1)
    // deterministic: identical on re-run
    val out2 = DomainMix.temperatureSample(skewed, "id", "dom")
    assert(out.orderBy("id", "copy_id").collect().toSeq ==
      out2.orderBy("id", "copy_id").collect().toSeq)
  }

  test("cdcChunks: chunks reassemble; shared passage chunks identically under shift") {
    val base = "the quick brown fox jumps over the lazy dog and then " * 8
    val d = Seq((0L, base), (1L, "PREFIX INSERTED HERE " + base), (2L, ""))
      .toDF("doc_id", "text")
    val ch = TextDedup.cdcChunks(d, "doc_id", "text")
    // per-doc chunk lengths sum to the normalized length
    val lens = ch.groupBy("doc_id").agg(sum("chunk_len").as("s"))
      .as[(Long, Long)].collect().toMap
    val normLens = d.select(col("doc_id"),
        length(TextDedup.normalizeText(col("text"))))
      .as[(Long, Int)].collect().toMap
    assert(lens(0L) == normLens(0L) && lens(1L) == normLens(1L))
    assert(lens(2L) == 0L, "empty doc is one empty chunk")
    // content-defined: despite the shifted prefix, most of doc 0's chunk
    // fingerprints reappear in doc 1 (a fixed-size chunker would share ~none)
    val c0 = ch.filter(col("doc_id") === 0).select("chunk_md5")
      .as[String].collect().toSet
    val c1 = ch.filter(col("doc_id") === 1).select("chunk_md5")
      .as[String].collect().toSet
    val shared = c0.intersect(c1).size
    assert(shared >= c0.size / 2, s"shared=$shared of ${c0.size}")
  }

  test("exportJsonlShards: manifest matches files; sharding is id-deterministic") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_export").toString
    val d = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val manifest = Export.exportJsonlShards(d, "doc_id", "text",
      s"$tmp/shards", nShards = 4).orderBy("shard").collect()
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == d.count())
    // files agree with the manifest per shard
    val back = spark.read.json(s"$tmp/shards")
    val fileCounts = back.groupBy("shard").count()
      .as[(Long, Long)].collect().toMap
    manifest.foreach { r =>
      assert(fileCounts(r.getAs[Long]("shard")) == r.getAs[Long]("n_docs"))
    }
    // assignment is a pure function of the id: same shard on re-read
    val reassigned = back.select(col("doc_id"),
        col("shard").as("written"),
        Export.shardId(col("doc_id"), 4).as("recomputed"))
      .filter(col("written") =!= col("recomputed")).count()
    assert(reassigned == 0)
  }

  test("rakeKeywords: phrases split on stopwords+punctuation; long-phrase " +
       "words outscore isolated ones; minFreq prunes") {
    import spark.implicits._
    // "machine learning systems" appears 3x as one phrase (stopword-flanked);
    // "data" always alone. degree/freq: machine=learning=systems=3 (always in
    // a 3-phrase), data=1 → phrase scores 9 vs 1.
    val docs = Seq(
      "the machine learning systems of this era, and the data.",
      "machine learning systems in the data!",
      "it is machine learning systems and data")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = TextStats.rakeKeywords(docs, "text", minFreq = 2, topK = 10)
      .collect().map(r => r.getAs[String]("phrase") -> r).toMap
    val mls = out("machine learning systems")
    assert(mls.getAs[Long]("n_occurrences") == 3L &&
      mls.getAs[Long]("n_words") == 3L)
    assert(mls.getAs[Double]("score") == 9.0,
      s"3 words x degree/freq 3 = 9, got ${mls.getAs[Double]("score")}")
    val data = out("data")
    assert(data.getAs[Long]("n_occurrences") == 3L &&
      data.getAs[Double]("score") == 1.0)
    // single-occurrence phrases are pruned by minFreq = 2
    assert(!out.contains("era"))
  }

  test("jaccardJoin: matches the brute-force answer exactly (lossless " +
       "prefix filter), keeps the at-threshold pair, orders id_a < id_b") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),     // 5/7 vs doc 1
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"),      // exact dup of 3
      (5L, "completely different words here entirely"),
      (6L, "alpha beta gamma delta epsilon zeta"))    // exact dup of 1
      .toDF("doc_id", "text")
    val got = graft.llm.TextDedup
      .jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // brute force over the same shingle sets, computed independently
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Map(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon eta",
      3L -> "one two three four five six seven",
      4L -> "one two three four five six seven",
      5L -> "completely different words here entirely",
      6L -> "alpha beta gamma delta epsilon zeta")
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      ia = sh(texts(a)).intersect(sh(texts(b))).size
      j = ia.toDouble / (sh(texts(a)).size + sh(texts(b)).size - ia)
      if j >= 0.3
    } yield (a, b) -> j).toMap
    assert(got == want, s"got=$got want=$want")
    assert(got((3L, 4L)) == 1.0 && got((1L, 6L)) == 1.0, "exact dups at 1")
    assert(!got.contains((1L, 5L)), "unrelated docs never pair")
  }

  test("jaccardJoinApprox: subset of exact with true jaccards; exact dups " +
       "always collide; bands must divide numHashes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"),
      (5L, "completely different words here entirely"),
      (6L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val exact = graft.llm.TextDedup
      .jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val approx = graft.llm.TextDedup
      .jaccardJoinApprox(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // precision 1: every approx pair is an exact pair WITH the same
    // (true) jaccard — the verify path is exact by construction
    approx.foreach { case (p, j) =>
      assert(exact.get(p).contains(j), s"approx pair $p not exact/$j") }
    // identical docs share every band — LSH can never miss them
    assert(approx.contains((3L, 4L)) && approx.contains((1L, 6L)),
      s"exact dups must collide in all bands: $approx")
    // divisibility guard (same contract as incrementalMinhashDedup)
    intercept[IllegalArgumentException] {
      graft.llm.TextDedup.jaccardJoinApprox(docs, "doc_id", "text",
        numHashes = 64, bands = 31)
    }
    intercept[IllegalArgumentException] {
      graft.llm.TextDedup.incrementalMinhashDedup(docs, docs,
        "doc_id", "text", numHashes = 64, bands = 31)
    }
  }

  test("jaccardJoinApproxWithStats: bucket cap fires observably — capped " +
       "count + dropped pair mass reported, survivors still verified") {
    import spark.implicits._
    // 4 identical docs (share EVERY band → bucket size 4) + 2 identical
    // docs (bucket size 2): maxBucket = 2 drops every hot A-bucket whole
    // while the B pair survives and verifies exactly
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "alpha beta gamma delta epsilon zeta"),
      (5L, "one two three four five six seven"),
      (6L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val (out, stats) = graft.llm.TextDedup.jaccardJoinApproxWithStats(
      docs, "doc_id", "text", k = 3, threshold = 0.3, maxBucket = 2)
    val pairs = out.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((5L, 6L)),
      s"only the uncapped pair survives, got $pairs")
    // telemetry: every capped bucket held the 4 identical docs → each
    // dropped exactly 4·3/2 = 6 candidate pairs
    assert(stats.cappedBuckets > 0, "cap must have fired")
    assert(stats.droppedPairs == stats.cappedBuckets * 6L,
      s"pair mass must be n(n-1)/2 per capped bucket: $stats")
    // default cap: nothing dropped on this corpus, telemetry is zero,
    // and all three A-pairs (plus the B pair) come back
    val (out2, stats2) = graft.llm.TextDedup.jaccardJoinApproxWithStats(
      docs, "doc_id", "text", k = 3, threshold = 0.3)
    assert(stats2 == graft.llm.TextDedup.LshCapStats(0L, 0L))
    assert(out2.count() == 7L) // C(4,2) A-pairs + (5,6)
  }

  test("clusterTerms: exclusive terms outrank ubiquitous ones; scores " +
       "follow the c-TF-IDF closed form") {
    import spark.implicits._
    // 'common' appears in every cluster; each cluster has an exclusive term
    val docs = Seq(
      ("c1", "common alpha alpha alpha"),
      ("c2", "common beta beta beta"),
      ("c3", "common gamma gamma gamma"))
      .toDF("src", "text")
    val out = TextStats.clusterTerms(docs, "src", "text", topK = 2)
      .collect().map(r => (r.getAs[String]("cluster"),
        r.getAs[Long]("rank")) -> r).toMap
    // rank 1 in c1 must be the exclusive 'alpha', not 'common'
    val top = out(("c1", 1L))
    assert(top.getAs[String]("term") == "alpha")
    assert(top.getAs[Long]("n_term") == 3L)
    // score = (3/4)·ln(1 + 3/1), floor-scaled at 1e9
    val want = math.floor(3.0 / 4.0 * math.log(1.0 + 3.0) * 1e9) / 1e9
    assert(top.getAs[Double]("score") == want)
    // 'common' scores (1/4)·ln(1 + 3/3) — strictly lower
    val second = out(("c1", 2L))
    assert(second.getAs[String]("term") == "common")
    assert(second.getAs[Double]("score") ==
      math.floor(1.0 / 4.0 * math.log(2.0) * 1e9) / 1e9)
  }
}
