package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Bounded._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Everything is expression-based (higher-order array functions + md5), so the
  * whole pipeline stays inside whole-stage codegen — no UDFs, no collect. The
  * scale path for near-dup detection is the standard shingle → MinHash →
  * LSH-band → bucket-join design: candidate generation is one shuffle on the
  * band key, and only candidates (not all O(n²) pairs) are verified.
  *
  * Hash determinism: all hashes derive from md5 (identical across engines and
  * JVM versions), so signatures are stable across runs/cluster sizes.
  */
object TextDedup {

  /** Whitespace-collapse + lowercase normalization. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Document fingerprint for EXACT dedup: md5 of normalized text. */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  def tokens(text: Column): Column = split(normalizeText(text), " ")

  /** k-word shingles via a slice-transform over the token array (no explode —
    * one array expression per row). */
  def shingles(text: Column, k: Int): Column =
    // the token array is BOUND as a lambda variable (single-element
    // transform) so the inner per-shingle lambda reads a computed value —
    // inlining `tokens(text)` directly would re-run the whole regex
    // tokenize per shingle (O(len²) per doc; invisible on short synthetic
    // docs, quadratic on real 10k-token documents)
    element_at(transform(array(tokens(text)), w =>
      when(size(w) >= k,
        transform(sequence(lit(0), size(w) - k),
          i => concat_ws(" ", slice(w, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", w)))), 1)

  /** CONTENT-DEFINED CHUNKING for partial-overlap dedup (the rsync/LBFS/
    * FastCDC family): a chunk boundary is a pure function of LOCAL content
    * — position i (1-based, i ≥ 2) opens a new chunk whenever the 28-bit
    * md5 hash of the `window`-char substring starting at i is ≡ 0
    * (mod `divisor`) — so shared passages chunk identically no matter
    * where they sit in a document, where a fixed-size chunker misaligns
    * after one inserted character. Expected chunk length ≈ `divisor`
    * chars. The boundary rule is windowed, not rolling, so every
    * position's verdict is independent: the whole chunker is one codegen
    * array expression, and it replays exactly in SQL via the same
    * md5-derived [[h28]] (oracle q279). Documents shorter than
    * window + 1 normalized chars are one chunk; the empty document is one
    * empty chunk.
    *
    * Returns one row per chunk: (idCol, chunk_idx, chunk_md5, chunk_len).
    *
    * Scale: boundary hashing is map-side array work — O(len) md5 calls
    * per document, the CPU price of content-defined boundaries, paid in
    * the scan stage with nothing but (id, hash, len) reaching any
    * shuffle. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 2 && divisor >= 2, "window/divisor too small")
    // the boundary test is one md5 per CHARACTER — CPU-heavy, bytes-light;
    // see [[spreadForKernel]] (measured: 790 s single-task before)
    val slim = spreadForKernel(df.select(col(idCol), col(textCol)))
    graft.functions.DedupKernels.register(df.sparkSession)
    val rows = slim.select(col(idCol),
      call_function("graft_cdc_chunks", col(textCol), lit(window),
        lit(divisor)).as("__chunks"))
    // OUTER generate + explicit null filter, NOT plain posexplode
    // (r18, measured 5.0 → 0.9 s at sf1.0): for an inner generate the
    // optimizer infers `size(__chunks) > 0` and pushes it through the
    // projection AND the spread exchange onto the scan tasks — the md5
    // kernel then runs 3× per row, two of them SERIAL on a degenerate
    // one-row-group scan. InferFiltersFromGenerate skips outer
    // generates, and the post-filter references a GENERATED column so
    // it cannot sink; the dropped rows are exactly the empty/null-array
    // docs the inner generate would have skipped — results identical.
    rows.select(col(idCol),
        posexplode_outer(col("__chunks")).as(Seq("chunk_idx", "__c")))
      .filter(col("__c").isNotNull)
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.chunk_md5").as("chunk_md5"),
        col("__c.chunk_len").as("chunk_len"))
  }

  /** The higher-order-function expression form of [[cdcChunks]] — retained
    * as the executable SPECIFICATION of the kernel (DedupKernelsSpec pins
    * kernel == HOF bit-exactly, the ShingleHashes/MinHashSig pattern); the
    * kernel replaces a per-position interpreted md5 + hex + conv chain
    * with one byte-level pass. */
  private[graft] def cdcChunksHof(df: DataFrame, idCol: String,
                                  textCol: String, window: Int = 8,
                                  divisor: Int = 64): DataFrame = {
    // bind the normalized text once as a lambda value (same trick as
    // shingles: inlining would re-run the regex normalize per position)
    val rows = df.select(col(idCol),
      element_at(transform(array(normalizeText(col(textCol))), t => {
        val len = length(t)
        val starts = when(len >= window + 1,
          concat(array(lit(1)),
            filter(sequence(lit(2), len - lit(window - 1)),
              i => pmod(h28(t.substr(i, lit(window))), lit(divisor)) === 0)))
          .otherwise(array(lit(1)))
        transform(sequence(lit(0), size(starts) - 1), j =>
          t.substr(get(starts, j),
            coalesce(get(starts, j + 1), len + lit(1)) - get(starts, j)))
      }), 1).as("__chunks"))
    rows.select(col(idCol),
        posexplode(col("__chunks")).as(Seq("chunk_idx", "__chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        md5(col("__chunk")).as("chunk_md5"),
        length(col("__chunk")).cast("long").as("chunk_len"))
  }

  /** 28-bit shingle hash (fits universal-hash arithmetic in a long).
    * md5-derived. (An xxhash64 variant was measured: the per-shingle hash is
    * NOT the bottleneck once signatures are computed a single pass — and the
    * changed signature distribution made the candidate graph denser and the
    * dedup-components step 2.5× slower on this corpus. Keeping md5 also
    * keeps every hash in the engine derivable cross-engine.) */
  def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast(LongType)

  /** 60-bit token hash (for SimHash bit sampling) — md5-derived; SimHash
    * hashes one token ONCE per doc (not per hash function like MinHash), so
    * md5 is not on its hot path and the bit distribution stays pinned. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Per-shingle md5 top-bit hashes, fused normalize→tokenize→shingle→md5
    * codegen kernel ([[graft.functions.DedupKernels.ShingleHashes]]).
    * Bit-identical to `transform(shingles(text, k), s => h28/h60(s))` (the
    * HOF form — kept as the kernel's executable spec and what the DuckDB
    * oracle SQL mirrors) with `nibbles` = 7 → h28, 15 → h60. With k = 1 the
    * shingles are the tokens themselves, so `shingleHashes(text, 1, 15)` ==
    * `transform(tokens(text), t => h60(t))` (the SimHash input). Requires
    * [[graft.functions.DedupKernels.register]] on the session. */
  def shingleHashes(text: Column, k: Int, nibbles: Int): Column =
    call_function("graft_shingle_hashes", text, lit(k), lit(nibbles))

  /** Prime > 2^32 for universal hashing h_i(x) = (a_i·x + b_i) mod P. */
  val P = 4294967311L

  private def aCoef(i: Column): Column = ((i * 2 + 1) * lit(2654435761L)) % P
  private def bCoef(i: Column): Column = (i * lit(40503L) + 7) % P

  /** MinHash signature from a shingle-hash array: single-pass codegen kernel
    * ([[graft.functions.DedupKernels.MinHashSig]]) — one traversal computes
    * all `numHashes` permutation minima. Bit-identical to the higher-order
    * expression form below (same coefficients, same mod-P arithmetic), but
    * the HOF form is `numHashes` interpreted `CodegenFallback` passes per row
    * (measured 8.8s → see SCALE.md for the kernel's number at sf0.1).
    * Requires [[graft.functions.DedupKernels.register]] on the session (the
    * DataFrame entry points below do it). */
  def minhashSignatureFromHashes(hs: Column, numHashes: Int): Column =
    call_function("graft_minhash_sig", hs, lit(numHashes))

  /** The original higher-order-function formulation — kept as the executable
    * spec of the kernel's semantics (DedupKernelsSpec pins kernel == HOF).
    * Referenced inline, Catalyst re-evaluates the whole md5 hash array once
    * per outer lambda element (64× cost) unless `hs` is a persisted column. */
  private[graft] def minhashSignatureFromHashesHof(hs: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(hs, h => (aCoef(i) * h + bCoef(i)) % P)))

  /** Convenience single-expression form (test-scale only — see above). */
  def minhashSignature(text: Column, shingleLen: Int, numHashes: Int): Column =
    minhashSignatureFromHashes(transform(shingles(text, shingleLen), s => h28(s)),
      numHashes)

  /** Estimated Jaccard from two signatures = fraction of agreeing positions. */
  def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v).cast(DoubleType) / size(sigA)

  /** LSH band keys: signature split into `bands` bands of `rowsPerBand`,
    * each band md5-hashed to one bucket key. Docs sharing ANY band key are
    * candidates. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      concat_ws("#", j.cast(StringType),
        md5(concat_ws(",", slice(sig, j * rowsPerBand + 1, lit(rowsPerBand))))))

  /** Candidate near-dup pairs via MinHash LSH, representative-pairing.
    *
    * A naive band self-join is O(bucket²) pair rows — with duplicate
    * CLUSTERS (the whole point of dedup) that quadratic blows up: a cluster
    * of 100 copies in 32 bands makes 158k pair rows, each dragging a
    * 64-element signature through the shuffle (measured 464s at sf0.1 vs 6s
    * for this design). Instead each doc pairs only with its bucket's min-id
    * REPRESENTATIVE: linear in bucket size, still links every near-dup doc
    * into a dedup group (min-rep linking is the standard connected-components
    * step). Signatures are computed once (persisted — they'd otherwise be
    * recomputed per join branch) and joined back only for surviving pairs. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleLen: Int = 3, numHashes: Int = 64,
                            bands: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.DedupKernels.register(df.sparkSession)
    val r = numHashes / bands
    // Fused kernels end-to-end: shingle md5s (one byte-level pass, evaluated
    // exactly once as the sig kernel's child — no CollapseProject hazard, no
    // persist barrier needed here) into the one-pass 64-min signature.
    // sigs feeds three consumers (banding + both sides of the verify join);
    // the repartition plants a shuffle boundary whose map output all three
    // share — every consumer needs exactly (id, sig), so column pruning
    // leaves three canonically-identical exchange subtrees and Spark's
    // exchange/stage reuse computes the kernel once per action. Unlike the
    // former MEMORY_AND_DISK persist, this leaves no session-lifetime cache
    // behind (shuffle files are ContextCleaner-managed). The explicit
    // isNotNull mirrors the IsNotNull the joins push into their branches —
    // without it the banding branch's exchange canonicalizes differently and
    // reuse breaks (null ids never produce pairs in either design).
    val sigs = spreadForKernel(df.filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        minhashSignatureFromHashes(
          shingleHashes(col("__t"), shingleLen, 7), numHashes).as("sig"))
      .repartition(col("id"))
    val banded = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, r)).as("band"))
    // Linear candidate generation, two complementary link sets per bucket:
    //  - rep-pairing: everyone links to the bucket's min id;
    //  - adjacent-pairing: everyone links to its predecessor in id order.
    // Rep-pairing alone has a recall hole — if a DISSIMILAR smaller-id doc
    // shares the bucket, the only generated pairs involve it and can be
    // filtered below threshold, losing the true near-dup link; the adjacency
    // chain restores it while keeping O(bucket) pair count.
    // Both links come out of ONE sorted window pass: ordered by id, the
    // partition's first value IS its min (rep), and lag gives the
    // predecessor — one shuffle+sort instead of the former two window
    // branches + union (same pair set, ~1s less at sf0.1).
    val wbOrd = Window.partitionBy(col("band")).orderBy(col("id"))
    val pairs0 = banded
      .withColumn("rep", first(col("id")).over(wbOrd))
      .withColumn("prev", lag(col("id"), 1).over(wbOrd))
      .select(explode(array(
        struct(col("rep").as("id_a"), col("id").as("id_b")),
        struct(col("prev").as("id_a"), col("id").as("id_b")))).as("p"))
      .filter(col("p.id_a").isNotNull && col("p.id_a") =!= col("p.id_b"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    pairs0
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** INCREMENTAL near-dup screening of a NEW batch against an EXISTING
    * corpus — the production dedup loop: snapshots arrive daily, and each
    * new document must be checked against everything already ingested
    * WITHOUT re-pairing the old corpus against itself. The old side's
    * (id, signature) frame is the persistable sketch index (the q247
    * sketch-persist pattern applied to dedup: write it to parquet once,
    * band-join every future batch against it).
    *
    * Plan: MinHash signatures per side (fused one-pass kernel), LSH band
    * keys, then a band-key equi-join NEW × OLD — candidate mass is
    * Σ_bucket |new∩bucket|·|old∩bucket|, linear in the batch for
    * non-pathological duplicate structure (a batch doc in a k-copy old
    * cluster meets k candidates: that is the answer's size, not
    * overhead). Signature-agreement estimate verifies candidates; each
    * batch doc reports its lowest-id verified match. Returns one row per
    * batch doc: (id, is_dup, dup_of, est_jaccard), dup_of/est null for
    * fresh docs. */
  def incrementalMinhashDedup(existing: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              shingleLen: Int = 3, numHashes: Int = 64,
                              bands: Int = 32,
                              threshold: Double = 0.5): DataFrame = {
    // mirror of the oracle CTE's r == 2 require: bands not dividing
    // numHashes would silently drop the signature tail from LSH banding
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (tail signature " +
        "positions would silently drop from LSH banding)")
    graft.functions.DedupKernels.register(existing.sparkSession)
    val r = numHashes / bands
    def sigsOf(df: DataFrame): DataFrame =
      spreadForKernel(df.filter(col(idCol).isNotNull)
          .select(col(idCol).as("id"), col(textCol).as("__t")))
        .select(col("id"),
          minhashSignatureFromHashes(
            shingleHashes(col("__t"), shingleLen, 7), numHashes).as("sig"))
        .repartition(col("id"))
    val oldS = sigsOf(existing)
    val newS = sigsOf(batch)
    def bandedOf(s: DataFrame): DataFrame =
      s.select(col("id"), explode(lshBandKeys(col("sig"), bands, r)).as("band"))
    val cand = bandedOf(newS).select(col("id").as("__nid"), col("band"))
      .join(bandedOf(oldS).select(col("id").as("__oid"), col("band")), "band")
      .select(col("__nid"), col("__oid")).distinct()
    val verified = cand
      .join(newS.select(col("id").as("__nid"), col("sig").as("__sn")), "__nid")
      .join(oldS.select(col("id").as("__oid"), col("sig").as("__so")), "__oid")
      .select(col("__nid"), col("__oid"),
        estJaccard(col("__sn"), col("__so")).as("__est"))
      .filter(col("__est") >= threshold)
      .groupBy(col("__nid"))
      .agg(min(struct(col("__oid"), col("__est"))).as("__m"))
    batch.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"))
      .join(verified.select(col("__nid").as("id"),
        col("__m.__oid").as("dup_of"), col("__m.__est").as("est_jaccard")),
        Seq("id"), "left")
      .select(col("id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("est_jaccard"))
  }

  /** Edit-distance-VERIFIED near-dup pairs: MinHash-LSH candidates
    * (linear rep+adjacent pairing, see [[minhashCandidatePairs]]) whose
    * estimated Jaccard clears `minEstJaccard`, then confirmed by exact
    * Levenshtein distance over the first `prefixLen` characters — the
    * cheap sketch proposes, the exact-but-quadratic metric disposes.
    *
    * Scale: the O(prefixLen²) DP runs ONLY on surviving candidate pairs
    * (a sliver of the corpus), and the prefix cap bounds each evaluation —
    * full-document Levenshtein at 100 TB would be O(L²) per pair on
    * multi-KB docs. The text join-back ships (id, prefix) for candidate
    * ids only; `levenshtein` is a codegen builtin on both engines, so the
    * verdict replays in SQL. */
  def levenshteinVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleLen: Int = 3, numHashes: Int = 64,
                               bands: Int = 32, minEstJaccard: Double = 0.2,
                               prefixLen: Int = 200, maxDist: Int = 40)
      : DataFrame = {
    val cand = minhashCandidatePairs(df, idCol, textCol, shingleLen,
        numHashes, bands)
      .filter(col("est_jaccard") >= minEstJaccard)
    val pref = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__pid"),
        substring(col(textCol), 1, prefixLen).as("__prefix"))
    cand
      .join(pref.select(col("__pid").as("id_a"), col("__prefix").as("__pa")),
        "id_a")
      .join(pref.select(col("__pid").as("id_b"), col("__prefix").as("__pb")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        levenshtein(col("__pa"), col("__pb")).as("lev"))
      .filter(col("lev") <= maxDist)
  }

  /** Jaro-Winkler-verified near-dup pairs: [[levenshteinVerifiedPairs]]'
    * sibling with the similarity (not distance) verdict — the
    * record-linkage metric that weights shared prefixes, via the native
    * codegen kernel `functions.StringSim` (pinned bit-for-bit to DuckDB's
    * jaro_winkler_similarity, so the verdict replays in SQL). Same scale
    * posture: the O(len·window) kernel runs only on LSH-surviving
    * candidates over capped prefixes. */
  def jaroWinklerVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleLen: Int = 3, numHashes: Int = 64,
                               bands: Int = 32, minEstJaccard: Double = 0.2,
                               prefixLen: Int = 80, minSim: Double = 0.8)
      : DataFrame = {
    graft.functions.StringSim.register(df.sparkSession)
    val cand = minhashCandidatePairs(df, idCol, textCol, shingleLen,
        numHashes, bands)
      .filter(col("est_jaccard") >= minEstJaccard)
    val pref = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__pid"),
        substring(col(textCol), 1, prefixLen).as("__prefix"))
    cand
      .join(pref.select(col("__pid").as("id_a"), col("__prefix").as("__pa")),
        "id_a")
      .join(pref.select(col("__pid").as("id_b"), col("__prefix").as("__pb")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        call_function("graft_jaro_winkler", col("__pa"), col("__pb"))
          .as("jw"))
      .filter(col("jw") >= minSim)
  }

  /** Fuzzy MinHash-LSH JOIN between two tables — the cross-corpus form of
    * near-dup detection (probe a reference set against the corpus by
    * text similarity, no equality key anywhere): both sides are minhashed
    * with the SAME hash family, candidates come from an equi-join on the
    * LSH band key, and each candidate pair is scored by signature-estimated
    * Jaccard. The reference's joins are all key-equality (hash-join /
    * asof); this is the similarity-keyed join a curation pipeline needs
    * (e.g. "which corpus docs fuzzily match any benchmark prompt").
    *
    * Scale: candidate generation is one shuffle on the band key; the probe
    * side is typically tiny, so the band join and both signature join-backs
    * broadcast — the corpus never reshuffles more than (id, sig). Pair
    * count is bounded by matching-bucket products, not |L|×|R|. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftId: String, leftText: String,
                rightId: String, rightText: String,
                shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16,
                minEstJaccard: Double = 0.5): DataFrame = {
    graft.functions.DedupKernels.register(left.sparkSession)
    val r = numHashes / bands
    def sigs(df: DataFrame, idc: String, txt: String, out: String) =
      df.filter(col(idc).isNotNull)
        .select(col(idc).as(out),
          minhashSignatureFromHashes(
            shingleHashes(col(txt), shingleLen, 7), numHashes).as("sig"))
        .repartition(col(out))
    val sl = sigs(left, leftId, leftText, "left_id")
    val sr = sigs(right, rightId, rightText, "right_id")
    def banded(s: DataFrame, idc: String) = s.select(col(idc),
      explode(lshBandKeys(col("sig"), bands, r)).as("band"))
    val cand = banded(sl, "left_id").join(banded(sr, "right_id"), Seq("band"))
      .select(col("left_id"), col("right_id")).distinct()
    cand
      .join(sl.select(col("left_id"), col("sig").as("sig_l")), "left_id")
      .join(sr.select(col("right_id"), col("sig").as("sig_r")), "right_id")
      .select(col("left_id"), col("right_id"),
        estJaccard(col("sig_l"), col("sig_r")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Cross-corpus DECONTAMINATION — the benchmark-overlap removal step of a
    * training-data pipeline (flag/drop training docs that share verbatim
    * k-word shingles with an evaluation set). Returns per-doc
    * `overlap_shingles` = number of DISTINCT training-doc shingles that
    * appear anywhere in the benchmark corpus; docs meeting `minOverlap` are
    * the contaminated set.
    *
    * Scale shape: both sides reduce to distinct 60-bit md5 shingle hashes
    * (fixed-width join keys, shingle text never shuffles); the benchmark
    * side is distinct-deduped first and is typically small enough for AQE
    * to broadcast, so the train side — the 100 TB side — never reshuffles
    * more than (id, hash) pairs. md5-derived hashes keep the whole op
    * engine-portable (oracle-checked, q73). */
  /** MULTI-EVAL-SET CONTAMINATION MATRIX — the release-audit view of
    * [[decontaminate]]: one pass answers "how much of the corpus collides
    * with EACH held-out suite" (the table a model card publishes per
    * benchmark), instead of one job per suite. n-gram hits use the same
    * 60-bit shingle hashes as q73's decontamination; a corpus document is
    * contaminated FOR A SET iff it shares ≥ 1 n-gram hash with any doc of
    * that set. Returns one row per eval set:
    * (eval_set, n_eval_docs, n_corpus_docs, n_contaminated, share).
    *
    * Plan: both sides explode to DISTINCT (key, hash) pairs; ONE
    * hash-keyed join covers every set simultaneously (the per-set shape
    * would rescan the corpus k times); per-set counts are keyed
    * aggregations. At 100 TB the eval side is tiny and the join's build
    * side broadcasts; the corpus side shuffles (id, hash) pairs once. */
  def contaminationMatrix(corpus: DataFrame, corpusId: String,
                          corpusText: String, evalSets: DataFrame,
                          setCol: String, evalText: String,
                          shingleLen: Int = 8): DataFrame = {
    graft.functions.DedupKernels.register(corpus.sparkSession)
    def hashes(c: Column) = array_distinct(shingleHashes(c, shingleLen, 15))
    val evalH = evalSets
      .select(col(setCol).as("eval_set"), explode(hashes(col(evalText))).as("__h"))
      .distinct()
    // null corpus ids are excluded (matching decontaminate and the oracle's
    // COUNT(DISTINCT doc_id), which ignores NULLs — a null __id row would
    // otherwise count as one contaminated "document")
    val corpusH = corpus
      .filter(col(corpusId).isNotNull)
      .select(col(corpusId).as("__id"), explode(hashes(col(corpusText))).as("__h"))
      .distinct()
    val hits = corpusH.join(broadcast(evalH), Seq("__h"))
      .select(col("eval_set"), col("__id")).distinct()
      .groupBy(col("eval_set"))
      .agg(count(lit(1)).as("n_contaminated"))
    val sizes = evalSets.groupBy(col(setCol).as("eval_set"))
      .agg(count(lit(1)).as("n_eval_docs"))
    val nCorpus = corpus.agg(count(lit(1)).as("n_corpus_docs"))
    sizes.join(hits, Seq("eval_set"), "left")
      .crossJoin(broadcast(nCorpus))
      .select(col("eval_set"), col("n_eval_docs"), col("n_corpus_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_corpus_docs")).as("share"))
      .orderBy(col("eval_set"))
  }

  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, shingleLen: Int = 8,
                    minOverlap: Long = 1L): DataFrame = {
    graft.functions.DedupKernels.register(train.sparkSession)
    // distinct is taken over the HASHES (not the shingle strings) so a
    // within-doc 60-bit collision counts once — mirrors the oracle exactly
    def hashes(c: Column) =
      array_distinct(shingleHashes(c, shingleLen, 15))
    val benchH = bench
      .select(explode(hashes(col(textCol))).as("__h")).distinct()
    val trainH = train
      .select(col(idCol), explode(hashes(col(textCol))).as("__h"))
    trainH.join(benchH, Seq("__h"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("overlap_shingles"))
      .filter(col("overlap_shingles") >= minOverlap)
  }

  /** Decontamination with a BLOOM-FILTER prefilter — the shape for when the
    * benchmark side is too large to broadcast as an exact hash set (many
    * held-out suites × many shingles), i.e. the 100 TB regime where the
    * confirm join must be shuffle-based. The benchmark's distinct shingle
    * hashes are folded into one Bloom filter by a distributed aggregate
    * (Spark's own `BloomFilterAggregate`, tree-merged partial filters — the
    * driver reads back a single binary blob of ~1.2 bits·n/ln2²·ln(1/fpp)),
    * and the train side drops non-candidate shingles with a codegen'd
    * `BloomFilterMightContain` BEFORE anything shuffles: only the ~fpp false
    * positives plus true overlaps pay the exchange. This is exactly Spark's
    * InjectRuntimeFilter pattern, made explicit because the optimizer's
    * version never fires across two independently-derived exploded sides.
    *
    * The result is EXACT (identical to [[decontaminate]], oracle q119 — the
    * Bloom pass only prunes; the join re-confirms every survivor against the
    * real hash set), so fpp trades shuffle volume against nothing else.
    * Both expressions take the raw 60-bit md5 hash as the item (LongType
    * child — no second xxhash layer), keeping the filter engine-portable in
    * principle and, more importantly, keeping both sides trivially equal to
    * the q73 semantics. */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleLen: Int = 8,
                         minOverlap: Long = 1L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val spark = train.sparkSession
    graft.functions.DedupKernels.register(spark)
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    def hashes(c: Column) =
      array_distinct(shingleHashes(c, shingleLen, 15))
    val benchH = bench
      .select(explode(hashes(col(textCol))).as("__h")).distinct()
    // fit-side readouts: one count (sizes the filter) + one binary blob.
    // n drives numBits via the standard m = -n·ln(fpp)/ln2² formula.
    val n = math.max(benchH.count(), 1L)
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      es => new BloomFilterAggregate(es.head,
        CatLit(n, LongType), CatLit(numBits, LongType)).toAggregateExpression(),
      "scala_udf")
    val blob = benchH.select(expr("graft_bloom_agg(__h)"))
      .collectBounded(1, "O(1) bloom-blob readout").head
      .getAs[Array[Byte]](0)
    reg.createOrReplaceTempFunction("graft_might_contain",
      es => BloomFilterMightContain(CatLit(blob, BinaryType), es.head),
      "scala_udf")
    val trainH = train
      .select(col(idCol), explode(hashes(col(textCol))).as("__h"))
      .filter(expr("graft_might_contain(__h)"))
    trainH.join(benchH, Seq("__h"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("overlap_shingles"))
      .filter(col("overlap_shingles") >= minOverlap)
  }

  /** Line-level corpus dedup — the CCNet/RefinedWeb boilerplate pass that
    * runs BEFORE document-level dedup: split every document into lines,
    * count DISTINCT documents per normalized line across the corpus, strip
    * each line appearing in at least `minDocs` documents, and reassemble
    * the survivors in original order. Repeated headers / nav bars /
    * license blurbs die here while unique prose survives.
    *
    * Scale: the kill list (lines in ≥ minDocs docs) is a tiny fraction of
    * the line table, so the removal join is a broadcastable left-anti on
    * the line hash; the other two shuffles (count on the hash, reassembly
    * on the doc id) are plain key-bucketed aggregations. No window over
    * the corpus, nothing collected, text never crosses a shuffle twice —
    * only (hash, id, pos, line) rows do.
    *
    * Returns every input document as (idCol, n_lines, n_lines_kept,
    * text_dedup) — an all-boilerplate document survives with empty text,
    * preserving corpus alignment for downstream joins. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Int = 2): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lkey", md5(lower(trim(col("line")))))
    val kill = lines.groupBy(col("lkey"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("lkey"))
    val kept = lines.join(kill, Seq("lkey"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text_dedup"))
    df.select(col(idCol),
        size(split(col(textCol), "\n")).cast(LongType).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Exact n-gram Jaccard between explicit pairs (the verify step after LSH,
    * or a direct quadratic check on small blocks). */
  def ngramJaccard(textA: Column, textB: Column, k: Int): Column = {
    val sa = array_distinct(shingles(textA, k))
    val sb = array_distinct(shingles(textB, k))
    size(array_intersect(sa, sb)).cast(DoubleType) /
      size(array_union(sa, sb))
  }

  /** 60-bit SimHash: per-bit majority vote of token hashes, one md5 per
    * token, all 60 votes in one codegen pass over the hash array
    * ([[graft.functions.DedupKernels.SimHashBits]]). */
  /** Spread a CPU-bound kernel's input across the session's parallelism
    * when the scan produced fewer partitions: a small parquet file
    * coalesces to ONE map task, and a per-char/per-token md5 kernel then
    * serializes the whole corpus through one core (q279's boundary pass
    * measured 790 s single-task) while the rest idle. No-op at real scale,
    * where scans out-partition cores — the guard only ever upsizes. */
  /** Delegates to [[graft.ops.Layout.spreadScan]] (r18: the guarded,
    * shared form — no-op past half the session parallelism and on any
    * frame with upstream exchanges). */
  private[graft] def spreadForKernel(df: DataFrame): DataFrame =
    graft.ops.Layout.spreadScan(df)

  def withSimhash(df: DataFrame, textCol: String, out: String): DataFrame = {
    graft.functions.DedupKernels.register(df.sparkSession)
    spreadForKernel(df).withColumn(out,
      call_function("graft_simhash", shingleHashes(col(textCol), 1, 15)))
  }

  /** Original unrolled bit-vote formulation — executable spec for the kernel
    * (DedupKernelsSpec pins kernel == HOF). 60 interpreted aggregate passes;
    * hsCol must be its own projection or the token md5s run 60×. */
  private[graft] def withSimhashHof(df: DataFrame, textCol: String, out: String): DataFrame = {
    val hsCol = "__simhash_hs"
    val d = df.withColumn(hsCol, transform(tokens(col(textCol)), t => h60(t)))
    val bits = (0 until 60).map { j =>
      val vote = aggregate(col(hsCol), lit(0L),
        (a, h) => a + (shiftright(h, j).bitwiseAND(lit(1L)) * 2 - lit(1L)))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    d.withColumn(out, bits.reduce(_ + _)).drop(hsCol)
  }

  /** SimHash near-dup candidates: band the 60-bit hash into 4×15-bit chunks;
    * pairs agreeing on any chunk are candidates, then filter by exact
    * hamming. RECALL CONTRACT: complete only for hamming ≤ 3 (pigeonhole on
    * 4 chunks) — larger `maxHamming` values return only the pairs the chunk
    * collision happens to surface (best-effort). Default is therefore 3. */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shared shuffle boundary instead of persist — all three consumers
    // (banding + both join sides) prune to exactly (id, sh), so the exchange
    // is reused within the action and no session cache leaks (same
    // rationale, incl. the isNotNull canonicalization note, as
    // minhashCandidatePairs).
    // (isNotNull(sh) mirrors what the final hamming filter pushes into the
    // join branches; null sh never survives `hamming <= maxHamming` anyway)
    val sh = withSimhash(
      df.filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__txt")),
      "__txt", "sh").select(col("id"), col("sh"))
      .filter(col("sh").isNotNull)
      .repartition(col("id"))
    val chunks = (0 until 4).map(j =>
      struct(lit(j).as("band"),
        shiftright(col("sh"), j * 15).bitwiseAND(lit(0x7FFFL)).as("key")))
    val banded = sh.withColumn("b", explode(array(chunks: _*)))
      .select(col("id"), col("b.band"), col("b.key"))
    // representative-pairing, same rationale as minhashCandidatePairs
    val pairs0 = banded
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("band"), col("key"))))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
    pairs0
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Resolve candidate pairs into DEDUP GROUPS. Returns (id, group_id =
    * min id of the component); docs not in any pair keep their own id.
    *
    * Two physical strategies behind one semantics, picked by edge count —
    * the same shape as Spark's own broadcast-join threshold:
    *
    *  - **directed edge rows (two per pair) within
    *    [[graft.ops.Bounded.fitsDriver]]** (default 4M rows = 2M pairs):
    *    collect the edge list and run exact union-find with path
    *    compression, then broadcast the (id, group_id) labels back. The
    *    collect is boxed GenericRows plus a vertex hash map — budget
    *    ~100-300 bytes per pair for long ids (more for string ids), i.e.
    *    ~0.2–0.6 GB of driver heap at the default limit; the
    *    distributed path below costs no driver memory. LSH near-dup
    *    edges are a sliver of any corpus, so this is the common case, and
    *    it replaces ~4 shuffle stages PER ROUND with one collect + one
    *    broadcast join.
    *  - **above the limit** (or non-orderable driver-side id type):
    *    distributed iterative min-label propagation with POINTER JUMPING —
    *    each round takes the min label across edges (one hop), then
    *    shortcuts every label to its label's label, so convergence is
    *    O(log diameter) rounds. The loop iterates over the ACTIVE subgraph
    *    only (vertices incident to an edge); untouched ids join back once
    *    at the end. Convergence is checked per round (labels only
    *    decrease ⇒ Σ group_id unchanged ⇔ fixpoint) and warns if maxIter
    *    was hit first.
    *
    * OWNERSHIP CONTRACT: the returned frame is persisted (MEMORY_AND_DISK)
    * and already materialized. The CALLER owns the cache: call
    * `.unpersist()` on the result when done with it (long-lived sessions
    * that skip this accumulate one cache per dedup run). */
  def dedupGroups(pairs: DataFrame, allIds: DataFrame,
                  maxIter: Int = 5): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDirected = edges.count()
    val idOrdering: Option[Ordering[Any]] = pairs.schema("id_a").dataType match {
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      // UTF-8 BINARY order, not String.compareTo's UTF-16 code-unit order:
      // the distributed path's min() compares UTF8Strings bytewise, and the
      // two plans must pick identical group labels (they differ for
      // supplementary-plane chars vs U+E000–U+FFFF)
      case StringType => Some(new Ordering[Any] {
        import org.apache.spark.unsafe.types.UTF8String
        def compare(a: Any, b: Any): Int =
          UTF8String.fromString(a.asInstanceOf[String])
            .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
      })
      case _ => None
    }
    if (fitsDriver(edges.sparkSession, nDirected) && idOrdering.isDefined)
      return dedupGroupsLocal(edges, allIds, idOrdering.get)
    // the monotone-sum convergence probe needs numeric ids (an ANSI cast of
    // a string id to decimal throws); string/other ids use an explicit
    // changed-row probe against the previous labels instead
    val numericIds = pairs.schema("id_a").dataType.isInstanceOf[NumericType]
    def gidSum(df: DataFrame): java.math.BigDecimal = {
      // null sum ⇔ empty frame (no candidate pairs at all) — normalize to 0
      // so the convergence compare stays total
      val s = df.agg(sum(col("group_id").cast(DecimalType(38, 0)))).collectBounded(1, "one-row convergence checksum")(0).getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    // Only vertices incident to an edge can ever change label — iterate
    // over THAT subgraph (near-dup components are a sliver of the corpus;
    // at 100 TB the active set is joinable/broadcastable where the full
    // id table is not), then join the untouched ids back at the end.
    // `edges` holds both directions, so id_a covers every incident vertex.
    var labels = edges.select(col("id_a").as("id")).distinct()
      .select(col("id"), col("id").as("group_id"))
    // Numeric ids: labels only ever DECREASE per row, so Σ group_id is
    // strictly monotone until the fixpoint — an equal sum ⇔ no row changed;
    // one exact-decimal aggregate per round both materializes the new cache
    // and tests convergence. Non-numeric ids: an explicit changed-row
    // anti-probe per round (one extra join, but exact — a hash-sum probe
    // could falsely converge on a collision).
    var prevSum = if (numericIds) gidSum(labels) else null
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val viaEdges = edges
        .join(labels.select(col("id").as("id_b"), col("group_id").as("nb_gid")), "id_b")
        .groupBy(col("id_a")).agg(min(col("nb_gid")).as("min_nb"))
        .select(col("id_a").as("id"), col("min_nb"))
      val hopped = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"),
          least(col("group_id"), coalesce(col("min_nb"), col("group_id"))).as("group_id"))
      // pointer jumping: gid := label(gid) — halves chain lengths each round
      // EAGER localCheckpoint, not persist: a persisted frame keeps its
      // full LOGICAL plan, and each round's plan embeds the previous
      // round's ~5× over (labels read 4×, edges 2× through the self-join)
      // — execution would read caches, but ANALYSIS/OPTIMIZATION walks
      // the exponentially-nested tree and came to dominate wall time by
      // round 4 (25 s/round at sf1.0). Checkpointing truncates lineage to
      // a scan per round — the pageRank/LP doctrine, now applied here.
      val next = hopped
        .join(hopped.select(col("id").as("group_id"), col("group_id").as("gid2")),
          Seq("group_id"), "left")
        .select(col("id"),
          least(col("group_id"), coalesce(col("gid2"), col("group_id"))).as("group_id"))
        .localCheckpoint(true)
      if (numericIds) {
        val s = gidSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      } else
        converged = next
          .join(labels.select(col("id"), col("group_id").as("__prev")), Seq("id"))
          .filter(col("group_id") =!= col("__prev"))
          .isEmpty
      // the superseded round's checkpoint blocks are dead now — `next`
      // materialized from them and the convergence probe has run; free
      // them instead of pinning O(rounds) label-frame copies in executor
      // storage for the rest of the job (no-op for the round-0 seed)
      graft.ops.Checkpoints.releaseLocalCheckpoint(labels)
      labels = next
      i += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] dedupGroups hit maxIter=$maxIter before convergence — " +
          "components may be split; raise maxIter")
    // untouched ids (no incident edge) keep their own id; the converged
    // active-set labels frame is small, so this is one broadcast-or-hash
    // join over the full id table
    val out = allIds.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("group_id"), col("id")).as("group_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize per the ownership contract before dropping inputs
    graft.ops.Checkpoints.releaseLocalCheckpoint(labels)
    edges.unpersist()
    out
  }

  /** Small-graph fast path for [[dedupGroups]]: exact union-find with path
    * compression over the collected edge list (the caller has checked
    * [[graft.ops.Bounded.fitsDriver]]), labels = min id per component,
    * broadcast back over the full id table. Deterministic and identical in
    * output to the distributed loop. */
  private def dedupGroupsLocal(edges: DataFrame, allIds: DataFrame,
                               ord: Ordering[Any]): DataFrame = {
    val spark = edges.sparkSession
    // each undirected edge once (edges holds both directions)
    val rows = edges.filter(col("id_a") < col("id_b"))
      .collectBounded(driverRowBound(spark),
        "local CC fast path (within the driver limit)")
    val idx = new java.util.HashMap[Any, Integer]()
    val vals = new scala.collection.mutable.ArrayBuffer[Any]()
    def ix(v: Any): Int = {
      val e = idx.get(v)
      if (e != null) e.intValue()
      else { idx.put(v, vals.length); vals += v; vals.length - 1 }
    }
    val ea = new Array[Int](rows.length)
    val eb = new Array[Int](rows.length)
    var i = 0
    while (i < rows.length) {
      ea(i) = ix(rows(i).get(0)); eb(i) = ix(rows(i).get(1)); i += 1
    }
    val parent = Array.tabulate(vals.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    i = 0
    while (i < rows.length) {
      val ra = find(ea(i)); val rb = find(eb(i))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    // min id per component (root index is arbitrary; the LABEL is the min)
    val minId = new java.util.HashMap[Integer, Any]()
    i = 0
    while (i < vals.length) {
      val r = Integer.valueOf(find(i))
      val cur = minId.get(r)
      if (cur == null || ord.lt(vals(i), cur)) minId.put(r, vals(i))
      i += 1
    }
    val idType = edges.schema("id_a").dataType
    val labelRows = (0 until vals.length)
      .map(j => org.apache.spark.sql.Row(vals(j), minId.get(Integer.valueOf(find(j)))))
    val labels = spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows, 1),
      StructType(Seq(StructField("id", idType), StructField("group_id", idType))))
    val out = allIds.select(col("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("group_id"), col("id")).as("group_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize per the ownership contract
    edges.unpersist()
    out
  }

  /** End-to-end near-dup dedup: MinHash-LSH candidates → components → one
    * keeper (min id) per group. Returns (id, group_id, keep). */
  def nearDupDedup(df: DataFrame, idCol: String, textCol: String,
                   minEstJaccard: Double = 0.7): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol, bands = 32)
      .filter(col("est_jaccard") >= minEstJaccard)
    dedupGroups(pairs, df.select(col(idCol).as("id")))
      .withColumn("keep", col("id") === col("group_id"))
  }

  /** Near-dup dedup with QUALITY-AWARE retention: same candidate graph and
    * connected components as [[nearDupDedup]], but each component keeps its
    * highest-`qualityCol` member (ties → lowest id) instead of blindly
    * keeping the lowest id — the curation policy that survives is "of these
    * near-identical documents, keep the best-written one". The arg-max is a
    * struct-max aggregation ((quality, -id) — Spark compares fields left to
    * right), one extra key-bucketed shuffle on the component label; no
    * window over the corpus, no float-equality comparisons (the keep flag
    * matches on the winner's ID). Returns (idCol, group_id, qualityCol,
    * keep) for every input row. */
  def nearDupKeepBest(df: DataFrame, idCol: String, textCol: String,
                      qualityCol: String,
                      minEstJaccard: Double = 0.7): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol, bands = 32)
      .filter(col("est_jaccard") >= minEstJaccard)
    val groups = dedupGroups(pairs, df.select(col(idCol).as("id")))
    val g = groups.join(
      df.select(col(idCol).as("id"), col(qualityCol).as("__q")), Seq("id"))
    val best = g.groupBy(col("group_id"))
      .agg(max(struct(col("__q").as("q"), (-col("id")).as("negid")))
        .as("__best"))
    g.join(best, Seq("group_id"))
      .select(col("id").as(idCol), col("group_id"),
        col("__q").as(qualityCol),
        (col("id") === -col("__best.negid")).as("keep"))
  }

  /** Exact dedup: keep the smallest-id row per fingerprint, counting
    * duplicates (hash group-by — one shuffle on the 128-bit fingerprint). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))


  /** DUPLICATE-CLUSTER SIZE PROFILE — the "how much of my corpus is
    * copies" readout that sizes a dedup run before it happens: exact
    * fingerprint clusters ([[exactDedup]]) rolled up by cluster size,
    * with each size's document mass and the cumulative corpus share
    * held by clusters of AT LEAST that size (descending cumulate — the
    * duplication Pareto curve; `cum_share` at size 2 = total duplicate
    * mass). All integer counts off two keyed aggregations; the cumulate
    * rides the O(distinct sizes) frame. Returns
    * (cluster_size, n_clusters, n_docs, doc_share, cum_share). */
  def dupClusterProfile(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = exactDedup(df, idCol, textCol)
      .select(col("n_copies").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val tot = clusters.agg(sum(col("n_docs")).as("__n"))
    val wDesc = Window.orderBy(col("cluster_size").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clusters.crossJoin(broadcast(tot))
      .withColumn("doc_share",
        col("n_docs").cast(DoubleType) / col("__n").cast(DoubleType))
      .withColumn("cum_share",
        sum(col("n_docs")).over(wDesc).cast(DoubleType) /
          col("__n").cast(DoubleType))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("doc_share"), col("cum_share"))
  }

  /** Cross-document repeated n-gram inventory — the aggregate view of exact
    * substring duplication (Lee et al. 2022 find substrings repeated across
    * training documents; the suffix-array they build is a single-machine
    * structure, and the shuffle-native equivalent for FIXED n is this
    * two-level n-gram aggregation). Returns every n-token shingle appearing
    * in at least `minDocs` distinct documents, with its document count and
    * total occurrence count. [[TextStats.dupNgramSpanStats]] is the per-doc
    * attribution of the same signal; this is the per-ngram table (what to
    * strip / blocklist).
    *
    * Scale shape: explode to (ngram, doc) → two map-side-combined
    * aggregations hashed on the ngram — the shuffle carries per-doc n-gram
    * counts, never raw text pairs, and no all-pairs comparison exists. */
  def crossDocNgrams(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 4, minDocs: Int = 2): DataFrame = {
    // degenerate-layout guard (Layout.spreadScan scaladoc): the shingle
    // build is the CPU and must not serialize on a one-row-group scan
    // outer generate + null filter: see [[cdcChunks]] — an inner
    // explode's inferred size() filter would re-run the shingle build
    // serially on the scan side of the spread exchange
    val perDoc = graft.ops.Layout.spreadScan(df)
      .select(col(idCol), explode_outer(shingles(col(textCol), n)).as("ngram"))
      .filter(col("ngram").isNotNull)
      .groupBy(col("ngram"), col(idCol))
      .agg(count(lit(1)).as("__k"))
    perDoc.groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__k")).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** EXACT duplicated-span REMOVAL — the action counterpart of
    * [[graft.llm.TextStats.dupNgramSpanStats]] (Lee et al. 2022: strip
    * the spans that repeat across the corpus, keep the rest of the
    * document). A token position is covered when ANY n-gram occurrence
    * through it has corpus count ≥ minCount; covered tokens are dropped
    * and the survivors are rejoined (normalized single-space text — the
    * same token stream the shingle kernel hashes, so positions line up
    * exactly and the whole pipeline replays in SQL). Documents shorter
    * than n tokens are treated as one whole-document shingle (the
    * shingle kernel's own convention). Returns
    * (id, clean_text, n_tokens, n_removed).
    *
    * Scale shape: same as dupNgramSpanStats (hash-keyed counts, one
    * doc-keyed shuffle) plus a positions explode bounded by token count
    * — per-doc arrays only ever live inside their own row/group. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, minCount: Int = 2): DataFrame = {
    graft.functions.DedupKernels.register(df.sparkSession)
    val base = df.repartition(col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__w"),
        shingleHashes(col(textCol), n, 15).as("__hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r19: materialize ONCE — the final count's four consumers of `base`
    // (dup table, occurrences, token explode, n_tokens) otherwise race as
    // concurrent subqueries, each re-running the tokenize+shingle kernels
    // (measured: four identical ~1.6 s jobs at sf0.1)
    base.count()
    val dup = base.select(explode(col("__hs")).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__h"))
    val occ = base
      .select(col(idCol), size(col("__w")).as("__len"),
        posexplode(col("__hs")))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__h")
    val covered = occ.join(dup, "__h")
      .select(col(idCol),
        explode(sequence(col("__p"),
          least(col("__p") + lit(n - 1), col("__len") - 1))).as("__tp"))
      .distinct()
    val toks = base
      .select(col(idCol), posexplode(col("__w")))
      .withColumnRenamed("pos", "__tp").withColumnRenamed("col", "__tok")
    val kept = toks.join(covered, Seq(idCol, "__tp"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("__tp").as("p"),
              col("__tok").as("t")))),
            x => x.getField("t")), " ").as("clean_text"),
        count(lit(1)).as("__kept"))
    val out = base
      .select(col(idCol), size(col("__w")).as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    base.unpersist()
    out
  }

  /** EXACT set-similarity self-join with a PREFIX FILTER (the
    * PPJoin/AllPairs family, Xiao et al. 2008) — every pair of documents
    * whose k-shingle sets have Jaccard ≥ `threshold`, with NO
    * approximation: where MinHash-LSH ([[lshCandidatePairs]]) trades
    * recall for speed, this is the exact-answer scale path. The filter is
    * LOSSLESS: under any one global shingle order, two sets with
    * J ≥ t must share a shingle among each set's first
    * |s| − ⌈t·|s|⌉ + 1 shingles (else even perfect overlap of the
    * remainder leaves the intersection below t) — so candidate
    * generation by prefix-shingle equality misses nothing, and the
    * DuckDB oracle can be the BRUTE-FORCE join: a hash match proves the
    * pruning dropped no pair. Rare-first ordering (ascending document
    * frequency) makes prefixes collide as little as possible.
    *
    * On top of the prefix filter this applies PPJoin's POSITIONAL
    * filter (Xiao et al. 2008 §4), also lossless: J ≥ t is equivalent
    * to overlap O ≥ t/(1+t)·(|a|+|b|), and for the FIRST shingle the
    * two sets share in the global order — at 1-based sorted positions
    * (pa, pb) — every common shingle sits at position ≥ pa in a and
    * ≥ pb in b, so O ≤ 1 + min(|a|−pa, |b|−pb). A candidate pair is
    * kept iff SOME matching prefix occurrence satisfies
    * (1 + min(|a|−pa, |b|−pb))·(1+t) ≥ t·(|a|+|b|); the first common
    * shingle (which is inside both prefixes whenever J ≥ t) always
    * does, so no qualifying pair is lost, while prefix collisions
    * between length-mismatched or tail-overlapping docs die before the
    * pair-distinct shuffle — this bound is what keeps the candidate
    * mass from growing with Σdf² at scale.
    *
    * The join is also ASYMMETRIC (PPJoin's index-prefix): for a pair
    * with |y| ≤ |x| (ties by id), the overlap threshold
    * α = ⌈t/(1+t)·(|x|+|y|)⌉ is at least ⌈2t/(1+t)·|y|⌉, so the first
    * common shingle sits within y's first |y| − ⌈2t/(1+t)·|y|⌉ + 1
    * shingles (its MID-PREFIX — e.g. 1/3 of tokens at t=0.5 vs 1/2 for
    * the full prefix) and within x's full prefix (α ≥ ⌈t·|x|⌉ follows
    * from |y| ≥ t·|x|). Joining full-prefix × mid-prefix under the
    * (len, id) ordering cuts the collision mass by the mid/full ratio
    * with zero recall loss.
    *
    * Plan: shingle-set build (map-side array exprs) → one distributed
    * rank of the shingle vocabulary (range sort — the vocab never sits
    * on one node) → per-doc prefix pick (keyed window) → prefix-token
    * equi-join with the implied length filter + positional filter →
    * exact array_intersect verify on candidates only. Returns
    * (id_a, id_b, jaccard), id_a < id_b. */
  /** APPROXIMATE Jaccard self-join — the documented escalation path for
    * [[jaccardJoin]] when the exact prefix filter's inherent Σdf²
    * same-length collision mass grows past budget (BENCH_SF1.md q306):
    * MinHash-LSH ROUTES candidates (cost ∝ Σ bucket², with an explicit
    * per-bucket cap), then the EXACT shingle-set intersection verifies
    * every candidate — so each RETURNED pair carries its true Jaccard
    * and genuinely passes `threshold`. Approximation changes RECALL
    * only (a qualifying pair whose signatures collide in no band is
    * missed; recall rises with `bands`); precision is 1 by
    * construction, and the output is always a SUBSET of
    * [[jaccardJoin]]'s (measured recall table in BENCH_SF1.md).
    *
    * Buckets larger than `maxBucket` are dropped whole — a hot bucket
    * is a band key shared by thousands of documents, and its all-pairs
    * mass is exactly what this operator exists to avoid. The cap is
    * deterministic (bucket membership is a pure function of the text),
    * so the DuckDB oracle replays it bit-for-bit. At test SFs the cap
    * never fires (recall 0.9996 at sf1.0 is pure band-miss); at 100×
    * the cap is what fires FIRST, so it must be OBSERVABLE, not a log
    * line: use [[jaccardJoinApproxWithStats]] to get the capped-bucket
    * count and the dropped candidate-pair mass as a typed readout the
    * caller can assert against (e.g. `dropped == 0` for a lossless-run
    * guarantee, or `dropped / totalCandidates < budget` for a bounded
    * recall decay). RECALL CONTRACT when the cap fires: only pairs
    * whose EVERY matching band lands in a capped bucket can be lost —
    * a pair sharing ≥ 1 uncapped band is still routed and verified.
    *
    * Plan: one fused shingle→minhash kernel pass per doc (spread over
    * the session's parallelism), band-key explode, one shuffle by band
    * key (window count + capped self-join share it), pair-distinct,
    * then the exact verify join against the persisted shingle sets —
    * candidates only, never all pairs. Returns (id_a, id_b, jaccard),
    * id_a < id_b. */
  def jaccardJoinApprox(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5,
                        numHashes: Int = 64, bands: Int = 32,
                        maxBucket: Int = 1024): DataFrame =
    jaccardJoinApproxWithStats(df, idCol, textCol, k, threshold,
      numHashes, bands, maxBucket)._1

  /** Bucket-cap telemetry for [[jaccardJoinApprox]]: how many band
    * buckets exceeded `maxBucket` (dropped whole) and the candidate-
    * pair mass n·(n−1)/2 those buckets would have contributed. Both 0
    * ⇒ the run was cap-lossless (recall limited only by band misses). */
  final case class LshCapStats(cappedBuckets: Long, droppedPairs: Long)

  /** [[jaccardJoinApprox]] + the cap telemetry (computed on the same
    * persisted bucket-size frame — no extra shuffle). */
  def jaccardJoinApproxWithStats(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 32,
      maxBucket: Int = 1024): (DataFrame, LshCapStats) = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold")
    require(k >= 1 && k <= 16, s"k=$k")
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (tail signature " +
        "positions would silently drop from LSH banding)")
    require(maxBucket >= 2, s"maxBucket=$maxBucket")
    graft.functions.DedupKernels.register(df.sparkSession)
    val r = numHashes / bands
    val sets = spreadForKernel(df.filter(col(idCol).isNotNull)
        .select(col(idCol).cast(LongType).as("__id"), col(textCol).as("__t")))
      .select(col("__id"),
        array_distinct(shingles(col("__t"), k)).as("__ts"),
        minhashSignatureFromHashes(
          shingleHashes(col("__t"), k, 7), numHashes).as("__sig"))
      .filter(size(col("__ts")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sets.select(col("__id"),
      explode(lshBandKeys(col("__sig"), bands, r)).as("__band"))
    // bucket sizes via a keyed window (hash(band) shuffle shared with
    // the self-join below); PERSISTED so the cap telemetry and the
    // capped self-join read one materialization (r18 ran the explode +
    // window twice — once for the hot count, once for the join)
    val sized = banded.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("__band"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one 1-row readout: capped-bucket count + the pair mass they drop
    // (n·(n−1) is even, so DIV 2 is exact integer arithmetic)
    val capRow = sized.filter(col("__n") > maxBucket)
      .select(col("__band"), col("__n")).distinct()
      .agg(count(lit(1)).as("nb"),
        coalesce(sum(expr("__n * (__n - 1) DIV 2")), lit(0L)).as("np"))
      .collectBounded(1, "jaccardJoinApprox: 1-row cap telemetry").head
    val capStats = LshCapStats(capRow.getLong(0), capRow.getLong(1))
    if (capStats.cappedBuckets > 0)
      System.err.println(s"[graft] jaccardJoinApprox: dropped " +
        s"${capStats.cappedBuckets} hot bucket(s) with > $maxBucket " +
        s"members (${capStats.droppedPairs} candidate pairs; recall " +
        "cap — raise maxBucket to include them)")
    val ok = sized.filter(col("__n") <= maxBucket)
      .select(col("__band"), col("__id"))
    val cand = ok.select(col("__band"), col("__id").as("id_a"))
      .join(ok.select(col("__band"), col("__id").as("id_b")), "__band")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val inter = size(array_intersect(col("__tsa"), col("__tsb")))
    val out = cand
      .join(sets.select(col("__id").as("id_a"), col("__ts").as("__tsa")),
        "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__ts").as("__tsb")),
        "id_b")
      .withColumn("jaccard", inter.cast(DoubleType) /
        (size(col("__tsa")) + size(col("__tsb")) - inter).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      // eager checkpoint (not a bare persist): materializes here so the
      // inputs can be released below, and callers can release the result
      // via Checkpoints.releaseLocalCheckpoint (the pageRank convention)
      .localCheckpoint(true)
    sets.unpersist()
    sized.unpersist()
    (out, capStats)
  }

  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold")
    require(k >= 1 && k <= 16, s"k=$k")
    import graft.ops.TableOps._
    val sets = df.select(col(idCol).cast(LongType).as("__id"),
        array_distinct(shingles(col(textCol), k)).as("__ts"))
      .filter(col("__id").isNotNull && size(col("__ts")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sets.select(col("__id"), size(col("__ts")).as("__l"),
      explode(col("__ts")).as("__sh"))
    val ranked = exploded.groupBy(col("__sh"))
      .agg(count(lit(1)).as("__df"))
      .withRowIndex(Seq(col("__df"), col("__sh")), "__rank")
    val w = Window.partitionBy(col("__id")).orderBy(col("__rank"))
    val prefix = exploded
      .join(ranked.select(col("__sh"), col("__rank")), "__sh")
      .withColumn("__pos", row_number().over(w))
      // every ceil(c·l) in the filters is epsilon-guarded DOWN (ceil of
      // c·l − 1e-9): when c·l is mathematically an exact integer but the
      // FP product lands a ULP above it, an unguarded ceil overshoots by
      // 1 and the prefix comes out one shingle SHORTER than the lossless
      // bound — silently dropping a qualifying pair. The guard errs the
      // safe way only: a one-longer prefix / one-weaker length filter
      // admits extra candidates that the exact verify removes.
      .filter(col("__pos") <=
        col("__l") - ceil(lit(threshold) * col("__l") - lit(1e-9)) + 1)
      .select(col("__sh"), col("__id"), col("__l"), col("__pos"))
      // both sides of the candidate join (full- and mid-prefix) read
      // this frame: persist so the vocab-rank join + per-doc window run
      // once, not once per side.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // index-prefix (mid-prefix) subset: enough for the SHORTER side of
    // any qualifying pair under the (len, id) order — see scaladoc.
    val mid = prefix.filter(col("__pos") <= col("__l") -
      ceil(lit(2.0 * threshold / (1.0 + threshold)) * col("__l") - lit(1e-9)) + 1)
    // positional upper bound on overlap from this matching occurrence;
    // comparison kept real-valued (no ceil) so it can only be WEAKER
    // than the integer overlap threshold — FP rounding at the boundary
    // admits a candidate (verify removes it) but never drops one.
    val posBound = (lit(1) +
        least(col("__lx") - col("__px"), col("__ly") - col("__py")))
      .cast(DoubleType) * lit(1.0 + threshold)
    val cand = prefix.select(col("__sh"), col("__id").as("id_x"),
        col("__l").as("__lx"), col("__pos").as("__px"))
      .join(mid.select(col("__sh"), col("__id").as("id_y"),
        col("__l").as("__ly"), col("__pos").as("__py")), "__sh")
      .filter((col("__ly") < col("__lx") ||
          (col("__ly") === col("__lx") && col("id_y") < col("id_x"))) &&
        col("__ly") >= ceil(lit(threshold) * col("__lx") - lit(1e-9)) &&
        posBound >= lit(threshold) *
          (col("__lx") + col("__ly")).cast(DoubleType) - lit(1e-9))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b")).distinct()
    val inter = size(array_intersect(col("__tsa"), col("__tsb")))
    val out = cand
      .join(sets.select(col("__id").as("id_a"), col("__ts").as("__tsa")),
        "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__ts").as("__tsb")),
        "id_b")
      .withColumn("jaccard", inter.cast(DoubleType) /
        (size(col("__tsa")) + size(col("__tsb")) - inter).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    sets.unpersist()
    prefix.unpersist()
    out
  }

  /** MINHASH CALIBRATION — "how good are my sketches on THIS corpus":
    * over the LSH candidate pairs, compare the signature-agreement
    * estimate against the EXACT shingle-set Jaccard and report the
    * error profile (n_pairs, MAE, signed bias, worst absolute error).
    * The telemetry that justifies a numHashes/bands budget before a
    * 100 TB dedup run — sketch error is corpus-dependent (short docs
    * and near-threshold pairs estimate worst), so a fixed "64 hashes
    * is fine" rule of thumb needs this audit.
    *
    * Plan: [[minhashCandidatePairs]] (linear rep/adjacent pairing, the
    * measured anti-quadratic design) + one distinct-shingle-set join
    * back; exact Jaccard is pinned set arithmetic on the SAME h28
    * hash space the signatures minimize over, error sums are
    * floor-scaled (10⁹). Returns one row
    * (n_pairs, mae, bias, max_abs_err). */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, numHashes: Int = 64,
                         bands: Int = 32): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol, shingleLen,
      numHashes, bands)
    val sets = spreadForKernel(df.filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        array_distinct(shingleHashes(col("__t"), shingleLen, 7))
          .as("__set"))
      .repartition(col("id"))
    val joined = pairs
      .join(sets.select(col("id").as("id_a"), col("__set").as("__sa")),
        "id_a")
      .join(sets.select(col("id").as("id_b"), col("__set").as("__sb")),
        "id_b")
    val inter = size(array_intersect(col("__sa"), col("__sb")))
      .cast(DoubleType)
    val uni = (size(col("__sa")) + size(col("__sb"))).cast(DoubleType) -
      inter
    val scored = joined
      .select(col("est_jaccard").as("__est"), (inter / uni).as("__ex"))
      .withColumn("__err", col("__est") - col("__ex"))
    val agg = scored.agg(count(lit(1)).as("n_pairs"),
      graft.ops.Reductions.isum(abs(col("__err")), 9).as("__sae"),
      graft.ops.Reductions.isum(col("__err"), 9).as("__se"),
      max(abs(col("__err"))).as("max_abs_err"))
    def d(c: Column): Column = c.cast(DoubleType)
    agg.select(col("n_pairs"),
      when(col("n_pairs") > 0L, col("__sae") / d(col("n_pairs")))
        .as("mae"),
      when(col("n_pairs") > 0L, col("__se") / d(col("n_pairs")))
        .as("bias"),
      col("max_abs_err"))
  }
}
