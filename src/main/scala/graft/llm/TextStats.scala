package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Bounded._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification, document fingerprinting.
  * All pure column expressions (codegen'd, no UDFs).
  */
object TextStats {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword count estimate: letter runs, digits, and punctuation
    * counted separately (a cheap proxy for BPE vocab fragmentation). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Flesch-Kincaid grade-level heuristic per document:
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59 with
    * sentences = max(1, count of [.!?]+ runs) and syllables = count of
    * [aeiouy]+ runs in the lowercased text (the standard vowel-group
    * proxy; no per-word min-1 clamp — documented heuristic, identical
    * on both engines). Empty/whitespace docs → null. Pure codegen
    * regexp counting — no UDF. */
  def fleschKincaid(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val sents = greatest(lit(1),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))).cast("double")
    val syl = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("double")
    when(w > 0,
      lit(0.39) * (w / sents) + lit(11.8) * (syl / w) - lit(15.59))
  }

  def charCount(text: Column): Column = length(text)

  /** Count of chars in `charClass` (a regex character class body). */
  def classCount(text: Column, charClass: String): Column =
    length(text) - length(regexp_replace(text, s"[$charClass]", ""))

  def punctRatio(text: Column): Column =
    classCount(text, ".,!?;:").cast(DoubleType) /
      greatest(length(text), lit(1))

  def digitRatio(text: Column): Column =
    classCount(text, "0-9").cast(DoubleType) / greatest(length(text), lit(1))

  def upperRatio(text: Column): Column =
    classCount(text, "A-Z").cast(DoubleType) / greatest(length(text), lit(1))

  /** Unicode NFC normalization / accent stripping (codegen kernels —
    * [[graft.functions.TextKernels.NfcNormalize]] / `StripAccents`; requires
    * `TextKernels.register`). NFC first so visually-identical combining
    * sequences dedup/join identically; both replay in DuckDB (q124). */
  def nfcNormalize(c: Column): Column = call_function("graft_nfc", c)
  def stripAccents(c: Column): Column = call_function("graft_strip_accents", c)

  /** Mean token length (exact integer arithmetic, then one division). */
  def avgTokenLen(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t).cast(LongType)),
      lit(0L), (a, v) => a + v).cast(DoubleType) /
      greatest(tokenCount(text), lit(1))

  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this")

  def stopwordRatio(text: Column, stopwords: Seq[String] = englishStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t))).cast(DoubleType) /
      greatest(tokenCount(text), lit(1))
  }

  /** Deterministic document quality score in [0,1]: rewards moderate length,
    * low punctuation/digit noise, presence of stopwords (prose-likeness).
    * Mirrors the standard Gopher/C4-style heuristic filters, condensed. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast(DoubleType) / 100.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val digitPenalty = least(digitRatio(text) * 5.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    lenScore * 0.4 + swScore * 0.3 +
      (lit(1.0) - punctPenalty) * 0.15 + (lit(1.0) - digitPenalty) * 0.15
  }

  /** [[qualityScore]] in EXACT integer parts-per-million: each of the four
    * components is its own floored ppm term computed with integer `div`
    * (never an IEEE intermediate), so corpus-level means of the score are
    * bit-identical across engines — the aggregate-safe form [[corpusReport]]
    * uses. Per-component flooring differs from floor(1e6·qualityScore) by
    * < 4 ulp-of-ppm per doc; the definition here IS the contract.
    *   c1 = 4000·min(n_tok, 100)                        (0.4 · len score)
    *   c2 = 300000·min(4·sw, nt) div nt                 (0.3 · stopword)
    *   c3 = 150000·(nc − min(5·punct, nc)) div nc       (0.15 · punct)
    *   c4 = 150000·(nc − min(5·digit, nc)) div nc       (0.15 · digit)
    * with nt = max(tokens, 1), nc = max(chars, 1). */
  def qualityScorePpm(text: Column): Column = {
    val nt = greatest(tokenCount(text), lit(1)).cast(LongType)
    val nc = greatest(length(text), lit(1)).cast(LongType)
    val sw = size(filter(tokens(text),
      t => array_contains(array(englishStopwords.map(lit): _*), t)))
      .cast(LongType)
    val np = classCount(text, ".,!?;:").cast(LongType)
    val nd = classCount(text, "0-9").cast(LongType)
    val c1 = lit(4000L) * least(tokenCount(text).cast(LongType), lit(100L))
    val c2 = call_function("div", lit(300000L) * least(lit(4L) * sw, nt), nt)
    val c3 = call_function("div",
      lit(150000L) * (nc - least(lit(5L) * np, nc)), nc)
    val c4 = call_function("div",
      lit(150000L) * (nc - least(lit(5L) * nd, nc)), nc)
    c1 + c2 + c3 + c4
  }

  /** Gopher-style quality RULE FLAGS (Rae et al. 2021 §A1.1 — the standard
    * pre-training document filters), one boolean per rule plus the
    * conjunction `keep`, so a pipeline can audit WHICH rule dropped a doc
    * (the flags are what you aggregate per-source to tune thresholds):
    *   - ok_words:    word count in [minWords, maxWords]
    *   - ok_word_len: mean word length in [minMeanWordLen, maxMeanWordLen]
    *   - ok_symbol:   (# + ellipsis) per word ≤ maxSymbolRatio
    *   - ok_bullet:   fraction of lines starting with a bullet ≤ maxBulletFrac
    *   - ok_ellipsis: fraction of lines ending in "..." ≤ maxEllipsisFrac
    *   - ok_alpha:    fraction of words containing a letter ≥ minAlphaWordFrac
    *   - ok_stop:     ≥ minStopwordHits DISTINCT stopwords present
    * All pure column expressions over the normalized token array (one
    * tokenize per rule-set, codegen'd, flags cast to int for portable
    * comparison) — each ratio is a single int/int double division so the
    * whole rule set replays exactly in SQL (oracle q120). */
  def gopherQualityFlags(df: DataFrame, idCol: String, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanWordLen: Double = 3.0,
                         maxMeanWordLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletFrac: Double = 0.9,
                         maxEllipsisFrac: Double = 0.3,
                         minAlphaWordFrac: Double = 0.8,
                         minStopwordHits: Int = 2,
                         stopwords: Seq[String] = englishStopwords): DataFrame = {
    val text = col(textCol)
    val toks = TextDedup.tokens(text)
    val nwRaw = size(toks)
    val nw = greatest(nwRaw, lit(1))
    val meanLen = aggregate(transform(toks, t => length(t).cast(LongType)),
      lit(0L), (a, v) => a + v).cast(DoubleType) / nw
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEll = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEll).cast(DoubleType) / nw
    val lines = split(text, "\n")
    val nLines = greatest(size(lines), lit(1))
    val bulletFrac = size(filter(lines, l =>
      trim(l).rlike("^[-*•]"))).cast(DoubleType) / nLines
    val ellipsisFrac = size(filter(lines, l =>
      rtrim(l).rlike("\\.\\.\\.$"))).cast(DoubleType) / nLines
    val alphaFrac = size(filter(toks, t =>
      t.rlike("[a-z]"))).cast(DoubleType) / nw
    val swArr = array(stopwords.map(lit): _*)
    val stopHits = size(array_intersect(array_distinct(toks), swArr))
    val flags = Seq(
      "ok_words" -> (nwRaw >= minWords && nwRaw <= maxWords),
      "ok_word_len" -> (meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen),
      "ok_symbol" -> (symbolRatio <= maxSymbolRatio),
      "ok_bullet" -> (bulletFrac <= maxBulletFrac),
      "ok_ellipsis" -> (ellipsisFrac <= maxEllipsisFrac),
      "ok_alpha" -> (alphaFrac >= minAlphaWordFrac),
      "ok_stop" -> (stopHits >= minStopwordHits))
    df.select(
      (col(idCol) +: nwRaw.as("n_words") +: meanLen.as("mean_word_len") +:
        flags.map { case (n, c) => c.cast(IntegerType).as(n) }) :+
        flags.map(_._2).reduce(_ && _).cast(IntegerType).as("keep"): _*)
  }

  /** Tiny per-language marker-word profiles for the n-gram/stopword
    * language-ID heuristic. (Real pipelines plug fastText here; the operator
    * shape — score-per-language, argmax, confidence — is the deliverable.) */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "que"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "ni", "zai", "you"))

  /** Language-ID: hit-count each profile, take the argmax (ties broken by
    * language code order); confidence = hits(best)/tokens. */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextDedup.tokens(col(textCol))
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val sw = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(sw, t))).as("hits"),
        lit(lang).as("lang"))
    }
    // array_max on struct(hits, lang) picks highest hits; ties resolve to the
    // lexicographically last code — deterministic either way
    df.withColumn("__scores", array(scored: _*))
      .withColumn("__best", array_max(col("__scores")))
      .withColumn("pred_lang", col("__best.lang"))
      .withColumn("lang_conf", col("__best.hits").cast(DoubleType) /
        greatest(size(toks), lit(1)))
      .drop("__scores", "__best")
  }

  /** Winnowing-style fingerprint sketch: the m smallest k-gram hashes
    * (a compact, order-free signature for containment/near-dup checks —
    * Schleimer et al. winnowing, simplified to bottom-m). */
  def fingerprintSketch(text: Column, k: Int = 5, m: Int = 8): Column =
    slice(array_sort(transform(TextDedup.shingles(text, k),
      s => TextDedup.h28(s))), 1, m)

  /** Gopher-style REPETITION metrics per document (Rae et al. 2021 §A1.1:
    * duplicate n-gram fraction and most-common-n-gram fraction are the
    * standard repetitious-text filters). n-gram identity = the md5-derived
    * 60-bit shingle hash ([[TextDedup.shingleHashes]] kernel), so the whole
    * computation is engine-portable (oracle q74). The top-bigram count goes
    * through explode → two-level groupBy (map-side partial aggregation — the
    * per-doc n-gram frequency table never materializes wholesale), the rest
    * is array expressions.
    *
    * Returns (id, n_bigrams, dup_bigram_frac, dup_trigram_frac,
    * top_bigram_frac); docs with < n tokens degrade to a single whole-text
    * shingle (all fractions 0 — a short doc is not repetitious). */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.DedupKernels.register(df.sparkSession)
    // ONE pass, no cache, no join: bigram and trigram hashes explode into a
    // single tagged (id, tag, hash) stream, and every output metric is an
    // aggregate of the per-(id, tag, hash) count table — total = Σ count,
    // distinct = row count, top = max count — so 1 - distinct/total replays
    // size(array_distinct(h))/size(h) exactly. Both aggregations are
    // map-side combinable; the per-doc frequency table never materializes
    // wholesale. (The former design persisted the hash arrays to feed two
    // branches — a session-lifetime cache per call.)
    def tagged(tag: Int, n: Int) =
      transform(TextDedup.shingleHashes(col(textCol), n, 15),
        h => struct(lit(tag).as("tag"), h.as("h")))
    def forTag(tag: Int, c: Column) = max(when(col("__tag") === tag, c))
    // one up-front shuffle by id; every groupBy below clusters on a key set
    // containing id, so HashPartitioning(id) satisfies all three and the
    // whole aggregation chain runs partition-local (1 shuffle total instead
    // of 3 chained hash-array shuffles)
    df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol),
        explode(concat(tagged(2, 2), tagged(3, 3))).as("__g"))
      .select(col(idCol), col("__g.tag").as("__tag"), col("__g.h").as("__h"))
      .groupBy(col(idCol), col("__tag"), col("__h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("__tag"))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("__nd"),
        max(col("__c")).as("__topc"))
      .groupBy(col(idCol))
      .agg(
        forTag(2, col("__n")).as("n_bigrams"),
        (lit(1.0) - forTag(2, col("__nd")).cast(DoubleType) /
          forTag(2, col("__n")).cast(DoubleType)).as("dup_bigram_frac"),
        (lit(1.0) - forTag(3, col("__nd")).cast(DoubleType) /
          forTag(3, col("__n")).cast(DoubleType)).as("dup_trigram_frac"),
        (forTag(2, col("__topc")).cast(DoubleType) /
          forTag(2, col("__n")).cast(DoubleType)).as("top_bigram_frac"))
  }

  /** Corpus-level TF-IDF, top term per document. Exact and replayable:
    * idf is the raw ratio N/df (no transcendental — log differs in last-ulp
    * across libms; the monotone ratio ranks identically per term and keeps
    * the whole operator DuckDB-oracle bit-exact, q83), score = tf · N / df
    * evaluated in that IEEE order.
    *
    * Scale shape (100 TB): one repartition on the doc id, then BOTH the
    * (id, term) term-frequency aggregation and the per-doc top-1 window are
    * partition-local (HashPartitioning(id) satisfies clustering on
    * (id, term) ⊇ {id} and the window's id partition). The document-
    * frequency table is vocabulary-sized — natural-language vocabularies
    * are millions of terms, megabytes — and is broadcast back, so the
    * corpus-sized side never shuffles again. Tie-break: lexicographically
    * first term. Docs with no tokens are absent from the output. */
  def tfIdfTopTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nDocs = df.count()
    val toks = df.repartition(col(idCol))
      .select(col(idCol),
        explode(TextDedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTable = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val scored = tf.join(broadcast(dfTable), "term")
      .withColumn("tfidf",
        col("tf").cast(DoubleType) * lit(nDocs.toDouble) /
          col("__df").cast(DoubleType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("term").as("top_term"), col("tf"),
        col("tfidf"))
  }

  /** Corpus-duplicated n-gram span fraction per document (the cheap,
    * shuffle-bounded relative of exact substring dedup — Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" motivates
    * removing spans that repeat ACROSS the corpus, not just within a doc
    * like [[repetitionMetrics]]). An n-gram is "duplicated" when its total
    * corpus occurrence count ≥ `minCount`; a doc's `dup_frac` is the
    * fraction of its n-gram occurrences that are duplicated.
    *
    * Scale shape (100 TB): repartition(id) → per-(id, hash) counts
    * partition-local → global counts via one map-side-combined shuffle on
    * the 60-bit hash → join back on the hash (the counts side is already
    * hash-partitioned by its own aggregation — one exchange, reused) →
    * per-doc rollup. Volume on every shuffle is one (id, hash, count)
    * tuple per DISTINCT n-gram per doc, not per occurrence. Same md5
    * shingle kernel as MinHash/q74, so the oracle replays it (q84). */
  def dupNgramSpanStats(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minCount: Int = 2): DataFrame = {
    graft.functions.DedupKernels.register(df.sparkSession)
    val perDocH = df.repartition(col(idCol))
      .select(col(idCol),
        explode(TextDedup.shingleHashes(col(textCol), n, 15)).as("__h"))
      .groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("__k"))
    val globalC = perDocH.groupBy(col("__h"))
      .agg(sum(col("__k")).as("__c"))
    perDocH.join(globalC, "__h")
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("n_ngrams"),
        sum(when(col("__c") >= minCount, col("__k")).otherwise(lit(0L)))
          .as("dup_occ"))
      .withColumn("dup_frac",
        col("dup_occ").cast(DoubleType) / col("n_ngrams").cast(DoubleType))
  }

  /** Collocation mining by LIFT (log-free PMI): word bigrams whose
    * corpus frequency beats independence,
    * lift = (c_ab/N_pairs) / ((c_a/N)·(c_b/N)) — all integer counts,
    * divisions only in the final projection, so the ranking replays
    * exactly (ln-PMI would not). The phrase-extraction pass a tokenizer
    * or glossary build runs. Returns
    * (w1, w2, n_pair, n_w1, n_w2, lift) for pairs with
    * n_pair ≥ minCount.
    *
    * Plan: one bigram explode + keyed count (shuffle volume = distinct
    * bigrams), unigram counts broadcast-joined twice; the same
    * normalized token stream as the shingle kernel. */
  def collocations(df0: DataFrame, textCol: String, minCount: Long)
      : DataFrame = {
    // degenerate-layout guard (Layout.spreadScan scaladoc): both the
    // unigram and bigram explodes tokenize on the scan tasks
    val df = graft.ops.Layout.spreadScan(df0)
    val toks = df.select(
      explode_outer(graft.llm.TextDedup.tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("__cu"))
    val totals = toks.agg(count(lit(1)).as("__n"))
    val bi = df.select(
        explode_outer(graft.llm.TextDedup.shingles(col(textCol), 2)).as("s"))
      .filter(col("s").isNotNull)
      .select(split(col("s"), " ").as("__p"))
      .filter(size(col("__p")) === 2)
      .select(element_at(col("__p"), 1).as("w1"),
        element_at(col("__p"), 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // P(ab)'s denominator is ALL bigram occurrences, not the filtered set
    val pairTot = bi.agg(sum(col("n_pair")).as("__np"))
    val out = bi.filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("__cu").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("__cu").as("n_w2")), "w2")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(pairTot))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        (col("n_pair").cast("double") / col("__np").cast("double") /
          (col("n_w1").cast("double") / col("__n").cast("double") *
            (col("n_w2").cast("double") / col("__n").cast("double"))))
          .as("lift"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    toks.unpersist(); bi.unpersist()
    out
  }

  /** PII redaction for training corpora: emails, IPv4 addresses, and
    * phone-shaped digit runs replaced by typed placeholders. Patterns are
    * deliberately RE2-compatible (no lookaround/backrefs) so the operator
    * behaves identically on engines with either regex dialect. Email runs
    * first (its local part would otherwise be nibbled by the phone rule),
    * then IPv4 (dots are not phone chars, but the other order is still
    * pinned by the spec), then phone. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d\\-() ]{6,}\\d"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII spans that [[redactPii]] would replace. */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(regexp_replace(text, EmailRe, "<EMAIL>"),
        lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(
        regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"), lit(PhoneRe), lit(0)))

  /** Bigram language-model fluency score per document: the mean MLE
    * transition probability p(w_i | w_{i−1}) = c(w_{i−1} w_i) / c(w_{i−1}·)
    * over the doc's bigrams, with the LM fitted on the whole corpus. The
    * standard pipeline signal is log-perplexity under a corpus LM
    * (CCNet/KenLM-style); the log makes scores engine-irreproducible at the
    * last ulp, so this operator reports the RATIO form — monotone in the
    * same fluency direction, exactly replayable (q113 oracle). Unigram
    * denominators count bigram-LEFT occurrences (so p sums to 1 over the
    * observed continuations of each left word).
    *
    * Scale shape (100 TB): one explode to the (doc, bigram) pair frame,
    * bigram/left-unigram count tables via map-side-combined aggregations
    * (vocab²-sized — joined by hash, NOT broadcast), probability join on
    * the count tables' own hash partitioning, exact floor-scaled sum per
    * doc (1e-6 granularity — deterministic on any partition layout).
    * Docs with fewer than two tokens have no bigrams and are absent.
    * Output: (id, n_bigrams, mean_p). */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token array behind an alias BEFORE the per-bigram
    // lambda: referenced 4× from the transform, an inlined split would
    // re-tokenize the whole text per bigram (O(len²) regex work per doc —
    // measured 6× slower); CollapseProject keeps a multiply-referenced
    // non-cheap alias materialized
    val w = col("__w")
    // degenerate-layout guard (Layout.spreadScan scaladoc): the bigram
    // build below runs on the SCAN side of the shared shuffle
    val pairs = graft.ops.Layout.spreadScan(df)
      .select(col(idCol), TextDedup.tokens(col(textCol)).as("__w"))
      .select(col(idCol), explode_outer(when(size(w) >= 2,
        transform(sequence(lit(0), size(w) - 2),
          i => concat(element_at(w, i + 1), lit(" "), element_at(w, i + 2))))
        .otherwise(array().cast("array<string>"))).as("bg"))
      .filter(col("bg").isNotNull)
    // ONE shuffle boundary shared by both consumers (count tables and
    // probe side): without it each consumer re-runs the tokenize+explode
    // corpus pass — the dsirResample exchange-reuse idiom
    val shared = pairs.repartition(col("bg"))
    val withW1 = shared.withColumn("w1", substring_index(col("bg"), " ", 1))
    val cb = shared.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    // left-unigram counts roll up from the (much smaller) bigram table —
    // one corpus scan fewer; identical long counts. (A/B-measured: folding
    // cu onto cb into one pre-joined weight table is SLOWER here — the
    // chained pair of type-table joins stays broadcast under AQE with the
    // probe pipeline unbroken, while the weight-table build either adds a
    // checkpoint barrier or re-runs the corpus aggregation.)
    val cu = cb.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("cu"))
    withW1.join(cb, "bg").join(cu, "w1")
      .withColumn("pr", col("cb").cast(DoubleType) / col("cu").cast(DoubleType))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (graft.ops.Reductions.isum(col("pr"), 6) / count(lit(1))).as("mean_p"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score every
    * document under the corpus bigram LM ([[bigramLmScore]] — the ratio form
    * of the perplexity signal), then cut each language's documents into
    * head / middle / tail thirds by score. CCNet sorts by LM perplexity and
    * keeps the head; the bucket label is the standard curation feature.
    *
    * Scale shape: the per-language third-cut needs a per-language rank. A
    * `Window.partitionBy(lang)` would funnel each language through one task
    * (5 languages = 5 tasks for a 100 TB corpus), so ranking routes through
    * [[graft.ops.TableOps.DatasetExt.stratifiedRank]] — a distributed range
    * sort + O(languages) offset frame. Bucket boundaries replay NTILE(3)
    * semantics exactly (first n%3 buckets take the extra row), so the result
    * is verbatim `ntile(3) OVER (PARTITION BY lang ORDER BY mean_p DESC)`
    * without its single-task window. Docs with <2 tokens have no bigrams
    * and are absent (as in bigramLmScore). */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        strataCol: String): DataFrame = {
    import graft.ops.TableOps.DatasetExt
    // stratifiedRank consumes its input three times (range-sort scan,
    // zipWithIndex scan, per-stratum counts) — checkpoint the scored frame
    // so the whole LM pipeline executes ONCE, not per consumer (the
    // iterative-lineage doctrine; the frame is O(docs) rows, and its blocks
    // are released when the result frame is GC'd).
    val scored = bigramLmScore(df, idCol, textCol)
      .join(df.select(col(idCol), col(strataCol)), idCol)
      .localCheckpoint(true)
    val ranked = scored.stratifiedRank(strataCol,
      Seq(col("mean_p").desc, col(idCol)), "__rk", "__ns")
    // ntile(3) replay in exact integer arithmetic: q = n div 3 via an
    // exactly-divisible double division, first (n mod 3) buckets hold q+1
    val rem = col("__ns") % 3
    val q = ((col("__ns") - rem) / 3).cast(LongType)
    val s1 = q + when(rem >= 1, 1L).otherwise(0L)
    val s2 = q + when(rem >= 2, 1L).otherwise(0L)
    ranked.withColumn("bucket",
        when(col("__rk") <= s1, lit("head"))
          .when(col("__rk") <= s1 + s2, lit("middle"))
          .otherwise(lit("tail")))
      .drop("__rk", "__ns")
  }

  /** Okapi BM25 relevance of every document to a fixed bag of query terms
    * (k1/b in the standard parameterization). The corpus statistics (N,
    * avgdl, per-term document frequency) are ONE aggregate whose O(terms)
    * result rides back as literals — a fit-side readout like the model fits,
    * never a data-sized collect — and the score itself is a pure codegen
    * column expression (tf via an array filter on the token array).
    *
    * The term weight uses the RATIONAL idf (N − df + ½)/(df + ½) rather
    * than its logarithm: same per-term ordering, and — like
    * [[bigramLmScore]] dropping log-perplexity for the ratio form — it
    * keeps every arithmetic step an IEEE-exact op (+,×,/) that any engine
    * replays bit-identically, where ln differs in the last ulp across math
    * libraries. For the standard log weighting over a handful of terms,
    * wrap the returned contributions in `log`; ordering is unchanged
    * per term. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = df.select(col(idCol), TextDedup.tokens(col(textCol)).as("__w"))
      .withColumn("__dl", size(col("__w")))
    val aggs = count(lit(1)).as("__n") +:
      sum(col("__dl").cast(LongType)).as("__sumdl") +:
      terms.map(t =>
        sum(when(array_contains(col("__w"), t), 1L).otherwise(0L)).as(s"__df_$t"))
    val r = toks.agg(aggs.head, aggs.tail: _*)
      .collectBounded(1, "O(1) bm25 corpus-stats readout").head
    val n = r.getLong(0)
    require(n > 0, "bm25 needs a non-empty corpus")
    val avgdl = r.getLong(1).toDouble / n
    val dfs = terms.indices.map(i => r.getLong(2 + i))
    val dlD = col("__dl").cast(DoubleType)
    val score = terms.zip(dfs).map { case (t, dft) =>
      val tf = size(filter(col("__w"), x => x === lit(t))).cast(DoubleType)
      val idf = lit((n - dft + 0.5) / (dft + 0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / lit(avgdl)))
    }.reduce(_ + _)
    toks.select(col(idCol), score.as("bm25"))
  }

  /** Per-document sentence segmentation statistics: sentences split on
    * `[.!?]+\s+` runs (deliberately lookaround-free so RE2-dialect engines
    * segment identically — same policy as the PII patterns above),
    * whitespace-empty segments dropped, token counts per sentence. One map
    * pass, all integer arithmetic until the final mean division. */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = filter(split(col(textCol), "[.!?]+\\s+"),
      s => length(trim(s)) > 0)
    val tokCounts = col("__tc")
    df.select(col(idCol),
        transform(sents, s => size(split(trim(s), "\\s+"))).as("__tc"))
      .select(col(idCol),
        size(tokCounts).as("n_sentences"),
        aggregate(tokCounts, lit(0L), (a, v) => a + v).as("n_tokens"),
        (aggregate(tokCounts, lit(0L), (a, v) => a + v).cast(DoubleType) /
          size(tokCounts)).as("mean_sent_tokens"),
        array_max(tokCounts).as("max_sent_tokens"))
  }

  /** Corpus CARD — the per-group audit table a curation pipeline publishes
    * with a dataset release (docs, token volume, mean quality, exact-dup
    * share, language spread per source/domain/shard). One pass, one
    * key-bucketed aggregation; the dup share reuses the exact-dedup
    * fingerprint (distinct count per group), quality the
    * [[qualityScorePpm]] exact-integer scorer (flooring an IEEE composite
    * double at 10⁶ diverged from the SQL mirror at bucket boundaries —
    * the integer form sums and divides identically on any engine). */
  def corpusReport(df: DataFrame, textCol: String, byCol: String): DataFrame =
    df.select(col(byCol), col(textCol).as("__t"),
        TextDedup.fingerprint(col(textCol)).as("__fp"),
        qualityScorePpm(col(textCol)).as("__q"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("__t")).cast(LongType)).as("n_tokens"),
        (sum(col("__q")).cast(DoubleType) / lit(1000000.0) / count(lit(1)))
          .as("mean_quality"),
        (count(lit(1)) - countDistinct(col("__fp"))).as("n_exact_dups"))

  /** URL CANONICALIZATION — the dedup key for web-crawl curation (the
    * same page arrives as http/HTTPS, with/without tracking params,
    * fragments, trailing slashes): strip the fragment, strip the query
    * string, lowercase scheme+host (path case is significant and kept),
    * drop one trailing slash. Pure regexp column expressions (RE2-safe,
    * engine-portable). */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noQuery = regexp_replace(noFrag, "\\?.*$", "")
    val prefix = regexp_extract(noQuery, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", 0)
    val path = substring(noQuery, length(prefix) + lit(1), lit(1000000))
    concat(lower(prefix), regexp_replace(path, "/$", ""))
  }

  /** HTML/markup stripping — the crawl→text extraction step that runs
    * BEFORE every quality/dedup filter in a web-scale pretraining
    * pipeline (raw Common-Crawl-style payloads are markup, not prose).
    * Pure per-row regexp kernel (no UDF, RE2-compatible patterns like
    * [[redactPii]] so the DuckDB mirror replays it verbatim):
    *   1. drop <script>/<style> ELEMENTS including their content
    *      ((?is) non-greedy — their text is code, not prose);
    *   2. drop HTML comments;
    *   3. replace every remaining <...> tag with a space (block/inline
    *      distinction doesn't survive whitespace collapse anyway);
    *   4. decode the six ubiquitous entities, &amp; LAST so
    *      double-encoded text decodes one level per pass (standard);
    *   5. collapse [ \t\n\r]+ runs to one space and trim (an explicit
    *      class, not \s — Java and RE2 disagree on \v). */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** Per-doc markup extraction report: tag count, raw/stripped lengths,
    * and the markup share 1 − stripped/raw — the "mostly boilerplate"
    * gate a crawl pipeline applies right after [[stripMarkup]]. One map
    * pass; integer ratio in basis points so the oracle replays exactly. */
  def markupStats(df: DataFrame, idCol: String, htmlCol: String)
      : DataFrame = {
    val raw = col(htmlCol)
    val stripped = stripMarkup(raw)
    df.select(col(idCol),
      regexp_count(raw, lit("<[^>]*>")).cast(LongType).as("n_tags"),
      length(raw).cast(LongType).as("raw_len"),
      length(stripped).cast(LongType).as("text_len"),
      stripped.as("text"))
      .withColumn("markup_bp",
        when(col("raw_len") > 0,
          expr("(10000 * (raw_len - text_len)) div raw_len"))
          .otherwise(lit(0L)))
  }

  /** Per-host URL dedup report over [[canonicalUrl]]: raw URL count,
    * canonical-distinct count, and the dup share the canonicalization
    * recovered. One keyed aggregation after the per-row kernel. */
  def urlDedupReport(df: DataFrame, urlCol: String): DataFrame = {
    val canon = canonicalUrl(col(urlCol))
    df.select(canon.as("__c"))
      .withColumn("__host", regexp_extract(col("__c"), "://([^/]+)", 1))
      .groupBy(col("__host").as("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("__c")).as("n_canonical"),
        (count(lit(1)) - countDistinct(col("__c"))).as("n_dups"))
      .orderBy(col("host"))
  }

  /** ZIPF FIT over the corpus vocabulary: OLS of ln(freq) on ln(rank)
    * across the top `topN` terms — natural-language corpora sit near
    * slope −1, so a far-off slope is a cheap corpus-health flag
    * (boilerplate floods flatten it, template spam steepens it).
    * Terms come from the house corpus tokenizer ([[TextDedup.tokens]] —
    * whitespace-normalized lowercase words, the same stream every dedup
    * op counts); ranks are the total order (count DESC, term ASC) so
    * ties break deterministically. Returns one row
    * (n_terms, slope, intercept, r2).
    *
    * Plan: one explode + keyed count over the corpus (the data-sized
    * pass), a TakeOrdered top-N (no global sort), then a row_number
    * window + OLS moments over the O(topN) frame — floor-scaled (10⁶)
    * exact sums, one fixed IEEE closed form. */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int = 500)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(explode(TextDedup.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(topN)
    val wR = Window.orderBy(col("__c").desc, col("__w").asc)
    val pts = terms.withColumn("__r", row_number().over(wR))
      .select(log(col("__r").cast(DoubleType)).as("__x"),
        log(col("__c").cast(DoubleType)).as("__y"))
    def fsum(c: Column) = graft.ops.Reductions.isum(c, 6)
    val m = pts.agg(count(lit(1)).cast(DoubleType).as("__n"),
      fsum(col("__x")).as("__sx"), fsum(col("__y")).as("__sy"),
      fsum(col("__x") * col("__x")).as("__sxx"),
      fsum(col("__x") * col("__y")).as("__sxy"),
      fsum(col("__y") * col("__y")).as("__syy"))
    val vx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val vy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val cv = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    m.select(col("__n").cast(LongType).as("n_terms"),
      when(vx > 0.0, cv / vx).as("slope"),
      when(vx > 0.0, (col("__sy") - (cv / vx) * col("__sx")) / col("__n"))
        .as("intercept"),
      when(vx > 0.0 && vy > 0.0, (cv / sqrt(vx)) * (cv / sqrt(vx)) / vy)
        .as("r2"))
  }

  /** c-TF-IDF CLUSTER TERM PROFILES (the BERTopic labeling step): which
    * terms CHARACTERIZE each cluster (source, topic id, dedup community),
    * not just occur in it —
    *   score(w, c) = (n_{w,c} / N_c) · ln(1 + K / k_w)
    * with N_c the cluster's token count, K the cluster count, k_w the
    * number of clusters containing w: a term everywhere scores ≈ tf·ln 2
    * regardless of frequency, a cluster-exclusive term gets the full
    * ln(1 + K) boost. Scores are floor-scaled (10⁹) BEFORE the per-cluster
    * top-k rank so near-tie ordering cannot drift between engines; ties
    * break by term. Returns ≤ topK rows per cluster
    * (cluster, term, n_term, score, rank).
    *
    * Plan: one (cluster, term) count aggregation, an O(terms) cluster-df
    * frame, an O(clusters) total frame broadcast back, then a per-cluster
    * window rank (WindowGroupLimit prunes to topK per partition before
    * the shuffle). */
  def clusterTerms(df: DataFrame, clusterCol: String, textCol: String,
                   topK: Int = 10): DataFrame = {
    require(topK > 0)
    import org.apache.spark.sql.expressions.Window
    val toks = df.filter(col(clusterCol).isNotNull)
      .select(col(clusterCol).as("cluster"),
        explode(TextDedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val cell = toks.groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("n_term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nc = cell.groupBy(col("cluster")).agg(sum(col("n_term")).as("__nc"))
    val kw = cell.groupBy(col("term")).agg(count(lit(1)).as("__kw"))
    val kTot = nc.agg(count(lit(1)).as("__k"))
    val tf = col("n_term").cast(DoubleType) / col("__nc").cast(DoubleType)
    val idf = log(lit(1.0) +
      col("__k").cast(DoubleType) / col("__kw").cast(DoubleType))
    val scored = cell
      .join(broadcast(nc), "cluster")
      .join(kw, "term")
      .crossJoin(broadcast(kTot))
      .withColumn("__s",
        floor(tf * idf * lit(1e9)).cast(LongType))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__s").desc, col("term").asc)
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("cluster"), col("term"), col("n_term"),
        (col("__s").cast(DoubleType) / lit(1e9)).as("score"),
        col("rank").cast(LongType).as("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cell.unpersist()
    out
  }

  /** RAKE keyword extraction (Rose et al. 2010) over the whole corpus —
    * the unsupervised "what is this corpus about" pass that needs no
    * model: candidate phrases are maximal runs between stopwords and
    * punctuation; a word scores degree/freq (degree = Σ length of every
    * phrase it appears in — words keeping long-phrase company score
    * high); a phrase scores the sum of its word scores.
    *
    * Determinism: phrase extraction is two regexp_replace passes
    * (punctuation → '|', stopword-with-boundaries → '|') over the house
    * normalization — RE2-compatible patterns, no lookaround, shared
    * verbatim with the SQL mirror; word scores are single divisions of
    * exact counts; phrase scores are floor-scaled (10⁶) exact sums; the
    * top-k order is (score, phrase) — fully tie-broken.
    *
    * Scale: the phrase and word frames are corpus-token-sized keyed
    * aggregations (one shuffle each), the score join is vocab-sized, and
    * the final top-k is a TakeOrderedAndProject — no global sort, no
    * driver data. Returns ≤ topK rows
    * (phrase, n_words, n_occurrences, score). */
  def rakeKeywords(df: DataFrame, textCol: String, minFreq: Long = 2,
                   topK: Int = 50,
                   stopwords: Seq[String] = englishStopwords): DataFrame = {
    require(topK > 0 && minFreq >= 1)
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    val noPunct = regexp_replace(norm, "[^a-z0-9' ]", "|")
    val stopPat = "\\b(" + stopwords.mkString("|") + ")\\b"
    val cut = regexp_replace(noPunct, stopPat, "|")
    val phrases = df
      .select(explode(split(cut, "\\|")).as("__p0"))
      .select(trim(regexp_replace(col("__p0"), " +", " ")).as("phrase"))
      .filter(col("phrase") =!= "")
      .withColumn("__w", split(col("phrase"), " "))
      .withColumn("__len", size(col("__w")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wordStats = phrases
      .select(explode(col("__w")).as("word"), col("__len"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .select(col("word"),
        (col("__deg").cast(DoubleType) / col("__freq").cast(DoubleType))
          .as("__score"))
    val occ = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("__len")).cast(LongType).as("n_words"))
      .filter(col("n_occurrences") >= minFreq)
    val scored = occ
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(wordStats, "word")
      .groupBy(col("phrase"), col("n_words"), col("n_occurrences"))
      .agg(graft.ops.Reductions.isum(col("__score"), 6).as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(topK)
    val out = scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    phrases.unpersist()
    out
  }

  /** CORPUS DISTINCT-n DIVERSITY (Li et al. 2016's distinct-1/-2 metric,
    * generalized): for each n, the exact count of distinct n-grams over
    * the whole corpus divided by the total n-gram count — the standard
    * generation-diversity / memorization readout for training corpora.
    * Docs shorter than n tokens contribute ZERO n-grams (unlike the
    * shingle kernel's whole-text fallback — a 2-token doc has no
    * trigrams, and counting a fake one would inflate diversity).
    *
    * Scale shape: ONE corpus scan — every n's (n, 60-bit gram hash)
    * pairs ride a single explode (the [[graft.llm.TextDedup.h60]]
    * kernel — the shuffle carries tagged 8-byte hashes, not gram
    * strings), then a two-level aggregation: a keyed (n, h) count with
    * map-side partials, and an O(distinct) fold per n giving the exact
    * distinct count AND the total together (a per-n pass tripled the
    * scan for no information gain — measured 4.6 → ~1.6 s at sf0.1).
    * Distinctness via the 60-bit hash is exact modulo md5-prefix
    * collisions — the same identity every dedup operator uses.
    * Returns one row per n: (n, total_ngrams, distinct_ngrams,
    * distinct_ratio). */
  def distinctNgramDiversity(df: DataFrame, textCol: String,
                             ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns=$ns")
    val toks = TextDedup.tokens(col(textCol))
    val tagged = ns.map { n =>
      val grams = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
      transform(grams, g => struct(lit(n).as("n"), TextDedup.h60(g).as("h")))
    }
    val counts = df
      .select(explode(concat(tagged: _*)).as("__p"))
      .groupBy(col("__p.n").as("__n"), col("__p.h").as("__h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__n"))
      .agg(sum(col("__c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
    // every requested n emits a row even when the corpus has no n-grams
    val spark = df.sparkSession
    import spark.implicits._
    ns.toDF("n").join(counts, col("n") === col("__n"), "left")
      .select(col("n"),
        coalesce(col("total_ngrams"), lit(0L)).as("total_ngrams"),
        coalesce(col("distinct_ngrams"), lit(0L)).as("distinct_ngrams"))
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        when(col("total_ngrams") =!= 0L,
          col("distinct_ngrams").cast(DoubleType) /
            col("total_ngrams").cast(DoubleType)).as("distinct_ratio"))
  }

  /** HEAPS' LAW fit — vocabulary growth V(N) ≈ k·N^β over the corpus in
    * doc-id order (β ≈ 0.4–0.6 for natural language; a β near 1 means
    * the corpus never stops minting new types — boilerplate/IDs; near 0
    * means heavy repetition). The vocabulary-growth curve is computed
    * WITHOUT any per-prefix distinct scan: each type's FIRST-OCCURRENCE
    * doc is one keyed min over 60-bit token hashes, and V(N) is then a
    * running sum of per-doc new-type counts — the same corpus-sized
    * shuffle [[distinctNgramDiversity]] pays, once. The growth CURVE is
    * sampled at `buckets` fixed id-range points (bucket =
    * ⌊id·B/(max_id+1)⌋ — pure arithmetic, engine-replayable), so the
    * cumulate and the log-log OLS (zipf floor-sum convention) run on an
    * O(B) frame no matter the corpus size — a per-doc curve would
    * funnel O(docs) through one window. Returns one row
    * (n_docs, total_tokens, vocab, beta, ln_k). */
  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
               buckets: Int = 256): DataFrame = {
    require(buckets >= 8, s"buckets=$buckets")
    import org.apache.spark.sql.expressions.Window
    // degenerate-layout guard (Layout.spreadScan scaladoc) — the
    // tokenize+hash explode is the CPU; plus per-doc array_distinct
    // BEFORE the explode: first-occurrence min(doc) per hash is
    // unchanged by within-doc repeats, and the shuffle drops to per-doc
    // distinct types (~2-3× fewer rows on natural text)
    val base = graft.ops.Layout.spreadScan(df)
    // outer generate + null filter: see [[TextDedup.cdcChunks]]
    val toks = base.select(col(idCol).cast(LongType).as("__id"),
      explode_outer(array_distinct(transform(TextDedup.tokens(col(textCol)),
        t => TextDedup.h60(t)))).as("__h"))
      .filter(col("__h").isNotNull)
    val newTypes = toks.groupBy(col("__h")).agg(min(col("__id")).as("__fid"))
      .groupBy(col("__fid")).agg(count(lit(1)).as("__nv"))
    val perDoc = base.select(col(idCol).cast(LongType).as("__id"),
      size(TextDedup.tokens(col(textCol))).cast(LongType).as("__nt"))
    val mx = perDoc.agg(max(col("__id")).as("__mx"),
      count(lit(1)).as("__nd"))
    val perBucket = perDoc
      .join(newTypes, col("__id") === col("__fid"), "left")
      .select(col("__id"), col("__nt"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
      .crossJoin(broadcast(mx))
      .withColumn("__b", expr(
        s"CAST(__id AS DECIMAL(38,0)) * $buckets div (__mx + 1L)")
        .cast(LongType))
      .groupBy(col("__b"))
      .agg(sum(col("__nt")).as("__bnt"), sum(col("__nv")).as("__bnv"),
        max(col("__nd")).as("__nd"))
    val w = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = perBucket
      .withColumn("__N", sum(col("__bnt")).over(w))
      .withColumn("__V", sum(col("__bnv")).over(w))
      .filter(col("__N") > 0L && col("__V") > 0L)
      .withColumn("__x", log(col("__N").cast(DoubleType)))
      .withColumn("__y", log(col("__V").cast(DoubleType)))
    val fs6 = (c: Column) => graft.ops.Reductions.isum(c, 6)
    val n = count(lit(1)).cast(DoubleType)
    val sx = fs6(col("__x")); val sy = fs6(col("__y"))
    val sxx = fs6(col("__x") * col("__x"))
    val sxy = fs6(col("__x") * col("__y"))
    pts.agg(max(col("__nd")).as("n_docs"),
        max(col("__N")).as("total_tokens"), max(col("__V")).as("vocab"),
        when(n * sxx - sx * sx > 0.0,
          (n * sxy - sx * sy) / (n * sxx - sx * sx)).as("beta"),
        when(n * sxx - sx * sx > 0.0,
          (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
          .as("ln_k"))
  }

  /** CORPUS VOCABULARY STATS — total tokens, exact vocabulary size,
    * hapax/dis legomena counts (types occurring exactly once/twice),
    * type-token ratio and hapax ratio: the Zipf-tail health readout
    * (a high hapax share with healthy TTR is natural text; a collapsed
    * one is template spam). One explode over 60-bit token hashes + one
    * keyed count + one global fold — the q337 shuffle shape. */
  def vocabularyStats(df: DataFrame, textCol: String): DataFrame =
    // spread + outer generate: see [[TextDedup.cdcChunks]]
    graft.ops.Layout.spreadScan(df)
      .select(explode_outer(transform(TextDedup.tokens(col(textCol)),
        t => TextDedup.h60(t))).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("vocab"),
        count(when(col("__c") === 1L, 1)).as("hapax"),
        count(when(col("__c") === 2L, 1)).as("dis_legomena"))
      .select(col("n_tokens"), col("vocab"), col("hapax"),
        col("dis_legomena"),
        when(col("n_tokens") =!= 0L, col("vocab").cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("ttr"),
        when(col("vocab") =!= 0L, col("hapax").cast(DoubleType) /
          col("vocab").cast(DoubleType)).as("hapax_ratio"))

  /** SCHLEIMER ET AL. WINNOWING fingerprints (the MOSS algorithm; cf.
    * reference text-dedup tooling): hash every k-gram, slide a window of
    * w consecutive hashes, and in each window select the MINIMUM hash —
    * ties broken by the RIGHTMOST position. The selected (position, hash)
    * set is the document fingerprint; winnowing guarantees any shared
    * run of ≥ w+k−1 tokens between two documents shares a fingerprint
    * (the local-containment detector [[fingerprintSketch]]'s bottom-m
    * simplification cannot promise).
    *
    * Scale shape: ZERO shuffle — the whole computation is per-document
    * array expressions (k-gram hashes, then each window's argmin via an
    * integer key h·2²⁰ + (2²⁰−1−pos), whose plain min() realizes
    * smallest-hash-then-rightmost-pos exactly). O(n·w) array work per
    * doc inside the scan stage; docs with fewer than w k-grams degrade
    * to the single global minimum (one window covering everything).
    * Positions are 1-based over the k-gram sequence and bounded by the
    * key layout at 2²⁰ ≈ 1M grams/doc (far beyond any real document).
    * Returns (id, n_grams, n_fp, fps) with fps = "pos:hash" CSV sorted
    * by position. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w")
    val P = 1048576L    // 2^20 position space (tie-break suffix)
    val H = 268435456L  // 2^28 hash space (posKey layout)
    val hs = transform(TextDedup.shingles(col(textCol), k),
      s => TextDedup.h28(s))
    val keys = transform(hs, (h, i) =>
      h * lit(P) + (lit(P - 1L) - (i.cast(LongType) + lit(1L))))
    val d = df.withColumn("__keys", keys)
      .withColumn("__ng", size(col("__keys")).cast(LongType))
    val sels = when(col("__ng") >= w,
        array_distinct(transform(sequence(lit(w.toLong), col("__ng")),
          e => array_min(slice(col("__keys"), e - (w - 1), lit(w))))))
      .otherwise(array(array_min(col("__keys"))))
    // decode to pos-major keys so the output sorts by position; key
    // values stay < 2^48, exact under the double division inside floor
    val posKeys = array_sort(transform(sels, kk =>
      (lit(P - 1L) - kk % lit(P)) * lit(H) +
        floor(kk / lit(P)).cast(LongType)))
    d.select(col(idCol), col("__ng").as("n_grams"),
      size(posKeys).cast(LongType).as("n_fp"),
      concat_ws(",", transform(posKeys, pk =>
        concat(floor(pk / lit(H)).cast(LongType).cast(StringType),
          lit(":"), (pk % lit(H)).cast(StringType)))).as("fps"))
  }


  /** REPETITION-LOOP DETECTOR — the "model output stuck in a cycle" /
    * template-spam filter: for each cycle length c ∈ 1..maxCycle, the
    * longest run of positions where token[i] == token[i−c] (so a
    * "yes yes yes yes" doc scores loop1 = 3 and "a b a b a b" scores
    * loop2 = 4). Pure array expressions per row — the fold state
    * (current run, best run) is ENCODED in one BIGINT
    * (cur << 32 | best; token positions are far below 2³²) so both
    * engines replay the identical integer fold; no UDF, no shuffle
    * beyond the scan. Returns (id, n_tokens, loop1..loop<c>). */
  def repetitionLoops(df: DataFrame, idCol: String, textCol: String,
                      maxCycle: Int = 3): DataFrame = {
    require(maxCycle >= 1 && maxCycle <= 8, s"maxCycle=$maxCycle")
    val w = col("__w")
    val base = graft.ops.Layout.spreadScan(df)
      .select(col(idCol), TextDedup.tokens(col(textCol)).as("__w"))
    val withLoops = (1 to maxCycle).foldLeft(base) { (acc, c) =>
      // fold over positions c..len-1 (0-based): encoded = cur << 32 | best
      val folded = aggregate(
        when(size(w) > c, sequence(lit(c), size(w) - 1))
          .otherwise(array().cast("array<int>")),
        lit(0L),
        (st, i) => {
          val cur = shiftright(st, 32) + lit(1L)
          val matches = element_at(w, i + 1) === element_at(w, i - (c - 1))
          val newCur = when(matches, cur).otherwise(lit(0L))
          shiftleft(newCur, 32) +
            greatest(st.bitwiseAND(lit(4294967295L)), newCur)
        })
      acc.withColumn(s"loop$c",
        folded.bitwiseAND(lit(4294967295L)).cast(LongType))
    }
    withLoops.select(
      (col(idCol) +: size(w).cast(LongType).as("n_tokens") +:
        (1 to maxCycle).map(c => col(s"loop$c"))): _*)
  }


  /** MEAN-IDF DOCUMENT RARITY — the "is this doc boilerplate or
    * information" score used to downweight template mass in pretraining
    * mixes: per-doc mean of idf(t) = ln((N+1)/(df_t+1)) over the doc's
    * token INSTANCES (repeats count — a doc that repeats one rare token
    * is not rarer than one that uses many). df comes from per-doc
    * DISTINCT tokens (document frequency, not collection frequency).
    *
    * Plan: one spread tokenize pass feeds both the df table (per-doc
    * array_distinct before the count — the heapsLaw trick) and the
    * instance stream; idf per token is a broadcast-sized... no — a
    * hash join against the vocab-sized df frame; the per-doc mean folds
    * floor-scaled (10⁹) exact sums. Returns (id, n_tokens, mean_idf). */
  def meanIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = graft.ops.Layout.spreadScan(df)
      .select(col(idCol).as("__id"),
        TextDedup.tokens(col(textCol)).as("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = base.count()
    val dfTab = base
      .select(col("__id"), explode_outer(array_distinct(col("__w")))
        .as("__t"))
      .filter(col("__t").isNotNull && length(col("__t")) > 0)
      .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .withColumn("__idf",
        log((lit(nDocs.toDouble) + lit(1.0)) /
          (col("__df").cast(DoubleType) + lit(1.0))))
    val inst = base
      .select(col("__id"), explode_outer(col("__w")).as("__t"))
      .filter(col("__t").isNotNull && length(col("__t")) > 0)
    val out = inst.join(dfTab.select(col("__t"), col("__idf")), "__t")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        (graft.ops.Reductions.isum(col("__idf"), 9) /
          count(lit(1)).cast(DoubleType)).as("mean_idf"))
      .select(col("__id").as("id"), col("n_tokens"), col("mean_idf"))
      .localCheckpoint(true)
    base.unpersist()
    out
  }

  /** TEXTRANK KEYWORDS (Mihalcea & Tarau 2004) — graph-based corpus
    * keyword extraction: tokens with corpus frequency ≥ `minCount` are
    * nodes, distinct ADJACENT co-occurrence pairs are (symmetric)
    * edges, and importance is [[graft.ops.Graph.pageRank]] over that
    * graph — the integer fixed-point iteration, so every round replays
    * engine-exactly (no float reduce-order drift). Unlike TF-IDF-style
    * scores, TextRank rewards tokens that co-occur with OTHER
    * well-connected tokens — the standard unsupervised keyword
    * extractor, here corpus-level.
    *
    * Node ids are 60-bit md5 token hashes (the engine's vocab-id
    * convention; a collision merges two tokens into one node, odds
    * ~|V|²/2⁶¹, and the reported token is the hash's MIN exemplar —
    * deterministic either way, and the oracle replays the same hashes).
    * Plan: one tokenize pass for counts, one for adjacent pairs (both
    * spread-guarded), vocab-filtered hash join, distinct symmetric edge
    * set, then pageRank (one keyed shuffle of the edges, the rounds on
    * the leg its sizes pick). Returns (token, rank). */
  def textRankKeywords(df: DataFrame, textCol: String, minCount: Long = 5L,
                       iters: Int = 3, damp: Int = 85): DataFrame = {
    // ONE tokenize pass over the corpus: per-doc token arrays are
    // persisted once, and BOTH derivations (vocab counts, adjacent
    // pairs) read the cached arrays — r18 ran the full normalize+
    // tokenize pipeline twice (once for counts, once for 2-shingles),
    // and the corpus scan, not the tiny vocab graph, is this
    // operator's real wall
    val base = graft.ops.Layout.spreadScan(df)
      .select(TextDedup.tokens(col(textCol)).as("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val toks = base
      .select(explode_outer(col("__w")).as("w"))
      .filter(col("w").isNotNull && length(col("w")) > 0)
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("w"), TextDedup.h60(col("w")).as("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // adjacent pairs straight off the token array (same (w1, w2) set
    // the 2-shingle split produced); explode_OUTER + a null filter on
    // the GENERATED column so InferFiltersFromGenerate can't sink a
    // duplicate transform() below the generate (the q279 lesson)
    val bi = base
      .select(explode_outer(when(size(col("__w")) >= 2, expr(
        "transform(slice(__w, 1, size(__w) - 1), (x, i) -> " +
          "named_struct('w1', x, 'w2', element_at(__w, i + 2)))")))
        .as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .join(vocab.select(col("w").as("w1"), col("__id").as("__a")), "w1")
      .join(vocab.select(col("w").as("w2"), col("__id").as("__b")), "w2")
      .select(col("__a"), col("__b")).distinct()
    // pageRank reads its input through one shuffle and returns an
    // eagerly-materialized frame, so the edge frame needs no cache and
    // the caches it reads from can be released as soon as it returns.
    // The vocab co-occurrence graph is bounded by the (minCount-filtered)
    // vocabulary — thousands of edges, not corpus-sized — so it fits the
    // driver limit and pageRank folds it in-core, with no per-round jobs.
    val edges = bi.select(col("__a").as("src"), col("__b").as("dst"))
      .unionByName(bi.select(col("__b").as("src"), col("__a").as("dst")))
      .distinct()
    val ranks = graft.ops.Graph.pageRank(edges, "src", "dst",
      iters = iters, damp = damp, dedupEdges = false)
    val names = vocab.groupBy(col("__id")).agg(min(col("w")).as("token"))
    val out = ranks.join(names, ranks("id") === names("__id"))
      .select(col("token"), col("r").as("rank"))
      .localCheckpoint(true)
    vocab.unpersist()
    base.unpersist()
    out
  }

  /** YULE'S K lexical-richness characteristic per group (per language /
    * domain) — the classic repetitiveness constant of a corpus:
    * K = 10⁴·(Σ_types c² − N)/N² where c is each type's token count and
    * N the total token count. Unlike TTR it is (asymptotically) sample-
    * size invariant, which is what makes it a usable template-vs-prose
    * quality signal across differently-sized corpus slices (high K =
    * few types dominate = boilerplate; low K = rich vocabulary).
    *
    * Exactness: Σc² and N are exact BIGINT sums over the per-(group,
    * type) count frame (same 60-bit token hashing as
    * [[vocabularyStats]]); the single K expression is pinned IEEE over
    * those integers. Scale shape: one token explode + two keyed
    * aggregations, all map-side combinable — no bounded frame anywhere.
    * Returns (group, n_tokens, v_types, sum_c2, yule_k). */
  /** JENSEN–SHANNON DIVERGENCE between every pair of source domains'
    * unigram token distributions — the symmetric, bounded (≤ ln 2)
    * "how different are these corpus slices" readout that drives
    * domain-mixing decisions (cf. [[graft.llm.DomainMix]]): JS(P,Q) =
    * ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)). Each directed half is
    * computed over ITS OWN support (a zero-count opposite side is the
    * p·ln 2 limit, handled by coalesce — no full-outer vocab union
    * frame needed), so the whole thing is: one token-count frame,
    * a broadcast-sized source-pair expansion, one hash lookup join.
    *
    * Exactness: counts/totals exact BIGINTs, each ln term pinned IEEE
    * and floor-scaled at 10⁹. Scale shape: O(sources · tokens) work —
    * the source list is the in-plan-guarded small side (≤ 64; a
    * "source" is a domain, not a document) and the token frame is
    * persisted once and released. Returns one row per unordered pair:
    * (source_a, source_b, js_nats, js_norm). */
  def jsDivergence(df: DataFrame, textCol: String, sourceCol: String,
                   maxSources: Long = 64L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = graft.ops.Layout.spreadScan(df)
      .filter(col(sourceCol).isNotNull)
      // spread + outer generate: see [[TextDedup.cdcChunks]]
      .select(col(sourceCol).cast(StringType).as("__s"),
        explode_outer(transform(TextDedup.tokens(col(textCol)),
          t => TextDedup.h60(t))).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col("__s"), col("__h")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = tok.groupBy(col("__s")).agg(sum(col("__c")).as("__tot"))
      // in-plan source-cardinality bound: the pair expansion below is
      // O(sources²) and each source multiplies the token frame once
      .withColumn("__tot", when(
        count(lit(1)).over(Window.partitionBy()) <= maxSources,
        col("__tot")).otherwise(raise_error(concat(
          lit("jsDivergence: "),
          count(lit(1)).over(Window.partitionBy()).cast(StringType),
          lit(s" sources > the documented bound of $maxSources — " +
            "group finer slices into domains first")))).cast(LongType))
    val srcs = tot.select(col("__s").as("__s2"), col("__tot").as("__tot2"))
    def d(c: Column): Column = c.cast(DoubleType)
    // directed half A(s1, s2) = Σ_{h ∈ s1's support} p·ln(2p/(p+q)):
    // expand s1's token frame by every other source, look up that
    // source's count for the hash (left join — absent = the q→0 limit)
    val halfAgg = {
      val perToken = tok.join(tot, "__s")
        .join(srcs, col("__s") =!= col("__s2"))
        .join(tok.select(col("__s").as("__s2"), col("__h"),
          col("__c").as("__c2")), Seq("__s2", "__h"), "left")
      val p = d(col("__c")) / d(col("__tot"))
      val q = d(coalesce(col("__c2"), lit(0L))) / d(col("__tot2"))
      perToken.groupBy(col("__s").as("__a"), col("__s2").as("__b"))
        .agg(graft.ops.Reductions.isum(
          p * log(lit(2.0) * p / (p + q)), 9).as("__half"))
    }
    val out = halfAgg.as("x")
      .join(halfAgg.select(col("__a").as("__b2"), col("__b").as("__a2"),
        col("__half").as("__half2")),
        col("__a") === col("__a2") && col("__b") === col("__b2"))
      .filter(col("__a") < col("__b"))
      .select(col("__a").as("source_a"), col("__b").as("source_b"),
        (lit(0.5) * col("__half") + lit(0.5) * col("__half2"))
          .as("js_nats"))
      .withColumn("js_norm", col("js_nats") / lit(math.log(2.0)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    tok.unpersist()
    out
  }

  /** UNICODE SCRIPT PROFILE per document — the char-class complement of
    * the stopword-based [[langId]]: counts of Latin letters, digits,
    * CJK (BMP unified ideographs), Cyrillic, whitespace, and other
    * codepoints, plus the dominant-script label (pinned precedence
    * latin ≥ cjk ≥ cyrillic on ties; 'none' when no script chars). The
    * cheap first-pass router for multilingual corpora — catches
    * mixed-script spam, mojibake, and wrong-language docs that n-gram
    * language ID (trained on well-formed text) mislabels.
    *
    * Pure per-row column expressions (codegen'd regexp counts over
    * explicit codepoint ranges — \\x{...} classes, portable between
    * Java regex and RE2 where named script classes are not); zero
    * shuffle. Returns one row per doc
    * (id, n_chars, latin, digit, cjk, cyrillic, space, other,
    * script). */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column =
      length(t) - length(regexp_replace(t, pattern, ""))
    val latin = cnt("[A-Za-z]")
    val digit = cnt("[0-9]")
    val cjk = cnt("[\\x{4e00}-\\x{9fff}]")
    val cyr = cnt("[\\x{0400}-\\x{04ff}]")
    val space = cnt("[ \\t\\n\\r]")
    df.filter(col(idCol).isNotNull && t.isNotNull)
      .select(col(idCol).as("id"), length(t).as("n_chars"),
        latin.as("latin"), digit.as("digit"), cjk.as("cjk"),
        cyr.as("cyrillic"), space.as("space"),
        (length(t) - latin - digit - cjk - cyr - space).as("other"),
        when(latin >= cjk && latin >= cyr && latin > 0, "latin")
          .when(cjk >= cyr && cjk > 0, "cjk")
          .when(cyr > 0, "cyrillic")
          .otherwise("none").as("script"))
  }

  def yuleK(df: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val typeCounts = graft.ops.Layout.spreadScan(df)
      .filter(col(groupCol).isNotNull)
      // spread + outer generate: see [[TextDedup.cdcChunks]]
      .select(col(groupCol).as("group"),
        explode_outer(transform(TextDedup.tokens(col(textCol)),
          t => TextDedup.h60(t))).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col("group"), col("__h")).agg(count(lit(1)).as("__c"))
    typeCounts.groupBy(col("group"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(col("__c") * col("__c")).as("sum_c2"))
      .select(col("group"), col("n_tokens"), col("v_types"), col("sum_c2"),
        when(col("n_tokens") > 0L,
          lit(1e4) * (col("sum_c2") - col("n_tokens")).cast(DoubleType) /
            (col("n_tokens").cast(DoubleType) *
              col("n_tokens").cast(DoubleType))).as("yule_k"))
  }
}
