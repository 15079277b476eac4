package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exprs._

/** Text-analysis operators for corpus curation: token counting, quality
  * scoring, language id, fingerprinting. Everything except the custom
  * expressions is built-in-function composition, so the whole stage stays
  * in codegen and runs map-side (zero shuffle at any scale).
  */
object TextAnalysis {

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "in", "is", "and", "or", "for", "on", "with")

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** Tokens of `colName`, accepting either representation: an ARRAY<STRING>
    * column (a PRE-TOKENIZED corpus — the tokenize-once-persist pattern a
    * 100 TB pipeline runs, where the regex pass over raw text happens once
    * and every downstream statistic reads the materialized token arrays) is
    * used as-is; a STRING column is lowercase-whitespace-tokenized in place
    * ([[Dedup.tokens]]). Type dispatch keeps every operator signature
    * unchanged while letting the query layer feed one shared tokenized
    * relation to all corpus statistics (`Extensions.tokDocs`). */
  def toksOf(df: DataFrame, colName: String): Column =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => col(colName)
      case _ => Dedup.tokens(col(colName))
    }

  /** doc_id + token counts (whitespace and BPE-ish word-regex runs). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(wsTokens(col(textCol))).as("n_ws_tokens"),
      size(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("n_word_tokens"),
      length(col(textCol)).as("n_chars"))

  /** The combined quality score as a standalone column expression —
    * `stopword_ratio * 2 + (1 − punct_ratio)` — shared by [[qualityScores]]
    * and the per-source quantile gate (Curation.qualityQuantileGate), so the
    * gate ranks by exactly the score x03's oracle pins. Pure per-row
    * arithmetic on exact integer counts: bit-deterministic cross-engine. */
  def qualityScoreCol(textCol: String): Column = {
    val txt = col(textCol)
    val nChars = length(txt).cast("double")
    val nPunct = (length(txt) - length(regexp_replace(txt, "[.,;:!?'\"()-]", ""))).cast("double")
    val words = split(lower(txt), "\\s+")
    val nWords = size(words).cast("double")
    val nStop = size(filter(words, w => w.isin(Stopwords.map(x => x: Any): _*))).cast("double")
    val punctRatio = nPunct / nullif(nChars, lit(0.0))
    val stopRatio = nStop / nullif(nWords, lit(0.0))
    stopRatio * lit(2.0) + (lit(1.0) - punctRatio)
  }

  /** Heuristic quality features + a combined score:
    * length, punctuation ratio, stopword ratio, mean word length.
    * The score formula is arbitrary-but-documented; what matters is each
    * feature is a pure per-row expression (codegen, no shuffle). */
  def qualityScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val nChars = length(txt).cast("double")
    val nPunct = (length(txt) - length(regexp_replace(txt, "[.,;:!?'\"()-]", ""))).cast("double")
    val words = split(lower(txt), "\\s+")
    val nWords = size(words).cast("double")
    val nStop = size(filter(words, w => w.isin(Stopwords.map(x => x: Any): _*))).cast("double")
    val punctRatio = nPunct / nullif(nChars, lit(0.0))
    val stopRatio = nStop / nullif(nWords, lit(0.0))
    val meanWordLen = (nChars - (nWords - lit(1.0))) / nullif(nWords, lit(0.0))
    // widen a single-split input before the regex-heavy feature projection
    // (guide §2.5) — no-op on well-partitioned or exchange-bearing inputs
    Par.widen(docs.select(col(idCol), col(textCol))).select(
      col(idCol),
      nChars.as("n_chars"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"),
      meanWordLen.as("mean_word_len"),
      qualityScoreCol(textCol).as("quality_score"))
  }

  /** Language id over the closed de/en/es/fr/zh set (custom expression,
    * char-n-gram marker heuristic), with agreement flag against a labeled
    * column when present. */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), lang_id(col(textCol)).as("lang_pred"))

  /** Winnowing fingerprints (array<bigint>) + order-sensitive whole-doc hash. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      winnow_fingerprint(col(textCol), 8, 16).as("fingerprint"),
      xxhash64(col(textCol)).as("content_hash"))

  // ------------------------------------------------------------- PII scrub
  // Patterns restricted to syntax with identical semantics in Java regex
  // (Spark) and RE2 (the DuckDB oracle): char classes, bounded repetition,
  // \d, \b — no backrefs or lookaround.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+\\d{1,3}-\\d{3}-\\d{4}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, intl-format phone numbers, and IPv4 addresses — the
    * standard pre-training scrub pass. Counts are taken on the ORIGINAL
    * text (replacement order cannot hide a match), and the whole thing is
    * three codegen'd regexp passes per row: map-side, zero shuffle. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(txt, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")
    docs.select(
      col(idCol),
      scrubbed.as("scrubbed"),
      (regexp_count(txt, lit(EmailRe)) + regexp_count(txt, lit(PhoneRe)) +
        regexp_count(txt, lit(Ipv4Re))).as("n_redactions"))
  }

  // ---------------------------------------------- repetition quality signals
  /** Gopher-style repetition signals: the fraction of tokens taken by the
    * single most frequent token, and the fraction of duplicated 2-grams.
    * Heavily repetitive documents (boilerplate, keyword stuffing, decode
    * loops) light up both.
    *
    * Scale shape: ONE codegen'd pass per row (the RepetitionStats kernel —
    * the token array is already in memory, so counting token multiplicity
    * and distinct 2-grams there beats the relational spelling's explode +
    * two-level aggregation + join and its three shuffles). Zero shuffles at
    * any corpus size; the relational spelling survives as the DuckDB oracle
    * (x24), which cross-checks this kernel row-for-row. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = repetition_stats(Dedup.tokens(col(textCol)), 2)
    docs.select(col(idCol).as("doc_id"), st.as("st"))
      .select(
        col("doc_id"),
        col("st").getItem(0).cast("int").as("n_tokens"),
        (col("st").getItem(2).cast("double") / col("st").getItem(0).cast("double"))
          .as("top_word_frac"),
        when(col("st").getItem(0) >= 2,
          lit(1.0) - col("st").getItem(1).cast("double") /
            (col("st").getItem(0) - 1).cast("double"))
          .otherwise(lit(0.0)).as("dup_2gram_frac"))
  }

  // ------------------------------------------------- corpus n-gram statistics
  /** Top-k most frequent token bigrams per group (per language, per source —
    * the corpus-composition statistic behind boilerplate discovery and
    * domain profiling). Ties break on the bigram string, so the result is
    * fully deterministic.
    *
    * Scale shape — count on hashes, reconstruct only winners: the frequency
    * aggregate runs over POSITIONAL 64-bit bigram hashes, so the one
    * corpus-wide shuffle carries (group, 8-byte key, count) and never a
    * bigram string. Per-group top-k over the hash counts runs TWO-LEVEL —
    * a per-(group, hash-bucket) window prunes to k survivors per bucket
    * (many small parallel sorts), then a final window ranks
    * |groups|·buckets·k rows; a single per-group window would sort every
    * distinct bigram in |groups| giant single-threaded partitions. Because
    * ties at the k-th COUNT can only be broken by the (not-yet-known)
    * bigram string, the hash phase keeps every hash with count ≥ the k-th
    * largest count τ — τ is a function of the count multiset alone, so no
    * true winner is lost. A second scan then rebuilds strings for ONLY the
    * candidate hashes (broadcast semi-join BEFORE the concat, so losing
    * bigrams never materialize a string), and the final exact
    * (n DESC, ngram ASC) window ranks the handful of survivors. */
  def topNgrams(docs: DataFrame, textCol: String, groupCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = toksOf(docs, textCol)
    val wide = Par.widen(docs, bytesPerTask = 1)
    val counts = wide
      .select(col(groupCol), explode(ngram_hashes(toks, 2)).as("__h"))
      .groupBy(col(groupCol), col("__h"))
      .agg(count(lit(1)).as("n"))
    // τ = the k-th largest count per group under (n DESC, __h ASC) — ONE
    // bounded-heap aggregate (top_k: O(k) state per group, map-side
    // partial merge, shuffle ≤ k rows per group per mapper) instead of the
    // earlier two-level window prune, which re-shuffled and SORTED the
    // whole distinct-bigram relation twice. Counts are exact in a double
    // below 2⁵³, so the heap order equals the integer order.
    val tau = counts
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKBuffer.top_k(
        col("n").cast("double"), col("__h"), k).as("__tk"))
      .select(col(groupCol),
        expr("CAST(element_at(__tk, size(__tk)).ord AS BIGINT)").as("__tau"))
    val cand = counts
      .join(broadcast(tau), Seq(groupCol))
      .filter(col("n") >= col("__tau"))
      .select(col(groupCol), col("__h"), col("n"))
    val strings = wide
      .select(col(groupCol), toks.as("__t"))
      .select(col(groupCol), col("__t"),
        posexplode(ngram_hashes(col("__t"), 2)).as(Seq("__p", "__h")))
      .join(broadcast(cand.select(col("__h")).distinct()), Seq("__h"), "left_semi")
      .select(col(groupCol), col("__h"),
        concat(element_at(col("__t"), col("__p") + 1), lit(" "),
          element_at(col("__t"), col("__p") + 2)).as("ngram"))
      .distinct()
    cand.join(strings, Seq(groupCol, "__h"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("n").desc, col("ngram").asc)))
      .filter(col("__rk") <= k)
      .select(col(groupCol), col("ngram"), col("n"))
  }

  /** Per-document salient-term extraction: each doc's top-`k` RARE terms —
    * terms whose corpus document frequency is ≤ `maxDf` — ranked by in-doc
    * term frequency (ties by term string). The keyword/topic signal behind
    * per-doc routing and contamination triage: boilerplate vocabulary has
    * high df and never qualifies, so the surviving terms are what makes the
    * document distinctive.
    *
    * Scale shape: tf is a partial-aggregable (doc, term) count — repeated
    * terms collapse map-side; df is the same over distinct (doc, term) rows
    * the tf aggregate ALREADY produced (one row per pair, so `count(*)` is
    * document frequency — no second corpus scan). The df ≤ maxDf filter
    * runs BEFORE the per-doc window, so the ranked set is only the rare
    * tail, not the whole vocabulary; the window shuffle carries
    * (doc, term, tf, df) for qualifying terms only. All-integer ordering —
    * exactly SQL-expressible (x48's oracle). */
  def salientTerms(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(toksOf(docs, textCol)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"))
  }

  /** Hashed linear text-classifier INFERENCE — the fastText-style quality
    * filter shape (Joulin et al., "Bag of Tricks for Efficient Text
    * Classification", EACL'17; CCNet's quality gate — public knowledge):
    * each document's unigrams + bigrams hash into `numBuckets` feature
    * buckets, each bucket carries a weight from the model table, and the
    * document's score is the mean bucket weight. The weights here are a
    * deterministic function of the bucket index (a stand-in for a trained
    * model's weight vector — training is out of scope, serving is not);
    * swapping in learned weights is a literal-array change.
    *
    * Scale shape: inference is a SINGLE map-side expression — feature
    * hashing, weight lookup, and the sum all fold over the token array
    * per row (`aggregate` higher-order function), so scoring a 100 TB
    * corpus is one scan with ZERO shuffles, and the classifier rides along
    * inside any other projection. Integer sufficient statistics
    * (weight_sum, n_features); the score is one exact int/int division.
    * Cross-engine determinism: the feature hash is the first 8 hex chars
    * of md5(feature) — a primitive every engine shares (the x07 md5
    * spelling) — so the DuckDB oracle rebuilds identical buckets, weights,
    * and sums. */
  def hashedClassifierScore(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 1024): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    def weight(t: Column): Column = {
      val h = conv(substring(md5(t), 1, 8), 16, 10).cast("long")
      val b = pmod(h, lit(numBuckets.toLong))
      pmod(b * lit(2654435761L), lit(1000001L)) - lit(500000L)
    }
    docs
      .withColumn("__toks", toks)
      .withColumn("__bi", when(size(col("__toks")) >= 2,
        transform(sequence(lit(1), size(col("__toks")) - 1),
          i => concat(element_at(col("__toks"), i), lit(" "),
            element_at(col("__toks"), i + 1))))
        .otherwise(array().cast("array<string>")))
      .withColumn("__f", concat(col("__toks"), col("__bi")))
      .select(col(idCol).as("doc_id"),
        size(col("__f")).cast("long").as("n_features"),
        aggregate(col("__f"), lit(0L), (acc, t) => acc + weight(t)).as("weight_sum"))
      .withColumn("score",
        col("weight_sum").cast("double") / col("n_features").cast("double"))
  }

  /** Corpus bigram-LM document scoring — the perplexity-style quality
    * filter: train add-one-smoothed bigram statistics on the corpus itself,
    * then score every document by the average log-probability of its
    * bigrams, `avg_logp = Σ ln((c2+1)/(c1+V)) / m` (c2 = corpus count of
    * the bigram, c1 = corpus count of its leading unigram, V = unigram
    * vocabulary size, m = the doc's bigram instances). Repetitive /
    * templated docs score high; rare or garbled token sequences score low
    * — curation gates on either tail.
    *
    * Output: the exact-integer sufficient statistics (`n_bigrams`,
    * `sum_bigram_c`, `sum_unigram_c`, `vocab` — order-independent sums,
    * cross-engine reproducible, which is what x41's oracle pins) plus the
    * derived `avg_logp` double (ln is correctly-rounded nowhere — its last
    * ulp is engine-specific, so the score rides UNORACLED on top of the
    * oracled integers; the spec reconstructs it from hand counts).
    *
    * Scale shape: counts are two partial-aggregable groupBys keyed on
    * 8-byte xxhash64 values (bigram/unigram strings never shuffle); the
    * doc-instance relation joins the two count tables on those hashes and
    * collapses back to one row per doc. At 100 TB the count tables are
    * billions of rows — these are genuine shuffle joins, hash-keyed and
    * narrow, NOT broadcasts (the standard alternative, top-K-vocab
    * broadcast + OOV bucket, trades exactness for zero shuffles; this is
    * the exact spelling). The vocab scalar joins as a broadcast literal. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      Dedup.tokens(col(textCol)).as("w"))
    // one row per bigram INSTANCE: leading-unigram hash + bigram hash
    val inst = toks.select(col("doc_id"), explode(expr(
      """transform(slice(w, 1, greatest(size(w) - 1, 0)),
        |  (x, i) -> struct(xxhash64(x) AS h1,
        |                   xxhash64(concat(x, ' ', w[i + 1])) AS hb))""".stripMargin)).as("u"))
      .select(col("doc_id"), col("u.h1").as("h1"), col("u.hb").as("hb"))
    val uniInst = toks.select(explode(col("w")).as("tok"))
    val c1 = uniInst.groupBy(xxhash64(col("tok")).as("h1")).agg(count(lit(1)).as("c1"))
    val c2 = inst.groupBy("hb").agg(count(lit(1)).as("c2"))
    val vocab = uniInst.agg(count_distinct(col("tok")).as("vocab"))
    val perDoc = inst
      .join(c2, Seq("hb"))
      .join(c1, Seq("h1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("c2")).as("sum_bigram_c"),
        sum(col("c1")).as("sum_unigram_c"),
        sum(log((col("c2") + lit(1)).cast("double") /
          (col("c1") + col("vocab")).cast("double"))).as("__sum_logp"))
    // vocab is a corpus-wide constant, so every row carries it — including
    // zero-bigram docs the left join misses (perDoc's copy would be NULL
    // there); the broadcast cross-join re-attaches the scalar uniformly.
    toks.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bigram_c"), lit(0L)).as("sum_bigram_c"),
        coalesce(col("sum_unigram_c"), lit(0L)).as("sum_unigram_c"),
        col("vocab"),
        (col("__sum_logp") / col("n_bigrams").cast("double")).as("avg_logp"))
  }

  // ------------------------------------------------------------ novelty
  /** Per-document shingle novelty: the fraction of a doc's DISTINCT k-token
    * shingles whose global FIRST occurrence (minimum doc id over the corpus)
    * is the doc itself. The incremental-crawl value signal: a recrawl or
    * near-copy scores ~0, genuinely new material ~1 — used to rank sources
    * by how much they still add to the corpus.
    *
    * Scale shape: per-doc shingle sets are one map-side projection
    * ([[Dedup.shingleSets]] — 8-byte hashes, never strings); the wide
    * shuffle is (hash, doc) with a map-side-combining `min` aggregate, and
    * the join back to score each doc reuses the same hash partitioning
    * (exchange reuse — one shuffle of the exploded relation, not two).
    * Counts are integers; `novelty_frac` is one exact division. */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3): DataFrame = {
    // widen a single-split input before the shingle projection (guide §2.5)
    val exploded = Dedup.shingleSets(
      Par.widen(docs.select(col(idCol), col(textCol))), idCol, textCol, shingleK)
      .select(col("doc_id"), explode(col("shingles")).as("h"))
    val firstOcc = exploded.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    exploded.join(firstOcc, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double")).as("novelty_frac"))
  }

  // ------------------------------------------------------- char classes
  /** Character-class profile + Simpson concentration: per doc, counts of
    * letters / digits / whitespace / punctuation / other, and the Simpson
    * index Σ(c/n)² of the class distribution (1 = all one class; 1/5 =
    * uniform). The entropy-style gibberish screen WITHOUT a transcendental:
    * Simpson is a rational function of integer counts — Σc² and n² are
    * exact longs, the index is ONE double division, so it hash-matches
    * cross-engine where -Σp·log p (libm-dependent last-ulp) cannot.
    * Pure per-row expression composition: codegen, zero shuffle. */
  def charClassProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    def drop(pattern: String): Column =
      length(txt) - length(regexp_replace(txt, pattern, ""))
    val nLetters = drop("[A-Za-z]")
    val nDigits = drop("[0-9]")
    val nSpaces = drop("\\s")
    val nPunct = drop("[.,;:!?'\"()-]")
    val nChars = length(txt)
    val nOther = nChars - nLetters - nDigits - nSpaces - nPunct
    def sq(c: Column): Column = c.cast("long") * c.cast("long")
    val sumSq = sq(nLetters) + sq(nDigits) + sq(nSpaces) + sq(nPunct) + sq(nOther)
    docs.select(
      col(idCol),
      nChars.as("n_chars"),
      nLetters.as("n_letters"),
      nDigits.as("n_digits"),
      nSpaces.as("n_spaces"),
      nPunct.as("n_punct"),
      nOther.as("n_other"),
      when(nChars === 0, lit(null).cast("double"))
        .otherwise(sumSq.cast("double") / sq(nChars).cast("double"))
        .as("simpson"))
  }

  // ------------------------------------------------------ vocabulary growth
  /** Vocabulary growth curve by corpus decile (Heaps'-law measurement):
    * bucket documents into 10 equal id-ranges in ingestion order; per
    * bucket, how many NEW token types first appear there and the cumulative
    * vocabulary size. The diminishing-returns diagnostic — when new-type
    * counts flatten, more of the same source stops growing coverage.
    *
    * Scale shape: first occurrence is a map-side-combining `min(doc_id)`
    * per distinct token (one shuffle of 8-byte hashes — the token string
    * never shuffles; type counts on 64-bit hashes are exact modulo
    * negligible collisions, same contract as the shingle kernels); the
    * growth curve then aggregates to 10 rows, so the ordered cumulative
    * window is a 10-row driver-trivial step — NOT a global per-doc window,
    * which would single-task at corpus scale. */
  def vocabGrowthBuckets(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10, shingleK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = docs.agg(max(col(idCol))).head.getLong(0)
    // integer floor-div, NOT `/` (double division + cast truncation can
    // misplace exact bucket boundaries): `div` is cross-engine-exact
    val bucketOf = expr(s"(first_doc * $buckets) div ${maxId + 1}")
    def growth(firstOcc: DataFrame, countCol: String): DataFrame =
      firstOcc.groupBy(bucketOf.cast("long").as("bucket"))
        .agg(count(lit(1)).as(countCol))
    val uniFirst = docs
      .select(col(idCol).as("doc_id"), explode(array_distinct(
        split(lower(col(textCol)), "\\s+"))).as("tok"))
      .groupBy(xxhash64(col("tok")).as("h"))
      .agg(min(col("doc_id")).as("first_doc"))
    val shFirst = Dedup.shingleSets(docs, idCol, textCol, shingleK)
      .select(col("doc_id"), explode(col("shingles")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    growth(uniFirst, "new_types")
      .join(growth(shFirst, "new_shingle_types"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("new_shingle_types"), lit(0L)).as("new_shingle_types"))
      .withColumn("cum_vocab", sum(col("new_types")).over(w))
      .withColumn("cum_shingle_vocab", sum(col("new_shingle_types")).over(w))
  }

  // ------------------------------------------------------- collocations
  /** Top-k adjacent-token collocations by LIFT — association mining for
    * tokenizer/vocab design (which word pairs behave as one unit):
    * lift(a,b) = P(ab) / (P(a)·P(b)) = c_ab·N / (c_a·c_b), with N the
    * total token-instance count. All sufficient statistics are integer
    * counts; the lift is ONE double division of exact integer products,
    * so ordering and values are cross-engine deterministic (ties broken
    * by the pair itself). Pairs below `minPairCount` are noise-floored
    * out before the join.
    *
    * Scale shape: bigram and unigram counts both collapse map-side; the
    * two count joins are vocab-sized relations joined to a bigram-vocab-
    * sized relation (AQE broadcasts them when small). 64-bit headroom:
    * c_ab·N and c_a·c_b are each ≤ N², so past N ≈ 3·10⁹ instances the
    * products must move to DECIMAL — at that point switch both engines
    * together, the spelling stays identical. */
  def collocationLift(docs: DataFrame, textCol: String,
      k: Int = 20, minPairCount: Long = 5L): DataFrame = {
    val toks = docs.select(toksOf(docs, textCol).as("w"))
    val bi = toks.select(explode(expr(
      """CASE WHEN size(w) >= 2
        |  THEN transform(sequence(0, size(w) - 2), i -> struct(w[i] AS t1, w[i + 1] AS t2))
        |  ELSE array() END""".stripMargin)).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minPairCount)
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c_uni"))
    val total = uni.agg(sum(col("c_uni")).as("n_instances"))
    bi
      .join(uni.select(col("t").as("t1"), col("c_uni").as("c_t1")), Seq("t1"))
      .join(uni.select(col("t").as("t2"), col("c_uni").as("c_t2")), Seq("t2"))
      .crossJoin(broadcast(total))
      .select(col("t1"), col("t2"), col("c_pair"), col("c_t1"), col("c_t2"),
        ((col("c_pair") * col("n_instances")).cast("double") /
          (col("c_t1") * col("c_t2")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("t1"), col("t2"))
      .limit(k)
  }

  // ------------------------------------------------------- char entropy
  /** Per-document character-distribution Shannon entropy (nats) — the
    * classic gibberish screen: natural text sits in a band (~2.5–4.2 for
    * English), while base64 blobs, key dumps, and repeated-char padding
    * fall far outside it. H = ln(N) − (Σ_c cnt_c·ln cnt_c)/N over exact
    * integer run counts.
    *
    * Scale shape: pure per-row computation — sort the doc's chars, one
    * run-length fold over the sorted array — so the whole operator is
    * map-side with ZERO shuffle at any corpus size.
    *
    * Determinism discipline: the double additions happen in a FOLD over
    * char-ascending runs, so both engines add the identical term sequence
    * (the oracle folds `list(term ORDER BY c)` the same way); consumers
    * that hash-compare should quantize (floor·1e9) like x74's BM25. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sortedChars = s"sort_array(filter(split($textCol, ''), c -> c <> ''))"
    val runFold = expr(
      s"""aggregate(
         |  $sortedChars,
         |  struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run, CAST(0.0 AS DOUBLE) AS acc),
         |  (st, c) -> IF(c = st.prev,
         |    struct(st.prev AS prev, st.run + 1L AS run, st.acc AS acc),
         |    struct(c AS prev, CAST(1 AS BIGINT) AS run,
         |      st.acc + IF(st.run > 0L,
         |        CAST(st.run AS DOUBLE) * ln(CAST(st.run AS DOUBLE)),
         |        CAST(0.0 AS DOUBLE)) AS acc)),
         |  st -> st.acc + IF(st.run > 0L,
         |    CAST(st.run AS DOUBLE) * ln(CAST(st.run AS DOUBLE)),
         |    CAST(0.0 AS DOUBLE)))""".stripMargin)
    docs.select(
      col(idCol),
      size(expr(s"filter(split($textCol, ''), c -> c <> '')")).cast("long").as("n_chars"),
      runFold.as("__s"))
      .select(col(idCol), col("n_chars"),
        when(col("n_chars") > 0L,
          log(col("n_chars").cast("double")) - col("__s") / col("n_chars").cast("double"))
          .as("char_entropy"))
  }

  // --------------------------------------------------------- Zipf slope
  /** Per-group Zipf slope: least-squares fit of ln(freq) against ln(rank)
    * over the top `topR` token ranks. Natural language sits near −1;
    * a source drifting toward 0 (flat = synthetic/templated) or steeply
    * negative (boilerplate-dominated) is a corpus-health red flag.
    * slope = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²).
    *
    * Determinism discipline: each per-rank element is premapped to its
    * (x, y, xy, xx) contribution — products of two doubles are IEEE-exact
    * — and the four sums are folded component-wise in RANK order from a
    * sorted bounded array (≤ topR entries/group), so both engines add
    * identical sequences. The closed-form slope is then a handful of
    * exact IEEE ops. Consumers hash-comparing should quantize (·1e9).
    *
    * Scale shape: token counts collapse map-side on the (grp, token)
    * shuffle; the rank window partitions per group over a vocab-sized
    * relation; the fold array is capped at topR. The corpus itself is
    * scanned once. */
  def zipfSlope(docs: DataFrame, textCol: String, groupCol: String,
      topR: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs
      .select(col(groupCol).as("grp"), explode(toksOf(docs, textCol)).as("t"))
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("cnt"))
    val ranked = freq
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("grp"))
          .orderBy(col("cnt").desc, col("t"))))
      .filter(col("rank") <= topR)
      .select(col("grp"), col("rank"),
        log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("m"),
        sort_array(collect_list(struct(col("rank"), col("x"), col("y")))).as("e"))
      .select(col("grp"), col("m"), expr(
        """aggregate(e,
          |  struct(CAST(0.0 AS DOUBLE) AS sx, CAST(0.0 AS DOUBLE) AS sy,
          |         CAST(0.0 AS DOUBLE) AS sxy, CAST(0.0 AS DOUBLE) AS sxx),
          |  (a, p) -> struct(a.sx + p.x AS sx, a.sy + p.y AS sy,
          |                   a.sxy + p.x * p.y AS sxy, a.sxx + p.x * p.x AS sxx))""".stripMargin)
        .as("s"))
      .select(col("grp").as(groupCol), col("m"),
        // nullif guard: a single-rank group has zero x-variance → NULL fit
        // (ANSI mode would otherwise throw DIVIDE_BY_ZERO)
        ((col("m").cast("double") * col("s.sxy") - col("s.sx") * col("s.sy")) /
          nullif(col("m").cast("double") * col("s.sxx") - col("s.sx") * col("s.sx"),
            lit(0.0)))
          .as("zipf_slope"))
  }

  // ------------------------------------------------------ vocab coverage
  /** Corpus coverage at candidate vocabulary sizes: for each V, the
    * fraction of all token INSTANCES covered by the top-V types by
    * frequency — the OOV-rate curve that sizes a tokenizer's vocabulary
    * (coverage(V) flattens where added types stop paying for themselves).
    *
    * All-integer sufficient statistics: type frequencies, a frequency
    * HISTOGRAM (one row per distinct count value), and an exact
    * distributed prefix sum over that histogram; the OOV rate is one
    * exact division per output row. Within the top-V boundary's count
    * bucket every type ties on cnt, so the covered-instance sum equals
    * the (freq desc, token asc) row_number spelling exactly — no
    * per-type rank is ever materialized.
    *
    * Scale shape (the r8 de-globalization): instance counts collapse
    * map-side to the vocab-sized type relation, which collapses again to
    * the histogram — bounded by DISTINCT COUNT VALUES, ≤ √(2·Σcnt)
    * (≈4.5M rows even at 10¹³ corpus tokens, vs billions of types). The
    * running rank is [[Par.exclusivePrefix]]'s distributed two-pass scan
    * on cnt desc (cnt is unique in the histogram, so the order is total) —
    * no single-partition WindowExec over any unbounded relation. The
    * corpus is scanned once. */
  def vocabCoverage(docs: DataFrame, textCol: String,
      sizes: Seq[Int] = Seq(1000, 2000, 4000, 8000, 16000)): DataFrame = {
    require(sizes.nonEmpty, "at least one vocab size")
    val s = docs.sparkSession
    val hist = docs
      .select(explode(toksOf(docs, textCol)).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("n_types"))
      .withColumn("bucket_tokens", col("cnt") * col("n_types"))
    val cum = Par.exclusivePrefix(hist, col("cnt").desc,
      Seq("n_types" -> "types_above", "bucket_tokens" -> "tokens_above"))
    // totals read the prefix pass's checkpointed histogram, not the corpus
    val totals = cum.agg(sum(col("n_types")).as("total_types"),
      sum(col("bucket_tokens")).as("total_tokens"))
    val vs = s.createDataFrame(
      sizes.distinct.sorted.map(v => Tuple1(v))).toDF("vocab_size")
    // the top-V boundary falls in exactly one histogram bucket; types
    // inside it all share cnt, so any (V − types_above) of them cover
    // the same (V − types_above)·cnt instances
    val boundary = cum.crossJoin(broadcast(vs))
      .filter(col("types_above") < col("vocab_size") &&
        col("vocab_size") <= col("types_above") + col("n_types"))
      .select(col("vocab_size"),
        (col("tokens_above") +
          (col("vocab_size") - col("types_above")) * col("cnt")).as("__cov"))
    vs.join(boundary, Seq("vocab_size"), "left")
      .crossJoin(broadcast(totals))
      .filter(col("total_tokens").isNotNull) // empty corpus → empty result
      .select(col("vocab_size"),
        least(col("vocab_size").cast("long"), col("total_types"))
          .as("n_types_used"),
        coalesce(col("__cov"), col("total_tokens")).as("covered_tokens"),
        col("total_tokens"),
        (lit(1.0) - coalesce(col("__cov"), col("total_tokens")).cast("double") /
          col("total_tokens").cast("double")).as("oov_rate"))
      .orderBy(col("vocab_size"))
  }

  // -------------------------------------------------- sentence segmentation
  /** Positional sentence segmentation: each document split into sentence
    * runs (maximal punctuation-free spans plus their terminator, the
    * lookbehind-free spelling `[^.!?]+[.!?]?` that RE2 and Java regex agree
    * on), with the 1-based match position, token count, and char count per
    * sentence. Whitespace-only runs (e.g. a trailing fragment after the
    * final terminator) are dropped AFTER indexing, so `sent_idx` is stable
    * under their removal — downstream "first k sentences" selections don't
    * shift when a document ends in punctuation plus spaces.
    *
    * Scale shape: pure map-side — one projection, one positional explode,
    * no shuffle; output size is bounded by the corpus token count. The
    * sentence TEXT itself is not returned (stats only): at 100 TB the
    * explode would otherwise re-materialize the whole corpus. */
  def sentenceStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(expr(s"regexp_extract_all($textCol, '[^.!?]+[.!?]?', 0)")))
      .select(col("doc_id"), (col("pos") + 1).as("sent_idx"),
        trim(col("col")).as("__s"))
      .filter(length(col("__s")) > 0)
      .select(col("doc_id"), col("sent_idx"),
        size(split(col("__s"), "\\s+")).as("n_sent_tokens"),
        length(col("__s")).as("n_sent_chars"))

  // ----------------------------------------------- distribution KS test
  /** Pairwise two-sample Kolmogorov–Smirnov distance between groups on an
    * integer-valued column — KS = max_t |F_A(t) − F_B(t)| — the
    * distribution-shift test for "does source A's length profile match
    * source B's?". Complements [[tokenDriftTV]] (token identity) with
    * shape-of-distribution drift.
    *
    * Determinism discipline: ECDF differences are put over the common
    * denominator — max |cum_A·N_B − cum_B·N_A| / (N_A·N_B) — so every
    * compared quantity is an exact INTEGER (max is order-free) and the
    * distance is one double division at the end. Bit-stable cross-engine
    * with no fold ordering needed at all.
    *
    * Scale shape: the fact table collapses map-side to (grp, value)
    * counts — bounded by |groups|·|distinct values|, NOT by row count.
    * Everything after (dense grid, cumulative window per group, pair
    * join on grid points) operates on that bounded relation. */
  def distributionKS(rows: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = rows.groupBy(col(groupCol).as("grp"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val grid = counts.select(col("v")).distinct()
    val grps = counts.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
    val cum = grps.crossJoin(grid)
      .join(counts, Seq("grp", "v"), "left")
      .withColumn("cum", sum(coalesce(col("cnt"), lit(0L)))
        .over(Window.partitionBy(col("grp")).orderBy(col("v"))))
      .select(col("grp"), col("n"), col("v"), col("cum"))
    cum.as("a").join(cum.as("b"),
        col("a.v") === col("b.v") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"),
        max(abs(col("a.cum") * col("b.n") - col("b.cum") * col("a.n"))).as("__num"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        (col("__num").cast("double") / (col("n_a") * col("n_b")).cast("double"))
          .as("ks_distance"))
  }

  // -------------------------------------------------------- corpus drift
  /** Token-distribution drift between the first and second half of the
    * corpus (by id order), per group — total-variation distance
    * TV = ½ Σ_t |c_A(t)/N_A − c_B(t)/N_B|. The monitoring signal for a
    * rolling crawl: a source whose language model shifts between
    * snapshots gets flagged before it poisons the mix.
    *
    * Determinism discipline: the summand is rewritten over a COMMON
    * denominator — Σ|c_A·N_B − c_B·N_A| / (2·N_A·N_B) — so the per-token
    * terms are exact INTEGERS (summed in DECIMAL(38,0), any order), and
    * the distance is one double division at the end. No per-term double
    * addition ever happens, so partitioning/engine never changes a bit.
    * Token identity is a 64-bit hash: counts shuffle on 8-byte keys, the
    * strings never leave the mappers. */
  def tokenDriftTV(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val maxId = docs.agg(max(col(idCol))).head.getLong(0)
    val counts = docs
      .select(col(groupCol).as("grp"),
        expr(s"($idCol * 2) div ${maxId + 1}").as("half"),
        explode(toksOf(docs, textCol)).as("t"))
      .groupBy(col("grp"), xxhash64(col("t")).as("h"))
      .agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c_b"))
    val totals = counts.groupBy(col("grp"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    counts.join(totals, Seq("grp"))
      .groupBy(col("grp"))
      // n_a/n_b are per-group constants: max() re-reads them without a
      // second join back to `totals` (one aggregate, flatter plan)
      .agg(
        sum(abs(col("c_a") * col("n_b") - col("c_b") * col("n_a"))
          .cast("decimal(38,0)")).as("__num"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"),
        (col("__num").cast("double") /
          nullif((lit(2L) * col("n_a") * col("n_b")).cast("double"), lit(0.0)))
          .as("tv_distance"))
  }

  /** The Gopher quality-rule family (Rae et al.'21 §A1.1, bounds adapted to
    * this corpus's 10–99-word documents), per-source pass counts — five
    * rules, all exact integer/boolean arithmetic so the oracle reproduces
    * every verdict:
    *   r1 word count ∈ [20, 100000]; r2 mean word length ∈ [3, 10] (e1
    *   grid); r3 symbol-to-word ratio ≤ 0.1 ('#' + '…' occurrences); r4
    *   ≥ 2 distinct stopwords present; r5 ≥ 80% of words contain a letter.
    * One map-side pass over the scan (HOFs on the token array — no
    * explode), then a partial-aggregable per-source rollup. */
  def gopherRules(docs: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    val base = docs
      .select(col(srcCol).as("source"), col(textCol).as("t"),
        graft.ops.Dedup.tokens(col(textCol)).as("w"))
      .withColumn("wc", size(col("w")).cast("long"))
      .withColumn("sumlen",
        expr("aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + length(x))"))
      .withColumn("n_alpha",
        expr("CAST(size(filter(w, x -> x rlike '[a-z]')) AS BIGINT)"))
      .withColumn("n_stop",
        size(filter(stopArr, s => array_contains(col("w"), s))).cast("long"))
      .withColumn("n_sym",
        (length(col("t")) - length(regexp_replace(col("t"), "#", ""))).cast("long") +
          expr("(length(t) - length(replace(t, '...', ''))) DIV 3"))
      .withColumn("r1", col("wc") >= 20L && col("wc") <= 100000L)
      .withColumn("r2", col("wc") > 0 &&
        expr("(sumlen * 10) DIV greatest(wc, 1)").between(30L, 100L))
      .withColumn("r3", col("n_sym") * 10L <= col("wc"))
      .withColumn("r4", col("n_stop") >= 2L)
      .withColumn("r5", col("n_alpha") * 10L >= col("wc") * 8L)
    base
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r1"), 1L).otherwise(0L)).as("pass_wordcount"),
        sum(when(col("r2"), 1L).otherwise(0L)).as("pass_wordlen"),
        sum(when(col("r3"), 1L).otherwise(0L)).as("pass_symbols"),
        sum(when(col("r4"), 1L).otherwise(0L)).as("pass_stopwords"),
        sum(when(col("r5"), 1L).otherwise(0L)).as("pass_alpha"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4") && col("r5"),
          1L).otherwise(0L)).as("pass_all"))
      .orderBy(col("source"))
  }

  /** DuckDB respell of [[gopherRules]]. */
  def gopherRulesSql(table: String, textCol: String, srcCol: String): String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH b AS (
       |  SELECT $srcCol AS source, $textCol AS t,
       |    string_split_regex(lower($textCol), '\\s+') AS w
       |  FROM $table),
       |m AS (
       |  SELECT source,
       |    CAST(len(w) AS BIGINT) AS wc,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(w, x -> CAST(length(x) AS BIGINT))),
       |      (a, x) -> a + x) AS BIGINT) AS sumlen,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter([$stops], s -> list_contains(w, s))) AS BIGINT) AS n_stop,
       |    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
       |      + (CAST(length(t) - length(replace(t, '...', '')) AS BIGINT) // 3) AS n_sym
       |  FROM b),
       |r AS (
       |  SELECT source,
       |    wc BETWEEN 20 AND 100000 AS r1,
       |    wc > 0 AND ((sumlen * 10) // wc) BETWEEN 30 AND 100 AS r2,
       |    n_sym * 10 <= wc AS r3,
       |    n_stop >= 2 AS r4,
       |    n_alpha * 10 >= wc * 8 AS r5
       |  FROM m)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordcount,
       |  CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordlen,
       |  CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbols,
       |  CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
       |  CAST(sum(CASE WHEN r5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
       |  CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }
}
