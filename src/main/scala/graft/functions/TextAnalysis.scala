package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * counting, fingerprinting). All pure Column expressions (codegen'd, no
  * UDFs) so they scale linearly with document count: one parquet scan,
  * no shuffle, no driver involvement.
  */
object TextAnalysis {

  /** Whitespace tokens of the raw text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace-collapsed, lower-cased normal form. */
  def normalized(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  private val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private val StopEn = Seq("the", "a", "is", "and", "of")
  private val StopDe = Seq("der", "die", "das", "und", "ist")
  private val StopFr = Seq("le", "la", "et", "est", "les")
  private val StopEs = Seq("el", "las", "y", "es", "los")

  private def stopHits(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, x => x.isin(stop.map(lit): _*)))

  /** Floor division for NON-NEGATIVE integer columns as a pure Column
    * (`expr("a div b")` needs named columns): the numerator is made
    * exactly divisible first, so the double quotient is integral and
    * exact below 2⁵³. Matches SQL `div` / DuckDB `//` on the
    * non-negative operands every basis-point formula uses. */
  private[graft] def intDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** [[taQuality]]'s composite score — shared with [[taCurate]] so the
    * curation floor can never drift from the standalone operator. */
  private[graft] def qualityScoreBp(nStop: Column, nToks: Column): Column =
    intDiv(lit(3000L) * nStop, nToks) +
      lit(35L) * least(nToks, lit(200)).cast("long")

  /** [[taSplit]]'s deterministic bucket and name — shared with
    * [[taCurate]]. */
  private[graft] def splitBucket(id: Column): Column =
    conv(substring(md5(concat(lit("split:"), id)), 1, 8), 16, 10)
      .cast("long") % 100

  private[graft] def splitName(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")

  /** Non-overlapping regex match count — shared by [[taScrub]] and
    * [[taCurate]]'s PII scan. */
  private[graft] def regexHits(c: Column, re: String): Column =
    size(split(c, re, -1)) - 1

  private[graft] def enStopHits(toks: Column): Column = stopHits(toks, StopEn)

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation marks). */
  def taTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: length, punctuation/stopword ratios, mean word
    * length, and a bounded composite score.
    *
    * All ratios are integer basis points (`(10000·x) div y`): float
    * rounding of ratios like 9/80·0.3 lands exactly on a decimal .5
    * where Spark's HALF_UP and DuckDB's rounding disagree — integer
    * division is engine-independent. */
  def taQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).as("len"), toks.as("toks"))
      .select(col("doc_id"), col("len"),
        (col("len") - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .as("n_punct"),
        stopHits(col("toks"), StopEn).as("n_stop"),
        size(col("toks")).as("n_toks"),
        aggregate(col("toks"), lit(0L), (a, x) => a + length(x)).as("n_tok_chars"))
      .select(col("doc_id"), col("len"),
        // empty text: len = 0 → define punct_bp as 0 rather than a
        // remainder-by-zero (ANSI) — mirrored in the oracle; the token
        // divisors below are safe (split yields ≥ 1 token, even "")
        when(col("len") === 0, 0L)
          .otherwise(intDiv(lit(10000L) * col("n_punct"), col("len")))
          .as("punct_bp"),
        intDiv(lit(10000L) * col("n_stop"), col("n_toks")).as("stopword_bp"),
        intDiv(lit(100L) * col("n_tok_chars"), col("n_toks"))
          .as("avg_word_centichars"),
        qualityScoreBp(col("n_stop"), col("n_toks")).as("quality_score_bp"))
      .orderBy("doc_id")
  }

  /** Language identification: stopword-hit scoring against per-language
    * lists, deterministic priority tiebreak en > de > fr > es. */
  def taLangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"), toks.as("toks"))
      .select(col("doc_id"), col("labeled_lang"),
        stopHits(col("toks"), StopEn).as("s_en"),
        stopHits(col("toks"), StopDe).as("s_de"),
        stopHits(col("toks"), StopFr).as("s_fr"),
        stopHits(col("toks"), StopEs).as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: MD5 of the normal form plus the custom
    * codegen'd polynomial rolling hash (graft.functions.RollingHash). */
  def taFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = normalized(col("text"))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(norm.cast("binary")).as("fp_md5"),
        RollingHash.rolling_hash(norm).as("fp_roll"))
      .orderBy("doc_id")
  }

  /** BM25 relevance of every document against a fixed query term set —
    * the retrieval-scoring primitive of a training-data pipeline
    * (quality filtering by query relevance, near-dup triage).
    *
    * Shape: explode lower-cased tokens → per-(doc, term) counts (one
    * shuffle with map-side combine) → document frequencies for the
    * query terms only (tiny, broadcast back) → BM25 sum per doc.
    * Scores are integer micro-units (round(1e6·x) as BIGINT) so the
    * DuckDB oracle compares exactly despite float logs. */
  def taBm25(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("spark", "query", "data")
    val k1 = 1.2
    val b = 0.75
    // Per-doc term frequencies of the FIXED query-term set as array
    // expressions on the scan — the token stream never exists as rows
    // (round 21): tf_qt = |filter(toks, = qt)|, dl = |toks|. The
    // previous shape exploded the corpus into a token stream and
    // hash-aggregated it back per doc TWICE — once for the tf branch,
    // once for the aux constants, whose differing column pruning
    // defeats exchange reuse — so two full explode+shuffle passes paid
    // for what a projection computes in zero. A null text has no
    // tokens (NULL `dl`, no tf above 0): it counts toward N, as in the
    // oracle's count(*) over documents, but not toward avgdl, and it
    // scores nothing; empty text still tokenizes to [""]. The
    // per-row form coincides with the old per-doc_id grouping under
    // the corpus key contract (doc_id unique and non-null — verified
    // at every driver SF, and the same assumption every per-doc ta_*
    // projection already rides).
    val toks = tokens(lower(col("text")))
    def tfOf(qt: String): Column = size(filter(toks, _ === lit(qt))).cast("long")
    val perDoc = t(spark, dir, "documents")
      .select(col("doc_id") +:
        when(col("text").isNotNull, size(toks)).cast("long").as("dl") +:
        queryTerms.map(qt => tfOf(qt).as(s"tf_$qt")): _*)
    // The 1-row corpus-constants aggregate (sumdl, ntexts, ndocs,
    // per-term df) now rides a SCAN-LEVEL map-side aggregate of the same
    // projection — one extra parquet read but no explode and no
    // doc-keyed shuffle (its exchange carries exactly one row of
    // partial aggregates).
    val aux = perDoc.agg(sum(col("dl")).as("sumdl"),
      (count(col("dl")).as("ntexts") +: count(lit(1)).as("ndocs") +:
        queryTerms.map(qt =>
          sum(when(col(s"tf_$qt") > 0, 1L).otherwise(0L)).as(s"df_$qt"))): _*)
    val avgdl = col("sumdl").cast("double") / col("ntexts")
    def idfOf(qt: String): Column =
      log((col("ndocs").cast("double") - col(s"df_$qt") + lit(0.5)) /
        (col(s"df_$qt") + lit(0.5)) + lit(1.0))
    // Per-term BM25 contribution, summed in the fixed queryTerms order —
    // the same float-addition order the previous stack+sum produced
    // (stack emitted the terms in list order into one partial-agg task,
    // and x + 0.0 is bit-exact for the finite positive scores), so
    // bm25_micro is bit-identical to the exploded shape's.
    def scoreOf(qt: String): Column =
      when(col(s"tf_$qt") > 0,
        idfOf(qt) * (col(s"tf_$qt") * lit(k1 + 1)) /
          (col(s"tf_$qt") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    val total = queryTerms.map(scoreOf).reduce(_ + _)
    val nMatched = queryTerms.map(qt =>
      when(col(s"tf_$qt") > 0, 1L).otherwise(0L)).reduce(_ + _)
    perDoc.crossJoin(broadcast(aux))
      .where(queryTerms.map(qt => col(s"tf_$qt") > 0).reduce(_ || _))
      .select(col("doc_id"),
        round(total * 1e6).cast("long").as("bm25_micro"),
        nMatched.as("n_matched_terms"))
      .orderBy("doc_id")
  }

  /** Sequence packing: assign documents to fixed token-budget bins
    * (512 tokens) in doc_id order WITHIN each (source, sub-shard) —
    * the training-batch packing step of an LLM data pipeline.
    *
    * Packing is inherently sequential per bin stream, so the unit of
    * parallelism must not be the source alone: a corpus with 4 sources
    * would pack in exactly 4 tasks no matter the cluster size. Each
    * document is assigned a deterministic sub-shard (md5-bucket of
    * doc_id mod `nShards` — a pure function of the row, stable under
    * corpus growth and engine-independent, so the DuckDB oracle
    * computes the identical assignment), and the cumulative window
    * partitions by (source, shard): n_sources × nShards parallel
    * streams. At 100 TB, raise nShards toward the cluster's task
    * budget; bins are identified by (source, shard, bin). */
  def taPack(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    val cap = 512
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(concat(lit("pack:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long") % nShards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("cum", sum("n_toks").over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("n_toks"),
        floor((col("cum") - col("n_toks")) / cap).as("bin"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test assignment (90/5/5) by hashed
    * bucketing — the standard leakage-safe split of a training corpus:
    * membership is a pure function of doc_id (stable under corpus
    * growth and re-runs, no global coordination), and the md5-prefix
    * bucket is engine-independent so the DuckDB oracle computes the
    * identical assignment. One narrow projection, no shuffle. */
  def taSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split", splitName(col("bucket")))
      .orderBy("doc_id")

  /** Deterministic global shuffle: a pseudo-random but reproducible
    * permutation (ORDER BY keyed hash) — the pre-training epoch shuffle.
    * The contiguous position comes from zipWithIndex over a
    * range-partitioned sort, not a single-partition window, so the
    * shuffle is one range exchange at any corpus size. */
  def taShuffle(spark: SparkSession, dir: String): DataFrame = {
    val keyed = t(spark, dir, "documents")
      .select(col("doc_id"), md5(concat(lit("shuffle:"), col("doc_id"))).as("k"))
      .repartitionByRange(col("k"), col("doc_id"))
      .sortWithinPartitions("k", "doc_id")
    val indexed = keyed.select("doc_id").rdd.zipWithIndex.map {
      case (r, i) => org.apache.spark.sql.Row(i + 1, r.getLong(0))
    }
    spark.createDataFrame(indexed, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType))))
      .orderBy("pos")
  }

  /** Mixture sampling: deterministic per-source downsampling to a
    * target mixture (the data-mixing step of pretraining corpus
    * assembly — e.g. keep all of a high-quality source, 40% of a noisy
    * one). Membership = hashed bucket < source weight, so the sample is
    * reproducible, leakage-free (independent of the split hash domain)
    * and needs no global coordination — one scan, no shuffle, any
    * corpus size. Unlisted sources keep the default weight. */
  def taMixture(spark: SparkSession, dir: String): DataFrame = {
    val weights = Map("src0" -> 100, "src1" -> 40, "src2" -> 40, "src3" -> 10)
    val defaultPct = 75
    val pct = weights.foldLeft(lit(defaultPct)) { case (acc, (src, w)) =>
      when(col("source") === src, lit(w)).otherwise(acc)
    }
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(concat(lit("mix:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"), pct.as("keep_pct"))
      .where(col("bucket") < col("keep_pct"))
      .select("doc_id", "source", "keep_pct")
      .orderBy("doc_id")
  }

  /** Within-document repetition (the Gopher-family quality filter):
    * fraction of duplicated 3-grams, as exact integer basis points.
    * total = n_tokens − 2 positions, distinct = |shingle set| — so the
    * score is a pure projection over the existing shingle expression,
    * one scan, no shuffle, no floats beyond one IEEE division. */
  def taRepetition(spark: SparkSession, dir: String): DataFrame =
    // null text excluded in BOTH engines (the dd_span convention): a
    // null-text doc has no defined repetition, and the two engines'
    // natural null arithmetic diverges (greatest-ignores-null vs
    // zero-length generate_series — caught on the degenerate corpus)
    t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))) - 2, lit(1)).cast("long").as("total_3grams"),
        size(Dedup.shingles(col("text"))).cast("long").as("distinct_3grams"))
      .withColumn("dup_bp", floor(
        (col("total_3grams") - col("distinct_3grams")) * 10000
          / col("total_3grams")).cast("long"))
      .orderBy("doc_id")

  /** Corpus vocabulary statistics — the tokenizer-training prep pass:
    * term frequency, document frequency, rank, and cumulative coverage
    * (basis points of all token instances covered by the top-`k` terms
    * so far). One explode + one hash aggregate over the corpus; the
    * top-k cut is a TakeOrdered (no global sort of the vocabulary), and
    * the rank/cumulative window runs over ≤ k rows — bounded by
    * construction, not by the data. */
  def taVocab(spark: SparkSession, dir: String, k: Int = 1000): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val stats = toks.groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("ddf"))
    // total_tf = total token INSTANCES = Σ per-doc token counts: a
    // scan-level map-side aggregate (round 21). Deriving it from
    // `stats` re-ran the whole explode + two-level vocabulary
    // aggregate a second time (the branch's column pruning defeats
    // exchange reuse), just to sum tf — the corpus's most expensive
    // pass, duplicated for one long. Null texts contribute 0 (the
    // explode emitted no rows for them; size(null) is -1, hence the
    // guard); empty text tokenizes to [""] — 1 instance — in both.
    val total = t(spark, dir, "documents")
      .select(when(col("text").isNotNull, size(tokens(col("text"))))
        .otherwise(0).cast("long").as("n"))
      .agg(sum(col("n")).as("total_tf"))
    val top = stats.orderBy(col("tf").desc, col("tok")).limit(k)
    val w = Window.orderBy(col("tf").desc, col("tok"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_bp", expr("(10000 * sum(tf) over " +
        "(order by tf desc, tok rows unbounded preceding)) div total_tf"))
      .select("rank", "tok", "tf", "ddf", "cum_bp")
      .orderBy("rank")
  }

  /** Hashing-trick linear quality classifier — the fastText-style
    * score-and-threshold filter of a training-data pipeline, with
    * deterministic public weights: each token hashes into one of 1024
    * feature buckets (first 8 md5 hex chars mod 1024) and each bucket
    * carries an integer weight in [-1000, 1000] derived from
    * md5("w:" || bucket). The score is a pure integer sum, so the
    * DuckDB comparison is exact (float sums would differ by
    * accumulation order); `quality_bp` rescales the mean weight to
    * [0, 10000] with all-positive integer division (Spark's `div`
    * truncates toward zero while DuckDB's `//` floors — they only
    * agree on non-negative operands). One scan + one hash aggregate,
    * fully codegen'd, no shuffle beyond the per-doc combine. */
  def taQualityLr(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val bucket = conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long") % 1024
    val weight = conv(substring(md5(concat(lit("w:"), bucket)), 1, 8), 16, 10)
      .cast("long") % 2001 - 1000
    toks.select(col("doc_id"), weight.as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("w_sum"))
      .withColumn("quality_bp",
        expr("(10000 * (w_sum + 1000 * n_toks)) div (2000 * n_toks)"))
      .withColumn("label", when(col("w_sum") > 0, "keep").otherwise("drop"))
      .orderBy("doc_id")
  }

  /** Corpus report — the per-(source, lang) "corpus card" every
    * training-data pipeline publishes: document and token counts, char
    * totals, and the shard's share of the corpus in basis points. One
    * scan, one small aggregate; the share join broadcasts a single
    * total row. */
  def taReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        length(col("text")).cast("long").as("n_chars"))
    val bySrc = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_toks"),
        sum(col("n_chars")).as("total_chars"))
    // corpus_docs = Σ n_docs over the GROUPED rows — a global window
    // over the corpus card itself (round 21): bounded by the
    // (source, lang) group count by construction, never corpus-sized,
    // so the single-partition window is free — while the previous
    // bySrc.agg branch re-scanned and re-aggregated the whole corpus
    // (its pruning defeats exchange reuse) to count what the card
    // already holds.
    bySrc
      .withColumn("corpus_docs",
        sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("doc_share_bp", expr("(10000 * n_docs) div corpus_docs"))
      .select("source", "lang", "n_docs", "total_toks", "total_chars",
        "doc_share_bp")
      .orderBy("source", "lang")
  }

  /** End-to-end corpus curation — the composed preprocessing flow a
    * training-data pipeline actually ships: PII scan ([[taScrub]]'s
    * counters), exact dedup (sorted-token-set fingerprint, keep the
    * minimum doc_id of each group), quality filter
    * ([[taQuality]]'s score at a 900 bp floor ≈ the corpus' 10th
    * percentile), and the deterministic [[taSplit]] assignment for the
    * survivors. One row per document with its disposition and the
    * evidence behind it — the auditable form regulators and ablation
    * studies both want.
    *
    * Drop precedence: exact_dup > low_quality > pii (first matching
    * reason wins, mirrored exactly in the oracle). Shape: one scan,
    * one fingerprint window (partitioned by fp — group-sized, never
    * corpus-sized), everything else pure projection. */
  def taCurate(spark: SparkSession, dir: String): DataFrame = {
    // every building block is the SHARED helper its standalone operator
    // uses (docFingerprint, qualityScoreBp, regexHits, splitBucket) —
    // the composed flow cannot drift from the operators it composes
    val toks = tokens(col("text"))
    val w = Window.partitionBy("fp")
    t(spark, dir, "documents")
      .select(col("doc_id"), Dedup.docFingerprint(col("text")).as("fp"),
        enStopHits(toks).as("n_stop"), size(toks).as("n_toks"),
        (regexHits(col("text"), EmailRe) + regexHits(col("text"), UrlRe) +
          regexHits(col("text"), DigitRunRe)).as("pii_hits"),
        splitBucket(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("fp"), col("pii_hits"), col("bucket"),
        qualityScoreBp(col("n_stop"), col("n_toks")).as("quality_score_bp"))
      .withColumn("canonical", min("doc_id").over(w))
      .withColumn("disposition",
        when(col("doc_id") =!= col("canonical"), "exact_dup")
          .when(col("quality_score_bp") < 900, "low_quality")
          .when(col("pii_hits") > 0, "pii")
          .otherwise("keep"))
      .withColumn("split",
        when(col("disposition") === "keep", splitName(col("bucket"))))
      .select("doc_id", "disposition", "canonical", "quality_score_bp",
        "pii_hits", "split")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_curate"      -> taCurate _,
    "ta_repetition"  -> taRepetition _,
    "ta_mixture"     -> taMixture _,
    "ta_tokens"      -> taTokens _,
    "ta_quality"     -> taQuality _,
    "ta_quality_lr"  -> taQualityLr _,
    "ta_langid"      -> taLangId _,
    "ta_fingerprint" -> taFingerprint _,
    "ta_bm25"        -> taBm25 _,
    "ta_pack"        -> ((s: SparkSession, d: String) => taPack(s, d)),
    "ta_report"      -> taReport _,
    "ta_scrub"       -> taScrub _,
    "ta_split"       -> taSplit _,
    "ta_shuffle"     -> taShuffle _,
    "ta_vocab"       -> ((s: SparkSession, d: String) => taVocab(s, d)),
    // k=10 < the gate corpus's 31-token vocabulary, so the TakeOrdered
    // cut BINDS under the oracle (the k=1000 row never stresses it)
    "ta_vocab_k10"   -> ((s: SparkSession, d: String) => taVocab(s, d, 10)),
  )

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val DigitRunRe = "[0-9]{6,}"

  /** PII/noise scrubbing: mask emails, URLs and long digit runs, with
    * per-doc counts of each — the cleaning pass every training corpus
    * gets. Pure regexp expressions, one scan, no shuffle. */
  def taScrub(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "documents")
      .select(col("doc_id"),
        regexHits(col("text"), EmailRe).as("n_emails"),
        regexHits(col("text"), UrlRe).as("n_urls"),
        regexHits(col("text"), DigitRunRe).as("n_digit_runs"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          EmailRe, "<EMAIL>"), UrlRe, "<URL>"), DigitRunRe, "<NUM>")
          .as("scrubbed"))
      .orderBy("doc_id")
  }

  private def stopList(s: Seq[String]): String =
    s.map(w => s"'$w'").mkString("(", ",", ")")

  val oracles: Map[String, String] = Map(
    "ta_tokens" ->
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text),'\\s+')) AS n_ws_tokens,
         |  len(regexp_extract_all(text,'$BpePattern')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_quality" ->
      s"""SELECT doc_id, len,
         |  CAST(CASE WHEN len = 0 THEN 0
         |       ELSE (10000 * n_punct) // len END AS BIGINT) AS punct_bp,
         |  CAST((10000 * n_stop) // n_toks AS BIGINT) AS stopword_bp,
         |  CAST((100 * n_tok_chars) // n_toks AS BIGINT) AS avg_word_centichars,
         |  CAST((3000 * n_stop) // n_toks + 35 * least(n_toks, 200) AS BIGINT) AS quality_score_bp
         |FROM (SELECT doc_id, length(text) AS len,
         |        len(text) - len(regexp_replace(text,'[.,!?;:]','','g')) AS n_punct,
         |        len(list_filter(toks, x -> x IN ${stopList(StopEn)})) AS n_stop,
         |        len(toks) AS n_toks,
         |        CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS n_tok_chars
         |      FROM (SELECT doc_id, text,
         |              string_split_regex(trim(text),'\\s+') AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "ta_langid" ->
      s"""SELECT doc_id, labeled_lang, s_en, s_de, s_fr, s_es,
         |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
         |FROM (SELECT doc_id, lang AS labeled_lang,
         |        len(list_filter(toks, x -> x IN ${stopList(StopEn)})) AS s_en,
         |        len(list_filter(toks, x -> x IN ${stopList(StopDe)})) AS s_de,
         |        len(list_filter(toks, x -> x IN ${stopList(StopFr)})) AS s_fr,
         |        len(list_filter(toks, x -> x IN ${stopList(StopEs)})) AS s_es
         |      FROM (SELECT doc_id, lang,
         |              string_split_regex(trim(lower(text)),'\\s+') AS toks
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "ta_scrub" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_emails,
        |  len(string_split_regex(text, 'https?://[^\s]+')) - 1 AS n_urls,
        |  len(string_split_regex(text, '[0-9]{6,}')) - 1 AS n_digit_runs,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_pack" ->
      """SELECT doc_id, source, shard, n_toks,
        |  CAST(floor((cum - n_toks) / 512) AS BIGINT) AS bin
        |FROM (SELECT doc_id, source, shard, n_toks,
        |        sum(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM (SELECT doc_id, source,
        |              CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard,
        |              CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS n_toks
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "ta_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |        unnest(string_split_regex(trim(lower(text)),'\s+')) AS term
        |      FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |const AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
        |                 CAST((SELECT sum(dl) FROM dl) AS DOUBLE) /
        |                   (SELECT count(*) FROM dl) AS avgdl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark','query','data') GROUP BY 1, 2),
        |idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id,
        |  CAST(round(sum(
        |    ln((const.n - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
        |      * (tf.tf * (1.2 + 1))
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / const.avgdl))
        |  ) * 1e6) AS BIGINT) AS bm25_micro,
        |  count(*) AS n_matched_terms
        |FROM tf CROSS JOIN const
        |JOIN idf ON tf.term = idf.term
        |JOIN dl ON tf.doc_id = dl.doc_id
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id, md5(norm) AS fp_md5,
        |  CASE
        |    -- null text: null hash (string_split(NULL) would smuggle a 0)
        |    WHEN norm IS NULL THEN NULL
        |    -- empty text: hash of zero bytes = 0 (string_split('','')
        |    -- yields [''] and unicode('') is -1 — a spurious element)
        |    WHEN norm = '' THEN 0
        |    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(norm,''), ch -> CAST(unicode(ch) AS BIGINT))),
        |      (a, b) -> (a*131 + b) % 1000000007)
        |  END AS fp_roll
        |FROM (SELECT doc_id,
        |        regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "ta_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT)
        |          % 100 AS bucket
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "ta_shuffle" ->
      """SELECT row_number() OVER (
        |    ORDER BY md5('shuffle:' || doc_id), doc_id) AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,
    "ta_repetition" ->
      """SELECT doc_id, total_3grams, distinct_3grams,
        |  CAST(floor((total_3grams - distinct_3grams) * 10000
        |    / total_3grams) AS BIGINT) AS dup_bp
        |FROM (SELECT doc_id,
        |        greatest(len(tk) - 2, 1) AS total_3grams,
        |        len(list_distinct(list_transform(
        |          generate_series(1, greatest(len(tk)-2, 1)),
        |          i -> array_to_string(tk[i:i+2],' ')))) AS distinct_3grams
        |      FROM (SELECT doc_id, string_split_regex(trim(text),'\s+') AS tk
        |            FROM documents WHERE text IS NOT NULL))
        |ORDER BY doc_id""".stripMargin,
    "ta_mixture" ->
      """SELECT doc_id, source, keep_pct FROM (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5('mix:' || doc_id), 1, 8)) AS BIGINT)
        |      % 100 AS bucket,
        |    CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 40
        |                WHEN 'src2' THEN 40 WHEN 'src3' THEN 10
        |                ELSE 75 END AS keep_pct
        |  FROM documents)
        |WHERE bucket < keep_pct ORDER BY doc_id""".stripMargin,
    "ta_curate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split_regex(trim(text),'\s+'))),' ')) AS fp,
        |    (3000 * len(list_filter(string_split_regex(trim(text),'\s+'),
        |       t -> t IN ('the','a','is','and','of')))
        |      // len(string_split_regex(trim(text),'\s+'))) +
        |    35 * least(len(string_split_regex(trim(text),'\s+')), 200)
        |      AS quality_score_bp,
        |    (len(string_split_regex(text,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1) +
        |    (len(string_split_regex(text, 'https?://[^\s]+')) - 1) +
        |    (len(string_split_regex(text, '[0-9]{6,}')) - 1) AS pii_hits,
        |    CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT)
        |      % 100 AS bucket
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id, quality_score_bp, pii_hits, bucket,
        |    min(doc_id) OVER (PARTITION BY fp) AS canonical
        |  FROM base),
        |disp AS (
        |  SELECT doc_id, canonical, quality_score_bp, pii_hits, bucket,
        |    CASE WHEN doc_id <> canonical THEN 'exact_dup'
        |         WHEN quality_score_bp < 900 THEN 'low_quality'
        |         WHEN pii_hits > 0 THEN 'pii'
        |         ELSE 'keep' END AS disposition
        |  FROM lab)
        |SELECT doc_id, disposition, canonical, quality_score_bp, pii_hits,
        |  CASE WHEN disposition = 'keep' THEN
        |    CASE WHEN bucket < 90 THEN 'train'
        |         WHEN bucket < 95 THEN 'val' ELSE 'test' END
        |  END AS split
        |FROM disp ORDER BY doc_id""".stripMargin,
    "ta_vocab" ->
      """WITH tok AS (SELECT doc_id,
        |               unnest(string_split_regex(trim(text),'\s+')) AS tok
        |             FROM documents),
        |stats AS (SELECT tok, count(*) AS tf,
        |            count(DISTINCT doc_id) AS ddf
        |          FROM tok GROUP BY tok),
        |tot AS (SELECT sum(tf) AS total_tf FROM stats),
        |top AS (SELECT * FROM stats ORDER BY tf DESC, tok LIMIT 1000)
        |SELECT row_number() OVER (ORDER BY tf DESC, tok) AS rank,
        |  tok, tf, ddf,
        |  CAST((10000 * sum(tf) OVER (ORDER BY tf DESC, tok
        |     ROWS UNBOUNDED PRECEDING)) // total_tf AS BIGINT) AS cum_bp
        |FROM top, tot ORDER BY rank""".stripMargin,
    "ta_vocab_k10" ->
      """WITH tok AS (SELECT doc_id,
        |               unnest(string_split_regex(trim(text),'\s+')) AS tok
        |             FROM documents),
        |stats AS (SELECT tok, count(*) AS tf,
        |            count(DISTINCT doc_id) AS ddf
        |          FROM tok GROUP BY tok),
        |tot AS (SELECT sum(tf) AS total_tf FROM stats),
        |top AS (SELECT * FROM stats ORDER BY tf DESC, tok LIMIT 10)
        |SELECT row_number() OVER (ORDER BY tf DESC, tok) AS rank,
        |  tok, tf, ddf,
        |  CAST((10000 * sum(tf) OVER (ORDER BY tf DESC, tok
        |     ROWS UNBOUNDED PRECEDING)) // total_tf AS BIGINT) AS cum_bp
        |FROM top, tot ORDER BY rank""".stripMargin,
    "ta_quality_lr" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('w:' ||
        |      (CAST(('0x' || substr(md5(tok),1,8)) AS BIGINT) % 1024)),
        |      1, 8)) AS BIGINT) % 2001 - 1000 AS w
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(text),'\s+')) AS tok
        |        FROM documents))
        |SELECT doc_id, n_toks, w_sum,
        |  CAST((10000 * (w_sum + 1000 * n_toks)) // (2000 * n_toks)
        |    AS BIGINT) AS quality_bp,
        |  CASE WHEN w_sum > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM (SELECT doc_id, count(*) AS n_toks,
        |        CAST(sum(w) AS BIGINT) AS w_sum
        |      FROM w GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,
    "ta_report" ->
      """WITH bysrc AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text),'\s+')))
        |      AS BIGINT) AS total_toks,
        |    CAST(sum(length(text)) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY source, lang),
        |tot AS (SELECT sum(n_docs) AS corpus_docs FROM bysrc)
        |SELECT source, lang, n_docs, total_toks, total_chars,
        |  CAST((10000 * n_docs) // corpus_docs AS BIGINT) AS doc_share_bp
        |FROM bysrc, tot ORDER BY source, lang""".stripMargin,
  )
}
