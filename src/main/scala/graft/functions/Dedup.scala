package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine.
  *
  * Every variant generates candidates through an equi-join on a
  * derived key (fingerprint, shingle, LSH band, SimHash block), so no
  * O(n²) comparison materializes and exact similarity is computed on
  * candidates only. The shingle and band generators share one
  * self-join ([[keySelfJoin]]); the Jaccard paths, batch and streaming,
  * share one verifier ([[exactVerify]]). The exception is
  * [[ddEmbedCosine]]'s exact route, a broadcast nested loop up to 2¹⁶
  * vectors. Session settings are listed at [[conf]].
  */
object Dedup {

  /** The seven `graft.*` session settings, each set by a caller outside
    * the tests or named by an advisory: `graft.ngram.mhPrefixSlots`
    * (0, [[mhPrefixFilter]]), `graft.ngram.stageDir` and
    * `graft.ngram.stageSpillBudgetBytes` ([[ddNgramJaccardStaged]]),
    * `graft.minhash.maxBucket` (1024, [[minhashCandidates]]),
    * `graft.embedCosine.maxCell` ([[embedCosineMaxCellDefault]]),
    * `graft.embedCosine.exactMax` (2¹⁶) and
    * `graft.embedCosine.probeMargin` (0.01). Every other threshold is a
    * constant. A malformed value fails with the key named. */
  private def conf[T](spark: SparkSession, key: String)(
      parse: String => T): Option[T] =
    spark.conf.getOption(key).map { v =>
      try parse(v.trim)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be a number, got '$v'")
      }
    }

  /** [[conf]] for a member cap. Every bucket or cell has at least one
    * member, so a cap ≤ 0 would drop every minhash bucket (an empty
    * result) or divide the cell split by zero; it fails with the key
    * named instead. */
  private def capConf[T](spark: SparkSession, key: String)(
      parse: String => T)(implicit num: Numeric[T]): Option[T] =
    conf(spark, key)(parse).map { c =>
      if (num.signum(c) <= 0)
        throw new IllegalArgumentException(s"$key must be positive, got $c")
      c
    }

  private def mhPrefixSlots(spark: SparkSession): Int =
    conf(spark, "graft.ngram.mhPrefixSlots")(_.toInt).getOrElse(0)

  /** Whether the session's shuffle codec is already zstd. The codec is
    * fixed when the session is built, so the tier-0 advisory rung must
    * go silent once zstd is active, or a retry loop applying its
    * SetConf record would get the same advisory forever. */
  private def zstdActive(spark: SparkSession): Boolean =
    spark.conf.get("spark.io.compression.codec", "lz4")
      .toLowerCase.contains("zstd")

  /** 3-word shingles (distinct) of the whitespace tokenization — native
    * single-pass expression (see [[ShingleArray]]). */
  def shingles(c: Column): Column = ShingleArray.shingles3(c)

  /** Sorted-distinct-token-set md5 — the exact-dedup document identity,
    * shared by [[ddExact]], `TextAnalysis.taCurate` and
    * `Streams.dedupStream` so the three can never disagree on what
    * counts as "the same document". */
  private[graft] def docFingerprint(c: Column): Column =
    // null-PRESERVING, deliberately: concat_ws swallows a null array
    // into "", which would fingerprint a null-text document identically
    // to an empty-text one — while the DuckDB oracle's md5(null) is
    // NULL, so the two engines would group differently on any corpus
    // containing null texts (pinned by EdgeCorpusSpec)
    when(c.isNotNull, md5(concat_ws(" ",
      array_sort(array_distinct(split(trim(c), "\\s+")))).cast("binary")))

  /** Exact dedup under sorted-distinct-token-set normalization: every
    * member of a duplicate group mapped to its canonical (min) doc_id.
    * One shuffle on the 128-bit fingerprint. */
  def ddExact(spark: SparkSession, dir: String): DataFrame = {
    val fp = docFingerprint(col("text"))
    val w = Window.partitionBy("fp")
    t(spark, dir, "documents")
      .select(col("doc_id"), fp.as("fp"))
      .withColumn("canonical", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .where(col("group_size") > 1)
      .select("doc_id", "canonical", "group_size", "fp")
      .orderBy("doc_id")
  }

  /** N-gram (3-shingle) Jaccard pairs at j ≥ 0.5 by prefix-filtered
    * shingle equi-join (AllPairs/PPJoin): shingles with df = 1 or
    * df > `dfCap` are dropped (no signal; df² instances); each doc's
    * rarest-first m − ⌈n/2⌉ + 1 shingles join, which is lossless at 0.5
    * (the length filter forces overlap ≥ ⌈n/2⌉, and such sets share an
    * element in their first |x| − α + 1 of any common order); then
    * [[exactVerify]] scores the string arrays, so a hash collision only
    * adds a candidate. `dfCap` defaults to 8·√N, at least 64: a shingle
    * over k·√N alone emits ≥ k²·N instances. A pair sharing only capped
    * shingles is missed (a near-verbatim blob over the cap); capped
    * shingles occur on every corpus, so run `dd_exact` /
    * `dd_minhash_lsh` first and ngram on the residue (docs/SIZING.md). */
  def ddNgramJaccard(spark: SparkSession, dir: String, dfCap: Int = -1): DataFrame =
    // gate-friendly ordering lives HERE, in the registration-facing
    // form; composing operators (ddCluster) consume the unordered core
    // so they never pay a wasted range exchange
    ddNgramJaccardPairs(spark, dir, dfCap).orderBy("doc_a", "doc_b")

  /** Unordered j ≥ 0.5 pair set — the composable core of
    * [[ddNgramJaccard]]. */
  def ddNgramJaccardPairs(spark: SparkSession, dir: String, dfCap: Int = -1): DataFrame = {
    val base = shingleBase(spark, dir)
    val slots = mhPrefixSlots(spark)
    // one driver-side footer read, shared by the advisory and the dfCap
    // default. Not cached per (dir, table): the smoke mains overwrite
    // their corpora between factors, so a cache would go stale.
    val nDocs = graft.Tables.footerRowCount(spark, dir, "documents")
    ngramShuffleWarning(nDocs, slots, zstd = zstdActive(spark))
      .foreach(graft.Graft.advise(spark, _, log))
    exactVerify(ngramCandidatesFrom(base,
        if (dfCap > 0) dfCap else dfCapFor(nDocs)), base,
      mhPrefixSlots = slots)
  }

  /** Disk-bounded STAGED [[ddNgramJaccard]]: the same pairs, with peak
    * shuffle disk ~1/shards of the single plan's, which keeps every
    * exchange's files until the job ends (SURVEY §8.4.3g). Stages
    * `joinable` (sharded by sh: df is per-sh), `prefix` (by doc_id: rrk
    * is per-doc) and `pairs` (by sh, the join key, so the shards' union
    * is complete; the distinct drops repeats) each run as `shards`
    * parquet-writing jobs; `System.gc()` after a job lets the
    * ContextCleaner unlink its shuffle files. Shards: the argument,
    * else ceil([[ngramSinglePlanSpillBytes]] / [[stageSpillBudget]]).
    * Eager. A non-empty `stageDir` without the `_graft_stage` marker is
    * refused, not destroyed; each call writes its own `run-NNNNNN/` and
    * reclaims only older runs, so a returned frame survives the next
    * sequential call. Each stage appends an Observe record, since
    * `.explain` shows only the final read. */
  def ddNgramJaccardStaged(spark: SparkSession, dir: String,
      stageDir: String = "", shards: Int = -1, dfCap: Int = -1): DataFrame = {
    import org.apache.hadoop.fs.Path
    val stage = if (stageDir.nonEmpty) stageDir
      else spark.conf.get("graft.ngram.stageDir", "target/ngram-staged")
    val slots = mhPrefixSlots(spark)
    val nDocs = graft.Tables.footerRowCount(spark, dir, "documents")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val stagePath = new Path(stage)
    val fs = stagePath.getFileSystem(hadoopConf)
    val k = if (shards > 0) shards else {
      val spill = ngramSinglePlanSpillBytes(nDocs, tier0 = slots > 0,
        zstd = zstdActive(spark))
      val confBudget =
        conf(spark, "graft.ngram.stageSpillBudgetBytes")(_.toLong)
      val probed = probeStageFree(fs, stagePath)
      val (budget, source) = stageSpillBudget(confBudget, probed)
      val sized = ngramStageShards(spill, budget)
      // an Observe record whenever the budget was CHOSEN rather than
      // configured; an explicit conf is the user's own choice
      if (confBudget.isEmpty)
        graft.Graft.advise(spark, graft.Advisory("dd_ngram_staged",
          knob = "graft.ngram.stageSpillBudgetBytes", cap = budget,
          measured = probed, bound = spill,
          s"dd_ngram_staged auto-sized shards=$sized: predicted " +
          s"single-plan spill $spill bytes against a $source spill " +
          s"budget of $budget bytes" + (if (source == "probed")
            s" (25% of $probed free bytes on the stage filesystem — " +
            "NOTE: a remote-FS probe reports cluster-wide free space " +
            "while the budget bounds PER-NODE spill)"
          else " (free-space probe unavailable — the box-calibrated " +
            "default)") +
          ". Override via graft.ngram.stageSpillBudgetBytes.",
          action = graft.AdvisoryAction.Observe, target = source), log)
      sized
    }
    val cap = if (dfCap > 0) dfCap else dfCapFor(nDocs)
    val corpusPath = new Path(dir)
    stageFsMismatchAdvisory(
        corpusPath.getFileSystem(hadoopConf).makeQualified(corpusPath).toUri,
        fs.makeQualified(stagePath).toUri)
      .foreach(graft.Graft.advise(spark, _, log))
    val marker = new Path(stagePath, "_graft_stage")
    val RunName = "run-(\\d+)".r
    var prevRun = 0L // newest prior run id — kept live through this run
    if (fs.exists(stagePath)) {
      // staged-owned = marked, or shaped exactly like an unmarked
      // staged residue, which always holds `joinable` — so a user's
      // copy of results (typically `pairs/` alone) is refused, not
      // destroyed, and anything with foreign entries is refused outright
      val entries = fs.listStatus(stagePath).map(_.getPath.getName)
        .filterNot(_ == "_graft_stage")
      val owned = fs.exists(marker) ||
        (entries.forall(Set("joinable", "prefix", "pairs")) &&
          entries.contains("joinable"))
      if (entries.nonEmpty && !owned)
        throw new IllegalArgumentException(
          s"refusing to clear stage dir '$stage': it is non-empty and " +
          "carries no _graft_stage marker from a prior staged run — a " +
          "mistyped stageDir / graft.ngram.stageDir pointing at a data " +
          "directory must not be silently destroyed. Pass an empty or " +
          "staged-owned directory.")
      // reclaim: flat joinable/prefix/pairs residue goes now; among
      // run-*/ subdirs only the NEWEST survives — it may back a live
      // frame from the previous invocation
      val runIds = entries.collect { case RunName(id) => id.toLong }
      prevRun = if (runIds.isEmpty) 0L else runIds.max
      entries.foreach {
        case RunName(id) if id.toLong == prevRun => ()
        case e => fs.delete(new Path(stagePath, e), true)
      }
    }
    val runStr = f"$stage/run-${prevRun + 1L}%06d"
    fs.mkdirs(new Path(runStr))
    if (!fs.exists(marker)) fs.create(marker).close()
    val base = shingleBase(spark, dir)
    // schemas captured from the plans (no execution) so the staged
    // parquet reads never depend on inference — an all-empty stage
    // (degenerate corpus) writes only _SUCCESS, which schema-less
    // parquet reads reject
    val joinableSchema = ngramJoinable(ngramExploded(base), cap).schema
    // the gc nudge only matters while DISK is the constraint; on a small
    // corpus a forced full collection is pure wall-clock (2.2 s of a
    // 5.25 s sf0.001 invocation)
    def afterJob(): Unit = if (nDocs >= 1000000L) System.gc()
    def stageRecord(name: String, wallMs: Long): Unit = {
      val p = new Path(runStr, name)
      val rows = graft.Tables.footerRowCountAtPath(spark, p.toString)
      val bytes = fs.getContentSummary(p).getLength
      graft.Graft.advise(spark, graft.Advisory("dd_ngram_staged",
        knob = s"stage:$name", cap = k, measured = rows, bound = bytes,
        s"dd_ngram_staged stage '$name': $rows rows, $bytes bytes " +
        s"written in $wallMs ms across $k shard job(s) under '$runStr'.",
        action = graft.AdvisoryAction.Observe,
        target = wallMs.toString), log)
    }
    def timed(body: => Unit): Long = {
      val t0 = System.nanoTime(); body
      (System.nanoTime() - t0) / 1000000L
    }
    val w1 = timed((0 until k).foreach { i =>
      ngramJoinable(
          ngramExploded(base).where(pmod(col("sh"), lit(k)) === i), cap)
        .write.mode("append").parquet(s"$runStr/joinable")
      afterJob()
    })
    stageRecord("joinable", w1)
    val joinable = spark.read.schema(joinableSchema)
      .parquet(s"$runStr/joinable")
    val prefixSchema = ngramPrefix(joinable).schema
    val w2 = timed((0 until k).foreach { i =>
      ngramPrefix(joinable.where(pmod(col("doc_id"), lit(k)) === i))
        .write.mode("append").parquet(s"$runStr/prefix")
      afterJob()
    })
    stageRecord("prefix", w2)
    val prefix = spark.read.schema(prefixSchema).parquet(s"$runStr/prefix")
    val pairsSchema = exactVerify(ngramPairJoin(prefix), base,
      mhPrefixSlots = slots).schema
    val w3 = timed((0 until k).foreach { i =>
      exactVerify(
          ngramPairJoin(prefix.where(pmod(col("sh"), lit(k)) === i)), base,
          mhPrefixSlots = slots)
        .write.mode("append").parquet(s"$runStr/pairs")
      afterJob()
    })
    stageRecord("pairs", w3)
    // only pairs/ backs the returned frame
    fs.delete(new Path(runStr, "joinable"), true)
    fs.delete(new Path(runStr, "prefix"), true)
    spark.read.schema(pairsSchema).parquet(s"$runStr/pairs")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Predicted single-query-plan shuffle spill for the ngram near-dup
    * operator — PURE, calibrated on the measured ENOSPC walls of SURVEY
    * §8.4.3e-g (spill is measured linear in the corpus): exact+lz4
    * 15.6 KB/doc, tier-0+lz4 7.8 KB/doc, tier-0+zstd 3.6 KB/doc,
    * exact+zstd ~2/3 of exact+lz4. */
  private[graft] def ngramSinglePlanSpillBytes(nDocs: Long,
      tier0: Boolean, zstd: Boolean): Long = {
    val perDoc = (tier0, zstd) match {
      case (false, false) => 15600L
      case (false, true)  => 10400L
      case (true,  false) => 7800L
      case (true,  true)  => 3600L
    }
    nDocs * perDoc
  }

  /** Corpus-aware staged shard count: per-job spill is ~1/shards of the
    * single plan's, so k = ceil(predicted spill / per-node budget)
    * bounds each job under the budget; 1 for anything that fits. */
  private[graft] def ngramStageShards(spillBytes: Long,
      budgetBytes: Long): Int = {
    require(budgetBytes > 0, s"spill budget must be positive: $budgetBytes")
    math.max(1L, math.ceil(spillBytes.toDouble / budgetBytes).toLong).toInt
  }

  private[graft] val stageBudgetFallbackBytes = 18000000000L
  private[graft] val stageBudgetFraction = 0.25
  private[graft] val stageBudgetFloorBytes = 1000000000L
  // a generic Hadoop FileSystem that doesn't implement getStatus
  // reports remaining = Long.MaxValue; anything past 1 PB is treated
  // as "the filesystem cannot say" rather than a usable measurement
  private[graft] val stageBudgetProbeCeilingBytes = 1000000000000000L

  /** Per-node stage spill budget → (budget, conf | probed | fallback):
    * the conf; else 25% of the probed free bytes (the disk is shared),
    * floored at 1 GB so a full disk means many small shards; else the
    * 18 GB fallback. A remote-FS probe reports cluster-wide space while
    * the budget bounds per-node spill; the conf is the per-node escape. */
  private[graft] def stageSpillBudget(confBytes: Option[Long],
      probedFreeBytes: Long): (Long, String) = confBytes match {
    case Some(b) =>
      require(b > 0,
        s"graft.ngram.stageSpillBudgetBytes must be positive: $b")
      (b, "conf")
    case None if probedFreeBytes > 0 &&
        probedFreeBytes < stageBudgetProbeCeilingBytes =>
      (math.max(stageBudgetFloorBytes,
        (probedFreeBytes * stageBudgetFraction).toLong), "probed")
    case None => (stageBudgetFallbackBytes, "fallback")
  }

  /** Free bytes at the deepest EXISTING ancestor of the stage path; -1
    * when the filesystem cannot say. Local paths use `getUsableSpace`
    * (f_bavail), not Hadoop's f_bfree-based `getRemaining`, which
    * over-reported 227 GB against 69 GB usable and sized a 40M-doc run
    * into running out of disk (SURVEY §8.4.3h). */
  private[graft] def probeStageFree(fs: org.apache.hadoop.fs.FileSystem,
      stagePath: org.apache.hadoop.fs.Path): Long =
    try {
      var p = fs.makeQualified(stagePath)
      while (p != null && !fs.exists(p)) p = p.getParent
      if (p == null) -1L
      else if (Option(p.toUri.getScheme).forall(_ == "file"))
        new java.io.File(p.toUri.getPath).getUsableSpace
      else fs.getStatus(p).getRemaining
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Stage-filesystem advisory, PURE over the two qualified URIs: fires
    * when the stage dir resolves to a DIFFERENT filesystem than the
    * corpus (scheme or authority differ). The default stageDir is
    * driver-relative; against an hdfs/s3a corpus that silently routes
    * every staged byte through the driver's local disk. */
  private[graft] def stageFsMismatchAdvisory(corpusUri: java.net.URI,
      stageUri: java.net.URI): Option[graft.Advisory] = {
    def fsId(u: java.net.URI): String =
      Option(u.getScheme).getOrElse("file") +
        "://" + Option(u.getAuthority).getOrElse("")
    val (c, s) = (fsId(corpusUri), fsId(stageUri))
    if (c != s)
      Some(graft.Advisory("dd_ngram_staged", "graft.ngram.stageDir",
        cap = -1L, measured = -1L, bound = -1L,
        s"dd_ngram_staged stages through '$s' while the corpus lives " +
        s"on '$c': every staged byte (3 stage materializations) routes " +
        "through the stage filesystem — for a driver-relative default " +
        "against an hdfs/s3a corpus that means the driver's LOCAL disk, " +
        "not the cluster's. Set graft.ngram.stageDir to a writable " +
        "path on the corpus filesystem.",
        action = graft.AdvisoryAction.SetConf,
        // suggest a SIBLING of the corpus dir, not a child: staging
        // inside the dataset root would feed transient stage churn to
        // corpus-level backup/sync tooling (falls back to a child
        // only when the corpus IS the filesystem root)
        target = {
          val c = new org.apache.hadoop.fs.Path(corpusUri)
          Option(c.getParent)
            .map(p => new org.apache.hadoop.fs.Path(p, "_ngram_staged"))
            .getOrElse(new org.apache.hadoop.fs.Path(c, "_ngram_staged"))
            .toString
        }))
    else None
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")

  /** The disk-wall advisories (SURVEY §8.4.3e-g), each just under its
    * measured wall: exact ngram from 4M docs (→ tier-0 or zstd), tier-0
    * from 8M (→ zstd), tier-0 from 16M (→ SwitchOperator to
    * `dd_ngram_staged`). `measured` is the corpus size, `cap` the
    * threshold. Each rung goes silent once its escape is active, so a
    * retry-until-silent dispatcher converges. */
  private[graft] def ngramShuffleWarning(nDocs: Long, mhPrefixSlots: Int,
      zstd: Boolean = false): Option[graft.Advisory] = {
    val (warnDocs, tier0WarnDocs, stagedWarnDocs) =
      (4000000L, 8000000L, 16000000L)
    if (mhPrefixSlots == 0 && nDocs >= warnDocs)
      Some(graft.Advisory("dd_ngram_jaccard", "graft.ngram.mhPrefixSlots",
        cap = warnDocs, measured = nDocs, bound = -1L,
        s"dd_ngram_jaccard over $nDocs documents with the exact " +
        "candidate shuffle: at 5M docs this tier-1 shuffle exceeded " +
        "78 GB/box of lz4 spill (ENOSPC, SURVEY 8.4.3e). Consider " +
        "graft.ngram.mhPrefixSlots=16 (79% shuffle discard, zero " +
        "measured pair loss through 10M docs) or " +
        "spark.io.compression.codec=zstd.",
        action = graft.AdvisoryAction.SetConf, target = "16"))
    else if (mhPrefixSlots > 0 && nDocs >= stagedWarnDocs)
      Some(graft.Advisory("dd_ngram_jaccard", knob = "",
        cap = stagedWarnDocs, measured = nDocs, bound = -1L,
        s"dd_ngram_jaccard over $nDocs documents with tier-0 " +
        s"(mhPrefixSlots=$mhPrefixSlots): past zstd's own measured wall " +
        "(even the slim survivor pass ENOSPCs under zstd at 20M docs on " +
        "a 72 GB-spill box, SURVEY 8.4.3g) no codec or filter rung " +
        "remains — the single-query plan holds every exchange's shuffle " +
        "files until job end. Switch to ddNgramJaccardStaged / " +
        "dd_ngram_staged: per-job spill bounded at ~1/shards, identical " +
        "pair set (oracle-gated).",
        action = graft.AdvisoryAction.SwitchOperator,
        target = "dd_ngram_staged"))
    else if (mhPrefixSlots > 0 && nDocs >= tier0WarnDocs && !zstd)
      Some(graft.Advisory("dd_ngram_jaccard", "spark.io.compression.codec",
        cap = tier0WarnDocs, measured = nDocs, bound = -1L,
        s"dd_ngram_jaccard over $nDocs documents with tier-0 " +
        s"(mhPrefixSlots=$mhPrefixSlots): the slimmed candidate shuffle " +
        "hit the same ~78 GB/box lz4 spill wall at 10M docs (ENOSPC, " +
        "SURVEY 8.4.3f). Set spark.io.compression.codec=zstd — measured " +
        "to complete at 10M docs with the formula-exact pair set. Past " +
        "that (even the survivor pass ENOSPCs under zstd at 20M docs on " +
        "the same box, SURVEY 8.4.3g), switch to ddNgramJaccardStaged / " +
        "dd_ngram_staged: bounded per-job spill, identical pair set.",
        action = graft.AdvisoryAction.SetConf, target = "zstd"))
    else None
  }

  private[graft] def resolveCap(spark: SparkSession, dir: String, dfCap: Int): Int =
    if (dfCap > 0) dfCap
    else dfCapFor(graft.Tables.footerRowCount(spark, dir, "documents"))

  /** The default ngram `dfCap` for an N-doc corpus: 8·round(√N), floored
    * at 64 (see [[ddNgramJaccard]] for why it scales with √N). */
  private[graft] def dfCapFor(nDocs: Long): Int =
    math.max(64L, 8L * math.round(math.sqrt(nDocs.toDouble))).toInt

  /** The ngram candidate pairs BEFORE exact verification, so the scale
    * smoke can measure candidate growth against wall-clock growth. */
  private[graft] def ngramCandidates(spark: SparkSession, dir: String,
      dfCap: Int = -1): DataFrame =
    ngramCandidatesFrom(shingleBase(spark, dir), resolveCap(spark, dir, dfCap))

  /** Candidates surviving the tier-0 MinHash-prefix filter, so ScaleSmoke
    * can measure the tier-0 discard ratio: survivors/candidates is the
    * factor by which the filter slims the array-carrying tier-1
    * shuffle. */
  private[graft] def ngramTier0Survivors(spark: SparkSession, dir: String,
      slots: Int = 16): DataFrame = {
    val base = shingleBase(spark, dir)
    mhPrefixFilter(ngramCandidatesFrom(base, resolveCap(spark, dir, -1)),
      base, slots)
  }

  /** (doc_id, shs): the one corpus pass of the ngram and minhash
    * operators, exchanged once on doc_id; candidates and all verify
    * branches read it back as ReusedExchange. The isNotNull(doc_id)
    * matches the filter the verify joins infer, keeping the subtrees
    * identical; the coalesce makes `shs` non-nullable (an empty array
    * acts like null text), so no inferred isnotnull(shs) pushes the
    * shingle pass into the scan a second time. */
  private def shingleBase(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        coalesce(shingles(col("text")), typedLit(Seq.empty[String])).as("shs"))
      .repartition(col("doc_id"))

  private def ngramCandidatesFrom(base: DataFrame, cap: Int): DataFrame =
    ngramPairJoin(ngramPrefix(ngramJoinable(ngramExploded(base), cap)))

  /** The exploded per-shingle stream (doc_id, n, sh) — stage 0 of the
    * candidate pipeline. It and the three stages below are separate so
    * [[ddNgramJaccardStaged]] can materialize and hash-shard the same
    * plan pieces; composed in [[ngramCandidatesFrom]] they give the
    * single-query plan. */
  private def ngramExploded(base: DataFrame): DataFrame = {
    val docs = base.withColumn("n", size(col("shs")))
    // 64-bit shingle hashes: half the shuffle of strings; the verify is
    // exact. explode_OUTER: a plain explode infers size(shs) > 0 and
    // pushes the shingle pass into the scan as a filter. shs is empty
    // only for null text, whose null-shingle row can only pair null-text
    // docs, which the exact verify drops.
    docs.select(col("doc_id"), col("n"),
        explode_outer(col("shs")).as("shStr"))
      .select(col("doc_id"), col("n"), xxhash64(col("shStr")).as("sh"))
  }

  /** df-filtered stream: shingles with 2 ≤ df ≤ cap. Shards cleanly by
    * shingle hash — every row of a given `sh` lands in the same shard,
    * so the per-shard window df equals the global df. */
  private def ngramJoinable(s: DataFrame, cap: Int): DataFrame =
    // df via a window over the shingle key, not a groupBy + join-back:
    // the agg+join shape traverses the expensive exploded stream twice,
    // the window computes df on the one exchange the stream needs anyway
    s.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .where(col("df").between(2, cap))

  /** Rarest-first PPJoin prefix (sh, doc_id, n, rrk), per-doc so it
    * shards by doc_id. rrk, the REVERSE rank m − rk + 1, gives both the
    * prefix cut (rrk ≥ ⌈n/2⌉) and the positional bound (min(rrk))
    * without a second window for m. */
  private def ngramPrefix(joinable: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    joinable
      .withColumn("rrk", row_number().over(
        byDoc.orderBy(col("df").desc, col("sh").desc)))
      .where(col("rrk") >= ceil(col("n") / lit(2.0)))
      .select("sh", "doc_id", "n", "rrk")
  }

  /** The prefix self-join → distinct candidate pairs. The join key is
    * `sh`, so one sh-shard of the prefix yields exactly the pairs with a
    * witness shingle in that shard. */
  private def ngramPairJoin(prefix: DataFrame): DataFrame =
    keySelfJoin(prefix, "sh", Seq(
        // length filter: J ≥ 0.5 needs 2·min(na, nb) ≥ max(na, nb)
        least(col("a.n"), col("b.n")) * 2 >= greatest(col("a.n"), col("b.n")),
        // PPJoin positional filter: a common shingle bounds the overlap
        // by 1 + min(remaining suffix) = min(rrk); a pair whose common
        // prefix shingles all sit too late can never reach the required
        // overlap ⌈(na+nb)/3⌉. Lossless: for a true pair the first
        // common element always satisfies the bound.
        least(col("a.rrk"), col("b.rrk")) >=
          ceil((col("a.n") + col("b.n")) / lit(3.0))))
      .distinct()

  /** The candidate self-join of every banded generator: over a keyed
    * frame (doc_id, `key`, …), one row per shared key with
    * `a.key = b.key && a.doc_id < b.doc_id` and each `extra` predicate
    * (on aliases `a`/`b`), projected to (doc_a, doc_b, `out`…). */
  private def keySelfJoin(keyed: DataFrame, key: String,
      extra: Seq[Column] = Nil, out: Seq[Column] = Nil): DataFrame = {
    val on = col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id")
    keyed.alias("a").join(keyed.alias("b"), extra.foldLeft(on)(_ && _))
      .select(Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")) ++ out: _*)
  }

  /** One `long` per (band j, key): key + j·2^shift, exploded to a row
    * per band. Callers keep keys below 2^shift, so this is a bijection
    * and the band join hashes one column, not two. */
  private def bandKeys(keys: Seq[Column], shift: Int): Column =
    explode(array(keys.zipWithIndex.map {
      case (k, j) => k + lit(j.toLong << shift)
    }: _*))

  /** Two-tier exact verification of candidate pairs — SHARED by every
    * Jaccard path (ngram, MinHash LSH, streaming). Tier 1 scores sorted
    * 64-bit hash arrays; tier 2 recomputes survivors on the string
    * arrays, so collisions cannot corrupt the output (doc_a, doc_b,
    * jaccard), j ≥ 0.5, unordered. The four doc-side branches
    * hang off ONE exchange of (doc_id, shs), so three are ReusedExchange
    * reads; a caller passing an already-`repartition(doc_id)`'d frame
    * shares that exchange with its candidates (pinned in PlanSpec).
    *
    * @param cand candidate pairs (doc_a, doc_b)
    * @param docs (doc_id, shs) — each doc's distinct shingle array
    * @param mhPrefixSlots leading MinHash slots for the optional tier-0
    *   pre-filter (0 = off, the default — see [[mhPrefixFilter]])
    */
  private[graft] def exactVerify(cand: DataFrame, docs: DataFrame,
      mhPrefixSlots: Int = 0): DataFrame = {
    val base = docs.select(col("doc_id"), col("shs"))
      .repartition(col("doc_id"))
    val cand0 =
      if (mhPrefixSlots <= 0) cand
      else mhPrefixFilter(cand, base, mhPrefixSlots)
    val hsh = base.select(col("doc_id"), size(col("shs")).as("n"),
      array_sort(transform(col("shs"), xxhash64(_))).as("hs"))
    val tier1 = cand0.select("doc_a", "doc_b")
      .join(hsh.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n").as("na")), "doc_a")
      .join(hsh.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n").as("nb")), "doc_b")
      .withColumn("shared", VectorOps.sortedOverlap(col("ha"), col("hb")))
      // two EMPTY shingle sets (both docs null-text) give a 0/0 union —
      // an ANSI divide-by-zero, not a near-dup; their Jaccard is 0. A
      // `when` guard, not a conjunct: predicate order is not a contract
      .withColumn("union_n",
        (col("na") + col("nb") - col("shared")).cast("double"))
      .where(when(col("union_n") === 0, 0.0)
        .otherwise(FastRound.round4(col("shared") / col("union_n"))) >= 0.5)
      .select("doc_a", "doc_b")
    tier1
      .join(base.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("jaccard", FastRound.round4(
        size(array_intersect(col("sa"), col("sb"))) /
          size(array_union(col("sa"), col("sb"))).cast("double")))
      .where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Tier-0 MinHash-prefix candidate filter (`graft.ngram.mhPrefixSlots`,
    * off by default). Tier 1's doc_b join carries doc_a's full hash
    * array (~5 KB) per candidate; a `slots`-slot prefix is `8·slots`
    * bytes and P(slot match) = J(a, b), so requiring ≥ 2 matching slots
    * drops the low-Jaccard bulk before any array is shuffled. It is
    * probabilistic: at (16, 2) a j = 0.5 pair survives with p ≈ 0.99974
    * (j = 0.7 misses with ~2·10⁻⁸), a j = 0.02 pair with ~5%; fixed
    * seeds make it deterministic per corpus. Not applied to MinHash-LSH,
    * whose candidates already share a 2-slot band. */
  private[graft] def mhPrefixFilter(cand: DataFrame, base: DataFrame,
      slots: Int): DataFrame = {
    val pf = base.select(col("doc_id"),
      slice(MinHashRow.minhash32_row(col("shs")), 1, slots).as("mh"))
    cand.select("doc_a", "doc_b")
      .join(pf.select(col("doc_id").as("doc_a"), col("mh").as("ma")), "doc_a")
      .join(pf.select(col("doc_id").as("doc_b"), col("mh").as("mb")), "doc_b")
      .where(aggregate(zip_with(col("ma"), col("mb"),
        (a, b) => when(a === b, 1).otherwise(0)), lit(0), _ + _) >= 2)
      .select("doc_a", "doc_b")
  }

  /** LSH bands of the 32-slot minhash signature, 2 slots each. */
  private val lshBands = 16

  /** The 16×2 LSH band hashes of a 32-slot minhash signature — shared
    * between the batch LSH and the streaming variant so their candidate
    * spaces are identical by construction. */
  private[graft] def bandHashCols(sig: Column): Seq[Column] =
    (0 until lshBands).map(j =>
      hash(element_at(sig, 2 * j + 1), element_at(sig, 2 * j + 2)))

  /** MinHash + LSH near-dup: banded candidates, exact verify, so the
    * output is the exact j ≥ 0.5 pair set whenever banding recall is
    * total (a j = 0.5 pair is missed with p ≤ (1−0.5²)¹⁶ ≈ 1%; seeds are
    * fixed, so the oracle is the exact SQL). The signature is one map-only
    * per-row expression ([[MinHashRow]], bit-identical to
    * [[MinHashAgg]]); nested higher-order lambdas would stay
    * interpreted and be duplicated per band (~40× slower). */
  def ddMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val base = shingleBase(spark, dir)
    ensureCapAdvisoryListener(spark)
    // footer count for the observation name (see observeCapMetrics)
    val nDocs = graft.Tables.footerRowCount(spark, dir, "documents")
    exactVerify(minhashCandidates(base, nDocs = nDocs), base)
      .orderBy("doc_a", "doc_b")
  }

  /** The LSH candidate pairs BEFORE exact verification (ScaleSmoke and
    * perfbench count them). A bucket of m members emits m(m−1)/2
    * instances, so a degenerate band hash (boilerplate filling both
    * slots) makes the join quadratic; buckets over `maxBucket` emit
    * nothing, bounding candidates by 8·maxBucket·N. A true pair collides
    * in ~4 of 16 bands, so a lost band keeps recall — except for a
    * near-verbatim blob larger than the cap, which crosses in ALL its
    * bands; the [[observeCapMetrics]] observation and
    * [[minhashBucketAdvisory]] report that at runtime. */
  private[graft] def minhashCandidates(docs: DataFrame,
      maxBucket: Int = -1, nDocs: Long = -1L): DataFrame = {
    val cap =
      if (maxBucket > 0) maxBucket
      else capConf(docs.sparkSession, "graft.minhash.maxBucket")(_.toInt)
        .getOrElse(1024)
    // per-row sketch over the doc's own shingle array: map-only, the
    // same 32-slot signature the streaming variant projects
    val sigs = docs.select(col("doc_id"),
      MinHashRow.minhash32_row(col("shs")).as("sig"))
    val bands = sigs.select(col("doc_id"),
      bandKeys(bandHashCols(col("sig")).map(_.cast("long")), 32).as("band_key"))
    // a window count, not agg + semi-join: one band-key exchange that
    // both self-join sides reuse
    val kept = bands
      .withColumn("bucket_m", count(lit(1)).over(
        Window.partitionBy("band_key")))
      // observed BEFORE the drop filter, so max(bucket_m) is measured
      .transform(observeCapMetrics(_, bucketMetricsPrefix,
        col("bucket_m"), cap, nDocs))
      .where(col("bucket_m") <= cap)
      .drop("bucket_m")
    keySelfJoin(kept, "band_key").distinct()
  }

  /** SimHash near-dup: 64-bit simhash over token xxhash64 values,
    * candidates by band-table equi-join, verified by Hamming distance
    * ≤ 6. Rows-only driver check (hash-dependent). The bands
    * ([[simhashBands]]) switch with corpus size: up to 10⁷ docs, 4
    * tables of one 16-bit chunk (complete for d ≤ 3; recall ≥ 0.92 vs
    * exact Jaccard, FunctionsSpec); above, C(8,4) = 70 tables of four
    * 8-bit blocks (complete for d ≤ 4), whose N/2³² buckets keep the
    * join linear where the chunk join's ~N²/2¹⁵ is not. The two surface
    * different d ∈ [4,6] pairs, so the switch keeps small-corpus output
    * stable. The cut is exact either way: recall changes, precision
    * does not. */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame =
    ddSimhash(spark, dir, wideBands =
      simhashWideBands(graft.Tables.footerRowCount(spark, dir, "documents")))

  /** Above 10⁷ docs the 16-bit chunk buckets average ≥ ~150 members
    * (N/2¹⁶) and the chunk self-join's ~N²/2¹⁵ candidate term starts to
    * dominate — switch to the wide (8, 4) block tables. */
  private[graft] def simhashWideBands(nDocs: Long): Boolean =
    nDocs > 10L * 1000 * 1000

  private[graft] def ddSimhash(spark: SparkSession, dir: String,
      wideBands: Boolean): DataFrame = {
    // Wide-construction certificate (pigeonhole): the (8, 4) tables
    // emit an instance only if ≥ 4 of its 8-bit blocks of sig_xor are
    // zero; a plan swapped back to the chunk tables emits d ∈ [5,6]
    // instances with 2, so the assert makes that a driver-visible crash.
    // Checked per instance before the distinct, which stays 3 columns.
    // SWAR zero-byte count over the low 7 bytes: (b & 0x7F) + 0x7F sets
    // bit 7 iff the low 7 bits are non-zero, OR b adds bit 7 itself;
    // sums ≤ 0xFE never carry across bytes or overflow under ANSI. The
    // top byte would need bit-63 arithmetic, so it is compared apart.
    val low7 = lit(0x007f7f7f7f7f7f7fL)
    val intactBlocks = bit_count(bitwise_not(
        (col("sig_xor").bitwiseAND(low7) + low7)
          .bitwiseOR(col("sig_xor")).bitwiseOR(low7))
        .bitwiseAND(lit(0x0080808080808080L))) +
      when(shiftrightunsigned(col("sig_xor"), 56) === 0, 1).otherwise(0)
    val certified =
      if (!wideBands) col("hamming")
      else coalesce(assert_true(intactBlocks >= 4,
          concat(lit("simhash wide-band invariant violated: only "),
            intactBlocks, lit(" intact blocks for pair ("),
            col("doc_a"), lit(","), col("doc_b"), lit(")"))),
        col("hamming"))
    simhashPairs(spark, dir, wideBands)
      .select(col("doc_a"), col("doc_b"), certified.as("hamming"))
      // filter BEFORE the distinct: the Hamming cut is computable per
      // pair instance, so the dedup shuffle only carries survivors
      .where(col("hamming") <= 6)
      .distinct()
      // the dump re-certifies the cut in-query: a regression that drops
      // or loosens the filter crashes the driver's rows-only row instead
      // of silently shipping far pairs. On output survivors only: free.
      .select(col("doc_a"), col("doc_b"),
        coalesce(assert_true(col("hamming").between(0, 6),
            concat(lit("simhash invariant violated: hamming "),
              col("hamming"), lit(" outside [0,6]"))),
          col("hamming")).as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** (doc_id, simhash), map-only ([[SimHashRow]]). Null texts are
    * filtered on the INPUT column; a filter on the signature would be
    * pushed below the projection and compute it twice. Both band-join
    * sides reuse the repartition, whose partition count is EXPLICIT:
    * AQE would coalesce the tiny exchange to one partition and
    * serialize the band fan-out. The coalesce makes the signature
    * non-nullable, so no inferred isnotnull(simhash) recomputes it in
    * the scan (measured 1.6×). */
  private def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        coalesce(SimHashRow.simhash64_row(col("text")), lit(0L)).as("simhash"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))

  private def simhashChunk(bits: Int)(j: Int): Column =
    shiftright(col("simhash"), j * bits).bitwiseAND(lit((1L << bits) - 1))

  /** (doc_id, simhash, key) band rows — the general Manku/Jain/Sarma
    * block design: the 64-bit signature splits into 64/`chunkBits`
    * blocks; one table per `chunksPerKey`-subset of blocks, keyed by
    * the subset's bit concatenation with the table index in bits 56 and
    * up ([[bandKeys]]). A Hamming-d pair collides in SOME table
    * whenever its differing bits leave one subset intact — guaranteed
    * for d ≤ blocks − chunksPerKey (pigeonhole). */
  private def simhashBands(docs: DataFrame, chunkBits: Int,
      chunksPerKey: Int): DataFrame = {
    // the key encoding's preconditions: a (chunkBits, chunksPerKey)
    // whose subset keys reach bit 56, or whose table count overflows the
    // 8 high bits, would silently merge distinct tables' buckets and
    // inflate candidates — fail the construction instead
    require(chunkBits * chunksPerKey <= 56,
      s"simhashBands: subset keys need chunkBits*chunksPerKey <= 56 " +
        s"bits to coexist with the baked table index, got " +
        s"$chunkBits*$chunksPerKey")
    val nTables =
      (0 until 64 / chunkBits).combinations(chunksPerKey).size
    require(nTables <= (1 << (64 - 56)),
      s"simhashBands: $nTables tables overflow the ${64 - 56} high bits " +
        "reserved for the baked table index")
    val chunk = simhashChunk(chunkBits) _
    val keys = (0 until 64 / chunkBits).combinations(chunksPerKey)
      .map(s => s.tail.foldLeft(chunk(s.head))(
        (k, j) => k * lit(1L << chunkBits) + chunk(j)))
      .toSeq
    docs.select(col("doc_id"), col("simhash"), bandKeys(keys, 56).as("key"))
  }

  /** (doc_a, doc_b, hamming, sig_xor) pair instances of the band-table
    * self-join: the (16, 1) chunk tables, or the (8, 4) wide tables.
    * `sig_xor` (determined by the pair) rides along so the wide dump can
    * re-derive its pigeonhole certificate. */
  private def simhashPairs(spark: SparkSession, dir: String,
      wideBands: Boolean): DataFrame = {
    val docs = simhashDocs(spark, dir)
    val bands =
      if (wideBands) simhashBands(docs, 8, 4) else simhashBands(docs, 16, 1)
    val xor = col("a.simhash").bitwiseXOR(col("b.simhash"))
    keySelfJoin(bands, "key",
      out = Seq(bit_count(xor).as("hamming"), xor.as("sig_xor")))
  }

  /** Distinct candidate pairs BEFORE the Hamming verify, so the scale
    * smoke can measure the two band constructions' candidate growth
    * against each other. */
  private[graft] def simhashCandidates(spark: SparkSession, dir: String,
      wideBands: Boolean): DataFrame =
    simhashPairs(spark, dir, wideBands).select("doc_a", "doc_b").distinct()

  /** Embedding-cosine near-dup: top-40 vector pairs. Up to
    * [[embedCosineExactMax]] vectors an exact broadcast loop; above,
    * pairs score within IVF cells only (~N·√N/2 dots), with boundary
    * multi-probe ([[Similarity.ivfProbedParts]]) against split pairs
    * (miss rates and cost: SURVEY §8.4.8). Zero-norm vectors are
    * excluded (NaN would top the ranking), as in the oracle. */
  def ddEmbedCosine(spark: SparkSession, dir: String): DataFrame =
    ddEmbedCosine(spark, dir, embedCosineExactMax(spark))

  /** Exact-route ceiling: 2¹⁶ vectors keeps the broadcast ≤ ~34 MB and
    * the full pair scoring ≤ ~2·10⁹ dots — past that the N² term is a
    * cluster-killer and the bucketed route takes over.
    * Set via `graft.embedCosine.exactMax` (see [[conf]]). */
  private[graft] def embedCosineExactMax(spark: SparkSession): Long =
    conf(spark, "graft.embedCosine.exactMax")(_.toLong).getOrElse(1L << 16)

  private[graft] def ddEmbedCosine(spark: SparkSession, dir: String,
      exactMax: Long, maxCell: Long = -1L): DataFrame = {
    val nVecs = graft.Tables.footerRowCount(spark, dir, "embeddings")
    // a separate setting, NOT exactMax: forcing the bucketed route with
    // exactMax = 0 must not also zero the mega-cell shard cap
    val cellCap =
      if (maxCell > 0) maxCell
      else capConf(spark, "graft.embedCosine.maxCell")(_.toLong)
        .getOrElse(embedCosineMaxCellDefault(nVecs))
    embedRouteAdvisory(nVecs, exactMax).foreach(graft.Graft.advise(spark, _, log))
    embedCapAdvisory(nVecs, exactMax, cellCap).foreach(graft.Graft.advise(spark, _, log))
    // the bucketed route's assignment shares ivfParts' per-vector
    // aggregate shape — same sort-fallback spill regime at frontier N
    if (nVecs > exactMax)
      Similarity.sortFallbackAdvisory(spark, nVecs, op = "dd_embed_cosine")
        .foreach(graft.Graft.advise(spark, _, log))
    if (nVecs <= exactMax) {
      val e = t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", VectorOps.l2norm(col("v")))
        .where(col("nrm") > 0)
      // the left side is repartitioned by CPU count: the nested-loop join
      // does O(N) dot products per input row, so scan-bytes-sized
      // parallelism (one ~task for a 20 MB file) would serialize it
      e.repartition(spark.sparkContext.defaultParallelism)
        .alias("a").join(broadcast(e.alias("b")), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          FastRound.round4(VectorOps.dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
        .limit(40)
    } else {
      // Mega-cell guard: exact-duplicate blobs all tie to one centroid
      // and land in ONE cell emitting m²/2 pairs, so cells over `maxCell`
      // are hash-split into ⌈m/maxCell⌉ shards scored apart (total work
      // ~N·maxCell). A mega-cell is near-uniform, so every shard is full
      // of its top pairs (FunctionsSpec, 300-dup blob). The listener
      // reports a measured cell over the cap after the run.
      ensureCapAdvisoryListener(spark)
      val a = embedCells(spark, dir, cellCap, nVecs)
      a.alias("a").join(a.alias("b"),
          scoreOnceCond(a.columns.contains("other")))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          FastRound.round4(VectorOps.dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
        .limit(40)
        // rows-only gate hardening (as in ddSimhash): the dumped rows
        // re-certify pair orientation and that every emitted score is a
        // real cosine — |cos| ≤ 1 after round4 (zero norms are filtered,
        // so no NaN/Inf can reach here) and vec_a < vec_b from the join.
        // Evaluated on the 40 surviving rows only: free.
        .select(
          coalesce(assert_true(col("vec_a") < col("vec_b"),
              lit("embed invariant violated: vec_a >= vec_b")),
            col("vec_a")).as("vec_a"),
          col("vec_b"),
          coalesce(assert_true(col("cos").between(-1d, 1d),
              concat(lit("embed invariant violated: |cos| > 1: "), col("cos"))),
            col("cos")).as("cos"))
    }
  }

  /** The bucketed route's score-exactly-once join condition over the
    * `a`/`b` aliases of [[embedCells]] output: same (cluster, shard),
    * `vec_id` ordered. A multi-probed pair in BOTH its cells scores in
    * the smaller one where it shares a shard (`otherShard`), else here:
    * exactly once, with no distinct and no per-pair array.
    *
    * Null-safe `<=>`, NOT ===: an unreplicated side has other = null,
    * and `=== null` would null the whole conjunction and DROP a pair
    * that must be scored. The leading isNotNull makes the both-null
    * case (null <=> null = true) false. otherShard is non-null wherever
    * other is. */
  private[graft] def scoreOnceCond(probed: Boolean): Column = {
    val base = col("a.cluster") === col("b.cluster") &&
      col("a.shard") === col("b.shard") &&
      col("a.vec_id") < col("b.vec_id")
    if (probed)
      base && !(col("a.other").isNotNull &&
        (col("a.other") <=> col("b.other")) &&
        col("a.other") < col("a.cluster") &&
        (col("a.otherShard") <=> col("b.otherShard")))
    else base
  }

  /** The §8.4.8 route advisory: when the corpus size routes the top-40
    * mining onto the bucketed path, log what that buys and costs in
    * MEASURED terms. Advisory only — the routing itself is the
    * documented default. */
  private[graft] def embedRouteAdvisory(nVecs: Long,
      exactMax: Long): Option[graft.Advisory] =
    if (nVecs > exactMax)
      Some(graft.Advisory("dd_embed_cosine", "graft.embedCosine.exactMax",
        cap = exactMax, measured = nVecs, bound = -1L,
        s"dd_embed_cosine over $nVecs vectors routes BUCKETED " +
        s"(exactMax=$exactMax): pairs score within IVF cells only. " +
        "Measured pair-level miss (scale-stable through 1M vectors, " +
        "SURVEY 8.4.8) under the default boundary multi-probe " +
        "(graft.embedCosine.probeMargin=0.01): 0/2000 planted pairs at " +
        "cos>=0.9996 through 20M vectors under the corpus-aware cell cap " +
        "(SURVEY 8.4.8c/8.4.8d — the 16384 cap ceiling binds past ~16.8M " +
        "vectors but measures loss-free through ~20M; a separate advisory " +
        "quantifies the measured curve beyond), ~5-7% at cos~0.99; top-40 " +
        "contract measured 39-40/40 vs the exact route. The margin is " +
        "a measured dial (SURVEY 8.4.8b: 0.02/0.03 buy the ~0.99 tier " +
        "down to ~3%/2.7% for +15%/+31% wall); probeMargin=0 reverts " +
        "to single-cell assignment (~2-4% miss at cos>=0.9995). For " +
        "exhaustive pair mining raise graft.embedCosine.exactMax " +
        "knowingly (N^2/2 dot products).",
        // Observe, not RaiseKnob: the bucketed route is the operator
        // WORKING as designed at this N — auto-raising exactMax to
        // `measured` would re-run N^2/2 dot products unknowingly, the
        // opposite of what the "knowingly" in the prose demands
        action = graft.AdvisoryAction.Observe, target = ""))
    else None

  /** Mega-cell cap default `max(4096, 4·√N)`, at most 16384. The cap is
    * a per-task pair budget (~maxCell²/2 scorings in one task); 4·√N
    * keeps it ≈ 3.3× the mean probed cell (~1.22·√N), where a fixed
    * 4096 lost pairs from 4M vectors (SURVEY §8.4.8b). The ceiling
    * (≈ 1.3·10⁸ scorings) binds from ~16.8M vectors, and
    * [[embedCapAdvisory]] then reports the §8.4.8d loss ladder. */
  private[graft] def embedCosineMaxCellDefault(nVecs: Long): Long =
    math.min(16384L, math.max(4096L, embedCosineMaxCellSizing(nVecs)))

  /** The UNCAPPED zero-miss sizing `4·√N` — the single source both
    * [[embedCosineMaxCellDefault]] and [[embedCapAdvisory]] derive from,
    * so a retune cannot desynchronize the default from the advisory. */
  private[graft] def embedCosineMaxCellSizing(nVecs: Long): Long =
    4L * math.round(math.sqrt(nVecs.toDouble))

  /** Cap-binding advisory: fires when the bucketed route runs with a
    * cell cap BELOW the measured zero-miss sizing 4·√N — the 16384
    * ceiling binds (N ≳ 16.8M) or `maxCell` was pinned under the
    * default — so nothing promises a zero-miss contract the cap no
    * longer delivers. */
  private[graft] def embedCapAdvisory(nVecs: Long, exactMax: Long,
      cellCap: Long): Option[graft.Advisory] = {
    val target = embedCosineMaxCellSizing(nVecs)
    if (nVecs > exactMax && cellCap < target)
      Some(graft.Advisory("dd_embed_cosine", "graft.embedCosine.maxCell",
        cap = cellCap, measured = target, bound = -1L,
        s"dd_embed_cosine cell cap $cellCap is BELOW the measured " +
        s"zero-miss sizing 4*sqrt(N) = $target for this corpus " +
        s"($nVecs vectors): IVF cells crossing the cap are hash-split " +
        "and cross-shard pairs are not scored. Measured cap ladder at " +
        "20M vectors (SURVEY 8.4.8d; the 4M onset 8.4.8b agrees in " +
        "cap/mean-cell units): near-verbatim loss is 0 while the cap " +
        "stays >= ~2.3x the mean post-replication cell (the 16384 " +
        "ceiling through N ~30M), onset ~0.05-0.15% at ~2.0x (ceiling " +
        "at N ~40M), ~0.2-0.5% at ~1.7x (~54M), ~4% at ~1.4x (~80M), " +
        "~24% at ~1.0x (~145M). Raise " +
        "graft.embedCosine.maxCell knowingly (per-task pair budget " +
        "~maxCell^2/2 scorings, ~1M scorings/s/task) or accept the " +
        "measured loss.",
        action = graft.AdvisoryAction.RaiseKnob, target = target.toString))
    else None
  }

  /** Name PREFIX of the observation on the bucketed route's cell stream
    * ([[Similarity.shardCells]], [[embedCells]]). The name adds the
    * subtree's semanticHash: Spark rejects one name on DIFFERENT plans,
    * while identical constructions (self-join sides) must share it. */
  private[graft] val cellMetricsPrefix = "graft.embedCosine.cellStats"

  /** Attach the MEASURED cell observation: each row carries its cell's
    * member count (`cnt`), so max(cnt) vs the cap costs no extra pass
    * and catches a skewed mega-cell the N-derived [[embedCapAdvisory]]
    * cannot. Max-only: self-join sides above a reused exchange re-run
    * the observed subtree, and a sum or count would double. */
  private[graft] def observeCellMetrics(df: DataFrame, cellCap: Long,
      nRows: Long = -1L): DataFrame =
    observeCapMetrics(df, cellMetricsPrefix, col("cnt"), cellCap, nRows)

  /** Name PREFIX of the [[minhashCandidates]] band-bucket observation
    * — the minhash analogue of [[cellMetricsPrefix]]: same machinery,
    * same listener, own advisory. */
  private[graft] val bucketMetricsPrefix = "graft.minhash.bucketStats"

  /** The shared cap observation: max-only metrics (see
    * [[observeCellMetrics]]) named by prefix, subtree semanticHash, cap
    * and corpus count. The count rides the NAME because the metrics
    * never deliver when AQE prunes an empty result, and
    * [[prunedObservationAdvisory]] must still quote it. */
  private[graft] def observeCapMetrics(df: DataFrame, prefix: String,
      cnt: Column, cap: Long, nRows: Long = -1L): DataFrame =
    df.observe(
      s"$prefix/${Integer.toHexString(
        df.queryExecution.analyzed.semanticHash())}/cap=$cap/n=$nRows",
      max(cnt).as("max_cnt"),
      max(lit(cap)).as("cap"))

  /** The measured band-bucket advisory: fires iff the largest
    * measured band bucket crosses the member cap — i.e. at least one
    * bucket is being dropped from candidate generation. */
  private[graft] def minhashBucketAdvisory(maxBucket: Long,
      cap: Long): Option[graft.Advisory] =
    if (cap > 0 && maxBucket > cap)
      // bound: the dropped bucket loses ALL its candidate pairs —
      // C(m, 2) of the measured worst bucket (exact for the blob shape,
      // where every band's bucket is the same m members)
      Some(graft.Advisory("dd_minhash_lsh", "graft.minhash.maxBucket",
        cap = cap, measured = maxBucket,
        bound = maxBucket * (maxBucket - 1) / 2,
        s"dd_minhash_lsh MEASURED band bucket of $maxBucket members " +
        s"crosses graft.minhash.maxBucket = $cap and is DROPPED from " +
        "candidate generation. Scattered degenerate bands are harmless " +
        "(a true j>=0.5 pair collides in ~4 of 16 bands), but a " +
        "NEAR-VERBATIM blob larger than the cap — which dd_exact does " +
        "NOT collapse — crosses in ALL its bands and its pairs are " +
        "silently lost. Collapse blobs first (dd_exact, then near-dup " +
        s"on the residue), or set graft.minhash.maxBucket >= $maxBucket " +
        "knowingly (per-bucket candidate budget ~m^2/2 instances).",
        action = graft.AdvisoryAction.RaiseKnob,
        target = maxBucket.toString))
    else None

  /** The measured-cell advisory text: fires iff the largest measured
    * post-replication cell CROSSES the cap — the exact condition under
    * which hash-split shards exist and cross-shard pairs of that cell
    * go unscored. Quotes the measured split arithmetic rather than the
    * N-derived proxy. */
  private[graft] def measuredCellAdvisory(maxCell: Long,
      cellCap: Long): Option[graft.Advisory] =
    if (cellCap > 0 && maxCell > cellCap) {
      val shards = math.ceil(maxCell.toDouble / cellCap).toLong
      // bound: of the split cell's C(m, 2) pairs, the ~(1 − 1/shards)
      // fraction landing cross-shard is not scored
      val cellPairs = maxCell * (maxCell - 1) / 2
      Some(graft.Advisory("dd_embed_cosine", "graft.embedCosine.maxCell",
        cap = cellCap, measured = maxCell,
        bound = cellPairs - cellPairs / shards,
        s"dd_embed_cosine MEASURED post-replication IVF cell of " +
        s"$maxCell members crosses the cell cap $cellCap: that cell is " +
        s"hash-split into $shards shards and ~" +
        f"${(1.0 - 1.0 / shards) * 100}%.0f%% of ITS pairs are not " +
        "scored (graceful for top-40 mining of near-uniform duplicate " +
        "blobs — every shard is full of the blob's top pairs — but " +
        "real loss for a genuinely skewed corpus; SURVEY 8.4.8d's " +
        "cap/mean dial reaches the same regime at smaller N under " +
        "skew). This advisory keys on the MEASURED cell distribution, " +
        "not the 4*sqrt(N) sizing — set graft.embedCosine.maxCell >= " +
        s"$maxCell to score this cell unsplit (per-task pair budget " +
        "~maxCell^2/2 scorings, ~1M scorings/s/task) or accept the " +
        "split.",
        action = graft.AdvisoryAction.RaiseKnob, target = maxCell.toString))
    } else None

  private val capAdvisorySessions =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** True iff `name` is one of this module's cap observations — the
    * listener's dispatch predicate AND the pruned-observation scan's. */
  private def isCapObservation(name: String): Boolean =
    name.startsWith(cellMetricsPrefix) || name.startsWith(bucketMetricsPrefix)

  /** The advisory for a cap observation declared but never delivered:
    * AQE prunes CollectMetrics with an empty subtree, which is exactly
    * total loss (every bucket over the cap). With no measured max, it
    * quotes the cap and corpus count parsed from the name: N = 0 is a
    * benign empty result, a large N a degenerate one. */
  private[graft] def prunedObservationAdvisory(name: String): graft.Advisory = {
    val (op, knob) =
      if (name.startsWith(cellMetricsPrefix))
        ("dd_embed_cosine", "graft.embedCosine.maxCell")
      else ("dd_minhash_lsh", "graft.minhash.maxBucket")
    def seg(k: String): Option[String] =
      name.split(s"/$k=").lift(1).map(_.takeWhile(_ != '/'))
    val cap = seg("cap").getOrElse("?")
    // n = -1 (or a name without a /n= segment) means "not stamped"
    val n = seg("n").flatMap(_.toLongOption).getOrElse(-1L)
    val corpusNote =
      if (n == 0) "The corpus had 0 rows — this empty result is BENIGN. "
      else if (n > 0)
        s"The corpus had $n rows, so if duplicates were expected this " +
          "empty result is the degenerate shape, not an empty input. "
      else ""
    graft.Advisory(op, knob,
      cap = seg("cap").flatMap(_.toLongOption).getOrElse(-1L),
      measured = -1L, bound = -1L,
      s"$op: this route's result (its branch, in a composite query) is " +
      "EMPTY and the cap observation was pruned with the empty plan " +
      "(AQE empty-relation propagation), so no measured " +
      s"advisory is available. ${corpusNote}An empty result can be " +
      "benign (empty or " +
      "pair-free input) — but if duplicates were expected, the cap " +
      s"($knob = $cap) may have dropped EVERY candidate (a fully-" +
      "degenerate corpus, e.g. one near-verbatim blob larger than the " +
      "cap, hits exactly this). Collapse blobs first (dd_exact, then " +
      s"near-dup on the residue) or re-run with $knob raised past the " +
      "largest duplicate-blob size.",
      // RaiseKnob with an EMPTY target: the sufficient value was never
      // observed (the observation itself was pruned) — the documented
      // "raise past the largest expected blob" semantic
      action = graft.AdvisoryAction.RaiseKnob, target = "")
  }

  /** Register (once per session) the listener that turns the cap
    * observations into advisories after each query
    * ([[graft.Graft.advise]]); declared but undelivered observations
    * fire [[prunedObservationAdvisory]]. */
  private[graft] def ensureCapAdvisoryListener(spark: SparkSession): Unit = {
    val fresh = capAdvisorySessions.synchronized {
      capAdvisorySessions.put(spark, java.lang.Boolean.TRUE) == null
    }
    if (fresh)
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            val delivered = qe.observedMetrics
            // prefix match: a composite query can carry SEVERAL cap
            // observations (one per distinct route subtree) — advise
            // on each, dispatching by prefix
            delivered.foreach { case (name, row) =>
              val sink: Option[(Long, Long) => Option[graft.Advisory]] =
                if (name.startsWith(cellMetricsPrefix))
                  Some(measuredCellAdvisory(_, _))
                else if (name.startsWith(bucketMetricsPrefix))
                  Some(minhashBucketAdvisory(_, _))
                else None
              sink.foreach { advise =>
                val i = row.fieldIndex("max_cnt")
                if (!row.isNullAt(i)) // empty stream → null max
                  advise(row.getLong(i), row.getAs[Long]("cap"))
                    .foreach(graft.Graft.advise(qe.sparkSession, _, log))
              }
            }
            // every cap observation the ANALYZED plan declares must have
            // delivered. Not withCachedData: a healthy cached route still
            // delivers and a degenerate one never does, but cache
            // substitution hides both (KnobsSpec). Distinct: self-join
            // sides carry one name twice but deliver once.
            qe.analyzed.collect {
              case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
                  if isCapObservation(c.name) => c.name
            }.distinct.filterNot(delivered.contains).foreach { name =>
              graft.Graft.advise(qe.sparkSession,
                prunedObservationAdvisory(name), log)
            }
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
  }

  /** The effective boundary-probe margin — the
    * `graft.embedCosine.probeMargin` conf with its measured default
    * (0.01, §8.4.8b). Single-sourced here so EmbedRecallSmoke's cap
    * ladder replicates exactly the margin the route would use. */
  private[graft] def embedProbeMargin(spark: SparkSession): Double =
    conf(spark, "graft.embedCosine.probeMargin")(_.toDouble).getOrElse(0.01)

  /** The bucketed embed route's cell assignment — (vec_id, v, nrm,
    * cluster, shard) after the mega-cell hash-split — separate so
    * EmbedRecallSmoke can measure pair co-residency, the route's miss
    * rate, without the top-40 cut. The cluster-key repartition is read
    * back by both self-join sides (it satisfies the (cluster, shard)
    * join), so the N×√N assignment runs once. probeMargin > 0 (default)
    * turns on multi-probe, whose shards ivfProbedParts computes on the
    * slim pre-payload stream; 0 gives single-cell assignment. */
  private[graft] def embedCells(spark: SparkSession, dir: String,
      cellCap: Long, nVecs: Long = -1L): DataFrame = {
    val pm = embedProbeMargin(spark)
    if (pm > 0)
      Similarity.ivfProbedParts(spark, dir, pm, cellCap, nVecs)
        .repartition(col("cluster"))
    else {
      val byCell = Window.partitionBy("cluster")
      Similarity.ivfParts(spark, dir)._3
        .repartition(col("cluster"))
        .withColumn("cnt", count(lit(1)).over(byCell))
        .withColumn("shard", pmod(xxhash64(col("vec_id")),
          ceil(col("cnt") / lit(cellCap.toDouble)).cast("long")))
        // same measured-cell observation as the probed path; max-only
        // metrics stay correct though the window re-runs on both
        // self-join sides above the reused exchange
        .transform(observeCellMetrics(_, cellCap, nVecs))
        .drop("cnt")
    }
  }

  /** Benchmark decontamination: flag documents sharing any 3-gram with
    * a benchmark phrase set. The benchmark side is tiny by nature →
    * broadcast equi-join on the shingle; each training doc is checked
    * in one scan regardless of corpus size (the standard pre-training
    * leakage filter). */
  def ddDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val phrases = Seq(
      "query data stream", "table key filter", "sort table scan")
    import spark.implicits._
    val bench = phrases.toDF("phrase")
      .select(col("phrase"), explode(shingles(col("phrase"))).as("sh"))
    // intersect each shingle ARRAY with the literal bench shingles
    // before exploding, so only hits become rows; the literal equals
    // shingles() on 3-token phrases, and the join still names phrases
    val benchShs = phrases
      .flatMap(_.trim.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")))
      .distinct
    val docHits = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_intersect(shingles(col("text")),
          typedLit(benchShs))).as("sh"))
    docHits.join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        array_join(array_sort(collect_set(col("phrase"))), ",").as("matched"))
      .orderBy("doc_id")
  }

  /** Near-dup CLUSTERS: connected components over the j ≥ 0.5 pair
    * graph, each member labeled with the component's minimum doc_id and
    * the component size. Min-label propagation, one join + one
    * aggregate per round; the aggregate keeps the previous label, so
    * convergence is a filter-count on the persisted round output. */
  def ddCluster(spark: SparkSession, dir: String): DataFrame =
    clusterFromPairs(ddNgramJaccardPairs(spark, dir)
      .select("doc_a", "doc_b"))

  /** [[ddCluster]] over the STAGED pair set: its scale wall is the ngram
    * single-plan wall (SURVEY §8.4.3g). Same labels and oracle; eager,
    * with [[ddNgramJaccardStaged]]'s stageDir contract. */
  def ddClusterStaged(spark: SparkSession, dir: String,
      stageDir: String = "", shards: Int = -1): DataFrame =
    clusterFromPairs(ddNgramJaccardStaged(spark, dir, stageDir, shards)
      .select("doc_a", "doc_b"))

  private def clusterFromPairs(pairs: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both edge directions from ONE pass over the pair subtree (a
    // union of two selects would recompute the whole dedup DAG twice)
    val edges = pairs.select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a"), col("e.doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 0 fused into the init: label = min(self, neighbors)
    val init = edges
      .groupBy(col("doc_a").as("node"))
      .agg(least(first(col("doc_a")), min(col("doc_b"))).as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // `cached` is the handle whose blocks get released each round;
    // `labels` is its (node, label) projection feeding the next round
    var cached = init
    var labels = init
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, edges("doc_a") === labels("node"))
        .select(col("doc_b").as("node"), col("label"), lit(false).as("own"))
      val next = labels.select(col("node"), col("label"), lit(true).as("own"))
        .union(prop)
        .groupBy("node").agg(
          min("label").as("label"),
          // every node contributes exactly one own=true row, so prev is
          // total and label <= prev by construction
          min(when(col("own"), col("label"))).as("prev"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.where(col("label") < col("prev")).count()
      cached.unpersist()
      cached = next
      labels = next.select("node", "label")
    }
    // the labels are materialized, so the edges can go; an evicted
    // label partition recomputes through lineage, slower but correct
    edges.unpersist()
    labels
      .select(col("node").as("doc_id"), col("label").as("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .orderBy("doc_id")
  }

  /** Cross-document repeated-span detection (Lee et al. 2021): per
    * document, the fraction of its 5-gram spans (with multiplicity)
    * that occur in at least `minDocs` distinct documents. Grams join on
    * a 60-bit key (15 md5 hex chars, derived the same way in DuckDB, so
    * a collision is identical in both engines). */
  def ddSpan(spark: SparkSession, dir: String, minDocs: Int = 2): DataFrame = {
    // null text excluded EXPLICITLY, as in the oracle, whose LEFT JOIN
    // would otherwise keep docs the exploded stream drops. Span df stays
    // distinct+agg+join-back: a dense_rank window (dd_cdc's shape) sorts
    // the ~|tokens|-row gram stream and measured 25× slower, while AQE
    // broadcasts the small gram set.
    val docs = t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
    val base = docs.select(col("doc_id"),
      greatest(size(col("tk")) - 4, lit(0)).cast("long").as("n_spans"))
    // guard: sequence(1, n) with n < 1 would DESCEND in Spark
    val grams = docs
      .where(size(col("tk")) >= 5)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 4),
          i => concat_ws(" ", slice(col("tk"), i, lit(5))))).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("g"))
    val dupGrams = grams.distinct()
      .groupBy("g").agg(count(lit(1)).as("ddf"))
      .where(col("ddf") >= minDocs)
      .select("g")
    val dupCnt = grams.join(dupGrams, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_cnt"))
    base.join(dupCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup_cnt"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_bp",
        when(col("n_spans") === 0, 0L)
          .otherwise(expr("(10000 * n_dup_spans) div n_spans")))
      .orderBy("doc_id")
  }

  /** Content-defined chunk dedup (the FastCDC/Rabin family): each
    * document's token stream is cut where the hash of the trailing
    * 4-token window ≡ 0 (mod 16) — boundaries depend only on LOCAL
    * content, so an edit moves at most its neighboring cut and
    * unchanged regions keep their chunk fingerprints. Output: per-doc
    * chunk count, chunks shared with ≥ 2 documents, and the duplicated
    * fraction in basis points. Chunk df is a dense_rank + max window on
    * the 60-bit md5 key, not a distinct+agg+join-back, which would
    * re-run the chunker (the dominant cost) per branch. */
  def ddCdc(spark: SparkSession, dir: String): DataFrame = {
    val inst = t(spark, dir, "documents")
      .where(col("text").isNotNull) // mirrored in the oracle, as in ddSpan
      .select(col("doc_id"),
        explode(CdcChunks.cdc_chunks(col("text"))).as("chunk"))
      .select(col("doc_id"),
        conv(substring(md5(col("chunk")), 1, 15), 16, 10).cast("long").as("g"))
    val wOrd = Window.partitionBy("g").orderBy("doc_id")
    val wAll = Window.partitionBy("g")
    inst
      .withColumn("dr", dense_rank().over(wOrd))
      .withColumn("ddf", max("dr").over(wAll))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("ddf") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_bp", expr("(10000 * n_dup_chunks) div n_chunks"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_cdc"           -> ddCdc _,
    "dd_cluster"       -> ddCluster _,
    "dd_decontaminate" -> ddDecontaminate _,
    "dd_exact"         -> ddExact _,
    "dd_ngram_jaccard" -> ((s: SparkSession, d: String) => ddNgramJaccard(s, d)),
    // disk-bounded staged modes: same pair set and labels, gate-checked
    // against the SAME oracles as their single-plan twins
    "dd_ngram_staged"  -> ((s: SparkSession, d: String) => ddNgramJaccardStaged(s, d)),
    "dd_cluster_staged" -> ((s: SparkSession, d: String) => ddClusterStaged(s, d)),
    "dd_minhash_lsh"   -> ddMinhashLsh _,
    "dd_simhash"       -> ddSimhash _,
    "dd_embed_cosine"  -> ddEmbedCosine _,
    "dd_span"          -> ((s: SparkSession, d: String) => ddSpan(s, d)),
    // the scale routes, forced: the gate corpora sit below both
    // switches. Rows-only checks, edge-gated by EdgeGateSpec.
    "dd_simhash_wide" ->
      ((s: SparkSession, d: String) => ddSimhash(s, d, wideBands = true)),
    "dd_embed_cosine_bucketed" ->
      ((s: SparkSession, d: String) => ddEmbedCosine(s, d, exactMax = -1L)),
  )

  /** Registered queries whose EAGER staged execution makes them
    * by-design heavier than their single-plan twins — the bench derives
    * its `total_shared` exclusion list from this tag (KnobsSpec pins
    * that every tag names a registered query). */
  val benchHeavy: Set[String] = Set("dd_ngram_staged", "dd_cluster_staged")

  /** The exact-Jaccard pair CTEs `t` (shingle sets), `s` (exploded) and
    * `p` (shared counts per pair), shared by the ngram and cluster
    * oracles. */
  private val ngramPairCtes: String =
    """t AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(tk)-2, 1)),
      |    i -> array_to_string(tk[i:i+2],' '))) AS shs
      |  FROM (SELECT doc_id, string_split_regex(trim(text),'\s+') AS tk
      |        FROM documents)),
      |s AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM t),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared,
      |        any_value(a.n) AS na, any_value(b.n) AS nb
      |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)""".stripMargin

  private val ngramOracleSql: String =
    s"WITH $ngramPairCtes\n" +
      """SELECT doc_a, doc_b,
        |  round(shared/(na+nb-shared), 4) AS jaccard
        |FROM p WHERE round(shared/(na+nb-shared), 4) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin

  /** The dd_cluster DuckDB oracle — shared by the staged composition
    * (identical labels by construction). The recursive CTE reaches
    * every node from every component member, so min(reached) is the
    * component minimum. */
  private val clusterOracleSql: String =
    s"WITH RECURSIVE $ngramPairCtes,\n" +
      """pairs AS (SELECT doc_a, doc_b FROM p
        |          WHERE round(shared/(na+nb-shared), 4) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node),
        |lab AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node)
        |SELECT doc_id, cluster,
        |  count(*) OVER (PARTITION BY cluster) AS cluster_size
        |FROM lab ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_decontaminate" ->
      """WITH bench AS (
        |  SELECT phrase, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk)-2, 1)),
        |    i -> array_to_string(tk[i:i+2],' ')))) AS sh
        |  FROM (SELECT phrase, string_split_regex(trim(phrase),'\s+') AS tk
        |        FROM (VALUES ('query data stream'), ('table key filter'),
        |                     ('sort table scan')) p(phrase))),
        |ds AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk)-2, 1)),
        |    i -> array_to_string(tk[i:i+2],' ')))) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text),'\s+') AS tk
        |        FROM documents))
        |SELECT doc_id, count(*) AS n_hits,
        |  array_to_string(list_sort(list(DISTINCT phrase)), ',') AS matched
        |FROM ds JOIN bench USING (sh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_exact" ->
      """SELECT doc_id, canonical, group_size, fp FROM (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY fp) AS canonical,
        |    count(*) OVER (PARTITION BY fp) AS group_size, fp
        |  FROM (SELECT doc_id,
        |          md5(array_to_string(list_sort(list_distinct(
        |            string_split_regex(trim(text),'\s+'))),' ')) AS fp
        |        FROM documents))
        |WHERE group_size > 1 ORDER BY doc_id""".stripMargin,
    "dd_ngram_jaccard" -> ngramOracleSql,
    // the staged mode must produce the identical pair set — same oracle
    "dd_ngram_staged" -> ngramOracleSql,
    "dd_cluster" -> clusterOracleSql,
    // the staged composition must produce identical labels — same oracle
    "dd_cluster_staged" -> clusterOracleSql,
    // LSH verifies candidates with the exact Jaccard, so its output is
    // the exact pair set (see ddMinhashLsh scaladoc) — same oracle.
    "dd_minhash_lsh" -> ngramOracleSql,
    "dd_embed_cosine" ->
      """WITH e AS (SELECT vec_id, v FROM (
        |             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |             FROM embeddings)
        |           WHERE list_sum(list_transform(v, x -> x*x)) > 0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, vec_a, vec_b LIMIT 40""".stripMargin,
    "dd_span" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS tk
        |           FROM documents WHERE text IS NOT NULL),
        |base AS (SELECT doc_id, greatest(len(tk)-4, 0) AS n_spans FROM t),
        |g AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(gram),1,15)) AS BIGINT) AS g
        |      FROM (SELECT doc_id, unnest(list_transform(
        |              generate_series(1, len(tk)-4),
        |              i -> array_to_string(tk[i:i+4],' '))) AS gram
        |            FROM t WHERE len(tk) >= 5)),
        |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS ddf
        |                       FROM g GROUP BY g) WHERE ddf >= 2),
        |cnt AS (SELECT doc_id, count(*) AS n_dup_spans
        |        FROM g JOIN dup USING (g) GROUP BY doc_id)
        |SELECT doc_id, n_spans,
        |  coalesce(n_dup_spans, 0) AS n_dup_spans,
        |  CASE WHEN n_spans = 0 THEN 0
        |       ELSE (10000 * coalesce(n_dup_spans, 0)) // n_spans
        |  END AS dup_bp
        |FROM base LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dd_cdc" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS tk
        |           FROM documents WHERE text IS NOT NULL),
        |cutpos AS (SELECT doc_id, tk,
        |    list_concat(list_concat([0],
        |      CASE WHEN len(tk) >= 5 THEN
        |        list_filter(generate_series(4, len(tk)-1),
        |          i -> CAST(('0x' || substr(md5(
        |                 array_to_string(tk[i-3:i],' ')),1,8)) AS BIGINT)
        |               % 16 = 0)
        |      ELSE [] END), [len(tk)]) AS cuts
        |  FROM t),
        |chunked AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(cuts)-1),
        |      j -> array_to_string(tk[cuts[j]+1:cuts[j+1]],' ')) AS chunks
        |  FROM cutpos),
        |base AS (SELECT doc_id, len(chunks) AS n_chunks FROM chunked),
        |inst AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(chunk),1,15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, unnest(chunks) AS chunk FROM chunked)),
        |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS ddf
        |                       FROM inst GROUP BY g) WHERE ddf >= 2),
        |cnt AS (SELECT doc_id, count(*) AS n_dup_chunks
        |        FROM inst JOIN dup USING (g) GROUP BY doc_id)
        |SELECT doc_id, n_chunks,
        |  coalesce(n_dup_chunks, 0) AS n_dup_chunks,
        |  (10000 * coalesce(n_dup_chunks, 0)) // n_chunks AS dup_bp
        |FROM base LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
  )
}
