package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-extrapolation smoke: replicate the documents/embeddings tables
  * N× (fresh ids, perturbed text so dedup groups don't explode) and
  * time the heavy operators — evidence that candidate generation stays
  * near-linear instead of quadratic. Run:
  *   sbt "runMain graft.ScaleSmoke [factor] [op,op,...]"
  * The optional second arg restricts to named operators (substring
  * match) for focused scaling experiments at large factors.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    val only: String => Boolean = args.lift(1) match {
      case Some(names) =>
        val wanted = names.split(",").toSeq; n => wanted.exists(n.contains)
      case None => _ => true
    }
    // 64 partitions, measured: raising to 500 at the 500× factor made
    // dd_ngram WORSE (241 → 324 s) — on a 32-thread single box the
    // extra sort runs and task overhead beat any spill relief, so the
    // big-corpus ngram wall is volume-bound, not partition-count-bound.
    // SCALE_SMOKE_PARTITIONS overrides for experiments.
    val parts = sys.env.getOrElse("SCALE_SMOKE_PARTITIONS", "64")
    // SCALE_SMOKE_MASTER=local-cluster[4,8,8192] runs REAL multi-
    // executor shuffle on one box (4 worker JVMs × 8 cores, separate
    // heaps, serialized exec-to-exec fetches) — the experiment that
    // separates "single-box shuffle bandwidth" from "the operator's
    // shuffle volume is inherently the wall" for the 500× heavy-family
    // walls. Executors are fresh JVMs: ClusterJar.deploy ships the app
    // jar and the JDK-17 module opens the driver got from build.sbt.
    val master = sys.env.getOrElse("SCALE_SMOKE_MASTER", "local[32]")
    val builder = Graft.sessionBuilder().master(master)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
    // SCALE_SMOKE_CONF="k=v;k=v" — arbitrary session confs for
    // experiments (e.g. spark.io.compression.codec=zstd to trade shuffle
    // CPU for spill disk on ops whose tier-1 volume exceeds local disk).
    // ';' is the entry separator, so conf VALUES must not contain ';'.
    sys.env.get("SCALE_SMOKE_CONF").foreach(_.split(";").foreach { kv =>
      require(kv.contains("="),
        s"bad SCALE_SMOKE_CONF entry '$kv': expected k=v;k=v " +
          "(values must not contain ';')")
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    if (master.startsWith("local-cluster")) ClusterJar.deploy(builder)
    val spark = builder.getOrCreate()
    println(s"master: $master, shuffle partitions: $parts")
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val big = "target/scale-smoke"

    // documents ×factor: new ids; every token of copy k!=0 is prefixed
    // with the copy id, so each copy has its own shingle vocabulary —
    // the corpus GROWS instead of becoming an all-near-dup pathology
    // (same per-shingle document frequency as the original, candidate
    // pairs scale linearly with the factor). Copies k>=1 additionally
    // get a SHARED five-token boilerplate suffix — a corpus-wide hot
    // shingle (df ~ 0.95·corpus) that the naive shared-shingle join
    // would turn into ~df² pair instances; the scale-aware dfCap must
    // drop it. Unrelated docs share ONLY those ~3 boilerplate shingles
    // (j « 0.5), so the true pair set is unchanged.
    // replica-id strides are max(id)+1, NOT row counts: sparse or
    // non-0-based source ids would otherwise collide across copies and
    // silently merge rows in the scaled corpus. getAs[Number] accepts
    // any integral id type, and a NULL max on a NON-empty table fails
    // loudly — stride 0 there would silently merge every replica
    // (empty table → 0 stride, nothing to replicate, fine)
    def stride(df: org.apache.spark.sql.DataFrame, idCol: String): Long = {
      val s = Option(df.agg(max(idCol)).head.getAs[Number](0))
        .map(_.longValue + 1).getOrElse(0L)
      require(s > 0 || df.isEmpty,
        s"max($idCol) is NULL on a non-empty table — replica ids would collide")
      s
    }
    val boiler = " legal notice all rights reserved"
    // SCALE_SMOKE_REUSE=1 skips regeneration when target/scale-smoke
    // already holds a corpus — for back-to-back experiments at the same
    // factor (e.g. a local[32] run then its local-cluster companion)
    // where rebuilding the 500× corpus would dominate the wall. The
    // caller owns the factor-matches-directory invariant; the printed
    // corpus counts below are the check.
    val reuse = sys.env.get("SCALE_SMOKE_REUSE").contains("1") &&
      new java.io.File(s"$big/documents.parquet").exists()
    if (reuse) println(s"reusing existing corpus at $big")
    // SCALE_SMOKE_TABLES=documents[,embeddings,events] restricts
    // GENERATION to the named tables — a docs-only frontier probe
    // (e.g. the 8000× staged run) skips replicating 800M event rows it
    // never reads. The dir then only holds what was generated: a later
    // REUSE run of another family must regenerate. Default: all.
    val allTables = Set("documents", "embeddings", "events")
    val genTables = sys.env.get("SCALE_SMOKE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(allTables)
    // a typo ("embedding") would otherwise silently skip a table and
    // crash HOURS later at the first query over the missing family
    require(genTables.nonEmpty && genTables.subsetOf(allTables),
      s"SCALE_SMOKE_TABLES must name only ${allTables.mkString(",")}: " +
        s"got ${genTables.mkString(",")}")
    if (!reuse && genTables != allTables)
      println(s"generating ONLY ${genTables.mkString(",")} " +
        "(SCALE_SMOKE_TABLES) — other families need a regenerated corpus")
    // source-doc stride, also the boilerplate-df estimate below (docs-n
    // = count of non-original copies, each carrying the hot suffix)
    val n = stride(Tables.t(spark, src, "documents"), "doc_id")
    if (!reuse) {
    if (genTables("documents")) {
    val d = Tables.t(spark, src, "documents")
    d.crossJoin(spark.range(factor).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * n).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(array_join(transform(split(col("text"), " "),
            t => concat(lit("v"), col("copy"), lit("·"), t)), " "),
            lit(boiler))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$big/documents.parquet")
    }
    if (genTables("embeddings")) {
    val e = Tables.t(spark, src, "embeddings")
    val ne = stride(e, "vec_id")
    e.crossJoin(spark.range(factor).select(col("id").as("copy")))
      .select((col("vec_id") + col("copy") * ne).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    }

    // events ×factor: new event ids and a DISJOINT user population per
    // copy (user count grows with the corpus — replicating onto the
    // same users would turn per-user windows into an artificial skew
    // pathology instead of a bigger corpus). ts passes through VERBATIM
    // in whatever shape the driver's file loads as (raw INT64 under
    // nanosAsLong for a nanos corpus, TIMESTAMP_NTZ for a micros one) —
    // Tables.t's schema-adaptive loader normalizes the replica the same
    // way it normalizes the source.
    if (genTables("events")) {
    val ev = spark.read.parquet(s"$src/events.parquet")
    val nEv = stride(ev, "event_id")
    val nUsers = stride(ev, "user_id")
    ev.crossJoin(spark.range(factor).select(col("id").as("copy")))
      .select((col("event_id") + col("copy") * nEv).as("event_id"),
        col("ts"),
        (col("user_id") + col("copy") * nUsers).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$big/events.parquet")
    }
    }

    def countIf(table: String): Long =
      if (new java.io.File(s"$big/$table.parquet").exists())
        spark.read.parquet(s"$big/$table.parquet").count()
      else -1L
    val docs = countIf("documents")
    val nEmb = countIf("embeddings")
    val nEvt = countIf("events")
    println(s"corpus: $docs documents, $nEmb embeddings, " +
      s"$nEvt events (${factor}x sf0.1; -1 = not generated)")
    // the query section keys off what EXISTS in the corpus dir, not
    // off SCALE_SMOKE_TABLES (r19 ADVICE: the gen restriction alone
    // left every family's queries running — a docs-only generation
    // without the op-filter arg crashed hours later at the first
    // query over a missing table; this also covers a REUSE of a
    // partially-generated corpus). An op named by the explicit CLI
    // filter still skips VISIBLY when its table is absent.
    val present = Map(
      "documents" -> docs, "embeddings" -> nEmb, "events" -> nEvt)
      .collect { case (t, c) if c >= 0 => t }.toSet
    if (docs >= 0) {
      // dfCap arithmetic is meaningless without documents (sqrt(-1)
      // would print a silent 64-cap line)
      val cap = graft.functions.Dedup.dfCapFor(docs)
      println(s"ngram dfCap = $cap (8*sqrt(N)); boilerplate shingle df ~ " +
        s"${docs - n} -> ${if (docs - n > cap) "CAP BINDS (hot-key quadratic defused)"
          else "cap does not bind"}")
    }
    def time(name: String, needs: String = "documents")(f: => Long): Unit =
      if (only(name)) {
        if (!present(needs))
          println(s"$name SKIPPED: table '$needs' not in this corpus " +
            "(generate it, or narrow the op filter)")
        else {
          val t0 = System.nanoTime(); val rows = f
          println(f"$name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s   rows=$rows")
        }
      }
    spark.range(1000000).groupBy(expr("id % 97")).count().count() // warmup
    import graft.functions._
    time("dd_exact")(Dedup.ddExact(spark, big).count())
    // candidates alongside the full operator, as for minhash below
    time("ng_candidates")(Dedup.ngramCandidates(spark, big).count())
    time("dd_ngram_jaccard")(Dedup.ddNgramJaccard(spark, big).count())
    // tier-0 MinHash-prefix experiment (§8.4.7): survivor count = the
    // discard ratio; the mh16 run is the full operator with the knob on
    time("ng_mh16_surv")(Dedup.ngramTier0Survivors(spark, big).count())
    time("dd_ngram_mh16") {
      spark.conf.set("graft.ngram.mhPrefixSlots", "16")
      try Dedup.ddNgramJaccard(spark, big).count()
      finally spark.conf.unset("graft.ngram.mhPrefixSlots")
    }
    // the disk-bounded staged mode (§8.4.3g) with tier-0 on — the
    // escape for corpora where even the survivor pass out-spills the
    // box (measured at 20M docs/72 GB free under zstd). Shard count
    // bounds per-job spill at ~1/K of the single-query plan's.
    time("dd_ngram_staged16") {
      // SCALE_SMOKE_STAGE_SHARDS forces k; unset = the corpus-aware
      // default (round 19: ceil(predicted spill / budget) from the
      // measured ladder). The resolved k is printed from the staged
      // mode's own per-stage ledger records (cap field) — the receipt
      // quotes the auto-sizing, not an assumed constant.
      val shards = sys.env.get("SCALE_SMOKE_STAGE_SHARDS")
        .map(_.toInt).getOrElse(-1)
      spark.conf.set("graft.ngram.mhPrefixSlots", "16")
      try {
        Graft.clearAdvisories(spark)
        val n = Dedup.ddNgramJaccardStaged(spark, big,
          stageDir = "target/scale-smoke-staged", shards = shards).count()
        Graft.advisoryRecords(spark)
          .filter(a => a.op == "dd_ngram_staged" &&
            a.knob.startsWith("stage:"))
          .foreach(a => println(s"  [staged] ${a.knob}: shards=${a.cap} " +
            s"rows=${a.measured} bytes=${a.bound} wallMs=${a.target}"))
        // the disk-aware budget decision (round 20) — the receipt
        // quotes probed free space, chosen budget, and its source
        Graft.advisoryRecords(spark)
          .filter(a => a.knob == "graft.ngram.stageSpillBudgetBytes")
          .foreach(a => println(s"  [staged] budget=${a.cap} " +
            s"probedFree=${a.measured} predictedSpill=${a.bound} " +
            s"source=${a.target}"))
        n
      } finally spark.conf.unset("graft.ngram.mhPrefixSlots")
    }
    // candidate count alongside wall-clock: the verify is candidate-
    // proportional, so wall growing faster than candidates would flag a
    // super-linear term hiding in the operator
    time("mh_candidates")(Dedup.minhashCandidates(
      Tables.t(spark, big, "documents")
        .select(col("doc_id"), Dedup.shingles(col("text")).as("shs"))).count())
    time("dd_minhash_lsh")(Dedup.ddMinhashLsh(spark, big).count())
    // count + an order-free label checksum in ONE aggregate (the unused
    // cluster_size window and the orderBy prune out, so the wall stays
    // comparable to the count-only rows of earlier rounds); the mh16
    // twin then shows whether tier-0's §8.4.7 speedup transfers to the
    // component DAG — with IDENTICAL components, not just a count
    def clusterRun(): Long = {
      // bit_xor, not sum: xxhash64 is full-range and summing 2.5M of
      // them overflows long under ANSI (found the hard way at 500×);
      // xor is order-free and the (doc_id, cluster) rows are unique
      val r = Dedup.ddCluster(spark, big)
        .agg(count(lit(1)),
          expr("bit_xor(xxhash64(doc_id, cluster))")).head
      println(s"  dd_cluster label checksum=${r.getLong(1)}")
      r.getLong(0)
    }
    time("dd_cluster")(clusterRun())
    time("dd_cluster_mh16") {
      spark.conf.set("graft.ngram.mhPrefixSlots", "16")
      try clusterRun()
      finally spark.conf.unset("graft.ngram.mhPrefixSlots")
    }
    // the staged composition for components (round 20, r19 verdict #3:
    // dd_cluster's wall IS pair generation — this is the escape's
    // receipt past the 20M single-plan ENOSPC). Checksum as in
    // clusterRun so label parity with dd_cluster_mh16 is a field read.
    time("dd_cluster_staged") {
      val shards = sys.env.get("SCALE_SMOKE_STAGE_SHARDS")
        .map(_.toInt).getOrElse(-1)
      spark.conf.set("graft.ngram.mhPrefixSlots", "16")
      try {
        Graft.clearAdvisories(spark)
        val r = Dedup.ddClusterStaged(spark, big,
            stageDir = "target/scale-smoke-staged", shards = shards)
          .agg(count(lit(1)),
            expr("bit_xor(xxhash64(doc_id, cluster))")).head
        println(s"  dd_cluster_staged label checksum=${r.getLong(1)}")
        Graft.advisoryRecords(spark)
          .filter(a => a.op == "dd_ngram_staged" &&
            a.knob.startsWith("stage:"))
          .foreach(a => println(s"  [staged] ${a.knob}: shards=${a.cap} " +
            s"rows=${a.measured} bytes=${a.bound} wallMs=${a.target}"))
        r.getLong(0)
      } finally spark.conf.unset("graft.ngram.mhPrefixSlots")
    }
    time("dd_simhash")(Dedup.ddSimhash(spark, big).count())
    // both simhash band constructions, candidates + full operator: the
    // wide (8,4) plan must show the candidate set decoupling from the
    // chunk join's ~N²/2¹⁵ growth (the round-7 scale fix)
    time("sh_cand_chunk")(Dedup.simhashCandidates(spark, big, wideBands = false).count())
    time("sh_cand_wide")(Dedup.simhashCandidates(spark, big, wideBands = true).count())
    time("dd_simhash_wide")(Dedup.ddSimhash(spark, big, wideBands = true).count())
    time("dd_span")(Dedup.ddSpan(spark, big).count())
    time("dd_cdc")(Dedup.ddCdc(spark, big).count())
    time("ta_bm25")(TextAnalysis.taBm25(spark, big).count())
    time("ta_fingerprint")(TextAnalysis.taFingerprint(spark, big).count())
    time("ta_shuffle")(TextAnalysis.taShuffle(spark, big).count())
    time("ta_pack")(TextAnalysis.taPack(spark, big).count())
    // per-copy token prefixes give the replicated corpus a vocabulary of
    // ~factor·|V| distinct tokens, so a k=100 cut actually BINDS here —
    // exercises the TakeOrdered path the sf corpus (31 tokens) never hits
    time("ta_vocab_k100")(TextAnalysis.taVocab(spark, big, 100).count())
    time("ss_ivf_topk", needs = "embeddings")(
      Similarity.ssIvfTopK(spark, big).count())
    // corpus-size-routed: exact broadcast loop at <=2^16 vectors (20x =
    // 40k), bucketed IVF-cell pairing above (40x = 80k) — the factor
    // sweep exercises both regimes of the round-7 routing
    time("dd_embed_cosine", needs = "embeddings")(
      Dedup.ddEmbedCosine(spark, big).count())
    // events family: per-user windows (sessionize, as-of) must scale
    // with the USER population, the range join with its bucket grid
    import graft.queries.Relational
    time("q11_hourly", needs = "events")(
      Relational.q11HourlyEvents(spark, big).count())
    time("q12_sessionize", needs = "events")(
      Relational.q12Sessionize(spark, big).count())
    time("q14_asof_join", needs = "events")(
      Relational.q14AsofJoin(spark, big).count())
    time("q15_range_join", needs = "events")(
      Relational.q15RangeJoin(spark, big).count())
    time("q17_distinct", needs = "events")(
      Relational.q17DistinctUsers(spark, big).count())
    spark.stop()
  }
}
