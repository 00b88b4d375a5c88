package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Similarity, TopKAgg, VectorOps}

/** Pair-level quality measurement for the bucketed embed-cosine route
  * (SURVEY §8.4.8) — the embed analogue of the j = 0.5 boundary corpus
  * KnobsSpec builds for the ngram tier-0 filter.
  *
  * The bucketed route (`ddEmbedCosine`, N > exactMax) scores a pair
  * only when both vectors share an IVF (cluster, shard); a true
  * near-dup pair straddling a Voronoi boundary is structurally missed.
  * Until this smoke, that miss rate was pinned by a 20-planted-pair
  * unit spec only. Protocol:
  *
  *  1. Background: sf0.1 embeddings ×factor, copy 0 verbatim and
  *     copies k ≥ 1 perturbed by deterministic per-element hash noise
  *     (unit-norm 64-dim vectors; per-copy amplitudes 0.02–1.0 make a
  *     realistic mix of tight clusters and near-random vectors).
  *  2. Planted true pairs: nPlant disjoint base vectors per amplitude
  *     tier; the partner is base + elementwise uniform hash noise of
  *     the tier's amplitude. On unit-norm 64-dim vectors the tiers
  *     {0.005, 0.01, 0.02, 0.05, 0.1, 0.2} land pair cosines from
  *     ~0.9997 (near-verbatim) down to ~0.73 (well past near-dup
  *     grade) — the measured per-tier cosine is reported, the
  *     amplitude is just the lever.
  *  3. Measurement: [[graft.functions.Dedup.embedCells]] (the exact
  *     cell/shard assignment the operator joins on). A planted pair is
  *     MISSED iff its sides land in different (cluster, shard) — no
  *     top-40 truncation in the way. Reported per tier: measured
  *     cosine, cluster-split rate, shard-split rate.
  *  4. Boundary adversarial cut: each base's top-2 centroid margin
  *     (cos₁ − cos₂ over the SAME centroids the route used) measures
  *     its distance to its Voronoi boundary. Misses must concentrate
  *     in the low-margin tail — reported as miss rate per margin
  *     decile plus the bottom-5% (the boundary set) vs the rest. A
  *     pair ON the boundary is what that ngram corpus plants
  *     explicitly; here the corpus geometry supplies it and the margin
  *     measurement identifies it.
  *  5. `exact=1` (feasible through ~200×), the two exact-vs-approximate
  *     contract checks over the smoke corpus (background plus planted
  *     partners):
  *     - IVF recall per nprobe (SURVEY §8.4.6): per-query top-10
  *       overlap of `ssIvfTopK` against the exact scan for 100 queries
  *       at nprobe 6/12/24/48, with the probed fraction nprobe/√N —
  *       that fraction shrinks as the corpus grows, so the gate SFs
  *       alone cannot show recall decay at scale;
  *     - the full exact broadcast-nested-loop route vs the bucketed
  *       route end-to-end, reported as top-40 overlap.
  *
  * Run: sbt "runMain graft.EmbedRecallSmoke [factor] [nPlant] [exact01]"
  */
object EmbedRecallSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(200)
    val nPlant = args.lift(1).map(_.toInt).getOrElse(2000)
    val runExact = args.lift(2).exists(_ == "1")
    // absent → the operator's default probeMargin applies; an explicit
    // value (incl. 0 = off) pins the conf for A/B runs
    val probeMargin = args.lift(3).map(_.toDouble)
    // EMBED_SMOKE_CAP_LADDER="16384,8192,4096": measure SEVERAL cell
    // caps against ONE persisted assignment. The N×√N assignment pass
    // is cap-independent — only the shard hash ceil(cnt/cap) consumes
    // the cap — so a ladder costs one assignment plus a cheap re-shard
    // per rung. This is the instrument for the 16384 pair-budget
    // ceiling (SURVEY §8.4.8c): a rung BELOW the corpus's 4·√N sizing
    // simulates the binding ratio a larger corpus experiences under
    // the fixed ceiling (cap/sizing 0.5 at 20M ≈ the ceiling at ~67M
    // vectors, 0.25 ≈ ~270M). The FIRST rung feeds the margin-decile
    // section; per-tier tables print for every rung.
    val capLadder: Seq[Long] = sys.env.get("EMBED_SMOKE_CAP_LADDER")
      .map(v => try v.split(",").toSeq.map(_.trim.toLong)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException("env var EMBED_SMOKE_CAP_LADDER " +
            s"must be comma-separated long integers, got '$v'") })
      .getOrElse(Nil)
    val parts = sys.env.getOrElse("SCALE_SMOKE_PARTITIONS", "64")
    // SCALE_SMOKE_MASTER=local-cluster[4,8,7168] runs the probed pair
    // join under REAL multi-executor shuffle (the ScaleSmoke protocol,
    // deployed through ClusterJar.deploy)
    val master = sys.env.getOrElse("SCALE_SMOKE_MASTER", "local[32]")
    val builder = Graft.sessionBuilder().master(master)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      // frontier corpora overwhelm the session default (2^18): the IVF
      // assignment groups on vec_id, so a 20M-vector corpus spread over
      // 32 local threads holds 625k groups per task — past the default
      // the partial aggregate falls back to SORT-based aggregation and
      // spills the N×√N scored stream (~67 GB/task, measured filling
      // the disk at 20M). 2^21 bounded topk buffers ≈ ~200 MB/task. A
      // real cluster never sees this: the same corpus over thousands
      // of tasks sits far under the default threshold.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 21).toString)
    if (master.startsWith("local-cluster")) ClusterJar.deploy(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    // EMBED_SMOKE_SKEW=zipf swaps the uniform background for a corpus
    // with HEAVY-TAILED CLUSTER MASSES (round 16, §8.4.8e): each
    // background row joins a hub cluster drawn log-uniformly —
    // j = ⌊J^u⌋, u uniform, so cluster masses follow ~1/j (Zipf s≈1;
    // the largest hub holds ~N/ln(J) vectors) — with TIGHT noise
    // (amp 0.02, the tightest background tier). This is the corpus
    // shape §8.4.8d's caveat names: data-sampled centroids equalize
    // EXPECTED cell mass, but a dense cluster's centroid count is
    // Poisson, so heavy cluster masses widen the post-replication
    // cell-size tail — the regime where the cap binds at smaller N
    // than the isotropic rung→N mapping predicts.
    val skew = sys.env.get("EMBED_SMOKE_SKEW")
    require(skew.forall(_ == "zipf"),
      s"env var EMBED_SMOKE_SKEW must be 'zipf' if set, got '${skew.get}'")
    val big = if (skew.isDefined) "target/embed-recall-smoke-zipf"
      else "target/embed-recall-smoke"
    val amps = Seq(0.005, 0.01, 0.02, 0.05, 0.1, 0.2)
    // EMBED_SMOKE_REUSE=1 skips corpus regeneration when the dirs
    // exist (the generator is deterministic, so reuse is exact). Also
    // the local-cluster escape hatch: the generator's nested-add noise
    // expression optimizes to a MultiCommutativeOp whose operand Seq
    // trips a JDK-serialization ClassCastException on executor JVMs
    // (local[32] never serializes plans) — generate under local[32],
    // measure under local-cluster.
    val reuse = sys.env.get("EMBED_SMOKE_REUSE").contains("1") &&
      new java.io.File(s"$big/embeddings.parquet").exists() &&
      new java.io.File(s"$big/pairs").exists()

    // -- background ----------------------------------------------------
    val e = Tables.t(spark, src, "embeddings")
    val ne = Option(e.agg(max("vec_id")).head.getAs[Number](0))
      .map(_.longValue + 1).getOrElse(0L)
    val nBg = ne * factor
    val bgAmp = (col("copy") % 7).cast("double") / 7.0 * 0.98 + 0.02
    // the fan-out's stream side is the tiny source scan (1-2 tasks) —
    // without the repartition the whole 20M-row noise projection and
    // parquet encode of a frontier corpus runs near-serial (round 15)
    val bg = if (skew.isEmpty)
      e.crossJoin(spark.range(factor).select(col("id").as("copy")))
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .select((col("vec_id") + col("copy") * ne).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"), (x, i) =>
              (x + ((pmod(xxhash64(col("vec_id"), col("copy"), i), lit(2001))
                - 1000).cast("double") / 1000.0 * bgAmp).cast("float"))
                .cast("float"))).as("embedding"),
          col("label"))
    else {
      // Zipf-mass hubs: u = hash/2^30 uniform in [0,1), hub = ⌊ne^u⌋
      // (log-uniform ⇒ P(hub = j) ∝ 1/j). The hub's source embedding
      // arrives via a broadcast join on the tiny source table; noise
      // amp is FIXED tight (0.02) so clusters cohere in IVF space and
      // the mass skew — not the noise — drives the cell-size tail.
      val u = pmod(xxhash64(col("row_id"), lit(16)), lit(1L << 30))
        .cast("double") / (1L << 30).toDouble
      val hubbed = spark.range(nBg).select(col("id").as("row_id"))
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .select(col("row_id"),
          floor(pow(lit(ne.toDouble), u)).cast("long").as("hub_id"))
      hubbed.join(broadcast(e.select(col("vec_id").as("hub_id"),
          col("embedding"), col("label"))), "hub_id")
        .select(col("row_id").as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x + ((pmod(xxhash64(col("row_id"), col("hub_id"), i), lit(2001))
              - 1000).cast("double") / 1000.0 * 0.02).cast("float"))
              .cast("float")).as("embedding"),
          col("label"))
    }

    // -- planted pairs: disjoint bases per tier, partner ids ≥ PBASE --
    // base pick k ↦ (k·9973) mod nBg is injective while
    // tiers·nPlant < nBg (9973 prime, coprime to nBg = 2000·factor)
    val PBASE = 1000000000000L
    require(amps.size.toLong * nPlant < nBg, "too many plants for corpus")
    val picks = spark.range(amps.size.toLong * nPlant).select(
      (col("id") / nPlant).cast("int").as("tier"),
      (col("id") % nPlant).as("k"),
      pmod(col("id") * 9973L, lit(nBg)).as("base_id"))
    val ampCol = element_at(
      array(amps.map(lit): _*), col("tier") + 1).cast("double")
    val partners = picks
      .join(bg.select(col("vec_id").as("base_id"), col("embedding"),
        col("label")), "base_id")
      .select(col("tier"), col("base_id"),
        (lit(PBASE) + col("tier") * lit(100000000L) + col("k")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + ((pmod(xxhash64(col("base_id"), col("tier"), i), lit(2001))
            - 1000).cast("double") / 1000.0 * ampCol).cast("float"))
            .cast("float")).as("embedding"),
        // label is INTEGER in the source schema; -1 marks planted rows
        lit(-1).cast("int").as("label"))
    if (!reuse) {
      partners.select("tier", "base_id", "vec_id")
        .withColumnRenamed("vec_id", "partner_id")
        .write.mode("overwrite").parquet(s"$big/pairs")
      bg.unionByName(partners.select("vec_id", "embedding", "label"))
        .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    } else println("corpus REUSED (EMBED_SMOKE_REUSE=1) — factor arg " +
      "must match the generating run")
    val nVecs = Tables.footerRowCount(spark, big, "embeddings")
    println(s"corpus: $nVecs vectors (${factor}x background = $nBg + " +
      s"${amps.size}x$nPlant planted partners)" +
      probeMargin.fold("")(m => s", probeMargin=$m"))
    probeMargin.foreach(m =>
      spark.conf.set("graft.embedCosine.probeMargin", m.toString))

    // -- pair-level co-residency over the operator's own cells --------
    val pairs = spark.read.parquet(s"$big/pairs")
    val emb = spark.read.parquet(s"$big/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // cap-independent (and tiny: one row per planted pair) — cached so
    // the ladder's rungs don't re-join the full corpus per cap
    val withCos = pairs
      .join(emb.select(col("vec_id").as("base_id"), col("v").as("va")), "base_id")
      .join(emb.select(col("vec_id").as("partner_id"), col("v").as("vb")),
        "partner_id")
      .withColumn("cos", VectorOps.dot(col("va"), col("vb")) /
        (VectorOps.l2norm(col("va")) * VectorOps.l2norm(col("vb"))))
      .select("tier", "base_id", "partner_id", "cos")
      .cache()

    // Per-pair verdicts for ONE cell assignment, per-tier table printed.
    // Under boundary multi-probe (probeMargin > 0) a vector can occupy
    // two cells — join all rows per side and aggregate per pair: the
    // route scores the pair iff some row combo satisfies its own join
    // condition, mirrored from Dedup.scoreOnceCond — same
    // (cluster, shard), minus the shard-aware defer to a smaller
    // common cell (skip only when the pair is ALSO same-shard there).
    // With probing off, the o/os columns are absent and this reduces
    // exactly to the single-row same-(cluster, shard) semantics.
    def measure(cells: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val probed = cells.columns.contains("other")
      def sideRows(idCol: String, p: String) = cells.select(
        (Seq(col("vec_id").as(idCol), col("cluster").as(s"c$p"),
          col("shard").as(s"s$p")) ++
          (if (probed)
            Seq(col("other").as(s"o$p"), col("otherShard").as(s"os$p"))
          else Nil)): _*)
      val measured = withCos
        .join(sideRows("base_id", "a"), Seq("base_id"), "left")
        .join(sideRows("partner_id", "b"), Seq("partner_id"), "left")
        .withColumn("rowMeasured", col("ca").isNotNull && col("cb").isNotNull)
        .withColumn("rowCommon", col("rowMeasured") && col("ca") === col("cb"))
        .withColumn("rowSkip",
          if (probed)
            col("oa").isNotNull && (col("oa") <=> col("ob")) &&
              col("oa") < col("ca") && (col("osa") <=> col("osb"))
          else lit(false))
        .withColumn("rowHit", col("rowCommon") && col("sa") === col("sb") &&
          !col("rowSkip"))
        .groupBy("tier", "base_id", "partner_id", "cos")
        .agg(max(col("rowMeasured")).as("m"), max(col("rowCommon")).as("common"),
          max(col("rowHit")).as("hit"))
        .withColumn("unmeasured", !col("m"))
        .withColumn("clusterSplit", col("m") && !col("common"))
        .withColumn("shardSplit", col("m") && col("common") && !col("hit"))
        .cache()
      println("tier  amp    pairs  meanCos  minCos   clusterSplit shardSplit  missRate")
      measured.groupBy("tier").agg(
          count(lit(1)).as("n"), avg("cos").as("mc"), min("cos").as("mn"),
          sum(col("clusterSplit").cast("long")).as("cs"),
          sum(col("shardSplit").cast("long")).as("ss"),
          sum(col("unmeasured").cast("long")).as("um"))
        .orderBy("tier").collect().foreach { r =>
          val (n, cs, ss, um) = (r.getLong(1), r.getLong(4), r.getLong(5),
            r.getLong(6))
          println(f"${r.getInt(0)}%4d  ${amps(r.getInt(0))}%.3f  $n%6d  " +
            f"${r.getDouble(2)}%.4f  ${r.getDouble(3)}%.4f  " +
            f"$cs%8d     $ss%6d      ${(cs + ss).toDouble / (n - um)}%.4f" +
            (if (um > 0) s"  (unmeasured=$um)" else ""))
        }
      measured
    }

    val measured = if (capLadder.isEmpty) {
      // single-cap mode: the cap follows the operator's corpus-aware
      // default (round 14: max(4096, 4·√N) ceilinged at 16384) so the
      // smoke measures what ships; EMBED_SMOKE_MAXCELL pins it for
      // A/Bs against the old fixed 4096 (the §8.4.8b onset rows)
      val cellCap = Graft.envLong("EMBED_SMOKE_MAXCELL")
        .getOrElse(Dedup.embedCosineMaxCellDefault(nVecs))
      println(s"cell cap: $cellCap (corpus-aware default " +
        s"${Dedup.embedCosineMaxCellDefault(nVecs)})")
      val t0 = System.nanoTime()
      val rawCells = Dedup.embedCells(spark, big, cellCap)
      val cells = rawCells
        .select((Seq("vec_id", "cluster", "shard") ++
          (if (rawCells.columns.contains("other"))
            Seq("other", "otherShard") else Nil))
          .map(col): _*)
        .cache()
      val nRows = cells.count()
      println(f"cell assignment: ${(System.nanoTime() - t0) / 1e9}%.1f s" +
        (if (rawCells.columns.contains("other"))
          f" (rows $nRows = ${nRows.toDouble / nVecs}%.3fx replication)"
        else ""))
      measure(cells)
    } else {
      // cap-ladder mode: one persisted assignment, one cheap re-shard
      // per rung — Similarity.shardCells is the route's OWN shard
      // arithmetic, so each rung is exactly what embedCells(cap)
      // would assign on this corpus, not a smoke-side model of it
      val pm = Dedup.embedProbeMargin(spark)
      require(pm > 0,
        "cap ladder measures the shipping probed route; set probeMargin > 0")
      // margin-specific path: an assignment is only reusable under the
      // SAME probe margin (replication set depends on it), so a margin
      // A/B can't silently ride a stale assignment
      val slimName = s"cells_slim_pm$pm"
      val slimDir = s"$big/$slimName.parquet"
      // reuse must also survive a corpus swap under the same dir (the
      // 40k plumbing corpus's 63k-row assignment once rode under a 20M
      // corpus): the assignment is stamped with the EXACT nVecs of the
      // corpus that generated it (sidecar file next to the parquet) and
      // reuse requires an exact match — a row-count window [nVecs,
      // 2·nVecs] alone would accept a stale assignment from a similar-
      // sized generation (e.g. factor 10→12 at ~1.3× replication),
      // where vec_id mismatches surface only as elevated 'unmeasured'
      // counts (r15 advisory). Pre-stamp assignments fail the guard
      // and regenerate — strictly safe.
      val stampFile = new java.io.File(s"$slimDir.nvecs")
      val slimReuse = sys.env.get("EMBED_SMOKE_REUSE").contains("1") &&
        new java.io.File(slimDir).exists() &&
        (try {
          val stamped = new String(java.nio.file.Files.readAllBytes(
            stampFile.toPath), "UTF-8").trim.toLong
          stamped == nVecs
        } catch { case _: Exception => false })
      val t0 = System.nanoTime()
      if (!slimReuse) {
        // delete any PRE-EXISTING stamp before the overwrite starts: a
        // crash mid-overwrite must not leave a torn parquet beside a
        // still-valid old stamp (regenerating with REUSE unset over a
        // same-nVecs assignment hits exactly that), which a later
        // REUSE=1 run would trust
        java.nio.file.Files.deleteIfExists(stampFile.toPath)
        Similarity.probedCellAssign(spark, big, pm)
          .write.mode("overwrite").parquet(slimDir)
        // stamp AFTER the write completes: a crash mid-write leaves no
        // stamp, so the next run regenerates instead of reusing a torn
        // assignment
        java.nio.file.Files.write(stampFile.toPath,
          nVecs.toString.getBytes("UTF-8"))
      }
      val slim = spark.read.parquet(slimDir)
      val nRows = slim.count()
      println(f"assignment${if (slimReuse) " (REUSED)" else ""}: " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(rows $nRows = ${nRows.toDouble / nVecs}%.3fx replication, " +
        f"probeMargin $pm)")
      // MEASURED cell-size distribution (round 16, §8.4.8e): the
      // cap-independent per-cell post-replication counts — the
      // physical quantity the shipped measured-cell advisory keys on.
      // One tiny aggregate over the persisted assignment.
      val cellDist = slim.groupBy("cluster").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("cells"), avg("cnt").as("mean"),
          expr("percentile_approx(cnt, 0.5, 10000)").as("p50"),
          expr("percentile_approx(cnt, 0.99, 10000)").as("p99"),
          max("cnt").as("mx")).head()
      val (nCells, meanCell, maxCell) =
        (cellDist.getLong(0), cellDist.getDouble(1), cellDist.getLong(4))
      println(f"cell distribution: $nCells cells, mean $meanCell%.1f, " +
        f"p50 ${cellDist.getLong(2)}, p99 ${cellDist.getLong(3)}, " +
        f"max $maxCell (max/mean ${maxCell / meanCell}%.2f)")
      var first: Option[org.apache.spark.sql.DataFrame] = None
      capLadder.foreach { cap =>
        println(s"\n=== cap $cap (uncapped sizing " +
          s"${Dedup.embedCosineMaxCellSizing(nVecs)}, shipping default " +
          s"${Dedup.embedCosineMaxCellDefault(nVecs)}, cap/sizing " +
          f"${cap.toDouble / Dedup.embedCosineMaxCellSizing(nVecs)}%.2f, " +
          f"cap/meanCell ${cap / meanCell}%.2f) ===")
        // echo exactly what the shipped measured-cell advisory says at
        // this rung — the smoke validates the advisory's dial, so it
        // must quote the advisory's own arithmetic
        Dedup.measuredCellAdvisory(maxCell, cap) match {
          case Some(m) => println(s"measured-cell advisory WOULD FIRE " +
            s"(knob ${m.knob}, cap ${m.cap}, measured ${m.measured}, " +
            s"bound ${m.bound}): " + m.message.takeWhile(_ != '(').trim)
          case None => println("measured-cell advisory silent " +
            s"(max cell $maxCell <= cap $cap)")
        }
        val cells = Similarity.shardCells(slim, cap).cache()
        val m = measure(cells)
        // measure()'s per-tier collect fully materializes `measured`,
        // so the corpus-scale cells cache is dead weight afterwards
        // for EVERY rung — the margin/exact sections touch only the
        // per-pair verdicts and the raw tables
        cells.unpersist()
        if (first.isEmpty) first = Some(m) else m.unpersist()
      }
      first.get
    }

    // -- boundary cut: top-2 centroid margin of each base -------------
    // margins are needed only for the planted BASES (tiers·nPlant
    // rows), not the whole corpus: the semi-join keeps this from being
    // a SECOND assignment-scale N×√N pass on the frontier corpora
    // (round 15 — it was one through 4M), and changes no reported
    // number — downstream only ever joins margins to pairs by base_id.
    val (ev, cents, _) = Similarity.ivfParts(spark, big)
    val bases = pairs.select(col("base_id").as("vec_id")).distinct()
    val margins = ev.join(broadcast(bases), Seq("vec_id"), "left_semi")
      .join(broadcast(cents))
      .select(col("vec_id"),
        (VectorOps.dot(col("v"), col("cv")) /
          (col("nrm") * col("cn"))).as("ccos"), col("c_id"))
      .groupBy("vec_id")
      .agg(TopKAgg.topk(col("ccos"), col("c_id"), 2).as("tk"))
      .select(col("vec_id").as("base_id"),
        (get(col("tk"), lit(0)).getField("score") -
          coalesce(get(col("tk"), lit(1)).getField("score"), lit(-1.0)))
          .as("margin"))
    val byMargin = measured.where(!col("unmeasured"))
      .join(margins, "base_id")
      .withColumn("miss", col("clusterSplit") || col("shardSplit"))
      .cache()
    println("\nmiss rate by base top-2 centroid margin decile (1 = nearest boundary), all tiers:")
    import org.apache.spark.sql.expressions.Window
    val dec = byMargin.withColumn("decile",
      ntile(10).over(Window.orderBy(col("margin"))))
    dec.groupBy("decile").agg(count(lit(1)).as("n"),
        avg(col("miss").cast("double")).as("missRate"),
        max("margin").as("maxMargin"))
      .orderBy("decile").collect().foreach { r =>
        println(f"  d${r.getInt(0)}%-2d n=${r.getLong(1)}%6d  " +
          f"miss=${r.getDouble(2)}%.4f  margin≤${r.getDouble(3)}%.4f")
      }
    val cut = byMargin.stat.approxQuantile("margin", Array(0.05), 0.001)(0)
    Seq(("boundary (margin<=p5)", col("margin") <= cut),
        ("interior (margin> p5)", col("margin") > cut)).foreach { case (tag, cond) =>
      val r = byMargin.where(cond)
        .agg(count(lit(1)), avg(col("miss").cast("double"))).head
      println(f"  $tag: n=${r.getLong(0)} miss=${r.getDouble(1)}%.4f")
      println("  per tier:")
      byMargin.where(cond).groupBy("tier")
        .agg(count(lit(1)).as("n"), avg(col("miss").cast("double")).as("m"),
          avg("cos").as("c"))
        .orderBy("tier").collect().foreach { t =>
          println(f"    tier ${t.getInt(0)} amp=${amps(t.getInt(0))}%.3f " +
            f"cos=${t.getDouble(3)}%.4f n=${t.getLong(1)} miss=${t.getDouble(2)}%.4f")
        }
    }

    // -- operator-contract checks: exact vs approximate ---------------
    if (runExact) {
      val nQueries = 100L
      val kCents = math.round(math.sqrt(nVecs.toDouble))
      val t0 = System.nanoTime()
      val exact = Similarity.ssCosineTopK(spark, big, nQueries)
        .select(col("q_id"), col("cand_id")).cache()
      println(f"\nexact top-10 for $nQueries queries: ${exact.count()} rows " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      Seq(6, 12, 24, 48).foreach { np =>
        val t1 = System.nanoTime()
        val ivf = Similarity.ssIvfTopK(spark, big, np, nQueries)
          .select(col("q_id"), col("cand_id"))
        val hits = exact.join(ivf, Seq("q_id", "cand_id"))
          .groupBy("q_id").agg(count(lit(1)).as("hit"))
        val stats = exact.groupBy("q_id").agg(count(lit(1)).as("n"))
          .join(hits, Seq("q_id"), "left")
          .select((coalesce(col("hit"), lit(0L)) / col("n")).as("recall"))
          .agg(avg("recall"), min("recall"),
            sum(when(col("recall") < 0.8, 1L).otherwise(0L)), count(lit(1)))
          .head()
        println(f"nprobe=$np%3d  probed=${np.toDouble / kCents}%.4f  " +
          f"mean=${stats.getDouble(0)}%.4f  min=${stats.getDouble(1)}%.4f  " +
          f"below0.8=${stats.getLong(2)}/${stats.getLong(3)}  " +
          f"wall=${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
      exact.unpersist()
      def top40(tag: String, exactMax: String): Set[(Long, Long)] = {
        spark.conf.set("graft.embedCosine.exactMax", exactMax)
        val t1 = System.nanoTime()
        val s = Dedup.ddEmbedCosine(spark, big).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.conf.unset("graft.embedCosine.exactMax")
        println(f"$tag top-40: ${(System.nanoTime() - t1) / 1e9}%.1f s")
        s
      }
      val ex = top40("exact", Long.MaxValue.toString)
      val bk = top40("bucketed", "0")
      println(s"top-40 overlap: ${(ex intersect bk).size}/40 " +
        s"(exact-only=${(ex -- bk).size} bucketed-only=${(bk -- ex).size})")
    }
    spark.stop()
  }
}
