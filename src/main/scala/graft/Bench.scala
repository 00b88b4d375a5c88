package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.sessionBuilder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed JVM/codegen warmup (shuffle + window + codegen paths),
    // plus one limit(1) open per benchmark table — file listing, footer
    // reads and scan codegen are session-lifetime costs a long-lived
    // deployment pays once, not per query. Codegen is paid once only
    // while every query's classes fit Spark's codegen cache, which
    // Tables.configure sizes to the registered query set.
    import org.apache.spark.sql.functions.{col, sum => fsum}
    def fixedAgg(): Unit =
      spark.range(1000000).select(col("id") % 97 as "k", col("id") as "v")
        .groupBy("k").agg(fsum("v")).count()
    fixedAgg()
    Tables.names.foreach { t =>
      try Tables.t(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    // Three full passes, per-query min: a concurrent job on the host
    // inflates some passes, and min-of-3 makes an all-hot artifact rare.
    // "sentinel" re-times the fixed warmup aggregate (constant work, so
    // it varies only with host load) before each pass and after the
    // last: four entries, sentinel[i]/sentinel[i+1] bracket pass i and
    // pass_totals[i] is its wall, so a hot pass shows as an inflated
    // total between inflated sentinels. If min(sentinel) exceeds the
    // "calib" block's sentinel_max, every pass ran contended and the
    // min-of-3 is still hot: re-run rather than compare it. A pass that
    // THROWS yields None — its fast time-to-failure must never win the
    // min over a succeeding pass; a query failing every pass is
    // reported in "failed" with -1. The whole-suite total moves ±30%
    // with host noise, so a per-query row moving >10% between artifacts
    // is not citable until an interleaved QueryBench A/B
    // (tools/run_ab_querybench.sh) confirms it.
    def pass(): Map[String, Option[Double]] = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }
    def sentinel(): Double = {
      val t0 = System.nanoTime(); fixedAgg(); (System.nanoTime() - t0) / 1e9
    }
    // The contention threshold is enforced, not just reported: an
    // attempt whose every sentinel reads hot is re-run, and the best
    // attempt ships.
    def attempt(): (Vector[(Double, Map[String, Option[Double]])], Vector[Double]) = {
      val ps = Vector.fill(3) { val s = sentinel(); (s, pass()) }
      (ps, ps.map(_._1) :+ sentinel())
    }
    // Idle is measured per run, not assumed: 5 sentinel samples and the
    // 1-min loadavg before every attempt, recorded in "calib". The bound
    // is min(0.5, max(0.35, 1.25 · calib-min)): the best sample is the
    // closest observable to the host's idle constant and 25% its
    // measured idle spread; the 0.35 floor re-tightens the guard if the
    // host gets faster, and the 0.5 ceiling stops a calibration taken
    // under light load from certifying that load. Calibration is
    // trusted only at loadavg < 1.0 (else the strict 0.35);
    // BENCH_SENTINEL_MAX overrides, and the artifact records which
    // source won. Waiting beats retrying: a contended attempt is
    // followed by a 30 s sleep and a recalibration, up to 4 attempts,
    // so a transient job can drain. Consumers gate on
    // `"contended": false`.
    def readLoadavg(): Double = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
    case class Calib(loadavg1: Double, samples: Vector[Double],
        sentinelMax: Double, source: String)
    def calibrate(): Calib = {
      val la = readLoadavg()
      val samples = Vector.fill(5)(sentinel())
      val (smax, src) = Graft.envDouble("BENCH_SENTINEL_MAX")
        .map(v => (v, "env")).getOrElse {
          if (la >= 0 && la < 1.0)
            (math.min(0.5, math.max(0.35, samples.min * 1.25)), "calibrated")
          else (0.35, "default")
        }
      Calib(la, samples, smax, src)
    }
    var bestCalib = calibrate()
    var best = attempt()
    var tries = 1
    while (best._2.min > bestCalib.sentinelMax && tries < 4) {
      System.err.println(
        f"[bench] best of $tries attempt(s) still contended (sentinel-min ${best._2.min}%.3f > ${bestCalib.sentinelMax}%.3f) — waiting 30 s, recalibrating, retrying")
      Thread.sleep(30000)
      val c = calibrate()
      val a = attempt()
      System.err.println(f"[bench] attempt ${tries + 1} sentinel-min ${a._2.min}%.3f (bound ${c.sentinelMax}%.3f, loadavg ${c.loadavg1}%.2f)")
      // ship the attempt that is cleanest RELATIVE to its own bound —
      // an attempt paired with a stale calibration must not win just
      // because the earlier bound was looser. When both candidates are
      // contended, relative slack only ranks how hot each looked to its
      // own calibration; the coldest absolute sentinel carries the
      // least-inflated timings, so absolute min decides.
      val bothContended = a._2.min > c.sentinelMax &&
        best._2.min > bestCalib.sentinelMax
      val aWins =
        if (bothContended) a._2.min < best._2.min
        else a._2.min - c.sentinelMax < best._2.min - bestCalib.sentinelMax
      if (aWins) { best = a; bestCalib = c }
      tries += 1
    }
    if (best._2.min > bestCalib.sentinelMax)
      System.err.println(f"[bench] WARNING: all $tries attempts contended — " +
        f"shipping best (sentinel-min ${best._2.min}%.3f > ${bestCalib.sentinelMax}); " +
        "treat totals as hot")
    val (loadavg1, calib, sentinelMax, calibSource) =
      (bestCalib.loadavg1, bestCalib.samples, bestCalib.sentinelMax,
        bestCalib.source)
    val (passes, sentinels) = best
    val results = SparkEntry.queries.keys.map { k =>
      k -> passes.flatMap(_._2(k)).minOption }.toMap
    // Contended artifact: no per-query row is citable, so the top-N
    // queries by artifact time are re-run min-of-7 and their mins
    // recorded in "supplement". Each iteration takes 1-2 s, so the mins
    // ride under transient load spikes a ~25 s suite pass cannot;
    // cross-build comparison still wants an interleaved QueryBench A/B.
    val supplementN = 8
    val supplement: Option[(Map[String, Double], Seq[String])] =
      if (best._2.min <= bestCalib.sentinelMax) None
      else Some {
        System.err.println(s"[bench] contended artifact: running min-of-7 " +
          s"supplement for the top $supplementN queries by artifact time")
        val rows = results.toSeq.sortBy(-_._2.getOrElse(-1.0)).take(supplementN)
          .map { case (name, _) =>
            val fn = SparkEntry.queries(name)
            // a throwing iteration records NO wall — same rule as the
            // suite passes (a query's fast time-to-failure must never
            // win the min); a query with zero clean iterations lands
            // in the supplement's own "failed" list rather than being
            // silently dropped (a round-over-round consumer must be
            // able to tell "not re-run" from "attempted, all threw")
            val walls = (1 to 7).flatMap { _ =>
              val t0 = System.nanoTime()
              try { fn(spark, sfDir).count()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case _: Throwable => None }
            }
            name -> walls.minOption
          }
        (rows.collect { case (n, Some(w)) => n -> w }.toMap,
          rows.collect { case (n, None) => n })
      }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.flatten.sum
    // total_shared leaves out the queries tagged benchHeavy (eager
    // staged work by design), so a drift read compares like with like;
    // the exclusion set comes from the registry, not a literal here.
    val sharedExclude = SparkEntry.benchHeavy
    require(sharedExclude.subsetOf(SparkEntry.queries.keySet),
      "benchHeavy tags must name registered queries: " +
        (sharedExclude -- SparkEntry.queries.keySet))
    val totalShared = results.collect {
      case (k, Some(v)) if !sharedExclude(k) => v }.sum
    // shared_count vs shared_expected: a shared query that fails
    // silently shrinks total_shared — a drift read must be able to tell
    // "slower" from "summed over fewer queries", so the gate asserts the
    // two are equal
    val sharedExpected = SparkEntry.queries.keysIterator
      .count(!sharedExclude(_))
    val sharedCount = results.count {
      case (k, v) => !sharedExclude(k) && v.isDefined }
    // the reported exclusion list renders from the SAME set that
    // computed the subtotal — they cannot diverge
    val sharedExcludesJson = sharedExclude.toSeq.sorted
      .map(q => "\"" + q + "\"").mkString("[", ",", "]")
    val totals = passes.map(p => p._2.values.flatten.sum).mkString("[", ",", "]")
    val sents = sentinels.map(s => f"$s%.3f").mkString("[", ",", "]")
    val calibJson = {
      val samples = calib.map(s => f"$s%.3f").mkString("[", ",", "]")
      f"""{"loadavg1":$loadavg1%.2f,"samples":$samples,"sentinel_max":$sentinelMax%.3f,"source":"$calibSource","attempts":$tries,"contended":${best._2.min > sentinelMax}}"""
    }
    val suppJson = supplement.map { case (m, suppFailed) =>
      val qs7 = m.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val f7 = suppFailed.map(n => s"\"" + n + "\"").mkString("[", ",", "]")
      s""","supplement":{"iters":7,"note":"contended artifact: per-query min-of-7 re-runs are the comparison of record for these queries","queries":$qs7,"failed":$f7}"""
    }.getOrElse("")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_shared":$totalShared,"shared_count":$sharedCount,"shared_expected":$sharedExpected,"shared_excludes":$sharedExcludesJson,"queries":$qs,"failed":$failed,"pass_totals":$totals,"sentinel":$sents,"calib":$calibJson$suppJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
