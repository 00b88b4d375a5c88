package graft
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for every registered query (or a
  * named subset) to `<outDir>/<query>_<suffix>.txt` — the optimization
  * rounds' before/after plan evidence (plans/r21/...): the FULL
  * formatted plan per query, one file each, so a reviewer can diff
  * exchange counts / join strategies / PushedFilters without running
  * Spark.
  *
  *   sbt "runMain graft.PlanDump plans/r21 before [q1,q2,...]"
  *
  * Reads SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS
  * (default 32) so the dumped plans match the bench configuration.
  * The staged queries execute eagerly at construction (their explain
  * shows only the final pairs read — documented in their scaladoc);
  * they are included for completeness. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r21")
    val suffix = args.lift(1).getOrElse("before")
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.sessionBuilder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
