package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare in
  * `tools/check_correctness.py`.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [name...]"
  *
  * No names dumps every registered query; naming some is the one-query
  * dev loop, gated by the same checker. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.sessionBuilder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = args.drop(2).toSet
    run(spark, args(0), args(1),
      if (names.isEmpty) SparkEntry.queries.keySet else names)
    spark.stop()
  }

  /** The dump body, callable on a caller-owned session (EdgeGateSpec
    * runs it on the shared test session — `main` would stop it).
    * Returns the names of the queries that threw; each is logged and
    * the dump carries on, so one failure does not hide the others. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      names: Set[String]): Set[String] = {
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    // Preflight: surface corpus schema drift as ONE clear message instead
    // of N per-query analysis failures (the driver regenerates testdata
    // between rounds; round 9 lost 8 gate queries to a silent nanos→micros
    // flip diagnosed one stack trace at a time). NonFatal only: an OOM or
    // linkage error here means the JVM is dying, not that a table drifted.
    val drifted = Tables.names.flatMap { n =>
      try { Tables.t(spark, sfDir, n).schema; None }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] SCHEMA DRIFT in table $n: ${e.getMessage}")
        Some(n)
      }
    }
    if (drifted.nonEmpty)
      System.err.println(s"[verify] preflight failed for table(s) " +
        s"${drifted.mkString(", ")} — per-query failures below that " +
        "mention these tables are the SAME drift, not new bugs")
    val failed = SparkEntry.queries.filter(kv => names(kv._1)).flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
    }.toSet
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
