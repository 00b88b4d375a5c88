package graft

import org.apache.spark.sql.SparkSession

/** The packaged user jar every multi-executor smoke ships to
  * executors — the `spark.jars` deployment shape that SURVEY §8.4.10
  * established as the ONLY supported one (user classes via
  * `spark.executor.extraClassPath` break Scala 2.13 collection-proxy
  * deserialization in Spark 4.1.2 task streams). This helper makes a
  * wrong deployment fail LOUDLY at startup instead of downstream:
  *
  *  - existence: a local-cluster run without the jar dies in
  *    executor-side task deserialization with an unrelated-looking
  *    `ClassCastException` (the §8.4.10 bisect cost most of a day);
  *  - freshness: a STALE jar from a previous `sbt package` ships old
  *    classes to executors while the driver runs current ones —
  *    confusing divergence or deserialization errors instead of a
  *    clear failure. The jar's mtime must not predate the newest
  *    compiled class file under target/scala-2.13/classes.
  *
  * Every multi-executor main (ScaleSmoke, EmbedRecallSmoke,
  * StreamSmoke, ClusterSmoke, ClusterSweep) deploys through [[deploy]];
  * the failure modes are pinned in ClusterJarSpec so a refactor cannot
  * silently re-arm the landmine.
  */
object ClusterJar {
  val path = "target/scala-2.13/datapipelinesworkerspark_2.13-0.1.0.jar"
  val classesDir = "target/scala-2.13/classes"

  /** Existence + freshness check; returns the path for `spark.jars`.
    * Parameterized for the spec — callers use the no-arg form. */
  def resolve(jarPath: String = path, classes: String = classesDir): String = {
    val jar = new java.io.File(jarPath)
    require(jar.exists(),
      s"$jarPath missing — run `sbt package` first (spark.jars deployment, " +
        "SURVEY 8.4.10: executor extraClassPath is NOT a supported substitute)")
    val cd = new java.io.File(classes)
    // listFiles is null (not empty) on an unreadable or vanished dir —
    // degrade to the dir's own mtime rather than NPE out of the loud,
    // explanatory failure this helper exists to give
    def newest(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified +: Option(f.listFiles).getOrElse(Array.empty)
          .map(newest)).max
      else f.lastModified
    if (cd.isDirectory && newest(cd) > jar.lastModified)
      throw new IllegalStateException(
        s"$jarPath is OLDER than $classes — executors would run stale " +
          "classes against a current driver; re-run `sbt package`")
    jarPath
  }

  /** The JDK-17 module opens each executor JVM needs — the same list
    * build.sbt and tools/runmain.sh give the driver. */
  private val executorOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** The local-cluster deployment rule, applied to `builder`: graft
    * classes ship as a user jar (`spark.jars`, checked by [[resolve]]),
    * executors get the module opens, and executor memory comes from
    * SCALE_SMOKE_EXEC_MEM, else `execMemDefault`. The worker bracket's
    * third number is capacity only; executors left at Spark's 1g
    * default would measure spill, not shuffle. */
  def deploy(builder: SparkSession.Builder,
      execMemDefault: String = "7g"): SparkSession.Builder =
    builder
      .config("spark.jars", resolve())
      .config("spark.executor.extraJavaOptions", executorOpens)
      .config("spark.executor.memory",
        sys.env.getOrElse("SCALE_SMOKE_EXEC_MEM", execMemDefault))
}
