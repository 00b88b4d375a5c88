package graft

/** Full-registry multi-executor sweep (round 16, r15 brief item 5):
  * EVERY `SparkEntry.queries` entry runs under a real multi-executor
  * master (local-cluster, `spark.jars` deployment) and its row count
  * is compared against a local[*] run of the same corpus in the same
  * JVM. ClusterSmoke covers the serialization-sensitive embed/IVF
  * family in depth; this sweep pins every OTHER operator's
  * task-binary path against the classloader landmine ClusterSmoke
  * documents (SURVEY §8.4.10): graft classes must ship as a user jar
  * — never via executor extraClassPath — or Spark 4.1.2 task
  * deserialization breaks on any plan fragment carrying a graft
  * expression.
  *
  * Round 17 upgraded the comparison from row counts to CONTENT hashes
  * (the r16 verdict's residual): each query's result is collected as
  * JSON rows (sf0.001 diagnostic scale — this is a tool, not a data
  * plane) and hashed twice — over the row MULTISET (sorted; the gate:
  * a mismatch means a multi-executor master changed VALUES, not just
  * cardinality) and over the rows AS RETURNED (informational: queries
  * without a global sort may legitimately permute across masters;
  * order-sensitive operators like ta_shuffle/ta_pack end in orderBy,
  * so an ordered mismatch on THEM would be a determinism finding —
  * printed, not fatal, so the sweep reports it instead of hiding it).
  *
  * Run (jar must be current):
  *   sbt package && SPARK_SCALA_VERSION=2.13 \
  *     tools/runmain.sh graft.ClusterSweep [sfDir]
  */
object ClusterSweep {
  case class Res(rows: Long, orderedHash: String, sortedHash: String)

  private def md5(parts: Array[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { s => d.update(s.getBytes("UTF-8")); d.update(0.toByte) }
    d.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val master = sys.env.getOrElse("SCALE_SMOKE_MASTER",
      "local-cluster[2,16,6144]")

    def runAll(spark: org.apache.spark.sql.SparkSession,
        tag: String): Map[String, Either[String, Res]] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val res =
          try {
            val rows = fn(spark, dir).toJSON.collect()
            Right(Res(rows.length.toLong, md5(rows), md5(rows.sorted)))
          }
          catch { case scala.util.control.NonFatal(e) =>
            Left((String.valueOf(e.getClass.getSimpleName) + ": " +
              String.valueOf(e.getMessage).takeWhile(_ != '\n')).take(200))
          }
        println(f"[$tag] $name%-28s ${
          res.fold("FAILED " + _,
            r => f"${r.rows}%10d ${r.sortedHash.take(12)}")}  ${
          (System.nanoTime() - t0) / 1e9}%5.1f s")
        name -> res
      }.toMap

    // resolve the jar BEFORE the local phase: a missing/stale jar
    // should fail in a second, not after a full local[*] sweep
    val jar = ClusterJar.resolve()

    // phase 1: the local[*] reference counts
    val local = Graft.sessionBuilder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    local.sparkContext.setLogLevel("ERROR")
    println(s"== phase 1: local[32] reference on $dir " +
      s"(${SparkEntry.queries.size} queries)")
    val ref = runAll(local, "local")
    local.stop()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()

    // phase 2: the same registry under local-cluster + spark.jars
    val cluster = ClusterJar.deploy(Graft.sessionBuilder().master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"), execMemDefault = "6g")
      .getOrCreate()
    cluster.sparkContext.setLogLevel("ERROR")
    println(s"== phase 2: $master with spark.jars=$jar")
    val got = runAll(cluster, "cluster")
    cluster.stop()

    var bad = 0
    var reordered = 0
    ref.keys.toSeq.sorted.foreach { name =>
      (ref(name), got(name)) match {
        case (Right(a), Right(b))
            if a.rows == b.rows && a.sortedHash == b.sortedHash =>
          if (a.orderedHash != b.orderedHash) {
            reordered += 1
            println(s"REORDERED $name: same row multiset, different row " +
              "order across masters (no global sort in this query, or a " +
              "determinism finding if it has one)")
          }
        case (a, b) =>
          bad += 1
          println(s"MISMATCH $name: local=$a cluster=$b")
      }
    }
    println(s"== ${ref.size - bad}/${ref.size} content hashes match " +
      s"between local[32] and $master" +
      (if (reordered > 0) s" ($reordered order-only diffs)" else ""))
    if (bad > 0) sys.exit(1)
  }
}
