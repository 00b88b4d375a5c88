package graft

import org.apache.spark.sql.functions._

/** Multi-executor smoke for the operator families that ship expression
  * trees in task binaries — the embed/IVF family above all (SURVEY
  * §8.4.10). Runs each operator on a real executor topology
  * (local-cluster by default) under the SUPPORTED deployment shape —
  * `spark.jars` — and prints row counts to compare against a local[*]
  * run of the same corpus.
  *
  * Why this exists (round 12): the embed family had never run on a
  * multi-executor master. First attempts died in executor-side task
  * DESERIALIZATION (`ClassCastException: cannot assign instance of
  * scala.collection.generic.DefaultSerializationProxy to field …`,
  * victim field varying by stream layout — MultiCommutativeOp.operands,
  * FileSourceScanExec.dataFilters, ProjectExec.projectList…). A long
  * bisect (builtin formulations pass, graft classes in any
  * JDK-serialized plan fragment fail, projections survive only while
  * column pruning keeps them out of the shipped graph) landed on the
  * DEPLOYMENT, not the code: application classes were handed to
  * executors via `spark.executor.extraClassPath` (the system
  * classloader), and Spark 4.1.2's JavaSerializer stream breaks Scala
  * 2.13 collection-proxy readResolve when user classes resolve through
  * the system loader. Shipping the SAME classes as a user jar
  * (`spark.jars` → the executor's MutableURLClassLoader, exactly what
  * spark-submit --jars does) makes every formerly-failing shape pass
  * bit-identically. Operational rule, recorded in docs/SIZING.md:
  * deploy graft with --jars/spark.jars; never via executor
  * extraClassPath.
  *
  * Run (jar must be current):
  *   sbt package && SCALE_SMOKE_MASTER=local-cluster[4,8,7168] \
  *     SPARK_SCALA_VERSION=2.13 tools/runmain.sh graft.ClusterSmoke [sfDir]
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/embed-recall-smoke")
    val master = sys.env.getOrElse("SCALE_SMOKE_MASTER",
      "local-cluster[4,8,7168]")
    val spark = ClusterJar.deploy(Graft.sessionBuilder().master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def step(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      try println(f"$tag%-26s OK  ${body}%12d  ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      catch { case e: Throwable =>
        println(s"$tag FAILED: ${e.getMessage.takeWhile(_ != '\n')}")
      }
    }
    import graft.functions.{Dedup, Similarity}
    // the cell cap follows the SHIPPING corpus-aware default (r15,
    // closing an r14 advisory: a fixed 4096 here stopped exercising
    // the default path the moment it became corpus-aware — identical
    // at gate SFs where the 4096 floor binds, but the smoke's claim
    // of covering the shipped route would drift as the gate corpus
    // grows). EMBED_SMOKE_MAXCELL pins it for A/Bs.
    val cellCap = Graft.envLong("EMBED_SMOKE_MAXCELL").getOrElse(
      // resolve must DEGRADE like every step does, not crash the smoke
      // before any FAILED line prints (a missing/corrupt corpus throws
      // from the footer sweep): fall back to the 4096 floor and say so
      // NonFatal only: an OutOfMemoryError/NoClassDefFoundError must
      // abort the smoke, not degrade it to the floor in a corrupted JVM
      try Dedup.embedCosineMaxCellDefault(
        Tables.footerRowCount(spark, dir, "embeddings"))
      catch { case scala.util.control.NonFatal(e) =>
        println("cell cap resolve FAILED (" +
          String.valueOf(e.getMessage).takeWhile(_ != '\n') +
          "): falling back to the 4096 floor")
        4096L
      })
    println(s"cell cap: $cellCap")
    step("ivfParts.assigned")(Similarity.ivfParts(spark, dir)._3.count())
    step("embedCells(probed dflt)")(Dedup.embedCells(spark, dir, cellCap).count())
    spark.conf.set("graft.embedCosine.probeMargin", "0")
    step("embedCells(probe off)")(Dedup.embedCells(spark, dir, cellCap).count())
    spark.conf.unset("graft.embedCosine.probeMargin")
    step("ssIvfTopK")(Similarity.ssIvfTopK(spark, dir).count())
    step("ddEmbedCosine")(Dedup.ddEmbedCosine(spark, dir).count())
    step("ssCosineTopK")(Similarity.ssCosineTopK(spark, dir).count())
    step("ssQuantizedTopK")(Similarity.ssQuantizedTopK(spark, dir).count())
    spark.stop()
  }
}
