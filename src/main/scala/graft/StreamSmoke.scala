package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming near-dup throughput smoke: the batch dedup family has
  * four scale sweeps (SURVEY §8.4); this is the matching measurement
  * for [[graft.streaming.Streams.nearDupStream]] — micro-batch wall
  * time, state rows/bytes and pair output over a replicated corpus
  * arriving in waves. Run:
  *   sbt "runMain graft.StreamSmoke [waves] [stepMinutes]"
  *
  * Corpus: the ScaleSmoke construction (fresh token vocabulary per
  * wave so the corpus GROWS; a shared boilerplate suffix on waves ≥ 1
  * so some band buckets go degenerate and the member cap + drop
  * accumulator are exercised), one wave = one sf0.1 document set with
  * arrival ts = wave · step. With step · waves > the 1440-minute
  * horizon, late waves must show the watermark PRUNING early members:
  * state rows plateau instead of growing with the stream — the
  * "bounded by the horizon, never the whole history" claim, measured. */
object StreamSmoke {
  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(20)
    val stepMin = args.lift(1).map(_.toInt).getOrElse(120)
    // STREAM_SMOKE_STORE=rocksdb swaps the state store provider: at
    // 100 TB streaming state lives in RocksDB (off-heap, spillable,
    // changelog-checkpointed), not the default in-memory HDFS-backed
    // map — the same pipeline must show the same plateau/eviction
    // behavior on both, and the per-batch wall + state-bytes deltas
    // are the comparison SURVEY §8.4.5 records. Note RocksDB's
    // memoryUsedBytes reports block-cache+memtable usage (pinned
    // native memory), not Java-heap row bytes — sizes are not
    // directly comparable across providers, plateau SHAPE is.
    val store = sys.env.getOrElse("STREAM_SMOKE_STORE", "hdfs")
    // SCALE_SMOKE_MASTER=local-cluster[4,8,7168] runs the streaming
    // micro-batches under REAL multi-executor task serialization
    // (round 16): the nearDup streaming plan ships graft expression
    // trees (shingles, band hashes) in stateful tasks every batch —
    // exactly the §8.4.10 landmine class that local[32] can never
    // exercise — so the streaming family needs the same spark.jars
    // deployment check the batch families have.
    val master = sys.env.getOrElse("SCALE_SMOKE_MASTER", "local[32]")
    val builder = Graft.sessionBuilder().master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    if (store == "rocksdb") builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (master.startsWith("local-cluster")) ClusterJar.deploy(builder)
    val spark = builder.getOrCreate()
    println(s"state store provider: $store")
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val big = "target/stream-smoke"

    val boiler = " legal notice all rights reserved"
    val d = Tables.t(spark, src, "documents")
    val n = Option(d.agg(max("doc_id")).head.getAs[Number](0))
      .map(_.longValue + 1).getOrElse(0L)
    require(n > 0, "empty source corpus")
    d.crossJoin(spark.range(waves).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * n).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(array_join(transform(split(col("text"), " "),
            t => concat(lit("v"), col("copy"), lit("·"), t)), " "),
            lit(boiler))).as("text"),
        // epoch + 1h base offset keeps wave 0 above the initial watermark
        ((col("copy") * stepMin + 60) * 60000L).as("ts_ms"))
      .write.mode("overwrite").parquet(s"$big/documents.parquet")

    // the corpus contract: the static verify side must already contain
    // every streamed document's text (the landing-table pattern)
    val corpus = spark.read.parquet(s"$big/documents.parquet")
      .select("doc_id", "text")
    val perWave = corpus.count() / waves
    println(s"corpus: ${perWave * waves} documents in $waves waves of " +
      s"$perWave, step $stepMin min, horizon 1440 min " +
      s"(prunes after ~${1440 / stepMin} waves)")

    val mem = MemoryStream[Doc](spark)
    val drops = spark.sparkContext.longAccumulator("bucket_drops")
    val worst = new graft.streaming.MaxAccumulator
    spark.sparkContext.register(worst, "worst_bucket_drops")
    val out = graft.streaming.Streams.nearDupStream(
      mem.toDF(), corpus, drops = Some(drops), worstBucketDrops = Some(worst))
    val q = out.writeStream.format("memory").queryName("pairs")
      .outputMode("append").start()
    try {
      println(f"${"wave"}%-5s ${"wall_s"}%8s ${"docs/s"}%9s " +
        f"${"state_rows"}%11s ${"state_MB"}%9s ${"pairs"}%8s ${"drops"}%7s")
      for (w <- 0 until waves) {
        val wave = spark.read.parquet(s"$big/documents.parquet")
          .where(col("doc_id").between(w * n, (w + 1) * n - 1))
          .select("doc_id", "ts_ms", "text").collect()
          .map(r => Doc(r.getLong(0), new java.sql.Timestamp(r.getLong(1)),
            r.getString(2)))
        val t0 = System.nanoTime()
        mem.addData(wave.toIndexedSeq)
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val so = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq)
        val stateRows = so.map(_.numRowsTotal).sum
        val stateMb = so.map(_.memoryUsedBytes).sum / 1e6
        val pairs = spark.table("pairs").count()
        println(f"$w%-5d $wall%8.2f ${wave.length / wall}%9.0f " +
          f"$stateRows%11d $stateMb%9.2f $pairs%8d ${drops.value}%7d")
      }
      // round 17: the drop advisory quotes the per-bucket pair-loss
      // bound — silent when nothing was capped (the expected outcome
      // on this healthy corpus, where hot buckets don't exist)
      println("drop advisory: " + graft.streaming.Streams
        .reportDrops(spark, drops, worst).map(_.message)
        .getOrElse("(none - no drops)"))
    } finally q.stop()
    spark.stop()
  }
}
