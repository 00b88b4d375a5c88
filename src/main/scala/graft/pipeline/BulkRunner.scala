package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BinaryType}
import org.apache.spark.sql.functions._

/** Data-plane pipeline executor: every stage output IS a DataFrame
  * `(idx BIGINT, value BINARY)` — nothing is ever collected to the driver.
  *
  * The control-plane [[Runner]] replicates the reference's execution
  * model faithfully (driver-resident buffers, moderation, retry,
  * regeneration — matching `[]*bytes.Buffer` semantics,
  * pipeline_block_data_registry.go:43). This executor is the 100 TB
  * form of the SAME spec language: a fan-out of a million rows stays a
  * Spark stage, JSONPath projection runs as a Catalyst expression,
  * zip-merge is a join on idx, checkpoints are parquet directories.
  *
  * Scope: pure-compute pipelines — every Distributed block runs through
  * its one `prepare` + `process` implementation, one call per row, each
  * row's input map built as the Runner builds it ([[runRow]]).
  * DriverSide blocks (external clients, moderation, conditional stop)
  * need the control-plane Runner and are rejected up front; the spec
  * suite proves the two executors agree on specs both can run.
  *
  * A stage is a lazy plan that persists nothing, so a run leaves no
  * frame in the session's cache. A stage with one wired property reads
  * its origin directly; one with several zips them ([[Wiring.zipByIdx]]),
  * which counts each property frame while the plan is built and, with no
  * `checkpointDir`, recomputes those frames (and the stages they come
  * from) wherever the zipped stage is consumed. Across a chain of such
  * stages the recomputation multiplies at each level; set `checkpointDir`
  * for such a pipeline, so each stage is computed once and read back.
  */
object BulkRunner {

  case class BulkConfig(
      spark: SparkSession,
      registry: BlockRegistry,
      ctx: BlockCtx,
      /** Stage-checkpoint root (parquet per stage): each stage is written,
        * then read back, cutting the lineage. None = lineage only. */
      checkpointDir: Option[String] = None,
      /** E12 at data scale: hydrate stages whose checkpoint already
        * exists (complete `_SUCCESS` marker AND a manifest matching the
        * stage's current fingerprint) instead of recomputing them — a
        * killed run resumes from its last finished stage, while a run
        * resumed after EDITING the spec recomputes the edited stage and
        * everything downstream of it (the manifest embeds the upstream
        * fingerprints, so staleness propagates; reference analogue:
        * resume hydrates by processingId, immutable per run —
        * types/dataclasses/pipeline.go:193-202). */
      resume: Boolean = false)

  /** Run a spec over an initial stage map; returns slug → stage frame. */
  def run(spec: PipelineSpec, initial: Map[String, DataFrame],
      conf: BulkConfig): Map[String, DataFrame] = {
    val unsupported = spec.blocks
      .map(b => b -> conf.registry(b.id))
      .filter(_._2.mode == DriverSide)
    require(unsupported.isEmpty,
      s"BulkRunner handles pure-compute stages only; driver-side blocks " +
        s"${unsupported.map(_._1.slug).mkString(", ")} need the control-plane Runner")

    val stages = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    initial.foreach { case (k, v) => stages(k) = normalize(v) }
    // Initial (caller-provided) stages carry an opaque tag: the guard
    // covers spec edits; swapping the initial DATA under the same slug
    // is the caller's contract, as in the reference (a processing's
    // input files are immutable once staged).
    val fps = scala.collection.mutable.Map[String, String]()
    initial.keys.foreach(k => fps(k) = s"external:$k")

    spec.blocks.foreach { blockSpec =>
      val fp = stageFingerprint(blockSpec, fps)
      fps(blockSpec.slug) = fp
      val ckpt = conf.checkpointDir.map(r => s"$r/${spec.slug}/${blockSpec.slug}")
      val finished = conf.resume && ckpt.exists(p => checkpointCurrent(conf, p, fp))
      if (finished) stages(blockSpec.slug) = normalize(conf.spark.read.parquet(ckpt.get))
      else stages(blockSpec.slug) = runBlock(spec, blockSpec, stages, conf, fp)
    }
    stages.toMap
  }

  // --- stage fingerprints (stale-resume guard) ----------------------
  private val ManifestFile = "_graft_manifest"

  /** SHA-256 over the block's output-relevant spec fields plus the
    * fingerprints of every wired origin, so editing any upstream block
    * invalidates all downstream checkpoints. `description` is excluded:
    * it never affects the computed bytes. */
  private def stageFingerprint(b: BlockSpec,
      fps: scala.collection.Map[String, String]): String = {
    val ic = b.inputConfig.getOrElse(InputConfig())
    val wiring = ic.property.toSeq.sortBy(_._1).map { case (name, w) =>
      val up = fps.getOrElse(w.origin, s"unmaterialized:${w.origin}")
      s"$name<=${w.origin}#$up;path=${w.jsonPath.getOrElse("")};arr=${w.arrayInput}"
    }.mkString("|")
    val lits = b.input.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${canonValue(v)}" }.mkString("|")
    val doc = s"id=${b.id}\nslug=${b.slug}\nisArray=${ic.isArray}\n" +
      s"lits=$lits\nwiring=$wiring"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(doc.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Deterministic rendering of a literal input value (object keys
    * sorted; bytes hashed raw, never via a UTF-8 round-trip). */
  private def canonValue(v: PValue): String = v match {
    case PStr(s)   => s"s:$s"
    case PBytes(b) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      "b:" + md.digest(b).take(8).map("%02x".format(_)).mkString
    case PNum(d)  => s"n:$d"
    case PInt(l)  => s"i:$l"
    case PBool(b) => s"t:$b"
    case PArr(vs) => vs.map(canonValue).mkString("a:[", ",", "]")
    case PObj(m)  => m.toSeq.sortBy(_._1)
      .map { case (k, x) => s"$k=${canonValue(x)}" }.mkString("o:{", ",", "}")
    case PNull    => "null"
  }

  /** Hadoop-FS view of a checkpoint path (works for hdfs://, s3a://,
    * file:/ — a java.io.File probe would silently disable resume on
    * any non-local checkpoint root). */
  private def hfs(conf: BulkConfig, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(conf.spark.sessionState.newHadoopConf()), path)
  }

  private def checkpointCurrent(conf: BulkConfig, p: String, fp: String): Boolean = {
    val (fs, path) = hfs(conf, p)
    val ok = fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))
    ok && {
      val mf = new org.apache.hadoop.fs.Path(path, ManifestFile)
      fs.exists(mf) && {
        val in = fs.open(mf)
        try new String(in.readAllBytes(), "UTF-8") == fp
        finally in.close()
      }
    }
  }

  private def writeManifest(conf: BulkConfig, p: String, fp: String): Unit = {
    val (fs, path) = hfs(conf, p)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, ManifestFile), true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  private def runBlock(spec: PipelineSpec, blockSpec: BlockSpec,
      stages: scala.collection.mutable.LinkedHashMap[String, DataFrame],
      conf: BulkConfig, fp: String): DataFrame = {
      val op = conf.registry(blockSpec.id)
      val ic = blockSpec.inputConfig.getOrElse(InputConfig())

      // E1-E4 at frame level: each wired property becomes (idx, value).
      val propFrames: Map[String, DataFrame] = ic.property.map { case (name, w) =>
        val origin = stages.getOrElse(w.origin,
          throw new NoSuchElementException(s"origin ${w.origin} not materialized"))
        val resolved = w.jsonPath match {
          case Some(path) if !w.arrayInput && ic.isArray && Wiring.isStarPath(path) =>
            Wiring.jsonPathExplode(origin, path)
          case _ =>
            val projected = w.jsonPath.fold(origin)(path => origin.select(col("idx"),
              element_at(JsonPathExtract.json_path_extract(
                col("value").cast("string"), path), 1).as("value")))
            if (w.arrayInput) Wiring.fanIn(projected) else projected
        }
        name -> resolved
      }

      val in =
        if (propFrames.isEmpty) conf.spark.range(1).select(col("id").as("idx"))
        else Wiring.zipByIdx(propFrames)

      val out = execute(op, blockSpec, in, propFrames.keys.toSeq, conf)
      conf.checkpointDir match {
        case Some(root) =>
          val path = s"$root/${spec.slug}/${blockSpec.slug}"
          out.write.mode("overwrite").parquet(path)
          // manifest AFTER the parquet commit: a crash between the two
          // leaves _SUCCESS without a manifest → recomputed on resume
          writeManifest(conf, path, fp)
          conf.spark.read.parquet(path)
        case None => out
      }
  }

  // ------------------------------------------------------------------
  private def normalize(df: DataFrame): DataFrame =
    df.select(col("idx").cast("long").as("idx"), col("value").cast("binary").as("value"))

  /** One stage row, built and run as the Runner builds and runs it: the
    * `literal` inputs overridden by the row's non-NULL `wired` values,
    * then `prepare` and `process`. The NULL rule lives here, once for
    * every block: a required input whose wired value is NULL, with no
    * literal or default to fill it, yields a NULL output (None) and the
    * block is not called; any other `prepare` failure throws, failing
    * the stage. */
  private def runRow(op: BlockOp, literal: Map[String, PValue], wired: Map[String, PValue],
      idx: Long, ctx: BlockCtx, slug: String): Option[BlockResult] = {
    val row = literal ++ wired.filter(_._2 != PNull)
    def unfilled(p: PropSpec): Boolean = p.required && p.default.isEmpty &&
      wired.get(p.name).contains(PNull) &&
      !(row.get(p.name) ++ op.defaults.get(p.name)).exists(_ != PNull)
    if (op.props.exists(unfilled)) None
    else op.prepare(row) match {
      case Left(err) => throw new IllegalArgumentException(s"$slug: $err")
      case Right(in) => Some(op.process(InputRow(idx, in), ctx))
    }
  }

  /** A stage cell as a wired value: binary stays bytes (a string
    * round-trip would corrupt non-UTF8 payloads like PNG/MP3), a fan-in
    * array becomes a PArr without its NULL elements, NULL is PNull. */
  private def cellValue(cell: Any): PValue = cell match {
    case null                        => PNull
    case b: Array[Byte]              => PBytes(b)
    case xs: scala.collection.Seq[_] => PArr(xs.iterator.filter(_ != null).map(cellValue).toSeq)
    case x                           => PStr(x.toString)
  }

  /** Every Distributed block runs through [[runRow]], one call per row,
    * each wired column typed as `Wiring.resolveWired` types it. The call
    * is a deterministic UDF over the row's columns, so a projection that
    * drops the output (e.g. a count) does not run the block. */
  private def execute(op: BlockOp, blockSpec: BlockSpec, in: DataFrame,
      wiredNames: Seq[String], conf: BulkConfig): DataFrame = {
    val ctx = conf.ctx
    val literal = blockSpec.input
    val slug = blockSpec.slug
    val isArray = blockSpec.inputConfig.exists(_.isArray)
    // the Java UDF1 form: a typed Scala udf cannot take a struct as a Row
    val outputs = udf(new org.apache.spark.sql.api.java.UDF1[Row, Seq[Array[Byte]]] {
      def call(r: Row): Seq[Array[Byte]] = {
        val wired = wiredNames.zipWithIndex.map { case (name, i) =>
          val v = cellValue(r.get(i + 1))
          name -> Wiring.typeWired(op.propsByName.get(name), v,
            v.asSeq.headOption.fold(Array.emptyByteArray)(_.asBytes))
        }.toMap
        runRow(op, literal, wired, r.getLong(0), ctx, slug) match {
          case None                 => Seq(null)
          case Some(res) if isArray => Seq(res.outputs.headOption.getOrElse(Array.emptyByteArray))
          case Some(res)            => res.outputs
        }
      }
    }, ArrayType(BinaryType))
    val raw = in.select(col("idx").as("src_idx"),
      outputs(struct((col("idx") +: wiredNames.map(col(_))): _*)).as("values"))
    // E13 at frame scale (Runner.scala's sortedResults loop): fan-out
    // mode keeps output[0] at the input index; otherwise every buffer
    // becomes an independent row, re-indexed contiguously by
    // (input idx, buffer position) — how audio_chunk's N chunks become
    // N rows (reference pipeline.go:523-601).
    if (isArray) normalize(raw.select(col("src_idx").as("idx"), col("values")(0).as("value")))
    else Wiring.indexedExplode(raw)
  }
}
