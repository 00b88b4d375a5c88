package graft.pipeline

import graft.Tables.t
import graft.pipeline.blocks.TextBlocks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries that put the pipeline BLOCK semantics under the
  * DuckDB hash-compare: text_replace and wrap_text (reference blocks
  * #17/#18) run per document through [[BulkRunner.runRow]], the row
  * function every BulkRunner stage runs, and the JsonPathExtract
  * Catalyst expression behind E2 wiring, applied corpus-wide. One
  * parquet scan and no shuffle before the final sort — at 100 TB these
  * are embarrassingly parallel map stages. */
object PipelineQueries {

  /** Blocks #17+#18 composed over every document: wrap_text(prefix/
    * suffix) of text_replace(text, "data", "[data]"), one UDF over the
    * scan (no stage frames, zip or count). */
  def plTextOps(spark: SparkSession, dir: String): DataFrame = {
    val replace = Map[String, PValue]("old" -> PStr("data"), "new" -> PStr("data"),
      "prefix" -> PStr("["), "suffix" -> PStr("]"))
    val wrap = Map[String, PValue]("prefix" -> PStr("<<"), "suffix" -> PStr(">>"))
    val ctx = Clients.mockCtx()
    def step(op: BlockOp, lits: Map[String, PValue], text: PValue): PValue =
      BulkRunner.runRow(op, lits, Map("text" -> text), 0, ctx, op.id)
        .fold[PValue](PNull)(res => PBytes(res.outputs.head))
    val render = udf { (text: String) =>
      step(TextBlocks.WrapText, wrap,
        step(TextBlocks.TextReplace, replace, Option(text).fold[PValue](PNull)(PStr))) match {
        case PNull => null
        case out   => out.asString
      }
    }
    t(spark, dir, "documents")
      .select(col("doc_id"), render(col("text")).as("rendered"))
      .withColumn("n_marks",
        size(split(col("rendered"), "\\[data\\]", -1)) - 1)
      .orderBy("doc_id")
  }

  /** E2 wiring over `events.props`: the JsonPathExtract expression
    * (scalar path) against DuckDB's JSON extraction. */
  def plJsonPath(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        // get(), not element_at(1): a well-formed doc MISSING the key
        // extracts an empty array, and element_at on it is an ANSI
        // crash — get returns null, matching the oracle's
        // json_extract_string(missing key) = NULL
        get(JsonPathExtract.json_path_extract(col("props"), "$.k"), lit(0))
          .cast("long").as("k"))
      .where(col("k") % 7 === 0)
      .orderBy("event_id")

  /** The ENGINE itself under the oracle: a two-block pipeline spec
    * (wrap_text → text_replace) executed by the data-plane BulkRunner
    * over the whole documents corpus as the initial stage — spec
    * parsing, wiring, zip, and the row executor all sit inside the
    * hash-compared result. */
  def plBulkPipeline(spark: SparkSession, dir: String): DataFrame = {
    val spec = PipelineSpec("pl-bulk", "t",
      "corpus-wide wrap+replace via the data-plane executor", Seq(
        BlockSpec("wrap_text", "wrap", "wrap every document text",
          input = Map("prefix" -> PStr("<"), "suffix" -> PStr(">")),
          inputConfig = Some(InputConfig(isArray = true,
            property = Map("text" -> PropertyWiring("src"))))),
        BlockSpec("text_replace", "mark", "mark the data token",
          input = Map("old" -> PStr("data"), "new" -> PStr("DATA")),
          inputConfig = Some(InputConfig(isArray = true,
            property = Map("text" -> PropertyWiring("wrap")))))))
    val initial = t(spark, dir, "documents")
      .select(col("doc_id").cast("int").as("idx"),
        col("text").cast("binary").as("value"))
    val out = BulkRunner.run(spec, Map("src" -> initial),
      BulkRunner.BulkConfig(spark, BlockRegistry.standard(), Clients.mockCtx()))
    out("mark")
      .select(col("idx").cast("long").as("doc_id"),
        col("value").cast("string").as("rendered"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pl_text_ops"      -> plTextOps _,
    "pl_jsonpath"      -> plJsonPath _,
    "pl_bulk_pipeline" -> plBulkPipeline _,
  )

  val oracles: Map[String, String] = Map(
    // ltrim(x, ' ') == TrimLeft; replace == ReplaceAll; the wrap is
    // plain concat — byte-identical to the block semantics.
    "pl_text_ops" ->
      """SELECT doc_id,
        |  '<<' || replace(ltrim(text, ' '), 'data', '[data]') || '>>' AS rendered,
        |  len(string_split(
        |    '<<' || replace(ltrim(text, ' '), 'data', '[data]') || '>>',
        |    '[data]')) - 1 AS n_marks
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pl_jsonpath" ->
      """WITH x AS (SELECT event_id,
        |  -- json_valid guard: malformed props extract NULL, as in Spark
        |  CAST(CASE WHEN json_valid(props)
        |       THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
        |FROM events)
        |SELECT event_id, k FROM x WHERE k % 7 = 0
        |ORDER BY event_id""".stripMargin,
    // wrap_text then text_replace semantics (TrimLeft(' ') on every
    // part; replace AFTER wrapping, so the wrap markers are part of the
    // searched text) — byte-equal to the engine's two-stage run.
    "pl_bulk_pipeline" ->
      """SELECT doc_id,
        |  replace('<' || ltrim(text, ' ') || '>', 'data', 'DATA') AS rendered
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
