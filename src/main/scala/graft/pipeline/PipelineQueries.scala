package graft.pipeline

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries that put the pipeline BLOCK semantics under the
  * DuckDB hash-compare: block specs run corpus-wide by the data-plane
  * [[BulkRunner]] (text_replace and wrap_text, reference blocks
  * #17/#18), and the JsonPathExtract Catalyst expression behind E2
  * wiring. One parquet scan and no shuffle before the final sort — at
  * 100 TB these are embarrassingly parallel map stages. */
object PipelineQueries {

  /** A fan-out block whose `text` is wired from stage `origin`. */
  private def textStage(id: String, slug: String, origin: String,
      input: Map[String, PValue]): BlockSpec =
    BlockSpec(id, slug, s"$id over every document", input = input,
      inputConfig = Some(InputConfig(isArray = true,
        property = Map("text" -> PropertyWiring(origin)))))

  /** Runs `blocks` through [[BulkRunner]] over the documents corpus as
    * the initial stage `src` (`idx` = `doc_id`, `value` = `text`):
    * `(doc_id, rendered)`, the last block's output per document. */
  private def runOverDocuments(spark: SparkSession, dir: String, slug: String,
      blocks: Seq[BlockSpec]): DataFrame = {
    val initial = t(spark, dir, "documents")
      .select(col("doc_id").as("idx"), col("text").cast("binary").as("value"))
    val out = BulkRunner.run(PipelineSpec(slug, "t", "corpus-wide text blocks", blocks),
      Map("src" -> initial),
      BulkRunner.BulkConfig(spark, BlockRegistry.standard(), Clients.mockCtx()))
    out(blocks.last.slug)
      .select(col("idx").as("doc_id"), col("value").cast("string").as("rendered"))
  }

  /** Blocks #17+#18 composed over every document: wrap_text(prefix/
    * suffix) of text_replace(text, "data", "[data]"). */
  def plTextOps(spark: SparkSession, dir: String): DataFrame =
    runOverDocuments(spark, dir, "pl-text-ops", Seq(
      textStage("text_replace", "replace", "src", Map("old" -> PStr("data"),
        "new" -> PStr("data"), "prefix" -> PStr("["), "suffix" -> PStr("]"))),
      textStage("wrap_text", "wrap", "replace",
        Map("prefix" -> PStr("<<"), "suffix" -> PStr(">>")))))
      .withColumn("n_marks",
        size(split(col("rendered"), "\\[data\\]", -1)) - 1)
      .orderBy("doc_id")

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

  /** The ENGINE itself under the oracle: wrap_text then text_replace,
    * so the replace also searches the wrap markers. */
  def plBulkPipeline(spark: SparkSession, dir: String): DataFrame =
    runOverDocuments(spark, dir, "pl-bulk", Seq(
      textStage("wrap_text", "wrap", "src",
        Map("prefix" -> PStr("<"), "suffix" -> PStr(">"))),
      textStage("text_replace", "mark", "wrap",
        Map("old" -> PStr("data"), "new" -> PStr("DATA")))))
      .orderBy("doc_id")

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
