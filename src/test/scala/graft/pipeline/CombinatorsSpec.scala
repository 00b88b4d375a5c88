package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataFrame-layer wiring combinators (E2-E5 at data scale): the
  * forms used when a stage's fan-out IS the data — distributed
  * JSONPath explode, collect_list fan-in, idx-zip. */
class CombinatorsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def stage(rows: (Int, String)*) =
    rows.toSeq.toDF("idx", "value")

  test("jsonPathExplode fans out star matches with a stable global index") {
    val in = stage(
      0 -> """{"segments":[{"t":"a"},{"t":"b"}]}""",
      1 -> """{"segments":[{"t":"c"}]}""")
    val out = Wiring.jsonPathExplode(in, "$.segments[*].t")
      .orderBy("idx").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((0, "a"), (1, "b"), (2, "c")))
  }

  test("jsonPathExplode passes non-JSON through under $ (HandleResultValue)") {
    val out = Wiring.jsonPathExplode(stage(0 -> "plain text"), "$")
      .collect().map(_.getString(1)).toSeq
    assert(out == Seq("plain text"))
  }

  test("fanIn collapses a stage to one ordered array row") {
    val out = Wiring.fanIn(stage(2 -> "c", 0 -> "a", 1 -> "b")).collect()(0)
    assert(out.getLong(0) == 0)
    assert(out.getSeq[String](1) == Seq("a", "b", "c"))
  }

  test("zipByIdx joins aligned frames and broadcasts single-row frames") {
    val texts = stage(0 -> "t0", 1 -> "t1", 2 -> "t2")
    val starts = stage(0 -> "0.0", 1 -> "2.0", 2 -> "4.0")
    val system = stage(0 -> "sys")
    val zipped = Wiring.zipByIdx(Map(
        "text" -> texts, "start" -> starts, "system" -> system))
    val out = zipped.orderBy("idx").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[String]("start"),
        r.getAs[String]("system"))).toSeq
    assert(out == Seq(("t0", "0.0", "sys"), ("t1", "2.0", "sys"), ("t2", "4.0", "sys")))
  }

  test("zipByIdx extends a shorter multi-row frame with its last value") {
    // the MergeMaps inherit rule (block.go:404-500): when a later
    // property fans out PAST an earlier, shorter one, the appended rows
    // inherit the earlier property's last value — the executor zip must
    // agree instead of inner-join-dropping the longer frame's tail
    val texts = stage(0 -> "t0", 1 -> "t1")
    val marks = stage(0 -> "m0", 1 -> "m1", 2 -> "m2", 3 -> "m3")
    val zipped = Wiring.zipByIdx(Map("text" -> texts, "mark" -> marks))
    val out = zipped.orderBy("idx").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[String]("mark"))).toSeq
    assert(out == Seq(("t0", "m0"), ("t1", "m1"), ("t1", "m2"), ("t1", "m3")))
    // control-plane agreement on the same shape (text wired first)
    val cp = Wiring.mergeMaps(Seq(
      Map("text" -> PStr("t0")), Map("text" -> PStr("t1")),
      Map("mark" -> PStr("m0")), Map("mark" -> PStr("m1")),
      Map("mark" -> PStr("m2")), Map("mark" -> PStr("m3"))))
    assert(cp.map(m => (m("text").asString, m("mark").asString)) ==
      Seq(("t0", "m0"), ("t1", "m1"), ("t1", "m2"), ("t1", "m3")))
  }

  test("jsonPathExplode runs without a single-partition global window") {
    val in = stage((0 until 64).map(i =>
      i -> s"""{"xs":[{"v":"a$i"},{"v":"b$i"}]}"""): _*)
    val df = Wiring.jsonPathExplode(in, "$.xs[*].v")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window in plan:\n$plan")
    val rows = df.orderBy("idx").collect()
    assert(rows.length == 128)
    // contiguous global index, ordered by (src, match position)
    assert(rows.map(_.getLong(0)).toSeq == (0 until 128))
    assert(rows(0).getString(1) == "a0" && rows(1).getString(1) == "b0")
    assert(rows(127).getString(1) == "b63")
  }

  test("normalization collapses runs of whitespace incl. tabs (gate exercise)") {
    // ta_fingerprint's oracle regex was once a literal-backslash no-op;
    // pin the Spark-side semantics on a corpus WITH consecutive
    // whitespace so any future oracle drift fails loudly.
    val df = Seq("a  b", "a\t\tb", " a \t b ").toDF("text")
      .select(graft.functions.TextAnalysis.normalized(col("text")).as("n"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a b", "a b", "a b"))
  }
}
