package graft

import graft.functions.{ShingleArray, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions exist purely for speed — their outputs must
  * be indistinguishable from the declarative formulations they
  * replaced, across edge cases (empty strings, 1-2 tokens, duplicate
  * shingles, odd whitespace, empty/mismatched vectors). */
class ExpressionParitySpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("ShingleArray equals the transform/slice formulation on edge-case corpus") {
    val corpus = Seq(
      "", " ", "one", "one two", "one two three",
      "a b c d e f g", "dup dup dup dup",
      "  leading and trailing  ", "tab\tseparated\ttokens",
      "a  double  spaced  doc", "x " * 200 + "tail",
      // EDGE whitespace beyond spaces: SQL trim strips spaces only, so
      // the tab must survive and shift tokenization in BOTH paths
      "\ttab-led doc body here", "trailing newline doc\n")
    val df = corpus.toDF("text")
    val toks = split(trim(col("text")), "\\s+")
    val reference = array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(3)))))
    val rows = df.select(
        ShingleArray.shingles3(col("text")).as("fast"), reference.as("ref"))
      .collect()
    rows.zip(corpus).foreach { case (r, text) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"divergence on '$text'")
    }
  }

  test("topk is NaN-deterministic: a NaN score loses to any real score") {
    // beats() was `as > bs` — false BOTH ways against NaN, so a NaN
    // arriving first blocked every later real entry and the winner
    // depended on arrival order. Drive the buffer directly with both
    // orders and assert identical, NaN-last results.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = graft.functions.TopKAgg(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), 3)
    val rows = Seq((Double.NaN, 10L), (0.5, 11L), (Double.NaN, 12L), (0.7, 13L))
    def run(rs: Seq[(Double, Long)]): Seq[(Double, Long)] = {
      val buf = agg.createAggregationBuffer()
      rs.foreach { case (s, i) => agg.update(buf, InternalRow(s, i)) }
      buf.toSeq
    }
    val expect = Seq((0.7, 13L), (0.5, 11L), (Double.NaN, 10L))
    Seq(rows, rows.reverse).foreach { rs =>
      val got = run(rs)
      assert(got.map(_._2) == expect.map(_._2), s"order ${rs.map(_._2)} -> $got")
      assert(got.take(2) == expect.take(2) && got(2)._1.isNaN)
    }
    // merge path: NaN-holding partial vs real-holding partial, both ways
    val (a, b) = (run(rows.take(2)), run(rows.drop(2)))
    def mergeOf(x: Seq[(Double, Long)], y: Seq[(Double, Long)]) = {
      val ba = agg.createAggregationBuffer(); ba ++= x
      val bb = agg.createAggregationBuffer(); bb ++= y
      agg.merge(ba, bb).toSeq
    }
    assert(mergeOf(a, b).map(_._2) == mergeOf(b, a).map(_._2))
    assert(mergeOf(a, b).map(_._2) == expect.map(_._2))
  }

  test("DotF64 equals aggregate(zip_with) on equal-length vectors (bit-exact)") {
    val cases: Seq[(Seq[Double], Seq[Double])] = Seq(
      (Nil, Nil), (Seq(1.5, -2.5), Seq(4.0, 8.0)),
      (Seq.tabulate(64)(_ * 0.1), Seq.tabulate(64)(i => 1.0 / (i + 1))),
      (Seq(1e300, 1e-300), Seq(1e300, 1e300)))
    val df = cases.toDF("a", "b")
    val reference = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    df.select(VectorOps.dot(col("a"), col("b")).as("fast"), reference.as("ref"))
      .collect().foreach { r =>
        val (fast, ref) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.compare(fast, ref) == 0 ||
          (fast.isInfinite && ref.isInfinite), s"$fast != $ref")
      }
    // Mismatched lengths: zip_with null-pads (nulling the whole sum);
    // DotF64 sums the common prefix — documented divergence, impossible
    // for a fixed-dimension embedding column.
    val mm = Seq((Seq(2.0, 3.0), Seq(5.0))).toDF("a", "b")
    assert(mm.select(VectorOps.dot(col("a"), col("b"))).collect()(0).getDouble(0) == 10.0)
    assert(mm.select(reference).collect()(0).isNullAt(0))
  }

  test("SortedOverlap equals size(array_intersect) on distinct sorted arrays") {
    val cases: Seq[(Seq[Long], Seq[Long])] = Seq(
      (Nil, Nil), (Seq(1L), Nil), (Seq(1L, 5L, 9L), Seq(1L, 5L, 9L)),
      (Seq(-9L, -2L, 0L, 7L), Seq(-2L, 7L, 8L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L)))
    val df = cases.toDF("a", "b")
    df.select(
        VectorOps.sortedOverlap(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect().foreach(r =>
        assert(r.getInt(0) == r.getInt(1), s"${r.getInt(0)} != ${r.getInt(1)}"))
  }

  test("rolling_hash codegen and interpreted paths agree") {
    // force the interpreted path via eval on a literal, codegen via df
    val samples = Seq("", "a", "hello world", "ü-umlaut €", "x" * 10000)
    val viaDf = samples.toDF("s")
      .select(graft.functions.RollingHash.rolling_hash(col("s"))).collect()
      .map(_.getLong(0)).toSeq
    val direct = samples.map(s => s.getBytes("UTF-8")
      .foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % 1000000007L))
    assert(viaDf == direct)
  }

  test("minhash32 aggregate: mergeable sketch estimates Jaccard within tolerance") {
    import graft.functions.MinHashAgg
    // two sets with known Jaccard 50/150 ≈ 0.333, one disjoint pair
    val rows =
      (0 until 100).map(i => ("a", s"tok-$i")) ++
      (50 until 150).map(i => ("b", s"tok-$i")) ++
      (0 until 100).map(i => ("c", s"other-$i"))
    val sigs = rows.toDF("gid", "sh")
      .groupBy("gid").agg(MinHashAgg.minhash32(col("sh")).as("sig"))
    val est = sigs.alias("x").join(sigs.alias("y"),
        col("x.gid") < col("y.gid"))
      .select(col("x.gid"), col("y.gid"),
        MinHashAgg.jaccardEstimate(col("x.sig"), col("y.sig")).as("j"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toMap2
    assert(math.abs(est(("a", "b")) - 1.0 / 3.0) <= 0.25, est)
    assert(est(("a", "c")) <= 0.15, est)
    // sketch is usable straight from SQL via the extension
    rows.toDF("gid", "sh").createOrReplaceTempView("shingle_rows")
    val viaSql = spark.sql(
      "SELECT gid, minhash32(sh) AS sig FROM shingle_rows GROUP BY gid")
    assert(viaSql.collect().forall(_.getSeq[Long](1).size == 32))
  }

  implicit private class ToMap2(rows: Array[(String, String, Double)]) {
    def toMap2: Map[(String, String), Double] =
      rows.map { case (a, b, j) => (a, b) -> j }.toMap
  }

  test("MinHashRow equals the MinHashAgg sketch slot for slot") {
    import graft.functions.{MinHashRow, ShingleArray}
    val corpus = Seq("a b c d e f", "one two three", "dup dup dup", "x")
    val df = corpus.toDF("text")
      .withColumn("shs", ShingleArray.shingles3(col("text")))
    val viaRow = df.select(col("text"),
      MinHashRow.minhash32_row(col("shs")).as("sig")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = df.select(col("text"), explode(col("shs")).as("sh"))
      .groupBy("text")
      .agg(graft.functions.MinHashAgg.minhash32(col("sh")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    corpus.foreach { text =>
      assert(viaRow(text) == viaAgg(text), s"divergence on '$text'")
    }
    // the per-row form is SQL-injected too
    df.createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
      "SELECT text, minhash32_row(shs) AS sig FROM mh_docs").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    corpus.foreach(text => assert(viaSql(text) == viaRow(text), text))
  }

  test("SimHashRow equals the SimHashAgg signature bit for bit") {
    import graft.functions.SimHashRow
    // edge cases: empty string (one "" token), single token, repeated
    // tokens (frequency-weighted majority), a tie at n=2 (strict rule),
    // tab-edged text (SQL trim strips spaces ONLY — a leading tab must
    // survive and produce an empty first token, exactly like the
    // split(trim(text), '\s+') formulation)
    val corpus = Seq("a b c d e f", "one two three", "dup dup dup",
      "x", "", "x y", "\tabc def ", " pad  ted\t")
    val df = corpus.toDF("text")
    val viaRow = df.select(col("text"),
        SimHashRow.simhash64_row(col("text")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaAgg = df
      .select(col("text"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("text")
      .agg(graft.functions.SimHashAgg.simhash64(xxhash64(col("tok"))).as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    corpus.foreach { text =>
      assert(viaRow(text) == viaAgg(text), s"divergence on '$text'")
    }
    // SQL-injected form agrees
    df.createOrReplaceTempView("sh_docs")
    val viaSql = spark.sql(
        "SELECT text, simhash64_row(text) AS sig FROM sh_docs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    corpus.foreach(text => assert(viaSql(text) == viaRow(text), text))
  }

  test("CdcChunks equals the filtered-cuts HOF formulation and is edit-local") {
    import graft.functions.CdcChunks
    val corpus = Seq(
      "", " ", "one", "one two three four",
      "one two three four five",
      Seq.tabulate(60)(i => s"w$i").mkString(" "),
      "dup dup dup dup dup dup dup dup dup dup",
      "  odd   whitespace  doc with\ttabs and  runs  ",
      "\ttab-led five token doc here", "newline-trailed doc body here\n")
    val df = corpus.toDF("text")
    val tk = split(trim(col("text")), "\\s+")
    val cutsAt = filter(
      when(size(tk) >= 5, sequence(lit(4), size(tk) - 1))
        .otherwise(array().cast("array<int>")),
      i => conv(substring(md5(
        concat_ws(" ", slice(tk, i - 3, lit(4)))), 1, 8), 16, 10)
        .cast("long") % 16 === 0)
    val cuts = concat(array(lit(0)), cutsAt, array(size(tk)))
    val reference = transform(sequence(lit(1), size(cuts) - 1),
      j => concat_ws(" ", slice(tk, element_at(cuts, j) + 1,
        element_at(cuts, j + 1) - element_at(cuts, j))))
    df.select(CdcChunks.cdc_chunks(col("text")).as("fast"),
        reference.as("ref")).collect()
      .zip(corpus).foreach { case (r, text) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"divergence on '$text'")
      }
    // the CDC property: appending a suffix re-chunks only the tail —
    // every chunk that ends 4+ tokens before the edit survives verbatim
    val base = Seq.tabulate(80)(i => s"t${i * 7 % 13}w$i").mkString(" ")
    val edited = base + " zzz qqq xxx yyy vvv"
    val Array(c1, c2) = Seq(base, edited).toDF("text")
      .select(CdcChunks.cdc_chunks(col("text"))).collect()
      .map(_.getSeq[String](0))
    assert(c1.dropRight(1) == c2.take(c1.length - 1),
      "prefix chunks must survive a suffix edit")

    // lossless partition: chunks joined back == normalized token stream
    // (randomized corpus — the property must hold for ANY input)
    val rnd = new scala.util.Random(42)
    val fuzz = Seq.fill(50)(
      Seq.fill(rnd.nextInt(120))(s"tok${rnd.nextInt(30)}").mkString(" "))
    fuzz.toDF("text")
      .select(col("text"), CdcChunks.cdc_chunks(col("text")).as("cs"))
      .collect().foreach { r =>
        val toks = r.getString(0).trim.split("\\s+").mkString(" ")
        assert(r.getSeq[String](1).mkString(" ") == toks,
          s"chunks must partition '${r.getString(0).take(60)}...'")
      }
  }

  test("concurrent pipeline runs under distinct processing ids stay isolated") {
    import graft.pipeline._
    val registry = BlockRegistry.standard()
    val root = java.nio.file.Files.createTempDirectory("concurrent").toString
    val conf = Runner.RunConfig(spark, registry,
      new CheckpointStore(root), Clients.mockCtx())
    val spec = PipelineSpec("conc", "t", "d", Seq(
      BlockSpec("wrap_text", "wrap", "wrap this run's distinct input text")))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val runs = (0 until 6).map { i =>
      scala.concurrent.Future(Runner.process(spec,
        Runner.StartInput(input = Map(
          "text" -> PStr(s"payload-$i"), "prefix" -> PStr("("), "suffix" -> PStr(")"))),
        conf))
    }
    val reports = runs.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    reports.zipWithIndex.foreach { case (r, i) =>
      assert(r.status == Runner.Completed)
      assert(new String(r.outputs("wrap").head._2, "UTF-8") == s"(payload-$i)")
      // each run's checkpoint lives under its own processing id
      val onDisk = conf.checkpoint.loadOutput("conc", r.processingId, "wrap").get
      assert(new String(onDisk.head._2, "UTF-8") == s"(payload-$i)")
    }
    assert(reports.map(_.processingId).distinct.size == 6)
  }
}
