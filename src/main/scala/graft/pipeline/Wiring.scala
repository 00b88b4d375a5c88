package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Engine dataflow operators E1–E6 (SURVEY §2.1): origin resolution,
  * JSONPath projection, fan-out, fan-in, zip-merge, input-priority
  * coalesce.
  *
  * Two layers:
  *  - the exact value-space semantics of the reference
  *    (types/dataclasses/block.go:193-401 + MergeMaps block.go:404-500),
  *    used by the Runner for per-stage input resolution — stage input
  *    row COUNT is bounded by fan-out (dozens), so this is control-plane
  *    work, while each row's payload flows through Spark in the block
  *    executors;
  *  - DataFrame combinators expressing the same ops over `(idx, value)`
  *    stage frames for stages whose fan-out IS the data (e.g. a
  *    million-document fan-out) — explode/collect_list/join-on-idx keep
  *    those distributed.
  */
object Wiring {

  // ---------------------------------------------------------------- E5
  /** Faithful port of the reference's MergeMaps (block.go:404-500).
    *
    * Each incoming map merges into the FIRST accumulated row it does not
    * conflict with (conflict = same key, different value); if every row
    * conflicts, a new row is appended that INHERITS all fields of the
    * last row (later properties zip positionally against earlier ones,
    * scalars broadcast to all rows). Equal consecutive values collapse
    * into one row — a documented reference quirk we replicate rather
    * than "fix" (SURVEY §7.4.2).
    */
  def mergeMaps(maps: Seq[Map[String, PValue]]): Seq[Map[String, PValue]] = {
    if (maps.isEmpty) return Nil
    val result = scala.collection.mutable.ArrayBuffer[Map[String, PValue]]()
    maps.foreach { current =>
      val at = result.indexWhere { row =>
        current.forall { case (k, v) =>
          row.get(k).forall(equalValues(_, v))
        }
      }
      if (at >= 0) result(at) = result(at) ++ current
      else if (result.nonEmpty) result += (result.last ++ current)
      else result += current
    }
    result.toSeq
  }

  /** Value equality incl. byte arrays (Go compares []byte with
    * bytes.Equal and everything else with reflect.DeepEqual). */
  def equalValues(a: PValue, b: PValue): Boolean = (a, b) match {
    case (PBytes(x), PBytes(y)) => java.util.Arrays.equals(x, y)
    case (PBytes(_), _) | (_, PBytes(_)) => false
    case (x, y) => x == y
  }

  // ---------------------------------------------------------------- E6
  /** Input priority: request > wired > literal; later sources only fill
    * keys missing from every accumulated row (GetInputDataByPriority,
    * block.go:155-183). The reference then re-appends the wired rows and
    * MergeMaps the lot (pipeline.go:305). */
  def inputByPriority(
      request: Option[Map[String, PValue]],
      wired: Seq[Map[String, PValue]],
      literal: Option[Map[String, PValue]]): Seq[Map[String, PValue]] = {
    val sources: Seq[Seq[Map[String, PValue]]] =
      Seq(request.toSeq, wired, literal.toSeq)
    var result = Seq.empty[Map[String, PValue]]
    sources.foreach { source =>
      source.foreach { m =>
        if (result.isEmpty) { if (m.nonEmpty) result = Seq(m) }
        else result = result.map { row =>
          row ++ m.view.filterKeys(k => !row.contains(k)).toMap
        }
      }
    }
    mergeMaps(result ++ wired)
  }

  // ------------------------------------------------------------ E1–E4
  /** Resolve one block's wired inputs from prior stage outputs in value
    * space (GetInputConfigData, block.go:219-401).
    *
    * Returns the list of per-property input maps BEFORE priority/merge
    * (one map per origin buffer / exploded JSONPath element), plus
    * whether fan-out mode (`type:"array"`) applies.
    */
  def resolveWired(
      ic: InputConfig,
      props: Map[String, PropSpec],
      outputs: String => Option[Seq[Array[Byte]]]): Either[String, Seq[Map[String, PValue]]] = {
    val acc = scala.collection.mutable.ArrayBuffer[Map[String, PValue]]()
    // Property iteration order: the reference iterates a Go map
    // (nondeterministic); we use spec order for reproducibility.
    ic.property.foreach { case (name, w) =>
      outputs(w.origin) match {
        case None => return Left(s"origin ${w.origin} not found in pipeline results")
        case Some(buffers) =>
          buffers.foreach { buf =>
            val raw: PValue =
              if (w.arrayInput) PArr(buffers.map(b => PBytes(b)).toSeq)
              else PBytes(buf)
            val casted = typeWired(props.get(name), raw, buf)
            w.jsonPath match {
              case None => acc += Map(name -> casted)
              case Some(path) =>
                // HandleResultValue (block.go:502-519): parse-or-string.
                val data: Either[String, PValue] =
                  if (w.arrayInput) casted match {
                    case PArr(vs) => Right(PArr(vs.map(v =>
                      handleResultValue(v.asBytes).getOrElse(PNull))))
                    case other => handleResultValue(other.asBytes)
                  } else handleResultValue(buf)
                data match {
                  case Left(err) => return Left(err)
                  case Right(parsed) =>
                    val matches = JsonPath.eval(parsed, path)
                    if (matches.isEmpty)
                      return Left(s"json path '$path' not found in output of '${w.origin}'")
                    // The reference's jsonpath returns a slice for `[*]`
                    // paths and for field-access over an array root; in
                    // fan-out mode a slice value becomes one input row
                    // per element (block.go:348-365).
                    val lookedUp: PValue =
                      if (isStarPath(path) || matches.sizeIs > 1) PArr(matches)
                      else matches.head
                    lookedUp match {
                      case PArr(elems) if ic.isArray =>
                        elems.foreach(e => acc += Map(name -> e))
                      case v => acc += Map(name -> v)
                    }
                }
            }
          }
      }
    }
    Right(acc.toSeq)
  }

  /** A wired value typed by the receiving property's schema. A value the
    * schema cannot cast passes as the UTF-8 text of `buf`, the origin
    * buffer it came from; a key with no schema passes untyped. */
  def typeWired(ps: Option[PropSpec], raw: PValue, buf: => Array[Byte]): PValue =
    ps match {
      case Some(p) =>
        try p.cast(raw) catch { case _: Exception => PStr(new String(buf, "UTF-8")) }
      case None => raw
    }

  private[pipeline] def isStarPath(path: String): Boolean =
    try JsonPath.compile(path).contains(JsonPath.Star)
    catch { case _: Exception => false }

  /** Parse-or-passthrough (HandleResultValue block.go:502-519): payloads
    * whose first non-space byte is `{`, `[` or `"` must parse as JSON;
    * anything else passes through as the trimmed string. */
  def handleResultValue(bytes: Array[Byte]): Either[String, PValue] = {
    val s = new String(bytes, "UTF-8").trim
    if (s.nonEmpty && (s.head == '{' || s.head == '[' || s.head == '"'))
      Json.tryParse(s).toRight(s"error unmarshaling JSON: ${s.take(40)}")
    else Right(PStr(s))
  }

  /** Post-resolution combine (pipeline.go:281-305 + block.go:383-401):
    * fan-out mode zips via MergeMaps; scalar mode collapses to a single
    * row where the first value per key wins. */
  def combine(ic: InputConfig, wired: Seq[Map[String, PValue]]): Seq[Map[String, PValue]] =
    if (ic.isArray) mergeMaps(wired)
    else {
      val one = wired.foldLeft(Map.empty[String, PValue]) { (acc, m) =>
        acc ++ m.view.filterKeys(k => !acc.contains(k)).toMap
      }
      Seq(one)
    }

  // -------------------------------------------------- DataFrame layer
  /** E2/E3 over a stage frame `(idx, value)`: JSONPath projection with
    * `[*]` fan-out, re-indexed by match position. Runs as a Catalyst
    * expression (JsonPathExtract) + [[indexedExplode]] — fully
    * distributed, for stages whose fan-out is the data itself. */
  def jsonPathExplode(stage: DataFrame, path: String): DataFrame =
    indexedExplode(stage.select(col("idx").as("src_idx"),
      JsonPathExtract.json_path_extract(col("value").cast("string"), path).as("values")))

  /** One row per element of `values` in a frame `(src_idx, values)`, as
    * `(idx BIGINT, value)` with the element type of `values`, ordered by
    * (src_idx, position) and indexed contiguously from 0.
    *
    * The global index comes from `zipWithIndex` over a range-partitioned,
    * partition-sorted frame (per-partition offsets, one extra count job)
    * — NOT from a `row_number()` window with no partitionBy, which would
    * funnel the whole exploded stage through a single task. */
  private[pipeline] def indexedExplode(arrays: DataFrame): DataFrame = {
    val exploded = arrays
      .select(col("src_idx"), posexplode(col("values")).as(Seq("pos", "value")))
      .repartitionByRange(col("src_idx"), col("pos"))
      .sortWithinPartitions("src_idx", "pos")
      .select("value")
    val indexed = exploded.rdd.zipWithIndex.map { case (r, i) => Row(i, r.get(0)) }
    arrays.sparkSession.createDataFrame(indexed, StructType(Seq(
      StructField("idx", LongType), StructField("value", exploded.schema("value").dataType))))
  }

  /** E4: fan-in — all rows of a stage as ONE array value (ordered by
    * idx), the DataFrame form of `array_input: true`. */
  def fanIn(stage: DataFrame): DataFrame =
    stage.select(collect_list(struct(col("idx"), col("value"))).as("xs"))
      .select(lit(0L).as("idx"),
        transform(array_sort(col("xs")), x => x("value")).as("value"))

  /** E5: positional zip of property frames on idx, each property's value
    * in a column named after it. Scalar (1-row) frames broadcast their
    * value to every idx, and a multi-row frame SHORTER than the longest
    * one extends with its last value — the MergeMaps inherit rule
    * (block.go:404-500: an appended row inherits the last accumulated
    * row), so the executors agree with the control-plane zip instead of
    * silently inner-join-dropping the longer frame's tail. (MergeMaps
    * applies the inherit only when the shorter property was wired BEFORE
    * the longer one — the common fan-out shape; this combinator inherits
    * uniformly, which for a shorter LATER property fills the value the
    * control plane would leave to the block's literal/default.)
    *
    * The result is a lazy plan that caches nothing. One property costs
    * nothing: its frame comes back renamed, with no job. Several
    * properties are counted once each, while the plan is built, to pick
    * the spine and each frame's rule; every frame is then computed again
    * by each consumer of the zipped stage (the count, the spine, the
    * last-value lookup and the join). The cost compounds: when a zipped
    * property frame is itself a zipped stage, each of those consumers
    * recomputes that stage's own inputs once per its consumers, so the
    * upstream work of a chain of several-property stages multiplies at
    * each level instead of growing with its length. A `checkpointDir`
    * writes each stage once and reads it back, which cuts that lineage.
    * The zipped rows come in no particular order: each carries its idx. */
  def zipByIdx(properties: Map[String, DataFrame]): DataFrame = {
    require(properties.nonEmpty)
    val renamed = properties.map { case (name, df) =>
      name -> df.select(col("idx"), col("value").as(name))
    }
    if (renamed.size == 1) renamed.head._2
    else {
      val counts = renamed.map { case (name, df) => name -> df.count() }
      val maxRows = counts.values.max
      val spine = renamed(counts.find(_._2 == maxRows).get._1).select("idx")
      renamed.map { case (name, df) =>
        counts(name) match {
          case n if n == maxRows => df
          case 1L =>
            df.drop("idx").crossJoin(spine).select(col("idx"), col(name))
          case _ =>
            val lastVal = df.orderBy(col("idx").desc).limit(1)
              .select(col(name).as(s"__last_$name"))
            spine.join(df, Seq("idx"), "left")
              .crossJoin(broadcast(lastVal))
              .select(col("idx"),
                coalesce(col(name), col(s"__last_$name")).as(name))
        }
      }.reduce((a, b) => a.join(b, Seq("idx"), "inner"))
    }
  }
}
