package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * One parquet file per table; schemas in FIXTURES.md §2. All queries
  * receive the scale-factor directory at call time so the same plan runs
  * at sf0.001 (smoke), sf0.01 (correctness) and sf0.1+ (bench). At
  * cluster scale these would be partitioned/bucketed tables; reading via
  * `spark.read.parquet` keeps Catalyst free to push filters and prune
  * columns into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings every graft entry point needs; called once at
    * session construction (Verify/Bench mains, test sessions) so table
    * reads stay side-effect free. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    // Some corpus generations write events.ts as parquet TIMESTAMP(NANOS),
    // which Spark's vectorized reader rejects; read nanos as long so the
    // loader can convert (`t` below adapts to whichever type actually
    // loaded — the driver regenerates the corpus between rounds and has
    // already flipped nanos↔micros once).
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Timestamps in the corpus are wall-clock-free instants; pin the
      // session zone so TIMESTAMP_NTZ→TIMESTAMP normalization and
      // date_trunc/unix_micros agree with the DuckDB oracle regardless
      // of host zone.
      .config("spark.sql.session.timeZone", "UTC")
      // Read micros-annotated parquet (isAdjustedToUTC=false) directly
      // as TIMESTAMP instead of TIMESTAMP_NTZ: the corpus's timestamps
      // are instants, and loading them natively keeps `adaptTs` a
      // pass-through — no cast above the scan, so a time-range
      // predicate on ts reaches the parquet reader as a pushed filter
      // (row-group/partition pruning on event time is THE scan cut at
      // 100 TB; a cast-wrapped column disqualifies it). The NTZ branch
      // in adaptTs stays as the fallback for sessions that re-enable
      // inference.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // ObjectHashAggregate (TypedImperativeAggregate paths: topk,
      // minhash32, simhash64) falls back to SORT-based aggregation
      // after only 128 distinct keys per task by default — built for
      // giant collect_list buffers, but our buffers are bounded and
      // tiny (k-element heaps, 32-slot sketches), so the fallback
      // would re-introduce a per-task sort of exactly the wide streams
      // those aggregates exist to collapse (the IVF assignment groups
      // on vec_id: N distinct keys per task ≈ N/partitions — ~16k at
      // the 500× smoke's 1M vectors / 64 partitions).
      //
      // USER-FACING: the setting is session-global, so it also governs
      // a library user's own ObjectHashAggregate queries with UNBOUNDED
      // buffers (collect_list / collect_set), where the 128 default is
      // a memory guard. 256k keys × ~100 B bounded buffer ≈ ~26 MB per
      // task for graft's aggregates — comfortable — while 256k large
      // collect_list buffers before sort fallback is already a real
      // ceiling; past it the sort fallback is the correct graceful
      // degradation. Raise further only for sessions that run graft
      // aggregates exclusively.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 18).toString)
      // Spark's generated-code cache is JVM-wide and LRU, 100 entries
      // by default, and holds each class once per class loader (driver
      // and executor). One noop-write pass over all 58 registered
      // queries at sf0.01 leaves 654 entries; the six dedup_scaled
      // queries alone leave 135. At 100 every repeat of a query
      // compiles its classes again and its tasks restart in the
      // bytecode interpreter; 1024 (the next power of two above
      // 1.5 × 654) keeps every registered query's code for the session.
      // Spark reads this static setting once per JVM, when code is
      // first generated, so a session built without this function that
      // generates code first fixes the cache at 100.
      .config("spark.sql.codegen.cache.maxEntries", "1024")

  /** Exact row count from parquet footer metadata — a driver-side footer
    * read, no data scan. Used where a plan needs a corpus-size constant
    * (e.g. the IVF centroid step): at 100 TB a `count()` is a full pass
    * over the table; the footers already hold the answer. */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Long =
    footerRowCountAtPath(spark, s"$dir/$name.parquet")

  /** [[footerRowCount]] for a raw parquet path (a part-file directory
    * or a single file) — shared by the table form above and the staged
    * mode's per-stage audit records. */
  private[graft] def footerRowCountAtPath(spark: SparkSession,
      path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet"))
      else Array(root)
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** First *.parquet data file under `path` (itself a file, or a
    * directory of part files), or None when nothing is there yet — a
    * driver-side listing, no data scan. Shared by the footer probes
    * below and the streaming source's shape probe. */
  private[graft] def firstParquetFile(spark: SparkSession,
      path: String): Option[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else if (fs.getFileStatus(root).isDirectory)
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).headOption
    else Some(root)
  }

  /** The parquet logical-type TIME UNIT annotation of a top-level INT64
    * column, straight from the file footer (None for a plain/unannotated
    * INT64 or a missing column). This is the ground truth `adaptTs`'s
    * LongType branch must consult: `nanosAsLong` surfaces ONLY
    * TIMESTAMP(NANOS) as BIGINT, but a future corpus that writes plain
    * INT64 micros would ALSO load as BIGINT, and decoding it as nanos
    * silently shifts every instant 1000× — the same drift class round 9
    * hit, invisible to type-level checks because the post-decode type is
    * still TIMESTAMP. */
  private[graft] def footerTsUnit(spark: SparkSession,
      file: org.apache.hadoop.fs.Path, colName: String)
      : Option[org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      if (!schema.containsField(colName)) None
      else schema.getType(Seq(colName): _*) match {
        case p: org.apache.parquet.schema.PrimitiveType =>
          p.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              Some(ts.getUnit)
            case _ => None
          }
        case _ => None
      }
    } finally r.close()
  }

  /** Timestamp-bearing columns per table, and whether downstream queries
    * require full normalization to TIMESTAMP (events.ts feeds unix_micros/
    * window arithmetic built against TimestampType) or only healing of a
    * nanos-written file (the TPC-H date columns are green as loaded). */
  private val tsColumns: Map[String, Seq[(String, Boolean)]] = Map(
    "events" -> Seq("ts" -> true),
    "orders" -> Seq("o_orderdate" -> false),
    "lineitem" -> Seq("l_shipdate" -> false))

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    tsColumns.getOrElse(name, Nil).foldLeft(raw) { case (df, (c, norm)) =>
      df.withColumn(c, adaptTs(spark, dir, name, c, df.schema(c).dataType, norm))
    }
  }

  /** Schema-adaptive timestamp loading. The driver regenerates the corpus
    * between rounds and has shipped events.ts as both TIMESTAMP(NANOS) —
    * which `nanosAsLong` above surfaces as LongType — and
    * TIMESTAMP(MICROS), which Spark loads as TIMESTAMP_NTZ; hard-coding
    * either assumption crashes the other at analysis time, so branch on
    * what actually loaded. With `normalize` the column always comes out
    * as TIMESTAMP (µs instants; session pinned UTC so the NTZ re-tag and
    * the DuckDB oracle's naive read agree). */
  private def adaptTs(
      spark: SparkSession, dir: String,
      table: String, name: String,
      loaded: org.apache.spark.sql.types.DataType,
      normalize: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    loaded match {
      // nanosAsLong fired on a nanos-annotated file: data is generated at
      // µs precision, so the ns→µs truncation is lossless. The footer
      // probe (a driver-side metadata read, once per load) guards the
      // div-1000: a regenerated corpus writing PLAIN INT64 (micros, no
      // logical annotation) also loads as BIGINT, and decoding it as
      // nanos would shift every instant 1000× with the post-load type
      // still TIMESTAMP — undetectable by SchemaDriftSpec's type pins.
      case LongType =>
        val unit = firstParquetFile(spark, s"$dir/$table.parquet")
          .flatMap(f => footerTsUnit(spark, f, name))
        if (!unit.contains(
            org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS))
          throw new IllegalStateException(
            s"$table.$name loaded as BIGINT but the parquet footer says " +
              s"logical type ${unit.map(_.toString).getOrElse("<none>")}, " +
              "not TIMESTAMP(NANOS) — corpus schema drifted (a plain-INT64 " +
              "column decoded as nanos would be silently 1000x-shifted); " +
              "extend Tables.adaptTs")
        timestamp_micros(expr(s"$name div 1000"))
      case TimestampNTZType if normalize => col(name).cast(TimestampType)
      case TimestampNTZType | TimestampType => col(name)
      // non-normalized columns tolerate other loadable date/time shapes
      // (a DATE-written o_orderdate is the canonical TPC-H type and
      // compares fine against timestamp literals): pass through and let
      // SchemaDriftSpec/the Verify preflight REPORT the drift rather
      // than hard-failing every orders/lineitem query at load time. The
      // normalized events.ts stays strict — its downstream contract is
      // µs instants, and silently accepting a date-written column would
      // zero out every time-of-day-dependent result.
      case _ if !normalize => col(name)
      case other => throw new IllegalStateException(
        s"$table.$name loaded as unexpected type $other — corpus schema " +
          "drifted; extend Tables.adaptTs")
    }
  }
}
