package graft.pipeline

/** The 6-tuple every reference processor returns
  * (types/interfaces/block.go:56-64): output buffers, stop, retry,
  * regeneration target slug + input index. */
case class BlockResult(
    outputs: Seq[Array[Byte]] = Nil,
    stop: Boolean = false,
    retry: Boolean = false,
    targetSlug: String = "",
    targetIdx: Int = -1)

object BlockResult {
  def text(s: String): BlockResult = BlockResult(Seq(s.getBytes("UTF-8")))
  def bytes(b: Array[Byte]): BlockResult = BlockResult(Seq(b))
}

/** Whether a block's per-row work is pure. In the [[Runner]] it only
  * picks fan-out concurrency; [[BulkRunner]] runs only Distributed
  * blocks, each row through `prepare` + `process`, and rejects
  * DriverSide ones. */
sealed trait ExecMode extends Serializable
/** Pure compute — the Runner runs fan-out rows concurrently; BulkRunner
  * runs them as a Spark stage. */
case object Distributed extends ExecMode
/** Side-effecting (external clients, moderation) — ordered loop in the
  * Runner; `parallel: true` fan-out uses futures, mirroring the
  * reference's goroutine-per-row (pipeline.go:607-625). */
case object DriverSide extends ExecMode

/** Services injected into block execution. Serializable so Distributed
  * blocks can carry their (mock or real) clients to executors. */
case class BlockCtx(
    llm: Clients.LLMClient,
    moderation: Clients.ModerationClient,
    http: Clients.HttpClient,
    ffmpegPath: Option[String] = None,
    processingId: String = "",
    blockSlug: String = "",
    inputIndex: Int = -1) extends Serializable

/** One operator kind (reference types/blocks/block.go:64-77 +
  * Processor). Instances are registered once in [[BlockRegistry]];
  * a pipeline references them by `id`. */
trait BlockOp extends Serializable {
  def id: String
  def description: String = id
  /** JSON-Schema-lite input properties (validated per execution,
    * block.go:163-183). */
  def props: Seq[PropSpec]
  /** Per-block YAML defaults (config/config.yaml:40-347). */
  def defaults: Map[String, PValue] = Map.empty
  def retryCount: Int = 0
  def retryIntervalMs: Long = 0L
  def mode: ExecMode = Distributed
  /** Config gate for fan-out concurrency (`parallel_available` per
    * block, config/config.yaml — e.g. false for fetch_moderation_tg):
    * `input_config.parallel` only takes effect when the block allows
    * it. Meaningful for DriverSide blocks where side-effect order
    * matters; pure Distributed blocks always fan out in parallel. */
  def parallelAvailable: Boolean = true
  /** Availability detector (block Detector trait); unavailable blocks
    * halt the run (the reference would transfer to a peer — E15,
    * dropped: Spark's scheduler owns placement). */
  def available(ctx: BlockCtx): Boolean = true
  /** The operator body — one resolved input row in, outputs out. */
  def process(row: InputRow, ctx: BlockCtx): BlockResult

  lazy val propsByName: Map[String, PropSpec] = props.map(p => p.name -> p).toMap

  /** Validate + cast one input row against the block schema, applying
    * defaults with the reference's "right wins only if non-zero" merge
    * quirk (helpers/structures.go:7-49; booleans and 0/"" can never
    * override a default — documented, not fixed; SURVEY §2.3). */
  def prepare(row: Map[String, PValue]): Either[String, Map[String, PValue]] = {
    // Defaults win over ZERO row values (the Go quirk); row values with
    // no competing default pass through untouched — even zero ones (the
    // reference merges defaults per config STRUCT field; inputs outside
    // the config struct, e.g. upload_file's `file`, bypass the merge).
    val merged = row ++ defaults.collect {
      case (k, d) if row.get(k).forall(Blocks.isZero) => k -> d
    }
    val out = scala.collection.mutable.Map[String, PValue]()
    props.foreach { ps =>
      merged.get(ps.name).filter(_ != PNull) match {
        case Some(v) =>
          ps.validate(v) match {
            case Left(err) => return Left(err)
            case Right(c)  => out(ps.name) = c
          }
        case None =>
          ps.default match {
            case Some(d)                => out(ps.name) = d
            case None if ps.required    => return Left(s"missing required input '${ps.name}'")
            case None                   => ()
          }
      }
    }
    // Pass through extra keys (format_string_from_object formats from
    // the whole input map, block_format_string_from_object.go:53-102).
    merged.foreach { case (k, v) => if (!out.contains(k)) out(k) = v }
    Right(out.toMap)
  }
}

object Blocks {
  /** MergeStructs semantics (helpers/structures.go:7-49): the right side
    * wins only where its value is non-zero (Go zero values: "", 0,
    * false, nil, empty array/map). */
  def mergeNonZero(base: Map[String, PValue], over: Map[String, PValue]): Map[String, PValue] =
    base ++ over.filter { case (_, v) => !isZero(v) }

  def isZero(v: PValue): Boolean = v match {
    case PNull      => true
    case PStr(s)    => s.isEmpty
    case PBytes(b)  => b.isEmpty
    case PNum(d)    => d == 0.0
    case PInt(l)    => l == 0L
    case PBool(b)   => !b
    case PArr(vs)   => vs.isEmpty
    case PObj(m)    => m.isEmpty
  }

  /** EvaluateCondition port (types/helpers/condition.go:18-76): the six
    * comparators over int/float64/string. Numeric compare when both
    * sides are numeric, string compare otherwise. */
  def evaluateCondition(data: PValue, value: PValue, condition: String): Either[String, Boolean] = {
    def asNum(p: PValue): Option[Double] = p match {
      case PNum(d) => Some(d)
      case PInt(l) => Some(l.toDouble)
      case _       => None
    }
    val cmp: Int = (asNum(data), asNum(value)) match {
      case (Some(a), Some(b)) => java.lang.Double.compare(a, b)
      case _                  => data.asString.compareTo(value.asString)
    }
    condition match {
      case "==" => Right(equalCond(data, value))
      case "!=" => Right(!equalCond(data, value))
      case ">"  => Right(cmp > 0)
      case "<"  => Right(cmp < 0)
      case ">=" => Right(cmp >= 0)
      case "<=" => Right(cmp <= 0)
      case c    => Left(s"unsupported condition: $c")
    }
  }

  private def equalCond(a: PValue, b: PValue): Boolean = (a, b) match {
    case (x, y) if Wiring.equalValues(x, y) => true
    case _ => // numeric equality across int/float reprs
      (a, b) match {
        case (PNum(x), PInt(y)) => x == y.toDouble
        case (PInt(x), PNum(y)) => x.toDouble == y
        case _ => false
      }
  }
}

/** The operator registry (types/registries/block_registry.go:62-205):
  * all 25 reference block ids. */
class BlockRegistry(ops: Seq[BlockOp]) extends Serializable {
  val byId: Map[String, BlockOp] = ops.map(op => op.id -> op).toMap
  def ids: Set[String] = byId.keySet
  def apply(id: String): BlockOp =
    byId.getOrElse(id, throw new NoSuchElementException(s"unknown block id '$id'"))
  def get(id: String): Option[BlockOp] = byId.get(id)
}

object BlockRegistry {
  /** The standard registry with the full reference block set. */
  def standard(): BlockRegistry = new BlockRegistry(
    blocks.TextBlocks.all ++ blocks.ControlBlocks.all ++
      blocks.ClientBlocks.all ++ blocks.ImageBlocks.all ++
      blocks.MediaBlocks.all ++ blocks.SubtitleBlocks.all)
}
