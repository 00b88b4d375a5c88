package graft.pipeline

/** Runtime value model for pipeline block inputs/outputs — the Scala
  * counterpart of the reference's JSON-Schema-typed `interface{}` values
  * (types/helpers/json_schema.go:52-143 in the reference tree).
  *
  * Values cross executor boundaries (PartitionOps), so everything here
  * is Serializable.
  */
sealed trait PValue extends Serializable {
  def asString: String = this match {
    case PStr(s)   => s
    case PBytes(b) => new String(b, "UTF-8")
    case PNum(d)   => if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    case PInt(l)   => l.toString
    case PBool(b)  => b.toString
    case PArr(vs)  => vs.map(_.asString).mkString(",")
    case PObj(m)   => Json.render(this)
    case PNull     => ""
  }
  def asBytes: Array[Byte] = this match {
    case PBytes(b) => b
    case other     => other.asString.getBytes("UTF-8")
  }
  def asDouble: Double = this match {
    case PNum(d)  => d
    case PInt(l)  => l.toDouble
    case PStr(s)  => s.toDouble
    case PBool(b) => if (b) 1.0 else 0.0
    case other    => throw new IllegalArgumentException(s"not a number: $other")
  }
  def asLong: Long = asDouble.toLong
  def asBool: Boolean = this match {
    case PBool(b) => b
    case PStr(s)  => s.toBoolean
    case other    => throw new IllegalArgumentException(s"not a boolean: $other")
  }
  def asSeq: Seq[PValue] = this match {
    case PArr(vs) => vs
    case PNull    => Nil
    case other    => Seq(other)
  }
}
case class PStr(s: String) extends PValue
case class PBytes(b: Array[Byte]) extends PValue
case class PNum(d: Double) extends PValue
case class PInt(l: Long) extends PValue
case class PBool(b: Boolean) extends PValue
case class PArr(vs: Seq[PValue]) extends PValue
case class PObj(m: Map[String, PValue]) extends PValue
case object PNull extends PValue

/** Input-schema property types (reference §1.2 type/format pairs). */
sealed trait PType extends Serializable
case object TString extends PType
case object TFile   extends PType // string + format:"file" ⇒ bytes
case object TUrl    extends PType
case object TColor  extends PType
case object TNumber extends PType
case object TInt    extends PType
case object TBool   extends PType
case class TArr(elem: PType) extends PType
case object TObj    extends PType

/** One property of a block's input schema (JSON-Schema-lite: type,
  * required, enum, default — the subset the reference actually uses). */
case class PropSpec(
    name: String,
    typ: PType,
    required: Boolean = false,
    default: Option[PValue] = None,
    enumVals: Seq[String] = Nil) {

  /** CastDataToType semantics (json_schema.go:52-143): file strings to
    * bytes, JSON numbers through double to int, recursive arrays. */
  def cast(v: PValue): PValue = PropSpec.castTo(typ, v)

  def validate(v: PValue): Either[String, PValue] = {
    val c = try cast(v) catch {
      case e: Exception => return Left(s"$name: ${e.getMessage}")
    }
    if (enumVals.nonEmpty && !enumVals.contains(c.asString))
      Left(s"$name: '${c.asString}' not in ${enumVals.mkString("/")}")
    else Right(c)
  }
}

object PropSpec {
  def castTo(t: PType, v: PValue): PValue = (t, v) match {
    case (_, PNull)         => PNull
    case (TFile, PBytes(b)) => PBytes(b)
    case (TFile, other)     => PBytes(other.asBytes)
    case (TString | TUrl | TColor, other) => PStr(other.asString)
    case (TNumber, other)   => PNum(other.asDouble)
    case (TInt, other)      => PInt(other.asDouble.toLong)
    case (TBool, other)     => PBool(other.asBool)
    case (TArr(e), PArr(vs)) => PArr(vs.map(castTo(e, _)))
    case (TArr(e), other)    => PArr(Seq(castTo(e, other)))
    case (TObj, o: PObj)     => o
    case (TObj, PStr(s))     => Json.parse(s)
    case (TObj, other)       => throw new IllegalArgumentException(s"not an object: $other")
  }
}

/** One resolved input row of a block execution: `idx` is the fan-out
  * position (the reference's blockInputIndex). The Runner's positions
  * fit an Int; a BulkRunner row carries its stage idx, a BIGINT. */
case class InputRow(idx: Long, props: Map[String, PValue]) extends Serializable {
  def str(name: String): String = props.get(name).map(_.asString).getOrElse("")
  def bytes(name: String): Array[Byte] =
    props.get(name).map(_.asBytes).getOrElse(Array.empty)
  def opt(name: String): Option[PValue] =
    props.get(name).filter(_ != PNull)
}

/** Minimal JSON bridge over jackson (ships with Spark). */
object Json {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node._
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper()

  def parse(s: String): PValue = fromNode(mapper.readTree(s))

  def tryParse(s: String): Option[PValue] =
    try Some(parse(s)) catch { case _: Exception => None }

  def fromNode(n: JsonNode): PValue = n match {
    case null                  => PNull
    case _ if n.isNull         => PNull
    case t: TextNode           => PStr(t.textValue())
    case b: BooleanNode        => PBool(b.booleanValue())
    case x if x.isIntegralNumber => PInt(x.longValue())
    case x if x.isNumber       => PNum(x.doubleValue())
    case a: ArrayNode          => PArr(a.elements().asScala.map(fromNode).toSeq)
    case o: ObjectNode =>
      PObj(o.properties().asScala.map(e => e.getKey -> fromNode(e.getValue)).toMap)
    case other                 => PStr(other.asText())
  }

  def render(v: PValue): String = mapper.writeValueAsString(toNode(v))

  def toNode(v: PValue): JsonNode = v match {
    case PNull     => NullNode.instance
    case PStr(s)   => TextNode.valueOf(s)
    case PBytes(b) => TextNode.valueOf(new String(b, "UTF-8"))
    case PNum(d)   => DoubleNode.valueOf(d)
    case PInt(l)   => LongNode.valueOf(l)
    case PBool(b)  => BooleanNode.valueOf(b)
    case PArr(vs) =>
      val a = mapper.createArrayNode(); vs.foreach(x => a.add(toNode(x))); a
    case PObj(m) =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[JsonNode](k, toNode(x)) }
      o
  }
}
