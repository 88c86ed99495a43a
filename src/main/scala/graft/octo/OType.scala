package graft.octo

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

/** The reference engine's type algebra, needed wherever its *display*
  * or *schema-inference* behavior is observable (octosql/types.go):
  *
  *  - `typeSum` — union construction: one alternative per type id,
  *    sorted by type id; structs deep-merge (missing fields become
  *    `T | NULL`), list elements merge (types.go TypeSum).
  *  - `display` — `--describe` strings: `Float`, `NULL | String`,
  *    `{field4: NULL | String; ...}` (types.go:180-226 String()).
  *  - `infer` — JSON ingest typing: numbers are Float, RFC3339-parseable
  *    strings are Time, object fields sort by name
  *    (datasources/json/impl.go:77-131).
  *
  * The engine itself runs on Spark's type system; OType is carried
  * alongside only by the dialect/CLI layer for parity-exact output.
  */
sealed trait OType {
  /** Reference TypeID ordinal — the union sort key (types.go:10-24). */
  def typeId: Int
  def display: String = this match {
    case ONull       => "NULL"
    case OInt        => "Int"
    case OFloat      => "Float"
    case OBoolean    => "Boolean"
    case OString     => "String"
    case OTime       => "Time"
    case ODuration   => "Duration"
    case OList(None) => "[]"
    case OList(Some(e)) => s"[${e.display}]"
    case OStruct(fs) => fs.map { case (n, t) => s"$n: ${t.display}" }.mkString("{", "; ", "}")
    case OTuple(es)  => es.map(_.display).mkString("(", ", ", ")")
    case OUnion(as)  => as.map(_.display).mkString(" | ")
    case OAny        => "Any"
  }
  /** Non-null alternatives (a `NULL | X` union is just a nullable X). */
  def nonNullAlts: Seq[OType] = this match {
    case OUnion(as) => as.filterNot(_ == ONull)
    case ONull      => Nil
    case t          => Seq(t)
  }
  /** True when values need per-row runtime typing (a real multi-type
    * union, possibly nested) → stored as Spark VARIANT.
    */
  def needsVariant: Boolean = this match {
    case OUnion(_)      => nonNullAlts.lengthCompare(1) != 0 ||
      nonNullAlts.head.needsVariant
    case OList(e)       => e.exists(_.needsVariant)
    case OStruct(fs)    => fs.exists(_._2.needsVariant)
    case OTuple(es)     => es.exists(_.needsVariant)
    case _              => false
  }
}
case object ONull extends OType { val typeId = 0 }
case object OInt extends OType { val typeId = 1 }
case object OFloat extends OType { val typeId = 2 }
case object OBoolean extends OType { val typeId = 3 }
case object OString extends OType { val typeId = 4 }
case object OTime extends OType { val typeId = 5 }
case object ODuration extends OType { val typeId = 6 }
case class OList(elem: Option[OType]) extends OType { val typeId = 7 }
case class OStruct(fields: Seq[(String, OType)]) extends OType { val typeId = 8 }
case class OTuple(elems: Seq[OType]) extends OType { val typeId = 9 }
case class OUnion(alts: Seq[OType]) extends OType { val typeId = 10 }
/** The reference's signature wildcard (types.go TypeIDAny) — only ever
  * appears in function/aggregate descriptors, never in inferred data.
  */
case object OAny extends OType { val typeId = 11 }

object OType {

  /** types.go TypeSum: union of two types, one alternative per type id,
    * alternatives sorted by type id; same-id pairs merge structurally.
    */
  def typeSum(t1: OType, t2: OType): OType = (t1, t2) match {
    case (a, b) if a == b => a
    case (OStruct(f1), OStruct(f2)) =>
      val m1 = f1.toMap; val m2 = f2.toMap
      val names = (m1.keySet ++ m2.keySet).toSeq.sorted
      OStruct(names.map { n =>
        n -> ((m1.get(n), m2.get(n)) match {
          case (Some(a), Some(b)) => typeSum(a, b)
          case (Some(a), None)    => typeSum(a, ONull)
          case (None, Some(b))    => typeSum(b, ONull)
          case _                  => ONull
        })
      })
    case (OList(e1), OList(e2)) =>
      (e1, e2) match {
        case (None, _) => OList(e2)
        case (_, None) => OList(e1)
        case (Some(a), Some(b)) => OList(Some(typeSum(a, b)))
      }
    case (OTuple(e1), OTuple(e2)) =>
      val (longer, shorter) = if (e1.length >= e2.length) (e1, e2) else (e2, e1)
      OTuple(longer.zipWithIndex.map { case (t, i) =>
        if (i < shorter.length) typeSum(t, shorter(i)) else typeSum(t, ONull)
      })
    case (OUnion(a1), OUnion(a2)) => a2.foldLeft(t1)(typeSum)
    case (_, OUnion(_)) => typeSum(t2, t1)
    case (OUnion(alts), t) =>
      alts.indexWhere(_.typeId == t.typeId) match {
        case -1 => OUnion((alts :+ t).sortBy(_.typeId))
        case i  => OUnion(alts.updated(i, typeSum(alts(i), t)))
      }
    case (a, b) => OUnion(Seq(a, b).sortBy(_.typeId))
  }

  private val mapper = new ObjectMapper()

  /** True iff Go `time.Parse(time.RFC3339Nano, s)` succeeds — the JSON
    * ingest rule that turns strings into Time (json/impl.go:83-88).
    */
  def isRfc3339(s: String): Boolean =
    try { java.time.OffsetDateTime.parse(s); true }
    catch { case _: Exception => false }

  /** octosql type of one parsed JSON value (json/impl.go getOctoSQLType). */
  def ofJson(v: JsonNode): OType = {
    if (v.isNull) ONull
    else if (v.isTextual) { if (isRfc3339(v.asText)) OTime else OString }
    else if (v.isNumber) OFloat
    else if (v.isBoolean) OBoolean
    else if (v.isObject) {
      val it = v.properties().iterator()
      val fs = Seq.newBuilder[(String, OType)]
      while (it.hasNext) { val e = it.next(); fs += e.getKey -> ofJson(e.getValue) }
      OStruct(fs.result().sortBy(_._1))
    } else if (v.isArray) {
      val it = v.elements()
      var elem: Option[OType] = None
      while (it.hasNext) {
        val t = ofJson(it.next())
        elem = Some(elem.fold(t)(typeSum(_, t)))
      }
      OList(elem)
    } else OString
  }

  /** Records a file source types itself from: the reference previews the
    * first 100 of a JSON (json/impl.go:27-75) or CSV (csv/impl.go:36-130)
    * file. [[graft.sources.CsvSample]] samples CSV with the same count.
    */
  final val SampleRecords = 100

  /** Infer the per-field schema from the first `limit` JSONL lines, like
    * the reference's preview pass (json/impl.go:27-75). Fields sorted by
    * name. Lines must be JSON objects; a non-object or unparseable line
    * raises with the reference's message shape.
    */
  /** NOTE on nullability asymmetry (reference parity, not a bug): a
    * TOP-LEVEL field missing from some lines keeps its plain type —
    * json/impl.go:46-52 only sums types of PRESENT keys — while a
    * missing NESTED struct field sums with NULL (octosql/types.go:263,
    * TypeSum's deep merge). Identical data types differently by
    * nesting depth in the reference too.
    */
  def inferJsonl(lines: Iterator[String], limit: Int = SampleRecords): Seq[(String, OType)] = {
    val fields = scala.collection.mutable.LinkedHashMap[String, OType]()
    var i = 0
    while (lines.hasNext && i < limit) {
      i += 1
      val line = lines.next()
      val node =
        try mapper.readTree(line)
        catch { case _: Exception =>
          throw new JsonLineException(i, JsonErrors.parseError(line)) }
      if (node == null || !node.isObject)
        throw new JsonLineException(i, s"expected JSON object, got '$line'")
      val it = node.properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        val t = ofJson(e.getValue)
        fields(e.getKey) = fields.get(e.getKey).fold(t)(typeSum(_, t))
      }
    }
    fields.toSeq.sortBy(_._1)
  }

  /** Spark storage type for an octosql type: plain Spark types where the
    * value is single-typed; VARIANT where per-row runtime typing is
    * needed (→ graft.types.UnionJson design note).
    */
  def toSpark(t: OType): DataType = t match {
    case _ if t.needsVariant => VariantType
    case OAny        => StringType // signature wildcard; never a stored column
    case ONull       => StringType // all-null column; any nullable type works
    case OInt        => LongType
    case OFloat      => DoubleType
    case OBoolean    => BooleanType
    case OString     => StringType
    case OTime       => TimestampType
    case ODuration   => DecimalType(38, 9) // dialect convention: seconds
    case OList(e)    => ArrayType(e.map(toSpark).getOrElse(StringType))
    case OStruct(fs) => StructType(fs.map { case (n, ft) => StructField(n, toSpark(ft)) })
    case OTuple(es)  => StructType(es.zipWithIndex.map { case (et, i) => StructField(s"_$i", toSpark(et)) })
    case OUnion(_)   => t.nonNullAlts match {
      case Seq(one) => toSpark(one)
      case _        => VariantType
    }
  }

  /** Best-effort octosql view of a Spark type — used for columns whose
    * provenance the dialect didn't track (computed expressions). The
    * `DecimalType → Duration` rule is the dialect's internal convention
    * (octosql has no decimal type, so inside dialect queries every
    * decimal IS a duration-in-seconds).
    */
  def fromSpark(dt: DataType): OType = dt match {
    case LongType | IntegerType | ShortType | ByteType => OInt
    case DoubleType | FloatType => OFloat
    case _: DecimalType => ODuration
    case BooleanType => OBoolean
    case StringType => OString
    case TimestampType | TimestampNTZType | DateType => OTime
    case _: DayTimeIntervalType => ODuration
    case ArrayType(e, _) => OList(Some(fromSpark(e)))
    case StructType(fs) => OStruct(fs.toSeq.map(f => f.name -> fromSpark(f.dataType)))
    case VariantType => OUnion(Seq(ONull, OString)) // unknown runtime union
    case _ => OString
  }
}

/** A JSON line the reference would reject, with its 1-based line number
  * (the execution-time error surface, datasources/json/execution.go).
  */
class JsonLineException(val line: Int, val inner: String)
  extends RuntimeException(s"couldn't parse line $line: $inner")

/** fastjson-shaped parse errors for invalid JSON lines (the reference
  * wraps valyala/fastjson; we reproduce its message shape for the error
  * classes its test corpus exercises).
  */
object JsonErrors {
  def parseError(line: String): String = {
    val s = line.dropWhile(_.isWhitespace)
    val c = if (s.isEmpty) ' ' else s.head
    if (c != '{' && c != '[' && c != '"' && c != 't' && c != 'f' && c != 'n' &&
        !c.isDigit && c != '-' && c != '+') {
      // fastjson falls back to number parsing and fails on the first char
      s"""couldn't parse json: cannot parse JSON: cannot parse number: unexpected char: "$c"; unparsed tail: "$s""""
    } else if ((c == 't' || c == 'f' || c == 'n') &&
               !(s.startsWith("true") || s.startsWith("false") || s.startsWith("null"))) {
      s"""couldn't parse json: cannot parse JSON: cannot parse number: unexpected char: "$c"; unparsed tail: "$s""""
    } else {
      s"""couldn't parse json: cannot parse JSON: unexpected tail: "$s""""
    }
  }
}
