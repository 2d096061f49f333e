package graft.engine.expr

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.exc.InputCoercionException
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.schemas.Schemas

/** Native replacement for the mongo scan's
  * `from_json(line, Schemas.MongodLine, PERMISSIVE + _corrupt)` — ONE
  * Jackson STREAMING pass per line writing the typed struct directly,
  * instead of Spark's generic JacksonParser driving per-field converter
  * closures through FailureSafeParser (r16 verdict ask #1: the JSON
  * parse dominated `_stage_mongo_scan`; this is the `word_rep_counts` /
  * `mysql_entry_fields` fused-scan pattern applied to it).
  *
  * The semantics contract is "observably identical to from_json on THIS
  * schema" — pinned empirically (a probe battery, 2026-08) and held
  * by MongoJsonKernelSpec against the live from_json on adversarial
  * inputs plus every generated line class:
  *  - empty / whitespace-only input → NULL struct;
  *  - non-object root (scalar/array/"null"/malformed) → all-null row +
  *    `_corrupt` = the raw line;
  *  - a TOKENIZATION error anywhere (malformed JSON mid-object, raw
  *    control char in a string, trailing comma, leading zeros/plus) →
  *    all-null row + corrupt — partial fields are NOT kept;
  *  - a CONVERSION mismatch (scalar where a struct is expected, float /
  *    overflowing int / non-empty string where a long is expected,
  *    empty string for long/struct) → that field null, the REST of the
  *    row (including the rest of its enclosing struct, at every nesting
  *    level) parsed normally, corrupt set — Spark's enablePartialResults
  *    behavior;
  *  - StringType fields accept ANY value: strings as text, everything
  *    else re-serialized compactly by a Jackson generator
  *    (`copyCurrentStructure` — numbers normalized ("1.25e2" → "125.0"),
  *    NaN/Infinity quoted), exactly like JacksonParser's fallback;
  *  - duplicate keys: every occurrence converts (a mismatch in ANY
  *    occurrence marks corrupt); the last occurrence that converts wins
  *    the value — a mismatched occurrence never overwrites ([[Skip]]),
  *    an explicit null does;
  *  - an input field named `_corrupt` is skipped (the corrupt column is
  *    populated by the parser, never from input);
  *  - trailing tokens after the root object are ignored;
  *  - Jackson features match JSONOptions defaults: ALLOW_SINGLE_QUOTES
  *    and ALLOW_NON_NUMERIC_NUMBERS on, everything else off.
  */
object MongoJson {

  val MongoLineParseName = "mongo_line_parse"

  private val factory: JsonFactory = {
    val f = new JsonFactory()
    f.enable(JsonParser.Feature.ALLOW_SINGLE_QUOTES)
    f.enable(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    f
  }

  // field order of Schemas.MongodLine
  // root:  t(0) s(1) c(2) id(3) ctx(4) msg(5) attr(6) _corrupt(7)
  // t:     $date(0)
  // attr:  type(0) ns(1) planSummary(2) keysExamined(3) docsExamined(4)
  //        numYields(5) nreturned(6) durationMillis(7) error(8)
  // error: code(0) codeName(1) errmsg(2)

  /** Flag carried out of a conversion: did anything mismatch below? */
  private final class Corrupt { var hit = false }

  /** Sentinel for "conversion mismatched: do NOT assign the field" —
    * Spark's converter THROWS on a mismatch, so the row setter never
    * runs; with duplicate keys an earlier good occurrence must survive
    * a later bad one ({"attr":{...},"attr":5} keeps the struct — the
    * kernel spec caught exactly this). VALUE_NULL, by contrast, is a
    * successful conversion and DOES overwrite. */
  private val Skip = new Object

  /** Assign unless the conversion mismatched ([[Skip]]). */
  @inline private def set(r: GenericInternalRow, i: Int, v: Any): Unit =
    if (!(v.asInstanceOf[AnyRef] eq Skip)) r.update(i, v)

  /** String field: text for VALUE_STRING, null for VALUE_NULL, compact
    * re-serialization for anything else (JacksonParser's fallback). */
  private def convString(p: JsonParser, t: JsonToken): UTF8String =
    t match {
      case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
      case JsonToken.VALUE_NULL => null
      case _ =>
        val out = new java.io.ByteArrayOutputStream()
        val g = factory.createGenerator(out)
        try g.copyCurrentStructure(p) finally g.close()
        UTF8String.fromBytes(out.toByteArray)
    }

  /** Long field: exact int64 only — floats, strings (empty included),
    * bools, containers and overflowing ints all mismatch. */
  private def convLong(p: JsonParser, t: JsonToken, c: Corrupt): Any =
    t match {
      case JsonToken.VALUE_NUMBER_INT =>
        try java.lang.Long.valueOf(p.getLongValue)
        catch { case _: InputCoercionException => c.hit = true; Skip }
      case JsonToken.VALUE_NULL => null
      case _ => c.hit = true; p.skipChildren(); Skip
    }

  private def convError(p: JsonParser, t: JsonToken, c: Corrupt): Any =
    t match {
      case JsonToken.START_OBJECT =>
        val r = new GenericInternalRow(3)
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val name = p.currentName()
          val vt = p.nextToken()
          name match {
            case "code" => set(r, 0, convLong(p, vt, c))
            case "codeName" => set(r, 1, convString(p, vt))
            case "errmsg" => set(r, 2, convString(p, vt))
            case _ => p.skipChildren()
          }
        }
        r
      case JsonToken.VALUE_NULL => null
      case _ => c.hit = true; p.skipChildren(); Skip
    }

  private def convAttr(p: JsonParser, t: JsonToken, c: Corrupt): Any =
    t match {
      case JsonToken.START_OBJECT =>
        val r = new GenericInternalRow(9)
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val name = p.currentName()
          val vt = p.nextToken()
          name match {
            case "type" => set(r, 0, convString(p, vt))
            case "ns" => set(r, 1, convString(p, vt))
            case "planSummary" => set(r, 2, convString(p, vt))
            case "keysExamined" => set(r, 3, convLong(p, vt, c))
            case "docsExamined" => set(r, 4, convLong(p, vt, c))
            case "numYields" => set(r, 5, convLong(p, vt, c))
            case "nreturned" => set(r, 6, convLong(p, vt, c))
            case "durationMillis" => set(r, 7, convLong(p, vt, c))
            case "error" => set(r, 8, convError(p, vt, c))
            case _ => p.skipChildren()
          }
        }
        r
      case JsonToken.VALUE_NULL => null
      case _ => c.hit = true; p.skipChildren(); Skip
    }

  private def convT(p: JsonParser, t: JsonToken, c: Corrupt): Any =
    t match {
      case JsonToken.START_OBJECT =>
        val r = new GenericInternalRow(1)
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val name = p.currentName()
          val vt = p.nextToken()
          name match {
            case "$date" => set(r, 0, convString(p, vt))
            case _ => p.skipChildren()
          }
        }
        r
      case JsonToken.VALUE_NULL => null
      case _ => c.hit = true; p.skipChildren(); Skip
    }

  /** The kernel of `mongo_line_parse` (contract: the object doc).
    * Returns null where from_json returns a NULL struct. */
  def parseLine(u: UTF8String): InternalRow = {
    val row = new GenericInternalRow(8)
    val c = new Corrupt
    try {
      val p = factory.createParser(u.getBytes)
      try {
        val t0 = p.nextToken()
        if (t0 == null) return null // empty / whitespace-only
        if (t0 != JsonToken.START_OBJECT) c.hit = true // non-object root
        else {
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val name = p.currentName()
            val vt = p.nextToken()
            name match {
              case "t" => set(row, 0, convT(p, vt, c))
              case "s" => set(row, 1, convString(p, vt))
              case "c" => set(row, 2, convString(p, vt))
              case "id" => set(row, 3, convLong(p, vt, c))
              case "ctx" => set(row, 4, convString(p, vt))
              case "msg" => set(row, 5, convString(p, vt))
              case "attr" => set(row, 6, convAttr(p, vt, c))
              case _ => p.skipChildren() // unknown fields and "_corrupt"
            }
          }
          // trailing tokens after the root object are ignored
        }
      } finally p.close()
    } catch {
      case _: Exception =>
        // tokenization/IO error: partial fields are NOT kept
        var i = 0
        while (i < 8) { row.update(i, null); i += 1 }
        c.hit = true
    }
    if (c.hit) row.update(7, u)
    row
  }

  /** `mongo_line_parse(line)`: see [[parseLine]]; the result type is
    * exactly [[Schemas.MongodLine]] so the consumer dataflow (`j.msg`,
    * `j.attr.error`, …) is unchanged. */
  case class MongoLineParse(child: Expression)
      extends UnaryExpression with NativeFunctions.Kernel {
    override lazy val replacement: Expression = invoke(MongoJson,
      "parseLine", Schemas.MongodLine, Seq(child), nullable = true)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = MongoLineParseName
  }

  /** Column form; caller must have NativeFunctions.ensureRegistered. */
  def mongoLineParse(line: Column): Column =
    call_function(MongoLineParseName, line)
}
