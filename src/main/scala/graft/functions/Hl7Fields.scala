package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HL7 v2 field access as native Catalyst expressions: the segment,
  * field, component and repetition reads of [[graft.sources.Hl7Wire]],
  * each one byte scan of the UTF-8 input, called as a static method from
  * generated code (the [[Hl7Timestamp]] pattern). No regex split, no
  * higher-order function, so the parse compiles into whole-stage codegen
  * and projections share repeated reads by subexpression elimination.
  *
  * The scans reproduce the relational forms they replace bit for bit on
  * valid UTF-8 input. Every HL7 delimiter is ASCII, and an ASCII byte
  * never occurs inside a multibyte UTF-8 sequence, so a byte scan splits
  * exactly where the character split did:
  *  - segments are the maximal runs without CR or LF; empty runs are
  *    skipped (`filter(split(raw, "[\r\n]+"), length > 0)`);
  *  - a segment has id `id` when its first three characters equal `id`
  *    (`substring(seg, 1, 3) === id`);
  *  - piece k of a delimited string is Java `split(delim, -1)` element k
  *    (0-based); an empty or missing piece is null;
  *  - a null input gives null.
  *
  * `Hl7AccessorSpec` pins every accessor to the relational form on an
  * edge corpus.
  */
object Hl7FieldScan {
  private def isSep(b: Byte): Boolean = b == '\r' || b == '\n'

  /** The first position in [from, to) of `s` holding `delim`, else `to`. */
  private def next(s: UTF8String, from: Int, to: Int, delim: Int): Int = {
    var i = from
    while (i < to && s.getByte(i) != delim) i += 1
    i
  }

  /** Piece `index` of `s` split on `delim`, null when missing or empty. */
  def piece(s: UTF8String, delim: Byte, index: Int): UTF8String = {
    if (index < 0) return null
    val n = s.numBytes
    var start = 0
    var k = 0
    while (k < index) {
      val end = next(s, start, n, delim)
      if (end >= n) return null
      start = end + 1
      k += 1
    }
    val end = next(s, start, n, delim)
    if (end == start) null else s.copyUTF8String(start, end - 1)
  }

  /** Does the segment at bytes [start, end) of `raw` have id `id` — are
    * its first three characters `id`? */
  private def hasId(raw: UTF8String, start: Int, end: Int,
                    id: UTF8String): Boolean = {
    var p = start
    var c = 0
    while (c < 3 && p < end) {
      p += UTF8String.numBytesForFirstByte(raw.getByte(p))
      c += 1
    }
    val len = math.min(p, end) - start
    if (len != id.numBytes) return false
    var i = 0
    while (i < len) {
      if (raw.getByte(start + i) != id.getByte(i)) return false
      i += 1
    }
    true
  }

  /** Walk the non-empty segments of `raw` (those with id `id` unless it
    * is null), calling `f(start, end)`; `f` returns false to stop. */
  private def eachSegment(raw: UTF8String, id: UTF8String)(
      f: (Int, Int) => Boolean): Unit = {
    val n = raw.numBytes
    var i = 0
    while (i < n) {
      while (i < n && isSep(raw.getByte(i))) i += 1
      val start = i
      while (i < n && !isSep(raw.getByte(i))) i += 1
      if (i > start && (id == null || hasId(raw, start, i, id)) && !f(start, i))
        return
    }
  }

  /** Occurrence `occurrence` (0-based) of the segments with id `id`. */
  def segment(raw: UTF8String, id: UTF8String, occurrence: Int): UTF8String = {
    var seen = 0
    var out: UTF8String = null
    if (occurrence >= 0) eachSegment(raw, id) { (start, end) =>
      if (seen == occurrence) out = raw.copyUTF8String(start, end - 1)
      seen += 1
      out == null
    }
    out
  }

  /** Every segment of `raw`, or those with id `id` when it is not null. */
  def segments(raw: UTF8String, id: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    eachSegment(raw, id) { (start, end) =>
      out += raw.copyUTF8String(start, end - 1)
      true
    }
    new GenericArrayData(out.toArray)
  }

  /** Component 1 of the first `~`-repetition of `field` whose component
    * 5 equals `idType` — the identifier of that type in a CX list (PID-3)
    * — kept as is when empty; null when no repetition has the type. */
  def idOfType(field: UTF8String, idType: UTF8String): UTF8String = {
    val n = field.numBytes
    var rs = 0
    while (rs <= n) {
      val re = next(field, rs, n, '~')
      // component 5 (index 4) of the repetition [rs, re)
      var cs = rs
      var k = 0
      while (k < 4 && cs <= re) {
        cs = next(field, cs, re, '^') + 1
        k += 1
      }
      if (cs <= re && next(field, cs, re, '^') - cs == idType.numBytes &&
          sameBytes(field, cs, idType)) {
        val c1 = next(field, rs, re, '^')
        return if (c1 == rs) UTF8String.EMPTY_UTF8
          else field.copyUTF8String(rs, c1 - 1)
      }
      rs = re + 1
    }
    null
  }

  private def sameBytes(s: UTF8String, at: Int, t: UTF8String): Boolean = {
    var i = 0
    while (i < t.numBytes) {
      if (s.getByte(at + i) != t.getByte(i)) return false
      i += 1
    }
    true
  }

  private[functions] val Name: String = getClass.getName.stripSuffix("$")
}

/** A native accessor: one [[Hl7FieldScan]] method over the child string,
  * null when the child is null or the scan finds nothing. */
abstract class Hl7Access extends UnaryExpression {
  /** The scan, for the interpreter. */
  protected def scan(input: UTF8String): Any

  /** The [[Hl7FieldScan]] method and the Java source of its arguments
    * after the input, for generated code. */
  protected def call(ctx: CodegenContext): (String, Seq[String])

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any =
    scan(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (method, args) = call(ctx)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = ${Hl7FieldScan.Name}.$method(${(c +: args).mkString(", ")});
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  protected def ref(ctx: CodegenContext, s: UTF8String): String =
    ctx.addReferenceObj("hl7Arg", s, classOf[UTF8String].getName)
}

/** Piece `index` (0-based) of the child split on the ASCII `delim`. */
case class Hl7Piece(child: Expression, delim: Byte, index: Int)
    extends Hl7Access {
  override def prettyName: String = "hl7_piece"
  protected def scan(input: UTF8String): Any =
    Hl7FieldScan.piece(input, delim, index)
  protected def call(ctx: CodegenContext): (String, Seq[String]) =
    ("piece", Seq(s"(byte) $delim", s"$index"))
  override protected def withNewChildInternal(newChild: Expression): Hl7Piece =
    copy(child = newChild)
}

/** Occurrence `occurrence` (0-based) of the child's segments with id
  * `id`. */
case class Hl7Segment(child: Expression, id: String, occurrence: Int)
    extends Hl7Access {
  @transient private lazy val idUtf8 = UTF8String.fromString(id)
  override def prettyName: String = "hl7_segment"
  protected def scan(input: UTF8String): Any =
    Hl7FieldScan.segment(input, idUtf8, occurrence)
  protected def call(ctx: CodegenContext): (String, Seq[String]) =
    ("segment", Seq(ref(ctx, idUtf8), s"$occurrence"))
  override protected def withNewChildInternal(newChild: Expression): Hl7Segment =
    copy(child = newChild)
}

/** The child's non-empty segments, only those with id `id` when given. */
case class Hl7Segments(child: Expression, id: Option[String])
    extends Hl7Access {
  @transient private lazy val idUtf8 = id.map(UTF8String.fromString).orNull
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hl7_segments"
  protected def scan(input: UTF8String): Any =
    Hl7FieldScan.segments(input, idUtf8)
  protected def call(ctx: CodegenContext): (String, Seq[String]) =
    ("segments", Seq(if (id.isEmpty) "null" else ref(ctx, idUtf8)))
  override protected def withNewChildInternal(newChild: Expression): Hl7Segments =
    copy(child = newChild)
}

/** [[Hl7FieldScan.idOfType]] over the child (a CX-list field). */
case class Hl7IdOfType(child: Expression, idType: String) extends Hl7Access {
  @transient private lazy val typeUtf8 = UTF8String.fromString(idType)
  override def prettyName: String = "hl7_id_of_type"
  protected def scan(input: UTF8String): Any =
    Hl7FieldScan.idOfType(input, typeUtf8)
  protected def call(ctx: CodegenContext): (String, Seq[String]) =
    ("idOfType", Seq(ref(ctx, typeUtf8)))
  override protected def withNewChildInternal(newChild: Expression): Hl7IdOfType =
    copy(child = newChild)
}

/** Column API of the native HL7 accessors. */
object Hl7Fields {
  private def native(c: Column)(f: Expression => Expression): Column =
    ColumnBridge.column(f(ColumnBridge.expression(c)))

  /** Piece `index` (0-based) of `c` split on the ASCII `delim`. */
  def piece(c: Column, delim: Char, index: Int): Column = {
    require(delim < 0x80, s"HL7 delimiter must be ASCII: $delim")
    native(c)(Hl7Piece(_, delim.toByte, index))
  }

  /** Occurrence `occurrence` (0-based) of `raw`'s segments with id `id`. */
  def segment(raw: Column, id: String, occurrence: Int): Column =
    native(raw)(Hl7Segment(_, id, occurrence))

  /** `raw`'s non-empty segments, only those with id `id` when given. */
  def segments(raw: Column, id: Option[String]): Column =
    native(raw)(Hl7Segments(_, id))

  /** The identifier of type `idType` in the CX list `field`. */
  def idOfType(field: Column, idType: String): Column =
    native(field)(Hl7IdOfType(_, idType))
}
