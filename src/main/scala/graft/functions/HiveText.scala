package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** K2-K4 — Hive-text / CSV value encoding as Column expressions.
  *
  * Reference semantics (`handler/csv_handler.py:110-136`, `const.py:9-13`,
  * `utils/escape.py:9-25`, `utils/json.py:12-14`):
  *   - NULL → `\N`
  *   - containers (array/map/struct) → JSON, `ensure_ascii=False`;
  *     *falsy* containers (empty array/map) → NULL → `\N` (the
  *     `utils/json.py:13` quirk, preserved deliberately)
  *   - escape table: NUL→`\0`, `\u0001`→`\1`, LF→literal `\n`,
  *     CR→literal `\r`; non-ASCII passes through untouched
  *   - every value stringified; field delimiter `\u0001` (^A); no quoting.
  */
object HiveText {

  val HiveNull = "\\N"
  val FieldDelim = "\u0001"

  /** The escape table as one byte scan over the value's UTF-8 bytes.
    * The four escaped bytes (0x00, 0x01, 0x0A, 0x0D) are ASCII, and
    * UTF-8 never uses an ASCII byte inside a multi-byte sequence, so a
    * byte scan is exact. A value with none of them (the common case)
    * comes back as the same `UTF8String`, uncopied; otherwise the
    * escaped bytes are written in a second pass into an array of
    * exactly the output size.
    */
  final class EscapeHelper extends Serializable {
    // bit b set ⇔ byte b is escaped; every escaped byte is below 14
    private val Escaped = (1 << 0) | (1 << 1) | (1 << '\n') | (1 << '\r')
    @inline private def escaped(b: Byte): Boolean = b >= 0 && b < 14 && ((Escaped >>> b) & 1) != 0

    def escape(s: UTF8String): UTF8String = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      var hits = 0
      var i = 0
      while (i < n) {
        if (escaped(Platform.getByte(base, off + i))) hits += 1
        i += 1
      }
      if (hits == 0) s
      else {
        val out = new Array[Byte](n + hits)
        var j = 0
        i = 0
        while (i < n) {
          val b = Platform.getByte(base, off + i)
          if (escaped(b)) {
            out(j) = '\\'
            out(j + 1) = if (b == 0) '0' else if (b == 1) '1' else if (b == '\n') 'n' else 'r'
            j += 2
          } else {
            out(j) = b
            j += 1
          }
          i += 1
        }
        UTF8String.fromBytes(out)
      }
    }
  }

  case class HiveEscapeExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    @transient private lazy val helper = new EscapeHelper
    override def nullSafeEval(input: Any): Any = helper.escape(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val h = ctx.addReferenceObj("hiveEscapeHelper", helper, classOf[EscapeHelper].getName)
      defineCodeGen(ctx, ev, c => s"$h.escape($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): HiveEscapeExpr =
      copy(child = newChild)
    override def prettyName: String = "hive_escape"
  }

  /** The reference's escape table applied to a string column: one native
    * byte scan per value (`HiveEscapeExpr`, codegen'd, with an interpreted
    * twin). On perfbench's `etl_migrate` encode (6 string fields a row,
    * most of them without an escaped byte; 2 task threads on a 4-core
    * VM) it runs 149–152k rows/s, where four chained `regexp_replace`
    * calls, each a round trip through `java.lang.String`, ran 62–63k.
    */
  def escape(c: Column): Column = Shims.column(HiveEscapeExpr(Shims.expression(c)))

  /** Encode one value per the reference's rules, given its type. */
  def encodeValue(c: Column, dt: DataType): Column = dt match {
    case _: ArrayType | _: MapType =>
      // falsy-container quirk: empty → NULL token
      when(c.isNull || size(c) === 0, lit(HiveNull)).otherwise(escape(to_json(c)))
    case _: StructType =>
      when(c.isNull, lit(HiveNull)).otherwise(escape(to_json(c)))
    case StringType =>
      when(c.isNull, lit(HiveNull)).otherwise(escape(c))
    case _ =>
      when(c.isNull, lit(HiveNull)).otherwise(c.cast(StringType))
  }

  /** Whole-row Hive-text line: every field encoded, joined on `\u0001`.
    * concat_ws would *drop* nulls, so encodeValue runs first (it never
    * returns NULL).
    */
  def encodeRow(schema: StructType): Column =
    concat_ws(FieldDelim, schema.fields.toSeq.map(f => encodeValue(col(f.name), f.dataType)): _*)
}
