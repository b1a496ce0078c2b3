package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExpectsInputTypes, Expression,
  GenericInternalRow, JsonToStructs, Literal, RegExpReplace, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.TypeBridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernels behind [[PyListLiteral]] and [[PrefixEach]], called from their
  * generated code. The built-ins they replace (`from_json`, `transform`)
  * are `CodegenFallback` in Spark 4.1, and one such expression keeps its
  * whole projection out of whole-stage codegen. */
object ListKernels {

  val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  private val Slash = UTF8String.fromString("/")

  private def isJsonSpace(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'

  private def skipSpace(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && isJsonSpace(b(i))) i += 1
    i
  }

  /** End of the number that starts at `from`, or -1 unless it is
    * `-?(0|[1-9][0-9]*)(\.[0-9]+)?` and `from_json` returns its text as
    * written: an integer of at most 18 digits other than `-0`, or a
    * decimal that `Double.toString` gives back unchanged. Under either
    * setting of `spark.sql.json.enableExactStringParsing` such a number
    * reads back as its own text. */
  private def numberEnd(b: Array[Byte], from: Int): Int = {
    def digits(at: Int): Int = {
      var i = at
      while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
      i
    }
    val intStart = if (b(from) == '-') from + 1 else from
    val intEnd = digits(intStart)
    if (intEnd == intStart || (b(intStart) == '0' && intEnd > intStart + 1)) return -1
    if (intEnd < b.length && b(intEnd) == '.') {
      val end = digits(intEnd + 1)
      if (end == intEnd + 1) return -1
      val text = new String(b, from, end - from, java.nio.charset.StandardCharsets.US_ASCII)
      if (java.lang.Double.toString(java.lang.Double.parseDouble(text)) == text) end else -1
    } else {
      val negativeZero = intStart > from && intEnd == intStart + 1 && b(intStart) == '0'
      if (intEnd - intStart > 18 || negativeZero) -1 else intEnd
    }
  }

  /** The elements of `s` when it is a flat list whose elements are all
    * quoted strings or plain numbers (see `numberEnd`), each as
    * `from_json(regexp_replace(s, "'", "\""), array<string>)` returns it;
    * null for any other input. A quote of either kind closes a string, as
    * it does after that rewrite. A string holding a backslash or a control
    * character, and input that is not valid UTF-8, are left to `from_json`. */
  def flatList(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    var i = skipSpace(b, 0)
    if (i >= n || b(i) != '[') return null
    i = skipSpace(b, i + 1)
    if (i < n && b(i) == ']') return if (skipSpace(b, i + 1) == n) Empty else null
    val out = new java.util.ArrayList[UTF8String](4)
    var ascii = true
    while (i < n) {
      val c = b(i)
      if (c == '\'' || c == '"') {
        var j = i + 1
        while (j < n && b(j) != '\'' && b(j) != '"') {
          val x = b(j)
          if (x == '\\' || (x >= 0 && x < 0x20)) return null
          if (x < 0) ascii = false
          j += 1
        }
        if (j >= n) return null
        out.add(UTF8String.fromBytes(b, i + 1, j - i - 1))
        i = j + 1
      } else if (c == '-' || (c >= '0' && c <= '9')) {
        val end = numberEnd(b, i)
        if (end < 0) return null
        out.add(UTF8String.fromBytes(b, i, end - i))
        i = end
      } else return null
      i = skipSpace(b, i)
      if (i >= n) return null
      if (b(i) == ']') {
        if (skipSpace(b, i + 1) != n || (!ascii && !s.isValid)) return null
        return new GenericArrayData(out.toArray)
      }
      if (b(i) != ',') return null
      i = skipSpace(b, i + 1)
    }
    null
  }

  /** `base` + each element with its leading slashes stripped; a null
    * element stays null, and a null array gives []. */
  def prefixEach(arr: ArrayData, base: UTF8String): ArrayData = {
    if (arr == null) return Empty
    val out = new Array[Any](arr.numElements())
    var i = 0
    while (i < out.length) {
      if (!arr.isNullAt(i)) out(i) = UTF8String.concat(base, arr.getUTF8String(i).trimLeft(Slash))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `py_list_literal(s)`: the reference's tolerant Python-list-literal parse
  * (`_safe_eval`), malformed or null input giving []. Flat lists of quoted
  * strings or plain numbers take [[ListKernels.flatList]]; every other input
  * goes to the interpreted `from_json(regexp_replace(s, "'", "\""),
  * array<string>)` it replaces, held by reference, so the result is the
  * same for every input. */
case class PyListLiteral(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  // one per deserialized copy, so one per task: JsonToStructs keeps its
  // parser between calls. UTC: the zone cannot change an array of strings.
  @transient private lazy val fromJson = JsonToStructs(ArrayType(StringType), Map.empty,
    new RegExpReplace(BoundReference(0, StringType, nullable = true), Literal("'"), Literal("\"")),
    Some("UTC"))
  @transient private lazy val fromJsonInput = new GenericInternalRow(1)

  def parse(s: UTF8String): ArrayData =
    if (s == null) ListKernels.Empty
    else {
      val fast = ListKernels.flatList(s)
      if (fast != null) fast
      else {
        fromJsonInput.update(0, s)
        val parsed = fromJson.eval(fromJsonInput)
        if (parsed == null) ListKernels.Empty else parsed.asInstanceOf[ArrayData]
      }
    }

  override def eval(input: InternalRow): Any = parse(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pyListLiteral", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      final ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $self.parse(${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PyListLiteral = copy(newChild)
  override def prettyName: String = "py_list_literal"
}

/** `prefix_each(base, arr)`: `base` + each element with its leading slashes
  * stripped (`transform(coalesce(arr, []), x -> base || regexp_replace(x,
  * '^/+', ''))`, which is not code-generated). */
case class PrefixEach(child: Expression, base: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ListKernels.prefixEach(child.eval(input).asInstanceOf[ArrayData], UTF8String.fromString(base))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val prefix = ctx.addReferenceObj("prefix", UTF8String.fromString(base))
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      final ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.ListKernels.prefixEach(${c.isNull} ? null : ${c.value}, $prefix);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PrefixEach =
    copy(child = newChild)
  override def prettyName: String = "prefix_each"
}
