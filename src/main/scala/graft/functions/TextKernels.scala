package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit md5 hash — `graft.pipeline.TextOps.hash60`'s kernel.
  * Bit-identical to `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`:
  * the first 15 hex digits of the digest are its first 8 bytes as a
  * big-endian long shifted right (unsigned) by 4. The built-in chain
  * allocates four strings per hash, and MinHash pays it k times per
  * shingle. The input is implicitly cast to binary as `md5` casts it. */
case class Hash60(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.hash60(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextKernels.Name}.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hash60"
}

/** Native word n-gram shingles — `graft.pipeline.TextOps.shingles`' kernel:
  * the m-n+1 windows of `n` consecutive tokens, each joined by one space.
  * Replaces `when(size(ws) >= n, transform(sequence(0, size(ws)-n), i =>
  * array_join(slice(ws, i+1, n), " "))).otherwise(array())`, whose lambda
  * is a CodegenFallback run interpreted per row. Null tokens are skipped as
  * `array_join` skips them; a null array or one with fewer than `n`
  * elements gives an empty, non-null array. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if n >= 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles requires an array<string> input and n >= 0, got ${t.sql} and $n")
  }
  override def dataType: DataType =
    ArrayType(child.dataType.asInstanceOf[ArrayType].elementType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TextKernels.shingles(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${TextKernels.Name}.shingles(${c.isNull} ? null : ${c.value}, $n);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingles"
}

/** The kernels' bodies. Generated code calls these static methods, so the
  * interpreted and generated paths are one implementation. */
object TextKernels {
  private[functions] val Name: String = getClass.getName.stripSuffix("$")

  private val Md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val Space = UTF8String.fromString(" ")

  def hash60(bytes: Array[Byte]): Long = {
    val d = Md5.get().digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def shingles(ws: ArrayData, n: Int): ArrayData = {
    val m = if (ws == null) -1 else ws.numElements()
    val out = new Array[AnyRef](math.max(m - n + 1, 0))
    val win = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) { win(j) = ws.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
