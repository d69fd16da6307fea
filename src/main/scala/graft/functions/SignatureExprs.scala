package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup signature kernels
  * (builder brief §custom-operators path (b): "a native Catalyst
  * `Expression` (with `doGenCode`) beats a Scala UDF"). Each generates a
  * single static call into [[Signatures]], so the whole projection stays
  * inside whole-stage codegen — no UDF serialization, no per-token array
  * allocation (the HOF forms these replace allocated one array per token
  * per row; ~10× measured speedup at sf0.1).
  */
object SignatureExprs {

  case class SimHash64Expr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"
    override protected def nullSafeEval(input: Any): Any =
      Signatures.simhash64(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.simhash64($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class ShingleHashesExpr(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hashes"
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(Signatures.shingleHashes(input.asInstanceOf[UTF8String], k))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.Signatures.shingleHashes($c, $k))")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class MinHashSigExpr(child: Expression, m: Int, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(Signatures.minhashSig(input.asInstanceOf[UTF8String], m, k))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.Signatures.minhashSig($c, $m, $k))")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class CosineExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_cosine"
    private def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Signatures.cosine(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat(left),
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat(right))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.Signatures.cosine($a, ${isFloat(left)}, $b, ${isFloat(right)})")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Exact-Jaccard verify kernel (r8): replaces the
    * `size(array_intersect(a,b)) / (size(a)+size(b)−inter)` HOF tail of
    * every true-Jaccard verify — same arithmetic (Signatures.jaccard
    * scaladoc), no intermediate array materialization. */
  case class JaccardExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaccard"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Signatures.jaccard(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Signatures.jaccard($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Random-hyperplane LSH signature kernel (r8): the native form of
    * HofReference.lshSignatureHof (bit-parity asserted in
    * SignatureParitySpec) — the HOF form allocated one sequence + one zip
    * array per plane per row. */
  case class LshSigExpr(child: Expression, bits: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_lsh_sig"
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override protected def nullSafeEval(input: Any): Any =
      Signatures.lshSignature(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        isFloat, bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Signatures.lshSignature($c, $isFloat, $bits)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column API ----

  def cosine(a: Column, b: Column): Column =
    ColumnShim.column(CosineExpr(ColumnShim.expression(a), ColumnShim.expression(b)))

  def simhash64(text: Column): Column =
    ColumnShim.column(SimHash64Expr(ColumnShim.expression(text)))

  def shingleHashes(text: Column, k: Int): Column =
    ColumnShim.column(ShingleHashesExpr(ColumnShim.expression(text), k))

  def minhashSig(text: Column, m: Int, k: Int): Column =
    ColumnShim.column(MinHashSigExpr(ColumnShim.expression(text), m, k))

  def jaccard(a: Column, b: Column): Column =
    ColumnShim.column(JaccardExpr(ColumnShim.expression(a), ColumnShim.expression(b)))

  def lshSig(vec: Column, bits: Int): Column =
    ColumnShim.column(LshSigExpr(ColumnShim.expression(vec), bits))
}
