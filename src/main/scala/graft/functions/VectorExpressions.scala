package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector-math hot path.
  *
  * A 64-dimension dot product written as a 64-term column-expression chain
  * is semantically fine but executes interpreted (the tree exceeds what
  * whole-stage codegen will inline) with one boxed Double per element —
  * ~14µs/pair measured. These expressions evaluate as primitive loops over
  * `ArrayData` (no boxing) and [[DotProduct]] generates a tight Java loop
  * under whole-stage codegen — the (b)-tier of the custom-operator
  * preference order (native `Expression` > UDF).
  *
  * IEEE op order is the same left-to-right accumulation as the generated
  * SQL chains in [[graft.operators.VecSql]], so results stay bit-identical
  * to the DuckDB oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature: `planes` sign bits over LCG-derived
  * plane weights w(p,j) = ((1103515245*(p*dims+j) + 12345) mod 2^31)/2^31
  * - 0.5 — identical accumulation order to [[graft.operators.VecSql.lshSig]],
  * so bucket ids match the oracle bit-for-bit. Row volume is one per
  * vector (not per pair), so interpreted eval is fine (CodegenFallback). */
case class LshSignature(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val dims = e.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var j = 0
      while (j < dims) {
        val k = (1103515245L * (p * dims + j) + 12345L) % 2147483648L
        s += (k / 2147483648.0 - 0.5) * e.getDouble(j)
        j += 1
      }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)
}

object LshSignature {

  /** 8 hyperplanes → 256 LSH buckets (the q35/q43 contract): the one
    * plane count `lsh_sig` binds. */
  val DefaultPlanes = 8
}

/** Polynomial rolling hash over a string's Unicode CODE POINTS:
  * acc₀ = cp₀; accᵢ = (accᵢ₋₁ · 31 + cpᵢ) mod (2³¹−1).
  * The classic content-defined-chunking / Rabin-style fingerprint
  * primitive — accumulator stays < 2³⁶ so the same fold is expressible
  * overflow-free in the DuckDB oracle (`list_reduce` over
  * `ascii(substr(...))`, which also yields code points — iterating UTF-16
  * units here would diverge on non-BMP text). NULL for the empty string
  * (no seed element, matching list_reduce's domain). */
case class RollingHash(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hash"

  private val P = 2147483647L

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.toString
    if (s.isEmpty) null
    else {
      val cps = s.codePoints().toArray
      var acc = cps(0).toLong
      var i = 1
      while (i < cps.length) {
        acc = (acc * 31 + cps(i)) % P
        i += 1
      }
      java.lang.Long.valueOf(acc)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}
