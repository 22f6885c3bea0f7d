package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two numeric array columns as a native codegen'd Catalyst
  * expression.
  *
  * Why custom: `aggregate(zip_with(a, b, _*_), 0d, _+_)` expresses the same
  * thing but higher-order functions evaluate interpreted — per-element lambda
  * binding plus a per-pair ArrayData allocation. On an all-pairs similarity
  * join that interpreter overhead dominates the runtime by ~20×. This
  * expression compiles to a tight primitive loop inside whole-stage codegen,
  * which is exactly the "custom Expression beats UDF beats interpreted"
  * preference order the engine is built on.
  *
  * Semantics: element-wise multiply-accumulate over the common prefix length,
  * left-to-right (bit-identical to the sequential fold it replaces). Null
  * input → null; null ELEMENTS are not supported (embedding vectors are
  * dense).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _                                                  => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<double>/array<float> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName everywhere: nullSafeExec emits this UNBRACED when the
      // children are non-nullable, so two DotProducts in one projection
      // would otherwise declare duplicate locals and fail Janino compile.
      val n = ctx.freshName("dpN")
      val s = ctx.freshName("dpSum")
      val i = ctx.freshName("dpI")
      val lGet = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val rGet = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $lGet * $rGet; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature of a numeric vector: `numPlanes` sign bits
  * packed into a long. Plane `j`'s component at dimension `i` is a value in
  * [-1, 1) derived deterministically from xxhash64 — no broadcast plane
  * matrix, reproducible across runs and engines. `seedOffset` shifts the
  * plane indices so independent hash TABLES (banding) can reuse the same
  * expression: table t with b planes uses seedOffset = t*b.
  *
  * Why custom: the HOF formulation (`aggregate(zip_with(...))` per plane)
  * re-enters the interpreted lambda machinery numPlanes times per row — the
  * 10-20× interpreted-HOF tax. This is one primitive double loop per plane
  * inside whole-stage codegen.
  *
  * Exact-parity contract (locked by ExpressionsSpec): bit j is set iff
  * Σ_i v[i] * comp(seedOffset+j, i) >= 0, where
  * comp(p, i) = (pmod(xxh64_int(i, xxh64_int(p, 42)), 2000) - 1000) / 1000
  * — identical to the interpreted `xxhash64(lit(p), i)` chain it replaces
  * (Spark seeds xxhash64 with 42 and folds int inputs with hashInt).
  * A null element nulls every plane dot, which the original mapped to an
  * all-zero signature — preserved here, and likewise for the empty vector
  * (the original's sequence(0,-1) null-pads the zip, nulling every dot).
  */
case class HyperplaneSignature(child: Expression, numPlanes: Int, seedOffset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(numPlanes > 0 && numPlanes <= 63, s"numPlanes must be in 1..63, got $numPlanes")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_signature expects array<double>/array<float>, got ${other.simpleString}")
    }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneSignature.compute(input.asInstanceOf[ArrayData], numPlanes, seedOffset, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HyperplaneSignature.compute($a, $numPlanes, $seedOffset, $elemIsFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignature {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Shared by interpreted eval and generated code. */
  def compute(v: ArrayData, numPlanes: Int, seedOffset: Int, isFloat: Boolean): Long = {
    val n = v.numElements()
    if (n == 0) return 0L // HOF parity: sequence(0,-1)=[0,-1] null-pads the zip → null dots
    var i = 0
    while (i < n) { // a null element nulls every plane dot → all-zero signature
      if (v.isNullAt(i)) return 0L
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < numPlanes) {
      val planeSeed = XXH64.hashInt(seedOffset + j, 42L)
      var acc = 0.0
      var k = 0
      while (k < n) {
        val h = XXH64.hashInt(k, planeSeed)
        val pm = ((h % 2000L) + 2000L) % 2000L
        acc += (if (isFloat) v.getFloat(k).toDouble else v.getDouble(k)) *
          ((pm.toDouble - 1000.0) / 1000.0)
        k += 1
      }
      if (acc >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

object VectorFunctions {
  /** Column API for [[DotProduct]]. */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column API for [[HyperplaneSignature]]. */
  def hyperplane_signature(v: Column, numPlanes: Int, seedOffset: Int = 0): Column =
    GraftColumnBridge.column(
      HyperplaneSignature(GraftColumnBridge.expression(v), numPlanes, seedOffset))
}
