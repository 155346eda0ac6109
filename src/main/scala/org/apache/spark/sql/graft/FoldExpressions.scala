// Hosted under org.apache.spark.sql for the same private[sql] access
// as VectorExpressions (AbstractDataType / TypeCollection, the
// Column <-> Expression bridge).
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native folds over one row's array: the per-key sequential folds of
  * the window-family operators whose recurrences cannot be expressed
  * as Spark windows (ewm), and the MinHash signature fold of the dedup
  * family.
  *
  * Each replaces a declarative formulation that runs interpreted
  * lambda calls per element. For ewm that form (`aggregate` over the
  * collected row array, appending each output with
  * `concat(outs, array(y))`) also costs O(n²) per key — every step
  * copies the accumulated output array. These expressions produce the
  * SAME values in one O(n) pass: the ewm state recurrence below is the
  * declarative fold's arithmetic operation-for-operation (each IEEE
  * `+ − × ÷` in the same order on the same operands), so results are
  * bit-identical and the DuckDB oracle replay
  * ([[graft.operators.Ewm.meanSql]]) is unchanged. RollingSpec's
  * pandas bit-for-bit fixture pins (all four adjust × ignore_na
  * combos) and the ewm oracle gates exercise the fold; DifferentialSpec
  * pins the var fold against the retired declarative formulation.
  */

/** pandas-parity exponentially weighted mean over one key's sorted
  * row array: input `array<struct<ord, value:double>>` (value at
  * field ordinal 1), output `array<double>` — element i is the ewm
  * mean after row i (null until the first non-null value arrives).
  * See [[graft.operators.Ewm.mean]] for the recurrence contract.
  */
case class EwmMeanFold(child: Expression, alpha: Double, adjust: Boolean,
    ignoreNa: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _)
        if s.length >= 2 && s(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"EwmMeanFold needs array<struct<ord, value:double>>, got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable

  private val f = 1.0 - alpha
  private val nw = if (adjust) 1.0 else alpha
  // child.dataType is only legal once resolved — defer (withNewChild
  // copies run on the unresolved tree during analysis)
  private lazy val nFields = child.dataType match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 2
  }

  /** Shared by eval and the generated code (called via reference). */
  def fold(rows: ArrayData): ArrayData = {
    val n = rows.numElements()
    val out = new Array[Any](n)
    var y = 0.0
    var yNull = true
    var w = 0.0
    var i = 0
    while (i < n) {
      val s = rows.getStruct(i, nFields)
      val curNull = s.isNullAt(1)
      val cur = if (curNull) 0.0 else s.getDouble(1)
      if (yNull) {
        // no mean yet: seed on the first non-null value
        if (!curNull) { y = cur; yNull = false; w = 1.0 } else w = 0.0
      } else {
        // one decay step per row (absolute positions) or per value
        // (relative positions, ignore_na)
        val w1 = if (!curNull || !ignoreNa) w * f else w
        if (!curNull) {
          // pandas skips the no-op blend; Spark's `===` calls NaN
          // equal to NaN, where Java's == does not — both routes
          // yield NaN there, so values agree on every input
          y = if (cur == y) y else (w1 * y + nw * cur) / (w1 + nw)
          w = if (adjust) w1 + nw else 1.0
        } else w = w1
      }
      out(i) = if (yNull) null else java.lang.Double.valueOf(y)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    fold(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("ewmMeanFold", this,
        classOf[EwmMeanFold].getName)
      s"${ev.value} = $self.fold($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): EwmMeanFold =
    copy(child = newChild)
}

/** pandas-parity exponentially weighted variance over one key's
  * sorted row array (the [[EwmMeanFold]] treatment applied to
  * `ewmcov(x, x)` — round-14 verdict stretch item 10): input
  * `array<struct<ord, value:double>>`, output `array<double>` —
  * element i is the (debiased unless `bias`) ewm variance after row
  * i, null while fewer than `max(minPeriods, 1)` values have arrived
  * or the debias denominator is ≤ 0. The state recurrence
  * `(m, cv, Σw, Σw², w_old, nobs)` is the declarative fold's
  * arithmetic operation-for-operation — each IEEE `+ − × ÷` in the
  * same order on the same operands (constants `f², nw²` pre-folded
  * exactly as Catalyst constant-folds the `lit(f) * lit(f)` forms) —
  * so results are bit-identical and the DuckDB replay
  * ([[graft.operators.Ewm.varianceSql]]) is unchanged. RollingSpec's
  * pandas fixture pins and the ewm_var oracle gate exercise this
  * fold; DifferentialSpec pins it against the retired declarative
  * form on randomized null patterns.
  */
case class EwmVarFold(child: Expression, alpha: Double, adjust: Boolean,
    ignoreNa: Boolean, bias: Boolean, minPeriods: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
  require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _)
        if s.length >= 2 && s(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"EwmVarFold needs array<struct<ord, value:double>>, got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable

  private val f = 1.0 - alpha
  private val f2 = (1.0 - alpha) * (1.0 - alpha)
  private val nw = if (adjust) 1.0 else alpha
  private val nw2 = nw * nw
  private val minp = math.max(minPeriods, 1)
  private lazy val nFields = child.dataType match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 2
  }

  /** Shared by eval and the generated code (called via reference). */
  def fold(rows: ArrayData): ArrayData = {
    val n = rows.numElements()
    val out = new Array[Any](n)
    var m = 0.0
    var mNull = true
    var cv = 0.0
    var swt = 1.0
    var swt2 = 1.0
    var owt = 1.0
    var nobs = 0L
    var i = 0
    while (i < n) {
      val s = rows.getStruct(i, nFields)
      val curNull = s.isNullAt(1)
      val cur = if (curNull) 0.0 else s.getDouble(1)
      if (mNull) {
        // no mean yet: a non-null row seeds (m = x, cv = 0) with the
        // weights UNDECAYED (the declarative `fresh` branch reads the
        // pre-decay accumulator); null rows leave the state untouched
        if (!curNull) { m = cur; mNull = false; cv = 0.0 }
      } else {
        // one decay step per row (absolute positions) or per value
        // (relative positions, ignore_na)
        val decay = !curNull || !ignoreNa
        val swt1 = if (decay) swt * f else swt
        val swt21 = if (decay) swt2 * f2 else swt2
        val owt1 = if (decay) owt * f else owt
        if (!curNull) {
          // the no-op-blend skip compares like Spark's `===` (NaN ==
          // NaN there, not here) — both routes yield NaN on NaN
          // inputs, so values agree on every input (the EwmMeanFold
          // note)
          val mNew = if (cur == m) m else (owt1 * m + nw * cur) / (owt1 + nw)
          val dm = m - mNew
          val dx = cur - mNew
          val cvNew = (owt1 * (cv + dm * dm) + nw * (dx * dx)) / (owt1 + nw)
          val swtO = swt1 + nw
          val swt2O = swt21 + nw2
          val owtO = owt1 + nw
          m = mNew
          cv = cvNew
          if (adjust) { swt = swtO; swt2 = swt2O; owt = owtO }
          else { swt = swtO / owtO; swt2 = swt2O / (owtO * owtO); owt = 1.0 }
        } else { swt = swt1; swt2 = swt21; owt = owt1 }
      }
      if (!curNull) nobs += 1
      out(i) =
        if (nobs >= minp && !mNull) {
          if (bias) java.lang.Double.valueOf(cv)
          else {
            val num = swt * swt
            val den = num - swt2
            if (den > 0.0) java.lang.Double.valueOf(num / den * cv) else null
          }
        } else null
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    fold(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("ewmVarFold", this,
        classOf[EwmVarFold].getName)
      s"${ev.value} = $self.fold($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): EwmVarFold =
    copy(child = newChild)
}

/** MinHash signature of one document: input `array<long>` of base
  * shingle hashes x, each already reduced into [0, p); output the
  * `k = a.length` element `array<long>` whose element j is
  * `min_x ((x·a_j + b_j) mod p)` over the non-null x. An empty, null
  * or all-null input yields k nulls — exactly the retired form, one
  * `array_min(transform(xs, x -> pmod(x·a_j + b_j, p)))` lambda per
  * coefficient (kept in the test sources; PipelineSpec and
  * CorpusSpec pin the two bit-equal under both base hashes). With x, a
  * and b below p = 2^31−1 the product stays under 2^62, so the long
  * arithmetic is the lambda's, exactly. One loop over the hashes per
  * row instead of k interpreted lambda passes.
  */
case class MinHashFold(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(a.length == b.length, s"need one b per a, got ${a.length} and ${b.length}")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_fold"

  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  /** Shared by eval and the generated code (called via reference). */
  def fold(xs: ArrayData): ArrayData = {
    val k = aArr.length
    val n = if (xs == null) 0 else xs.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        seen = true
        val x = xs.getLong(i)
        var j = 0
        while (j < k) {
          val h = ((x * aArr(j) + bArr(j)) % p + p) % p
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](k))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    fold(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minHashFold", this, classOf[MinHashFold].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $self.fold(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashFold =
    copy(child = newChild)
}

/** Column-level entry points for the fold expressions. */
object FoldExpressions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def ewmMeanFold(rows: Column, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean): Column =
    ExpressionUtils.column(EwmMeanFold(ExpressionUtils.expression(rows),
      alpha, adjust, ignoreNa))

  def ewmVarFold(rows: Column, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean, bias: Boolean, minPeriods: Int): Column =
    ExpressionUtils.column(EwmVarFold(ExpressionUtils.expression(rows),
      alpha, adjust, ignoreNa, bias, minPeriods))

  def minHashFold(baseHashes: Column, coeffs: Seq[(Long, Long)], p: Long): Column =
    ExpressionUtils.column(MinHashFold(ExpressionUtils.expression(baseHashes),
      coeffs.map(_._1), coeffs.map(_._2), p))
}
