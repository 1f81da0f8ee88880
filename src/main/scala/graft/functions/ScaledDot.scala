package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd scaled dot product over two ARRAY<FLOAT> columns:
  * Σ round(x_i·y_i·1e12) as a LONG.
  *
  * Why it exists (SURVEY.md §2.2-C, q_sim_* / q_dedup_embed):
  *   - float×float is exact in double, and rounding each product to a
  *     scaled integer makes the SUM order-independent — bit-identical
  *     across partitionings and engines (DuckDB oracle:
  *     SUM(CAST(round(x*y*1e12, 0) AS BIGINT))).
  *   - The same computation via zip_with+aggregate runs on the
  *     interpreted higher-order-function path (measured: 125k pairs ×
  *     64 dims ≈ 190 s). This expression generates a tight Java loop —
  *     the hot path stays inside whole-stage codegen.
  *
  * Rounding is half-away-from-zero evaluated on the exact double (the
  * semantics of C/C++ `std::round`, DuckDB's round, and Java BigDecimal
  * HALF_UP on the exact binary value) — NOT Math.round (half-toward-
  * +inf) and NOT floor(x+0.5) (FP-add mis-rounds values just below .5).
  */
case class ScaledDot(left: Expression, right: Expression) extends BinaryExpression {

  // Inputs must both be ARRAY<FLOAT> (AbstractDataType/ExpectsInputTypes
  // is private[sql], so enforcement is by construction via `dot`).
  override def dataType: DataType = LongType
  override def prettyName: String = "scaled_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    ScaledDot.scaledDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (x, y) => {
        val cls = ScaledDot.getClass.getName.stripSuffix("$") + "$.MODULE$"
        s"${ev.value} = $cls.scaledDot($x, $y);"
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Codegen'd `round(x * grain)` as LONG — the per-row quantization step of
  * the fixed-point sums (`Tables.fsum`). Spark's builtin `round` on a
  * DOUBLE routes through `BigDecimal.valueOf(x).setScale(0, HALF_UP)` —
  * one BigDecimal allocation per value, which at 15 sums × 600k rows is
  * ~9M allocations per corr-matrix scan. [[ScaledDot.roundHalfAway]] is
  * value-identical at scale 0 (HALF_UP is away-from-zero on halves, and
  * the shortest-decimal vs exact-binary distinction cannot flip a
  * scale-0 comparison against a representable half-integer), allocation-
  * free, and monomorphic.
  */
case class ScaledLong(child: Expression, grain: Double) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "scaled_long"

  override def nullSafeEval(input: Any): Any =
    ScaledLong.scaledLong(input.asInstanceOf[Double], grain)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val cls = ScaledLong.getClass.getName.stripSuffix("$") + "$.MODULE$"
        s"${ev.value} = $cls.scaledLong($c, ${grain}d);"
      })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ScaledLong {

  /** [[ScaledDot.roundHalfAway]] with explicit non-finite saturation:
    * +∞ → Long.MaxValue, −∞ → Long.MinValue, NaN → 0 (the long-cast
    * conventions). roundHalfAway alone would return r+1 = MinValue for
    * p = +∞ (floor(∞).toLong already saturates, then the away-from-zero
    * bump wraps). Fixture data is finite; this guards the SQL surface.
    */
  def scaledLong(x: Double, grain: Double): Long = {
    val p = x * grain
    if (java.lang.Double.isNaN(p)) 0L
    else if (p == Double.PositiveInfinity) Long.MaxValue
    else if (p == Double.NegativeInfinity) Long.MinValue
    else ScaledDot.roundHalfAway(p)
  }

  /** Column API: scaled_long(x, grain) → BIGINT round(x·grain). */
  def of(c: Column, grain: Double): Column =
    Bridge.column(ScaledLong(Bridge.expression(c), grain))
}

object ScaledDot {

  /** The whole dot in one static call over primitive float[] (bulk
    * `toFloatArray`, then a monomorphic tight loop). Per-element order
    * and rounding are identical to the original per-element codegen, so
    * results stay bit-identical; the static shape keeps the hot loop in
    * ONE JIT-owned method instead of per-query generated copies doing
    * 64 virtual `ArrayData.getFloat` calls against mixed receiver types
    * (UnsafeArrayData from scans, GenericArrayData from kernels and
    * literals) — the call sites a long-lived JVM deopt-cycles on.
    */
  def scaledDot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val xs = a.toFloatArray()
    val ys = b.toFloatArray()
    val n = math.min(xs.length, ys.length)
    var s = 0L
    var i = 0
    while (i < n) {
      s += roundHalfAway(xs(i).toDouble * ys(i).toDouble * 1e12)
      i += 1
    }
    s
  }

  /** std::round semantics on the exact double: half away from zero.
    * `p - floor(p)` is exact for |p| < 2^52, so the .5 comparison is
    * exact (no `+0.5` FP hazard).
    */
  def roundHalfAway(p: Double): Long = {
    val f = Math.floor(p)
    val r = f.toLong
    val d = p - f
    if (d > 0.5) r + 1
    else if (d < 0.5) r
    else if (p >= 0) r + 1
    else r
  }

  /** Column API: exact scaled dot as DOUBLE (descaled). */
  def dot(a: Column, b: Column): Column =
    Bridge
      .column(ScaledDot(Bridge.expression(a), Bridge.expression(b)))
      .cast("double") / 1e12

  /** Column API: the raw Σ round(x·y·1e12) LONG, un-descaled — for
    * callers that only ORDER by dot-derived keys and want the
    * comparison exact in integers instead of noise-carrying doubles
    * (r17: the PQ/IVF assignment argmin keys).
    *
    * Magnitude bound: the raw value is ⟨a,b⟩·1e12, so a key
    * `|c|²_raw − 2·dotRaw(v, c)` stays exact only while
    * |c|² + 2·|⟨v,c⟩| < Long.MaxValue / 1e12 ≈ 9.2e6; in particular
    * |⟨v,c⟩| must stay below ~4.6e6. Past it the key's long arithmetic
    * overflows: with ANSI mode on (Spark 4's default) the query fails,
    * with it off the key wraps silently and corrupts the argmin order.
    * Normalized embeddings (|⟨v,c⟩| ≤ 1) are far inside the bound;
    * nothing checks it at run time.
    */
  def dotRaw(a: Column, b: Column): Column =
    Bridge.column(ScaledDot(Bridge.expression(a), Bridge.expression(b)))
}
