package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.types.LongType

import graft.multimodal.Multimodal

/** Exact integer division helpers for oracle-checked ratio metrics.
  *
  * Spark's `Column./` is TRUE (double) division; the repo previously
  * used the `(a - pmod(a, b)) / b` trick, which is exact only while
  * the numerator stays < 2^53 (doubles round above the mantissa and
  * the quotient can land off by one — silent oracle drift at corpus
  * scales the 100 TB design targets). These wrap Catalyst's
  * `IntegralDivide` (SQL `div`, codegen'd long division): exact over
  * the full long range, matching DuckDB `//` for the non-negative
  * operands every caller uses.
  */
object ExactMath {
  import org.apache.spark.sql.functions.{lit, when}

  /** `a div b` — truncating integer division (rounds toward zero, the
    * SQL-standard `div`). Exact over the full long range. This IS what
    * DuckDB's integer `//` computes for every sign combination
    * (VERIFIED on the shipped DuckDB 1.0.0 oracle engine:
    * -7 // 2 = -3, 7 // -2 = -3 — truncation, despite `//` reading as
    * "floor division"); oracle-paired integer division must therefore
    * use divTrunc, never [[floorDiv]], when operands can go negative. */
  def divTrunc(a: Column, b: Column): Column =
    GraftBridge.column(IntegralDivide(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** True floor division — matches Python `//` and Math.floorDiv for
    * ALL sign combinations, not just the non-negative operands most
    * callers use: the truncated quotient is decremented when the
    * division is inexact and the operands disagree in sign. NOT what
    * DuckDB integer `//` computes on mixed signs (that truncates — see
    * [[divTrunc]]); use this for floor SEMANTICS, divTrunc for oracle
    * parity. The extra branch is codegen'd and constant-folds away for
    * literal signs. */
  def floorDiv(a: Column, b: Column): Column = {
    val q = divTrunc(a, b)
    when((a < 0) =!= (b < 0) && (a % b) =!= lit(0L), q - 1).otherwise(q)
  }

  /** ceil(a/b) for non-negative a, positive b. */
  def ceilDiv(a: Column, b: Column): Column =
    divTrunc(a + b - lit(1L), b)

  /** floor(2²⁰·log₂(v)) for bigint 1 ≤ v < 2³³, exact-integer: fixed-
    * point log₂ with 20 fractional bits as a codegen'd [[Kernel]] of
    * [[graft.multimodal.Multimodal.log2e20]] (Q30 square-and-shift,
    * pure 64-bit integer ops, NO libm), which is what makes log-ratio
    * scores ORACLE-PORTABLE: any engine running the same recurrence (the
    * q_mm_entropy / q_dsir oracles build it in a DuckDB recursive CTE)
    * produces bit-identical values. Domain 1 ≤ v < 2³³ is enforced
    * loudly (the r12 BpeApply lesson: a silent clamp hides a contract
    * violation); callers document their count headroom the way
    * byteEntropyE6 does. Null in → null out.
    */
  def log2e20(v: Column): Column =
    Kernel(Multimodal, "log2e20", LongType, Seq(LongType))(v)
}
