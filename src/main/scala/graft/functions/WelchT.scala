package graft.functions

import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Welch's two-sample t-test from sufficient statistics, as a native
  * Catalyst expression.
  *
  * Mirrors the reference's `stats.ttest_ind_from_stats(..., equal_var=False)`
  * call (reference main/mwas_general.py:410-412, old/mwas_rfam.py:334-336):
  * the test is computed from (mean, sd, n) of each side, never from raw
  * vectors, so it composes with Spark's partial aggregation — the 100 TB
  * path is a plain two-level hash aggregate followed by this scalar.
  *
  * Inputs: m1, s1, n1, m2, s2, n2 (sd = SAMPLE standard deviation unless the
  * caller chooses the reference-faithful population sd — the formula is the
  * same, the caller picks which sd to feed; see SURVEY.md §7.4.3).
  * Output: struct(t DOUBLE, df DOUBLE, p DOUBLE) — two-sided p from the
  * Student-t CDF (commons-math3, already on Spark's classpath).
  *
  * Evaluated once per aggregated contrast (not per input row), so
  * CodegenFallback costs nothing measurable; the hot path (the aggregates
  * feeding it) stays inside WholeStageCodegen.
  */
case class WelchTTest(children: Seq[Expression])
    extends Expression with CodegenFallback {

  require(children.length == 6,
    "welch_t(m1, s1, n1, m2, s2, n2) takes exactly 6 arguments")

  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("t", DoubleType),
    StructField("df", DoubleType),
    StructField("p", DoubleType)))

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val Seq(m1, s1, n1, m2, s2, n2) = vs.map {
      case d: Double => d
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case f: Float => f.toDouble
      case other => other.toString.toDouble
    }
    WelchTTest.compute(m1, s1, n1, m2, s2, n2) match {
      case Some((t, df, p)) => new GenericInternalRow(Array[Any](t, df, p))
      case None => null
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object WelchTTest {

  /** Closed-form Welch statistic + Welch–Satterthwaite df + two-sided p. */
  def compute(m1: Double, s1: Double, n1: Double, m2: Double, s2: Double,
      n2: Double): Option[(Double, Double, Double)] = {
    if (n1 < 2 || n2 < 2) return None
    val v1 = s1 * s1 / n1
    val v2 = s2 * s2 / n2
    val se2 = v1 + v2
    if (se2.isNaN) return None
    if (se2 == 0) {
      // scipy ttest_ind_from_stats with BOTH variances zero (the exact
      // call the reference makes, mwas_general.py:410-412): the nan
      // Welch–Satterthwaite df is explicitly replaced by 1 in scipy's
      // _unequal_var_ttest_denom, the statistic is ±inf from the
      // divide-by-zero (nan when the means agree), and p = sf(inf)·2 = 0
      // — a constant-vs-constant difference is decisively significant.
      // Returning None here (the pre-r9 behavior) silently dropped such
      // contrasts from the significant set.
      return if (m1 == m2) Some((Double.NaN, 1.0, Double.NaN))
      else Some((if (m1 > m2) Double.PositiveInfinity
                 else Double.NegativeInfinity, 1.0, 0.0))
    }
    val t = (m1 - m2) / math.sqrt(se2)
    val df = se2 * se2 / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1))
    if (df.isNaN || df <= 0) return None
    val p =
      if (t.isInfinite) 0.0
      // no generator: the CDF never draws, so none is seeded per contrast
      else 2.0 * new TDistribution(null, df)
        .cumulativeProbability(-math.abs(t))
    Some((t, df, p))
  }

  /** Column-world entry point: welch_t($"m1", $"s1", ...) */
  def welch_t(m1: Column, s1: Column, n1: Column, m2: Column, s2: Column,
      n2: Column): Column =
    bridge.column(WelchTTest(
      Seq(m1, s1, n1, m2, s2, n2).map(bridge.expression)))
}
