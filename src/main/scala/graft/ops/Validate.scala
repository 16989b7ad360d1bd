package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fail-fast data-quality gate (§2.9 of SURVEY.md). The reference's
  * validate task (v5_group_project_dag.py:236-278) runs 2 null checks + 5
  * range checks and raises ValueError before the sink on any violation.
  *
  * Engine design: all checks evaluate in ONE aggregate pass (a single job,
  * each check a `sum(when(violated,1))`), and the exception reports every
  * failed check with its violation count — strictly more informative than
  * the reference's first-failure-only ValueError, at lower cost (one scan
  * for all checks vs one pandas pass per check).
  */
object Validate {

  /** `passes` is a row-level predicate that must hold; a NULL predicate
    * result (e.g. comparison on a NULL value) counts as a violation unless
    * the predicate handles NULL itself.
    */
  final case class Check(name: String, passes: Column)

  final case class CheckResult(name: String, violations: Long)

  final class ValidationException(val failed: Seq[CheckResult])
      extends RuntimeException(
        "Validation failed: " + failed.map(f => s"${f.name} (${f.violations} rows)").mkString("; "))

  def notNull(cols: Seq[String]): Seq[Check] =
    cols.map(c => Check(s"not_null($c)", col(c).isNotNull))

  def inRange(c: String, lo: Double, hi: Double): Check =
    Check(s"range($c,$lo,$hi)", col(c).isNotNull && col(c).between(lo, hi))

  /** One aggregate pass over all checks; empty result = all green.
    * EAGER at call time (the whole point is a fail-fast answer before
    * anything downstream runs): executes the aggregate when called and
    * returns driver-side scalars — one Long per check. Callers that
    * need lazy composition use [[violationCountsDf]] (a DataFrame) or
    * [[observed]] (rides the consuming action's own pass).
    */
  def violationCounts(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] = {
    require(checks.nonEmpty, "no checks given")
    val aggs = checks.zipWithIndex.map { case (c, i) =>
      sum(when(coalesce(c.passes, lit(false)), 0L).otherwise(1L)).as(s"c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    checks.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(i) && row.getLong(i) > 0 => CheckResult(c.name, row.getLong(i))
    }
  }

  /** Pass-through gate: returns `df` unchanged if all checks hold, else
    * throws [[ValidationException]] listing every failed check. Call before
    * the sink write, mirroring the reference's all_success trigger rule.
    */
  def gate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val failed = violationCounts(df, checks)
    if (failed.nonEmpty) throw new ValidationException(failed)
    df
  }

  /** Relational form of the same gate: a 1-row DataFrame of violation
    * counts (used by the driver-facing validation query, where the result
    * must be a DataFrame rather than an exception).
    */
  def violationCountsDf(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = checks.map { c =>
      sum(when(coalesce(c.passes, lit(false)), 0L).otherwise(1L)).as(c.name)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Zero-extra-pass variant via the Observation API: checks ride along
    * with whatever action consumes the returned DataFrame (the write
    * itself), instead of [[gate]]'s separate validation scan. Call the
    * returned thunk only AFTER that action succeeded (it waits for the
    * action's metrics). The reference's all_success semantics (nothing
    * visible on violation) then come from writing to a staging area and
    * publishing only when the thunk reports no failures
    * (`Sinks.publishParquet`, as `Weather.run` does); [[gate]] gets them
    * by checking before the write, at the cost of its own pass.
    */
  def observed(df: DataFrame, checks: Seq[Check], name: String = "graft_checks"): (DataFrame, () => Seq[CheckResult]) = {
    val obs = org.apache.spark.sql.Observation(name)
    val aggs = checks.zipWithIndex.map { case (c, i) =>
      sum(when(coalesce(c.passes, lit(false)), 0L).otherwise(1L)).as(s"c$i")
    }
    val out = df.observe(obs, aggs.head, aggs.tail: _*)
    val fetch = () => {
      val row = obs.get
      checks.zipWithIndex.collect {
        case (c, i) if row(s"c$i").asInstanceOf[Long] > 0 =>
          CheckResult(c.name, row(s"c$i").asInstanceOf[Long])
      }
    }
    (out, fetch)
  }
}
