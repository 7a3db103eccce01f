package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Optimizer rule: rewrite `year(col)` comparisons against integer
  * literals into raw date-range predicates.
  *
  * Why: `year(col) BETWEEN 1995 AND 1997` evaluates a function per row and
  * — more importantly — CANNOT be pushed to a parquet scan or used for
  * partition pruning, while the equivalent
  * `col >= DATE'1995-01-01' AND col < DATE'1998-01-01'` can. Catalyst has
  * no such rewrite built in (round-1 reports needed the fix by hand);
  * this rule applies it globally. The rewrite is exact: both forms are
  * null ⇔ col is null, and year boundaries are closed-open day ranges.
  *
  * Rewrites, for `col` of DateType or TimestampType (y a literal int):
  *   year(col) =  y   →  col >= d(y) AND col < d(y+1)
  *   year(col) >= y   →  col >= d(y)
  *   year(col) >  y   →  col >= d(y+1)
  *   year(col) <= y   →  col <  d(y+1)
  *   year(col) <  y   →  col <  d(y)
  * where d(y) = DATE 'y-01-01' (cast to timestamp for timestamp cols —
  * session-TZ midnight, matching what `year(timestampCol)` sees).
  *
  * Registered either via SparkSessionExtensions (config
  * spark.sql.extensions=graft.plans.GraftExtensions) or injected into a
  * live session with [[YearPredicateRewrite.install]].
  */
object YearPredicateRewrite extends Rule[LogicalPlan] {

  // Boundaries are emitted as already-folded literals: user rules run
  // after ConstantFolding, and the parquet filter translation only
  // accepts bare literals — a Cast(Literal) would keep the predicate
  // un-pushable.
  private def boundary(year: Int, template: Expression): Option[Expression] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val ldt = java.time.LocalDateTime.of(year, 1, 1, 0, 0)
    template.dataType match {
      case DateType =>
        Some(Literal(ldt.toLocalDate.toEpochDay.toInt, DateType))
      case TimestampNTZType =>
        Some(Literal(DateTimeUtils.localDateTimeToMicros(ldt), TimestampNTZType))
      case TimestampType =>
        val zone = DateTimeUtils.getZoneId(conf.sessionLocalTimeZone)
        Some(Literal(DateTimeUtils.instantToMicros(ldt.atZone(zone).toInstant), TimestampType))
      case _ => None
    }
  }

  private def intOf(e: Expression): Option[Int] = (e match {
    case Literal(v: Int, _)                  => Some(v)
    case Cast(Literal(v: Int, _), _, _, _)   => Some(v)
    case Literal(v: Long, _) if v.isValidInt => Some(v.toInt)
    case _                                   => None
    // Only rewrite sane year literals: boundary(y + 1) must stay inside
    // LocalDateTime/micros range, so e.g. `year(col) = 2147483647` (a valid
    // always-false predicate) is left alone instead of crashing planning.
  }).filter(y => y >= 1 && y <= 9998)

  private object YearOf {
    private def ok(t: org.apache.spark.sql.types.DataType): Boolean =
      t == DateType || t == TimestampType || t == TimestampNTZType
    // The analyzer wraps non-date inputs as Year(Cast(col, DateType));
    // unwrap to the raw column so the rewritten comparison is pushable.
    def unapply(e: Expression): Option[Expression] = e match {
      case Year(Cast(child, DateType, _, _)) if ok(child.dataType) => Some(child)
      case Year(child) if ok(child.dataType)                       => Some(child)
      case Cast(YearOf(child), _, _, _)                            => Some(child)
      case _                                                       => None
    }
  }

  private def rewrite(cond: Expression): Expression = cond.transformUp {
    case eq @ EqualTo(YearOf(c), lit) =>
      intOf(lit).flatMap(y => boundary(y, c).map(b =>
        And(GreaterThanOrEqual(c, b), LessThan(c, boundary(y + 1, c).get)): Expression)).getOrElse(eq)
    case eq @ EqualTo(lit, YearOf(c)) =>
      intOf(lit).flatMap(y => boundary(y, c).map(b =>
        And(GreaterThanOrEqual(c, b), LessThan(c, boundary(y + 1, c).get)): Expression)).getOrElse(eq)
    case ge @ GreaterThanOrEqual(YearOf(c), lit) =>
      intOf(lit).flatMap(y => boundary(y, c).map(b => GreaterThanOrEqual(c, b): Expression)).getOrElse(ge)
    case gt @ GreaterThan(YearOf(c), lit) =>
      intOf(lit).flatMap(y => boundary(y + 1, c).map(b => GreaterThanOrEqual(c, b): Expression)).getOrElse(gt)
    case le @ LessThanOrEqual(YearOf(c), lit) =>
      intOf(lit).flatMap(y => boundary(y + 1, c).map(b => LessThan(c, b): Expression)).getOrElse(le)
    case lt @ LessThan(YearOf(c), lit) =>
      intOf(lit).flatMap(y => boundary(y, c).map(b => LessThan(c, b): Expression)).getOrElse(lt)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = rewrite(cond)
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }

  /** Inject into a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.contains(this)) {
      spark.experimental.extraOptimizations = existing :+ this
    }
  }
}

/** spark.sql.extensions entry point registering the graft rules and
  * native functions at session build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => YearPredicateRewrite)
    ext.injectPlannerStrategy(_ => RangeLookupJoinStrategy)
    ext.injectQueryStagePrepRule(_ => SnapshotBroadcast)
  }
}
