package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, LongType, TimestampType}

/** Rewrites Filter range predicates on the DERIVED epoch-nanos column —
  * `unix_micros(ts) * 1000 <cmp> <long literal>` — into the equivalent
  * predicate on the NATIVE `ts` timestamp, so they reach the parquet
  * scan as `PushedFilters` (row-group min/max pruning).
  *
  * Why this exists: the micros-native fixture vintage makes `ts_ns` a
  * projection (`Tables.events`), and a projection filter never pushes
  * down — the library's own scan-range sites were moved to `ts`, but
  * ANY user query written against the documented `ts_ns` column would
  * silently full-scan. This rule closes that hole at the optimizer
  * level, the same way Spark's own `OptimizeIn`/date-rewrite rules
  * normalize user-shaped predicates into pushable forms.
  *
  * Exactness (m = unix_micros(ts), an integer; L the nanos literal):
  *   m*1000 >= L  ⇔  m >= ⌈L/1000⌉
  *   m*1000 >  L  ⇔  m >= ⌊L/1000⌋ + 1
  *   m*1000 <= L  ⇔  m <= ⌊L/1000⌋
  *   m*1000 <  L  ⇔  m <  ⌈L/1000⌉
  *   m*1000 =  L  ⇔  1000 | L  ∧  m = L/1000   (else never true)
  * Null semantics are preserved: every rewrite keeps `ts` inside a
  * null-propagating comparison, and the equality-to-non-multiple case
  * (false for every non-null row, NULL for null `ts`) is rewritten to
  * the EXACT null-conditional form `IF(ts IS NULL, NULL, FALSE)` — a
  * naked FALSE would be equivalent only in null-rejecting positions;
  * under `NOT(…)` the two diverge (`NOT(NULL)` = NULL drops the row,
  * `NOT(FALSE)` = TRUE keeps it), and `transformUp` rewrites at ANY
  * depth of the condition. The rule fires ONLY on Filter conditions —
  * pushdown is a scan concern — and only when the multiplicand is
  * exactly `unix_micros` of a TimestampType child times the literal
  * 1000.
  *
  * DOMAIN: the equivalences hold wherever `m * 1000` does not overflow
  * signed-64 — i.e. for timestamps inside the int64-NANOS-representable
  * range (1677-09-21 .. 2262-04-11), which is the entire domain on
  * which the `ts_ns` contract column is meaningful (the nanos fixture
  * vintage physically stored int64 nanos, bounded the same way). For a
  * row OUTSIDE that range the original expression overflows — an error
  * under ANSI evaluation, a wrapped comparison under legacy — while
  * the rewritten bound returns the mathematically-correct answer;
  * values inside the domain are never affected either way
  * (NanosRangeMathPropSpec pins the per-operator ceil/floor choices
  * across the full domain, adversarially around every boundary).
  */
object NanosRangePushdown extends Rule[LogicalPlan] {

  private object NanosOfTs {
    def unapply(e: Expression): Option[Expression] = e match {
      case Multiply(u: UnixMicros, Literal(1000L, LongType), _)
          if u.child.dataType == TimestampType => Some(u.child)
      case Multiply(Literal(1000L, LongType), u: UnixMicros, _)
          if u.child.dataType == TimestampType => Some(u.child)
      case _ => None
    }
  }

  /** Long literal small enough that ±1000 arithmetic cannot overflow —
    * every real epoch-nanos value is ~1.7e18, far inside the guard.
    */
  private object SafeLong {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(l: Long, LongType)
          if l > Long.MinValue + 1000L && l < Long.MaxValue - 1000L => Some(l)
      case _ => None
    }
  }

  private def tsLit(us: Long): Literal = Literal(us, TimestampType)
  private def fdiv(l: Long): Long = Math.floorDiv(l, 1000L)
  private def cdiv(l: Long): Long = Math.floorDiv(l + 999L, 1000L)

  private def rewrite(e: Expression): Expression = e.transformUp {
    case GreaterThanOrEqual(NanosOfTs(ts), SafeLong(l)) =>
      GreaterThanOrEqual(ts, tsLit(cdiv(l)))
    case GreaterThan(NanosOfTs(ts), SafeLong(l)) =>
      GreaterThanOrEqual(ts, tsLit(fdiv(l) + 1L))
    case LessThanOrEqual(NanosOfTs(ts), SafeLong(l)) =>
      LessThanOrEqual(ts, tsLit(fdiv(l)))
    case LessThan(NanosOfTs(ts), SafeLong(l)) =>
      LessThan(ts, tsLit(cdiv(l)))
    // mirrored literal-on-the-left forms
    case GreaterThanOrEqual(SafeLong(l), NanosOfTs(ts)) => // L >= m*1000
      LessThanOrEqual(ts, tsLit(fdiv(l)))
    case GreaterThan(SafeLong(l), NanosOfTs(ts)) =>        // L > m*1000
      LessThan(ts, tsLit(cdiv(l)))
    case LessThanOrEqual(SafeLong(l), NanosOfTs(ts)) =>    // L <= m*1000
      GreaterThanOrEqual(ts, tsLit(cdiv(l)))
    case LessThan(SafeLong(l), NanosOfTs(ts)) =>           // L < m*1000
      GreaterThanOrEqual(ts, tsLit(fdiv(l) + 1L))
    case EqualTo(NanosOfTs(ts), SafeLong(l)) =>
      if (l % 1000L == 0L) EqualTo(ts, tsLit(l / 1000L))
      else neverForNonNull(ts)
    case EqualTo(SafeLong(l), NanosOfTs(ts)) =>
      if (l % 1000L == 0L) EqualTo(ts, tsLit(l / 1000L))
      else neverForNonNull(ts)
  }

  /** `m*1000 = L` with 1000 ∤ L: FALSE for every non-null row, NULL for
    * a null `ts`. Emitted as the exact form so the rewrite is sound at
    * any depth (NOT, CASE, boolean-valued projections of the filter
    * condition); in a top-level null-rejecting conjunct Catalyst's own
    * constant folding still collapses the IF away.
    */
  private def neverForNonNull(ts: Expression): Expression =
    If(IsNull(ts), Literal(null, BooleanType), Literal.FalseLiteral)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val r = rewrite(cond)
      if (r fastEquals cond) f else f.copy(condition = r)
  }
}
