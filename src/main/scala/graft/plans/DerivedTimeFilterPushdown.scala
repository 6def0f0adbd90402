package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Derived-time predicate pushdown.
  *
  * The engine's event-time discipline keeps a raw nanosecond long as the
  * canonical value and derives every coarser image explicitly
  * (`unix_micros(ts) * 1000`, `... div 1000`, `... div 1000000000` — see
  * Tables.normalizeEventTime and hedera.Deduplication). That is the
  * reference's own discipline (TransactionJsonToTableRow.java:57-58), but it
  * has a scan-level cost Spark cannot recover on its own: a predicate on the
  * derived value is an opaque function of the underlying timestamp column,
  * so the parquet reader receives NO filter and every row group in a 100 TB
  * scan is read and decoded just to evaluate a time window.
  *
  * This rule closes that gap algebraically. Each monotone derivation chain
  *
  *   chain := unix_micros(rawTs | cast(rawTs_ntz as timestamp) [UTC])
  *            (· * posConst | · div posConst)*
  *
  * compared against an integer literal is inverted exactly — `div` is
  * Spark's IntegralDivide (truncation toward zero), inverted with the
  * truncation-correct bounds, multiplication with true ceil/floor — into an
  * equivalent closed interval on the RAW timestamp column, which is added as
  * a REDUNDANT conjunct. The original predicate stays (bit-for-bit result
  * compatibility, including null semantics: both forms null out together);
  * the new simple comparison is exactly what the parquet data source can
  * push, so row-group statistics prune the scan. `.explain` shows the win:
  * `PushedFilters: [..., GreaterThanOrEqual(ts,...)]` on scans that
  * previously pushed nothing.
  *
  * Bounds are computed in BigInt and clamped: an inverted bound past the
  * Long range degrades to "no bound on that side", never to a wrong bound.
  * The NTZ→LTZ cast form is only inverted when the cast's zone is UTC
  * (GraftSession pins the session zone to UTC); under any other zone the
  * wall-clock mapping is not the identity and the rule leaves the filter
  * untouched.
  *
  * Day pruning. A relation whose µs timestamp column carries the field
  * metadata of [[declareImages]] declares two images of it: a DATE column
  * holding its UTC day, and a LONG nanosecond column it truncates
  * (`timestamp_micros(ns div 1000)`). On such a relation every interval
  * the rule can bound on the timestamp — a comparison of the timestamp or
  * of the nanosecond column with a literal, or a raw bound derived from a
  * chain above — also adds a redundant `day >= d0 AND day <= d1`
  * conjunct. The nanosecond bound maps to µs by truncation (like
  * `div 1000`: ns in (-1000, 0) is µs 0), the µs bound to a day by floor
  * (like UTC `to_date`), so the day bound is implied by the predicate and
  * partition discovery lists only the days it can match. The day conjunct
  * is added only to a filter directly over the relation (a leaf), where
  * both columns are the relation's own, never over a projection that may
  * have redefined one of them. A relation without the declaration gets no
  * day conjunct, whatever its column names.
  *
  * Registered by GraftExtensions as an operator-optimization rule; it runs
  * inside the fixed-point batch AFTER alias inlining has pushed the filter
  * against the relation, and it is convergent: a conjunct it already added
  * (checked by semanticEquals) is never added again.
  */
object DerivedTimeFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {

  private val UtcIds = Set("UTC", "Etc/UTC", "GMT", "Z", "+00:00")

  private sealed trait Step
  private final case class Div(d: Long) extends Step
  private final case class Mul(m: Long) extends Step

  /** Inclusive interval, None = unbounded on that side. */
  private final case class B(lo: Option[BigInt], hi: Option[BigInt])

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Short, ShortType) => Some(v.toLong)
      case Literal(v: Byte, ByteType) => Some(v.toLong)
      case _ => None
    }
  }

  /** An integer literal, or a timestamp literal as its µs value. */
  private object Lit {
    def unapply(e: Expression): Option[Long] = e match {
      case IntLit(v) => Some(v)
      case Literal(v: Long, TimestampType) => Some(v)
      case _ => None
    }
  }

  private def posLit(e: Expression): Option[Long] = e match {
    case IntLit(v) if v > 0 => Some(v)
    case _ => None
  }

  /** chain(e) = steps (outermost first) over the raw attribute's integer
    * image: `unix_micros(tsCol)` for timestamp columns (the engine's µs
    * image), or the column value itself for a bare LONG column (the ns-long
    * discipline — the same chains appear as `ts div 1000` over a long).
    * A bare-long base requires at least one arithmetic step: a plain
    * `longCol >= lit` is already pushdown-eligible as written. */
  private def parse(e: Expression): Option[(AttributeReference, List[Step])] = e match {
    case d: IntegralDivide =>
      for { dd <- posLit(d.right); (a, s) <- parseInner(d.left) } yield (a, Div(dd) :: s)
    case m: Multiply =>
      val inner = posLit(m.right).map(v => (m.left, v))
        .orElse(posLit(m.left).map(v => (m.right, v)))
      for { (in, mm) <- inner; (a, s) <- parseInner(in) } yield (a, Mul(mm) :: s)
    case u: UnixMicros => microsBase(u)
    case _ => None
  }

  private def parseInner(e: Expression): Option[(AttributeReference, List[Step])] = e match {
    case a: AttributeReference if a.dataType == LongType => Some((a, Nil))
    case other => parse(other)
  }

  private def microsBase(u: UnixMicros): Option[(AttributeReference, List[Step])] =
    u.child match {
      case a: AttributeReference if a.dataType == TimestampType => Some((a, Nil))
      case c: Cast
          if c.dataType == TimestampType &&
            c.child.dataType == TimestampNTZType &&
            UtcIds.contains(c.timeZoneId.getOrElse(conf.sessionLocalTimeZone)) =>
        c.child match {
          case a: AttributeReference => Some((a, Nil))
          case _ => None
        }
      case _ => None
    }

  private def floorDiv(a: BigInt, d: BigInt): BigInt = {
    val q = a / d
    if (a % d != 0 && a.signum * d.signum < 0) q - 1 else q
  }
  private def ceilDiv(a: BigInt, d: BigInt): BigInt = -floorDiv(-a, d)

  /** Un-apply the chain (outermost first), exact in BigInt. */
  private def invert(steps: List[Step], b: B): B = steps match {
    case Nil => b
    case Div(d) :: rest =>
      // value = quot(inner, d), d > 0, truncation toward zero:
      //   value >= a ⟺ inner >= (if a >= 1) a·d else (a-1)·d + 1
      //   value <= b ⟺ inner <= (if b <= -1) b·d else (b+1)·d - 1
      val dd = BigInt(d)
      invert(rest, B(
        b.lo.map(a => if (a >= 1) a * dd else (a - 1) * dd + 1),
        b.hi.map(x => if (x <= -1) x * dd else (x + 1) * dd - 1)))
    case Mul(m) :: rest =>
      // value = inner · m, m > 0: value >= a ⟺ inner >= ceil(a/m), etc.
      val mm = BigInt(m)
      invert(rest, B(b.lo.map(ceilDiv(_, mm)), b.hi.map(floorDiv(_, mm))))
  }

  /** `e op literal` (literal on either side) → (e, the interval of e). */
  private def compared(c: Expression): Option[(Expression, B)] = {
    def at(v: Long) = Some(BigInt(v))
    c match {
      case GreaterThanOrEqual(e, Lit(v)) => Some((e, B(at(v), None)))
      case GreaterThan(e, Lit(v)) => Some((e, B(Some(BigInt(v) + 1), None)))
      case LessThanOrEqual(e, Lit(v)) => Some((e, B(None, at(v))))
      case LessThan(e, Lit(v)) => Some((e, B(None, Some(BigInt(v) - 1))))
      case EqualTo(e, Lit(v)) => Some((e, B(at(v), at(v))))
      case GreaterThanOrEqual(Lit(v), e) => Some((e, B(None, at(v))))
      case GreaterThan(Lit(v), e) => Some((e, B(None, Some(BigInt(v) - 1))))
      case LessThanOrEqual(Lit(v), e) => Some((e, B(at(v), None)))
      case LessThan(Lit(v), e) => Some((e, B(Some(BigInt(v) + 1), None)))
      case EqualTo(Lit(v), e) => Some((e, B(at(v), at(v))))
      case _ => None
    }
  }

  /** Comparison conjunct → interval on the chain's output value. */
  private def boundsOf(c: Expression): Option[(AttributeReference, List[Step], B)] =
    compared(c).flatMap { case (e, b) => parse(e).map { case (a, s) => (a, s, b) } }

  private val MinUs = BigInt(Long.MinValue)
  private val MaxUs = BigInt(Long.MaxValue)

  /** Raw-column predicates equivalent to (implied by) one derived conjunct. */
  private def rawPredicates(c: Expression): Seq[Expression] =
    boundsOf(c).toSeq.flatMap { case (attr, steps, b0) =>
      val us = invert(steps, b0)
      def lit(v: BigInt) = Literal(v.toLong, attr.dataType)
      val lo = us.lo.collect {
        // a bound past the Long range degrades to unbounded (never wrong)
        case a if a > MinUs && a <= MaxUs => GreaterThanOrEqual(attr, lit(a))
      }
      val hi = us.hi.collect {
        case x if x >= MinUs && x < MaxUs => LessThanOrEqual(attr, lit(x))
      }
      lo.toSeq ++ hi.toSeq
    }

  /** Field-metadata keys of the declaration on a µs timestamp column. */
  private val DayKey = "graft.dayColumn"
  private val NanosKey = "graft.nanosColumn"

  /** Declares that the µs timestamp column carrying this metadata is
    * `timestamp_micros(<nanos> div 1000)` and that `<day>` is its UTC date,
    * so filters on either time column also prune `<day>` partitions. */
  private[graft] def declareImages(day: String, nanos: String): Metadata =
    new MetadataBuilder().putString(DayKey, day).putString(NanosKey, nanos).build()

  /** A relation's declared images: (timestamp, day, nanos). */
  private final case class Images(ts: Attribute, day: Attribute, nanos: Option[Attribute])

  private def images(output: Seq[Attribute]): Option[Images] = {
    def named(name: String, t: DataType) = output.find(a => a.name == name && a.dataType == t)
    output.collectFirst {
      case ts if ts.dataType == TimestampType && ts.metadata.contains(DayKey) => ts
    }.flatMap { ts =>
      named(ts.metadata.getString(DayKey), DateType).map(day =>
        Images(ts, day, named(ts.metadata.getString(NanosKey), LongType)))
    }
  }

  private val UsPerDay = BigInt(86400000000L)

  /** Day-partition predicates implied by one conjunct: its µs interval on
    * the declared timestamp (ns bounds truncate to µs, like `div 1000`),
    * each side floored to its UTC day (like `to_date`). */
  private def dayPredicates(im: Images)(c: Expression): Seq[Expression] = {
    val us = compared(c).collect {
      case (a: Attribute, b) if a.exprId == im.ts.exprId => b
      case (a: Attribute, b) if im.nanos.exists(_.exprId == a.exprId) =>
        B(b.lo.map(_ / 1000), b.hi.map(_ / 1000)) // BigInt `/` truncates
    }
    def day(v: BigInt) = Literal(floorDiv(v, UsPerDay).toInt, DateType)
    us.toSeq.flatMap { b =>
      b.lo.map(v => GreaterThanOrEqual(im.day, day(v))).toSeq ++
        b.hi.map(v => LessThanOrEqual(im.day, day(v))).toSeq
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val raw = conjuncts.flatMap(rawPredicates)
      val days = Some(child).collect { case leaf: LeafNode => leaf }.flatMap(l => images(l.output))
        .toSeq.flatMap(im => (conjuncts ++ raw).flatMap(dayPredicates(im)))
      val extras = (raw ++ days)
        .foldLeft(Vector.empty[Expression]) { (acc, p) =>
          if (acc.exists(_.semanticEquals(p)) || conjuncts.exists(_.semanticEquals(p))) acc
          else acc :+ p
        }
      if (extras.isEmpty) f
      else Filter((conjuncts ++ extras).reduce(And), child)
  }
}
