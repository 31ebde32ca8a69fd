package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions.{approx_count_distinct, col}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

/** Optimizer rule: rewrite a pure range (theta) inner join whose condition
  * bounds `leftTime - rightTime` inside a finite window into a BANDED
  * equi-join — the `join_theta_range` DataFrame rewrite done as a
  * `Rule[LogicalPlan]`, so SQL-text and library callers get it for free
  * (SURVEY.md §4 "Range-join banding").
  *
  * Without it Catalyst plans a pure range join as BroadcastNestedLoop or
  * CartesianProduct — O(|L|·|R|) comparisons, dead at scale. The rewrite:
  *
  *   - band width W = hi − lo (the window the conjuncts imply);
  *   - left gains `band = lt div W`;
  *   - right explodes into the ≤ 2 candidate bands covering
  *     `[rt + lo, rt + hi]` (truncating div moves by at most 1 across a
  *     span of W);
  *   - join becomes equi on the band with the ORIGINAL condition kept as a
  *     residual filter — exactness is the residual's job, the band only
  *     prunes pairs.
  *
  * Pure range joins (no equi conjunct) always fire. For equi+range joins
  * the decision is STATS-DRIVEN: the shape that needs banding is a
  * LOW-CARDINALITY equi key (few tags/types/segments), where each key
  * group is huge and the per-group range scan is quadratic — banding
  * subdivides every group by time at the cost of the ≤7× right-side band
  * explosion, a trade that is wrong for high-cardinality keys (the common
  * case). The session conf `spark.graft.bandRangeJoin.withEquiKeys`
  * selects the policy:
  *
  *   - `"auto"` (default): estimate the equi key's distinct count — from
  *     CBO/catalog column stats when ANALYZE has populated them, else via
  *     a one-shot sampled `approx_count_distinct` over the first
  *     `SampleRows` rows of the smaller side (cached per canonicalized
  *     plan + attribute, so the probe runs once per shape per session;
  *     LIMIT short-circuits the scan, so the probe reads a file fragment,
  *     not the table) — and band iff it is ≤
  *     `spark.graft.bandRangeJoin.autoMaxDistinct` (default 256). A
  *     LIMIT sample can under-count a clustered layout; the failure mode
  *     is firing on a high-cardinality key, which costs the bounded ≤7×
  *     explosion but never correctness (the residual keeps exactness).
  *     Streaming children skip the probe (no batch job mid-plan) and
  *     don't fire.
  *   - `"true"`: always band equi+range joins. SESSION-WIDE blast
  *     radius: EVERY equi+range inner join in the session pays the band
  *     explosion, including high-cardinality keys — scope it to the one
  *     pipeline that needs it, or use `"auto"`.
  *   - `"false"`: never band equi+range joins.
  *
  * A [[BandRangeJoinRule.BandedTag]] on the rewritten Join stops the rule
  * re-firing on its own output (the residual range conjuncts it keeps
  * would otherwise re-trigger it every fixed-point pass); an exact-name
  * match on the generated band-equality conjunct is kept as a secondary
  * net for joins other rules reconstruct from scratch (tags don't survive
  * node reconstruction).
  *
  * The rule belongs to the session it was installed on (`GraftExtensions`
  * injects one per session, [[BandRangeJoin.install]] adds one): it reads
  * the policy from that session's conf and runs the cardinality probe on
  * that session, never on whichever session `SparkSession.active` resolves
  * to on the optimizing thread.
  */
final class BandRangeJoinRule(val session: SparkSession) extends Rule[LogicalPlan] {
  import BandRangeJoinRule._

  /** Fixed-length micros of a calendar interval (reject month components —
    * not a constant duration; days accepted as 86400 s, valid in the
    * engine's UTC sessions).
    */
  private def intervalMicros(i: CalendarInterval): Option[Long] =
    if (i.months != 0) None
    else Some(i.days * 86400000000L + i.microseconds)

  /** e as (attribute, additive offset) in the attribute's integer domain:
    * bigint attrs with long-literal offsets, or timestamp attrs with
    * constant-interval offsets (micros domain).
    */
  private def linear(e: Expression): Option[(Attribute, Long)] = e match {
    case a: AttributeReference if a.dataType == LongType => Some((a, 0L))
    case a: AttributeReference if a.dataType == TimestampType => Some((a, 0L))
    case Add(a: AttributeReference, Literal(v: Long, LongType), _) => Some((a, v))
    case Add(Literal(v: Long, LongType), a: AttributeReference, _) => Some((a, v))
    case Subtract(a: AttributeReference, Literal(v: Long, LongType), _) => Some((a, -v))
    // ANSI interval literals are DayTimeIntervalType (a micros long);
    // legacy CalendarInterval appears from older parsers
    case TimestampAddInterval(a: AttributeReference,
        Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType), _) =>
      Some((a, v))
    case TimestampAddInterval(a: AttributeReference, Literal(i: CalendarInterval, _), _) =>
      intervalMicros(i).map(m => (a, m))
    case _ => None
  }

  /** The attribute in its integer comparison domain: bigint as-is,
    * timestamp as epoch micros.
    */
  private def asLong(a: Attribute): Expression =
    if (a.dataType == TimestampType) UnixMicros(a) else a

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case other => Seq(other)
  }

  /** Normalize one comparison conjunct to a bound on (la − ra):
    * Some((la, ra, lo, hi)) with exactly one of lo/hi defined. Strict
    * bounds widen to inclusive — the residual filter restores exactness.
    */
  private def asBound(c: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Attribute, Attribute, Option[Long], Option[Long])] = {
    def norm(e1: Expression, e2: Expression) = // e1 <= e2
      (linear(e1), linear(e2)) match {
        case (Some((a1, o1)), Some((a2, o2))) =>
          if (l.outputSet.contains(a1) && r.outputSet.contains(a2))
            Some((a1, a2, None, Some(o2 - o1))) // la - ra <= o2 - o1
          else if (r.outputSet.contains(a1) && l.outputSet.contains(a2))
            Some((a2, a1, Some(o1 - o2), None)) // la - ra >= o1 - o2
          else None
        case _ => None
      }
    c match {
      case LessThanOrEqual(e1, e2) => norm(e1, e2)
      case LessThan(e1, e2) => norm(e1, e2)
      case GreaterThanOrEqual(e1, e2) => norm(e2, e1)
      case GreaterThan(e1, e2) => norm(e2, e1)
      case _ => None
    }
  }

  private def hasEquiConjunct(conjs: Seq[Expression], l: LogicalPlan, r: LogicalPlan): Boolean =
    conjs.exists {
      case EqualTo(e1, e2) =>
        (e1.references.subsetOf(l.outputSet) && e2.references.subsetOf(r.outputSet)) ||
          (e1.references.subsetOf(r.outputSet) && e2.references.subsetOf(l.outputSet))
      case _ => false
    }

  /** Bare-attribute equi pairs as (leftAttr, rightAttr) — the pairs the
    * auto-mode cardinality probe can estimate directly.
    */
  private def equiAttrPairs(conjs: Seq[Expression], l: LogicalPlan, r: LogicalPlan)
      : Seq[(Attribute, Attribute)] =
    conjs.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(b) && r.outputSet.contains(a) => (b, a)
    }

  /** Estimated distinct count of `attr` in `side`: catalog/CBO column
    * stats when present (free, exact-ish), else a sampled
    * approx_count_distinct over the first [[SampleRows]] rows. None =
    * unknown (probe failed or streaming child) → auto mode stays off.
    */
  private def estimatedKeyDistinct(side: LogicalPlan, attr: Attribute): Option[Long] = {
    val fromStats = side.stats.attributeStats.get(attr).flatMap(_.distinctCount)
    fromStats.map(_.toLong).orElse {
      if (side.isStreaming) None
      else {
        // cache key: canonicalized plan hash + the attribute's POSITION in
        // the output (exprIds are fresh per query instantiation — keying on
        // them would re-probe the same plan shape on every call; position
        // in the canonicalized output is instantiation-stable). If the
        // attribute is NOT in side.output (pos -1), fall back to the
        // exprId so two same-named unknown attributes on semantically
        // equal plans never share a cache entry (they'd collide on
        // "hash#-1#name" and return each other's estimate).
        val pos = side.output.indexWhere(_.exprId == attr.exprId)
        val posKey = if (pos >= 0) pos.toString else s"eid${attr.exprId.id}"
        val key = s"${side.canonicalized.semanticHash()}#$posKey#${attr.name}"
        val est: java.lang.Long = cardCache.computeIfAbsent(key, _ => {
          probeCount.incrementAndGet() // observability: specs pin cache reuse
          estimating.set(true)
          try {
            val probe = GraftSqlBridge.ofRows(session,
              Project(Seq(Alias(attr, "graft_card_probe")()), side))
            probe.limit(SampleRows)
              .agg(approx_count_distinct(col("graft_card_probe")))
              .head().getLong(0)
          } catch {
            case scala.util.control.NonFatal(_) => -1L
          } finally estimating.set(false)
        })
        Option(est).map(_.longValue).filter(_ >= 0L)
      }
    }
  }

  /** Auto-mode gate: probe the smaller side's equi key. */
  private def equiKeyIsLowCardinality(l: LogicalPlan, r: LogicalPlan,
      pairs: Seq[(Attribute, Attribute)]): Boolean =
    pairs.headOption.exists { case (la, ra) =>
      val (side, attr) =
        if (l.stats.sizeInBytes <= r.stats.sizeInBytes) (l, la) else (r, ra)
      val cap = session.sessionState.conf.getConfString(AutoMaxDistinctConf, "256").toLong
      estimatedKeyDistinct(side, attr).exists(_ <= cap)
    }

  /** Secondary re-fire net: the band-equality conjunct this rule emits
    * (exact generated names on both sides — a user column merely named
    * `graft_band_…` in a range condition no longer disables banding).
    */
  private def hasOwnBandConjunct(conjs: Seq[Expression]): Boolean =
    conjs.exists {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (a.name == "graft_band_l" && b.name == "graft_band_r") ||
          (a.name == "graft_band_r" && b.name == "graft_band_l")
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (estimating.get()) plan else plan transform {
    case j @ Join(l, r, Inner, Some(cond), hint)
        if j.getTagValue(BandedTag).isEmpty =>
      val conjs = splitConj(cond)
      // the policy gate (which may run the sampling probe) is consulted
      // ONLY after a bandable bound is found — a plain equi join must
      // never pay a probe
      def equiOk: Boolean =
        session.sessionState.conf.getConfString(WithEquiKeysConf, "auto").toLowerCase match {
          case "true" => true
          case "false" => false
          case _ => equiKeyIsLowCardinality(l, r, equiAttrPairs(conjs, l, r))
        }
      if (hasOwnBandConjunct(conjs)) j
      else {
        // tightest (lo, hi) per (la, ra) attribute pair
        val bounds = conjs.flatMap(asBound(_, l, r))
          .groupBy(b => (b._1, b._2))
          .map { case (k, bs) =>
            k -> (bs.flatMap(_._3).sorted.lastOption, bs.flatMap(_._4).sorted.headOption)
          }
        bounds.collectFirst {
          // overflow guards: the width subtraction must not wrap, and the
          // band arithmetic below divides BEFORE adding a small offset, so
          // with w >= 2 and bounded offsets no intermediate can overflow
          // even for attribute values at the Long extremes (a sentinel
          // "infinity" time must never be silently dropped — exactness is
          // the rule's contract)
          case ((la, ra), (Some(lo), Some(hi)))
            if la.dataType == ra.dataType &&
              math.abs(lo) < (1L << 61) && math.abs(hi) < (1L << 61) &&
              hi - lo >= 2 => (la, ra, lo, hi)
        } match {
          case None => j
          case Some(_) if hasEquiConjunct(conjs, l, r) && !equiOk => j
          case Some((la, ra, lo, hi)) =>
            val width = hi - lo
            val w = Literal(width, LongType)
            val bandL = Alias(IntegralDivide(asLong(la), w), "graft_band_l")()
            val leftP = Project(l.output :+ bandL, l)
            // candidate bands as trunc(ra/w) + d — never ra + offset, which
            // could wrap for extreme ra. Truncating division is NOT
            // translation-invariant (unlike floor), so the band of a value
            // in [ra+lo, ra+hi] can deviate from trunc(ra/w) + trunc(k/w)
            // by up to 2 in either direction — generate the full ±2-widened
            // offset set (≤ 7 bands for hi - lo = w; the equi-join dedups
            // via ArrayDistinct and the residual keeps exactness).
            val dRange = (lo / width - 2) to (hi / width + 2)
            val bands = ArrayDistinct(CreateArray(
              dRange.map(d => Add(IntegralDivide(asLong(ra), w), Literal(d, LongType)))))
            val bandR = AttributeReference("graft_band_r", LongType, nullable = true)()
            val rightG = Generate(Explode(bands), unrequiredChildIndex = Nil,
              outer = false, qualifier = None, generatorOutput = Seq(bandR), r)
            val banded = Join(leftP, rightG, Inner,
              Some(And(EqualTo(bandL.toAttribute, bandR), cond)), hint)
            banded.setTagValue(BandedTag, true)
            Project(j.output, banded)
        }
      }
  }
}

object BandRangeJoinRule {

  /** Policy for equi+range joins: "auto" | "true" | "false" (see class doc). */
  val WithEquiKeysConf = "spark.graft.bandRangeJoin.withEquiKeys"

  /** Auto mode bands equi+range joins iff est. key distinct ≤ this. */
  val AutoMaxDistinctConf = "spark.graft.bandRangeJoin.autoMaxDistinct"

  /** Marks a Join this rule produced — the re-fire guard. */
  val BandedTag: TreeNodeTag[Boolean] = new TreeNodeTag[Boolean]("graft.bandRangeJoin.banded")

  private val SampleRows = 100000

  /** Re-entrancy latch: the cardinality probe executes a Spark job whose
    * own optimization runs this rule on the same thread — skip entirely.
    */
  private val estimating = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Probe results keyed by (canonicalized child, attribute): one probe
    * per plan shape per session, −1 = probe failed (treated as unknown).
    */
  private val cardCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Number of sampling probes actually EXECUTED (cache misses) — the spec
    * asserts re-instantiating the same plan shape does not re-probe.
    */
  private[graft] val probeCount = new java.util.concurrent.atomic.AtomicLong(0)
}

object BandRangeJoin {
  /** Install the rule on a session (idempotent). Also available through
    * `spark.sql.extensions=graft.GraftExtensions`. A rule inherited from
    * the session this one was cloned from is replaced by one that owns `s`.
    */
  def install(s: SparkSession): Unit = {
    val rules = s.experimental.extraOptimizations
    if (!rules.exists { case r: BandRangeJoinRule => r.session eq s; case _ => false })
      s.experimental.extraOptimizations =
        rules.filterNot(_.isInstanceOf[BandRangeJoinRule]) :+ new BandRangeJoinRule(s)
  }
}
