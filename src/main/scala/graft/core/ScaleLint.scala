package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape guardrails for cluster scale — the checks this repo's specs
  * assert on individual operators, packaged as a user-facing API so a
  * pipeline author can gate THEIR composed chain before pointing it at
  * 100 TB. Inspection only: reads the compiled physical plan, runs
  * nothing.
  *
  * `error` findings are shapes that grow super-linearly with data size
  * (cartesian/nested-loop joins) or serialize the whole frame through one
  * task (unpartitioned window, global sort-without-limit below other
  * operators); `warn` findings are shapes that are fine for the domains
  * they were built for but carry a cardinality assumption the plan cannot
  * prove (domain-sized broadcast builds, literal-domain window keys), or
  * waste work at any size (a repartition whose partitioning nothing
  * consumes) — they never fail [[assertSafe]] but deserve a look before
  * 100 TB;
  * `info` findings are structural facts (exchange count) useful for
  * before/after comparison when tuning.
  */
object ScaleLint {

  /** One lint finding. `severity` ∈ error | warn | info. */
  final case class Finding(severity: String, rule: String, detail: String) {
    override def toString: String = s"[$severity] $rule: $detail"
  }

  /** Lint the frame's compiled PREPARED plan — post-EnsureRequirements,
    * pre-execution (AQE's runtime rewrites preserve or improve these
    * shapes, never introduce the flagged ones). The prepared plan carries
    * the requirement-driven exchanges, so the exchange count reflects the
    * shuffles the job will actually run, not only explicit repartitions.
    */
  def lint(df: DataFrame): Seq[Finding] = {
    // initialPlan (not inputPlan): the post-EnsureRequirements plan,
    // where the ShuffleExchangeExec nodes actually exist — inputPlan is
    // the pre-preparation tree and would read every plan as shuffle-free
    // (round-15 fix: the exchange-count finding was always 0). Still the
    // PRE-execution tree: after an action the current plan hides behind
    // query-stage leaves, so lint LAZILY (before any collect).
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }
    val findings = Seq.newBuilder[Finding]

    plan.collect { case c: CartesianProductExec => c }.foreach { c =>
      findings += Finding("error", "cartesian-product",
        s"O(n*m) pair blow-up; add a join key, bucketize, or block: ${c.nodeName}")
    }
    plan.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
      // a nested-loop whose broadcast side is PROVABLY bounded costs
      // O(n × k) with k fixed and small — a deliberate pattern in this
      // library (IVF centroid frames, tiny parameter tables, one-row
      // totals frames, bucket spines). Flag it info-level. Bounding
      // proofs, checked recursively (projections/filters/exchanges
      // preserve a bound; a join of bounded sides stays bounded):
      //  - a driver-local relation with ≤ 1024 rows
      //  - an UNGROUPED aggregate (exactly one row by construction)
      //  - a Range of ≤ 4096 elements (bucket/spine frames)
      //  - a GLOBAL limit of ≤ 4096 rows (the declared-cap shape)
      val buildSide = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }
      def provesBounded(p: SparkPlan): Boolean = p match {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l.rows.size <= 1024
        case r: org.apache.spark.sql.execution.RangeExec =>
          r.numElements <= BigInt(4096)
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.isEmpty => true
        // a global limit bounds output rows regardless of its child —
        // the one sound cap a plan can state explicitly (a LocalLimit
        // bounds only per partition and proves nothing here). limit = -1
        // is Dataset.offset's "offset-only, no limit" sentinel: such a
        // node bounds NOTHING and must not read as ≤ 4096
        case g: org.apache.spark.sql.execution.GlobalLimitExec =>
          g.limit >= 0 && g.limit <= 4096
        // an equi join PRESERVES the stream side's bound when the build
        // side matches at most once per key — provable when the build is
        // an aggregate grouped by a SUBSET of its join keys (grouping
        // tuples are unique, so joining on them — or on more — matches
        // ≤ 1 row). Inner/left-outer only: right-outer/full would emit
        // the unbounded side's unmatched rows. This is the spine-join
        // shape (Range spine LEFT JOIN per-bucket counts) the profile
        // family pads zeros with.
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if (j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
            j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter) &&
            provesBounded(j.left) && uniqueOnKeys(j.right, j.rightKeys) => true
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if (j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
            j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter) &&
            provesBounded(j.left) && uniqueOnKeys(j.right, j.rightKeys) => true
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if (j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
            j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter) &&
            provesBounded(j.left) && uniqueOnKeys(j.right, j.rightKeys) => true
        case other => other.children.nonEmpty && other.children.forall(provesBounded)
      }
      // a build side that is an AGGREGATED frame (one row per distinct
      // key) makes the nested loop domain-sized, not corpus-sized — the
      // margin/grid cross products of crossTable and driftByWindow, whose
      // output IS that product. But "domain-sized" is an ASSUMPTION the
      // plan cannot verify: a groupBy over a near-unique key still yields
      // a corpus-sized broadcast build. So the aggregated proof only
      // downgrades to info when the optimizer's row-count estimate is
      // available and bounded; otherwise it lints WARN — never silently
      // waved through, never a hard failure for the categorical domains
      // it was built for.
      // "matches at most once per join key": the plan below the join's
      // build side is an aggregate grouped by a SUBSET of the join keys
      // (grouping tuples are unique by construction). Keys must be plain
      // attributes; ids are translated through aliasing projections, and
      // only row-preserving/reducing nodes are walked through.
      def uniqueOnKeys(p: SparkPlan,
                       keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean = {
        import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
        val keyIds = keys.collect { case a: AttributeReference => a.exprId }
        if (keyIds.length != keys.length) false
        else {
          def walk(q: SparkPlan, ids: Set[ExprId]): Boolean = q match {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
              val groupIds = a.groupingExpressions.map(_.toAttribute.exprId).toSet
              groupIds.nonEmpty && groupIds.subsetOf(ids)
            case pr: org.apache.spark.sql.execution.ProjectExec =>
              val mapped = ids.map { id =>
                pr.projectList.collectFirst {
                  case al @ Alias(ar: AttributeReference, _) if al.exprId == id => ar.exprId
                }.getOrElse(id)
              }
              walk(pr.child, mapped)
            case e: org.apache.spark.sql.execution.exchange.Exchange => walk(e.child, ids)
            case s: org.apache.spark.sql.execution.SortExec => walk(s.child, ids)
            case f: org.apache.spark.sql.execution.FilterExec => walk(f.child, ids)
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec => walk(w.child, ids)
            case i: org.apache.spark.sql.execution.InputAdapter => walk(i.child, ids)
            case _ => false
          }
          walk(p, keyIds.toSet)
        }
      }
      def provesAggregated(p: SparkPlan): Boolean = p match {
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case other => other.children.nonEmpty && other.children.forall(provesAggregated)
      }
      def statsBounded(p: SparkPlan): Boolean =
        p.logicalLink.exists(l =>
          scala.util.Try(l.stats.rowCount).toOption.flatten.exists(_ <= BigInt(65536)))
      if (provesBounded(buildSide))
        findings += Finding("info", "nested-loop-join-bounded",
          s"nested-loop against a bounded driver-local broadcast (${j.joinType}); " +
            "O(n x k) with k small and fixed — fine at scale, verify k stays bounded")
      else if (provesAggregated(buildSide) && statsBounded(buildSide))
        findings += Finding("info", "nested-loop-join-aggregated",
          s"nested-loop against an aggregated broadcast (${j.joinType}): one build " +
            "row per distinct grouping key, row-count estimate bounded — " +
            "domain-sized product (margins, reference profiles)")
      else if (provesAggregated(buildSide))
        findings += Finding("warn", "nested-loop-join-aggregated",
          s"nested-loop against an aggregated broadcast (${j.joinType}): one build " +
            "row per distinct grouping key, so the product is domain-sized — fine " +
            "for categorical domains (margins, reference profiles); the plan " +
            "cannot bound the key's cardinality, so VERIFY the grouping key is " +
            "not near-unique before corpus scale")
      else
        findings += Finding("error", "nested-loop-join",
          "per-row scan of the broadcast side (non-equi condition); " +
            s"rewrite as an equi-join on a derived key (bucketized range, prefix): ${j.joinType}")
    }
    // a NON-empty partition key whose values are literal-derived (explode
    // of a literal array of column names — the melt shape of ungrouped
    // quantileProfile) is a global window in disguise: at most #literals
    // sort tasks see the whole frame. The global-window rule can't fire
    // (the key is non-empty), so prove the key's domain from the plan's
    // literal flow and warn with the cure.
    plan.collect {
      case w: WindowExec if w.partitionSpec.nonEmpty => w
    }.foreach { w =>
      val bounds = w.partitionSpec.map(e => literalDomain(e, w.child))
      if (bounds.forall(_.isDefined)) {
        val dom = bounds.flatten.product
        findings += Finding("warn", "low-domain-window-key",
          s"window partition key is literal-derived (domain <= $dom distinct " +
            "value(s)): the whole frame funnels through at most that many sort " +
            "tasks — correct, but a one-task-per-key bottleneck at corpus scale; " +
            "prefer the mergeable sketch twin (quantileProfileSketch / " +
            "trimmedMeanSketch), partition by a data key, or compute " +
            "positions/running sums via graft.core.PrefixScan")
      }
    }
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.foreach { w =>
      // RANGE frames get their own rule: they usually arrive via a
      // time-keyed op (timeseriesAgg / rollingAgg / resample) called with
      // an EMPTY grouping, and the fix differs (add the entity key to the
      // grouping, or pre-bucket time) from the generic global-window cures
      val isRange = w.windowExpression.exists(e => e.collectFirst {
        case f: org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame
          if f.frameType == org.apache.spark.sql.catalyst.expressions.RangeFrame => f
      }.nonEmpty)
      if (isRange)
        findings += Finding("error", "global-range-window",
          "RANGE-framed window with no PARTITION BY (a timeseriesAgg/rollingAgg/" +
            "resample-style op with an empty grouping) serializes every row " +
            "through ONE task; group by the entity key, or pre-aggregate to " +
            "coarse time buckets first")
      else
        findings += Finding("error", "global-window",
          "window with no PARTITION BY serializes every row through ONE task; " +
            "partition the window or use a distributed formulation (zipWithIndex, range ids)")
    }
    // explode feeding a join multiplies rows TWICE (per-row fan-out, then
    // match rate) — legitimate in bounded shapes (the bucketized range
    // join explodes each interval to its covered buckets by design), a
    // blow-up when the generator is unbounded. Info-level: verify the
    // fan-out bound.
    plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.children.exists(_.collectFirst {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }.nonEmpty) => j
    }.foreach { j =>
      findings += Finding("info", "explode-join-fanout",
        s"a row-generating explode feeds ${j.nodeName}: output rows multiply " +
          "(per-row fan-out x match rate); confirm the generator is bounded " +
          "(fixed-width buckets, capped arrays) before running at corpus scale")
    }
    // corpus-rescan spine: the SAME source relation feeds both a real
    // aggregate and a separate `distinct → crossJoin(bounded spine)`
    // branch — the shape this library twice designed out (grouped
    // calibration_profile, grouped histogram): the spine branch re-reads
    // the whole corpus just to enumerate groups the aggregate pass
    // already sees, doubling the op's I/O at 100 TB. Cure: route
    // excluded rows to a null bucket inside the one aggregate so group
    // discovery rides the same pass, then fold spine padding in with a
    // per-group map/explode (see AggOps.histogram / calibrationProfile).
    // Deliberately NOT matched: a distinct whose output IS the op's
    // semantic content joined against a row-preserving corpus branch
    // (datespine_groups — generator spine, no aggregate on the other
    // branch), and self-joins without any spine shape.
    locally {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      final case class ScanAt(key: String, ancestors: List[SparkPlan])
      val scansB = List.newBuilder[ScanAt]
      def walkScans(p: SparkPlan, anc: List[SparkPlan]): Unit = {
        p match {
          case f: FileSourceScanExec =>
            scansB += ScanAt(f.relation.location.rootPaths.mkString(","), anc)
          case _ => ()
        }
        val anc2 = p :: anc
        p.children.foreach(walkScans(_, anc2))
        p.subqueries.foreach(walkScans(_, anc2))
      }
      walkScans(plan, Nil)
      val scans = scansB.result()
      def isDistinctAgg(p: SparkPlan): Boolean = p match {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.isEmpty && a.groupingExpressions.nonEmpty
        case _ => false
      }
      def isRealAgg(p: SparkPlan): Boolean = p match {
        case a: BaseAggregateExec => a.aggregateExpressions.nonEmpty
        case _ => false
      }
      def boundedSpine(p: SparkPlan): Boolean = p match {
        case r: org.apache.spark.sql.execution.RangeExec =>
          r.numElements <= BigInt(4096)
        case l: org.apache.spark.sql.execution.LocalTableScanExec =>
          l.rows.size <= 4096
        case other =>
          other.children.nonEmpty && other.children.forall(boundedSpine)
      }
      def isSpineCross(p: SparkPlan): Boolean = p match {
        case c: CartesianProductExec =>
          boundedSpine(c.left) || boundedSpine(c.right)
        case b: BroadcastNestedLoopJoinExec if b.condition.isEmpty =>
          boundedSpine(b.left) || boundedSpine(b.right)
        // a crossJoin against a provably-small side can also compile to a
        // hash join when the optimizer derives a trivial key; cover the
        // broadcast case so the rule doesn't depend on that choice
        case b: BroadcastHashJoinExec =>
          boundedSpine(b.left) || boundedSpine(b.right)
        case _ => false
      }
      // nearest-ancestor-first: the cross join must sit ABOVE the distinct.
      // A distinct over an AGGREGATE's output is deliberately NOT exempt:
      // when a shared aggregate subtree is duplicated per branch, column
      // pruning differentiates the copies and defeats exchange reuse —
      // measured on the pre-round-13 driftByWindowQuantile window-grid,
      // whose "distinct over the bounded window counts" still cost 2
      // non-reused corpus scans. A GENUINELY reused exchange surfaces as
      // a ReusedExchangeExec LEAF (no scan beneath it in this walk), so
      // true reuse never produces the second ScanAt and never flags.
      val spineScans = scans.filter { s =>
        val i = s.ancestors.indexWhere(isDistinctAgg)
        i >= 0 && s.ancestors.drop(i + 1).exists(isSpineCross)
      }
      val flagged = spineScans.filter { s1 =>
        scans.exists { s2 =>
          (s2 ne s1) && s2.key == s1.key &&
            s2.ancestors.exists(a => isRealAgg(a) && !s1.ancestors.exists(_ eq a))
        }
      }.map(_.key).distinct
      flagged.foreach { _ =>
          findings += Finding("warn", "corpus-rescan-spine",
            "the same source is scanned twice: once through an aggregate and " +
              "once through a distinct -> crossJoin(spine) branch that only " +
              "enumerates groups the aggregate pass already sees — fold group " +
              "discovery into the aggregate (null-bucket + per-group map/explode " +
              "spine padding, the histogram/calibrationProfile pattern) to halve " +
              "the corpus I/O")
      }
    }
    // an explicit repartition(col) whose rows reach a broadcast build, or
    // the streamed side of a nested-loop join, through projections and
    // filters only, where nothing consumes the hash partitioning: the
    // broadcast collects the rows whole, so its side is always dead. The
    // streamed side is dead only when the join drops its partitioning or
    // no operator above the join, up to the next exchange, requires a
    // distribution: for inner, semi and anti joins the join passes that
    // partitioning up, and a window or aggregate on the same key reads it
    // in place of an exchange of the joined rows. A dead shuffle moves the
    // frame for nothing, and a projection below the join is computed once
    // per row without it. An exchange that recurs elsewhere in the plan
    // (the same canonical subtree, which runs once as a reused exchange)
    // is never flagged: it is a shared materialization, and dropping it
    // would compute the subtree once per copy.
    locally {
      import org.apache.spark.sql.catalyst.plans.physical.{UnknownPartitioning,
        UnspecifiedDistribution}
      import org.apache.spark.sql.catalyst.optimizer.BuildRight
      import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec,
        WholeStageCodegenExec}
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
        REPARTITION_BY_COL}
      def reachedRepartition(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => Some(e)
        case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter =>
          reachedRepartition(p.children.head)
        case _ => None
      }
      // `used`: an operator above p, below the nearest exchange, requires
      // a distribution of its child
      def deadSides(p: SparkPlan, used: Boolean): Seq[SparkPlan] = {
        val here = p match {
          case b: BroadcastExchangeExec => Seq(b.child)
          case j: BroadcastNestedLoopJoinExec
              if !used || j.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
            Seq(if (j.buildSide == BuildRight) j.left else j.right)
          case _ => Nil
        }
        here ++ p.children.zip(p.requiredChildDistribution).flatMap { case (ch, d) =>
          deadSides(ch, !p.isInstanceOf[Exchange] && (used || d != UnspecifiedDistribution))
        }
      }
      val dead = deadSides(plan, used = false).flatMap(reachedRepartition)
      val copies = plan.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => e.canonicalized
      }.groupBy(identity).view.mapValues(_.size).toMap
      dead.filter(e => copies(e.canonicalized) == 1).foreach { e =>
        val keys = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.map(_.sql).mkString(", ")
          case other => other.toString
        }
        findings += Finding("warn", "dead-repartition",
          s"repartition($keys) feeds only a broadcast, or a nested-loop join whose " +
            "output partitioning nothing uses: the shuffle moves the frame for nothing; " +
            "drop it (a projection below the join is still computed once per row)")
      }
    }
    // a global sort directly under collect/write is a legitimate ordered
    // output; a global sort BELOW other operators re-materializes the
    // whole frame range-partitioned — flag only the buried ones
    def buriedGlobalSort(p: SparkPlan, depth: Int): Unit = p match {
      case s: org.apache.spark.sql.execution.SortExec if s.global && depth > 1 =>
        findings += Finding("error", "buried-global-sort",
          "global sort feeding further operators range-partitions the full frame; " +
            "sort only at the sink, or sortWithinPartitions")
      case other => other.children.foreach(buriedGlobalSort(_, depth + 1))
    }
    buriedGlobalSort(plan, 0)

    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }.size
    findings += Finding("info", "exchange-count", s"$exchanges shuffle exchange(s) in the plan")
    findings.result()
  }

  /** Prove that `e0`, evaluated over `plan0`'s output, is drawn from a
    * bounded LITERAL domain, returning the bound. The proof follows the
    * attribute back through pass-through operators (sort, exchange,
    * filter), project aliases, and generators: an explode over an array
    * of literals (or of structs whose relevant field is literal in every
    * element) bounds the domain by the array length; a literal bounds it
    * by 1. Anything data-dependent breaks the proof (None) — a hash-keyed
    * window never lints.
    */
  private def literalDomain(e0: org.apache.spark.sql.catalyst.expressions.Expression,
                            plan0: SparkPlan): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference,
      CaseWhen, Cast, CreateArray, CreateNamedStruct, EqualNullSafe, EqualTo, Explode,
      Expression, GetStructField, In, IsNotNull, Literal}
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec}
    // all array elements are structs whose field `ord` is a literal
    def structField(elems: Seq[Expression], ord: Int, n: Int): Option[Long] =
      if (elems.forall {
        case s: CreateNamedStruct => s.valExprs.lift(ord).exists(_.isInstanceOf[Literal])
        case _ => false
      }) Some(n.toLong) else None
    def go(e: Expression, p: SparkPlan, ord: Option[Int]): Option[Long] = e match {
      case _: Literal => Some(1L)
      case al: Alias => go(al.child, p, ord)
      case ct: Cast => go(ct.child, p, ord) // a cast never widens the domain
      case gs: GetStructField if ord.isEmpty => go(gs.child, p, Some(gs.ordinal))
      case cns: CreateNamedStruct if ord.isDefined =>
        cns.valExprs.lift(ord.get).flatMap(v => go(v, p, None))
      case a: AttributeReference => defIn(a, p, ord)
      case _ => None
    }
    // a filter can bound an attribute's LIVE domain even when the values
    // are data-typed: `WHERE _w IS NOT NULL` over `_w = CASE WHEN key =
    // lit1 THEN ... WHEN key = lit2 THEN ... ELSE NULL END` (the weight-
    // list shape of a drop-unlisted-groups op) proves key takes at most
    // #branches values downstream — each surviving row satisfied one of
    // the literal equalities. Same for IN (literals) / = literal.
    // the bound holds only when the compared expression IS the key (or a
    // cast of it — casts never widen a domain): `k = lit` pins k to one
    // value, but `k % 10 = 3` / `length(k) = 5` / `substr(k,..) = 'ab'`
    // are non-injective and leave k unbounded — matching on references
    // alone would emit wrong low-domain findings for healthy windows
    def isKeyExpr(e: Expression, a: AttributeReference): Boolean = e match {
      case a2: AttributeReference => a2.exprId == a.exprId
      case ct: Cast => isKeyExpr(ct.child, a)
      case _ => false
    }
    def filterDomain(a: AttributeReference, cond: Expression): Option[Long] = {
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      // a CaseWhen whose branch predicates are all literal equalities on
      // `a` passes a row only when one of those equalities held — IF the
      // else value cannot pass the enclosing test. The allowed else set
      // depends on that test: a bare boolean CASE conjunct drops the row
      // on null OR false (allowFalseElse), but under IS NOT NULL an
      // `ELSE false` makes the predicate ALWAYS true (false IS NOT NULL)
      // — only an absent/null else proves anything there
      def caseBound(cw: CaseWhen, allowFalseElse: Boolean): Option[Long] =
        if (cw.elseValue.forall {
            case l: Literal => l.value == null || (allowFalseElse && l.value == false)
            case _ => false
          } && cw.branches.nonEmpty && cw.branches.forall {
            case (EqualTo(x, _: Literal), _) => isKeyExpr(x, a)
            case (EqualTo(_: Literal, x), _) => isKeyExpr(x, a)
            case _ => false
          }) Some(cw.branches.size.toLong)
        else None
      def orBound(e: Expression): Option[Long] = e match {
        case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
          for { lb <- orBound(l); rb <- orBound(r) } yield lb + rb
        case EqualTo(x, _: Literal) if isKeyExpr(x, a) => Some(1L)
        case EqualTo(_: Literal, x) if isKeyExpr(x, a) => Some(1L)
        case _ => None
      }
      def conjunctBound(e: Expression): Option[Long] = e match {
        case IsNotNull(cw: CaseWhen) => caseBound(cw, allowFalseElse = false)
        case cw: CaseWhen => caseBound(cw, allowFalseElse = true)
        case In(x, vals) if vals.nonEmpty && vals.forall(_.isInstanceOf[Literal]) &&
          isKeyExpr(x, a) => Some(vals.size.toLong)
        case o: org.apache.spark.sql.catalyst.expressions.Or => orBound(o)
        case EqualTo(x, _: Literal) if isKeyExpr(x, a) => Some(1L)
        case EqualTo(_: Literal, x) if isKeyExpr(x, a) => Some(1L)
        // `pred <=> true` is the optimizer's null-safe rewrite of
        // isnotnull-over-case (NullPropagation folds the CASE into its
        // predicate, then wraps it null-safely): whatever bounds pred
        // bounds the conjunct. `k <=> lit` pins k like EqualTo does —
        // null-safe equality still admits exactly one value. A BOOLEAN
        // key `k <=> true` matches this recursion first and the bare
        // attribute recursion returns None — fall back to the key-pin
        // bound so boolean keys aren't shadowed into a missed bound.
        case EqualNullSafe(Literal(true, org.apache.spark.sql.types.BooleanType), inner) =>
          conjunctBound(inner).orElse(if (isKeyExpr(inner, a)) Some(1L) else None)
        case EqualNullSafe(inner, Literal(true, org.apache.spark.sql.types.BooleanType)) =>
          conjunctBound(inner).orElse(if (isKeyExpr(inner, a)) Some(1L) else None)
        case EqualNullSafe(x, _: Literal) if isKeyExpr(x, a) => Some(1L)
        case EqualNullSafe(_: Literal, x) if isKeyExpr(x, a) => Some(1L)
        case _ => None
      }
      conjuncts(cond).flatMap(conjunctBound).minOption
    }
    def defIn(a: AttributeReference, p: SparkPlan, ord: Option[Int]): Option[Long] = p match {
      case pr: ProjectExec =>
        pr.projectList.collectFirst {
          case al: Alias if al.exprId == a.exprId => al.child
        } match {
          case Some(defExpr) => go(defExpr, pr.child, ord)
          case None => descend(a, pr, ord)
        }
      case f: FilterExec =>
        filterDomain(a, f.condition).orElse(descend(a, f, ord))
      case g: GenerateExec if g.generatorOutput.exists(_.exprId == a.exprId) =>
        val idx = g.generatorOutput.indexWhere(_.exprId == a.exprId)
        g.generator match {
          case ex: Explode => ex.child match {
            case ca: CreateArray =>
              val n = ca.children.size
              if (ca.children.forall(_.isInstanceOf[Literal])) Some(n.toLong)
              else {
                // array<struct>: the generator output is either the
                // flattened struct fields (idx = field ordinal) or one
                // struct attribute (the ordinal arrives from a downstream
                // GetStructField via `ord`)
                val fieldOrd = if (g.generatorOutput.size > 1) Some(idx) else ord
                fieldOrd.flatMap(o => structField(ca.children, o, n))
              }
            case l: Literal => l.value match {
              case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
                Some(arr.numElements().toLong)
              case _ => None
            }
            case _ => None
          }
          case _ => None
        }
      case other => descend(a, other, ord)
    }
    def descend(a: AttributeReference, p: SparkPlan, ord: Option[Int]): Option[Long] =
      p.children.find(_.outputSet.exists(_.exprId == a.exprId))
        .flatMap(c => defIn(a, c, ord))
    go(e0, plan0, None)
  }

  /** Throw (listing every error finding) if the plan contains a
    * scale-unsafe shape; return the error-free findings otherwise.
    */
  def assertSafe(df: DataFrame): Seq[Finding] = {
    val fs = lint(df)
    val errs = fs.filter(_.severity == "error")
    if (errs.nonEmpty)
      throw new IllegalStateException(
        s"scale-unsafe plan shapes:\n${errs.mkString("\n")}")
    fs
  }
}
