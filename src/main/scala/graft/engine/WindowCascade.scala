package graft.engine

import graft.streaming.Changelog
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}

/** Keyed window-cascade and global-window prefix-fold maintenance,
  * extracted from [[MaterializedView]] (round 13, verdict #7) so the
  * admission matrix in Mv.scala stays reviewable — the same split
  * [[DeltaAgg]] got in round 12. Pure code motion: every member body is
  * verbatim from MaterializedView; `ownerEngine` is the one renamed
  * reference (the class's constructor parameter is not visible from a
  * mixin). State and epoch semantics are documented inline, where they
  * always were.
  *
  * The two modes this trait owns:
  *  - KEYED window cascade ([[tryStartWindowCascade]] /
  *    [[windowCascadeEpoch]]): touched-PARTITION recompute + slice
  *    replacement, with the grouped state carried in [[windowOverlay]]
  *    and the degenerate-shape reroute latch.
  *  - GLOBAL-window prefix fold ([[tryStartGlobalWindow]] /
  *    [[windowGlobalEpoch]]): carried input multiset + per-source signed
  *    delta terms (telescoped for multi-source prefixes), suffix
  *    re-evaluation over carried state — no base re-scan after backfill.
  */
private[engine] trait WindowCascadeSupport { self: MaterializedView =>

  // window-cascade state (round 10, lineage-generalized round 11):
  // statements whose window-function nodes sit on one chain over a single
  // changelog source maintain by touched-PARTITION recompute — a source
  // delta names the partitions whose window results can change; exactly
  // those partitions re-evaluate (semi-join pushed below the bottom
  // Window) and replace their slice of the carried multiset — see
  // [[tryStartWindowCascade]]/[[windowCascadeEpoch]]
  private[engine] var windowMode = false
  /** Restriction-key expressions: every admitted window's PARTITION BY
    * traces (by exprId lineage, NOT by name — round-11 fix for the
    * shadowed-alias admission hazard) to a superset of these. Leaves are
    * [[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]]s over
    * the boundary source's own column names, so the same expression
    * evaluates against BOTH the delta payload (touched-key derivation)
    * and the carried output state (slice restriction). */
  private[engine] var windowPartKeys: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  /** State-side spelling of each restriction key: evaluates the same value
    * over the MV's OUTPUT rows — the key expression itself when its leaf
    * source columns survive plainly, or the output column that carries the
    * computed key value (the shadowed-alias shape). Index-aligned with
    * [[windowPartKeys]]. */
  private[engine] var windowStateKeys: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  /** Live changelog sources on the NULL-PADDED (or semi/anti filter) side
    * of an admitted outer join below the window chain (round 12), keyed by
    * lowercased viewName. The value is the owning join's condition traced
    * to evaluable leaves: padded-side attributes spell as
    * `__pd_<dimcol>` (the epoch renames the dim's delta payload with that
    * prefix), preserved-side attributes substitute their primary-source
    * lineage. A dim delta can flip enrichment/padding/membership only of
    * preserved rows it MATCHES — rows matching no delta row have an
    * identical dim match set before and after, hence identical output —
    * so the touched partitions derive by semi-joining the PRIMARY source's
    * current snapshot against the renamed payload under this condition and
    * projecting the window keys; exactly those partitions re-rank. */
  private[engine] var windowPaddedDims: Map[String, org.apache.spark.sql.catalyst.expressions.Expression] = Map.empty
  /** True while the grouped output state (keyed cascade or global-window
    * fold) is carried over a base of [[windowOverlay]], past
    * [[cascadeLocalMax]]. */
  private[graft] def windowStateOversize: Boolean =
    cascadeInner.exists(windowOverlay.overBound)

  // global-window prefix-fold state (round 12): window statements the
  // KEYED cascade refuses — a global (no PARTITION BY) or untraceable-key
  // window — maintain by cutting the plan below its bottommost nonlinear
  // node: the LINEAR prefix folds the source delta into a carried
  // input-multiset state (delta-proportional), and the suffix (windows,
  // sorts, aggregates — arbitrary deterministic shape) re-evaluates over
  // the carried state each epoch — "re-rank the carried multiset ⊕
  // delta", never re-scanning the source. Epoch cost is O(state); state
  // is the window's INPUT (≈ output-sized for a global rank) — the right
  // 100 TB trade for corpus-wide cutoff ranks, where the alternative is a
  // full base re-scan per epoch. See [[tryStartGlobalWindow]] /
  // [[windowGlobalEpoch]].
  private[engine] var windowGlobalMode = false
  /** Grouped (row → count) multiset of the cut node's output — the
    * suffix's input state. */
  private[engine] var windowInputState: Option[DataFrame] = None
  /** Monotone oversize latch for [[windowInputState]]: once it outgrows
    * [[cascadeLocalMax]], stop probing — merge straight to a checkpoint
    * (the probe would re-execute the merge plan every epoch only to
    * rediscover the overflow). */
  private[engine] var windowInputOversize = false

  /** Trace an attribute (by exprId) through pass-through plan nodes down
    * to the boundary source relation, returning the equivalent expression
    * over the SOURCE's own column names (leaves =
    * [[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]]).
    * A plain pass-through column yields that attribute; a computed Project
    * alias yields its defining expression with every referenced attribute
    * itself traced (round 11 — this is what the name-membership check it
    * replaces could not see: a computed alias SHADOWING a source column
    * name traces to its defining expression, not to the raw source
    * column). Window expressions and aggregate results trace to None —
    * they are not functions of a single source row. */
  private def traceAttr(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      id: org.apache.spark.sql.catalyst.expressions.ExprId,
      boundary: Set[String]):
      Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias, Window => WindowNode}
    plan match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) =>
        s.output.find(_.exprId == id).map(a => UnresolvedAttribute.quoted(a.name))
      case p: Project =>
        p.projectList.find(_.exprId == id) match {
          case Some(ar: AttributeReference) => traceAttr(p.child, ar.exprId, boundary)
          case Some(al: Alias) => traceExpr(al.child, p.child, boundary)
          case _ => None
        }
      case a: Aggregate =>
        a.aggregateExpressions.find(_.exprId == id) match {
          case Some(ar: AttributeReference) => traceAttr(a.child, ar.exprId, boundary)
          case Some(al: Alias)
            if !al.child.exists(_.isInstanceOf[AggregateExpression]) =>
            traceExpr(al.child, a.child, boundary)
          case _ => None
        }
      case w: WindowNode =>
        if (w.child.outputSet.exists(_.exprId == id))
          traceAttr(w.child, id, boundary)
        else None // a window-function result is not a per-source-row value
      case other =>
        // pass-through nodes (Filter, non-boundary SubqueryAlias, Join,
        // …): descend into the child that produces the attribute
        other.children.find(_.output.exists(_.exprId == id))
          .flatMap(traceAttr(_, id, boundary))
    }
  }

  /** Trace a whole expression: every referenced attribute must itself
    * trace ([[traceAttr]]); the result substitutes the traces in. None on
    * nondeterminism, subqueries, or any untraceable leaf. */
  private def traceExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]):
      Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (!e.deterministic ||
        e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
      return None
    var ok = true
    val traced = e.transformUp {
      case ar: AttributeReference =>
        traceAttr(plan, ar.exprId, boundary).getOrElse { ok = false; ar }
    }
    if (ok) Some(traced) else None
  }

  /** Aggregate nodes of the plan ABOVE the source boundary. */
  private def aggregatesAbove(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]): Seq[Aggregate] = {
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) => Nil
      case a: Aggregate => a +: a.children.flatMap(aggregatesAbove(_, boundary))
      case _ => p.children.flatMap(aggregatesAbove(_, boundary))
    }
  }

  /** The BOTTOM window of a one-chain window set: contained in every other
    * window's subtree (None when windows sit on divergent branches). */
  private def bottomWindow(
      wins: Seq[org.apache.spark.sql.catalyst.plans.logical.Window]):
      Option[org.apache.spark.sql.catalyst.plans.logical.Window] =
    wins.find(w => wins.forall(o => (o eq w) || o.child.exists(_ eq w)))

  /** Window-cascade admission (round 10; lineage-generalized round 11;
    * live padded dims round 12): the statement's window nodes all sit on
    * ONE chain over exactly one PRIMARY changelog source (referenced
    * once); further changelog sources admit only on the padded/filter
    * side of an outer join whose condition traces ([[windowPaddedDims]]).
    * Every window's PARTITION BY traces by exprId lineage ([[traceExpr]])
    * to deterministic expressions
    * over the primary's own columns, the traced key sets share a non-empty
    * intersection (the restriction keys), at most one Aggregate sits ABOVE
    * the bottom window with grouping that covers the restriction keys
    * (each output group then aggregates rows of a single key partition),
    * every leaf source column of the restriction keys survives in the
    * output under its source name, and everything else is multilinear.
    *
    * Soundness of touched-partition maintenance: below the bottom window
    * the plan is multilinear (Project/Filter/static joins), so every
    * derived row carries its source row's restriction-key value — a source
    * delta can only change the results of the key partitions its payload
    * names (the key expression evaluates on the delta payload directly);
    * every window partitions by a superset of the restriction keys, so all
    * window results are confined within key partitions; an admitted
    * aggregate groups by the keys, so its groups are too; above, the plan
    * is row-wise. Untouched partitions' output rows are therefore exactly
    * unchanged, and the touched partitions re-evaluate whole (semi-join
    * below the bottom window) and REPLACE their slice of the carried
    * multiset. A global (empty PARTITION BY) window would make every epoch
    * a full re-rank — batch re-run is the same cost, so it stays there.
    * The carried state is the output multiset grouped as (row → count),
    * like the delta-join cascade. */
  private[engine] def tryStartWindowCascade(): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val tbls = ownerEngine.referencedLiveTables(stmt)
    val ups = ownerEngine.referencedMvs(stmt, excluding = (schemaName, name))
    if (tbls.size + ups.size < 1) return false
    val preOffset = changeLog.latestOffset
    try {
      cascadeStmt = ownerEngine.rewrite(stmt)
      val df = spark.sql(cascadeStmt)
      val analyzed = df.queryExecution.analyzed
      val boundary = (tbls.map(_.viewName) ++ ups.map(_.viewName))
        .map(_.toLowerCase).toSet
      // each source must appear exactly once: the touched-key derivation
      // reads the delta payload through ONE lineage; a UNION ALL or
      // self-join referencing the source twice could route different key
      // derivations through each occurrence (relation list from the parsed
      // plan keeps duplicates)
      val occurrences = spark.sessionState.sqlParser.parsePlan(cascadeStmt).collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".").toLowerCase
      }
      if (boundary.exists(n => occurrences.count(_ == n) != 1)) return false
      val wins = windowsAbove(analyzed, boundary)
      if (wins.isEmpty) return false
      val bottom = bottomWindow(wins) match {
        case Some(b) => b
        case None => return false // windows on divergent branches
      }
      // the PRIMARY is the key-lineage owner (round 14; generalizes the
      // round-12 padded-dim spelling): every window's full PARTITION BY
      // must trace to exactly ONE source — that source's rows name the
      // touched partitions; every OTHER live source must classify below
      // as the single live side of an admitted join (an outer padded
      // side, rounds 11/12, or — round 14 — either side of an INNER
      // join), whose delta's touched partitions derive via the traced
      // join condition against the primary's snapshot. A key tracing
      // into two sources (or none) has no owner — reject.
      val keyOwners = boundary.filter(src =>
        wins.forall(w => w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(pe => traceExpr(pe, w.child, Set(src)).nonEmpty)))
      if (keyOwners.size != 1) return false
      val primaryName = keyOwners.head
      // key lineage stops at the PRIMARY only — a key tracing into a dim
      // would not be a function of the preserved rows and must fail
      val primaryBoundary = Set(primaryName)
      // at most one aggregate, either ABOVE the bottom window
      // (window-below-aggregate) or BELOW it (rank-groups-by-aggregate,
      // e.g. `rank() OVER (PARTITION BY bucket ORDER BY n)` over a GROUP
      // BY — round 11). Both reduce to the same key discipline: the
      // grouping-trace check below guarantees, above, that each output
      // group aggregates one key partition's rows, and, below, that the
      // restriction can install under the Aggregate (each group's rows
      // share the group's own key value, so whole touched groups
      // re-aggregate from only their partitions' source rows).
      val aggs = aggregatesAbove(analyzed, boundary)
      if (aggs.size > 1) return false
      val aggOpt = aggs.headOption
      if (aggOpt.exists(a =>
        !a.child.exists(_ eq bottom) && !bottom.child.exists(_ eq a)))
        return false
      // outer joins below the window chain admit in two flavors:
      //  - STATIC padded side (round 11): the primary sits on the
      //    preserved side, so every derived row still carries its source
      //    row's key and padded-ness can only change when the primary
      //    itself does (`rank() OVER … FROM fact LEFT JOIN static_dim`).
      //  - LIVE padded side (round 12): a dim delta flips enrichment /
      //    padding / semi-membership of exactly the preserved rows it
      //    MATCHES under the join condition — rows matching no delta row
      //    keep an identical dim match set and identical output. The
      //    condition is traced here to an expression evaluable over
      //    (primary snapshot ⋈ renamed dim payload); the epoch derives
      //    the touched partitions from that restricted term, like the
      //    delta-join cascade's restricted-difference term.
      // FULL stays rejected either way (padded rows on the primary's own
      // side carry NULL key columns no derivation can name).
      //
      // Round 14 adds INNER joins of two live tables (`rank() OVER
      // (PARTITION BY k …) FROM fact JOIN dim`): a delta on the
      // non-primary side changes the join output of exactly the primary
      // rows it MATCHES under the condition — the identical derivation
      // the live padded side already runs (primary snapshot ⋈ renamed
      // payload, semi), so the classification reuses the trace verbatim;
      // only the side assignment differs (whichever side holds the
      // primary is preserved).
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      // per-join classification: None = inadmissible; Some(None) = static
      // non-primary side; Some(Some(dim -> cond)) = live non-primary side
      val classified = joinsAbove(analyzed, boundary).map { j =>
        import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
        val sides = j.joinType match {
          case LeftOuter | LeftSemi | LeftAnti => Some((j.right, j.left))
          case RightOuter => Some((j.left, j.right))
          case Inner | Cross =>
            val l = boundarySourcesIn(j.left, boundary)
            val r = boundarySourcesIn(j.right, boundary)
            if (l.contains(primaryName) && !r.contains(primaryName))
              Some((j.right, j.left))
            else if (r.contains(primaryName) && !l.contains(primaryName))
              Some((j.left, j.right))
            else None // a join of two dims below the primary — unclaimed
          case _ => None
        }
        j -> sides.flatMap { case (padded, preserved) =>
          val dimsHere = boundarySourcesIn(padded, boundary)
          if (dimsHere.isEmpty) Some(None) // static padded side (round 11)
          else if (dimsHere.size > 1 ||
              !boundarySourcesIn(preserved, boundary).contains(primaryName) ||
              dimsHere.contains(primaryName)) None
          else {
            // LIVE padded side: trace the condition. Padded-side leaves
            // rename to __pd_<dimcol> (the epoch prefixes the payload
            // frame's columns so primary/dim name collisions — the common
            // `ON d.k = t.k` — cannot ambiguate resolution);
            // preserved-side leaves substitute their primary lineage.
            val dimName = dimsHere.head
            j.condition.filter(c => c.deterministic && !c.exists(
                _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
              .flatMap { cond =>
                var ok = true
                val traced = cond.transformUp {
                  case ar: AttributeReference if padded.outputSet.contains(ar) =>
                    traceAttr(padded, ar.exprId, Set(dimName)).map(_.transformUp {
                      case ua: UnresolvedAttribute =>
                        UnresolvedAttribute.quoted("__pd_" + ua.name)
                    }).getOrElse { ok = false; ar }
                  case ar: AttributeReference if preserved.outputSet.contains(ar) =>
                    traceAttr(preserved, ar.exprId, primaryBoundary)
                      .getOrElse { ok = false; ar }
                  case ar: AttributeReference => ok = false; ar
                }
                if (ok) Some(Some(dimName -> traced)) else None
              }
          }
        }
      }
      val admittedOuters = classified.collect { case (j, Some(_)) => j }
      val paddedDims: Map[String, org.apache.spark.sql.catalyst.expressions.Expression] =
        classified.collect { case (_, Some(Some(dc))) => dc }.toMap
      // a dim reachable through an outer join the classification did NOT
      // admit (nested padded sides, FULL, untraceable conditions) leaves
      // that join outside allowedNodes — nonLinearIn rejects below
      if (nonLinearIn(analyzed, boundary,
          allowedNodes = wins ++ aggOpt.toSeq ++ admittedOuters)) return false
      // every non-primary source must be claimed by exactly ONE admitted
      // padded side (two owning joins would each need their own condition
      // in the derivation; the map can hold only one — reject)
      if ((boundary - primaryName) != paddedDims.keySet.map(_.toLowerCase))
        return false
      if (classified.count { case (_, Some(Some(_))) => true; case _ => false } !=
          paddedDims.size) return false
      // trace every window's PARTITION BY; restriction keys = the traces
      // every window shares (each window then partitions by a superset)
      val traces: Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] =
        wins.map { w =>
          if (w.partitionSpec.isEmpty) return false
          w.partitionSpec.map(pe =>
            traceExpr(pe, w.child, primaryBoundary).getOrElse(return false))
        }
      val sharedKeys = traces.head
        .filter(t => traces.tail.forall(_.exists(_.sql == t.sql)))
        .distinctBy(_.sql)
      if (sharedKeys.isEmpty) return false
      // each key needs a STATE-side spelling that evaluates the same value
      // over the carried output rows (the slice restriction runs there):
      // (a) every leaf source column survives in the output under its
      // source name by plain lineage → the key expression itself applies;
      // (b) an output column's own lineage IS the key (a computed alias,
      // e.g. the shadowed-alias shape) → restrict on that column. A key
      // with neither spelling drops out — a SUBSET of the keys is a
      // coarser but still sound restriction (each window still partitions
      // by a superset); only an empty set rejects.
      val outTraces: Seq[(org.apache.spark.sql.catalyst.expressions.Attribute, String)] =
        analyzed.output.flatMap(o =>
          traceAttr(analyzed, o.exprId, primaryBoundary).map(t => o -> t.sql))
      def plainSurvives(n: String): Boolean = outTraces.exists {
        case (o, sql) => o.name == n && sql == UnresolvedAttribute.quoted(n).sql
      }
      val keyed: Seq[(org.apache.spark.sql.catalyst.expressions.Expression,
                      org.apache.spark.sql.catalyst.expressions.Expression)] =
        sharedKeys.flatMap { k =>
          val leaves = k.collect { case u: UnresolvedAttribute => u.name }.distinct
          if (leaves.forall(plainSurvives)) Some(k -> k)
          else outTraces.collectFirst {
            case (o, sql) if sql == k.sql => k -> UnresolvedAttribute.quoted(o.name)
          }
        }
      if (keyed.isEmpty) return false
      // an admitted aggregate's grouping must cover the restriction keys
      aggOpt.foreach { a =>
        val gt = a.groupingExpressions
          .flatMap(g => traceExpr(g, a.child, primaryBoundary)).map(_.sql).toSet
        if (!keyed.forall { case (k, _) => gt.contains(k.sql) }) return false
      }
      windowPartKeys = keyed.map(_._1)
      windowStateKeys = keyed.map(_._2)
      windowPaddedDims = paddedDims
      keyMode = MaterializedView.Multiset
      keyCols = Nil
      isAggMode = false
      val allSrcs =
        ups.map(u => MaterializedView.CascadeSrc(u.viewName, u.changeLog, () => u.df)) ++
          tbls.map(t => MaterializedView.CascadeSrc(t.viewName, t.enableChangelog(), () => t.batchDF))
      // primary FIRST — the epoch reads head as the key-lineage source
      cascadeUpstreams = allSrcs.filter(_.viewName.toLowerCase == primaryName) ++
        allSrcs.filterNot(_.viewName.toLowerCase == primaryName)
      cascadeMode = true
      windowMode = true
      val restored = validSnapshotMeta("windowcascade").flatMap { case (d, offsets, _) =>
        try {
          if (!new java.io.File(s"$d/inner").isDirectory ||
              !cascadeUpstreams.forall(u =>
                offsets.get(u.viewName).exists(_ <= u.log.latestOffset))) None
          else Some((offsets,
            spark.read.parquet(s"$d/inner").localCheckpoint(true)))
        } catch { case _: Throwable => None }
      }
      restored match {
        case Some((offsets, inner)) =>
          offsets.foreach { case (v, o) => cascadeOffsets(v) = o }
          cascadeInner = Some(inner)
          val vis = expandCounts(inner)
          snapshot = Some(vis)
          vis.createOrReplaceTempView(viewName)
        case None => windowCascadeEpoch() // initial backfill
      }
      true
    } catch { case t: Throwable =>
      MaterializedView.log.debug(s"window cascade refused for $viewName", t)
      windowMode = false
      cascadeMode = false
      cascadeUpstreams = Nil
      windowPartKeys = Nil
      windowStateKeys = Nil
      windowPaddedDims = Map.empty
      if (changeLog.latestOffset == preOffset) { snapshot = None; cascadeInner = None }
      false
    }
  }

  /** The last window-cascade recompute's analyzed frame, kept for
    * [[lastWindowEpochPlan]] (see SessionMvSupport's epoch-plan probes). */
  @volatile private[engine] var windowEpochFrame: Option[DataFrame] = None

  /** Optimized plan of the last window-cascade recompute — spec pin: the
    * touched-partition semi join must sit BELOW the Window node, or every
    * epoch silently re-ranks the world. Optimized when read. */
  private[graft] def lastWindowEpochPlan: Option[String] =
    windowEpochFrame.map(_.queryExecution.optimizedPlan.toString)

  /** A restriction-key expression as a Column — the unresolved-attribute
    * leaves re-resolve against the frame it is applied to: the delta
    * payload (source columns) for [[windowPartKeys]], the carried state
    * (output columns) for [[windowStateKeys]] — admission guarantees the
    * referenced names exist in the respective frame. */
  private def windowKeyCol(i: Int): org.apache.spark.sql.Column =
    GraftColumnBridge.column(windowPartKeys(i))
  private def windowStateKeyCol(i: Int): org.apache.spark.sql.Column =
    GraftColumnBridge.column(windowStateKeys(i))

  /** Install the touched-partition restriction directly below the
    * statement's ANCHOR node (plan surgery): the BOTTOM window — or, when
    * an admitted Aggregate sits below it (rank-groups-by-aggregate, round
    * 11), that Aggregate, so touched key partitions re-aggregate from only
    * their own source rows instead of re-aggregating the world and
    * filtering above. The anchor's child semi-joins the broadcast key
    * frame under the partition/grouping expressions whose lineage traces
    * match the restriction keys — a fresh `spark.sql` plan carries fresh
    * exprIds, so the match is by traced form, not identity. Output
    * attributes are untouched — everything above stays resolved. */
  private def restrictWindowToPartitions(full: DataFrame,
                                         touched: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, Expression}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
    val plan = full.queryExecution.analyzed
    val boundary = cascadeUpstreams.map(_.viewName.toLowerCase).toSet
    // key lineage stops at the PRIMARY (head) — padded dims carry no keys
    val keyBoundary = Set(cascadeUpstreams.head.viewName.toLowerCase)
    val wins = windowsAbove(plan, boundary)
    val w = bottomWindow(wins).getOrElse(
      throw new IllegalStateException("no bottom window in recompute plan"))
    val aggBelow = aggregatesAbove(plan, boundary).headOption
      .filter(a => w.child.exists(_ eq a))
    val (anchor: LogicalPlan, anchorSpec: Seq[(Expression, Expression)]) =
      aggBelow match {
        case Some(a) =>
          (a, a.groupingExpressions.flatMap(g =>
            traceExpr(g, a.child, keyBoundary).map(t => (t, g))))
        case None =>
          (w, w.partitionSpec.flatMap(pe =>
            traceExpr(pe, w.child, keyBoundary).map(t => (t, pe))))
      }
    val specByTrace = anchorSpec.map { case (t, e) => t.sql -> e }.toMap
    val pes = windowPartKeys.map(k => specByTrace.getOrElse(k.sql,
      throw new IllegalStateException(s"restriction key ${k.sql} missing from anchor")))
    val krPlan = org.apache.spark.sql.functions.broadcast(touched)
      .queryExecution.analyzed
    val cond = pes.zip(krPlan.output)
      .map { case (pe, k) => EqualNullSafe(pe, k): Expression }
      .reduce(And(_, _))
    // single-partition anchor input (round 15): when every leaf is
    // driver-resident (merged-face/memory-tail source + LocalRelation key
    // frame), the restricted slice is delta-bounded — pin it to one
    // partition UNDER the anchor so the Window/Aggregate plans with zero
    // exchanges (the touched-slice co-location shuffle was 97% of
    // s_mv_window_maintain's remaining bytes). A distributed leaf keeps
    // the exchange — at 100 TB co-locating the re-rank input IS the plan.
    def pin(p: LogicalPlan): LogicalPlan =
      if ((plan.collectLeaves() ++ krPlan.collectLeaves()).forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
        org.apache.spark.sql.catalyst.plans.logical.Repartition(1, shuffle = false, p)
      else p
    GraftColumnBridge.ofRows(spark, plan.transformUp {
      case n if n eq anchor =>
        anchor match {
          case a: Aggregate =>
            a.copy(child = pin(Join(a.child, krPlan, LeftSemi, Some(cond), JoinHint.NONE)))
          case win: org.apache.spark.sql.catalyst.plans.logical.Window =>
            win.copy(child = pin(Join(win.child, krPlan, LeftSemi, Some(cond), JoinHint.NONE)))
        }
    })
  }

  /** `df`'s `cols` and the state keys (as `__sk_<i>`), collected up to one
    * row past [[cascadeLocalMax]]. */
  private def collectWithStateKeys(df: DataFrame, cols: Seq[String]): Array[Row] = {
    import org.apache.spark.sql.functions.col
    df.select(cols.map(col) ++
      windowStateKeys.indices.map(i => windowStateKeyCol(i).as(s"__sk_$i")): _*)
      .limit(cascadeLocalMax + 1).collect()
  }

  /** Split collected (output ++ __sk_*) rows into key → expanded-rows
    * slices — key equality is [[Row]]'s value-based equals/hashCode. */
  private def groupSliceByKey(rows: Array[Row], n: Int)
      : scala.collection.mutable.LinkedHashMap[Row, IndexedSeq[Row]] = {
    val grouped = new scala.collection.mutable.LinkedHashMap[
      Row, scala.collection.mutable.ArrayBuffer[Row]]()
    rows.foreach { r =>
      val key = Row.fromSeq((n until r.length).map(r.get(_)))
      grouped.getOrElseUpdate(key,
        new scala.collection.mutable.ArrayBuffer[Row]()) +=
        Row.fromSeq((0 until n).map(r.get(_)))
    }
    grouped.map { case (k, b) => k -> (b.toIndexedSeq: IndexedSeq[Row]) }
  }

  /** One window-cascade epoch: the delta payload names the touched
    * partitions; exactly those re-evaluate against the source's current
    * snapshot (semi-join below the Window) and REPLACE their slice of the
    * carried multiset; the epoch's ops are the multiset diff of the
    * touched slice. Per-epoch cluster work is touched-partition-bounded —
    * at 100 TB a delta touching k partitions re-ranks k partitions, never
    * the table. The state tail (slice diff + replacement) runs through
    * [[windowOverlay]] ([[windowOverlayEpoch]]): point writes with zero
    * jobs while the multiset fits, one base probe past it. A
    * backfill-class delta, or a slice or probe past the bound, takes the
    * distributed grouped-state spelling (semi/anti joins against a
    * checkpointed frame). */
  private[engine] def windowCascadeEpoch(): Unit = synchronized {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (cascadeUpstreams.isEmpty) return
    val latests = cascadeUpstreams.map(u => u -> u.log.latestOffset)
    val anyNew = latests.exists { case (u, l) =>
      l > cascadeOffsets.getOrElse(u.viewName, 0L) }
    if (!anyNew && snapshot.nonEmpty) return
    if (snapshot.isEmpty) {
      latests.foreach { case (u, l) => cascadeOffsets(u.viewName) = l }
      statementEvals += 1
      val grouped = timed("backfill")(
        groupedCounts(spark.sql(cascadeStmt)).localCheckpoint(true))
      cascadeInner = Some(grouped)
      val vis = expandCounts(grouped)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      timed("backfill")(
        emitOps(Changelog.multisetDiff(None, vis, wide = true), wide = true))
      return
    }
    if (!anyNew) return
    val prevOffsets = latests.map { case (u, _) =>
      u.viewName -> cascadeOffsets.getOrElse(u.viewName, 0L) }.toMap
    val changed: Seq[(MaterializedView.CascadeSrc, DataFrame)] =
      latests.flatMap { case (u, l) =>
        val after = cascadeOffsets.getOrElse(u.viewName, 0L)
        cascadeOffsets(u.viewName) = l
        if (l > after) Some(u -> u.log.dfAfter(after)) else None
      }
    if (changed.isEmpty) return
    // the changelog append is atomic (staging dir → commit), so
    // [[epochEmitted]] cleanly splits the failure window: before emitOps
    // completes the repair must emit this epoch's delta itself; after, it
    // must NOT — re-diffing against the pre-epoch state would emit the
    // delta twice
    epochEmitted = false
    var settled = false
    try {
      val primary = cascadeUpstreams.head
      // touched keys, one term per changed source:
      //  - PRIMARY delta: the restriction-key expressions evaluate
      //    DIRECTLY on the delta payload (its columns are the source's,
      //    which the traced leaves name) — a computed key (e.g.
      //    date_trunc('day', ts)) derives here, round 11.
      //  - PADDED-DIM delta (round 12): the affected preserved rows are
      //    exactly those MATCHING the delta under the traced join
      //    condition — semi-join the primary's current snapshot against
      //    the __pd_-renamed payload and project the keys. Preserved rows
      //    the primary's own delta added/removed this epoch are named by
      //    the primary term; unchanged-but-rematched rows are in the
      //    current snapshot — the union covers every affected partition
      //    (over-touching recomputes idempotently).
      // boundedLocal inlined to keep the key ROWS — the overlay's
      // lookups need them
      val touchedRaw = pinLocal1(changed.map { case (u, ops) =>
        if (u.viewName == primary.viewName)
          ops.select(windowPartKeys.indices
            .map(i => windowKeyCol(i).as(s"__k_$i")): _*)
        else {
          val cond = windowPaddedDims(u.viewName.toLowerCase)
          val pay0 = ops.drop("rw_timestamp").drop("op")
          val pay = pay0.toDF(pay0.columns.toIndexedSeq.map("__pd_" + _): _*)
          primary.snap().join(broadcast(pay),
              GraftColumnBridge.column(cond), "left_semi")
            .select(windowPartKeys.indices
              .map(i => windowKeyCol(i).as(s"__k_$i")): _*)
        }
        // pinLocal1 BELOW the distinct (round 15): local deltas + local
        // faces make the key-dedup exchange and executeTake's extra scan
        // round pure overhead; distributed inputs keep the shuffle
      }.reduce(_ unionByName _)).distinct()
      val touchedRows = timed("touched-keys")(
        touchedRaw.limit(cascadeLocalMax + 1).collect())
      val touched =
        if (touchedRows.length <= cascadeLocalMax)
          localDf(touchedRows.toIndexedSeq, touchedRaw.schema)
        else touchedRaw.localCheckpoint(true)
      def restrict(df: DataFrame, how: String): DataFrame =
        df.join(broadcast(touched), windowStateKeys.indices
          .map(i => windowStateKeyCol(i) <=> col(s"__k_$i")).reduce(_ && _), how)
      statementEvals += 1
      // the partition restriction is installed BELOW the Window by plan
      // surgery: Catalyst's PushDownLeftSemiAntiJoin declines to push any
      // semi join it could plan as a broadcast join (SPARK-37455's cost
      // guard), which would leave the filter above the Window and re-rank
      // the WHOLE source every epoch
      val recompute = restrictWindowToPartitions(spark.sql(cascadeStmt), touched)
      windowEpochFrame = Some(recompute)

      // ---- overlay epoch: the slice collects ONCE (with its state keys
      // evaluated alongside), the diff runs driver-side and the touched
      // slices replace in [[windowOverlay]] — zero further jobs with no
      // base, one bounded probe for the delta's keys new to the overlay
      // window over one. The distributed tail below would pay two
      // full-state executions per epoch — the diff's semi-restricted scan
      // and the state-merge — so its cost is O(state), not O(delta)
      // (ScaleProbe window mode: ~14 jobs/epoch at 1M rows); it takes
      // only backfill-class deltas and the overlay's refusals ----
      if (touchedRows.length <= cascadeLocalMax &&
          windowOverlayEpoch(recompute, touchedRows, touched)) {
        settled = true
        // a wholesale-touch streak reroutes the statement to the
        // global-window input fold (epoch already committed; the switch
        // only re-seeds the input state) — round 13
        if (!windowRerouteRefused && windowDegenerateEpochs >= windowDegenerateAfter)
          tryRerouteToGlobalWindow()
        return
      }

      val newPart = timed("group-recompute")(boundedLocal(recompute))
      val newG = groupedCounts(newPart)
      // the epoch's ops diff BOTH sides in their GROUPED representation
      // (the carried state already is; expanding + regrouping was the
      // round-10 spelling's wasted work) and materialize delta-sized to
      // the driver, so the changelog append takes its zero-job
      // LocalRelation fast path and seeds the downstream fetch cache
      val epochOps = timed("diff-collect")(boundedLocal(Changelog.multisetDiffGrouped(
        restrict(cascadeInner.get, "left_semi"), newG, MaterializedView.CntCol)))
      // state BEFORE ops (same failure discipline as joinCascadeEpoch): a
      // merge failure propagates with nothing emitted this epoch. A window
      // MV's grouped state is OUTPUT-sized, not delta-sized: once it is
      // found past cascadeLocalMax it checkpoints flat into the overlay's
      // base, and a state the overlay carries over a base is not probed
      // again ([[mergedState]]).
      val merged = timed("state-merge")(mergedState(windowOverlay, cascadeInner.get,
        restrict(cascadeInner.get, "left_anti").unionByName(newG)))
      emitOps(epochOps)
      epochEmitted = true
      cascadeInner = Some(merged)
      val vis = expandCounts(merged)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      settled = true
    } catch { case scala.util.control.NonFatal(t) =>
      // full-recompute repair (round 11, ADVICE): the offset above is
      // already consumed, so a mid-epoch failure (transient Spark error,
      // plan-surgery mismatch) must NOT skip the delta — re-evaluate the
      // whole statement and multiset-diff against the carried state, same
      // discipline as joinCascadeEpoch's fallback. Fatal errors (OOM,
      // interrupts) propagate, with the pre-epoch offsets restored by the
      // finally below while nothing was committed; the warning makes a
      // PERSISTENT silent demotion to per-epoch batch re-runs observable
      // (round 12, ADVICE).
      MaterializedView.log.warn(
        s"window-cascade epoch for $viewName fell back to full recompute: $t")
      statementEvals += 1
      val grouped = groupedCounts(spark.sql(cascadeStmt)).localCheckpoint(true)
      val vis = expandCounts(grouped)
      if (!epochEmitted) {
        // pre-epoch state: cascadeInner is installed only after the emit
        val prevVis = expandCounts(cascadeInner.get)
        emitOps(Changelog.multisetDiff(Some(prevVis), vis))
        epochEmitted = true
      }
      // emitted && a POST-emit step failed: the committed ops already
      // describe prev→new, and `grouped` IS the new state (the full
      // statement over the same current sources) — install it, emit
      // nothing; the next epoch seeds the overlay from it
      cascadeInner = Some(grouped)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      settled = true
    } finally {
      // a survivable non-NonFatal escape (InterruptedException — excluded
      // from NonFatal, so the repair above never ran) with nothing
      // committed: restore the consumed offsets so the NEXT epoch re-folds
      // this delta instead of permanently losing it (round-12 ADVICE).
      // After a commit the state is already consistent — both the overlay
      // and the distributed branch commit state before emitting — so the
      // offsets must stand. An escape before the emit also re-bases the
      // next overlay epoch on the unchanged cascadeInner.
      if (!settled && !epochEmitted) {
        restoreOffsets(prevOffsets)
        windowOverlay.invalidate()
      }
    }
  }

  /** Grouped state of the window cascade as a [[CarriedOverlay]] keyed by
    * the partition state key, valued by the key's current EXPANDED output
    * rows (so the diff is [[Changelog.localMultisetDiff]] of the touched
    * slices); the render counts them back into the grouped layout. */
  private[engine] lazy val windowOverlay = new CarriedOverlay[IndexedSeq[Row]](spark,
    compactEvery, cascadeLocalMax,
    { values =>
      val counts = new scala.collection.mutable.LinkedHashMap[Row, Long]()
      values.foreach(_._2.foreach(r => counts.update(r, counts.getOrElse(r, 0L) + 1L)))
      counts.iterator.map { case (r, c) => Row.fromSeq(r.toSeq :+ c) }.toIndexedSeq
    },
    df => timed("state-merge")(df.localCheckpoint(true)))

  /** One overlay epoch, in either tier. A state the overlay did not return
    * (the backfill, a restore, a repair, the distributed tail) is seeded
    * whole into its no-base tier while its expanded rows fit
    * [[cascadeLocalMax]], else it becomes the base. Computes everything up
    * to the commit without touching the MV (a refusal returns false; the
    * caller falls through to the distributed tail), commits the epoch to
    * the overlay, then emits the driver-side diff. Epoch jobs in steady
    * state: the touched-slice recompute collect, plus, over a base, one
    * bounded probe when the delta names keys this overlay window has not
    * seen. With no base the face is a LocalRelation of the overlay's
    * rows, so reads run no job. */
  private def windowOverlayEpoch(recompute: DataFrame, touchedRows: Array[Row],
      touched: DataFrame): Boolean = {
    import org.apache.spark.sql.functions.col
    val state = cascadeInner.get
    val gSchema = state.schema // output cols + CntCol (groupedCounts layout)
    val outSchema = org.apache.spark.sql.types.StructType(gSchema.fields.dropRight(1))
    val outCols = outSchema.fieldNames.toIndexedSeq
    val n = outSchema.length
    // the driver-side diff reproduces the distributed emission order only
    // over types with a local ordering
    if (gSchema.fields.last.name != MaterializedView.CntCol ||
        outSchema.fields.exists(f => Changelog.localOrdering(f.dataType).isEmpty)) return false
    // 1. recomputed touched slice, state keys evaluated alongside (ONE job,
    // driver-bounded)
    val sliceRows = timed("group-recompute")(collectWithStateKeys(recompute, outCols))
    if (sliceRows.length > cascadeLocalMax) return false
    val newByKey = groupSliceByKey(sliceRows, n)
    def seed(s: DataFrame): Option[Iterable[(Row, IndexedSeq[Row])]] = {
      val rows = collectWithStateKeys(expandCounts(s), outCols)
      if (rows.length > cascadeLocalMax) None else Some(groupSliceByKey(rows, n))
    }
    if (!windowOverlay.begin(Some(state), gSchema, touched.schema, windowStateKeys.indices
      .map(i => windowStateKeyCol(i) <=> col(s"__k_$i")).reduce(_ && _), seed)) return false
    // carried partitions before the epoch (the whole state with no base)
    val carriedKeys = windowOverlay.keyCount
    // 2. the touched keys' OLD rows: the overlay's for keys this window has
    // seen (a vanished key correctly surfaces no rows), one bounded grouped
    // probe against the flat base for the fresh ones
    val keyRows = touchedRows.toIndexedSeq
    val probedOld = windowOverlay.probe(keyRows) match {
      case None => Map.empty[Row, IndexedSeq[Row]]
      case Some(p) =>
        val probed = timed("state-touched")(collectWithStateKeys(
          p, gSchema.fieldNames.toIndexedSeq))
        if (probed.length > cascadeLocalMax ||
            probed.map(_.getLong(n)).sum > cascadeLocalMax) return false
        groupSliceByKey(probed, n + 1).map { case (k, grouped) =>
          k -> grouped.flatMap(g => IndexedSeq.fill(g.getLong(n).toInt)(
            Row.fromSeq((0 until n).map(g.get))))
        }
    }
    val oldSlice = keyRows.flatMap(k =>
      windowOverlay.current(k, probedOld).getOrElse(IndexedSeq.empty[Row]))
    val newSlice = newByKey.valuesIterator.flatten.toIndexedSeq
    val opsRows = Changelog.localMultisetDiff(Some(oldSlice), newSlice, outSchema)
      .getOrElse(return false)
    // ---- commit sequence. State (overlay + any flat checkpoint, the only
    // post-refusal Spark job) comes BEFORE the emit — the distributed
    // tail's own discipline — so a checkpoint failure reaches the repair
    // path with `emitted` still false and nothing is emitted twice; after
    // the emit only assignments and lazy plan/view bindings remain. ----
    val carried = windowOverlay.carry(keyRows.map(k => k -> newByKey.get(k)))
    if (opsRows.nonEmpty)
      timed("emitOps")(emitOps(localDf(opsRows.toIndexedSeq,
        outSchema.add("op", org.apache.spark.sql.types.StringType))))
    // committed: mark it before the frame/view bindings below, so an
    // interrupt landing in them cannot restore the consumed offsets and
    // re-fold a delta the overlay already holds
    epochEmitted = true
    cascadeInner = Some(carried)
    val local = windowOverlay.holdsAll(carried)
    val vis =
      if (local) localDf(windowOverlay.values.flatten.toIndexedSeq, outSchema)
      else expandCounts(carried)
    snapshot = Some(vis)
    vis.createOrReplaceTempView(viewName)
    // degenerate-shape detection (round 13): the no-base tier's key count
    // makes the touched fraction a free probe
    if (local && carriedKeys >= 8 && keyRows.length >= 0.9 * carriedKeys)
      windowDegenerateEpochs += 1
    else windowDegenerateEpochs = 0
    true
  }

  /** Degenerate-shape latch (round 13, verdict #6): a PARTITION BY key
    * that every epoch's delta touches wholesale (e.g. a uniform hash of
    * the row id) makes the keyed cascade re-rank every partition every
    * epoch AND pay the per-partition machinery on top. After
    * [[windowDegenerateAfter]] consecutive no-base overlay epochs touching
    * ≥90% of ≥8 carried partitions, the statement reroutes to the
    * global-window input fold — same carried grouped output state, plus a
    * one-off prefix scan to seed the input multiset — whose epochs
    * re-evaluate the whole window suffix ONCE over carried ⊕ delta (the
    * cost the statement's semantics demand, with none of the
    * per-partition overhead). Detection lives in the no-base overlay
    * epoch, where the partition count is a free probe
    * ([[CarriedOverlay.keyCount]]). */
  private var windowDegenerateEpochs = 0
  private[graft] var windowDegenerateAfter = 2
  private var windowRerouteRefused = false

  private def tryRerouteToGlobalWindow(): Unit = {
    if (cascadeUpstreams.size != 1) { windowRerouteRefused = true; return }
    try {
      val u = cascadeUpstreams.head
      val boundary = Set(u.viewName.toLowerCase)
      val analyzed = spark.sql(cascadeStmt).queryExecution.analyzed
      // same admission as tryStartGlobalWindow, minus the backfill: the
      // cascade's grouped output state IS the global fold's state shape
      val occurrences = spark.sessionState.sqlParser.parsePlan(cascadeStmt).collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".").toLowerCase
      }
      def refuse(): Unit = windowRerouteRefused = true
      if (occurrences.count(_ == u.viewName.toLowerCase) != 1) { refuse(); return }
      if (subquerySourcesIn(analyzed, boundary).nonEmpty) { refuse(); return }
      if (windowsAbove(analyzed, boundary).isEmpty) { refuse(); return }
      val (cut, allowedJoins) = globalWindowCut(analyzed, boundary) match {
        case Some(x) => x
        case None => refuse(); return
      }
      if (nonLinearIn(cut, boundary, allowedNodes = allowedJoins)) { refuse(); return }
      if (cut.output.map(_.name.toLowerCase).distinct.size != cut.output.size) {
        refuse(); return
      }
      // reroute ONLY when the cut sits directly below the bottom WINDOW:
      // an Aggregate between them (window-over-aggregate) would make the
      // carried input multiset RAW-input-sized and re-aggregate it
      // wholesale every epoch — strictly worse than the keyed cascade's
      // touched-group recomputation, degenerate key or not
      val cutParentIsWindow = analyzed.collectFirst {
        case p if p.children.exists(_ eq cut) => p
      }.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])
      if (!cutParentIsWindow) { refuse(); return }
      var suffixOk = true
      def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
        if (!(p eq cut)) {
          if (!p.expressions.forall(_.deterministic)) suffixOk = false
          p.children.foreach(walk)
        }
      walk(analyzed)
      if (!suffixOk) { refuse(); return }
      // the switch's one-off cost: materialize the prefix input multiset
      // (offsets are already consumed through this epoch, so the current
      // source snapshot IS the state the fold expects)
      statementEvals += 1
      val inputG = groupedCounts(GraftColumnBridge.ofRows(spark, cut))
        .localCheckpoint(true)
      windowOverlay.invalidate() // the fold carries its own grouped state
      windowInputState = Some(inputG)
      windowMode = false
      cascadeMode = false
      windowGlobalMode = true
      windowDegenerateEpochs = 0
      MaterializedView.log.warn(
        s"window cascade for $viewName rerouted to the global-window input " +
        "fold (degenerate shape: consecutive epochs touched ~every partition)")
    } catch { case scala.util.control.NonFatal(_) => windowRerouteRefused = true }
  }

  // ---- global-window prefix fold (round 12) -------------------------------

  /** Locate the prefix/suffix cut of the global-window fold: walk the
    * path from the plan root to the single boundary source and find the
    * BOTTOMMOST nonlinear node B on it. Returns (B's path child — the cut
    * subtree whose output multiset becomes the carried input state — and
    * the path's outer joins whose PADDED side is source-free, to allow in
    * the prefix linearity check). None when no nonlinear node sits on the
    * path, or the first break is a non-inner join with the source on its
    * padded/filter side (null-extension is not linear in that side and
    * the break is not single-child — the KEYED cascade's restricted term
    * handles that shape instead). */
  private[engine] def globalWindowCut(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]):
      Option[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
              Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] = {
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Deduplicate, Distinct, Except, Generate, GlobalLimit, Intersect,
      Join, LocalLimit, Sort, SubqueryAlias, LogicalPlan, Window => WindowNode}
    def path(p: LogicalPlan): Option[List[LogicalPlan]] = p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) =>
        Some(List(p))
      case _ => p.children.iterator.flatMap(path).nextOption().map(p :: _)
    }
    val rev = path(analyzed).getOrElse(return None).reverse // source … root
    var allowedJoins = List.empty[LogicalPlan]
    for (i <- 1 until rev.length) {
      val c = rev(i - 1)
      rev(i) match {
        case _: Aggregate | _: WindowNode | _: Sort | _: GlobalLimit |
             _: LocalLimit | _: Distinct | _: Deduplicate | _: Intersect |
             _: Except | _: Generate =>
          return Some((c, allowedJoins))
        case j: Join if !(j.joinType == Inner || j.joinType == Cross) =>
          val sourceOnPadded = j.joinType match {
            case LeftOuter | LeftSemi | LeftAnti => j.right eq c
            case RightOuter => j.left eq c
            case _ => true // FULL etc: padded both sides
          }
          if (sourceOnPadded) return None
          allowedJoins ::= j
        case _ => ()
      }
    }
    None
  }

  /** Global-window admission (round 12) — tried only after the KEYED
    * window cascade refused. The statement must read exactly ONE
    * changelog source, referenced once and never through a subquery; at
    * least one Window node must exist (this mode exists for the global /
    * untraceable-key window shapes); the prefix below [[globalWindowCut]]
    * must be linear; the suffix above must be deterministic (it
    * re-evaluates wholesale over the carried state, so sorts, limits,
    * DISTINCT, aggregates and divergent window chains are all fine
    * there). Reference: the global-rank data-selection MV
    * (`risingwave/core.py` materialized-view surface). */
  private[engine] def tryStartGlobalWindow(): Boolean = {
    val tbls = ownerEngine.referencedLiveTables(stmt)
    val ups = ownerEngine.referencedMvs(stmt, excluding = (schemaName, name))
    // multi-source since round 13 (verdict #8): every source must live
    // INSIDE the prefix cut (checked below), each referenced exactly once
    if (tbls.size + ups.size < 1) return false
    val preOffset = changeLog.latestOffset
    try {
      cascadeStmt = ownerEngine.rewrite(stmt)
      val analyzed = spark.sql(cascadeStmt).queryExecution.analyzed
      val boundary = (tbls.map(_.viewName) ++ ups.map(_.viewName))
        .map(_.toLowerCase).toSet
      val occurrences = spark.sessionState.sqlParser.parsePlan(cascadeStmt).collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".").toLowerCase
      }
      if (boundary.exists(n => occurrences.count(_ == n) != 1)) return false
      // a source read through ANY subquery expression (at any depth) has
      // no linear slot for the prefix delta term
      if (subquerySourcesIn(analyzed, boundary).nonEmpty) return false
      if (windowsAbove(analyzed, boundary).isEmpty) return false
      val (cut, allowedJoins) =
        globalWindowCut(analyzed, boundary).getOrElse(return false)
      if (nonLinearIn(cut, boundary, allowedNodes = allowedJoins)) return false
      // EVERY source must sit inside the cut subtree: a source read only
      // by the suffix would re-evaluate against its live snapshot each
      // epoch with no fold term naming its delta
      if (boundarySourcesIn(cut, boundary) != boundary) return false
      // the fold groups the state by NAME — ambiguous cut columns reject
      if (cut.output.map(_.name.toLowerCase).distinct.size != cut.output.size)
        return false
      // suffix determinism (walk stops at the cut; the prefix's
      // expressions were vetted by nonLinearIn)
      var suffixOk = true
      def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
        if (!(p eq cut)) {
          if (!p.expressions.forall(_.deterministic)) suffixOk = false
          p.children.foreach(walk)
        }
      walk(analyzed)
      if (!suffixOk) return false
      keyMode = MaterializedView.Multiset
      keyCols = Nil
      isAggMode = false
      cascadeUpstreams =
        ups.map(u => MaterializedView.CascadeSrc(u.viewName, u.changeLog, () => u.df)) ++
          tbls.map(t => MaterializedView.CascadeSrc(t.viewName, t.enableChangelog(), () => t.batchDF))
      windowGlobalMode = true
      val restored = validSnapshotMeta("globalwindow").flatMap { case (d, offsets, _) =>
        try {
          if (!new java.io.File(s"$d/inner").isDirectory ||
              !new java.io.File(s"$d/winput").isDirectory ||
              !cascadeUpstreams.forall(u =>
                offsets.get(u.viewName).exists(_ <= u.log.latestOffset))) None
          else Some((offsets,
            spark.read.parquet(s"$d/inner").localCheckpoint(true),
            spark.read.parquet(s"$d/winput").localCheckpoint(true)))
        } catch { case _: Throwable => None }
      }
      restored match {
        case Some((offsets, inner, winput)) =>
          offsets.foreach { case (v, o) => cascadeOffsets(v) = o }
          cascadeInner = Some(inner)
          windowInputState = Some(winput)
          val vis = expandCounts(inner)
          snapshot = Some(vis)
          vis.createOrReplaceTempView(viewName)
        case None => windowGlobalEpoch() // initial backfill
      }
      true
    } catch { case t: Throwable =>
      MaterializedView.log.debug(s"global-window fold refused for $viewName", t)
      windowGlobalMode = false
      cascadeUpstreams = Nil
      windowInputState = None
      if (changeLog.latestOffset == preOffset) { snapshot = None; cascadeInner = None }
      false
    }
  }

  /** Evaluate the suffix over the carried input state: plan surgery swaps
    * the cut subtree for an exprId-preserving projection of the state
    * frame (positional — same statement text, same cut arity/names), so
    * every reference above the cut stays resolved and the SOURCE relation
    * — which lives only inside the discarded cut subtree — never appears
    * in the evaluated plan. */
  private[engine] def evalGlobalSuffix(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      cut: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      state: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val sp = state.queryExecution.analyzed
    if (sp.output.length != cut.output.length)
      throw new IllegalStateException(
        s"global-window state arity ${sp.output.length} != cut ${cut.output.length}")
    val proj = Project(cut.output.zip(sp.output).map { case (o, s) =>
      Alias(s, o.name)(exprId = o.exprId) }, sp)
    GraftColumnBridge.ofRows(spark, analyzed.transformUp {
      case n if n eq cut => proj
    })
  }

  /** One global-window epoch: fold the signed prefix delta terms into the
    * carried input multiset, re-evaluate the suffix over the folded state
    * (the only per-epoch evaluation — the base statement is never re-run;
    * [[statementEvals]] pins this), multiset-diff against the carried
    * output, emit, install. 100 TB shape: the prefix terms bind the
    * (small) delta payload, the fold is one hash aggregation over
    * (state ∪ delta), and the suffix — the global re-rank — runs over
    * carried state, which a global window forces to be output-sized work
    * anyway; the base table is read exactly once, at backfill. */
  private[engine] def windowGlobalEpoch(): Unit = synchronized {
    import org.apache.spark.sql.functions.{col, sum}
    if (cascadeUpstreams.isEmpty) return
    val latests = cascadeUpstreams.map(u => u -> u.log.latestOffset)
    val anyNew = latests.exists { case (u, l) =>
      l > cascadeOffsets.getOrElse(u.viewName, 0L) }
    if (!anyNew && snapshot.nonEmpty) return
    val boundary = cascadeUpstreams.map(_.viewName.toLowerCase).toSet
    if (snapshot.isEmpty) {
      latests.foreach { case (u, l) => cascadeOffsets(u.viewName) = l }
      statementEvals += 1
      val analyzed = spark.sql(cascadeStmt).queryExecution.analyzed
      val (cut, _) = globalWindowCut(analyzed, boundary).getOrElse(
        throw new IllegalStateException("global-window cut missing at backfill"))
      // ONE base scan: the prefix materializes the input state; the
      // suffix then evaluates over the state, not the source. The state
      // lands as a LocalRelation while bounded (round 15) so the very
      // first epoch already folds driver-side and the backfill suffix
      // plans exchange-free over coalesce(1); past the bound it latches
      // to the distributed checkpoint.
      val inputG = {
        val p = groupedCounts(GraftColumnBridge.ofRows(spark, cut))
        if (windowInputOversize) p.localCheckpoint(true)
        else {
          val f = boundedLocal(p)
          if (!f.queryExecution.logical
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
            windowInputOversize = true
          f
        }
      }
      windowInputState = Some(inputG)
      val inputIsLocal = inputG.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      val backfillState =
        if (inputIsLocal) expandCounts(inputG).coalesce(1) else expandCounts(inputG)
      val groupedPlan = groupedCounts(evalGlobalSuffix(analyzed, cut, backfillState))
      // no output state yet: the plan stands in for it
      val grouped = mergedState(windowOverlay, groupedPlan, groupedPlan)
      cascadeInner = Some(grouped)
      val vis = expandCounts(grouped)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      emitOps(Changelog.multisetDiff(None, vis, wide = true), wide = true)
      return
    }
    if (!anyNew) return
    val prevOffsets = latests.map { case (u, _) =>
      u.viewName -> cascadeOffsets.getOrElse(u.viewName, 0L) }.toMap
    val changed: Seq[(MaterializedView.CascadeSrc, DataFrame)] =
      latests.flatMap { case (u, l) =>
        val after = cascadeOffsets.getOrElse(u.viewName, 0L)
        cascadeOffsets(u.viewName) = l
        if (l > after) Some(u -> u.log.dfAfter(after).drop("rw_timestamp"))
        else None
      }
    if (changed.isEmpty) return
    var emitted = false
    var settled = false
    val tempViews = scala.collection.mutable.ArrayBuffer[String]()
    try {
      // per-source sign split. Single-source deltas stay LAZY (each binds
      // exactly one term's view — an eager checkpoint would pay a job per
      // sign for re-reads that never happen); multi-source epochs
      // checkpoint the slices, which feed both the delta terms and the
      // OLD-snapshot reconstruction of later-positioned sources
      val multi = changed.size > 1
      val parts = changed.map { case (u, payload) =>
        def slice(d: DataFrame) = if (multi) d.localCheckpoint(true) else d
        val adds = slice(payload.filter(col("op").isin(
          Changelog.OpInsert, Changelog.OpUpdateInsert)).drop("op"))
        val dels = slice(payload.filter(col("op").isin(
          Changelog.OpDelete, Changelog.OpUpdateDelete)).drop("op"))
        (u, adds, dels)
      }
      // multi-source telescoping (round 13, verdict #8): the prefix is
      // multilinear in its sources, so its exact delta is
      // Σᵢ P(new₁…newᵢ₋₁, Δᵢ, oldᵢ₊₁…) — the same telescoped form foldAux
      // and joinCascadeEpoch use; later-positioned sources bind OLD
      // snapshots (current ⊖ Δ⁺ ⊎ Δ⁻, netted per distinct row — see
      // foldAux's phantom note). A UNION ALL of two live tables under one
      // global rank folds per-source with no cross terms at all.
      if (multi) parts.foreach { case (u, adds, dels) =>
        val cols = adds.columns.toIndexedSeq.map(col)
        val addsNet = adds.exceptAll(dels)
        val delsNet = dels.exceptAll(adds)
        u.snap().select(cols: _*).exceptAll(addsNet).union(delsNet)
          .createOrReplaceTempView(epochView("gw_old", u.viewName))
        tempViews += epochView("gw_old", u.viewName)
      }
      // prefix delta terms: the statement retargeted at the signed
      // payload views, cut below the bottom nonlinear node — prefix
      // linearity makes prefix(Δ±) the exact input-state delta
      def term(u: MaterializedView.CascadeSrc, i: Int, view: String,
               d: DataFrame): DataFrame = {
        d.createOrReplaceTempView(view); tempViews += view
        val sql0 = retarget(cascadeStmt, u.viewName, view)
        if (!sql0.contains(view))
          throw new IllegalStateException(s"rebinding missed ${u.viewName}")
        val sql = parts.drop(i + 1).foldLeft(sql0) { case (s, (o, _, _)) =>
          retarget(s, o.viewName, epochView("gw_old", o.viewName))
        }
        val a = spark.sql(sql).queryExecution.analyzed
        val (c, _) = globalWindowCut(a, Set(view.toLowerCase)).getOrElse(
          throw new IllegalStateException("cut missing in retargeted plan"))
        GraftColumnBridge.ofRows(spark, c)
      }
      // raw (ungrouped) signed terms for the driver fold; the grouped
      // spellings below feed the distributed fold. Both bind the SAME
      // analyzed cut subtrees — term() resolves the payload views at
      // analysis time, so the two framings cannot diverge.
      val rawTerms: Seq[(DataFrame, Long)] =
        parts.zipWithIndex.flatMap { case ((u, adds, dels), i) =>
          Seq((term(u, i, epochView("gw_add", u.viewName), adds), 1L),
            (term(u, i, epochView("gw_del", u.viewName), dels), -1L))
        }
      val termFrames = rawTerms.map { case (df, sign) =>
        val g = groupedCounts(df)
        if (sign < 0) g.withColumn(MaterializedView.CntCol, -col(MaterializedView.CntCol))
        else g
      }
      val stateCols = windowInputState.get.columns
        .filterNot(_ == MaterializedView.CntCol).toIndexedSeq
      // Driver-local input fold (round 15, verdict #1): while the carried
      // grouped input state is a LocalRelation (bounded, binary-free,
      // CntCol last per groupedCounts layout), the distributed fold below
      // re-shuffles the FULL state through the (state ∪ Δterms) hash
      // aggregation every epoch — at the bench that was 65% of the
      // entry's shuffle and 3 of its ~8 jobs (ShuffleProfile, r15).
      // Instead: aggregate ONLY the delta terms distributed (delta-sized
      // exchange), collect bounded, and fold by point arithmetic into a
      // map keyed by the state row — the delta-join grouped-state-tier
      // discipline. Refusal (oversize delta, negative-free check fails,
      // misaligned layout) falls through to the distributed fold, which
      // stays the 100 TB path.
      val stateLocalRows: Option[Array[Row]] =
        if (windowInputOversize || !CarriedOverlay.valueHashable(windowInputState.get.schema) ||
            windowInputState.get.columns.lastOption
              .forall(_ != MaterializedView.CntCol)) None
        else windowInputState.get.queryExecution.logical match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            Some(windowInputState.get.collect()) // LocalTableScan: no job
          case _ => None
        }
      def localFold(stateRows: Array[Row]): Option[DataFrame] = {
        import org.apache.spark.sql.functions.lit
        // raw signed delta rows through coalesce(1): the prefix is linear
        // (project/filter — no exchange), so this is ONE job, one task,
        // zero shuffle; a distributed groupBy here would pay a delta-sized
        // exchange plus take()'s multi-round job scaling every epoch.
        // Grouping happens driver-side, in the fold map itself.
        // select by NAME pins the retargeted cut's column order to the
        // state layout before positional key extraction below
        val signed = rawTerms.map { case (df, s) =>
          df.select(stateCols.map(col): _*).withColumn("__gw_sign", lit(s))
        }.reduce(_ unionByName _)
        val deltaRows = signed.coalesce(1).limit(cascadeLocalMax + 1).collect()
        if (deltaRows.length > cascadeLocalMax) return None // backfill-class epoch
        val n = stateCols.length
        val m = new scala.collection.mutable.LinkedHashMap[Row, Long]()
        stateRows.foreach(r =>
          m.update(Row.fromSeq((0 until n).map(r.get)), r.getLong(n)))
        deltaRows.foreach { r =>
          val k = Row.fromSeq((0 until n).map(r.get))
          val c = m.getOrElse(k, 0L) + r.getLong(n)
          // c <= 0 drops the key — exactly the distributed fold's
          // `filter(cnt > 0)` (a net-negative key cannot survive there)
          if (c <= 0L) m.remove(k) else m.update(k, c)
        }
        val rows = m.iterator.map { case (k, c) =>
          Row.fromSeq(k.toSeq :+ c) }.toIndexedSeq
        val df = localDf(rows, windowInputState.get.schema)
        if (rows.length > cascadeLocalMax) {
          windowInputOversize = true // outgrown: hand off distributed for good
          Some(df.localCheckpoint(true))
        } else Some(df)
      }
      val folded = timed("input-fold")(
        stateLocalRows.flatMap(localFold).getOrElse {
          val foldedPlan = termFrames.foldLeft(windowInputState.get)(_ unionByName _)
            .groupBy(stateCols.map(col): _*)
            .agg(sum(col(MaterializedView.CntCol)).as(MaterializedView.CntCol))
            .filter(col(MaterializedView.CntCol) > 0)
          if (windowInputOversize) foldedPlan.localCheckpoint(true)
          else {
            val f = boundedLocal(foldedPlan)
            if (!f.queryExecution.logical
                .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
              windowInputOversize = true
            f
          }
        })
      // suffix re-eval over the carried multiset ⊕ delta — the source
      // relation is absent from this plan (no base re-scan).
      // Single-partition suffix (round 15, verdict #1): when the folded
      // input state is a LocalRelation, coalesce(1) pins the physical
      // partitioning to SinglePartition, which satisfies every
      // non-broadcast required distribution — the global
      // window/sort/aggregate suffix then plans with ZERO exchanges (one
      // collect job, one task, no shuffle) instead of re-shuffling the
      // carried state every epoch. An oversize state keeps the
      // distributed suffix: at 100 TB the exchanges ARE the right plan —
      // a single task would serialize output-sized work.
      val analyzed = spark.sql(cascadeStmt).queryExecution.analyzed
      val (cut, _) = globalWindowCut(analyzed, boundary).getOrElse(
        throw new IllegalStateException("global-window cut missing at epoch"))
      val foldedIsLocal = folded.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      // the output state is OUTPUT-sized: once found past the bound it
      // carries flat in [[windowOverlay]]'s base and is not probed again
      val prevG = cascadeInner.get
      val suffixInput =
        if (foldedIsLocal && !windowOverlay.overBound(prevG)) expandCounts(folded).coalesce(1)
        else expandCounts(folded)
      val newG = timed("suffix-eval")(mergedState(windowOverlay, prevG,
        groupedCounts(evalGlobalSuffix(analyzed, cut, suffixInput))))
      // ops diff: when both grouped states are driver-resident
      // (boundedLocal's LocalRelations — LocalTableScan collect launches
      // no job), the diff runs driver-side like the top-N/window local
      // tiers, and the LocalRelation ops frame takes the changelog's
      // zero-job append fast path; the distributed grouped diff is the
      // over-bound fallback (profiled 0.64 s/epoch of pure job overhead
      // at bench scale for a ~10k-row state)
      def localGrouped(df: DataFrame): Option[(Seq[Row], Int)] =
        if (df.queryExecution.logical
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
          Some((df.collect().toIndexedSeq, df.columns.indexOf(MaterializedView.CntCol)))
        else None
      def expandLocal(rows: Seq[Row], ci: Int): Option[Seq[Row]] = {
        val out = Seq.newBuilder[Row]
        rows.foreach { r =>
          val c = r.getLong(ci)
          if (c < 0 || c > 1000000) return None // corrupt/degenerate: fall back
          val base = Row.fromSeq(r.toSeq.patch(ci, Nil, 1))
          var i = 0L; while (i < c) { out += base; i += 1 }
        }
        Some(out.result())
      }
      val outSchema0 = org.apache.spark.sql.types.StructType(
        newG.schema.fields.filterNot(_.name == MaterializedView.CntCol))
      val epochOps = timed("diff-collect")(
        (for {
          (pRows, pci) <- localGrouped(cascadeInner.get)
          (nRows, nci) <- localGrouped(newG)
          pExp <- expandLocal(pRows, pci)
          nExp <- expandLocal(nRows, nci)
          ops <- Changelog.localMultisetDiff(Some(pExp), nExp, outSchema0)
        } yield localDf(ops.toIndexedSeq,
          outSchema0.add("op", org.apache.spark.sql.types.StringType)))
        .getOrElse(boundedLocal(
          Changelog.multisetDiffGrouped(cascadeInner.get, newG, MaterializedView.CntCol))))
      emitOps(epochOps)
      emitted = true
      windowInputState = Some(folded)
      cascadeInner = Some(newG)
      val vis = expandCounts(newG)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      settled = true
    } catch { case scala.util.control.NonFatal(t) =>
      // full-recompute repair — correct under any surgery/rebinding
      // failure; the warning keeps a persistent demotion observable
      MaterializedView.log.warn(
        s"global-window epoch for $viewName fell back to full recompute: $t")
      statementEvals += 1
      val grouped = groupedCounts(spark.sql(cascadeStmt)).localCheckpoint(true)
      val vis = expandCounts(grouped)
      if (!emitted) {
        val prevVis = expandCounts(cascadeInner.get)
        emitOps(Changelog.multisetDiff(Some(prevVis), vis))
        emitted = true
      }
      cascadeInner = Some(grouped)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      // the input state must track the repaired output — rebuild it from
      // the prefix (repair-only second scan); a failure here leaves None,
      // which the NEXT epoch's fold turns into another observable repair.
      // Throwable, not NonFatal: an InterruptedException escaping HERE —
      // after the repair's ops committed — would leave a stale input
      // state with no repair marker; None is that marker, and the
      // interrupt flag is re-asserted for the owner to see.
      windowInputState =
        try globalWindowCut(spark.sql(cascadeStmt).queryExecution.analyzed, boundary)
          .map { case (c, _) =>
            groupedCounts(GraftColumnBridge.ofRows(spark, c)).localCheckpoint(true) }
        catch { case t2: Throwable =>
          if (t2.isInstanceOf[InterruptedException])
            Thread.currentThread().interrupt()
          None
        }
      settled = true
    } finally {
      // pre-commit non-NonFatal escape: restore the consumed offsets so
      // the next epoch re-folds this delta (round-12 ADVICE); post-commit
      // the body's state installs precede any further fallible work
      if (!settled && !emitted) restoreOffsets(prevOffsets)
      tempViews.foreach(spark.catalog.dropTempView(_))
    }
  }
}
