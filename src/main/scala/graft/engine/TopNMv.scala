package graft.engine

import graft.streaming.Changelog
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}

/** Incremental top-N maintenance (RisingWave's TopN operator analogues),
  * extracted from [[MaterializedView]] (round 13, verdict #7) — pure code
  * motion like [[WindowCascadeSupport]]; `ownerEngine` is the one renamed
  * reference. Owns the raw streaming top-N ([[tryStartTopN]] with the
  * driver-local ranked-prefix tail), the grouped/cascade top-N
  * ([[tryStartTopNCascade]] / [[topNCascadeEpoch]] — inner rollup folds
  * ride [[DeltaAgg]]), and the shared state truncation/publication
  * helpers. */
private[engine] trait TopNMvSupport { self: MaterializedView =>

  // incremental top-N state (RisingWave's TopN / GroupTopN operator shape):
  // the inner (pre-ORDER/LIMIT) statement streams; the visible snapshot is
  // its re-truncation per epoch. Raw top-N carries ≤ n rows of inner state;
  // grouped (aggregate-inner) top-N carries top-(n + cache margin) keys
  // plus a one-row re-fetch bound — see [[handleTopNDelta]].
  private[engine] var topNMode = false
  @volatile private[engine] var innerState: Option[DataFrame] = None
  private[engine] var topNOrderText = ""
  private[engine] var topNLimit = 0
  private[engine] var topNInnerStmt = ""
  /** Cache margin C of grouped top-N state (top-(n+C) keys carried; the
    * same role as RisingWave GroupTopN's cache headroom): large enough
    * that ordinary churn re-ranks inside the carried state, small enough
    * that state stays O(n) — NOT O(distinct keys) — at any corpus size. */
  // private[graft]: specs shrink the margin to force eviction/underflow
  // interleavings that would need huge fixtures at the default n+max(2n,16)
  private[graft] var topNCacheMargin = 0
  /** Most competitive sort position ever evicted from the grouped top-N
    * state (frozen at eviction): if it would rank inside the visible top
    * n, an evicted key may belong there and the state must re-fetch. */
  private[engine] var topNBound: Option[Row] = None
  private[engine] def topNSrcView = s"__topn_src_$viewName"

  /** Attempt incremental top-N maintenance. The inner statement must admit
    * a streaming plan (stateless → append mode, or a Keyed aggregate →
    * update mode), and the ORDER BY/LIMIT tail must analyze against the
    * inner schema (it may reference ordinals or output columns; an ORDER BY
    * over columns the projection dropped cannot re-truncate and falls back
    * to batch re-run). Returns false — with reader streams released — on
    * any ineligibility. */
  private[engine] def tryStartTopN(innerStmt: String, orderText: String, n: Int): Boolean = {
    try {
      // durable reopen: a valid snapshot's recorded per-table positions gate
      // the face backfill (resolved BEFORE binding — the MemoryStream seeds
      // at attach), so restore is O(state) with zero source replay. The
      // snapshot PARTS are loaded before anything binds: a partially
      // written snapshot dir (data but no inner, unreadable parquet) must
      // fall back to replay recovery — gating the faces first and failing
      // the read after would silently skip the gated rows.
      val restored = streamRestoreSeqs("topn").flatMap { seqs =>
        ownerEngine.mvSnapshotDirFor(viewName).flatMap { d =>
          try {
            if (!new java.io.File(s"$d/inner").isDirectory ||
                !new java.io.File(s"$d/data").isDirectory) None
            else {
              val inner = spark.read.parquet(s"$d/inner").localCheckpoint(true)
              val bound =
                if (new java.io.File(s"$d/bound").isDirectory)
                  spark.read.parquet(s"$d/bound").collect().headOption
                else None
              val snap = spark.read.parquet(s"$d/data").localCheckpoint(true)
              Some((seqs, inner, bound, snap))
            }
          } catch { case _: Throwable => None }
        }
      }
      val sdf = ownerEngine.withStreamingViews(mvWatermarks, innerStmt, viewName,
        restored.map(_._1).getOrElse(Map.empty))(
        spark.sql(ownerEngine.rewrite(innerStmt)))
      val analyzed = sdf.queryExecution.analyzed
      val isAgg = analyzed.collectFirst { case _: Aggregate => true }.nonEmpty
      val innerMode = if (isAgg) deriveMode(sdf) else MaterializedView.Multiset
      val eligible = sdf.isStreaming && streamingSafe(analyzed) &&
        (!isAgg || innerMode.isInstanceOf[MaterializedView.Keyed])
      if (!eligible) { ownerEngine.releaseStreamReaders(viewName); return false }
      // pre-validate the truncation statement against the (empty) inner
      // schema — a failure here must fall back, not strand a started stream
      spark.createDataFrame(java.util.List.of[Row](), sdf.schema)
        .createOrReplaceTempView(topNSrcView)
      spark.sql(s"SELECT * FROM $topNSrcView ORDER BY $orderText LIMIT $n").schema

      isAggMode = isAgg
      keyMode = MaterializedView.Multiset // visible snapshot diffs as a multiset
      keyCols = innerMode match {
        case MaterializedView.Keyed(ks) => ks
        case _ => sdf.columns.toSeq
      }
      topNOrderText = orderText
      topNLimit = n
      topNInnerStmt = innerStmt
      topNCacheMargin = math.max(2 * n, 16)
      topNBound = None
      topNVisibleRows = None
      restored.foreach { case (_, inner, bound, snap) =>
        innerState = Some(inner)
        inner.createOrReplaceTempView(topNSrcView)
        topNBound = bound
        snapshot = Some(snap)
        snap.createOrReplaceTempView(viewName)
      }
      if (snapshot.isEmpty) df.createOrReplaceTempView(viewName)
      query = Some(startMaintainer(
        sdf.writeStream
          .outputMode(if (isAgg) "update" else "append")
          .foreachBatch((batch: Dataset[Row], _: Long) =>
            handleTopNDelta(batch.toDF(), isAgg))
          .queryName(s"${viewName}_maintainer")
          .start()))
      streamingMode = true
      topNMode = true
      if (recovering) query.foreach(_.processAllAvailable())
      true
    } catch { case _: Throwable =>
      ownerEngine.releaseStreamReaders(viewName)
      // the validation view may already be registered when the truncation
      // statement fails to analyze — don't leak it into the shared catalog
      spark.catalog.dropTempView(topNSrcView)
      false
    }
  }

  /** Grouped (aggregate-inner) top-N as a changelog cascade (round 9,
    * RisingWave's GroupTopN shape over its state-table re-fetch). Instead
    * of holding the inner aggregate in Spark's streaming state store —
    * which cannot be restored across an engine reopen, forcing replay
    * recovery — the maintainer derives the inner's per-epoch delta the way
    * [[cascadeRefresh]] does: consume the sources' 4-op changelogs, derive
    * the touched inner keys, recompute exactly those groups against the
    * sources' current snapshots (semi-join pushdown keeps the cost
    * delta-proportional), and feed the result to the same
    * truncate/bound/re-fetch machinery ([[truncateGrouped]]). ALL
    * maintainer state is now carried (n+C rows + bound row + consumed
    * offsets), so durable snapshots restore grouped top-N with zero
    * statement evals and zero source replay — and retraction-emitting
    * sources (PK/upsert tables, DML-mutated tables, aggregate upstream
    * MVs) become admissible: a recomputed touched group that vanished
    * simply leaves the merge. Inner statements with a top-level HAVING
    * keep the streaming path (the fold/ranking interplay is not carried
    * here); sources with no changelog (raw streams) fall back too.
    *
    * RAW (stateless-inner) top-N over ONE PK/upsert or DML-mutated table
    * (round 9): the inner maps the delta payloads row-wise through a
    * retargeted evaluation; inserts fold into the O(n) carried truncation
    * and a retraction that touches a carried row forces ONE re-fetch (a
    * displaced replacement is outside the carried state by definition —
    * RisingWave TopN's state-table re-fetch, with the source table in that
    * role). Append-only sources keep the cheaper streaming path (no
    * changelog double-write); multi-live-relation raw inners fall back
    * (same-epoch join retractions are not derivable row-wise). */
  private[engine] def tryStartTopNCascade(innerStmt: String, orderText: String, n: Int): Boolean = {
    val tbls = ownerEngine.referencedLiveTables(innerStmt)
    val ups = ownerEngine.referencedMvs(innerStmt, excluding = (schemaName, name))
    if (ups.isEmpty && tbls.isEmpty) return false
    val preOffset = changeLog.latestOffset
    try {
      val rewritten = ownerEngine.rewrite(innerStmt)
      if (Dialect.foldHaving(rewritten, MaterializedView.HavingCol).nonEmpty)
        return false
      val df = spark.sql(rewritten)
      val analyzed = df.queryExecution.analyzed
      val isAgg = analyzed.collectFirst { case _: Aggregate => true }.nonEmpty
      if (!streamingSafe(analyzed)) return false
      // a window FUNCTION in the inner breaks both top-N cascade arms
      // (round-10 hazard fix): the raw fold maps delta payloads row-wise —
      // which would compute ranks over the DELTA alone — and the grouped
      // arm's touched-key derivation misses groups a window shifts without
      // naming. Window inners fall back to batch re-run.
      val winBoundary = (tbls.map(_.viewName) ++ ups.map(_.viewName))
        .map(_.toLowerCase).toSet
      if (windowsAbove(analyzed, winBoundary).nonEmpty) return false
      // raw inner: only worthwhile (and only row-wise derivable) for a
      // single retraction-emitting live table
      if (!isAgg &&
          !(ups.isEmpty && tbls.size == 1 &&
            (tbls.head.primaryKey.nonEmpty || tbls.head.mutated)))
        return false
      val ks =
        if (!isAgg) df.columns.toSeq
        else deriveMode(df) match {
          case MaterializedView.Keyed(ks) => ks
          case _ => return false
        }
      // pre-validate the truncation tail against the (empty) inner schema
      spark.createDataFrame(java.util.List.of[Row](), df.schema)
        .createOrReplaceTempView(topNSrcView)
      spark.sql(s"SELECT * FROM $topNSrcView ORDER BY $orderText LIMIT $n").schema

      isAggMode = isAgg
      keyMode = MaterializedView.Multiset // visible snapshot diffs as a multiset
      keyCols = ks
      topNOrderText = orderText
      topNLimit = n
      topNInnerStmt = innerStmt
      topNCacheMargin = math.max(2 * n, 16)
      topNBound = None
      topNVisibleRows = None
      cascadeStmt = rewritten
      cascadeHasHaving = false
      cascadeUpstreams =
        ups.map(u => MaterializedView.CascadeSrc(u.viewName, u.changeLog, () => u.df)) ++
          tbls.map(t => MaterializedView.CascadeSrc(t.viewName, t.enableChangelog(), () => t.batchDF))
      cascadeMode = true
      topNMode = true
      // the inner aggregate folds deltas algebraically when admitted
      // (RisingWave's HashAgg-feeding-GroupTopN structure): the aux state
      // replaces the SOURCE TABLE as the recompute/re-fetch state table —
      // no raw scan per epoch or underflow
      deltaAggSpec = if (isAgg) admitDeltaAgg(df, ups, tbls) else None
      // linear sources first (same discipline as the delta-join cascade):
      // the difference pairs bind every linear source identically in both
      // evaluations, which holds when linear sources precede nonlinear
      if (deltaAggSpec.nonEmpty)
        cascadeUpstreams = cascadeUpstreams.sortBy(u =>
          aggOuterNonLinear.contains(u.viewName.toLowerCase) ||
            aggSubqNonLinear.contains(u.viewName.toLowerCase))
      // durable reopen: restored truncation state + bound + consumed source
      // offsets resume maintenance with zero statement evals and zero
      // replay. Parts load before anything commits; a partial/unreadable
      // snapshot (or a source log reset below a recorded offset) falls back
      // to the initial-epoch backfill.
      val restored = validSnapshotMeta("topncascade").flatMap { case (d, offsets, _) =>
        try {
          if (!new java.io.File(s"$d/inner").isDirectory ||
              !new java.io.File(s"$d/data").isDirectory ||
              !cascadeUpstreams.forall(u =>
                offsets.get(u.viewName).exists(_ <= u.log.latestOffset)))
            None
          else {
            val inner = spark.read.parquet(s"$d/inner").localCheckpoint(true)
            val bound =
              if (new java.io.File(s"$d/bound").isDirectory)
                spark.read.parquet(s"$d/bound").collect().headOption
              else None
            val snap = spark.read.parquet(s"$d/data").localCheckpoint(true)
            val aux =
              if (new java.io.File(s"$d/aux").isDirectory)
                Some(spark.read.parquet(s"$d/aux").localCheckpoint(true))
              else None
            Some((offsets, inner, bound, snap, aux))
          }
        } catch { case _: Throwable => None }
      }
      restored match {
        case Some((offsets, inner, bound, snap, aux)) =>
          offsets.foreach { case (v, o) => cascadeOffsets(v) = o }
          innerState = Some(inner)
          topNBound = bound
          auxState = aux
          // a snapshot persisted by a recompute-mode incarnation has no
          // aux — folding cannot resume from it
          if (aux.isEmpty) deltaAggSpec = None
          snapshot = Some(snap)
          snap.createOrReplaceTempView(viewName)
        case None => topNCascadeEpoch() // initial backfill
      }
      true
    } catch { case _: Throwable =>
      cascadeMode = false
      topNMode = false
      cascadeUpstreams = Nil
      innerState = None
      topNBound = None
      topNVisibleRows = None
      deltaAggSpec = None
      auxState = None
      spark.catalog.dropTempView(topNSrcView)
      // same half-backfill discipline as tryStartCascade: if no ops were
      // emitted the fallback runs its own backfill from scratch
      if (changeLog.latestOffset == preOffset) snapshot = None
      false
    }
  }

  /** One grouped-top-N cascade epoch: consume the source changelogs,
    * derive the touched inner keys, recompute exactly those groups, then
    * run the standard truncate → visible-eval → multiset-diff sequence of
    * [[handleTopNDelta]]. The first epoch (no snapshot yet) evaluates the
    * inner once and seeds the n+C state and eviction bound from the full
    * ranking. */
  private[engine] def topNCascadeEpoch(): Unit = synchronized {
    import org.apache.spark.sql.functions.col
    if (cascadeUpstreams.isEmpty) return
    val latests = cascadeUpstreams.map(u => u -> u.log.latestOffset)
    val anyNew = latests.exists { case (u, l) =>
      l > cascadeOffsets.getOrElse(u.viewName, 0L) }
    if (!anyNew && snapshot.nonEmpty) return

    if (snapshot.isEmpty) {
      latests.foreach { case (u, l) => cascadeOffsets(u.viewName) = l }
      statementEvals += 1
      val full = deltaAggSpec match {
        case Some(spec) if isAggMode =>
          // ONE source pass builds the aux state; the ranked seed derives
          val auxFull = try
            DeltaAgg.aux(spark, spec, spark.sql(cascadeStmt).queryExecution.analyzed)
              .localCheckpoint(true)
          catch { case t: Throwable => deltaAggSpec = None; throw t }
          auxState = Some(auxFull)
          DeltaAgg.visible(auxFull, spec)
        case _ => spark.sql(cascadeStmt).localCheckpoint(true)
      }
      val stateRows =
        if (isAggMode) {
          val (k, rows, evictedBest) = rankedPrefix(full)
          topNBound = evictedBest
          innerState = Some(k)
          rows.toIndexedSeq
        } else { // raw: state == visible n
          val rows = topNEval(full).collect().toIndexedSeq
          innerState = Some(localDf(rows, full.schema))
          rows
        }
      publishTopNVisible(stateRows, innerState.get.schema)
    } else {
      val parts = latests.map { case (u, l) =>
        val after = cascadeOffsets.getOrElse(u.viewName, 0L)
        val p = if (l > after) Some(u.log.dfAfter(after).drop("rw_timestamp"))
          else None
        cascadeOffsets(u.viewName) = l
        (u, p)
      }
      val changed = parts.collect { case (u, Some(p)) => (u, p) }
      if (changed.isEmpty) return
      if (!isAggMode) { rawTopNFold(changed.head._1, changed.head._2); return }
      // algebraic fold: the aux state answers the touched groups' new
      // values — the source tables are never re-scanned
      val folded =
        if (deltaAggSpec.nonEmpty && auxState.nonEmpty) foldAux(changed)
        else None
      val touched = folded.map(_._2).getOrElse(
        cascadeTouchedKeys(changed.map { case (u, p) => (u, p.drop("op")) }))
      if (folded.isEmpty &&
          timed("touched-empty-check")(touched.rdd.isEmpty())) return
      val newTouched = folded match {
        case Some((newAux, t)) =>
          auxState = Some(newAux)
          // restrict BELOW the visible finish (round 15): the semi join
          // keys on the outer keys, which are state-key columns, so the
          // restriction is sound under the re-aggregation (deltaAggEpoch's
          // own two-level discipline) — the old spelling evaluated the
          // visible over the FULL aux state per epoch just to semi-join it
          // down to the touched groups afterwards. pinLocal1 then plans
          // the finish exchange-free over the driver-tier state.
          DeltaAgg.visible(
            pinLocal1(keyJoin(newAux, t, "left_semi")), deltaAggSpec.get)
        case None =>
          statementEvals += 1
          keyJoin(spark.sql(cascadeStmt), touched, "left_semi")
      }
      // the recompute plan is NOT materialized here (round 16): `merged`
      // is evaluated exactly once — by truncateGrouped's single ranked
      // sort-limit — so collecting the recomputed groups first
      // (boundedLocal) spent one whole Spark job per epoch just to hand
      // the truncate a LocalRelation it didn't need; the kept state is
      // rebuilt driver-side from the ranked prefix either way, so the
      // carried innerState stays a LocalRelation for the next epoch.
      // drop ALL touched keys before unioning the recomputed rows: a
      // touched group with no recomputed row (all its inputs retracted)
      // must leave the carried state — update-mode streaming could never
      // name such a group, but cascade retractions can
      val merged = keyJoin(innerState.get, touched, "left_anti").union(newTouched)
      val (kept, stateRows) = timed("truncate")(truncateGrouped(merged, touched))
      innerState = Some(kept)
      timed("visible-publish")(publishTopNVisible(stateRows, kept.schema))
    }
  }

  /** One raw-top-N cascade epoch over the single source table's 4-op
    * delta: map the insert and retraction payloads row-wise through the
    * inner statement (retargeted at private delta views — a filter inside
    * the inner drops non-qualifying payload rows on both sides), then
    *  - if any retraction touches the carried top-n state, re-fetch from a
    *    full evaluation (the replacement row is outside the carried state
    *    by definition — same argument as the grouped bound re-fetch);
    *  - otherwise fold the mapped inserts in and re-truncate to n: a row
    *    outside the carried top-n can only re-enter through a retraction,
    *    which the re-fetch arm covers, so O(n) state stays sound even
    *    under upserts. */
  private[engine] def rawTopNFold(src: MaterializedView.CascadeSrc, opsDf: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val dv = epochView("cascade_delta", src.viewName)
    def mapThrough(p: DataFrame): DataFrame = {
      p.createOrReplaceTempView(dv)
      try spark.sql(retarget(cascadeStmt, src.viewName, dv)).localCheckpoint(true)
      finally spark.catalog.dropTempView(dv)
    }
    val adds0 = mapThrough(opsDf.filter(col("op").isin(
      Changelog.OpInsert, Changelog.OpUpdateInsert)).drop("op"))
    val dels0 = mapThrough(opsDf.filter(col("op").isin(
      Changelog.OpDelete, Changelog.OpUpdateDelete)).drop("op"))
    // net the window per distinct mapped row: a row inserted AND deleted
    // within the consumed window is in neither the carried state nor the
    // source — the un-netted adds side would fold it in as a phantom (and
    // the un-netted dels side would force a spurious re-fetch)
    val adds = adds0.exceptAll(dels0).localCheckpoint(true)
    val dels = dels0.exceptAll(adds0).localCheckpoint(true)
    val state = innerState.get
    // null-safe whole-row match against the (broadcast — O(n)) state
    val cols = state.columns.toSeq
    val sr = state.toDF(cols.map(c => s"__s_$c"): _*)
    val touchesState = !dels.join(org.apache.spark.sql.functions.broadcast(sr),
      cols.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _), "left_semi")
      .rdd.isEmpty()
    val stateRows = timed("truncate")(
      (if (touchesState) {
        statementEvals += 1
        topNEval(spark.sql(cascadeStmt))
      } else topNEval(state.unionByName(adds))).collect().toIndexedSeq)
    innerState = Some(localDf(stateRows, state.schema))
    publishTopNVisible(stateRows, state.schema)
  }


  /** Carried grouped-top-N state rows — boundedness probe for specs. */
  private[graft] def topNStateCount: Long = synchronized {
    innerState.map(_.count()).getOrElse(0L)
  }


  /** Re-truncate a state DataFrame with the statement's own ORDER BY/LIMIT
    * tail (SQL evaluation, so ordinals and expression sorts behave exactly
    * as the batch statement would). `limit` overrides the statement's n
    * for the grouped path's top-(n+C) state truncation. */
  private[engine] def topNEval(state: DataFrame, limit: Int = -1): DataFrame = {
    val lim = if (limit < 0) topNLimit else limit
    state.createOrReplaceTempView(topNSrcView)
    spark.sql(s"SELECT * FROM $topNSrcView ORDER BY $topNOrderText LIMIT $lim")
  }

  /** Top-N micro-batch: merge the inner delta into the inner state, then
    * re-truncate to the visible snapshot and diff it as a multiset (rows
    * can leave the top-N when displaced — Deletes the plain streaming modes
    * never emit).
    *
    * Raw (stateless-inner) top-N truncates the carried state itself: a row
    * outside the current top n can never re-enter later (scores only get
    * more competitive as rows append), so O(n) state suffices — the same
    * argument RisingWave's TopN operator uses.
    *
    * Grouped (aggregate-inner) top-N keeps top-(n + C) keys (C =
    * [[topNCacheMargin]]) instead of every key — at corpus scale full
    * per-key state would equal the raw aggregate's footprint. Correctness
    * of the truncation: an evicted key's aggregate only changes when a
    * delta names it (update mode), so its sort position is FROZEN at
    * eviction; the most competitive frozen position is carried as
    * [[topNBound]], and if it would rank inside the visible top n — i.e.
    * the carried keys have worsened past a key we dropped — the state
    * re-fetches from a batch evaluation of the inner statement
    * (RisingWave GroupTopN's re-fetch-on-underflow, with the source table
    * in the role of its state table). Purely-growing aggregates (counts,
    * positive sums) never worsen, so they never re-fetch. */
  private[engine] def handleTopNDelta(delta: DataFrame, isAgg: Boolean): Unit = synchronized {
    val clone = delta.localCheckpoint(true)
    val d = spark.createDataFrame(clone.rdd, clone.schema)
    if (clone.rdd.isEmpty()) return
    val merged = mergeDelta(innerState, d, keyed = isAgg)
    val (kept, stateRows) = timed("truncate")(
      if (isAgg) truncateGrouped(merged,
        d.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct())
      else {
        val rows = topNEval(merged).collect().toIndexedSeq
        (localDf(rows, merged.schema), rows)
      })
    innerState = Some(kept)
    timed("visible-publish")(publishTopNVisible(stateRows, kept.schema))
  }

  /** ONE ranked evaluation of a grouped-top-N state frame: the first n+C
    * rows (the kept state, rebuilt driver-side — bounded by the cache
    * margin, never by key count) and row n+C+1, which IS the most
    * competitive row evicted by this truncation (every other evicted row
    * ranks below it). Replaces the old kept-eval + evicted-anti-join +
    * bound-eval sequence — three Spark jobs — with one sort-limit job. */
  private[engine] def rankedPrefix(df: DataFrame): (DataFrame, Array[Row], Option[Row]) = {
    val lim = topNLimit + topNCacheMargin
    val rows = topNEval(df, lim + 1).collect()
    val keptRows = rows.take(lim)
    // a LocalRelation IS materialized — checkpointing ≤ n+C driver rows
    // would spend a Spark job to copy them back to the cluster
    val kept = spark.createDataFrame(
      java.util.Arrays.asList(keptRows.toIndexedSeq: _*), df.schema)
    (kept, keptRows, rows.drop(lim).headOption)
  }

  /** Truncate merged grouped-top-N state to top-(n+C), fold newly evicted
    * rows into the bound, and re-fetch on underflow (bound ranks inside
    * the visible top n). Small frames throughout: n+C state rows + the
    * delta — the only full evaluation is the (rare) re-fetch.
    * `namedKeys` are the keys THIS epoch's delta named (touched keys in
    * cascade mode): a bound whose key they name is stale even when the
    * key's group vanished from `merged` entirely (cascade retractions). */
  private[engine] def truncateGrouped(merged: DataFrame,
      namedKeys: DataFrame): (DataFrame, IndexedSeq[Row]) = {
    import org.apache.spark.sql.functions.{col, lit}
    val lim = topNLimit + topNCacheMargin
    // a carried bound whose key re-entered the carried state (named by this
    // delta) is STALE — but it was also the ONLY upper bound carried for
    // ALL previously evicted keys, so it cannot simply be dropped: a
    // weaker bound rebuilt from this epoch's evictions alone would let a
    // later underflow go undetected and the visible top-N silently diverge
    // from the batch result. Re-establish the exact bound from a full
    // evaluation instead: one re-fetch now, a fresh tight bound afterwards
    // (strictly better than the stale row's repeated spurious re-fetches).
    // The probe is a literal filter on the named-key frame — no join plan,
    // no broadcast exchange, one limit-1 job.
    val boundKeyReentered = topNBound.exists { b =>
      val conds = keyCols.map { c =>
        val v = b.get(merged.schema.fieldIndex(c))
        if (v == null) col(c).isNull else col(c) <=> lit(v)
      }
      namedKeys.toDF(keyCols: _*).filter(conds.reduce(_ && _)).take(1).nonEmpty
    }
    // ONE ranked evaluation decides everything else: pool = the merged
    // state ∪ the carried bound row (tagged 1). In ranked order, tag-0
    // rows 1..lim are the kept state and tag-0 row lim+1 is the best row
    // THIS truncation evicts; the first candidate encountered — the tag-1
    // bound or that row lim+1, whichever ranks first — is the new bound,
    // and the count of kept rows preceding it is its visible rank (the
    // underflow test). LIMIT lim+2 suffices: at most one tag-1 row rides
    // along. The order text is SQL, so only the engine can compare under
    // it — the old sequence spent separate eval + candidate-rank jobs on
    // the same answers.
    lazy val (keptRows, underflowByRank) = {
      val tagged = merged.withColumn("__tag", lit(0))
      val pool = topNBound match {
        case Some(b) => tagged.unionByName(
          rowDf(b, merged.schema).withColumn("__tag", lit(1)))
        case None => tagged
      }
      pool.createOrReplaceTempView(topNSrcView)
      val ranked = spark.sql(
        s"SELECT * FROM $topNSrcView ORDER BY $topNOrderText LIMIT ${lim + 2}")
        .collect()
      val tagIdx = merged.schema.length
      def untag(r: Row) = Row.fromSeq(r.toSeq.dropRight(1))
      val kept = ranked.filter(_.getInt(tagIdx) == 0).take(lim).map(untag)
      var tag0Seen = 0
      var cand: Option[Row] = None
      val it = ranked.iterator
      while (cand.isEmpty && it.hasNext) {
        val r = it.next()
        if (r.getInt(tagIdx) == 1 || tag0Seen == lim) cand = Some(untag(r))
        else tag0Seen += 1
      }
      val uf = cand match {
        case None => false // no bound carried and nothing evicted
        case Some(b) =>
          topNBound = Some(b)
          tag0Seen + 1 <= topNLimit
      }
      (kept.toIndexedSeq, uf)
    }
    val underflow = boundKeyReentered || underflowByRank
    if (!underflow) (localDf(keptRows, merged.schema), keptRows)
    else {
      // re-fetch: the delta-accumulating inner answers from its aux state
      // (zero statement evals, no source scan); otherwise evaluate the
      // inner statement against the source
      val full = (deltaAggSpec, auxState) match {
        case (Some(spec), Some(aux)) => DeltaAgg.visible(aux, spec)
        case _ =>
          statementEvals += 1
          spark.sql(ownerEngine.rewrite(topNInnerStmt)).localCheckpoint(true)
      }
      // row n+C+1 of the FULL evaluation is the best row evicted overall —
      // the exact fresh bound
      val (keptF, rowsF, evictedBestF) = rankedPrefix(full)
      topNBound = evictedBestF
      (keptF, rowsF.toIndexedSeq)
    }
  }


  /** The visible top-N rows of the previous epoch, in statement order —
    * kept driver-resident so [[publishTopNVisible]] can diff epochs
    * without a Spark job. None exactly when `snapshot` was produced
    * elsewhere (durable restore; mode fallback), which forces one
    * distributed diff before the local tail takes over. */
  private[engine] var topNVisibleRows: Option[IndexedSeq[Row]] = None

  /** Zero-job visible-snapshot publication for the top-N modes: the
    * ranked state rows are already in statement order, so the visible set
    * is their first n (no re-evaluation), the snapshot binds as a
    * LocalRelation (no checkpoint job), and the epoch's changelog delta
    * is the driver-side multiset diff ([[Changelog.localMultisetDiff]]).
    * The only cluster work left in the tail is the changelog append
    * itself. Scale note: everything here is ≤ n+C rows BY DEFINITION —
    * driver residency is the honest cost model for a top-N result, while
    * the per-epoch heavy lifting (group recompute, re-fetch) stays
    * distributed. */
  private[engine] def publishTopNVisible(stateRows: IndexedSeq[Row],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val visRows = stateRows.take(topNLimit)
    val nextVisible = localDf(visRows, schema)
    val localOps =
      if (snapshot.nonEmpty && topNVisibleRows.isEmpty) None
      else Changelog.localMultisetDiff(
        if (snapshot.isEmpty) None else topNVisibleRows.map(_.toSeq),
        visRows, schema)
    localOps match {
      case Some(ops) =>
        if (ops.nonEmpty) emitOps(localDf(ops.toIndexedSeq,
          schema.add("op", org.apache.spark.sql.types.StringType)))
      case None => emitOps(Changelog.multisetDiff(snapshot, nextVisible))
    }
    snapshot = Some(nextVisible)
    topNVisibleRows = Some(visRows)
    nextVisible.createOrReplaceTempView(viewName)
  }

}
