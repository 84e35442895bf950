package graft.engine

import graft.streaming.Changelog
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}

/** Session-window MV maintenance (session TVF statements), extracted from
  * [[MaterializedView]] (round 13, verdict #7) — pure code motion like
  * [[WindowCascadeSupport]]; `ownerEngine` is the one renamed reference.
  * Owns both the streaming session path ([[tryStartSession]]) and the
  * changelog-fold session cascade ([[tryStartSessionCascade]] /
  * [[sessionCascadeEpoch]]) with watermark-driven freezing/compaction. */
private[engine] trait SessionMvSupport { self: MaterializedView =>

  // session-window state (session TVF statements): raw source rows stream
  // in append mode into a carried state, re-sessionized per epoch — see
  // [[tryStartSession]]/[[handleSessionDelta]]. With a watermarked source,
  // sessions that can no longer change freeze out of the carried state
  // ([[compactSessions]]) — `frozen` holds their output rows.
  private[engine] var sessionMode = false
  private[engine] var sessionOuterSql = ""
  private[engine] var sessionTsCol = ""
  /** Session grouping keys (non-window GROUP BY columns, present by name
    * in the raw state): Some(keys) enables per-key compaction; None =
    * expression keys, fall back to the global coverage-chain scan. */
  private[engine] var sessionKeys: Option[Seq[String]] = None
  /** Per-key compaction cut points ((keys..., __cut ms), max-merged per
    * epoch; a single global row when keyless): rows retired from the
    * carried state AND the late-row gate — a delta row below its key's cut
    * would re-sessionize into a session that overlaps an already-frozen
    * one, so it is dropped (the reference's late-row semantics). */
  private[engine] var sessionCuts: Option[DataFrame] = None
  @volatile private[engine] var frozen: Option[DataFrame] = None
  private[engine] def sessionSrcView = s"__sess_src_$viewName"

  /** (bare ts column, delay ms) when the session-cascade's source table
    * has a declared watermark. */
  private[engine] var sessionCascadeWm: Option[(String, Long)] = None

  /** Session-window MV maintenance: stream the source's raw rows (append
    * mode — stateless, so any live table or append-only MV face binds),
    * union them into a carried state, and re-evaluate the session
    * aggregation over that state each epoch; the visible snapshot diffs as
    * a multiset (session bounds are unstable keys — a merge retracts the
    * sessions it absorbed, surfacing as Delete + Insert pairs, which is
    * exactly RisingWave's changelog for merged session windows).
    *
    * State note (W9): without a watermark ANY late row may merge two
    * existing sessions, so full raw history is the honest state bound —
    * the same always-correctable stance the engine takes for non-windowed
    * streaming aggregates. With a watermark, sessions whose end precedes
    * watermark - gap can be frozen out of the carried state (their rows
    * can never gain a neighbor); that compaction is the 100 TB knob and
    * composes with the RocksDB state store option. */
  /** Admission for the changelog-fold session path ([[sessionCascadeEpoch]]):
    * the statement's session TVF reads exactly one retraction-emitting live
    * table (PK/upsert or DML-mutated) and no upstream MVs. Append-only
    * tables keep the cheaper streaming path (no changelog double-write);
    * EMIT ON WINDOW CLOSE needs watermark compaction, which this path does
    * not carry — it falls through to the batch fallback. */
  private[engine] def tryStartSessionCascade(tsCol: String): Boolean = {
    val tbls = ownerEngine.referencedLiveTables(stmt)
    val ups = ownerEngine.referencedMvs(stmt, excluding = (schemaName, name))
    if (!(ups.isEmpty && tbls.size == 1 &&
          (tbls.head.primaryKey.nonEmpty || tbls.head.mutated))) return false
    val preOffset = changeLog.latestOffset
    try {
      val t = tbls.head
      sessionTsCol = tsCol.split('.').last
      // gap spellings Spark's session_window accepts but intervalMillis
      // rejects ('0.5 seconds', '1 week') must not abort mode admission —
      // gapUs=0 just keeps the slice tier off (sessionSliceEligible
      // requires gap > 0); the fold itself never needs the gap value
      sessionGapUs = Dialect.sessionTvf(stmt)
        .flatMap(g => scala.util.Try(Dialect.intervalMillis(g._3) * 1000L).toOption)
        .getOrElse(0L)
      sessionOuterSql = ownerEngine.rewrite(Dialect.retargetSessionTvf(stmt, sessionSrcView))
      // pre-validate the retargeted statement against the (empty) table
      // schema before committing to the mode
      spark.createDataFrame(java.util.List.of[Row](), t.schema)
        .createOrReplaceTempView(sessionSrcView)
      spark.sql(sessionOuterSql).schema
      // per-key compaction keys are derived for symmetry, but compaction
      // never fires here (no streaming query → no watermark)
      sessionKeys = {
        val rawCols = t.schema.fieldNames.toSet
        spark.sql(sessionOuterSql).queryExecution.analyzed
          .collectFirst { case a: Aggregate => a }
          .flatMap { a =>
            val cls = a.groupingExpressions.map {
              case ar: AttributeReference if rawCols.contains(ar.name) =>
                Some(Some(ar.name))
              case e if e.toString.toLowerCase.replace("_", "")
                .contains("sessionwindow") => Some(None)
              case _ => None
            }
            if (cls.forall(_.nonEmpty)) Some(cls.flatten.flatten) else None
          }
      }
      sessionCuts = None
      frozen = None
      sessionCascadeWm = mvWatermarks.get(t.name).map { case (c, d) =>
        (c.split('.').last, Dialect.intervalMillis(d)) }
      isAggMode = true
      keyMode = MaterializedView.Multiset
      keyCols = Nil
      cascadeUpstreams = Seq(
        MaterializedView.CascadeSrc(t.viewName, t.enableChangelog(), () => t.batchDF))
      cascadeMode = true
      sessionMode = true
      // durable reopen: raw state (+ frozen sessions and cuts under a
      // declared watermark) + consumed offset restore with zero statement
      // evals and zero replay (same discipline as topncascade). The fold
      // watermark itself restarts at 0 and re-advances with new data —
      // the restored cuts keep gating late rows meanwhile.
      val restored = validSnapshotMeta("sessioncascade").flatMap { case (d, offsets, _) =>
        try {
          if (!new java.io.File(s"$d/inner").isDirectory ||
              !new java.io.File(s"$d/data").isDirectory ||
              !cascadeUpstreams.forall(u =>
                offsets.get(u.viewName).exists(_ <= u.log.latestOffset)))
            None
          else {
            val froz =
              if (new java.io.File(s"$d/frozen").isDirectory)
                Some(spark.read.parquet(s"$d/frozen").localCheckpoint(true))
              else None
            val cuts =
              if (new java.io.File(s"$d/cuts").isDirectory)
                Some(spark.read.parquet(s"$d/cuts").localCheckpoint(true))
              else None
            Some((offsets,
              spark.read.parquet(s"$d/inner").localCheckpoint(true),
              froz, cuts,
              spark.read.parquet(s"$d/data").localCheckpoint(true)))
          }
        } catch { case _: Throwable => None }
      }
      restored match {
        case Some((offsets, inner, froz, cuts, snap)) =>
          offsets.foreach { case (v, o) => cascadeOffsets(v) = o }
          innerState = Some(inner)
          inner.createOrReplaceTempView(sessionSrcView)
          frozen = froz
          sessionCuts = cuts
          snapshot = Some(snap)
          snap.createOrReplaceTempView(viewName)
        case None => sessionCascadeEpoch() // initial backfill
      }
      true
    } catch { case _: Throwable =>
      cascadeMode = false
      sessionMode = false
      cascadeUpstreams = Nil
      innerState = None
      spark.catalog.dropTempView(sessionSrcView)
      if (changeLog.latestOffset == preOffset) snapshot = None
      false
    }
  }

  private[engine] def tryStartSession(tbl: String, tsCol: String): Boolean = {
    try {
      sessionTsCol = tsCol.split('.').last // raw state carries bare columns
      // same Try guard as tryStartSessionCascade: an unparsable gap keeps
      // the slice tier off instead of demoting the whole mode
      sessionGapUs = Dialect.sessionTvf(stmt)
        .flatMap(t => scala.util.Try(Dialect.intervalMillis(t._3) * 1000L).toOption)
        .getOrElse(0L)
      val innerStmt = s"SELECT * FROM $tbl"
      // durable reopen: see tryStartTopN — snapshot parts load BEFORE the
      // faces bind, so a partial/unreadable snapshot falls back to replay
      // instead of gating the faces past rows no restored state covers
      val restored = streamRestoreSeqs("session").flatMap { seqs =>
        ownerEngine.mvSnapshotDirFor(viewName).flatMap { d =>
          try {
            if (!new java.io.File(s"$d/data").isDirectory) None
            else {
              val inner =
                if (new java.io.File(s"$d/inner").isDirectory)
                  Some(spark.read.parquet(s"$d/inner").localCheckpoint(true))
                else None
              val froz =
                if (new java.io.File(s"$d/frozen").isDirectory)
                  Some(spark.read.parquet(s"$d/frozen").localCheckpoint(true))
                else None
              val cuts =
                if (new java.io.File(s"$d/cuts").isDirectory)
                  Some(spark.read.parquet(s"$d/cuts").localCheckpoint(true))
                else None
              val snap = spark.read.parquet(s"$d/data").localCheckpoint(true)
              Some((seqs, inner, froz, cuts, snap))
            }
          } catch { case _: Throwable => None }
        }
      }
      val sdf = ownerEngine.withStreamingViews(mvWatermarks, innerStmt, viewName,
        restored.map(_._1).getOrElse(Map.empty))(
        spark.sql(ownerEngine.rewrite(innerStmt)))
      if (!sdf.isStreaming) { ownerEngine.releaseStreamReaders(viewName); return false }
      // the statement, re-aimed at the carried-state view; pre-validate
      // against the (empty) inner schema before starting anything
      sessionOuterSql = ownerEngine.rewrite(Dialect.retargetSessionTvf(stmt, sessionSrcView))
      spark.createDataFrame(java.util.List.of[Row](), sdf.schema)
        .createOrReplaceTempView(sessionSrcView)
      val outSchema = spark.sql(sessionOuterSql).schema
      // EOWC closure detection reads the session bounds from the output;
      // without them nothing would ever emit — fall back to batch re-run
      if (emitOnClose && !(outSchema.fieldNames.contains("window_start") &&
            outSchema.fieldNames.contains("window_end"))) {
        ownerEngine.releaseStreamReaders(viewName)
        spark.catalog.dropTempView(sessionSrcView)
        return false
      }
      // derive the session grouping keys for per-key compaction: every
      // non-window grouping expression must be a plain column of the raw
      // state (an expression key can't map frozen sessions back to raw
      // rows — those statements keep the global chain-scan compaction)
      sessionKeys = {
        val rawCols = sdf.columns.toSet
        spark.sql(sessionOuterSql).queryExecution.analyzed
          .collectFirst { case a: Aggregate => a }
          .flatMap { a =>
            val cls = a.groupingExpressions.map {
              case ar: AttributeReference if rawCols.contains(ar.name) =>
                Some(Some(ar.name))
              case e if e.toString.toLowerCase.replace("_", "")
                .contains("sessionwindow") => Some(None)
              case _ => None
            }
            if (cls.forall(_.nonEmpty)) Some(cls.flatten.flatten) else None
          }
      }
      sessionCuts = None
      restored.foreach { case (_, inner, froz, cuts, snap) =>
        inner.foreach { i =>
          innerState = Some(i)
          i.createOrReplaceTempView(sessionSrcView)
        }
        frozen = froz
        sessionCuts = cuts
        snapshot = Some(snap)
        snap.createOrReplaceTempView(viewName)
      }

      isAggMode = true
      keyMode = MaterializedView.Multiset
      keyCols = Nil
      if (snapshot.isEmpty) df.createOrReplaceTempView(viewName)
      query = Some(startMaintainer(
        sdf.writeStream
          .outputMode("append")
          .foreachBatch((batch: Dataset[Row], _: Long) =>
            handleSessionDelta(batch.toDF()))
          .queryName(s"${viewName}_maintainer")
          .start()))
      streamingMode = true
      sessionMode = true
      if (recovering) query.foreach(_.processAllAvailable())
      true
    } catch { case _: Throwable =>
      ownerEngine.releaseStreamReaders(viewName)
      spark.catalog.dropTempView(sessionSrcView)
      false
    }
  }

  /** Session micro-batch: append the delta to the carried raw state,
    * re-sessionize, union with the frozen sessions, diff the visible
    * snapshot as a multiset, then compact. Under EMIT ON WINDOW CLOSE the
    * visible snapshot is the frozen set ONLY (compaction runs first):
    * frozen only grows, so the multiset diff degenerates to exactly one
    * Insert per closed session — final-only emission. */
  private[engine] def handleSessionDelta(delta: DataFrame): Unit = synchronized {
    // single-collect epoch (round 16): while the affected-slice tier is
    // live — which only happens in the no-watermark/no-cuts regime, where
    // applyCuts is the identity — the epoch needs the delta ONLY as
    // driver rows, so collect it once and skip the localCheckpoint, the
    // two emptiness probes and the separate limit-collect: 4 untagged
    // jobs per epoch at the bench, 83% of the session entry's job count
    // (ShuffleProfile r16 attribution).
    if (sessionRawLocal.nonEmpty && sessionCuts.isEmpty) {
      val deltaRows = timed("delta-collect")(
        delta.limit(sessionRawLocalMax + 1).collect())
      if (deltaRows.isEmpty) return
      if (deltaRows.length <= sessionRawLocalMax &&
          sessionSliceEpoch(deltaRows.toIndexedSeq)) return
      // slice refused (oversized delta, NULL event time, unorderable
      // value): drop the tier and run THIS epoch through the distributed
      // body below — the limit may have truncated the oversized delta, so
      // the body re-materializes from the source batch.
      sessionRawLocal = None
    }
    val clone = delta.localCheckpoint(true)
    val d0 = spark.createDataFrame(clone.rdd, clone.schema)
    if (clone.rdd.isEmpty()) return
    // late-row gate: a row below its key's compaction cut would join the
    // carried state and re-sessionize into a session overlapping one
    // already frozen (Spark watermarks only drop late rows in STATEFUL
    // operators, and this maintainer streams a stateless passthrough) —
    // drop it, mirroring the reference's late-row semantics
    val d = applyCuts(d0)
    if (d.isEmpty) return
    // affected-slice tier: land the delta driver-side and run the epoch
    // restricted to the touched sessions' raw rows
    if (sessionRawLocal.nonEmpty) {
      val deltaRows = d.limit(sessionRawLocalMax + 1).collect()
      if (deltaRows.length <= sessionRawLocalMax &&
          sessionSliceEpoch(deltaRows.toIndexedSeq)) return
      // (cuts-active tier refusal) — the buffer no longer reflects the
      // post-epoch state, so drop it; the full path re-seeds when the
      // state still fits. innerState is the tier's own (pre-delta)
      // LocalRelation, so the union stays correct.
      sessionRawLocal = None
    }
    innerState = Some(innerState.map(_.union(d)).getOrElse(d).localCheckpoint(true))
    sessionRecomputeAndEmit()
  }

  /** Shared tail of a session epoch: re-sessionize the carried raw state,
    * derive the visible snapshot (frozen ∪ live sessions; frozen-only
    * under EMIT ON WINDOW CLOSE), emit the multiset diff, and compact. */
  private[engine] def sessionRecomputeAndEmit(): Unit = {
    innerState.get.createOrReplaceTempView(sessionSrcView)
    // Driver-resident epoch tail (round 9, same discipline as
    // [[publishTopNVisible]]): with no compaction state in play (no
    // watermark → frozen/cuts empty) the visible snapshot IS the
    // re-sessionized output, and while it stays under
    // [[sessionLocalDiffMax]] rows the epoch's changelog delta is the
    // driver-side multiset diff — the distributed diff spent several
    // Spark jobs (two groupBys, a full-outer join, explode, sort) on a
    // few thousand rows every epoch. Once the output outgrows the bound
    // the tail disables itself permanently (session sets only grow
    // without compaction — [[sessionLocalDisabled]] is monotone), and
    // compaction-active statements never enter. The heavy lifting — the
    // re-sessionize over the carried raw state — stays distributed.
    // only watermark-free statements qualify: with a declared watermark
    // compaction may begin at ANY epoch (frozen/cuts are empty until the
    // first session closes), and skipping compactSessions would mean
    // nothing ever freezes
    if (!emitOnClose && mvWatermarks.isEmpty && sessionCascadeWm.isEmpty &&
        frozen.isEmpty && sessionCuts.isEmpty && !sessionLocalDisabled) {
      val cdf = spark.sql(sessionOuterSql)
      val rows = timed("session-collect")(
        cdf.limit(sessionLocalDiffMax + 1).collect().toIndexedSeq)
      if (rows.length <= sessionLocalDiffMax) {
        val schema = cdf.schema
        val localOps =
          if (snapshot.nonEmpty && sessionVisibleRows.isEmpty) None
          else Changelog.localMultisetDiff(
            if (snapshot.isEmpty) None else sessionVisibleRows.map(_.toSeq),
            rows, schema)
        val nextVisible = localDf(rows, schema)
        localOps match {
          case Some(ops) =>
            if (ops.nonEmpty) timed("emitOps")(emitOps(localDf(ops.toIndexedSeq,
              schema.add("op", org.apache.spark.sql.types.StringType))))
          case None => emitOps(Changelog.multisetDiff(snapshot, nextVisible))
        }
        snapshot = Some(nextVisible)
        sessionVisibleRows = Some(rows)
        nextVisible.createOrReplaceTempView(viewName)
        // seed the affected-slice tier (round 14): raw rows driver-side,
        // so subsequent epochs re-sessionize only the touched sessions'
        // slice. Both session paths route their folds through the tier —
        // the streaming path appends, the cascade path appends AND
        // removes (its keyed changelog retractions). The raw schema must
        // be value-hashable throughout: removals and the slice scan key
        // whole raw rows.
        if ((streamingMode || cascadeMode) && !sessionSliceDisabled &&
            sessionRawLocal.isEmpty && sessionSliceEligible &&
            innerState.get.schema.fields.forall(f =>
              Changelog.localOrdering(f.dataType).nonEmpty)) {
          val raw = innerState.get.limit(sessionRawLocalMax + 1).collect()
          if (raw.length <= sessionRawLocalMax) {
            sessionRawSchema = Some(innerState.get.schema)
            sessionOutSchema = Some(schema)
            sessionRawLocal =
              Some(scala.collection.mutable.ArrayBuffer(raw.toIndexedSeq: _*))
          } else sessionSliceDisabled = true
        }
        return
      }
      sessionLocalDisabled = true
      sessionVisibleRows = None
    }
    val computed = spark.sql(sessionOuterSql).localCheckpoint(true)
    val wide = snapshot.isEmpty // first epoch = whole-history session set
    if (emitOnClose) {
      compactSessions(computed)
      val nextVisible = frozen.getOrElse(df.limit(0))
      emitOps(Changelog.multisetDiff(snapshot, nextVisible, wide), wide)
      snapshot = Some(nextVisible)
    } else {
      val nextVisible = frozen
        .map(f => f.unionByName(computed).localCheckpoint(true)).getOrElse(computed)
      emitOps(Changelog.multisetDiff(snapshot, nextVisible, wide), wide)
      snapshot = Some(nextVisible)
      compactSessions(computed)
    }
    snapshot.get.createOrReplaceTempView(viewName)
  }

  /** Previous epoch's visible session rows, driver-resident for the local
    * diff tail of [[sessionRecomputeAndEmit]]. None exactly when the
    * snapshot came from elsewhere (durable restore, fallback epoch) —
    * which forces one distributed diff before the tail takes over. */
  private[engine] var sessionVisibleRows: Option[IndexedSeq[Row]] = None
  /** Latched once the session output exceeds [[sessionLocalDiffMax]] —
    * session sets only grow while compaction is off, so re-probing every
    * epoch would pay the limit-collect for nothing. */
  private[engine] var sessionLocalDisabled = false
  // private[graft]: specs shrink it to force the distributed fallback.
  // 200k (round 14, was 20k): aligned with the other driver tiers'
  // bounds — sparse data makes most rows their own session, and a visible
  // set in the tens of thousands is exactly where the affected-slice tier
  // below pays off most (the full re-sessionize it replaces is O(visible))
  private[graft] var sessionLocalDiffMax = 200000

  // ---- affected-slice session tier (round 14) -------------------------
  //
  // The full-recompute epoch re-sessionizes the WHOLE carried raw state —
  // an O(total rows) session_window exchange per epoch (12.1 MB/epoch at
  // the sf0.1 bench, the largest in the streaming set, 100% of the
  // entry's shuffle per ShuffleProfile). But appended rows can only merge
  // sessions FORWARD: a session Z with end < min(delta ts) − gap is
  // untouchable (any session affected by a delta row at t has end ≥ t,
  // and all such sessions sit strictly after Z, so the slice boundary
  // S = min start of affected sessions satisfies Z's rows < S). So each
  // epoch re-sessionizes ONLY raw rows at/after S per touched key, diffs
  // the affected outputs driver-side, and keeps every untouched session
  // row verbatim — delta-proportional work, zero full-state exchange.
  //
  // Engages only where the local diff tail already runs (streaming path,
  // no watermark/EOWC/frozen/cuts) AND the statement's shape lets the
  // carried output name its sessions: plain-column grouping keys and the
  // session bounds (window_start/window_end) present in the output by
  // name. Bounds/latch discipline mirrors the other driver tiers; any
  // in-epoch refusal (NULL event time, oversized delta or slice) falls
  // back to the distributed spelling for that epoch and re-seeds.
  private[engine] var sessionRawLocal:
    Option[scala.collection.mutable.ArrayBuffer[Row]] = None
  private var sessionRawSchema: Option[org.apache.spark.sql.types.StructType] = None
  private var sessionOutSchema: Option[org.apache.spark.sql.types.StructType] = None
  private var sessionSliceDisabled = false
  private[graft] var sessionRawLocalMax = 200000
  private[engine] var sessionGapUs = 0L
  /** True while the raw session state is driver-resident (probe). */
  private[graft] def sessionSliceActive: Boolean = sessionRawLocal.nonEmpty

  /** Exact event-time micros of a driver-side temporal value; None for
    * NULL or a non-temporal type (callers refuse the slice epoch). */
  private def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant; Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** Shape admission for the slice tier, decided once per MV. */
  private lazy val sessionSliceEligible: Boolean = try {
    import graft.streaming.Changelog
    sessionKeys.exists { keys =>
      val outS = spark.sql(sessionOuterSql).schema
      val names = outS.fieldNames.toSet
      sessionGapUs > 0 &&
        names.contains("window_start") && names.contains("window_end") &&
        keys.forall(names.contains) &&
        // the affected/untouched split and the local diff need orderable,
        // value-hashable driver types throughout the output
        outS.fields.forall(f => Changelog.localOrdering(f.dataType).nonEmpty)
    }
  } catch { case _: Throwable => false }

  /** One affected-slice epoch over an appended delta (`addRows`) and —
    * the session CASCADE's retraction fold, round 14 — a removed multiset
    * (`delRows`; a deleted row's own session has end ≥ its ts, so the
    * same affected-region proof covers removals, including session
    * SPLITS, whose fragments stay inside the slice). Returns false — with
    * NO side effects — when the epoch cannot run restricted (NULL event
    * time, an unorderable value, a removal naming a row the carried state
    * does not hold, the recomputed slice outgrowing
    * [[sessionLocalDiffMax]]); the caller then takes the distributed
    * spelling for this epoch. */
  private def sessionSliceEpoch(addRows: IndexedSeq[Row],
      delRows: IndexedSeq[Row] = IndexedSeq.empty): Boolean = {
    import graft.streaming.Changelog
    val buf = sessionRawLocal.get
    val rawSchema = sessionRawSchema.get
    val outS = sessionOutSchema.get
    val prevVis = sessionVisibleRows.getOrElse(return false)
    if (snapshot.isEmpty) return false
    val keys = sessionKeys.get
    val tsIdx = rawSchema.fieldIndex(sessionTsCol)
    val rawKeyIdx = keys.map(rawSchema.fieldIndex)
    val outKeyIdx = keys.map(outS.fieldIndex)
    val wsIdx = outS.fieldIndex("window_start")
    val weIdx = outS.fieldIndex("window_end")
    // per touched key: the earliest delta event time (adds AND removals)
    val minTs = scala.collection.mutable.HashMap[List[Any], Long]()
    (addRows.iterator ++ delRows.iterator).foreach { r =>
      val m = tsMicros(r.get(tsIdx)).getOrElse(return false)
      val k = rawKeyIdx.map(r.get).toList
      minTs.update(k, math.min(m, minTs.getOrElse(k, Long.MaxValue)))
    }
    // apply removals to a post-removal view of the raw state; a removal
    // the state cannot satisfy is an inconsistency — refuse, recompute
    val postBuf: scala.collection.mutable.ArrayBuffer[Row] =
      if (delRows.isEmpty) buf
      else {
        val rm = scala.collection.mutable.HashMap[Row, Int]()
        delRows.foreach(r => rm.update(r, rm.getOrElse(r, 0) + 1))
        val nb = new scala.collection.mutable.ArrayBuffer[Row](buf.length)
        buf.foreach { r =>
          rm.get(r) match {
            case Some(c) => if (c == 1) rm.remove(r) else rm.update(r, c - 1)
            case None => nb += r
          }
        }
        if (rm.nonEmpty) return false
        nb
      }
    // split the carried visible rows: a session with end ≥ C = minTs − gap
    // may merge with the delta (inclusive compare = sound over-touching);
    // everything else is untouchable this epoch
    val untouched = scala.collection.mutable.ArrayBuffer[Row]()
    val oldAffected = scala.collection.mutable.ArrayBuffer[Row]()
    val sliceStart = scala.collection.mutable.HashMap[List[Any], Long]()
    prevVis.foreach { r =>
      val k = outKeyIdx.map(r.get).toList
      minTs.get(k) match {
        case Some(mt) =>
          val we = tsMicros(r.get(weIdx)).getOrElse(return false)
          if (we >= mt - sessionGapUs) {
            oldAffected += r
            val ws = tsMicros(r.get(wsIdx)).getOrElse(return false)
            sliceStart.update(k, math.min(ws, sliceStart.getOrElse(k, Long.MaxValue)))
          } else untouched += r
        case None => untouched += r
      }
    }
    // raw slice: touched keys' rows at/after the earliest affected
    // session's start (no affected session → no raw row can sit past C,
    // see the tier note — the slice is the delta alone)
    val slice = scala.collection.mutable.ArrayBuffer[Row]()
    var sliceOk = true
    postBuf.foreach { r =>
      val k = rawKeyIdx.map(r.get).toList
      sliceStart.get(k).foreach { s =>
        tsMicros(r.get(tsIdx)) match {
          case Some(m) => if (m >= s) slice += r
          case None => sliceOk = false
        }
      }
    }
    if (!sliceOk) return false
    // re-sessionize ONLY the slice: the statement over a LocalRelation
    // pinned to ONE partition (round 15) — SinglePartition satisfies the
    // session aggregation's required distribution, so the slice re-run
    // plans with zero exchanges (the slice∪delta co-location shuffle was
    // 88% of s_mv_session_maintain's bytes) and the bounded collect is
    // one single-task job
    val newAffected = try {
      localDf((slice ++ addRows).toIndexedSeq, rawSchema).coalesce(1)
        .createOrReplaceTempView(sessionSrcView)
      val rows = timed("session-slice")(
        spark.sql(sessionOuterSql).limit(sessionLocalDiffMax + 1).collect())
      if (rows.length > sessionLocalDiffMax) return false
      rows.toIndexedSeq
    } catch { case scala.util.control.NonFatal(_) => return false }
    // untouched rows are identical on both sides of the full diff and
    // cancel; diffing the affected subsets emits the same ops in the same
    // deterministic order
    val ops = Changelog.localMultisetDiff(
      Some(oldAffected.toSeq), newAffected, outS).getOrElse(return false)
    // ---- commit ----
    if (ops.nonEmpty) timed("emitOps")(emitOps(localDf(ops.toIndexedSeq,
      outS.add("op", org.apache.spark.sql.types.StringType))))
    val committed = postBuf
    committed ++= addRows
    if (!(committed eq buf)) sessionRawLocal = Some(committed)
    val nextVisible = (untouched ++ newAffected).toIndexedSeq
    sessionVisibleRows = Some(nextVisible)
    val nv = localDf(nextVisible, outS)
    snapshot = Some(nv)
    nv.createOrReplaceTempView(viewName)
    innerState = Some(localDf(committed.toIndexedSeq, rawSchema))
    // bounds: a grown raw state or visible set hands off to the
    // distributed tiers for good (monotone, like every driver tier)
    if (committed.length > sessionRawLocalMax) {
      sessionRawLocal = None
      sessionSliceDisabled = true
    }
    if (nextVisible.length > sessionLocalDiffMax) {
      sessionRawLocal = None
      sessionSliceDisabled = true
      sessionLocalDisabled = true
      sessionVisibleRows = None
    }
    true
  }

  /** Session MV over ONE PK/upsert (or DML-mutated) live table — the
    * retraction-emitting sources the streaming session path cannot bind
    * (its face replays raw version appends, so a session would count every
    * version of a key). The carried raw state folds the table's keyed 4-op
    * changelog instead: Insert/UpdateInsert payloads join the multiset,
    * Delete/UpdateDelete payloads retract one instance each (EXCEPT ALL),
    * then the standard re-sessionize → diff tail runs. No watermark
    * compaction (there is no streaming query to carry a watermark): full
    * raw history is the state bound — the honest always-correctable
    * stance, and strictly better than the per-FLUSH batch re-run these
    * statements used to get. Durable snapshots persist the raw state +
    * consumed offsets (mode `sessioncascade`) — reopen is O(state). */
  private[engine] def sessionCascadeEpoch(): Unit = synchronized {
    import org.apache.spark.sql.functions.col
    if (cascadeUpstreams.isEmpty) return
    val u = cascadeUpstreams.head
    val latest = u.log.latestOffset
    val after = cascadeOffsets.getOrElse(u.viewName, 0L)
    if (latest <= after && snapshot.nonEmpty) return
    if (snapshot.isEmpty) {
      cascadeOffsets(u.viewName) = latest
      // backfill: the PK-resolved visible rows ARE the raw session state
      innerState = Some(u.snap().localCheckpoint(true))
      advanceCascadeWatermark(innerState.get)
      sessionRecomputeAndEmit()
    } else {
      if (latest <= after) return
      val ops = u.log.dfAfter(after)
      cascadeOffsets(u.viewName) = latest
      // affected-slice tier (round 14): land the delta ops driver-side,
      // net the window per distinct row, and fold adds AND removals by
      // the restricted epoch — no full-state exceptAll/union, no
      // full-state re-sessionize
      if (sessionRawLocal.nonEmpty && sessionCuts.isEmpty && frozen.isEmpty &&
          sessionCascadeWm.isEmpty) {
        val payload = ops.drop("rw_timestamp")
        // NonFatal guard: offsets are already advanced above, so a throw
        // escaping here would lose the epoch's delta for good — a refusal
        // must instead fall through to the distributed fold below (the
        // same failure semantics as sessionSliceEpoch's own try)
        val handled = try {
        val collected = payload.limit(sessionRawLocalMax + 1).collect()
        collected.length <= sessionRawLocalMax && {
          val opIdx = payload.schema.fieldIndex("op")
          val rawSchema = sessionRawSchema.get
          val colIdx = rawSchema.fieldNames.map(payload.schema.fieldIndex(_))
          def strip(r: Row) = Row.fromSeq(colIdx.toIndexedSeq.map(r.get))
          val adds = scala.collection.mutable.ArrayBuffer[Row]()
          val dels = scala.collection.mutable.ArrayBuffer[Row]()
          collected.foreach { r =>
            r.getString(opIdx) match {
              case Changelog.OpInsert | Changelog.OpUpdateInsert => adds += strip(r)
              case _ => dels += strip(r)
            }
          }
          // net per distinct row: a row inserted AND deleted within the
          // consumed window is not in the pre-window state — a phantom on
          // both sides, cancel it
          val cnt = scala.collection.mutable.HashMap[Row, Int]()
          adds.foreach(r => cnt.update(r, cnt.getOrElse(r, 0) + 1))
          dels.foreach(r => cnt.update(r, cnt.getOrElse(r, 0) - 1))
          val addsNet = scala.collection.mutable.ArrayBuffer[Row]()
          val delsNet = scala.collection.mutable.ArrayBuffer[Row]()
          cnt.foreach { case (r, c) =>
            if (c > 0) (1 to c).foreach(_ => addsNet += r)
            else if (c < 0) (1 to -c).foreach(_ => delsNet += r)
          }
          sessionSliceEpoch(addsNet.toIndexedSeq, delsNet.toIndexedSeq)
        }
        } catch { case scala.util.control.NonFatal(_) => false }
        if (handled) return
        // refused: this epoch folds distributed below; drop the (now
        // stale-prone) buffer — the full path re-seeds when it still fits
        sessionRawLocal = None
      }
      val adds = applyCuts(ops.filter(col("op").isin(
        Changelog.OpInsert, Changelog.OpUpdateInsert)).drop("op", "rw_timestamp"))
      val dels = applyCuts(ops.filter(col("op").isin(
        Changelog.OpDelete, Changelog.OpUpdateDelete)).drop("op", "rw_timestamp"))
      // net the window per distinct row first: a row inserted AND deleted
      // within the consumed window (multiple emissions between refreshes)
      // is not in the pre-window state, so the saturating exceptAll would
      // drop nothing and union would add a phantom raw row
      val addsNet = adds.exceptAll(dels)
      val delsNet = dels.exceptAll(adds)
      innerState = Some(timed("state-fold")(
        innerState.get.exceptAll(delsNet).union(addsNet).localCheckpoint(true)))
      advanceCascadeWatermark(adds)
      sessionRecomputeAndEmit()
    }
  }

  /** Advance the fold-side watermark from an epoch's inserted rows (max
    * event time − declared delay). No-op without a declared watermark. */
  private[engine] def advanceCascadeWatermark(rows: DataFrame): Unit =
    sessionCascadeWm.foreach { case (tsCol, delayMs) =>
      import org.apache.spark.sql.functions.{col, max, unix_millis}
      val mx = rows.agg(max(unix_millis(col(tsCol).cast("timestamp")))).head()
      if (!mx.isNullAt(0))
        cascadeWatermarkMs = math.max(cascadeWatermarkMs, mx.getLong(0) - delayMs)
    }

  /** Watermark-driven session-state compaction (the 100 TB knob): a
    * session whose `window_end` ≤ watermark can never change (no future
    * on-time row lands within gap of its last event), so its output row
    * freezes and its raw rows leave the carried state. The cut point C is
    * chosen so that NO session interval straddles it — sessions sorted by
    * start with a running max of ends; C is the largest running-max value
    * ≤ watermark that also precedes the next session's start — which makes
    * "freeze sessions ending ≤ C" and "drop raw rows with ts < C" exact
    * complements (a straddling closed session would otherwise be frozen
    * AND partially recomputed from its surviving rows). Without a
    * watermark nothing freezes: full history is the honest state bound
    * (any late row may merge sessions — RisingWave's always-correctable
    * semantics). Requires window_start/window_end in the output. */
  private[engine] def compactSessions(computed: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, unix_millis}
    val wm = watermarkMs
    if (wm <= 0 || sessionTsCol.isEmpty) return
    if (!computed.columns.contains("window_start") ||
        !computed.columns.contains("window_end")) return
    val we = unix_millis(col("window_end"))
    sessionKeys match {
      case Some(keys) =>
        // per-key compaction (round-6): within a key, sessions are
        // disjoint and ordered, so the finished sessions (end ≤ watermark)
        // are a prefix and the key's cut = its largest finished end —
        // freezing and row retirement both keyed, no global ordering, no
        // single-task Window. Cross-key session overlap (which forces the
        // global chain scan below to stop at the first straddler) is
        // irrelevant here, so this path also freezes MORE eagerly —
        // exactly Spark's own per-key session-closure semantics.
        val newlyFrozen = computed.filter(we <= wm)
        if (newlyFrozen.isEmpty) return
        val newCuts = newlyFrozen.groupBy(keys.map(col): _*)
          .agg(max(we).as("__cut"))
        finishCompaction(newlyFrozen, newCuts, keys)
      case None =>
        // expression-keyed statements: global coverage-chain scan. The cut
        // C is chosen so NO session straddles it — sessions sorted by
        // start with a running max of ends; C is the largest running-max
        // value ≤ watermark that also precedes the next session's start —
        // making "freeze sessions ending ≤ C" and "drop raw rows with
        // ts < C" exact complements. Tiny frame: one row per open-or-new
        // session (already aggregated), but inherently one task.
        import org.apache.spark.sql.expressions.{Window => W}
        import org.apache.spark.sql.functions.lead
        val w = W.orderBy("ws")
        val cand = computed
          .select(unix_millis(col("window_start")).as("ws"), we.as("we"))
          .withColumn("cm", max("we").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("nws", lead("ws", 1).over(w))
          .filter(col("cm") <= wm && (col("nws").isNull || col("cm") <= col("nws")))
          .agg(max("cm").as("cut"))
          .head()
        if (cand.isNullAt(0)) return
        val cut = cand.getLong(0)
        val newlyFrozen = computed.filter(we <= cut)
        if (newlyFrozen.isEmpty) return
        val newCuts = spark.range(1).select(lit(cut).as("__cut"))
        finishCompaction(newlyFrozen, newCuts, Nil)
    }
  }

  /** Shared compaction tail: max-merge the new cut points into the carried
    * cut table, freeze the session rows, retire their raw rows. */
  private[engine] def finishCompaction(newlyFrozen: DataFrame, newCuts: DataFrame,
                               keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    sessionCuts = Some((sessionCuts match {
      case Some(prev) => prev.unionByName(newCuts)
        .groupBy(keys.map(col): _*).agg(max("__cut").as("__cut"))
      case None => newCuts
    }).localCheckpoint(true))
    frozen = Some(frozen.map(_.unionByName(newlyFrozen)).getOrElse(newlyFrozen)
      .localCheckpoint(true))
    innerState = innerState.map(s => applyCuts(s).localCheckpoint(true))
    innerState.foreach(_.createOrReplaceTempView(sessionSrcView))
  }

  /** Drop raw rows below their key's cut point (keyed join against the cut
    * table; a broadcast cross join of the single global row when keyless).
    * Applied to the carried state at compaction AND to every incoming
    * delta — a late row under the cut would re-sessionize into a session
    * overlapping an already-frozen one. */
  private[engine] def applyCuts(rows: DataFrame): DataFrame = sessionCuts match {
    case None => rows
    case Some(cuts) =>
      import org.apache.spark.sql.functions.{broadcast, col, unix_millis}
      val ts = unix_millis(col(sessionTsCol).cast("timestamp"))
      val keys = sessionKeys.getOrElse(Nil)
      if (keys.isEmpty)
        rows.crossJoin(broadcast(cuts)).filter(ts >= col("__cut")).drop("__cut")
      else {
        // null-safe (<=>) like keyJoin: grouping keys can legitimately be
        // NULL, and a plain equi-join would never match a NULL-keyed cut —
        // its frozen session's raw rows would survive retirement and its
        // late rows would pass the gate, re-freezing (and double-counting)
        // the same session every epoch
        val kr = cuts.toDF(cuts.columns.map(c => s"__c_$c").toIndexedSeq: _*)
        rows.join(kr, keys.map(c => col(c) <=> col(s"__c_$c")).reduce(_ && _), "left")
          .filter(col("__c___cut").isNull || ts >= col("__c___cut"))
          .select(rows.columns.map(col).toIndexedSeq: _*)
      }
  }

  // The epoch-plan probes below keep the epoch's analyzed frame and
  // optimize it only when a spec reads the probe: optimization walks every
  // leaf row of the frame, which includes the source table's driver tail
  // as a LocalRelation.
  @volatile private[engine] var cascadeEpochFrame: Option[DataFrame] = None
  @volatile private[engine] var joinEpochFrame: Option[DataFrame] = None
  @volatile private[engine] var outerTermFrame: Option[DataFrame] = None

  /** Optimized plan of the last cascade epoch's touched-group recompute —
    * spec probe pinning the semi-join-below-Aggregate pushdown. Optimized
    * when read. */
  private[graft] def lastCascadeEpochPlan: Option[String] =
    cascadeEpochFrame.map(_.queryExecution.optimizedPlan.toString)

  /** Optimized plan of the last delta-join epoch's first + term —
    * recorded so DeltaJoinMvSpec can pin the broadcast-delta property (the
    * snapshot side must never shuffle for a delta-sized probe). Optimized
    * when read. */
  private[graft] def lastJoinEpochPlan: Option[String] =
    joinEpochFrame.map(_.queryExecution.optimizedPlan.toString)

  /** Optimized plan of the last restricted-difference (+) term (outer-join
    * epochs where the null-padded side changed) — spec pin: the linear
    * side is probed by a LeftSemi join whose right side broadcasts, so
    * neither the linear subtree nor the join's base nonlinear side ever
    * shuffles for a delta-sized change. Optimized when read. */
  private[graft] def lastOuterTermPlan: Option[String] =
    outerTermFrame.map(_.queryExecution.optimizedPlan.toString)

  /** How many times the FULL defining statement has been evaluated over
    * source data (batch refresh epochs + cascade backfills/recomputes) —
    * spec probe proving a durable reopen restores the snapshot instead of
    * re-executing the statement. Analysis-only `spark.sql` calls (schema,
    * mode derivation) don't count; they never read data. */
  @volatile private[graft] var statementEvals: Long = 0L


  /** (carried raw rows, frozen session rows) — compaction probe for specs. */
  private[graft] def sessionStateCounts: (Long, Long) = synchronized {
    (innerState.map(_.count()).getOrElse(0L), frozen.map(_.count()).getOrElse(0L))
  }

}
