package graft.engine

import graft.streaming.Changelog
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampNTZType, TimestampType}

import scala.collection.mutable

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

  /** Session gap in micros. A gap spelling Spark's session_window accepts
    * but intervalMillis rejects ('0.5 seconds', '1 week') must not abort
    * mode admission: it reads as 0, which keeps the slice epoch off
    * ([[sessionSliceOut]] requires a gap); the full re-sessionize never
    * needs the value. */
  private def sessionGapMicros(): Long = Dialect.sessionTvf(stmt)
    .flatMap(g => scala.util.Try(Dialect.intervalMillis(g._3) * 1000L).toOption)
    .getOrElse(0L)

  /** The session grouping keys of the statement over raw columns
    * `rawCols`: every non-window grouping expression must be a plain raw
    * column (an expression key can't map frozen sessions back to raw rows —
    * those statements keep the global chain-scan compaction and the full
    * re-sessionize). Reads the statement over [[sessionSrcView]]. */
  private def deriveSessionKeys(rawCols: Set[String]): Option[Seq[String]] =
    spark.sql(sessionOuterSql).queryExecution.analyzed
      .collectFirst { case a: Aggregate => a }
      .flatMap { a =>
        val cls = a.groupingExpressions.map {
          case ar: AttributeReference if rawCols.contains(ar.name) => Some(Some(ar.name))
          case e if e.toString.toLowerCase.replace("_", "")
            .contains("sessionwindow") => Some(None)
          case _ => None
        }
        if (cls.forall(_.nonEmpty)) Some(cls.flatten.flatten) else None
      }

  /** The parts of a durable session snapshot under `d`: (raw state,
    * frozen sessions, cuts, face). None without a face. */
  private def readSessionSnapshot(d: String):
      Option[(Option[DataFrame], Option[DataFrame], Option[DataFrame], DataFrame)] = {
    def part(p: String) =
      if (new java.io.File(s"$d/$p").isDirectory)
        Some(spark.read.parquet(s"$d/$p").localCheckpoint(true))
      else None
    part("data").map(snap => (part("inner"), part("frozen"), part("cuts"), snap))
  }

  private def installSessionSnapshot(inner: Option[DataFrame], froz: Option[DataFrame],
      cuts: Option[DataFrame], snap: DataFrame): Unit = {
    inner.foreach { i =>
      innerState = Some(i)
      i.createOrReplaceTempView(sessionSrcView)
    }
    frozen = froz
    sessionCuts = cuts
    snapshot = Some(snap)
    snap.createOrReplaceTempView(viewName)
  }

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
      sessionGapUs = sessionGapMicros()
      sessionOuterSql = ownerEngine.rewrite(Dialect.retargetSessionTvf(stmt, sessionSrcView))
      // pre-validate the retargeted statement against the (empty) table
      // schema before committing to the mode
      spark.createDataFrame(java.util.List.of[Row](), t.schema)
        .createOrReplaceTempView(sessionSrcView)
      spark.sql(sessionOuterSql).schema
      // per-key compaction keys are derived for symmetry, but compaction
      // never fires here (no streaming query → no watermark)
      sessionKeys = deriveSessionKeys(t.schema.fieldNames.toSet)
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
              !cascadeUpstreams.forall(u =>
                offsets.get(u.viewName).exists(_ <= u.log.latestOffset)))
            None
          else readSessionSnapshot(d).map(offsets -> _)
        } catch { case _: Throwable => None }
      }
      restored match {
        case Some((offsets, (inner, froz, cuts, snap))) =>
          offsets.foreach { case (v, o) => cascadeOffsets(v) = o }
          installSessionSnapshot(inner, froz, cuts, snap)
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
  private[engine] def tryStartSession(tbl: String, tsCol: String): Boolean = {
    try {
      sessionTsCol = tsCol.split('.').last // raw state carries bare columns
      sessionGapUs = sessionGapMicros()
      val innerStmt = s"SELECT * FROM $tbl"
      // durable reopen: see tryStartTopN — snapshot parts load BEFORE the
      // faces bind, so a partial/unreadable snapshot falls back to replay
      // instead of gating the faces past rows no restored state covers
      val restored = streamRestoreSeqs("session").flatMap { seqs =>
        ownerEngine.mvSnapshotDirFor(viewName).flatMap { d =>
          try readSessionSnapshot(d).map(seqs -> _)
          catch { case _: Throwable => None }
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
      sessionKeys = deriveSessionKeys(sdf.columns.toSet)
      sessionCuts = None
      restored.foreach { case (_, (inner, froz, cuts, snap)) =>
        installSessionSnapshot(inner, froz, cuts, snap)
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

  /** Session micro-batch. In the slice regime the delta lands on the
    * driver once and [[sessionSliceEpoch]] takes the epoch. Otherwise (or
    * on its refusal) the delta joins the carried raw state, the whole
    * state re-sessionizes, the visible snapshot (frozen ∪ live sessions)
    * diffs as a multiset, then compaction runs. Under EMIT ON WINDOW CLOSE
    * the visible snapshot is the frozen set ONLY (compaction runs first):
    * frozen only grows, so the multiset diff degenerates to exactly one
    * Insert per closed session — final-only emission. */
  private[engine] def handleSessionDelta(delta: DataFrame): Unit = synchronized {
    // single-collect epoch (round 16): the slice epoch needs the delta ONLY
    // as driver rows, so it skips the localCheckpoint, the emptiness probes
    // and the late-row gate below (no cuts in the regime: the identity)
    if (sessionSliceRegime) {
      val rows = timed("delta-collect")(delta.limit(cascadeLocalMax + 1).collect())
      if (rows.isEmpty) return
      // refusal, a delta past cascadeLocalMax: the limit truncated it, so
      // the body below re-materializes it from the source batch
      if (rows.length <= cascadeLocalMax &&
          sessionSliceEpoch(signedRows(rows, Nil), delta.schema)) return
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
    innerState = Some(innerState.map(_.union(d)).getOrElse(d).localCheckpoint(true))
    sessionRecomputeAndEmit()
  }

  /** Shared tail of a full session epoch: re-sessionize the carried raw
    * state, derive the visible snapshot (frozen ∪ live sessions;
    * frozen-only under EMIT ON WINDOW CLOSE), emit the multiset diff, and
    * compact. */
  private[engine] def sessionRecomputeAndEmit(): Unit = {
    innerState.get.createOrReplaceTempView(sessionSrcView)
    statementEvals += 1
    // Driver-side diff (round 9): with no compaction state in play the
    // visible snapshot IS the re-sessionized output. While the previous
    // face is a LocalRelation (the face overlay's no-base frame, or this
    // path's own) and the new output fits cascadeLocalMax rows, the diff
    // runs on the driver, as Changelog.diffPreferLocal does for keyed
    // diffs — the distributed diff spends several jobs (two groupBys, a
    // full-outer join, explode, sort) on a few thousand rows. A face past
    // the bound is no LocalRelation, so no epoch re-collects an output
    // already known to be over it. The re-sessionize itself stays on
    // Spark.
    if (sessionCompactionOff && snapshot.forall(isLocalRelation)) {
      val cdf = spark.sql(sessionOuterSql)
      val rows = timed("session-collect")(
        cdf.limit(cascadeLocalMax + 1).collect().toIndexedSeq)
      if (rows.length <= cascadeLocalMax) {
        val schema = cdf.schema
        val nextVisible = localDf(rows, schema)
        Changelog.localMultisetDiff(snapshot.map(_.collect().toSeq), rows, schema) match {
          case Some(ops) =>
            if (ops.nonEmpty) emitOps(localDf(ops.toIndexedSeq, schema.add("op", StringType)))
          case None => emitOps(Changelog.multisetDiff(snapshot, nextVisible))
        }
        snapshot = Some(nextVisible)
        nextVisible.createOrReplaceTempView(viewName)
        return
      }
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

  private def isLocalRelation(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  // ---- the slice epoch -------------------------------------------------
  //
  // The full epoch re-sessionizes the WHOLE carried raw state: an
  // O(history) session_window exchange per epoch. But a delta row at t
  // can only touch a session Z of its key whose end ≥ t − gap: with
  // C = min delta ts − gap per touched key, a session ending before C is
  // untouchable (any session a delta row at t affects has end ≥ t, and
  // all such sessions sit strictly after Z). Sessions of one key are
  // disjoint and ordered, so the affected ones are a suffix: with
  // S = the smallest start among them, the raw rows at/after
  // min(S, min delta ts) are exactly the affected sessions' rows, every
  // delta row included. Removals (the cascade's retractions) are covered
  // by the same proof — a removed row's own session has end ≥ its ts —
  // including session SPLITS, whose fragments stay inside the slice. So
  // each epoch re-sessionizes ONLY that slice, diffs the old and new
  // affected sessions driver-side, and keeps every other session row
  // verbatim: delta-proportional work, no full-state exchange.
  //
  // The raw rows and the face are each a CarriedOverlay keyed by the
  // whole row (row → multiplicity). While a state fits cascadeLocalMax
  // rows its overlay holds it whole with no base, the reads below scan
  // the overlay on the driver, and the face is a LocalRelation (reads run
  // no job). Past the bound each read is one range probe of the flat base
  // plus the overlay's rows, and the frame is `base ∪ overlay` at
  // constant depth. A frame the overlays did not return (the backfill, a
  // restore, a full epoch) is seeded whole while it fits, else it becomes
  // the base.
  //
  // The regime: no compaction state in play (no watermark, EOWC, frozen
  // sessions or cuts) and a statement whose output names its sessions
  // (plain-column keys, window_start/window_end by name). Everything else
  // — and every refusal named in the epoch — takes the full epoch.

  private var sessionGapUs = 0L

  private def sessionOverlay = new CarriedOverlay[Long](spark,
    compactEvery, cascadeLocalMax,
    _.flatMap { case (r, c) => Iterator.fill(c.toInt)(r) }.toIndexedSeq,
    df => timed("state-merge")(df.localCheckpoint(true)))
  /** The carried raw rows ([[innerState]]) and the face ([[snapshot]]) of
    * the slice epoch. */
  private[engine] lazy val sessionRaw = sessionOverlay
  private[engine] lazy val sessionFace = sessionOverlay
  /** True while the whole raw session state is the overlay's, with no
    * base (probe). */
  private[graft] def sessionSliceActive: Boolean = innerState.exists(sessionRaw.holdsAll)

  private def sessionCompactionOff: Boolean = !emitOnClose && mvWatermarks.isEmpty &&
    sessionCascadeWm.isEmpty && frozen.isEmpty && sessionCuts.isEmpty
  /** Whether an epoch may take [[sessionSliceEpoch]]. */
  private def sessionSliceRegime: Boolean = sessionCompactionOff && sessionSliceOut.nonEmpty

  /** The statement's output schema when its shape admits the slice epoch,
    * decided once per MV: plain-column session keys and the session bounds
    * in the output by name, a parsed gap, and output types with a local
    * ordering and a value hash (the affected split, the overlay and the
    * local diff read them on the driver). */
  private lazy val sessionSliceOut: Option[StructType] = try {
    sessionKeys.flatMap { keys =>
      val outS = spark.sql(sessionOuterSql).schema
      val names = outS.fieldNames.toSet
      Some(outS).filter(_ => sessionGapUs > 0 &&
        names("window_start") && names("window_end") && keys.forall(names) &&
        temporal(outS("window_start").dataType) && temporal(outS("window_end").dataType) &&
        sliceTypesOk(outS))
    }
  } catch { case _: Throwable => None }

  private def temporal(dt: DataType): Boolean = dt == TimestampType || dt == TimestampNTZType

  private def sliceTypesOk(s: StructType): Boolean = CarriedOverlay.valueHashable(s) &&
    s.fields.forall(f => Changelog.localOrdering(f.dataType).nonEmpty)

  /** Exact event-time micros of a driver-side temporal value; None for
    * NULL or a non-temporal type. */
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

  /** The driver value of `us` micros in a column of type `dt`. */
  private def fromMicros(us: Long, dt: DataType): Any = {
    val i = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
    if (dt == TimestampNTZType) java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    else java.sql.Timestamp.from(i)
  }

  /** Net multiplicity per distinct row of added and removed rows: a row
    * inserted AND deleted within the consumed window is in neither state. */
  private def signedRows(adds: Iterable[Row], dels: Iterable[Row]): mutable.LinkedHashMap[Row, Long] = {
    val net = mutable.LinkedHashMap[Row, Long]()
    adds.foreach(r => net.update(r, net.getOrElse(r, 0L) + 1L))
    dels.foreach(r => net.update(r, net.getOrElse(r, 0L) - 1L))
    net.filterInPlace((_, c) => c != 0L)
  }

  private def rowCounts(rows: Iterable[Row]): mutable.LinkedHashMap[Row, Long] =
    signedRows(rows, Nil)

  /** Open both overlays' epoch over the raw state and the face; a frame
    * they did not return seeds the no-base tier while it fits. */
  private def beginSessionOverlays(rawSchema: StructType, outS: StructType): Boolean = {
    import org.apache.spark.sql.functions.col
    def begin(o: CarriedOverlay[Long], state: Option[DataFrame], s: StructType) =
      o.begin(state, s,
        StructType(s.fields.map(f => f.copy(name = s"__k_${f.name}", nullable = true))),
        s.fieldNames.map(n => col(n) <=> col(s"__k_$n")).reduce(_ && _),
        st => {
          // one single-task job for a distributed frame, none for a local one
          val rows = (if (isLocalRelation(st)) st else st.coalesce(1))
            .limit(cascadeLocalMax + 1).collect()
          if (rows.length > cascadeLocalMax) None else Some(rowCounts(rows))
        })
    begin(sessionRaw, innerState, rawSchema) && begin(sessionFace, snapshot, outS)
  }

  /** The rows of `o`'s state (of schema `s`) whose session key (`key`,
    * columns `keys`) has a bound in `bounds` and whose temporal column
    * `tsName` is at or past it, with their multiplicities: the overlay's
    * rows, plus one range probe of its base. Also notes, through
    * [[CarriedOverlay.current]], which `extra` rows (in range by
    * construction) the base lacks. None = refused (a probe past
    * cascadeLocalMax rows). */
  private def readRange(o: CarriedOverlay[Long], s: StructType, key: Row => Row,
      tsName: String, bounds: collection.Map[Row, Long], keys: Seq[String],
      extra: Iterable[Row]): Option[mutable.LinkedHashMap[Row, Long]] = {
    import org.apache.spark.sql.functions.col
    val tsIdx = s.fieldIndex(tsName)
    val tsType = s(tsIdx).dataType
    def inRange(r: Row): Boolean =
      bounds.get(key(r)).exists(b => tsMicros(r.get(tsIdx)).exists(_ >= b))
    val boundSchema = StructType(keys.map(k => s(k).copy(name = s"__k_$k", nullable = true)))
      .add("__b", tsType)
    val probed = o.probeRange(
      bounds.iterator.map { case (k, b) => Row.fromSeq(k.toSeq :+ fromMicros(b, tsType)) }
        .toIndexedSeq,
      boundSchema,
      (keys.map(k => col(k) <=> col(s"__k_$k")) :+ (col(tsName) >= col("__b"))).reduce(_ && _),
      inRange) match {
      case None => mutable.LinkedHashMap.empty[Row, Long]
      case Some(p) =>
        // one single-task job: a limit over the base's partitions would
        // take several rounds of partitions
        val rows = timed("state-touched")(p.coalesce(1).limit(cascadeLocalMax + 1).collect())
        if (rows.length > cascadeLocalMax) return None
        rowCounts(rows)
    }
    val out = mutable.LinkedHashMap[Row, Long]()
    (o.entries.collect { case (r, _) if inRange(r) => r } ++ probed.keysIterator ++ extra)
      .foreach { r =>
        if (!out.contains(r)) o.current(r, probed).foreach(c => out.update(r, c))
      }
    Some(out)
  }

  /** One slice epoch (see the section note) over a delta's net raw rows
    * (`delta`: row → signed multiplicity; the streaming path only adds),
    * in either tier of the two overlays. Computes everything up to the
    * commit without touching the MV, commits both overlays, and only then
    * emits. Returns false — with nothing emitted and the MV untouched —
    * when the epoch cannot run restricted; the caller takes the full
    * epoch. */
  private def sessionSliceEpoch(delta: collection.Map[Row, Long],
      rawSchema: StructType): Boolean = {
    val outS = sessionSliceOut.getOrElse(return false)
    // refusal, an unorderable or unhashable raw value (the raw rows key
    // the overlay and order the slice) or a non-timestamp event time
    if (!sliceTypesOk(rawSchema) || !temporal(rawSchema(sessionTsCol).dataType)) return false
    val keys = sessionKeys.get
    val rawKeyIdx = keys.map(rawSchema.fieldIndex)
    val outKeyIdx = keys.map(outS.fieldIndex)
    def rawKey(r: Row): Row = Row.fromSeq(rawKeyIdx.map(r.get))
    def outKey(r: Row): Row = Row.fromSeq(outKeyIdx.map(r.get))
    val tsIdx = rawSchema.fieldIndex(sessionTsCol)
    val wsIdx = outS.fieldIndex("window_start")
    // 1-2. per touched key, the earliest delta event time; refusal, a NULL
    // (or non-temporal) event time in the delta
    val minTs = mutable.LinkedHashMap[Row, Long]()
    delta.keysIterator.foreach { r =>
      val m = tsMicros(r.get(tsIdx)).getOrElse(return false)
      val k = rawKey(r)
      minTs.update(k, math.min(m, minTs.getOrElse(k, Long.MaxValue)))
    }
    // everything up to the commit is refusable: a failed probe or
    // re-sessionize takes the full epoch, whose frames re-base both
    // overlays
    val (raw, face, ops) = try {
      if (!beginSessionOverlays(rawSchema, outS)) return false
      // 3. the old affected sessions: face rows of the touched keys with
      // window_end ≥ C (inclusive: sound over-touching); S per key is their
      // smallest start
      val cut = minTs.map { case (k, m) => k -> (m - sessionGapUs) }
      val oldCounts = readRange(sessionFace, outS, outKey, "window_end", cut, keys, Nil)
        .getOrElse(return false)
      val sliceStart = mutable.HashMap[Row, Long]()
      oldCounts.keysIterator.foreach { r =>
        val ws = tsMicros(r.get(wsIdx)).getOrElse(return false)
        val k = outKey(r)
        sliceStart.update(k, math.min(ws, sliceStart.getOrElse(k, Long.MaxValue)))
      }
      // 4. the raw slice: touched keys' rows at/after min(S, min delta ts);
      // NULL event times sit in no session and so in no slice
      val lo = minTs.map { case (k, m) => k -> math.min(m, sliceStart.getOrElse(k, m)) }
      val slice = readRange(sessionRaw, rawSchema, rawKey, sessionTsCol, lo, keys,
        delta.keys).getOrElse(return false)
      val rawChanges = delta.iterator.map { case (r, d) =>
        val c = slice.getOrElse(r, 0L) + d
        // refusal, a removal the carried state does not hold
        if (c < 0L) return false
        slice.update(r, c)
        r -> Some(c).filter(_ > 0L)
      }.toIndexedSeq
      val sliceRows = slice.iterator.flatMap { case (r, c) => Iterator.fill(c.toInt)(r) }
        .toIndexedSeq
      // refusal, a slice past cascadeLocalMax
      if (sliceRows.length > cascadeLocalMax) return false
      // 5. re-sessionize ONLY the slice: the statement over a LocalRelation
      // pinned to ONE partition (round 15) — SinglePartition satisfies the
      // session aggregation's required distribution, so the slice re-run
      // plans with zero exchanges and the bounded collect is one
      // single-task job
      localDf(sliceRows, rawSchema).coalesce(1).createOrReplaceTempView(sessionSrcView)
      val newAffected = timed("session-slice")(
        spark.sql(sessionOuterSql).limit(cascadeLocalMax + 1).collect()).toIndexedSeq
      if (newAffected.length > cascadeLocalMax) return false
      // 6. untouched session rows are identical on both sides of the full
      // diff and cancel; diffing the affected subsets emits the same ops in
      // the same deterministic order
      val oldAffected = oldCounts.iterator.flatMap { case (r, c) => Iterator.fill(c.toInt)(r) }
        .toIndexedSeq
      val ops = Changelog.localMultisetDiff(Some(oldAffected), newAffected, outS)
        .getOrElse(return false)
      val newCounts = rowCounts(newAffected)
      val weIdx = outS.fieldIndex("window_end")
      val faceChanges = oldCounts.keysIterator.map(r => r -> newCounts.get(r)).toIndexedSeq ++
        newCounts.iterator.filterNot(e => oldCounts.contains(e._1)).map { case (r, c) =>
          // a new session ends past its key's C (it holds a delta row, or
          // the rows of an affected session); the face read covered it
          if (!cut.get(outKey(r)).exists(b => tsMicros(r.get(weIdx)).exists(_ >= b)))
            return false
          r -> Some(sessionFace.current(r, Map.empty).getOrElse(0L) + c)
        }
      // 7. commit both overlays, then emit
      (sessionRaw.carry(rawChanges), sessionFace.carry(faceChanges), ops)
    } catch { case scala.util.control.NonFatal(_) => return false }
    if (ops.nonEmpty) emitOps(localDf(ops.toIndexedSeq, outS.add("op", StringType)))
    innerState = Some(raw)
    snapshot = Some(face)
    face.createOrReplaceTempView(viewName)
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
      // NonFatal guard: offsets are already advanced above, so a throw
      // escaping here would lose the epoch's delta for good — a refusal
      // must instead fall through to the full fold below
      if (sessionSliceRegime &&
          (try sessionSliceFold(ops) catch { case scala.util.control.NonFatal(_) => false }))
        return
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

  /** The cascade's slice epoch: land the epoch's ops on the driver, net
    * them per distinct raw row and fold adds AND removals through
    * [[sessionSliceEpoch]]. */
  private def sessionSliceFold(ops: DataFrame): Boolean = {
    val payload = ops.drop("rw_timestamp")
    val rows = payload.limit(cascadeLocalMax + 1).collect()
    // refusal, a delta past cascadeLocalMax
    if (rows.length > cascadeLocalMax) return false
    val rawSchema = innerState.get.schema
    val opIdx = payload.schema.fieldIndex("op")
    val colIdx = rawSchema.fieldNames.toIndexedSeq.map(payload.schema.fieldIndex)
    def strip(r: Row) = Row.fromSeq(colIdx.map(r.get))
    val (adds, dels) = rows.partition(r =>
      r.getString(opIdx) == Changelog.OpInsert || r.getString(opIdx) == Changelog.OpUpdateInsert)
    sessionSliceEpoch(signedRows(adds.map(strip), dels.map(strip)), rawSchema)
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
