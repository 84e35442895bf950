package graft.engine

import graft.streaming.Changelog
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.streaming.StreamingQuery

/** A materialized view: a continuously-maintained query result that is
  * itself queryable (reference D4/A4, `risingwave/core.py:451-456`,
  * `README.md:86-123`).
  *
  * Two maintenance modes, chosen automatically:
  *  - **Streaming** (source references live tables and the plan is
  *    streamable): Structured Streaming job; aggregations run in `update`
  *    output mode so each micro-batch delivers exactly the changed keys —
  *    the delta is diffed against the snapshot to recover old values and
  *    emit the 4-op changelog; stateless plans run in `append` mode (pure
  *    Inserts).
  *  - **Batch re-run** (plan not streamable, e.g. over static parquet
  *    catalog tables): re-evaluated at each FLUSH barrier and diffed —
  *    correct because visibility in the reference is flush-gated anyway
  *    (K5).
  *
  * The snapshot is a distributed DataFrame, `localCheckpoint`ed per epoch to
  * cut lineage (at cluster scale: a reliable checkpoint / keyed table
  * format). Changelog deltas are written executor-side into the MV's
  * parquet segment log ([[ChangeLog.appendDF]]); the driver holds only
  * (offset, count) metadata — rows cross to the driver solely at the
  * client's FETCH boundary, mirroring the reference's cursor protocol.
  */
final class MaterializedView private[engine](
    engine: GraftEngine,
    val schemaName: String,
    val name: String,
    val stmt: String,
    watermarks: Map[String, (String, String)] = Map.empty)
  extends WindowCascadeSupport with SessionMvSupport with TopNMvSupport {

  private[engine] val spark = engine.spark
  /** The owning engine, for the [[WindowCascadeSupport]] mixin (a
    * constructor parameter is invisible from a trait). */
  private[engine] def ownerEngine: GraftEngine = engine
  private[engine] def mvWatermarks: Map[String, (String, String)] = watermarks
  def viewName: String = Dialect.mangle(schemaName, name)

  private[engine] val changeLog =
    new ChangeLog(engine.spark, () => outputSchema, engine.changelogDirFor(viewName))

  // durable recovery is only valid for the SAME defining statement: a
  // same-named MV re-created with a different query must not inherit the
  // old statement's changelog as its own history (SINCE-0 replay would
  // serve ops the new statement never produced). The statement fingerprint
  // lives beside the segments; a mismatch purges the recovered history so
  // this incarnation starts a fresh log.
  private val stmtMd5: String = java.security.MessageDigest.getInstance("MD5")
    .digest(stmt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    .map("%02x".format(_)).mkString

  engine.changelogDirFor(viewName).foreach { d =>
    val marker = java.nio.file.Paths.get(d, "_stmt_md5")
    val prev =
      if (java.nio.file.Files.exists(marker))
        Some(new String(java.nio.file.Files.readAllBytes(marker),
          java.nio.charset.StandardCharsets.UTF_8))
      else None
    if (prev.exists(_ != stmtMd5)) {
      changeLog.purge()
      // a stale snapshot belongs to the old statement too
      engine.mvSnapshotDirFor(viewName).foreach(SegmentFiles.delete)
    }
    if (!prev.contains(stmtMd5)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.write(marker,
        stmtMd5.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
  @volatile private[engine] var snapshot: Option[DataFrame] = None
  @volatile private[engine] var query: Option[StreamingQuery] = None
  private[engine] var keyCols: Seq[String] = Nil
  private[engine] var keyMode: MaterializedView.KeyMode = MaterializedView.Multiset
  private[engine] var streamingMode = false
  private[engine] var isAggMode = false


  // changelog-cascade state (agg-over-agg MV chains, and — round 8 —
  // aggregates over changelog-emitting PK/upsert/DML-mutated live tables):
  // the downstream maintainer consumes its upstreams' 4-op changelogs as
  // retraction streams — see [[tryStartCascade]]/[[cascadeRefresh]]
  private[engine] var cascadeMode = false
  private[engine] var cascadeUpstreams: Seq[MaterializedView.CascadeSrc] = Nil
  private[engine] val cascadeOffsets = scala.collection.mutable.Map[String, Long]()
  /** Executable SQL the cascade maintains: the rewritten statement, with a
    * top-level HAVING folded into the select list as [[havingCol]] so state
    * and touched-key detection run on the pre-HAVING aggregate. */
  private[engine] var cascadeStmt: String = ""
  /** Decomposable-aggregate layout when the cascade folds deltas
    * algebraically instead of recomputing touched groups ([[DeltaAgg]]);
    * None = recompute mode. */
  private[engine] var deltaAggSpec: Option[DeltaAgg.Spec] = None
  /** Changelog sources under a null-padded outer-join side BELOW the
    * admitted aggregate (round 11): their fold term is the aux-partial
    * pair over restricted Q(new)/Q(old) — [[restrictOuterToDelta]]
    * composed with [[DeltaAgg.aux]] — because the aggregate's child is
    * not linear in them. */
  private[engine] var aggOuterNonLinear: Set[String] = Set.empty
  /** Changelog sources read only inside subquery expressions below the
    * aggregate (round 11): aux-partial pair over PLAIN Q(new)/Q(old). */
  private[engine] var aggSubqNonLinear: Set[String] = Set.empty
  /** Carried per-group auxiliary state of the delta-accumulating cascade
    * (keys + counters/sums); [[cascadeInner]] stays the derived visible
    * (pre-HAVING) projection over it. */
  @volatile private[engine] var auxState: Option[DataFrame] = None
  private[engine] var cascadeHasHaving = false
  /** Pre-HAVING keyed state (== the visible snapshot when no HAVING). */
  private[engine] var cascadeInner: Option[DataFrame] = None

  // delta-join cascade state (round 9): NON-aggregate multilinear
  // statements — projections, filters, inner/cross joins, UNION ALL —
  // over changelog-emitting sources maintain via signed delta joins
  // instead of batch re-run — see [[tryStartJoinCascade]]/
  // [[joinCascadeEpoch]]. State is the output multiset, carried grouped
  // as (row → count) in [[cascadeInner]] with [[MaterializedView.CntCol]].
  private var joinMode = false
  /** Whether the statement actually joins — the delta views carry a
    * broadcast hint only then (a hint on a join-less projection/filter
    * fold is a no-op that logs a planner warning per epoch). */
  private var joinHasJoin = false

  /** Changelog sources on a NON-linear (null-padded) side of ANY admitted
    * outer join — both sides for FULL OUTER (lowercased viewNames; empty
    * when the statement has no outer join, or the padded sides read only
    * static tables). These sources maintain via the restricted-difference
    * term — Q(…,jⁿᵉʷ,…) ⊖ Q(…,jᵒˡᵈ,…) with the owning outer join's other
    * side semi-join-restricted to the rows that can match the delta —
    * instead of the simple delta rebinding, which is only sound for
    * sources the statement is linear in (round 10 single outer; round 11
    * any number of outer joins + FULL — null-extension is not linear in
    * the padded side). */
  private var joinOuterNonLinear: Set[String] = Set.empty

  /** Changelog sources referenced ONLY inside subquery expressions
    * (round 11): `WHERE x IN (SELECT k FROM live_dim)` and friends. The
    * statement is not linear in them (a membership flip retracts outer
    * rows no Q(Δ) can name), and no Join node exists to restrict — their
    * term is the PLAIN difference Q(…,uⁿᵉʷ,…) ⊖ Q(…,uᵒˡᵈ,…): two
    * evaluations whose unchanged rows cancel in the signed net. A
    * dim-side epoch therefore costs ~one batch re-run — the admission's
    * value is that the HIGH-RATE side (the outer/fact source) keeps its
    * delta-proportional terms, where the rejected statement re-ran batch
    * on EVERY epoch. The subquery's inner plan is a black box: it never
    * binds a delta, only whole old/new source snapshots, so aggregates or
    * sorts inside it are fine. */
  private var joinSubqNonLinear: Set[String] = Set.empty


  /** For append-only streaming MVs (stateless plans): the MV's streaming
    * face — downstream MVs bind to it and maintain incrementally (streaming
    * MV-on-MV chains). The face is a file-source stream over the MV's OWN
    * executor-written changelog segments ([[ChangeLog.appendDF]] commits
    * one parquet segment per epoch): backfill is the initial file listing
    * (an append-only MV's Insert log IS its history), each epoch's delta is
    * the newly-committed segment, and no row ever crosses the driver — the
    * whole chain stays dataflow-side, like the reference server's
    * (`risingwave/core.py:451-456`). Aggregating MVs have no face: their
    * deltas are updates, which a downstream streaming aggregate would
    * double-count; chains over them consume the 4-op changelog
    * ([[tryStartCascade]]) instead.
    *
    * Fallback: once retention pruning has dropped segments the log no
    * longer replays the full history, so a LATE-attaching reader falls back
    * to a snapshot-backfilled MemoryStream (one per reader, fed per epoch
    * in [[handleDelta]]) — the only remaining driver hop, taken only on a
    * pruned log. */
  private val faceStreams = scala.collection.mutable.Map[String,
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row]]()

  private def fileFace(): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.readStream
      .schema(changeLog.changeSchema)
      // recovered durable segments can be arbitrarily old — never age-out
      .option("maxFileAge", "3650d")
      // a concurrent retention prune may unlink a segment between listing
      // and read; expired history is exactly what retention means
      .option("ignoreMissingFiles", "true")
      .parquet(s"${changeLog.segmentDir}/seg-*")
      .where(col("op") === "Insert")
      .select(outputSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private[engine] def streamingFaceFor(reader: String): Option[DataFrame] = synchronized {
    // top-N MVs have no face either: rows LEAVE the snapshot when displaced,
    // and an append-only face cannot retract them for a downstream reader
    if (streamingMode && !isAggMode && !topNMode) Some {
      val useFile = !faceStreams.contains(reader) && {
        // register BEFORE the completeness probe: prune() refuses to
        // unlink while any face reader is bound, so a retention prune
        // cannot slip between this check and the file source's first
        // listing (or under the stream later) — the race the round-7
        // advisory called out
        changeLog.bindFaceReader(reader)
        changeLog.historyComplete || { changeLog.unbindFaceReader(reader); false }
      }
      if (useFile) fileFace()
      else faceStreams.getOrElseUpdate(reader, {
        import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
        val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outputSchema))
        val st = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row](enc, spark)
        // backfill: for an append-only MV the snapshot IS the history
        snapshot.foreach(s => st.addData(s.collect().toSeq))
        st
      }).toDF()
    } else None
  }

  /** Stop buffering face batches for a fallback (MemoryStream) reader, and
    * release a file-face reader's prune hold (downstream MV dropped,
    * demoted, or failed to start streaming). */
  private[engine] def dropFaceReader(reader: String): Unit = synchronized {
    faceStreams -= reader
    changeLog.unbindFaceReader(reader)
  }

  private[graft] def isStreamingMode: Boolean = streamingMode

  /** True when maintained by the incremental top-N path (stream inner +
    * re-truncate), not batch re-run. */
  private[graft] def isTopNMode: Boolean = topNMode

  /** True when maintained incrementally by consuming the upstream MV's 4-op
    * changelog as a retraction stream (agg-over-agg chains), not batch
    * re-run. */
  private[graft] def isChangelogCascadeMode: Boolean = cascadeMode

  /** True when maintained by the streaming session-window path (stream raw
    * rows + re-sessionize the carried state per epoch), not batch re-run. */
  private[graft] def isSessionMode: Boolean = sessionMode

  /** True when maintained by the delta-join cascade (signed delta joins of
    * a non-aggregate multilinear statement), not batch re-run. */
  private[graft] def isDeltaJoinMode: Boolean = joinMode

  /** True when maintained by the window cascade (touched-partition
    * recompute of a window-function statement), not batch re-run. */
  private[graft] def isWindowCascadeMode: Boolean = windowMode
  private[graft] def isGlobalWindowMode: Boolean = windowGlobalMode

  /** True when the cascade folds COUNT/SUM deltas algebraically into
    * carried aux state ([[DeltaAgg]]) instead of recomputing touched
    * groups against the source snapshot — the plain aggregate cascade or
    * a grouped top-N whose inner folds. */
  private[graft] def isDeltaAggMode: Boolean =
    cascadeMode && !sessionMode && !joinMode && deltaAggSpec.nonEmpty

  /** Rebind the MV's name to its current snapshot (after withStreamingViews
    * temporarily bound the streaming face). */
  private[engine] def restoreView(): Unit = df.createOrReplaceTempView(viewName)

  /** Output schema of the MV (resolved at creation). */
  lazy val outputSchema: org.apache.spark.sql.types.StructType =
    spark.sql(engine.rewrite(stmt)).schema

  /** How epoch diffs are keyed (SURVEY §4.2 W3):
    *  - [[MaterializedView.Keyed]]: the output retains grouping keys → keyed
    *    upsert diff (UpdateDelete/UpdateInsert per changed key);
    *  - [[MaterializedView.GlobalRow]]: a global aggregate — one row, keyed
    *    on nothing; its change is an update pair;
    *  - [[MaterializedView.Multiset]]: keyless multi-row results (grouping
    *    keys projected away, or plain row streams) — per-distinct-row count
    *    deltas, correct under duplicate rows.
    * Only Keyed plans may run in streaming update mode: an update-mode delta
    * without key columns can't be merged back into the snapshot (it would
    * key on aggregate VALUES and retain stale rows). */
  private[engine] def deriveMode(df: DataFrame): MaterializedView.KeyMode = {
    val plan = df.queryExecution.analyzed
    plan.collectFirst { case a: Aggregate =>
      if (a.groupingExpressions.isEmpty) MaterializedView.GlobalRow
      else {
        val keys = a.aggregateExpressions.collect {
          case ar: AttributeReference if a.groupingExpressions.exists(_.semanticEquals(ar)) => ar.name
          case al: Alias if a.groupingExpressions.exists(_.semanticEquals(al.child)) => al.name
        }
        // Keyed is only sound when EVERY grouping expression survives in
        // the output: a partial key (GROUP BY k1, k2 projecting only k1)
        // is non-unique, and merging on it would drop sibling groups' rows
        val allCovered = a.groupingExpressions.forall(g => a.aggregateExpressions.exists {
          case ar: AttributeReference => ar.semanticEquals(g)
          case al: Alias => al.child.semanticEquals(g)
          case _ => false
        })
        if (allCovered && keys.nonEmpty) MaterializedView.Keyed(keys.distinct)
        else MaterializedView.Multiset
      }
    }.getOrElse {
      // aggregate-free plan over exactly one PK table that keeps the full
      // PK in its output: diff on the PK, so row updates surface as
      // UpdateDelete/UpdateInsert pairs rather than unrelated Delete+Insert
      engine.referencedLiveTables(stmt).filter(_.primaryKey.nonEmpty) match {
        case Seq(t) if t.primaryKey.forall(df.columns.contains) =>
          MaterializedView.Keyed(t.primaryKey)
        case _ => MaterializedView.Multiset
      }
    }
  }

  /** Streaming-update mode is only safe when every node between the root and
    * the top-level Aggregate is a Project/SubqueryAlias: a Filter above the
    * agg (HAVING) would silently swallow retractions of keys that leave the
    * predicate, and joins/sorts of aggregates are not incremental in update
    * mode either. The Aggregate's own subtree must also be aggregate-free —
    * stacked aggregations are rejected by Spark's streaming planner at
    * start(), so they fall back to batch re-run here. */
  private[engine] def streamingSafe(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def aggFree(p: LogicalPlan): Boolean =
      !p.exists { case _: Aggregate => true; case _ => false }
    def walk(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.children.forall(aggFree)
      case pr: Project => walk(pr.child)
      case s: SubqueryAlias => walk(s.child)
      case other => aggFree(other)
    }
    walk(plan)
  }

  /** RisingWave's emit policy clause: final-only emission of closed
    * windows. Detected on the raw statement (the dialect strips it before
    * parsing). The aggregate still runs in update mode; the maintainer
    * holds each window in a pending buffer and emits it exactly once, as an
    * Insert, when the watermark passes window_start + the TVF's window
    * size ([[closeDurMs]]). Requires a watermarked source, a tumble()/hop()
    * TVF (for the window size), and window_start in the output — otherwise
    * the MV falls back to batch re-run (eager-emission superset). */
  private[engine] val emitOnClose =
    "(?i)EMIT\\s+ON\\s+WINDOW\\s+CLOSE".r.findFirstIn(stmt).nonEmpty

  /** Window size of the statement's tumble/hop TVF, for closure checks. */
  private lazy val closeDurMs: Option[Long] = {
    val tum = """(?is)tumble\s*\(\s*[\w.]+\s*,\s*[\w.]+\s*,\s*interval\s+'([^']+)'\s*\)""".r
    val hop = """(?is)hop\s*\(\s*[\w.]+\s*,\s*[\w.]+\s*,\s*interval\s+'[^']+'\s*,\s*interval\s+'([^']+)'\s*\)""".r
    hop.findFirstMatchIn(stmt).map(m => Dialect.intervalMillis(m.group(1)))
      .orElse(tum.findFirstMatchIn(stmt).map(m => Dialect.intervalMillis(m.group(1))))
  }

  /** EMIT ON WINDOW CLOSE is only usable when the window size is known
    * (tumble/hop TVF present), window_start survives in the output, and the
    * source carries a watermark (otherwise nothing would ever close). Must
    * hold BEFORE admitting a non-Keyed aggregate to streaming mode — a
    * failed precondition with the clause present must fall back to batch
    * re-run, not to a value-keyed update merge. */
  private def eowcEligible(df: DataFrame): Boolean =
    emitOnClose && closeDurMs.nonEmpty &&
      df.columns.contains("window_start") && watermarks.nonEmpty

  /** Current event-time watermark (ms): the maintainer query's (most
    * recent completed micro-batch) in streaming mode, or the fold-side
    * watermark [[cascadeWatermarkMs]] advanced from epoch max event times
    * in cascade mode. 0 before the first. */
  private[engine] def watermarkMs: Long =
    if (cascadeMode) cascadeWatermarkMs
    else query.flatMap(q => Option(q.lastProgress))
      .flatMap(p => Option(p.eventTime).flatMap(m => Option(m.get("watermark"))))
      .map(ts => java.time.Instant.parse(ts).toEpochMilli)
      .getOrElse(0L)

  /** Fold-side watermark for cascade-maintained session MVs: advanced to
    * (max event time of the epoch's inserted rows − declared delay). The
    * declared watermark is the user's promise that data below it is FINAL
    * — under a retraction-emitting source that promise extends to
    * retractions, so a fold op under a frozen cut is gated exactly like a
    * late row (the reference's late-data stance). */
  @volatile private[engine] var cascadeWatermarkMs: Long = 0L

  @volatile private var pending: Option[DataFrame] = None

  /** Null-safe (<=>) semi/anti join on the key columns — grouping keys can
    * legitimately be NULL, and a plain equi-join would never match them, so
    * the snapshot would retain stale NULL-key rows forever.
    *
    * The key side is BROADCAST: it is always the epoch's touched-key set
    * (orders smaller than the carried state), and a broadcast hash join
    * avoids shuffling the state side at all — the same asymmetry holds at
    * 100 TB, where the state is the large side by construction. Without
    * the hint each maintenance epoch paid a two-sided shuffle per
    * semi/anti join (measured ~0.3-0.5 s/epoch of pure exchange overhead
    * at bench scale). */
  private[engine] def keyJoin(left: DataFrame, keysDf: DataFrame, how: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // Driver-side probe (round 15): when both frames are LocalRelations
    // (carried state tiers + touched-key frames — the steady-state epoch),
    // the broadcast semi/anti spelling below still pays an AQE broadcast-
    // materialization job per build plus a collect job per consumer; the
    // hash probe here is job-free and returns a LocalRelation the
    // optimizer keeps collapsing (Project/Filter over LocalRelation fold
    // to LocalRelation, so downstream diffs collect with ZERO jobs).
    // Gated on key types whose JVM equality matches SQL <=> (decimals
    // normalize scale); float/double keys and any distributed frame (the
    // 100 TB path) keep the broadcast join.
    if (how == "left_semi" || how == "left_anti") {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      lazy val typesOk = keyCols.forall(k => left.schema(k).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             _: org.apache.spark.sql.types.DecimalType => true
        case _ => false
      }) &&
        // both frames must agree positionally: the probe compares boxed JVM
        // values, while the broadcast <=> it replaces coerces mismatched
        // numeric widths (Integer vs Long would silently never match here)
        keysDf.schema.fields.map(_.dataType).toSeq ==
          keyCols.map(k => left.schema(k).dataType)
      if (left.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] &&
          keysDf.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] &&
          typesOk) {
        def norm(v: Any): Any = v match {
          case d: java.math.BigDecimal => d.stripTrailingZeros
          case x => x
        }
        val lsch = left.schema
        val kIdx = keyCols.map(lsch.fieldIndex)
        // keysDf carries the key columns positionally in keyCols order
        // (the broadcast spelling renames them positionally too)
        val keySet = keysDf.collect().iterator
          .map(_.toSeq.map(norm).toList).toSet
        val want = how == "left_semi"
        val kept = left.collect().iterator
          .filter(r => keySet.contains(kIdx.map(i => norm(r.get(i))).toList) == want)
          .toIndexedSeq
        return localDf(kept, lsch)
      }
    }
    val kr = keysDf.toDF(keyCols.map(c => s"__k_$c"): _*)
    left.join(broadcast(kr),
      keyCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _), how)
  }

  /** True while the MV's initial materialization is rebuilding state a
    * recovered (durable) changelog already records: a reopened engine
    * restores tables and changelog segments, so the re-created MV's
    * backfill diff would otherwise re-emit the whole history as fresh ops
    * and SINCE-0 replay after reopen would diverge from before. Consumed
    * entirely within [[start]] — the backfill epoch is drained
    * synchronously there. */
  @volatile private[engine] var recovering = false

  /** `wide = true` on initial-backfill epochs: the delta is the whole
    * statement result, so the changelog append keeps the caller's
    * multi-partition sort instead of the steady-state single-task funnel
    * ([[ChangeLog.appendDF]]). */
  private[engine] def emitOps(ops: DataFrame, wide: Boolean = false): Unit =
    if (!recovering) {
      timed("emitOps")(changeLog.appendDF(ops, wide))
      epochEmitted = true
    }

  /** True once THIS epoch's ops committed to the changelog (reset at each
    * epoch entry). The interrupt-safety finally blocks key on it: an escape
    * that bypasses the NonFatal repair handler (InterruptedException is not
    * NonFatal) restores the pre-epoch source offsets ONLY while nothing was
    * emitted — the next epoch then re-folds the same delta against the
    * unmutated state; after a commit the offsets must stand (a restore
    * would double-emit) and every epoch body orders its fallible state
    * work BEFORE the commit, so post-commit state is already consistent. */
  private[engine] var epochEmitted = false

  /** Restore the captured pre-epoch changelog offsets (see
    * [[epochEmitted]]) so an interrupted epoch's delta is not lost. */
  private[engine] def restoreOffsets(prev: Map[String, Long]): Unit =
    prev.foreach { case (k, v) => cascadeOffsets(k) = v }

  /** Start a maintainer stream under the configured streaming parallelism
    * ([[ConnOptions.streamShufflePartitions]] — RisingWave's
    * `streaming_parallelism` analogue): writeStream.start() clones the
    * session and freezes its conf, which fixes the query's state-store
    * partition count, so setting the shuffle width around start() and
    * restoring it scopes the override to this maintainer only. */
  private[engine] def startMaintainer(f: => StreamingQuery): StreamingQuery =
    engine.options.streamShufflePartitions match {
      case None => f
      case Some(n) =>
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, n.toString)
        try f finally spark.conf.set(key, prev)
    }

  /** Run `f` under this MV's `view:phase` tag ([[GraftEngine.timed]]). */
  private[engine] def timed[T](phase: String)(f: => T): T =
    GraftEngine.timed(spark, viewName, phase)(f)

  /** MVs this statement may read, taken once at start: a FLUSH refreshes
    * this MV only after all of them have settled. A word-boundary name
    * match ([[GraftEngine.mentionedMvs]]) rather than the parsed plan's
    * relations, so an MV read only inside a subquery or a CTE body is
    * still an upstream. */
  @volatile private[graft] var flushUpstreams: Seq[MaterializedView] = Nil

  private[engine] def start(): Unit = {
    flushUpstreams = engine.mentionedMvs(stmt, excluding = (schemaName, name))
    recovering = changeLog.latestOffset > 0
    try startModes() finally recovering = false
  }

  private def startModes(): Unit = {
    // MVs over PK/upsert tables must re-run in batch mode: the streaming
    // face is the raw version-append log, so a streaming aggregate would
    // count every version of a key; the batch face applies the upsert
    // resolution first. Same for tables already rewritten by UPDATE/DELETE
    // — their MemoryStream still replays the pre-mutation appends.
    val readsPkTable = engine.referencedLiveTables(stmt)
      .exists(t => t.primaryKey.nonEmpty || t.mutated)

    // `... ORDER BY ... LIMIT n` statements are not streamable as-is
    // (Spark's streaming planner rejects sorts), but they ARE incrementally
    // maintainable. Grouped (aggregate-inner) top-N prefers the cascade-
    // backed maintainer (all state carried → durable snapshots; PK/upsert
    // and DML-mutated sources admissible via their changelogs); raw top-N
    // and ineligible inners stream + re-truncate per epoch as before.
    if (!emitOnClose &&
        Dialect.splitTopNTail(stmt).exists { case (inner, order, n) =>
          tryStartTopNCascade(inner, order, n) ||
            (!readsPkTable && tryStartTopN(inner, order, n)) })
      return

    // `session(...)` TVF statements stream through their own path: session
    // bounds merge as rows arrive, which neither append nor update output
    // modes can express (a merge retracts the sessions it absorbs). Under
    // EMIT ON WINDOW CLOSE the same path emits only FROZEN sessions —
    // requires a watermark (nothing would ever close without one; falls
    // back to batch re-run, the eager-emission superset). PK/upsert
    // sources fold the table changelog instead (round 9).
    if (Dialect.sessionTvf(stmt).exists { case (tbl, ts, _) =>
          (!emitOnClose && tryStartSessionCascade(ts)) ||
            (!readsPkTable && !(emitOnClose && watermarks.isEmpty) &&
              tryStartSession(tbl, ts)) })
      return

    val streamDf =
      if (readsPkTable) None
      else try Some(engine.withStreamingViews(watermarks, stmt, viewName)(spark.sql(engine.rewrite(stmt))))
        .filter { df =>
          val isAgg = df.queryExecution.analyzed.collectFirst { case _: Aggregate => true }.nonEmpty
          // Keyed is required even under EMIT ON WINDOW CLOSE: the pending
          // buffer merges on keyCols, and a non-Keyed aggregate would merge
          // on aggregate VALUES — a window whose aggregate updates while
          // open would then emit BOTH versions at close. Non-Keyed EOWC
          // falls back to batch re-run (eager-emission superset, correct).
          streamingSafe(df.queryExecution.analyzed) &&
            (!isAgg || deriveMode(df).isInstanceOf[MaterializedView.Keyed])
        }
      catch { case _: Throwable => None }

    val startedStreaming = streamDf.filter(_.isStreaming).exists { sdf =>
      val isAgg = sdf.queryExecution.analyzed.collectFirst { case _: Aggregate => true }.nonEmpty
      isAggMode = isAgg
      keyMode = if (isAgg) deriveMode(sdf) else MaterializedView.Multiset
      keyCols = keyMode match {
        case MaterializedView.Keyed(ks) => ks
        case _ => sdf.columns.toSeq
      }
      val eowc = isAgg && eowcEligible(sdf)
      val handler: (Dataset[Row], Long) => Unit =
        if (eowc) (batch, _) => handleEowcDelta(batch.toDF())
        else (batch, _) => handleDelta(batch.toDF(), isAgg)
      // make the (still empty) MV immediately queryable/referencable —
      // dependent MVs and fetches may resolve it before the first epoch
      if (snapshot.isEmpty) df.createOrReplaceTempView(viewName)
      // streaming start can still fail for plan shapes the classifier lets
      // through (Spark's UnsupportedOperationChecker is stricter) — any such
      // failure falls back to batch re-run mode, which is always correct
      // (batch EOWC emits open windows too — an eager-emission superset)
      try {
        query = Some(startMaintainer(
          sdf.writeStream
            .outputMode(if (isAgg) "update" else "append")
            .foreachBatch(handler)
            .queryName(s"${viewName}_maintainer")
            .start()))
        streamingMode = true
        // reopen recovery: drain the backfill epoch synchronously while
        // suppression is active — it rebuilds state the recovered changelog
        // already records (new ingest can only arrive after start returns)
        if (recovering) query.foreach(_.processAllAvailable())
        true
      } catch { case _: Throwable => false }
    }

    if (!startedStreaming) {
      // release any reader streams the failed streaming attempt attached
      // (they would buffer every future batch for a maintainer that never
      // runs), then try the changelog-cascade path before batch re-run
      engine.releaseStreamReaders(viewName)
      streamingMode = false
      // cascade admission no longer excludes live-table sources: PK/upsert
      // and DML-mutated tables emit their own 4-op changelog (round 8), so
      // the reference's canonical upsert-table→aggregate-MV shape folds
      // deltas instead of batch re-running every FLUSH
      if (!emitOnClose && tryStartCascade()) return
      // non-aggregate multilinear statements (projections / filters /
      // inner joins / UNION ALL) fold signed delta joins instead of batch
      // re-running — the classical IVM delta-join rule (round 9)
      if (!emitOnClose && tryStartJoinCascade()) return
      // window-function statements maintain by touched-partition
      // recompute (round 10) — a delta names the partitions whose window
      // results can change, and only those re-rank
      if (!emitOnClose && tryStartWindowCascade()) return
      // global / untraceable-key windows (round 12): fold the linear
      // prefix's delta into a carried input multiset and re-evaluate the
      // window suffix over the state — never re-scan the source
      if (!emitOnClose && tryStartGlobalWindow()) return
      val df = spark.sql(engine.rewrite(stmt))
      keyMode = deriveMode(df)
      keyCols = keyMode match {
        case MaterializedView.Keyed(ks) => ks
        case _ => df.columns.toSeq
      }
      // durable reopen: a persisted snapshot at the same changelog
      // position replaces the initial statement evaluation — the next
      // FLUSH re-evaluates and diffs as batch mode always does
      if (!tryRestoreSnapshot()) refresh()
    }
  }

  /** Spec probe: whether this MV's changelog still replays its complete
    * history (false once retention pruning dropped segments — durable
    * across reopen via the on-disk marker). */
  private[graft] def changelogHistoryComplete: Boolean = changeLog.historyComplete

  /** Rows the streaming maintainer has consumed since start — spec probe:
    * a durable restore's backfill epoch must be EMPTY (the face is
    * seq-gated past the snapshot position), while replay-based recovery
    * re-streams the whole source history. */
  private[graft] def consumedRows: Long = synchronized {
    query.toSeq.flatMap(_.recentProgress.map(_.numInputRows)).sum
  }

  /** Changelog-cascade admission: the statement is a Keyed or global
    * (GlobalRow) aggregate over one or more changelog-emitting upstreams —
    * MVs and/or live tables — plus, optionally, static catalog tables.
    * Such chains can't bind a streaming face (an MV upstream's deltas are
    * UPDATES/RETRACTIONS, which an append stream can't carry; a PK/upsert
    * or DML-mutated table's raw append log double-counts overwritten
    * versions) — but they ARE incrementally maintainable by consuming the
    * upstreams' 4-op changelogs (the reference's server maintains
    * arbitrary MV-on-MV chains AND MVs over upsert tables this way,
    * `risingwave/core.py:451-456`, `:506-513`): per epoch, the delta
    * payloads (both halves of each retraction pair) name every downstream
    * group whose input changed; only those groups are recomputed and
    * folded into state ([[cascadeRefresh]]). Works over ANY
    * changelog-emitting upstream — update-mode aggregate, top-N, session,
    * EOWC, a table's upsert/DML diff, even an MV demoted to batch re-run —
    * because the 4-op envelope is mode-independent. Live-table upstreams
    * have emission switched on at admission ([[LiveTable.enableChangelog]]
    * — lazy, so unobserved tables pay no double-write); the initial
    * backfill below covers all pre-admission history. */
  private def tryStartCascade(): Boolean = {
    val tbls = engine.referencedLiveTables(stmt)
    val ups = engine.referencedMvs(stmt, excluding = (schemaName, name))
    if (ups.isEmpty && tbls.isEmpty) return false
    val preOffset = changeLog.latestOffset
    try {
      // SELECT DISTINCT == group-by-every-output: the GROUP BY spelling is
      // the one the cascade maintains incrementally (keys-only fold /
      // touched-group recompute); batch queries keep Spark's Distinct plan
      val rewritten0 = engine.rewrite(stmt)
      val rewritten = Dialect.distinctToGroupBy(rewritten0).getOrElse(rewritten0)
      // HAVING does not demote the chain to batch re-run: the predicate
      // folds into the aggregate's own select list as a boolean column, so
      // state maintenance and touched-key detection run on the PRE-HAVING
      // aggregate (a group's delta-local aggregate may fail the predicate
      // even though its full-state aggregate changed — detecting on the
      // pre-HAVING aggregate sidesteps that trap) and the predicate is
      // applied when the visible snapshot/diff is derived: groups entering
      // or leaving it become Insert/Delete, which the 4-op envelope
      // already expresses ([[cascadeVisible]]).
      val folded = Dialect.foldHaving(rewritten, MaterializedView.HavingCol)
      cascadeHasHaving = folded.nonEmpty
      cascadeStmt = folded.getOrElse(rewritten)
      val df = spark.sql(cascadeStmt)
      val analyzed = df.queryExecution.analyzed
      val isAgg = analyzed.collectFirst { case _: Aggregate => true }.nonEmpty
      if (!isAgg || !streamingSafe(analyzed)) return false
      // a window FUNCTION below the aggregate breaks touched-key
      // derivation: a delta row can shift NEIGHBOR rows' window values
      // (lag/rank/...), changing groups the delta payload never names —
      // those statements must batch re-run (round-10 hazard fix; the
      // boundary guard keeps source views' own resolution windows, e.g.
      // the PK batch face's row_number, out of the scan)
      val winBoundary = (tbls.map(_.viewName) ++ ups.map(_.viewName))
        .map(_.toLowerCase).toSet
      if (windowsAbove(analyzed, winBoundary).nonEmpty) return false
      val mode = deriveMode(df)
      mode match {
        case k: MaterializedView.Keyed => keyCols = k.keys
        // a global aggregate is ONE group — every upstream change touches
        // it, so the epoch recompute below degenerates to re-evaluating the
        // single row over the upstreams' compacted state (no touched-key
        // derivation needed) and diffing it as an update pair
        case MaterializedView.GlobalRow => keyCols = Nil
        // Multiset (grouping keys projected away) can't merge deltas back
        // into state by key — batch re-run is the only correct maintainer
        case MaterializedView.Multiset => return false
      }
      keyMode = mode
      isAggMode = true
      cascadeUpstreams =
        ups.map(u => MaterializedView.CascadeSrc(u.viewName, u.changeLog, () => u.df)) ++
          tbls.map(t => MaterializedView.CascadeSrc(t.viewName, t.enableChangelog(), () => t.batchDF))
      cascadeMode = true
      // algebraic delta-accumulation (round 9): a Keyed aggregate whose
      // child is multilinear in its SINGLE changelog source and whose
      // aggregate calls are decomposable (COUNT / integral-or-decimal
      // SUM) folds the changelog into carried aux state instead of
      // re-scanning the source per epoch — see [[DeltaAgg]]
      deltaAggSpec = mode match {
        // Keyed and GlobalRow both fold; Multiset was rejected above
        case _: MaterializedView.Keyed | MaterializedView.GlobalRow =>
          admitDeltaAgg(df, ups, tbls)
        case _ => None
      }
      // linear sources first (same discipline as the delta-join cascade)
      if (deltaAggSpec.nonEmpty)
        cascadeUpstreams = cascadeUpstreams.sortBy(u =>
          aggOuterNonLinear.contains(u.viewName.toLowerCase) ||
            aggSubqNonLinear.contains(u.viewName.toLowerCase))
      // durable reopen: restored state + consumed upstream offsets resume
      // maintenance exactly where the previous incarnation stopped —
      // otherwise backfill over the upstreams' current state
      if (!tryRestoreSnapshot()) cascadeRefresh()
      true
    } catch { case _: Throwable =>
      cascadeMode = false; cascadeUpstreams = Nil
      deltaAggSpec = None; auxState = None
      // a half-finished initial backfill must not leave half-committed
      // state behind: if no ops were emitted, dropping the snapshot lets
      // the batch fallback run its own (single) Insert backfill; if ops
      // WERE emitted, the snapshot was committed first (emit is the last
      // step), so the fallback diffs against it and emits no duplicates
      if (changeLog.latestOffset == preOffset) {
        snapshot = None; cascadeInner = None
      }
      false
    }
  }

  /** One cascade epoch: consume each upstream's changelog rows past the
    * consumed offset (executor-side segment scan — no driver round-trip),
    * derive the touched downstream keys by evaluating the statement over
    * the delta payloads, recompute exactly those groups against the
    * upstreams' current snapshots, and diff them against the carried
    * state — emitting Inserts, UpdateDelete/UpdateInsert pairs, AND
    * Deletes (a group whose last input rows retracted vanishes, which
    * plain update-mode streaming never expresses).
    *
    * Touched-key derivation retargets the statement once PER CHANGED
    * upstream onto a PRIVATE view over that upstream's delta — public view
    * names are never rebound, so a concurrent fetch cannot observe delta
    * rows and no engine-level lock is needed. When several joined
    * upstreams changed in the same epoch, the OTHER changed upstreams bind
    * to (snapshot ∪ delta payload): a joined pair whose two sides BOTH
    * retracted this epoch appears in neither new snapshot, and evaluating
    * the delta against the new snapshot alone would miss its group — the
    * union is a superset, and over-touching only recomputes groups
    * idempotently. A pathological same-named column would mis-retarget and
    * fail to analyze — the fallback recomputes ALL keys (correct, just not
    * delta-proportional).
    *
    * Offset discipline: `latest` offsets are read BEFORE the delta /
    * snapshot reads, so a concurrently-appended epoch is at worst
    * re-consumed next time — harmless, because touched-key recomputation
    * against the current snapshots is idempotent.
    *
    * 100 TB shape: per-epoch work = one aggregate over the upstream MVs'
    * state (already compacted — orders smaller than the raw table; no raw
    * scan) + diffs/merges proportional to the touched keys. */
  private def cascadeRefresh(): Unit = synchronized {
    import org.apache.spark.sql.functions.col
    if (cascadeUpstreams.isEmpty) return
    val latests = cascadeUpstreams.map(u => u -> u.log.latestOffset)
    val anyNew = latests.exists { case (u, l) =>
      l > cascadeOffsets.getOrElse(u.viewName, 0L) }
    if (!anyNew && snapshot.nonEmpty) return

    if (snapshot.isEmpty) {
      latests.foreach { case (u, l) => cascadeOffsets(u.viewName) = l }
      statementEvals += 1
      deltaAggSpec match {
        case Some(spec) =>
          // the backfill evaluates the AUX aggregation once over the
          // source's current state; the visible projection derives lazily
          val auxFull = try
            DeltaAgg.aux(spark, spec, spark.sql(cascadeStmt).queryExecution.analyzed)
              .localCheckpoint(true)
          catch { case t: Throwable => deltaAggSpec = None; throw t }
          auxState = Some(auxFull)
          cascadeInner = Some(DeltaAgg.visible(auxFull, spec))
        case None =>
          cascadeInner = Some(spark.sql(cascadeStmt).localCheckpoint(true))
      }
      val vis =
        if (deltaAggSpec.nonEmpty) cascadeVisible(cascadeInner.get)
        else cascadeVisible(cascadeInner.get).localCheckpoint(true)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      // ops are emitted LAST: a checkpoint/view failure above leaves no
      // emitted history, so if tryStartCascade falls back to batch re-run
      // its own backfill is the first (and only) Insert epoch in SINCE-0
      // replay — emitting first would double the backfill on failure
      emitOps(Changelog.diff(None, vis, keyCols, wide = true), wide = true)
    } else {
      val prevOffsets = latests.map { case (u, _) =>
        u.viewName -> cascadeOffsets.getOrElse(u.viewName, 0L) }.toMap
      val parts: Seq[(MaterializedView.CascadeSrc, Option[DataFrame])] =
        latests.map { case (u, l) =>
          val after = cascadeOffsets.getOrElse(u.viewName, 0L)
          val p = if (l > after)
            Some(u.log.dfAfter(after).drop("rw_timestamp"))
          else None
          cascadeOffsets(u.viewName) = l
          (u, p)
        }
      val changedOps = parts.collect { case (u, Some(p)) => (u, p) }
      if (changedOps.isEmpty) return
      epochEmitted = false
      var settled = false
      try {
        // algebraic fold: COUNT/SUM deltas accumulate into the carried aux
        // state — per-epoch cost ∝ delta, and the sources are never re-scanned
        if (deltaAggSpec.nonEmpty && auxState.nonEmpty &&
            deltaAggEpoch(changedOps)) { settled = true; return }
        val changed = changedOps.map { case (u, p) => (u, p.drop("op")) }
        if (keyCols.isEmpty) {
          // GlobalRow: the one group is touched by definition; recompute it
          // over the upstream snapshots (compacted — orders smaller than raw
          // data) and emit the update pair (or Insert/Delete across a folded
          // HAVING boundary)
          statementEvals += 1
          val newInner = spark.sql(cascadeStmt).localCheckpoint(true)
          emitKeyedDiffLocal(cascadeVisible(cascadeInner.get),
            cascadeVisible(newInner), Nil)
          cascadeInner = Some(newInner)
          val vis = cascadeVisible(newInner)
          snapshot = Some(vis)
          vis.createOrReplaceTempView(viewName)
          settled = true
          return
        }
        val touched = cascadeTouchedKeys(changed)
        if (timed("touched-empty-check")(touched.rdd.isEmpty())) {
          settled = true; return
        }
        statementEvals += 1
        val full = spark.sql(cascadeStmt)
        // per-epoch cost proportional to touched groups relies on Catalyst's
        // PushDownLeftSemiAntiJoin planting the key filter BELOW the final
        // Aggregate (verified to fire for both attribute and expression
        // grouping keys, incl. the null-safe <=> condition). The frame is
        // kept so CascadeMvSpec can pin the property — a Spark
        // upgrade that stops pushing would silently turn every epoch into a
        // full recompute over the upstream snapshots.
        val recompute = keyJoin(full, touched, "left_semi")
        cascadeEpochFrame = Some(recompute)
        val newTouched = timed("group-recompute")(boundedLocal(recompute))
        val prevTouched = keyJoin(cascadeInner.get, touched, "left_semi")
        // state BEFORE ops (same failure discipline as joinCascadeEpoch):
        // the fallible merge materializes first, so any failure leaves
        // with NOTHING emitted and the offset-restore below re-folds the
        // delta next epoch; prevTouched captured the pre-merge frame
        val merged = timed("state-merge")(boundedLocal(
          keyJoin(cascadeInner.get, touched, "left_anti").union(newTouched)))
        // the diff runs on the VISIBLE projection of both sides: with a
        // folded HAVING, a touched group entering the predicate appears only
        // on the new side (Insert) and one leaving it only on the old side
        // (Delete) — the state merge above still carries the full pre-HAVING
        // aggregate so the group stays maintainable either way
        emitKeyedDiffLocal(cascadeVisible(prevTouched),
          cascadeVisible(newTouched), keyCols)
        cascadeInner = Some(merged)
        val vis = cascadeVisible(merged)
        snapshot = Some(vis)
        vis.createOrReplaceTempView(viewName)
        settled = true
      } finally {
        // an escape with nothing committed (incl. InterruptedException,
        // which no handler here catches) must not lose the consumed delta
        if (!settled && !epochEmitted) restoreOffsets(prevOffsets)
      }
    }
  }

  /** Delta-accumulation admission, shared by the plain aggregate cascade
    * and the grouped top-N cascade's inner. Admitted only over a LIVE
    * TABLE source: there, touched-group recompute re-scans RAW rows
    * (>> group count) every epoch, which the fold eliminates. An MV
    * upstream's state is already the aggregate — recompute over it is the
    * same O(state) map-side class as the fold's merge, with fewer
    * per-epoch jobs (measured faster). `cascadeStmt` must already hold
    * the executable statement.
    *
    * Round 11: the aggregate's child may hold outer joins
    * (LEFT/RIGHT/FULL/semi/anti) and live-table subqueries — sources the
    * child is NOT linear in fold via aux-partial DIFFERENCE pairs
    * ([[aggOuterNonLinear]]/[[aggSubqNonLinear]]) instead of the
    * sign-split delta rebinding; aggregate-over-enrichment-join (fact
    * LEFT dim GROUP BY dim col), previously recompute-mode, now folds. */
  private[engine] def admitDeltaAgg(df: DataFrame, ups: Seq[MaterializedView],
                            tbls: Seq[LiveTable]): Option[DeltaAgg.Spec] = {
    if (ups.isEmpty && tbls.isEmpty) return None
    // upstream MVs admit exactly like tables (round 12): their changelogs
    // carry the same 4-op contract, CascadeSrc already exposes snap() for
    // the OLD reconstruction and the extremum re-fetch, and the textual
    // retarget binds their view names — so agg-over-MV cascades (the
    // everyday rollup-over-rollup chain) fold instead of recomputing
    // touched groups against the upstream snapshot
    val srcNames = (tbls.map(_.viewName) ++ ups.map(_.viewName))
      .map(_.toLowerCase)
    val occurrences = spark.sessionState.sqlParser.parsePlan(cascadeStmt)
      .collectWithSubqueries {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".").toLowerCase
      }
    val analyzed = df.queryExecution.analyzed
    aggOuterNonLinear = Set.empty
    aggSubqNonLinear = Set.empty
    val childOk = analyzed.collectFirst { case a: Aggregate => a }.exists { a =>
      val outers = outerJoinsAbove(a.child, srcNames.toSet)
      val admissibleOuter: org.apache.spark.sql.catalyst.plans.JoinType => Boolean = {
        import org.apache.spark.sql.catalyst.plans._
        t => t == LeftOuter || t == RightOuter || t == LeftSemi ||
             t == LeftAnti || t == FullOuter
      }
      if (outers.exists(j => !admissibleOuter(j.joinType))) false
      else if (nonLinearIn(a.child, srcNames.toSet, allowedNodes = outers,
          allowLiveSubquery = true)) false
      else {
        aggOuterNonLinear = outers.flatMap { oj =>
          import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
          oj.joinType match {
            case RightOuter => boundarySourcesIn(oj.left, srcNames.toSet)
            case FullOuter => boundarySourcesIn(oj.left, srcNames.toSet) ++
              boundarySourcesIn(oj.right, srcNames.toSet)
            case _ => boundarySourcesIn(oj.right, srcNames.toSet)
          }
        }.toSet
        aggSubqNonLinear =
          subquerySourcesIn(a.child, srcNames.toSet) -- aggOuterNonLinear
        true
      }
    }
    if (srcNames.forall(n => occurrences.count(_ == n) == 1) && childOk)
      DeltaAgg.admit(analyzed, allowFloat = engine.options.foldFloatingPointAgg)
    else None
  }

  /** Fold one epoch's 4-op deltas into [[auxState]]: per changed source,
    * evaluate the statement's aux partials over the sign-split delta
    * (telescoped — sources after the current term bind to their OLD
    * snapshot, reconstructed as current ⊖ Δ⁺ ⊎ Δ⁻, exactly the delta-join
    * cascade's rule: the aggregate is linear in its child multiset, and
    * the child's delta is the telescoped join delta), merge all partials,
    * and return (newAux, touchedKeys). None = re-targeting failed; the
    * caller drops the spec and recomputes. Shared by [[deltaAggEpoch]]
    * and the grouped top-N epoch. */
  /** Cached analyzed aux-term plans for the single-source linear fold
    * (round 13): the retargeted statement text is IDENTICAL every epoch,
    * so re-parsing and re-resolving it (twice per epoch, once per sign)
    * only rebuilt the same tree around a different delta payload. The
    * first epoch's analyzed aux plan is kept per delta view and each
    * later epoch swaps the view's subtree for an exprId-preserving
    * projection of that epoch's payload frame — the same plan surgery
    * [[evalGlobalSuffix]] uses. Bypassed by multi-source and nonlinear
    * epochs (their OLD-snapshot views rebuild per epoch); cleared with
    * the spec on demotion. */
  private var auxTermTemplates: Map[String,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = Map.empty

  private def auxFromTemplate(view: String, payload: DataFrame)
      (build: => DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias}
    auxTermTemplates.get(view) match {
      case Some(tpl) =>
        val np = payload.queryExecution.analyzed
        var swapped = false
        val out = tpl.transformUp {
          case s: SubqueryAlias if s.alias.equalsIgnoreCase(view) &&
              s.output.length == np.output.length =>
            swapped = true
            Project(s.output.zip(np.output).map { case (o, n) =>
              Alias(n, o.name)(exprId = o.exprId) }, np)
        }
        if (!swapped) // arity drift / alias mismatch: rebuild and re-cache
          { auxTermTemplates -= view; auxFromTemplate(view, payload)(build) }
        else GraftColumnBridge.ofRows(spark, out)
      case None =>
        val df = build
        auxTermTemplates += view -> df.queryExecution.analyzed
        df
    }
  }

  private[engine] def foldAux(changed: Seq[(MaterializedView.CascadeSrc, DataFrame)]):
      Option[(DataFrame, DataFrame)] = {
    import org.apache.spark.sql.functions.col
    val spec = deltaAggSpec.get
    val tempViews = scala.collection.mutable.ArrayBuffer[String]()
    try {
      // single-source epochs: `ops` is already a checkpointed changelog
      // read and each sign slice feeds exactly one aux evaluation, so
      // re-materializing the slices only added two jobs per epoch (epoch
      // latency is job-count-bound). Multi-source epochs — and nonlinear
      // sources, whose slices feed the OLD reconstruction and the
      // restriction payload — keep the checkpoints.
      def nonLin(u: MaterializedView.CascadeSrc): Boolean =
        aggOuterNonLinear.contains(u.viewName.toLowerCase) ||
          aggSubqNonLinear.contains(u.viewName.toLowerCase)
      val parts = changed.map { case (u, ops) =>
        val single = changed.size == 1 && !nonLin(u)
        // driver-local epoch (round 15): ops served from the changelog
        // tail cache is a LocalRelation, so each sign slice pins to ONE
        // partition — every aux term above then plans exchange-free
        // (SinglePartition satisfies the aggregation's required
        // distribution): no per-exchange AQE stage job, no shuffle bytes.
        // Distributed ops (oversize epochs — the 100 TB path) keep the
        // multi-partition plan.
        val opsLocal = ops.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        def slice(d: DataFrame) = {
          val s0 = if (single) d else d.localCheckpoint(true)
          if (opsLocal) s0.coalesce(1) else s0
        }
        val adds = slice(ops.filter(col("op").isin(
          Changelog.OpInsert, Changelog.OpUpdateInsert)).drop("op"))
        val dels = slice(ops.filter(col("op").isin(
          Changelog.OpDelete, Changelog.OpUpdateDelete)).drop("op"))
        (u, adds, dels, opsLocal)
      }
      parts.foreach { case (u, adds, dels, _) =>
        adds.createOrReplaceTempView(epochView("da_add", u.viewName))
        tempViews += epochView("da_add", u.viewName)
        dels.createOrReplaceTempView(epochView("da_del", u.viewName))
        tempViews += epochView("da_del", u.viewName)
        if (parts.size > 1 || nonLin(u)) {
          val cols = adds.columns.toIndexedSeq.map(col)
          // net the window per distinct row BEFORE reconstructing: exceptAll
          // saturates at zero multiplicity, so a row appearing on both the
          // insert and delete side of the consumed window (DML mutate +
          // flush emission between refreshes, upsert round-trip spanning two
          // emissions) would otherwise survive as a phantom in the OLD
          // relation and corrupt the telescoped delta terms. After netting,
          // current ⊖ net⁺ never underflows (old ≥ net-deletes by
          // construction), so the saturating operators are exact.
          val addsNet = adds.exceptAll(dels)
          val delsNet = dels.exceptAll(adds)
          u.snap().select(cols: _*).exceptAll(addsNet).union(delsNet)
            .createOrReplaceTempView(epochView("da_old", u.viewName))
          tempViews += epochView("da_old", u.viewName)
        }
      }
      val partials = parts.zipWithIndex.map { case ((u, adds, dels, _), i) =>
        def laterOld(sql: String): String =
          parts.drop(i + 1).foldLeft(sql) { case (s, (o, _, _, _)) =>
            retarget(s, o.viewName, epochView("da_old", o.viewName))
          }
        if (nonLin(u)) {
          // aux-partial DIFFERENCE pair (round 11): the aggregate's child
          // is not linear in u (null-padded outer side / subquery
          // membership), so evaluate the partials over Q(u:new) and
          // Q(u:old) — rows u's delta cannot affect contribute equal
          // partials to both sides and cancel in the signed merge. Outer
          // sides restrict the owning join's other child to delta-matching
          // rows ([[restrictOuterToDelta]]), keeping the pair
          // delta-proportional; subquery sources evaluate plain (no Join
          // node to restrict — ~one batch-shaped aux per SUBQUERY-side
          // epoch, while the fact side keeps its delta terms).
          val sqlNew = laterOld(cascadeStmt)
          val sqlOld = retarget(sqlNew, u.viewName, epochView("da_old", u.viewName))
          if (!sqlOld.contains(epochView("da_old", u.viewName)))
            throw new IllegalStateException(s"rebinding missed ${u.viewName}")
          def eval(sql: String, src: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
            if (aggOuterNonLinear.contains(u.viewName.toLowerCase)) {
              val payload = adds.unionByName(dels)
              restrictOuterToDelta(spark.sql(sql), src, payload)
                .queryExecution.analyzed
            } else spark.sql(sql).queryExecution.analyzed
          val addAux = DeltaAgg.aux(spark, spec, eval(sqlNew, u.viewName))
          val delAux = DeltaAgg.aux(spark, spec,
            eval(sqlOld, epochView("da_old", u.viewName)))
          (addAux, delAux)
        } else {
          def termSql(deltaView: String): String = {
            val reaimed = retarget(cascadeStmt, u.viewName, deltaView)
            if (!reaimed.contains(deltaView))
              throw new IllegalStateException(s"rebinding missed ${u.viewName}")
            laterOld(reaimed)
          }
          // SINGLE-UPSTREAM statements reuse the first epoch's analyzed
          // plan with the payload swapped in (no re-parse/re-resolve).
          // The guard is on the STATEMENT's upstream count, not the
          // epoch's changed count: with a second live source, the cached
          // plan would freeze that source's first-epoch snapshot subtree
          // (its view re-resolves to CURRENT content only under a fresh
          // analysis), silently folding against stale data.
          val single = cascadeUpstreams.size == 1 && changed.size == 1
          def buildTerm(view: String, payload: DataFrame): DataFrame =
            if (single) auxFromTemplate(view, payload)(DeltaAgg.aux(spark,
              spec, spark.sql(termSql(view)).queryExecution.analyzed))
            else DeltaAgg.aux(spark, spec,
              spark.sql(termSql(view)).queryExecution.analyzed)
          val addAux = buildTerm(epochView("da_add", u.viewName), adds)
          val delAux = buildTerm(epochView("da_del", u.viewName), dels)
          (addAux, delAux)
        }
      }
      // ONE materialization for both sign sides (the old per-side
      // checkpoints were two separate jobs; epoch latency is
      // job-count-bound): union with a sign tag and evaluate once. The
      // partials are GROUPED (≤ one row per touched key per term), so they
      // normally land driver-side as LocalRelations — every downstream
      // broadcast (the merge's touched-key semi/anti, the diff's restrict)
      // then builds job-free, and the touched-key frame derives with no
      // distinct shuffle. Oversized epochs (backfill-class touch sets)
      // fall back to the distributed checkpoint spelling.
      val bothPlan0 = partials.map(_._1).reduce(_ unionByName _)
        .withColumn("__sgn", org.apache.spark.sql.functions.lit(1))
        .unionByName(partials.map(_._2).reduce(_ unionByName _)
          .withColumn("__sgn", org.apache.spark.sql.functions.lit(-1)))
      // all-local epoch: the union's legs are single-partition
      // exchange-free aggregates — fuse them into ONE partition so the
      // bounded collect below is one single-task job (executeTake over k
      // union legs pays a job per scan round)
      val bothPlan =
        if (parts.forall(_._4)) bothPlan0.coalesce(1) else bothPlan0
      val auxRows = timed("delta-aux")(
        bothPlan.limit(cascadeLocalMax + 1).collect())
      val (addAux, delAux, touchedLocal, touchedOuterLocal, localParts) =
        if (auxRows.length <= cascadeLocalMax) {
          val sch = org.apache.spark.sql.types.StructType(
            bothPlan.schema.fields.dropRight(1))
          val tagIdx = sch.length
          def untag(r: Row) = Row.fromSeq(r.toSeq.dropRight(1))
          val adds = auxRows.iterator.filter(_.getInt(tagIdx) == 1)
            .map(untag).toIndexedSeq
          val dels = auxRows.iterator.filter(_.getInt(tagIdx) == -1)
            .map(untag).toIndexedSeq
          // the merge's touched-frame hint is STATE-granularity (outer
          // keys ++ distinct-children columns for two-level specs); the
          // returned frame — the visible diff's restriction — is OUTER
          def touchedOf(names: Seq[String]): DataFrame = {
            val keyIdx = names.map(sch.fieldIndex)
            val tkeys = (adds.iterator ++ dels.iterator)
              .map(r => keyIdx.map(r.get).toList).toSet
            val keySchema = org.apache.spark.sql.types.StructType(
              names.map(k => sch(sch.fieldIndex(k))))
            localDf(tkeys.iterator.map(Row.fromSeq(_)).toIndexedSeq, keySchema)
          }
          val tdf = touchedOf(spec.stateKeys)
          val tdfOuter =
            if (!spec.isTwoLevel || spec.keys.isEmpty) tdf
            else touchedOf(spec.keys)
          (localDf(adds, sch), localDf(dels, sch), Some(tdf), Some(tdfOuter),
            Some((adds, dels)))
        } else {
          val bothAux = bothPlan.localCheckpoint(true)
          (bothAux.filter(col("__sgn") === 1).drop("__sgn"),
            bothAux.filter(col("__sgn") === -1).drop("__sgn"),
            None, None, None)
        }
      // insert-only HLL fold (round 13, verdict #5): a statement-visible
      // retraction cannot fold into a merge-only sketch — the throw lands
      // in the catch below, which drops the spec, and the epoch (plus all
      // later ones) takes the always-correct touched-group recompute
      // (RisingWave's own approx-distinct posture)
      if (spec.hasHll && (delAux.queryExecution.logical match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          lr.data.nonEmpty
        case _ => delAux.take(1).nonEmpty
      })) throw new IllegalStateException(
        "approx_count_distinct fold is insert-only; a retraction demotes to recompute")
      // extremum re-fetch (MIN/MAX slots): recompute EXACTLY the groups
      // whose carried extremum a retraction may have removed, against the
      // sources' current snapshots — the semi-join pushes below the
      // re-aggregation, so the re-fetch is delta-restricted (RisingWave's
      // extremum state-table re-fetch, with the source in that role)
      val refetch: DataFrame => DataFrame = keysDf => {
        statementEvals += 1
        val fullAux = DeltaAgg.aux(spark, spec,
          spark.sql(cascadeStmt).queryExecution.analyzed)
        // underflow is detected at STATE granularity (per inner group for
        // two-level specs), so the semi-restriction joins on state keys
        if (spec.stateKeys.isEmpty) fullAux
        else {
          val kr = keysDf.toDF(spec.stateKeys.map(k => s"__k_$k"): _*)
          fullAux.join(org.apache.spark.sql.functions.broadcast(kr),
            spec.stateKeys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _),
            "left_semi")
        }
      }
      // bounded aux state lands driver-side (LocalRelation): the next
      // epoch's merge probes it job-free and the visible/diff evaluations
      // plan without exchanges; past the bound the distributed checkpoint
      // is the 100 TB path
      val newAux = timed("state-merge")(
        mergeAuxState(spec, addAux, delAux, refetch, touchedLocal, localParts))
      Some((newAux,
        touchedOuterLocal.getOrElse(DeltaAgg.touchedKeys(addAux, delAux, spec))))
    } catch { case t: Throwable =>
      // demotion is correctness-preserving (the caller recomputes touched
      // groups) but must be OBSERVABLE — a silent drop turns every later
      // epoch into the slower path with no trace
      MaterializedView.log.warn(
        s"delta-agg fold for $viewName dropped to touched-group recompute: $t")
      if (t.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
      deltaAggSpec = None
      auxTermTemplates = Map.empty
      None
    } finally tempViews.foreach(spark.catalog.dropTempView(_))
  }

  /** One delta-accumulation epoch ([[DeltaAgg]]): split the source's 4-op
    * delta by sign, evaluate the statement's AUXILIARY partial aggregation
    * over each side (the same Project/Filter/static-join pipeline the
    * statement applies, re-targeted at the delta — so predicates drop
    * non-qualifying payload rows on both sides), fold into the carried aux
    * state with a broadcast-touched-keys merge, and diff the touched
    * groups' visible projections. False = this epoch must fall back to
    * touched-group recompute (re-targeting failed); the spec is dropped so
    * later epochs go straight to recompute. */
  private def deltaAggEpoch(
      changed: Seq[(MaterializedView.CascadeSrc, DataFrame)]): Boolean =
    foldAux(changed) match {
      case None => false
      case Some((newAux, touched)) =>
        val spec = deltaAggSpec.get
        val newInnerFull = DeltaAgg.visible(newAux, spec)
        // GlobalRow: the single row is the touched set by definition
        def restrict(df: DataFrame) =
          if (keyCols.isEmpty) df else keyJoin(df, touched, "left_semi")
        // two-level specs restrict the aux STATE below the visible
        // aggregate (the outer keys are state-key columns, so the semi
        // join installs under the re-aggregation by construction —
        // Catalyst's pushdown would decline the broadcastable semi,
        // SPARK-37455, and re-aggregate the WHOLE state per epoch)
        // pinLocal1 (round 15): with the aux state and touched frame both
        // driver-resident, the restricted slice pins to one partition so
        // the COUNT(DISTINCT)-finish re-aggregation above plans with zero
        // exchanges — at the bench this was the whole of
        // s_mv_histogram_fold's diff-collect shuffle (2.1 MB/replay) and
        // most of its 5.875 jobs/epoch
        val (oldVisT, newVisT) = overboundSlices match {
          // overlay epoch (either tier): the merge already holds the
          // touched keys' old state rows and point-folded the new ones —
          // the diff sides are those driver slices' visible projections
          // (identical multisets to the state-scan spelling: visible is a
          // per-row projection for single-level specs, so it commutes with
          // the touched-key restriction; localKeyedDiff's key-sorted
          // emission makes the ops byte-identical). Both sides are
          // LocalRelations → the diff below runs with ZERO jobs, replacing
          // two broadcast-semi scans of the full stacked state.
          case Some((oldSlice, newSlice)) if !spec.isTwoLevel =>
            overboundSlices = None
            (DeltaAgg.visible(oldSlice, spec), DeltaAgg.visible(newSlice, spec))
          case _ =>
            if (spec.isTwoLevel && keyCols.nonEmpty)
              (DeltaAgg.visible(pinLocal1(keyJoin(auxState.get, touched, "left_semi")), spec),
               DeltaAgg.visible(pinLocal1(keyJoin(newAux, touched, "left_semi")), spec))
            else (restrict(cascadeInner.get), restrict(newInnerFull))
        }
        emitKeyedDiffLocal(
          cascadeVisible(oldVisT),
          cascadeVisible(newVisT),
          keyCols)
        auxState = Some(newAux)
        cascadeInner = Some(newInnerFull)
        val vis = cascadeVisible(newInnerFull)
        snapshot = Some(vis)
        vis.createOrReplaceTempView(viewName)
        true
    }

  /** Touched-slice pair (old state rows, folded new rows) of the LAST
    * [[overboundLocalMerge]] epoch, both driver-resident — consumed by
    * [[deltaAggEpoch]]'s visible diff, which would otherwise re-run two
    * broadcast-semi scans of the FULL carried state (one per diff side)
    * for rows the merge already holds (round 16; the over-bound epoch paid
    * ~3 full-state scans). Cleared at every merge entry; None = diff keeps
    * the state-scan spelling. */
  private var overboundSlices: Option[(DataFrame, DataFrame)] = None
  /** Flat-checkpoint cadence, in plan layers above the last flat
    * checkpoint, of every [[CarriedOverlay]] of this MV and of the
    * delta-agg mergeParts slice stack. */
  private[graft] var compactEvery = 8
  /** Over-bound overlay epochs of any mode (spec and bench probe). */
  private[graft] def overlayEpochs: Long = auxOverlay.epochs + windowOverlay.epochs +
    streamOverlay.epochs + joinOverlay.epochs + sessionRaw.epochs + sessionFace.epochs

  /** a ⊞ sign·b on external Row values. NULL is the additive identity
    * (Sum skips NULLs); the result is NULL only when both sides are.
    * Long overflow raises (addExact) and a decimal sum outgrowing the
    * state precision raises — both land in foldAux's demote-to-recompute
    * catch, the same stance as the distributed merge's checkedCast. */
  private def addSigned(a: Any, b: Any, sign: Int, dt: org.apache.spark.sql.types.DataType): Any = {
    if (b == null) return a
    val sb = (b, sign) match {
      case (v, 1) => v
      case (v: java.lang.Long, _) => java.lang.Long.valueOf(-v)
      case (v: java.lang.Double, _) => java.lang.Double.valueOf(-v)
      case (v: java.math.BigDecimal, _) => v.negate()
      case (v, _) => v
    }
    if (a == null) return sb
    (a, sb) match {
      case (x: java.lang.Long, y: java.lang.Long) =>
        java.lang.Long.valueOf(Math.addExact(x.longValue(), y.longValue()))
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.valueOf(x + y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        val r = x.add(y)
        dt match {
          case d: org.apache.spark.sql.types.DecimalType
              if r.precision - r.scale > d.precision - d.scale =>
            throw new ArithmeticException(
              "graft delta-agg fold overflowed the state precision")
          case _ => r
        }
      case _ => throw new IllegalStateException(
        s"point fold cannot add ${a.getClass} / ${sb.getClass}")
    }
  }

  /** Fold one sign side's partial rows into `m` by point writes.
    * Row layout is the aux frame's: state keys first, aux columns after
    * (rows counter last). A key whose rows counter reaches ≤ 0 leaves the
    * map — the distributed merge's `rowsCol > 0` filter. */
  private def foldIntoAuxMap(m: scala.collection.mutable.LinkedHashMap[Row, Array[Any]],
      rows: IndexedSeq[Row], sign: Int, nKeys: Int,
      auxTypes: IndexedSeq[org.apache.spark.sql.types.DataType]): Unit = {
    val nAux = auxTypes.length
    rows.foreach { r =>
      val key = Row.fromSeq((0 until nKeys).map(r.get))
      val cur = m.getOrElse(key, null)
      val out = new Array[Any](nAux)
      var j = 0
      while (j < nAux) {
        out(j) = addSigned(if (cur == null) null else cur(j),
          r.get(nKeys + j), sign, auxTypes(j))
        j += 1
      }
      val rowsCnt = out(nAux - 1)
      if (rowsCnt == null || rowsCnt.asInstanceOf[Long] <= 0L) m.remove(key)
      else m.update(key, out)
    }
  }

  /** Aux-frame rows (state keys first, aux slots after) of `key → aux`
    * entries, and the split back. */
  private def auxRows(m: Iterator[(Row, Array[Any])]): IndexedSeq[Row] =
    m.map { case (k, aux) => Row.fromSeq(k.toSeq ++ aux) }.toIndexedSeq
  private def splitAux(r: Row, nKeys: Int): (Row, Array[Any]) =
    Row.fromSeq((0 until nKeys).map(r.get)) ->
      Array.tabulate[Any](r.length - nKeys)(j => r.get(nKeys + j))
  /** Aux slot types the point arithmetic ([[addSigned]]) covers. */
  private def pointFoldable(schema: org.apache.spark.sql.types.StructType, nKeys: Int): Boolean = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    schema.fields.drop(nKeys).forall(_.dataType match {
      case LongType | DoubleType | _: DecimalType => true
      case _ => false
    })
  }

  /** The aux state as a [[CarriedOverlay]] keyed by the state-key tuple,
    * valued by the aux slots. Pure-signed keyed specs (every slot folds by
    * signed addition — no extremum/float/sketch) fold each epoch's
    * driver-side partials into it by point arithmetic: with no base while
    * the state fits [[cascadeLocalMax]] rows — zero jobs for the merge,
    * and every downstream evaluation plans over a LocalRelation — and
    * over a flat base at constant plan depth past it, where a growing
    * anti-join stack re-executed several times per epoch cost 10.875
    * jobs/epoch and 841 KB of shuffle at the bench. Other specs hand it
    * only their over-bound frames ([[mergeAuxState]]). */
  private lazy val auxOverlay = new CarriedOverlay[Array[Any]](spark,
    compactEvery, cascadeLocalMax, auxRows, _.localCheckpoint(true))
  /** True while the whole aux state is the overlay's, with no base. */
  private[graft] def auxStateIsLocal: Boolean = auxState.exists(auxOverlay.holdsAll)

  /** The epoch merge of pure-signed keyed specs with driver-resident
    * partials, in either tier of [[auxOverlay]]. A state the overlay did
    * not return (the backfill, a restore, a distributed merge) is seeded
    * whole into its no-base tier while it fits [[cascadeLocalMax]] rows,
    * else it becomes the base; over a base, the epoch probes it once for
    * the keys this overlay window has not touched (the only cluster work).
    * The partials fold by point arithmetic (overflow raises exactly like
    * checkedCast → the caller's demote-to-recompute), commit to the
    * overlay, and the (old, new) touched slices are stashed for
    * [[deltaAggEpoch]]'s diff, which then runs entirely driver-side.
    * None = not admissible (join-merge spec, distributed partials,
    * non-signed aux types, binary keys) → [[mergeAuxState]]'s distributed
    * spellings. */
  private def overboundLocalMerge(spec: DeltaAgg.Spec,
      touchedLocal: Option[DataFrame],
      localParts: Option[(IndexedSeq[Row], IndexedSeq[Row])]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    if (!spec.isPureSigned || spec.stateKeys.isEmpty) return None
    val (addRows, delRows) = localParts.getOrElse(return None)
    val touched = touchedLocal.getOrElse(return None)
    val state = auxState.get
    val keys = spec.stateKeys
    val nKeys = keys.length
    val sch = state.schema
    // positional layout check (state keys first, aux after) + point
    // arithmetic type admission
    if (sch.fields.take(nKeys).map(_.name).toSeq != keys ||
        !pointFoldable(sch, nKeys)) return None
    val auxTypes = sch.fields.drop(nKeys).map(_.dataType).toIndexedSeq
    def seed(s: DataFrame): Option[Iterable[(Row, Array[Any])]] = {
      val rows = s.limit(cascadeLocalMax + 1).collect()
      if (rows.length > cascadeLocalMax) None else Some(rows.map(splitAux(_, nKeys)))
    }
    if (!auxOverlay.begin(Some(state), sch, org.apache.spark.sql.types.StructType(
      touched.schema.fields.zip(keys).map { case (f, k) => f.copy(name = s"__k_$k") }),
      keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _), seed)) return None
    // zero-job collect: the touched frame is a LocalRelation
    val epochKeys = touched.collect().toIndexedSeq
    // ONE bounded probe against the FLAT base for keys this overlay window
    // has not seen (plain collect — the result is ≤ one state row per
    // probed key; executeTake's scale-up rounds cost extra jobs); none
    // with no base
    val probed = auxOverlay.probe(epochKeys).fold(Map.empty[Row, Array[Any]])(p =>
      timed("state-touched")(p.collect()).map(splitAux(_, nKeys)).toMap)
    // the epoch keys' pre-fold current rows (a key that vanished earlier in
    // the overlay window, or a new group, surfaces no row), folded by point
    // writes into an epoch-local map — the overlay changes only in carry
    val folded = new scala.collection.mutable.LinkedHashMap[Row, Array[Any]]()
    epochKeys.foreach(k => auxOverlay.current(k, probed).foreach(folded.update(k, _)))
    def touchedRows = auxRows(epochKeys.iterator.flatMap(k => folded.get(k).map(k -> _)))
    val oldRows = touchedRows
    foldIntoAuxMap(folded, addRows, 1, nKeys, auxTypes)
    foldIntoAuxMap(folded, delRows, -1, nKeys, auxTypes)
    overboundSlices = Some((localDf(oldRows, sch), localDf(touchedRows, sch)))
    Some(auxOverlay.carry(epochKeys.map(k => k -> folded.get(k))))
  }

  /** Materialize the epoch's folded aux state: the [[auxOverlay]] epoch
    * when it admits the spec (either tier), else a distributed merge. A
    * state the overlay carries over a base is past the bound and is not
    * probed again: the keyed mergeParts path persists ONLY the touched
    * slice (delta-proportional) and stacks it over the carried frame under
    * the overlay's depth bound, and join-merge (extremum/float) and global
    * specs checkpoint flat ([[mergedState]]). Any other state's merge is
    * probed down to a LocalRelation while it fits. */
  private def mergeAuxState(spec: DeltaAgg.Spec, addAux: DataFrame,
      delAux: DataFrame, refetch: DataFrame => DataFrame,
      touchedLocal: Option[DataFrame],
      localParts: Option[(IndexedSeq[Row], IndexedSeq[Row])]): DataFrame = {
    overboundSlices = None
    val state = auxState.get
    overboundLocalMerge(spec, touchedLocal, localParts).getOrElse {
      val parts =
        if (auxOverlay.overBound(state))
          DeltaAgg.mergeParts(state, addAux, delAux, spec, touchedLocal)
        else None
      parts match {
        case Some((untouched, resummed)) =>
          // touched slice is delta-sized — lands driver-side in the usual
          // epoch; the untouched rows never re-persist
          auxOverlay.stack(state, untouched.unionByName(boundedLocal(resummed)))
        case None => mergedState(auxOverlay, state,
          DeltaAgg.merge(state, addAux, delAux, spec, refetch, touchedLocal))
      }
    }
  }

  /** Downstream keys a cascade epoch must recompute: the statement
    * retargeted once per changed upstream onto a private view over that
    * upstream's delta payload (other changed upstreams bind to snapshot ∪
    * delta — see [[cascadeRefresh]]'s doc for why the union is required).
    * Falls back to ALL current keys when the retargeted text fails to
    * analyze (over-touching recomputes idempotently). Shared by the plain
    * cascade and the grouped-top-N cascade epochs. */
  /** Re-aim `sql`'s references to relation `from` at relation `to` (word
    * boundary, case-insensitive) — the cascade's delta/cover rebinding. */
  private[engine] def retarget(sql: String, from: String, to: String): String =
    sql.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(from)}\\b", to)

  /** Name of a private per-epoch view (`kind`: delta, cover, old, add/del
    * sign slice) over `upstream`, scoped to THIS consumer: MVs over one
    * source refresh concurrently within a FLUSH, and an upstream-only name
    * would let one consumer rebind — or drop — another's view mid-epoch.
    * The `_` joints leave no word boundary inside the name, so a later
    * [[retarget]] pass never re-aims part of it. */
  private[engine] def epochView(kind: String, upstream: String): String =
    s"__${kind}_${viewName}__$upstream"

  private[engine] def cascadeTouchedKeys(
      changed: Seq[(MaterializedView.CascadeSrc, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val tempViews = scala.collection.mutable.ArrayBuffer[String]()
    timed("touched-keys")(try {
      changed.foreach { case (u, p) =>
        val dv = epochView("cascade_delta", u.viewName)
        p.createOrReplaceTempView(dv); tempViews += dv
        if (changed.size > 1) {
          val cv = epochView("cascade_cover", u.viewName)
          u.snap().unionByName(p).createOrReplaceTempView(cv); tempViews += cv
        }
      }
      boundedLocal(changed.map { case (u, _) =>
        val sql = changed.foldLeft(cascadeStmt) { case (s, (o, _)) =>
          if (o.viewName == u.viewName)
            retarget(s, o.viewName, epochView("cascade_delta", o.viewName))
          else retarget(s, o.viewName, epochView("cascade_cover", o.viewName))
        }
        spark.sql(sql).select(keyCols.map(col): _*)
      }.reduce(_ union _).distinct())
    } catch { case _: Throwable =>
      boundedLocal(spark.sql(cascadeStmt).select(keyCols.map(col): _*).distinct())
    } finally tempViews.foreach(spark.catalog.dropTempView(_)))
  }

  /** Materialize a delta/state-bounded frame as a driver-resident
    * LocalRelation when it fits [[cascadeLocalMax]] rows (every downstream
    * broadcast then builds job-free and re-reads cost nothing), falling
    * back to a distributed localCheckpoint past the bound — the 100 TB
    * path. Cost asymmetry is deliberate: the steady-state (bounded) case
    * pays ONE limit-collect; an OVERSIZED frame pays the plan twice — the
    * discarded probe collect plus the checkpoint. Oversized means a
    * backfill-class epoch, where the plan's own execution dominates and
    * the double run is a bounded one-off, while a cheaper probe (count
    * first, or checkpoint-then-measure) would add a job to EVERY
    * steady-state epoch — the hot path this helper exists to thin. */
  private[engine] def boundedLocal(df: DataFrame): DataFrame = {
    val rows = pinLocal1(df).limit(cascadeLocalMax + 1).collect()
    if (rows.length <= cascadeLocalMax) localDf(rows.toIndexedSeq, df.schema)
    else df.localCheckpoint(true)
  }

  /** Materialize a carried state's merge `plan` over `state`. A state
    * `overlay` carries over a base is past the bound, so the plan
    * checkpoints flat at once; any other is probed down to a LocalRelation
    * while it fits [[cascadeLocalMax]] rows, and past the bound checkpoints
    * flat into `overlay`'s base — no later epoch probes a state already
    * known to be over the bound. */
  private[engine] def mergedState(overlay: CarriedOverlay[_], state: DataFrame,
      plan: DataFrame): DataFrame = {
    if (!overlay.overBound(state)) {
      val rows = pinLocal1(plan).limit(cascadeLocalMax + 1).collect()
      if (rows.length <= cascadeLocalMax) return localDf(rows.toIndexedSeq, plan.schema)
    }
    overlay.stack(state, plan, flat = true)
  }

  /** Pin a plan whose every leaf is already driver-resident (LocalRelation
    * — carried state tiers, changelog tail caches, touched-key frames) to
    * ONE partition (round 15). SinglePartition satisfies every
    * non-broadcast required distribution, so aggregates/sorts above plan
    * with ZERO exchanges — no AQE stage job per exchange, no shuffle
    * bytes — and a bounded limit-collect runs as one single-task job
    * instead of executeTake's multi-round partition scaling. The gate is
    * the scale guard: a frame with any distributed leaf (parquet scan,
    * checkpointed state past the local bound — the 100 TB paths) keeps
    * its multi-partition plan untouched. */
  private[engine] def pinLocal1(df: DataFrame): DataFrame = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
      df.coalesce(1)
    else df
  }

  /** Emit a cascade epoch's keyed diff — driver-side when both sides fit
    * under [[cascadeLocalMax]] rows (they are touched-group-restricted,
    * i.e. delta-sized, by construction; each side costs ONE bounded
    * limit-collect instead of the distributed full-outer diff's several
    * jobs), distributed otherwise or when a key type has no local
    * ordering. Emission order is byte-identical either way. */
  private[graft] var cascadeLocalMax = 50000
  private[engine] def emitKeyedDiffLocal(prevDf: DataFrame, nextDf: DataFrame,
                                 keys: Seq[String]): Unit = {
    val ops = timed("diff-collect")(
      Changelog.diffPreferLocal(prevDf, nextDf, keys, cascadeLocalMax))
    emitOps(ops)
  }

  /** Visible projection of a cascade's pre-HAVING state: apply the folded
    * predicate (NULL = fail, matching SQL HAVING's 3VL) and drop the helper
    * column. Identity when the statement has no HAVING. */
  private[engine] def cascadeVisible(inner: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (cascadeHasHaving)
      inner.where(col(MaterializedView.HavingCol))
        .drop(MaterializedView.HavingCol)
    else inner
  }

  // ---- delta-join cascade (round 9) ---------------------------------------

  /** Admission for the delta-join cascade: a NON-aggregate statement that
    * is multilinear in its changelog-emitting sources — a composition of
    * Project / Filter / inner-or-cross Join / UNION ALL over live tables,
    * MVs, and static catalog tables (constants). Such a statement Q
    * satisfies the telescoping identity
    *
    *   Q(S₁⁺,…,Sₖ⁺) − Q(S₁⁻,…,Sₖ⁻) =
    *     Σᵢ Q(S₁⁺,…,Sᵢ₋₁⁺, ΔSᵢ, Sᵢ₊₁⁻,…,Sₖ⁻)
    *
    * with multiset (signed-multiplicity) semantics, so each epoch's output
    * delta derives from k statement evaluations each binding ONE source to
    * its (small, broadcast) changelog delta — never a re-scan of the whole
    * join. This is the classical incremental-view-maintenance delta-join
    * rule (Blakeley et al.; DBSP's bilinear operator), expressed Spark-
    * first: the per-term plans are ordinary Catalyst joins whose delta
    * side carries an explicit broadcast hint.
    *
    * Outer joins (LEFT/RIGHT/FULL/semi/anti, any number — round 11) are
    * admitted on top of the multilinear core: sources preserved by every
    * outer join above them keep the standard delta terms, sources under a
    * null-padded side take the restricted-difference term
    * ([[restrictOuterToDelta]]).
    *
    * Rejected (→ batch re-run fallback, always correct): aggregates /
    * DISTINCT (handled by [[tryStartCascade]] or non-linear), window
    * functions, sorts/limits (the top-N paths own those), set ops other
    * than UNION ALL, subqueries over changelog sources, generators,
    * nondeterministic expressions, and any changelog source referenced
    * more than once (the textual rebinding cannot address occurrences
    * independently — a self-join would fold both sides at once). */
  private def tryStartJoinCascade(): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Deduplicate, Distinct, Except, Generate, GlobalLimit, Intersect,
      Join, LocalLimit, Sort, Window => WindowNode}
    val tbls = engine.referencedLiveTables(stmt)
    val ups = engine.referencedMvs(stmt, excluding = (schemaName, name))
    if (tbls.isEmpty && ups.isEmpty) return false
    val preOffset = changeLog.latestOffset
    try {
      cascadeStmt = engine.rewrite(stmt)
      val df = spark.sql(cascadeStmt)
      val analyzed = df.queryExecution.analyzed
      // linearity is a property of the statement ABOVE its sources — a
      // source view's own resolution plan (e.g. a PK table's upsert-
      // resolving batch face, which aggregates internally) is a black box
      // the scan must not descend into
      val boundary = (tbls.map(_.viewName) ++ ups.map(_.viewName))
        .map(_.toLowerCase).toSet
      // Non-inner joins are admissible (round 10 ONE LeftOuter/RightOuter/
      // semi/anti; round 11 ANY NUMBER of them plus FULL OUTER — the
      // multi-dimension enrichment statement `fact LEFT JOIN dim1 LEFT
      // JOIN dim2 …` is the most common real shape): the statement stays
      // linear in every source preserved by ALL the outer joins above it
      // (left joins distribute over their preserved side), so those
      // sources keep the standard delta terms; a source under ANY
      // null-padded side — both sides, for FULL — takes the
      // restricted-difference term instead ([[restrictOuterToDelta]]).
      val outers = outerJoinsAbove(analyzed, boundary)
      joinOuterNonLinear = Set.empty
      val admissibleOuter: org.apache.spark.sql.catalyst.plans.JoinType => Boolean = {
        import org.apache.spark.sql.catalyst.plans._
        t => t == LeftOuter || t == RightOuter || t == LeftSemi ||
             t == LeftAnti || t == FullOuter
      }
      if (outers.exists(j => !admissibleOuter(j.joinType))) return false
      if (nonLinearIn(analyzed, boundary, allowedNodes = outers,
          allowLiveSubquery = true)) return false
      joinOuterNonLinear = outers.flatMap { oj =>
        import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
        oj.joinType match {
          case RightOuter => boundarySourcesIn(oj.left, boundary)
          case FullOuter => boundarySourcesIn(oj.left, boundary) ++
            boundarySourcesIn(oj.right, boundary)
          case _ => boundarySourcesIn(oj.right, boundary)
        }
      }.toSet
      // sources read inside subquery expressions (round 11): plain
      // difference terms — transitive across nested subqueries (round 12)
      joinSubqNonLinear = subquerySourcesIn(analyzed, boundary)
      joinHasJoin = analyzed.collectFirst { case _: Join => () }.nonEmpty
      // each changelog source must appear exactly once for the telescoped
      // rebinding to address it (relation list from the parsed plan keeps
      // duplicates, unlike statementRelations' set). collectWithSubqueries
      // (round 11): a subquery-read source counts too — one referenced in
      // BOTH the body and a subquery, or in two subqueries, would fold
      // only one occurrence
      val occurrences = spark.sessionState.sqlParser.parsePlan(cascadeStmt)
        .collectWithSubqueries {
          case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            r.multipartIdentifier.mkString(".").toLowerCase
        }
      val srcNames = ups.map(_.viewName) ++ tbls.map(_.viewName)
      if (srcNames.exists(n => occurrences.count(_ == n.toLowerCase) != 1))
        return false
      joinMode = true
      cascadeMode = true
      isAggMode = false
      // deriveMode recognizes aggregate-free plans over ONE PK table that
      // keep the full PK: their epoch ops should surface as keyed
      // UpdateDelete/UpdateInsert pairs (RisingWave's envelope for a
      // stream-keyed MV), not unrelated Delete+Insert — see the keyed
      // branch of [[joinCascadeEpoch]]'s emission
      keyMode = deriveMode(df)
      keyCols = keyMode match {
        case MaterializedView.Keyed(ks) => ks
        case _ => Nil
      }
      // LINEAR-side sources first: the telescoping processes sources in
      // this order, and the restricted-difference terms require every
      // linear-side source to bind identically (to NEW) in both of their
      // evaluations — which holds exactly when linear sources precede all
      // nonlinear ones (stable sort keeps the existing order otherwise)
      cascadeUpstreams =
        (ups.map(u => MaterializedView.CascadeSrc(u.viewName, u.changeLog, () => u.df)) ++
          tbls.map(t => MaterializedView.CascadeSrc(t.viewName, t.enableChangelog(), () => t.batchDF)))
          .sortBy(u => joinOuterNonLinear.contains(u.viewName.toLowerCase) ||
            joinSubqNonLinear.contains(u.viewName.toLowerCase))
      // durable reopen: grouped state + consumed offsets restore with zero
      // statement evals (same discipline as the other cascade modes)
      val restored = validSnapshotMeta("joincascade").flatMap { case (d, offsets, _) =>
        try {
          if (!new java.io.File(s"$d/inner").isDirectory ||
              !cascadeUpstreams.forall(u =>
                offsets.get(u.viewName).exists(_ <= u.log.latestOffset))) None
          else Some((offsets, probeJoinState(spark.read.parquet(s"$d/inner"))))
        } catch { case _: Throwable => None }
      }
      restored match {
        case Some((offsets, inner)) =>
          offsets.foreach { case (v, o) => cascadeOffsets(v) = o }
          cascadeInner = Some(inner)
          val vis = expandCounts(inner)
          snapshot = Some(vis)
          vis.createOrReplaceTempView(viewName)
        case None => joinCascadeEpoch() // initial backfill
      }
      true
    } catch { case t: Throwable =>
      MaterializedView.log.debug(s"delta-join cascade refused for $viewName", t)
      joinMode = false
      cascadeMode = false
      cascadeUpstreams = Nil
      joinOuterNonLinear = Set.empty
      joinSubqNonLinear = Set.empty
      if (changeLog.latestOffset == preOffset) { snapshot = None; cascadeInner = None }
      false
    }
  }

  /** Non-inner joins of the plan ABOVE the source boundary (a source
    * view's own resolution plan may contain anything — black box). */
  private[engine] def outerJoinsAbove(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]):
      Seq[org.apache.spark.sql.catalyst.plans.logical.Join] = {
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, SubqueryAlias}
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) => Nil
      case j: Join if !(j.joinType == Inner || j.joinType == Cross) =>
        j +: j.children.flatMap(outerJoinsAbove(_, boundary))
      case _ => p.children.flatMap(outerJoinsAbove(_, boundary))
    }
  }

  /** ALL joins of the plan above the source boundary — the window
    * cascade's round-14 classification walks inner joins too (a live
    * source on the non-primary side of an INNER join admits with the
    * same condition-traced touched-partition derivation as a live padded
    * side). */
  private[engine] def joinsAbove(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]):
      Seq[org.apache.spark.sql.catalyst.plans.logical.Join] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, SubqueryAlias}
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) => Nil
      case j: Join => j +: j.children.flatMap(joinsAbove(_, boundary))
      case _ => p.children.flatMap(joinsAbove(_, boundary))
    }
  }

  /** Boundary source views referenced under `p` (lowercased). Walks plan
    * CHILDREN only — a source held inside a SubqueryExpression of a node's
    * expressions is deliberately NOT collected here, because the two
    * callers that classify join sides (restricted-difference terms) must
    * not claim subquery-read sources; those take the plain-difference term
    * via [[subquerySourcesIn]]. */
  private[engine] def boundarySourcesIn(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]): Set[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) =>
        Set(s.alias.toLowerCase)
      case _ => p.children.flatMap(boundarySourcesIn(_, boundary)).toSet
    }
  }

  /** Boundary sources read inside ANY subquery expression under `p`, at
    * any nesting depth — including a subquery within a subquery (round 12:
    * `WHERE x IN (SELECT k FROM static WHERE k2 IN (SELECT j FROM live))`
    * holds `live` two SubqueryExpression boundaries deep; the plan-child
    * walk of [[boundarySourcesIn]] never crosses the first one, so such a
    * source was invisible to classification and the statement folded it as
    * LINEAR — binding the epoch delta inside the nested subquery, silently
    * wrong). Stops at boundary aliases like every other scan (a source's
    * own resolution plan is a black box). */
  private[engine] def subquerySourcesIn(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) =>
        Set.empty
      case _ =>
        val own = p.expressions.flatMap(_.collect {
          case sq: SubqueryExpression =>
            boundarySourcesIn(sq.plan, boundary) ++
              subquerySourcesIn(sq.plan, boundary)
        }).flatten.toSet
        own ++ p.children.flatMap(subquerySourcesIn(_, boundary))
    }
  }

  /** Window nodes of the plan ABOVE the source boundary. */
  private[engine] def windowsAbove(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String]):
      Seq[org.apache.spark.sql.catalyst.plans.logical.Window] = {
    import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, Window => WindowNode}
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) => Nil
      case w: WindowNode => w +: w.children.flatMap(windowsAbove(_, boundary))
      case _ => p.children.flatMap(windowsAbove(_, boundary))
    }
  }


  /** Non-multilinear plan detector shared by the delta-join admission
    * (whole plan) and the delta-agg admission (the Aggregate's child):
    * rejects aggregates, sorts/limits, DISTINCT, set ops other than UNION
    * ALL, outer joins, generators, subqueries, and nondeterminism. The
    * scan stops at `boundary` source views (lowercased) — a source's own
    * resolution plan is a black box. */
  private[engine] def nonLinearIn(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      boundary: Set[String],
      allowedNodes: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = Nil,
      allowLiveSubquery: Boolean = false): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Deduplicate, Distinct, Except, Generate, GlobalLimit, Intersect,
      Join, LocalLimit, Sort, SubqueryAlias, Window => WindowNode}
    def recur(c: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      nonLinearIn(c, boundary, allowedNodes, allowLiveSubquery)
    // expression discipline applied to EVERY non-boundary node, waived or
    // not: no nondeterminism; subqueries over static relations are a
    // per-epoch constant (round 10). One reading a changelog source is
    // allowed only where the caller folds it as a plain-difference source
    // ([[joinSubqNonLinear]], round 11) — elsewhere it stays rejected: the
    // telescoped rebinding would bind the source's delta INSIDE the
    // subquery, which is not a linear slot.
    def badExprs = p.expressions.exists(_.exists(e =>
      (e match {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          // transitive (round 12): a source visible only through a NESTED
          // subquery must reject (or, when the caller waives, classify
          // plain-difference) exactly like a single-level one
          !allowLiveSubquery &&
            (boundarySourcesIn(sq.plan, boundary) ++
              subquerySourcesIn(sq.plan, boundary)).nonEmpty
        case _ => false
      }) || !e.deterministic))
    p match {
      case s: SubqueryAlias if boundary.contains(s.alias.toLowerCase) => false
      // ADMITTED nodes — the delta-join cascade's outer joins, the window
      // cascade's Window chain and its one Aggregate — skip only the
      // node-type rejection: their expressions and subtrees are still
      // checked
      case n if allowedNodes.exists(_ eq n) =>
        badExprs || p.children.exists(recur)
      case _: Aggregate | _: WindowNode | _: Sort | _: GlobalLimit |
           _: LocalLimit | _: Distinct | _: Deduplicate | _: Intersect |
           _: Except | _: Generate => true
      case j: Join if !(j.joinType == Inner || j.joinType == Cross) => true
      case _ => badExprs || p.children.exists(recur)
    }
  }

  /** Grouped-multiset representation of an output frame: one row per
    * distinct row with its multiplicity in [[MaterializedView.CntCol]] —
    * the compact carried state of the delta-join cascade (a join result's
    * duplicate rows collapse; NULLs group null-safely, matching multiset
    * equality). */
  private[engine] def groupedCounts(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    df.groupBy(df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .agg(count(lit(1)).as(MaterializedView.CntCol))
  }

  /** Expand the grouped state back to the visible multiset — lazy, so the
    * per-epoch cost is the checkpoint of the GROUPED state; the expansion
    * runs only when a client fetch or dependent plan actually scans it. */
  private[engine] def expandCounts(grouped: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence}
    val cols = grouped.columns.filterNot(_ == MaterializedView.CntCol).toIndexedSeq
    grouped
      .select(cols.map(col) :+
        explode(sequence(lit(1L), col(MaterializedView.CntCol))).as("__i"): _*)
      .select(cols.map(col): _*)
  }

  /** Grouped join state (output row → multiplicity) as a
    * [[CarriedOverlay]] keyed by the output row, null-safely (LEFT-join
    * rows are NULL-padded): no base while the state fits
    * [[cascadeLocalMax]] rows, else `base ANTI JOIN touched ∪ overlay` at
    * constant depth. A count ≤ 0 leaves the overlay as a vanished key. */
  private lazy val joinOverlay = new CarriedOverlay[Long](spark,
    compactEvery, cascadeLocalMax,
    _.map { case (k, c) => Row.fromSeq(k.toSeq :+ c) }.toIndexedSeq,
    df => timed("state-merge")(df.localCheckpoint(true)))
  /** True while the whole grouped join state is the overlay's, with no base. */
  private[graft] def joinStateIsLocal: Boolean = cascadeInner.exists(joinOverlay.holdsAll)

  /** Open a [[joinOverlay]] epoch over `state` (None: seed) of grouped
    * rows (output columns, then [[MaterializedView.CntCol]]); false = a
    * binary output column. */
  private def beginJoinOverlay(state: Option[DataFrame],
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.functions.col
    val out = schema.fields.dropRight(1)
    joinOverlay.begin(state, schema, org.apache.spark.sql.types.StructType(
      out.map(f => f.copy(name = s"__k_${f.name}", nullable = true))),
      out.map(f => col(f.name) <=> col(s"__k_${f.name}")).reduce(_ && _))
  }

  private def joinKey(r: Row, n: Int): Row = Row.fromSeq((0 until n).map(r.get))

  /** Re-localize a distributed grouped state (initial backfill, the
    * recompute fallback, a durable restore): while it fits, it seeds the
    * overlay's no-base tier; past the bound (or over binary columns) it
    * checkpoints flat and the next epoch carries over it as the base. */
  private def probeJoinState(grouped: DataFrame): DataFrame = {
    val n = grouped.schema.length - 1 // CntCol last (groupedCounts layout)
    if (beginJoinOverlay(None, grouped.schema)) {
      val rows = grouped.limit(cascadeLocalMax + 1).collect()
      if (rows.length <= cascadeLocalMax)
        return joinOverlay.carry(rows.map(r => joinKey(r, n) -> Some(r.getLong(n))))
    }
    grouped.localCheckpoint(true)
  }

  /** One delta-join epoch: consume each changed source's changelog past
    * the consumed offset, evaluate the telescoped delta terms (source i →
    * its signed delta; already-processed sources → current snapshots;
    * not-yet-processed changed sources → OLD snapshots, reconstructed as
    * current ⊖ inserts ⊎ deletes), net the signed results per distinct
    * row, emit |Δ| Inserts/Deletes, and merge the net into the grouped
    * state.
    *
    * Sign handling: only ONE source binds to a delta per term, so instead
    * of threading a weight column through arbitrary SQL the term runs
    * twice — once over the delta's insert payloads (+) and once over its
    * delete payloads (−) — and the signs multiply trivially.
    *
    * 100 TB shape: each term is the statement's own Catalyst join plan
    * with the delta side explicitly broadcast — the big sides (source
    * snapshots) are never shuffled. The net lands on the driver and folds
    * into [[joinOverlay]]: past its bound the state is probed only for
    * the net's keys new to the overlay window (one broadcast semi join)
    * and checkpointed flat every [[compactEvery]] epochs, never
    * re-aggregated whole. Binary output columns and oversized nets take
    * the hash aggregation over (grouped state ∪ net delta). Any term that
    * fails to rebind (pathological aliasing) falls back to a full
    * recompute + multiset diff — correct, just not delta-proportional. */
  private def joinCascadeEpoch(): Unit = synchronized {
    import org.apache.spark.sql.functions.{abs, broadcast, col, lit, sum}
    if (cascadeUpstreams.isEmpty) return
    val latests = cascadeUpstreams.map(u => u -> u.log.latestOffset)
    val anyNew = latests.exists { case (u, l) =>
      l > cascadeOffsets.getOrElse(u.viewName, 0L) }
    if (!anyNew && snapshot.nonEmpty) return

    if (snapshot.isEmpty) {
      latests.foreach { case (u, l) => cascadeOffsets(u.viewName) = l }
      statementEvals += 1
      val grouped = probeJoinState(groupedCounts(spark.sql(cascadeStmt)))
      cascadeInner = Some(grouped)
      val vis = expandCounts(grouped)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      emitOps(Changelog.multisetDiff(None, vis, wide = true), wide = true)
      return
    }

    val prevOffsets = latests.map { case (u, _) =>
      u.viewName -> cascadeOffsets.getOrElse(u.viewName, 0L) }.toMap
    val changed: Seq[(MaterializedView.CascadeSrc, DataFrame)] =
      latests.flatMap { case (u, l) =>
        val after = cascadeOffsets.getOrElse(u.viewName, 0L)
        cascadeOffsets(u.viewName) = l
        if (l > after) Some(u -> u.log.dfAfter(after)) else None
      }
    if (changed.isEmpty) return
    val outCols = outputSchema.fieldNames.toIndexedSeq
    val tempViews = scala.collection.mutable.ArrayBuffer[String]()
    // atomic-append discipline, same as windowCascadeEpoch: once emitOps
    // commits, the fallback must not emit this epoch's delta again
    var emitted = false
    var settled = false
    try {
      // split each changed source's delta by sign once. Driver-local ops
      // (the changelog tail cache, round 15) skip the eager checkpoint —
      // a filtered LocalRelation re-collapses for free on every use, and
      // the two checkpoint jobs per epoch were pure overhead — and pin to
      // ONE partition so every join term above plans exchange-free.
      // Distributed ops (oversize epochs) keep the checkpoint.
      val parts = changed.map { case (u, ops) =>
        val payload = ops.drop("rw_timestamp")
        val opsLocal = ops.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        def slice(d: DataFrame) =
          if (opsLocal) d.coalesce(1) else d.localCheckpoint(true)
        val adds = slice(payload.filter(col("op").isin(
          Changelog.OpInsert, Changelog.OpUpdateInsert)).drop("op"))
        val dels = slice(payload.filter(col("op").isin(
          Changelog.OpDelete, Changelog.OpUpdateDelete)).drop("op"))
        (u, adds, dels)
      }
      // register delta views (broadcast-hinted) and, for sources after the
      // current term position, OLD-snapshot views (current ⊖ Δ⁺ ⊎ Δ⁻)
      parts.foreach { case (u, adds, dels) =>
        def hinted(d: DataFrame) = if (joinHasJoin) broadcast(d) else d
        hinted(adds).createOrReplaceTempView(epochView("jc_add", u.viewName))
        tempViews += epochView("jc_add", u.viewName)
        hinted(dels).createOrReplaceTempView(epochView("jc_del", u.viewName))
        tempViews += epochView("jc_del", u.viewName)
        // OLD snapshots serve later terms (multi-source epochs) and the
        // restricted/plain difference term of a nonlinear-side source itself
        if (parts.size > 1 ||
            joinOuterNonLinear.contains(u.viewName.toLowerCase) ||
            joinSubqNonLinear.contains(u.viewName.toLowerCase)) {
          val cols = adds.columns.toIndexedSeq.map(col)
          // net per distinct row before reconstructing (see foldAux): a row
          // on both sides of the window would otherwise become a phantom in
          // the saturating current ⊖ Δ⁺ ⊎ Δ⁻ reconstruction
          val addsNet = adds.exceptAll(dels)
          val delsNet = dels.exceptAll(adds)
          u.snap().select(cols: _*).exceptAll(addsNet).union(delsNet)
            .createOrReplaceTempView(epochView("jc_old", u.viewName))
          tempViews += epochView("jc_old", u.viewName)
        }
      }
      val termFrames = parts.zipWithIndex.flatMap { case ((u, adds, dels), i) =>
        def laterOld(sql: String): String =
          parts.drop(i + 1).foldLeft(sql) { case (s, (o, _, _)) =>
            retarget(s, o.viewName, epochView("jc_old", o.viewName))
          }
        if (joinOuterNonLinear.contains(u.viewName.toLowerCase)) {
          // restricted-difference term for the outer join's null-padded
          // side: Q(…,u:new,…) ⊖ Q(…,u:old,…). Simple delta rebinding is
          // unsound here (null-extension is not linear in this side — a
          // dim row arriving late must RETRACT the null-padded fact row,
          // which no Q(Δu) evaluation can name). Both evaluations bind the
          // linear side identically, so rows that cannot match the delta
          // produce identical output and cancel in the signed net —
          // [[restrictOuterToDelta]] drops them up front, keeping the term
          // delta-proportional instead of a full re-evaluation.
          val sqlNew = laterOld(cascadeStmt)
          val sqlOld = retarget(sqlNew, u.viewName, epochView("jc_old", u.viewName))
          if (!sqlOld.contains(epochView("jc_old", u.viewName)))
            throw new IllegalStateException(s"rebinding missed ${u.viewName}")
          val payload = adds.unionByName(dels)
          val plus = restrictOuterToDelta(spark.sql(sqlNew), u.viewName, payload)
            .select(outCols.map(col): _*).withColumn("__d", lit(1L))
          outerTermFrame = Some(plus)
          val minus = restrictOuterToDelta(spark.sql(sqlOld),
              epochView("jc_old", u.viewName), payload)
            .select(outCols.map(col): _*).withColumn("__d", lit(-1L))
          Seq(plus, minus)
        } else if (joinSubqNonLinear.contains(u.viewName.toLowerCase)) {
          // PLAIN difference term for a subquery-read source (round 11):
          // Q(…,u:new,…) ⊖ Q(…,u:old,…) with no restriction — there is no
          // Join node whose side could be semi-restricted (the membership
          // predicate lives inside an expression). Rows whose predicate
          // result cannot change are identical in both evaluations and
          // cancel in the signed net; the cost is ~one batch re-run per
          // SUBQUERY-side epoch, while the outer source keeps its
          // delta-proportional terms.
          val sqlNew = laterOld(cascadeStmt)
          val sqlOld = retarget(sqlNew, u.viewName, epochView("jc_old", u.viewName))
          if (!sqlOld.contains(epochView("jc_old", u.viewName)))
            throw new IllegalStateException(s"rebinding missed ${u.viewName}")
          val plus = spark.sql(sqlNew)
            .select(outCols.map(col): _*).withColumn("__d", lit(1L))
          val minus = spark.sql(sqlOld)
            .select(outCols.map(col): _*).withColumn("__d", lit(-1L))
          Seq(plus, minus)
        } else {
          def termSql(deltaView: String): String = {
            val reaimed = retarget(cascadeStmt, u.viewName, deltaView)
            // an unbound rebinding would silently evaluate against the FULL
            // source — that is a wrong delta, not a recoverable one
            if (!reaimed.contains(deltaView))
              throw new IllegalStateException(s"rebinding missed ${u.viewName}")
            laterOld(reaimed)
          }
          val plus  = spark.sql(termSql(epochView("jc_add", u.viewName)))
            .select(outCols.map(col): _*).withColumn("__d", lit(1L))
          if (i == 0 && joinHasJoin)
            joinEpochFrame = Some(plus)
          val minus = spark.sql(termSql(epochView("jc_del", u.viewName)))
            .select(outCols.map(col): _*).withColumn("__d", lit(-1L))
          Seq(plus, minus)
        }
      }
      // pinLocal1 below the netting aggregation (round 15): all-local
      // terms (LocalRelation deltas x driver-tier faces) make the net's
      // output-column exchange — 100% of s_mv_left_join_fold's remaining
      // shuffle — pure overhead; distributed terms keep the shuffle
      val netPlan = pinLocal1(termFrames.reduce(_ union _))
        .groupBy(outCols.map(col): _*).agg(sum(col("__d")).as("__d"))
        .filter(col("__d") =!= 0)
      // land the (delta-proportional) net driver-side: the keyed probe
      // and the ops derivation below then plan over a LocalRelation (zero
      // extra jobs) and the state folds into the overlay. Binary columns
      // or an oversized net (a backfill-class epoch) fall to the
      // distributed spellings for this epoch.
      val netRows: Option[IndexedSeq[Row]] =
        if (!CarriedOverlay.valueHashable(netPlan.schema)) None
        else {
          val rows = timed("delta-terms")(netPlan.limit(cascadeLocalMax + 1).collect())
          if (rows.length <= cascadeLocalMax) Some(rows.toIndexedSeq) else None
        }
      val net = netRows match {
        case Some(rows) => localDf(rows, netPlan.schema)
        case None => timed("delta-terms")(netPlan.localCheckpoint(true))
      }
      // Keyed outputs (unique per-row key) upgrade a same-key −/+ pair to
      // UpdateDelete/UpdateInsert — but only when this epoch's delta is
      // key-unique (a fan-out join can put two rows on one key, where
      // pairing would be ambiguous and a keyed diff would duplicate ops).
      val keyedOps: Option[DataFrame] =
        if (keyCols.isEmpty) None
        else {
          val ambiguous = netRows match {
            case Some(rows) =>
              // driver-side probe — same (__p > 1 || __m > 1) per key as
              // the distributed spelling below (keys are binary-free here:
              // only value-hashable nets land)
              val keyIdx = keyCols.map(outCols.indexOf).toArray
              val n = outCols.length
              val pm = scala.collection.mutable.HashMap[Row, (Long, Long)]()
              var amb = false
              rows.foreach { r =>
                val k = Row.fromSeq(keyIdx.map(r.get).toIndexedSeq)
                val d = r.getLong(n)
                val (p0, m0) = pm.getOrElse(k, (0L, 0L))
                val nv = if (d > 0) (p0 + d, m0) else (p0, m0 - d)
                if (nv._1 > 1 || nv._2 > 1) amb = true
                pm.update(k, nv)
              }
              amb
            case None =>
              import org.apache.spark.sql.functions.when
              val ambDf = net.groupBy(keyCols.map(col): _*)
                .agg(sum(when(col("__d") > 0, col("__d"))).as("__p"),
                     sum(when(col("__d") < 0, -col("__d"))).as("__m"))
                .filter(col("__p") > 1 || col("__m") > 1)
              timed("keyed-probe")(!ambDf.rdd.isEmpty())
          }
          if (ambiguous) None
          else Some(Changelog.diffPreferLocal(
            net.filter(col("__d") < 0).select(outCols.map(col): _*),
            net.filter(col("__d") > 0).select(outCols.map(col): _*),
            keyCols, cascadeLocalMax))
        }
      // state BEFORE ops: both read the same landed net, and ordering the
      // (fallible) state merge first means any failure enters the catch
      // with NOTHING emitted this epoch — the fallback's diff against the
      // pre-epoch cascadeInner then emits the epoch's delta exactly once
      // (emit-then-merge could double-emit: the fallback would re-diff
      // rows whose ops were already appended). The overlay commits in
      // carry; an epoch that escapes after it leaves cascadeInner on the
      // pre-epoch frame, so the next epoch's identity re-base drops it.
      val merged = timed("state-merge")(netRows match {
        case Some(rows) if beginJoinOverlay(cascadeInner, cascadeInner.get.schema) =>
          // point fold: the base is probed only for keys new to the
          // overlay window (no job with no base); ≤ 0 leaves the overlay —
          // the distributed merge's `CntCol > 0` filter
          val n = outCols.length
          val keyed = rows.map(r => joinKey(r, n) -> r.getLong(n))
          val probed = joinOverlay.probe(keyed.map(_._1)).fold(Map.empty[Row, Long])(p =>
            timed("state-touched")(p.collect()).map(r => joinKey(r, n) -> r.getLong(n)).toMap)
          joinOverlay.carry(keyed.map { case (k, d) =>
            k -> Some(Math.addExact(joinOverlay.current(k, probed).getOrElse(0L), d)).filter(_ > 0L)
          })
        case _ =>
          cascadeInner.get.unionByName(
              net.withColumnRenamed("__d", MaterializedView.CntCol))
            .groupBy(outCols.map(col): _*)
            .agg(sum(col(MaterializedView.CntCol)).as(MaterializedView.CntCol))
            .filter(col(MaterializedView.CntCol) > 0)
            .localCheckpoint(true)
      })
      // a landed net spells its ops driver-side (zero jobs, and the
      // changelog append takes its local path, which seeds the tail cache
      // the subscription drain reads); distributed nets and columns
      // without a local ordering keep the netOps plan
      emitOps(keyedOps.orElse(netRows.flatMap { rows =>
        val n = outCols.length
        val rowSchema = org.apache.spark.sql.types.StructType(netPlan.schema.fields.take(n))
        Changelog.localNetOps(rows.map(r => joinKey(r, n) -> r.getLong(n)), rowSchema)
          .map(ops => localDf(ops.toIndexedSeq,
            rowSchema.add("op", org.apache.spark.sql.types.StringType)))
      }).getOrElse(Changelog.netOps(net, outCols, "__d")))
      emitted = true
      cascadeInner = Some(merged)
      val vis = expandCounts(merged)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      settled = true
    } catch { case scala.util.control.NonFatal(t) =>
      // full-recompute fallback: evaluate the statement against the
      // current sources and multiset-diff against the carried state —
      // correct under any rebinding failure, just not delta-proportional.
      // Fatal errors propagate (pre-commit offsets restored below); the
      // warning makes a persistent silent demotion observable (round 12,
      // ADVICE).
      MaterializedView.log.warn(
        s"delta-join epoch for $viewName fell back to full recompute: $t")
      statementEvals += 1
      // the emit below diffs against the PRE-epoch state: cascadeInner,
      // whose overlay rows are copied into its LocalRelations
      val prevGrouped = cascadeInner.get
      val grouped = probeJoinState(groupedCounts(spark.sql(cascadeStmt)))
      val vis = expandCounts(grouped)
      if (!emitted) {
        val prevVis = expandCounts(prevGrouped)
        emitOps(Changelog.multisetDiff(Some(prevVis), vis))
        emitted = true
      }
      cascadeInner = Some(grouped)
      snapshot = Some(vis)
      vis.createOrReplaceTempView(viewName)
      settled = true
    } finally {
      // pre-commit non-NonFatal escape (InterruptedException bypasses the
      // handler above): restore the consumed offsets so the next epoch
      // re-folds this delta instead of losing it (round-12 ADVICE);
      // post-commit, state merged BEFORE the emit, so the offsets stand.
      if (!settled && !emitted) restoreOffsets(prevOffsets)
      tempViews.foreach(spark.catalog.dropTempView(_))
    }
  }

  /** Restrict `full` — an evaluation of the admitted outer-join statement —
    * so the restricted side of the outer join OWNING `srcView` keeps only
    * rows that can match `payload` (the epoch's delta of nonlinear-side
    * source `srcView`). The owning join is the OUTERMOST non-inner join
    * whose null-padded side contains `srcView` (for FULL OUTER, whichever
    * side contains it); the restricted side is its other child — the big,
    * row-preserved one for LEFT/RIGHT/semi/anti. Plan surgery:
    *  1. re-bind `srcView` inside a COPY of the owning subtree to the
    *     delta payload (exprId-preserving projection, so the subtree's own
    *     expressions stay resolved) — its output is exactly the candidate
    *     rows whose membership may have changed this epoch;
    *  2. re-alias that probe to fresh attribute ids (`toDF` re-ids every
    *     column) so it cannot collide with the original subtree that
    *     remains under the outer join, and BROADCAST it;
    *  3. semi-join the restricted subtree against the probe under the
    *     original join condition (re-pointed at the fresh ids) and swap
    *     the result in as that child of the outer join.
    * Soundness: the caller evaluates the statement twice (source bound new
    * vs old) and nets the signed results; every OTHER relation binds
    * identically in both, so a restricted-side row matching no candidate
    * has identical matches — hence identical output, including any
    * null-padded row the drop itself induces — in both evaluations and
    * cancels. This holds with further outer joins above (their inputs
    * differ only where the delta reached) and for FULL OUTER's padded rows
    * on either side. 100 TB shape: the restricted side is probed by a
    * broadcast-hash semi join (never shuffled), the owning subtree is
    * probed by the statement's own join plan against the broadcast delta —
    * no side is re-scanned into a shuffle. A source nested under TWO
    * padded sides restricts at the outermost join, so the probe broadcasts
    * that inner padded subtree's preserved rows — dim-sized by admission
    * shape, not delta-sized; the common chained-enrichment statement has
    * no nesting and stays delta-proportional. */
  private def restrictOuterToDelta(full: DataFrame, srcView: String,
                                   payload: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Project, SubqueryAlias}
    val plan = full.queryExecution.analyzed
    val stops = cascadeUpstreams.map(_.viewName.toLowerCase).toSet + srcView.toLowerCase
    def containsSrc(p: LogicalPlan): Boolean = p.exists {
      case s: SubqueryAlias => s.alias.equalsIgnoreCase(srcView)
      case _ => false
    }
    // outerJoinsAbove returns pre-order (outermost first): restrict where
    // the biggest preserved side sits
    val owning = outerJoinsAbove(plan, stops).flatMap { j =>
      j.joinType match {
        case RightOuter => if (containsSrc(j.left)) Some((j, j.right, j.left)) else None
        case FullOuter =>
          if (containsSrc(j.left)) Some((j, j.right, j.left))
          else if (containsSrc(j.right)) Some((j, j.left, j.right)) else None
        case _ => if (containsSrc(j.right)) Some((j, j.left, j.right)) else None
      }
    }
    val (oj, linChild, nonChild) = owning.headOption.getOrElse(
      throw new IllegalStateException(s"no outer join owns $srcView"))
    var found = false
    val subst = nonChild.transformUp {
      case s: SubqueryAlias if !found && s.alias.equalsIgnoreCase(srcView) =>
        found = true
        val repl = payload.queryExecution.analyzed
        val byName = repl.output.map(a => a.name.toLowerCase -> a).toMap
        SubqueryAlias(s.identifier, Project(
          s.output.map(o => Alias(byName(o.name.toLowerCase), o.name)(exprId = o.exprId)),
          repl))
    }
    if (!found) throw new IllegalStateException(s"substitution missed $srcView")
    val renamed = org.apache.spark.sql.functions.broadcast(
      GraftColumnBridge.ofRows(spark, subst)
        .toDF(nonChild.output.indices.map(i => s"__rd_$i"): _*))
    val renamedPlan = renamed.queryExecution.analyzed
    val attrMap = nonChild.output.map(_.exprId).zip(renamedPlan.output).toMap
    val semiCond = oj.condition.getOrElse(Literal.TrueLiteral).transform {
      case a: AttributeReference if attrMap.contains(a.exprId) => attrMap(a.exprId)
    }
    val restricted = Join(linChild,
      renamedPlan, org.apache.spark.sql.catalyst.plans.LeftSemi,
      Some(semiCond), JoinHint.NONE)
    GraftColumnBridge.ofRows(spark, plan.transformUp {
      case j: Join if j eq oj =>
        if (linChild eq oj.left) j.copy(left = restricted)
        else j.copy(right = restricted)
    })
  }

  private[engine] def rowDf(r: Row, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.List.of(r), schema)

  private[engine] def localDf(rows: IndexedSeq[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Streaming micro-batch: `delta` holds the new value of every changed key
    * (update mode) or fresh appended rows (append mode).
    *
    * foreachBatch executes inside a CLONED SparkSession with isolated temp
    * views — the delta is rebound to the engine's session via its
    * checkpointed RDD so snapshot views land in the user-visible catalog. */
  private def handleDelta(delta: DataFrame, isAgg: Boolean): Unit = synchronized {
    // Keyed update-mode aggregates carry their state in [[streamOverlay]]:
    // the delta collects ONCE and the ops derive driver-side from each
    // key's previous row ([[Changelog.localUpdateDiff]], the distributed
    // updateDiff's order). Under [[cascadeLocalMax]] state rows the epoch
    // runs no other job. Key types with no local ordering (binary, struct,
    // array) take the distributed updateDiff below.
    val schema = delta.schema
    if (isAgg && keyMode.isInstanceOf[MaterializedView.Keyed] &&
        keyCols.forall(k => Changelog.localOrdering(schema(k).dataType).nonEmpty)) {
      val rows = timed("delta-collect")(delta.collect()).toIndexedSeq
      if (rows.isEmpty) return
      if (!streamOverlayEpoch(rows, schema))
        handleDeltaDistributed(localDf(rows, schema), isAgg)
      return
    }
    val clone = timed("delta-checkpoint")(delta.localCheckpoint(true))
    val d = spark.createDataFrame(clone.rdd, clone.schema)
    // RDD take(1) over the checkpointed blocks — DataFrame.isEmpty would
    // plan and codegen a fresh limit(1) query per epoch for the same answer
    if (timed("empty-check")(clone.rdd.isEmpty())) return
    handleDeltaDistributed(d, isAgg)
  }

  private def handleDeltaDistributed(d: DataFrame, isAgg: Boolean): Unit = {
    // downstream streaming chains read this epoch's delta from the
    // changelog segment committed below (file-source faces — no driver
    // hop); only FALLBACK MemoryStream readers (attached after a retention
    // prune truncated the log) are fed explicitly here
    if (!isAgg && faceStreams.nonEmpty) {
      val rows = d.collect().toSeq
      faceStreams.values.foreach(_.addData(rows))
    }
    // the streaming backfill micro-batch is the whole source history —
    // wide segment write; steady-state appends keep the one-task fast path
    val wide = snapshot.isEmpty
    val ops =
      if (!isAgg || snapshot.isEmpty) Changelog.diff(None, d, keyCols, wide)
      else {
        // restrict the previous snapshot to the touched keys: the diff then
        // yields Insert for new keys and UpdateDelete/UpdateInsert for
        // changed ones (update mode never retracts whole keys — which is
        // exactly what admits the broadcast-join updateDiff)
        val keys = d.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
        val prevTouched = keyJoin(snapshot.get, keys, "left_semi")
        Changelog.updateDiff(prevTouched, d, keyCols)
      }
    emitOps(ops, wide)

    snapshot = Some(timed("state-merge")(
      mergeDelta(snapshot, d, keyed = isAgg).localCheckpoint(true)))
    snapshot.get.createOrReplaceTempView(viewName)
  }

  /** Keyed streaming state, key tuple → current row, from no base. */
  private lazy val streamOverlay = new CarriedOverlay[Row](spark,
    compactEvery, cascadeLocalMax, _.map(_._2).toIndexedSeq,
    df => timed("state-merge")(df.localCheckpoint(true)))

  /** One keyed streaming epoch over locally ordered keys; false = the
    * overlay refused them. The snapshot installs after the emit: if the
    * emit fails, the next epoch's identity re-base drops the overlay. */
  private def streamOverlayEpoch(rows: IndexedSeq[Row],
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.functions.col
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val keySchema = org.apache.spark.sql.types.StructType(
      keyIdx.map(i => schema(i).copy(name = s"__k_${schema(i).name}")))
    if (!streamOverlay.begin(snapshot, schema, keySchema,
        keyCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _))) return false
    def key(r: Row): Row = Row.fromSeq(keyIdx.toSeq.map(r.get))
    val keyed = rows.map(r => key(r) -> r)
    val probed = streamOverlay.probe(keyed.map(_._1)).fold(Map.empty[Row, Row])(p =>
      timed("state-touched")(p.collect()).map(r => key(r) -> r).toMap)
    val ops = Changelog.localUpdateDiff(
      keyed.map { case (k, r) => (streamOverlay.current(k, probed), r) }, keyIdx, schema).get
    val next = streamOverlay.carry(keyed.map { case (k, r) => k -> Some(r) })
    if (ops.nonEmpty) timed("emitOps")(emitOps(localDf(ops.toIndexedSeq,
      schema.add("op", org.apache.spark.sql.types.StringType))))
    snapshot = Some(next)
    next.createOrReplaceTempView(viewName)
    true
  }

  /** Merge a micro-batch delta into a carried state: plain append for
    * stateless streams, null-safe replace-by-key ([[keyJoin]] on
    * [[keyCols]]) for update-mode aggregates. Shared by the plain and
    * top-N handlers so the keyed-merge semantics live in one place. */
  private[engine] def mergeDelta(prev: Option[DataFrame], d: DataFrame,
                         keyed: Boolean): DataFrame = prev match {
    case None => d
    case Some(s) if !keyed => s.union(d)
    case Some(s) =>
      val keys = d.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
      keyJoin(s, keys, "left_anti").union(d)
  }

  /** EMIT ON WINDOW CLOSE micro-batch: merge the update-mode delta into the
    * pending (open-window) buffer, then move every window whose end has
    * passed the watermark into the visible snapshot — once, as an Insert.
    * Late rows for closed windows are dropped by Spark's watermark before
    * they reach the delta, so emitted values are final. */
  private def handleEowcDelta(delta: DataFrame): Unit = synchronized {
    import org.apache.spark.sql.functions.{col, unix_millis}
    val clone = delta.localCheckpoint(true)
    val d = spark.createDataFrame(clone.rdd, clone.schema)
    if (!clone.rdd.isEmpty())
      pending = Some(mergeDelta(pending, d, keyed = true).localCheckpoint(true))
    val wm = watermarkMs
    pending.foreach { p =>
      // unix_millis, not cast-to-seconds×1000: sub-second windows (ms-unit
      // intervals) would truncate their start and "close" half a window early
      val closedPred = unix_millis(col("window_start")) + closeDurMs.get <= wm
      val nc = p.filter(closedPred).localCheckpoint(true)
      if (!nc.isEmpty) {
        emitOps(Changelog.diff(None, nc, keyCols))
        snapshot = Some(snapshot.map(_.union(nc).localCheckpoint(true)).getOrElse(nc))
        snapshot.get.createOrReplaceTempView(viewName)
        // closed windows leave the pending buffer: the watermark already
        // drops their late rows, and keeping them would re-scan the whole
        // window history every epoch (unbounded growth)
        pending = Some(p.filter(!closedPred).localCheckpoint(true))
      }
    }
  }

  /** FLUSH barrier hook: drain the stream (streaming mode), fold the
    * upstream changelog (cascade mode), or re-evaluate and diff (batch
    * mode) — the diff shape follows [[keyMode]]. [[GraftEngine.flush]]
    * runs it on a driver pool thread once every MV in [[flushUpstreams]]
    * has refreshed, concurrently with MVs that neither read nor are read
    * by this one; it runs at most once per barrier and never concurrently
    * with itself. An interrupt means the FLUSH was interrupted: the epoch
    * keeps its own commit discipline (offsets restored while nothing was
    * emitted), so the next barrier catches up. */
  private[engine] def refresh(): Unit = {
    if (streamingMode) timed("stream-drain")(query.foreach(_.processAllAvailable()))
    else if (cascadeMode) timed("cascade-epoch")(
      if (topNMode) topNCascadeEpoch()
      else if (sessionMode) sessionCascadeEpoch()
      else if (joinMode) joinCascadeEpoch()
      else if (windowMode) windowCascadeEpoch()
      else cascadeRefresh())
    else if (windowGlobalMode) timed("cascade-epoch")(windowGlobalEpoch())
    else synchronized {
      statementEvals += 1
      val next = spark.sql(engine.rewrite(stmt)).localCheckpoint(true)
      val wide = snapshot.isEmpty // initial backfill = whole-result delta
      val ops = keyMode match {
        case MaterializedView.Keyed(ks) => Changelog.diff(snapshot, next, ks, wide)
        case MaterializedView.GlobalRow => Changelog.diff(snapshot, next, Nil, wide)
        case MaterializedView.Multiset => Changelog.multisetDiff(snapshot, next, wide)
      }
      emitOps(ops, wide)
      snapshot = Some(next)
      next.createOrReplaceTempView(viewName)
    }
  }

  /** Queryable current state (empty until first epoch). */
  def df: DataFrame = snapshot.getOrElse {
    spark.createDataFrame(java.util.List.of[Row](), outputSchema)
  }

  /** C10 — subscribe to this MV's changelog. */
  def onChange(handler: Seq[Row] => Unit,
               subName: String = "",
               maxBatchSize: Int = 10,
               retentionSeconds: Long = 86400L,
               persistProgress: Boolean = false): Subscription = {
    val sub = engine.subscribe(this, subName, retentionSeconds, persistProgress)
    sub.consume(handler, maxBatchSize)
    sub
  }

  /** Non-blocking subscription handle (declare cursor + FETCH yourself). */
  def subscription(subName: String = "",
                   retentionSeconds: Long = 86400L,
                   persistProgress: Boolean = false): Subscription =
    engine.subscribe(this, subName, retentionSeconds, persistProgress)

  /** Switch a streaming MV to batch re-run mode (called before UPDATE/
    * DELETE mutates a source table — MemoryStream can't retract, so the
    * maintainer re-evaluates and diffs from here on; the changelog stays
    * continuous because refresh() diffs against the existing snapshot). */
  private[engine] def demoteToBatch(): Unit = {
    // stop() OUTSIDE the MV monitor: the maintainer thread may already be
    // parked on this MV's lock at a synchronized handler's entry, and a
    // thread blocked on monitorenter is uninterruptible — stop() (which
    // joins the maintainer) would never return while we hold the lock
    val q = synchronized { if (streamingMode) query else None }
    q.foreach(_.stop())
    synchronized {
      if (streamingMode) {
        query = None
        streamingMode = false
        if (topNMode) spark.catalog.dropTempView(topNSrcView)
        if (sessionMode) spark.catalog.dropTempView(sessionSrcView)
        topNMode = false
        sessionMode = false
        innerState = None
        frozen = None
        topNVisibleRows = None
        streamOverlay.invalidate()
        sessionRaw.invalidate()
        sessionFace.invalidate()
        engine.releaseStreamReaders(viewName)
        faceStreams.clear() // faces die with streaming mode (engine cascades)
        val df = spark.sql(engine.rewrite(stmt))
        keyMode = deriveMode(df)
        keyCols = keyMode match {
          case MaterializedView.Keyed(ks) => ks
          case _ => df.columns.toSeq
        }
      }
    }
  }

  /** Durable snapshot persistence — reopen restores MV state in O(state)
    * instead of re-running the statement over base data. Written at
    * engine close (after the final FLUSH barrier, so buffers are spilled
    * and every maintainer has caught up) for every mode whose maintenance
    * resumes from restored state:
    *  - batch re-run: the snapshot IS the whole state;
    *  - changelog cascade: snapshot + pre-HAVING inner state + consumed
    *    upstream offsets;
    *  - raw top-N (round-7): snapshot + carried inner state + the eviction
    *    bound row + per-source-table consumed sequence, so the reopened
    *    maintainer's face backfills nothing and truncation resumes from
    *    the restored state;
    *  - session (round-7): snapshot + carried raw rows + frozen sessions +
    *    compaction cuts + per-source-table consumed sequence (the session
    *    maintainer streams a stateless passthrough — all its state is
    *    maintainer-held, so the snapshot seeds it completely).
    * Update-mode streaming aggregates keep replay-based recovery — their
    * state genuinely lives inside Spark's state store (that, at cluster
    * scale, is the checkpointed state store's job). That includes GROUPED
    * top-N: its inner is an update-mode aggregate, and a reopened one
    * restarts from zero state, so a seq-gated face would make it emit
    * delta-local (wrong) per-key aggregates. Same for top-N/session MVs
    * fed by upstream MV faces (face positions are not seq-addressable).
    * Layout:
    * `dataDir/mvs/<view>/{data,inner?,bound?,frozen?,cuts?,_snapshot_meta}`.
    * Commit is rename-ASIDE (old → `.old`, staging → live, drop `.old`),
    * never delete-then-rename: a crash between the two renames costs at
    * worst the O(state) restore (falls back to recompute), not both
    * snapshots. */
  private[engine] def persistSnapshot(): Unit = synchronized {
    if (streamingMode && !topNMode && !sessionMode) return
    // grouped top-N on the STREAMING path (round-9 fallback for HAVING
    // inners / changelog-less sources): the inner update-mode aggregate is
    // state-store resident and cannot be seeded — replay recovery. The
    // cascade-backed grouped top-N carries all state and persists below.
    if (topNMode && isAggMode && !cascadeMode) return
    val mode =
      if (topNMode && cascadeMode) "topncascade"
      else if (topNMode) "topn"
      else if (sessionMode && cascadeMode) "sessioncascade"
      else if (sessionMode) "session"
      else if (joinMode) "joincascade"
      else if (windowMode) "windowcascade"
      else if (windowGlobalMode) "globalwindow"
      else if (cascadeMode) "cascade"
      else "batch"
    // STREAM-fed top-N/session state can't record a resumable source
    // position (face positions are not seq-addressable) — keep replay
    // recovery; cascade sources resume by changelog offset instead
    if ((topNMode || sessionMode) && !cascadeMode &&
        engine.referencedMvs(stmt, excluding = (schemaName, name)).nonEmpty) return
    for (d <- engine.mvSnapshotDirFor(viewName); snap <- snapshot) {
      val staging = s"$d.staging"
      SegmentFiles.delete(staging)
      snap.write.mode("overwrite").parquet(s"$staging/data")
      if (cascadeHasHaving || joinMode || windowMode || windowGlobalMode)
        cascadeInner.foreach(_.write.mode("overwrite").parquet(s"$staging/inner"))
      if (windowGlobalMode)
        windowInputState.foreach(_.write.mode("overwrite").parquet(s"$staging/winput"))
      if (deltaAggSpec.nonEmpty)
        auxState.foreach(_.write.mode("overwrite").parquet(s"$staging/aux"))
      if (topNMode || sessionMode)
        innerState.foreach(_.write.mode("overwrite").parquet(s"$staging/inner"))
      if (topNMode)
        topNBound.foreach(b => rowDf(b, innerState.get.schema)
          .write.mode("overwrite").parquet(s"$staging/bound"))
      if (sessionMode) {
        frozen.foreach(_.write.mode("overwrite").parquet(s"$staging/frozen"))
        sessionCuts.foreach(_.write.mode("overwrite").parquet(s"$staging/cuts"))
      }
      // keyed by the unambiguous mangled viewName: two same-named tables in
      // different schemas must not collide in the meta (last-write-wins
      // would seq-gate one table's face past rows the restored state never
      // consumed — silent row loss instead of a refused restore)
      val tblSeqs =
        if ((topNMode || sessionMode) && !cascadeMode)
          engine.referencedLiveTables(stmt).map(t => s"tbl\t${t.viewName}\t${t.currentSeq}")
        else Nil
      val meta = (Seq(stmtMd5, changeLog.latestOffset.toString, mode) ++
        cascadeOffsets.toSeq.sortBy(_._1).map { case (v, o) => s"mv\t$v\t$o" } ++
        tblSeqs).mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$staging/_snapshot_meta"),
        meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val old = s"$d.old"
      SegmentFiles.delete(old)
      if (new java.io.File(d).isDirectory) SegmentFiles.commit(d, old)
      SegmentFiles.commit(staging, d)
      SegmentFiles.delete(old)
    }
  }

  /** Parsed `_snapshot_meta` of a persisted snapshot valid for this
    * incarnation: same defining statement (md5), same changelog position
    * (a snapshot persisted before further emitted epochs is stale), same
    * maintenance mode. Returns (snapshot dir, upstream-MV offsets,
    * source-table seqs). */
  private[engine] def validSnapshotMeta(mode: String): Option[(String, Map[String, Long], Map[String, Long])] =
    engine.mvSnapshotDirFor(viewName).flatMap { d =>
      try {
        val metaPath = java.nio.file.Paths.get(s"$d/_snapshot_meta")
        if (!java.nio.file.Files.exists(metaPath)) None
        else {
          val lines = new String(java.nio.file.Files.readAllBytes(metaPath),
            java.nio.charset.StandardCharsets.UTF_8).split("\n")
          if (lines(0) == stmtMd5 && lines(1).toLong == changeLog.latestOffset &&
              lines.length > 2 && lines(2) == mode) {
            val tagged = lines.drop(3).filter(_.nonEmpty).map(_.split("\t", 3))
            Some((d,
              tagged.collect { case Array("mv", v, o) => v -> o.toLong }.toMap,
              tagged.collect { case Array("tbl", t, s) => t -> s.toLong }.toMap))
          } else None
        }
      } catch { case _: Throwable => None }
    }

  /** Restore the persisted batch/cascade snapshot. True = state restored,
    * the caller skips the initial statement evaluation. */
  private def tryRestoreSnapshot(): Boolean =
    validSnapshotMeta(if (cascadeMode) "cascade" else "batch").exists {
      case (d, mvOffsets, _) =>
        try {
          val snap = spark.read.parquet(s"$d/data").localCheckpoint(true)
          if (cascadeMode) {
            cascadeInner =
              if (cascadeHasHaving)
                Some(spark.read.parquet(s"$d/inner").localCheckpoint(true))
              else Some(snap)
            mvOffsets.foreach { case (v, o) => cascadeOffsets(v) = o }
            // delta-accumulation resumes only from persisted aux state; a
            // snapshot from a recompute-mode incarnation restores fine —
            // the spec just drops back to recompute
            deltaAggSpec.foreach { spec =>
              if (new java.io.File(s"$d/aux").isDirectory) {
                val aux = spark.read.parquet(s"$d/aux").localCheckpoint(true)
                auxState = Some(aux)
                cascadeInner = Some(DeltaAgg.visible(aux, spec))
              } else deltaAggSpec = None
            }
          }
          snapshot = Some(snap)
          snap.createOrReplaceTempView(viewName)
          true
        } catch { case _: Throwable => false }
    }

  /** Durable-reopen gate for the top-N/session paths, resolved BEFORE the
    * face streams bind: a valid snapshot whose recorded per-table positions
    * are consistent with the restored tables yields the seq map the faces
    * backfill from (nothing, normally — close flushed first). */
  private[engine] def streamRestoreSeqs(mode: String): Option[Map[String, Long]] =
    validSnapshotMeta(mode).map(_._3).filter { seqs =>
      val tbls = engine.referencedLiveTables(stmt)
      // every referenced table needs an EXACT viewName-keyed entry — a
      // missing key (incl. a legacy bare-name snapshot) refuses the
      // restore and falls back to replay recovery
      tbls.nonEmpty && tbls.forall(t => seqs.get(t.viewName).exists(_ <= t.currentSeq)) &&
        engine.referencedMvs(stmt, excluding = (schemaName, name)).isEmpty
    }

  private[engine] def stop(): Unit = {
    query.foreach(_.stop())
    engine.releaseStreamReaders(viewName)
    synchronized { faceStreams.clear() }
    spark.catalog.dropTempView(viewName)
    if (topNMode) spark.catalog.dropTempView(topNSrcView)
    if (sessionMode) spark.catalog.dropTempView(sessionSrcView)
  }

  /** DROP MV: the retained changelog belongs to THIS MV incarnation — a
    * later same-named MV (possibly a different query / schema) must not
    * recover it as durable history, and the segment files must not outlive
    * the drop. Delegated to [[ChangeLog.purge]] (which holds the log's own
    * monitor, so in-flight fetches cannot race the unlink). */
  private[engine] def purgeChangelog(): Unit = {
    changeLog.purge()
    engine.mvSnapshotDirFor(viewName).foreach(SegmentFiles.delete)
  }
}

object MaterializedView {
  private[engine] val log = org.slf4j.LoggerFactory.getLogger(classOf[MaterializedView])

  /** Helper column a cascade MV's folded HAVING predicate lands in — never
    * visible: [[MaterializedView#cascadeVisible]] filters on it and drops it
    * before the snapshot or any changelog op is derived. */
  private[engine] val HavingCol = "__graft_having"

  /** Multiplicity column of the delta-join cascade's grouped state. */
  private[engine] val CntCol = "__graft_cnt"

  /** One changelog-emitting cascade upstream — an MV (log = its changelog,
    * snap = its snapshot) or a live table (log = its table changelog,
    * snap = its upsert-resolved batch face). `viewName` is the mangled
    * name the rewritten statement references, used for delta/cover-view
    * retargeting in [[MaterializedView#cascadeRefresh]]. */
  private[engine] final case class CascadeSrc(
      viewName: String, log: ChangeLog, snap: () => org.apache.spark.sql.DataFrame)

  /** Epoch-diff keying strategy — see [[MaterializedView#deriveMode]]. */
  private[engine] sealed trait KeyMode
  private[engine] final case class Keyed(keys: Seq[String]) extends KeyMode
  private[engine] case object GlobalRow extends KeyMode
  private[engine] case object Multiset extends KeyMode
}
