package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A live (streamable) table: the engine-native form of the reference's
  * row-stream-backed table (`demo.py:120-131`, upsert form
  * `risingwave/core.py:506-513`).
  *
  * Dual representation:
  *  - a streaming face PER MV maintainer: a file-source stream over the
  *    spilled segments (attach-time backfill, executor-side) unioned with
  *    a per-reader [[MemoryStream]] that seeds the driver-resident tail
  *    and carries live appends — per-reader because a shared stream would
  *    let one query's commits prune batches another query hasn't read;
  *  - an accumulated batch view under the (schema-mangled) table name for
  *    interactive `fetch` SQL.
  *
  * Ingest mirrors the reference exactly: per-table row buffer flushed at
  * `bufSize = 5` (`risingwave/core.py:68`), missing columns NULL-filled with
  * a warning (`risingwave/core.py:102-122`), and DataFrame inserts flush the
  * row buffer first to preserve arrival order (`risingwave/core.py:280-281`).
  *
  * Durability & memory bound: row history spills to self-describing parquet
  * segments (`seg-<minSeq>-<maxSeq>-<count>`, the changelog's scheme) once
  * the in-memory tail exceeds `graft.table.spillThreshold` (default 100k
  * rows) — under `ConnOptions.dataDir` in durable mode (where the remaining
  * tail also spills at engine close, so a reopened engine restores the
  * table from its segments), or under a temp dir for ephemeral tables (same
  * memory bound, no restore). Driver memory never holds more than the
  * un-spilled tail. The batch face unions the segment scan with the tail;
  * the `__seq` ingestion-order column rides the segments, preserving upsert
  * version resolution across restarts. At cluster scale the segment
  * directory is a log-compacted table format on shared storage; all
  * consumers only see DataFrames, so the swap is confined to this class.
  */
final class LiveTable(
    spark: SparkSession,
    val schemaName: String,
    val name: String,
    val schema: StructType,
    val primaryKey: Seq[String] = Nil,
    val versionColumn: Option[String] = None,
    persistDir: Option[String] = None,
    changelogDir: Option[String] = None) {

  val bufSize = 5

  private val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))

  private val buffer = ArrayBuffer[Row]()
  private val allRows = ArrayBuffer[Row]()

  /** (minSeq, maxSeq, path, rowCount) per spilled segment, in seq order. */
  private val segments = ArrayBuffer[(Long, Long, String, Long)]()

  /** Per-segment (min, max, distinct-within) of the single-column primary
    * key, recorded for DRIVER-side segment writes (spill chunks, face
    * compaction, pair merges — the rows are on the driver anyway), so
    * touched-key probes can prune segments whose key range cannot overlap
    * the flush's delta (guide §6: min/max stats pruning, lifted to the
    * segment index so non-overlapping files are never even opened), and —
    * round 16 — so [[disjointResolvedDF]] can skip upsert resolution
    * outright for segments that provably hold their keys' ONLY rows.
    * Executor-written segments (bulk ingest, DML rewrite) and
    * restart-recovered ones have no entry and are treated as
    * always-overlapping / possibly-duplicated — both uses are
    * key-superset-safe optimizations, never correctness dependencies. */
  private val segKeyRange = scala.collection.mutable.Map[String, (Any, Any, Boolean)]()

  private def recordKeyRange(path: String, rows: Seq[Row]): Unit =
    keyRange(rows).foreach(segKeyRange.update(path, _))

  /** (min, max, distinct-within) of the single-column primary key over
    * `rows`. None for an empty set, a NULL key (the rows stay unprunable),
    * a multi-column key or a key type without a local ordering. */
  private def keyRange(rows: Iterable[Row]): Option[(Any, Any, Boolean)] = {
    if (primaryKey.size != 1) return None
    val ord = graft.streaming.Changelog.localOrdering(
      schema(primaryKey.head).dataType).getOrElse(return None)
    val keyIdx = schema.fieldIndex(primaryKey.head)
    var lo: Any = null
    var hi: Any = null
    var unique = true
    val seen = new scala.collection.mutable.HashSet[Any]()
    rows.foreach { r =>
      val k = r.get(keyIdx)
      if (k == null) return None
      if (unique && !seen.add(k)) unique = false
      if (lo == null || ord.lt(k, lo)) lo = k
      if (hi == null || ord.gt(k, hi)) hi = k
    }
    if (lo == null) None else Some((lo, hi, unique))
  }

  // The memory tail's LocalRelation frame and PK range, each built on first
  // use after a change to `allRows` and shared by every face, history and
  // diff read until the next change; [[tailChanged]] drops both.
  private var tailFrame: Option[DataFrame] = None
  private var tailRange: Option[Option[(Any, Any, Boolean)]] = None
  /** Tail frames encoded so far — spec probe: one per change of the tail. */
  private[engine] var tailEncodes = 0L

  /** The memory tail as a `withSeq` LocalRelation. */
  private def tailDF: DataFrame = tailFrame.getOrElse {
    val df = spark.createDataFrame(allRows.toList.asJava, withSeq)
    tailEncodes += 1
    tailFrame = Some(df)
    df
  }

  private def tailKeyRange: Option[(Any, Any, Boolean)] = tailRange.getOrElse {
    val r = keyRange(allRows)
    tailRange = Some(r)
    r
  }

  /** Call after every mutation of `allRows`. */
  private def tailChanged(): Unit = {
    tailFrame = None
    tailRange = None
  }

  /** Engine-written segments carry `withSeq`: reading them under it skips
    * Parquet's schema-inference job. */
  private def readSegments(paths: Seq[String]): DataFrame =
    spark.read.schema(withSeq).parquet(paths: _*)

  private def spillThreshold: Int =
    spark.conf.getOption("graft.table.spillThreshold").map(_.toInt).getOrElse(100000)
  // durable tables spill under dataDir (restorable); ephemeral tables spill
  // to a temp dir — same memory bound, no restore
  private lazy val segDir: String = persistDir.map { d =>
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)); d
  }.getOrElse(java.nio.file.Files.createTempDirectory("graft-table-").toString)

  /** One MemoryStream per reader (= MV maintainer), paired with the
    * reader's full face DF (file-source backfill unioned with the stream —
    * see [[streamingDFFor]]). A SHARED stream is wrong twice over:
    * MemoryStream prunes batches once its reading query commits them, so
    * (a) two queries reading at different paces race for the same buffer,
    * and (b) an MV created after ingest started misses the pruned history
    * entirely. Each reader instead gets its own stream, fed every
    * subsequent batch until released. */
  private val readerStreams =
    scala.collection.mutable.Map[String, (MemoryStream[Row], DataFrame)]()

  def viewName: String = Dialect.mangle(schemaName, name)

  private var seq = 0L

  // restart recovery (durable mode): rebuild the segment index from the
  // self-describing directory names ([[SegmentFiles]] codec) and resume
  // the sequence counter past every recovered row
  persistDir.foreach { d =>
    segments ++= SegmentFiles.recover(d)
    seq = spilledMaxSeq
  }

  /** Highest `__seq` in any segment. Segment seq ranges need not be
    * monotone in index order: recovery orders segments by their lowest
    * seq, and a data dir written before [[insertBulk]] spilled the tail
    * first can hold a bulk segment below a later tail spill. */
  private def spilledMaxSeq: Long = segments.iterator.map(_._2).maxOption.getOrElse(0L)

  /** The table's own 4-op changelog (round 8): the feed that lets aggregate
    * MVs over PK/upsert tables — and over DML-mutated tables — maintain
    * incrementally through the changelog-cascade path instead of batch
    * re-running every FLUSH (the reference server's canonical shape,
    * `risingwave/core.py:506-513` upsert table + `:451-456` MV over it).
    * Emission is LAZY: nothing is written until a cascade maintainer calls
    * [[enableChangelog]] — an un-observed table pays zero double-write.
    * Durable mode persists the log beside the row segments so a reopened
    * cascade MV resumes from its recorded offsets. */
  private[engine] val changeLog =
    new ChangeLog(spark, () => schema, changelogDir)
  @volatile private var clEnabled = false
  /** Max `__seq` already reflected in the changelog. Starts at the
    * RECOVERED seq: a durable close runs a final FLUSH (emitting through
    * [[emitChangelog]]) before spilling, so on reopen the log already
    * covers everything in the segments. */
  private var clSeq = seq

  /** Turn on changelog emission (idempotent) and return the log. Called by
    * cascade MV admission; history before this point is the caller's
    * backfill (it evaluates its statement over current state). */
  private[engine] def enableChangelog(): ChangeLog = synchronized {
    if (!clEnabled) {
      // seqs are stamped at buffering time: rows still in the row buffer
      // carry seqs ≤ `seq` but are invisible to the caller's backfill
      // (batchDF reads segments + tail only) — flush first, or they would
      // be both unseen by the backfill and skipped by `clSeq = seq`
      flushBuffer()
      clEnabled = true
      clSeq = seq
    }
    changeLog
  }

  /** Emit the table's changelog delta for everything ingested since the
    * last emission — called at the FLUSH barrier (before MV maintainers
    * run) and within [[mutate]]. For a plain table the delta rows are
    * Inserts; for a PK/upsert table the emitted ops are the KEYED diff of
    * the resolved visible state restricted to the touched keys (new key →
    * Insert, overwritten key → UpdateDelete/UpdateInsert, losing version →
    * nothing), computed with the touched-key semi-join BEFORE the
    * resolution window so per-flush cost is O(touched keys' history), not
    * O(table). */
  private[engine] def emitChangelog(): Unit = synchronized {
    if (!clEnabled || seq == clSeq) return
    flushBuffer()
    // lazy: the zero-job memory paths below never read the history
    lazy val hist = rawHistoryDF
    lazy val delta = hist.filter(col("__seq") > clSeq)
    val ops =
      if (primaryKey.isEmpty)
        // zero-job fast path: a plain table's delta is Insert-only, and
        // while it still sits in the driver memory tail (nothing newer
        // than the last spill) the ops frame is a LocalRelation built from
        // rows we already hold, in seq order — no LocalRelation re-encode,
        // no sort job, and the appendDF local path stamps it job-free too
        memoryInsertOps().getOrElse(
          delta.orderBy("__seq").drop("__seq")
            .withColumn("op", lit(graft.streaming.Changelog.OpInsert)))
      else GraftEngine.timed(spark, viewName, "tbl-changelog-diff") {
        // fastest path (round 10): while the whole raw history lives in the
        // driver memory tail (nothing spilled), the diff needs ZERO Spark
        // jobs — the delta rows, their touched keys, and those keys' prior
        // history are all driver-resident already; the old spelling built a
        // LocalRelation over the tail and ran a distinct + broadcast-semi
        // collect job against it every flush (the dominant per-epoch cost
        // of the pkagg fold bench at ~0.7-0.9 s)
        memoryChangelogDiff().getOrElse(prunedChangelogDiff().getOrElse {
          val keys = delta.select(primaryKey.map(col): _*).distinct()
          // fast path: collect the touched keys' RAW history once (bounded)
          // and resolve both sides driver-side — the distributed spelling
          // paid two semi-join + resolution-window jobs per flush for
          // delta-sized results
          localChangelogDiff(hist, keys).getOrElse {
            val before = resolvedForKeys(hist.filter(col("__seq") <= clSeq), keys)
            val after = resolvedForKeys(hist, keys)
            // both sides are touched-key-restricted (delta-sized): the
            // driver diff replaces the full-outer join + sort jobs per flush
            graft.streaming.Changelog.diffPreferLocal(before, after, primaryKey, 50000)
          }
        })
      }
    GraftEngine.timed(spark, viewName, "tbl-changelog-append")(changeLog.appendDF(ops))
    clSeq = seq
  }

  /** Driver-side changelog diff for a flush whose touched keys' raw
    * history fits under a bound: ONE semi-join + collect job, then the
    * before/after upsert resolution (max by version DESC NULLS LAST, then
    * `__seq` DESC — identical to [[resolvedForKeys]]'s window) and the
    * keyed diff run on the driver. None = too big or a version/key type
    * without a local ordering → caller uses the distributed spelling. */
  private def localChangelogDiff(hist: DataFrame,
                                 keys: DataFrame): Option[DataFrame] = {
    import graft.streaming.Changelog
    val bound = 50000
    val restrictedSchema = hist.schema
    if (Changelog.localOrdering(
          restrictedSchema(versionColumn.getOrElse("__seq")).dataType).isEmpty)
      return None
    if (primaryKey.exists(k =>
        Changelog.localOrdering(restrictedSchema(k).dataType).isEmpty))
      return None
    val kr = keys.toDF(primaryKey.map(c => s"__k_$c"): _*)
    val rows = hist.join(broadcast(kr),
        primaryKey.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _), "left_semi")
      .limit(bound + 1).collect()
    if (rows.length > bound) return None
    localDiffOfRows(rows.toIndexedSeq)
  }

  /** Key-range-pruned changelog diff once segments exist (round 16, guide
    * §6): the post-spill diff previously semi-join-scanned the FULL raw
    * history (every segment + tail) per flush to find the touched keys'
    * prior versions. With the per-segment PK ranges recorded at driver
    * write time, segments whose range cannot overlap the delta's key range
    * are dropped from the probe — and when NO segment overlaps (the
    * common append-mostly shape: fresh keys above every spilled range),
    * the touched keys' entire history is the driver tail and the diff
    * runs with ZERO jobs. Requires every unemitted delta row to still be
    * tail-resident (spill keeps the newest half, so post-emit appends
    * are; a bulk segment above clSeq falls back) and a single scalar PK.
    * None → the caller's full-history spelling. */
  private def prunedChangelogDiff(): Option[DataFrame] = {
    import graft.streaming.Changelog
    if (segments.isEmpty || primaryKey.size != 1) return None
    val sch = withSeq
    if (Changelog.localOrdering(
          sch(versionColumn.getOrElse("__seq")).dataType).isEmpty)
      return None
    val pk = primaryKey.head
    val keyOrd = Changelog.localOrdering(schema(pk).dataType)
      .getOrElse(return None)
    if (spilledMaxSeq > clSeq) return None // delta rows spilled: full path
    val seqIdx = sch.fieldIndex("__seq")
    val keyIdx = sch.fieldIndex(pk)
    val touched = allRows.iterator.filter(_.getLong(seqIdx) > clSeq)
      .map(_.get(keyIdx)).toSet
    if (touched.isEmpty || touched.contains(null)) return None
    var tMin: Any = null
    var tMax: Any = null
    touched.foreach { k =>
      if (tMin == null || keyOrd.lt(k, tMin)) tMin = k
      if (tMax == null || keyOrd.gt(k, tMax)) tMax = k
    }
    val overlapping = segments.filter { case (_, _, p, _) =>
      segKeyRange.get(p) match {
        case Some((lo, hi, _)) => !(keyOrd.gt(lo, tMax) || keyOrd.lt(hi, tMin))
        case None => true // unknown range: never prune
      }
    }
    if (overlapping.isEmpty)
      // every touched key's full history is tail-resident: zero jobs
      return localDiffOfRows(
        allRows.filter(r => touched.contains(r.get(keyIdx))).toIndexedSeq)
    if (overlapping.size == segments.size) return None // nothing pruned
    // pruned probe: only overlapping segments + tail feed the bounded
    // collect (key-superset-safe — a non-overlapping segment cannot hold
    // a touched key's row, so every touched-key-restricted computation
    // over the pruned history equals the full-history one)
    val pruned = readSegments(overlapping.map(_._3).toSeq).unionByName(tailDF)
    val keySchema = org.apache.spark.sql.types.StructType(Seq(schema(pk)))
    val keys = spark.createDataFrame(java.util.Arrays.asList(
      touched.iterator.map(k => Row(k)).toIndexedSeq: _*), keySchema)
    Some(localChangelogDiff(pruned, keys).getOrElse {
      val before = resolvedForKeys(pruned.filter(col("__seq") <= clSeq), keys)
      val after = resolvedForKeys(pruned, keys)
      graft.streaming.Changelog.diffPreferLocal(before, after, primaryKey, 50000)
    })
  }

  /** Zero-job Insert-ops frame for a plain (no-PK) table whose unemitted
    * delta is entirely in the driver memory tail (clSeq at or past the
    * newest spilled segment): the tail rows are already seq-ordered, so
    * the ops frame is a LocalRelation in emission order. None once any
    * delta row has spilled — the distributed sort spelling covers it. */
  private def memoryInsertOps(): Option[DataFrame] = {
    if (clSeq < spilledMaxSeq) return None
    val sch = withSeq
    val seqIdx = sch.fieldIndex("__seq")
    val rows = allRows.iterator.filter(_.getLong(seqIdx) > clSeq)
      .map(r => Row.fromSeq(
        r.toSeq.patch(seqIdx, Nil, 1) :+ graft.streaming.Changelog.OpInsert))
      .toIndexedSeq
    val outSchema = org.apache.spark.sql.types.StructType(
      sch.fields.patch(seqIdx, Nil, 1))
      .add("op", org.apache.spark.sql.types.StringType)
    Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema))
  }

  /** Zero-job changelog diff while NOTHING has spilled: the raw history IS
    * the driver memory tail, so the delta rows, their touched keys, and
    * those keys' full prior history come from one in-memory scan — no
    * LocalRelation re-encode, no distinct shuffle, no broadcast-semi
    * collect job per flush. Falls to the collect-based path once segments
    * exist (and to the distributed one past the collect bound). */
  private def memoryChangelogDiff(): Option[DataFrame] = {
    import graft.streaming.Changelog
    if (segments.nonEmpty) return None
    val sch = withSeq
    if (Changelog.localOrdering(
          sch(versionColumn.getOrElse("__seq")).dataType).isEmpty)
      return None
    if (primaryKey.exists(k => Changelog.localOrdering(sch(k).dataType).isEmpty))
      return None
    val seqIdx = sch.fieldIndex("__seq")
    val keyIdx = primaryKey.map(sch.fieldIndex)
    val touched = allRows.iterator.filter(_.getLong(seqIdx) > clSeq)
      .map(r => keyIdx.map(r.get)).toSet
    localDiffOfRows(
      allRows.filter(r => touched.contains(keyIdx.map(r.get))).toIndexedSeq)
  }

  /** Shared driver-side tail of the local changelog-diff paths: upsert
    * resolution of the touched keys' raw rows (max by version DESC NULLS
    * LAST, then `__seq` DESC — identical to [[resolvedForKeys]]'s window)
    * on both the ≤clSeq prefix and the full set, then the keyed diff. */
  private def localDiffOfRows(rows: Seq[Row]): Option[DataFrame] = {
    import graft.streaming.Changelog
    val sch = withSeq
    val verName = versionColumn.getOrElse("__seq")
    val verOrd = Changelog.localOrdering(sch(verName).dataType)
      .getOrElse(return None)
    val seqIdx = sch.fieldIndex("__seq")
    val verIdx = sch.fieldIndex(verName)
    val keyIdxRaw = primaryKey.map(sch.fieldIndex)
    // pick-first under (version DESC NULLS LAST, __seq DESC): NULL version
    // ranks below everything, exactly like desc_nulls_last
    def resolve(rs: Seq[Row]): Seq[Row] =
      rs.groupBy(r => keyIdxRaw.map(r.get)).valuesIterator.map { grp =>
        grp.maxBy(identity)(new Ordering[Row] {
          def compare(a: Row, b: Row): Int = {
            val av = a.get(verIdx); val bv = b.get(verIdx)
            val c =
              if (av == null && bv == null) 0
              else if (av == null) -1
              else if (bv == null) 1
              else verOrd.compare(av, bv)
            if (c != 0) c
            else java.lang.Long.compare(a.getLong(seqIdx), b.getLong(seqIdx))
          }
        })
      }.toIndexedSeq
    def strip(r: Row): Row =
      Row.fromSeq(r.toSeq.patch(seqIdx, Nil, 1))
    val outSchema = org.apache.spark.sql.types.StructType(
      sch.fields.patch(seqIdx, Nil, 1))
    val before = resolve(rows.filter(_.getLong(seqIdx) <= clSeq).toIndexedSeq).map(strip)
    val after = resolve(rows.toIndexedSeq).map(strip)
    val keyIdxOut = primaryKey.map(outSchema.fieldIndex).toArray
    Changelog.localKeyedDiff(before, after, keyIdxOut, outSchema).map { ops =>
      spark.createDataFrame(java.util.Arrays.asList(ops.toIndexedSeq: _*),
        outSchema.add("op", org.apache.spark.sql.types.StringType))
    }
  }

  /** Upsert-resolve `hist` (a raw `__seq`-stamped history) restricted to
    * the given key set: null-safe semi-join FIRST, then the max-version
    * window — the window only ever sees the touched keys' rows. */
  private def resolvedForKeys(hist: DataFrame, keys: DataFrame): DataFrame = {
    val kr = keys.toDF(primaryKey.map(c => s"__k_$c"): _*)
    val restricted = hist.join(broadcast(kr),
      primaryKey.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _), "left_semi")
    val ver = versionColumn.map(col).getOrElse(col("__seq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(primaryKey.map(col): _*)
      .orderBy(ver.desc_nulls_last, col("__seq").desc)
    restricted.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__seq")
  }

  /** Streaming face for one named reader — backfills existing rows (spilled
    * segments + memory tail) on first attach. A non-negative `afterSeq`
    * backfills only rows with `__seq > afterSeq`: the durable-snapshot
    * reopen path, where the reader's restored maintainer state already
    * accounts for everything at or below it.
    *
    * The spilled history backfills EXECUTOR-SIDE (round 8, like
    * [[MaterializedView.fileFace]]): a file-source stream over the segment
    * dir, seq-bounded to the segments committed at attach time, unioned
    * with the reader's MemoryStream. The MemoryStream seeds only the
    * driver-RESIDENT memory tail (bounded by the spill threshold — no
    * round trip; the rows are already on the driver) and carries every
    * subsequent append. The static `__seq <= spillBound` bound makes the
    * split exact: a post-attach spill segment holds only rows the
    * MemoryStream already delivered (seq > bound — filtered out of the
    * file part), and a post-attach bulk segment feeds through the
    * MemoryStream chunk loop in [[insertBulk]] (also > bound). So a
    * bulk-loaded 100 TB table backfills a late-created MV without one row
    * crossing the driver; only live per-flush appends take the
    * driver-side MemoryStream hop — the reference's own insert shape.
    *
    * Call [[dropReader]] when the reader goes away (MV dropped, demoted,
    * or failed to start) or its stream buffers forever. */
  def streamingDFFor(reader: String, afterSeq: Long = -1L): DataFrame = synchronized {
    readerStreams.getOrElseUpdate(reader, {
      val s = MemoryStream[Row](enc, spark)
      val spillBound = spilledMaxSeq
      val tail = allRows.toList
        .filter(_.getLong(schema.length) > math.max(spillBound, afterSeq))
        .map(r => Row.fromSeq(r.toSeq.dropRight(1)))
      if (tail.nonEmpty) s.addData(tail)
      val face =
        if (segments.nonEmpty && spillBound > afterSeq) {
          val fileDF = spark.readStream
            .schema(withSeq)
            // recovered durable segments can be arbitrarily old
            .option("maxFileAge", "3650d")
            .parquet(s"$segDir/seg-*")
            // late-appearing files (post-attach spills/bulk segments) are
            // listed by the stream but hold only seqs above the bound —
            // read-and-discarded, never double-counted
            .where(col("__seq") <= spillBound && col("__seq") > afterSeq)
            .select(schema.fieldNames.toIndexedSeq.map(col): _*)
          fileDF.unionByName(s.toDF())
        } else s.toDF()
      (s, face)
    })._2
  }

  /** Current ingestion sequence — recorded in durable MV snapshots so a
    * reopened maintainer's face backfills only rows it has not consumed. */
  private[engine] def currentSeq: Long = synchronized(seq)

  /** Stop buffering batches for a reader (its maintainer no longer runs). */
  def dropReader(reader: String): Unit = synchronized { readerStreams -= reader }

  /** Raw append history with `__seq`, segments unioned with the memory
    * tail (no upsert resolution). */
  private def rawHistoryDF: DataFrame =
    if (segments.isEmpty) tailDF
    else readSegments(segments.map(_._3).toSeq).unionByName(tailDF)

  /** Driver-local merged-face tier for PK tables (round 14): the batch
    * face is one current row per key — exactly a map keyed by the PK
    * tuple — yet the window spelling below re-resolves versions over the
    * FULL raw history for EVERY reader, every epoch: at the bench that
    * re-dedup was an O(table) exchange per window-cascade epoch (98% of
    * `s_mv_window_maintain`'s shuffle — profiled with
    * `graft.tools.ShuffleProfile`), paid again by every batch-re-run MV
    * and client fetch. While the current-row set fits [[mergedFaceMax]]
    * (and every PK/version type has a local ordering — the map's point
    * upserts replay the exact (version DESC NULLS LAST, __seq DESC)
    * winner rule), the face is a LocalRelation maintained by point
    * writes: no dedup window, no history scan, job-free broadcast builds
    * for every downstream reader. Outgrowing the bound latches to the
    * distributed window spelling (monotone); at cluster scale this tier
    * IS the compacted keyed table format (RocksDB/LSM state) the scale
    * notes name — the window face is the replayable fallback, not the
    * steady state. Values keep their `__seq` so future upserts compare
    * against the stored winner exactly as the window would. */
  private var mergedFace:
    Option[scala.collection.mutable.LinkedHashMap[List[Any], Row]] = None
  private var mergedFaceCache: Option[DataFrame] = None
  private var mergedFaceOversize = false
  private[graft] var mergedFaceMax = 200000
  /** True while the batch face is served from the driver map (probe). */
  private[graft] def faceIsLocal: Boolean = synchronized(mergedFace.nonEmpty)

  /** Winner rule shared with [[localDiffOfRows]]/[[resolvedForKeys]]:
    * larger under (version DESC NULLS LAST, then `__seq` DESC) wins.
    * None when the version type has no local ordering. */
  private lazy val winnerOrdering: Option[Ordering[Row]] = {
    val sch = withSeq
    val verName = versionColumn.getOrElse("__seq")
    graft.streaming.Changelog.localOrdering(sch(verName).dataType).map { verOrd =>
      val seqIdx = sch.fieldIndex("__seq")
      val verIdx = sch.fieldIndex(verName)
      new Ordering[Row] {
        def compare(a: Row, b: Row): Int = {
          val av = a.get(verIdx); val bv = b.get(verIdx)
          val c =
            if (av == null && bv == null) 0
            else if (av == null) -1
            else if (bv == null) 1
            else verOrd.compare(av, bv)
          if (c != 0) c
          else java.lang.Long.compare(a.getLong(seqIdx), b.getLong(seqIdx))
        }
      }
    }
  }

  private lazy val mergedFaceAdmissible: Boolean =
    primaryKey.nonEmpty && winnerOrdering.nonEmpty &&
      primaryKey.forall(k => graft.streaming.Changelog
        .localOrdering(schema(k).dataType).nonEmpty) // scalar, value-hashable keys

  private def mergedPut(m: scala.collection.mutable.LinkedHashMap[List[Any], Row],
      keyIdx: Seq[Int], ord: Ordering[Row], r: Row): Unit = {
    val k = keyIdx.map(r.get).toList
    val cur = m.getOrElse(k, null)
    if (cur == null || ord.compare(r, cur) > 0) m.update(k, r)
  }

  /** Seed the map: driver-side from the memory tail while nothing has
    * spilled (zero jobs), one bounded resolve-collect over the raw
    * history otherwise (no worse than the window face a single read pays).
    * Over the bound → latch oversize for good. */
  private def trySeedMergedFace(): Unit = {
    if (mergedFace.nonEmpty || mergedFaceOversize || !mergedFaceAdmissible) return
    val keyIdx = primaryKey.map(withSeq.fieldIndex)
    val ord = winnerOrdering.get
    val m = new scala.collection.mutable.LinkedHashMap[List[Any], Row]()
    if (segments.isEmpty) allRows.foreach(r => mergedPut(m, keyIdx, ord, r))
    else {
      val ver = versionColumn.map(col).getOrElse(col("__seq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(primaryKey.map(col): _*)
        .orderBy(ver.desc_nulls_last, col("__seq").desc)
      val rows = rawHistoryDF.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .limit(mergedFaceMax + 1).collect()
      if (rows.length > mergedFaceMax) { mergedFaceOversize = true; return }
      rows.foreach(r => mergedPut(m, keyIdx, ord, r))
    }
    if (m.size > mergedFaceMax) { mergedFaceOversize = true; return }
    mergedFace = Some(m)
    mergedFaceCache = None
  }

  /** Fold freshly-appended rows into the map by point upserts (called
    * under the table lock from [[addBatch]]). Outgrowing the bound drops
    * the map and latches — the window face below is always the truth. */
  private def mergedFaceAppend(rows: Seq[Row]): Unit = mergedFace.foreach { m =>
    val keyIdx = primaryKey.map(withSeq.fieldIndex)
    val ord = winnerOrdering.get
    rows.foreach(r => mergedPut(m, keyIdx, ord, r))
    mergedFaceCache = None
    if (m.size > mergedFaceMax) {
      mergedFace = None
      mergedFaceOversize = true
    }
  }

  /** Drop the map (bulk executor-side ingest, DML rewrite — paths whose
    * rows never cross the driver); the next read re-seeds bounded. */
  private def invalidateMergedFace(): Unit = {
    mergedFace = None
    mergedFaceCache = None
  }

  /** Batch face: all ingested rows, with upsert-by-primary-key semantics
    * applied (keep the max-version row; version NULLs never overwrite — the
    * `ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN` contract). */
  def batchDF: DataFrame = synchronized {
    if (primaryKey.nonEmpty) {
      trySeedMergedFace()
      mergedFace match {
        case Some(m) =>
          return mergedFaceCache.getOrElse {
            // __seq rides last (withSeq appends it) — strip for the face
            val rows = m.valuesIterator
              .map(r => Row.fromSeq(r.toSeq.dropRight(1))).toIndexedSeq
            val df = spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), schema)
            mergedFaceCache = Some(df)
            df
          }
        case None => ()
      }
    }
    val df =
      if (primaryKey.isEmpty) rawHistoryDF.drop("__seq")
      else disjointResolvedDF().getOrElse {
        val ver = versionColumn.map(col).getOrElse(col("__seq"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(primaryKey.map(col): _*)
          .orderBy(ver.desc_nulls_last, col("__seq").desc)
        rawHistoryDF.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn", "__seq")
      }
    df
  }

  /** Disjoint-segment batch face for the face-oversize regime (round 16,
    * guide §2.4): the distributed spelling above re-resolves winners with
    * a row_number window — a full-history hash exchange — on EVERY
    * evaluation, which is what every window/session-cascade epoch, batch
    * re-run MV and client fetch pays once the table outgrows
    * [[mergedFaceMax]] (ScaleProbe window mode: ~22 bytes × history of
    * shuffle per epoch, growing linearly forever). But upsert resolution
    * only does work where a key has MORE than one version: a segment
    * whose recorded key range overlaps no other segment's range and no
    * tail key, and whose keys are distinct within it, provably holds the
    * only row of every key it contains — those rows ARE their own
    * winners and can bypass the window entirely. In the append-mostly
    * shape a 100 TB table lives on (fresh keys per batch, compaction
    * merging per-key winners), EVERY segment qualifies and the batch face
    * plans as a plain parquet scan ∪ tail LocalRelation with ZERO
    * exchanges. Keys with real duplicate history keep the exact window
    * spelling, restricted to the overlapping segments. None = no segment
    * provably disjoint (unknown ranges, overlapping upserts, multi-column
    * or unorderable PK) → the caller's full-window spelling. */
  private def disjointResolvedDF(): Option[DataFrame] = {
    if (primaryKey.size != 1 || segments.isEmpty) return None
    val pk = primaryKey.head
    val keyOrd = graft.streaming.Changelog.localOrdering(schema(pk).dataType)
      .getOrElse(return None)
    // the memory tail participates as one pseudo-segment (a NULL tail key
    // or an unorderable value refuses — superset-safe)
    val tail = tailKeyRange
    if (tail.isEmpty && allRows.nonEmpty) return None
    // every segment must carry a recorded range: an unknown range overlaps
    // everything, so nothing could be proven disjoint anyway
    val ranges: IndexedSeq[(String, (Any, Any, Boolean))] =
      segments.iterator.map { case (_, _, p, _) =>
        segKeyRange.get(p) match {
          case Some(r) => p -> r
          case None => return None
        }
      }.toIndexedSeq ++ tail.map("" -> _)
    // sort by lo; segment i is disjoint from EVERY other interval iff
    // max(hi) over all earlier-lo intervals < lo_i (nothing from the left
    // reaches in) and lo_{i+1} > hi_i (every later interval starts past
    // it — their los only grow). A neighbor-only check would miss a long
    // early interval spanning past its immediate successor.
    val sorted = ranges.sortWith((a, b) => keyOrd.lt(a._2._1, b._2._1))
    val prefixMaxHi = sorted.scanLeft(null: Any) { case (m, (_, (_, hi, _))) =>
      if (m == null || keyOrd.gt(hi, m)) hi else m
    }
    val clean = sorted.indices.filter { i =>
      val (_, (lo, hi, unique)) = sorted(i)
      unique &&
        (i == 0 || keyOrd.lt(prefixMaxHi(i), lo)) &&
        (i == sorted.length - 1 || keyOrd.gt(sorted(i + 1)._2._1, hi))
    }.map(sorted(_)._1).toSet
    if (!clean.exists(_.nonEmpty)) return None // no segment wins: keep one plan
    val cleanPaths = segments.iterator.map(_._3).filter(clean).toSeq
    val dirtyPaths = segments.iterator.map(_._3).filterNot(clean).toSeq
    val cols = schema.fieldNames.toIndexedSeq.map(col)
    val cleanDf = readSegments(cleanPaths).select(cols: _*)
    val dirtySide =
      if (dirtyPaths.isEmpty && clean("")) None
      else {
        val raw =
          if (dirtyPaths.isEmpty) tailDF
          else {
            val d = readSegments(dirtyPaths)
            if (clean("")) d else d.unionByName(tailDF)
          }
        val ver = versionColumn.map(col).getOrElse(col("__seq"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(primaryKey.map(col): _*)
          .orderBy(ver.desc_nulls_last, col("__seq").desc)
        Some(raw.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).select(cols: _*))
      }
    val cleanAll =
      if (clean("")) cleanDf.unionByName(tailDF.select(cols: _*)) else cleanDf
    Some(dirtySide.map(cleanAll.unionByName).getOrElse(cleanAll))
  }

  private def withSeq: StructType =
    schema.add("__seq", org.apache.spark.sql.types.LongType, nullable = false)

  def refreshView(): Unit = batchDF.createOrReplaceTempView(viewName)

  /** K2/K3 — buffered single-row insert with NULL fill. */
  def insertRow(values: Map[String, Any], forceFlush: Boolean = false): Unit = synchronized {
    val missing = schema.fieldNames.filterNot(values.contains)
    if (missing.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"insertRow($schemaName.$name): missing columns ${missing.mkString(",")} filled with NULL")
    buffer += alignRow(values)
    if (buffer.size >= bufSize || forceFlush) flushBuffer()
  }

  private def alignRow(values: Map[String, Any]): Row = {
    seq += 1
    Row.fromSeq(schema.fields.map(f =>
      coerceTemporal(values.getOrElse(f.name, null), f.dataType)).toSeq :+ seq)
  }

  /** Ingest-boundary temporal coercion: the declared column type wins.
    * PG `TIMESTAMP` is zoneless (TimestampNTZType) while `TIMESTAMPTZ` is
    * instant-based (TimestampType) — callers routinely hold the other
    * representation (an NTZ-parquet read yields LocalDateTime; most JDBC-ish
    * code yields java.sql.Timestamp). Mirrors Spark's own
    * `CAST(ts AS TIMESTAMP[_NTZ])` semantics: the wall clock is
    * reinterpreted in the session time zone. Non-temporal values pass
    * through untouched — the Row encoder stays the type check. */
  private lazy val sessionZone: java.time.ZoneId =
    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))
  private def coerceTemporal(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
    (v, dt) match {
      case (t: java.sql.Timestamp, org.apache.spark.sql.types.TimestampNTZType) =>
        t.toInstant.atZone(sessionZone).toLocalDateTime
      case (i: java.time.Instant, org.apache.spark.sql.types.TimestampNTZType) =>
        i.atZone(sessionZone).toLocalDateTime
      case (l: java.time.LocalDateTime, org.apache.spark.sql.types.TimestampType) =>
        java.sql.Timestamp.from(l.atZone(sessionZone).toInstant)
      // canonicalize the two java.time external types Spark also accepts:
      // the merged-face map keys/orders on raw JVM values, so a
      // parquet-seeded java.sql.Timestamp and an appended Instant for the
      // same PK must land as the SAME representation (and Changelog
      // .localOrdering casts versions to java.sql.{Timestamp,Date})
      case (i: java.time.Instant, org.apache.spark.sql.types.TimestampType) =>
        java.sql.Timestamp.from(i)
      case (d: java.time.LocalDate, org.apache.spark.sql.types.DateType) =>
        java.sql.Date.valueOf(d)
      case _ => v
    }

  private def coerceRow(r: Row): Seq[Any] =
    r.toSeq.zip(schema.fields).map { case (v, f) => coerceTemporal(v, f.dataType) }

  /** K4 — DataFrame/batch append (flushes the row buffer first). */
  def insert(rows: Seq[Row]): Unit = synchronized {
    flushBuffer()
    addBatch(rows.map(r => { seq += 1; Row.fromSeq(coerceRow(r) :+ seq) }))
  }

  /** K4 — DataFrame insert for arbitrary input sizes, routed through the
    * executor-side bulk path ([[insertBulk]]): the input never materializes
    * on the driver. `batchSize` bounds the chunks that feed any ATTACHED
    * streaming faces (the MemoryStream boundary is driver-side by
    * construction); with no attached readers the insert is fully
    * executor-side. */
  def insertDF(df: DataFrame, batchSize: Int = 100000): Unit =
    insertBulk(df, batchSize)

  /** Bulk append without a driver round-trip (INSERT … SELECT, large
    * DataFrame ingest): rows are stamped with contiguous `__seq`
    * executor-side (`zipWithIndex` preserves the input's partition order,
    * so upsert version resolution sees the same arrival order the old
    * driver-chunked path produced) and written straight to a parquet
    * segment — the driver records only the (min, max, path, count) index
    * entry, with the count taken from the written files' footers. Attached
    * streaming faces are then fed from the committed segment in bounded
    * chunks; when none are attached (the common bulk-load shape: load,
    * then CREATE MV), no row ever crosses the driver. */
  def insertBulk(df: DataFrame, batchSize: Int = 100000): Unit = synchronized {
    flushBuffer()
    // spill the memory tail first: every tail row then has a seq above
    // every segment's, the split [[streamingDFFor]] seeds its faces by
    spillTail()
    val base = seq
    // materialize the source ONCE before stamping: zipWithIndex runs a
    // partition-sizing job and the parquet write re-runs the plan — on a
    // nondeterministic SELECT (rand() filter, unordered LIMIT) the two runs
    // could disagree and mis-assign __seq (duplicates/gaps break upsert
    // version tie-breaking); the checkpoint also halves the cost of the
    // double execution for expensive sources
    // assignment casts (PG INSERT semantics): the declared column types win
    // — an NTZ-parquet source lands in a TIMESTAMPTZ column (and vice versa)
    // without the caller casting; no-op when types already match
    val src = df.select(schema.fields.toIndexedSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .localCheckpoint(true)
    // row count rides a LongAccumulator on the write pass (the ChangeLog
    // .appendDF idiom) — the old footer-read-back was a whole extra Spark
    // job per bulk insert. A retried write task would overcount; that only
    // overstates the segment's metadata count/maxSeq (seq stays monotone,
    // upsert resolution keys on per-row __seq values) — never row loss.
    val acc = spark.sparkContext.longAccumulator
    val stamped = spark.createDataFrame(
      src.rdd.zipWithIndex().map { case (r, i) =>
        acc.add(1L)
        Row.fromSeq(r.toSeq :+ (base + 1 + i))
      }, withSeq)
    val staging = s"$segDir/staging-bulk-${base + 1}"
    stamped.write.mode("overwrite").parquet(staging)
    val n = acc.value.longValue()
    if (n == 0) { SegmentFiles.delete(staging); return }
    val path = SegmentFiles.path(segDir, base + 1, base + n, n)
    SegmentFiles.commit(staging, path)
    segments += ((base + 1, base + n, path, n))
    seq = base + n
    // bulk rows never cross the driver — the merged-face map can't fold
    // them point-wise; drop it and let the next read re-seed bounded
    invalidateMergedFace()
    if (readerStreams.nonEmpty) {
      readSegments(Seq(path)).orderBy("__seq").drop("__seq")
        .toLocalIterator().asScala.grouped(batchSize)
        .foreach { chunk =>
          val rs = chunk.toSeq
          readerStreams.values.foreach(_._1.addData(rs))
        }
    }
    refreshView()
  }

  /** Flush this table's row buffer into one micro-batch (K1's multi-row
    * INSERT equivalent). */
  def flushBuffer(): Unit = synchronized {
    if (buffer.nonEmpty) {
      addBatch(buffer.toList)
      buffer.clear()
    }
  }

  private def addBatch(rows: Seq[Row]): Unit = {
    allRows ++= rows
    tailChanged()
    mergedFaceAppend(rows)
    // the streaming faces carry the declared schema (no __seq)
    val faces = rows.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
    readerStreams.values.foreach(_._1.addData(faces))
    // bound the driver tail — spill the oldest half past the threshold into
    // a parquet segment (the tail stays hot for cheap reads); applies to
    // ephemeral tables too, so table volume is never capped by driver heap
    if (allRows.size > spillThreshold) {
      val n = allRows.size - spillThreshold / 2
      writeSegment(allRows.take(n).toList)
      allRows.remove(0, n)
      tailChanged()
    }
    refreshView()
  }

  private def writeSegment(rows: Seq[Row]): Unit = {
    val minSeq = rows.head.getLong(rows.head.length - 1)
    val maxSeq = rows.last.getLong(rows.last.length - 1)
    // staging + rename, like ChangeLog.appendDF: a crash mid-write must
    // not leave a half-segment that restart recovery would index
    val staging = s"$segDir/staging-$minSeq"
    val path = SegmentFiles.path(segDir, minSeq, maxSeq, rows.size.toLong)
    // driver-side parquet write (round 15): spill chunks are driver rows
    // by construction — zero jobs; Spark write is the fallback
    if (!LocalParquet.write(spark, rows, withSeq, staging))
      spark.createDataFrame(rows.toList.asJava, withSeq)
        .coalesce(1).write.mode("overwrite").parquet(staging)
    SegmentFiles.commit(staging, path)
    segments += ((minSeq, maxSeq, path, rows.size.toLong))
    recordKeyRange(path, rows)
  }

  /** Durable-mode close hook: spill the remaining in-memory tail so the
    * whole table restores on the next open. No-op when ephemeral. */
  def spillAll(): Unit = synchronized {
    flushBuffer()
    if (persistDir.nonEmpty) spillTail()
  }

  private def spillTail(): Unit = if (allRows.nonEmpty) {
    writeSegment(allRows.toList)
    allRows.clear()
    tailChanged()
  }

  /** Engine-close hook for EPHEMERAL tables: unlink temp-dir segments (a
    * durable table's segments are its persistence — untouched). The
    * table changelog follows the same rule: ephemeral logs live in temp
    * dirs nothing will read again — purge; durable logs persist (a
    * reopened cascade MV resumes from its recorded offsets). */
  def cleanup(): Unit = synchronized {
    if (persistDir.isEmpty && segments.nonEmpty) {
      segments.foreach { case (_, _, p, _) => SegmentFiles.delete(p) }
      segments.clear()
      segKeyRange.clear()
    }
    // clEnabled guard: purging an untouched log would force-create its
    // lazy temp dir just to empty it
    if (changelogDir.isEmpty && clEnabled) changeLog.purge()
  }

  def rowCount: Long = synchronized(allRows.size.toLong + segments.map(_._4).sum)

  /** Set once UPDATE/DELETE has rewritten state: the MemoryStream no
    * longer reflects the table, so MVs created later must run in batch
    * re-run mode (existing ones are demoted by the engine at mutate time). */
  @volatile private[engine] var mutated = false

  /** UPDATE/DELETE support: replace the table's state with a transformation
    * of its current (PK-resolved) batch face. The streaming face is NOT fed
    * — MemoryStream is append-only, so the engine demotes every streaming
    * MV reading this table to batch re-run mode before calling this
    * (changelog-CASCADE MVs stay: the retraction ops emitted below flow
    * through the table changelog and the cascade folds them).
    *
    * The rewrite is EXECUTOR-SIDE (round 8): the transformed frame is
    * materialized once (`localCheckpoint` — the streaming faces were
    * already released, and `f` may be nondeterministic across re-runs),
    * stamped with fresh monotone `__seq` via `zipWithIndex`, and written
    * straight to a new parquet segment — no row ever crosses the driver,
    * so `UPDATE big_table SET …` is bounded by executor memory, not driver
    * heap. Superseded segments and the memory tail are retired after the
    * new segment commits and the view rebinds. `seq` stays monotone across
    * the rewrite (never reset): attached face gates and the changelog
    * position both key on it. */
  private[engine] def mutate(f: DataFrame => DataFrame): Unit =
    rewriteHistory(f, markMutated = true, emitRetractions = true)

  /** Version-history compaction for PK tables — the state-bound knob the
    * upsert design needs at scale: every batch read resolves versions with
    * a window over the FULL raw history, and without compaction the
    * history (every version ever written) grows without bound. Once the
    * history exceeds a floor (`graft.table.compactThreshold`, default
    * 100k rows) AND has doubled since the last compaction (amortized-O(1)
    * doubling rule), the history rewrites to its resolved winners — one
    * row per key. Correctness: future upserts compare (version, __seq)
    * against the winner exactly as before (losing versions can never win
    * retroactively); the table CHANGELOG is a separate log, so SINCE
    * replay and cascade folds are untouched; and no ops are emitted —
    * compaction is physically invisible. Plain tables never compact
    * (their history IS the data). At cluster scale this is the log
    * compaction a keyed table format runs in the background. */
  private[engine] def maybeCompact(): Unit = synchronized {
    if (primaryKey.isEmpty) return
    // compaction clears readerStreams / unlinks retired segments — safe
    // from flush ONLY because streaming maintainers never bind PK tables
    // (Mv.startModes routes them to cascade/batch modes). Guard that
    // cross-file invariant loudly: if a future change lets streaming
    // readers bind PK tables, skipping compaction (state keeps growing,
    // always correct) beats silently severing their feed mid-stream.
    if (readerStreams.nonEmpty) return
    val total = segments.map(_._4).sum + allRows.size
    val floor = spark.conf.getOption("graft.table.compactThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (total < floor) return
    if (mergedFace.nonEmpty) {
      // driver-tier face: the doubling-gated full collapse stays — it is
      // one driver-side segment write, no distributed work at all
      if (total < 2 * lastCompactRows) return
      if (compactFromFace())
        lastCompactRows = math.max(segments.map(_._4).sum + allRows.size, 1L)
      return
    }
    // face-less histories (oversize latch / bulk-seeded): bounded
    // incremental pair merges (round 16, verdict #3). The old path ran
    // the doubling-gated DISTRIBUTED rewriteHistory(identity) over the
    // FULL history inline with the flush — at the 1M-row ScaleProbe that
    // was a 16-31 MB shuffle spike in the epoch window where the gate
    // fired. Instead, merge ONE adjacent segment pair per flush, bounded
    // by [[compactChunkRows]], driver-side (one narrow scan job, zero
    // shuffle, LocalParquet write): no epoch ever pays more than the
    // chunk bound, and amortized rewrite work per row is O(chunk/spill)
    // — a small constant. A pair-local loser is a global loser (the
    // winner rule is a total order per key), so dropping it is exactly
    // what the full rewrite would do. Pairs whose combined size exceeds
    // the chunk bound stay segmented: reclaiming them inline would
    // reintroduce the spike; at cluster scale that residual is the
    // background compactor's job, and reads stay delta-proportional via
    // the key-range pruning above.
    mergeAdjacentSegments()
  }
  private var lastCompactRows = 0L

  /** Per-merge row bound of the incremental compactor: the pair's rows
    * are briefly driver-resident (they were at spill time too). */
  private def compactChunkRows: Long =
    spark.conf.getOption("graft.table.compactChunkRows").map(_.toLong)
      .getOrElse(2L * spillThreshold)

  /** Merge the leftmost adjacent segment pair under [[compactChunkRows]]
    * into one segment holding the pair's per-key winners. Seq bounds span
    * the pair (monotone-seq invariant preserved); when the changelog is
    * live only fully-emitted history merges (flush order makes that the
    * rule — emitChangelog runs before maybeCompact). */
  private def mergeAdjacentSegments(): Unit = {
    if (segments.size < 2 || !mergedFaceAdmissible) return
    val cap = compactChunkRows
    val emittedTo = if (clEnabled) clSeq else Long.MaxValue
    val idx = segments.indices.dropRight(1).find { i =>
      segments(i)._4 + segments(i + 1)._4 <= cap &&
        segments(i + 1)._2 <= emittedTo
    }.getOrElse(return)
    val (minA, _, pathA, _) = segments(idx)
    val (_, maxB, pathB, _) = segments(idx + 1)
    val rows = GraftEngine.timed(spark, viewName, "tbl-compact-merge")(
      readSegments(Seq(pathA, pathB)).collect())
    val keyIdx = primaryKey.map(withSeq.fieldIndex)
    val ord = winnerOrdering.get
    val m = new scala.collection.mutable.LinkedHashMap[List[Any], Row]()
    rows.foreach(r => mergedPut(m, keyIdx, ord, r))
    val winners = m.valuesIterator.toIndexedSeq
    val path = SegmentFiles.path(segDir, minA, maxB, winners.size.toLong)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) return
    val staging = s"$segDir/staging-merge-$minA"
    if (!LocalParquet.write(spark, winners, withSeq, staging))
      spark.createDataFrame(java.util.Arrays.asList(winners: _*), withSeq)
        .coalesce(1).write.mode("overwrite").parquet(staging)
    SegmentFiles.commit(staging, path)
    segments.remove(idx, 2)
    segments.insert(idx, (minA, maxB, path, winners.size.toLong))
    recordKeyRange(path, winners)
    segKeyRange -= pathA
    segKeyRange -= pathB
    // rebind the view BEFORE unlinking, like compactFromFace
    refreshView()
    SegmentFiles.delete(pathA)
    SegmentFiles.delete(pathB)
  }

  /** Driver-resident compaction (round 15): while the merged face is live,
    * the compacted history IS the map's winner rows — write them (their
    * `__seq` values untouched, so (version, __seq) tie-breaking state is
    * bit-identical) as the single replacement segment in ONE coalesce(1)
    * parquet job, retire the old segments and the memory tail, and KEEP
    * the face. The old path went through [[rewriteHistory]], whose
    * `invalidateMergedFace()` forced the next reader to re-seed through
    * the distributed resolution window — a full-history exchange
    * (3.99 MB, 63% of `s_mv_pkagg_fold`'s total shuffle and ALL of
    * `s_mv_global_window`'s, ShuffleProfile r15) paid at every compaction
    * even though an identity rewrite cannot change the winners the map
    * already holds. Changelog untouched; `seq` counter untouched (no
    * restamp — future appends already outrank every kept `__seq`).
    * False = face not live (bulk-ingested history); caller keeps the
    * distributed rewrite, which remains the at-scale path. */
  private def compactFromFace(): Boolean = synchronized {
    if (mergedFace.isEmpty) return false
    val rows = mergedFace.get.valuesIterator.toIndexedSeq
    if (rows.isEmpty) return false
    val seqIdx = schema.length
    var minSeq = Long.MaxValue
    rows.foreach { r =>
      val s = r.getLong(seqIdx)
      if (s < minSeq) minSeq = s
    }
    // the segment's max bound is the table's live seq HIGH-WATER, not the
    // max surviving __seq: a losing row (stale-version upsert) can hold
    // the global max, and naming the segment below it would (a) re-use seq
    // values after restart recovery (weakening the monotone-seq invariant
    // other paths rely on) and (b) let a no-new-winners doubling window
    // reproduce the previous compacted segment's exact name, whose
    // rename-commit onto the existing dir throws and wedges every
    // subsequent flush in a permanent compact-retry loop
    val maxBound = math.max(seq, rows.iterator.map(_.getLong(seqIdx)).max)
    val path = SegmentFiles.path(segDir, minSeq, maxBound, rows.size.toLong)
    if (segments.sizeIs == 1 && allRows.isEmpty && segments.head._3 == path)
      return true // already exactly these winners — nothing to rewrite
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      return false // name collision with live history: restamping rewrite
    val staging = s"$segDir/staging-compact-$minSeq"
    if (!LocalParquet.write(spark, rows, withSeq, staging))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), withSeq)
        .coalesce(1).write.mode("overwrite").parquet(staging)
    SegmentFiles.commit(staging, path)
    val retired = segments.map(_._3).toList
    segments.clear()
    segKeyRange.clear()
    allRows.clear()
    tailChanged()
    segments += ((minSeq, maxBound, path, rows.size.toLong))
    recordKeyRange(path, rows)
    refreshView()
    retired.foreach(SegmentFiles.delete)
    true
  }

  /** Raw history row count (segments + tail) — spec probe for compaction. */
  private[graft] def historyRows: Long = synchronized {
    segments.map(_._4).sum + allRows.size
  }

  private def rewriteHistory(f: DataFrame => DataFrame, markMutated: Boolean,
                             emitRetractions: Boolean): Unit = synchronized {
    if (markMutated) mutated = true
    // the engine demotes every streaming MV reading this table BEFORE
    // mutating, so no reader streams should remain; clearing is the safe
    // backstop — feeding post-mutation appends to a pre-mutation reader
    // would double-count rows the rewrite already folded in
    readerStreams.clear()
    flushBuffer()
    // pending appends must emit as Inserts BEFORE the mutation's
    // retractions, or SINCE replay would retract rows it never saw arrive
    emitChangelog()
    val before = batchDF.localCheckpoint(true)
    // same assignment casts as insertBulk: SET expressions may widen types
    val next = f(before).select(schema.fields.toIndexedSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .localCheckpoint(true)
    val base = seq
    // count rides a LongAccumulator on the write pass — same idiom as
    // insertBulk/ChangeLog.appendDF; the footer-read-back count() was one
    // redundant job per DML rewrite
    val acc = spark.sparkContext.longAccumulator
    val stamped = spark.createDataFrame(
      next.rdd.zipWithIndex().map { case (r, i) =>
        acc.add(1L)
        Row.fromSeq(r.toSeq :+ (base + 1 + i))
      }, withSeq)
    val staging = s"$segDir/staging-mut-${base + 1}"
    stamped.write.mode("overwrite").parquet(staging)
    val n = acc.value.longValue()
    val retired = segments.map(_._3).toList
    segments.clear()
    segKeyRange.clear()
    allRows.clear()
    tailChanged()
    if (n == 0) SegmentFiles.delete(staging)
    else {
      val path = SegmentFiles.path(segDir, base + 1, base + n, n)
      SegmentFiles.commit(staging, path)
      segments += ((base + 1, base + n, path, n))
    }
    seq = base + n
    // the rewrite replaced the history wholesale (and `f` changed rows for
    // DML) — drop the map; the next read re-seeds from the new segment
    invalidateMergedFace()
    if (clEnabled && emitRetractions) {
      // the rewrite's retractions: keyed diff on the PK (UpdateDelete/
      // UpdateInsert/Delete), multiset Insert/Delete deltas otherwise
      val ops =
        if (primaryKey.nonEmpty)
          graft.streaming.Changelog.diff(Some(before), next, primaryKey)
        else graft.streaming.Changelog.multisetDiff(Some(before), next)
      changeLog.appendDF(ops)
    }
    clSeq = seq
    // bind the rewritten view BEFORE unlinking the superseded segment
    // files: new readers resolve the new segment; only a plan captured
    // before the mutation could still reference the old paths (the engine
    // demotes/flushes dependents first, which drains exactly those)
    refreshView()
    retired.foreach(SegmentFiles.delete)
  }
}
