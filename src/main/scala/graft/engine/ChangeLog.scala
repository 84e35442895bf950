package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import scala.collection.mutable.ArrayBuffer

/** Per-MV retained change log: the ordered, replayable feed behind
  * subscriptions (SURVEY §2.1 S7). Entries are change rows (payload + op)
  * stamped with a monotone `rw_timestamp` offset (W4: `(epochMs << 16) |
  * seq`, totally ordered within the MV). Retention prunes by the timestamp's
  * epoch part (W7; default 86400 s like `risingwave/core.py:372`).
  *
  * Storage is segment-structured and executor-written: each epoch's delta
  * DataFrame is stamped and written straight to a parquet segment
  * ([[appendDF]]) — delta rows never pass through the driver, which holds
  * only the (minTs, maxTs, path, count) segment index. Rows reach the
  * driver solely at the client's FETCH boundary (offset-filtered segment
  * scan), exactly the reference's cursor protocol shape. At cluster scale
  * the segment directory is the same layout on shared storage (or a Kafka
  * topic); the interface here is unchanged. Durable mode points the segment
  * directory under `ConnOptions.dataDir`; every epoch is durable as soon as
  * it commits — there is no close-time tail to flush.
  */
final class ChangeLog(spark: SparkSession, rowSchema: () => StructType,
                      persistDir: Option[String] = None) {
  private var lastTs = 0L

  /** (minTs, maxTs, path, rowCount) per segment, in offset order. */
  private val segments = ArrayBuffer[(Long, Long, String, Long)]()
  private lazy val spillDir = persistDir.map { d =>
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)); d
  }.getOrElse(java.nio.file.Files.createTempDirectory("graft-changelog-").toString)

  /** False once retention pruning has dropped segments: the log no longer
    * replays the MV's full history from offset 0, so a consumer that needs
    * the complete history (face backfill) must use another source.
    * DECLARED BEFORE the recovery block below — Scala initializes in
    * declaration order, and a later `= false` initializer would silently
    * overwrite the flag recovery restores from the on-disk marker. */
  @volatile private var prunedHistory = false
  private def prunedMarker(dir: String) =
    java.nio.file.Paths.get(dir, "_pruned")

  /** Downstream MV maintainers reading this log through a file-source face
    * ([[MaterializedView.fileFace]]). While any are bound, retention
    * pruning must NOT unlink segments: the file stream lists lazily, so a
    * prune could drop a segment the reader has listed but not yet read (or
    * one committed between its historyComplete check and first listing) —
    * the downstream would silently lose those Insert rows forever.
    * Correctness beats retention here; pruning resumes once the last
    * reader detaches. */
  private val boundFaceReaders = scala.collection.mutable.Set[String]()
  private[engine] def bindFaceReader(reader: String): Unit =
    synchronized { boundFaceReaders += reader }
  private[engine] def unbindFaceReader(reader: String): Unit =
    synchronized { boundFaceReaders -= reader }

  // restart recovery: segment metadata is encoded in the directory name
  // ([[SegmentFiles]] codec), so reattaching to a persistent dir needs no
  // footer reads — rebuild the index and resume offsets past the max
  persistDir.foreach { d =>
    val recovered = SegmentFiles.recover(d)
    segments ++= recovered
    recovered.lastOption.foreach { case (_, max, _, _) => lastTs = max }
    // a prune before the previous shutdown left the log incomplete — the
    // on-disk marker survives the restart so historyComplete stays false
    // (a volatile flag alone would wrongly let a late-attaching face
    // backfill from the surviving segments only, silently missing the
    // pruned prefix)
    if (java.nio.file.Files.exists(prunedMarker(d))) prunedHistory = true
  }

  private[engine] def changeSchema: StructType =
    rowSchema().add("op", StringType).add("rw_timestamp", LongType, nullable = false)

  /** Every segment is written under [[changeSchema]]: reading it back under
    * that schema skips Parquet's schema-inference job. */
  private def readSegments(paths: Seq[String]): DataFrame =
    spark.read.schema(changeSchema).parquet(paths: _*)

  /** Root of the committed segment directories (`seg-*`). Streaming file
    * sources read the log through this path — the collect-free feed behind
    * MV face streams. */
  private[engine] def segmentDir: String = spillDir

  private[engine] def historyComplete: Boolean = !prunedHistory

  /** Executor-side append (the per-epoch delta path of MV maintainers):
    * stamps monotone offsets onto an already-deterministically-ordered ops
    * DataFrame and writes it straight to a parquet segment — the delta rows
    * NEVER pass through the driver; the driver records only (minTs, maxTs,
    * path, count) metadata. `zipWithIndex` preserves the diff's sort order
    * across partitions, so within-epoch op ordering (key, then
    * Delete < UpdateDelete < UpdateInsert < Insert rank) matches the diff's
    * own emission order. The count comes from the written files' parquet
    * footers (metadata-only scan), not a re-execution of the plan.
    *
    * Holds the monitor across the write: epochs of one MV are already
    * serialized by its handler lock, and a fetch observing a half-written
    * segment would return rows the index doesn't own yet. */
  def appendDF(ops: DataFrame, wide: Boolean = false): Unit = synchronized {
    val base = math.max(lastTs, System.currentTimeMillis() << 16)
    // coalesce(1) BEFORE zipWithIndex: a multi-partition RDD would run the
    // whole diff plan once for partition sizing and again for the write;
    // one partition skips the sizing job (and writes one file per segment,
    // with order preserved — coalesce concatenates sorted partitions).
    // Row count rides a LongAccumulator on the same pass — the old
    // footer-read-back was a whole extra Spark job per epoch, and epoch
    // latency is job-count-bound on the streaming maintainer path.
    //
    // `wide = true` (initial-backfill epochs, where the delta is the whole
    // statement result): keep the caller's multi-partition sort and write
    // one file per partition — the single-task funnel is the scale
    // bottleneck there, worth zipWithIndex's partition-sizing pass (run
    // over a one-time materialization, not the raw diff plan).
    // zipWithIndex's indexes are contiguous in partition order, so the
    // stamped offsets follow the global sort exactly as in the narrow path.
    // Driver-local fast path (round 10): most steady-state epochs' ops
    // arrive as a LocalRelation (the driver-resident diff tails), whose
    // rows collect WITHOUT a Spark job (LocalTableScan.executeCollect).
    // Stamp them driver-side, seed the fetch tail cache with the stamped
    // rows (so the immediate downstream dfAfter/fetch serves with zero
    // jobs), and spend the epoch's only cluster work on the one-file
    // segment write.
    val localPlan = !wide &&
      ops.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (localPlan) {
      val raw = ops.toDF().collect()
      if (raw.isEmpty) return
      val stampedRows: IndexedSeq[Row] = raw.iterator.zipWithIndex.map {
        case (r, i) => Row.fromSeq(r.toSeq :+ (base + 1 + i))
      }.toIndexedSeq
      val n = raw.length.toLong
      val staging = s"$spillDir/staging-$base"
      // driver-side parquet write (round 15): the epoch's ops are already
      // driver rows — the coalesce(1) Spark write spent ONE single-task
      // job per epoch on pure scheduler overhead; LocalParquet produces
      // the identical segment with zero jobs (falls back on failure)
      if (!LocalParquet.write(spark, stampedRows, changeSchema, staging))
        spark.createDataFrame(java.util.Arrays.asList(stampedRows: _*), changeSchema)
          .coalesce(1).write.mode("overwrite").parquet(staging)
      val path = SegmentFiles.path(spillDir, base + 1, base + n, n)
      SegmentFiles.commit(staging, path)
      segments += ((base + 1, base + n, path, n))
      if (n <= tailCacheMaxRows) tailCache = Some((path, stampedRows))
      lastTs = base + n
      notifyAll()
      return
    }
    val acc = spark.sparkContext.longAccumulator
    val srcRdd =
      if (wide) ops.toDF().localCheckpoint(true).rdd
      else ops.toDF().coalesce(1).rdd
    val stamped = spark.createDataFrame(
      srcRdd.zipWithIndex().map { case (r, i) =>
        acc.add(1L)
        Row.fromSeq(r.toSeq :+ (base + 1 + i))
      }, changeSchema)
    val staging = s"$spillDir/staging-$base"
    stamped.write.mode("overwrite").parquet(staging)
    // a retried write task would double-count the accumulator; that only
    // OVERSTATES maxTs/lastTs (offsets stay monotone, fetch filters on the
    // in-row rw_timestamp values, and an over-wide segment range merely
    // keeps the segment eligible for a scan) — never row loss
    val n = acc.value.longValue()
    if (n == 0) SegmentFiles.delete(staging)
    else {
      val path = SegmentFiles.path(spillDir, base + 1, base + n, n)
      SegmentFiles.commit(staging, path)
      segments += ((base + 1, base + n, path, n))
      lastTs = base + n
      notifyAll()
    }
  }

  /** The retained log with offset > `after`, as a DataFrame over the
    * parquet segments — the executor-side face of the log, consumed by
    * changelog-driven MV cascades without a driver round-trip.
    * Materialized (localCheckpoint) UNDER the monitor: a lazy plan over
    * segment paths would race [[prune]]/[[purge]] unlinking files before
    * the consumer evaluates it — the same no-unlink-mid-scan invariant
    * [[fetchAfter]] keeps. */
  def dfAfter(after: Long): DataFrame = synchronized {
    import org.apache.spark.sql.functions.col
    val segs = segments.filter(_._2 > after).toList
    segs match {
      case Nil => spark.createDataFrame(java.util.List.of[Row](), changeSchema)
      // the single newest segment with its rows already driver-cached
      // (appendDF's local fast path, or a prior fetch) — serve a
      // LocalRelation: zero jobs, no checkpoint needed, and the consumer's
      // delta slices stay local too
      case (_, _, path, _) :: Nil if tailCache.exists(_._1 == path) =>
        val rows = tailCache.get._2.filter(r => r.getLong(r.length - 1) > after)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), changeSchema)
      case _ =>
        readSegments(segs.map(_._3)).filter(col("rw_timestamp") > after)
          .localCheckpoint(true)
    }
  }

  /** Driver-cached rows of ONE segment — the hot FETCH path. A caught-up
    * poll loop (100 ms idle interval, 10-row batches) reads the newest
    * segment over and over; launching a Spark job per FETCH for that is a
    * job per delivered handful of rows. The newest segment's rows are
    * loaded once (bounded: only segments ≤ [[tailCacheMaxRows]] are ever
    * cached) and served from memory until a newer segment commits. Keyed
    * by segment path, so append/prune/purge invalidate by construction. */
  private var tailCache: Option[(String, IndexedSeq[Row])] = None
  // sized like the other driver-tail bounds (cascadeLocalMax et al.): big
  // enough that a steady-state epoch's ops segment stays cached for the
  // immediate dfAfter/fetch consumer, small enough for driver heap
  private val tailCacheMaxRows = 50000L

  /** Rows with offset strictly greater than `after`, up to `limit` — the
    * client FETCH boundary: an offset-filtered ordered scan of the
    * segments. The whole read holds the monitor so a concurrent [[prune]]
    * cannot unlink segment files mid-scan (fetch batches are small;
    * retention pruning is rare). A fetch satisfied entirely by the single
    * newest segment serves from the driver-side [[tailCache]] — no Spark
    * job on the caught-up poll path. */
  def fetchAfter(after: Long, limit: Int): Seq[Row] = synchronized {
    val segs = segments.filter(_._2 > after).toList
    segs match {
      case Nil => Nil
      case (_, _, path, cnt) :: Nil if cnt <= tailCacheMaxRows =>
        if (!tailCache.exists(_._1 == path)) {
          val rows = readSegments(Seq(path)).collect()
            .sortBy(r => r.getLong(r.length - 1)).toIndexedSeq
          tailCache = Some((path, rows))
        }
        tailCache.get._2
          .filter(r => r.getLong(r.length - 1) > after).take(limit).toSeq
      case _ =>
        import org.apache.spark.sql.functions.col
        // segment pruning (round 10): segments are offset-ordered and
        // disjoint, so a FETCH of `limit` rows needs only the prefix of
        // segments whose fully-qualifying row counts (minTs > after — all
        // but possibly the first overlapping segment) reach the limit; a
        // multi-gigabyte retained log must not be scanned to serve a
        // 10-row catch-up batch
        var acc = 0L
        val take = segs.takeWhile { case (min, _, _, cnt) =>
          val need = acc < limit
          if (min > after) acc += cnt
          need
        }
        readSegments(take.map(_._3))
          .filter(col("rw_timestamp") > after)
          .orderBy("rw_timestamp")
          .limit(limit)
          .collect().toSeq
    }
  }

  def latestOffset: Long = synchronized(lastTs)

  /** Total retained rows (sum of segment counts — index metadata only). */
  def size: Long = synchronized(segments.map(_._4).sum)

  /** Drop history older than `retentionSeconds` (epoch part of the offset):
    * whole segments are unlinked once their newest row ages out. */
  def prune(retentionSeconds: Long): Unit = synchronized {
    // bound file-face readers consume segments lazily — unlinking under
    // them silently loses Insert rows downstream; defer retention until
    // the last reader detaches (see [[bindFaceReader]])
    if (boundFaceReaders.nonEmpty) return
    val cutoff = (System.currentTimeMillis() - retentionSeconds * 1000L) << 16
    val (drop, keep) = segments.partition(_._2 < cutoff)
    if (drop.exists(d => tailCache.exists(_._1 == d._3))) tailCache = None
    if (drop.nonEmpty) {
      prunedHistory = true
      // durable logs record the incompleteness on disk (see recovery)
      try java.nio.file.Files.write(prunedMarker(spillDir), Array.empty[Byte])
      catch { case _: java.io.IOException => /* flag still set in-memory */ }
    }
    drop.foreach { case (_, _, p, _) => SegmentFiles.delete(p) }
    segments.clear(); segments ++= keep
  }

  /** DROP MV: irrevocably delete the retained history — segment index and
    * the on-disk files (persistent or temp). Holds the monitor, honoring
    * [[fetchAfter]]'s no-unlink-mid-scan invariant; a subscription that
    * outlives the drop sees an empty log and drains cleanly instead of
    * crashing on deleted segment paths. */
  def purge(): Unit = synchronized {
    segments.foreach { case (_, _, p, _) => SegmentFiles.delete(p) }
    segments.clear()
    tailCache = None
    boundFaceReaders.clear()
    persistDir.foreach(SegmentFiles.delete)
    // a purged log is a fresh incarnation — offsets restart (callers that
    // purge-and-reuse, e.g. the statement-fingerprint guard, must not see
    // a recovered lastTs marking history that no longer exists), and the
    // empty log is trivially complete-from-zero again
    lastTs = 0L
    prunedHistory = false
    try java.nio.file.Files.deleteIfExists(prunedMarker(spillDir))
    catch { case _: java.io.IOException => }
  }

  /** Block until an entry with offset > `after` exists (used by blocking
    * consume loops; 100 ms idle poll like `risingwave/core.py:20`). */
  def awaitAfter(after: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (lastTs <= after && System.currentTimeMillis() < deadline)
      wait(math.max(1, deadline - System.currentTimeMillis()))
    lastTs > after
  }
}
