package graft.tools

import graft.Tables
import graft.engine.{ConnOptions, GraftEngine}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Scaling probe (round 15; modes added in round 16): replay one MV
  * maintainer with FIXED-size epochs (12.5k rows, the bench's delta)
  * while the table history grows to 10× the sf0.1 fixture (80 epochs →
  * 1M rows), so epoch latency isolates state growth from delta size.
  * Spill (100k tail bound) and compaction engage repeatedly on the way
  * up, so the curve covers the paths a 100 TB deployment lives on.
  * Prints one line per 8-epoch window: wall, jobs, shuffle bytes, then
  * the window's jobs per epoch by `graft.phase` tag.
  *
  * Modes (round-16 verdict #5 — different carried-state shapes):
  *  - pkagg:   keyed COUNT/SUM fold (aux state; the r15 curve)
  *  - window:  per-hour rank window cascade (per-partition rank state)
  *  - session: session-window aggregate fold (gap-merge state)
  * The window/session replays shift each epoch's `ts` into FRESH hours so
  * the touched-partition set stays delta-sized — rank/session semantics
  * over a growing shared partition would rewrite output proportional to
  * partition size by definition (the statement's cost, not the
  * maintainer's), which would mask the state-growth signal this probe
  * exists to measure.
  *
  * Usage: runMain graft.tools.ScaleProbe [pkagg|window|session] [epochs] [sfDir]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("pkagg")
    val epochs = args.lift(1).map(_.toInt).getOrElse(80)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    // jobs per `graft.phase` tag (the phase part of `view:phase`)
    val phaseJobs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val tag = Option(j.properties).flatMap(p => Option(p.getProperty("graft.phase")))
          .map(_.split(':').last).getOrElse("untagged")
        phaseJobs.merge(tag, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffle.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    val eventsSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rw = GraftEngine.open(ConnOptions(streamShufflePartitions = Some(8)), Some(spark))
    rw.createTable("bench_ev", eventsSchema, primaryKey = Seq("event_id"))
    val (mvName, stmt, probe) = mode match {
      case "window" => ("bm_win",
        """SELECT event_id, ts, value, CAST(rank() OVER
          |  (PARTITION BY date_trunc('hour', ts) ORDER BY value DESC, event_id) AS BIGINT) AS r
          |FROM bench_ev""".stripMargin,
        (m: graft.engine.MaterializedView) => m.isWindowCascadeMode)
      case "session" => ("bm_sess",
        """SELECT window_start, window_end, event_type, count(*) AS n,
          |  SUM(CAST(value AS DECIMAL(18,6))) AS sv
          |FROM session(bench_ev, ts, interval '5 minutes')
          |GROUP BY window_start, window_end, event_type""".stripMargin,
        (m: graft.engine.MaterializedView) => m.isSessionMode)
      case _ => ("bm_fold",
        """SELECT user_id % 1000 AS k, count(*) AS n,
          |  SUM(CAST(value AS DECIMAL(18,6))) AS sv
          |FROM bench_ev GROUP BY user_id % 1000""".stripMargin,
        (m: graft.engine.MaterializedView) => m.isDeltaAggMode)
    }
    rw.mv(stmt, mvName)
    val mv = rw.mvByName(mvName).get
    val base = Tables(spark, sfDir, "events")
      .select(eventsSchema.fieldNames.toIndexedSeq.map(col): _*)
      .orderBy("event_id").limit(12500).collect()
    println(s"BASE mode=$mode rows=${base.length} epochs=$epochs " +
      s"(history at end = ${base.length.toLong * epochs})")
    val t = rw.table("bench_ev").get
    // fresh hours per epoch for the partition/gap-keyed modes (see doc)
    val tsShiftMs = if (mode == "pkagg") 0L else 30L * 24 * 3600 * 1000
    var winT0 = System.nanoTime(); var winJ0 = 0L; var winS0 = 0L
    for (e <- 1 to epochs) {
      val shift = e.toLong * 10000000L
      val rows = base.map { r =>
        val ts0 = r.getAs[java.sql.Timestamp](1)
        val ts = if (tsShiftMs == 0) ts0
          else new java.sql.Timestamp(ts0.getTime + e * tsShiftMs)
        Row(r.getLong(0) + shift, ts, r.getLong(2), r.getString(3),
          r.getDouble(4), r.getString(5))
      }
      t.insert(rows.toIndexedSeq)
      rw.flush()
      if (e % 8 == 0) {
        org.apache.spark.GraftListenerBridge.waitListeners(spark.sparkContext)
        val dt = (System.nanoTime() - winT0) / 1e9
        val dj = jobs.get - winJ0; val ds = shuffle.get - winS0
        println(f"WINDOW epochs ${e - 7}%3d-$e%3d: wall=$dt%7.2f s  " +
          f"latency=${dt / 8}%6.3f s/epoch  jobs/epoch=${dj / 8.0}%6.3f  " +
          f"shuffleBytes=$ds%10d  history=${t.historyRows}%8d  mode-ok=${probe(mv)}")
        import scala.jdk.CollectionConverters._
        println("  jobs/epoch by phase: " + phaseJobs.asScala.toSeq.sortBy(_._1)
          .map { case (p, n) => f"$p=${n / 8.0}%.3f" }.mkString(" "))
        phaseJobs.clear()
        winT0 = System.nanoTime(); winJ0 = jobs.get; winS0 = shuffle.get
      }
    }
    rw.close(); spark.stop()
  }
}
