package graft.e2ebench

import graft.engine.{ConnOptions, GraftEngine, Subscription}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What one run measured. The per-layer figures come from the traced
  * epochs only. */
final class Recorder {
  val setupsS = ArrayBuffer[Double]()
  val latencyMs = ArrayBuffer[Double]()      // event freshness or query latency
  val readMs = ArrayBuffer[Double]()
  val lagMs = ArrayBuffer[Double]()          // open-loop barrier lateness
  var visible = 0L                           // rows made visible / queries done
  var measuredMs = 0.0
  var epochs = 0
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()
  /** Per epoch: traced?, work ms, input rows, drained ops, GC ms, bytes written. */
  val epochLog = ArrayBuffer[(Boolean, Double, Long, Long, Double, Long)]()
  val extra = mutable.LinkedHashMap[String, Any]()
  val props = mutable.LinkedHashMap[String, Any]()

  /** Wall of each stage of the run (set-up, measured window, gate, ...). */
  val stages = mutable.LinkedHashMap[String, Double]()
  private var lastStage = System.nanoTime()
  def stage(name: String): Unit = {
    val now = System.nanoTime(); stages(name) = (now - lastStage) / 1e9; lastStage = now
  }

  private def problem(s: String): Unit = if (problems.length < 20) problems += s

  /** Count one public call; a throw is a failed operation, not a crash. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch { case e: Throwable =>
      failed += 1
      problem(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      problem(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    if (!pass) { failed += 1; problem(s"check failed: $what") }
  }
}

/** Shared machinery of one run: session, tracer, clocks. */
final class RunCtx(val spark: SparkSession, val seed: Long, val seconds: Double,
                   val trace: Boolean, val fixedEpochs: Option[Int], val outDir: String) {
  val rec = new Recorder
  val tracer = new Tracer(spark.sparkContext)
  @volatile var tracingNow = false
  /** In a trace run even epochs are traced and odd ones are not, so the
    * difference of the two is the tracing overhead. */
  def tracedEpoch(k: Int): Boolean = trace && k % 2 == 0
  def span[T](layer: String)(f: => T): T =
    if (tracingNow) tracer.span(layer)(f) else f
  def beginEpoch(k: Int): Unit = {
    tracingNow = tracedEpoch(k)
    tracer.epoch = k
    if (tracingNow) tracer.attach()
  }
  def endEpoch(): Unit = if (tracingNow) { tracer.detach(); tracingNow = false }
  /** Epochs a closed loop runs: a fixed count (exact-count checks), else
    * as many as fill the measured window at `nominalS` seconds each, and at
    * least two, since a trace run needs one traced and one untraced epoch
    * for the overhead. The count does not follow the clock: a closed loop
    * whose epochs take seconds would otherwise measure one epoch more on a
    * fast machine than on a slow one, and its state and figures with it. */
  def closedLoopEpochs(nominalS: Double): Int =
    fixedEpochs.getOrElse(math.max(2, math.round(seconds / nominalS).toInt))
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }
}

object Workloads {
  /** Order-independent multiset fingerprint of a DataFrame in one job: the
    * row count and exact sums of two independent row hashes. Fingerprints
    * add, so a face plus its inserts minus its deletes can be compared with
    * another face without a shuffle. */
  def fingerprint(df: DataFrame): Seq[BigDecimal] = signedFingerprint(df, None)
  /** The same over a signed multiset: a row whose boolean column `adds`
    * is false counts negatively. */
  def signedFingerprint(df: DataFrame, adds: Option[String]): Seq[BigDecimal] = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.toSeq.filterNot(c => adds.contains(c)).map(c => col(s"`$c`"))
    def signed(x: org.apache.spark.sql.Column) =
      adds.fold(x)(a => when(col(a), x).otherwise(-x))
    val r = df.agg(sum(signed(lit(1).cast("decimal(38,0)"))),
      sum(signed(xxhash64(cols: _*).cast("decimal(38,0)"))),
      sum(signed(hash(cols: _*).cast("decimal(38,0)")))).head()
    (0 to 2).map(i => Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
  def plus(a: Seq[BigDecimal], b: Seq[BigDecimal]): Seq[BigDecimal] = a.zip(b).map { case (x, y) => x + y }

  /** Runs `fs` on `nproc` threads and returns their outcomes in order. The
    * correctness gate's Spark jobs are independent of each other and run
    * outside the timed window, so they need not run one at a time. */
  def concurrently[T](fs: Seq[() => T]): Seq[scala.util.Try[T]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try fs.map(f => pool.submit(() => scala.util.Try(f()))).map(_.get)
    finally pool.shutdown()
  }

  /** Sizes of every regular file under `dir`. */
  def files(dir: java.io.File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else {
      val fs = java.nio.file.Files.walk(dir.toPath)
      try {
        val m = mutable.HashMap[String, Long]()
        fs.iterator().forEachRemaining { p =>
          try if (java.nio.file.Files.isRegularFile(p)) m(p.toString) = java.nio.file.Files.size(p)
          catch { case _: java.io.IOException => () } // deleted mid-walk by compaction
        }
        m.toMap
      } finally fs.close()
    }
  /** Bytes that are new or grew between two listings. */
  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.map { case (p, s) => math.max(0L, s - before.getOrElse(p, 0L)) }.sum
}

/** A streaming workload: one live table, MVs over it, one subscription per
  * MV, and the correctness gate that runs after the measured window. */
abstract class StreamWorkload(val ctx: RunCtx) {
  def props: StreamGen.Props
  def table: String
  def mvs: Seq[(String, String)]
  /** Mode-and-tier probe per MV, plus one for the table's face. */
  def probes: Seq[(String, Boolean)]
  def readSql(r: Rng): Seq[String]
  def options: ConnOptions = ConnOptions()

  val rec: Recorder = ctx.rec
  var eng: GraftEngine = _
  val subs = mutable.LinkedHashMap[String, Subscription]()
  /** Each face's fingerprint when measuring began, and every op drained since. */
  val face0 = mutable.HashMap[String, Seq[BigDecimal]]()
  val drained = mutable.HashMap[String, ArrayBuffer[(Row, String)]]()
  val readRng = new Rng(ctx.seed, 3)
  def mv(v: String) = eng.mvByName(v).get

  /** Open the engine, create the table, load it through the public insert
    * path (`preload`), then create the MVs and declare the subscriptions. */
  def open(preload: GraftEngine => Unit): Unit = {
    eng = GraftEngine.open(options, Some(ctx.spark))
    eng.createTable(table, Ev.schema, primaryKey = Seq("event_id"))
    preload(eng)
    eng.flush()
    rec.stage("setup.preload")
    mvs.foreach { case (v, s) => eng.mv(s, v); rec.stage(s"setup.mv.$v") }
    mvs.foreach { case (v, _) =>
      subs(v) = eng.subscriptionFor(v, subName = s"${v}_bench").declareCursor()
      drained(v) = ArrayBuffer()
    }
    rec.stage("setup.subscriptions")
  }

  /** Fingerprint each face as the replay check's starting point. */
  def snapshotFaces(): Unit = {
    val faces = mvs.map { case (v, _) => eng.fetchDF(s"SELECT * FROM $v") }
    mvs.zip(Workloads.concurrently(faces.map(df => () => Workloads.fingerprint(df)))).foreach {
      case ((v, _), fp) => face0(v) = fp.get; drained(v).clear()
    }
  }

  /** Drain every subscription; returns the ops delivered. */
  def drain(): Long = subs.map { case (v, s) =>
    val rows = ctx.span("subscription.fetch")(s.fetch(Int.MaxValue))
    rows.foreach { r =>
      drained(v) += ((Row.fromSeq(r.toSeq.dropRight(2)), r.getString(r.length - 2)))
    }
    rows.length.toLong
  }.sum

  /** One barrier: insert `rows`, FLUSH, drain every subscription, then the
    * point reads. Returns when the drain returned (ns) and the ops drained. */
  def barrier(rows: Seq[Row]): (Long, Long) = {
    ctx.span("livetable.insert")(rec.op("insert")(eng.table(table).get.insert(rows)))
    ctx.span("engine.flush")(rec.op("flush")(eng.flush()))
    val ops = rec.op("subscription fetch")(drain()).getOrElse(0L)
    val visibleNs = System.nanoTime()
    readSql(readRng).foreach { q =>
      val t0 = System.nanoTime()
      ctx.span("engine.fetch")(rec.op("read")(eng.fetch(q)))
      rec.readMs += (System.nanoTime() - t0) / 1e6
    }
    (visibleNs, ops)
  }

  /** A warm-up barrier in set-up: the same calls as `barrier`, so the
    * measured barriers do not pay their first compiles. `readSql` names
    * every read shape twice; a warm-up reads each shape once. */
  def warmup(rows: Seq[Row]): Unit = {
    eng.table(table).get.insert(rows)
    eng.flush(); drain()
    val reads = readSql(readRng)
    reads.take(reads.length / 2).foreach(q => eng.fetch(q))
  }

  /** Set-up once the MVs exist: the face snapshot and a full GC, then `n`
    * warm-up barriers. The first barriers after MV creation (JIT) and the
    * first one after a full GC are slower than the rest, so none of them is
    * measured. Set-up time runs from `t0` and leaves out the snapshot and
    * the GC. */
  def finishSetup(t0: Long, n: Int)(batch: => Seq[Row]): Unit = {
    val s0 = System.nanoTime()
    snapshotFaces()
    Harness.fullGc(rec)
    val s1 = System.nanoTime()
    rec.stage("snapshot")
    (0 until n).foreach(_ => warmup(batch))
    rec.setupsS += (System.nanoTime() - t0 - (s1 - s0)) / 1e9
    rec.stage("setup.warmup")
  }

  /** Outside the timed window: every face against a batch re-evaluation of
    * its statement, the drained changelog replayed onto the face snapshot
    * against the face, and the mode/tier probes. */
  def gate(): Unit = {
    import Workloads.{concurrently, fingerprint, plus, signedFingerprint}
    // the DataFrames are made on this thread, and their fingerprint jobs
    // run at once
    val jobs = mvs.flatMap { case (v, stmt) =>
      val faceDf = eng.fetchDF(s"SELECT * FROM $v")
      // Inserts and UpdateInserts add a row, Deletes and UpdateDeletes remove one
      val ops = drained(v).map { case (r, o) => Row.fromSeq(r.toSeq :+ (o == "Insert" || o == "UpdateInsert")) }
      val opsDf = ctx.spark.createDataFrame(java.util.Arrays.asList(ops.toSeq: _*),
        faceDf.schema.add("bench_op_adds", org.apache.spark.sql.types.BooleanType))
      val batchDf = eng.fetchDF(stmt)
      Seq(() => fingerprint(faceDf), () => fingerprint(batchDf),
        () => signedFingerprint(opsDf, Some("bench_op_adds")))
    }
    mvs.zip(concurrently(jobs).grouped(3).toSeq).foreach { case ((v, _), Seq(face, batch, change)) =>
      rec.check(s"$v face equals batch re-evaluation")(face.get == batch.get)
      rec.check(s"$v changelog replay rebuilds the face")(plus(face0(v), change.get) == face.get)
    }
    probes.foreach { case (what, ok) => rec.check(s"probe: $what")(ok) }
  }
}

object TickFresh {
  val props = StreamGen.Props(users = 10000, zipfS = 1.1, upsertShare = 0.2,
    outOfOrderShare = 0.0, outOfOrderMaxMicros = 0L, historyRows = 3000,
    historyStepMicros = 360000L, streamStepMicros = 240000L, acctSpace = 1000L,
    maxValue = 500.0, ratePerSec = 200.0)
}

/** `tick_fresh`: open loop on the driver-local tiers. Events fall due on a
  * Poisson schedule; a FLUSH barrier is due every `intervalMs`; an overrun
  * barrier is followed at once by the next one, which carries the backlog. */
final class TickFresh(ctx: RunCtx) extends StreamWorkload(ctx) {
  def props = TickFresh.props
  val intervalMs = 3000.0
  /** The barrier work still falls for the first few barriers after MV
    * creation (JIT); four warm-up barriers put the measured ones within
    * about 15% of the plateau. */
  val warmupBarriers = 4
  def table = "tf_ev"
  def mvs = Seq(
    "tf_agg" ->
      """SELECT user_id, count(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |FROM tf_ev GROUP BY user_id""".stripMargin,
    "tf_tumble" ->
      """SELECT window_start, event_type, count(*) AS n,
        |  SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |FROM tumble(tf_ev, ts, interval '10 minutes')
        |GROUP BY window_start, event_type""".stripMargin,
    "tf_hourly" ->
      """SELECT date_trunc('hour', window_start) AS hs, event_type,
        |  CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
        |FROM tf_tumble GROUP BY date_trunc('hour', window_start), event_type""".stripMargin,
    "tf_top" ->
      """SELECT user_id, count(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |FROM tf_ev GROUP BY user_id
        |ORDER BY sv DESC, user_id LIMIT 25""".stripMargin,
    "tf_sess" ->
      """SELECT window_start, window_end, user_id, count(*) AS n,
        |  SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |FROM session(tf_ev, ts, interval '5 minutes')
        |GROUP BY window_start, window_end, user_id""".stripMargin)

  def probes = Seq(
    "tf_agg folds in the driver tier" -> (mv("tf_agg").isDeltaAggMode && mv("tf_agg").auxStateIsLocal),
    "tf_tumble folds in the driver tier" -> (mv("tf_tumble").isDeltaAggMode && mv("tf_tumble").auxStateIsLocal),
    "tf_hourly cascades over tf_tumble's changelog in the driver tier" ->
      (mv("tf_hourly").isChangelogCascadeMode && mv("tf_hourly").auxStateIsLocal),
    "tf_top is incremental top-N" -> mv("tf_top").isTopNMode,
    "tf_sess re-sessionizes its affected slice in the driver tier" ->
      (mv("tf_sess").isSessionMode && mv("tf_sess").sessionSliceActive),
    "tf_ev face is driver-local" -> eng.table(table).get.faceIsLocal)

  /** One read shape per face, five shapes: with an odd number of equally
    * weighted shapes the read median falls inside one shape's latencies,
    * not on the edge between two. */
  def readSql(r: Rng): Seq[String] = (1 to 2).flatMap(_ => Seq(
    s"SELECT n, sv FROM tf_agg WHERE user_id = ${r.nextInt(props.users)}",
    s"SELECT window_start, n, sv FROM tf_tumble WHERE event_type = '${Ev.types(r.nextInt(5))}'",
    s"SELECT user_id, sv FROM tf_top ORDER BY sv DESC, user_id LIMIT ${1 + r.nextInt(10)}",
    s"SELECT hs, n, sv FROM tf_hourly WHERE event_type = '${Ev.types(r.nextInt(5))}'",
    s"SELECT window_start, window_end, n FROM tf_sess WHERE user_id = ${r.nextInt(100)}"))

  def run(): Unit = {
    rec.props ++= props.describe
    rec.props ++= Seq("interval_ms" -> intervalMs, "warmup_barriers" -> warmupBarriers,
      "mvs" -> mvs.map(_._1).mkString(","), "data_dir" -> "ephemeral")
    val gen = new StreamGen(ctx.seed, props)
    val t0 = System.nanoTime()
    open(e => e.table(table).get.insert(gen.history().map(_.row)))
    finishSetup(t0, warmupBarriers)(gen.batch((props.ratePerSec * intervalMs / 1000).toInt).map(_.row))

    var pending = gen.nextDue()
    val start = System.nanoTime()
    // the measured window is the schedule: every barrier due in it runs
    val barriers = ctx.fixedEpochs.getOrElse(math.max(2, (ctx.seconds * 1000 / intervalMs).toInt))
    var k = 0
    while (k < barriers) {
      val dueNs = start + ((k + 1) * intervalMs * 1e6).toLong
      val waitNs = dueNs - System.nanoTime()
      if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
      val nowNs = System.nanoTime()
      rec.lagMs += (nowNs - dueNs) / 1e6
      val nowOff = (nowNs - start) / 1e6
      val due = ArrayBuffer[Ev]()
      while (pending.dueMs <= nowOff) { due += pending; pending = gen.nextDue() }
      ctx.beginEpoch(k)
      val gc0 = ctx.gcMs
      val w0 = System.nanoTime()
      val (visNs, ops) = barrier(due.map(_.row).toSeq)
      val work = (System.nanoTime() - w0) / 1e6
      val gc = ctx.gcMs - gc0
      ctx.endEpoch()
      val visOff = (visNs - start) / 1e6
      due.foreach(e => rec.latencyMs += visOff - e.dueMs)
      rec.visible += due.length
      rec.measuredMs = visOff
      rec.epochLog += ((ctx.tracedEpoch(k), work, due.length.toLong, ops, gc, 0L))
      k += 1
    }
    rec.epochs = k
    rec.stage("measure")
    Harness.fullGc(rec)
    gate()
    rec.stage("gate")
    eng.close()
    rec.stage("close")
  }
}

object StateGrowth {
  val props = StreamGen.Props(users = 20000, zipfS = 0.0, upsertShare = 0.0,
    outOfOrderShare = 0.1, outOfOrderMaxMicros = 240L * 1000000L, historyRows = 210000,
    historyStepMicros = 500000L, streamStepMicros = 500000L, acctSpace = 1L << 21,
    maxValue = 1000.0, ratePerSec = 0.0)
}

/** `state_growth`: closed loop past the 200k-row driver-tier bounds, on a
  * durable data directory. The history alone puts every MV over its bound;
  * no engine knob is touched. */
final class StateGrowth(ctx: RunCtx) extends StreamWorkload(ctx) {
  def props = StateGrowth.props
  val batchRows = 5000
  /** Seconds an epoch takes at nproc = 4. */
  val nominalEpochS = 5.0
  /** The first epoch pays the first compiles and the full GC, and the
    * second is still about 15% slower (JIT); two warm-up epochs put the
    * measured ones near the plateau. */
  val warmupEpochs = 2
  val dataDir = new java.io.File(ctx.outDir, "data")
  override def options = ConnOptions(dataDir = Some(dataDir.getPath))
  def table = "sg_ev"
  def mvs = Seq(
    "sg_agg" ->
      """SELECT acct, count(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |FROM sg_ev GROUP BY acct""".stripMargin,
    "sg_rank" ->
      """SELECT event_id, ts, value, CAST(rank() OVER
        |  (PARTITION BY date_trunc('hour', ts) ORDER BY value DESC, event_id) AS BIGINT) AS r
        |FROM sg_ev""".stripMargin,
    "sg_join" ->
      """SELECT e.event_id, d.bucket_name, e.value
        |FROM sg_ev e LEFT JOIN sg_dim d ON d.uid = e.user_id % 500""".stripMargin)

  def probes = Seq(
    "sg_agg folds past the driver tier" -> (mv("sg_agg").isDeltaAggMode && !mv("sg_agg").auxStateIsLocal),
    "sg_rank is a window cascade past its local state bound" ->
      (mv("sg_rank").isWindowCascadeMode && mv("sg_rank").windowStateOversize),
    "sg_join is a delta join past its join-state map" ->
      (mv("sg_join").isDeltaJoinMode && !mv("sg_join").joinStateIsLocal),
    "sg_ev face is distributed" -> !eng.table(table).get.faceIsLocal)

  def readSql(r: Rng): Seq[String] = (1 to 2).flatMap(_ => Seq(
    s"SELECT n, sv FROM sg_agg WHERE acct = ${(r.nextLong() >>> 1) % props.acctSpace}",
    s"SELECT event_id, value FROM sg_rank WHERE r <= 3 AND " +
      s"date_trunc('hour', ts) = TIMESTAMP '2024-01-01 ${10 + r.nextInt(10)}:00:00'",
    s"SELECT bucket_name, value FROM sg_join WHERE event_id = ${r.nextInt(props.historyRows)}"))

  def run(): Unit = {
    rec.props ++= props.describe
    val epochs = ctx.closedLoopEpochs(nominalEpochS)
    rec.props ++= Seq("batch_rows" -> batchRows, "epochs" -> epochs, "warmup_epochs" -> warmupEpochs,
      "mvs" -> mvs.map(_._1).mkString(","), "data_dir" -> "durable")
    val gen = new StreamGen(ctx.seed, props)
    val t0 = System.nanoTime()
    open { e =>
      e.createTable("sg_dim", StructType(Seq(StructField("uid", LongType),
        StructField("bucket_name", StringType))), primaryKey = Seq("uid"))
      e.table("sg_dim").get.insert((0 until 250).map(i => Row(i.toLong, s"bucket_$i")))
      e.table(table).get.insert(gen.history().map(_.row))
    }
    finishSetup(t0, warmupEpochs)(gen.batch(batchRows).map(_.row))

    var files0 = if (ctx.trace) Workloads.files(dataDir) else Map.empty[String, Long]
    val start = System.nanoTime()
    var k = 0
    while (k < epochs) {
      val rows = gen.batch(batchRows)
      ctx.beginEpoch(k)
      val gc0 = ctx.gcMs
      val w0 = System.nanoTime()
      val (visNs, ops) = barrier(rows.map(_.row))
      val work = (System.nanoTime() - w0) / 1e6
      val gc = ctx.gcMs - gc0
      ctx.endEpoch()
      // every row of the batch was created when the batch was generated
      val fresh = (visNs - w0) / 1e6
      rows.foreach(_ => rec.latencyMs += fresh)
      rec.visible += rows.length
      rec.measuredMs = (visNs - start) / 1e6
      val wrote = if (ctx.trace) {
        val f1 = Workloads.files(dataDir)
        val w = Workloads.written(files0, f1); files0 = f1; w
      } else 0L
      rec.epochLog += ((ctx.tracedEpoch(k), work, rows.length.toLong, ops, gc, wrote))
      k += 1
    }
    rec.epochs = k
    rec.stage("measure")
    Harness.fullGc(rec)
    val live = Workloads.files(dataDir)
    rec.extra("stored_bytes_per_row") = live.values.sum.toDouble / (props.historyRows + batchRows * (warmupEpochs + k))
    rec.extra("storage.files_live") = live.size
    gate()
    rec.stage("gate")
    // no close(): its final barrier and snapshot persist are not measured,
    // and the run directory is discarded
  }
}

/** `batch_sql`: repeated whole passes over a fixed subset of graft.Bench's
  * headline queries through SparkEntry.queries, written to the noop sink,
  * with a point read through GraftEngine.fetch after each query. No MV. */
object BatchSql {
  val sf = 0.002
  /** Seconds a measured pass takes at nproc = 4. */
  val nominalPassS = 5.0
  /** One headline query per operator family: filtered scan, fact-fact
    * join, window top-k, tumble aggregate, near-duplicate detection
    * (graft.operators) and text scoring. */
  val queries: Seq[String] = Seq("b_filter_pushdown", "b_join_fact_fact",
    "b_win_topk_per_group", "a_w1_tumble_avg", "x_dedup_simhash", "x_text_quality")
}

final class BatchSql(ctx: RunCtx) {
  val rec: Recorder = ctx.rec
  val sf = BatchSql.sf
  val dataDir = new java.io.File(ctx.outDir, "tables").getPath
  val queries: Seq[String] = BatchSql.queries

  def run(): Unit = {
    val spark = ctx.spark
    rec.props ++= Seq("sf" -> sf, "queries" -> queries.mkString(","), "sink" -> "noop")
    BatchGen.tables(ctx.seed, sf).foreach { case (n, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dataDir/$n.parquet")
    }
    rec.stage("generate")
    val t0 = System.nanoTime()
    val eng = GraftEngine.open(ConnOptions(), Some(spark))
    graft.Tables.registerAll(spark, dataDir)
    // warm-up pass: the first execution of each plan pays its codegen; its
    // results are kept for the DuckDB oracle compare in run.py
    val resultDir = new java.io.File(ctx.outDir, "results").getPath
    queries.foreach { q =>
      rec.op(s"$q result")(graft.SparkEntry.queries(q)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$resultDir/$q"))
    }
    rec.setupsS += (System.nanoTime() - t0) / 1e9
    rec.stage("setup")
    Harness.fullGc(rec)

    val rng = new Rng(ctx.seed, 4)
    val maxOrder = math.max(1, (1500000 * sf).toInt)
    val passes = ctx.closedLoopEpochs(BatchSql.nominalPassS)
    val perQuery = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val start = System.nanoTime()
    var k = 0
    var pass = 0
    // whole passes only, so every run measures the same query mix
    while (pass < passes) {
      queries.map(q => (rng.nextLong(), q)).sortBy(_._1).map(_._2).foreach { q =>
        ctx.beginEpoch(k)
        val gc0 = ctx.gcMs
        val t1 = System.nanoTime()
        ctx.span("queries." + q)(rec.op(q)(graft.SparkEntry.queries(q)(spark, dataDir)
          .write.format("noop").mode("overwrite").save()))
        val ms = (System.nanoTime() - t1) / 1e6
        rec.latencyMs += ms
        perQuery.getOrElseUpdate(q, ArrayBuffer()) += ms
        val r0 = System.nanoTime()
        val key = rng.nextInt(maxOrder)
        ctx.span("engine.fetch")(rec.op("read")(
          eng.fetch(s"SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey = $key")))
        rec.readMs += (System.nanoTime() - r0) / 1e6
        val work = (System.nanoTime() - t1) / 1e6
        val gc = ctx.gcMs - gc0
        ctx.endEpoch()
        rec.visible += 1
        rec.epochLog += ((ctx.tracedEpoch(k), work, 0L, 0L, gc, 0L))
        k += 1
      }
      pass += 1
    }
    rec.measuredMs = (System.nanoTime() - start) / 1e6
    rec.epochs = k
    rec.extra("passes") = pass
    rec.extra("query_median_ms") = perQuery.map { case (q, xs) => q -> Harness.median(xs.toSeq) }
    rec.stage("measure")
    Harness.fullGc(rec)
    val oracle = queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))
    Json.write(new java.io.File(ctx.outDir, "oracle_sql.json"),
      Json.obj(oracle.map { case (q, sql) => q -> Json.str(sql) }))
    eng.close()
    rec.stage("close")
  }
}
