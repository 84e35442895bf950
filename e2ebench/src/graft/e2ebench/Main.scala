package graft.e2ebench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def any(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> any(x) })
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def write(f: java.io.File, s: String): Unit =
    java.nio.file.Files.writeString(f.toPath, s)
}

object Harness {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * p / 100.0
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Force a full GC and record old-generation usage after it (MB). The
    * second GC runs after Spark's ContextCleaner has had time to drop the
    * blocks of RDDs the first one found unreachable. */
  def fullGc(rec: Recorder): Unit = {
    import scala.jdk.CollectionConverters._
    System.gc()
    Thread.sleep(300)
    System.gc()
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum
    val mb = old / 1048576.0
    val prev = rec.extra.get("heap_after_gc_mb").map(_.asInstanceOf[Double]).getOrElse(0.0)
    rec.extra("heap_after_gc_mb") = math.max(prev, mb)
  }

  /** Machine-calibration probes, as graft.Bench defines them: one-thread
    * splitmix64 loop, and a fixed 1M-row / 64-group shuffle job. Min of 2
    * (graft.Bench takes 3), as every run pays for them. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    def timeMin(f: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    var sink = 0L
    val cpu = timeMin {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 100000000) {
        x += 0x9E3779B97F4A7C15L
        sink ^= Rng.mix(x)
        i += 1
      }
    }
    if (sink == 42L) System.err.println("calibration sink")
    val tiny = timeMin {
      import org.apache.spark.sql.functions._
      spark.range(1000000L).groupBy((col("id") % 64).as("k"))
        .agg(count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    (cpu, tiny)
  }

  /** Per-layer figures from the traced epochs, plus the per-epoch
    * reconciliation of each FLUSH wall. */
  def layers(ctx: RunCtx): (mutable.LinkedHashMap[String, Double], Seq[String]) = {
    val tr = ctx.tracer
    val spans = tr.spans.toSeq
    val jobs = tr.jobs.values.toSeq
    val an = new TraceAnalysis(spans, jobs)
    val log = ctx.rec.epochLog.toSeq
    val tracedK = log.indices.filter(k => log(k)._1)
    val n = math.max(1, tracedK.length).toDouble
    val owned = jobs.filter(j => an.owner.contains(j.id))
    val m = mutable.LinkedHashMap[String, Double]()
    val tasks = owned.map(_.tasks).sum.toDouble
    m("spark.jobs_per_epoch") = owned.length / n
    m("spark.tasks_per_epoch") = tasks / n
    m("spark.scheduler_delay_ms") = owned.map(an.schedulerDelayMs).sum / n
    m("spark.empty_task_ratio") = if (tasks > 0) owned.map(_.emptyTasks).sum / tasks else 0.0
    m("spark.scan_bytes_per_epoch") = owned.map(_.scanBytes).sum / n
    m("spark.shuffle_write_bytes_per_epoch") = owned.map(_.shuffleWriteBytes).sum / n
    m("spark.task_ms_per_epoch") = owned.map(_.taskMs).sum / n
    m("spark.streaming_jobs_per_epoch") = owned.count(_.streaming) / n

    def ofLayer(l: String) = spans.filter(_.layer == l)
    def perEpoch(l: String, f: Span => Double): Seq[Double] =
      tracedK.map(k => spans.filter(s => s.epoch == k && s.layer == l).map(f).sum)

    val recon = ofLayer("engine.flush").map { s =>
      val (ph, drv) = an.decompose(s)
      val tagged = ph.filter(_._1.nonEmpty).values.sum
      val un = ph.getOrElse("", 0.0)
      (s, ph, drv, tagged, un, s.ms - (tagged + un + drv))
    }
    m("engine.flush_ms") = median(recon.map(_._1.ms))
    m("engine.flush_driver_ms") = median(recon.map(_._3))
    m("engine.flush_phase_job_ms") = median(recon.map(_._4))
    m("engine.flush_unattributed_ms") = median(recon.map(_._5))
    m("engine.reconcile_residual_ms") = if (recon.isEmpty) 0.0 else recon.map(r => math.abs(r._6)).max
    val reconRows = recon.map { case (s, ph, drv, tagged, un, res) =>
      Json.obj(Seq("epoch" -> s.epoch.toString, "flush_ms" -> Json.num(s.ms),
        "phase_job_ms" -> Json.num(tagged), "driver_ms" -> Json.num(drv),
        "unattributed_ms" -> Json.num(un), "residual_ms" -> Json.num(res),
        "phases" -> Json.obj(ph.toSeq.filter(_._1.nonEmpty).sortBy(-_._2)
          .map { case (k, v) => k -> Json.num(v) })))
    }

    m("livetable.insert_ms") = median(perEpoch("livetable.insert", _.ms))
    m("self.livetable_insert_ms") = median(perEpoch("livetable.insert", an.selfMs))
    m("subscription.fetch_ms") = median(perEpoch("subscription.fetch", _.ms))
    m("self.subscription_fetch_ms") = median(perEpoch("subscription.fetch", an.selfMs))
    val fetches = ofLayer("subscription.fetch")
    m("subscription.zero_job_fetch_ratio") =
      if (fetches.isEmpty) 0.0 else fetches.count(s => an.jobsUnder(s).isEmpty).toDouble / fetches.length
    val rows = tracedK.map(k => log(k)._3).sum
    m("changelog.ops_per_input_row") = if (rows > 0) tracedK.map(k => log(k)._4).sum.toDouble / rows else 0.0
    val reads = ofLayer("engine.fetch")
    val rn = math.max(1, reads.length).toDouble
    m("read.driver_ms") = median(reads.map(an.selfMs))
    m("read.jobs_per_read") = reads.map(an.jobsUnder(_).length).sum / rn
    m("read.scan_bytes_per_read") = reads.map(an.jobsUnder(_).map(_.scanBytes).sum).sum / rn
    m("jvm.gc_ms_per_epoch") = mean(tracedK.map(k => log(k)._5))
    m("storage.bytes_written_per_epoch") = mean(tracedK.map(k => log(k)._6.toDouble))
    m("storage.files_live") = ctx.rec.extra.get("storage.files_live").map(_.toString.toDouble).getOrElse(0.0)

    val qs = spans.filter(_.layer.startsWith("queries."))
    m("queries.driver_ms") = median(qs.map(an.selfMs))
    m("queries.scan_bytes") = mean(qs.map(s => an.jobsUnder(s).map(_.scanBytes).sum.toDouble))
    qs.groupBy(_.layer.stripPrefix("queries.")).toSeq.sortBy(_._1).foreach { case (q, ss) =>
      m(s"query.$q.ms") = median(ss.map(_.ms))
      m(s"query.$q.task_ms") = mean(ss.map(s => an.jobsUnder(s).map(_.taskMs).sum.toDouble))
    }
    // job time inside any top-level span = the Spark layer's share of the epoch
    m("self.spark_ms") = median(tracedK.map(k =>
      spans.filter(s => s.epoch == k && s.parent == 0).map(s => s.ms - an.selfMs(s)).sum))

    owned.groupBy(j => j.phase.takeWhile(_ != ':')).toSeq.sortBy(_._1).foreach { case (v, js) =>
      val key = if (v.isEmpty) "untagged" else v
      m(s"mv.$key.jobs_per_epoch") = js.length / n
      m(s"mv.$key.job_ms_per_epoch") = js.map(j => j.t1 - j.t0).sum / n
    }
    owned.groupBy(_.phase).toSeq.sortBy(_._1).foreach { case (p, js) =>
      // a tag is `<view>:<phase>`; metric names keep to [A-Za-z0-9_.-]
      val key = if (p.isEmpty) "untagged" else p.replace(':', '.')
      m(s"phase.$key.jobs_per_epoch") = js.length / n
      m(s"phase.$key.job_ms_per_epoch") = js.map(j => j.t1 - j.t0).sum / n
      m(s"phase.$key.shuffle_bytes_per_epoch") = js.map(_.shuffleWriteBytes).sum / n
      m(s"phase.$key.scan_bytes_per_epoch") = js.map(_.scanBytes).sum / n
    }
    val tw = median(log.filter(_._1).map(_._2)); val uw = median(log.filterNot(_._1).map(_._2))
    m("trace.overhead_ms_per_epoch") = tw - uw
    m("trace.overhead_pct") = 100.0 * (tw - uw) / uw
    m("trace.jobs_by_containment_ratio") = if (jobs.isEmpty) 0.0 else an.byContainment.toDouble / jobs.length
    m("trace.epochs_traced") = tracedK.length
    (m, reconRows)
  }
}

/** Benchmark harness entry point; `e2ebench/run.py` drives it.
  *
  * `--workload W --seed N --seconds S --trace 0|1 --out DIR [--epochs K]`
  * runs one workload and writes DIR/result.json; `--digest` prints a hash
  * of the workload's generated inputs instead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    if (a.get("digest").contains("1")) { println(digest(workload, seed)); return }
    val outDir = a("out")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-e2ebench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new RunCtx(spark, seed, a("seconds").toDouble, a("trace") == "1",
      a.get("epochs").map(_.toInt), outDir)
    val rec = ctx.rec
    rec.stages("jvm_and_session") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try {
      workload match {
        case "tick_fresh" => new TickFresh(ctx).run()
        case "state_growth" => new StateGrowth(ctx).run()
        case "batch_sql" => new BatchSql(ctx).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch { case e: Throwable =>
      rec.failed += 1; rec.attempted += 1
      rec.problems += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
      e.printStackTrace()
    }
    val (cpu, tiny) = Harness.calibrate(spark)
    rec.stage("calibrate")
    import Harness._
    // the end-to-end names every workload shares: latency is event
    // freshness on the streaming workloads and query latency on batch_sql,
    // throughput is rows made visible or queries done per second
    // (the closed streaming loop: rows of an epoch over its wall, median
    // over the epochs, so one slow epoch does not move it)
    val throughput =
      if (workload == "state_growth") median(rec.epochLog.toSeq.map(e => e._3 / (e._2 / 1000)))
      else if (rec.measuredMs > 0) rec.visible / (rec.measuredMs / 1000) else Double.NaN
    val e2e = Seq(
      "setup_s" -> median(rec.setupsS.toSeq),
      "latency_p50_ms" -> pct(rec.latencyMs.toSeq, 50),
      "throughput_per_s" -> throughput,
      "read_p50_ms" -> pct(rec.readMs.toSeq, 50),
      "read_p90_ms" -> pct(rec.readMs.toSeq, 90),
      "heap_after_gc_mb" -> rec.extra.get("heap_after_gc_mb").map(_.asInstanceOf[Double]).getOrElse(Double.NaN))
    // the same figures under their workload-specific names, with the tails
    // the report keeps; state_growth gives every row of an epoch one
    // freshness, so its p90 would only be its slowest epoch
    val named = workload match {
      case "batch_sql" => Seq("query_p50_ms" -> pct(rec.latencyMs.toSeq, 50),
        "query_p90_ms" -> pct(rec.latencyMs.toSeq, 90), "queries_per_s" -> throughput)
      case "tick_fresh" => Seq("freshness_p50_ms" -> pct(rec.latencyMs.toSeq, 50),
        "freshness_p90_ms" -> pct(rec.latencyMs.toSeq, 90), "ingest_rows_per_s" -> throughput,
        "ingest_lag_p90_ms" -> pct(rec.lagMs.toSeq, 90))
      case _ => Seq("freshness_p50_ms" -> pct(rec.latencyMs.toSeq, 50), "ingest_rows_per_s" -> throughput)
    }
    val extra = named.map { case (k, v) => k -> Json.num(v) } ++ Seq(
      "error_rate" -> Json.num(if (rec.attempted > 0) rec.failed.toDouble / rec.attempted else 0.0),
      "epochs" -> rec.epochs.toString,
      "latency_samples" -> rec.latencyMs.length.toString,
      "read_samples" -> rec.readMs.length.toString,
      "epoch_work_ms" -> Json.any(rec.epochLog.map(_._2).toSeq),
      "epoch_gc_ms" -> Json.any(rec.epochLog.map(_._5).toSeq),
      "measured_s" -> Json.num(rec.measuredMs / 1000),
      "setups_s" -> Json.any(rec.setupsS.toSeq),
      "stages_s" -> Json.any(rec.stages)) ++
      rec.extra.toSeq.filterNot(_._1 == "heap_after_gc_mb").map { case (k, v) => k -> Json.any(v) }
    val (layerMetrics, recon) =
      if (ctx.trace) Harness.layers(ctx) else (mutable.LinkedHashMap[String, Double](), Nil)
    val context = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "nproc" -> nproc.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "cpu_st_sec" -> Json.num(cpu), "spark_tiny_sec" -> Json.num(tiny),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")))
    val out = Json.obj(Seq(
      "correct" -> (rec.failed == 0).toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layerMetrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(extra),
      "properties" -> Json.obj(rec.props.toSeq.map { case (k, v) => k -> Json.any(v) }),
      "context" -> Json.obj(context),
      "problems" -> Json.any(rec.problems.toSeq),
      "reconciliation" -> recon.mkString("[", ",", "]")))
    Json.write(new java.io.File(outDir, "result.json"), out)
    spark.stop()
  }

  /** SHA-256 over a workload's generated inputs for `seed`. */
  def digest(workload: String, seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    workload match {
      case "tick_fresh" =>
        val g = new StreamGen(seed, TickFresh.props)
        g.history().foreach(e => add(e.toString))
        g.batch(1500).foreach(e => add(e.toString))
        (0 until 5000).foreach(_ => add(g.nextDue().toString))
      case "state_growth" =>
        val g = new StreamGen(seed, StateGrowth.props)
        g.history().foreach(e => add(e.toString))
        g.batch(20000).foreach(e => add(e.toString))
      case "batch_sql" =>
        BatchGen.tables(seed, BatchSql.sf).foreach { case (n, _, rows) =>
          rows.foreach(r => add(n + ":" + r.toString))
        }
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
