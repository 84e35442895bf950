package graft.tools

import graft.Bench
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Diagnostic: replay one streaming bench entry and attribute its shuffle
  * bytes to engine phases. The maintainers tag every phase on the job's
  * local properties (`graft.phase`, set by `GraftEngine.timed`); AQE's
  * thread-local capture propagates the tag to the query stages it submits
  * from its own pool, so the attribution holds
  * under adaptive execution — where plain stage callsites all collapse to
  * `CompletableFuture.java` (round-14 finding).
  *
  * Usage: runMain graft.tools.ShuffleProfile [entry] [sfDir]
  *   entry defaults to s_mv_window_maintain; sfDir to /root/testdata/sf0.01.
  *
  * Round-14 result for s_mv_window_maintain at sf0.01 (the verdict-#6
  * question — what ARE the 17.4 MB/epoch at sf0.1): 98% of the entry's
  * shuffle is `group-recompute` — the touched-partition window INPUT being
  * co-located for the re-rank — and 2% is the touched-keys distinct. The
  * bytes are the irreducible re-rank input: rank() needs every surviving
  * row of a touched partition on one task, the restriction is already
  * below the exchange (only touched-partition rows ship), and at this
  * replay the touched set ≈ the delta itself (monotone ts → fresh hours).
  */
object ShuffleProfile {
  def main(args: Array[String]): Unit = {
    val entry = args.headOption.getOrElse("s_mv_window_maintain")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stagePhase = mutable.HashMap[Int, String]()
    val jobsPerPhase = mutable.LinkedHashMap[String, Long]()
    val agg = mutable.LinkedHashMap[String, (Long, Long)]() // phase -> (bytes, stages)
    val lsn = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val ph = Option(js.properties)
          .flatMap(p => Option(p.getProperty("graft.phase"))).getOrElse("untagged")
        jobsPerPhase.update(ph, jobsPerPhase.getOrElse(ph, 0L) + 1L)
        js.stageIds.foreach(sid => stagePhase(sid) = ph)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val w = si.taskMetrics.shuffleWriteMetrics.bytesWritten
        // untagged stages (outside any timed() phase) fall back to the
        // first graft frame of the submission stack, then the callsite
        val k = stagePhase.get(si.stageId).filter(_ != "untagged").getOrElse {
          si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("ShuffleProfile"))
            .map(l => "untagged:" + l.trim.takeWhile(_ != '(') +
              l.trim.dropWhile(_ != '(').take(40))
            .getOrElse("untagged:" + si.name)
        }
        val (pw, pn) = agg.getOrElse(k, (0L, 0L))
        agg.update(k, (pw + w, pn + 1))
      }
    }
    spark.sparkContext.addSparkListener(lsn)
    val d = Bench.streamDefs.find(_.name == entry).getOrElse(
      sys.error(s"unknown entry $entry; one of ${Bench.streamDefs.map(_.name).mkString(", ")}"))
    val (sec, rows, epochs, jobs, bytes) = Bench.runStreamEntry(spark, sfDir, d)
    org.apache.spark.GraftListenerBridge.waitListeners(spark.sparkContext)
    println(f"$entry: $sec%.2f s, $rows rows, $epochs epochs, " +
      f"${jobs.toDouble / epochs}%.3f jobs/epoch, $bytes shuffle bytes")
    val total = math.max(1L, agg.valuesIterator.map(_._1).sum)
    agg.toSeq.sortBy(-_._2._1).foreach { case (k, (w, n)) =>
      println(f"  $k%-42s $w%10d bytes (${100.0 * w / total}%5.1f%%) over $n%4d stages")
    }
    println("  jobs per phase:")
    jobsPerPhase.toSeq.sortBy(-_._2).foreach { case (k, n) =>
      println(f"    $k%-40s $n%5d jobs (${n.toDouble / epochs}%6.3f /epoch)")
    }
    spark.stop()
  }
}
