package graft.engine

import graft.streaming.Changelog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A durable PK table through its whole life — insert, FLUSH, UPDATE,
  * DELETE, compaction, bulk ingest, close and reopen — with a tiny spill
  * threshold, so the face, the history and the changelog diff all read
  * segments from both writers (driver-side [[LocalParquet]] spills and
  * compactions, executor-side bulk and DML rewrites) next to the memory
  * tail. After every step the face must equal a from-scratch resolution
  * of every row ever written, and the table changelog must replay onto
  * it. Segments are read under the schema the engine wrote them with, and
  * the tail frame is encoded once per change of the tail. */
class LiveTableTailSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("amt", DecimalType(10, 2)), StructField("ts", TimestampType),
    StructField("x", DoubleType)))

  private def row(id: Long, gen: Int): Row = Row(id, s"g${(id + gen) % 3}",
    new java.math.BigDecimal(id * 100 + gen).movePointLeft(2).setScale(2),
    new java.sql.Timestamp(1700000000000L + id * 60000L + gen * 1000L),
    id * 0.5 + gen)

  private def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.GraftListenerBridge.waitListeners(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("durable PK table: face and changelog replay match a from-scratch resolution at every step") {
    spark.conf.set("graft.table.spillThreshold", "10")
    spark.conf.set("graft.table.compactThreshold", "1")
    val dir = java.nio.file.Files.createTempDirectory("graft-tail-").toString
    // id → current row: the from-scratch resolution (no version column, so
    // the newest write of a key wins)
    val model = scala.collection.mutable.Map[Long, Row]()
    def write(t: LiveTable, rows: Seq[Row]): Unit = {
      t.insert(rows)
      rows.foreach(r => model(r.getLong(0)) = r)
    }
    def check(rw: GraftEngine, t: LiveTable, step: String): Unit = {
      val face = t.batchDF
      assert(face.schema.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType),
        s"$step: face column types")
      val got = face.collect().map(r => r.getLong(0) -> r).toMap
      assert(got == model.toMap, s"$step: face != resolution of every written row")
      assert(rw.fetch("SELECT count(*) FROM lt_t").head.getLong(0) == model.size, step)
      val log = t.changeLog
      assert(log.dfAfter(0L).schema.map(_.dataType) == log.changeSchema.map(_.dataType),
        s"$step: changelog column types")
      val replay = scala.collection.mutable.Map[Long, Row]()
      log.fetchAfter(0L, Int.MaxValue).foreach { op =>
        val payload = Row.fromSeq(op.toSeq.take(schema.length))
        op.getString(schema.length) match {
          case Changelog.OpInsert | Changelog.OpUpdateInsert =>
            assert(!replay.contains(payload.getLong(0)), s"$step: insert over a live key $payload")
            replay(payload.getLong(0)) = payload
          case _ =>
            assert(replay.remove(payload.getLong(0)).contains(payload),
              s"$step: retraction of a row the log never inserted: $payload")
        }
      }
      assert(replay == model, s"$step: changelog replay != face")
    }

    val rw = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    try {
      val t = rw.createTable("lt_t", schema, primaryKey = Seq("id"))
      t.enableChangelog()
      // keep the face off the driver map: every read then goes through the
      // tail frame and the segment scans
      t.mergedFaceMax = 2
      // fresh keys and upserts of spilled keys over several barriers
      (0 until 6).foreach { gen =>
        write(t, (0L until 6L).map(i => row(gen * 4 + i, gen)))
        rw.flush()
        check(rw, t, s"insert $gen")
      }
      assert(!t.faceIsLocal && t.historyRows > 10, "face must read segments")
      // one change, many reads: the tail encodes once
      val encodes = t.tailEncodes
      write(t, Seq(row(100L, 0), row(3L, 9)))
      rw.flush()
      t.batchDF.collect(); rw.fetch("SELECT * FROM lt_t"); t.batchDF.collect()
      assert(t.tailEncodes == encodes + 1, "the tail must encode once per change")
      rw.fetch("SELECT * FROM lt_t")
      assert(t.tailEncodes == encodes + 1, "a read without a change must not encode")
      // the face over segments plans without Parquet's schema-inference job
      assert(countJobs(t.batchDF) == 0, "segment reads must use the written schema")

      rw.execute("UPDATE lt_t SET x = x + 1, grp = 'upd' WHERE id % 3 = 0")
      model.keys.filter(_ % 3 == 0).toSeq.foreach { k =>
        val r = model(k)
        model(k) = Row(r.get(0), "upd", r.get(2), r.get(3), r.getDouble(4) + 1)
      }
      check(rw, t, "update")
      rw.execute("DELETE FROM lt_t WHERE id % 5 = 1")
      model.keys.filter(_ % 5 == 1).toSeq.foreach(model.remove)
      check(rw, t, "delete")
      (0 until 3).foreach { gen =>
        write(t, (0L until 5L).map(i => row(40 + gen * 5 + i, gen)))
        rw.flush()
      }
      val before = t.historyRows
      t.maybeCompact()
      check(rw, t, "compact")
      assert(t.historyRows <= before)

      // executor-side bulk segment: fresh keys and upserts of live ones
      val bulk = (200L until 212L).map(row(_, 1)) ++ Seq(row(2L, 7), row(41L, 7))
      t.insertDF(spark.createDataFrame(java.util.Arrays.asList(bulk: _*), schema))
      bulk.foreach(r => model(r.getLong(0)) = r)
      rw.flush()
      check(rw, t, "bulk")
      write(t, Seq(row(205L, 8), row(300L, 8)))
      rw.flush()
      check(rw, t, "after bulk")
    } finally rw.close()

    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    try {
      val t2 = rw2.table("lt_t").getOrElse(fail("table must restore"))
      t2.enableChangelog()
      check(rw2, t2, "reopen")
      write(t2, Seq(row(4L, 11), row(400L, 11)))
      rw2.flush()
      t2.maybeCompact()
      check(rw2, t2, "after reopen")
    } finally {
      rw2.close()
      spark.conf.unset("graft.table.spillThreshold")
      spark.conf.unset("graft.table.compactThreshold")
    }
  }

  test("a streaming face attached after a bulk insert over a non-empty tail sees every row") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    try {
      val kv = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
      rw.createTable("lt_bulk", kv)
      val t = rw.table("lt_bulk").get
      t.insert(Seq(Row("a", 1L), Row("b", 2L)))
      t.insertDF(spark.createDataFrame(java.util.Arrays.asList(Row("c", 3L)), kv))
      val sql = "SELECT k, count(*) AS n FROM lt_bulk GROUP BY k"
      val mv = rw.mv(sql, "lt_bulk_mv")
      assert(mv.isStreamingMode)
      rw.flush()
      def rows(rs: Seq[Row]): Seq[(String, Long)] = rs.map(r => (r.getString(0), r.getLong(1))).sorted
      assert(rows(rw.fetch(sql)) == Seq(("a", 1L), ("b", 1L), ("c", 1L)))
      assert(rows(mv.df.collect().toSeq) == rows(rw.fetch(sql)), "the MV must equal batch")
    } finally rw.close()
  }
}
