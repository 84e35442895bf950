package graft

import graft.engine.{ConnOptions, GraftEngine, MaterializedView}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The delta-agg fold, the window cascade and the session MV carry their
  * state in `CarriedOverlay` on both sides of the driver bound. With the
  * bound cut to a few rows, a pure-signed aggregate (long and decimal
  * sums, a NULL-sum group), a float-tier aggregate (double sums), a
  * decimal aggregate that overflows and a window rank start in the
  * overlay's no-base tier and cross into base plus overlay. The steps
  * cover, on both sides of the bound, a group that vanishes and returns,
  * a durable close and reopen (the restored state seeds the no-base tier
  * or becomes the base) and an injected window-epoch failure
  * (full-recompute repair, whose frame the next epoch seeds from), then a
  * decimal overflow that demotes its fold to recompute. The session case
  * drives both session paths across the bound the same way, through gap
  * merges, late rows, splits, moved rows and a refused epoch. After every
  * step each face equals a batch re-evaluation and the MV's changelog,
  * replayed from offset 0, equals the face. */
class TierBoundarySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("lv", LongType), StructField("dv", DecimalType(18, 2)),
    StructField("fv", DoubleType), StructField("bv", DecimalType(38, 0))))

  private val stmts = Seq(
    "tb_agg" -> "SELECT g, count(*) AS n, sum(lv) AS sl, sum(dv) AS sd FROM tb_t GROUP BY g",
    "tb_fagg" -> "SELECT g, count(*) AS n, sum(fv) AS sf FROM tb_t GROUP BY g",
    "tb_ovf" -> "SELECT g, count(*) AS n, sum(bv) AS sb FROM tb_t GROUP BY g",
    "tb_rank" -> ("SELECT id, g, lv, CAST(rank() OVER (PARTITION BY g ORDER BY dv DESC, id) " +
      "AS BIGINT) AS r FROM tb_t WHERE tb_trip(id)"))

  private def row(id: Long, g: String, lv: java.lang.Long, dv: String, fv: Double,
      bv: String = "1"): Row =
    Row(id, g, lv, new java.math.BigDecimal(dv).setScale(2), fv, new java.math.BigDecimal(bv))

  private def norm(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  test("delta-agg and window state cross the driver bound with batch and changelog parity") {
    spark.udf.register("tb_trip", (id: Long) => {
      if (TierBoundarySpec.armed.getAndSet(false))
        throw new IllegalStateException(s"injected window-epoch failure at id $id")
      true
    })
    val dir = java.nio.file.Files.createTempDirectory("graft_tier").toString
    val opts = ConnOptions(dataDir = Some(dir), foldFloatingPointAgg = true)
    var rw = GraftEngine.open(opts, Some(spark))
    rw.createTable("tb_t", schema, primaryKey = Seq("id"))
    def open(): Map[String, MaterializedView] = stmts.map { case (n, sql) =>
      val mv = rw.mv(sql, n)
      // the aggregates hold up to 5 groups with no base, the rank 8 rows
      mv.cascadeLocalMax = if (n == "tb_rank") 8 else 5
      mv.compactEvery = 2
      n -> mv
    }.toMap
    var mvs = open()
    assert(Seq("tb_agg", "tb_fagg", "tb_ovf").forall(mvs(_).isDeltaAggMode))
    assert(mvs("tb_rank").isWindowCascadeMode)

    /** Flush, then check every MV against batch and its changelog replay;
      * `aggLocal`/`rankOver` are the expected tiers (None: not checked). */
    def step(tag: String, aggLocal: Option[Boolean], rankOver: Option[Boolean]): Unit = {
      rw.flush()
      stmts.foreach { case (n, sql) =>
        val mv = mvs(n)
        val face = norm(mv.df.collect().toSeq)
        assert(face == norm(rw.fetch(sql)), s"$tag: $n face must equal batch")
        val sub = mv.subscription().declareCursor(Some(0L))
        val ops = Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.toSeq
        val replay = ops.foldLeft(Map.empty[String, Int]) { (acc, r) =>
          val k = norm(Seq(Row.fromSeq(r.toSeq.dropRight(2)))).head
          val d = r.getString(r.length - 2) match {
            case "Insert" | "UpdateInsert" => 1
            case "Delete" | "UpdateDelete" => -1
          }
          acc.updated(k, acc.getOrElse(k, 0) + d)
        }
        assert(replay.values.forall(_ >= 0), s"$tag: $n replay $replay")
        assert(replay.toSeq.flatMap { case (k, c) => Seq.fill(c)(k) }.sorted == face,
          s"$tag: $n changelog replay must equal the face")
      }
      aggLocal.foreach(l => assert(mvs("tb_agg").auxStateIsLocal == l, s"$tag: tb_agg tier"))
      rankOver.foreach(o => assert(mvs("tb_rank").windowStateOversize == o, s"$tag: tb_rank tier"))
      // with no base the window face is the overlay's rows: reads run no job
      if (rankOver.contains(false))
        assert(mvs("tb_rank").df.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          s"$tag: tb_rank face must be a LocalRelation")
      assert(mvs("tb_agg").isDeltaAggMode && mvs("tb_fagg").isDeltaAggMode, tag)
      assert(mvs("tb_rank").isWindowCascadeMode, tag)
    }

    /** Durable close and reopen: every MV restores without evaluating. */
    def reopen(): Unit = {
      rw.close()
      rw = GraftEngine.open(opts, Some(spark))
      mvs = open()
      assert(mvs.values.forall(_.statementEvals == 0L), "reopen must restore state")
    }
    /** An injected failure inside the window epoch: the full-recompute
      * repair emits the epoch itself, and the next epoch seeds the overlay
      * from the repair's frame. */
    def repair(tag: String, rows: Seq[Row]): Unit = {
      val evals = mvs("tb_rank").statementEvals
      TierBoundarySpec.armed.set(true)
      rw.table("tb_t").get.insert(rows)
      step(tag, None, None)
      assert(!TierBoundarySpec.armed.get, s"$tag: the injected failure must have fired")
      assert(mvs("tb_rank").statementEvals == evals + 2,
        s"$tag: the failed epoch must be repaired by one full recompute")
    }
    def insert(rows: Row*): Unit = rw.table("tb_t").get.insert(rows)

    // 1-3, no base anywhere: g2 is a NULL-sum group, vanishes and returns
    insert(row(1, "g1", 1L, "1.10", 0.25), row(2, "g1", null, "2.00", 0.5),
      row(3, "g2", null, "3.00", 0.75))
    step("1", Some(true), Some(false))
    rw.execute("DELETE FROM tb_t WHERE id = 3")
    insert(row(4, "g3", 4L, "4.00", 1.0))
    step("2", Some(true), Some(false))
    insert(row(5, "g2", null, "5.00", 1.25), row(6, "g4", 6L, "6.00", 1.5),
      row(7, "g5", 7L, "7.00", 1.75))
    step("3", Some(true), Some(false))
    // 4: the restored states fit their bounds and seed the no-base tier
    reopen()
    insert(row(8, "g1", 8L, "8.00", 2.0))
    step("4 (reopened)", Some(true), Some(false))
    // 5-6: a repair with no base; its frame seeds the no-base tier again,
    // and an upsert moves a row across groups
    repair("5 (repair)", Seq(row(9, "g3", 9L, "9.00", 2.25)))
    insert(row(8, "g2", 8L, "8.50", 2.5))
    step("6", Some(true), Some(false))
    // 7: seven groups and ten ranked rows outgrow both bounds
    insert(row(10, "g6", 10L, "0.50", 2.75), row(11, "g7", 11L, "11.00", 3.0))
    step("7", Some(false), Some(true))
    val carried = mvs("tb_agg").overlayEpochs
    insert(row(12, "g1", 12L, "12.00", 3.25), row(13, "g8", 13L, "13.00", 3.5),
      row(4, "g1", 40L, "4.50", 3.75))
    step("8", Some(false), Some(true))
    assert(mvs("tb_agg").overlayEpochs > carried && mvs("tb_rank").overlayEpochs > 0,
      "both MVs must carry over a base")
    // 9-10: g2 vanishes over the base and returns; a NULL sum gains a
    // value in g1; a big decimal group forms
    rw.execute("DELETE FROM tb_t WHERE id IN (5, 8)")
    insert(row(2, "g1", 2L, "2.00", 0.5))
    step("9", Some(false), Some(true))
    insert(row(14, "g2", 14L, "14.00", 4.0),
      row(20, "g9", 20L, "1.00", 4.25, "50000000000000000000000000000000000000"),
      row(21, "g9", 21L, "2.00", 4.5, "49000000000000000000000000000000000000"))
    step("10", Some(false), Some(true))
    assert(mvs("tb_ovf").isDeltaAggMode)
    // 11: the restored states are past their bounds and become the base
    reopen()
    insert(row(15, "g3", 15L, "15.00", 4.75), row(1, "g1", 1L, "1.20", 0.25))
    step("11 (reopened)", Some(false), Some(true))
    // 12-13: a repair over the base; the next epoch re-bases on its frame
    repair("12 (repair)", Seq(row(16, "g1", 16L, "16.00", 5.0)))
    insert(row(17, "g3", 17L, "17.00", 5.25))
    step("13", Some(false), Some(true))
    // 14: the upsert's insert partial folds before its retraction and
    // outgrows DECIMAL(38,0): the fold demotes to recompute
    insert(row(21, "g9", 21L, "2.00", 4.5, "49000000000000000000000000000000000001"))
    step("14 (overflow)", Some(false), Some(true))
    assert(!mvs("tb_ovf").isDeltaAggMode, "the overflow must demote the fold")
    rw.execute("DELETE FROM tb_t WHERE id IN (20, 13)")
    step("15", Some(false), Some(true))
    rw.close()
  }

  test("session raw state and face cross the driver bound with batch and changelog parity") {
    // the same events feed a plain table (streaming path) and a PK table
    // (changelog cascade); a shrunken bound makes both overlays of both
    // MVs start with no base and cross into base plus overlay
    val dir = java.nio.file.Files.createTempDirectory("graft_tier_sess").toString
    val opts = ConnOptions(dataDir = Some(dir))
    var rw = GraftEngine.open(opts, Some(spark))
    rw.createTable("ts_plain", StructType(Seq(StructField("k", StringType),
      StructField("ts", TimestampType), StructField("v", LongType))))
    rw.createTable("ts_pk", StructType(Seq(StructField("id", LongType),
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    def stmt(t: String) =
      s"""SELECT window_start, window_end, k, count(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
         |FROM session($t, ts, interval '10 seconds')
         |GROUP BY window_start, window_end, k""".stripMargin
    val names = Seq("ts_plain" -> "ts_plain_mv", "ts_pk" -> "ts_pk_mv")
    def open(): Map[String, MaterializedView] = names.map { case (t, n) =>
      val mv = rw.mv(stmt(t), n)
      mv.cascadeLocalMax = 6
      mv.compactEvery = 2
      t -> mv
    }.toMap
    var mvs = open()
    assert(mvs("ts_plain").isStreamingMode && mvs("ts_plain").isSessionMode)
    assert(mvs("ts_pk").isChangelogCascadeMode && mvs("ts_pk").isSessionMode)
    def ts(sec: java.lang.Long) =
      if (sec == null) null else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    var nextId = 0L
    /** The same events into both tables; returns their PK ids. */
    def insert(rows: (String, java.lang.Long, Long)*): Seq[Long] = {
      rw.table("ts_plain").get.insert(rows.map { case (k, t, v) => Row(k, ts(t), v) })
      val ids = rows.map { _ => nextId += 1; nextId }
      rw.table("ts_pk").get.insert(rows.zip(ids).map { case ((k, t, v), id) =>
        Row(id, k, ts(t), v) })
      ids
    }

    /** Flush, then check both MVs against batch and their changelog
      * replay; `local` is the expected tier of the MVs over `fed` (None:
      * not checked). Returns the full epochs the barrier ran per table. */
    def step(tag: String, local: Option[Boolean],
        fed: Set[String] = names.map(_._1).toSet): Map[String, Long] = {
      val evals = mvs.map { case (t, m) => t -> m.statementEvals }
      val carried = mvs.map { case (t, m) => t -> m.overlayEpochs }
      val hadBase = mvs.map { case (t, m) => t -> !m.sessionSliceActive }
      rw.flush()
      mvs.foreach { case (t, mv) =>
        val face = norm(mv.df.collect().toSeq)
        assert(face == norm(rw.fetch(stmt(t))), s"$tag: $t face must equal batch")
        val sub = mv.subscription().declareCursor(Some(0L))
        val ops = Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.toSeq
        val replay = ops.foldLeft(Map.empty[String, Int]) { (acc, r) =>
          val k = norm(Seq(Row.fromSeq(r.toSeq.dropRight(2)))).head
          val d = r.getString(r.length - 2) match {
            case "Insert" | "UpdateInsert" => 1
            case "Delete" | "UpdateDelete" => -1
          }
          acc.updated(k, acc.getOrElse(k, 0) + d)
        }
        assert(replay.values.forall(_ >= 0), s"$tag: $t replay $replay")
        assert(replay.toSeq.flatMap { case (k, c) => Seq.fill(c)(k) }.sorted == face,
          s"$tag: $t changelog replay must equal the face")
        assert(mv.isSessionMode, s"$tag: $t must stay a session MV")
        local.filter(_ => fed(t)).foreach { l =>
          assert(mv.sessionSliceActive == l, s"$tag: $t tier")
          // over a base, every slice epoch carries through the overlays
          if (!l && hadBase(t) && mv.statementEvals == evals(t))
            assert(mv.overlayEpochs > carried(t), s"$tag: $t must carry over the base")
        }
      }
      mvs.map { case (t, m) => t -> (m.statementEvals - evals(t)) }
    }
    def noFullEpoch(tag: String, full: Map[String, Long]): Unit =
      assert(full.values.forall(_ == 0L), s"$tag: no full re-sessionize expected, ran $full")
    /** Durable close and reopen: both MVs restore without evaluating. */
    def reopen(): Unit = {
      rw.close()
      rw = GraftEngine.open(opts, Some(spark))
      mvs = open()
      assert(mvs.values.forall(_.statementEvals == 0L), "reopen must restore state")
    }

    // 1-3, no base: two sessions of a, one of b; then a late row older
    // than every session of b
    insert(("a", 0L, 1L), ("a", 5L, 2L), ("b", 100L, 3L))
    noFullEpoch("1", step("1", Some(true)))
    insert(("b", 50L, 4L))
    noFullEpoch("2 (late)", step("2 (late)", Some(true)))
    val a17 = insert(("a", 17L, 5L))
    noFullEpoch("3", step("3", Some(true)))
    // 4: the restored frames fit the bound and seed the no-base tier
    reopen()
    insert(("b", 105L, 6L))
    noFullEpoch("4 (reopened)", step("4 (reopened)", Some(true)))
    // 5: ten raw rows and seven sessions outgrow the bound
    insert(("c", 200L, 7L), ("c", 300L, 8L), ("c", 400L, 9L), ("c", 500L, 10L))
    noFullEpoch("5", step("5", Some(false)))
    // 6-7: a's [17, 27) session grows in the overlays; a row at 14 then
    // bridges it with the base session [0, 15)
    insert(("a", 20L, 11L))
    noFullEpoch("6", step("6", Some(false)))
    val bridge = insert(("a", 14L, 12L))
    noFullEpoch("7 (bridge)", step("7 (bridge)", Some(false)))
    assert(mvs("ts_pk").df.collect().exists(r =>
      r.getString(2) == "a" && r.getLong(3) == 5L), "7: the bridge must merge a's sessions")
    // 8: a late row older than every session of b, over the base
    insert(("b", 1L, 13L))
    noFullEpoch("8 (late)", step("8 (late)", Some(false)))
    // 9-10: a NULL event time refuses the slice epoch; the next epoch
    // re-bases on the full epoch's frame and carries again
    insert(("a", null, 14L))
    val refused = step("9 (NULL ts)", None)
    assert(refused.values.forall(_ == 1L), s"9: the NULL ts must take one full epoch, ran $refused")
    insert(("c", 305L, 15L))
    noFullEpoch("10", step("10", Some(false)))
    // 11-12, the cascade only: a delete splits the bridged session, and an
    // upsert moves a row's event time into another session
    rw.execute(s"DELETE FROM ts_pk WHERE id = ${bridge.head}")
    noFullEpoch("11 (split)", step("11 (split)", Some(false), Set("ts_pk")))
    rw.table("ts_pk").get.insert(Seq(Row(a17.head, "a", ts(310L), 5L)))
    noFullEpoch("12 (moved)", step("12 (moved)", Some(false), Set("ts_pk")))
    // 13: the restored frames are past the bound and become the bases
    reopen()
    insert(("c", 505L, 16L))
    noFullEpoch("13 (reopened)", step("13 (reopened)", Some(false)))
    rw.close()
  }
}

object TierBoundarySpec {
  /** One-shot failure switch for the window statement's `tb_trip` UDF. */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
