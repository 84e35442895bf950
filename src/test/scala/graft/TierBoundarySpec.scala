package graft

import graft.engine.{ConnOptions, GraftEngine, MaterializedView}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The delta-agg fold and the window cascade carry their state in one
  * `CarriedOverlay` on both sides of the driver bound. With the bound cut
  * to a few rows, a pure-signed aggregate (long and decimal sums, a
  * NULL-sum group), a float-tier aggregate (double sums), a decimal
  * aggregate that overflows and a window rank start in the overlay's
  * no-base tier and cross into base plus overlay. The steps cover, on
  * both sides of the bound, a group that vanishes and returns, a durable
  * close and reopen (the restored state seeds the no-base tier or becomes
  * the base) and an injected window-epoch failure (full-recompute repair,
  * whose frame the next epoch seeds from), then a decimal overflow that
  * demotes its fold to recompute. After every
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
}

object TierBoundarySpec {
  /** One-shot failure switch for the window statement's `tb_trip` UDF. */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
