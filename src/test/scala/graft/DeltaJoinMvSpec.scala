package graft

import graft.engine._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Delta-join cascade: NON-aggregate multilinear MVs (projections /
  * filters / inner joins / UNION ALL) over changelog-emitting sources
  * maintain via signed delta joins — the classical IVM delta rule
  * Δ(A⋈B) = ΔA⋈B⁻ + A⁺⋈ΔB — instead of batch re-running per FLUSH.
  * The reference delegates these statements to its server's incremental
  * join maintainer (`risingwave/core.py:451-456` passthrough + the MV
  * contract `README.md:86-123`); here the per-term plans are ordinary
  * Catalyst joins with the delta side broadcast. */
class DeltaJoinMvSpec extends SparkSpec {

  private val evSchema = StructType(Seq(StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("value", DoubleType)))
  private val userSchema = StructType(Seq(StructField("uid", LongType),
    StructField("name", StringType)))

  private def joinRows(mv: MaterializedView): Set[(Long, String, Double)] =
    mv.df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("PK⋈PK inner join MV maintains via the delta-join cascade") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dj_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("dj_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM dj_ev e " +
      "JOIN dj_user u ON u.uid = e.user_id", "dj_mv")
    val mv = rw.mvByName("dj_mv").get
    assert(mv.isDeltaJoinMode, "non-agg join over PK tables must delta-join, not batch re-run")
    val ev = rw.table("dj_ev").get
    val us = rw.table("dj_user").get

    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    rw.flush()
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0), Row(12L, 9L, 1.0)))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "bob", 7.0)),
      "unmatched user_id=9 must not join")
    val evalsAfterBackfill = mv.statementEvals

    // late-arriving dimension row joins the previously-dangling event
    us.insert(Seq(Row(9L, "zoe")))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "bob", 7.0), (12L, "zoe", 1.0)))

    // upsert overwrite on the dimension side retracts the old joined row
    us.insert(Seq(Row(1L, "ANN")))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ANN", 5.0), (11L, "bob", 7.0), (12L, "zoe", 1.0)),
      "a PK overwrite must replace the joined row, not duplicate it")
    assert(mv.statementEvals == evalsAfterBackfill,
      "delta epochs must not re-evaluate the full statement")
    assert(mv.isDeltaJoinMode)
    rw.close()
  }

  test("DML retractions fold through the join without demotion") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djd_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djd_user", userSchema, primaryKey = Seq("uid"))
    val ev = rw.table("djd_ev").get
    val us = rw.table("djd_user").get
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0), Row(12L, 1L, 3.0)))
    rw.flush()
    rw.mv("SELECT e.event_id, u.name, e.value FROM djd_ev e " +
      "JOIN djd_user u ON u.uid = e.user_id", "djd_mv")
    val mv = rw.mvByName("djd_mv").get
    assert(mv.isDeltaJoinMode)

    rw.execute("DELETE FROM djd_ev WHERE value < 4")
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "bob", 7.0)),
      "a deleted fact row's join output must retract")
    assert(mv.isDeltaJoinMode, "DML must not demote a delta-join MV")

    rw.execute("UPDATE djd_user SET name = 'BOB' WHERE uid = 2")
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "BOB", 7.0)))
    rw.close()
  }

  test("both sides changing in one epoch uses the old-snapshot term correctly") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djb_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djb_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djb_ev e " +
      "JOIN djb_user u ON u.uid = e.user_id", "djb_mv")
    val mv = rw.mvByName("djb_mv").get
    assert(mv.isDeltaJoinMode)
    val ev = rw.table("djb_ev").get
    val us = rw.table("djb_user").get
    // a matching pair arrives on BOTH sides before one flush: the ΔA⋈ΔB
    // contribution must be counted exactly once (double-counting yields a
    // duplicate row; omission loses it)
    us.insert(Seq(Row(1L, "ann")))
    ev.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0)))
    // and a pair where one side simultaneously RETRACTS: overwrite user 1
    // while inserting another event for it
    us.insert(Seq(Row(1L, "ANN")))
    ev.insert(Seq(Row(11L, 1L, 6.0)))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ANN", 5.0), (11L, "ANN", 6.0)))
    rw.close()
  }

  test("duplicate rows keep multiset multiplicities through the fold") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    // no PK: duplicates legal; DML rewrite makes the table changelog-emitting
    rw.createTable("djm_ev", evSchema)
    rw.createTable("djm_user", userSchema, primaryKey = Seq("uid"))
    val ev = rw.table("djm_ev").get
    val us = rw.table("djm_user").get
    us.insert(Seq(Row(1L, "ann")))
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(10L, 1L, 5.0)))
    rw.flush()
    rw.mv("SELECT e.event_id, u.name, e.value FROM djm_ev e " +
      "JOIN djm_user u ON u.uid = e.user_id", "djm_mv")
    val mv = rw.mvByName("djm_mv").get
    assert(mv.isDeltaJoinMode,
      "a PK dimension side forces the cascade even with an append-only fact side")
    val rows = mv.df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.count(_ == (10L, "ann", 5.0)) == 2, s"expected duplicate pair, got ${rows.toSeq}")
    // a third identical copy arrives incrementally: multiplicity 2 → 3
    ev.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    assert(mv.df.collect()
      .count(r => (r.getLong(0), r.getString(1), r.getDouble(2)) == (10L, "ann", 5.0)) == 3)
    rw.close()
  }

  test("multiset ops stream: fold of the emitted changelog equals the snapshot") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djo_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djo_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djo_ev e " +
      "JOIN djo_user u ON u.uid = e.user_id", "djo_mv")
    val mv = rw.mvByName("djo_mv").get
    assert(mv.isDeltaJoinMode)
    val ev = rw.table("djo_ev").get
    val us = rw.table("djo_user").get
    val folded = scala.collection.mutable.ArrayBuffer[(String, (Long, String, Double))]()
    val sub = mv.subscription("djo_sub")
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    rw.flush()
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0)))
    rw.flush()
    us.insert(Seq(Row(1L, "ANN"))) // retraction epoch
    rw.flush()
    rw.execute("DELETE FROM djo_ev WHERE event_id = 11")
    rw.flush()
    var batch = sub.fetch(100)
    while (batch.nonEmpty) {
      batch.foreach { r =>
        folded += ((r.getString(r.fieldIndex("op")),
          (r.getLong(0), r.getString(1), r.getDouble(2))))
      }
      batch = sub.fetch(100)
    }
    val state = scala.collection.mutable.ArrayBuffer[(Long, String, Double)]()
    folded.foreach {
      case (op, row) if op == "Insert" || op == "UpdateInsert" => state += row
      case (_, row) =>
        val i = state.indexOf(row)
        assert(i >= 0, s"retraction of a row never inserted: $row")
        state.remove(i)
    }
    assert(state.toSet == joinRows(mv), "changelog fold must reconstruct the snapshot")
    assert(state.size == mv.df.count())
    sub.close()
    rw.close()
  }

  test("self-join is rejected (batch fallback stays correct)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djs_ev", evSchema, primaryKey = Seq("event_id"))
    val ev = rw.table("djs_ev").get
    ev.insert(Seq(Row(1L, 1L, 5.0), Row(2L, 1L, 7.0)))
    rw.flush()
    // self-join: the textual rebinding cannot address the two occurrences
    // independently — must fall back, and still be correct
    rw.mv("SELECT a.event_id, b.event_id AS other, a.value FROM djs_ev a " +
      "JOIN djs_ev b ON a.user_id = b.user_id AND a.event_id < b.event_id", "djs_self")
    val self = rw.mvByName("djs_self").get
    assert(!self.isDeltaJoinMode, "self-join must not delta-join")
    assert(self.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    rw.close()
  }

  test("filter/projection MV over a PK table folds the changelog (linear cascade)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djf_ev", evSchema, primaryKey = Seq("event_id"))
    val ev = rw.table("djf_ev").get
    ev.insert(Seq(Row(1L, 1L, 5.0), Row(2L, 2L, -1.0)))
    rw.flush()
    rw.mv("SELECT event_id, value * 2 AS v2 FROM djf_ev WHERE value > 0", "djf_mv")
    val mv = rw.mvByName("djf_mv").get
    assert(mv.isDeltaJoinMode, "single-table projection/filter over a PK table must fold")
    assert(mv.df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((1L, 10.0)))
    val evals = mv.statementEvals
    ev.insert(Seq(Row(2L, 2L, 3.0), Row(3L, 3L, 4.0))) // overwrite 2 into the filter
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 10.0), (2L, 6.0), (3L, 8.0)))
    rw.execute("DELETE FROM djf_ev WHERE event_id = 1")
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 6.0), (3L, 8.0)))
    assert(mv.statementEvals == evals, "folds must not re-evaluate the statement")
    assert(mv.isDeltaJoinMode)
    rw.close()
  }

  test("UNION ALL of two PK tables folds linearly") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dju_a", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("dju_b", evSchema, primaryKey = Seq("event_id"))
    rw.mv("SELECT event_id, value FROM dju_a UNION ALL SELECT event_id, value FROM dju_b",
      "dju_mv")
    val mv = rw.mvByName("dju_mv").get
    assert(mv.isDeltaJoinMode)
    rw.table("dju_a").get.insert(Seq(Row(1L, 1L, 1.0)))
    rw.table("dju_b").get.insert(Seq(Row(1L, 1L, 2.0)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.0), (1L, 2.0)))
    rw.table("dju_b").get.insert(Seq(Row(1L, 1L, 9.0))) // overwrite b's row
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.0), (1L, 9.0)))
    rw.close()
  }

  test("delta-join MV feeds a downstream aggregate cascade") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djc_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djc_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djc_ev e " +
      "JOIN djc_user u ON u.uid = e.user_id", "djc_join")
    rw.mv("SELECT name, count(*) AS n, sum(CAST(value AS DECIMAL(18,6))) AS sv " +
      "FROM djc_join GROUP BY name", "djc_agg")
    val jmv = rw.mvByName("djc_join").get
    val amv = rw.mvByName("djc_agg").get
    assert(jmv.isDeltaJoinMode)
    assert(amv.isChangelogCascadeMode,
      "a keyed aggregate over a delta-join MV must cascade on its changelog")
    val ev = rw.table("djc_ev").get
    val us = rw.table("djc_user").get
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    rw.flush()
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 1L, 3.0), Row(12L, 2L, 7.0)))
    rw.flush()
    val m1 = amv.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m1 == Map("ann" -> 2L, "bob" -> 1L))
    us.insert(Seq(Row(1L, "ANN"))) // rename retracts + reinserts both ann rows
    rw.flush()
    val m2 = amv.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m2 == Map("ANN" -> 2L, "bob" -> 1L), s"downstream saw $m2")
    rw.close()
  }

  test("delta epoch plan broadcasts the delta side (state side never shuffles)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djp_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djp_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djp_ev e " +
      "JOIN djp_user u ON u.uid = e.user_id", "djp_mv")
    val mv = rw.mvByName("djp_mv").get
    assert(mv.isDeltaJoinMode)
    rw.table("djp_user").get.insert(Seq(Row(1L, "ann")))
    rw.flush()
    rw.table("djp_ev").get.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    val plan = mv.lastJoinEpochPlan.getOrElse(
      fail("no delta epoch plan was recorded"))
    assert(plan.contains("strategy=broadcast"),
      s"the delta side must carry the broadcast hint:\n$plan")
    rw.close()
  }

  test("projection/filter over an AGGREGATING MV folds its changelog (no batch re-run)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djg_ev", evSchema)
    rw.mv("SELECT user_id, count(*) AS n, sum(CAST(value AS DECIMAL(18,6))) AS sv " +
      "FROM djg_ev GROUP BY user_id", "djg_agg")
    // a non-aggregate filter over an aggregating MV has no streaming face —
    // before the delta-join cascade it demoted to per-FLUSH batch re-run
    rw.mv("SELECT user_id, n FROM djg_agg WHERE n >= 2", "djg_filter")
    val fmv = rw.mvByName("djg_filter").get
    assert(fmv.isDeltaJoinMode,
      "filter over an aggregating MV must fold the upstream changelog")
    val t = rw.table("djg_ev").get
    t.insert(Seq(Row(1L, 1L, 1.0), Row(2L, 2L, 2.0)))
    rw.flush()
    assert(fmv.df.isEmpty, "no user has 2 events yet")
    t.insert(Seq(Row(3L, 1L, 3.0)))
    rw.flush()
    assert(fmv.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      "user 1 crosses the threshold — the upstream update folds through the filter")
    t.insert(Seq(Row(4L, 1L, 4.0), Row(5L, 2L, 5.0)))
    rw.flush()
    assert(fmv.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 3L), (2L, 2L)))
    rw.close()
  }

  test("non-equi (theta) inner join folds — the delta terms evaluate any condition") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djt_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djt_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.uid, e.value FROM djt_ev e " +
      "JOIN djt_user u ON e.value > CAST(u.uid AS DOUBLE)", "djt_mv")
    val mv = rw.mvByName("djt_mv").get
    assert(mv.isDeltaJoinMode, "theta joins are multilinear — must fold")
    rw.table("djt_user").get.insert(Seq(Row(1L, "a"), Row(5L, "b")))
    rw.flush()
    rw.table("djt_ev").get.insert(Seq(Row(10L, 0L, 3.0), Row(11L, 0L, 7.0)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 1L), (11L, 1L), (11L, 5L)))
    // overwrite event 11 below both thresholds: its two joined rows retract
    rw.table("djt_ev").get.insert(Seq(Row(11L, 0L, 0.5)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 1L)))
    rw.close()
  }

  test("durable snapshot: delta-join MV reopens with zero evals and zero replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_djdur").toString
    val rw1 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw1.createTable("djr_ev", evSchema, primaryKey = Seq("event_id"))
    rw1.createTable("djr_user", userSchema, primaryKey = Seq("uid"))
    rw1.mv("SELECT e.event_id, u.name, e.value FROM djr_ev e " +
      "JOIN djr_user u ON u.uid = e.user_id", "djr_mv")
    rw1.table("djr_user").get.insert(Seq(Row(1L, "ann")))
    rw1.table("djr_ev").get.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 1L, 3.0)))
    rw1.flush()
    rw1.close()

    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw2.mv("SELECT e.event_id, u.name, e.value FROM djr_ev e " +
      "JOIN djr_user u ON u.uid = e.user_id", "djr_mv")
    val mv = rw2.mvByName("djr_mv").get
    assert(mv.isDeltaJoinMode)
    assert(mv.statementEvals == 0L, "reopen must restore state without evaluating")
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "ann", 3.0)))
    // maintenance resumes from the restored offsets
    rw2.table("djr_user").get.insert(Seq(Row(1L, "ANN")))
    rw2.flush()
    assert(joinRows(mv) == Set((10L, "ANN", 5.0), (11L, "ANN", 3.0)))
    assert(mv.statementEvals == 0L)
    rw2.close()
  }

  test("LEFT outer join MV maintains incrementally; late dims upgrade null-padded rows") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djl_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djl_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djl_ev e " +
      "LEFT JOIN djl_user u ON u.uid = e.user_id", "djl_mv")
    val mv = rw.mvByName("djl_mv").get
    assert(mv.isDeltaJoinMode,
      "LEFT-join enrichment MV must delta-join, not batch re-run (round 10)")
    val ev = rw.table("djl_ev").get
    val us = rw.table("djl_user").get
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0)))
    rw.flush()
    assert(joinRows(mv) == Set((10L, null, 5.0), (11L, null, 7.0)),
      "facts with no dim yet must surface null-padded")
    val evalsAfterBackfill = mv.statementEvals

    // late-arriving dim: the null-padded row UPGRADES (0→1 match) — the
    // retraction pair the plain delta rebinding can never derive
    us.insert(Seq(Row(1L, "ann")))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, null, 7.0)))

    // both sides in one epoch: new fact + the dim that matches it
    us.insert(Seq(Row(2L, "bob")))
    ev.insert(Seq(Row(12L, 9L, 1.0)))
    rw.flush()
    assert(joinRows(mv) ==
      Set((10L, "ann", 5.0), (11L, "bob", 7.0), (12L, null, 1.0)))

    // dim upsert overwrite: joined row replaced, padding untouched
    us.insert(Seq(Row(1L, "ANN")))
    rw.flush()
    assert(joinRows(mv) ==
      Set((10L, "ANN", 5.0), (11L, "bob", 7.0), (12L, null, 1.0)))

    // dim retraction: the joined row DOWNGRADES back to null-padded (1→0)
    rw.execute("DELETE FROM djl_user WHERE uid = 1")
    rw.flush()
    assert(joinRows(mv) ==
      Set((10L, null, 5.0), (11L, "bob", 7.0), (12L, null, 1.0)))
    assert(mv.statementEvals == evalsAfterBackfill,
      "outer-join delta epochs must not re-evaluate the full statement")
    assert(mv.isDeltaJoinMode)
    rw.close()
  }

  test("outer-side fan-out: match counts 0↔1↔2 fold exactly through a LEFT join") {
    val tagSchema = StructType(Seq(StructField("uid", LongType),
      StructField("tag", StringType)))
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djfo_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djfo_tag", tagSchema) // no PK: fan-out joins legal
    rw.mv("SELECT e.event_id, t.tag, e.value FROM djfo_ev e " +
      "LEFT JOIN djfo_tag t ON t.uid = e.user_id", "djfo_mv")
    val mv = rw.mvByName("djfo_mv").get
    assert(mv.isDeltaJoinMode)
    val ev = rw.table("djfo_ev").get
    val tg = rw.table("djfo_tag").get
    ev.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    assert(joinRows(mv) == Set((10L, null, 5.0)))
    tg.insert(Seq(Row(1L, "a")))
    rw.flush() // 0 → 1: padding retracts, joined row appears
    assert(joinRows(mv) == Set((10L, "a", 5.0)))
    tg.insert(Seq(Row(1L, "b")))
    rw.flush() // 1 → 2: second match adds WITHOUT re-padding games
    assert(joinRows(mv) == Set((10L, "a", 5.0), (10L, "b", 5.0)))
    rw.execute("DELETE FROM djfo_tag WHERE tag = 'b'")
    rw.flush() // 2 → 1: only the deleted match retracts
    assert(joinRows(mv) == Set((10L, "a", 5.0)))
    rw.execute("DELETE FROM djfo_tag WHERE tag = 'a'")
    rw.flush() // 1 → 0: the padding row comes back
    assert(joinRows(mv) == Set((10L, null, 5.0)))
    assert(mv.isDeltaJoinMode, "DML on the outer side must not demote")
    rw.close()
  }

  test("RIGHT outer join mirrors: nonlinear side is the LEFT subtree") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djr2_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djr2_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djr2_user u " +
      "RIGHT JOIN djr2_ev e ON u.uid = e.user_id", "djr2_mv")
    val mv = rw.mvByName("djr2_mv").get
    assert(mv.isDeltaJoinMode)
    val ev = rw.table("djr2_ev").get
    val us = rw.table("djr2_user").get
    ev.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    assert(joinRows(mv) == Set((10L, null, 5.0)))
    us.insert(Seq(Row(1L, "ann")))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0)))
    rw.execute("DELETE FROM djr2_user WHERE uid = 1")
    rw.flush()
    assert(joinRows(mv) == Set((10L, null, 5.0)))
    assert(mv.isDeltaJoinMode)
    rw.close()
  }

  test("outer-side delta epoch plan: LeftSemi restriction with a broadcast probe") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djlp_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djlp_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djlp_ev e " +
      "LEFT JOIN djlp_user u ON u.uid = e.user_id", "djlp_mv")
    val mv = rw.mvByName("djlp_mv").get
    assert(mv.isDeltaJoinMode)
    rw.table("djlp_ev").get.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    // dim-side delta → the restricted-difference term runs and records
    rw.table("djlp_user").get.insert(Seq(Row(1L, "ann")))
    rw.flush()
    assert(joinRows(mv) == Set((10L, "ann", 5.0)))
    val plan = mv.lastOuterTermPlan.getOrElse(
      fail("no restricted-difference term plan was recorded"))
    assert(plan.contains("LeftSemi"),
      s"the linear side must be restricted by a semi join:\n$plan")
    assert(plan.contains("strategy=broadcast"),
      s"the restriction probe must broadcast (linear side never shuffles):\n$plan")
    rw.close()
  }

  test("static-only subquery filters keep the fold; live-table subqueries fall back") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      java.util.List.of[Row](Row(1L), Row(3L)),
      StructType(Seq(StructField("uid", LongType))))
      .createOrReplaceTempView("djsq_dim") // static — no changelog
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djsq_ev", evSchema, primaryKey = Seq("event_id"))
    rw.mv("SELECT event_id, user_id, value FROM djsq_ev " +
      "WHERE user_id IN (SELECT uid FROM djsq_dim)", "djsq_mv")
    val mv = rw.mvByName("djsq_mv").get
    assert(mv.isDeltaJoinMode,
      "a subquery over ONLY static relations is linear in the live source (round 10)")
    val ev = rw.table("djsq_ev").get
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0), Row(12L, 3L, 9.0)))
    rw.flush()
    def rows = mv.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((10L, 1L), (12L, 3L)), "the IN predicate must filter")
    rw.execute("DELETE FROM djsq_ev WHERE event_id = 10")
    rw.flush()
    assert(rows == Set((12L, 3L)))
    assert(mv.isDeltaJoinMode)

    // the same predicate over a LIVE table (round 11): the dim folds as a
    // PLAIN difference term — a membership flip retracts/installs exactly
    // the outer rows whose predicate result changed — while the outer
    // source keeps its delta-proportional terms
    rw.createTable("djsq_live", StructType(Seq(StructField("uid", LongType),
      StructField("x", LongType))), primaryKey = Seq("uid"))
    rw.table("djsq_live").get.insert(Seq(Row(3L, 0L)))
    rw.flush()
    rw.mv("SELECT event_id, user_id, value FROM djsq_ev " +
      "WHERE user_id IN (SELECT uid FROM djsq_live)", "djsq_mv2")
    val mv2 = rw.mvByName("djsq_mv2").get
    assert(mv2.isDeltaJoinMode,
      "a live-table subquery must admit as a plain-difference source (round 11)")
    def rows2 = mv2.df.collect().map(_.getLong(0)).toSet
    assert(rows2 == Set(12L))
    val evalsAfterBackfill = mv2.statementEvals
    // membership GAINED: user 2's events enter without touching djsq_ev
    rw.table("djsq_live").get.insert(Seq(Row(2L, 0L)))
    rw.flush()
    assert(rows2 == Set(11L, 12L), "a dim insert must install matching outer rows")
    // outer-side delta with the live subquery bound current
    rw.table("djsq_ev").get.insert(Seq(Row(13L, 2L, 1.0), Row(14L, 9L, 1.0)))
    rw.flush()
    assert(rows2 == Set(11L, 12L, 13L))
    // membership LOST: predicate flips back, rows retract
    rw.execute("DELETE FROM djsq_live WHERE uid = 2")
    rw.flush()
    assert(rows2 == Set(12L), "a dim delete must retract the rows it admitted")
    assert(mv2.statementEvals == evalsAfterBackfill,
      "subquery-fold epochs run difference terms, not counted statement re-runs")
    assert(mv2.isDeltaJoinMode, "membership flips must not demote the fold")
    rw.close()
  }

  test("LEFT SEMI / LEFT ANTI joins fold; membership flips track dim changes") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djsa_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djsa_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, e.value FROM djsa_ev e " +
      "LEFT SEMI JOIN djsa_user u ON u.uid = e.user_id", "djsa_semi")
    rw.mv("SELECT e.event_id, e.value FROM djsa_ev e " +
      "LEFT ANTI JOIN djsa_user u ON u.uid = e.user_id", "djsa_anti")
    val semi = rw.mvByName("djsa_semi").get
    val anti = rw.mvByName("djsa_anti").get
    assert(semi.isDeltaJoinMode, "semi join is linear in its left side — must fold")
    assert(anti.isDeltaJoinMode, "anti join is linear in its left side — must fold")
    def ids(mv: MaterializedView): Set[Long] =
      mv.df.collect().map(_.getLong(0)).toSet
    val ev = rw.table("djsa_ev").get
    val us = rw.table("djsa_user").get
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0)))
    rw.flush()
    assert(ids(semi) == Set.empty[Long] && ids(anti) == Set(10L, 11L))
    // membership flips on a dim-side delta — the restricted-difference term
    us.insert(Seq(Row(1L, "ann")))
    rw.flush()
    assert(ids(semi) == Set(10L) && ids(anti) == Set(11L))
    // both sides changing in one epoch; a new unmatched fact pads the anti
    us.insert(Seq(Row(2L, "bob")))
    ev.insert(Seq(Row(12L, 9L, 1.0)))
    rw.flush()
    assert(ids(semi) == Set(10L, 11L) && ids(anti) == Set(12L))
    rw.execute("DELETE FROM djsa_user WHERE uid = 1")
    rw.flush()
    assert(ids(semi) == Set(11L) && ids(anti) == Set(10L, 12L))
    assert(semi.isDeltaJoinMode && anti.isDeltaJoinMode)
    rw.close()
  }

  test("FULL outer join folds: both sides nonlinear, padding flips both ways") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djo_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djo_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djo_ev e " +
      "FULL OUTER JOIN djo_user u ON u.uid = e.user_id", "djo_mv")
    val mv = rw.mvByName("djo_mv").get
    assert(mv.isDeltaJoinMode,
      "FULL outer folds via both-side restricted-difference terms (round 11)")
    def rows = mv.df.collect().map(r => (
      if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    val ev = rw.table("djo_ev").get
    val us = rw.table("djo_user").get
    ev.insert(Seq(Row(10L, 1L, 5.0)))
    us.insert(Seq(Row(2L, "bob")))
    rw.flush()
    assert(rows == Set((10L, null, 5.0), (-1L, "bob", -1.0)),
      "both sides must pad when unmatched")
    val evalsAfterBackfill = mv.statementEvals
    // left-side padding upgrades when its dim arrives; bob stays padded
    us.insert(Seq(Row(1L, "ann")))
    rw.flush()
    assert(rows == Set((10L, "ann", 5.0), (-1L, "bob", -1.0)))
    // right-side padding upgrades when a matching fact arrives
    ev.insert(Seq(Row(11L, 2L, 7.0)))
    rw.flush()
    assert(rows == Set((10L, "ann", 5.0), (11L, "bob", 7.0)))
    // dim delete downgrades its fact row back to left-padding AND must not
    // resurrect a right-padded row for remaining matches
    rw.execute("DELETE FROM djo_user WHERE uid = 1")
    rw.flush()
    assert(rows == Set((10L, null, 5.0), (11L, "bob", 7.0)))
    // fact delete downgrades to right-padding
    rw.execute("DELETE FROM djo_ev WHERE event_id = 11")
    rw.flush()
    assert(rows == Set((10L, null, 5.0), (-1L, "bob", -1.0)))
    assert(mv.statementEvals == evalsAfterBackfill,
      "FULL-outer delta epochs must not re-evaluate the full statement")
    assert(mv.isDeltaJoinMode, "DML must not demote the FULL-outer fold")
    rw.close()
  }

  test("multi-LEFT-join enrichment folds: each dim transitions 0↔1↔2 independently") {
    val tagSchema = StructType(Seq(StructField("uid", LongType),
      StructField("tag", StringType)))
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djm_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djm_user", userSchema, primaryKey = Seq("uid"))
    rw.createTable("djm_tag", tagSchema) // no PK: fan-out legal
    // the most common enrichment statement: fact LEFT dim1 LEFT dim2 —
    // round 10 kept this on per-FLUSH batch re-run (single-outer
    // admission); round 11 folds every outer join's restricted-difference
    // term independently
    rw.mv("SELECT e.event_id, u.name, t.tag, e.value FROM djm_ev e " +
      "LEFT JOIN djm_user u ON u.uid = e.user_id " +
      "LEFT JOIN djm_tag t ON t.uid = e.user_id", "djm_mv")
    val mv = rw.mvByName("djm_mv").get
    assert(mv.isDeltaJoinMode,
      "multi-LEFT-join enrichment must fold (round 11)")
    def rows = mv.df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getDouble(3))).toSet
    val ev = rw.table("djm_ev").get
    val us = rw.table("djm_user").get
    val tg = rw.table("djm_tag").get
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0)))
    rw.flush()
    assert(rows == Set((10L, null, null, 5.0), (11L, null, null, 7.0)),
      "facts pad on BOTH dims until they arrive")
    val evalsAfterBackfill = mv.statementEvals
    // dim1 arrives for fact 10: its u-slot upgrades, t stays padded
    us.insert(Seq(Row(1L, "ann")))
    rw.flush()
    assert(rows == Set((10L, "ann", null, 5.0), (11L, null, null, 7.0)))
    // dim2 fan-out 0→1→2 on fact 10 while dim1 holds
    tg.insert(Seq(Row(1L, "x")))
    rw.flush()
    assert(rows == Set((10L, "ann", "x", 5.0), (11L, null, null, 7.0)))
    tg.insert(Seq(Row(1L, "y")))
    rw.flush()
    assert(rows == Set((10L, "ann", "x", 5.0), (10L, "ann", "y", 5.0),
      (11L, null, null, 7.0)))
    // BOTH dims and the fact change in one epoch
    us.insert(Seq(Row(2L, "bob")))
    tg.insert(Seq(Row(2L, "z")))
    ev.insert(Seq(Row(12L, 9L, 1.0)))
    rw.flush()
    assert(rows == Set((10L, "ann", "x", 5.0), (10L, "ann", "y", 5.0),
      (11L, "bob", "z", 7.0), (12L, null, null, 1.0)))
    // dim2 2→1→0 on fact 10; dim1 retraction downgrades only the u slot
    rw.execute("DELETE FROM djm_tag WHERE tag = 'y'")
    rw.flush()
    assert(rows == Set((10L, "ann", "x", 5.0), (11L, "bob", "z", 7.0),
      (12L, null, null, 1.0)))
    rw.execute("DELETE FROM djm_tag WHERE tag = 'x'")
    rw.execute("DELETE FROM djm_user WHERE uid = 1")
    rw.flush()
    assert(rows == Set((10L, null, null, 5.0), (11L, "bob", "z", 7.0),
      (12L, null, null, 1.0)))
    assert(mv.statementEvals == evalsAfterBackfill,
      "multi-outer delta epochs must not re-evaluate the full statement")
    assert(mv.isDeltaJoinMode, "DML must not demote the multi-outer fold")
    rw.close()
  }

  test("insert + same-row update between refreshes leaves no phantom in the OLD snapshot") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djph_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djph_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djph_ev e " +
      "JOIN djph_user u ON u.uid = e.user_id", "djph_mv")
    val mv = rw.mvByName("djph_mv").get
    assert(mv.isDeltaJoinMode)
    val ev = rw.table("djph_ev").get
    val us = rw.table("djph_user").get
    us.insert(Seq(Row(1L, "ann")))
    ev.insert(Seq(Row(10L, 1L, 5.0)))
    rw.flush()
    // between refreshes user 5 is inserted AND updated: the DML mutate
    // first emits the buffered Insert(5,'eve'), then the UpdateDelete/
    // UpdateInsert pair — so the consumed window holds (5,'eve') on BOTH
    // the insert and delete side. The fact side changes too, so the epoch
    // reconstructs the user table's OLD snapshot; a saturating
    // (current ⊖ Δ⁺ ⊎ Δ⁻) reconstruction would contain a phantom
    // (5,'eve') row and the new fact would join it, leaking an extra
    // output row that no batch evaluation ever produces.
    us.insert(Seq(Row(5L, "eve")))
    rw.execute("UPDATE djph_user SET name = 'EVE' WHERE uid = 5")
    // same shape on the fact side (insert + same-row update in one window),
    // so WHICHEVER source the telescoping reconstructs as OLD exposes a
    // phantom if the window is not netted first
    ev.insert(Seq(Row(20L, 5L, 9.0), Row(21L, 5L, 2.0)))
    rw.execute("UPDATE djph_ev SET value = 2.5 WHERE event_id = 21")
    rw.flush()
    assert(joinRows(mv) ==
      Set((10L, "ann", 5.0), (20L, "EVE", 9.0), (21L, "EVE", 2.5)),
      "OLD-snapshot reconstruction must net the window per distinct row")
    assert(mv.isDeltaJoinMode)
    rw.close()
  }

  test("grouped join state rides the driver map tier (round 14)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djl_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djl_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djl_ev e " +
      "JOIN djl_user u ON u.uid = e.user_id", "djl_mv")
    val mv = rw.mvByName("djl_mv").get
    assert(mv.isDeltaJoinMode)
    val ev = rw.table("djl_ev").get
    val us = rw.table("djl_user").get
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    rw.flush()
    assert(mv.joinStateIsLocal,
      "a bounded binary-free grouped state must seed the overlay at backfill")
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0)))
    rw.flush()
    assert(mv.joinStateIsLocal, "delta epochs must keep the state driver-resident")
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "bob", 7.0)))
    // retraction folds through the overlay by point arithmetic
    rw.execute("DELETE FROM djl_ev WHERE event_id = 10")
    rw.flush()
    assert(joinRows(mv) == Set((11L, "bob", 7.0)))
    assert(mv.joinStateIsLocal)
    rw.close()
  }

  test("join state outgrowing the local bound latches to the distributed tier") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djo_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djo_user", userSchema, primaryKey = Seq("uid"))
    rw.mv("SELECT e.event_id, u.name, e.value FROM djo_ev e " +
      "JOIN djo_user u ON u.uid = e.user_id", "djo_bound_mv")
    val mv = rw.mvByName("djo_bound_mv").get
    assert(mv.isDeltaJoinMode)
    mv.cascadeLocalMax = 3 // shrink the bound: the fold must outgrow it
    val ev = rw.table("djo_ev").get
    val us = rw.table("djo_user").get
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    ev.insert(Seq(Row(10L, 1L, 5.0), Row(11L, 2L, 7.0)))
    rw.flush()
    assert(mv.joinStateIsLocal, "state of 2 rows fits the shrunken bound")
    // push the state past the bound mid-fold (a 6-row net is oversized
    // too): the merge must checkpoint a CONSISTENT flat frame
    ev.insert((20L to 25L).map(i => Row(i, 1L, i.toDouble)))
    rw.flush()
    assert(!mv.joinStateIsLocal, "outgrowing the bound must leave the driver")
    val expected = Set((11L, "bob", 7.0), (10L, "ann", 5.0)) ++
      (20L to 25L).map(i => (i, "ann", i.toDouble))
    assert(joinRows(mv) == expected, "the handed-off frame must be consistent")
    // shrinking back below the bound keeps the state over its base: only
    // a re-localizing probe (backfill, recompute, restore) drops the base
    rw.execute("DELETE FROM djo_ev WHERE event_id >= 20")
    rw.flush()
    assert(!mv.joinStateIsLocal, "the base stays once the state outgrew the bound")
    assert(joinRows(mv) == Set((10L, "ann", 5.0), (11L, "bob", 7.0)),
      "the distributed tier must keep folding correctly after the latch")
    assert(mv.isDeltaJoinMode, "no demotion anywhere in the hand-off")
    rw.close()
  }

  test("grouped join state past its driver bound carries at constant depth") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("djc_ev", evSchema, primaryKey = Seq("event_id"))
    rw.createTable("djc_user", userSchema, primaryKey = Seq("uid"))
    val ev = rw.table("djc_ev").get
    val us = rw.table("djc_user").get
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    ev.insert(Seq(Row(1L, 1L, 1.0), Row(2L, 1L, 1.0), Row(3L, 2L, 2.0)))
    rw.flush()
    // the output drops the PK, so equal rows repeat (multiplicity > 1),
    // and events of unknown users are NULL-padded
    val sql = "SELECT u.name, e.value FROM djc_ev e LEFT JOIN djc_user u ON u.uid = e.user_id"
    val mv = rw.mv(sql, "djc_mv")
    assert(mv.isDeltaJoinMode)
    val evals = mv.statementEvals
    // every net below has at most 5 rows and two epochs touch at most 5
    // keys: the state carries with no base for two barriers, outgrows the
    // bound at the third and checkpoints flat, then carries over a base
    // and flattens again after the 5th and 7th
    mv.cascadeLocalMax = 5
    mv.compactEvery = 2
    val sub = mv.subscription().declareCursor(Some(0L))
    val ops = scala.collection.mutable.ArrayBuffer[Row]()
    def rows(rs: Seq[Row]): Seq[(Option[String], Double)] =
      rs.map(r => (Option(r.getString(0)), r.getDouble(1))).sortBy(_.toString)
    def barrier(step: Int, overlayEpochs: Long, local: Boolean): Unit = {
      rw.flush()
      val face = rows(mv.df.collect().toSeq)
      assert(face == rows(rw.fetch(sql)), s"barrier $step: face must equal batch")
      ops ++= Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten
      val replay = ops.foldLeft(Map.empty[Row, Int]) { (acc, r) =>
        val row = Row.fromSeq(r.toSeq.take(2))
        val d = r.getString(2) match {
          case "Insert" | "UpdateInsert" => 1
          case "Delete" | "UpdateDelete" => -1
        }
        acc.updated(row, acc.getOrElse(row, 0) + d)
      }
      assert(replay.values.forall(_ >= 0), s"barrier $step: replay $replay")
      assert(rows(replay.toSeq.flatMap { case (r, c) => Seq.fill(c)(r) }) == face,
        s"barrier $step: changelog replay must equal the face")
      assert(mv.overlayEpochs == overlayEpochs, s"barrier $step: overlay epochs")
      assert(mv.joinStateIsLocal == local && mv.isDeltaJoinMode, s"barrier $step")
    }
    // 1-2, no base: (bob, 2.0) vanishes and comes back inside one overlay
    // window, and a revisited (ann, 1.0) reaches 3
    rw.execute("DELETE FROM djc_ev WHERE event_id = 3")
    barrier(1, 0, local = true)
    ev.insert(Seq(Row(13L, 2L, 2.0), Row(14L, 1L, 1.0)))
    barrier(2, 0, local = true)
    // 3: NULL-padded and repeated rows push the state to 6 rows: flat
    ev.insert(Seq(Row(4L, 9L, 3.0), Row(5L, 9L, 3.0), Row(6L, 2L, 4.0),
      Row(7L, 1L, 5.0), Row(8L, 2L, 6.0)))
    barrier(3, 0, local = false)
    // 4: retract (bob, 2.0), held only in the base (probed); the late user
    // 9 turns both NULL-padded rows into named ones; (ann, 5.0) vanishes
    rw.execute("DELETE FROM djc_ev WHERE event_id IN (13, 7)")
    us.insert(Seq(Row(9L, "zed")))
    barrier(4, 1, local = false)
    // 5: (ann, 5.0) comes back inside the same overlay window (its
    // vanished value, not the base's, is current); (ann, 1.0) reaches 4
    ev.insert(Seq(Row(9L, 1L, 5.0), Row(10L, 1L, 1.0)))
    barrier(5, 2, local = false)
    // 6: an update moves one (ann, 1.0); dropping user 9 NULL-pads again
    rw.execute("UPDATE djc_ev SET value = 7.0 WHERE event_id = 1")
    rw.execute("DELETE FROM djc_user WHERE uid = 9")
    barrier(6, 3, local = false)
    // 7: a third NULL-padded (NULL, 3.0)
    ev.insert(Seq(Row(11L, 9L, 3.0), Row(12L, 2L, 8.0)))
    barrier(7, 4, local = false)
    // 8: retract base rows
    rw.execute("DELETE FROM djc_ev WHERE event_id IN (1, 2)")
    barrier(8, 5, local = false)
    assert(rows(mv.df.collect().toSeq) == rows(Seq(
      Row(null, 3.0), Row(null, 3.0), Row(null, 3.0), Row("bob", 4.0), Row("bob", 6.0),
      Row("ann", 5.0), Row("ann", 1.0), Row("ann", 1.0), Row("bob", 8.0))))
    assert(mv.statementEvals == evals, "no epoch may fall back to a recompute")
    rw.close()
  }
}
