package graft

import graft.engine.{ConnOptions, Dialect, GraftEngine}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Streaming session-window MVs (round-4 verdict item 4): the `session()`
  * TVF maps to Spark's `session_window`, maintained by the dedicated
  * session path — raw rows stream in append mode, the carried state
  * re-sessionizes per epoch, and the changelog expresses session MERGES as
  * Delete+Insert (what neither append nor update output modes can carry). */
class SessionMvSpec extends SparkSpec {

  private def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  test("session TVF rewrites to session_window with stable column names") {
    val in = "SELECT window_start, window_end, k, count(*) AS n " +
      "FROM session(t, ts, interval '5 minutes') GROUP BY window_start, window_end, k"
    val out = Dialect.rewriteSession(in)
    assert(out.contains("session_window(ts, '5 minutes')"), out)
    assert(out.contains("session_window.start AS window_start"), out)
    assert(out.contains("session_window.end AS window_end"), out)
    assert(!out.contains("FROM session("), out)
    // window_end grouping term drops (it names the same session)
    assert("(?i)GROUP BY\\s+session_window\\(ts, '5 minutes'\\),\\s*k".r
      .findFirstIn(out).nonEmpty, out)
  }

  test("session MV streams; a bridging row MERGES sessions (Delete+Insert ops)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sess_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sess_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "sess_mv")
    assert(m.isStreamingMode && m.isSessionMode,
      "session MV must take the dedicated streaming session path")

    val t = rw.table("sess_t").get
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(15), 2.0)))
    rw.flush()
    def state() = m.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond,
       r.getTimestamp(1).toInstant.getEpochSecond, r.getString(2), r.getLong(3))).toSet
    // gap 15 >= 10 → two separate single-row sessions [0,10) and [15,25)
    assert(state() == Set((0L, 10L, "a", 1L), (15L, 25L, "a", 1L)))

    // a bridging row at t=7 chains 0→7 (gap 7) and 7→15 (gap 8): ONE
    // merged session [0,25) — the two old sessions must retract
    t.insert(Seq(Row("a", ts(7), 3.0)))
    rw.flush()
    assert(state() == Set((0L, 25L, "a", 3L)))
    assert(m.isSessionMode, "mode must survive epochs")

    val sub = m.subscription().declareCursor(Some(0L))
    val ops = Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.toSeq
      .map(r => r.getString(r.length - 2))
    assert(ops.count(_ == "Delete") == 2 && ops.count(_ == "Insert") == 3,
      s"merge must retract both absorbed sessions and insert the merged one, got $ops")
    rw.close()
  }

  test("gap spellings intervalMillis rejects ('1 week') do not demote the session mode") {
    // Spark's session_window parses '1 week'; Dialect.intervalMillis does
    // not — the gap probe must degrade to gapUs=0 (slice tier off), not
    // abort mode admission into the per-flush batch fallback
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sessg_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sessg_t, ts, interval '1 week')
        |GROUP BY window_start, window_end, k""".stripMargin, "sessg_mv")
    assert(m.isStreamingMode && m.isSessionMode,
      "an unparsable-but-Spark-valid gap must keep the streaming session path")
    val t = rw.table("sessg_t").get
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(3600), 2.0),
      Row("b", ts(10 * 86400), 1.0)))
    rw.flush()
    val got = m.df.collect().map(r => (r.getString(2), r.getLong(3))).toSet
    assert(got == Set(("a", 2L), ("b", 1L)), s"got $got")
    assert(m.isSessionMode, "mode must survive the epoch")
    rw.close()
  }

  test("watermarked session MV freezes closed sessions and prunes raw state") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sessw_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sessw_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "sessw_mv",
      watermarks = Map("sessw_t" -> ("ts", "0 seconds")))
    assert(m.isSessionMode)
    val t = rw.table("sessw_t").get
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(5), 1.0)))
    rw.flush()
    t.insert(Seq(Row("a", ts(1000), 1.0)))
    rw.flush()
    t.insert(Seq(Row("a", ts(2000), 1.0)))
    rw.flush()
    // the watermark lags one epoch (compaction reads the last COMPLETED
    // batch's progress), so a fourth epoch observes wm >= 1000 s and
    // freezes the [0,15) session, pruning its raw rows
    t.insert(Seq(Row("a", ts(3000), 1.0)))
    rw.flush()
    val (raw, froz) = m.sessionStateCounts
    assert(froz >= 1, s"expected >=1 frozen session, got ($raw, $froz)")
    assert(raw <= 3, s"raw state must shrink to open-session rows, got ($raw, $froz)")
    // the visible state still equals full batch sessionization
    val st = m.df.collect().map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
      r.getTimestamp(1).toInstant.getEpochSecond, r.getString(2), r.getLong(3))).toSet
    assert(st == Set((0L, 15L, "a", 2L), (1000L, 1010L, "a", 1L),
      (2000L, 2010L, "a", 1L), (3000L, 3010L, "a", 1L)))
    rw.close()
  }

  test("per-key compaction freezes a closed session behind a cross-key straddler; late rows drop") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sessk_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sessk_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "sessk_mv",
      watermarks = Map("sessk_t" -> ("ts", "0 seconds")))
    assert(m.isSessionMode)
    val t = rw.table("sessk_t").get
    // key a closes [0,15); key b opens [10, …) STRADDLING a's end — a
    // global no-straddle chain scan could never freeze a while b stays
    // open, but keyed sessions are independent: per-key compaction must
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(5), 1.0), Row("b", ts(10), 1.0)))
    rw.flush()
    t.insert(Seq(Row("b", ts(19), 1.0))) // b extends; wm will pass a's end
    rw.flush()
    t.insert(Seq(Row("b", ts(28), 1.0))) // b's session now [10,38), still open
    rw.flush()
    // the watermark lags one epoch — a fourth epoch observes wm = 19 ≥ 15
    t.insert(Seq(Row("b", ts(37), 1.0))) // gap 9 < 10: still ONE open b session
    rw.flush()
    val (raw, froz) = m.sessionStateCounts
    assert(froz == 1, s"a's closed session must freeze despite b straddling it, got ($raw, $froz)")
    assert(raw == 4, s"a's raw rows must retire; b's stay, got ($raw, $froz)")
    def state() = m.df.collect().map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
      r.getTimestamp(1).toInstant.getEpochSecond, r.getString(2), r.getLong(3))).toSet
    assert(state() == Set((0L, 15L, "a", 2L), (10L, 47L, "b", 4L)))

    // a LATE row under a's cut (15): un-gated it would re-sessionize into
    // [3,13) — overlapping the frozen [0,15) — or merge into it; the delta
    // gate must drop it and leave the snapshot byte-identical
    t.insert(Seq(Row("a", ts(3), 1.0)))
    rw.flush()
    assert(state() == Set((0L, 15L, "a", 2L), (10L, 47L, "b", 4L)),
      "late row below the compaction cut must be dropped, not re-sessionized")
    assert(m.sessionStateCounts == ((4L, 1L)))
    rw.close()
  }

  test("NULL grouping key: closed session freezes once, raw rows retire, late rows gate") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sessn_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sessn_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "sessn_mv",
      watermarks = Map("sessn_t" -> ("ts", "0 seconds")))
    assert(m.isSessionMode)
    val t = rw.table("sessn_t").get
    // the NULL-keyed session [0,15) closes while key b advances the
    // watermark — its cut row has a NULL key, which a plain equi-join
    // lookup would never match: raw rows would survive retirement and the
    // session would re-freeze (double-count) every subsequent epoch
    t.insert(Seq(Row(null, ts(0), 1.0), Row(null, ts(5), 1.0)))
    rw.flush()
    Seq(1000L, 2000L, 3000L).foreach { s =>
      t.insert(Seq(Row("b", ts(s), 1.0))); rw.flush()
    }
    def state() = m.df.collect().map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
      r.getTimestamp(1).toInstant.getEpochSecond, Option(r.getString(2)), r.getLong(3))).toSeq
    val st4 = state()
    assert(st4.size == st4.toSet.size, s"frozen NULL-key session must not duplicate: $st4")
    assert(st4.toSet.contains((0L, 15L, None, 2L)), s"expected the NULL-key session: $st4")
    val (raw, froz) = m.sessionStateCounts
    assert(froz >= 1, s"NULL-key session must freeze, got ($raw, $froz)")
    assert(raw <= 3, s"NULL-key raw rows must retire after freeze, got raw=$raw")
    // a late NULL-key row under the cut must be gated by the null-safe
    // lookup, not re-sessionized into the frozen [0,15)
    t.insert(Seq(Row(null, ts(3), 1.0)))
    rw.flush()
    val st5 = state()
    assert(st5.size == st5.toSet.size, s"no double-freeze after a late epoch: $st5")
    assert(st5.toSet == st4.toSet, s"late NULL-key row must drop: $st5 vs $st4")
    rw.close()
  }

  test("expression-keyed sessions compact via the global chain scan; late rows gate") {
    // grouping key upper(k) is an EXPRESSION over the raw column, so the
    // per-key compaction path can't map frozen sessions back to raw rows —
    // the global coverage-chain scan must still freeze closed sessions and
    // retire their raw rows (its window frame is one row per session of
    // the post-aggregate output, never the raw rows; this spec keeps that
    // path exercised so the documented bound can't silently widen)
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sessx_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, upper(k) AS ku, count(*) AS n
        |FROM session(sessx_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, upper(k)""".stripMargin, "sessx_mv",
      watermarks = Map("sessx_t" -> ("ts", "0 seconds")))
    assert(m.isSessionMode)
    val t = rw.table("sessx_t").get
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(5), 1.0)))
    rw.flush()
    Seq(1000L, 2000L, 3000L).foreach { s =>
      t.insert(Seq(Row("a", ts(s), 1.0))); rw.flush()
    }
    val (raw, froz) = m.sessionStateCounts
    assert(froz >= 1, s"closed sessions must freeze under expression keys, got ($raw, $froz)")
    assert(raw <= 3, s"frozen sessions' raw rows must retire, got ($raw, $froz)")
    def state() = m.df.collect().map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
      r.getString(2), r.getLong(3))).toSet
    val st = state()
    assert(st == Set((0L, "A", 2L), (1000L, "A", 1L), (2000L, "A", 1L), (3000L, "A", 1L)))
    // a late row under the GLOBAL cut must drop (keyless gate path)
    t.insert(Seq(Row("a", ts(3), 1.0)))
    rw.flush()
    assert(state() == st, "late row below the global cut must be dropped")
    rw.close()
  }

  test("session MV with EMIT ON WINDOW CLOSE emits each session once, as final Inserts") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sesse_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sesse_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k
        |EMIT ON WINDOW CLOSE""".stripMargin, "sesse_mv",
      watermarks = Map("sesse_t" -> ("ts", "0 seconds")))
    assert(m.isSessionMode, "EOWC session MV must take the session path")

    val t = rw.table("sesse_t").get
    // 4 well-separated sessions; the watermark (and the progress lag) means
    // a session emits ~2 epochs after a later event passes its end
    Seq(Seq(ts(0), ts(5)), Seq(ts(1000)), Seq(ts(2000)), Seq(ts(3000)), Seq(ts(4000)))
      .foreach { batch =>
        t.insert(batch.map(x => Row("a", x, 1.0)))
        rw.flush()
      }
    val visible = m.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond, r.getLong(3))).toSet
    assert(visible.contains((0L, 2L)), s"first session must have closed: $visible")
    assert(!visible.exists(_._1 == 4000L), "the still-open last session must NOT emit")
    // each closed session emitted exactly once, as an Insert
    val sub = m.subscription().declareCursor(Some(0L))
    val ops = Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.toSeq
    assert(ops.map(r => r.getString(r.length - 2)).forall(_ == "Insert"),
      "EOWC must emit only Inserts")
    val starts = ops.map(r => r.getTimestamp(0).toInstant.getEpochSecond)
    assert(starts.distinct.size == starts.size, s"no session may emit twice: $starts")
    assert(starts.toSet == visible.map(_._1), "ops must match the visible snapshot")
    rw.close()
  }

  test("session MV feeds a changelog cascade: a merge retracts a downstream count") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sc_t", schema)
    rw.mv(
      """SELECT window_start, k, count(*) AS n
        |FROM session(sc_t, ts, interval '10 seconds')
        |GROUP BY window_start, k""".stripMargin, "sc_sess")
    // sessions-per-key rollup: a session MERGE upstream must DECREASE this
    val down = rw.mv("SELECT k, count(*) AS n_sessions FROM sc_sess GROUP BY k", "sc_cnt")
    assert(rw.mvByName("sc_sess").get.isSessionMode)
    assert(down.isChangelogCascadeMode,
      "rollup over a session MV must consume its changelog")

    val t = rw.table("sc_t").get
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(15), 1.0)))
    rw.flush()
    def n() = down.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(n() == Set(("a", 2L)))
    // bridging row merges [0,10) and [15,25): upstream emits 2 Deletes +
    // 1 Insert; the cascade folds them and the session count drops to 1
    t.insert(Seq(Row("a", ts(7), 1.0)))
    rw.flush()
    assert(n() == Set(("a", 1L)))
    rw.close()
  }

  test("two keys sessionize independently") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("sess2_t", schema)
    val m = rw.mv(
      """SELECT window_start, k, count(*) AS n
        |FROM session(sess2_t, ts, interval '10 seconds')
        |GROUP BY window_start, k""".stripMargin, "sess2_mv")
    assert(m.isSessionMode)
    val t = rw.table("sess2_t").get
    t.insert(Seq(Row("a", ts(0), 1.0), Row("b", ts(5), 1.0), Row("a", ts(5), 1.0)))
    rw.flush()
    val st = m.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(1), r.getLong(2))).toSet
    assert(st == Set((0L, "a", 2L), (5L, "b", 1L)))
    rw.close()
  }

  test("session MV over a PK/upsert table folds retractions (round 9)") {
    // previously batch re-run (the streaming face replays raw version
    // appends — a session would count every version); the cascade-fold
    // path applies the table's keyed 4-op changelog to the carried raw
    // state: upsert overwrites move rows between sessions, DELETE shrinks
    // or splits them
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.execute(
      "CREATE TABLE sc_pk (id BIGINT PRIMARY KEY, k STRING, ts TIMESTAMPTZ, v DOUBLE)")
    val mv = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(sc_pk, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "sc_pk_mv")
    assert(mv.isSessionMode && mv.isChangelogCascadeMode,
      "session MV over an upsert table must take the changelog-fold path")
    val t = rw.table("sc_pk").get
    t.insert(Seq(Row(1L, "a", ts(0), 1.0), Row(2L, "a", ts(5), 1.0),
      Row(3L, "a", ts(30), 1.0)))
    rw.flush()
    def vis() = mv.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(2), r.getLong(3))).toSet
    assert(vis() == Set((0L, "a", 2L), (30L, "a", 1L)))
    assert(mv.sessionSliceActive,
      "the cascade fold must ride the affected-slice tier too (round 14)")
    // upsert id=2 to ts=35: leaves the first session, bridges nothing —
    // first session shrinks to 1, second grows to 2
    t.insert(Seq(Row(2L, "a", ts(35), 1.0)))
    rw.flush()
    assert(vis() == Set((0L, "a", 1L), (30L, "a", 2L)),
      "an upsert overwrite must move its row between sessions")
    assert(mv.sessionSliceActive,
      "keyed retraction pairs must fold through the slice, not drop the tier")
    // upsert id=1 to ts=20: NOW it bridges 20-30-35 into one session
    t.insert(Seq(Row(1L, "a", ts(20), 1.0)))
    rw.flush()
    assert(vis() == Set((20L, "a", 3L)),
      "a moved row that lands within gap of both sessions must merge them")
    // DELETE the bridge: the merged session splits back apart
    rw.execute("DELETE FROM sc_pk WHERE id = 1")
    rw.execute("FLUSH")
    assert(vis() == Set((30L, "a", 2L)),
      "deleting the bridging row must re-split (here: collapse) the session")
    assert(mv.isSessionMode && mv.isChangelogCascadeMode, "mode must survive epochs")
    rw.close()
  }

  test("watermarked session-cascade freezes closed sessions and prunes the fold state") {
    // the fold-side watermark (max inserted event time − delay) drives the
    // same compaction as the streaming path: closed sessions freeze, their
    // raw rows leave the carried state, and a late fold op — insert OR
    // retraction — under the cut is gated (the declared watermark is the
    // user's promise that data below it is final)
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.execute(
      "CREATE TABLE scw_pk (id BIGINT PRIMARY KEY, k STRING, ts TIMESTAMPTZ, v DOUBLE)")
    val mv = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(scw_pk, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "scw_mv",
      watermarks = Map("scw_pk" -> (("ts", "0 seconds"))))
    assert(mv.isSessionMode && mv.isChangelogCascadeMode)
    val t = rw.table("scw_pk").get
    t.insert(Seq(Row(1L, "a", ts(0), 1.0), Row(2L, "a", ts(5), 1.0)))
    rw.flush()
    // a much later row closes the first session: it freezes and its raw
    // rows retire from the fold state
    t.insert(Seq(Row(3L, "a", ts(1000), 1.0)))
    rw.flush()
    val (raw, frozenN) = mv.sessionStateCounts
    assert(frozenN == 1L, s"first session must freeze, got ($raw, $frozenN)")
    assert(raw == 1L, s"frozen session's raw rows must retire, got ($raw, $frozenN)")
    def vis() = mv.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(2), r.getLong(3))).toSet
    assert(vis() == Set((0L, "a", 2L), (1000L, "a", 1L)))
    // a retraction against the FROZEN session (upsert id=1 far forward)
    // is gated: the frozen output keeps the promised-final row, the moved
    // row's insert half still lands in the live region
    t.insert(Seq(Row(1L, "a", ts(1005), 1.0)))
    rw.flush()
    assert(vis() == Set((0L, "a", 2L), (1000L, "a", 2L)),
      "the retraction half under the cut must gate; the insert half lands")
    rw.close()
  }

  test("session-cascade durable snapshot restores raw state without replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-durable-").toString
    val rw1 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw1.execute(
      "CREATE TABLE scd_pk (id BIGINT PRIMARY KEY, k STRING, ts TIMESTAMPTZ, v DOUBLE)")
    val stmt =
      """SELECT window_start, window_end, k, count(*) AS n
        |FROM session(scd_pk, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin
    val m1 = rw1.mv(stmt, "scd_mv")
    assert(m1.isSessionMode && m1.isChangelogCascadeMode)
    rw1.table("scd_pk").get.insert(Seq(
      Row(1L, "a", ts(0), 1.0), Row(2L, "a", ts(5), 1.0), Row(3L, "b", ts(50), 1.0)))
    rw1.flush()
    def vis(m: graft.engine.MaterializedView) = m.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(2), r.getLong(3))).toSet
    val st1 = vis(m1)
    assert(st1 == Set((0L, "a", 2L), (50L, "b", 1L)))
    rw1.close()
    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    val m2 = rw2.mv(stmt, "scd_mv")
    assert(m2.isSessionMode && m2.isChangelogCascadeMode,
      "restored MV must stay on the session-cascade path")
    assert(m2.statementEvals == 0L && m2.consumedRows == 0L,
      "restore must be O(state): no statement runs, no source replay")
    assert(vis(m2) == st1)
    // maintenance resumes over the restored raw state: an upsert moves a
    // row out of the restored session
    rw2.execute("INSERT INTO scd_pk VALUES (2, 'a', TIMESTAMP '1970-01-01 00:01:00', 1.0)")
    rw2.execute("FLUSH")
    assert(vis(m2) == Set((0L, "a", 1L), (50L, "b", 1L), (60L, "a", 1L)))
    rw2.close()
  }

  test("affected-slice tier: epochs re-sessionize only the touched tail (round 14)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("slc_t", schema)
    val m = rw.mv(
      """SELECT window_start, window_end, k, count(*) AS n, SUM(v) AS sv
        |FROM session(slc_t, ts, interval '10 seconds')
        |GROUP BY window_start, window_end, k""".stripMargin, "slc_mv")
    assert(m.isSessionMode)
    val t = rw.table("slc_t").get
    def state() = m.df.collect().map(r =>
      (r.getTimestamp(0).toInstant.getEpochSecond,
       r.getTimestamp(1).toInstant.getEpochSecond,
       r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    def parity(): Unit = {
      val batch = spark.sql(
        """SELECT session_window.start, session_window.end, k, count(*), SUM(v)
          |FROM slc_t GROUP BY session_window(ts, '10 seconds'), k""".stripMargin)
        .collect().map(r =>
          (r.getTimestamp(0).toInstant.getEpochSecond,
           r.getTimestamp(1).toInstant.getEpochSecond,
           r.getString(2), r.getLong(3), r.getDouble(4))).toSet
      assert(state() == batch, "slice state must equal batch re-sessionization")
    }
    // epoch 1: two separated sessions per key
    t.insert(Seq(Row("a", ts(0), 1.0), Row("a", ts(30), 2.0),
      Row("b", ts(5), 3.0)))
    rw.flush()
    assert(m.sessionSliceActive, "a bounded eligible statement must seed the slice tier")
    parity()
    // epoch 2: extends ONLY a's last session; the [0,10) session and all
    // of b are untouched — their output rows must survive verbatim
    t.insert(Seq(Row("a", ts(35), 4.0)))
    rw.flush()
    assert(m.sessionSliceActive)
    parity()
    assert(state().contains((30L, 45L, "a", 2L, 6.0)), "tail session must extend")
    assert(state().contains((0L, 10L, "a", 1L, 1.0)), "untouched session must survive")
    // epoch 3: a bridging row MERGES a's two sessions — the affected set
    // reaches back past the delta's own timestamp through the boundary
    t.insert(Seq(Row("a", ts(22), 5.0)))
    rw.flush()
    parity()
    assert(state().contains((0L, 45L, "a", 4L, 12.0)) ||
           state().contains((22L, 45L, "a", 3L, 11.0)), "bridge must merge or chain")
    // epoch 4: a LATE row older than every session → every session of its
    // key is affected → the slice degenerates to the full key, correctly
    t.insert(Seq(Row("b", ts(1) /* before b's [5,15) start */, 6.0)))
    rw.flush()
    parity()
    // past the bound: the raw state (11 rows) and the face (8 sessions)
    // outgrow a shrunken cascadeLocalMax and carry on as base plus
    // overlay — no latch, and no epoch re-sessionizes the whole state
    m.cascadeLocalMax = 6
    val evals = m.statementEvals
    t.insert((100 to 104).map(i => Row("c", ts(i.toLong * 60), i.toDouble)))
    rw.flush()
    assert(!m.sessionSliceActive, "outgrowing the bound must leave the no-base tier")
    parity()
    val carried = m.overlayEpochs
    t.insert(Seq(Row("c", ts(100L * 60 + 5), 9.0)))
    rw.flush()
    assert(m.overlayEpochs > carried, "the epoch past the bound must carry over the base")
    parity()
    assert(m.statementEvals == evals, "no epoch may re-sessionize the whole state")
    assert(m.isSessionMode, "no demotion through the hand-off")
    rw.close()
  }
}
