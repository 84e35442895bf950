package graft

import graft.engine._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Algebraic delta-accumulation for keyed aggregate cascades (DeltaAgg):
  * admitted COUNT/SUM statements fold the source changelog into carried
  * per-group auxiliary state — the source is never re-scanned after the
  * backfill (statementEvals pins it), retractions decrement, groups vanish
  * at zero rows, and NULL-sum semantics survive the fold. */
class DeltaAggSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("v", LongType)))

  private def groups(mv: MaterializedView): Map[String, (Long, Any)] =
    mv.df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.get(2)))).toMap

  test("count/sum over an upsert table folds deltas; no re-scan after backfill") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("da_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM da_t GROUP BY grp", "da_mv")
    val mv = rw.mvByName("da_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "decomposable aggregate over a PK table must delta-accumulate")
    val t = rw.table("da_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(groups(mv) == Map("a" -> ((2L, 30L)), "b" -> ((1L, 5L))))
    assert(mv.auxStateIsLocal,
      "a small pure-signed state must ride the overlay's zero-job no-base tier")

    // overwrite moves id=2 from a to b: a's sums decrement, b's increment
    t.insert(Seq(Row(2L, "b", 7L)))
    rw.flush()
    assert(groups(mv) == Map("a" -> ((1L, 10L)), "b" -> ((2L, 12L))))

    // DELETE empties group b entirely — it must vanish, not stay at 0
    rw.execute("DELETE FROM da_t WHERE grp = 'b'")
    rw.flush()
    assert(groups(mv) == Map("a" -> ((1L, 10L))))
    assert(mv.statementEvals == evals,
      "delta-accumulation epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("COUNT(DISTINCT) folds via the two-level tier; refs retract and values vanish") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dcd_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, count(DISTINCT v) AS dv, " +
      "max(v) AS mx FROM dcd_t GROUP BY grp", "dcd_mv")
    val mv = rw.mvByName("dcd_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "COUNT(DISTINCT) must fold via the two-level tier (round 12)")
    val t = rw.table("dcd_t").get
    def state: Map[String, (Long, Long, Any)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
    // two rows share v=10: one distinct value, refcount 2
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 10L), Row(3L, "a", 20L),
      Row(4L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == Map("a" -> ((3L, 2L, 20L)), "b" -> ((1L, 1L, 5L))))
    // retract ONE of the two v=10 refs: the distinct count must NOT drop
    rw.execute("DELETE FROM dcd_t WHERE id = 1")
    rw.flush()
    assert(state == Map("a" -> ((2L, 2L, 20L)), "b" -> ((1L, 1L, 5L))),
      "a surviving reference must keep the distinct value counted")
    // retract the LAST v=10 ref: now the value vanishes from the count
    rw.execute("DELETE FROM dcd_t WHERE id = 2")
    rw.flush()
    assert(state == Map("a" -> ((1L, 1L, 20L)), "b" -> ((1L, 1L, 5L))))
    // upsert moves id=3 into a NEW value and retracts the old max: the
    // dk-BACKED extremum (max child == distinct child) derives from the
    // state's own key column — no re-fetch, ever
    t.insert(Seq(Row(3L, "a", 7L)))
    rw.flush()
    assert(state == Map("a" -> ((1L, 1L, 7L)), "b" -> ((1L, 1L, 5L))))
    // group b vanishes entirely
    rw.execute("DELETE FROM dcd_t WHERE grp = 'b'")
    rw.flush()
    assert(state == Map("a" -> ((1L, 1L, 7L))))
    // NULLs never count as distinct values
    t.insert(Seq(Row(5L, "a", null)))
    rw.flush()
    assert(state == Map("a" -> ((2L, 1L, 7L))),
      "NULL must not contribute a distinct value")
    assert(mv.statementEvals == evals,
      "count-distinct epochs (incl. dk-backed max retractions) must not re-evaluate")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("COUNT(DISTINCT) composes with a non-dk extremum (inner re-fetch path)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dcx_t", schema, primaryKey = Seq("id"))
    // min(id) is NOT a distinct child: inner (grp, v) groups are
    // multi-valued in id, so the extremum folds with the join-merge's
    // per-inner-group retraction re-fetch
    rw.mv("SELECT grp, count(DISTINCT v) AS dv, min(id) AS mi " +
      "FROM dcx_t GROUP BY grp", "dcx_mv")
    val mv = rw.mvByName("dcx_mv").get
    assert(mv.isDeltaAggMode)
    val t = rw.table("dcx_t").get
    def state: Map[String, (Long, Long)] =
      mv.df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 10L), Row(3L, "a", 20L)))
    rw.flush()
    assert(state == Map("a" -> ((2L, 1L))))
    // retract the carried min id within the (a, 10) inner group: the
    // re-fetch recomputes exactly that inner group; the distinct count
    // keeps its surviving reference
    rw.execute("DELETE FROM dcx_t WHERE id = 1")
    rw.flush()
    assert(state == Map("a" -> ((2L, 2L))),
      "inner-group extremum re-fetch must compose with the distinct tier")
    // retract the LAST (a, 10) reference: the value leaves the distinct
    // count in the same epoch the extremum re-fetches
    rw.execute("DELETE FROM dcx_t WHERE id = 2")
    rw.flush()
    assert(state == Map("a" -> ((1L, 3L))))
    rw.execute("DELETE FROM dcx_t WHERE id = 3")
    rw.flush()
    assert(state.isEmpty, "the group must vanish with its last row")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("stddev/variance fold exactly over integrals; ddof NULL edges survive") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dsd_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, stddev_samp(v) AS sd, " +
      "var_pop(v) AS vp FROM dsd_t GROUP BY grp", "dsd_mv")
    val mv = rw.mvByName("dsd_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "integral stddev/variance must fold in the exact tier (round 12)")
    val t = rw.table("dsd_t").get
    def state: Map[String, (Long, Any, Any)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.get(2), r.get(3)))).toMap
    t.insert(Seq(Row(1L, "a", 2L), Row(2L, "a", 4L), Row(3L, "a", 6L)))
    rw.flush()
    val evals = mv.statementEvals
    // values {2,4,6}: var_samp = 4 → stddev_samp = 2; var_pop = 8/3
    assert(state("a")._1 == 3L)
    assert(state("a")._2 == 2.0d)
    assert(math.abs(state("a")._3.asInstanceOf[Double] - 8.0 / 3) < 1e-12)
    // retraction folds by signed subtraction: {2,4} → samp 2, pop 1
    rw.execute("DELETE FROM dsd_t WHERE id = 3")
    rw.flush()
    assert(math.abs(state("a")._2.asInstanceOf[Double] - math.sqrt(2.0)) < 1e-12)
    assert(state("a")._3 == 1.0d)
    // single row: samp NULL (ddof), pop 0
    rw.execute("DELETE FROM dsd_t WHERE id = 2")
    rw.flush()
    assert(state("a") == ((1L, null, 0.0d)),
      "n=1 must yield NULL stddev_samp and 0 var_pop")
    // all-NULL inputs: both NULL while the group row remains
    t.insert(Seq(Row(1L, "a", null)))
    rw.flush()
    assert(state("a") == ((1L, null, null)))
    assert(mv.statementEvals == evals,
      "stddev fold epochs must not re-evaluate the statement")
    rw.close()
  }

  test("NULL-sum semantics survive the fold (sum NULL iff no non-null inputs)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dan_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM dan_t GROUP BY grp", "dan_mv")
    val mv = rw.mvByName("dan_mv").get
    assert(mv.isDeltaAggMode)
    val t = rw.table("dan_t").get
    t.insert(Seq(Row(1L, "a", null), Row(2L, "a", null)))
    rw.flush()
    assert(groups(mv) == Map("a" -> ((2L, null))), "all-NULL group sums to NULL")
    t.insert(Seq(Row(3L, "a", 5L)))
    rw.flush()
    assert(groups(mv) == Map("a" -> ((3L, 5L))))
    // retract the only non-null row: count stays 2, sum returns to NULL
    rw.execute("DELETE FROM dan_t WHERE id = 3")
    rw.flush()
    assert(groups(mv) == Map("a" -> ((2L, null))),
      "sum must return to NULL when the last non-null input retracts")
    rw.close()
  }

  test("HAVING and CAST wrappers re-derive over the folded aggregates") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dah_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, CAST(sum(v) AS BIGINT) AS sv FROM dah_t " +
      "GROUP BY grp HAVING count(*) >= 2", "dah_mv")
    val mv = rw.mvByName("dah_mv").get
    assert(mv.isDeltaAggMode, "HAVING folds into the select list — still decomposable")
    val t = rw.table("dah_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "b", 5L)))
    rw.flush()
    assert(mv.df.isEmpty, "no group has 2 rows yet")
    t.insert(Seq(Row(3L, "a", 1L)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet == Set(("a", 11L)))
    rw.execute("DELETE FROM dah_t WHERE id = 3")
    rw.flush()
    assert(mv.df.isEmpty, "group a leaves the predicate when its count drops")
    rw.close()
  }

  test("expression grouping keys fold (GROUP BY id % k)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dae_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT id % 3 AS bucket, count(*) AS n, sum(v) AS sv " +
      "FROM dae_t GROUP BY id % 3", "dae_mv")
    val mv = rw.mvByName("dae_mv").get
    assert(mv.isDeltaAggMode)
    val t = rw.table("dae_t").get
    t.insert(Seq(Row(0L, "x", 1L), Row(1L, "x", 2L), Row(3L, "x", 4L)))
    rw.flush()
    val m = mv.df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m == Map(0L -> ((2L, 5L)), 1L -> ((1L, 2L))))
    rw.close()
  }

  test("decimal AVG folds exactly (sum+count pair, Spark's own finish expression)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dav_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, avg(CAST(v AS DECIMAL(18,6))) AS av, count(*) AS n " +
      "FROM dav_t GROUP BY grp", "dav_mv")
    val mv = rw.mvByName("dav_mv").get
    assert(mv.isDeltaAggMode, "decimal avg is decomposable — must fold")
    val t = rw.table("dav_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 21L), Row(3L, "b", 7L)))
    rw.flush()
    val evals = mv.statementEvals
    def read() = mv.df.collect()
      .map(r => r.getString(0) -> ((r.getDecimal(1), r.getLong(2)))).toMap
    val m1 = read()
    assert(m1("a")._1 == new java.math.BigDecimal("15.5000000000") &&
      m1("a")._2 == 2L, s"got $m1")
    // batch parity: the folded avg must equal a direct evaluation
    val batch = rw.fetch("SELECT grp, avg(CAST(v AS DECIMAL(18,6))) AS av, " +
        "count(*) AS n FROM dav_t GROUP BY grp")
      .map(r => r.getString(0) -> ((r.getDecimal(1), r.getLong(2)))).toMap
    assert(m1 == batch, s"fold $m1 != batch $batch")
    // retraction recomputes the mean from the folded pair
    rw.execute("DELETE FROM dav_t WHERE id = 2")
    rw.flush()
    val m2 = read()
    assert(m2("a") == ((new java.math.BigDecimal("10.0000000000"), 1L)), s"got $m2")
    assert(mv.statementEvals == evals)
    rw.close()
  }

  test("GLOBAL aggregate folds; the row survives at count 0 (batch parity)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dag_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT count(*) AS n, sum(v) AS sv FROM dag_t", "dag_mv")
    val mv = rw.mvByName("dag_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "a global count/sum over a PK table must fold")
    val t = rw.table("dag_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    def read() = mv.df.collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(read() == Seq((2L, 15L)))
    t.insert(Seq(Row(1L, "a", 11L))) // overwrite: count stays, sum moves
    rw.flush()
    assert(read() == Seq((2L, 16L)))
    rw.execute("DELETE FROM dag_t WHERE true")
    rw.flush()
    assert(read() == Seq((0L, null)),
      "a global aggregate over an empty table keeps its row: count 0, sum NULL")
    assert(mv.statementEvals == evals, "global fold epochs must not re-evaluate")
    rw.close()
  }

  test("integral AVG folds exactly (long sum + count, round 11)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dia_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, round(avg(v), 4) AS av, count(*) AS n " +
      "FROM dia_t GROUP BY grp", "dia_mv")
    val mv = rw.mvByName("dia_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "integral AVG is exact through the long-sum aux slot — must fold (round 11)")
    val t = rw.table("dia_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 21L), Row(3L, "b", 7L)))
    rw.flush()
    val evals = mv.statementEvals
    def read() = mv.df.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(read() == Map("a" -> ((15.5, 2L)), "b" -> ((7.0, 1L))))
    // overwrite moves the mean; retraction recomputes it from the pair
    t.insert(Seq(Row(2L, "a", 11L)))
    rw.flush()
    assert(read() == Map("a" -> ((10.5, 2L)), "b" -> ((7.0, 1L))))
    rw.execute("DELETE FROM dia_t WHERE id = 1")
    rw.flush()
    assert(read() == Map("a" -> ((11.0, 1L)), "b" -> ((7.0, 1L))))
    // batch parity at the final state
    val batch = rw.fetch("SELECT grp, round(avg(v), 4) AS av, count(*) AS n " +
        "FROM dia_t GROUP BY grp")
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(read() == batch, "folded integral avg must equal batch evaluation")
    assert(mv.statementEvals == evals, "avg-fold epochs must not re-evaluate")
    rw.close()
  }

  test("non-decomposable aggregates fall back to recompute and stay correct") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("daf_t", schema, primaryKey = Seq("id"))
    // approx_percentile (not stddev/percentile/approx_count_distinct —
    // exact percentile folds since round 12, the HLL sketch merge-folds
    // insert-only since round 13) is the genuinely non-decomposable
    // representative: a KLL/GK quantile sketch cannot retract and has no
    // merge-only admission
    rw.mv("SELECT grp, CAST(approx_percentile(v, 0.5) AS BIGINT) AS sd " +
      "FROM daf_t GROUP BY grp", "daf_std")
    val stdMv = rw.mvByName("daf_std").get
    assert(stdMv.isChangelogCascadeMode && !stdMv.isDeltaAggMode,
      "approx_percentile has no invertible fold — recompute cascade")
    rw.createTable("daf_d", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("d", DoubleType))),
      primaryKey = Seq("id"))
    rw.mv("SELECT grp, sum(d) AS sd FROM daf_d GROUP BY grp", "daf_dbl")
    assert(!rw.mvByName("daf_dbl").get.isDeltaAggMode,
      "double sums are excluded (re-association drift)")
    val t = rw.table("daf_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 21L)))
    rw.flush()
    assert(stdMv.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 10L)),
      "the recompute cascade must still produce exact small-n quantiles")
    rw.close()
  }

  test("changelog envelope: overwrite emits an update pair, vanish emits Delete") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dao_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM dao_t GROUP BY grp", "dao_mv")
    val mv = rw.mvByName("dao_mv").get
    assert(mv.isDeltaAggMode)
    val sub = mv.subscription("dao_sub")
    val t = rw.table("dao_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "b", 5L)))
    rw.flush()
    t.insert(Seq(Row(3L, "a", 4L)))
    rw.flush()
    rw.execute("DELETE FROM dao_t WHERE grp = 'b'")
    rw.flush()
    val ops = Iterator.continually(sub.fetch(100)).takeWhile(_.nonEmpty).flatten
      .map(r => (r.getString(r.fieldIndex("op")), r.getString(0), r.getLong(1)))
      .toSeq
    assert(ops.count(_._1 == "Insert") == 2)
    assert(ops.contains(("UpdateDelete", "a", 1L)) && ops.contains(("UpdateInsert", "a", 2L)),
      s"group a's growth must be an update pair, got $ops")
    assert(ops.contains(("Delete", "b", 1L)), s"vanished group must emit Delete, got $ops")
    sub.close()
    rw.close()
  }

  test("PK version-history compaction: bounded state, invisible to changelog and upserts") {
    spark.conf.set("graft.table.compactThreshold", "8")
    try {
      val rw = GraftEngine.open(ConnOptions(), Some(spark))
      rw.createTable("cmp_t", schema, primaryKey = Seq("id"), versionColumn = Some("v"))
      rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM cmp_t GROUP BY grp", "cmp_mv")
      val mv = rw.mvByName("cmp_mv").get
      val sub = mv.subscription("cmp_sub")
      val t = rw.table("cmp_t").get
      // 3 keys × 4 versions = 12 history rows > threshold → compacts
      for (ver <- 1L to 4L)
        { t.insert(Seq(Row(1L, "a", ver), Row(2L, "a", ver * 10), Row(3L, "b", ver * 100))); rw.flush() }
      // 12 versions written; the epoch-3 flush crossed the threshold (9≥8)
      // and compacted to 3 winners, epoch 4 appended 3 more
      assert(t.historyRows == 6,
        s"history must have compacted to winners + tail, got ${t.historyRows}")
      // round 15: identity compaction preserves the merged face (winners
      // unchanged) — dropping it forced a distributed re-seed window over
      // the full history on the next read
      assert(t.faceIsLocal, "merged face must survive identity compaction")
      assert(mv.df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("a", 2L, 44L), ("b", 1L, 400L)))
      // compaction must be physically invisible: the changelog carries only
      // the real version updates, nothing from the rewrite
      val ops = Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.toSeq
      assert(ops.size == 2 + 3 * 2 * 2,
        s"expected 2 Inserts + 3 update pairs per group-touching epoch, got ${ops.size}")
      // upsert ordering survives: a LOWER version than the compacted winner
      // must still lose; a higher one wins
      t.insert(Seq(Row(1L, "a", 2L))); rw.flush()
      t.insert(Seq(Row(3L, "b", 500L))); rw.flush()
      assert(mv.df.collect().map(r => (r.getString(0), r.getLong(2))).toSet ==
        Set(("a", 44L), ("b", 500L)),
        "stale version must lose against the compacted winner")
      // the last flush re-crossed both gates (8 ≥ floor, ≥ 2×3) → 3 winners
      assert(t.historyRows == 3, s"got ${t.historyRows}")
      sub.close()
      rw.close()
    } finally spark.conf.unset("graft.table.compactThreshold")
  }

  test("aggregate over a JOIN of two live PK tables folds (telescoped partials)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("daj_ev", StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("v", LongType))),
      primaryKey = Seq("event_id"))
    rw.createTable("daj_user", StructType(Seq(StructField("uid", LongType),
      StructField("grp", StringType))), primaryKey = Seq("uid"))
    rw.mv("SELECT u.grp, count(*) AS n, sum(e.v) AS sv FROM daj_ev e " +
      "JOIN daj_user u ON u.uid = e.user_id GROUP BY u.grp", "daj_mv")
    val mv = rw.mvByName("daj_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "count/sum over a join of two PK tables must fold via telescoped partials")
    val ev = rw.table("daj_ev").get
    val us = rw.table("daj_user").get
    us.insert(Seq(Row(1L, "a"), Row(2L, "b")))
    rw.flush()
    ev.insert(Seq(Row(10L, 1L, 5L), Row(11L, 1L, 3L), Row(12L, 2L, 7L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(groups(mv) == Map("a" -> ((2L, 8L)), "b" -> ((1L, 7L))))
    // both sides change in ONE epoch: user 1 moves to group b while a new
    // event lands for them — the telescoped old-snapshot terms must count
    // the cross contribution exactly once
    us.insert(Seq(Row(1L, "b")))
    ev.insert(Seq(Row(13L, 1L, 2L)))
    rw.flush()
    assert(groups(mv) == Map("b" -> ((4L, 17L))),
      "group a must vanish; b absorbs user 1's three events plus event 12")
    rw.execute("DELETE FROM daj_ev WHERE v >= 5")
    rw.flush()
    assert(groups(mv) == Map("b" -> ((2L, 5L))))
    assert(mv.statementEvals == evals,
      "join-fold epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("MIN/MAX over a LEFT JOIN folds; a dim retraction re-fetches the moved extremum") {
    // round 11: extremum slots compose with the outer-join difference
    // pair — a dim delete moves its facts to the NULL group AND may
    // retract a named group's carried max, which must re-fetch
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dax_f", StructType(Seq(StructField("fid", LongType),
      StructField("uid", LongType), StructField("v", LongType))),
      primaryKey = Seq("fid"))
    rw.createTable("dax_d", StructType(Seq(StructField("uid", LongType),
      StructField("nm", StringType))), primaryKey = Seq("uid"))
    rw.mv("SELECT d.nm AS label, count(*) AS n, max(f.v) AS mx " +
      "FROM dax_f f LEFT JOIN dax_d d ON d.uid = f.uid GROUP BY d.nm", "dax_mv")
    val mv = rw.mvByName("dax_mv").get
    assert(mv.isDeltaAggMode, "extremum over an outer join must fold (round 11)")
    val f = rw.table("dax_f").get
    val d = rw.table("dax_d").get
    d.insert(Seq(Row(10L, "ann")))
    f.insert(Seq(Row(1L, 10L, 5L), Row(2L, 10L, 9L), Row(3L, 20L, 3L)))
    rw.flush()
    def state: Map[Option[String], (Long, Long)] =
      mv.df.collect().map(r =>
        Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(state == Map(Some("ann") -> ((2L, 9L)), None -> ((1L, 3L))))
    // retract the fact holding ann's max: the group must re-fetch 5
    rw.execute("DELETE FROM dax_f WHERE fid = 2")
    rw.flush()
    assert(state == Map(Some("ann") -> ((1L, 5L)), None -> ((1L, 3L))))
    // dim delete: ann's remaining fact moves to NULL, whose max rises
    rw.execute("DELETE FROM dax_d WHERE uid = 10")
    rw.flush()
    assert(state == Map(None -> ((2L, 5L))))
    assert(mv.isDeltaAggMode, "DML must not demote the outer-join extremum fold")
    rw.close()
  }

  test("aggregate with a live-table IN subquery folds; membership flips move groups") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("das_t", schema, primaryKey = Seq("id"))
    rw.createTable("das_dim", StructType(Seq(StructField("g", StringType))),
      primaryKey = Seq("g"))
    rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM das_t " +
      "WHERE grp IN (SELECT g FROM das_dim) GROUP BY grp", "das_mv")
    val mv = rw.mvByName("das_mv").get
    assert(mv.isDeltaAggMode,
      "an aggregate filtered by a live-table subquery must fold (round 11)")
    val t = rw.table("das_t").get
    val dim = rw.table("das_dim").get
    dim.insert(Seq(Row("a")))
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 7L)))
    rw.flush()
    assert(groups(mv) == Map("a" -> ((2L, 30L))))
    val evals = mv.statementEvals
    // membership GAINED: group b's rows enter without touching das_t
    dim.insert(Seq(Row("b")))
    rw.flush()
    assert(groups(mv) == Map("a" -> ((2L, 30L)), "b" -> ((1L, 7L))))
    // outer-side delta folds with the subquery bound current
    t.insert(Seq(Row(4L, "b", 3L)))
    rw.flush()
    assert(groups(mv) == Map("a" -> ((2L, 30L)), "b" -> ((2L, 10L))))
    // membership LOST: the whole group retracts
    rw.execute("DELETE FROM das_dim WHERE g = 'a'")
    rw.flush()
    assert(groups(mv) == Map("b" -> ((2L, 10L))))
    assert(mv.statementEvals == evals,
      "subquery-fold epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("durable reopen restores aux state and keeps folding with zero evals") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dadur").toString
    val rw1 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw1.createTable("dar_t", schema, primaryKey = Seq("id"))
    rw1.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM dar_t GROUP BY grp", "dar_mv")
    rw1.table("dar_t").get.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L)))
    rw1.flush()
    rw1.close()

    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw2.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM dar_t GROUP BY grp", "dar_mv")
    val mv = rw2.mvByName("dar_mv").get
    assert(mv.isDeltaAggMode)
    assert(mv.statementEvals == 0L, "reopen must restore aux state without evaluating")
    assert(groups(mv) == Map("a" -> ((2L, 30L))))
    rw2.table("dar_t").get.insert(Seq(Row(3L, "b", 7L), Row(1L, "a", 11L)))
    rw2.flush()
    assert(groups(mv) == Map("a" -> ((2L, 31L)), "b" -> ((1L, 7L))))
    assert(mv.statementEvals == 0L, "folding must continue without evals after reopen")
    rw2.close()
  }

  test("SELECT DISTINCT maintains as a keys-only fold (no re-scan, groups vanish)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dad_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT DISTINCT grp, v FROM dad_t", "dad_mv")
    val mv = rw.mvByName("dad_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "DISTINCT must maintain as a keys-only delta-accumulation (round 10)")
    def rows: Set[(String, Any)] =
      mv.df.collect().map(r => (r.getString(0), r.get(1))).toSet
    val t = rw.table("dad_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 10L), Row(3L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(rows == Set(("a", 10L), ("b", 5L)), "duplicates collapse")

    t.insert(Seq(Row(4L, "a", 20L)))
    rw.flush()
    assert(rows == Set(("a", 10L), ("a", 20L), ("b", 5L)))

    // upsert moves id=2 out of (a,10): multiplicity 2 → 1, row survives
    t.insert(Seq(Row(2L, "b", 5L)))
    rw.flush()
    assert(rows == Set(("a", 10L), ("a", 20L), ("b", 5L)))

    // last (a,10) input retracts: the distinct row must vanish
    rw.execute("DELETE FROM dad_t WHERE id = 1")
    rw.flush()
    assert(rows == Set(("a", 20L), ("b", 5L)))
    assert(mv.statementEvals == evals,
      "distinct-fold epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("MIN/MAX fold: inserts fold directly; only extremum retractions re-fetch") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dam_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, max(v) AS mx, min(v) AS mn " +
      "FROM dam_t GROUP BY grp", "dam_mv")
    val mv = rw.mvByName("dam_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "MIN/MAX over a PK table must delta-accumulate (round 10)")
    def state: Map[String, (Long, Any, Any)] =
      mv.df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.get(2), r.get(3)))).toMap
    val t = rw.table("dam_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == Map("a" -> ((2L, 20L, 10L)), "b" -> ((1L, 5L, 5L))))

    // inserts below the max / above the min fold with NO re-fetch
    t.insert(Seq(Row(4L, "a", 15L)))
    rw.flush()
    assert(state == Map("a" -> ((3L, 20L, 10L)), "b" -> ((1L, 5L, 5L))))
    assert(mv.statementEvals == evals, "non-extremum epochs must not re-fetch")

    // a new maximum folds directly too (greatest of carried and delta)
    t.insert(Seq(Row(5L, "a", 99L)))
    rw.flush()
    assert(state("a") == ((4L, 99L, 10L)))
    assert(mv.statementEvals == evals, "a higher insert folds without re-fetch")

    // DELETE the current maximum: the carried extremum is gone — exactly
    // one delta-restricted re-fetch recovers the runner-up
    rw.execute("DELETE FROM dam_t WHERE v = 99")
    rw.flush()
    assert(state("a") == ((3L, 20L, 10L)))
    assert(mv.statementEvals == evals + 1,
      "retracting the extremum must re-fetch exactly once")
    assert(mv.isDeltaAggMode, "re-fetch must not demote the fold")

    // DELETE the current minimum — the MIN slot's re-fetch
    rw.execute("DELETE FROM dam_t WHERE v = 10")
    rw.flush()
    assert(state("a") == ((2L, 20L, 15L)))

    // overwrite that MOVES the max between groups
    t.insert(Seq(Row(2L, "b", 7L))) // id=2 (v=20, a's max) moves to b with v=7
    rw.flush()
    assert(state == Map("a" -> ((1L, 15L, 15L)), "b" -> ((2L, 7L, 5L))))
    rw.close()
  }

  test("MIN/MAX NULL semantics and group-vanish survive the fold") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("damn_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, max(v) AS mx FROM damn_t GROUP BY grp", "damn_mv")
    val mv = rw.mvByName("damn_mv").get
    assert(mv.isDeltaAggMode)
    val t = rw.table("damn_t").get
    t.insert(Seq(Row(1L, "a", null), Row(2L, "a", null)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet ==
      Set(("a", 2L, null)), "all-NULL group has NULL max")
    t.insert(Seq(Row(3L, "a", 5L)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet ==
      Set(("a", 3L, 5L)))
    rw.execute("DELETE FROM damn_t WHERE id = 3")
    rw.flush()
    assert(mv.df.collect().map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet ==
      Set(("a", 2L, null)), "max returns to NULL when the last non-null retracts")
    rw.execute("DELETE FROM damn_t WHERE grp = 'a'")
    rw.flush()
    assert(mv.df.isEmpty, "emptied group must vanish, not linger at NULL")
    rw.close()
  }

  test("global MAX folds; extremum retraction re-fetches the single row") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("damg_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT count(*) AS n, max(v) AS mx, min(v) AS mn FROM damg_t", "damg_mv")
    val mv = rw.mvByName("damg_mv").get
    assert(mv.isDeltaAggMode, "global MIN/MAX must fold")
    val t = rw.table("damg_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "b", 30L)))
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet ==
      Set((2L, 30L, 10L)))
    rw.execute("DELETE FROM damg_t WHERE id = 2")
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet ==
      Set((1L, 10L, 10L)))
    rw.execute("DELETE FROM damg_t WHERE id = 1")
    rw.flush()
    assert(mv.df.collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet ==
      Set((0L, null, null)), "a global aggregate over empty input keeps its row")
    rw.close()
  }

  test("float SUM/AVG fold only under the tolerance flag; Kahan state stays close") {
    val dschema = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("x", DoubleType)))
    // default (exact tier): double sums do NOT fold
    val rw0 = GraftEngine.open(ConnOptions(), Some(spark))
    rw0.createTable("daf0_t", dschema, primaryKey = Seq("id"))
    rw0.mv("SELECT grp, sum(x) AS sx, avg(x) AS ax FROM daf0_t GROUP BY grp", "daf0_mv")
    assert(!rw0.mvByName("daf0_mv").get.isDeltaAggMode,
      "double SUM/AVG must stay on touched-group recompute in the exact tier")
    rw0.close()

    val rw = GraftEngine.open(ConnOptions(foldFloatingPointAgg = true), Some(spark))
    rw.createTable("daf_t", dschema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, sum(x) AS sx, avg(x) AS ax " +
      "FROM daf_t GROUP BY grp", "daf_mv")
    val mv = rw.mvByName("daf_mv").get
    assert(mv.isDeltaAggMode, "float SUM/AVG must fold under the tolerance flag")
    val t = rw.table("daf_t").get
    // many epochs of awkward magnitudes — the shape where naive per-epoch
    // addition drifts and Kahan compensation holds the error at ~1 ulp
    val rnd = new scala.util.Random(42)
    var id = 0L
    for (_ <- 0 until 12) {
      val rows = (0 until 50).map { _ =>
        id += 1
        Row(id, if (id % 2 == 0) "a" else "b",
          rnd.nextDouble() * math.pow(10, rnd.nextInt(8)))
      }
      t.insert(rows)
      rw.flush()
    }
    val evals = mv.statementEvals
    // retractions flow through the compensated fold too
    rw.execute("DELETE FROM daf_t WHERE id % 7 = 0")
    rw.flush()
    assert(mv.statementEvals == evals, "float fold must not re-fetch on deletes")
    val folded = mv.df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val batch = spark.sql(
      "SELECT grp, count(*) AS n, sum(x) AS sx, avg(x) AS ax FROM daf_t GROUP BY grp")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(folded.keySet == batch.keySet)
    folded.foreach { case (g, (n, sx, ax)) =>
      val (bn, bsx, bax) = batch(g)
      assert(n == bn)
      assert(math.abs(sx - bsx) <= math.ulp(bsx) * 64,
        s"group $g folded sum $sx drifted from batch $bsx")
      assert(math.abs(ax - bax) <= math.ulp(bax) * 64,
        s"group $g folded avg $ax drifted from batch $bax")
    }
    rw.close()
  }

  test("SUM/AVG(DISTINCT) fold via the two-level tier; refs retract exactly") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dsd_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, sum(DISTINCT v) AS sdv, avg(DISTINCT v) AS adv, " +
      "count(DISTINCT v) AS dv FROM dsd_t GROUP BY grp", "dsd_mv")
    val mv = rw.mvByName("dsd_mv").get
    assert(mv.isDeltaAggMode,
      "SUM/AVG(DISTINCT) must fold via the two-level tier (round 12)")
    val t = rw.table("dsd_t").get
    def state: Map[String, (Long, Double, Long)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // v=10 carried twice: it must contribute ONCE to the distinct sum
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 10L), Row(3L, "a", 20L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == Map("a" -> ((30L, 15.0, 2L))))
    // retract one of the two refs: the distinct sum must not change
    rw.execute("DELETE FROM dsd_t WHERE id = 1")
    rw.flush()
    assert(state == Map("a" -> ((30L, 15.0, 2L))),
      "a surviving reference must keep the value in the distinct sum")
    // retract the last v=10 ref: the value leaves the sum and the avg
    rw.execute("DELETE FROM dsd_t WHERE id = 2")
    rw.flush()
    assert(state == Map("a" -> ((20L, 20.0, 1L))))
    // NULL contributes to none of the three
    t.insert(Seq(Row(4L, "a", null)))
    rw.flush()
    assert(state == Map("a" -> ((20L, 20.0, 1L))))
    assert(mv.statementEvals == evals,
      "distinct-sum epochs must not re-evaluate the statement")
    rw.close()
  }

  test("multiple distinct children stay per-column over the shared state") {
    // regression: with TWO distinct children the state rows are
    // (grp, v, w) tuples — a non-DISTINCT visible Count/Sum over one dk
    // column would tally each value once per combination with the other
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dmd_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", LongType),
      StructField("w", LongType))), primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(DISTINCT v) AS dv, count(DISTINCT w) AS dw, " +
      "sum(DISTINCT v) AS sdv FROM dmd_t GROUP BY grp", "dmd_mv")
    val mv = rw.mvByName("dmd_mv").get
    assert(mv.isDeltaAggMode)
    val t = rw.table("dmd_t").get
    def state: Map[String, (Long, Long, Long)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // v=10 appears under two different w values → three (v, w) state rows
    // but only two distinct v and two distinct w
    t.insert(Seq(Row(1L, "a", 10L, 1L), Row(2L, "a", 10L, 2L),
      Row(3L, "a", 20L, 1L)))
    rw.flush()
    assert(state == Map("a" -> ((2L, 2L, 30L))),
      "per-column distinct must not count (v, w) combinations")
    // retracting one (10, 1) row keeps v=10 alive via (10, 2)
    rw.execute("DELETE FROM dmd_t WHERE id = 1")
    rw.flush()
    assert(state == Map("a" -> ((2L, 2L, 30L))))
    // retracting (10, 2) drops v=10 AND w=2 together
    rw.execute("DELETE FROM dmd_t WHERE id = 2")
    rw.flush()
    assert(state == Map("a" -> ((1L, 1L, 20L))))
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("percentile/median fold via the value-histogram state, doubles exact") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dpc_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", DoubleType))),
      primaryKey = Seq("id"))
    // max(v) shares the histogram key → dk-backed extremum, no re-fetch
    rw.mv("SELECT grp, percentile(v, 0.5) AS p50, median(v) AS med, " +
      "percentile(v, 0.9) AS p90, max(v) AS mx FROM dpc_t GROUP BY grp",
      "dpc_mv")
    val mv = rw.mvByName("dpc_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "exact percentile must fold via the histogram tier (round 12)")
    val t = rw.table("dpc_t").get
    def state: Map[String, (Any, Any, Any, Any)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.get(1), r.get(2), r.get(3), r.get(4)))).toMap
    // duplicated value 20.0 must weight the histogram by its refcount
    t.insert(Seq(Row(1L, "a", 10.0), Row(2L, "a", 20.0), Row(3L, "a", 30.0),
      Row(4L, "a", 20.0), Row(5L, "b", 1.5)))
    rw.flush()
    val evals = mv.statementEvals
    // a: sorted [10,20,20,30] — p50 = 20; p90 at pos 2.7 = 20 + 0.7*10
    assert(state("a") == ((20.0, 20.0, 27.000000000000004, 30.0)))
    assert(state("b") == ((1.5, 1.5, 1.5, 1.5)))
    // retract the maximum: histogram loses one value, percentiles shift,
    // and the dk-backed max re-derives WITHOUT an extremum re-fetch
    rw.execute("DELETE FROM dpc_t WHERE id = 3")
    rw.flush()
    assert(state("a") == ((20.0, 20.0, 20.0, 20.0)))
    // retract ONE of the duplicated 20s: the value stays (refcount 1)
    rw.execute("DELETE FROM dpc_t WHERE id = 4")
    rw.flush()
    assert(state("a") == ((15.0, 15.0, 19.0, 20.0)),
      "sorted [10,20]: p50 interpolates to 15, p90 to 19")
    // NULL values sit in the histogram's NULL row — Percentile ignores it
    t.insert(Seq(Row(6L, "a", null)))
    rw.flush()
    assert(state("a") == ((15.0, 15.0, 19.0, 20.0)))
    // group b vanishes with its last row
    rw.execute("DELETE FROM dpc_t WHERE grp = 'b'")
    rw.flush()
    assert(!state.contains("b"))
    assert(mv.statementEvals == evals,
      "percentile fold epochs must not re-evaluate the statement")
    rw.close()
  }

  test("percentile matches batch evaluation over a replayed interleaving") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dpb_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", DoubleType))),
      primaryKey = Seq("id"))
    val stmt = "SELECT grp, percentile(v, 0.25) AS q1, median(v) AS med, " +
      "stddev_samp(CAST(v AS BIGINT)) AS sd, count(DISTINCT v) AS dv " +
      "FROM dpb_t GROUP BY grp"
    rw.mv(stmt, "dpb_mv")
    val mv = rw.mvByName("dpb_mv").get
    assert(mv.isDeltaAggMode,
      "stddev must re-aggregate exactly over the two-level state")
    val t = rw.table("dpb_t").get
    val rnd = new scala.util.Random(42)
    var nextId = 0L
    for (_ <- 0 until 6) {
      // unique ids per batch (in-batch upsert order is not the property
      // under test); a mix of fresh ids and overwrites of earlier ones
      val ops = (0 until 10).map { _ =>
        nextId += 1
        val id = if (rnd.nextBoolean() && nextId > 4)
          rnd.nextLong(nextId) + 1 else nextId
        id -> Row(id, s"g${rnd.nextInt(3)}", (rnd.nextInt(9) + 1) * 10.0)
      }.toMap.values.toSeq
      t.insert(ops)
      if (rnd.nextBoolean()) rw.execute(
        s"DELETE FROM dpb_t WHERE id = ${rnd.nextLong(nextId) + 1}")
      rw.flush()
      val got = mv.df.collect().map(r => (r.getString(0), r.get(1), r.get(2),
        r.get(3), r.get(4))).toSet
      val want = rw.fetch(stmt)
        .map(r => (r.getString(0), r.get(1), r.get(2),
          r.get(3), r.get(4))).toSet
      // doubles: percentiles bit-match (same multiset, same interpolation);
      // stddev compares within an epsilon (different summation order)
      def close(a: Any, b: Any): Boolean = (a, b) match {
        case (null, null) => true
        case (x: Double, y: Double) => math.abs(x - y) < 1e-9
        case (x, y) => x == y
      }
      val wantByKey = want.map(w => w._1 -> w).toMap
      assert(got.size == want.size && got.forall { g =>
        wantByKey.get(g._1).exists(w =>
          close(g._2, w._2) && close(g._3, w._3) &&
          close(g._4, w._4) && g._5 == w._5)
      }, s"fold diverged from batch:\ngot  $got\nwant $want")
    }
    rw.close()
  }

  test("MIN/MAX(DISTINCT) normalize; multi-arg COUNT(DISTINCT) counts tuples") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dmm_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", LongType),
      StructField("w", LongType))), primaryKey = Seq("id"))
    rw.mv("SELECT grp, max(DISTINCT v) AS mx, min(DISTINCT v) AS mn, " +
      "count(DISTINCT v, w) AS pairs FROM dmm_t GROUP BY grp", "dmm_mv")
    val mv = rw.mvByName("dmm_mv").get
    assert(mv.isDeltaAggMode,
      "MIN/MAX(DISTINCT) ≡ MIN/MAX — must not block the fold")
    val t = rw.table("dmm_t").get
    def state: Map[String, (Long, Long, Long)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // (10,1) appears twice → one tuple; three distinct (v,w) pairs
    t.insert(Seq(Row(1L, "a", 10L, 1L), Row(2L, "a", 10L, 1L),
      Row(3L, "a", 10L, 2L), Row(4L, "a", 20L, 1L)))
    rw.flush()
    assert(state == Map("a" -> ((20L, 10L, 3L))))
    // retract the only v=20 row: max falls back to 10, pairs drop to 2
    rw.execute("DELETE FROM dmm_t WHERE id = 4")
    rw.flush()
    assert(state == Map("a" -> ((10L, 10L, 2L))))
    // a NULL in either column keeps the tuple out of the count
    t.insert(Seq(Row(5L, "a", 30L, null)))
    rw.flush()
    assert(state == Map("a" -> ((30L, 10L, 2L))),
      "COUNT(DISTINCT v, w) must skip tuples with any NULL; max sees 30")
    rw.close()
  }

  test("max_by/min_by fold; only ordering retractions re-fetch; bool slots") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dab_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", LongType),
      StructField("ord", LongType), StructField("b", BooleanType))),
      primaryKey = Seq("id"))
    rw.mv("SELECT grp, max_by(v, ord) AS latest, min_by(v, ord) AS first, " +
      "bool_and(b) AS allb, bool_or(b) AS anyb, count_if(b) AS nb " +
      "FROM dab_t GROUP BY grp", "dab_mv")
    val mv = rw.mvByName("dab_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "max_by/bool_and/count_if must delta-accumulate (round 12)")
    val t = rw.table("dab_t").get
    def state: Map[String, (Any, Any, Any, Any, Long)] =
      mv.df.collect().map(r => r.getString(0) ->
        ((r.get(1), r.get(2), r.get(3), r.get(4), r.getLong(5)))).toMap
    t.insert(Seq(Row(1L, "a", 100L, 1L, true), Row(2L, "a", 200L, 5L, false),
      Row(3L, "a", 300L, 3L, true)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == Map("a" -> ((200L, 100L, false, true, 2L))))

    // a higher ordering value folds directly — no re-fetch
    t.insert(Seq(Row(4L, "a", 400L, 9L, true)))
    rw.flush()
    assert(state("a") == ((400L, 100L, false, true, 3L)))
    assert(mv.statementEvals == evals,
      "a new ordering maximum must fold without re-fetch")

    // retracting a NON-extremum ordering row also folds directly (its
    // false bool retracts via the MIN slot's own safety test)
    rw.execute("DELETE FROM dab_t WHERE id = 2")
    rw.flush()
    assert(state("a")._1 == 400L && state("a")._5 == 3L)

    // retracting the ordering MAXIMUM re-fetches: the runner-up argument
    // (ord=3 → v=300) is not derivable from the carried [arg, ord] pair
    val evals2 = mv.statementEvals
    rw.execute("DELETE FROM dab_t WHERE id = 4")
    rw.flush()
    assert(state("a") == ((300L, 100L, true, true, 2L)))
    assert(mv.statementEvals == evals2 + 1,
      "retracting the ordering extremum must re-fetch exactly once")
    assert(mv.isDeltaAggMode, "re-fetch must not demote the fold")

    // NULL ordering rows are invisible to max_by/min_by
    t.insert(Seq(Row(5L, "a", 999L, null, null)))
    rw.flush()
    assert(state("a")._1 == 300L && state("a")._2 == 100L)
    // bool slots ignore the NULL b too
    assert(state("a")._3 == true && state("a")._5 == 2L)
    rw.close()
  }

  test("corr/covar fold via signed co-moments; NULL edges match Spark") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dcv_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("x", LongType),
      StructField("y", LongType))), primaryKey = Seq("id"))
    val stmt = "SELECT grp, round(corr(x, y), 4) AS c, " +
      "round(covar_samp(x, y), 4) AS cs, round(covar_pop(x, y), 4) AS cp " +
      "FROM dcv_t GROUP BY grp"
    rw.mv(stmt, "dcv_mv")
    val mv = rw.mvByName("dcv_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "bivariate stats over integral children must fold (round 12)")
    val t = rw.table("dcv_t").get
    def state: Map[String, (Any, Any, Any)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.get(1), r.get(2), r.get(3)))).toMap
    def batch: Map[String, (Any, Any, Any)] =
      rw.fetch(stmt).map(r =>
        r.getString(0) -> ((r.get(1), r.get(2), r.get(3)))).toMap
    // perfectly correlated pair + a row with a NULL side (skipped whole)
    t.insert(Seq(Row(1L, "a", 1L, 2L), Row(2L, "a", 3L, 6L),
      Row(3L, "a", 2L, null), Row(4L, "b", 5L, 7L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state("a") == ((1.0, 4.0, 2.0)),
      "NULL-sided rows must be invisible to every moment")
    // single pair: corr/covar_samp NULL, covar_pop 0 (Spark's edges)
    assert(state("b") == ((null, null, 0.0)))
    assert(state == batch)
    // retraction: dropping the second pair sends a back to the n=1 edges
    rw.execute("DELETE FROM dcv_t WHERE id = 2")
    rw.flush()
    assert(state("a") == ((null, null, 0.0)))
    assert(state == batch)
    // anti-correlated insert wave; zero-variance x for group b. The MV
    // face surfaces NULL corr there (the SQL/DuckDB/RisingWave stance);
    // Spark's NATIVE corr under ANSI raises DIVIDE_BY_ZERO on that very
    // group, so the batch parity check excludes it — the MV being total
    // where the ad-hoc query throws is the intended behavior
    t.insert(Seq(Row(5L, "a", 10L, 0L), Row(6L, "b", 5L, 9L)))
    rw.flush()
    assert(state("a")._1 == -1.0)
    assert(state("b")._1 == null,
      "zero x-variance must yield NULL corr (divide-by-zero → NULL)")
    val batchA = rw.fetch(stmt.replace("GROUP BY grp",
        "WHERE grp = 'a' GROUP BY grp"))
      .map(r => r.getString(0) -> ((r.get(1), r.get(2), r.get(3)))).toMap
    assert(Map("a" -> state("a")) == batchA)
    assert(mv.statementEvals == evals,
      "co-moment folds must never re-evaluate the statement")
    rw.close()
  }

  test("regr_* family folds from the shared co-moment state") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("drg_t", StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("x", LongType),
      StructField("y", LongType))), primaryKey = Seq("id"))
    val stmt = "SELECT grp, round(regr_slope(y, x), 4) AS sl, " +
      "round(regr_intercept(y, x), 4) AS ic, round(regr_r2(y, x), 4) AS r2, " +
      "regr_count(y, x) AS n, round(regr_avgx(y, x), 4) AS ax, " +
      "round(regr_avgy(y, x), 4) AS ay, round(regr_sxx(y, x), 4) AS sxx, " +
      "round(regr_sxy(y, x), 4) AS sxy, round(regr_syy(y, x), 4) AS syy " +
      "FROM drg_t GROUP BY grp"
    rw.mv(stmt, "drg_mv")
    val mv = rw.mvByName("drg_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "the regr family must fold via the shared co-moments (round 12)")
    val t = rw.table("drg_t").get
    def state: Map[String, Seq[Any]] =
      mv.df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // x={1,2,3}, y={2,4,7}: slope 2.5, intercept −2/3, r² 25/(2·38/3),
    // plus a NULL-sided row (invisible) and a single-pair group
    t.insert(Seq(Row(1L, "a", 1L, 2L), Row(2L, "a", 2L, 4L),
      Row(3L, "a", 3L, 7L), Row(4L, "a", 9L, null),
      Row(5L, "b", 5L, 7L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state("a") == Seq(2.5, -0.6667, 0.9868, 3L, 2.0, 4.3333, 2.0,
      5.0, 12.6667))
    // single pair: count 1, averages defined, moments 0, fits NULL
    assert(state("b") == Seq(null, null, null, 1L, 5.0, 7.0, 0.0, 0.0, 0.0))
    // retract the outlier pair: the fit over {(1,2),(2,4)} is exact
    rw.execute("DELETE FROM drg_t WHERE id = 3")
    rw.flush()
    assert(state("a") == Seq(2.0, 0.0, 1.0, 2L, 1.5, 3.0, 0.5, 1.0, 2.0))
    assert(mv.statementEvals == evals,
      "co-moment folds must never re-evaluate the statement")
    // batch parity on the non-degenerate group (native regr under ANSI
    // can throw on zero-variance groups; the fold surfaces NULL there)
    val batchA = rw.fetch(stmt.replace("GROUP BY grp",
        "WHERE grp = 'a' GROUP BY grp"))
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(Map("a" -> state("a")) == batchA)
    rw.close()
  }

  test("FILTERed aggregates fold; the predicate gates partials and re-fetches") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dfl_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) FILTER (WHERE v > 10) AS nbig, " +
      "sum(v) FILTER (WHERE v % 20 = 0) AS se, " +
      "max(v) FILTER (WHERE v < 100) AS mx FROM dfl_t GROUP BY grp", "dfl_mv")
    val mv = rw.mvByName("dfl_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "FILTERed plain aggregates must fold (round 12)")
    val t = rw.table("dfl_t").get
    def state: Map[String, (Long, Any, Any)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.get(2), r.get(3)))).toMap
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "a", 150L)))
    rw.flush()
    val evals = mv.statementEvals
    // nbig: {20, 150}; se: {20}; mx < 100: {10, 20} → 20
    assert(state == Map("a" -> ((2L, 20L, 20L))))
    // retracting a row the filters exclude from mx (150 ≥ 100) must not
    // trigger the extremum re-fetch; nbig decrements
    rw.execute("DELETE FROM dfl_t WHERE id = 3")
    rw.flush()
    assert(state == Map("a" -> ((1L, 20L, 20L))))
    assert(mv.statementEvals == evals,
      "a retraction outside the extremum filter must fold without re-fetch")
    // retracting the filtered maximum re-fetches under the SAME predicate
    rw.execute("DELETE FROM dfl_t WHERE id = 2")
    rw.flush()
    assert(state == Map("a" -> ((0L, null, 10L))),
      "sum over zero passing rows is NULL; the filtered max falls to 10")
    assert(mv.statementEvals == evals + 1,
      "retracting the filtered extremum re-fetches exactly once")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("aggregate over an UPSTREAM MV changelog folds (agg→agg chain, round 12)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("dup_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM dup_t GROUP BY grp",
      "dup_up")
    // the rollup reads dup_up's CHANGELOG — with the MV-source admission
    // it must delta-accumulate instead of recomputing touched groups
    // against the upstream snapshot
    rw.mv("SELECT substring(grp, 1, 1) AS g, CAST(sum(n) AS BIGINT) AS total, " +
      "CAST(sum(sv) AS BIGINT) AS sums, max(sv) AS mx FROM dup_up " +
      "GROUP BY substring(grp, 1, 1)", "dup_dn")
    val up = rw.mvByName("dup_up").get
    val dn = rw.mvByName("dup_dn").get
    assert(up.isDeltaAggMode, "the table-sourced upstream folds as before")
    assert(dn.isChangelogCascadeMode && dn.isDeltaAggMode,
      "an aggregate over an MV changelog must fold (round 12)")
    val t = rw.table("dup_t").get
    def state: Map[String, (Long, Long, Any)] =
      dn.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
    t.insert(Seq(Row(1L, "a1", 10L), Row(2L, "a2", 20L), Row(3L, "b1", 5L)))
    rw.flush()
    val evals = dn.statementEvals
    assert(state == Map("a" -> ((2L, 30L, 20L)), "b" -> ((1L, 5L, 5L))))
    // the upstream emits an Update pair for a2's bumped aggregate row.
    // The retracted old row (sv=20) TIES the downstream's carried max —
    // exactly one delta-restricted extremum re-fetch, then the signed
    // merge folds the install side
    t.insert(Seq(Row(4L, "a2", 7L)))
    rw.flush()
    assert(state("a") == ((3L, 37L, 27L)),
      "a2's (2, 27) row replaces (1, 20): totals 1+2, 10+27, max 27")
    assert(dn.statementEvals == evals + 1,
      "replacing the extremum row must re-fetch exactly once")
    // deleting a1's only row: the upstream group vanishes; the downstream
    // max(sv) sees a non-extremum retraction (10 < 27) and folds with NO
    // further evaluation
    rw.execute("DELETE FROM dup_t WHERE id = 1")
    rw.flush()
    assert(state("a") == ((2L, 27L, 27L)))
    assert(dn.statementEvals == evals + 1,
      "a non-extremum retraction folds without re-evaluating")
    assert(dn.isDeltaAggMode, "the re-fetch must not demote the fold")
    // final parity against a batch evaluation of the same chain
    val batch = rw.fetch("SELECT substring(grp, 1, 1) AS g, " +
        "CAST(sum(n) AS BIGINT) AS total, CAST(sum(sv) AS BIGINT) AS sums, " +
        "max(sv) AS mx FROM dup_up GROUP BY substring(grp, 1, 1)")
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
    assert(state == batch)
    rw.close()
  }

  test("string_agg/collect_list fold via the histogram state; retracted values leave the concat") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("s", StringType)))
    rw.createTable("sag_t", sch, primaryKey = Seq("id"))
    // ASC + DESC listagg and a sorted collect_list share ONE dk column;
    // the refcounted state rebuilds each face at the visible boundary
    rw.mv("SELECT grp, listagg(s, ',') WITHIN GROUP (ORDER BY s) AS sa, " +
      "listagg(s, '+') WITHIN GROUP (ORDER BY s DESC) AS sad, " +
      "sort_array(collect_list(s)) AS aa FROM sag_t GROUP BY grp", "sag_mv")
    val mv = rw.mvByName("sag_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "order-sensitive aggregates must fold via the histogram tier (round 13)")
    val t = rw.table("sag_t").get
    def state: Map[String, (Any, Any, Seq[String])] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.get(1), r.get(2), r.getSeq[String](3)))).toMap
    // two rows share s=x: refcount 2 -> x appears twice in every face
    t.insert(Seq(Row(1L, "a", "x"), Row(2L, "a", "x"), Row(3L, "a", "m"),
      Row(4L, "b", "q")))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == Map(
      "a" -> (("m,x,x", "x+x+m", Seq("m", "x", "x"))),
      "b" -> (("q", "q", Seq("q")))))
    // retract ONE of the two x refs: exactly one x leaves the concat
    rw.execute("DELETE FROM sag_t WHERE id = 1")
    rw.flush()
    assert(state("a") == (("m,x", "x+m", Seq("m", "x"))))
    // upsert moves id=2 to a new value: x vanishes entirely, y appears
    t.insert(Seq(Row(2L, "a", "y")))
    rw.flush()
    assert(state("a") == (("m,y", "y+m", Seq("m", "y"))))
    // an all-NULL group: listagg surfaces NULL, collect_list an empty array
    t.insert(Seq(Row(5L, "c", null)))
    rw.flush()
    assert(state("c") == ((null, null, Seq())))
    // group b vanishes with its last row
    rw.execute("DELETE FROM sag_t WHERE grp = 'b'")
    rw.flush()
    assert(!state.contains("b"))
    assert(mv.statementEvals == evals,
      "order-sensitive fold epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("string_agg ordered by ANOTHER column folds via the composite-key histogram (round 14)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("s", StringType),
      StructField("ts", LongType)))
    rw.createTable("sao_t", sch, primaryKey = Seq("id"))
    // the everyday report shape: concat ordered by a DIFFERENT column —
    // the state keys the composite (ts, s) tuple and the rebuild sorts
    // structs on the full composite before extracting the value
    rw.mv("SELECT grp, listagg(s, ',') WITHIN GROUP (ORDER BY ts) AS sa, " +
      "listagg(s, '+') WITHIN GROUP (ORDER BY ts DESC) AS sad, " +
      "count(*) AS n FROM sao_t GROUP BY grp", "sao_mv")
    val mv = rw.mvByName("sao_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "listagg ordered by another column must fold (round 14)")
    val t = rw.table("sao_t").get
    def state: Map[String, (Any, Any, Long)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.get(1), r.get(2), r.getLong(3)))).toMap
    // values deliberately NOT in ordkey order; two rows share (ts=30, s=w)
    // so the composite refcount reaches 2
    t.insert(Seq(Row(1L, "a", "z", 10L), Row(2L, "a", "m", 20L),
      Row(3L, "a", "w", 30L), Row(4L, "a", "w", 30L), Row(5L, "b", "k", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == Map(
      "a" -> (("z,m,w,w", "w+w+m+z", 4L)),
      "b" -> (("k", "k", 1L))))
    // the retracted row changes the ORDER of survivors: removing the
    // ts=10 head row promotes m to the front; one w ref leaves too
    rw.execute("DELETE FROM sao_t WHERE id = 1")
    rw.execute("DELETE FROM sao_t WHERE id = 3")
    rw.flush()
    assert(state("a") == (("m,w", "w+m", 2L)))
    // an upsert MOVES a value within the order: m jumps past w via its
    // new ordkey — the old (20, m) composite retracts, (99, m) installs
    t.insert(Seq(Row(2L, "a", "m", 99L)))
    rw.flush()
    assert(state("a") == (("w,m", "m+w", 2L)))
    // a NULL ordkey sorts NULLS FIRST ascending / NULLS LAST descending
    // (the direction defaults struct comparison reproduces)
    t.insert(Seq(Row(6L, "a", "n", null)))
    rw.flush()
    assert(state("a") == (("n,w,m", "m+w+n", 3L)))
    // NULL values still drop from the concat but count in n
    t.insert(Seq(Row(7L, "a", null, 1L)))
    rw.flush()
    assert(state("a") == (("n,w,m", "m+w+n", 4L)))
    assert(mv.statementEvals == evals,
      "ordered-listagg fold epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    // batch parity on the final state
    val batch = rw.fetch("SELECT grp, listagg(s, ',') WITHIN GROUP (ORDER BY ts) AS sa, " +
        "listagg(s, '+') WITHIN GROUP (ORDER BY ts DESC) AS sad, " +
        "count(*) AS n FROM sao_t GROUP BY grp")
      .map(r => r.getString(0) -> ((r.get(1), r.get(2), r.getLong(3)))).toMap
    assert(state == batch)
    rw.close()
  }

  test("insert-only approx_count_distinct folds a merge-only sketch; first retraction demotes") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("hll_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, approx_count_distinct(v) AS ad, count(*) AS n " +
      "FROM hll_t GROUP BY grp", "hll_mv")
    val mv = rw.mvByName("hll_mv").get
    assert(mv.isChangelogCascadeMode && mv.isDeltaAggMode,
      "approx_count_distinct over a PK table must fold merge-only (round 13)")
    val t = rw.table("hll_t").get
    def state: Map[String, (Long, Long)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // unique ids, never overwritten: pure inserts -> the sketch unions
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 10L), Row(3L, "a", 20L),
      Row(4L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    // HLL is exact at tiny cardinalities — both sketches agree with exact
    assert(state == Map("a" -> ((2L, 3L)), "b" -> ((1L, 1L))))
    t.insert(Seq(Row(5L, "a", 30L), Row(6L, "b", 5L)))
    rw.flush()
    assert(state == Map("a" -> ((3L, 4L)), "b" -> ((1L, 2L))))
    assert(mv.statementEvals == evals,
      "insert-only sketch epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    // FIRST retraction (PK overwrite 10→99: a gains a 4th distinct value):
    // the sketch cannot subtract — the fold demotes to touched-group
    // recompute, values stay correct
    t.insert(Seq(Row(2L, "a", 99L)))
    rw.flush()
    assert(state == Map("a" -> ((4L, 4L)), "b" -> ((1L, 2L))),
      "post-demotion recompute must keep exact small-set parity")
    assert(!mv.isDeltaAggMode,
      "a retraction must demote the merge-only sketch fold for good")
    // later epochs keep maintaining correctly in recompute mode
    rw.execute("DELETE FROM hll_t WHERE grp = 'b'")
    rw.flush()
    assert(state == Map("a" -> ((4L, 4L))))
    rw.close()
  }

  test("over-bound aux state takes the delta-segment stack with periodic compaction") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("seg_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT grp, count(*) AS n, sum(v) AS sv FROM seg_t GROUP BY grp",
      "seg_mv")
    val mv = rw.mvByName("seg_mv").get
    assert(mv.isDeltaAggMode)
    // shrink the driver bound below the group count so the FIRST fold
    // epoch outgrows the no-base tier, and compact every 2 epochs so one
    // test run exercises the overlay AND the flat checkpoint
    mv.cascadeLocalMax = 4
    mv.compactEvery = 2
    val t = rw.table("seg_t").get
    def state: Map[String, (Long, Long)] =
      mv.df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def batchParity(tag: String): Unit = {
      val batch = rw.fetch("SELECT grp, count(*) AS n, sum(v) AS sv FROM seg_t GROUP BY grp")
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(state == batch, s"$tag: maintained state must equal batch")
    }
    t.insert((1L to 6L).map(i => Row(i, s"g$i", i * 10)))
    rw.flush()
    val evals = mv.statementEvals
    assert(state == (1L to 6L).map(i => s"g$i" -> ((1L, i * 10))).toMap)
    assert(!mv.auxStateIsLocal,
      "six state rows over a bound of four must leave the no-base tier")
    // epoch 2: the first over-bound epoch carries through the overlay
    t.insert(Seq(Row(7L, "g1", 5L), Row(8L, "g7", 70L)))
    rw.flush()
    assert(state("g1") == ((2L, 15L)) && state("g7") == ((1L, 70L)))
    assert(mv.overlayEpochs > 0,
      "the over-bound epoch must run through the overlay, not the mergeParts stack")
    batchParity("epoch 2")
    // epoch 3 triggers the periodic compaction (compactEvery = 2);
    // retraction + vanish still fold correctly through the overlay
    rw.execute("DELETE FROM seg_t WHERE grp = 'g2'")
    rw.flush()
    assert(!state.contains("g2"))
    batchParity("epoch 3")
    // epochs 4-5, one overlay window over the compacted checkpoint: g4
    // vanishes, then comes back as a new group, so the touched-but-vanished
    // key must fold from nothing; epoch 5 compacts again
    rw.execute("DELETE FROM seg_t WHERE grp = 'g4'")
    rw.flush()
    assert(!state.contains("g4"))
    batchParity("epoch 4")
    t.insert(Seq(Row(2L, "g3", 3L), Row(9L, "g4", 7L), Row(10L, "g4", 8L)))
    rw.flush()
    assert(state("g3") == ((2L, 33L)) && state("g4") == ((2L, 15L)))
    batchParity("epoch 5")
    // epoch 6: g4 and g1 revisited after the flat re-base, so their old
    // rows come from the new base, not the cleared overlay
    t.insert(Seq(Row(11L, "g4", 1L), Row(12L, "g1", 2L)))
    rw.flush()
    assert(state("g4") == ((3L, 16L)) && state("g1") == ((3L, 17L)))
    batchParity("epoch 6")
    assert(mv.overlayEpochs == 5, s"epochs 2-6 must all carry, ran ${mv.overlayEpochs}")
    assert(mv.statementEvals == evals,
      "over-bound epochs must not re-evaluate the statement")
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  /** A BYTEA-keyed count/sum fold against batch after every epoch. Byte
    * arrays hash by identity inside Row.hashCode, so a Row-keyed driver
    * map would miss equal keys: the tiers keyed that way must refuse. */
  private def byteaGroupParity(tag: String, tune: MaterializedView => Unit): Unit = {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    val tbl = s"bya_${tag}_t"
    rw.createTable(tbl, StructType(Seq(StructField("id", LongType),
      StructField("g", BinaryType), StructField("v", LongType))), primaryKey = Seq("id"))
    val sql = s"SELECT g, count(*) AS n, sum(v) AS sv FROM $tbl GROUP BY g"
    rw.mv(sql, s"bya_${tag}_mv")
    val mv = rw.mvByName(s"bya_${tag}_mv").get
    assert(mv.isDeltaAggMode)
    tune(mv)
    def hex(rows: Seq[Row]): Seq[(String, Long, Long)] = rows.map(r =>
      (r.getAs[Array[Byte]](0).map(b => f"$b%02x").mkString, r.getLong(1), r.getLong(2))).sorted
    def parity(step: String): Unit = {
      val face = hex(mv.df.collect().toSeq)
      assert(face == hex(rw.fetch(sql)), s"$step: face $face must equal batch")
    }
    val t = rw.table(tbl).get
    t.insert(Seq(Row(1L, Array[Byte](1), 10L), Row(2L, Array[Byte](2), 20L)))
    rw.flush()
    parity("epoch 1")
    t.insert(Seq(Row(3L, Array[Byte](1), 5L)))
    rw.flush()
    parity("epoch 2")
    // upsert moves id 2 into the \x01 group: \x02 vanishes
    t.insert(Seq(Row(2L, Array[Byte](1), 7L)))
    rw.flush()
    parity("epoch 3")
    assert(hex(mv.df.collect().toSeq) == Seq(("01", 3L, 22L)))
    assert(mv.isDeltaAggMode)
    rw.close()
  }

  test("BYTEA group keys fold to the batch result in the driver tiers") {
    byteaGroupParity("local", _ => ())
  }

  test("BYTEA group keys fold to the batch result past the driver bound") {
    byteaGroupParity("ob", _.cascadeLocalMax = 0)
  }
}
