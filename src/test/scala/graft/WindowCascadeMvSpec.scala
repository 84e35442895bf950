package graft

import graft.engine._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Window-function MVs (round 10; lineage-generalized round 11):
  * statements whose window nodes sit on one chain over a single changelog
  * source maintain by touched-PARTITION recompute — a source delta names
  * the key partitions whose results can change, exactly those re-rank
  * (semi-join pushed below the bottom Window), and their slice of the
  * carried multiset is replaced. Round 11 admits expression PARTITION BY
  * keys (traced by exprId lineage, evaluated on the delta payload),
  * window-below-aggregate when the grouping covers the keys, and multiple
  * windows sharing keys; global windows stay on the always-correct batch
  * fallback. */
class WindowCascadeMvSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("v", LongType)))

  private def rows(mv: MaterializedView): Set[(Long, String, Long, Long)] =
    mv.df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  test("rank-per-partition MV maintains by touched-partition recompute") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wc_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT id, grp, v, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r FROM wc_t", "wc_mv")
    val mv = rw.mvByName("wc_mv").get
    assert(mv.isWindowCascadeMode,
      "a partitioned window MV must maintain incrementally (round 10)")
    val t = rw.table("wc_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    assert(rows(mv) == Set((1L, "a", 10L, 2L), (2L, "a", 20L, 1L), (3L, "b", 5L, 1L)))

    // a new maximum re-ranks ONLY partition a; partition b untouched
    t.insert(Seq(Row(4L, "a", 30L)))
    rw.flush()
    assert(rows(mv) == Set((1L, "a", 10L, 3L), (2L, "a", 20L, 2L),
      (4L, "a", 30L, 1L), (3L, "b", 5L, 1L)))
    assert(mv.statementEvals == evals + 1,
      "each epoch re-evaluates once, partition-restricted")
    // the recompute's semi join must sit BELOW the Window (Catalyst
    // pushdown on the partition attribute), or every epoch re-ranks all
    val plan = mv.lastWindowEpochPlan.getOrElse(fail("no epoch plan recorded"))
    assert(plan.indexOf("Window") < plan.indexOf("Join"),
      s"the touched-partition semi join must push below the Window:\n$plan")

    // upsert moves id=2 ACROSS partitions: both re-rank
    t.insert(Seq(Row(2L, "b", 7L)))
    rw.flush()
    assert(rows(mv) == Set((1L, "a", 10L, 2L), (4L, "a", 30L, 1L),
      (2L, "b", 7L, 1L), (3L, "b", 5L, 2L)))

    // DELETE the maximum of a: ranks shift up
    rw.execute("DELETE FROM wc_t WHERE id = 4")
    rw.flush()
    assert(rows(mv) == Set((1L, "a", 10L, 1L),
      (2L, "b", 7L, 1L), (3L, "b", 5L, 2L)))
    assert(mv.isWindowCascadeMode, "DML must not demote the window cascade")
    rw.close()
  }

  test("running-sum window over an append-only table cascades too") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wcs_t", schema) // no PK — plain Insert changelog
    rw.mv("SELECT id, grp, v, CAST(sum(v) OVER " +
      "(PARTITION BY grp ORDER BY id) AS BIGINT) AS rs FROM wcs_t", "wcs_mv")
    val mv = rw.mvByName("wcs_mv").get
    assert(mv.isWindowCascadeMode)
    val t = rw.table("wcs_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    t.insert(Seq(Row(4L, "a", 1L), Row(5L, "b", 2L)))
    rw.flush()
    assert(rows(mv) == Set((1L, "a", 10L, 10L), (2L, "a", 20L, 30L),
      (4L, "a", 1L, 31L), (3L, "b", 5L, 5L), (5L, "b", 2L, 7L)))
    rw.close()
  }

  test("window changelog folds downstream: an aggregate cascades on the window MV") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wcc_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT id, grp, v, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r FROM wcc_t", "wcc_win")
    rw.mv("SELECT grp, count(*) AS top2 FROM wcc_win WHERE r <= 2 GROUP BY grp",
      "wcc_agg")
    assert(rw.mvByName("wcc_win").get.isWindowCascadeMode)
    assert(rw.mvByName("wcc_agg").get.isChangelogCascadeMode,
      "an aggregate over the window MV must consume its changelog")
    val t = rw.table("wcc_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "a", 30L)))
    rw.flush()
    assert(rw.mvByName("wcc_agg").get.df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("a", 2L)))
    rw.execute("DELETE FROM wcc_t WHERE id = 3")
    rw.flush()
    assert(rw.mvByName("wcc_agg").get.df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("a", 2L)))
    rw.close()
  }

  test("global / non-covering window shapes fold via the prefix cut (round 12)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wcf_t", schema, primaryKey = Seq("id"))
    // global (un-partitioned) window: the KEYED cascade refuses (every
    // delta touches the one partition), so the prefix-fold mode carries
    // the window INPUT multiset and re-ranks it ⊕ delta — never the source
    rw.mv("SELECT id, CAST(rank() OVER (ORDER BY v DESC, id) AS BIGINT) AS r " +
      "FROM wcf_t", "wcf_global")
    val gmv = rw.mvByName("wcf_global").get
    assert(!gmv.isWindowCascadeMode && gmv.isGlobalWindowMode,
      "a global window must fold via the prefix cut (round 12)")
    // window BELOW an aggregate whose grouping does NOT cover the window's
    // partition key: keyed slice replacement is unsound, but the suffix
    // re-evaluates wholesale over the carried input — global mode takes it
    rw.mv("SELECT CAST(count(*) AS BIGINT) AS n_top FROM (SELECT CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS rr FROM wcf_t) " +
      "WHERE rr = 1", "wcf_agg_mix")
    assert(!rw.mvByName("wcf_agg_mix").get.isChangelogCascadeMode &&
      !rw.mvByName("wcf_agg_mix").get.isWindowCascadeMode &&
      rw.mvByName("wcf_agg_mix").get.isGlobalWindowMode)
    // window-function top-N inner: the raw fold would rank the DELTA
    // alone; the suffix (Sort+Limit above the window) re-evaluates over
    // carried state instead
    rw.mv("SELECT id, grp, v, rank() OVER (PARTITION BY grp ORDER BY v DESC, id) AS r " +
      "FROM wcf_t ORDER BY v DESC, id LIMIT 3", "wcf_topn")
    assert(!rw.mvByName("wcf_topn").get.isTopNMode &&
      !rw.mvByName("wcf_topn").get.isChangelogCascadeMode &&
      rw.mvByName("wcf_topn").get.isGlobalWindowMode)
    val t = rw.table("wcf_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    val evals = gmv.statementEvals
    t.insert(Seq(Row(4L, "a", 30L)))
    rw.flush()
    assert(rw.mvByName("wcf_global").get.df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((4L, 1L), (2L, 2L), (1L, 3L), (3L, 4L)))
    assert(rw.mvByName("wcf_agg_mix").get.df.collect()
      .map(_.getLong(0)).toSet == Set(2L))
    assert(rw.mvByName("wcf_topn").get.df.collect()
      .map(r => (r.getLong(0), r.getInt(3))).toSet == Set((4L, 1), (2L, 2), (1L, 3)))
    // zero base re-scans per epoch: the fold binds the delta, the suffix
    // binds carried state — statementEvals stays flat after backfill
    assert(gmv.statementEvals == evals,
      "global-window epochs must not re-evaluate the base statement")
    // retractions fold through the signed minus term: upsert moves id=2,
    // DELETE retracts the maximum
    t.insert(Seq(Row(2L, "b", 40L)))
    rw.execute("DELETE FROM wcf_t WHERE id = 4")
    rw.flush()
    assert(rw.mvByName("wcf_global").get.df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 1L), (1L, 2L), (3L, 3L)))
    assert(gmv.statementEvals == evals && gmv.isGlobalWindowMode,
      "DML must not demote the global-window fold")
    rw.close()
  }

  test("window below an aggregate cascades when the grouping covers the key") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wba_t", schema, primaryKey = Seq("id"))
    // per-partition worst rank: grouping key grp == window partition key,
    // so each output group aggregates exactly one partition's window
    // results — touched-partition replacement is sound (round 11; round
    // 10 kept this shape on the batch fallback)
    rw.mv("SELECT grp, max(rr) AS worst, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT grp, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS rr FROM wba_t) " +
      "GROUP BY grp", "wba_mv")
    val mv = rw.mvByName("wba_mv").get
    assert(mv.isWindowCascadeMode,
      "window-below-aggregate with covering grouping must cascade (round 11)")
    val t = rw.table("wba_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    val evals = mv.statementEvals
    def state() = mv.df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(state() == Set(("a", 2L, 2L), ("b", 1L, 1L)))
    t.insert(Seq(Row(4L, "a", 30L), Row(5L, "a", 1L)))
    rw.flush()
    assert(state() == Set(("a", 4L, 4L), ("b", 1L, 1L)))
    assert(mv.statementEvals == evals + 1, "one partition-restricted eval per epoch")
    // DELETE retracts through: partition a re-ranks, b untouched
    rw.execute("DELETE FROM wba_t WHERE id = 4")
    rw.flush()
    assert(state() == Set(("a", 3L, 3L), ("b", 1L, 1L)))
    assert(mv.isWindowCascadeMode, "DML must not demote the cascade")
    rw.close()
  }

  test("rank-groups-by-aggregate: window ABOVE a GROUP BY restricts below the Aggregate") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wag_t", schema, primaryKey = Seq("id"))
    // per-grp value buckets ranked by their count WITHIN grp: the window
    // partitions by the aggregate's own grouping column, so touched grps
    // re-aggregate from only their source rows (semi-join installed below
    // the Aggregate, not just below the Window) and re-rank
    rw.mv("SELECT grp, vb, n, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY n DESC, vb) AS BIGINT) AS r FROM " +
      "(SELECT grp, CAST(v / 10 AS BIGINT) AS vb, count(*) AS n " +
      "FROM wag_t GROUP BY grp, CAST(v / 10 AS BIGINT))", "wag_mv")
    val mv = rw.mvByName("wag_mv").get
    assert(mv.isWindowCascadeMode,
      "rank-groups-by-aggregate must cascade (round 11)")
    val t = rw.table("wag_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 12L), Row(3L, "a", 25L),
      Row(4L, "b", 5L)))
    rw.flush()
    def state() = mv.df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(state() == Set(("a", 1L, 2L, 1L), ("a", 2L, 1L, 2L), ("b", 0L, 1L, 1L)))
    val evals = mv.statementEvals
    // a delta in grp a re-ranks only a's buckets; b untouched
    t.insert(Seq(Row(5L, "a", 27L), Row(6L, "a", 29L)))
    rw.flush()
    assert(state() == Set(("a", 2L, 3L, 1L), ("a", 1L, 2L, 2L), ("b", 0L, 1L, 1L)))
    assert(mv.statementEvals == evals + 1)
    // the restriction must sit BELOW the Aggregate: otherwise every epoch
    // re-aggregates the whole source and filters above
    val plan = mv.lastWindowEpochPlan.getOrElse(fail("no epoch plan recorded"))
    val lines = plan.linesIterator.toVector
    val aggIdx = lines.indexWhere(l => l.contains("Aggregate"))
    val semiIdx = lines.indexWhere(_.contains("LeftSemi"))
    assert(aggIdx >= 0 && semiIdx > aggIdx,
      s"the touched-partition semi join must install below the Aggregate:\n$plan")
    // retraction through the aggregate into the rank: counts tie at 2,
    // so the vb tiebreaker orders bucket 1 first
    rw.execute("DELETE FROM wag_t WHERE id = 3")
    rw.flush()
    assert(state() == Set(("a", 1L, 2L, 1L), ("a", 2L, 2L, 2L), ("b", 0L, 1L, 1L)))
    assert(mv.isWindowCascadeMode, "DML must not demote the cascade")
    rw.close()
  }

  test("computed alias shadowing a source column is admitted BY LINEAGE and stays correct") {
    // round-11 regression (ADVICE r10, high): the round-10 name-membership
    // admission check saw `PARTITION BY grp` where the inner subquery
    // defines `CASE … END AS grp` over a source that ALSO has a grp
    // column, admitted it, and derived touched partitions from the RAW
    // source grp — which never matches the computed value; the MV silently
    // returned wrong/empty slices. Lineage tracing now derives the key by
    // evaluating the CASE expression on the delta payload, so the shape is
    // both admitted and CORRECT.
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wsh_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT id, grp, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r FROM " +
      "(SELECT id, CASE WHEN v >= 10 THEN 'hi' ELSE 'lo' END AS grp, v FROM wsh_t)",
      "wsh_mv")
    val mv = rw.mvByName("wsh_mv").get
    assert(mv.isWindowCascadeMode, "traceable computed key must admit (round 11)")
    val t = rw.table("wsh_t").get
    // source grp values ('a'/'b') DIFFER from the computed partition
    // values ('hi'/'lo') — the round-10 bug would find zero matching
    // partitions and return an empty/incorrect slice
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "b", 20L), Row(3L, "a", 5L)))
    rw.flush()
    def state() = mv.df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(state() == Set((1L, "hi", 2L), (2L, "hi", 1L), (3L, "lo", 1L)))
    t.insert(Seq(Row(4L, "b", 30L), Row(5L, "b", 3L)))
    rw.flush()
    assert(state() == Set((4L, "hi", 1L), (2L, "hi", 2L), (1L, "hi", 3L),
      (3L, "lo", 1L), (5L, "lo", 2L)))
    rw.execute("DELETE FROM wsh_t WHERE id = 4")
    rw.flush()
    assert(state() == Set((2L, "hi", 1L), (1L, "hi", 2L),
      (3L, "lo", 1L), (5L, "lo", 2L)))
    assert(mv.isWindowCascadeMode)
    rw.close()
  }

  test("window over a LEFT JOIN with a static dim cascades; live padded side too (round 12)") {
    import spark.implicits._
    Seq((1L, "east"), (2L, "west"))
      .toDF("uid", "region").createOrReplaceTempView("wsj_dim") // static
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wsj_t", StructType(Seq(StructField("id", LongType),
      StructField("uid", LongType), StructField("v", LongType))),
      primaryKey = Seq("id"))
    // enriched rank: the padded side is STATIC, so every output row keeps
    // its fact row's key lineage — admissible (round 11; the key column
    // must survive in the output for the state-side slice restriction)
    rw.mv("SELECT t.id, t.uid, d.region, t.v, CAST(rank() OVER " +
      "(PARTITION BY t.uid ORDER BY t.v DESC, t.id) AS BIGINT) AS r " +
      "FROM wsj_t t LEFT JOIN wsj_dim d ON d.uid = t.uid", "wsj_mv")
    val mv = rw.mvByName("wsj_mv").get
    assert(mv.isWindowCascadeMode,
      "a static-padded outer join below the window must admit (round 11)")
    val t = rw.table("wsj_t").get
    t.insert(Seq(Row(1L, 1L, 10L), Row(2L, 1L, 20L), Row(3L, 9L, 5L)))
    rw.flush()
    def state() = mv.df.collect()
      .map(r => (r.getLong(0), Option(r.getString(2)), r.getLong(3), r.getLong(4))).toSet
    assert(state() == Set((1L, Some("east"), 10L, 2L), (2L, Some("east"), 20L, 1L),
      (3L, None, 5L, 1L)), "unmatched facts pad; ranks per uid")
    t.insert(Seq(Row(4L, 1L, 30L)))
    rw.flush()
    assert(state() == Set((1L, Some("east"), 10L, 3L), (2L, Some("east"), 20L, 2L),
      (4L, Some("east"), 30L, 1L), (3L, None, 5L, 1L)))
    assert(mv.isWindowCascadeMode)
    // LIVE padded side (round 12): a dim delta flips enrichment/padding of
    // exactly the fact rows it MATCHES under the join condition — the
    // touched partitions derive by semi-joining the primary's snapshot
    // against the dim delta (the restricted term), and only those re-rank
    rw.createTable("wsj_live", StructType(Seq(StructField("uid", LongType),
      StructField("region", StringType))), primaryKey = Seq("uid"))
    rw.mv("SELECT t.id, t.uid, d.region, t.v, CAST(rank() OVER " +
      "(PARTITION BY t.uid ORDER BY t.v DESC, t.id) AS BIGINT) AS r " +
      "FROM wsj_t t LEFT JOIN wsj_live d ON d.uid = t.uid", "wsj_live_mv")
    val lmv = rw.mvByName("wsj_live_mv").get
    assert(lmv.isWindowCascadeMode,
      "a live padded side with a traceable condition must admit (round 12)")
    def lstate() = lmv.df.collect()
      .map(r => (r.getLong(0), Option(r.getString(2)), r.getLong(4))).toSet
    // dim is empty: every fact row padded
    assert(lstate() == Set((1L, None, 3L), (2L, None, 2L), (4L, None, 1L),
      (3L, None, 1L)))
    val evals = lmv.statementEvals
    // dim INSERT: padding→enrichment flips for uid=1 facts; uid=9 untouched
    rw.table("wsj_live").get.insert(Seq(Row(1L, "east")))
    rw.flush()
    assert(lstate() == Set((1L, Some("east"), 3L), (2L, Some("east"), 2L),
      (4L, Some("east"), 1L), (3L, None, 1L)))
    assert(lmv.statementEvals == evals + 1,
      "one partition-restricted eval per dim epoch")
    // dim DELETE: enrichment→padding flips back (the other direction)
    rw.execute("DELETE FROM wsj_live WHERE uid = 1")
    rw.flush()
    assert(lstate() == Set((1L, None, 3L), (2L, None, 2L), (4L, None, 1L),
      (3L, None, 1L)))
    // primary-side deltas still fold through the payload-key term
    t.insert(Seq(Row(5L, 9L, 50L)))
    rw.flush()
    assert(lstate() == Set((1L, None, 3L), (2L, None, 2L), (4L, None, 1L),
      (5L, None, 1L), (3L, None, 2L)))
    assert(lmv.isWindowCascadeMode, "dim DML must not demote the cascade")
    // a partition key that does NOT survive the output still rejects —
    // the carried state has no slice-restriction spelling for it
    rw.mv("SELECT t.id, d.region, t.v, rank() OVER " +
      "(PARTITION BY t.uid ORDER BY t.v DESC, t.id) AS r " +
      "FROM wsj_t t LEFT JOIN wsj_live d ON d.uid = t.uid", "wsj_nokey_mv")
    assert(!rw.mvByName("wsj_nokey_mv").get.isWindowCascadeMode)
    rw.close()
  }

  test("keyed window over an INNER JOIN of two LIVE tables cascades (round 14)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wij_ev", StructType(Seq(StructField("id", LongType),
      StructField("uid", LongType), StructField("v", LongType))),
      primaryKey = Seq("id"))
    rw.createTable("wij_usr", StructType(Seq(StructField("uid", LongType),
      StructField("name", StringType))), primaryKey = Seq("uid"))
    rw.mv("SELECT e.id, e.uid, u.name, e.v, CAST(rank() OVER " +
      "(PARTITION BY e.uid ORDER BY e.v DESC, e.id) AS BIGINT) AS r " +
      "FROM wij_ev e JOIN wij_usr u ON u.uid = e.uid", "wij_mv")
    val mv = rw.mvByName("wij_mv").get
    assert(mv.isWindowCascadeMode,
      "rank over an INNER join of two live tables must window-cascade (round 14)")
    val ev = rw.table("wij_ev").get
    val us = rw.table("wij_usr").get
    def state() = mv.df.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    def parity(): Unit = {
      val batch = spark.sql("SELECT e.id, e.uid, u.name, e.v, CAST(rank() OVER " +
        "(PARTITION BY e.uid ORDER BY e.v DESC, e.id) AS BIGINT) AS r " +
        "FROM wij_ev e JOIN wij_usr u ON u.uid = e.uid").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
      assert(state() == batch, "cascade state must equal batch re-evaluation")
    }
    us.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    ev.insert(Seq(Row(10L, 1L, 10L), Row(11L, 1L, 20L), Row(12L, 9L, 5L)))
    rw.flush()
    assert(state() == Set((10L, "ann", 10L, 2L), (11L, "ann", 20L, 1L)),
      "unmatched uid=9 must not join")
    parity()
    val evals = mv.statementEvals
    // FACT-side delta: only uid=1's partition re-ranks
    ev.insert(Seq(Row(13L, 1L, 30L)))
    rw.flush()
    assert(state() == Set((10L, "ann", 10L, 3L), (11L, "ann", 20L, 2L),
      (13L, "ann", 30L, 1L)))
    parity()
    // DIM-side delta: late user uid=9 joins the dangling fact — the
    // touched partitions derive from fact ⋈ dim-delta (the round-12
    // restricted term, reused verbatim for the INNER side)
    us.insert(Seq(Row(9L, "zoe")))
    rw.flush()
    assert(state() == Set((10L, "ann", 10L, 3L), (11L, "ann", 20L, 2L),
      (13L, "ann", 30L, 1L), (12L, "zoe", 5L, 1L)))
    parity()
    // DIM retraction: uid=9's partition drops its join outputs entirely
    rw.execute("DELETE FROM wij_usr WHERE uid = 9")
    rw.flush()
    parity()
    // both sides churning in ONE epoch
    us.insert(Seq(Row(3L, "cat"), Row(9L, "ZOE")))
    ev.insert(Seq(Row(14L, 3L, 7L), Row(15L, 1L, 25L)))
    rw.flush()
    parity()
    // dim UPSERT (name change) rewrites the enriched column in place
    us.insert(Seq(Row(1L, "ANN")))
    rw.flush()
    parity()
    assert(mv.isWindowCascadeMode, "no demotion through fact/dim churn and DML")
    assert(mv.statementEvals > evals,
      "epochs run partition-restricted evals (not zero-eval folds)")
    rw.close()
  }

  test("INNER and LEFT live dims compose under one window cascade (round 14)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wmx_ev", StructType(Seq(StructField("id", LongType),
      StructField("uid", LongType), StructField("cat", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    rw.createTable("wmx_usr", StructType(Seq(StructField("uid", LongType),
      StructField("name", StringType))), primaryKey = Seq("uid"))
    rw.createTable("wmx_cat", StructType(Seq(StructField("cid", LongType),
      StructField("label", StringType))), primaryKey = Seq("cid"))
    val stmt = "SELECT e.id, e.uid, u.name, c.label, e.v, CAST(rank() OVER " +
      "(PARTITION BY e.uid ORDER BY e.v DESC, e.id) AS BIGINT) AS r " +
      "FROM wmx_ev e JOIN wmx_usr u ON u.uid = e.uid " +
      "LEFT JOIN wmx_cat c ON c.cid = e.cat"
    rw.mv(stmt, "wmx_mv")
    val mv = rw.mvByName("wmx_mv").get
    assert(mv.isWindowCascadeMode,
      "an INNER live dim and a LEFT live dim must both classify under one primary")
    def parity(): Unit = {
      def shape(rows: Array[Row]) = rows.map(r => (r.getLong(0),
        r.getString(2), Option(r.getString(3)), r.getLong(4), r.getLong(5))).toSet
      assert(shape(mv.df.collect()) == shape(spark.sql(stmt).collect()))
    }
    val ev = rw.table("wmx_ev").get
    rw.table("wmx_usr").get.insert(Seq(Row(1L, "ann"), Row(2L, "bob")))
    rw.table("wmx_cat").get.insert(Seq(Row(7L, "news")))
    ev.insert(Seq(Row(10L, 1L, 7L, 10L), Row(11L, 1L, 8L, 20L), Row(12L, 2L, 7L, 5L)))
    rw.flush(); parity()
    // inner-dim churn: a user appears and disappears
    rw.table("wmx_usr").get.insert(Seq(Row(3L, "cat")))
    ev.insert(Seq(Row(13L, 3L, 8L, 9L)))
    rw.flush(); parity()
    rw.execute("DELETE FROM wmx_usr WHERE uid = 2")
    rw.flush(); parity()
    // padded-dim churn: enrichment flips for cat=8 rows only
    rw.table("wmx_cat").get.insert(Seq(Row(8L, "blog")))
    rw.flush(); parity()
    // all three churn in one epoch
    rw.table("wmx_usr").get.insert(Seq(Row(2L, "BOB")))
    rw.table("wmx_cat").get.insert(Seq(Row(7L, "NEWS")))
    ev.insert(Seq(Row(14L, 1L, 7L, 30L)))
    rw.flush(); parity()
    assert(mv.isWindowCascadeMode, "no demotion through mixed dim churn")
    rw.close()
  }

  test("durable snapshot: window-cascade MV reopens with zero evals and keeps folding") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wcdur").toString
    val rw1 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw1.createTable("wcd_t", schema, primaryKey = Seq("id"))
    val stmt = "SELECT id, grp, v, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r FROM wcd_t"
    rw1.mv(stmt, "wcd_mv")
    assert(rw1.mvByName("wcd_mv").get.isWindowCascadeMode)
    rw1.table("wcd_t").get.insert(
      Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw1.flush()
    rw1.close()

    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw2.mv(stmt, "wcd_mv")
    val mv = rw2.mvByName("wcd_mv").get
    assert(mv.isWindowCascadeMode)
    assert(mv.statementEvals == 0L, "reopen must restore state without evaluating")
    def state() = mv.df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(state() == Set((1L, "a", 10L, 2L), (2L, "a", 20L, 1L), (3L, "b", 5L, 1L)))
    // maintenance resumes from the restored offsets: partition a re-ranks
    rw2.table("wcd_t").get.insert(Seq(Row(4L, "a", 30L)))
    rw2.flush()
    assert(state() == Set((1L, "a", 10L, 3L), (2L, "a", 20L, 2L),
      (4L, "a", 30L, 1L), (3L, "b", 5L, 1L)))
    assert(mv.isWindowCascadeMode)
    rw2.close()
  }

  test("durable snapshot: global-window MV reopens with zero evals and keeps folding") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gwdur").toString
    val rw1 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw1.createTable("gwd_t", schema, primaryKey = Seq("id"))
    val stmt = "SELECT id, v, CAST(rank() OVER (ORDER BY v DESC, id) AS BIGINT) AS r " +
      "FROM gwd_t"
    rw1.mv(stmt, "gwd_mv")
    assert(rw1.mvByName("gwd_mv").get.isGlobalWindowMode)
    rw1.table("gwd_t").get.insert(
      Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw1.flush()
    rw1.close()

    val rw2 = GraftEngine.open(ConnOptions(dataDir = Some(dir)), Some(spark))
    rw2.mv(stmt, "gwd_mv")
    val mv = rw2.mvByName("gwd_mv").get
    assert(mv.isGlobalWindowMode)
    assert(mv.statementEvals == 0L, "reopen must restore BOTH states without evaluating")
    def state() = mv.df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(state() == Set((2L, 20L, 1L), (1L, 10L, 2L), (3L, 5L, 3L)))
    // maintenance resumes from the restored input multiset: the fold and
    // re-rank proceed with still zero base evaluations
    rw2.table("gwd_t").get.insert(Seq(Row(4L, "a", 30L)))
    rw2.flush()
    assert(state() == Set((4L, 30L, 1L), (2L, 20L, 2L), (1L, 10L, 3L), (3L, 5L, 4L)))
    assert(mv.statementEvals == 0L && mv.isGlobalWindowMode)
    rw2.close()
  }

  test("multiple windows sharing partition keys cascade; divergent keys reject") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wmw_t", schema, primaryKey = Seq("id"))
    // two DIFFERENT window specs (rank by v, row_number by id) over the
    // same partition source column: the analyzer builds two Window nodes
    // on one chain; both partition by grp, so the restriction key is grp
    rw.mv("SELECT id, grp, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r, " +
      "CAST(row_number() OVER (PARTITION BY grp ORDER BY id) AS BIGINT) AS seq " +
      "FROM wmw_t", "wmw_mv")
    val mv = rw.mvByName("wmw_mv").get
    assert(mv.isWindowCascadeMode,
      "same-key multi-window statements must cascade (round 11)")
    // windows with NO shared partition key: replacing one key's slice
    // cannot bound the other window's changes — must reject
    rw.mv("SELECT id, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r, " +
      "CAST(row_number() OVER (PARTITION BY v ORDER BY id) AS BIGINT) AS seq " +
      "FROM wmw_t", "wmw_divergent")
    assert(!rw.mvByName("wmw_divergent").get.isWindowCascadeMode)
    val t = rw.table("wmw_t").get
    t.insert(Seq(Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "b", 5L)))
    rw.flush()
    def state() = mv.df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(state() == Set((1L, "a", 2L, 1L), (2L, "a", 1L, 2L), (3L, "b", 1L, 1L)))
    t.insert(Seq(Row(4L, "a", 30L)))
    rw.flush()
    assert(state() == Set((1L, "a", 3L, 1L), (2L, "a", 2L, 2L),
      (4L, "a", 1L, 3L), (3L, "b", 1L, 1L)))
    assert(mv.isWindowCascadeMode)
    rw.close()
  }

  test("a uniform key touching every partition reroutes to the global-window input fold") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wcd_t", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))),
      primaryKey = Seq("id"))
    // id % 10 is a uniform hash: every insert wave touches all 10
    // partitions, so the keyed cascade re-ranks everything each epoch AND
    // pays the per-partition machinery — after two such epochs the
    // degenerate latch reroutes the statement to the global-window input
    // fold (round 13, one-off prefix re-seed, same grouped output state)
    rw.mv("SELECT id, v, CAST(rank() OVER " +
      "(PARTITION BY id % 10 ORDER BY v DESC, id) AS BIGINT) AS r " +
      "FROM wcd_t", "wcd_mv")
    val mv = rw.mvByName("wcd_mv").get
    val t = rw.table("wcd_t").get
    t.insert((0L until 40L).map(i => Row(i, (i * 7 % 41).toDouble)))
    rw.flush()
    assert(mv.isWindowCascadeMode, "keyed statement starts in the cascade")
    def batchParity(): Unit = {
      val batch = rw.fetch("SELECT id, v, CAST(rank() OVER " +
        "(PARTITION BY id % 10 ORDER BY v DESC, id) AS BIGINT) AS r FROM wcd_t")
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val got = mv.df.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got == batch, "maintained face must match batch")
    }
    // two consecutive wholesale epochs fire the latch
    t.insert((40L until 80L).map(i => Row(i, (i * 11 % 43).toDouble)))
    rw.flush()
    assert(mv.isWindowCascadeMode, "one wholesale epoch must not reroute yet")
    t.insert((80L until 120L).map(i => Row(i, (i * 13 % 47).toDouble)))
    rw.flush()
    assert(mv.isGlobalWindowMode && !mv.isWindowCascadeMode,
      "two wholesale-touch epochs must reroute to the global-window fold")
    batchParity()
    // further epochs maintain through the rerouted fold, including
    // retractions (PK overwrite moves a row across partitions)
    t.insert((120L until 160L).map(i => Row(i, (i * 17 % 53).toDouble)))
    rw.flush()
    t.insert(Seq(Row(5L, 999.0)))
    rw.flush()
    assert(mv.isGlobalWindowMode)
    batchParity()
    rw.close()
  }

  test("over-bound grouped state maintains through the driver overlay (round 16)") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("wov_t", schema, primaryKey = Seq("id"))
    rw.mv("SELECT id, grp, v, CAST(rank() OVER " +
      "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r FROM wov_t", "wov_mv")
    val mv = rw.mvByName("wov_mv").get
    assert(mv.isWindowCascadeMode)
    // force the over-bound regime: the grouped state outgrows the overlay's
    // no-base tier past 10 rows and carries over a base from then on —
    // exactly the ScaleProbe 1M shape, shrunk to spec scale. The bound is
    // set BEFORE the first insert.
    mv.cascadeLocalMax = 10
    val t = rw.table("wov_t").get
    def batchParity(tag: String): Unit = {
      val got = mv.df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val want = rw.fetch("SELECT id, grp, v, CAST(rank() OVER " +
        "(PARTITION BY grp ORDER BY v DESC, id) AS BIGINT) AS r FROM wov_t")
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"$tag: maintained $got != batch $want")
    }
    // 8 epochs of 3 rows in fresh partitions: state grows to 24 rows,
    // far past the bound — epochs past it must run through the overlay
    // over a base (constant-depth carried frame)
    for (e <- 0L until 8L) {
      t.insert(Seq(Row(e * 10 + 1, s"g$e", 10L + e), Row(e * 10 + 2, s"g$e", 20L + e),
        Row(e * 10 + 3, s"g$e", 5L + e)))
      rw.flush()
      batchParity(s"epoch $e")
    }
    assert(mv.windowStateOversize, "the grouped state must carry over a base")
    assert(mv.overlayEpochs >= 4,
      s"the overlay must carry the over-bound epochs, ran ${mv.overlayEpochs}")
    // revisit an OLD partition (keys the overlay window has not seen since
    // its last re-base): the base probe supplies the old slice, the rank
    // shifts inside g0 only
    t.insert(Seq(Row(99L, "g0", 100L)))
    rw.flush()
    batchParity("old-partition revisit")
    // upsert moving a row ACROSS partitions (retraction + insert in one
    // delta): both partitions' slices replace through the overlay
    t.insert(Seq(Row(2L, "g7", 1L)))
    rw.flush()
    batchParity("cross-partition upsert")
    // DELETE inside an overlay-carried partition: the group's recompute
    // names it and the vanished rows retract
    rw.execute("DELETE FROM wov_t WHERE id = 99")
    rw.flush()
    batchParity("delete in carried partition")
    assert(mv.isWindowCascadeMode, "mode must survive the over-bound epochs")
    rw.close()
  }
}
