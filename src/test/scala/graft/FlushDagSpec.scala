package graft

import graft.engine.{ConnOptions, GraftEngine, MaterializedView}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** The FLUSH refresh scheduler: MVs refresh concurrently on the engine's
  * driver pool, each once the MVs it reads have refreshed.
  *  - many MVs over one PK table (a depth-3 MV-on-MV chain, a diamond, a
  *    top-N over an MV) stay exact across upserts and deletes: after every
  *    barrier each face equals its statement re-evaluated over the current
  *    sources, and each drained changelog replays onto its face;
  *  - an MV read only inside a subquery or a CTE body is an upstream too;
  *  - a failing refresh is rethrown, independent MVs still advance, its
  *    dependents do not run, and the next barrier catches both up;
  *  - an interrupt of the FLUSH thread reaches the running refresh, and
  *    FLUSH returns once it settled, with its dependents not run;
  *  - jobs launched from refresh workers carry the FLUSH caller's local
  *    properties and the refreshing MV's `graft.phase` tag. */
class FlushDagSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("kind", StringType), StructField("amount", LongType)))

  private def multiset(rows: Seq[Row]): Map[List[Any], Int] =
    rows.map(_.toSeq.toList).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Face == the statement re-evaluated over the current sources (upstream
    * MV faces included, each checked the same way). */
  private def assertFace(rw: GraftEngine, m: MaterializedView, tag: String): Unit =
    assert(multiset(m.df.collect().toSeq) == multiset(rw.fetch(m.stmt)),
      s"$tag: ${m.name} face diverged from its batch re-evaluation")

  /** Changelog replay state of one MV: drains its subscription and applies
    * the 4-op envelope to a multiset. */
  private final class Replay(m: MaterializedView) {
    private val sub = m.subscription().declareCursor(Some(0L))
    private val state = mutable.Map[List[Any], Int]().withDefaultValue(0)
    def check(tag: String): Unit = {
      Iterator.continually(sub.fetch(1000)).takeWhile(_.nonEmpty).flatten.foreach { r =>
        val payload = r.toSeq.dropRight(2).toList
        r.getString(r.length - 2) match {
          case "Insert" | "UpdateInsert" => state(payload) += 1
          case "Delete" | "UpdateDelete" => state(payload) -= 1
        }
      }
      val replayed = state.filter(_._2 != 0).toMap
      assert(replayed.values.forall(_ > 0), s"$tag: ${m.name} replay retracted a missing row")
      assert(replayed == multiset(m.df.collect().toSeq),
        s"$tag: ${m.name} changelog replay diverged from its face")
    }
  }

  test("concurrent refresh keeps chains, a diamond and a top-N exact over upserts and deletes") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("fd_ev", schema, primaryKey = Seq("event_id"))
    val mvs = Seq(
      "fd_user" -> "SELECT user_id, count(*) AS n, sum(amount) AS s FROM fd_ev GROUP BY user_id",
      "fd_kind" -> "SELECT kind, count(*) AS n, sum(amount) AS s FROM fd_ev GROUP BY kind",
      "fd_big" -> "SELECT event_id, user_id, amount FROM fd_ev WHERE amount > 50",
      // depth-3 chain: fd_ev → fd_user → fd_tier → fd_tier_all
      "fd_tier" -> "SELECT n, count(*) AS users FROM fd_user GROUP BY n",
      "fd_tier_all" -> "SELECT count(*) AS tiers, sum(users) AS users FROM fd_tier",
      // diamond: fd_ev → {fd_big, fd_user} → fd_big_user
      "fd_big_user" -> ("SELECT b.user_id, count(*) AS big, max(u.s) AS total " +
        "FROM fd_big b JOIN fd_user u ON b.user_id = u.user_id GROUP BY b.user_id"),
      // more consumers of one upstream, refreshing side by side each epoch
      "fd_top" -> "SELECT user_id, s FROM fd_user ORDER BY s DESC, user_id LIMIT 5",
      "fd_low" -> "SELECT user_id, s FROM fd_user ORDER BY s, user_id LIMIT 3",
      "fd_parity" -> "SELECT n % 2 AS parity, sum(s) AS s FROM fd_user GROUP BY n % 2"
    ).map { case (name, stmt) => rw.mv(stmt, name) }
    val modes = mvs.map(m => m.name -> (m.isDeltaAggMode, m.isChangelogCascadeMode,
      m.isDeltaJoinMode, m.isTopNMode)).toMap
    assert(rw.mvByName("fd_big_user").get.flushUpstreams.map(_.name).toSet ==
      Set("fd_big", "fd_user"))
    assert(rw.mvByName("fd_tier_all").get.flushUpstreams.map(_.name) == Seq("fd_tier"))
    val replays = mvs.map(new Replay(_))
    val t = rw.table("fd_ev").get
    val rnd = new scala.util.Random(7)
    def row(id: Long) = Row(id, (rnd.nextInt(12) + 1).toLong,
      Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(101).toLong)
    var nextId = 0L
    val live = mutable.LinkedHashSet[Long]()
    def insertNew(k: Int): Unit = t.insert((1 to k).map { _ =>
      nextId += 1; live += nextId; row(nextId) })
    insertNew(30)
    for (epoch <- 1 to 10) {
      insertNew(4)
      // upserts: new values for live keys (retractions flow downstream)
      t.insert(rnd.shuffle(live.toSeq).take(3).map(row))
      val gone = rnd.shuffle(live.toSeq).take(2)
      rw.execute(s"DELETE FROM fd_ev WHERE event_id IN (${gone.mkString(", ")})")
      live --= gone
      rw.flush()
      mvs.foreach(assertFace(rw, _, s"epoch $epoch"))
      replays.foreach(_.check(s"epoch $epoch"))
    }
    assert(rw.mvByName("fd_top").get.df.count() == 5)
    // a consumer losing a private epoch view mid-fold would silently drop
    // to a slower maintenance mode
    mvs.foreach(m => assert(modes(m.name) == ((m.isDeltaAggMode, m.isChangelogCascadeMode,
      m.isDeltaJoinMode, m.isTopNMode)), s"${m.name} changed maintenance mode"))
    rw.close()
  }

  test("an MV read only inside a subquery or a CTE body is still an upstream") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("fd5_ev", schema, primaryKey = Seq("event_id"))
    val user = rw.mv("SELECT user_id, count(*) AS n, sum(amount) AS s FROM fd5_ev GROUP BY user_id", "fd5_user")
    val inSub = rw.mv("SELECT user_id, count(*) AS n FROM fd5_ev " +
      "WHERE user_id IN (SELECT user_id FROM fd5_user WHERE n > 1) GROUP BY user_id", "fd5_in_sub")
    val inCte = rw.mv("WITH heavy AS (SELECT user_id, s FROM fd5_user WHERE s > 100) " +
      "SELECT count(*) AS users, sum(s) AS s FROM heavy", "fd5_in_cte")
    Seq(inSub, inCte).foreach(m => assert(m.flushUpstreams == Seq(user),
      s"${m.name} must refresh after fd5_user"))
    val t = rw.table("fd5_ev").get
    val rnd = new scala.util.Random(11)
    for (epoch <- 1 to 4) {
      t.insert((1 to 6).map { i =>
        Row((epoch * 10 + i).toLong, (rnd.nextInt(5) + 1).toLong, "a", rnd.nextInt(60).toLong)
      } :+ Row(1L, epoch.toLong, "b", 70L))
      rw.flush()
      Seq(user, inSub, inCte).foreach(assertFace(rw, _, s"epoch $epoch"))
    }
    rw.close()
  }

  test("a failing refresh is rethrown, its dependents wait, independent MVs advance") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    spark.udf.register("fd_boom", (x: Long) => {
      if (FlushDagSpec.boom) throw new IllegalStateException("fd boom"); x
    })
    rw.createTable("fd2_ev", schema, primaryKey = Seq("event_id"))
    val ok = rw.mv("SELECT user_id, count(*) AS n FROM fd2_ev GROUP BY user_id", "fd2_ok")
    val bad = rw.mv("SELECT user_id, sum(fd_boom(amount)) AS s FROM fd2_ev GROUP BY user_id", "fd2_bad")
    // the ORDER BY column is projected away, so neither top-N nor any
    // cascade admits these: they re-run in batch, counting every refresh
    val dep = rw.mv("SELECT user_id FROM fd2_bad ORDER BY s DESC, user_id LIMIT 3", "fd2_dep")
    val ind = rw.mv("SELECT event_id FROM fd2_ev ORDER BY amount DESC, event_id LIMIT 3", "fd2_ind")
    Seq(dep, ind).foreach(m => assert(!m.isChangelogCascadeMode && !m.isDeltaJoinMode &&
      !m.isTopNMode && !m.isStreamingMode, s"${m.name} must re-run in batch"))
    val replay = new Replay(bad)
    val t = rw.table("fd2_ev").get
    t.insert((1L to 6L).map(i => Row(i, i % 3, "a", i * 10)))
    rw.flush()
    val (depEvals, indEvals) = (dep.statementEvals, ind.statementEvals)
    rw.flush()
    assert(dep.statementEvals == depEvals + 1 && ind.statementEvals == indEvals + 1,
      "batch MVs re-run once per barrier")
    val badFace = multiset(bad.df.collect().toSeq)

    t.insert(Seq(Row(7L, 1L, "b", 500L), Row(2L, 2L, "b", 5L)))
    FlushDagSpec.boom = true
    val err = try intercept[Throwable](rw.flush()) finally FlushDagSpec.boom = false
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("fd boom")),
      s"flush must rethrow the refresh failure, got $err")
    assert(multiset(bad.df.collect().toSeq) == badFace, "the failed MV keeps its last face")
    assert(dep.statementEvals == depEvals + 1, "a dependent of the failed MV must not run")
    assert(ind.statementEvals == indEvals + 2, "an independent MV still refreshes")
    assertFace(rw, ok, "failed barrier")
    assertFace(rw, ind, "failed barrier")

    rw.flush() // the fault cleared: the next barrier catches up
    Seq(ok, bad, dep, ind).foreach(assertFace(rw, _, "recovery barrier"))
    assert(dep.statementEvals == depEvals + 2)
    replay.check("recovery barrier")
    rw.close()
  }

  test("an interrupted FLUSH interrupts the running refresh and skips its dependents") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    spark.udf.register("fd_gate", (x: Long) => { FlushDagSpec.gate(); x })
    rw.createTable("fd4_ev", schema, primaryKey = Seq("event_id"))
    // batch re-run MVs (ORDER BY over projected-away columns): every
    // refresh evaluates the statement, so `slow` blocks inside fd_gate
    val slow = rw.mv("SELECT event_id, user_id FROM fd4_ev ORDER BY fd_gate(amount) DESC, event_id LIMIT 3", "fd4_slow")
    val dep = rw.mv("SELECT event_id FROM fd4_slow ORDER BY user_id, event_id LIMIT 2", "fd4_dep")
    Seq(slow, dep).foreach(m => assert(!m.isChangelogCascadeMode && !m.isDeltaJoinMode &&
      !m.isTopNMode && !m.isStreamingMode, s"${m.name} must re-run in batch"))
    val t = rw.table("fd4_ev").get
    t.insert((1L to 6L).map(i => Row(i, i % 2, "a", i * 7)))
    rw.flush()
    val depEvals = dep.statementEvals

    t.insert(Seq(Row(7L, 1L, "b", 100L)))
    val (entered, release) = (new CountDownLatch(1), new CountDownLatch(1))
    FlushDagSpec.hold = Some((entered, release))
    @volatile var outcome: Throwable = null
    val flusher = new Thread(() => try rw.flush() catch { case e: Throwable => outcome = e })
    try {
      flusher.start()
      assert(entered.await(60, TimeUnit.SECONDS), "the slow refresh never started")
      flusher.interrupt()
      // the running refresh's job stays blocked in fd_gate: FLUSH can only
      // return because the interrupt reached the refresh waiting on it
      flusher.join(60000)
      assert(!flusher.isAlive, "FLUSH did not return after its interrupt")
    } finally {
      FlushDagSpec.hold = None
      release.countDown()
    }
    assert(outcome.isInstanceOf[InterruptedException], s"expected an interrupt, got $outcome")
    assert(dep.statementEvals == depEvals, "a dependent of the interrupted refresh must not run")

    rw.flush()
    assert(dep.statementEvals == depEvals + 1)
    Seq(slow, dep).foreach(assertFace(rw, _, "after the interrupted barrier"))
    rw.close()
  }

  test("refresh workers run under the FLUSH caller's local properties") {
    val rw = GraftEngine.open(ConnOptions(), Some(spark))
    rw.createTable("fd3_ev", schema, primaryKey = Seq("event_id"))
    val mvs = Seq(
      rw.mv("SELECT user_id, count(*) AS n FROM fd3_ev GROUP BY user_id", "fd3_user"),
      rw.mv("SELECT kind, sum(amount) AS s FROM fd3_ev GROUP BY kind", "fd3_kind"),
      rw.mv("SELECT n, count(*) AS users FROM fd3_user GROUP BY n", "fd3_tier"))
    val t = rw.table("fd3_ev").get
    t.insert((1L to 8L).map(i => Row(i, i % 3, if (i % 2 == 0) "a" else "b", i)))
    rw.flush()

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("fd.caller"), prop("graft.phase")))
      }
    }
    val caller = s"flush-${System.nanoTime()}"
    t.insert((9L to 12L).map(i => Row(i, i % 4, "c", i)) :+ Row(1L, 3L, "a", 40L))
    sc.addSparkListener(listener)
    sc.setLocalProperty("fd.caller", caller)
    try rw.flush()
    finally {
      sc.setLocalProperty("fd.caller", null)
      org.apache.spark.GraftListenerBridge.waitListeners(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val names = mvs.map(_.viewName)
    val mvJobs = jobs.asScala.toSeq.filter(_._2.exists(p => names.exists(n => p.startsWith(s"$n:"))))
    names.foreach(n => assert(mvJobs.exists(_._2.exists(_.startsWith(s"$n:"))),
      s"$n launched no phase-tagged job"))
    assert(mvJobs.forall(_._1.contains(caller)),
      s"refresh-worker jobs lost the caller's property: ${mvJobs.filterNot(_._1.contains(caller))}")
    val callerJobs = jobs.asScala.toSeq.filter(_._1.contains(caller))
    assert(callerJobs.forall(_._2.exists(_.nonEmpty)),
      s"a FLUSH job ran without a graft.phase tag: ${callerJobs.filter(_._2.isEmpty)}")
    mvs.foreach(assertFace(rw, _, "traced barrier"))
    rw.close()
  }
}

object FlushDagSpec {
  @volatile var boom = false
  /** (entered, release): while set, `fd_gate` signals `entered` and blocks
    * its task until `release` opens. */
  @volatile var hold: Option[(CountDownLatch, CountDownLatch)] = None
  def gate(): Unit = hold.foreach { case (entered, release) =>
    entered.countDown(); release.await()
  }
}
