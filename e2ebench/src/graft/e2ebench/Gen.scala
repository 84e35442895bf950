package graft.e2ebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** SplitMix64 stream: one per (seed, purpose), so adding a draw in one
  * generator never shifts another's sequence. */
final class Rng(seed: Long, stream: Long) {
  private var s = Rng.mix(seed * 0x632BE59BD9B4E019L + stream)
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  /** Money-like double with two decimals, so DECIMAL casts are exact. */
  def cents(max: Double): Double = math.round(nextDouble() * max * 100) / 100.0
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated event. `dueMs` is the open-loop due offset from the start
  * of the measured window (the event's creation time); `ts` is event time
  * in epoch microseconds. */
final case class Ev(id: Long, ts: Long, user: Long, acct: Long, etype: String,
                    value: Double, dueMs: Double) {
  def row: Row = Row(id, new java.sql.Timestamp(ts / 1000), user, acct, etype, value)
}

object Ev {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("acct", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  val types: Array[String] = Array("view", "click", "purchase", "signup", "error")
  /** 2024-01-01T00:00:00Z in microseconds. */
  val t0Micros: Long = 1704067200L * 1000000L
}

/** Streaming input generator. Every draw comes from `seed`; the measured
  * stream is an unbounded sequence indexed from 0, so a run that measures
  * longer sees a longer prefix of the same sequence. */
final class StreamGen(val seed: Long, val props: StreamGen.Props) {
  private val rng = new Rng(seed, 1)
  private val zipf = if (props.zipfS > 0) Some(new Zipf(props.users, props.zipfS)) else None
  private val users = ArrayBuffer[Long]()   // per event_id, for upserts
  private val etypes = ArrayBuffer[Int]()
  private var nextId = 0L
  private var clockMicros = Ev.t0Micros      // event-time cursor
  private var dueMs = 0.0

  private def user(): Long = zipf match {
    case Some(z) => z.sample(rng).toLong
    case None => rng.nextInt(props.users).toLong
  }

  /** Next event; `stepMicros` advances event time, `due` is its creation
    * offset (ms) or NaN for pre-measurement rows. */
  private def next(stepMicros: Long, due: Double): Ev = {
    clockMicros += stepMicros
    val late = if (props.outOfOrderShare > 0 && rng.nextDouble() < props.outOfOrderShare)
      (rng.nextDouble() * props.outOfOrderMaxMicros).toLong else 0L
    val ts = clockMicros - late
    val upsert = nextId > 0 && rng.nextDouble() < props.upsertShare
    val id = if (upsert) (rng.nextLong() >>> 1) % nextId else nextId
    val (u, t) =
      if (upsert) (users(id.toInt), etypes(id.toInt))
      else { val u = user(); val t = rng.nextInt(Ev.types.length); users += u; etypes += t; (u, t) }
    if (!upsert) nextId += 1
    val acct = (rng.nextLong() >>> 1) % props.acctSpace
    Ev(id, ts, u, acct, Ev.types(t), rng.cents(props.maxValue), due)
  }

  /** History loaded before any MV exists. */
  def history(): IndexedSeq[Ev] =
    IndexedSeq.fill(props.historyRows)(next(props.historyStepMicros, Double.NaN))

  /** A closed-loop batch (warm-up barriers, closed-loop epochs). */
  def batch(n: Int): IndexedSeq[Ev] =
    IndexedSeq.fill(n)(next(props.streamStepMicros, Double.NaN))

  /** Next open-loop event: exponential inter-arrival at `ratePerSec`. */
  def nextDue(): Ev = {
    dueMs += -math.log(1.0 - rng.nextDouble()) * 1000.0 / props.ratePerSec
    next(props.streamStepMicros, dueMs)
  }
}

object StreamGen {
  /** The workload's recorded input properties. */
  final case class Props(
      users: Int, zipfS: Double, upsertShare: Double, outOfOrderShare: Double,
      outOfOrderMaxMicros: Long, historyRows: Int, historyStepMicros: Long,
      streamStepMicros: Long, acctSpace: Long, maxValue: Double,
      ratePerSec: Double) {
    def describe: Seq[(String, Any)] = Seq(
      "users" -> users, "zipf_s" -> zipfS, "upsert_share" -> upsertShare,
      "out_of_order_share" -> outOfOrderShare,
      "out_of_order_max_s" -> outOfOrderMaxMicros / 1e6,
      "history_rows" -> historyRows, "acct_space" -> acctSpace,
      "rate_per_s" -> ratePerSec)
  }
}

/** Seeded TPC-H-like fixture tables with the schemas `graft.Tables` reads
  * (see FIXTURES.md), at a row scale of `sf` (1.0 = 6M lineitem rows). */
object BatchGen {
  private val words = Array("the", "a", "of", "and", "to", "in", "is", "that", "it",
    "for", "spark", "stream", "batch", "table", "query", "join", "group", "agg",
    "filter", "scan", "sort", "hash", "window", "row", "column", "key", "value",
    "data", "vector", "order", "customer", "part", "line", "merge", "fast", "slow",
    "big", "small")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  def tables(seed: Long, sf: Double): Seq[(String, StructType, IndexedSeq[Row])] = {
    def n(base: Int) = math.max(1, (base * sf).toInt)
    val r = new Rng(seed, 2)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nEmb = math.max(50, n(50000))
    def ts(micros: Long) = new java.sql.Timestamp(micros / 1000)
    val day = 86400L * 1000000L
    val d1995 = 788918400L * 1000000L
    val region = (0 until 5).map(i => Row(i, IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
      r.cents(10000), IndexedSeq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")(r.nextInt(5))))
    val supplier = (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), r.cents(10000)))
    val part = (0 until nPart).map(i => Row(i.toLong,
      s"${IndexedSeq("large", "hot", "blue", "small", "red")(r.nextInt(5))} ${IndexedSeq("ring", "bolt", "nut", "gear")(r.nextInt(4))}",
      s"Brand#${1 + r.nextInt(25)}",
      IndexedSeq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")(r.nextInt(6)),
      1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val orders = (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
      IndexedSeq("O", "F", "P")(r.nextInt(3)), r.cents(400000),
      ts(d1995 + r.nextInt(2400) * day),
      IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5))))
    val lineitem = (0 until nLine).map(i => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
      r.nextInt(nSupp).toLong, 1 + i % 7, (1 + r.nextInt(50)).toDouble,
      900.0 + r.cents(104000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      IndexedSeq("A", "N", "R")(r.nextInt(3)), IndexedSeq("O", "F")(r.nextInt(2)),
      ts(d1995 + r.nextInt(2400) * day)))
    val events = (0 until nEv).map(i => Row(i.toLong,
      ts(Ev.t0Micros + (i.toLong * 30 * day / nEv) + r.nextInt(1000000)),
      r.nextInt(1500).toLong, Ev.types(r.nextInt(5)), r.cents(560), s"""{"k": ${r.nextInt(100)}}"""))
    // documents: word soup over a small vocabulary, with near-duplicates
    // (a copy with one word changed) so the dedup operators find pairs
    val docs = ArrayBuffer[String]()
    (0 until nDoc).foreach { i =>
      val text = if (i > 10 && r.nextDouble() < 0.05) {
        val src = docs(r.nextInt(docs.length)).split(' ')
        src(r.nextInt(src.length)) = words(r.nextInt(words.length))
        src.mkString(" ")
      } else {
        val len = 8 + r.nextInt(90)
        val toks = Array.fill(len)(words(r.nextInt(words.length)))
        if (r.nextDouble() < 0.1) toks(r.nextInt(len)) = s"user${r.nextInt(99)}@example.com"
        if (r.nextDouble() < 0.05) toks(r.nextInt(len)) = f"555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
        if (r.nextDouble() < 0.1) toks(r.nextInt(len)) = toks(r.nextInt(len)) + "."
        toks.mkString(" ")
      }
      docs += text
    }
    val documents = docs.indices.map(i => Row(i.toLong, docs(i), langs(r.nextInt(langs.length)),
      s"src${r.nextInt(20)}", docs(i).length.toLong))
    val embeddings = (0 until nEmb).map { i =>
      val v = Array.fill(64)((r.nextDouble() - 0.5).toFloat * 0.5f)
      Row(i.toLong, v.toSeq, r.nextInt(10))
    }
    import org.apache.spark.sql.types.{IntegerType => I, LongType => L, StringType => S, DoubleType => D, TimestampType => T}
    def st(cols: (String, DataType)*) = StructType(cols.map { case (c, t) => StructField(c, t) })
    Seq(
      ("region", st("r_regionkey" -> I, "r_name" -> S), region),
      ("nation", st("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I), nation),
      ("customer", st("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I, "c_acctbal" -> D, "c_mktsegment" -> S), customer),
      ("supplier", st("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> D), supplier),
      ("part", st("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S, "p_size" -> I, "p_retailprice" -> D), part),
      ("orders", st("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S, "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S), orders),
      ("lineitem", st("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L, "l_linenumber" -> I, "l_quantity" -> D,
        "l_extendedprice" -> D, "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> T), lineitem),
      ("events", st("event_id" -> L, "ts" -> T, "user_id" -> L, "event_type" -> S, "value" -> D, "props" -> S), events),
      ("documents", st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S, "n_chars" -> L), documents),
      ("embeddings", st("vec_id" -> L, "embedding" -> ArrayType(FloatType), "label" -> I), embeddings))
  }
}
