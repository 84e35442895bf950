package graft

import graft.streaming.Changelog
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Differential pin for the driver-side spelling of a delta-join net's
  * ops ([[Changelog.localNetOps]]): for every net, the ops must equal the
  * collected [[Changelog.netOps]] output op for op and in the same order —
  * the changelog offsets are stamped in that order. */
class LocalNetOpsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("d", DoubleType), StructField("amt", DecimalType(12, 3)),
    StructField("ts", TimestampType)))

  private def viaNetOps(net: Seq[(Row, Long)], sch: StructType): Seq[Row] = {
    val rows = net.map { case (r, d) => Row.fromSeq(r.toSeq :+ d) }
    Changelog.netOps(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch.add("__d", LongType)),
      sch.fieldNames.toSeq, "__d").collect().toSeq
  }

  private def assertSame(net: Seq[(Row, Long)], what: String): Unit = {
    val local = Changelog.localNetOps(net, schema).getOrElse(fail(s"$what: refused"))
    val dist = viaNetOps(net, schema)
    // Row equality: NaN equals NaN, decimals compare by value
    assert(local == dist, s"$what: local ops differ from netOps")
  }

  test("driver-side net ops equal netOps op for op, in order") {
    val names = Seq("a", "B", "é", "日本", "😀", "", "a\u0000b")
    val doubles = Seq(-1.5, 0.0, 2.25, 1e300, Double.NaN, Double.NegativeInfinity)
    val rnd = new scala.util.Random(42)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    (1 to 20).foreach { round =>
      val net = (0 until 1 + rnd.nextInt(40)).map { i =>
        // a LEFT join's unmatched row pads the dimension columns with NULL
        val padded = rnd.nextInt(4) == 0
        val r = Row(
          if (rnd.nextInt(10) == 0) null else (rnd.nextInt(6) - 2).toLong,
          if (padded) null else pick(names),
          if (padded) null else pick(doubles),
          if (padded) null else new java.math.BigDecimal(rnd.nextInt(2001) - 1000).movePointLeft(3),
          if (rnd.nextInt(8) == 0) null else new java.sql.Timestamp(1700000000000L + rnd.nextInt(5) * 1000L))
        val d = (rnd.nextInt(3) + 1).toLong * (if (rnd.nextBoolean()) 1 else -1)
        r -> d
      }.groupBy(_._1).map(_._2.head).toSeq // a net holds each row once
      assertSame(net, s"round $round")
    }
  }

  test("edge nets: empty, all-NULL rows, |d| > 1 of both signs") {
    val nullRow = Row(null, null, null, null, null)
    val r1 = Row(1L, "x", 1.0, new java.math.BigDecimal("1.000"), new java.sql.Timestamp(0L))
    assert(Changelog.localNetOps(Nil, schema).contains(Nil))
    assertSame(Seq(nullRow -> 3L, r1 -> -4L), "nulls and multiplicities")
    assertSame(Seq(r1 -> 2L, nullRow -> -2L), "signs swapped")
  }

  test("columns without a local ordering fall back to netOps") {
    val bin = StructType(Seq(StructField("b", BinaryType)))
    assert(Changelog.localNetOps(Seq(Row(Array[Byte](1, 2)) -> 1L), bin).isEmpty)
    val arr = StructType(Seq(StructField("a", ArrayType(LongType))))
    assert(Changelog.localNetOps(Seq(Row(Seq(1L)) -> 1L), arr).isEmpty)
  }
}
