package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement-only fixture scale-up (round 16, verdict #7): synthesize an
  * sf1-equivalent dataset (10× sf0.1) under an OUTPUT dir by unioning ten
  * key-shifted copies of each sf0.1 table, with every foreign key shifted
  * consistently (copy k's lineitem.l_orderkey matches copy k's
  * orders.o_orderkey, etc.), so join selectivities and key distributions
  * match the original workload shape. region/nation stay single-copy
  * (dimension leaves; nationkey references from the copied tables remain
  * valid). The read-only driver fixture is never touched. This exists so
  * the bench can produce one committed sf1 artifact where scan-bound
  * queries actually exercise parallelism — sub-second sf0.1 walls cannot.
  *
  * Usage: runMain graft.tools.ScaleUp [outDir] [copies] [srcDir]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    // copy k Caesar-shifts document text by k % 26, so copy 26 would repeat
    // copy 0's text verbatim (the 64-dim embedding rotation is the looser
    // bound); sf1 uses 10 copies
    require(copies <= 26,
      s"copies must be <= 26 (the document text shift aliases past it), got $copies")
    val srcDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-table key columns to shift, with per-key offsets generous enough
    // that copies never collide
    val keyOffsets: Map[String, Seq[(String, Long)]] = Map(
      "region" -> Nil, "nation" -> Nil,
      "customer" -> Seq("c_custkey" -> 1000000L),
      "supplier" -> Seq("s_suppkey" -> 1000000L),
      "part" -> Seq("p_partkey" -> 1000000L),
      "orders" -> Seq("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L),
      "lineitem" -> Seq("l_orderkey" -> 10000000L,
        "l_partkey" -> 1000000L, "l_suppkey" -> 1000000L),
      "events" -> Seq("event_id" -> 10000000L),
      "documents" -> Seq("doc_id" -> 1000000L),
      "embeddings" -> Seq("vec_id" -> 1000000L))

    // content perturbation per copy: a verbatim copy of documents/embeddings
    // would make every row an exact cross-copy duplicate, inflating the
    // dedup/similarity workloads quadratically (LSH buckets and top-k
    // neighbor sets grow with the copy count) instead of linearly with the
    // data. Copy k Caesar-shifts document letters by k (length, casing,
    // whitespace and within-copy duplicate structure preserved; cross-copy
    // near-duplicates destroyed) and circularly shifts embedding vectors by
    // k positions (norms and within-copy geometry preserved; cross-copy
    // cosine similarity randomized). Copy 0 stays verbatim.
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def caesar(s: String, k: Int): String =
      (s.drop(k % 26) + s.take(k % 26))
    val perturb: Map[String, (DataFrame, Int) => DataFrame] = Map(
      "documents" -> { (df, k) =>
        if (k == 0) df
        else df.withColumn("text", translate(col("text"),
          lower + upper, caesar(lower, k) + caesar(upper, k)))
      },
      "embeddings" -> { (df, k) =>
        if (k == 0) df
        else df.withColumn("embedding", concat(
          expr(s"slice(embedding, ${k + 1}, size(embedding) - $k)"),
          expr(s"slice(embedding, 1, $k)")))
      })

    keyOffsets.foreach { case (t, keys) =>
      val base = Tables(spark, srcDir, t)
      val scaled: DataFrame =
        if (keys.isEmpty) base
        else (0 until copies).map { k =>
          val shifted = keys.foldLeft(base) { case (df, (c, off)) =>
            val dt = df.schema(c).dataType
            df.withColumn(c, (col(c) + lit(k * off)).cast(dt))
          }
          perturb.get(t).map(_(shifted, k)).getOrElse(shifted)
        }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t -> $outDir/$t.parquet")
    }
    spark.stop()
  }
}
