package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** Driver-side parquet segment writer (round 15).
  *
  * The streaming runtime's per-epoch durability writes — changelog
  * segments ([[ChangeLog.appendDF]]'s driver-local fast path), table tail
  * spills ([[LiveTable]]), face compaction — land a few thousand
  * driver-resident rows in one small file, yet each went through
  * `df.coalesce(1).write.parquet`, which schedules a single-task Spark
  * job: at the bench that was 2.0–2.25 jobs per epoch per streaming entry
  * (emitOps + tbl-changelog-append), ~40% of the steady-state job count
  * after the round-15 exchange cuts, pure scheduler overhead on
  * driver-sized data. This writer produces the identical artifact — a
  * `part-*.parquet` file inside the segment directory, written through
  * Spark's own [[ParquetWriteSupport]] (same schema conversion, same
  * timestamp/decimal encodings, session codec) — with zero jobs.
  *
  * Scale note: only driver-BOUNDED row sets come here (tail-cache-sized
  * epoch deltas, spill chunks, merged-face winners — each behind an
  * existing bound); bulk/backfill-class writes keep the executor-side
  * path, which remains the 100 TB spelling. Any failure falls back to the
  * caller's Spark write (None return), so this is a fast path, never a
  * correctness dependency. */
private[engine] object LocalParquet {

  /** Hadoop conf keys ParquetWriteSupport.init asserts on, resolved from
    * the session so the written encodings match executor-side segments. */
  private def writeConf(spark: SparkSession, schema: StructType): Configuration = {
    // session Hadoop conf as the base: filesystem impls + any user codec
    // tuning ride along (Configuration(false) has no fs.* defaults and
    // every write would fall back)
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    ParquetWriteSupport.setSchema(schema, conf)
    // the full key set ParquetWriteSupport.init + SparkToParquetSchemaConverter
    // assert on (the file-format path sets these in prepareWrite) —
    // resolved through the session (RuntimeConfig returns registered
    // defaults) with each entry's own default as the last resort, so the
    // key names and defaults track the linked Spark version
    import org.apache.spark.sql.internal.SQLConf
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE,
      SQLConf.SESSION_LOCAL_TIMEZONE,
      SQLConf.CASE_SENSITIVE).foreach { e =>
      conf.set(e.key,
        scala.util.Try(spark.conf.get(e.key)).getOrElse(e.defaultValueString))
    }
    conf
  }

  private def codec(spark: SparkSession): CompressionCodecName = {
    val name = scala.util.Try(
      spark.conf.get("spark.sql.parquet.compression.codec")).getOrElse("snappy")
    scala.util.Try(CompressionCodecName.valueOf(name.toUpperCase))
      .getOrElse(CompressionCodecName.SNAPPY)
  }

  private final class Builder(path: Path)
      extends ParquetWriter.Builder[InternalRow, Builder](path) {
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
    override def self(): Builder = this
  }

  /** Write `rows` as ONE parquet part file inside directory `dir`
    * (created), driver-side — no Spark job. False on any failure (caller
    * falls back to the Spark write; a partial file under `dir` is
    * harmless because callers stage + atomically commit directories). */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
            dir: String): Boolean = {
    try {
      // overwrite semantics, like the Spark write this replaces: staging
      // names are seq-derived and can recur after a crash-between-write-
      // and-commit restart (recovery resets seq), so a stale part file
      // here would be renamed into the committed segment alongside the
      // new one — duplicate rows / colliding __seq values
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        SegmentFiles.delete(dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val file = new Path(
        s"$dir/part-00000-${java.util.UUID.randomUUID()}.parquet")
      val conf = writeConf(spark, schema)
      val enc: ExpressionEncoder[Row] =
        ExpressionEncoder(RowEncoder.encoderFor(schema))
      val toInternal = enc.createSerializer()
      val w = new Builder(file)
        .withConf(conf)
        .withCompressionCodec(codec(spark))
        .build()
      try rows.foreach(r => w.write(toInternal(r)))
      finally w.close()
      true
    } catch {
      case t: Throwable =>
        val log = org.slf4j.LoggerFactory.getLogger(getClass)
        log.warn(s"driver-side parquet write failed, falling back to Spark: $t")
        log.debug("driver-side parquet write failure", t)
        false
    }
  }
}
