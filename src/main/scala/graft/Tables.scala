package graft

import java.io.FileNotFoundException

import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

import graft.table.Fs

/** Loader for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Parquet is the engine's canonical columnar source: Spark's
  * `ParquetFileFormat` gives predicate pushdown, column pruning and
  * partition-parallel scans for free — the 100 TB scan path is "read only the
  * columns and row-groups the plan needs", never a full materialization.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. For a
    * plain file, the schema comes from the file's footer, read on the
    * driver and converted the way Spark's inference converts it (over the
    * session conf, so `nanosAsLong` applies). The footer is read on every
    * call, so a table rewritten in place is read with its new schema. A
    * directory (or a missing path, for Spark's own error) keeps
    * `spark.read.parquet`.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val conf = Fs.hadoopConf
    val p = Fs.hp(path)
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p)) catch { case _: FileNotFoundException => None }
    status.filter(_.isFile) match {
      case Some(st) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val footer = try reader.getFooter finally reader.close()
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Normalize `events.ts` to a microsecond TimestampType regardless of the
    * generator's on-disk flavor, so every downstream query sees one shape:
    *   - TIMESTAMP(NANOS): Spark 4 rejects it outright (PARQUET_TYPE_ILLEGAL)
    *     unless read as raw longs via the legacy conf; floor-divide ns->us —
    *     the same truncation DuckDB's epoch_us applies, so oracles stay exact.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *     cast to TimestampType (session tz pinned UTC => identical micros,
    *     and DuckDB reads the same column as plain TIMESTAMP).
    *   - TimestampType: pass through.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
