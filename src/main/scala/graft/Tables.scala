package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    if (name == "events") events(spark, dir) else spark.read.parquet(s"$dir/$name.parquet")

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
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
