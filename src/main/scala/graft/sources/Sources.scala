package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface of the engine.
  *
  * The reference reads exactly one format — newline-delimited text files
  * (`lib/batchProcessing.js:314-320`) — and writes through per-record REST
  * calls. This module is the Spark-native generalization: columnar formats
  * with pushdown for reading, bulk columnar and layout-controlled writes
  * for sinks. `graft.ingest.BatchPipeline.textSource` remains the
  * fidelity-layer line source.
  */
object Sources {

  /** Parquet with explicit schema: skips footer-merge inference jobs —
    * at 100 TB schema inference over millions of files is a real cost.
    */
  def parquet(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** Standard CSV files (header row, RFC quoting) via Spark's reader —
    * the fast path for well-formed files; reference-fidelity quoting goes
    * through BatchPipeline.parseCsv.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          delimiter: String = ",", header: Boolean = false): DataFrame =
    spark.read
      .schema(schema) // declared, never inferred — inference scans the data twice
      .option("delimiter", delimiter)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE") // record-level errors, not job failures
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Line-delimited JSON with declared schema + PERMISSIVE error capture. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** ORC with declared schema — same pushdown/pruning properties as
    * parquet; interoperability format for Hive-era lakes.
    */
  def orc(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.orc(path))(s => spark.read.schema(s).orc(path))

  /** XML documents as rows — Spark 4 ships the XML data source in core
    * (`rowTag` selects the repeating record element). The legacy-feed
    * format of the enterprise world the reference lives in; schema
    * declared, PERMISSIVE like csv/json.
    */
  def xml(spark: SparkSession, path: String, rowTag: String,
          schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format("xml").option("rowTag", rowTag)
    schema.fold(r.load(path))(s => r.schema(s).load(path))
  }

  /** Whole-file binary payloads (images/audio/video) as rows:
    * (path, modificationTime, length, content) — feeds
    * graft.multimodal.Multimodal. `pathGlobFilter` prunes by extension
    * before any byte is read.
    */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
}

object Sinks {

  /** Partitioned parquet sink: directory layout = coarse filter pushdown.
    * Readers with a predicate on a partition column scan only matching
    * directories (partition pruning); `maxRecordsPerFile` bounds file size
    * so downstream tasks stay balanced.
    */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                         maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed + sorted table: co-locates join keys so a later equi-join or
    * aggregation on the bucket column needs NO shuffle (bucket-aware scan).
    * This is the 100 TB answer to the lineitem-orders fact-fact join.
    */
  def bucketedTable(df: DataFrame, table: String, bucketCol: String, nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
