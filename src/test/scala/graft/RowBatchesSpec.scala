package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.RowBatches

/** The packed UnsafeRow store behind `processFile`: what it gives back must
  * equal what it was given, row for row and in order.
  */
class RowBatchesSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("tags", ArrayType(StringType))))

  /** Store `rows` in `parts` partitions; return (source rows, stored rows,
    * stored bytes), releasing the store afterwards.
    */
  private def roundTrip(rows: Seq[Row], parts: Int): (Seq[Row], Seq[Row], Long) = {
    val sc = spark.sparkContext
    val source = spark.createDataFrame(sc.parallelize(rows, parts), schema)
    val before = sc.getPersistentRDDs.keySet
    val stored = RowBatches.persist(source)
    val mine = sc.getPersistentRDDs.keySet -- before
    try {
      val back = stored.frame.collect().toSeq
      val bytes = sc.getRDDStorageInfo.filter(i => mine(i.id)).map(i => i.memSize + i.diskSize).sum
      (source.collect().toSeq, back, bytes)
    } finally stored.release()
  }

  test("nulls, empty strings, multi-byte UTF-8, an oversized row and an empty partition survive") {
    val big = "é" * (3 << 20) // 6 MiB of UTF-8: one row larger than a 4 MiB chunk
    val rows = Seq(
      Row(1L, null, null, null, null),
      Row(2L, "", 0.0, false, Seq.empty[String]),
      Row(3L, "naïve — 漢字 🙂", -1.5, true, Seq("ü", null, "")),
      Row(4L, big, Double.NaN, true, Seq(big.take(10))),
      Row(5L, "after the big row", 1e300, false, Seq("x")))
    // 8 slices over 5 rows: some partitions are empty
    val (source, back, _) = roundTrip(rows, 8)
    assert(back.size == 5)
    assert(back == source)
    assert(back(3).getString(1).length == big.length)
  }

  test("one partition spanning several chunks keeps every row in order") {
    // ~60k rows of ~200 B: about 12 MiB in one partition, at least 3 chunks
    val rows = (0 until 60000).map { i =>
      Row(i.toLong, f"row-$i%08d-" + ("abcdefghij" * 18), i * 0.5, i % 3 == 0, Seq(i.toString))
    }
    val (source, back, bytes) = roundTrip(rows, 1)
    assert(bytes > (8L << 20), s"stored $bytes bytes: fewer than 3 chunks of 4 MiB")
    assert(back.size == 60000)
    assert(back == source)
  }

  test("release drops the stored batches") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stored = RowBatches.persist(spark.range(100).toDF("id"))
    assert(stored.frame.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.keySet.size == before.size + 1)
    stored.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
