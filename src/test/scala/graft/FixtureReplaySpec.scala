package graft

import org.apache.spark.sql.functions._

import graft.ingest.BatchPipeline._
import graft.ingest.Parsers._

/** Replays the reference's three 100-line test fixtures through the
  * fidelity pipeline — the routing/count semantics its E2E suite asserts
  * (`test/test.js:255-262,415-431,936-953`).
  *
  * The fixtures live in `src/test/resources/reference/`, rebuilt from
  * FIXTURES.md §1. `batch-100.csv` (`B0001,"C00,0001"` … `B0100,"C00,0100"`)
  * and `fwbatch-100.fwv` (`B0001C00,0001` …) are fully pinned there, so
  * their bytes are the reference's. `batch-100.txt` is NOT a copy of the
  * reference's file: FIXTURES.md pins only its shape (100 lines of 79
  * chars, `<key:39> <value:39>`, line 1 = `1` and 38 zeros, twice), and
  * the committed file is rebuilt from that shape — line n holds `n`
  * right-padded with zeros to 39 digits, twice.
  */
class FixtureReplaySpec extends SparkTestBase {

  test("batch-100.csv: quote-aware CSV with embedded commas, 100 SUCCESS") {
    val ds = textSource(spark, referenceFixture("batch-100.csv"))
    val spec = CsvSpec(headers = Vector("key", "value")) // all-string default
    val routed = route(parseCsv(ds, spec))
    assert(routed.count() == 100)
    assert(successes(routed).count() == 100)
    val first = routed.orderBy("_rec_id").collect().head
    assert(first.getAs[String]("key") == "B0001")
    assert(first.getAs[String]("value") == "C00,0001", "quoted comma must survive")
  }

  test("fwbatch-100.fwv: fixed-width positions 1-5/6-13, 100 SUCCESS") {
    val ds = textSource(spark, referenceFixture("fwbatch-100.fwv"))
    val spec = FwSpec(Vector(
      FwField("key", "string", 1, 5),
      FwField("value", "string", 6, 13)))
    val routed = route(parseFw(ds, spec))
    assert(successes(routed).count() == 100)
    val first = routed.orderBy("_rec_id").collect().head
    assert(first.getAs[String]("key") == "B0001")
    assert(first.getAs[String]("value") == "C00,0001")
  }

  test("batch-100.txt: 79-char lines as FW number fields (test/test.js:936-953)") {
    val ds = textSource(spark, referenceFixture("batch-100.txt"))
    val spec = FwSpec(Vector(
      FwField("key", "number", 1, 39),
      FwField("value", "number", 41, 79)))
    val routed = route(parseFw(ds, spec))
    val n = routed.count()
    assert(n >= 99, s"fixture has ~100 lines, got $n")
    assert(failures(routed).count() == 0)
    // 39-digit decimal strings coerce via JS Number() to 1e38
    val first = routed.orderBy("_rec_id").collect().head
    assert(math.abs(first.getAs[Double]("key") - 1e38) / 1e38 < 1e-9)
  }

  test("batch-100.csv through processFile reproduces the summary shape") {
    val statusPath = java.nio.file.Files.createTempDirectory("graft-fixture").resolve("status").toString
    val s = BatchJob.processFile(spark, referenceFixture("batch-100.csv"),
      BatchJob.Parser.Csv(CsvSpec(headers = Vector("key", "value"))),
      BatchJob.Sinks(statusPath = Some(statusPath)))
    assert(s.totalRecordCount == 100L)
    assert(s.successCount == 100L)
    assert(s.failureCount == 0L)
    assert(spark.read.parquet(statusPath).count() == 100)
  }
}
