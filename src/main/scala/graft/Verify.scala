package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle map as a JSON object, with runtime placeholders
    * (per-sf loser paths) resolved for `sfDir` — shared by the driver dump
    * below and the in-build oracle type lint (OracleLintSpec).
    */
  def oracleJson(sfDir: String): String = {
    val tokens = Seq(
      graft.queries.Dedup.Q45LosersToken -> graft.queries.Dedup.q45LosersPathFor(sfDir),
      graft.queries.Dedup.Q46LosersToken -> graft.queries.Dedup.q46LosersPathFor(sfDir),
      graft.queries.Dedup.Q164CompsToken -> graft.queries.Dedup.q164CompsPathFor(sfDir),
      graft.queries.Dedup.Q169PairsToken -> graft.queries.Dedup.q169PairsPathFor(sfDir))
    SparkEntry.oracleSql
      .map { case (k, v) =>
        val sql = tokens.foldLeft(v) { case (s, (tok, path)) => s.replace(tok, path) }
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the benched session, native top-k included: the correctness gate
    // below is exactly what proves the rewrite semantics-preserving on
    // every query whose window idiom it fires on (PlanSpec holds the
    // fires-on-≥3 gate)
    val spark = HarnessSession.build()
    new java.io.File(outDir).mkdirs()
    // Engine-private stages some oracles read back as parquet (q45/q46
    // loser sets): materialized here, once, so query fns stay read-only
    // and Bench times operators rather than writes.
    graft.queries.Dedup.materializers.foreach { m =>
      try m(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] materializer failed: ${e.getMessage}")
      }
    }
    // local-iteration escape hatch shared with Bench (SparkEntry.onlyFilter)
    val keep = SparkEntry.onlyFilter()
    val rowCounts = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keep(name) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Some(name -> spark.read.parquet(s"$outDir/$name").count())
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
    }
    // per-query row counts of the DUMPED parquet — the cross-harness drift
    // artifact: at the same scale factor these must equal Bench's counted
    // rows (BENCH_DETAIL.json "rows") and the oracle's row counts; any
    // disagreement is nondeterminism between the harnesses
    Files.writeString(Paths.get(s"$outDir/rows.json"),
      rowCounts.map { case (k, n) => s"${q(k)}: $n" }.mkString("{", ",", "}"))
    // resolve runtime placeholders (per-sf loser paths) so the dumped SQL
    // is correct for THIS run's scale factor
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(sfDir))
    spark.stop()
  }
}
