package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

import graft.ingest.Parsers.{CsvSpec, FwField, FwSpec}

/** What a generated input must produce: the generator knows which lines it
  * broke, so the expectation never comes from the program under test.
  * `idSum` is an order-independent checksum over the ids of the lines
  * expected to succeed (see [[Gen.idHash]]); `qtySum` sums their parsed
  * `qty` field, so a coercion bug shows even when the counts agree.
  */
final case class Expected(lines: Long, success: Long, failed: Long, idSum: Long, qtySum: Long) {
  def +(o: Expected): Expected =
    Expected(lines + o.lines, success + o.success, failed + o.failed, idSum + o.idSum, qtySum + o.qtySum)
}

/** Seeded input generators for the two ingest workloads. The same seed
  * always yields the same bytes; the program only ever sees the files.
  */
object Gen {

  /** Multiplicative hash of an id's numeric part, reduced to 32 bits; the
    * target-table check computes the same expression in Spark SQL.
    */
  def idHash(n: Long): Long = java.lang.Math.floorMod(n * 2654435761L, 4294967296L)
  val IdHashSql: String = "pmod(cast(substring(id, 2) as bigint) * 2654435761, 4294967296)"

  val csvSpec: CsvSpec = CsvSpec(
    headers = Vector("id", "name", "amount", "qty", "active", "note"),
    types = Some(Vector("string", "string", "number", "number", "boolean", "string")))

  // 52-character records: id | region | amount | qty | name
  val fwSpec: FwSpec = FwSpec(Vector(
    FwField("id", "string", 1, 10),
    FwField("region", "string", 11, 14),
    FwField("amount", "number", 15, 26),
    FwField("qty", "number", 27, 32),
    FwField("name", "string", 33, 52)))

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val Regions = Array("EMEA", "APAC", "AMER", "LATM")
  private val Bools = Array("true", "false", "TRUE", "FALSE")

  private def word(r: SplittableRandom, min: Int, max: Int): String = {
    val n = min + r.nextInt(max - min + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Letters.charAt(r.nextInt(26))); i += 1 }
    sb.toString
  }

  private def withWriter(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try body(w) finally w.close()
  }

  /** One CSV line per record; about 10% carry a quoted name containing the
    * delimiter, 2% a type error (number or boolean) and 2% a field-count
    * error (a field dropped or one added).
    */
  def csvLine(r: SplittableRandom, i: Long): (String, Boolean, Long) = {
    val qty = r.nextInt(1000).toLong
    val name =
      if (r.nextInt(10) == 0) "\"" + word(r, 3, 9) + ", " + word(r, 3, 9) + "\""
      else word(r, 4, 12)
    var amount = f"${r.nextInt(10000000) / 100.0}%.2f"
    var active = Bools(r.nextInt(4))
    val fault = r.nextInt(100)
    if (fault == 0) amount = amount + "x"
    else if (fault == 1) active = "yes"
    val fields = Vector(f"R$i%07d", name, amount, qty.toString, active, word(r, 2, 16))
    val line = fault match {
      case 2 => fields.init.mkString(",")
      case 3 => fields.mkString(",") + "," + word(r, 1, 4)
      case _ => fields.mkString(",")
    }
    (line, fault >= 4, qty)
  }

  /** One fixed-width record; 2% carry a non-numeric amount and 2% have the
    * wrong record length.
    */
  def fwLine(r: SplittableRandom, id: Long): (String, Boolean, Long) = {
    val qty = r.nextInt(100000).toLong
    val amountRaw = f"${r.nextInt(100000000) / 100.0}%.2f"
    val fault = r.nextInt(100)
    val amount = if (fault == 0) amountRaw.replace('.', 'x') else amountRaw
    val base = f"F$id%09d" + Regions(r.nextInt(4)) + f"$amount%12s" + f"$qty%6d" +
      f"${word(r, 3, 20)}%-20s"
    val line = fault match {
      case 1 => base.dropRight(1 + r.nextInt(5))
      case 2 => base + word(r, 1, 4)
      case _ => base
    }
    (line, fault >= 3, qty)
  }

  private def writeLines(f: File, n: Int, line: Int => (String, Boolean, Long), idOf: Int => Long): Expected = {
    var ok, bad, idSum, qtySum = 0L
    withWriter(f) { w =>
      var i = 0
      while (i < n) {
        val (l, good, qty) = line(i)
        w.write(l); w.write('\n')
        if (good) { ok += 1; idSum += idHash(idOf(i)); qtySum += qty } else bad += 1
        i += 1
      }
    }
    Expected(n.toLong, ok, bad, idSum, qtySum)
  }

  /** `n` CSV records with ids `R<first>..`, seeded by (seed, stream). */
  def writeCsv(f: File, seed: Long, stream: Long, first: Long, n: Int): Expected = {
    val r = new SplittableRandom(seed * 1000003L + stream)
    writeLines(f, n, i => csvLine(r, first + i), i => first + i)
  }

  /** Fixed-width file number `k` of a run: `n` records with ids
    * `F<k*100000 + j>`, seeded by (seed, k).
    */
  def writeFw(f: File, seed: Long, k: Int, n: Int): Expected = {
    val r = new SplittableRandom(seed * 1000003L + 7919L * (k + 1))
    writeLines(f, n, j => fwLine(r, k * 100000L + j), j => k * 100000L + j)
  }

  /** Lines for the parser micro-benchmark, without touching disk. */
  def csvLines(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed * 1000003L + 17L)
    Array.tabulate(n)(i => csvLine(r, i.toLong)._1)
  }

  def fwLines(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed * 1000003L + 31L)
    Array.tabulate(n)(i => fwLine(r, i.toLong)._1)
  }
}
