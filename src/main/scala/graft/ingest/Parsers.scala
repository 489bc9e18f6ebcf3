package graft.ingest

/** Reference-faithful record parsers, re-expressed as pure Scala functions.
  *
  * Semantics mirror the reference's built-in parsers
  * (`/root/reference/lib/parsers.js`):
  *
  *   - CSV comma path is quote-aware: fields may be single- or double-quoted,
  *     quoted fields may contain the delimiter, backslash escapes the quote
  *     char inside a quoted field (`lib/parsers.js:152-173`); a trailing comma
  *     yields one trailing empty field (`lib/parsers.js:170-171`).
  *   - Non-comma delimiters use a plain split with no quoting support
  *     (`lib/parsers.js:91-92`, README.md:381).
  *   - Every CSV field is trimmed before coercion (`lib/parsers.js:97`);
  *     fixed-width string fields are NOT trimmed (`lib/parsers.js:250`).
  *   - Exactly three declared types exist: string / number / boolean.
  *     `number` follows JS `Number()` (`lib/parsers.js:112`): empty or
  *     whitespace-only input is 0, hex literals parse, `Infinity` parses.
  *     `boolean` accepts only case-insensitive true/false
  *     (`lib/parsers.js:118-127`). Any other declared type is a per-record
  *     error (`lib/parsers.js:128-130`).
  *   - On the first per-field error the field keeps no typed value and that
  *     field plus all later fields are omitted from the output — the
  *     "stop adding fields after first error" rule
  *     (`lib/parsers.js:132-133`, `252-253`).
  *   - Field-count vs header-count mismatch is a record error unless
  *     `ignoreExtraHeaders` and headers > fields (`lib/parsers.js:99-110`).
  *   - Fixed-width records must have length exactly equal to the last
  *     header's endPosition (`lib/parsers.js:224-227`).
  *
  * These are pure functions (unit-testable without Spark) applied inside
  * `Dataset.map` by [[BatchPipeline]]; at scale each task parses its split
  * independently — embarrassingly parallel, no shuffle.
  */
object Parsers {

  /** A coerced field value: string, double, or boolean. */
  sealed trait FieldValue extends Product with Serializable
  final case class SVal(s: String) extends FieldValue
  final case class NVal(d: Double) extends FieldValue
  final case class BVal(b: Boolean) extends FieldValue

  /** Parse outcome: `fields(i)` is Some only for fields successfully coerced
    * before the first error; `error` carries the first error message.
    */
  final case class ParsedRecord(fields: Vector[Option[FieldValue]], error: Option[String])

  /** JS `Number()` semantics (trim; "" -> 0; hex/binary/octal literals;
    * Infinity; otherwise decimal parse; anything else NaN -> None).
    */
  def jsNumber(raw: String): Option[Double] = {
    val s = raw.trim
    if (s.isEmpty) Some(0.0)
    else if (s == "Infinity" || s == "+Infinity") Some(Double.PositiveInfinity)
    else if (s == "-Infinity") Some(Double.NegativeInfinity)
    else {
      val lower = s.toLowerCase
      val radix =
        if (lower.startsWith("0x")) 16 else if (lower.startsWith("0b")) 2
        else if (lower.startsWith("0o")) 8 else 0
      // A failed radix literal is NaN in JS — it must not fall through to
      // parseDouble, which would accept hex-float forms like "0x1.8p1".
      if (radix != 0) {
        if (s.length > 2)
          try Some(java.lang.Long.parseLong(s.substring(2), radix).toDouble)
          catch { case _: NumberFormatException => None }
        else None
      } else {
        // JS rejects trailing garbage ("12abc"), leading/trailing signs are
        // fine; Java's Double.parseDouble accepts a trailing d/f suffix that
        // JS does not, so reject alpha suffixes explicitly.
        val last = s.charAt(s.length - 1)
        if (last == 'd' || last == 'D' || last == 'f' || last == 'F') None
        else
          try {
            val d = java.lang.Double.parseDouble(s)
            // parseDouble accepts the literal "NaN"/"+NaN"/"-NaN"; JS's
            // isNaN check makes those a 'did not match type number' error.
            if (d.isNaN) None else Some(d)
          } catch { case _: NumberFormatException => None }
      }
    }
  }

  /** A declared type as [[coerce]] matches it: lower-cased and trimmed.
    * Specs resolve theirs once, not per field of every record.
    */
  private def resolveType(declaredType: String): String = declaredType.toLowerCase.trim

  /** Coerce one raw field per the declared type. Left = error message.
    * `rawForMsg` is the ORIGINAL (untrimmed) token: the reference reports
    * `fValue1`, the pre-trim value, in type errors (`lib/parsers.js:116,127`).
    */
  def coerce(raw: String, declaredType: String, errPrefix: String, posInfo: String = "",
             rawForMsg: String = null): Either[String, FieldValue] =
    coerceResolved(raw, resolveType(declaredType), errPrefix, posInfo, rawForMsg)

  private def coerceResolved(raw: String, resolvedType: String, errPrefix: String, posInfo: String,
                             rawForMsg: String): Either[String, FieldValue] = {
    val msgVal = if (rawForMsg == null) raw else rawForMsg
    resolvedType match {
      case "string" => Right(SVal(raw))
      case "number" =>
        jsNumber(raw).map(NVal(_): FieldValue).toRight(
          s"$errPrefix: Data of fieldValue '$msgVal'$posInfo did not match type 'number'")
      case "boolean" =>
        raw.toLowerCase match {
          case "true"  => Right(BVal(true))
          case "false" => Right(BVal(false))
          case _ => Left(s"$errPrefix: Data of fieldValue '$msgVal'$posInfo did not match type 'boolean'. " +
            "Only true, false, TRUE, FALSE are accepted as type boolean.")
        }
      case other =>
        Left(s"$errPrefix: Specified DataType ('$other') is neither string nor number nor boolean.")
    }
  }

  // ---------------------------------------------------------------- CSV

  /** Parser configuration, validated at plan time (config errors are
    * job-fatal in the reference — `lib/parsers.js:46-59` throws — so here
    * they throw at construction, driver-side, never inside a task).
    */
  final case class CsvSpec(
      headers: Vector[String],
      types: Option[Vector[String]] = None, // None => all string (lib/parsers.js:82-85)
      delimiter: String = ",",
      ignoreExtraHeaders: Boolean = false,
      ignoreExtraHeaderDataTypes: Boolean = false) {
    require(headers.nonEmpty, "parseCSV: CSV Headers are missing in csvParser options " +
      "(options.csvHeaders - can be comma-separated string, string-array or object)")
    require(headers.forall(_.trim.nonEmpty),
      s"parseCSV: CSV Headers specified as string is either empty or whitespace: " +
        s"'${headers.mkString(",")}'. (options.csvHeaders - can be comma-separated " +
        "string, string-array or object)")
    types.foreach(t => require(t.nonEmpty, "parseCSV: empty csvHeaderDataTypes"))
    private[ingest] val resolvedTypes: Vector[String] =
      types.fold(Vector.fill(headers.length)("string"))(_.map(resolveType))
  }

  /** Quote-aware tokenizer for the comma-delimiter path. Mirrors
    * `cSVtoArray` (`lib/parsers.js:152-173`): single- or double-quoted
    * fields with backslash escapes, unquoted fields trimmed of surrounding
    * (not internal) whitespace, trailing comma => trailing empty field.
    * Returns None for a malformed line (unbalanced quote, bare backslash).
    */
  def tokenizeCsv(line: String): Option[Vector[String]] = {
    // Empty/whitespace-only line => ZERO tokens (the reference's re_value
    // has a (?!\s*$) guard, so cSVtoArray('') is [] — lib/parsers.js:151,156).
    if (line.forall(Character.isWhitespace)) return Some(Vector.empty)
    val out = Vector.newBuilder[String]
    val n = line.length
    var i = 0
    var ok = true
    while (i <= n && ok) {
      // skip leading whitespace of the field
      while (i < n && Character.isWhitespace(line.charAt(i))) i += 1
      if (i < n && (line.charAt(i) == '\'' || line.charAt(i) == '"')) {
        val q = line.charAt(i)
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val c = line.charAt(i)
          if (c == '\\' && i + 1 < n) { // escape: backslash keeps next char; \q -> q
            val nxt = line.charAt(i + 1)
            if (nxt == q) sb.append(q) else { sb.append(c); sb.append(nxt) }
            i += 2
          } else if (c == '\\') { ok = false; i += 1 } // dangling backslash
          else if (c == q) { closed = true; i += 1 }
          else { sb.append(c); i += 1 }
        }
        if (!closed) ok = false
        else {
          // skip trailing ws, then expect ',' or EOL
          while (i < n && Character.isWhitespace(line.charAt(i))) i += 1
          if (i < n && line.charAt(i) == ',') { out += sb.result(); i += 1; if (i == n) { out += "" ; i += 1 } }
          else if (i >= n) { out += sb.result(); i = n + 1 }
          else ok = false // garbage after closing quote
        }
      } else {
        // unquoted field: up to next comma; quotes/backslash inside are invalid per re_valid
        val sb = new StringBuilder
        var done = false
        while (i < n && !done) {
          val c = line.charAt(i)
          if (c == ',') done = true
          else if (c == '\'' || c == '"' || c == '\\') { ok = false; i += 1 }
          else { sb.append(c); i += 1 }
        }
        if (ok) {
          out += sb.result().trim
          if (done) { i += 1; if (i == n) { out += ""; i += 1 } } // trailing empty last field
          else i = n + 1
        }
      }
    }
    if (ok) Some(out.result()) else None
  }

  /** Parse + coerce one CSV/delimited line per the reference contract.
    * `fields` is aligned to `spec.headers`.
    */
  def parseCsvLine(spec: CsvSpec)(rec: String): ParsedRecord = {
    val tokensOpt =
      if (spec.delimiter == ",") tokenizeCsv(rec)
      else Some(rec.split(java.util.regex.Pattern.quote(spec.delimiter), -1).toVector)
    tokensOpt match {
      case None =>
        // reference returns null from cSVtoArray then crashes the run
        // (FATAL via runJob's catch, lib/batchProcessing.js:710-716).
        // Divergence, documented: at 100 TB one malformed line must not
        // halt the job, so we surface it as a record-level error instead.
        ParsedRecord(Vector.fill(spec.headers.length)(None), Some("parseCSV: malformed CSV record"))
      case Some(tokens) =>
        val nH = spec.headers.length
        var error: Option[String] = None
        // The reference runs ALL checks inside fieldValues.forEach
        // (lib/parsers.js:94-110): ZERO tokens (empty line) means zero
        // iterations — no mismatch error, an empty-json SUCCESS record.
        if (tokens.nonEmpty) {
          if (tokens.length > nH || (tokens.length < nH && !spec.ignoreExtraHeaders)) {
            val suffix = if (tokens.length < nH) " Try setting options.ignoreExtraHeaders to true" else ""
            error = Some(s"parseCSV: Mis-match between fieldCount (${tokens.length}) and headerCount ($nH). " +
              s"Headers: '${spec.headers.mkString(",")}'" + suffix)
          }
          spec.types.foreach { ts =>
            if (error.isEmpty && (tokens.length > ts.length || (tokens.length < ts.length && !spec.ignoreExtraHeaderDataTypes))) {
              val suffix = if (tokens.length < ts.length) " Try setting options.ignoreExtraHeaderDataTypes to true" else ""
              error = Some(s"parseCSV: Mis-match between fieldCount (${tokens.length}) and headerDataTypeCount (${ts.length}). " +
                s"HeaderDataTypes: '${ts.mkString(",")}'" + suffix)
            }
          }
        }
        val out = Vector.newBuilder[Option[FieldValue]]
        var i = 0
        while (i < nH) {
          if (error.isEmpty && i < tokens.length) {
            val raw = tokens(i).trim // lib/parsers.js:97
            coerceResolved(raw, spec.resolvedTypes(i), "parseCSV", "", tokens(i)) match {
              case Right(v)  => out += Some(v)
              case Left(err) => error = Some(err); out += None
            }
          } else out += None
          i += 1
        }
        ParsedRecord(out.result(), error)
    }
  }

  // ---------------------------------------------------------------- fixed width

  /** One fixed-width field: 1-based inclusive [startPosition, endPosition]
    * (`lib/parsers.js:230`). `length`/`justification` exist in the reference
    * option shape but are ignored there too.
    */
  final case class FwField(fieldName: String, fieldType: String, startPosition: Int, endPosition: Int) {
    require(fieldName != null && fieldName.nonEmpty, s"parseFW: Header fieldName is missing")
    require(fieldType != null && fieldType.nonEmpty, s"parseFW: Header type is missing")
    require(startPosition >= 1, s"parseFW: Header startPosition is missing")
    require(endPosition >= startPosition, s"parseFW: Header endPosition is missing")
    private[ingest] val resolvedType: String = resolveType(fieldType)
    private[ingest] val posInfo: String = s" at position $startPosition,$endPosition"
  }

  final case class FwSpec(fields: Vector[FwField]) {
    require(fields.nonEmpty, "parseFW: FW Headers specified as empty array. Should be array of objects.")
    val recordLength: Int = fields.last.endPosition
  }

  /** Parse + coerce one fixed-width line (`lib/parsers.js:219-262`). */
  def parseFwLine(spec: FwSpec)(rec: String): ParsedRecord = {
    val want = spec.recordLength
    if (rec.length > want)
      ParsedRecord(Vector.fill(spec.fields.length)(None),
        Some(s"parseFW: Record length is larger than max-header-position ( ${rec.length} > $want )"))
    else if (rec.length < want)
      ParsedRecord(Vector.fill(spec.fields.length)(None),
        Some(s"parseFW: Record length is smaller than max-header-position ( ${rec.length} < $want )"))
    else {
      var error: Option[String] = None
      val out = Vector.newBuilder[Option[FieldValue]]
      spec.fields.foreach { f =>
        if (error.isEmpty) {
          val fieldStr = rec.substring(f.startPosition - 1, f.endPosition)
          // FW strings are NOT trimmed (lib/parsers.js:250); number/boolean
          // coercion trims internally exactly like JS Number()/toLowerCase.
          coerceResolved(fieldStr, f.resolvedType, "parseFW", f.posInfo, null) match {
            case Right(v)  => out += Some(v)
            case Left(err) => error = Some(err); out += None
          }
        } else out += None
      }
      ParsedRecord(out.result(), error)
    }
  }
}
