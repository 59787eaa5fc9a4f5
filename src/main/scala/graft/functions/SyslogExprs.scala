package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.time.OffsetDateTime

/** Single-pass syslog header parser covering RFC5424 and RFC3164 with
  * rsyslog's heuristics. One custom Catalyst expression replaces rsyslog's
  * parser chain (reference: tools/pmrfc5424.c:204, tools/pmrfc3164.c:65-71,
  * runtime/parser.c:613-686): protocol is auto-detected the way rsyslog
  * does — a '1' digit + space right after the PRI means RFC5424.
  *
  * Returns a struct; `parsesuccess=false` rows carry the raw message in
  * `msg`, the PRI fields, and nulls elsewhere (rsyslog's COULD_NOT_PARSE
  * → next parser → fallback semantics collapsed into one expression).
  * The PRI comes from [[SyslogParseExpr.priScan]], the same byte scan
  * [[SyslogPriExpr]] runs, so `parse_syslog(x).pri == syslog_pri(x)`.
  */
case class SyslogParseExpr(child: Expression, defaultYear: Int = 2024,
                           detectYearAfterTimestamp: Boolean = false,
                           permitSlashInProgramname: Boolean = false,
                           parseHostnameAndTag: Boolean = true)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = SyslogParseExpr.schema
  override def nullable: Boolean = true
  override def prettyName: String = "parse_syslog"

  override protected def nullSafeEval(input: Any): Any =
    SyslogParseExpr.parse(input.asInstanceOf[UTF8String], defaultYear,
      detectYearAfterTimestamp, permitSlashInProgramname, parseHostnameAndTag)

  // real codegen (not CodegenFallback): children stay codegen'd and the
  // kernel is one static call — keeps the scan→parse→filter pipeline
  // inside a single WholeStageCodegen stage
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SyslogParseExpr$$.MODULE$$.parse($c, $defaultYear, $detectYearAfterTimestamp, $permitSlashInProgramname, $parseHostnameAndTag);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `syslog_pri(rawmsg)`: the PRI alone, read straight from the
  * `<NNN>` bytes by the scan `parse_syslog` itself runs. A PRI selector
  * filter over this kernel pushes down as a byte scan, so the full parse
  * runs only on the rows an action takes. */
case class SyslogPriExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "syslog_pri"

  override protected def nullSafeEval(input: Any): Any =
    SyslogParseExpr.pri(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SyslogParseExpr$$.MODULE$$.pri($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SyslogParseExpr {
  val schema: StructType = StructType(Seq(
    StructField("protocol_version", IntegerType),
    StructField("pri", IntegerType),
    StructField("facility", IntegerType),
    StructField("severity", IntegerType),
    StructField("ts", TimestampType),
    StructField("hostname", StringType),
    StructField("app_name", StringType),
    StructField("procid", StringType),
    StructField("msgid", StringType),
    StructField("structured_data", StringType),
    StructField("syslogtag", StringType),
    StructField("programname", StringType),
    StructField("msg", StringType),
    StructField("parsesuccess", BooleanType)
  ))

  // lowercase keys: the reference's month scan is case-insensitive
  // (datetime.c "2009-08-17: we now do case-insensitive comparisons")
  private val months = Map(
    "jan" -> 1, "feb" -> 2, "mar" -> 3, "apr" -> 4, "may" -> 5, "jun" -> 6,
    "jul" -> 7, "aug" -> 8, "sep" -> 9, "oct" -> 10, "nov" -> 11, "dec" -> 12)

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  /** program name = tag up to end / nonprintable / ':' / '[' / '/'
    * (the FreeBSD definition, runtime/msg.c acquireProgramName; '/'
    * terminates unless global parser.permitSlashInProgramname is on —
    * pinned by tests/prop-programname-with-slashes.sh). */
  def programName(tag: String, permitSlash: Boolean = false): String = {
    if (tag == null) return null
    var i = 0
    while (i < tag.length && tag(i) >= ' ' && tag(i) != ':' &&
           tag(i) != '[' && (permitSlash || tag(i) != '/')) i += 1
    tag.substring(0, i)
  }

  /** PRI scan over the raw bytes, shared by `parse_syslog` and
    * `syslog_pri`: no '<' at offset 0 → DEFUPRI 13 = user.notice
    * (RFC3164 §4.3.3); a '<' that does NOT open a valid `<1-3 ASCII
    * digits ≤191>` → LOG_PRI_INVLD 199 = facility 24 "invld" + severity
    * debug, with the PRI text left in the message (compute_off_after_pri
    * + parser.c:586-597, an ASCII-only digit scan; tests/fac_invld*.sh).
    * Returns `pri | offsetAfterPri << 8`; the PRI text is ASCII, so the
    * byte offset is also the char offset. */
  def priScan(s: UTF8String): Int = {
    val n = s.numBytes
    if (n == 0 || s.getByte(0) != '<') return 13
    var k = 1
    var v = 0
    while (k <= 3 && k < n && s.getByte(k) >= '0' && s.getByte(k) <= '9') {
      v = v * 10 + (s.getByte(k) - '0')
      k += 1
    }
    if (k > 1 && k < n && s.getByte(k) == '>' && v <= 191) v | (k + 1) << 8
    else 199
  }

  /** The PRI alone: the `syslog_pri` kernel. */
  def pri(s: UTF8String): Int = priScan(s) & 0xff

  def parse(raw: UTF8String, defaultYear: Int,
            detectYearAfterTime: Boolean = false,
            permitSlashProg: Boolean = false,
            parseHostnameAndTag: Boolean = true): InternalRow = {
    val scan = priScan(raw)
    val s = raw.toString
    try parseImpl(s, scan & 0xff, scan >>> 8, defaultYear, detectYearAfterTime,
      permitSlashProg, parseHostnameAndTag)
    catch { case _: Exception => fallback(s, scan & 0xff) }
  }

  /** The row of a body the parser could not take: the raw message in
    * `msg`, the PRI already scanned, nulls elsewhere. */
  private[graft] def fallback(raw: String, pri: Int): InternalRow =
    InternalRow(1, pri, pri >> 3, pri & 7, null, null, null, null, null, null,
      null, null, utf8(raw), false)

  private def parseImpl(raw: String, pri: Int, bodyStart: Int, defaultYear: Int,
                        detectYearAfterTime: Boolean,
                        permitSlashProg: Boolean,
                        parseHostnameAndTag: Boolean): InternalRow = {
    val i = bodyStart
    val n = raw.length
    val facility = pri >> 3
    val severity = pri & 7

    // ---- protocol detect: "1 " right after PRI → RFC5424 ----
    if (i + 1 < n && raw(i) == '1' && raw(i + 1) == ' ') {
      parse5424(raw, i + 2, pri, facility, severity, permitSlashProg)
    } else {
      parse3164(raw, i, pri, facility, severity, defaultYear,
        detectYearAfterTime, permitSlashProg, parseHostnameAndTag)
    }
  }

  private def nilNull(s: String): String = if (s == "-") null else s

  private def token(raw: String, start: Int): (String, Int) = {
    var i = start
    val n = raw.length
    while (i < n && raw(i) == ' ') i += 1
    val s = i
    while (i < n && raw(i) != ' ') i += 1
    (raw.substring(s, i), i)
  }

  // permitSlashProg: the program-name '/' terminator is a GLOBAL parser
  // setting (msg.c acquireProgramName), so it applies to RFC5424 too
  private def parse5424(raw: String, start: Int, pri: Int, fac: Int, sev: Int,
                        permitSlashProg: Boolean = false): InternalRow = {
    var i = start
    val n = raw.length
    val (tsStr, i1) = token(raw, i)
    val (host, i2) = token(raw, i1)
    val (app, i3) = token(raw, i2)
    val (procid, i4) = token(raw, i3)
    val (msgid, i5) = token(raw, i4)
    i = i5
    while (i < n && raw(i) == ' ') i += 1
    // STRUCTURED-DATA: '-' or one-or-more [..] blocks (escaped \] inside)
    var sd: String = null
    if (i < n && raw(i) == '-') { i += 1 }
    else if (i < n && raw(i) == '[') {
      val sdStart = i
      while (i < n && raw(i) == '[') {
        i += 1
        var esc = false
        while (i < n && (raw(i) != ']' || esc)) {
          esc = raw(i) == '\\' && !esc
          i += 1
        }
        if (i < n) i += 1 // consume ']'
      }
      sd = raw.substring(sdStart, i)
    }
    if (i < n && raw(i) == ' ') i += 1
    val msg = if (i < n) raw.substring(i) else ""
    val tsMicros: java.lang.Long =
      if (tsStr == "-") null
      else try {
        val odt = OffsetDateTime.parse(tsStr)
        java.lang.Long.valueOf(odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L)
      } catch { case _: Exception => null }
    val appN = nilNull(app)
    // RFC5424 TAG = APP-NAME[PROCID], NO trailing colon (msg.c getTAG on
    // protocol-24 messages; pinned by parsertest-parse1.sh: tag
    // "myproc[8710]" / "su", never "su:")
    val tag = if (appN == null) null
      else appN + (if (nilNull(procid) != null) "[" + procid + "]" else "")
    InternalRow(1, pri, fac, sev,
      if (tsMicros == null) null else tsMicros.longValue(),
      utf8(nilNull(host)), utf8(appN), utf8(nilNull(procid)), utf8(nilNull(msgid)),
      utf8(sd), utf8(tag), utf8(programName(appN, permitSlashProg)), utf8(msg), true)
  }

  /** datetime.c ParseTIMESTAMP3164 re-expressed: optional 4-digit year
    * BEFORE the month (Brocade), case-insensitive month, one-digit days,
    * a year in the hour position (Cisco "Mar 7 2008 19:06:53"),
    * fractional seconds, an optional stray ':' after the time, optional
    * " YYYY" after the time behind `detectYearAfterTime` (pmrfc3164's
    * detect.yearAfterTimestamp, default off), and exactly one trailing
    * SP consumed — any other trailing char invalidates the timestamp.
    * Returns (endIndex, epochMicros) or null when not a timestamp.
    */
  private def parseTs3164(raw: String, start: Int, defaultYear: Int,
                          detectYearAfterTime: Boolean): (Int, Long) = {
    var i = start
    val n = raw.length
    def digits(): Int = { // srSLMGParseInt32: read all digits
      var v = 0
      var any = false
      while (i < n && raw(i) >= '0' && raw(i) <= '9') {
        v = v * 10 + (raw(i) - '0'); i += 1; any = true
      }
      if (any) v else -1
    }
    var year = 0
    // year BEFORE the month (e.g. Brocade)
    if (i < n && raw(i).isDigit) {
      year = digits()
      if (year < 1970 || year > 2100 || i >= n || raw(i) != ' ') return null
      i += 1
    }
    if (i + 3 > n) return null
    val mon = months.get(
      raw.substring(i, i + 3).toLowerCase(java.util.Locale.ROOT)).getOrElse(-1)
    if (mon < 0) return null
    i += 3
    if (i >= n || raw(i) != ' ') return null
    i += 1
    if (i < n && raw(i) == ' ') i += 1 // one-digit day: "Mar  7"
    val day = digits()
    if (day < 1 || day > 31) return null
    if (i >= n || raw(i) != ' ') return null
    i += 1
    var hour = digits()
    if (year == 0 && hour > 1970 && hour < 2100) {
      // a year in the hour position (Cisco); re-read the real hour
      year = hour
      if (i >= n || raw(i) != ' ') return null
      i += 1
      hour = digits()
    }
    if (hour < 0 || hour > 23) return null
    if (i >= n || raw(i) != ':') return null
    i += 1
    val minute = digits()
    if (minute < 0 || minute > 59) return null
    if (i >= n || raw(i) != ':') return null
    i += 1
    val second = digits()
    if (second < 0 || second > 60) return null
    var frac = 0L
    var fracDigits = 0
    if (i < n && raw(i) == '.') { // subsecond extension (Cisco IOS)
      i += 1
      while (i < n && raw(i).isDigit) {
        if (fracDigits < 6) { frac = frac * 10 + (raw(i) - '0'); fracDigits += 1 }
        i += 1
      }
    }
    // optional " YYYY" after the time (option, default off; NOT consumed
    // when followed by more than a year token — datetime.c:703-716).
    // Boundaries replicate the reference exactly: lenStr > 5 to enter
    // (so a year at end-of-string is NOT detected), lenStr > 6 for the
    // must-be-space-after check (a single trailing char after the year
    // skips it — the later "good time" check then adjudicates).
    if (detectYearAfterTime && year == 0 && i + 5 < n && raw(i) == ' ') {
      var y = 0
      var j = 1
      while (j < 5 && raw(i + j) >= '0' && raw(i + j) <= '9') {
        y = 10 * y + (raw(i + j) - '0'); j += 1
      }
      if (i + 6 < n && raw(i + 5) != ' ') y = 0
      if (y >= 2000 && y < 2100) { year = y; i += 5 }
    }
    if (i < n && raw(i) == ':') i += 1 // stray ':' after the date (Cisco)
    if (i < n) {
      if (raw(i) != ' ') return null // not a space → not a "good" time
      i += 1
    }
    // Epoch via cumulative-day arithmetic, NO calendar validation —
    // the reference (datetime.c syslogTime2time_t:1017-1101) only
    // range-checks fields, so "Feb 30" overflows into March and the
    // leap-second ss=60 rolls into the next minute; a calendar-strict
    // LocalDateTime.of would throw and wrongly fail the whole row.
    // LocalDate.of(y, mon, 1) never throws (mon is 1-12 from the month
    // map, y range-checked 1970-2100 or the defaultYear).
    val y = if (year > 0) year else defaultYear
    val epochSecs = (java.time.LocalDate.of(y, mon, 1).toEpochDay +
        (day - 1)) * 86400L + hour * 3600L + minute * 60L + second
    var micros = epochSecs * 1000000L
    if (fracDigits > 0) {
      var f = frac
      var d = fracDigits
      while (d < 6) { f *= 10; d += 1 }
      micros += f
    }
    (i, micros)
  }

  private def isHostChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-'

  private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** The default pmrfc3164 parse (tools/pmrfc3164.c parse2), re-expressed
    * byte-for-byte against the reference's own parsertest-parse1 corpus:
    * brace-headerless detect, 3339-then-3164 timestamp (HP-procurve
    * one-space retry), validated HOSTNAME (else it stays in TAG/MSG and
    * hostname falls back to the receiver — null here), TAG with NO size
    * cap ended by ':' (part of TAG) or SP (part of MSG), and MSG keeping
    * its leading space.
    */
  private def parse3164(raw: String, start: Int, pri: Int, fac: Int, sev: Int,
                        defaultYear: Int, detectYearAfterTime: Boolean,
                        permitSlashProg: Boolean,
                        parseHostnameAndTag: Boolean = true): InternalRow = {
    var i = start
    val n = raw.length
    // completely headerless: spaces/tabs then '{' or '[' (pmrfc3164.c
    // "grown heuristics") — everything is MSG
    var b = i
    while (b < n && (raw(b) == ' ' || raw(b) == '\t')) b += 1
    if (b < n && (raw(b) == '{' || raw(b) == '[')) {
      return InternalRow(0, pri, fac, sev, null, null, null, null, null, null,
        null, null, utf8(raw.substring(start)), true)
    }
    // TIMESTAMP: RFC3339 first (runtime/parser.c order), then 3164, then
    // the HP-procurve one-leading-space retry
    var tsMicros: java.lang.Long = null
    var ok = false
    if (i + 19 <= n && raw(i + 4) == '-' && raw(i + 7) == '-' &&
        (raw(i + 10) == 'T' || raw(i + 10) == 't')) {
      val sp = raw.indexOf(' ', i)
      val end = if (sp < 0) n else sp
      try {
        val odt = OffsetDateTime.parse(raw.substring(i, end))
        tsMicros = java.lang.Long.valueOf(
          odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L)
        i = if (end < n) end + 1 else end // consume the SP delimiter
        ok = true
      } catch { case _: Exception => }
    }
    if (!ok) {
      val r = parseTs3164(raw, i, defaultYear, detectYearAfterTime)
      if (r != null) { tsMicros = java.lang.Long.valueOf(r._2); i = r._1; ok = true }
    }
    if (!ok && i < n && raw(i) == ' ') {
      val r = parseTs3164(raw, i + 1, defaultYear, detectYearAfterTime)
      if (r != null) { tsMicros = java.lang.Long.valueOf(r._2); i = r._1; ok = true }
    }
    // no timestamp is NOT a failure: hostname/TAG parsing continues and
    // the timestamp falls back to reception time (null here)

    // global(parser.parseHostnameAndTag="off"): treat everything after
    // the timestamp as MSG — TAG empty, hostname = the receiver (null
    // here) (pmrfc3164.c:375-384,
    // tests/rscript_parsehostnameandtag_off.sh)
    if (!parseHostnameAndTag) {
      return InternalRow(0, pri, fac, sev,
        if (tsMicros == null) null else tsMicros.longValue(),
        null, null, null, null, null,
        null, null, utf8(if (i < n) raw.substring(i) else ""), true)
    }

    // HOSTNAME: [alnum._-]+, valid only if it ends the message or is
    // followed by SP with an alnum last char; otherwise NOT consumed
    // (the BSD tag-first case: hostname = receiver)
    var host: String = null
    var hEnd = i
    while (hEnd < n && isHostChar(raw(hEnd))) hEnd += 1
    if (hEnd > i &&
        (hEnd == n || (raw(hEnd) == ' ' && isAlnum(raw(hEnd - 1))))) {
      host = raw.substring(i, hEnd)
      i = if (hEnd == n) hEnd else hEnd + 1
    }
    // TAG: everything up to ':' (part of the TAG, consumed) or SP (NOT
    // consumed — it is MSG content); the RFC's 32-char cap was removed
    // 2008-04-04 but the scan still stops at CONF_TAG_MAXSIZE-2 = 510
    // bytes (pmrfc3164.c:472, rsyslog.h:200) — an over-long token is
    // split: first 510 chars become TAG, the remainder is MSG (unless
    // char 510 is ':' which still terminates-and-joins the TAG)
    val tagStart = i
    var j = i
    while (j < n && raw(j) != ':' && raw(j) != ' ' && j - tagStart < 510) j += 1
    var tag: String = null
    if (j < n && raw(j) == ':') {
      tag = raw.substring(tagStart, j + 1)
      i = j + 1
    } else {
      if (j > tagStart) tag = raw.substring(tagStart, j)
      i = j
    }
    // PROCID from TAG: text inside the first [..] (msg.c aquirePROCIDFromTAG)
    var procid: String = null
    if (tag != null) {
      val bOpen = tag.indexOf('[')
      val bClose = if (bOpen >= 0) tag.indexOf(']', bOpen) else -1
      if (bOpen >= 0 && bClose > bOpen) procid = tag.substring(bOpen + 1, bClose)
    }
    // MSG: the remainder, INCLUDING any leading space
    val msg = if (i < n) raw.substring(i) else ""
    val prog = programName(tag, permitSlashProg)
    val appFromTag = if (prog == null || prog.isEmpty) null else prog
    InternalRow(0, pri, fac, sev,
      if (tsMicros == null) null else tsMicros.longValue(),
      utf8(host), utf8(appFromTag), utf8(procid), null, null,
      utf8(tag), utf8(if (tag == null) null else prog), utf8(msg), true)
  }
}

/** RFC5424 STRUCTURED-DATA string → JSON (reference: mmpstrucdata,
  * plugins/mmpstrucdata/mmpstrucdata.c). `[id@ent k="v" k2="v2"][id2 ...]`
  * → {"id@ent":{"k":"v","k2":"v2"},"id2":{}}. Escapes \" \\ \] honored.
  */
case class ParseStructuredDataExpr(child: Expression)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_structured_data"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val root = JsonPathUtil.mapper.createObjectNode()
    var i = 0
    val n = s.length
    try {
      while (i < n) {
        while (i < n && s(i) != '[') i += 1
        if (i >= n) return UTF8String.fromString(JsonPathUtil.mapper.writeValueAsString(root))
        i += 1
        val idStart = i
        while (i < n && s(i) != ' ' && s(i) != ']') i += 1
        val sdid = s.substring(idStart, i)
        val elem = JsonPathUtil.mapper.createObjectNode()
        root.set(sdid, elem)
        while (i < n && s(i) != ']') {
          while (i < n && s(i) == ' ') i += 1
          if (i < n && s(i) == ']') { /* done */ }
          else {
            val kStart = i
            while (i < n && s(i) != '=') i += 1
            val key = s.substring(kStart, i)
            i += 1 // '='
            if (i < n && s(i) == '"') {
              i += 1
              val sb = new StringBuilder
              while (i < n && s(i) != '"') {
                if (s(i) == '\\' && i + 1 < n &&
                    (s(i + 1) == '"' || s(i + 1) == '\\' || s(i + 1) == ']')) {
                  sb.append(s(i + 1)); i += 2
                } else { sb.append(s(i)); i += 1 }
              }
              i += 1 // closing quote
              elem.put(key, sb.toString)
            }
          }
        }
        if (i < n) i += 1 // ']'
      }
      UTF8String.fromString(JsonPathUtil.mapper.writeValueAsString(root))
    } catch { case _: Exception => null }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
