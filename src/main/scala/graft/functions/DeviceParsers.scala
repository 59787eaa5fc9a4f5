package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Device-specific parser (pm*) and message-modification (mm*) operators
  * from SURVEY §2.9 — each a pure Column combinator over Spark built-ins
  * (codegen'd regexp/split/map ops), composed with `coalesce` for the
  * reference's first-parser-wins chain semantics
  * (runtime/parser.c:613-686).
  */
object device {

  private def col2(e: Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)
  private implicit class RichCol(val c: Column) {
    def expr: Expression = org.apache.spark.sql.GraftBridge.expression(c)
  }

  // ------------------------------------------------------------ pmciscoios
  /** Cisco IOS body: `[seq: ][*|.]TIMESTAMP: %FAC-SEV-MNEMONIC: text`
    * (reference: plugins/pmciscoios/pmciscoios.c:148-215 — sequence
    * number, '*'/'.' clock-unsynced markers, %-tag). Null when the line
    * is not IOS-shaped. */
  private val iosRe =
    "^(?:(\\d+): )?[*.]?((?:[A-Z][a-z]{2} +\\d+|\\d{4} [A-Z][a-z]{2} +\\d+) " +
      "\\d{2}:\\d{2}:\\d{2}(?:\\.\\d+)?(?: [A-Z]{1,4})?): " +
      "%([A-Z0-9_]+)-(\\d)-([A-Z0-9_]+): (.*)$"

  /** Whole-struct one-match parse (RegexStructExpr): the regex runs once
    * per row and returns the typed struct (null struct = no match);
    * GetStructField consumers in plain projections CSE to one call. */
  def parseCiscoIos(msg: Column): Column =
    col2(RegexStructExpr(msg.expr, iosRe, Seq(
      ("seqno", 1, 'L'), ("ts", 2, 'S'), ("msg_facility", 3, 'S'),
      ("severity", 4, 'I'), ("mnemonic", 5, 'S'), ("text", 6, 'S'))))

  // --------------------------------------------------- pmaixforwardedfrom
  /** AIX `Message forwarded from <host>: <msg>` unmangling (reference:
    * contrib/pmaixforwardedfrom/pmaixforwardedfrom.c:69 OpeningText). */
  private val aixRe = "^Message forwarded from ([^:]+): (.*)$"

  def parseAixForwardedFrom(msg: Column): Column =
    col2(RegexStructExpr(msg.expr, aixRe, Seq(
      ("hostname", 1, 'S'), ("text", 2, 'S'))))

  // --------------------------------------------------------- pmcisconames
  /** `TIMESTAMP <name> : %TAG-SEV-MNEMONIC: text` — devices that put the
    * name between timestamp and tag with a ` : ` separator (reference:
    * contrib/pmcisconames/pmcisconames.c:69 `": %"` scan). */
  private val namesRe =
    "^([A-Z][a-z]{2} +\\d+ \\d{2}:\\d{2}:\\d{2}(?:\\.\\d+)?) (\\S+) : " +
      "%([A-Z0-9_]+)-(\\d)-([A-Z0-9_]+): (.*)$"

  def parseCiscoNames(msg: Column): Column =
    col2(RegexStructExpr(msg.expr, namesRe, Seq(
      ("hostname", 2, 'S'), ("msg_facility", 3, 'S'),
      ("severity", 4, 'I'), ("mnemonic", 5, 'S'), ("text", 6, 'S'))))

  // ---------------------------------------------------------- mmleefparse
  /** LEEF event: `LEEF:ver|vendor|product|pversion|eventID|k=v<delim>k=v…`
    * (reference: plugins/mmleefparse/mmleefparse.c:238-295 header walk,
    * default delimiter TAB, `LEEF:` cookie at :110). LEEF 2.0 may carry a
    * sixth header field declaring the extension delimiter — a literal
    * char or the `xHH` hex form — which overrides `delim`. Extension
    * block exposed as MAP<STRING,STRING>. */
  def parseLeef(raw: Column, delim: String = "\t"): Column = {
    val body = regexp_replace(raw, "^LEEF:", "")
    val seg = split(body, "\\|", 6)
    val tail = coalesce(element_at(seg, 6), lit(""))
    // 2.0 delimiter header: a 1-char (or xHH, or EMPTY = keep default)
    // field followed by '|' then the k=v block; 1.0 tails (or 2.0
    // without the field) start directly at k=v
    val hasDelimHdr = element_at(seg, 1).startsWith("2") &&
      tail.rlike("^(x[0-9A-Fa-f]{2}|[^=|])?\\|")
    val declared = regexp_extract(tail, "^(x[0-9A-Fa-f]{2}|[^=|])?\\|", 1)
    val delimCol = when(!hasDelimHdr || declared === "", lit(delim))
      .when(declared.rlike("^x[0-9A-Fa-f]{2}$"),
        // xHH hex form → the character it encodes
        chr(conv(substring(declared, 2, 2), 16, 10).cast(LongType)))
      .otherwise(declared)
    val ext = when(hasDelimHdr, regexp_replace(tail,
        "^(x[0-9A-Fa-f]{2}|[^=|])?\\|", "")).otherwise(tail)
    when(raw.startsWith("LEEF:") && size(seg) >= 5, struct(
      element_at(seg, 1).as("version"),
      element_at(seg, 2).as("vendor"),
      element_at(seg, 3).as("product"),
      element_at(seg, 4).as("product_version"),
      element_at(seg, 5).as("event_id"),
      str_to_map(ext,
        concat(lit("\\Q"), delimCol, lit("\\E")), lit("=")).as("ext")))
  }

  // --------------------------------------------------- pmsnare/mmsnareparse
  /** Snare-agent Windows event (tab-delimited): cookie MSWinEventLog,
    * criticality, log source, counter, submit time, windows event id,
    * provider, user, SID type, event-log type, host, category, expanded
    * info, message (reference: contrib/pmsnare, plugins/mmsnareparse
    * field tables). */
  def parseSnare(raw: Column): Column = {
    val f = split(raw, "\t")
    when(element_at(f, 1) === "MSWinEventLog" && size(f) >= 14, struct(
      element_at(f, 2).cast(IntegerType).as("criticality"),
      element_at(f, 3).as("log_source"),
      element_at(f, 4).cast(LongType).as("counter"),
      element_at(f, 5).as("submit_time"),
      element_at(f, 6).cast(LongType).as("win_event_id"),
      element_at(f, 7).as("provider"),
      element_at(f, 8).as("user"),
      element_at(f, 9).as("sid_type"),
      element_at(f, 10).as("log_type"),
      element_at(f, 11).as("host"),
      element_at(f, 12).as("category"),
      element_at(f, 14).as("message")))
  }

  // -------------------------------------------------------------- mmaudit
  /** Linux audit record: `type=<T> msg=audit(<sec>.<ms>:<serial>): k=v …`
    * (reference: plugins/mmaudit/mmaudit.c:216-244 header check, k=v body
    * via parseName/parseValue — parseValue handles quoted values, so
    * `cmd="ls -la"` is ONE entry). Body exposed as MAP<STRING,STRING>
    * with surrounding quotes stripped. */
  private val auditHdr = "^type=(\\S+) msg=audit\\((\\d+)\\.(\\d+):(\\d+)\\): (.*)$"
  private val auditKv = "([A-Za-z0-9_-]+)=(\"[^\"]*\"|\\S+)"

  /** Header match + k=v body scan in ONE kernel: the 'M' field runs the
    * quoted-value-aware k=v scan (parseName/parseValue semantics,
    * first-wins on duplicate keys) over the body group. */
  def parseAudit(msg: Column): Column =
    col2(RegexStructExpr(msg.expr, auditHdr, Seq(
      ("audit_type", 1, 'S'), ("epoch", 2, 'L'),
      ("serial", 4, 'L'), ("kv", 5, 'M'))))

  // ------------------------------------------------------------ mmutf8fix
  /** Repair invalid UTF-8 in a binary payload: every byte of an invalid
    * sequence (stray continuation, overlong form, surrogate, >U+10FFFF,
    * truncated tail) is replaced with `repl` (reference:
    * plugins/mmutf8fix/mmutf8fix.c fixUTF8 kernel, default ' '). */
  def utf8fix(bin: Column, repl: String = " "): Column =
    col2(Utf8FixExpr(bin.expr, repl))

  // ---------------------------------------------------- mmrfc5424addhmac
  /** RFC 2104 key schedule: hash keys longer than the 64-byte SHA-256
    * block, then zero-pad to the block size. */
  private def hmacKeyBlock(key: String): Array[Byte] = {
    val kb = key.getBytes("UTF-8")
    val k0 = if (kb.length > 64)
      java.security.MessageDigest.getInstance("SHA-256").digest(kb)
    else kb
    k0.padTo(64, 0.toByte)
  }

  /** Byte-exact RFC 2104 HMAC-SHA256 of the message (reference:
    * contrib/mmrfc5424addhmac/mmrfc5424addhmac.c — HMAC of the raw
    * message appended as an SD element). Returns the lowercase hex
    * digest, interoperable with rsyslog-verifiable signatures. The whole
    * chain stays in binary space: sha256(K⊕opad ‖ sha256(K⊕ipad ‖ msg))
    * with the inner digest fed through as raw bytes (`unhex`). */
  def hmacSha256(msg: Column, key: String): Column = {
    val k0 = hmacKeyBlock(key)
    val ipad = k0.map(b => (b ^ 0x36).toByte)
    val opad = k0.map(b => (b ^ 0x5c).toByte)
    lower(sha2(concat(lit(opad),
      unhex(sha2(concat(lit(ipad), msg.cast(BinaryType)), 256))), 256))
  }

  /** Hex-domain keyed two-pass construction sha256(opad ‖ hex(sha256(
    * ipad ‖ msg))) with the inner digest left hex-encoded so the whole
    * chain stays in string space. NOT RFC 2104 — signatures are not
    * verifiable by rsyslog tooling; it exists because the DuckDB oracle
    * engine has only VARCHAR sha256, so this variant is the one the
    * driver can cross-check. Production signing is [[hmacSha256]]. */
  def hmacLikeHex(msg: Column, key: String): Column = {
    val kp = hmacKeyBlock(key)
    val ipad = new String(kp.map(b => (b ^ 0x36).toByte), "ISO-8859-1")
    val opad = new String(kp.map(b => (b ^ 0x5c).toByte), "ISO-8859-1")
    sha2(concat(lit(opad), sha2(concat(lit(ipad), msg), 256)), 256)
  }

  /** Append the signature SD element `[sdid h="<sig>"]` to a message —
    * the shape mmrfc5424addhmac writes into STRUCTURED-DATA. Signs with
    * byte-exact RFC 2104 HMAC-SHA256 unless `oracleCompat` selects the
    * hex-domain variant (only for DuckDB-cross-checked pipelines). */
  def addHmacSd(msg: Column, key: String, sdid: String,
                oracleCompat: Boolean = false): Column = {
    val sig = if (oracleCompat) hmacLikeHex(msg, key) else hmacSha256(msg, key)
    concat(msg, lit(" ["), lit(sdid), lit(" h=\""), sig, lit("\"]"))
  }

  // ------------------------------------------------------------ pmlastmsg
  /** Marker for `last message repeated n times` bodies (reference:
    * plugins/pmlastmsg/pmlastmsg.c:75 OpeningText). */
  def isLastMsgRepeated(msg: Column): Column =
    msg.startsWith("last message repeated ")

  // -------------------------------------------------------- mmtaghostname
  /** Tag messages from tag-less inputs and optionally force the local
    * hostname (reference: contrib/mmtaghostname/mmtaghostname.c:67-68
    * `tag`, `forcelocalhostname`). */
  def tagHostname(tag: Column, hostname: Column, newTag: String,
                  localHost: String, forceLocalHostname: Boolean): Column = {
    val t = coalesce(nullif(tag, lit("")), lit(newTag)).as("tag")
    val h = if (forceLocalHostname) lit(localHost).as("hostname")
            else hostname.as("hostname")
    struct(t, h)
  }

  // --------------------------------------------------------- mmsnmptrapd
  /** Rewrite severity/facility for snmptrapd-originated messages: when
    * the tag matches, the severity *word* leading the body is mapped to
    * its numerical code (reference: plugins/mmsnmptrapd/mmsnmptrapd.c:
    * 80-81 tag trigger + severity mapping table). */
  def snmptrapdRewrite(tag: Column, msg: Column, severity: Column,
                       trigger: String = "snmptrapd:",
                       mapping: Seq[(String, Int)] = Seq(
                         "emerg" -> 0, "alert" -> 1, "critical" -> 2,
                         "error" -> 3, "warning" -> 4, "notice" -> 5,
                         "info" -> 6, "debug" -> 7)): Column = {
    val word = regexp_extract(msg, "^(\\w+)", 1)
    val mapped = mapping.foldLeft(lit(null).cast(IntegerType): Column) {
      case (acc, (w, code)) => when(word === w, lit(code)).otherwise(acc)
    }
    when(tag === trigger, coalesce(mapped, severity)).otherwise(severity)
  }

  // ------------------------------------------------------------ pmdb2diag
  /** DB2 diagnostic log first line: `<ts> <recid> LEVEL: <level> PID :
    * <pid> …` (reference: contrib/pmdb2diag — level/pid/tid extraction
    * at fixed offsets after the timestamp). */
  private val db2Re =
    "^(\\S+) (\\S+) +LEVEL: (\\w+) +PID +: +(\\d+) +TID +: +(\\d+) +PROC : (.*)$"

  def parseDb2Diag(msg: Column): Column =
    col2(RegexStructExpr(msg.expr, db2Re, Seq(
      ("ts", 1, 'S'), ("level", 3, 'S'), ("pid", 4, 'L'),
      ("tid", 5, 'L'), ("proc", 6, 'S'))))

  // ------------------------------------------------------------ pmpanngfw
  /** Palo Alto NGFW CSV body: `1,<recv time>,<serial>,<type>,<subtype>,…`
    * (reference: contrib/pmpanngfw/pmpanngfw.c — comma-separated after
    * the FUTURE_USE leading field). */
  def parsePanNgfw(msg: Column): Column = {
    // limit 6: the 6th segment keeps the remainder (a real PAN line has
    // dozens more CSV fields — `rest` is everything after subtype)
    val f = split(msg, ",", 6)
    when(element_at(f, 1) === "1" && size(f) >= 6, struct(
      element_at(f, 2).as("recv_time"),
      element_at(f, 3).as("serial"),
      element_at(f, 4).as("pan_type"),
      element_at(f, 5).as("subtype"),
      element_at(f, 6).as("rest")))
  }
}

/** Property-replacer control-character handling (reference:
  * runtime/msg.c:4420-4512, template.h options drop-cc/space-cc/
  * escape-cc/escape-cc-octal): mode 0 drops control chars, 1 replaces
  * with space, 2 escapes as #DDD decimal, 3 as #OOO octal.
  */
case class ControlCharExpr(child: Expression, mode: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  // modes 0-3: property-replacer drop/space/#DDD/#OOO (isISOControl);
  // mode 4: reception sanitize — ONLY c < 32 escaped as #OOO octal
  // (runtime/parser.c:441-499 SanitizeMsg default: EscapeCCOnRcv=1,
  // prefix '#', DEL and 8-bit chars untouched)
  require(mode >= 0 && mode <= 4)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "control_chars"

  override protected def nullSafeEval(input: Any): Any =
    ControlCharExpr.kernel(input.asInstanceOf[UTF8String], mode)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ControlCharExpr$$.MODULE$$.kernel($c, $mode);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ControlCharExpr {
  def kernel(s: UTF8String, mode: Int): UTF8String = {
    // fast path: no control characters (the overwhelmingly common case
    // on the reception hot path) → return the input untouched, no
    // String/StringBuilder allocation. Control chars are single bytes
    // in UTF-8, so a byte scan in place is exact.
    val n = s.numBytes
    var k = 0
    var clean = true
    while (clean && k < n) {
      val b = s.getByte(k) & 0xff
      // modes 0-3 use isISOControl, which also covers DEL and the C1
      // range (U+0080-U+009F = 0xC2 0x80-0x9F in UTF-8)
      if (b < 32 || (mode != 4 && (b == 127 ||
          (b == 0xC2 && k + 1 < n && (s.getByte(k + 1) & 0xff) <= 0x9f)))) clean = false
      k += 1
    }
    if (clean) return s
    val in = s.toString
    val sb = new java.lang.StringBuilder(in.length + 8)
    var i = 0
    while (i < in.length) {
      val c = in.charAt(i)
      val isCtrl = if (mode == 4) c < ' ' else Character.isISOControl(c)
      if (isCtrl) mode match {
        case 0 => // drop
        case 1 => sb.append(' ')
        case 2 => sb.append('#').append(('0' + c / 100).toChar)
          .append(('0' + (c / 10) % 10).toChar).append(('0' + c % 10).toChar)
        case _ => sb.append('#').append(('0' + ((c >> 6) & 7)).toChar)
          .append(('0' + ((c >> 3) & 7)).toChar).append(('0' + (c & 7)).toChar)
      } else sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Byte-level UTF-8 repair (mmutf8fix kernel): validates sequences the
  * same way the reference does (overlong forms, UTF-16 surrogates,
  * codepoints > U+10FFFF, stray continuation bytes, truncated tails) and
  * overwrites every byte of an invalid sequence with `repl`.
  * Reference: plugins/mmutf8fix/mmutf8fix.c (MODE_UTF8 path).
  */
/** `repl` is the replacement byte SEQUENCE substituted for each invalid
  * byte — one char per byte, ISO-8859-1 coded (mmutf8fix
  * replacementChar/replacementSequence,
  * tests/yaml-mmutf8fix-replacement-sequence.sh). */
case class Utf8FixExpr(child: Expression, repl: String)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "utf8fix"

  @transient private lazy val replBytes =
    repl.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  override protected def nullSafeEval(input: Any): Any =
    Utf8FixExpr.kernel(input.asInstanceOf[Array[Byte]], replBytes)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("utf8repl", replBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Utf8FixExpr$$.MODULE$$.kernel($c, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Utf8FixExpr {
  def kernel(in: Array[Byte], replSeq: Array[Byte]): UTF8String = {
    if (replSeq.length != 1) return kernelSeq(in, replSeq)
    val repl = replSeq(0)
    val out = in.clone()
    val n = out.length
    var i = 0
    while (i < n) {
      val c = out(i) & 0xff
      if ((c & 0x80) == 0) { i += 1 } // ASCII
      else if (c >= 0xc0 && c <= 0xf7) {
        val seqLen = if (c < 0xe0) 2 else if (c < 0xf0) 3 else 4
        var cp = c & (0x3f >> (seqLen - 1))
        var j = i + 1
        var ok = true
        while (ok && j < i + seqLen) {
          if (j >= n || (out(j) & 0xc0) != 0x80) ok = false
          else { cp = (cp << 6) | (out(j) & 0x3f); j += 1 }
        }
        val overlong = ok && ((seqLen == 2 && cp < 0x80) ||
          (seqLen == 3 && cp < 0x800) || (seqLen == 4 && cp < 0x10000))
        val badCp = ok && ((cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF)
        if (ok && !overlong && !badCp) i += seqLen
        else {
          // invalidate all bytes consumed so far in this sequence
          var k = i
          while (k < j) { out(k) = repl; k += 1 }
          i = j
        }
      } else { out(i) = repl; i += 1 } // stray continuation / 5-6 byte start
    }
    UTF8String.fromBytes(out)
  }

  /** Multi-byte replacement sequence: every invalid byte expands to the
    * whole sequence, so the output is rebuilt. */
  private def kernelSeq(in: Array[Byte], repl: Array[Byte]): UTF8String = {
    val bos = new java.io.ByteArrayOutputStream(in.length + 16)
    val n = in.length
    var i = 0
    while (i < n) {
      val c = in(i) & 0xff
      if ((c & 0x80) == 0) { bos.write(c); i += 1 }
      else if (c >= 0xc0 && c <= 0xf7) {
        val seqLen = if (c < 0xe0) 2 else if (c < 0xf0) 3 else 4
        var cp = c & (0x3f >> (seqLen - 1))
        var j = i + 1
        var ok = true
        while (ok && j < i + seqLen) {
          if (j >= n || (in(j) & 0xc0) != 0x80) ok = false
          else { cp = (cp << 6) | (in(j) & 0x3f); j += 1 }
        }
        val overlong = ok && ((seqLen == 2 && cp < 0x80) ||
          (seqLen == 3 && cp < 0x800) || (seqLen == 4 && cp < 0x10000))
        val badCp = ok && ((cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF)
        if (ok && !overlong && !badCp) { bos.write(in, i, seqLen); i += seqLen }
        else {
          var k = i
          while (k < j) { bos.write(repl, 0, repl.length); k += 1 }
          i = j
        }
      } else { bos.write(repl, 0, repl.length); i += 1 }
    }
    UTF8String.fromBytes(bos.toByteArray)
  }
}

/** Reception sanitize with the full glbl parser.* option family
  * (SanitizeMsg, runtime/parser.c:330-510): optional LF→space, control
  * chars (< 32; tab only when escapeTab) escaped as <prefix>+octal or
  * C-style (\0 \a \b \e \f \n \r \t \v, else \xHH), optional 8-bit
  * byte escaping. Operates on the UTF-8 BYTES like the reference's
  * pre-parse pass. */
case class ReceptionSanitizeExpr(child: Expression, spaceLF: Boolean,
                                 escapeCC: Boolean, escapeTab: Boolean,
                                 escape8Bit: Boolean, cStyle: Boolean,
                                 prefix: Char)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "reception_sanitize"

  override protected def nullSafeEval(input: Any): Any =
    ReceptionSanitizeExpr.kernel(input.asInstanceOf[UTF8String],
      spaceLF, escapeCC, escapeTab, escape8Bit, cStyle, prefix)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.ReceptionSanitizeExpr$$.MODULE$$.kernel(
         |  $c, $spaceLF, $escapeCC, $escapeTab, $escape8Bit, $cStyle, (char) ${prefix.toInt});
         |""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ReceptionSanitizeExpr {
  private val hexdigit = "0123456789ABCDEF"

  def kernel(s: UTF8String, spaceLF: Boolean, escapeCC: Boolean,
             escapeTab: Boolean, escape8Bit: Boolean, cStyle: Boolean,
             prefix: Char): UTF8String = {
    val in = s.getBytes
    val n = in.length
    // fast scan: most messages need nothing
    var need = false
    var i = 0
    while (!need && i < n) {
      val c = in(i) & 0xff
      if (c < 32 && (c != '\t' || escapeTab) &&
          (spaceLF && c == '\n' || c == 0 || escapeCC)) need = true
      else if (c > 127 && escape8Bit) need = true
      i += 1
    }
    if (!need) return s
    val bos = new java.io.ByteArrayOutputStream(n + 16)
    i = 0
    while (i < n) {
      val c = in(i) & 0xff
      val isCtl = c < 32 && (c != '\t' || escapeTab)
      if (isCtl && spaceLF && c == '\n') bos.write(' ')
      else if ((isCtl && (c == 0 || escapeCC)) || (c > 127 && escape8Bit)) {
        if (cStyle) {
          bos.write('\\')
          c match {
            case 0 => bos.write('0')
            case 7 => bos.write('a')
            case 8 => bos.write('b')
            case 0x1b => bos.write('e')
            case 12 => bos.write('f')
            case 10 => bos.write('n')
            case 13 => bos.write('r')
            case 9 => bos.write('t')
            case 11 => bos.write('v')
            case other =>
              bos.write('x')
              bos.write(hexdigit((other & 0xF0) >> 4))
              bos.write(hexdigit(other & 0xF))
          }
        } else {
          bos.write(prefix)
          bos.write('0' + ((c & 0x1C0) >> 6))
          bos.write('0' + ((c & 0x38) >> 3))
          bos.write('0' + (c & 7))
        }
      } else bos.write(c)
      i += 1
    }
    UTF8String.fromBytes(bos.toByteArray)
  }
}
