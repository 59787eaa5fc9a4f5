package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The RainerScript built-in function library (reference: the function
  * table at grammar/rainerscript.c:4467-4510) re-expressed as Spark
  * `Column` builders. Everything that Spark's codegen'd `functions._` can
  * express is composed from built-ins; only genuinely missing primitives
  * (JSON mutation, CIDR, syslog parse, simhash) drop to the custom
  * Catalyst expressions in this package.
  */
object rainer {

  // Spark 4: Column wraps a ColumnNode; these bridge to Catalyst Expressions.
  private def col2(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)
  implicit private class RichCol(c: Column) {
    def expr: org.apache.spark.sql.catalyst.expressions.Expression =
      org.apache.spark.sql.GraftBridge.expression(c)
  }

  // ---------- string functions (rainerscript.c:2103-2625) ----------

  /** strlen(s) — rainerscript.c:2546 */
  def strlen(s: Column): Column = length(s)

  /** substring(s, start, len) — 0-based in RainerScript (rainerscript.c:2572)
    * vs Spark's 1-based substring. */
  def rs_substring(s: Column, start: Column, len: Column): Column =
    substring(s, lit(1), lit(Int.MaxValue)).substr(start + 1, len)

  def rs_substring(s: Column, start: Int, len: Int): Column = s.substr(start + 1, len)

  /** ltrim/rtrim — rainerscript.c:2103,2130 */
  def rs_ltrim(s: Column): Column = ltrim(s)
  def rs_rtrim(s: Column): Column = rtrim(s)

  /** tolower/toupper — rainerscript.c:2193,2212 */
  def tolower(s: Column): Column = lower(s)
  def toupper(s: Column): Column = upper(s)

  /** replace(s, from, to) — literal global replace, rainerscript.c:2484 */
  def rs_replace(s: Column, from: String, to: String): Column =
    replace(s, lit(from), lit(to))

  /** wrap(s, wrapper[, escape]) — rainerscript.c:2500. Wraps s in wrapper;
    * 3-arg form first replaces occurrences of wrapper inside s by escape. */
  def wrap(s: Column, wrapper: String): Column =
    concat(lit(wrapper), s, lit(wrapper))
  def wrap(s: Column, wrapper: String, escape: String): Column =
    concat(lit(wrapper), replace(s, lit(wrapper), lit(escape)), lit(wrapper))

  /** field(s, delim, n) — 1-based Nth field; rsyslog returns the sentinel
    * "***FIELD NOT FOUND***" when out of range (rainerscript.c:2625). */
  val FieldNotFound = "***FIELD NOT FOUND***"
  def field(s: Column, delim: String, n: Int): Column = {
    val parts = split(s, java.util.regex.Pattern.quote(delim))
    coalesce(try_element_at(parts, lit(n)), lit(FieldNotFound))
  }

  /** split(s, delim) → array (rainerscript.c:3245; JSON array there). */
  def rs_split(s: Column, delim: String): Column =
    split(s, java.util.regex.Pattern.quote(delim))

  // ---------- casts (rainerscript.c:2237-2305) ----------

  def cstr(x: Column): Column = x.cast(StringType)
  /** cnum: non-numeric → 0 (rsyslog var2Number semantics); try_cast keeps
    * ANSI mode from throwing on malformed input. */
  def cnum(x: Column): Column = coalesce(x.try_cast(LongType), lit(0L))
  def cbool(x: Column): Column = x.try_cast(BooleanType)

  // ---------- regex (rainerscript.c:1681,2338) ----------

  /** re_match(s, re) — POSIX ERE in the reference; translated to Java
    * regex ([[:digit:]] classes etc. — PosixRegex.translate). */
  def re_match(s: Column, re: String): Column =
    s.rlike(PosixRegex.translate(re))
  def re_match_i(s: Column, re: String): Column =
    s.rlike("(?i)" + PosixRegex.translate(re))

  /** re_extract(s, re, match#, submatch#, default) — rainerscript.c:1681.
    * `match#` selects the Nth regex occurrence (0-based), `submatch#` the
    * capture group within it. Returns `default` when there is no match
    * (Spark's regexp_extract returns "" on no-match; rsyslog returns the
    * default). */
  def re_extract(s: Column, re: String, matchNo: Int, submatch: Int, dflt: String): Column =
    reExtractImpl(s, PosixRegex.translate(re), matchNo, submatch, dflt)
  def re_extract_i(s: Column, re: String, matchNo: Int, submatch: Int, dflt: String): Column =
    reExtractImpl(s, "(?i)" + PosixRegex.translate(re), matchNo, submatch, dflt)
  /** 4-arg convenience (first occurrence). */
  def re_extract(s: Column, re: String, submatch: Int, dflt: String): Column =
    re_extract(s, re, 0, submatch, dflt)
  def re_extract_i(s: Column, re: String, submatch: Int, dflt: String): Column =
    re_extract_i(s, re, 0, submatch, dflt)
  private def reExtractImpl(s: Column, jre: String, matchNo: Int,
                            submatch: Int, dflt: String): Column =
    if (matchNo == 0)
      when(s.rlike(jre), regexp_extract(s, jre, submatch)).otherwise(lit(dflt))
    else
      // Nth occurrence: extract the group from every match, index in
      coalesce(
        try_element_at(regexp_extract_all(s, lit(jre), lit(submatch)), lit(matchNo + 1)),
        lit(dflt))

  // ---------- numeric / misc ----------

  /** getenv(name) — config-time env read (rainerscript.c:2161);
    * driver-side, through the EnvSource test seam. */
  def rs_getenv(name: String): Column =
    lit(graft.rainerscript.EnvSource.get(name).getOrElse(""))

  /** random(max) — doFunct_RandomGen (grammar/rainerscript.c:2059-2101):
    * non-numeric or zero max → 0, negative max → |max| (LLONG_MIN maps
    * to LLONG_MAX), otherwise uniform in [0, max). */
  def rs_random(max: Column): Column = {
    val m = coalesce(
      when(cnum(max) === Long.MinValue, lit(Long.MaxValue))
        .otherwise(abs(cnum(max))), lit(0L))
    when(m === 0L, lit(0L)).otherwise(floor(rand() * m)).cast(LongType)
  }

  /** int2hex(n) — rainerscript.c:2458 */
  def int2hex(n: Column): Column = lower(hex(n))

  /** num2ipv4(n) — rainerscript.c:3036; out-of-range → "-1" sentinel. */
  def num2ipv4(n: Column): Column =
    when(n.isNull || n < 0 || n > 4294967295L, lit("-1")).otherwise(
      concat_ws(".",
        shiftright(n, 24).bitwiseAND(lit(255)),
        shiftright(n, 16).bitwiseAND(lit(255)),
        shiftright(n, 8).bitwiseAND(lit(255)),
        n.bitwiseAND(lit(255))))

  /** ipv42num(s) — rainerscript.c:2365 */
  def ipv42num(s: Column): Column = {
    val p = split(s, "\\.")
    (try_element_at(p, lit(1)).try_cast(LongType) * 16777216L +
     try_element_at(p, lit(2)).try_cast(LongType) * 65536L +
     try_element_at(p, lit(3)).try_cast(LongType) * 256L +
     try_element_at(p, lit(4)).try_cast(LongType))
  }

  // ---------- time (rainerscript.c:2744-2983) ----------

  /** format_time(unixts, "date-rfc3339") — rainerscript.c:2744 */
  def format_time(unixts: Column, fmt: String): Column = fmt match {
    case "date-rfc3339" =>
      concat(date_format(timestamp_seconds(unixts), "yyyy-MM-dd'T'HH:mm:ss"), lit("+00:00"))
    case "date-rfc3164" =>
      // "Mar  1 01:00:00" — day-of-month space-padded to width 2
      concat(
        date_format(timestamp_seconds(unixts), "MMM "),
        lpad(date_format(timestamp_seconds(unixts), "d"), 2, " "),
        date_format(timestamp_seconds(unixts), " HH:mm:ss"))
    case _ => date_format(timestamp_seconds(unixts), fmt)
  }

  /** parse_time(s) — accepts RFC3339 or RFC3164, → epoch secs (UTC);
    * rainerscript.c:2822. Unparsable → null (script_error in reference).
    * RFC3339 offsets (Z / ±HH:MM) are honored like the reference's
    * parseTIMESTAMP3339; fractional seconds are accepted and truncated
    * (the return type is whole epoch seconds). */
  def parse_time(s: Column, defaultYear: Int = 2024): Column = {
    // fraction stripped up front: epoch-seconds result can't carry it and
    // a single pattern then covers any digit count
    val noFrac = regexp_replace(s, "\\.\\d+", "")
    // try_to_timestamp: ANSI mode must not throw on the non-matching format
    val rfc3339 = coalesce(
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm:ss")))
    val rfc3164 = try_to_timestamp(
      concat(lit(defaultYear.toString + " "), regexp_replace(s, "\\s+", " ")),
      lit("yyyy MMM d HH:mm:ss"))
    unix_timestamp(coalesce(rfc3339, rfc3164))
  }

  def is_time(s: Column): Column = parse_time(s).isNotNull

  /** parse_time_localtz(s, tz) — rainerscript.c:2865: like parse_time but
    * offset-less timestamps are interpreted in the given zone instead of
    * UTC (rsyslog uses the daemon's local TZ; a distributed engine takes
    * the zone explicitly). Timestamps with an explicit offset are
    * unaffected. */
  def parse_time_localtz(s: Column, tz: String, defaultYear: Int = 2024): Column = {
    val noFrac = regexp_replace(s, "\\.\\d+", "")
    val withOffset = try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm:ssXXX"))
    val bare3339 = to_utc_timestamp(
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm:ss")), tz)
    val bare3164 = to_utc_timestamp(try_to_timestamp(
      concat(lit(defaultYear.toString + " "), regexp_replace(s, "\\s+", " ")),
      lit("yyyy MMM d HH:mm:ss")), tz)
    unix_timestamp(coalesce(withOffset, bare3339, bare3164))
  }

  // ---------- JSON (custom expressions; SURVEY §1.2) ----------

  /** The reference's fjson case-comparison global applies to every json
    * object op in the process (glbl.c:1405) — mirrored here by reading
    * the compile-scoped flag at Column-construction time in each of the
    * four variable-tree entry points below. Default false == the
    * casesensitive="on" mode the reference's own test pins. */
  private def varsCi: Boolean =
    graft.rainerscript.EnvSource.varsCaseInsensitive

  def json_set(json: Column, path: String, value: Column): Column =
    col2(JsonSetExpr(json.expr, lit(path).expr, value.expr, varsCi))
  def json_unset(json: Column, path: String): Column =
    col2(JsonUnsetExpr(json.expr, lit(path).expr, varsCi))
  def json_merge(dst: Column, src: Column): Column =
    col2(JsonMergeExpr(dst.expr, src.expr))
  def json_exists(json: Column, path: String): Column =
    col2(JsonExistsExpr(json.expr, lit(path).expr, varsCi))
  /** Reference-default tree render: objects/arrays in json-c SPACED form
    * (`{ "a": 1 }`), strings bare, scalars by literal (msg.c:1067). */
  def json_render(json: Column, path: String): Column =
    col2(JsonRenderExpr(json.expr, path, varsCi))
  def unflatten(json: Column, sep: String): Column =
    col2(JsonUnflattenExpr(json.expr, lit(sep).expr))

  /** parse_json validity (rainerscript.c:1868 rc): STRICT whole-input —
    * one JSON value then only whitespace; a valid prefix with trailing
    * garbage fails, unlike Spark's try_parse_json (JsonValidExpr,
    * tests/rscript_parse_json_issue.sh). */
  def parse_json_ok(s: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      JsonValidExpr(org.apache.spark.sql.GraftBridge.expression(s)))

  /** get_property(obj, name) — dynamic read (rainerscript.c:1930). */
  def get_property(obj: Column, name: String): Column =
    get_json_object(obj, "$." + name)

  // ---------- encoding ----------

  /** b64_decode(s) — rainerscript.c:3191 */
  def b64_decode(s: Column): Column = unbase64(s).cast(StringType)
  def b64_encode(s: Column): Column = base64(s.cast(BinaryType))

  /** hash64(s[, seed]) — contrib/fmhash (xxHash in reference; Spark's
    * native xxhash64 — same family, different seed conventions). */
  def hash64(s: Column): Column = xxhash64(s)
  def hash64mod(s: Column, mod: Long): Column = pmod(xxhash64(s), lit(mod))
  def hash32(s: Column): Column = hash(s).cast(LongType).bitwiseAND(lit(0xFFFFFFFFL))
  def hash32mod(s: Column, mod: Long): Column = pmod(hash32(s), lit(mod))

  // ---------- net ----------

  def is_in_subnet(ip: Column, cidr: Column): Column =
    col2(IsInSubnetExpr(ip.expr, cidr.expr))
  def is_in_subnet(ip: Column, cidr: String): Column = is_in_subnet(ip, lit(cidr))

  /** mmanon-style IPv4 anonymization: zero the low `bits` bits
    * (plugins/mmanon/mmanon.c, simple mode). */
  /** mmanon zero-mode over free message text: every embedded IPv4 gets
    * its low `bits` bits zeroed (AnonIpv4MsgExpr kernel). */
  def anon_ipv4_msg(msg: Column, bits: Int = 16): Column =
    col2(AnonIpv4MsgExpr(msg.expr, bits))

  /** Full mmanon over free message text: IPv4 + IPv6 + embedded-IPv4,
    * zero/random/random-consistent/simple modes (AnonIpMsgExpr kernel,
    * plugins/mmanon/mmanon.c doAction scan). */
  def anon_ip_msg(msg: Column, cfg: AnonIpCfg): Column =
    col2(AnonIpMsgExpr(msg.expr, cfg))

  def anon_ipv4(ip: Column, bits: Int): Column = {
    val n = ipv42num(ip)
    val mask = ~((1L << bits) - 1) & 0xFFFFFFFFL
    num2ipv4(n.bitwiseAND(lit(mask)))
  }

  // ---------- CEF (rainerscript.c:3368,3429) ----------

  /** cef_ext_escape: escape = \ and = in extension values; newline → \n. */
  def cef_ext_escape(s: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(s, "\\\\", "\\\\\\\\"),
      "=", "\\\\="), "\n", "\\\\n")

  /** tocef(): CEF:0|vendor|product|version|sigid|name|sev|extensions */
  def tocef(vendor: Column, product: Column, version: Column, sigid: Column,
            name: Column, sev: Column, ext: Column): Column =
    concat_ws("|", lit("CEF:0"), vendor, product, version, sigid, name, sev, ext)

  // ---------- URL decomposition (contrib/ffaup) ----------

  def faup_scheme(url: Column): Column = parse_url(url, lit("PROTOCOL"))
  def faup_host(url: Column): Column = parse_url(url, lit("HOST"))
  def faup_port(url: Column): Column =
    // parse_url PORT misses authorities with userinfo — regex fallback
    coalesce(parse_url(url, lit("PORT")),
      nullif(regexp_extract(url,
        "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]+@)?[^:/?#]+:(\\d+)", 1), lit("")))
  def faup_path(url: Column): Column = parse_url(url, lit("PATH"))
  def faup_query(url: Column): Column = parse_url(url, lit("QUERY"))
  def faup_tld(url: Column): Column =
    try_element_at(split(parse_url(url, lit("HOST")), "\\."), lit(-1))
  def faup_domain(url: Column): Column = {
    val parts = split(parse_url(url, lit("HOST")), "\\.")
    concat_ws(".", try_element_at(parts, lit(-2)), try_element_at(parts, lit(-1)))
  }
  /** `user:pass` before the authority's `@` (tests/rscript_faup_credential.sh). */
  def faup_credential(url: Column): Column =
    nullif(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^@/?#]+)@", 1), lit(""))
  /** URL fragment after `#` (ffaup fragment extractor). */
  def faup_fragment(url: Column): Column = parse_url(url, lit("REF"))
  /** Host labels left of the registrable domain — `www` for
    * www.rsyslog.com (ffaup subdomain extractor). */
  def faup_subdomain(url: Column): Column = {
    val host = parse_url(url, lit("HOST"))
    val parts = split(host, "\\.")
    when(size(parts) > 2,
      concat_ws(".", slice(parts, lit(1), size(parts) - 2)))
  }
  /** Registrable label without its TLD — `rsyslog` for www.rsyslog.com
    * (tests/rscript_faup_domain_without_tld.sh). */
  def faup_domain_without_tld(url: Column): Column =
    try_element_at(split(parse_url(url, lit("HOST")), "\\."), lit(-2))
  /** Path component (ffaup resource_path extractor). */
  def faup_resource_path(url: Column): Column = parse_url(url, lit("PATH"))

  // ---------- syslog parsing ----------

  def parse_syslog(raw: Column, defaultYear: Int = 2024,
                   detectYearAfterTimestamp: Boolean = false,
                   permitSlashInProgramname: Boolean = false,
                   parseHostnameAndTag: Boolean = true): Column =
    col2(SyslogParseExpr(raw.expr, defaultYear,
      detectYearAfterTimestamp, permitSlashInProgramname, parseHostnameAndTag))
  /** The PRI alone, by the byte scan `parse_syslog` runs. */
  def syslog_pri(raw: Column): Column = col2(SyslogPriExpr(raw.expr))
  def parse_structured_data(sd: Column): Column =
    col2(ParseStructuredDataExpr(sd.expr))

  // ---------- dedup/similarity primitives ----------

  def simhash64(tokens: Column): Column = col2(SimHash64Expr(tokens.expr))
  def winnow_fingerprint(text: Column, k: Int = 5, w: Int = 4): Column =
    col2(WinnowFingerprintExpr(text.expr, k, w))

  // ---------- RainerScript comparison coercion (SURVEY §1.3) ----------

  /** rsyslog compares numerically iff BOTH sides fully convert to int64,
    * else falls back to C strcmp (grammar/rainerscript.c:3839-3866). Spark's
    * SQL coercion differs (it would cast the string side and null out);
    * reproduce exactly with try_cast guards.
    */
  private def bothNum(l: Column, r: Column): Column =
    l.try_cast(LongType).isNotNull && r.try_cast(LongType).isNotNull
  private def cmp(l: Column, r: Column, num: (Column, Column) => Column,
                  str: (Column, Column) => Column): Column =
    when(bothNum(l, r), num(l.try_cast(LongType), r.try_cast(LongType)))
      .otherwise(str(l.cast(StringType), r.cast(StringType)))

  def rs_eq(l: Column, r: Column): Column = cmp(l, r, _ === _, _ === _)
  def rs_ne(l: Column, r: Column): Column = cmp(l, r, _ =!= _, _ =!= _)
  def rs_lt(l: Column, r: Column): Column = cmp(l, r, _ < _, _ < _)
  def rs_le(l: Column, r: Column): Column = cmp(l, r, _ <= _, _ <= _)
  def rs_gt(l: Column, r: Column): Column = cmp(l, r, _ > _, _ > _)
  def rs_ge(l: Column, r: Column): Column = cmp(l, r, _ >= _, _ >= _)

  /** `== ["a","b"]` array-IN (bsearch in reference → Catalyst InSet). */
  def rs_in(l: Column, values: Seq[String]): Column = l.isin(values: _*)

  /** contains/startswith/endswith (+_i) incl. any-of-array forms
    * (grammar/rainerscript.c:3763-3786,4042-4098). */
  def rs_contains(s: Column, needle: String): Column = s.contains(needle)
  def rs_contains_i(s: Column, needle: String): Column =
    lower(s).contains(needle.toLowerCase)
  def rs_startswith(s: Column, p: String): Column = s.startsWith(p)
  def rs_startswith_i(s: Column, p: String): Column =
    lower(s).startsWith(p.toLowerCase)
  def rs_endswith(s: Column, p: String): Column = s.endsWith(p)
  def rs_contains_any(s: Column, needles: Seq[String]): Column =
    needles.map(s.contains).reduce(_ || _)

  // ---------- PRI selector (prifilt) ----------

  /** Compile a syslog selector ("mail.info;*.err;local0.!=debug",
    * "mail,news.=warning", …) into the 24×8 PRI bitmask rsyslog builds
    * (runtime/ruleset.c:403-420 S_PRIFILT; selector semantics from
    * sysklogd). Returns a boolean Column over (facility, severity) ints.
    */
  def prifilt(selector: String)(facility: Column, severity: Column): Column = {
    val masks = PriFilt.compile(selector)
    // constant 25×8 boolean table (24 real facilities + the invld slot,
    // LOG_NFACILITIES — messages that never got a PRI stamp carry
    // facility 24 and execPRIFILT indexes them like any other,
    // runtime/ruleset.c:403-407) → array literal indexed by PRI; stays
    // inside whole-stage codegen, no UDF, no per-row shift. A facility
    // outside the table (malformed input) matches nothing.
    val table = array((0 until 25).flatMap { f =>
      (0 until 8).map(sv => lit((masks(f) & (1 << sv)) != 0))
    }: _*)
    coalesce(try_element_at(table,
      facility.cast(IntegerType) * 8 + severity.cast(IntegerType) + 1),
      lit(false))
  }
}

/** Selector-string compiler for prifilt — produces int mask per facility
  * (bit i set = severity i passes). Mirrors rsyslog/sysklogd selector
  * semantics: "fac.sev" = sev and more-severe (numerically ≤), "=sev"
  * exact, "!sev"/"!=sev" exclusion, "none" clears, "*" all, lists via ','
  * (facilities) and ';' (selectors applied left→right).
  */
object PriFilt {
  val facilities = Map(
    "kern" -> 0, "user" -> 1, "mail" -> 2, "daemon" -> 3, "auth" -> 4,
    "syslog" -> 5, "lpr" -> 6, "news" -> 7, "uucp" -> 8, "cron" -> 9,
    "authpriv" -> 10, "ftp" -> 11, "ntp" -> 12, "security" -> 13,
    "console" -> 14, "solaris-cron" -> 15,
    "local0" -> 16, "local1" -> 17, "local2" -> 18, "local3" -> 19,
    "local4" -> 20, "local5" -> 21, "local6" -> 22, "local7" -> 23,
    // the LOG_FAC_INVLD slot — selectable like any facility
    // (tests/fac_invld1.sh `invld.=debug`; msg.c:205 name table)
    "invld" -> 24)
  val severities = Map(
    "emerg" -> 0, "panic" -> 0, "alert" -> 1, "crit" -> 2, "err" -> 3,
    "error" -> 3, "warning" -> 4, "warn" -> 4, "notice" -> 5, "info" -> 6,
    "debug" -> 7)

  def compile(selector: String): Array[Int] = {
    // 25 slots: `*` covers the invld facility too (DecodePRIFilter walks
    // the full LOG_NFACILITIES table, grammar/rainerscript.c:497-500)
    val pmask = new Array[Int](25)
    selector.split(';').map(_.trim).filter(_.nonEmpty).foreach { sel =>
      val dot = sel.lastIndexOf('.')
      require(dot > 0, s"bad selector: $sel")
      val facPart = sel.substring(0, dot)
      var sevPart = sel.substring(dot + 1).trim.toLowerCase
      val facs: Seq[Int] =
        if (facPart.trim == "*") 0 until 25
        else facPart.split(',').map(f => facilities(f.trim.toLowerCase)).toSeq
      var exclude = false
      var exact = false
      if (sevPart.startsWith("!=")) { exclude = true; exact = true; sevPart = sevPart.drop(2) }
      else if (sevPart.startsWith("!")) { exclude = true; sevPart = sevPart.drop(1) }
      if (sevPart.startsWith("=")) { exact = true; sevPart = sevPart.drop(1) }
      val bits: Int =
        if (sevPart == "none") 0
        else if (sevPart == "*") 0xFF
        else {
          val sev = severities(sevPart)
          if (exact) 1 << sev
          else (0 to sev).map(1 << _).sum // sev and more severe
        }
      facs.foreach { f =>
        // DecodePRIFilter (runtime/conf.c:339-470): `none` RESETS the
        // facility (ALLPRI when negated); `*` likewise; a negated
        // severity first fills a still-empty facility mask with ALLPRI
        // before clearing — so a STANDALONE `local4.!=debug` means
        // "everything local4 except debug", while after previous
        // selectors it only clears (issue #1030,
        // tests/rscript_prifilt_negated_exact.sh).
        if (sevPart == "none") pmask(f) = if (exclude) 0xFF else 0
        else if (sevPart == "*") pmask(f) = if (exclude) 0 else 0xFF
        else if (exclude) {
          if (pmask(f) == 0) pmask(f) = 0xFF
          pmask(f) &= ~bits
        } else pmask(f) |= bits
      }
    }
    pmask
  }
}
