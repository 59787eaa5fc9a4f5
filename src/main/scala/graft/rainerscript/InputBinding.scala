package graft.rainerscript

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** input() activation: bind the config's declared inputs to live Spark
  * sources and route each through its ruleset — the engine analogue of
  * the reference's activation pass (tools/rsyslogd.c:885-929: inputs are
  * started last, once rulesets/queues exist, each listener carrying its
  * ruleset binding; imfile instance params plugins/imfile/imfile.c:392-421,
  * defaults severity=5 facility=local0 imfile.c:1984-1988, PRI stamped at
  * submit imfile.c:1613-1614).
  *
  * Transport ownership is split Spark-first: imfile binds directly to the
  * filesystem (batch read here; `bindStreamImfile` tails it through the
  * multiline state machines). Socket/broker inputs (imudp/imtcp/imuxsock/
  * imkafka/...) are transport the platform owns — a deployment plugs the
  * live frame (socket-recorder output, Kafka source, ...) in via `feeds`,
  * and the binding owns everything the reference's input modules own past
  * the socket: framing (imtcp octet counting), reception sanitize + parser
  * chain, provenance columns, PRI defaults, and per-input ruleset routing.
  * An input with no bound feed is an idle listener: warn + skip, so an
  * unmodified distro config activates cleanly.
  */
object InputBinding {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** syslog facility keywords (names as in the reference's
    * syslog_fac_names table, runtime/srutils.c). */
  val facilities: Map[String, Int] = Map(
    "kern" -> 0, "user" -> 1, "mail" -> 2, "daemon" -> 3, "auth" -> 4,
    "security" -> 4, "syslog" -> 5, "lpr" -> 6, "news" -> 7, "uucp" -> 8,
    "cron" -> 9, "authpriv" -> 10, "ftp" -> 11, "ntp" -> 12, "audit" -> 13,
    "console" -> 14, "local0" -> 16, "local1" -> 17, "local2" -> 18,
    "local3" -> 19, "local4" -> 20, "local5" -> 21, "local6" -> 22,
    "local7" -> 23)

  /** syslog severity keywords incl. the aliases the reference accepts. */
  val severities: Map[String, Int] = Map(
    "emerg" -> 0, "panic" -> 0, "alert" -> 1, "crit" -> 2, "err" -> 3,
    "error" -> 3, "warning" -> 4, "warn" -> 4, "notice" -> 5, "info" -> 6,
    "debug" -> 7)

  def facilityNum(s: String): Int =
    facilities.getOrElse(s.toLowerCase, s.toIntOption.getOrElse(16))
  def severityNum(s: String): Int =
    severities.getOrElse(s.toLowerCase, s.toIntOption.getOrElse(5))

  /** Feed lookup for a non-file input, most specific first: the input's
    * name=, then "type:port", then bare type. */
  private def feed(feeds: Map[String, DataFrame],
                   p: Map[String, String], typ: String): Option[DataFrame] =
    p.get("name").flatMap(feeds.get)
      .orElse(p.get("port").flatMap(port => feeds.get(s"$typ:$port")))
      .orElse(feeds.get(typ))

  private def localHost: String =
    java.net.InetAddress.getLocalHost.getHostName

  /** imfile batch bind: read the glob, stamp tag/PRI/provenance. The
    * default path does NOT run the parser chain — imfile messages are
    * file lines, not syslog frames (msg = the line, hostname = receiver,
    * PRI from the facility/severity params); needparse="on" opts into
    * the full decode like the reference's flag. */
  private def bindImfile(spark: SparkSession, p: Map[String, String],
                         now: Column, defaultYear: Int,
                         parseHostnameAndTag: Boolean = true): DataFrame = {
    val path = p.getOrElse("file",
      throw new IllegalArgumentException("input(type=\"imfile\") needs file="))
    val tag = p.getOrElse("tag",
      throw new IllegalArgumentException("input(type=\"imfile\") needs tag="))
    // ignoreOlderThan=seconds: stale files (mtime older than the window)
    // are skipped at discovery (imfile.c:770-776,
    // tests/imfile-ignore-old-file*.sh)
    val lines0 = p.get("ignoreolderthan").map(_.toLong).filter(_ > 0) match {
      case Some(sec) => Sources.fileLinesIgnoreOlderThan(spark, path, sec)
      case None => Sources.fileLines(spark, path)
    }
    val lines1 = p.get("trimlineoverbytes").map(_.toInt) match {
      case Some(max) if max > 0 =>
        lines0.withColumn("value", substring(col("value"), 1, max))
      case _ => lines0
    }
    // addMetadata="on": $!metadata!filename + !line_number
    // (plugins/imfile/imfile.c addMetadata/msgAddMetadata,
    // tests/imfile-metadata-line-number.sh). Line numbers come from a
    // per-file window over the read order, which is the file's order:
    // a file read as several splits keeps its chunks in order, since
    // Spark sorts splits by size stably and only a file's last chunk is
    // shorter, and monotonically_increasing_id ranks by split, then by
    // row.
    val addMeta = p.get("addmetadata").contains("on")
    val numbered = if (addMeta)
      lines1.withColumn("__file", input_file_name())
        .withColumn("__lineno",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("__file"))
              .orderBy(monotonically_increasing_id())))
    else lines1
    // empty lines are no messages (imfile.c enqLine: "we do not process
    // empty lines"); dropped after numbering, so line_number stays the
    // file's line number
    val lines = numbered.filter(col("value") =!= "")
    def meta(df: DataFrame): DataFrame =
      if (!addMeta) df
      else df.withColumn("vars_msg",
        graft.functions.rainer.json_set(col("vars_msg"), "metadata",
          to_json(struct(col("__file").as("filename"),
            col("__lineno").as("line_number")))))
        .drop("__file", "__lineno")
    if (p.get("needparse").contains("on"))
      meta(Sources.decodeSyslog(lines, defaultYear = defaultYear,
        parseHostnameAndTag = parseHostnameAndTag)
        .withColumn("ts", coalesce(col("ts"), now)))
    else meta {
      val fac = facilityNum(p.getOrElse("facility", "local0"))
      val sev = severityNum(p.getOrElse("severity", "notice"))
      val prog = graft.functions.SyslogParseExpr.programName(tag)
      val metaCols = if (addMeta) Seq(col("__file"), col("__lineno")) else Nil
      lines.select(metaCols ++ Seq(
        col("inputname"), col("fromhost"),
        Sources.sanitize(col("value")).as("rawmsg"),
        lit(0).as("protocol_version"),
        lit(fac * 8 + sev).as("pri"),
        lit(fac).as("facility"), lit(sev).as("severity"),
        now.as("ts"),
        col("fromhost").as("hostname"),
        (if (prog == null || prog.isEmpty) lit(null) else lit(prog))
          .cast("string").as("app_name"),
        lit(null).cast("string").as("procid"),
        lit(null).cast("string").as("msgid"),
        lit(null).cast("string").as("structured_data"),
        lit(tag).as("syslogtag"),
        lit(prog).cast("string").as("programname"),
        Sources.sanitize(col("value")).as("msg"),
        lit(true).as("parsesuccess"),
        lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
    }
  }

  /** imbatchreport bind (contrib/imbatchreport/imbatchreport.c): one
    * report FILE = one message. A bound feed supplies (value, path)
    * rows; otherwise reports= is read as whole files from the
    * filesystem (the glob poll, :170). tag= is required like the
    * reference (CNFPARAM_REQUIRED, :171); the rename/delete done-file
    * action is filesystem transport, out of engine scope. */
  private def bindImbatchreport(spark: SparkSession, p: Map[String, String],
                                feeds: Map[String, DataFrame],
                                now: Column): DataFrame = {
    val tag = p.getOrElse("tag", throw new IllegalArgumentException(
      "input(type=\"imbatchreport\") needs tag="))
    val src0 = feed(feeds, p, "imbatchreport").getOrElse {
      val glob = p.getOrElse("reports", throw new IllegalArgumentException(
        "input(type=\"imbatchreport\") needs reports= or a bound feed"))
      spark.read.option("wholetext", "true").text(glob)
        .withColumn("path", input_file_name())
    }
    val src = if (src0.columns.contains("path")) src0
              else src0.withColumn("path", lit(""))
    Sources.imbatchreportDecode(src,
      tag = tag,
      programKey = p.getOrElse("programkey", ""),
      timestampKey = p.getOrElse("timestampkey", ""),
      severity = severityNum(p.getOrElse("severity", "notice")),
      facility = facilityNum(p.getOrElse("facility", "local0")),
      dedupSpace = p.getOrElse("deduplicatespace", "on") != "off",
      now = now)
  }

  /** Resolve a ruleset's parser-name chain to (name, params) instances:
    * custom parser() objects by name, plus the reference's built-in
    * parser names (PARSER_NAME registrations: "rsyslog.rfc5424"
    * pmrfc5424.c, "rsyslog.rfc3164" pmrfc3164.c, "rsyslog.pmnull"
    * pmnull.c, "rsyslog.ciscoios" pmciscoios.c:44, "rsyslog.lastline"
    * pmlastmsg.c:51, "rsyslog.aixforwardedfrom"
    * pmaixforwardedfrom.c:46, "rsyslog.cisconames" pmcisconames.c:47). */
  private def resolveChain(cfg: RsyslogConfig,
                           names: Seq[String]): Seq[(String, Map[String, String])] =
    names.map { n =>
      cfg.parsers.get(n).map(n -> _).getOrElse(n match {
        case "rsyslog.rfc5424" => n -> Map("type" -> "rfc5424")
        case "rsyslog.rfc3164" => n -> Map("type" -> "rfc3164")
        case "rsyslog.pmnull" => n -> Map("type" -> "pmnull")
        case "rsyslog.ciscoios" => n -> Map("type" -> "pmciscoios")
        case "rsyslog.lastline" => n -> Map("type" -> "pmlastmsg")
        case "rsyslog.aixforwardedfrom" => n -> Map("type" -> "pmaixforwardedfrom")
        case "rsyslog.cisconames" => n -> Map("type" -> "pmcisconames")
        case other => throw new IllegalArgumentException(
          s"ruleset parser=\"$other\": no parser(name=\"$other\") object " +
          "and not a built-in parser name")
      })
    }

  /** Decode a sanitized line frame through a configured parser chain —
    * the set form of runtime/parser.c:613-686 ParseMsg: sanitize once,
    * auto-PRI-parse once, then walk the list. Two parser behaviors
    * exist in the reference and both are modeled:
    *
    *  - ACCEPTORS return a parse result and stop the walk (pmnull,
    *    pmnormalize, the builtin rfc5424/rfc3164 pair — collapsed to
    *    the autodetect parse, which is total via rfc3164's catch-all —
    *    pmciscoios, pmlastmsg). The fold keeps the FIRST non-null
    *    result struct per row.
    *  - TRANSFORMERS are the mangling fixers that rewrite the raw
    *    message and then deliberately return COULD_NOT_PARSE so a later
    *    parser handles the fixed text (pmaixforwardedfrom,
    *    pmcisconames — both end in ABORT_FINALIZE(COULD_NOT_PARSE)
    *    after their memmove). They mutate the working body only while
    *    no acceptor has fired.
    *
    * Rows no acceptor takes are DISCARDED like the reference
    * (ParseMsg's "message could not be processed by any parser" path).
    * Output columns match [[graft.sources.Sources.decodeSyslog]];
    * `ts` is null where the parser left reception time in charge
    * (the caller coalesces `now`).
    */
  private[rainerscript] def decodeChain(lines: DataFrame,
      chain: Seq[(String, Map[String, String])], defaultYear: Int,
      parseHostnameAndTag: Boolean = true,
      sanitize: Sources.SanitizeOpts = Sources.SanitizeOpts()): DataFrame = {
    import graft.sources.Sources
    require(chain.nonEmpty, "empty parser chain")

    var df = lines
      .withColumn("__raw0", Sources.sanitize(col("value"), sanitize))
      .withColumn("__prihdr",
        regexp_extract(col("__raw0"), "^(<\\d{1,3}>)", 1))
      // parserParsePRI: valid <N> header else DEFUPRI=13
      .withColumn("__pri",
        when(col("__prihdr") =!= "",
          regexp_extract(col("__prihdr"), "(\\d+)", 1).cast("int"))
        .otherwise(lit(13)))
      .withColumn("__body0", expr("substring(__raw0, length(__prihdr) + 1)"))

    /** One fixed result shape for every acceptor. */
    def res(fromhost: Column, rawmsg: Column, protoVer: Column,
            pri: Column, facility: Column, severity: Column, ts: Column,
            hostname: Column, appName: Column, procid: Column,
            msgid: Column, sd: Column, tag: Column, prog: Column,
            msg: Column, ok: Column): Column =
      struct(coalesce(fromhost, lit("")).cast("string").as("fromhost"),
        rawmsg.cast("string").as("rawmsg"),
        protoVer.cast("int").as("protocol_version"),
        pri.cast("int").as("pri"),
        facility.cast("int").as("facility"),
        severity.cast("int").as("severity"),
        ts.cast("timestamp").as("ts"),
        hostname.cast("string").as("hostname"),
        appName.cast("string").as("app_name"),
        procid.cast("string").as("procid"),
        msgid.cast("string").as("msgid"),
        sd.cast("string").as("structured_data"),
        tag.cast("string").as("syslogtag"),
        prog.cast("string").as("programname"),
        msg.cast("string").as("msg"),
        ok.cast("boolean").as("parsesuccess"))

    var bodyC = "__body0"
    var accC: Option[String] = None
    var idx = 0
    def addAcc(c: Column): Unit = {
      val nm = s"__acc${idx}"
      df = df.withColumn(nm, accC.map(a => coalesce(col(a), c)).getOrElse(c))
      accC = Some(nm)
    }
    def addBody(c: Column): Unit = {
      val nm = s"__body${idx + 1}"
      // transformers only act while no acceptor has fired
      df = df.withColumn(nm,
        accC.map(a => when(col(a).isNull, c).otherwise(col(bodyC)))
          .getOrElse(c))
      bodyC = nm
    }

    chain.foreach { case (name, p) =>
      idx += 1
      val body = col(bodyC)
      val full = concat(col("__prihdr"), body)
      p.getOrElse("type", name) match {
        case "pmnull" =>
          // plugins/pmnull/pmnull.c parse2: MSG offset 0 (msg = the
          // whole frame INCLUDING any <PRI>), PRI forced to the
          // configured facility*8+severity (defaults 1/5 -> 13) even
          // though auto-PRI-parsing ran, TAG = tag= param or empty
          // (tests/pmnull-basic.sh locks all three)
          val fac = p.get("syslogfacility").map(facilityNum).getOrElse(1)
          val sev = p.get("syslogseverity").map(severityNum).getOrElse(5)
          val tag = p.getOrElse("tag", "")
          val prog = graft.functions.SyslogParseExpr.programName(tag)
          addAcc(res(col("fromhost"), full, lit(0),
            lit(fac * 8 + sev), lit(fac), lit(sev),
            lit(null).cast("timestamp"),
            col("fromhost"),
            (if (prog == null || prog.isEmpty) lit(null) else lit(prog))
              .cast("string"),
            lit(null), lit(null), lit(null), lit(tag), lit(prog), full,
            lit(true)))
        case "pmnormalize" =>
          // doc/source/configuration/modules/pmnormalize.rst (no C
          // source ships; semantics locked by tests/pmnormalize-*):
          // normalize the FULL frame (incl. <PRI>); well-known fields
          // populate the properties; a no-match still accepts with
          // msg = the whole frame (pmnormalize-rule_invld-data.sh)
          val rules: Seq[String] =
            p.get("rulebase").map { f =>
              java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
                .toArray(Array.empty[String]).toSeq
                .filter(_.startsWith("rule="))
                .map(l => l.substring(l.indexOf(':', 5) + 1))
            }.getOrElse(p.get("rule").map(RsyslogConfig.splitArray).getOrElse(Nil))
              .map(graft.operators.Normalize.stripRulePrefix)
          require(rules.nonEmpty,
            s"parser(name=\"$name\" type=\"pmnormalize\") needs rulebase= or rule=")
          val nzC = s"__nz${idx}"
          df = df.withColumn(nzC,
            graft.operators.Normalize.normalize(full, rules))
          def g(field: String): Column =
            get_json_object(col(nzC), s"$$['$field']")
          val priC = coalesce(g("pri").cast("int"), col("__pri"))
          val tagC = coalesce(g("syslogtag"), lit(""))
          val progC = regexp_extract(tagC, "^([^:\\[/\\x00-\\x1f]*)", 1)
          addAcc(res(coalesce(g("fromhost-ip"), col("fromhost")), full,
            lit(0), priC, (priC / 8).cast("int"), (priC % 8).cast("int"),
            lit(null).cast("timestamp"),
            coalesce(g("hostname"), col("fromhost")),
            when(progC =!= "", progC),
            lit(null), lit(null), lit(null), tagC, progC,
            coalesce(g("msg"), full), col(nzC) =!= "{}"))
        case "rfc5424" | "rfc3164" =>
          // builtin pair: one autodetect parse (5424-first, legacy
          // catch-all) = the default list's behavior; total
          val pc = s"__sp${idx}"
          df = df.withColumn(pc,
            graft.functions.rainer.parse_syslog(full, defaultYear,
              parseHostnameAndTag = parseHostnameAndTag))
          def f(n: String) = col(s"$pc.$n")
          addAcc(res(col("fromhost"), full, f("protocol_version"),
            f("pri"), f("facility"), f("severity"), f("ts"),
            f("hostname"), f("app_name"), f("procid"), f("msgid"),
            f("structured_data"), f("syslogtag"), f("programname"),
            f("msg"), f("parsesuccess")))
        case "pmciscoios" =>
          // plugins/pmciscoios/pmciscoios.c parse2: [seqno]': ' +
          // optional origin (present.origin, scanned to ': ', IPv6-safe)
          // + optional '*'/'.' + TIMESTAMP3164 (TZSTRING form) + ': ' +
          // '%'-tag scanned to ':'/' ' with ':' re-appended + ' ' + MSG
          // (msg keeps the leading space; the parsed-but-unused
          // msgcounter quirk is preserved by dropping the seqno).
          // present.xr (IOS XR RSP header skip) is not supported here.
          require(!p.get("present.xr").contains("on"),
            s"parser(name=\"$name\"): present.xr is not supported")
          val origin = p.get("present.origin").contains("on")
          val tsRe = "([A-Z][a-z]{2}  ?\\d{1,2} \\d{2}:\\d{2}:\\d{2}" +
            "(?:\\.\\d+)?(?: [A-Za-z]{1,4})?)"
          val re = if (origin)
            "^(\\d*): ((?:(?!: ).)+): [*.]?" + tsRe + ": (%[^: ]*):( .*)$"
          else
            "^(\\d*): [*.]?" + tsRe + ": (%[^: ]*):( .*)$"
          val fields =
            if (origin) Seq(("seqno", 1, 'S'), ("origin", 2, 'S'),
              ("cts", 3, 'S'), ("tag", 4, 'S'), ("cmsg", 5, 'S'))
            else Seq(("seqno", 1, 'S'), ("cts", 2, 'S'),
              ("tag", 3, 'S'), ("cmsg", 4, 'S'))
          val pc = s"__ios${idx}"
          df = df.withColumn(pc, org.apache.spark.sql.GraftBridge.column(
            graft.functions.RegexStructExpr(
              org.apache.spark.sql.GraftBridge.expression(body), re, fields)))
          def f(n: String) = col(s"$pc.$n")
          // TIMESTAMP3164 with an optional trailing TZ word; the zone
          // word is dropped (rendered naive) like our 3164 default path
          val cleaned = regexp_replace(
            regexp_replace(f("cts"), " [A-Za-z]{1,4}$", ""), "  +", " ")
          val stamped = concat(lit(s"$defaultYear "), cleaned)
          val ts = coalesce(
            try_to_timestamp(stamped, lit("yyyy MMM d HH:mm:ss.SSS")),
            try_to_timestamp(stamped, lit("yyyy MMM d HH:mm:ss")))
          val tagC = concat(f("tag"), lit(":"))
          addAcc(when(col(pc).isNotNull,
            res(col("fromhost"), full, lit(0),
              col("__pri"), (col("__pri") / 8).cast("int"),
              (col("__pri") % 8).cast("int"), ts,
              (if (origin) f("origin") else col("fromhost")),
              regexp_extract(tagC, "^([^:\\[/]*)", 1),
              lit(null), lit(null), lit(null), tagC,
              regexp_extract(tagC, "^([^:\\[/]*)", 1),
              f("cmsg"), lit(true))))
        case "pmlastmsg" =>
          // plugins/pmlastmsg/pmlastmsg.c: SP* + "last message repeated
          // <n> times" (both texts case-insensitive, nothing after) ->
          // accept with timestamp = reception time (tRcvdAt copy -> null
          // here, caller coalesces now), empty TAG, msg = the whole
          // after-PRI text (MSGoffs = offAfterPRI keeps leading spaces)
          val hit = body.rlike("(?i)^ *last message repeated \\d+ times$")
          addAcc(when(hit,
            res(col("fromhost"), full, lit(0),
              col("__pri"), (col("__pri") / 8).cast("int"),
              (col("__pri") % 8).cast("int"),
              lit(null).cast("timestamp"),
              col("fromhost"), lit(null), lit(null), lit(null),
              lit(null), lit(""), lit(""), body, lit(true))))
        case "pmaixforwardedfrom" =>
          // contrib/pmaixforwardedfrom: TRANSFORMER. After SP* and a
          // fixed 16-char timestamp, strip "Message forwarded from "
          // (23) or "From " (5); then remove the ':' after the
          // hostname. The half-mangled quirk is faithful: when the
          // preamble matched but no ':' terminates the hostname (space
          // or end first), the preamble stays REMOVED and the parser
          // still falls through (the memmove already happened before
          // the colon check, pmaixforwardedfrom.c:~100-130)
          val leadC = s"__lead$idx"; val trimC = s"__trim$idx"
          df = df.withColumn(leadC, regexp_extract(body, "^( *)", 1))
            .withColumn(trimC,
              body.substr(length(col(leadC)) + 1, length(body)))
          val sTrim = col(trimC)
          val ts16 = substring(sTrim, 1, 16)
          val rest = sTrim.substr(lit(17), length(sTrim))
          val p23 = lower(substring(rest, 1, 23)) === "message forwarded from "
          val p5 = lower(substring(rest, 1, 5)) === "from "
          val afterPreC = s"__afterpre$idx"
          df = df.withColumn(afterPreC,
            when(p23, sTrim.substr(lit(17 + 23), length(sTrim)))
            .otherwise(sTrim.substr(lit(17 + 5), length(sTrim))))
          val afterPre = col(afterPreC)
          val hostTok = regexp_extract(afterPre, "^([^ :]*)", 1)
          val nextCh = substring(afterPre, length(hostTok) + 1, lit(1))
          val fullMangle = concat(col(leadC), ts16, hostTok,
            afterPre.substr(length(hostTok) + 2, length(afterPre)))
          val halfMangle = concat(col(leadC), ts16, afterPre)
          addBody(
            when(length(sTrim) >= 24 && (p23 || p5) && length(afterPre) >= 2,
              when(nextCh === ":", fullMangle).otherwise(halfMangle))
            .otherwise(body))
        case "pmcisconames" =>
          // contrib/pmcisconames: TRANSFORMER. After SP* skip a 16- or
          // 21-char 'Mmm DD [YYYY ]HH:MM:SS ' stamp (position checks,
          // not a parse), walk past the hostname to the next space,
          // then a mangled ': %' tag start loses its ': ' so the
          // message parses as 'TS host %TAG-...: text'
          val leadC2 = s"__lead$idx"; val trimC2 = s"__trim$idx"
          df = df.withColumn(leadC2, regexp_extract(body, "^( *)", 1))
            .withColumn(trimC2,
              body.substr(length(col(leadC2)) + 1, length(body)))
          val sTrim = col(trimC2)
          def c(pos0: Int) = substring(sTrim, pos0 + 1, 1)
          val short16 = c(9) === ":" && c(12) === ":" && c(3) === " " &&
            c(6) === " " && c(15) === " "
          val long21 = c(14) === ":" && c(17) === ":" && c(3) === " " &&
            c(6) === " " && c(11) === " " && c(20) === " "
          val tsPart = when(short16, substring(sTrim, 1, 16))
            .otherwise(substring(sTrim, 1, 21))
          val afterTsC = s"__afterts$idx"
          df = df.withColumn(afterTsC,
            when(short16, sTrim.substr(lit(17), length(sTrim)))
            .otherwise(sTrim.substr(lit(22), length(sTrim))))
          val afterTs = col(afterTsC)
          val host = regexp_extract(afterTs, "^([^ ]*)", 1)
          val afterHost = afterTs.substr(length(host) + 2, length(afterTs))
          addBody(
            when(length(sTrim) >= 34 && (short16 || long21) &&
                 substring(afterHost, 1, 3) === ": %",
              concat(col(leadC2), tsPart, host, lit(" "),
                afterHost.substr(lit(3), length(afterHost))))
            .otherwise(body))
        case other => throw new IllegalArgumentException(
          s"parser type \"$other\" is not supported in a config parser " +
          "chain (supported: pmnull, pmnormalize, rfc5424/rfc3164, " +
          "pmciscoios, pmlastmsg, pmaixforwardedfrom, pmcisconames)")
      }
    }

    val accCol = accC.getOrElse(throw new IllegalArgumentException(
      "parser chain has only transformers - no parser can ever accept " +
      "(the reference would discard every message)"))
    val passthrough = df.columns
      .filterNot(c => c == "value" || c == "fromhost" || c.startsWith("__"))
      .map(col)
    val resFields = Seq("fromhost", "rawmsg", "protocol_version", "pri",
      "facility", "severity", "ts", "hostname", "app_name", "procid",
      "msgid", "structured_data", "syslogtag", "programname", "msg",
      "parsesuccess")
    df.filter(col(accCol).isNotNull)
      .select(passthrough ++
        resFields.map(f => col(s"$accCol.$f").as(f)) ++
        Seq(lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** Network/broker bind: feed frame (a `value` line column, or the Spark
    * Kafka source contract) → framing → decode chain. `chain` = the
    * ruleset's configured parser list; None = the default
    * rfc5424→rfc3164 list. */
  private def bindFeed(typ: String, df: DataFrame, now: Column,
                       defaultYear: Int, parseHostnameAndTag: Boolean,
                       chain: Option[Seq[(String, Map[String, String])]] = None,
                       p: Map[String, String] = Map.empty,
                       oversize: Option[(Int, String, Boolean)] = None,
                       sanitize: Sources.SanitizeOpts = Sources.SanitizeOpts()): DataFrame = {
    def on(k: String, dflt: Boolean = false): Boolean =
      p.get(k).map(_ == "on").getOrElse(dflt)
    if (typ == "imkafka" || df.columns.contains("topic"))
      Sources.imkafkaDecode(df, defaultYear)
        .withColumn("ts", coalesce(col("ts"), now))
    else if (typ == "imjournal")
      // feed rows carry one journal EXPORT-format entry per row
      Sources.imjournalDecode(df)
        .withColumn("ts", coalesce(col("ts"), now))
    // per-type preset decodes for the niche transports: the read is the
    // feed's job, the module's header/PRI/property shaping happens here
    else if (typ == "imklog")
      Sources.imklogDecode(df,
        permitNonKernel = on("permitnonkernelfacility"),
        keepKernelStamp = on("keepkerneltimestamp"), now = now)
    else if (typ == "imkmsg")
      Sources.imkmsgDecode(df, now = now)
    else if (typ == "improg" || typ == "imfifo")
      Sources.lineInputDecode(df, typ,
        tag = p.getOrElse("tag", ""),
        facility = facilityNum(p.getOrElse("facility", "local0")),
        severity = severityNum(p.getOrElse("severity", "notice")),
        now = now)
    else if (typ == "imhiredis")
      Sources.imhiredisDecode(df,
        mode = p.getOrElse("mode", "queue"),
        streamKey = p.getOrElse("key", ""),
        group = p.getOrElse("stream.consumergroup", ""),
        consumer = p.getOrElse("stream.consumername", ""),
        now = now)
    else if (typ == "imsolaris")
      Sources.imsolarisDecode(df, defaultYear = defaultYear, now = now)
    else if (typ == "imkubernetes")
      Sources.imkubernetesDecode(df,
        dfltSeverity = severityNum(p.getOrElse("severity", "info")),
        dfltFacility = facilityNum(p.getOrElse("facility", "user")),
        now = now)
    else if (typ == "impcap")
      Sources.impcapDecode(df, tag = p.getOrElse("tag", ""),
        metadataContainer =
          p.getOrElse("metadata_container", "!impcap").stripPrefix("!"),
        dataContainer =
          p.getOrElse("data_container", "!data").stripPrefix("!"),
        now = now)
    else if (typ == "imtuxedoulog")
      Sources.imtuxedoulogDecode(df, now = now)
    else if (typ == "imuxsock") {
      val dec = Sources.imuxsockDecode(df,
        annotate = on("annotate"),
        parseTrusted = on("parsetrusted"),
        defaultYear = defaultYear)
        .withColumn("ts", coalesce(col("ts"), now))
      // per-PID token bucket (findRatelimiter keyed on cred->pid,
      // imuxsock.c:617-680; applied only to severities >= the threshold,
      // ratelimit.c:2605 — emergencies exempt by default). Defaults
      // interval 0 = off, burst 200, severity 1 (imuxsock.c:186-188).
      val interval = p.get("ratelimit.interval").map(_.toInt).getOrElse(0)
      if (interval > 0 && dec.columns.contains("pid")) {
        val burst = p.get("ratelimit.burst").map(_.toInt).getOrElse(200)
        val sevThresh = p.get("ratelimit.severity").map(severityNum).getOrElse(1)
        val ord = if (dec.columns.contains("seq")) col("seq") else col("ts")
        graft.operators.RateLimit(
            dec.filter(col("severity") >= sevThresh),
            col("pid"), col("ts"), ord, interval, burst)
          .unionByName(dec.filter(col("severity") < sevThresh))
      } else dec
    }
    else if (typ == "imhttp")
      Sources.imhttpDecode(df, addMetadata = on("addmetadata"),
        defaultYear = defaultYear)
        .withColumn("ts", coalesce(col("ts"), now))
    else {
      val withProv0 =
        if (df.columns.contains("inputname")) df
        else df.withColumn("inputname", lit(typ))
      val withProv =
        if (withProv0.columns.contains("fromhost")) withProv0
        else withProv0.withColumn("fromhost", lit(localHost))
      // imtcp accepts octet-counted framing per connection (RFC6587,
      // runtime/tcpsrv.c); deframe is per-row conditional so LF-framed
      // lines pass through untouched. imrelp feeds carry RELP frames —
      // syslog-command payloads extracted, control frames dropped.
      // allowedSender ACL (net.c AddAllowedSender/isAllowedSender;
      // tests/yaml-allowed-sender-modern.sh): messages from senders
      // outside the list are dropped at reception. Entries: CIDR,
      // plain IP (v6 may be bracketed), compared against fromhost.
      val acled = p.get("allowedsender").map(RsyslogConfig.splitArray) match {
        case Some(entries) if entries.nonEmpty =>
          val ip = col("fromhost")
          val cond = entries.map { e0 =>
            val e = e0.stripPrefix("[").stripSuffix("]")
            if (e.contains('/'))
              graft.functions.rainer.is_in_subnet(ip, lit(e))
            else ip === lit(e)
          }.reduce(_ || _)
          withProv.filter(coalesce(cond, lit(false)))
        case _ => withProv
      }
      val framed0 = typ match {
        // supportOctetCountedFraming="off" leaves digit-led lines
        // literal (tests/imtcp_no_octet_counted.sh); module-level
        // maxFrameSize threads in via the __maxframesize key
        case "imtcp" if !on("supportoctetcountedframing", dflt = true) =>
          acled
        case "imtcp" => Sources.deframeOctetCounted(acled,
          maxFrame = p.get("__maxframesize").map(_.toInt).getOrElse(200000))
        case "imrelp" => Sources.deframeRelp(acled)
        case _ => acled
      }
      // global(maxMessageSize=) reception gate, AFTER deframing — the
      // reference checks getRawMsgLen at submitMsg2 (rsyslogd.c:1254)
      val framed = oversize match {
        case Some((n, mode, rep)) => Sources.oversizeGate(framed0, n, mode, rep)
        case None => framed0
      }
      chain.map(c => decodeChain(framed, c, defaultYear, parseHostnameAndTag,
          sanitize))
        .getOrElse(Sources.decodeSyslog(framed, defaultYear = defaultYear,
          parseHostnameAndTag = parseHostnameAndTag, sanitize = sanitize))
        .withColumn("ts", coalesce(col("ts"), now))
    }
  }

  /** Bind every declared input; returns (ruleset, frame) pairs — "" is
    * the default/main ruleset, like the reference's
    * RSYSLOG_DefaultRuleset binding for inputs without ruleset=. */
  def bindBatch(cfg: RsyslogConfig, spark: SparkSession,
                feeds: Map[String, DataFrame],
                now: Column, defaultYear: Int): Seq[(String, DataFrame)] = {
    // global(parser.parseHostnameAndTag="off"): the RFC3164 parser keeps
    // hostname/TAG text in MSG (glbl.GetParseHOSTNAMEandTAG →
    // pmrfc3164.c:383, tests/rscript_parsehostnameandtag_off.sh)
    val phat = !cfg.globals.get("parser.parsehostnameandtag").contains("off")
    // glbl parser.* sanitize family (SanitizeMsg options)
    val sanOpts = Sources.SanitizeOpts.fromGlobals(cfg.globals)
    // explicit global(maxMessageSize=) only — no inherent default cap
    val oversize = cfg.globals.get("maxmessagesize").map { v =>
      val n = v.trim.toLowerCase match {
        case x if x.endsWith("k") => x.dropRight(1).trim.toInt * 1024
        case x if x.endsWith("m") => x.dropRight(1).trim.toInt * 1024 * 1024
        case x => x.toInt
      }
      (n, cfg.globals.getOrElse("oversizemsg.input.mode", "truncate"),
        !cfg.globals.get("oversizemsg.report").contains("off"))
    }
    cfg.inputs.flatMap { p =>
      val typ = p.getOrElse("type", "")
      val ruleset = p.getOrElse("ruleset", "")
      // ruleset(parser=[...]) replaces the default parser list for
      // messages bound to that ruleset (ruleset.GetParserList in
      // runtime/parser.c:638-640)
      val chain = cfg.rulesetParsers.get(ruleset)
        .map(names => resolveChain(cfg, names))
      if (typ.nonEmpty && !cfg.hasModule(typ))
        log.warn(s"input(type=\"$typ\") without module(load=\"$typ\") — binding anyway")
      val frame: Option[DataFrame] = typ match {
        case "" =>
          log.warn("input() without type=; skipped"); None
        case "imfile" =>
          Some(bindImfile(spark, p, now, defaultYear, phat))
        case "imbatchreport" =>
          Some(bindImbatchreport(spark, p, feeds, now))
        case t =>
          feed(feeds, p, t) match {
            case Some(df) =>
              // imtcp maxFrameSize is a MODULE param — thread it to the
              // input binding under a reserved key
              val p2 = cfg.modules.find(_.get("load").exists(_.startsWith("imtcp")))
                .flatMap(_.get("maxframesize"))
                .map(v => p + ("__maxframesize" -> v)).getOrElse(p)
              // module-level allowedSender applies to every input of
              // that type unless the input sets its own
              val p3 =
                if (p2.contains("allowedsender")) p2
                else cfg.modules.find(_.get("load").exists(_.startsWith(t)))
                  .flatMap(_.get("allowedsender"))
                  .map(v => p2 + ("allowedsender" -> v)).getOrElse(p2)
              Some(bindFeed(t, df, now, defaultYear, phat, chain, p3, oversize,
                sanOpts))
            case None =>
              log.warn(s"input(type=\"$t\"${p.get("port").map(po => s" port=$po").getOrElse("")}) " +
                "has no bound feed in this run; listener idle")
              None
          }
      }
      frame.map(ruleset -> _)
    }
  }

  /** imfile streaming bind: fileTail through the multiline/readMode
    * state machines with the input's params threaded (startmsg.regex /
    * endmsg.regex / readmode / escapelf / escapelf.replacement /
    * trimlineoverbytes). Returns assembled records as
    * (key, start_seq, record).
    *
    * Ordering caveat: the text stream source exposes no line index, so
    * seq is a per-partition counter seeded from the wall clock at
    * partition start — within one micro-batch a file's lines keep read
    * order, and a later batch's lines always sort after an earlier
    * batch's (so the state machine's seq-regression truncation detector
    * doesn't false-positive across batches). Not stable across restarts;
    * same single-batch determinism contract the stream gate documents.
    */
  def bindStreamImfile(spark: SparkSession, p: Map[String, String]): DataFrame = {
    import spark.implicits._
    import graft.streaming.Stateful
    val path = p.getOrElse("file",
      throw new IllegalArgumentException("input(type=\"imfile\") needs file="))
    val in = Sources.fileTail(spark, path).select(
      input_file_name().as("key"),
      col("value").as("line"),
      current_timestamp().as("ts"))
      .as[(String, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        // 2^20 lines of headroom per partition before seqs could
        // interleave with a batch started in the same millisecond
        val base = System.currentTimeMillis() << 20
        var i = -1L
        it.map { case (k, l, t) => i += 1; Stateful.MlInput(k, base + i, l, t) }
      }
    val readMode = p.getOrElse("readmode", "0").toInt
    val start = p.get("startmsg.regex")
    val end = p.get("endmsg.regex")
    val maxMsg = p.getOrElse("trimlineoverbytes", "8096").toInt
    // readTimeout (seconds, imfile param, default 0): the multiline
    // partial-record flush timer. 0 maps to flush-when-the-watermark-
    // passes — the shutdown flush in a bounded run, never-mid-tail in a
    // live one, matching the reference's no-timeout default.
    val flushMs = p.getOrElse("readtimeout", "0").toLong * 1000L match {
      case 0L => -1L
      case ms => ms
    }
    val out =
      if (start.nonEmpty || end.nonEmpty)
        Stateful.imfileMultiline(in, start, end,
          escapeLF = !p.get("escapelf").contains("off"),
          escapeLFString = p.get("escapelf.replacement"),
          maxMsgSize = maxMsg,
          discardTruncatedMsg = p.get("discardtruncatedmsg").contains("on"),
          flushAfterMs = flushMs)
          .toDF()
      else if (readMode > 0)
        Stateful.imfileReadMode(in, readMode, flushAfterMs = flushMs).toDF()
      else in.toDF().filter(col("line") =!= "")  // enqLine skips empty lines
        .select(col("key"), col("seq").as("startSeq"), col("line").as("record"))
    out.select(col("key"), col("startSeq").as("start_seq"), col("record"))
  }
}
