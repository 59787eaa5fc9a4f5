package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{device, rainer}
import graft.operators._
import graft.Queries.{synthSql, synthSyslog}

/** Parsers and message modifiers (SURVEY §2.9): `pm*` parsers, the
  * parser chain, and the `mm*` modules.
  */
object ParserQueries {

  val defs: Seq[QueryDef] = Seq(
    // §2.9 mmaitag — external-AI classification fold: mock-provider
    // labels (sequential CSV with REGULAR fallback) landing in $.aitag;
    // the bounded frame mirrors the mock's sequential-counter scope
    QueryDef("mmaitag", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .filter(col("event_id") % 97 === 0)
        .select(col("event_id"), col("rawmsg"),
          lit("{}").as("vars_local"))
      val labels = graft.sources.Sources.mmaitagMockLabels(
        "NOISE,CRITICAL,IMPORTANT,NOISE,REGULAR,CRITICAL", col("event_id"))
      graft.sources.Sources.mmaitagFold(ev, labels)
        .select(col("event_id"),
          get_json_object(col("vars_local"), "$.aitag").as("aitag"))
    },
      (Queries.synthSql +
      """ SELECT event_id,
        |  CASE rn WHEN 1 THEN 'NOISE' WHEN 2 THEN 'CRITICAL'
        |    WHEN 3 THEN 'IMPORTANT' WHEN 4 THEN 'NOISE'
        |    WHEN 5 THEN 'REGULAR' WHEN 6 THEN 'CRITICAL'
        |    ELSE 'REGULAR' END AS aitag
        | FROM (SELECT event_id,
        |    row_number() OVER (ORDER BY event_id) AS rn
        |  FROM ev WHERE event_id % 97 = 0)""".stripMargin)),

    // §2.9 four inline mm* config actions end-to-end: mmleefparse
    // (header/fields tree at the $! root), mmaudit (numeric-type audit
    // grammar → $!audit + parsesuccess), mmgrok (match= → $!g), and
    // mmrfc5424addhmac (HMAC SD element on RFC5424 frames only)
    QueryDef("mm_actions", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("msg",
          when(col("event_id") % 3 === 0,
            concat(lit("LEEF:1.0|Vnd|Prod|2.0|e"), col("event_id") % 50,
              lit("|src=10.0.0."), col("user_id") % 250,
              lit("\tact=blocked")))
          .when(col("event_id") % 3 === 1,
            concat(lit("type=1300 audit(1700000000.123:"), col("event_id"),
              lit("): uid="), col("user_id") % 1000,
              lit(" cmd=\"ls -la\"")))
          .otherwise(concat(lit("GET /api/r"), col("event_id") % 17,
            lit(" 200"))))
        .withColumn("rawmsg",
          concat(lit("<165>1 - h app - - - m"), col("event_id")))
        .withColumn("protocol_version",
          when(col("event_id") % 3 === 2, 1).otherwise(0))
        .withColumn("structured_data", lit(null).cast("string"))
        .withColumn("parsesuccess", lit(true))
      val conf =
        """ruleset(name="m") {
          |  action(type="mmleefparse")
          |  action(type="mmaudit")
          |  action(type="mmgrok" match="%{WORD:verb} %{NOTSPACE:path} %{NUMBER:code}" target="!g")
          |  action(type="mmrfc5424addhmac" key="graftkey" hashfunction="sha256" sd_id="hmac@32473")
          |}
          |""".stripMargin
      val out = graft.rainerscript.RsyslogConfig.parse(conf)
        .run(ev.select(col("event_id"), col("user_id"), col("msg"),
          col("rawmsg"), col("protocol_version"), col("structured_data"),
          col("parsesuccess")), "m").output
      // single-parse (r15 impcap discipline): six full-document
      // re-parses → one json_tuple parse splitting the four subtrees,
      // then six small-subtree extracts
      out
        .select(Seq(col("event_id"), col("parsesuccess"),
          col("structured_data")) :+
          json_tuple(col("vars_msg"), "header", "fields", "audit", "g"): _*)
        .toDF("event_id", "parsesuccess", "structured_data",
          "__hdr", "__fld", "__aud", "__g")
        .select(col("event_id"),
        get_json_object(col("__hdr"), "$.vendor").as("leef_vendor"),
        get_json_object(col("__fld"), "$.src").as("leef_src"),
        get_json_object(col("__aud"), "$.hdr.auditid").as("auditid"),
        get_json_object(col("__aud"), "$.uid").as("audit_uid"),
        get_json_object(col("__g"), "$.verb").as("verb"),
        get_json_object(col("__g"), "$.code").as("code"),
        col("parsesuccess"),
        col("structured_data").isNotNull.as("hmac_added"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN 'Vnd' END AS leef_vendor,
        |  CASE WHEN event_id % 3 = 0 THEN '10.0.0.' || (user_id % 250) END AS leef_src,
        |  CASE WHEN event_id % 3 = 1 THEN '1700000000.123:' || event_id END AS auditid,
        |  CASE WHEN event_id % 3 = 1 THEN CAST(user_id % 1000 AS VARCHAR) END AS audit_uid,
        |  CASE WHEN event_id % 3 = 2 THEN 'GET' END AS verb,
        |  CASE WHEN event_id % 3 = 2 THEN '200' END AS code,
        |  event_id % 3 = 1 AS parsesuccess,
        |  event_id % 3 = 2 AS hmac_added
        |FROM events""".stripMargin),

    // §2.9 mmdarwin call shaping (contrib/mmdarwin doAction): dynamic
    // !-fields from the $! tree + literal fields into the raw
    // quote-wrapped [[...]] body, partial field sets suppressed with
    // send_partial=off, daemon certitude (External scorer seam) stored
    // at $!certitude only for rows that sent a body
    QueryDef("mmdarwin_call", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("vars_msg",
          when(col("event_id") % 13 === 0,
            concat(lit("{\"srcip\":\"10.0.0."), col("event_id") % 250,
              lit("\"}")))
          .otherwise(concat(lit("{\"srcip\":\"10.0.0."),
            col("event_id") % 250, lit("\",\"port\":"),
            col("event_id") % 65536, lit("}"))))
      graft.sources.Sources.mmdarwinCall(ev,
        Seq("!srcip", "smtp", "!port"), scoreCol = col("event_id") % 101)
        .select(col("event_id"), col("darwin_body"),
          get_json_object(col("vars_msg"), "$.certitude").as("certitude"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE '[["10.0.0.' || (event_id % 250) || '","smtp","' ||
        |            (event_id % 65536) || '"]]' END AS darwin_body,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE CAST(event_id % 101 AS VARCHAR) END AS certitude
        |FROM events""".stripMargin),

    // §2.9 mmjsonparse mode="find-json" through the config action path:
    // a decoy "{bad}" makes the scan-advance load-bearing; every 10th
    // message has no valid object and takes the FAIL branch
    QueryDef("mmjsonparse_findjson", (s, dir) => {
      val ev = Tables.events(s, dir)
      val msgs = ev.select(col("event_id"),
        when(col("event_id") % 10 === 0,
          concat(lit("pfx {broken "), col("event_type")))
        .otherwise(concat(lit("pfx {bad} ev "), col("event_type"),
          lit(" {\"id\":"), col("event_id"), lit("}"))).as("msg"))
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        """action(type="mmjsonparse" mode="find-json")
          |set $.id = $!id;
          |""".stripMargin)
      cfg.run(msgs).output.select(col("event_id"),
        col("parsesuccess"),
        get_json_object(col("vars_msg"), "$.id").cast("long").as("jid"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 10 = 0 THEN 'FAIL' ELSE 'OK' END
        |    AS parsesuccess,
        |  CASE WHEN event_id % 10 = 0 THEN CAST(NULL AS BIGINT)
        |       ELSE event_id END AS jid
        |FROM events""".stripMargin),

    // §2.9 pmrfc3164 — synth rawmsg → custom parse expr → fields roundtrip
    QueryDef("parse_rfc3164", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val p = ev.withColumn("p", rainer.parse_syslog(col("rawmsg")))
      p.select(
        col("event_id"),
        col("p.facility").as("facility"),
        col("p.severity").as("severity"),
        col("p.hostname").as("hostname"),
        col("p.programname").as("programname"),
        col("p.procid").as("procid"),
        col("p.msg").as("msg"),
        col("p.parsesuccess").as("parsesuccess"))
    },
      (synthSql +
      """ SELECT event_id, facility, severity, hostname,
        |   event_type AS programname,
        |   CAST(event_id AS VARCHAR) AS procid,
        |   ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ': v100=' || v100 AS msg,
        |   true AS parsesuccess
        | FROM ev""".stripMargin)),

    // §2.9 pmrfc5424 + mmpstrucdata — 5424 header + SD parse
    QueryDef("parse_rfc5424", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("raw5424", concat(
          lit("<165>1 "),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit(" "),
          concat(lit("host"), col("user_id")), lit(" "),
          col("event_type"), lit(" "), col("event_id"), lit(" ID"), col("event_id") % 10,
          lit(" [ev@32473 v=\""), round(col("value") * 100, 0).cast("long"), lit("\"] "),
          lit("payload "), col("event_id")))
      val p = ev.withColumn("p", rainer.parse_syslog(col("raw5424")))
      p.select(
        col("event_id"),
        col("p.hostname").as("hostname"),
        col("p.app_name").as("app_name"),
        col("p.procid").as("procid"),
        col("p.msgid").as("msgid"),
        get_json_object(rainer.parse_structured_data(col("p.structured_data")),
          "$['ev@32473'].v").as("sd_v"),
        col("p.msg").as("msg"))
    },
      (synthSql +
      """ SELECT event_id,
        |  hostname,
        |  event_type AS app_name,
        |  CAST(event_id AS VARCHAR) AS procid,
        |  'ID' || (event_id % 10) AS msgid,
        |  CAST(v100 AS VARCHAR) AS sd_v,
        |  'payload ' || event_id AS msg
        | FROM ev""".stripMargin)),

    // §2.9 mmjsonparse — CEE/JSON body extraction
    QueryDef("mmjsonparse", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("cee", concat(lit("@cee: "), col("props")))
      ev.select(
        col("event_id"),
        get_json_object(regexp_replace(col("cee"), "^@cee: ", ""), "$.k")
          .cast("long").as("k"),
        rainer.parse_json_ok(regexp_replace(col("cee"), "^@cee: ", "")).as("valid"))
    },
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  true AS valid
        |FROM events""".stripMargin),

    // §2.9 parser chain with the full behavior matrix (runtime/parser.c
    // ParseMsg): a TRANSFORMER (pmaixforwardedfrom unmangling) ahead of
    // three ACCEPTORS — pmciscoios (IOS seq/ts/%TAG frames), pmlastmsg
    // (repeated-message shortcut) and the rfc3164 catch-all
    QueryDef("parser_chain_cisco", (s, dir) => {
      val ev = Tables.events(s, dir)
      val feed = ev.select(
        col("event_id"),
        concat(lit("src"), col("user_id") % 10).as("fromhost"),
        when(col("event_id") % 4 === 0,
          concat(lit("<189>"), col("event_id") % 1000,
            lit(": May 28 16:09:56.185: %SYS-5-CONFIG_I: c "), col("event_id")))
        .when(col("event_id") % 4 === 1,
          concat(lit("<13>last message repeated "), col("event_id") % 9,
            lit(" times")))
        .when(col("event_id") % 4 === 2,
          concat(lit("<13>Oct 11 22:14:15 Message forwarded from ax"),
            col("user_id") % 10, lit(": app"), col("event_id") % 7,
            lit(": t "), col("event_id")))
        .otherwise(
          concat(lit("<13>Oct 11 22:14:15 h"), col("user_id") % 10,
            lit(" app"), col("event_id") % 7, lit(": t "), col("event_id")))
        .as("value"))
      val conf =
        """module(load="imtcp")
          |module(load="pmciscoios")
          |module(load="pmlastmsg")
          |module(load="pmaixforwardedfrom")
          |parser(name="custom.ios" type="pmciscoios")
          |template(name="line" type="string" string="%hostname%|%syslogtag%|%pri%|%msg%")
          |ruleset(name="mix" parser=["rsyslog.aixforwardedfrom","custom.ios","rsyslog.lastline","rsyslog.rfc3164"]) {
          |  action(type="omfile" file="/out.log" template="line")
          |}
          |input(type="imtcp" port="601" ruleset="mix")
          |""".stripMargin
      val cfg = graft.rainerscript.RsyslogConfig.parse(conf)
      val res = cfg.activate(s, feeds = Map("imtcp:601" -> feed),
        now = to_timestamp(lit("2024-01-01 00:00:00")))("mix")
      res.actionFrame(0).select(col("event_id"),
        col("__rendered").as("line"))
    },
      // selector semantics: auth=4, authpriv=10, cron=9, kern=0, mail=2;
      // '& stop' only affects statements after the mail fwd (none), so it
      // changes no counts — it's there to prove the continuation parses
      """SELECT event_id,
        |  CASE
        |    WHEN event_id % 4 = 0 THEN
        |      'src' || (user_id % 10) || '|%SYS-5-CONFIG_I:|189| c ' || event_id
        |    WHEN event_id % 4 = 1 THEN
        |      'src' || (user_id % 10) || '||13|last message repeated ' ||
        |      (event_id % 9) || ' times'
        |    WHEN event_id % 4 = 2 THEN
        |      'ax' || (user_id % 10) || '|app' || (event_id % 7) ||
        |      ':|13| t ' || event_id
        |    ELSE
        |      'h' || (user_id % 10) || '|app' || (event_id % 7) ||
        |      ':|13| t ' || event_id
        |  END AS line
        |FROM events""".stripMargin),

    // §2.9 mmanon as an inline config action: zero-mode masking of IPs
    // embedded in free message text (the reference default mode/bits)
    QueryDef("mmanon_msg", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ipn",
          (col("user_id") * 7777777L + col("event_id")) % 4294967296L)
        .withColumn("msg", concat(lit("login from "),
          rainer.num2ipv4(col("ipn")), lit(" port "), col("event_id") % 65536))
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        """action(type="mmanon" ipv4.bits="16")""")
      cfg.run(ev.select(col("event_id"), col("msg"))).output
        .select(col("event_id"), col("msg"))
    },
      """WITH e AS (
        |  SELECT event_id, (user_id * 7777777 + event_id) % 4294967296 AS ipn
        |  FROM events)
        |SELECT event_id,
        |  'login from ' || CAST(ipn // 16777216 AS VARCHAR) || '.' ||
        |  CAST((ipn // 65536) % 256 AS VARCHAR) || '.0.0 port ' ||
        |  CAST(event_id % 65536 AS VARCHAR) AS msg
        |FROM e""".stripMargin),

    // §2.9 mmanon IPv6 + random-consistent: the full family surface via
    // the inline config action (defaults: v6 zero/96) plus the
    // random-consistent mode's contract — deterministic per-address
    // replacement (seeded keyed hash; the reference's per-process table
    // can't be shared across 1000 executors) with the prefix preserved
    QueryDef("mmanon_v6", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("xg", lower(hex(col("user_id") % 65536)))
        .withColumn("yg", lower(hex(col("event_id") % 65536)))
        .withColumn("adr", concat(lit("2001:db8:"), col("xg"), lit("::"), col("yg")))
        .withColumn("msg", concat(lit("conn from "), col("adr"),
          lit(" port "), col("event_id") % 9999))
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        """action(type="mmanon")""")
      val zeroed = cfg.run(ev.select(col("event_id"), col("adr"), col("msg")))
        .output.select(col("event_id"), col("adr"), col("msg"))
      val rc = graft.functions.AnonIpCfg(v4On = false, embOn = false,
        v6Mode = graft.functions.AnonIpMsgExpr.RAND_CONSIS, seed = 1L)
      val t1 = element_at(split(rainer.anon_ip_msg(
        concat(lit("from "), col("adr"), lit(" end")), rc), " "), 2)
      val t2 = element_at(split(rainer.anon_ip_msg(
        concat(lit("to "), col("adr")), rc), " "), 2)
      zeroed.select(col("event_id"), col("msg"),
        (t1 === t2).as("rc_consistent"),
        t1.startsWith("2001:db8:").as("rc_prefix_kept"))
    },
      """SELECT event_id,
        |  'conn from 2001:db8:0:0:0:0:0:0 port ' || (event_id % 9999) AS msg,
        |  true AS rc_consistent,
        |  true AS rc_prefix_kept
        |FROM events""".stripMargin),

    // §2.9 mmanon — IPv4 anonymization (zero low bits, CIDR-aware)
    QueryDef("mmanon", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ipn", (col("user_id") * 7777777L + col("event_id")) % 4294967296L)
        .withColumn("ip", rainer.num2ipv4(col("ipn")))
      ev.select(
        col("event_id"),
        rainer.anon_ipv4(col("ip"), 8).as("anon8"),
        rainer.anon_ipv4(col("ip"), 16).as("anon16"),
        rainer.is_in_subnet(rainer.anon_ipv4(col("ip"), 8),
          concat(rainer.anon_ipv4(col("ip"), 8), lit("/24"))).as("still_in_24"))
    },
      """WITH e AS (
        |  SELECT event_id, (user_id * 7777777 + event_id) % 4294967296 AS ipn
        |  FROM events)
        |SELECT event_id,
        |  ((ipn // 16777216) % 256) || '.' || ((ipn // 65536) % 256) || '.' ||
        |    ((ipn // 256) % 256) || '.0' AS anon8,
        |  ((ipn // 16777216) % 256) || '.' || ((ipn // 65536) % 256) || '.0.0'
        |    AS anon16,
        |  true AS still_in_24
        |FROM e""".stripMargin),

    // §2.9 mmrm1stspace + control-char/space cleanup pipeline
    QueryDef("msg_cleanup", (s, dir) => {
      val dirty = Tables.documents(s, dir)
        .withColumn("dirty", concat(lit(" "), col("text"), lit("\n")))
      dirty.select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("dirty"), "^ ", ""), "\n$", "")
          .as("clean"),
        (length(col("dirty")) - length(
          regexp_replace(regexp_replace(col("dirty"), "^ ", ""), "\n$", "")))
          .as("removed"))
    },
      """WITH d AS (
        |  SELECT doc_id, ' ' || text || chr(10) AS dirty FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(dirty, '^ ', ''), chr(10) || '$', '')
        |    AS clean,
        |  length(dirty) - length(
        |    regexp_replace(regexp_replace(dirty, '^ ', ''), chr(10) || '$', ''))
        |    AS removed
        |FROM d""".stripMargin),

    // §2.9 mmnormalize — rulebase field extraction, first rule wins
    QueryDef("mmnormalize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("msg",
          when(col("event_type") === "error",
            concat(lit("error code="), col("event_id") % 500,
              lit(" at host"), col("user_id"), lit(" fatal")))
          .otherwise(concat(lit("user u"), col("user_id"),
            lit(" did "), col("event_type"), lit(" n="), col("event_id"))))
      val rules = Seq(
        "error code=%code:number% at %host:word% fatal",
        "user %u:word% did %act:word% n=%n:number%")
      ev.select(col("event_id"),
          // one JSON parse for all fields (5 get_json_object = 5 parses)
          from_json(Normalize.normalize(col("msg"), rules),
            StructType(Seq("code", "host", "u", "act", "n")
              .map(StructField(_, StringType)))).as("v"))
        .select(col("event_id"),
          col("v.code").cast("long").as("code"),
          col("v.host").as("host"),
          col("v.u").as("u"),
          col("v.act").as("act"),
          col("v.n").cast("long").as("n"))
    },
      """WITH m AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'error'
        |      THEN 'error code=' || (event_id % 500) || ' at host' || user_id || ' fatal'
        |      ELSE 'user u' || user_id || ' did ' || event_type || ' n=' || event_id
        |    END AS msg,
        |    event_type
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN event_type = 'error'
        |    THEN CAST(regexp_extract(msg, '^error code=(\d+) at (\S+) fatal$', 1) AS BIGINT) END AS code,
        |  CASE WHEN event_type = 'error'
        |    THEN regexp_extract(msg, '^error code=(\d+) at (\S+) fatal$', 2) END AS host,
        |  CASE WHEN event_type <> 'error'
        |    THEN regexp_extract(msg, '^user (\S+) did (\S+) n=(\d+)$', 1) END AS u,
        |  CASE WHEN event_type <> 'error'
        |    THEN regexp_extract(msg, '^user (\S+) did (\S+) n=(\d+)$', 2) END AS act,
        |  CASE WHEN event_type <> 'error'
        |    THEN CAST(regexp_extract(msg, '^user (\S+) did (\S+) n=(\d+)$', 3) AS BIGINT) END AS n
        |FROM m""".stripMargin),

    // §2.9 mmnormalize v1 rulebase with TAGS + annotate + `-` discard
    // fields — the reference's own WIN/ESX rules verbatim
    // (tests/testsuites/mmnormalize_processing_tests.rulebase:1-8,
    // driven by tests/mmnormalize_processing_test1-4.sh): tag-attached
    // annotate constants land next to parsed fields, discard fields
    // anchor without capturing, first-matching rule wins
    QueryDef("mmnormalize_annotate", (s, dir) => {
      val ev = Tables.events(s, dir)
      val iso = lit("2024-01-05T10:20:30Z")
      val msg = when(col("event_id") % 2 === 0,
          concat(lit("<134>1 "), iso, lit(" host"), col("user_id"),
            lit(" WinTag - - - svc"), col("user_id") % 4,
            lit(" ret"), col("event_id") % 3, lit(" os"), col("event_id") % 5,
            lit(" event "), col("event_type"), lit(" happened")))
        .otherwise(concat(lit("<7>"), iso, lit(" esx"), col("user_id"),
          lit(" vpx.daemon: event "), col("event_type"), lit(" at "),
          col("event_id")))
      val rulebase = Seq(
        "rule=WIN:<%n1:number%>1 %-:date-rfc5424% %n2:word% %v_tag:word% - - - %v_svc:word% %v_ret:word% %v_os:word% %v_msg:rest%",
        "annotate=WIN:+v_analytics_prefix=\"EvntSLog: \"",
        "rule=ESX:<%-:number%>%-:date-rfc5424% %-:word% %v_tag:char-to:\\x3a%: %v_msg:rest%",
        "annotate=ESX:+v_svc=\"SER2\"",
        "annotate=ESX:+v_ret=\"Y01\"",
        "annotate=ESX:+v_file=\"esx\"",
        "annotate=ESX:+v_os=\"ESX\"")
      ev.withColumn("msg", msg).select(col("event_id"),
          from_json(Normalize.normalizeRulebase(col("msg"), rulebase),
            StructType(Seq("n1", "n2", "v_tag", "v_svc", "v_ret", "v_os",
              "v_msg", "v_file", "v_analytics_prefix")
              .map(StructField(_, StringType)))).as("v"))
        .select(col("event_id"),
          col("v.n1").cast("long").as("n1"),
          col("v.n2").as("n2"),
          col("v.v_tag").as("tag"),
          col("v.v_svc").as("svc"),
          col("v.v_ret").as("ret"),
          col("v.v_os").as("os"),
          col("v.v_file").as("file"),
          col("v.v_msg").as("vmsg"),
          col("v.v_analytics_prefix").as("prefix"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 134 END AS n1,
        |  CASE WHEN event_id % 2 = 0 THEN 'host' || user_id END AS n2,
        |  CASE WHEN event_id % 2 = 0 THEN 'WinTag'
        |       ELSE 'vpx.daemon' END AS tag,
        |  CASE WHEN event_id % 2 = 0 THEN 'svc' || (user_id % 4)
        |       ELSE 'SER2' END AS svc,
        |  CASE WHEN event_id % 2 = 0 THEN 'ret' || (event_id % 3)
        |       ELSE 'Y01' END AS ret,
        |  CASE WHEN event_id % 2 = 0 THEN 'os' || (event_id % 5)
        |       ELSE 'ESX' END AS os,
        |  CASE WHEN event_id % 2 = 0 THEN NULL ELSE 'esx' END AS file,
        |  CASE WHEN event_id % 2 = 0
        |       THEN 'event ' || event_type || ' happened'
        |       ELSE 'event ' || event_type || ' at ' || event_id END AS vmsg,
        |  CASE WHEN event_id % 2 = 0 THEN 'EvntSLog: ' END AS prefix
        |FROM events""".stripMargin),

    // §2.9 mmfields — delimiter split into f_1..f_n
    QueryDef("mmfields", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .withColumn("fields", concat_ws("|",
          col("event_type"), col("user_id"), col("v100"), col("hostname")))
      val f = split(col("fields"), "\\|")
      ev.select(
        col("event_id"),
        element_at(f, 1).as("f1"),
        element_at(f, 2).as("f2"),
        element_at(f, 3).as("f3"),
        element_at(f, 4).as("f4"),
        size(f).as("nf"))
    },
      (synthSql +
      """ SELECT event_id,
        |  event_type AS f1,
        |  CAST(user_id AS VARCHAR) AS f2,
        |  CAST(v100 AS VARCHAR) AS f3,
        |  hostname AS f4,
        |  4 AS nf
        | FROM ev""".stripMargin)),

    // §2.9 device-parser chain: pmciscoios → pmaixforwardedfrom →
    // pmcisconames, first-parser-wins (runtime/parser.c:613-686)
    QueryDef("parse_cisco", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val cts = concat(
        date_format(col("ts"), "MMM "),
        lpad(date_format(col("ts"), "d"), 2, " "),
        date_format(col("ts"), " HH:mm:ss"))
      val body = when(col("event_id") % 3 === 0,
          concat(col("event_id"), lit(": *"), cts, lit(": %SYS-"),
            col("severity"), lit("-CONFIG_I: configured by u"), col("user_id")))
        .when(col("event_id") % 3 === 1,
          concat(lit("Message forwarded from host"), col("user_id"),
            lit(": app n="), col("event_id")))
        .otherwise(concat(cts, lit(" host"), col("user_id"),
          lit(" : %ASA-6-302013: built conn n="), col("event_id")))
      val withB = ev.withColumn("body", body)
        .withColumn("p_ios", device.parseCiscoIos(col("body")))
        .withColumn("p_aix", device.parseAixForwardedFrom(col("body")))
        .withColumn("p_nam", device.parseCiscoNames(col("body")))
      withB.select(
        col("event_id"),
        when(col("p_ios").isNotNull, "ios")
          .when(col("p_aix").isNotNull, "aix")
          .when(col("p_nam").isNotNull, "names")
          .otherwise("none").as("parser"),
        coalesce(col("p_aix.hostname"), col("p_nam.hostname")).as("hostname"),
        coalesce(col("p_ios.severity"), col("p_nam.severity")).as("sev"),
        coalesce(col("p_ios.text"), col("p_aix.text"), col("p_nam.text")).as("text"))
    },
      (synthSql +
      """ SELECT event_id,
        |  CASE event_id % 3 WHEN 0 THEN 'ios' WHEN 1 THEN 'aix'
        |    ELSE 'names' END AS parser,
        |  CASE WHEN event_id % 3 = 0 THEN NULL
        |    ELSE 'host' || user_id END AS hostname,
        |  CASE event_id % 3 WHEN 0 THEN severity WHEN 2 THEN 6 END AS sev,
        |  CASE event_id % 3
        |    WHEN 0 THEN 'configured by u' || user_id
        |    WHEN 1 THEN 'app n=' || event_id
        |    ELSE 'built conn n=' || event_id END AS text
        | FROM ev""".stripMargin)),

    // §2.9 mmleefparse — LEEF header + tab-delimited extension block
    QueryDef("parse_leef", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("raw", concat(
          lit("LEEF:1.0|Vendor"), col("user_id") % 5, lit("|IDS|2.0|"),
          col("event_id") % 100,
          lit("|src=10.0.0."), col("user_id") % 256,
          lit("\tdst=192.168.1."), col("event_id") % 256,
          lit("\tsev="), col("event_id") % 8,
          lit("\tact="), col("event_type")))
      val p = device.parseLeef(col("raw"))
      ev.select(
        col("event_id"),
        p.getField("vendor").as("vendor"),
        p.getField("event_id").as("leef_event"),
        element_at(p.getField("ext"), "src").as("src"),
        element_at(p.getField("ext"), "dst").as("dst"),
        element_at(p.getField("ext"), "sev").cast("int").as("sev"),
        element_at(p.getField("ext"), "act").as("act"))
    },
      """SELECT event_id,
        |  'Vendor' || (user_id % 5) AS vendor,
        |  CAST(event_id % 100 AS VARCHAR) AS leef_event,
        |  '10.0.0.' || (user_id % 256) AS src,
        |  '192.168.1.' || (event_id % 256) AS dst,
        |  CAST(event_id % 8 AS INT) AS sev,
        |  event_type AS act
        |FROM events""".stripMargin),

    // §2.9 pmsnare/mmsnareparse — tab-delimited Snare Windows event
    QueryDef("parse_snare", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("raw", concat_ws("\t",
          lit("MSWinEventLog"), (col("event_id") % 5).cast("string"),
          lit("Security"), col("event_id").cast("string"),
          date_format(col("ts"), "EEE MMM dd HH:mm:ss yyyy"),
          (lit(4624) + col("user_id") % 4).cast("string"),
          lit("Microsoft-Windows-Security-Auditing"),
          concat(lit("u"), col("user_id")), lit("N/A"), lit("Success Audit"),
          concat(lit("host"), col("user_id")), lit("Logon"), lit(""),
          concat(lit("An account was logged on n="), col("event_id"))))
      val p = device.parseSnare(col("raw"))
      ev.select(
        col("event_id"),
        p.getField("criticality").as("criticality"),
        p.getField("win_event_id").as("win_event_id"),
        p.getField("user").as("usr"),
        p.getField("host").as("host"),
        p.getField("message").as("message"))
    },
      """SELECT event_id,
        |  CAST(event_id % 5 AS INT) AS criticality,
        |  4624 + user_id % 4 AS win_event_id,
        |  'u' || user_id AS usr,
        |  'host' || user_id AS host,
        |  'An account was logged on n=' || event_id AS message
        |FROM events""".stripMargin),

    // §2.9 mmaudit — Linux audit header + k=v body into a map
    QueryDef("parse_audit", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("epoch", expr("ts_ns div 1000000000"))
        .withColumn("raw", concat(
          lit("type="), when(col("event_id") % 2 === 0, "SYSCALL").otherwise("EXECVE"),
          lit(" msg=audit("), col("epoch"), lit("."),
          lpad((col("event_id") % 1000).cast("string"), 3, "0"),
          lit(":"), col("event_id"), lit("): syscall="), col("event_id") % 300,
          lit(" success="), when(col("user_id") % 2 === 0, "yes").otherwise("no"),
          lit(" pid="), col("user_id")))
      val p = device.parseAudit(col("raw"))
      ev.select(
        col("event_id"),
        p.getField("audit_type").as("audit_type"),
        p.getField("epoch").as("epoch"),
        p.getField("serial").as("serial"),
        element_at(p.getField("kv"), "syscall").cast("long").as("syscall"),
        element_at(p.getField("kv"), "success").as("success"),
        element_at(p.getField("kv"), "pid").cast("long").as("pid"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'SYSCALL' ELSE 'EXECVE' END
        |    AS audit_type,
        |  epoch_ns(ts) // 1000000000 AS epoch,
        |  event_id AS serial,
        |  event_id % 300 AS syscall,
        |  CASE WHEN user_id % 2 = 0 THEN 'yes' ELSE 'no' END AS success,
        |  user_id AS pid
        |FROM events""".stripMargin),

    // §2.9 mmutf8fix — byte-level UTF-8 repair over a binary payload
    QueryDef("utf8fix", (s, dir) => {
      val doc = Tables.documents(s, dir)
      // dirty1: valid 2-byte é then 0xFF (stray) + 0xC3 (truncated tail);
      // dirty2: 0x80 stray continuation mid-string
      val dirty1 = concat(encode(concat(col("text"), lit("é")), "UTF-8"),
        lit(Array[Byte](0xFF.toByte, 0xC3.toByte)))
      val dirty2 = concat(encode(col("text"), "UTF-8"),
        lit(Array[Byte](0x80.toByte)), encode(lit("end"), "UTF-8"))
      doc.select(
        col("doc_id"),
        device.utf8fix(dirty1).as("fixed"),
        device.utf8fix(dirty2).as("fixed2"))
    },
      """SELECT doc_id,
        |  text || 'é  ' AS fixed,
        |  text || ' end' AS fixed2
        |FROM documents""".stripMargin),

    // §2.9 mmrfc5424addhmac — keyed signature appended as an SD element
    QueryDef("hmac_sign", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("m", concat(lit("<165>1 - host"), col("user_id"),
          lit(" app - - - payload "), col("event_id")))
      ev.select(
        col("event_id"),
        device.hmacLikeHex(col("m"), "graftkey").as("sig"),
        device.addHmacSd(col("m"), "graftkey", "hmac@32473",
          oracleCompat = true).as("signed"))
    },
      {
      val kp = "graftkey".getBytes("UTF-8").padTo(64, 0.toByte)
      val ipad = new String(kp.map(b => (b ^ 0x36).toByte), "ISO-8859-1")
      val opad = new String(kp.map(b => (b ^ 0x5c).toByte), "ISO-8859-1")
      def sq(s: String) = s.replace("'", "''")
      s"""WITH e AS (
         |  SELECT event_id,
         |    '<165>1 - host' || user_id || ' app - - - payload ' || event_id
         |      AS m
         |  FROM events)
         |SELECT event_id,
         |  sha256('${sq(opad)}' || sha256('${sq(ipad)}' || m)) AS sig,
         |  m || ' [hmac@32473 h="' ||
         |    sha256('${sq(opad)}' || sha256('${sq(ipad)}' || m)) || '"]'
         |    AS signed
         |FROM e""".stripMargin
    }),

    // §2.9 pmlastmsg — "last message repeated n times" bodies take the
    // previous real message per sender
    QueryDef("lastmsg", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("m", when(col("event_id") % 4 === 3,
            lit("last message repeated 2 times"))
          .otherwise(concat(lit("real "), col("event_type"),
            lit(" n="), col("event_id"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      ev.select(
        col("event_id"), col("user_id"), col("m").as("msg"),
        coalesce(
          last(when(!device.isLastMsgRepeated(col("m")), col("m")),
            ignoreNulls = true).over(w),
          col("m")).as("effective"))
    },
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 4 = 3 THEN 'last message repeated 2 times'
        |      ELSE 'real ' || event_type || ' n=' || event_id END AS m
        |  FROM events)
        |SELECT event_id, user_id, m AS msg,
        |  coalesce(
        |    last_value(CASE WHEN NOT starts_with(m, 'last message repeated ')
        |        THEN m END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    m) AS effective
        |FROM e""".stripMargin),

    // §2.9 mmdblookup — GeoIP-style enrichment: broadcast range join of
    // the IP integer against an exported range table (mmdb → ranges)
    QueryDef("geo_enrich", (s, dir) => {
      import s.implicits._
      val ranges = Seq(
        (0L, 0x1FFFFFFFL, "apnic"),
        (0x20000000L, 0x5FFFFFFFL, "ripe"),
        (0x60000000L, 0x9FFFFFFFL, "arin"),
        (0xA0000000L, 0xBFFFFFFFL, "lacnic"),
        (0xD0000000L, 0xFFFFFFFFL, "afrinic")).toDF("lo", "hi", "geo")
      // ids mask to 16 bits BEFORE the multiply: big-id corpora (the sf1
      // shard remap pushes event_id past 10^9) would overflow the long
      // multiply under ANSI mode; the masked mix stays < 2^48
      val ev = Tables.events(s, dir)
        .withColumn("ipn",
          ((col("user_id") % 65536L) * 7777777L +
            (col("event_id") % 65536L) * 2654435761L) % 4294967296L)
      ev.join(broadcast(ranges),
          col("ipn") >= col("lo") && col("ipn") <= col("hi"), "left")
        .withColumn("geo", coalesce(col("geo"), lit("unknown")))
        .groupBy(col("geo"))
        .agg(count(lit(1)).as("n"), min(col("ipn")).as("min_ipn"))
    },
      """WITH e AS (
        |  SELECT ((user_id % 65536) * 7777777
        |          + (event_id % 65536) * 2654435761) % 4294967296 AS ipn
        |  FROM events)
        |SELECT CASE
        |    WHEN ipn <= 536870911 THEN 'apnic'
        |    WHEN ipn <= 1610612735 THEN 'ripe'
        |    WHEN ipn <= 2684354559 THEN 'arin'
        |    WHEN ipn <= 3221225471 THEN 'lacnic'
        |    WHEN ipn >= 3489660928 THEN 'afrinic'
        |    ELSE 'unknown' END AS geo,
        |  count(*) AS n, min(ipn) AS min_ipn
        |FROM e GROUP BY 1""".stripMargin),

    // §2.9 mmgrok — grok pattern field extraction
    QueryDef("grok", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("m", concat(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
          lit(" INFO user u"), col("user_id"),
          lit(" did "), col("event_type"),
          lit(" from 10."), col("user_id") % 256, lit(".1."), col("event_id") % 256))
      val g = Normalize.grok(col("m"),
        "%{TIMESTAMP_ISO8601:gts} %{LOGLEVEL:lvl} user %{WORD:usr} did " +
          "%{WORD:act} from %{IP:ip}")
      ev.select(
        col("event_id"),
        g.getField("gts").as("gts"),
        g.getField("lvl").as("lvl"),
        g.getField("usr").as("usr"),
        g.getField("act").as("act"),
        g.getField("ip").as("ip"))
    },
      """SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS gts,
        |  'INFO' AS lvl,
        |  'u' || user_id AS usr,
        |  event_type AS act,
        |  '10.' || (user_id % 256) || '.1.' || (event_id % 256) AS ip
        |FROM events""".stripMargin),

    // §2.9 mmtaghostname + mmsnmptrapd — tag/hostname/severity rewrite
    QueryDef("tag_rewrite", (s, dir) => {
      val sevWords = array(Seq("emerg", "alert", "critical", "error",
        "warning", "notice", "info", "debug").map(lit): _*)
      val ev = synthSyslog(s, dir)
        .withColumn("tag", when(col("event_id") % 3 === 0, lit(""))
          .when(col("event_id") % 3 === 1, lit("snmptrapd:"))
          .otherwise(concat(col("event_type"), lit(":"))))
        .withColumn("body", when(col("event_id") % 3 === 1,
            concat(element_at(sevWords, (col("user_id") % 8).cast("int") + 1),
              lit(" trap received")))
          .otherwise(lit("normal body")))
      val th = device.tagHostname(col("tag"), col("hostname"),
        newTag = "graft-relay:", localHost = "graftnode", forceLocalHostname = true)
      ev.select(
        col("event_id"),
        th.getField("tag").as("newtag"),
        th.getField("hostname").as("newhost"),
        device.snmptrapdRewrite(col("tag"), col("body"), col("severity"))
          .as("newsev"))
    },
      (synthSql +
      """ SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN 'graft-relay:'
        |    WHEN event_id % 3 = 1 THEN 'snmptrapd:'
        |    ELSE event_type || ':' END AS newtag,
        |  'graftnode' AS newhost,
        |  CAST(CASE WHEN event_id % 3 = 1 THEN user_id % 8
        |    ELSE severity END AS INT) AS newsev
        | FROM ev""".stripMargin)),

    // §2.9 pmdb2diag + pmpanngfw — DB2 diagnostic and PAN-OS CSV parsers
    QueryDef("parse_db2_pan", (s, dir) => {
      val levels = array(Seq("Info", "Warning", "Error", "Severe").map(lit): _*)
      val ev = Tables.events(s, dir)
        .withColumn("db2", concat(
          date_format(col("ts"), "yyyy-MM-dd-HH.mm.ss.SSSSSS"), lit("+000 I"),
          col("event_id"), lit("A"), col("user_id"),
          lit(" LEVEL: "), element_at(levels, (col("event_id") % 4).cast("int") + 1),
          lit(" PID : "), col("user_id"), lit(" TID : "), col("event_id") % 100,
          lit(" PROC : db2sysc ("), col("event_type"), lit(")")))
        .withColumn("pan", concat(
          lit("1,"), date_format(col("ts"), "yyyy/MM/dd HH:mm:ss"),
          lit(",00"), col("user_id"),
          lit(","), when(col("user_id") % 2 === 0, "TRAFFIC").otherwise("THREAT"),
          lit(","), when(col("event_id") % 2 === 0, "start").otherwise("end"),
          lit(",rest "), col("event_id")))
      val d = device.parseDb2Diag(col("db2"))
      val p = device.parsePanNgfw(col("pan"))
      ev.select(
        col("event_id"),
        d.getField("level").as("db2_level"),
        d.getField("pid").as("db2_pid"),
        d.getField("tid").as("db2_tid"),
        d.getField("proc").as("db2_proc"),
        p.getField("serial").as("pan_serial"),
        p.getField("pan_type").as("pan_type"),
        p.getField("subtype").as("pan_subtype"))
    },
      """SELECT event_id,
        |  (['Info','Warning','Error','Severe'])[CAST(event_id % 4 AS INT) + 1]
        |    AS db2_level,
        |  user_id AS db2_pid,
        |  event_id % 100 AS db2_tid,
        |  'db2sysc (' || event_type || ')' AS db2_proc,
        |  '00' || user_id AS pan_serial,
        |  CASE WHEN user_id % 2 = 0 THEN 'TRAFFIC' ELSE 'THREAT' END
        |    AS pan_type,
        |  CASE WHEN event_id % 2 = 0 THEN 'start' ELSE 'end' END
        |    AS pan_subtype
        |FROM events""".stripMargin),

    // §2.9 mmexternal — REAL child process per partition: each row's JSON
    // envelope goes one-line-in/one-line-out through a live `sed -u`
    // (the mmexternal stdin/stdout protocol, ProcessWorker with
    // crash-restart + task-completion reaping). Oracled end-to-end: the
    // transform is deterministic so DuckDB replicates it with replace().
    QueryDef("mmexternal_pipe", (s, dir) => {
      // deterministic 1/8 subset: the per-row synchronous child-process
      // round-trip is the cost model of the protocol itself (the
      // reference's mmexternal pays the same per-message pipe latency);
      // an eighth of the table proves the path without dominating the
      // bench total
      val ev = synthSyslog(s, dir)
        .filter(col("event_id") % 8 === 0)
        .select(col("event_id"),
          External.envelope(
            concat(lit("msgnum:"), lpad(col("event_id"), 8, "0"),
              lit(": v100="), col("v100")),
            lit("{}")).as("env"))
      val piped = External.pipeProgram(ev, "env",
        Seq("/bin/sed", "-u", "s/msgnum:/SEQ:/"))
      piped.select(col("event_id"),
        get_json_object(col("env"), "$.msg").as("msg"))
    },
      (synthSql +
      """ SELECT event_id,
        |  'SEQ:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ': v100=' || v100 AS msg
        | FROM ev WHERE event_id % 8 = 0""".stripMargin))
  )
}
