package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Queries.{synthSql, synthSyslog}

/** Input modules (SURVEY §2.5): each `im*` decode path from its wire or
  * file shape into the standard message columns.
  */
object InputQueries {

  val defs: Seq[QueryDef] = Seq(
    // §2.5 imrelp: RELP-framed stream → payload extraction → decode
    // chain. Frames synthesized from the deterministic syslog stream;
    // interleaved session-control frames (open/rsp/close) must drop
    QueryDef("relp_decode", (s, dir) => {
      val raw = synthSyslog(s, dir)
      val frames = raw.select(col("event_id"), concat(
        col("event_id") % 1000, lit(" syslog "),
        length(col("rawmsg")), lit(" "), col("rawmsg")).as("value"))
        .unionByName(s.range(1).select(lit(-1L).as("event_id"),
          lit("0 open 31 relp_version=0\nrelp_software=x").as("value")))
        .unionByName(s.range(1).select(lit(-2L).as("event_id"),
          lit("1 rsp 6 200 OK").as("value")))
      graft.sources.Sources.decodeSyslog(
          graft.sources.Sources.deframeRelp(frames))
        .select(col("event_id"), col("facility"), col("severity"),
          col("hostname"), col("syslogtag"), col("msg"))
    },
      (Queries.synthSql +
      """ SELECT event_id, facility, severity, hostname,
        |  syslogtag || ':' AS syslogtag,
        |  ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')
        |    || ': v100=' || v100 AS msg
        | FROM ev""".stripMargin)),

    // §2.5 imdiag — the test-instrumentation input: injectmsg's
    // numeric-suffix frames (doInjectNumericSuffixMsg) through the NORMAL
    // submit path (generator + standard decode chain; the TCP command
    // listener is driver transport, waitmainqueueempty ≡ awaiting the
    // batch/stream completion the engine already exposes)
    QueryDef("imdiag_inject", (s, dir) => {
      val ev = Tables.events(s, dir)
      val frames = ev.select(col("event_id"),
        graft.sources.Sources.imdiagFrame(col("event_id")).as("value"))
      graft.sources.Sources.decodeSyslog(frames)
        .select(col("event_id"), col("rawmsg"), col("facility"),
          col("severity"), col("hostname"), col("syslogtag"), col("msg"),
          col("parsesuccess"))
    },
      """SELECT event_id,
        |  '<167>Mar  1 01:00:00 192.0.2.8 tag msgnum:' ||
        |    lpad(CAST(event_id AS VARCHAR), 8, '0') || ':' AS rawmsg,
        |  CAST(20 AS INT) AS facility, CAST(7 AS INT) AS severity,
        |  '192.0.2.8' AS hostname, 'tag' AS syslogtag,
        |  ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ':'
        |    AS msg,
        |  true AS parsesuccess
        |FROM events""".stripMargin),

    // §2.5 imbeats Lumberjack v2 session decode (plugins/imbeats
    // lj_parser.c frame grammar + seqnum.h sequential-seq rule +
    // imbeats.c:660-731 event mapping): per-session binary streams built
    // IN the plan (2W window + two 2J JSON frames), decoded by the
    // LumberjackBatchExpr kernel, payload merged into $! with the
    // $!metadata!imbeats subtree
    QueryDef("imbeats_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
      val p1 = concat(lit("{\"message\":\"m"), col("event_id"),
        lit("\",\"beat\":\"filebeat\",\"n\":"), col("event_id") % 7, lit("}"))
      val p2 = concat(lit("{\"message\":\"x"), col("event_id"), lit("\"}"))
      val stream = concat(
        lit(Array[Byte]('2', 'W', 0, 0, 0, 4)),
        lit(Array[Byte]('2', 'J')), be32(lit(1)),
        be32(length(p1)), p1.cast("binary"),
        lit(Array[Byte]('2', 'J')), be32(lit(2)),
        be32(length(p2)), p2.cast("binary"))
      val sessions = ev.select(col("event_id"), stream.as("value"),
        concat(lit("peer"), col("user_id") % 9).as("fromhost"))
      // single-parse (r15 impcap discipline, VERDICT r15 #6): one
      // json_tuple parse of vars_msg replaces three full-document
      // get_json_object re-parses; the nested imbeats paths re-parse
      // only the small $.metadata subtree. Values unchanged: json_tuple
      // and get_json_object return identical raw-token strings for
      // scalars and null for missing keys (JsonSingleParseParitySpec).
      graft.sources.Sources.imbeatsDecode(sessions)
        .select(Seq(col("event_id"), col("seq"), col("msg")) :+
          json_tuple(col("vars_msg"), "n", "metadata"): _*)
        .toDF("event_id", "seq", "msg", "__n", "__meta")
        .select(col("event_id"), col("seq"), col("msg"),
          col("__n").as("n"),
          get_json_object(col("__meta"), "$.imbeats.sequence").as("meta_seq"),
          get_json_object(col("__meta"), "$.imbeats.peer_hostname").as("peer"))
    },
      """SELECT e.event_id,
        |  s.seq,
        |  CASE WHEN s.seq = 1
        |       THEN '{"message":"m' || e.event_id || '","beat":"filebeat","n":' || (e.event_id % 7) || '}'
        |       ELSE '{"message":"x' || e.event_id || '"}' END AS msg,
        |  CASE WHEN s.seq = 1 THEN CAST(e.event_id % 7 AS VARCHAR) END AS n,
        |  CAST(s.seq AS VARCHAR) AS meta_seq,
        |  'peer' || (e.user_id % 9) AS peer
        |FROM events e CROSS JOIN (SELECT 1 AS seq UNION ALL SELECT 2) s""".stripMargin),

    // §2.5 imdocker — multiplexed attach-stream demux: one message per
    // frame, stderr→err severity, docker: TAG, container metadata under
    // $!metadata (contrib/imdocker enqMsg/addDockerMetaData)
    QueryDef("imdocker_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
      val p1 = concat(lit("log line "), col("event_id"), lit("\n"))
      val p2 = concat(lit("err "), col("event_type"), lit("\n"))
      val stream = concat(
        lit(Array[Byte](1, 0, 0, 0)), be32(octet_length(p1)), p1.cast("binary"),
        lit(Array[Byte](2, 0, 0, 0)), be32(octet_length(p2)), p2.cast("binary"))
      val containers = ev.select(col("event_id"),
        concat(lit("c"), col("user_id")).as("container_id"),
        concat(lit("/app"), col("user_id")).as("name"),
        lit("img:latest").as("image"),
        concat(lit("sha256:"), col("user_id")).as("image_id"),
        lit("""{"app":"x"}""").as("labels_json"),
        stream.as("stream"))
      // single-parse (r15 impcap discipline): the three probes all sit
      // under $.metadata — extract that subtree once via json_tuple
      // (one full-document parse instead of three)
      graft.sources.Sources.imdockerDecode(containers)
        .select(Seq(col("event_id"), col("stream_type"), col("msg"),
          col("severity"), col("syslogtag")) :+
          json_tuple(col("vars_msg"), "metadata"): _*)
        .toDF("event_id", "stream_type", "msg", "severity", "syslogtag",
          "__meta")
        .select(col("event_id"), col("stream_type"), col("msg"),
          col("severity"), col("syslogtag"),
          get_json_object(col("__meta"), "$.Id").as("cid"),
          get_json_object(col("__meta"), "$.Names").as("cname"),
          // deep probe: Labels must be a nested OBJECT ($!metadata!Labels!app
          // readable), not an escaped JSON string (r8 judge finding)
          get_json_object(col("__meta"), "$.Labels.app").as("label_app"))
    },
      """SELECT event_id,
        |  CASE s.k WHEN 1 THEN 1 ELSE 2 END AS stream_type,
        |  CASE s.k WHEN 1 THEN 'log line ' || event_id
        |           ELSE 'err ' || event_type END AS msg,
        |  CASE s.k WHEN 1 THEN 6 ELSE 3 END AS severity,
        |  'docker:' AS syslogtag,
        |  'c' || user_id AS cid,
        |  '/app' || user_id AS cname,
        |  'x' AS label_app
        |FROM events CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2) s""".stripMargin),

    // §2.5 imbatchreport — whole-file batch-report shaping
    // (contrib/imbatchreport readAndSendFile): three report shapes per
    // event — plain body (no SD), SD with program/timestamp keys and an
    // embedded LF (removed per :268-273), and an over-cap body replaced
    // by the too-large message. Exercises trailing-ws trim, the
    // backward SD scan, dedupspace collapse, and \n → literal \\n.
    QueryDef("imbatchreport_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val sd1 = concat(lit("[report@32473 program=\"job"),
        col("event_id") % 5,
        lit("\"\n ts=\""), lit(1700000000L) + col("event_id") % 1000,
        lit("\"]"))
      val text =
        when(col("event_id") % 3 === 0,
          concat(lit("plain "), col("event_type"), lit("  done\n\n")))
        .when(col("event_id") % 3 === 1,
          concat(lit("Run "), col("event_type"), lit("  rc "),
            col("event_id") % 7, lit("\n tail  \n"), sd1, lit("  \n")))
        .otherwise(
          concat(lit("x" * 100), lit("  \n[report@32473 ts=\"17\"]\n")))
      val reports = ev.select(col("event_id"),
        concat(lit("/spool/report_"), col("event_id"), lit(".rpt"))
          .as("path"),
        text.as("value"))
      graft.sources.Sources.imbatchreportDecode(reports,
          tag = "batch:", programKey = "program=\"", timestampKey = "ts=\"",
          maxMsgSize = 64,
          now = to_timestamp(lit("2024-01-01 00:00:00")))
        .select(col("event_id"), col("msg"), col("structured_data"),
          col("ts_epoch"), col("app_name"), col("too_large"),
          col("syslogtag"), col("pri"))
    },
      """SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN 'plain ' || event_type || ' done'
        |       WHEN event_id % 3 = 1 THEN 'Run ' || event_type || ' rc ' ||
        |         (event_id % 7) || '\n tail'
        |       ELSE 'File too large : /spool/report_' || event_id || '.rpt'
        |  END AS msg,
        |  CASE WHEN event_id % 3 = 0 THEN '-'
        |       WHEN event_id % 3 = 1 THEN '[report@32473 program="job' ||
        |         (event_id % 5) || '" ts="' || (1700000000 + event_id % 1000) || '"]'
        |       ELSE '[report@32473 ts="17"]'
        |  END AS structured_data,
        |  CASE WHEN event_id % 3 = 1 THEN 1700000000 + event_id % 1000
        |       WHEN event_id % 3 = 2 THEN 17 END AS ts_epoch,
        |  CASE WHEN event_id % 3 = 1 THEN 'job' || (event_id % 5)
        |       ELSE 'batch' END AS app_name,
        |  event_id % 3 = 2 AS too_large,
        |  'batch:' AS syslogtag,
        |  133 AS pri
        |FROM events""".stripMargin),

    // §2.5 imklog kernel-log decode: PRI resolve incl. the systemd
    // secondary-PRI window, kernel-timestamp strip, klog default
    // kern.info, and the permitnonkernel facility gate (plugins/imklog:
    // bsd.c submitSyslog + imklog.c Syslog) — both modes exercised
    QueryDef("imklog_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val line =
        when(col("event_id") % 4 === 0,
          concat(lit("<6>[  123.456789] usb 1-1: device e"), col("event_id")))
        .when(col("event_id") % 4 === 1,
          concat(lit("<4>[ 99.5] <30>systemd[1]: unit u"), col("event_id")))
        .when(col("event_id") % 4 === 2,
          concat(lit("no pri line e"), col("event_id")))
        .otherwise(concat(lit("<35>mail subsystem e"), col("event_id")))
      val feed = ev.select(col("event_id"), line.as("value"))
      val t0 = to_timestamp(lit("2024-01-01 00:00:00"))
      // ONE decode pass serves both modes: the kern-only gate is just a
      // facility==0 filter over the permissive decode (imklog.c:272), so
      // the second mode explodes from the same rows instead of
      // re-scanning and re-decoding the feed
      graft.sources.Sources.imklogDecode(feed, permitNonKernel = true,
          now = t0)
        .select(col("event_id"), col("pri"), col("facility"),
          col("severity"), col("msg"), col("syslogtag"),
          explode(array(lit("all"),
            when(col("facility") === 0, "kern"))).as("mode"))
        .filter(col("mode").isNotNull)
        .select(col("event_id"), col("mode"), col("pri"), col("facility"),
          col("severity"), col("msg"), col("syslogtag"))
    },
      """WITH d AS (
        |  SELECT event_id,
        |    CASE event_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 30
        |         WHEN 2 THEN 6 ELSE 35 END AS pri,
        |    CASE event_id % 4
        |      WHEN 0 THEN ' usb 1-1: device e' || event_id
        |      WHEN 1 THEN 'systemd[1]: unit u' || event_id
        |      WHEN 2 THEN 'no pri line e' || event_id
        |      ELSE 'mail subsystem e' || event_id END AS msg
        |  FROM events)
        |SELECT event_id, 'all' AS mode, pri,
        |  CAST(pri // 8 AS INT) AS facility, CAST(pri % 8 AS INT) AS severity,
        |  msg, 'kernel:' AS syslogtag FROM d
        |UNION ALL
        |SELECT event_id, 'kern', pri,
        |  CAST(pri // 8 AS INT), CAST(pri % 8 AS INT),
        |  msg, 'kernel:' FROM d WHERE pri // 8 = 0""".stripMargin),

    // §2.5 imkmsg /dev/kmsg structured decode: pri,seq,usec;msg + the
    // ` KEY=value` continuation properties into $! (contrib/imkmsg/
    // kmsg.c submitSyslog); malformed records dropped
    QueryDef("imkmsg_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val rec =
        when(col("event_id") % 5 === 0,
          concat(lit("bad record "), col("event_id")))
        .otherwise(concat(
          (col("event_id") % 24).cast("string"), lit(","),
          col("event_id"), lit(","), col("event_id") * 1000,
          lit(",-;ev "), col("event_type"),
          when(col("event_id") % 2 === 0,
            concat(lit("\n DEVICE=+pci:e"), col("event_id") % 100,
              lit("\n SUBSYSTEM=pci"))).otherwise(lit(""))))
      val feed = ev.select(col("event_id"), rec.as("value"))
      graft.sources.Sources.imkmsgDecode(feed,
          now = to_timestamp(lit("2024-01-01 00:00:00")))
        .select(col("event_id"), col("pri"), col("facility"),
          col("severity"), col("msg"), col("syslogtag"), col("vars_msg"),
          get_json_object(col("vars_msg"), "$.sequnum").cast("long")
            .as("probe_seq"),
          get_json_object(col("vars_msg"), "$.DEVICE").as("probe_dev"))
    },
      """SELECT event_id,
        |  CAST(event_id % 24 AS INT) AS pri,
        |  CAST((event_id % 24) // 8 AS INT) AS facility,
        |  CAST((event_id % 24) % 8 AS INT) AS severity,
        |  'ev ' || event_type AS msg,
        |  'kernel:' AS syslogtag,
        |  '{"sequnum":' || event_id || ',"msg":"ev ' || event_type || '"' ||
        |  CASE WHEN event_id % 2 = 0
        |       THEN ',"DEVICE":"+pci:e' || (event_id % 100) ||
        |            '","SUBSYSTEM":"pci"' ELSE '' END || '}' AS vars_msg,
        |  event_id AS probe_seq,
        |  CASE WHEN event_id % 2 = 0
        |       THEN '+pci:e' || (event_id % 100) END AS probe_dev
        |FROM events WHERE event_id % 5 <> 0""".stripMargin),

    // §2.5 improg/imfifo line submit: empty lines dropped, APPNAME = the
    // raw tag, PRI from instance params (contrib/improg enqLine /
    // plugins/imfifo — byte-identical submit shape)
    QueryDef("improg_lines", (s, dir) => {
      val ev = Tables.events(s, dir)
      val line = when(col("event_id") % 7 === 0, lit(""))
        .otherwise(concat(lit("out "), col("event_type"),
          lit(" e"), col("event_id")))
      val feed = ev.select(col("event_id"), line.as("value"))
      graft.sources.Sources.lineInputDecode(feed, "improg",
          tag = "prog[7]:", facility = 16, severity = 5,
          now = to_timestamp(lit("2024-01-01 00:00:00")))
        .select(col("event_id"), col("pri"), col("facility"),
          col("severity"), col("app_name"), col("syslogtag"),
          col("programname"), col("msg"))
    },
      """SELECT event_id, 133 AS pri, 16 AS facility, 5 AS severity,
        |  'prog[7]:' AS app_name, 'prog[7]:' AS syslogtag,
        |  'prog' AS programname,
        |  'out ' || event_type || ' e' || event_id AS msg
        |FROM events WHERE event_id % 7 <> 0""".stripMargin),

    // §2.5 imhiredis: queue/subscribe submits the popped string with the
    // msgConstruct default PRI (facility invld=24, severity debug);
    // stream mode lands the entry's fields under $! and $.redis metadata
    // with an EMPTY message text (contrib/imhiredis enqMsg/enqMsgJson)
    QueryDef("imhiredis_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val qfeed = ev.select(col("event_id"),
        when(col("event_id") % 9 === 0, lit(""))
          .otherwise(concat(lit("redis msg "), col("event_type"))).as("value"))
      val sfeed = ev.select(col("event_id"),
        to_json(struct(col("event_type").as("kind"),
          col("event_id").as("n"))).as("value"),
        concat(col("event_id").cast("string"), lit("-0")).as("index"))
      def shape(d: org.apache.spark.sql.DataFrame, mode: String) =
        d.select(col("event_id"), lit(mode).as("mode"), col("pri"),
          col("facility"), col("severity"), col("msg"),
          col("vars_msg"), col("vars_local"))
      shape(graft.sources.Sources.imhiredisDecode(qfeed), "queue")
        .unionAll(shape(graft.sources.Sources.imhiredisDecode(sfeed,
          mode = "stream", streamKey = "logs", group = "grp",
          consumer = "c1"), "stream"))
    },
      """SELECT event_id, 'queue' AS mode, 199 AS pri, 24 AS facility,
        |  7 AS severity, 'redis msg ' || event_type AS msg,
        |  '{}' AS vars_msg, '{}' AS vars_local
        |FROM events WHERE event_id % 9 <> 0
        |UNION ALL
        |SELECT event_id, 'stream', 199, 24, 7, '',
        |  '{"kind":"' || event_type || '","n":' || event_id || '}',
        |  '{"redis":{"stream":"logs","index":"' || event_id ||
        |  '-0","group":"grp","consumer":"c1"}}'
        |FROM events""".stripMargin),

    // §2.9 imuxsock: standard parse plus the trusted-properties family —
    // parsetrusted puts the SCM credentials at the CEE root, annotate
    // alone appends the ` @[_PID=..]` text before parsing
    // (plugins/imuxsock SubmitMsg:985-1091)
    QueryDef("imuxsock_decode", (s, dir) => {
      val base = synthSyslog(s, dir).select(col("event_id"),
        col("rawmsg").as("value"),
        (col("event_id") % 30000).cast("long").as("pid"),
        lit(1000L).as("uid"), lit(1000L).as("gid"),
        col("event_type").as("comm"),
        concat(lit("/usr/bin/"), col("event_type")).as("exe"),
        concat(col("event_type"), lit(" --flag")).as("cmdline"))
      def shape(d: org.apache.spark.sql.DataFrame, mode: String) =
        d.select(col("event_id"), lit(mode).as("mode"), col("hostname"),
          col("syslogtag"), col("msg"), col("vars_msg"))
      shape(graft.sources.Sources.imuxsockDecode(base), "plain")
        .unionAll(shape(graft.sources.Sources.imuxsockDecode(base,
          annotate = true), "annotate"))
        .unionAll(shape(graft.sources.Sources.imuxsockDecode(base,
          annotate = true, parseTrusted = true), "trusted"))
    },
      (Queries.synthSql +
      """ SELECT event_id, m.mode, hostname,
        |  event_type || '[' || event_id || ']:' AS syslogtag,
        |  ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') ||
        |  ': v100=' || v100 ||
        |  CASE WHEN m.mode = 'annotate'
        |       THEN ' @[_PID=' || (event_id % 30000) ||
        |         ' _UID=1000 _GID=1000 _COMM=' || event_type ||
        |         ' _EXE=/usr/bin/' || event_type ||
        |         ' _CMDLINE=' || event_type || ' --flag]'
        |       ELSE '' END AS msg,
        |  CASE WHEN m.mode = 'trusted'
        |       THEN '{"pid":' || (event_id % 30000) ||
        |         ',"uid":1000,"gid":1000,"appname":"' || event_type ||
        |         '","exe":"/usr/bin/' || event_type ||
        |         '","cmd":"' || event_type || ' --flag"}'
        |       ELSE '{}' END AS vars_msg
        | FROM ev CROSS JOIN (SELECT unnest(['plain','annotate','trusted'])
        |   AS mode) m""".stripMargin)),

    // §2.5 imsolaris: STREAMS log decode — PRI and time come from the
    // log_ctl header, the body parses only for TAG/msg, in-body dates
    // are ignored and hostname stays the receiver
    // (plugins/imsolaris/imsolaris.c readLog:185-215)
    QueryDef("imsolaris_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val feed = ev.select(col("event_id"),
        concat(lit("Oct 11 22:14:15 "), col("event_type"),
          lit("["), col("event_id") % 1000, lit("]: door msg "),
          col("event_id")).as("value"),
        (col("event_id") % 192).cast("int").as("pri"),
        (lit(1700000000L) + col("event_id") % 86400).as("ctl_sec"))
      graft.sources.Sources.imsolarisDecode(feed)
        .select(col("event_id"), col("pri"), col("facility"),
          col("severity"), col("syslogtag"), col("programname"),
          col("msg"), unix_timestamp(col("ts")).as("ts_sec"))
    },
      """SELECT event_id,
        |  CAST(event_id % 192 AS INT) AS pri,
        |  CAST((event_id % 192) // 8 AS INT) AS facility,
        |  CAST((event_id % 192) % 8 AS INT) AS severity,
        |  event_type || '[' || (event_id % 1000) || ']:' AS syslogtag,
        |  event_type AS programname,
        |  ' door msg ' || event_id AS msg,
        |  1700000000 + event_id % 86400 AS ts_sec
        |FROM events""".stripMargin),

    // §2.5 imkubernetes: pod-log decode — pods/containers path
    // metadata, CRI / docker-json / raw record formats, stderr
    // severity promotion (contrib/imkubernetes; CRI partial
    // accumulation covered by ImkubernetesSpec)
    QueryDef("imkubernetes_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val m3 = col("event_id") % 3
      val stream = when(col("event_id") % 2 === 0, "stdout").otherwise("stderr")
      val path = when(col("user_id") % 2 === 0,
        concat(lit("/var/log/pods/ns"), col("user_id") % 10,
          lit("_pod"), col("user_id") % 50,
          lit("_uid"), col("user_id"),
          lit("/c"), col("event_id") % 5, lit("/"),
          col("event_id") % 4, lit(".log")))
        .otherwise(concat(lit("/var/log/containers/pod"), col("user_id") % 50,
          lit("_ns"), col("user_id") % 10,
          lit("_c"), col("event_id") % 5,
          lit("-cid"), col("event_id"), lit(".log")))
      val line =
        when(m3 === 0, concat(lit("2024-03-01T10:00:02Z "), stream,
          lit(" F ev "), col("event_type"), lit(" "), col("event_id")))
        .when(m3 === 1, to_json(struct(
          concat(lit("dock "), col("event_type"), lit("\n")).as("log"),
          stream.as("stream"),
          lit("2024-03-01T10:00:03Z").as("time"))))
        .otherwise(concat(lit("plain "), col("event_type"), lit(" "),
          col("event_id")))
      val feed = ev.select(col("event_id"), path.as("path"),
        col("event_id").as("seq"), line.as("value"))
      // single-parse (r15 impcap discipline): one json_tuple parse of
      // vars_msg; the probes then parse only the two small subtrees
      graft.sources.Sources.imkubernetesDecode(feed,
          now = to_timestamp(lit("2024-01-01 00:00:00")))
        .select(Seq(col("event_id"), col("msg"), col("severity"),
          col("syslogtag"), col("vars_msg")) :+
          json_tuple(col("vars_msg"), "kubernetes", "docker"): _*)
        .toDF("event_id", "msg", "severity", "syslogtag", "vars_msg",
          "__k8s", "__dock")
        .select(col("event_id"), col("msg"), col("severity"),
          col("syslogtag"), col("vars_msg"),
          get_json_object(col("__k8s"), "$.namespace_name").as("probe_ns"),
          get_json_object(col("__dock"), "$.container_id").as("probe_cid"),
          get_json_object(col("__k8s"), "$.restart_count")
            .cast("long").as("probe_restart"))
    },
      """WITH f AS (
        |  SELECT event_id, user_id, event_type, event_id % 3 AS m3,
        |    CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END
        |      AS stream0,
        |    user_id % 2 = 0 AS pods
        |  FROM events),
        |d AS (
        |  SELECT event_id, m3, pods, user_id,
        |    CASE WHEN pods THEN '/var/log/pods/ns' || (user_id % 10) ||
        |        '_pod' || (user_id % 50) || '_uid' || user_id ||
        |        '/c' || (event_id % 5) || '/' || (event_id % 4) || '.log'
        |      ELSE '/var/log/containers/pod' || (user_id % 50) ||
        |        '_ns' || (user_id % 10) || '_c' || (event_id % 5) ||
        |        '-cid' || event_id || '.log' END AS path,
        |    CASE m3 WHEN 0 THEN 'ev ' || event_type || ' ' || event_id
        |            WHEN 1 THEN 'dock ' || event_type
        |            ELSE 'plain ' || event_type || ' ' || event_id
        |    END AS msg,
        |    CASE WHEN m3 = 2 THEN 'stdout' ELSE stream0 END AS stream,
        |    CASE m3 WHEN 0 THEN 'cri' WHEN 1 THEN 'docker_json'
        |            ELSE 'raw' END AS fmt
        |  FROM f)
        |SELECT event_id, msg,
        |  CASE WHEN stream = 'stderr' THEN 3 ELSE 6 END AS severity,
        |  'kubernetes:' AS syslogtag,
        |  '{"kubernetes":{"namespace_name":"ns' || (user_id % 10) ||
        |  '","pod_name":"pod' || (user_id % 50) || '",' ||
        |  CASE WHEN pods THEN '"pod_uid":"uid' || user_id || '",'
        |       ELSE '' END ||
        |  '"container_name":"c' || (event_id % 5) || '",' ||
        |  CASE WHEN pods THEN '"restart_count":' || (event_id % 4) || ','
        |       ELSE '' END ||
        |  '"log_file":"' || path || '","stream":"' || stream ||
        |  '","log_format":"' || fmt || '"' ||
        |  CASE WHEN m3 = 2 THEN ',"parse_error":true' ELSE '' END ||
        |  '},"docker":' ||
        |  CASE WHEN pods THEN '{}'
        |       ELSE '{"container_id":"cid' || event_id || '"}' END ||
        |  '}' AS vars_msg,
        |  'ns' || (user_id % 10) AS probe_ns,
        |  CASE WHEN NOT pods THEN 'cid' || event_id END AS probe_cid,
        |  CASE WHEN pods THEN event_id % 4 END AS probe_restart
        |FROM d""".stripMargin),

    // §2.5 impcap: packet header decode (eth/ipv4 → tcp/udp/icmp) into
    // $!impcap metadata + $!data hex remainder (contrib/impcap
    // packet_parse + parser chain); packets assembled byte-exact from
    // event fields via unhex
    QueryDef("impcap_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val m3 = col("event_id") % 3
      def h2(c: org.apache.spark.sql.Column) = lpad(hex(c), 2, "0")
      def h4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
      def h8(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
      val eth = concat(lit("001A2B3C4D5EAABBCCDDEE"),
        h2(col("user_id") % 256), lit("0800"))
      val proto = when(m3 === 0, "06").when(m3 === 1, "11").otherwise("01")
      val ip = concat(lit("4500000000000000"), lit("40"), proto, lit("0000"),
        lit("0A00"), h2((col("event_id") / 256).cast("long") % 256),
        h2(col("event_id") % 256), lit("C0A80101"))
      val l4 =
        when(m3 === 0, concat(
          h4(lit(1024) + col("event_id") % 50000), lit("01BB"),
          h8(col("event_id") % 100000), lit("00000000"), lit("50"),
          when(col("event_id") % 2 === 0, "18").otherwise("02"),
          lit("000000000000")))
        .when(m3 === 1, concat(
          lit("0035"), h4(lit(1024) + col("event_id") % 60000),
          lit("0010"), lit("BEEF")))
        .otherwise(lit("0800123400010002"))
      val payload = concat(lit("DEAD"), h4(col("event_id") % 65536))
      val feed = ev.select(col("event_id"),
        col("event_id").as("id"),
        unhex(concat(eth, ip, l4, payload)).as("packet"),
        to_timestamp(lit("2024-06-01 10:00:00")).as("ts"))
      // single-parse (r15 impcap discipline): the four probes re-parsed
      // the full vars_msg (bulk = the $.data.content hex payload) per
      // call; one json_tuple splits the two subtrees, the probes then
      // parse only the small extracted strings
      graft.sources.Sources.impcapDecode(feed, tag = "pcap:")
        .select(Seq(col("event_id"), col("vars_msg"), col("syslogtag")) :+
          json_tuple(col("vars_msg"), "impcap", "data"): _*)
        .toDF("event_id", "vars_msg", "syslogtag", "__imp", "__data")
        .select(col("event_id"), col("vars_msg"), col("syslogtag"),
          get_json_object(col("__imp"), "$.net_src_ip").as("probe_src_ip"),
          get_json_object(col("__imp"), "$.net_flags").as("probe_flags"),
          get_json_object(col("__data"), "$.content").as("probe_data"),
          get_json_object(col("__imp"), "$.net_bytes_total")
            .cast("long").as("probe_total"))
    },
      """WITH f AS (
        |  SELECT event_id, user_id, event_id % 3 AS m3,
        |    'DEAD' || upper(lpad(to_hex(event_id % 65536), 4, '0')) AS phex
        |  FROM events),
        |d AS (
        |  SELECT event_id,
        |    CASE m3 WHEN 0 THEN
        |      '"net_src_port":' || (1024 + event_id % 50000) ||
        |      ',"net_dst_port":443,"TCP_seq_number":' || (event_id % 100000) ||
        |      ',"TCP_ack_number":0,"net_flags":"' ||
        |      CASE WHEN event_id % 2 = 0 THEN 'PA' ELSE 'S' END || '"'
        |    WHEN 1 THEN
        |      '"net_src_port":53,"net_dst_port":' || (1024 + event_id % 60000) ||
        |      ',"UDP_Length":16,"UDP_Checksum":48879'
        |    ELSE
        |      '"net_icmp_type":8,"net_icmp_code":0,"icmp_checksum":4660'
        |    END AS l4,
        |    CASE m3 WHEN 0 THEN 58 ELSE 46 END AS tot,
        |    CASE m3 WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS proto,
        |    '10.0.' || ((event_id // 256) % 256) || '.' || (event_id % 256)
        |      AS srcip,
        |    'aa:bb:cc:dd:ee:' || lower(to_hex(user_id % 256)) AS srcmac,
        |    phex, m3
        |  FROM f)
        |SELECT event_id,
        |  '{"data":{"length":8,"content":"' || phex || '"},"impcap":{"ID":' ||
        |  event_id ||
        |  ',"timestamp":"2024-06-01T10:00:00.000000+00:00","net_bytes_total":' ||
        |  tot || ',"ETH_src":"' || srcmac ||
        |  '","ETH_dst":"0:1a:2b:3c:4d:5e","ETH_type":2048,"ETH_typestr":"IP"' ||
        |  ',"net_dst_ip":"192.168.1.1","net_src_ip":"' || srcip ||
        |  '","IP_ihl":5,"net_ttl":64,"IP_proto":' || proto || ',' || l4 ||
        |  ',"net_bytes_data":4}}' AS vars_msg,
        |  'pcap:' AS syslogtag,
        |  srcip AS probe_src_ip,
        |  CASE WHEN m3 = 0 THEN
        |    CASE WHEN event_id % 2 = 0 THEN 'PA' ELSE 'S' END END
        |    AS probe_flags,
        |  phex AS probe_data,
        |  tot AS probe_total
        |FROM d""".stripMargin),

    // §2.5 impcap app-layer parsers (contrib/impcap/{dns,http,ftp,smb}
    // _parser.c): well-known-port dispatch off the TCP/UDP layer into
    // DNS question-section, HTTP status-line+headers, FTP code/command,
    // and SMB2 header extraction — every probed field a closed-form
    // function of event_id
    QueryDef("impcap_applayer", (s, dir) => {
      val ev = Tables.events(s, dir)
      val m4 = col("event_id") % 4
      def h2(c: org.apache.spark.sql.Column) = lpad(hex(c), 2, "0")
      def h4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
      def h8(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
      def le32(c: org.apache.spark.sql.Column) = concat(h2(c), lit("000000"))
      val eth = concat(lit("001A2B3C4D5EAABBCCDDEE"),
        h2(col("user_id") % 256), lit("0800"))
      val proto = when(m4 === 0, "11").otherwise("06")
      val ip = concat(lit("4500000000000000"), lit("40"), proto, lit("0000"),
        lit("0A00"), h2((col("event_id") / 256).cast("long") % 256),
        h2(col("event_id") % 256), lit("C0A80101"))
      val tcpHdr = (dst: String) => concat(
        h4(lit(40000) + col("event_id") % 10000), lit(dst),
        h8(col("event_id") % 100000), lit("00000000"), lit("5018"),
        lit("000000000000"))
      val dnsPay = concat(
        h4(col("event_id") % 65536), lit("0100"),
        lit("0001000000000000"),
        lit("03777777076578616D706C6503636F6D00"),
        when(col("event_id") % 8 === 0, "0001").otherwise("001C"),
        lit("0001"))
      val httpPay = hex(concat(lit("GET /p"), col("event_id") % 100,
        lit(" HTTP/1.1\r\nHost: h"), col("event_id") % 10,
        lit(".example\r\nXKey: v"), col("event_id") % 7,
        lit("\r\n\r\nbody")))
      val ftpPay = hex(
        when(col("event_id") % 8 === 2,
          concat(lit("USER u"), col("event_id") % 5, lit("\r\n")))
        .otherwise(lit("230 Login ok\r\n")))
      val smbPay = concat(
        lit("FE534D42"), lit("4000"), lit("0000"),
        le32(col("event_id") % 256),           // ntStatus
        h2(col("event_id") % 19), lit("00"),   // opCode (LE16)
        lit("0000"), lit("01000000"),          // padding2, flags=R
        lit("00000000"),                       // chainOffset
        le32(col("event_id") % 256), lit("00000000"), // comSeqNumber
        le32(col("event_id") % 200),           // processID
        le32(col("event_id") % 50),            // treeID
        le32(col("event_id") % 100), lit("00000000"), // userID
        lit("0000000000000000000000000000000000000000000000000000000000000000"))
      val l4 =
        when(m4 === 0, concat(
          h4(lit(2048) + col("event_id") % 1000), lit("0035"),
          lit("0010"), lit("BEEF"), dnsPay))
        .when(m4 === 1, concat(tcpHdr("0050"), httpPay))
        .when(m4 === 2, concat(tcpHdr("0015"), ftpPay))
        .otherwise(concat(tcpHdr("01BD"), smbPay))
      val feed = ev.select(col("event_id"),
        col("event_id").as("id"),
        unhex(concat(eth, ip, l4)).as("packet"),
        to_timestamp(lit("2024-06-01 10:00:00")).as("ts"))
      val dec = graft.sources.Sources.impcapDecode(feed, tag = "pcap:")
      // r15: 17 get_json_object calls each re-parsed the FULL vars_msg
      // (incl. the hex payload — the document's bulk) per row; this
      // query measured 3x the next-worst main-loop entry while its
      // sibling impcap_decode (same packet kernel, 4 extracts) did
      // not. Parse once: extract the $.impcap subtree (drops the
      // payload), one json_tuple parse for the 13 flat fields, and 4
      // small extracts for the nested paths. json_tuple and
      // get_json_object return identical raw-token strings for
      // scalars and null for missing keys, so values are unchanged.
      def ji(p: String) = get_json_object(col("__imp"), "$." + p)
      dec
        .withColumn("__imp", get_json_object(col("vars_msg"), "$.impcap"))
        .select(Seq(col("event_id"), col("__imp")) :+
          json_tuple(col("__imp"), "DNS_transaction_id", "DNS_error",
            "HTTP_method", "HTTP_request_URI", "FTP_request",
            "FTP_response", "SMB_version", "SMB_NTstatus",
            "SMB_operation", "SMB_flags", "SMB_seqNumber", "SMB_treeID",
            "SMB_userID"): _*)
        .toDF("event_id", "__imp", "f_txid", "f_dnserr", "f_method",
          "f_uri", "f_ftpreq", "f_ftpresp", "f_smbver", "f_smbnt",
          "f_smbop", "f_smbflags", "f_smbseq", "f_smbtree", "f_smbuser")
        .select(col("event_id"),
          col("f_txid").cast("long").as("dns_txid"),
          col("f_dnserr").as("dns_err"),
          ji("DNS_Names[0].qname").as("dns_qname"),
          ji("DNS_Names[0].type").as("dns_type"),
          col("f_method").as("http_method"),
          col("f_uri").as("http_uri"),
          ji("HTTP_header_fields.Host").as("http_host"),
          ji("HTTP_header_fields.XKey").as("http_xkey"),
          col("f_ftpreq").as("ftp_req"),
          col("f_ftpresp").cast("long").as("ftp_resp"),
          col("f_smbver").cast("long").as("smb_ver"),
          col("f_smbnt").cast("long").as("smb_nt"),
          col("f_smbop").cast("long").as("smb_op"),
          col("f_smbflags").as("smb_flags"),
          col("f_smbseq").cast("long").as("smb_seq"),
          col("f_smbtree").cast("long").as("smb_tree"),
          col("f_smbuser").cast("long").as("smb_user"))
    },
      // every app-layer field is a closed-form function of event_id; rows
      // of other kinds carry NULLs
      """SELECT event_id,
        |  CASE WHEN event_id % 4 = 0
        |    THEN CAST(event_id % 65536 AS BIGINT) END AS dns_txid,
        |  CASE WHEN event_id % 4 = 0 THEN 'NoError' END AS dns_err,
        |  CASE WHEN event_id % 4 = 0 THEN 'www.example.com' END AS dns_qname,
        |  CASE WHEN event_id % 8 = 0 THEN 'A'
        |       WHEN event_id % 4 = 0 THEN 'AAAA' END AS dns_type,
        |  CASE WHEN event_id % 4 = 1 THEN 'GET' END AS http_method,
        |  CASE WHEN event_id % 4 = 1
        |    THEN '/p' || (event_id % 100) END AS http_uri,
        |  CASE WHEN event_id % 4 = 1
        |    THEN 'h' || (event_id % 10) || '.example' END AS http_host,
        |  CASE WHEN event_id % 4 = 1
        |    THEN 'v' || (event_id % 7) END AS http_xkey,
        |  CASE WHEN event_id % 8 = 2 THEN 'USER' END AS ftp_req,
        |  CASE WHEN event_id % 8 = 6
        |    THEN CAST(230 AS BIGINT) END AS ftp_resp,
        |  CASE WHEN event_id % 4 = 3 THEN CAST(2 AS BIGINT) END AS smb_ver,
        |  CASE WHEN event_id % 4 = 3
        |    THEN CAST(event_id % 256 AS BIGINT) END AS smb_nt,
        |  CASE WHEN event_id % 4 = 3
        |    THEN CAST(event_id % 19 AS BIGINT) END AS smb_op,
        |  CASE WHEN event_id % 4 = 3 THEN 'R' END AS smb_flags,
        |  CASE WHEN event_id % 4 = 3
        |    THEN CAST(event_id % 256 AS BIGINT) END AS smb_seq,
        |  CASE WHEN event_id % 4 = 3
        |    THEN CAST(event_id % 50 AS BIGINT) END AS smb_tree,
        |  CASE WHEN event_id % 4 = 3
        |    THEN CAST(event_id % 100 AS BIGINT) END AS smb_user
        |FROM events""".stripMargin),

    // §2.5 imtuxedoulog: Tuxedo ULOG line parse — time-of-day + file
    // date, host!prog split, procid truncation, gtrid skip, ECID → SD
    // (contrib/imtuxedoulog parseMsg, README cases 1-4); Java exception
    // continuation lines dropped
    QueryDef("imtuxedoulog_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hh = lpad((col("event_id") % 24).cast("string"), 2, "0")
      val mi = lpad((col("event_id") % 60).cast("string"), 2, "0")
      val ss = lpad((col("event_id") % 43 % 60).cast("string"), 2, "0")
      val tod = concat(hh, mi, ss)
      val base = concat(tod, lit("."),
        when(col("event_id") % 2 === 0, lit("70")).otherwise(lit("705")),
        lit(".host"), col("user_id") % 50,
        lit("!"), col("event_type"), lit("."), col("event_id") % 100000,
        lit(".1.0: "))
      val line =
        when(col("event_id") % 5 === 0,
          lit("\tat java.base/jdk.internal.reflect.invoke(Native Method)"))
        .when(col("event_id") % 5 === 1,
          concat(base, lit("ECID <EC"), col("event_id"),
            lit(">: traced "), col("event_id")))
        .when(col("event_id") % 5 === 2,
          concat(base, lit("gtrid x0 x1: ECID <G"), col("event_id"),
            lit(">: gtraced "), col("event_id")))
        .otherwise(concat(base, lit("TSAM_CAT:305: plain "), col("event_id")))
      val feed = ev.select(col("event_id"), line.as("value"),
        to_date(lit("2024-03-15")).as("filedate"))
      graft.sources.Sources.imtuxedoulogDecode(feed,
          now = to_timestamp(lit("2024-01-01 00:00:00")))
        .select(col("event_id"), col("hostname"), col("procid"),
          col("structured_data"), col("msg"), col("pri"),
          unix_micros(col("ts")).as("ts_us"))
    },
      """WITH f AS (
        |  SELECT event_id, user_id, event_type,
        |    lpad(CAST(event_id % 24 AS VARCHAR), 2, '0') AS hh,
        |    lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS mi,
        |    lpad(CAST(event_id % 43 % 60 AS VARCHAR), 2, '0') AS ss,
        |    CASE WHEN event_id % 2 = 0 THEN '700' ELSE '705' END AS fr
        |  FROM events WHERE event_id % 5 <> 0)
        |SELECT event_id,
        |  'host' || (user_id % 50) AS hostname,
        |  event_type || '.' || (event_id % 100000) || '.1' AS procid,
        |  CASE WHEN event_id % 5 = 1 THEN '[ECID="EC' || event_id || '"]'
        |       WHEN event_id % 5 = 2 THEN '[ECID="G' || event_id || '"]'
        |  END AS structured_data,
        |  CASE WHEN event_id % 5 = 1 THEN 'traced ' || event_id
        |       WHEN event_id % 5 = 2 THEN 'gtraced ' || event_id
        |       ELSE 'TSAM_CAT:305: plain ' || event_id END AS msg,
        |  199 AS pri,
        |  epoch_us(CAST('2024-03-15 ' || hh || ':' || mi || ':' || ss ||
        |    '.' || fr AS TIMESTAMP)) AS ts_us
        |FROM f""".stripMargin),

    // §2.5 imhttp: posted body rows run the standard parser chain
    // (NEEDS_PARSING|PARSE_HOSTNAME) with the peer as fromhost;
    // addmetadata lands httpheaders/queryparams under $!metadata
    // (contrib/imhttp doSubmitMsg + msgAddMetadataFromHttp*)
    QueryDef("imhttp_decode", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val feed = ev.select(col("event_id"), col("rawmsg").as("value"),
        concat(lit("10.0.0."), col("user_id") % 250).as("remoteaddr"),
        to_json(struct(lit("curl/8").as("user-agent"))).as("headers_json"),
        to_json(struct(col("event_type").as("src"))).as("query_json"))
      graft.sources.Sources.imhttpDecode(feed, addMetadata = true)
        .select(col("event_id"), col("hostname"), col("syslogtag"),
          col("msg"), col("vars_msg"),
          get_json_object(col("vars_msg"), "$.metadata.queryparams.src")
            .as("probe_src"))
    },
      (Queries.synthSql +
      """ SELECT event_id, hostname,
        |  event_type || '[' || event_id || ']:' AS syslogtag,
        |  ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') ||
        |  ': v100=' || v100 AS msg,
        |  '{"metadata":{"httpheaders":{"user-agent":"curl/8"},' ||
        |  '"queryparams":{"src":"' || event_type || '"}}}' AS vars_msg,
        |  event_type AS probe_src
        | FROM ev""".stripMargin)),

    // §2.5 imhttp body framing + gzip (imhttp.c processDataUncompressed
    // :730-760 LF loop, processOctetCounting :500-560 per-frame
    // auto-detect, processDataCompressed :820+ inflate): each event
    // posts a 2-message body in LF and octet-counted shapes; the gzip
    // leg round-trips compress→inflate through the codegen'd kernels,
    // and poisoned rows exercise the malformed-gzip reject NULL
    QueryDef("imhttp_body", (s, dir) => {
      import graft.functions.HttpExprs
      val ev = synthSyslog(s, dir)
      val m1 = concat(lit("m"), col("event_id"), lit(" alpha"))
      val m2 = concat(lit("x"), col("v100"))
      val lfBody = concat(m1, lit("\n"), m2, lit("\n"))
      val octBody = concat(octet_length(m1).cast("string"), lit(" "), m1,
        octet_length(m2).cast("string"), lit(" "), m2)
      val lf = ev.select(col("event_id"), lit("lf").as("mode"),
        posexplode(HttpExprs.bodyMessages(lfBody, "lf"))).toDF(
        "event_id", "mode", "idx", "msg")
      val oct = ev.select(col("event_id"), lit("octet").as("mode"),
        posexplode(HttpExprs.bodyMessages(octBody, "octet"))).toDF(
        "event_id", "mode", "idx", "msg")
      val gz = ev.select(col("event_id"), lit("gzip").as("mode"),
        posexplode(HttpExprs.bodyMessages(
          HttpExprs.gzipInflate(HttpExprs.gzipCompress(lfBody.cast("binary")))
            .cast("string"), "lf"))).toDF("event_id", "mode", "idx", "msg")
      val bad = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id"), lit("bad_gzip").as("mode"),
          lit(-1).as("idx"),
          HttpExprs.gzipInflate(lit("not gzip".getBytes("UTF-8")))
            .cast("string").as("msg"))
      lf.unionByName(oct).unionByName(gz).unionByName(bad)
    },
      (Queries.synthSql +
      """, m AS (
        |  SELECT event_id, 'm' || event_id || ' alpha' AS m1,
        |         'x' || v100 AS m2
        |  FROM ev),
        |u AS (SELECT * FROM (VALUES ('lf'), ('octet'), ('gzip')) AS t(mode))
        |SELECT event_id, mode, 0 AS idx, m1 AS msg FROM m, u
        |UNION ALL SELECT event_id, mode, 1, m2 FROM m, u
        |UNION ALL SELECT event_id, 'bad_gzip', -1, NULL
        |  FROM m WHERE event_id % 100 = 0""".stripMargin)),

    // §2.5 imjournal: journal export-format entries → decoded pipeline
    // rows (plugins/imjournal/imjournal.c readjournal field mapping:
    // PRIORITY/SYSLOG_FACILITY bounds-checked with defaults, identifier/
    // pid tag assembly, $! tree from data fields). Entries synthesized
    // deterministically from events — PRIORITY%9 and FACILITY%25 hit the
    // out-of-bounds→default path on real rows
    QueryDef("imjournal_decode", (s, dir) => {
      val ev = Tables.events(s, dir)
      val entries = ev.select(col("event_id"), concat(
        lit("__REALTIME_TIMESTAMP="), col("event_id") * 1000000L + 123456L,
        lit("\n__CURSOR=s=deadbeef;i="), col("event_id"),
        lit("\nMESSAGE=msgnum:"), lpad(col("event_id"), 8, "0"),
        lit("\nPRIORITY="), col("event_id") % 9,
        lit("\nSYSLOG_FACILITY="), col("user_id") % 25,
        lit("\nSYSLOG_IDENTIFIER="), col("event_type"),
        lit("\n_PID="), col("user_id"),
        lit("\n_HOSTNAME=host"), col("user_id"),
        lit("\n_TRANSPORT=journal")).as("value"))
      graft.sources.Sources.imjournalDecode(entries)
        .select(col("event_id"), col("facility"), col("severity"),
          col("syslogtag"), col("msg"),
          unix_timestamp(col("ts")).as("ts_secs"),
          get_json_object(col("vars_msg"), "$._HOSTNAME").as("jhost"),
          get_json_object(col("vars_msg"), "$._TRANSPORT").as("jtrans"))
    },
      """SELECT event_id,
        |  CAST(CASE WHEN user_id % 25 <= 23 THEN user_id % 25 ELSE 1 END
        |    AS INT) AS facility,
        |  CAST(CASE WHEN event_id % 9 <= 7 THEN event_id % 9 ELSE 5 END
        |    AS INT) AS severity,
        |  event_type || '[' || user_id || ']:' AS syslogtag,
        |  'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS msg,
        |  event_id AS ts_secs,
        |  'host' || user_id AS jhost,
        |  'journal' AS jtrans
        |FROM events""".stripMargin),

    // §2.5 imfile-lite batch READ path oracle-checked end-to-end: frame
    // the synth stream octet-counted (RFC6587), write real text files,
    // read them back through fileLines (provenance cols) → deframe →
    // decode — the full imtcp/imfile ingest surface on actual files
    QueryDef("imfile_read", (s, dir) => {
      val tmp = graft.Tmp.dir("graft_imfile_")
      val framed = synthSyslog(s, dir)
        .select(concat(length(col("rawmsg")), lit(" "), col("rawmsg")).as("value"))
      framed.write.mode("overwrite").text(tmp.toString)
      val lines = graft.sources.Sources.fileLines(s, tmp.toString)
      val decoded = graft.sources.Sources.decodeSyslog(
        graft.sources.Sources.deframeOctetCounted(lines))
      decoded.select(
        regexp_extract(col("msg"), "msgnum:(\\d+)", 1).cast("long").as("event_id"),
        col("inputname"),
        col("facility"), col("severity"), col("hostname"),
        col("syslogtag"), col("msg"), col("parsesuccess"))
    },
      (synthSql +
      """ SELECT event_id, 'imfile' AS inputname, facility, severity,
        |   hostname, syslogtag || ':' AS syslogtag,
        |   ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')
        |     || ': v100=' || v100 AS msg,
        |   true AS parsesuccess
        | FROM ev""".stripMargin)),

    // §2.5 imkafka — the Kafka-source CONTRACT decode: a kafka-shaped
    // frame (key/value binary, topic/partition/offset) through
    // imkafkaDecode → syslog parse, provenance carried like imfile's.
    // The connector jar only changes who produces the contract columns;
    // this oracles the engine-owned half (decode + provenance) end-to-end.
    QueryDef("kafka_decode", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val kafka = ev.select(
        col("rawmsg").cast("binary").as("value"),
        col("user_id").cast("string").cast("binary").as("key"),
        concat(lit("syslog."), col("event_type")).as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        col("event_id").as("offset"),
        col("ts").as("timestamp"))
      graft.sources.Sources.imkafkaDecode(kafka)
        .select(col("offset").as("event_id"), col("topic"),
          col("partition").as("kafka_partition"), col("inputname"),
          col("facility"), col("severity"), col("hostname"),
          col("programname"), col("msg"))
    },
      (synthSql +
      """ SELECT event_id,
        |  'syslog.' || event_type AS topic,
        |  CAST(user_id % 4 AS INT) AS kafka_partition,
        |  'imkafka' AS inputname,
        |  facility, severity, hostname,
        |  event_type AS programname,
        |  ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ': v100=' || v100 AS msg
        | FROM ev""".stripMargin)),

    // §2.5 immark — "-- MARK --" heartbeat + action-side mark suppression
    // (writeAllMarkMessages="off"): a mark row per (host, hour boundary)
    // where the host logged nothing in the preceding hour. Row-level
    // output so the oracle checks the exact suppression set.
    QueryDef("immark", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.sources.Sources.immarkMarks(ev,
          concat(lit("host"), col("user_id")), col("ts"))
        .select(col("host"), unix_timestamp(col("mark_ts")).as("mark_sec"),
          col("msg"))
    },
      """WITH ev AS (
        |  SELECT 'host' || user_id AS host, CAST(ts AS TIMESTAMP) AS t
        |  FROM events),
        |span AS (
        |  SELECT date_trunc('hour', min(t)) + INTERVAL 1 HOUR AS t0,
        |         date_trunc('hour', max(t)) + INTERVAL 1 HOUR AS t1
        |  FROM ev),
        |marks AS (
        |  SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS mark_ts
        |  FROM span),
        |hosts AS (SELECT DISTINCT host FROM ev),
        |activity AS (
        |  SELECT DISTINCT host,
        |    date_trunc('hour', t) + INTERVAL 1 HOUR AS mark_ts
        |  FROM ev)
        |SELECT h.host,
        |  epoch_ns(m.mark_ts) // 1000000000 AS mark_sec,
        |  '-- MARK --' AS msg
        |FROM hosts h CROSS JOIN marks m
        |LEFT JOIN activity a ON a.host = h.host AND a.mark_ts = m.mark_ts
        |WHERE a.host IS NULL""".stripMargin)
  )
}
