package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import graft.functions.rainer

/** Source/sink surface -- the Spark re-expression of rsyslog's input and
  * output module families (SURVEY S2.5/S2.10). Network listeners (imudp/imtcp)
  * are transport, which the platform owns (Kafka/files/sockets); what the
  * engine owns is the *decode* step -- framing + syslog parse -- and the
  * sink-side template/partition logic.
  */
object Sources {

  /** imfile-lite batch: read text files, one row per line, with the
    * provenance columns rsyslog attaches (inputname, fromhost). */
  def fileLines(spark: SparkSession, path: String*): DataFrame = {
    val base =
      if (path.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.StringType))))
      else spark.read.text(path: _*)
    base.withColumn("inputname", lit("imfile"))
      .withColumn("fromhost", lit(java.net.InetAddress.getLocalHost.getHostName))
  }

  /** imfile ignoreOlderThan= (imfile.c:770-776): a discovered file whose
    * mtime lags now by more than `seconds` is skipped at startup. Glob
    * resolution + mtime check run through the Hadoop FS layer, so the
    * kept-file list matches exactly what the text source would read. */
  def fileLinesIgnoreOlderThan(spark: SparkSession, path: String,
                               seconds: Long): DataFrame = {
    val hpath = new org.apache.hadoop.fs.Path(path)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(hpath)).map(_.toSeq).getOrElse(Seq.empty)
    val cutoff = System.currentTimeMillis() - seconds * 1000L
    val keep = matches.filter(_.getModificationTime >= cutoff)
      .map(_.getPath.toString)
    fileLines(spark, keep: _*)
  }

  /** imfile-lite streaming: tail a directory of log files. */
  def fileTail(spark: SparkSession, path: String): DataFrame =
    spark.readStream.text(path)
      .withColumn("inputname", lit("imfile"))

  /** imtcp octet-counted framing decode: "NNN <frame>" per RFC6587 --
    * strips the length prefix; LF framing is the line split the text
    * source already did. (Framing logic from runtime/tcpsrv.c.) A frame
    * length above `maxFrame` draws the reference's "Framing Error …
    * change to octet stuffing" fallback (tcps_sess.c, module param
    * maxFrameSize default 200000, tests/imtcp-maxFrameSize.sh): the
    * line stays literal. */
  def deframeOctetCounted(lines: DataFrame, valueCol: String = "value",
                          maxFrame: Int = 200000): DataFrame =
    lines.withColumn(valueCol,
      when(col(valueCol).rlike("^\\d+ ") &&
           substring_index(col(valueCol), " ", 1).try_cast("long") <= maxFrame,
        expr(s"substring($valueCol, instr($valueCol, ' ') + 1)"))
      .otherwise(col(valueCol)))

  /** omfwd TCP octet-counted SEND framing (runtime/tcpclt.c:196-210
    * sprintf("%d ", len)): "<len> <msg>" with len the message's BYTE
    * length — the send-side inverse of deframeOctetCounted. LF
    * (octet-stuffing) framing is just the text sink's newline. */
  def frameOctetCounted(msg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(octet_length(msg).cast("string"), lit(" "), msg)

  /** omfwd target-pool load balancing (tools/omfwd.c:1883-1901): each
    * worker keeps a private try counter and sends to
    * `target[(counter++) % nTargets]`, skipping unconnected targets by
    * advancing the counter — so under a STATIC up/down mask the chosen
    * targets are exactly the ACTIVE pool members round-robined in pool
    * order: message i of a worker goes to activeTargets[i % nActive]
    * (the counter parks on the chosen slot + 1 after every send, and the
    * dead-slot skips cancel out of the modulus). Per-worker counters are
    * deliberate thread-independence in the reference ("otherwise we have
    * thread interdependence, which hurts performance", :1884-1888) — the
    * exact property that makes the assignment embarrassingly parallel
    * here: `seq` is the worker-local send ordinal (caller column, like
    * the omudpspoof port cycle), no cross-worker state, no shuffle.
    * Empty active pool = the action SUSPENDs (:1904-1909) — callers gate
    * on `activeTargets.nonEmpty`. Connection management, TLS, and the
    * send buffers are transport. Returns "host:port". */
  def omfwdPoolTarget(seq: org.apache.spark.sql.Column,
                      targets: Seq[(String, Int)],
                      active: Seq[Boolean]): org.apache.spark.sql.Column = {
    require(targets.nonEmpty && targets.size == active.size,
      "targets/active must align")
    val act = targets.zip(active).collect { case (t, true) => t }
    require(act.nonEmpty, "omfwd: no working target server (pool SUSPENDs)")
    val names = act.map { case (h, p) => lit(s"$h:$p") }
    element_at(array(names: _*), (pmod(seq, lit(act.size)) + 1).cast("int"))
  }

  /** omudpspoof wire accounting (plugins/omudpspoof/omudpspoof.c
    * UDPSend:339-498): one row per IPv4 fragment the module would put
    * on the wire. Per message: the spoofed source address renders from
    * the source template (default RSYSLOG_omudpspoofDfltSourceTpl =
    * "%fromhost-ip%", runtime/rsconf.c:233 — caller passes the rendered
    * column), the source port cycles sourceport.start..end
    * (32000..42000 defaults, :365-367 post-increment wrap), payload
    * truncates at 65528 bytes (:361-364), and the message fragments
    * when it exceeds the MTU (1500 default): maxPkt = (mtu-20) & ~7;
    * fragment 0 carries maxPkt-8 payload bytes under the UDP header
    * (UDP length field = full len+8), continuation fragments maxPkt
    * each at byte offsets (msgOffs+8), MF set on all but the last
    * (:378-470). `seq` supplies the worker's send ordinal for the port
    * cycle (a caller column, like txnr in the RELP contract). The
    * libnet raw-socket write and source-MAC forgery are transport.
    *
    * Output columns: frag_idx, src_ip, src_port, dst_port, mf,
    * frag_offset (bytes), payload_len, ip_len, udp_len (frag 0 only).
    * Fragment payload bytes are msg[frag_offset-8 .. +payload_len] at
    * the transport boundary — not materialized here because byte
    * slicing multi-byte text belongs to the writer, not the plan. */
  /** omhttp retry.ruleset requeue (contrib/omhttp/omhttp.c
    * queueBatchOnRetryRuleset:1061-1106 + msgAddResponseMetadata
    * :1027-1058): every record of a FAILED batch re-enters the engine as
    * a fresh message — rawmsg ≡ msg ≡ the rendered record (MsgSetMSGoffs
    * 0, no header parse), TAG "omhttp-retry", and with
    * retry.addmetadata="on" a `$!omhttp!response` tree carrying the HTTP
    * status code, reply body, and the record's index within its batch.
    * Routing into the named ruleset is the caller's `cfg.rulesets`
    * application; LIGHT_DELAY flow control and the ratelimiter ride the
    * standard queue machinery (RateLimit). */
  def omhttpRetryMessages(failed: DataFrame,
                          record: org.apache.spark.sql.Column,
                          code: org.apache.spark.sql.Column,
                          body: org.apache.spark.sql.Column,
                          batchIndex: org.apache.spark.sql.Column,
                          addMetadata: Boolean = true): DataFrame = {
    val base = failed
      .withColumn("rawmsg", record)
      .withColumn("msg", record)
      .withColumn("syslogtag", lit("omhttp-retry"))
    if (!addMetadata) base.withColumn("vars_msg", lit("{}"))
    else base.withColumn("vars_msg", to_json(struct(
      struct(
        struct(code.cast("int").as("code"), body.as("body"),
          batchIndex.cast("int").as("batch_index")).as("response")
      ).as("omhttp"))))
  }

  def udpspoofPackets(df: DataFrame, msg: org.apache.spark.sql.Column,
                      srcIp: org.apache.spark.sql.Column,
                      seq: org.apache.spark.sql.Column,
                      dstPort: Int = 514, mtu: Int = 1500,
                      portStart: Int = 32000, portEnd: Int = 42000): DataFrame = {
    val maxPkt = (mtu - 20) & ~7 // IP payload per fragment, 8-aligned
    val first = maxPkt - 8 // UDP header shares fragment 0
    val len = least(octet_length(msg), lit(65528)).cast("long")
    val nFrags = when(len <= first, lit(1L))
      .otherwise(lit(2L) + floor((len - first - 1) / maxPkt))
    val out = df
      .withColumn("__len", len)
      .withColumn("__src_ip", srcIp)
      .withColumn("src_port",
        (lit(portStart) + pmod(seq.cast("long"), lit(portEnd - portStart + 1)))
          .cast("int"))
      .withColumn("frag_idx", explode(sequence(lit(0L), nFrags - 1)))
    val msgOffs = lit(first) + (col("frag_idx") - 1) * maxPkt // frags > 0
    val remaining = col("__len") - msgOffs
    out.select(
      col("*"),
      col("__src_ip").as("src_ip"),
      lit(dstPort).as("dst_port"),
      when(col("frag_idx") === 0,
          when(col("__len") <= first, lit(false)).otherwise(lit(true)))
        .otherwise(remaining > maxPkt).as("mf"),
      when(col("frag_idx") === 0, lit(0L))
        .otherwise(msgOffs + 8).as("frag_offset"),
      when(col("frag_idx") === 0, least(col("__len"), lit(first.toLong)))
        .otherwise(least(remaining, lit(maxPkt.toLong))).as("payload_len"),
      when(col("frag_idx") === 0, col("__len") + 8).as("udp_len"))
      .withColumn("ip_len",
        when(col("frag_idx") === 0, col("payload_len") + 28)
          .otherwise(col("payload_len") + 20))
      .drop("__len", "__src_ip")
  }

  /** RELP framing decode — the RELP wire format (`TXNR SP COMMAND SP
    * DATALEN [SP DATA]` per frame; the published RELP spec — imrelp's
    * transport itself lives in librelp, outside the reference tree):
    * keeps `syslog` command frames' DATA as the message line and drops
    * session-control frames (open/close/rsp/serverclose), which carry
    * no log payload. Reliability (txnr acking) is the platform's
    * offset/ack tracking, as with Kafka. */
  def deframeRelp(lines: DataFrame, valueCol: String = "value"): DataFrame =
    lines.filter(col(valueCol).rlike("^[0-9]+ syslog [0-9]+ "))
      .withColumn(valueCol,
        regexp_replace(col(valueCol), "^[0-9]+ syslog [0-9]+ ", ""))

  /** omrelp SEND framing — the RELP wire frame the client emits per
    * message (`TXNR SP COMMAND SP DATALEN SP DATA`; the reference's
    * omrelp hands the bare message to librelp's relpCltSendSyslog,
    * plugins/omrelp/omrelp.c:733, which adds this envelope). DATALEN is
    * the message's BYTE length; the frame trailer LF is the line sink's
    * newline. Round-trips with deframeRelp. txnr assignment is the
    * session's counter — a caller-supplied column, like offsets in the
    * Kafka contract. */
  def frameRelp(msg: org.apache.spark.sql.Column,
                txnr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(txnr.cast("string"), lit(" syslog "),
      octet_length(msg).cast("string"), lit(" "), msg)

  /** imdocker decode — container attach streams to pipeline rows
    * (contrib/imdocker/imdocker.c). The multiplexed stream demuxes via
    * DockerStreamDecodeExpr (one message per completed frame,
    * imdocker.c:1531-1534); per message: severity LOG_ERR for stderr
    * else the default-severity info, facility user (DFLT_FACILITY/
    * DFLT_SEVERITY, imdocker.c:89-90), TAG is the literal "docker:"
    * (imdocker.c:70,1493), HOSTNAME the local host, and the container
    * metadata lands under $!metadata — Id/Names/Image/ImageID/Labels
    * with null→"" like addDockerMetaData (imdocker.c:1146-1161).
    * Default sanitize applies (escapelf default on, imdocker.c:87 →
    * SanitizeMsg control-char escaping) after the trailing-LF drop.
    *
    * `containers` carries one row per container capture: a binary
    * `stream` column plus id/name/image/image_id/labels_json. The
    * Docker-daemon HTTP attach (curl machinery, container discovery/
    * restart) is the transport boundary, like the Kafka connector.
    */
  def imdockerDecode(containers: DataFrame,
                     streamCol: String = "stream",
                     dfltSeverity: Int = 6,
                     dfltFacility: Int = 1): DataFrame = {
    val frames = org.apache.spark.sql.GraftBridge.column(
      graft.functions.DockerStreamDecodeExpr(
        org.apache.spark.sql.GraftBridge.expression(col(streamCol))))
    // Labels is a JSON *object* in the reference (parseLabels walks the
    // json_object map, imdocker.c:538-560) — parse it to MAP so to_json
    // re-emits a nested object, never an escaped string. null → {}.
    val labelsMap = coalesce(
      from_json(col("labels_json"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)),
      map())
    val meta = to_json(struct(struct(
      coalesce(col("container_id"), lit("")).as("Id"),
      coalesce(col("name"), lit("")).as("Names"),
      coalesce(col("image"), lit("")).as("Image"),
      coalesce(col("image_id"), lit("")).as("ImageID"),
      labelsMap.as("Labels")).as("metadata")))
    containers
      .withColumn("f", explode(frames))
      .withColumn("msg",
        sanitize(regexp_replace(col("f.payload"), "\n$", "")))
      .select(
        containers.columns.filter(_ != streamCol).map(col) ++ Seq(
          col("f.stream_type").as("stream_type"),
          col("msg"),
          lit("imdocker").as("inputname"),
          lit("docker:").as("syslogtag"),
          lit(dfltFacility).as("facility"),
          when(col("f.stream_type") === 2, 3)
            .otherwise(dfltSeverity).as("severity"),
          meta.as("vars_msg"),
          lit("{}").as("vars_local")): _*)
  }

  /** imbatchreport decode — one batch-job report FILE becomes one
    * message (contrib/imbatchreport/imbatchreport.c readAndSendFile:
    * 240-370 via the BatchReportExpr kernel: trailing-ws trim, 150-byte
    * backward SD scan, timestampkey/programkey extraction, dedupspace
    * body rewrite, too-large replacement). Message framing mirrors
    * enqMsg (imbatchreport.c:191-201): TAG = the required tag param,
    * PROCID/MSGID "-", HOSTNAME the receiver, PRI from the
    * severity/facility params (defaults LOG_NOTICE/LOG_LOCAL0,
    * :504-505); the SD timestamp overrides reception time when the key
    * matches, and APP-NAME is set only when programkey matched.
    *
    * `reports` carries one row per report file: a whole-file text
    * column plus its path (the rename/delete done-file handshake is
    * filesystem transport, out of engine scope like imfile rotation).
    */
  def imbatchreportDecode(reports: DataFrame, textCol: String = "value",
                          pathCol: String = "path",
                          tag: String = "batchreport:",
                          programKey: String = "", timestampKey: String = "",
                          severity: Int = 5, facility: Int = 16,
                          maxMsgSize: Int = 8096, dedupSpace: Boolean = true,
                          now: Column = current_timestamp()): DataFrame = {
    val dec = org.apache.spark.sql.GraftBridge.column(
      graft.functions.BatchReportExpr(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)),
        org.apache.spark.sql.GraftBridge.expression(col(pathCol)),
        timestampKey, programKey, maxMsgSize, dedupSpace))
    val prog = graft.functions.SyslogParseExpr.programName(tag)
    // provenance convention shared with the other preset decodes: a feed
    // already carrying inputname/fromhost keeps its columns (duplicate
    // output columns otherwise)
    val src = withProvenance(reports, "imbatchreport")
    src
      .withColumn("br", dec)
      .select(
        src.columns.filter(c => c != textCol && c != "inputname" &&
          c != "fromhost").map(col) ++ Seq(
          col("inputname"),
          col("fromhost"),
          col("br.msg").as("rawmsg"),
          lit(0).as("protocol_version"),
          lit(facility * 8 + severity).as("pri"),
          lit(facility).as("facility"), lit(severity).as("severity"),
          // SD timestamp (epoch seconds) overrides reception time
          when(col("br.ts_epoch").isNotNull,
            timestamp_seconds(col("br.ts_epoch"))).otherwise(now).as("ts"),
          col("fromhost").as("hostname"),
          coalesce(col("br.program"),
            lit(if (prog == null || prog.isEmpty) null else prog)
              .cast("string")).as("app_name"),
          lit("-").as("procid"),
          lit("-").as("msgid"),
          col("br.structured_data").as("structured_data"),
          lit(tag).as("syslogtag"),
          coalesce(col("br.program"), lit(prog).cast("string"))
            .as("programname"),
          col("br.msg").as("msg"),
          col("br.ts_epoch").as("ts_epoch"),
          col("br.too_large").as("too_large"),
          lit(true).as("parsesuccess"),
          lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** glbl parser.* sanitize options (rsconf.c:404-411 defaults). */
  case class SanitizeOpts(dropTrailingCr: Boolean = false,
                          escapeCC: Boolean = true,
                          spaceLF: Boolean = false,
                          escapeTab: Boolean = true,
                          escape8Bit: Boolean = false,
                          cStyle: Boolean = false,
                          prefix: Char = '#')

  object SanitizeOpts {
    /** Build from the config's globals map (keys already lowercased). */
    def fromGlobals(g: Map[String, String]): SanitizeOpts = {
      def on(k: String, dflt: Boolean): Boolean =
        g.get("parser." + k).map(_ == "on").getOrElse(dflt)
      SanitizeOpts(
        dropTrailingCr = on("droptrailingcronreception", dflt = false),
        escapeCC = on("escapecontrolcharactersonreceive", dflt = true),
        spaceLF = on("spacelfonreceive", dflt = false),
        escapeTab = on("escapecontrolcharactertab", dflt = true),
        escape8Bit = on("escape8bitcharactersonreceive", dflt = false),
        cStyle = on("escapecontrolcharacterscstyle", dflt = false),
        prefix = g.get("parser.controlcharacterescapeprefix")
          .filter(_.nonEmpty).map(_.charAt(0)).getOrElse('#'))
    }
  }

  /** Reception sanitize as a column transform, in runtime/parser.c
    * SanitizeMsg's order: the opt-in trailing-CR drop
    * (parser.dropTrailingCrOnReception, parser.c:372, default off per
    * glbl.c:1185 — tests/parser-drop-trailing-cr.sh), then control
    * characters < 32 escape as '#'+octal (default on per glbl.c:1186 —
    * tab included, DEL and 8-bit chars untouched). The trailing-LF drop
    * is inherent to the line sources. Reused by decodeSyslog and by input
    * bindings whose messages skip the parser chain (imfile default). */
  def sanitize(c: org.apache.spark.sql.Column,
               opts: SanitizeOpts = SanitizeOpts()): org.apache.spark.sql.Column = {
    val trimmed =
      if (opts.dropTrailingCr) regexp_replace(c, "\r$", "") else c
    if (opts == SanitizeOpts(dropTrailingCr = opts.dropTrailingCr))
      // the stock path (defaults) keeps the original mode-4 kernel
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.ControlCharExpr(
          org.apache.spark.sql.GraftBridge.expression(trimmed), 4))
    else if (!opts.escapeCC && !opts.spaceLF && !opts.escape8Bit)
      trimmed
    else
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.ReceptionSanitizeExpr(
          org.apache.spark.sql.GraftBridge.expression(trimmed),
          opts.spaceLF, opts.escapeCC, opts.escapeTab, opts.escape8Bit,
          opts.cStyle, opts.prefix))
  }

  /** global(maxMessageSize=) reception gate (submitMsg2,
    * tools/rsyslogd.c:1254-1280): an over-long raw message is reported
    * ("message too long (N) with configured size M, begin of message
    * is: <first 80 chars>" — an internal warning that flows through the
    * pipeline like any message, oversizemsg.report default on), then
    * TRUNCATED to the limit (default mode), SPLIT into limit-sized
    * segments each re-submitted, or ACCEPTED as-is
    * (oversizemsg.input.mode; tests/glbl-oversizeMsg-*.sh). Applied only
    * when the config sets maxMessageSize explicitly — the engine has no
    * inherent line cap to enforce. Character-based where the reference
    * counts bytes (identical on ASCII wire data). */
  def oversizeGate(df: DataFrame, maxLine: Int, mode: String = "truncate",
                   report: Boolean = true,
                   valueCol: String = "value"): DataFrame = {
    val len = length(col(valueCol))
    val reportRows =
      if (report)
        Some(df.filter(len > maxLine).withColumn(valueCol,
          concat(lit("message too long ("), len.cast("string"),
            lit(s") with configured size $maxLine, begin of message is: "),
            substring(col(valueCol), 1, 80))))
      else None
    val processed = mode match {
      case "split" =>
        df.withColumn(valueCol, explode(expr(
          s"transform(sequence(0, int(ceil(length($valueCol) / ${maxLine}.0)) - 1), " +
          s"i -> substring($valueCol, i * $maxLine + 1, $maxLine))")))
      case "accept" => df
      case _ => df.withColumn(valueCol,
        substring(col(valueCol), 1, maxLine))
    }
    reportRows.map(processed.unionByName(_)).getOrElse(processed)
  }

  /** Reception decode: sanitize `valueCol` into `rawmsg` under the
    * glbl parser.* options `sanitize` (stock: no trailing-CR drop,
    * control characters escaped), parse it with
    * `parse_syslog`, and flatten the parsed fields into LogEvent columns
    * (plus empty `vars_msg`/`vars_local`). `pri`, `facility` (`pri >> 3`)
    * and `severity` (`pri & 7`) come from the `syslog_pri` byte scan, not
    * from the parsed struct: Catalyst pushes a filter on them (a PRI
    * selector, a `stop` under one) below this projection by inlining
    * their expressions, so a filter on them costs a byte scan and the
    * full parse runs once, only on the rows that pass. A filter on any
    * other parsed field still inlines a copy of the parse. */
  def decodeSyslog(lines: DataFrame, valueCol: String = "value",
                   defaultYear: Int = 2024,
                   parseHostnameAndTag: Boolean = true,
                   sanitize: SanitizeOpts = SanitizeOpts()): DataFrame = {
    val sanitized = Sources.sanitize(col(valueCol), sanitize)
    val pri = rainer.syslog_pri(col("rawmsg"))
    lines
      .withColumn("rawmsg", sanitized)
      .withColumn("p", rainer.parse_syslog(col("rawmsg"), defaultYear,
        parseHostnameAndTag = parseHostnameAndTag))
      .select((lines.columns.filter(_ != valueCol).map(col) :+ col("rawmsg")) ++
        Seq("protocol_version", "pri", "facility", "severity", "ts", "hostname",
          "app_name", "procid", "msgid", "structured_data", "syslogtag",
          "programname", "msg", "parsesuccess").map {
          case "pri" => pri.as("pri")
          case "facility" => shiftright(pri, 3).as("facility")
          case "severity" => pri.bitwiseAND(7).as("severity")
          case f => col(s"p.$f").as(f)
        }: _*)
      .withColumn("vars_msg", lit("{}"))
      .withColumn("vars_local", lit("{}"))
  }

  /** omsendertrack state-file entry (plugins/omsendertrack/
    * omsendertrack.c writeSenderStats:438-443): the exact per-sender
    * object `{"sender":"x","messages":N,"firstseen":T,"lastseen":T}`
    * with epoch-second times. */
  def senderTrackEntry(sender: Column, messages: Column,
                       firstseen: Column, lastseen: Column): Column =
    concat(lit("{\"sender\":\""), sender,
      lit("\",\"messages\":"), messages.cast("string"),
      lit(",\"firstseen\":"), firstseen.cast("string"),
      lit(",\"lastseen\":"), lastseen.cast("string"), lit("}"))

  /** omsendertrack state-file image (writeSenderStats:420-453 +
    * the atomic tmp-rename persist): `[\n` + entries joined by `,\n` +
    * `\n]\n`; the empty table renders `[\n]\n`. The reference walks its
    * hashtable (non-semantic order); entries here sort by `orderCol` so
    * the image is deterministic. The collect is bounded by the sender
    * cardinality — the same bound the in-memory hashtable carries. */
  def senderTrackFile(entries: DataFrame, entryCol: Column,
                      orderCol: Column): DataFrame =
    entries
      .agg(concat_ws(",\n", transform(
        array_sort(collect_list(struct(orderCol.as("o"),
          entryCol.as("e")))),
        x => x.getField("e"))).as("body"))
      .select(when(length(col("body")) === 0, lit("[\n]\n"))
        .otherwise(concat(lit("[\n"), col("body"), lit("\n]\n")))
        .as("statefile"))

  /** imdiag injectmsg numeric-suffix frame (plugins/imdiag/imdiag.c
    * doInjectNumericSuffixMsg:298-305): `<167>Mar  1 01:00:00 192.0.2.8
    * tag msgnum:%8.8d:` — PRI 167 = local4.debug, the RFC 5737 TEST-NET-1
    * documentation address as hostname. These frames feed the NORMAL
    * submit path (doInjectMsg → submitMsg), so the Spark face is this
    * generator + the standard `decodeSyslog` chain; the TCP command
    * listener (injectmsg/waitmainqueueempty) is the test driver's
    * transport. `injectmsg literal <text>` ≡ passing any frame column. */
  def imdiagFrame(num: Column): Column =
    concat(lit("<167>Mar  1 01:00:00 192.0.2.8 tag msgnum:"),
      lpad(num.cast("string"), 8, "0"), lit(":"))

  /** omfile with dynafile semantics: the dynafile path template becomes
    * partition columns -- rsyslog's template-computed file path + LRU fd
    * cache (tools/omfile.c:276-319) IS partitioned-write in Spark. */
  def omfilePartitioned(df: DataFrame, outPath: String,
                        partitionCols: Seq[String], format: String = "parquet"): Unit =
    df.write.mode("append").partitionBy(partitionCols: _*)
      .format(format).save(outPath)

  /** omfile static-file batch sink (tools/omfile.c:276-319 appends each
    * rendered message to an open file): write the string column `lineCol`
    * to the directory `outPath`, one `part-NNNNN` file per non-empty
    * partition, named by partition index, so the sorted part files
    * concatenate to the frame's order. A record is written as its bytes
    * plus LF unless they already end in LF, so a template that ends in LF
    * is written exactly; a null record is a bare LF. Tasks write into a
    * hidden sibling `.<name>.<uuid>.tmp`; after the job succeeds the old
    * directory is deleted and the new one renamed into place, and on
    * failure the old output stays. Local files only, as omfile: a path
    * with a scheme other than `file:` is an IllegalArgumentException. */
  def omfileText(df: DataFrame, lineCol: String, outPath: String): Unit =
    OmfileText.write(df, lineCol, outPath)

  /** Shape a frame to the Spark Kafka SINK contract (topic/key/value) —
    * the pure, broker-free half of omkafka. dynatopic == the `topic`
    * column (plugins/omkafka dynatopic param); `keyCol` is omkafka's
    * partitioning key (`key` param), None = sticky partitioner. Split out
    * from the writer so the protocol shaping is testable in a sandbox
    * with no broker and no kafka connector jar.
    */
  def kafkaSinkFrame(ds: DataFrame, topicCol: String, valueCol: String,
                     keyCol: Option[String] = None): DataFrame = {
    val base = Seq(col(topicCol).cast("string").as("topic"),
      col(valueCol).cast("string").as("value"))
    ds.select(keyCol.map(k => base :+ col(k).cast("string").as("key"))
      .getOrElse(base): _*)
  }

  /** omkafka config builder (native Kafka sink). */
  def omkafka(ds: DataFrame, brokers: String, topicCol: String,
              valueCol: String): DataStreamWriter[Row] =
    kafkaSinkFrame(ds, topicCol, valueCol)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)

  /** omelasticsearch bulk shaping — the broker-free half of the ES sink
    * (the `kafkaSinkFrame` pattern): each record becomes its bulk-API
    * pair, an action metadata line (`{"index":{"_index":"...","_id":
    * "..."}}`, plugins/omelasticsearch/omelasticsearch.c:88-94
    * META_STRT/META_ID; writeoperation="create" swaps the verb) plus the
    * rendered document line. `dynSearchIndex` ≡ the index coming from a
    * per-record column. The transport (HTTP POST /_bulk, retry,
    * per-item status check → dead-letter) is ReliableSink's pattern,
    * exercised by `dead_letter`.
    */
  def esBulkFrame(ds: DataFrame, indexCol: String, docCol: String,
                  idCol: Option[String] = None,
                  create: Boolean = false,
                  keep: Seq[String] = Nil): DataFrame = {
    val verb = if (create) "create" else "index"
    // JSON-escape the index/id values by routing them through to_json of
    // a one-field struct, then strip the wrapper — no hand escaping
    // (numeric ids stay unquoted). Null values must not reach to_json
    // (null struct fields are dropped, yielding "{}" and a malformed
    // action line): null index falls back to the ES default index name,
    // null id to "".
    def jsonStr(c: Column, dflt: String): Column = {
      val j = to_json(struct(c.as("v")))
      // {"v":...} → ...
      when(c.isNull, lit("\"" + dflt + "\""))
        .otherwise(j.substr(lit(6), length(j) - 6))
    }
    val action = concat(
      lit(s"""{"$verb":{"_index":"""), jsonStr(col(indexCol), "system"),
      idCol.map(ic => concat(lit(""","_id":"""), jsonStr(col(ic), "")))
        .getOrElse(lit("")),
      lit("}}"))
    ds.select(keep.map(col) :+
      concat(action, lit("\n"), col(docCol)).as("bulk"): _*)
  }

  /** omelasticsearch bulkmode request packing (omelasticsearch.c
    * checkSubmitToES / maxbytes, tests/es-maxbytes-bulk.sh): greedy
    * byte-capped batching of action+doc pairs into newline-framed _bulk
    * request bodies, per index key in record order — the shared
    * greedyPack flush rules. */
  def esBulkBatches(pairs: DataFrame, keyCol: String, ordCol: String,
                    bulkCol: String = "bulk",
                    maxBytes: Long = 100L * 1024 * 1024): DataFrame =
    CloudSinks.greedyPack(pairs, keyCol, ordCol, bulkCol,
      maxPayloadBytes = maxBytes, sep = "\n", suffix = "\n")

  /** omhttp batch serialization — the transport-free half of the HTTP
    * sink (contrib/omhttp/omhttp.c): rendered messages grouped into
    * batches, one output row per batch:
    *
    *   - "newline":   join with '\n' (serializeBatchNewline, :1777)
    *   - "jsonarray": `[m1,m2,...]` (serializeBatchJsonArray, :1745)
    *   - "kafkarest": `{"records":[{"value":m1},...]}` (:1627-1688)
    *   - "lokirest":  `{"streams":[m1,...]}` (:1688-1740)
    *
    * The three JSON formats parse each message and DROP unparseable
    * ones (fjson_tokener_parse NULL → continue). Messages here are
    * compact JSON (our template render) and the reference re-serializes
    * with FJSON_TO_STRING_PLAIN (also compact, key order preserved), so
    * textual splicing is byte-equal and the drop check is
    * try_parse_json. The reference batches per worker up to
    * maxbatchsize (omhttp.c:2267); here the batch key is an explicit
    * column (derive it from any bounded grouping, e.g. id div N), so
    * batches are deterministic and assembly is ONE map-side-combinable
    * shuffle on batchIdCol. Within-batch order follows orderCol (the
    * reference preserves arrival order). */
  def omhttpBatch(ds: DataFrame, msgCol: String, batchIdCol: String,
                  orderCol: String, format: String = "newline"): DataFrame = {
    require(Set("newline", "jsonarray", "kafkarest", "lokirest")(format),
      s"omhttp batch.format $format")  // VALID_BATCH_FORMATS, omhttp.c:126
    // collect_list skips nulls, so the parse-drop rides the same agg
    val kept = if (format == "newline") col(msgCol)
               else when(try_parse_json(col(msgCol)).isNotNull, col(msgCol))
    val batched = ds.groupBy(col(batchIdCol))
      .agg(array_sort(collect_list(struct(col(orderCol).as("o"),
        kept.as("m")))).as("s"))
      .withColumn("msgs", transform(col("s"), _.getField("m"))).drop("s")
    val body = format match {
      case "newline" => array_join(col("msgs"), "\n")
      case "jsonarray" =>
        concat(lit("["), array_join(col("msgs"), ","), lit("]"))
      case "kafkarest" => concat(lit("{\"records\":["),
        array_join(transform(col("msgs"),
          m => concat(lit("{\"value\":"), m, lit("}"))), ","),
        lit("]}"))
      case "lokirest" => concat(lit("{\"streams\":["),
        array_join(col("msgs"), ","), lit("]}"))
    }
    batched.select(col(batchIdCol), body.as("batch"))
  }

  /** omjournal send shaping — journal fields as an export-format entry
    * (the transport-free half of plugins/omjournal/omjournal.c). The
    * non-template field set (send_non_template_message, :290-302):
    * MESSAGE, PRIORITY = facility*8|severity (the reference passes the
    * full PRI value here, not the bare severity journald expects — a
    * faithfully-reproduced quirk), SYSLOG_FACILITY, SYSLOG_IDENTIFIER =
    * the syslogtag. Template mode (send_template_message/build_iovec,
    * :186-230) turns each key of the rendered JSON object into its own
    * FIELD=value line instead. An entry round-trips through
    * imjournalDecode (modulo the PRIORITY quirk, whose 0-7 bounds check
    * then applies its default). */
  def omjournalFrame(ds: DataFrame, msgCol: String = "msg",
                     facilityCol: String = "facility",
                     severityCol: String = "severity",
                     tagCol: String = "syslogtag"): DataFrame =
    ds.withColumn("journal_entry", concat(
      lit("MESSAGE="), coalesce(col(msgCol), lit("")),
      lit("\nPRIORITY="), col(facilityCol) * 8 + col(severityCol),
      lit("\nSYSLOG_FACILITY="), col(facilityCol),
      lit("\nSYSLOG_IDENTIFIER="), coalesce(col(tagCol), lit(""))))

  /** json-c string escape in Column form (json_escape_str: short forms
    * for the common control escapes, backslash, quote; our upstream
    * sanitize has already escaped other control bytes). */
  private def jsonCEscape(c: Column): Column = {
    val noNull = coalesce(c.cast("string"), lit(""))
    val esc = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t")
    esc.foldLeft(noNull) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to)) }
  }

  /** omotel OTLP/HTTP JSON export shaping — the transport-free half of
    * plugins/omotel (otlp_json.c omotel_json_build_export; HTTP POST to
    * endpoint+path, gzip, retry/backoff are ReliableSink's pattern).
    * Each output row is one export payload: records are batched per
    * `batchIdCol` in `orderCol` order, capped at `maxItems` per payload
    * (batch.max_items, default 512, omotel.c:502; batch.max_bytes /
    * batch.timeout.ms are queue-time concerns Spark's trigger owns).
    *
    * Payload shape per the builder: one resourceLogs entry whose
    * resource carries the fixed sdk attributes (+ custom resource
    * attributes, + host.name ONLY when every record in the payload
    * shares the same non-empty hostname, otlp_json.c:341-368), one
    * scope ("rsyslog.omotel"/version), then logRecords each with
    * proto3-JSON string timestamps (timeUnixNano from timereported,
    * observedTimeUnixNano from timegenerated when present), the
    * severity mapping {emerg→24 EMERGENCY … debug→5 DEBUG}
    * (severity_lookup, omotel.c:498-500), body.stringValue = the
    * rendered body template (default RSYSLOG_FileFormat, omotel.c:2747),
    * optional validated traceId/spanId (32/16 hex, omotel.c:1347-1380),
    * and the log.syslog.* attributes in builder order — appname, procid,
    * msgid (skipped when empty), facility (always), hostname (when
    * non-empty). Rendered in json-c SPACED form like the reference's
    * fjson_object_to_json_string.
    *
    * Scale: one shuffle for the per-batch row_number + one for the
    * groupBy; payloads are bounded by maxItems so no group can exceed
    * ~maxItems×msgsize bytes.
    */
  def omotelExport(ds: DataFrame,
                   bodyCol: String, hostCol: String, appCol: String,
                   procidCol: String, msgidCol: String,
                   facilityCol: String, severityCol: String,
                   tsCol: String, observedTsCol: Option[String],
                   batchIdCol: String, orderCol: String,
                   maxItems: Int = 512,
                   sdkVersion: String = "8.2608.0.daily",
                   resourceAttrs: Seq[(String, String)] = Nil,
                   traceIdCol: Option[String] = None,
                   spanIdCol: Option[String] = None): DataFrame = {
    require(maxItems > 0, "batch.max_items must be positive")
    def strAttr(key: String, v: Column): Column =
      when(v.isNotNull && v.cast("string") =!= "",
        concat(lit("{ \"key\": \"" + key + "\", \"value\": { \"stringValue\": \""),
          jsonCEscape(v), lit("\" } }")))
    def intAttr(key: String, v: Column): Column =
      concat(lit("{ \"key\": \"" + key + "\", \"value\": { \"intValue\": "),
        v.cast("long"), lit(" } }"))
    val sevNum = element_at(
      array(Seq(24, 23, 22, 17, 13, 11, 9, 5).map(lit): _*),
      col(severityCol).cast("int") + 1)
    val sevText = element_at(
      array(Seq("EMERGENCY", "ALERT", "CRITICAL", "ERROR", "WARNING",
        "NOTICE", "INFO", "DEBUG").map(lit): _*),
      col(severityCol).cast("int") + 1)
    val tUnixNano = (unix_micros(col(tsCol)) * 1000L).cast("string")
    val obsSeg = observedTsCol.map(o =>
      coalesce(concat(lit(", \"observedTimeUnixNano\": \""),
        (unix_micros(col(o)) * 1000L).cast("string"), lit("\"")), lit("")))
      .getOrElse(lit(""))
    val traceSeg = traceIdCol.map(t =>
      coalesce(when(col(t).rlike("^[0-9a-fA-F]{32}$"),
        concat(lit(", \"traceId\": \""), col(t), lit("\""))), lit("")))
      .getOrElse(lit(""))
    val spanSeg = spanIdCol.map(t =>
      coalesce(when(col(t).rlike("^[0-9a-fA-F]{16}$"),
        concat(lit(", \"spanId\": \""), col(t), lit("\""))), lit("")))
      .getOrElse(lit(""))
    val attrs = array_join(filter(array(
      strAttr("log.syslog.appname", col(appCol)),
      strAttr("log.syslog.procid", col(procidCol)),
      strAttr("log.syslog.msgid", col(msgidCol)),
      intAttr("log.syslog.facility", col(facilityCol)),
      strAttr("log.syslog.hostname", col(hostCol))), _.isNotNull), ", ")
    val rec = concat(
      lit("{ \"timeUnixNano\": \""), tUnixNano, lit("\""), obsSeg,
      lit(", \"severityNumber\": "), sevNum,
      lit(", \"severityText\": \""), sevText, lit("\""),
      lit(", \"body\": { \"stringValue\": \""), jsonCEscape(col(bodyCol)),
      lit("\" }"), traceSeg, spanSeg,
      lit(", \"attributes\": [ "), attrs, lit(" ] }"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(batchIdCol)).orderBy(col(orderCol))
    val fixedRes =
      "{ \"key\": \"service.name\", \"value\": { \"stringValue\": \"rsyslog\" } }, " +
      "{ \"key\": \"telemetry.sdk.name\", \"value\": { \"stringValue\": \"rsyslog-omotel\" } }, " +
      "{ \"key\": \"telemetry.sdk.language\", \"value\": { \"stringValue\": \"C\" } }, " +
      "{ \"key\": \"telemetry.sdk.version\", \"value\": { \"stringValue\": \"" +
      sdkVersion + "\" } }" +
      resourceAttrs.map { case (k, v) =>
        ", { \"key\": \"" + k + "\", \"value\": { \"stringValue\": \"" + v + "\" } }"
      }.mkString
    val batched = ds
      .withColumn("__chunk",
        ((row_number().over(wnd) - 1) / maxItems).cast("long"))
      .groupBy(col(batchIdCol), col("__chunk").as("chunk"))
      .agg(
        array_sort(collect_list(struct(col(orderCol).as("o"), rec.as("r"))))
          .as("s"),
        (min(col(hostCol)) === max(col(hostCol)) &&
          sum(when(col(hostCol).isNull || col(hostCol).cast("string") === "",
            1).otherwise(0)) === 0).as("__same_host"),
        min(col(hostCol)).cast("string").as("__host0"),
        count(lit(1)).as("n_records"))
    val resAttrs = concat(lit(fixedRes),
      when(col("__same_host"),
        concat(lit(", { \"key\": \"host.name\", \"value\": { \"stringValue\": \""),
          jsonCEscape(col("__host0")), lit("\" } }"))).otherwise(lit("")))
    batched.select(col(batchIdCol), col("chunk"),
      concat(
        lit("{ \"resourceLogs\": [ { \"resource\": { \"attributes\": [ "),
        resAttrs,
        lit(" ] }, \"scopeLogs\": [ { \"scope\": { \"name\": \"rsyslog.omotel\", \"version\": \"" +
          sdkVersion + "\" }, \"logRecords\": [ "),
        array_join(transform(col("s"), _.getField("r")), ", "),
        lit(" ] } ] } ] }")).as("payload"),
      col("n_records"))
  }

  /** imbeats (Lumberjack v2 / Beats transport) session decode — the
    * transport-free half of plugins/imbeats: each input row carries one
    * session's received bytes (`valueCol`, binary) plus provenance;
    * output is one row per JSON data event. Framing and guards live in
    * [[graft.functions.LumberjackBatchExpr]]; a malformed or
    * guard-tripping stream, or any payload that is not valid JSON,
    * rejects the WHOLE session row (sessionValidateBatch's
    * validate-complete-batch-first rule, imbeats.c:786-815; rejected
    * sessions surface on `beats_valid` = false with no events).
    *
    * Event mapping (imbeats.c:660-731): rawmsg = msg = the JSON payload
    * (MsgSetRawMsg + MSGoffs 0), the payload object merged into `$!`
    * root, and `$!metadata!imbeats` = {protocol: "lumberjack-v2",
    * sequence, tls_enabled, peer_hostname/peer_ip/peer_port when known};
    * PRI stays the default 13 (imbeats never calls msgSetPRI),
    * hostname = the session peer. ACK emission (`2A` + seq,
    * imbeats.c:824) is the transport's reply channel. */
  def imbeatsDecode(sessions: DataFrame, valueCol: String = "value",
                    tlsEnabled: Boolean = false,
                    maxWindowSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val evs = column(graft.functions.LumberjackBatchExpr(
      expression(col(valueCol)), maxWindowSize = maxWindowSize))
    val withProv0 =
      if (sessions.columns.contains("inputname")) sessions
      else sessions.withColumn("inputname", lit("imbeats"))
    val withProv =
      if (withProv0.columns.contains("fromhost")) withProv0
      else withProv0.withColumn("fromhost",
        lit(java.net.InetAddress.getLocalHost.getHostName))
    val staged = withProv
      .withColumn("__evs", evs)
      .withColumn("beats_valid", col("__evs").isNotNull &&
        forall(col("__evs"),
          e => try_parse_json(e.getField("payload")).isNotNull))
    val passthrough = staged.columns
      .filterNot(c => c == valueCol || c.startsWith("__")).map(col)
    val meta = to_json(struct(
      lit("lumberjack-v2").as("protocol"),
      col("__e.seq").as("sequence"),
      lit(tlsEnabled).as("tls_enabled"),
      col("fromhost").as("peer_hostname")))
    // explode_outer: a rejected (or event-less) session keeps one row
    // with null seq/payload so the drop is observable via beats_valid
    staged
      .withColumn("__e",
        explode_outer(when(col("beats_valid"), col("__evs"))))
      .select(passthrough ++ Seq[Column](
        col("__e.seq").as("seq"),
        col("__e.payload").as("rawmsg"),
        lit(13).as("pri"), lit(1).as("facility"), lit(5).as("severity"),
        col("fromhost").as("hostname"),
        col("__e.payload").as("msg"),
        lit(true).as("parsesuccess"),
        graft.functions.rainer.json_merge(col("__e.payload"),
          concat(lit("{\"metadata\":{\"imbeats\":"), meta, lit("}}")))
          .as("vars_msg"),
        lit("{}").as("vars_local")): _*)
  }

  /** ommongodb default document shaping — the lumberjack/cee-aligned
    * standard document built when no template is configured
    * (plugins/ommongodb/ommongodb.c getDefaultBSON:280-362), as a JSON
    * column in BSON field order: sys (hostname), time / time_rcvd
    * (BSON datetimes = epoch MILLIS, ms-truncated like the secfrac
    * rescale at :317-334), msg, syslog_fac, syslog_sever, syslog_tag,
    * then the reference's swapped pair — `procid` carries PROGRAMNAME
    * and `pid` carries PROCID (getDefaultBSON:302-306, a
    * backward-compat quirk the module keeps deliberately) — and the
    * lumberjack `level` from severity (getLumberjackLevel:243-261).
    * The client-generated `_id` ObjectId is the transport's concern
    * (template mode = any rendered JSON template via OMSR_TPL_AS_JSON,
    * already covered by the template compiler). */
  def ommongodbDoc(ds: DataFrame, hostCol: String = "hostname",
                   tsCol: String = "ts", rcvdCol: String = "ts",
                   msgCol: String = "msg", facilityCol: String = "facility",
                   severityCol: String = "severity",
                   tagCol: String = "syslogtag",
                   programCol: String = "programname",
                   procidCol: String = "procid"): DataFrame = {
    val level = element_at(array(Seq("FATAL", "ERROR", "ERROR", "ERROR",
      "WARN", "INFO", "INFO", "DEBUG").map(lit): _*),
      col(severityCol).cast("int") + 1)
    ds.withColumn("mongo_doc", to_json(struct(
      col(hostCol).cast("string").as("sys"),
      (unix_micros(col(tsCol)) / 1000L).cast("long").as("time"),
      (unix_micros(col(rcvdCol)) / 1000L).cast("long").as("time_rcvd"),
      col(msgCol).cast("string").as("msg"),
      col(facilityCol).cast("int").as("syslog_fac"),
      col(severityCol).cast("int").as("syslog_sever"),
      col(tagCol).cast("string").as("syslog_tag"),
      col(programCol).cast("string").as("procid"),
      col(procidCol).cast("string").as("pid"),
      coalesce(level, lit("INVLD")).as("level"))))
  }

  /** ommail message shaping — the RFC822 DATA payload the SMTP/sendmail
    * transports write (plugins/ommail/ommail.c writeMailMessage:639-664):
    * `Date:` in the module's own SMTP timestamp format (space-padded
    * day, always +0000, mkSMTPTimestamp:488-500) from the caller's
    * `now`, `From: <f>`, one `To:` header with every recipient
    * (writeTos:544-560), `Subject:` with raw CR/LF normalized to spaces
    * (write_header_value:563-594 header-injection guard),
    * `X-Mailer: rsyslog-ommail`, blank line, then the body with SMTP
    * dot-stuffing: a leading '.' is doubled only at message start or
    * after a strict CRLF (bodyWrite:598-636 tracks CR-then-LF;
    * a bare LF does NOT reopen start-of-line). body.enable="off" sends
    * headers only (SMS-gateway mode); the envelope (HELO/MAIL FROM/RCPT
    * TO/QUIT, sendSMTP:670-709) is the transport's concern. `now` must
    * be a UTC timestamp. */
  def ommailMessage(ds: DataFrame, bodyCol: String, subjectCol: String,
                    from: String, to: Seq[String],
                    now: Column,
                    bodyEnable: Boolean = true,
                    escapeDot: Boolean = true): DataFrame = {
    require(to.nonEmpty, "ommail needs at least one mailto")
    val days = array(Seq("Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat")
      .map(lit): _*)
    val months = array(Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
      "Jul", "Aug", "Sep", "Oct", "Nov", "Dec").map(lit): _*)
    val dateHdr = concat(lit("Date: "),
      element_at(days, dayofweek(now)), lit(", "),
      lpad(dayofmonth(now).cast("string"), 2, " "), lit(" "),
      element_at(months, month(now)), lit(" "),
      lpad(year(now).cast("string"), 4, " "), lit(" "),
      date_format(now, "HH:mm:ss"), lit(" +0000\r\n"))
    val subject = regexp_replace(
      coalesce(col(subjectCol).cast("string"), lit("")), "[\r\n]", " ")
    val body0 = coalesce(col(bodyCol).cast("string"), lit(""))
    val body =
      if (!escapeDot) body0
      else regexp_replace(body0, "(\\A|\r\n)\\.", "$1..")
    val headers = concat(dateHdr,
      lit("From: <" + from + ">\r\n"),
      lit("To: " + to.map(t => s"<$t>").mkString(", ") + "\r\n"),
      lit("Subject: "), subject, lit("\r\n"),
      lit("X-Mailer: rsyslog-ommail\r\n\r\n"))
    ds.withColumn("mail_message",
      if (bodyEnable) concat(headers, body) else headers)
  }

  /** omstdout line shaping (plugins/omstdout/omstdout.c:79: template
    * render + ensureLFEnding appending a missing trailing LF) — the
    * console sink is the driver/collector's concern. */
  def omstdoutLine(rendered: Column, ensureLfEnding: Boolean = true): Column =
    if (!ensureLfEnding) rendered
    else when(rendered.endsWith("\n"), rendered)
      .otherwise(concat(rendered, lit("\n")))

  /** mmdarwin call shaping — the field-extraction half of
    * contrib/mmdarwin (doAction, mmdarwin.c:~700-800): each configured
    * field that starts with `!` or `.` is read from the message's JSON
    * tree (rendered like the reference's property fetch: strings bare,
    * scalars by literal), anything else is forwarded as a literal;
    * missing dynamic fields are skipped. The call body is
    * `[["v1","v2",...]]` with raw unescaped quote-wrapping — faithfully
    * reproducing add_field_to_body (mmdarwin.c:343-371), which does NOT
    * escape embedded quotes. No fields retrieved, or a partial set with
    * send_partial=off (the default), suppresses the call (null body,
    * vars untouched). The Darwin daemon itself is an external scorer
    * behind a UNIX socket (the mmexternal-style boundary): `scoreCol`
    * injects its uint32 certitude response, stored under
    * `$!<certitudeKey>` only for rows that sent a body. */
  def mmdarwinCall(ds: DataFrame, fields: Seq[String], scoreCol: Column,
                   varsCol: String = "vars_msg",
                   certitudeKey: String = "certitude",
                   sendPartial: Boolean = false): DataFrame = {
    require(fields.nonEmpty, "mmdarwin needs fields=[...]")
    val vals: Seq[Column] = fields.map { f =>
      if (f.startsWith("!") || f.startsWith("."))
        graft.functions.rainer.json_render(col(varsCol),
          f.drop(1).replace('!', '.'))
      else lit(f)
    }
    val arr = filter(array(vals.map(v =>
      when(v.isNotNull, concat(lit("\""), v, lit("\"")))): _*), _.isNotNull)
    val nRetrieved = size(arr)
    val complete = nRetrieved === fields.length
    val body = when(nRetrieved > 0 && (if (sendPartial) lit(true) else complete),
      concat(lit("[["), array_join(arr, ","), lit("]]")))
    ds.withColumn("darwin_body", body)
      .withColumn(varsCol,
        when(col("darwin_body").isNotNull,
          graft.functions.rainer.json_set(col(varsCol), certitudeKey,
            scoreCol.cast("long")))
        .otherwise(col(varsCol)))
  }

  /** omsnmp trap shaping — the PDU content the net-snmp transport
    * serializes (plugins/omsnmp/omsnmp.c omsnmp_sendsnmp:270-380), as a
    * JSON `snmp_trap` column. v1 (SNMP_MSG_TRAP): enterprise OID
    * (default 1.3.6.1.4.1.3.1.1), trap_type (default 6 =
    * enterprise-specific), specific_type (default 0), uptime, and
    * agent_addr from the source IPv4 — byte order faithfully reproduces
    * the reference's ntohl-then-index quirk (omsnmp.c:317-321:
    * agent_addr[0] gets the LAST octet, so "1.2.3.4" → [4,3,2,1]); an
    * unparsable source leaves [0,0,0,0] (LogError-and-continue path).
    * v2c (SNMP_MSG_TRAP2): sysUpTime.0 ('t'), snmpTrapOID.0 ('o',
    * default 1.3.6.1.4.1.19406.1.2.1). Both end with the
    * syslogMessageOID ('s', default 1.3.6.1.4.1.19406.1.1.2.1) varbind
    * carrying the rendered message. Uptime is process state → injected
    * (`uptime`), default 0. */
  def omsnmpTrapFrame(ds: DataFrame, msgCol: String, sourceCol: String,
                      version: Int = 1,
                      enterpriseOid: String = "1.3.6.1.4.1.3.1.1",
                      trapOid: String = "1.3.6.1.4.1.19406.1.2.1",
                      syslogMessageOid: String = "1.3.6.1.4.1.19406.1.1.2.1",
                      trapType: Int = 6, specificType: Int = 0,
                      uptime: Column = lit(0L)): DataFrame = {
    require(version == 1 || version == 2, "omsnmp: version 1 or 2c only")
    val msgVb = struct(lit(syslogMessageOid).as("oid"), lit("s").as("type"),
      coalesce(col(msgCol).cast("string"), lit("")).as("value"))
    val doc = if (version == 1) {
      val octets = split(col(sourceCol), "\\.")
      val addr = when(col(sourceCol)
          .rlike("^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$"),
        array(element_at(octets, 4).cast("int"),
          element_at(octets, 3).cast("int"),
          element_at(octets, 2).cast("int"),
          element_at(octets, 1).cast("int")))
        .otherwise(array(lit(0), lit(0), lit(0), lit(0)))
      struct(lit(1).as("version"), lit(enterpriseOid).as("enterprise"),
        lit(trapType).as("trap_type"), lit(specificType).as("specific_type"),
        uptime.cast("long").as("uptime"), addr.as("agent_addr"),
        array(msgVb).as("varbinds"))
    } else {
      struct(lit(2).as("version"), array(
        struct(lit("1.3.6.1.2.1.1.3.0").as("oid"), lit("t").as("type"),
          uptime.cast("string").as("value")),
        struct(lit("1.3.6.1.6.3.1.1.4.1.0").as("oid"), lit("o").as("type"),
          lit(trapOid).as("value")),
        msgVb).as("varbinds"))
    }
    ds.withColumn("snmp_trap", to_json(doc))
  }

  /** omhiredis command shaping — the Redis command each mode appends to
    * the pipeline (contrib/omhiredis/omhiredis.c writeHiredis:366-425),
    * as the space-joined command text the reference's
    * `redisAppendCommand(conn, "VERB %s %s", key, message)` format
    * produces. Modes: "template" (the rendered message IS the command),
    * "queue" (LPUSH, or RPUSH with useRPush — omhiredis.c:386), "publish"
    * (PUBLISH), "set" (SET, or SETEX with expiration>0 — :372-377),
    * "stream" (XADD key [MAXLEN ~ N] * outField msg — :407-413;
    * outField default "msg", omhiredis.c:700). `key` is a Column so
    * dynaKey (key=template) is the caller passing a computed column —
    * same split the reference makes at omhiredis.c:83. The connection,
    * AUTH and pipeline flush are the hiredis transport (foreachBatch
    * boundary); the command text is the engine's output contract.
    */
  def hiredisCommand(message: Column, mode: String, key: Column = lit(null),
                     useRPush: Boolean = false, expiration: Int = 0,
                     streamOutField: String = "msg",
                     streamCapacityLimit: Int = 0): Column = mode match {
    case "template" => message
    case "queue" =>
      concat_ws(" ", lit(if (useRPush) "RPUSH" else "LPUSH"), key, message)
    case "publish" => concat_ws(" ", lit("PUBLISH"), key, message)
    case "set" =>
      if (expiration > 0)
        concat_ws(" ", lit("SETEX"), key, lit(expiration), message)
      else concat_ws(" ", lit("SET"), key, message)
    case "stream" =>
      if (streamCapacityLimit != 0)
        concat_ws(" ", lit("XADD"), key, lit("MAXLEN ~"),
          lit(streamCapacityLimit), lit("*"), lit(streamOutField), message)
      else concat_ws(" ", lit("XADD"), key, lit("*"),
        lit(streamOutField), message)
    case other =>
      throw new IllegalArgumentException(
        s"omhiredis: unsupported mode '$other' (omhiredis.c:623-637)")
  }

  /** omrabbitmq publish shaping — the AMQP basic.publish content
    * (contrib/omrabbitmq/omrabbitmq.c doAction:845-933) as a JSON
    * `amqp_publish` column: exchange, routing_key (fixed or
    * template-computed — :879-881), body (rendered template, or rawmsg
    * when no body template — :855-860), and with populateProperties the
    * reference's property mapping (:866-916): timestamp = message time
    * (epoch secs), app_id = syslogtag (AMQP standard prop), and custom
    * headers facility/severity/hostname/fromhost as text — each only
    * when non-empty (`if (val[i] && *val[i])`, :899). delivery_mode:
    * 1=transient, 2=persistent (:127). The amqp-c connection/channel
    * machinery is transport (foreachBatch boundary).
    */
  def rabbitPublishFrame(ds: DataFrame, exchange: String, routingKey: Column,
                         bodyCol: Column, contentType: String = "",
                         deliveryMode: Int = 2,
                         populateProperties: Boolean = false,
                         tsCol: Column = col("ts"),
                         tagCol: Column = col("syslogtag"),
                         facilityTextCol: Column = lit(null),
                         severityTextCol: Column = lit(null),
                         hostnameCol: Column = lit(null),
                         fromhostCol: Column = lit(null)): DataFrame = {
    val nonEmpty = (c: Column) => when(c.isNotNull && length(c) > 0, c)
    val props =
      if (populateProperties)
        struct(
          lit(contentType).as("content_type"),
          lit(deliveryMode).as("delivery_mode"),
          unix_timestamp(tsCol).as("timestamp"),
          nonEmpty(tagCol).as("app_id"),
          struct(
            nonEmpty(facilityTextCol).as("facility"),
            nonEmpty(severityTextCol).as("severity"),
            nonEmpty(hostnameCol).as("hostname"),
            nonEmpty(fromhostCol).as("fromhost")).as("headers"))
      else
        struct(lit(contentType).as("content_type"),
          lit(deliveryMode).as("delivery_mode"))
    ds.withColumn("amqp_publish", to_json(struct(
      lit(exchange).as("exchange"),
      routingKey.as("routing_key"),
      props.as("properties"),
      bodyCol.as("body"))))
  }

  /** omczmq PUB fan-out shaping — one output row per (message, topic)
    * with the wire payload (contrib/omczmq/omczmq.c outputCZMQ:228-284):
    * topicFrame=true sends [topic, msg] as two ZMQ frames
    * (`zstr_sendx`), modeled as a 2-element `frames` array; false
    * concatenates topic+msg into one frame (`zstr_sendf("%s%s")`),
    * modeled as a 1-element array. A non-PUB socket (or no topics) sends
    * just the rendered message — pass topics=Nil. dynaTopic ≡ passing
    * computed topic columns. The zsock/CURVE machinery is transport.
    */
  def czmqFrames(ds: DataFrame, msgCol: Column, topics: Seq[Column],
                 topicFrame: Boolean = true): DataFrame =
    if (topics.isEmpty)
      ds.withColumn("frames", array(msgCol))
    else {
      val perTopic = topics.map { t =>
        if (topicFrame) array(t, msgCol) else array(concat(t, msgCol))
      }
      // one send per topic, in the configured topic-list order
      // (omczmq.c:246-283 walks the zlist per message)
      ds.withColumn("frames", explode(array(perTopic: _*)))
    }

  /** mmaitag classification fold — the variable-store half of
    * plugins/mmaitag (doAction, mmaitag.c:120-148): the configured
    * input property (default: raw msg) goes to an external provider,
    * whose label lands as a string under `tag` (default ".aitag" →
    * `$.aitag`; a leading "$" is stripped at config parse,
    * mmaitag.c:169). The provider itself is the External boundary (an
    * HTTP service behind ai_provider.h); `labelCol` injects its
    * response. A null label (provider error path) leaves the tree
    * untouched — the reference only calls msgAddJSON when
    * `tags && tags[0]` (mmaitag.c:137).
    */
  def mmaitagFold(ds: DataFrame, labelCol: Column,
                  tag: String = ".aitag"): DataFrame = {
    val cleanTag = if (tag.startsWith("$")) tag.drop(1) else tag
    // path stays '!'-separated (msgAddJSON name syntax; JsonPathUtil
    // splits on '!')
    val (varsCol, path) =
      if (cleanTag.startsWith("!")) ("vars_msg", cleanTag.drop(1))
      else if (cleanTag.startsWith(".")) ("vars_local", cleanTag.drop(1))
      else ("vars_local", cleanTag)
    ds.withColumn(varsCol,
      when(labelCol.isNotNull,
        rainer.json_set(col(varsCol), path, labelCol))
      .otherwise(col(varsCol)))
  }

  /** The GEMINI_MOCK_RESPONSE provider (ai_provider_gemini_mock.c
    * gemini_classify_batch:75-118): labels come from a comma-separated
    * list consumed SEQUENTIALLY across calls, falling back to "REGULAR"
    * when the list runs dry. The batch face: row N (by `orderCol` rank)
    * takes list element N. Deterministic like the reference's
    * static-counter mock — this is the test/verification provider, not
    * a network call.
    *
    * SCALE CONSTRAINT: the global rank (Window.orderBy with no
    * partitionBy) collapses the frame into ONE partition — inherent to
    * the mock's sequential-counter semantics, fine for the bounded
    * verification frames it serves, but do NOT reuse on a full-size
    * frame; a real provider boundary is a per-batch map, not a rank.
    */
  def mmaitagMockLabels(mockResponse: String, orderCol: Column): Column = {
    val labels = mockResponse.split(",").toSeq
    val arr = array(labels.map(l => lit(l.trim)): _*)
    val rank = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
    coalesce(try_element_at(arr, row_number().over(rank)), lit("REGULAR"))
  }

  /** imkafka decode: a Kafka-SOURCE-shaped frame (the Spark kafka source
    * contract: key/value binary + topic/partition/offset/timestamp) to
    * decoded pipeline rows with imkafka's provenance (inputname=imkafka,
    * plugins/imkafka/imkafka.c msgConsume; offset/partition kept the way
    * imfile keeps file/line provenance). Works identically on the real
    * `readStream.format("kafka")` output and on a synthesized frame — the
    * connector only changes who PRODUCES the contract columns.
    */
  def imkafkaDecode(kafka: DataFrame, defaultYear: Int = 2024): DataFrame = {
    val lines = kafka.select(
      col("value").cast("string").as("value"),
      lit("imkafka").as("inputname"),
      col("topic").cast("string").as("topic"),
      col("partition").cast("int").as("partition"),
      col("offset").cast("long").as("offset"))
    decodeSyslog(lines, defaultYear = defaultYear)
  }

  /** imjournal decode: systemd journal EXPORT-format entries — one entry
    * per row (e.g. `spark.read.option("lineSep", "\n\n").text(...)`) —
    * to decoded pipeline rows. Field mapping per
    * plugins/imjournal/imjournal.c readjournal():
    *
    *  - MESSAGE → msg (missing MESSAGE submits an empty message);
    *  - PRIORITY: leading-digits parse, 0-7 accepted, else the default
    *    severity (notice, imjournal.c:156);
    *  - SYSLOG_FACILITY: 1-2 digit value 0-23 accepted, else the
    *    default facility (user);
    *  - TAG = (SYSLOG_IDENTIFIER | _COMM | "journal") + "[pid]"? + ":"
    *    with pid from SYSLOG_PID, falling back to _PID
    *    (imjournal.c:681-717);
    *  - __REALTIME_TIMESTAMP (µs) → ts;
    *  - EVERY data field lands in the $! tree (vars_msg) verbatim,
    *    duplicate names last-wins (fjson object_add replace semantics);
    *    "__"-prefixed address fields are journal metadata, not data
    *    fields, and stay out of the tree.
    *
    * Binary-valued fields (size-prefixed in the wire format) are not
    * representable in a text frame; their lines carry no '=' and are
    * skipped — same effect as the reference's malformed-field skip
    * (imjournal.c:452-458). hostname = the receiver, as with enqMsg
    * (_HOSTNAME stays available at $!_HOSTNAME).
    */
  def imjournalDecode(entries: DataFrame, valueCol: String = "value",
                      dfltTag: String = "journal",
                      dfltFacility: Int = 1,
                      dfltSeverity: Int = 5): DataFrame = {
    val v = col(valueCol)
    // one single-pass kernel scan per entry (JournalEntryExpr) — the
    // staged select shares the struct across output columns without
    // re-evaluating it (CollapseProject keeps the multi-referenced
    // non-cheap alias at a projection boundary)
    val dec = org.apache.spark.sql.GraftBridge.column(
      graft.functions.JournalEntryExpr(
        org.apache.spark.sql.GraftBridge.expression(v),
        dfltTag, dfltFacility, dfltSeverity))
    val withProv0 =
      if (entries.columns.contains("inputname")) entries
      else entries.withColumn("inputname", lit("imjournal"))
    val withProv =
      if (withProv0.columns.contains("fromhost")) withProv0
      else withProv0.withColumn("fromhost",
        lit(java.net.InetAddress.getLocalHost.getHostName))
    val j = withProv.withColumn("__j", dec)
    j.select(withProv.columns.filter(_ != valueCol).map(col) ++ Seq(
        v.as("rawmsg"),
        lit(0).as("protocol_version"),
        (col("__j.facility") * 8 + col("__j.severity")).as("pri"),
        col("__j.facility").as("facility"),
        col("__j.severity").as("severity"),
        col("__j.ts").as("ts"),
        col("fromhost").as("hostname"),
        col("__j.app_name").as("app_name"),
        col("__j.procid").as("procid"),
        lit(null).cast("string").as("msgid"),
        lit(null).cast("string").as("structured_data"),
        col("__j.syslogtag").as("syslogtag"),
        col("__j.app_name").as("programname"),
        col("__j.msg").as("msg"),
        lit(true).as("parsesuccess"),
        col("__j.vars_msg").as("vars_msg"),
        lit("{}").as("vars_local")): _*)
  }

  /** immark heartbeat with action-side mark suppression (plugins/immark
    * emits "-- MARK --" every interval; an action with
    * writeAllMarkMessages="off" writes a mark only if nothing else was
    * written in the preceding interval — tools/rsyslogd.c mark handling).
    *
    * Set re-expression: the mark lattice = per-host interval boundaries
    * across the frame's time span; suppression = anti-join against the
    * set of boundaries whose preceding interval saw a real message. All
    * declarative — the lattice is hosts x intervals (tiny next to the
    * event volume at any scale) and both joins shuffle only lattice-sized
    * frames.
    */
  def immarkMarks(ev: DataFrame, hostCol: org.apache.spark.sql.Column,
                  tsCol: org.apache.spark.sql.Column): DataFrame = {
    // hour-aligned lattice; other MarkIntervals need their own alignment
    val step = expr("INTERVAL 1 HOUR")
    val named = ev.select(hostCol.as("host"), tsCol.as("t"))
    val span = named.agg(
      date_trunc("hour", min(col("t"))).as("t0"),
      date_trunc("hour", max(col("t"))).as("t1"))
    val marks = span.select(explode(
      sequence(col("t0") + step, col("t1") + step, step)).as("mark_ts"))
    val hosts = named.select(col("host")).distinct()
    val activity = named.select(col("host"),
      (date_trunc("hour", col("t")) + step).as("mark_ts")).distinct()
    hosts.crossJoin(broadcast(marks))
      .join(activity, Seq("host", "mark_ts"), "left_anti")
      .select(col("host"), col("mark_ts"), lit("-- MARK --").as("msg"))
  }

  /** impstats-style engine self-metrics: per-query observed counters via
    * the observe API (statsobj/impstats -> StreamingQueryListener in
    * streaming; observe() in batch). */
  def withStats(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("n_processed"),
      sum(when(col("parsesuccess") === false, 1).otherwise(0)).as("n_parse_fail"))

  // ---- niche input transports: preset decodes ---------------------------
  // The socket/device read itself is platform transport (the `feeds`
  // boundary); everything the reference's input module does PAST the read
  // — header parse, PRI/tag stamping, property trees — is modeled here.

  private def withProvenance(df: DataFrame, inputname: String): DataFrame = {
    val a = if (df.columns.contains("inputname")) df
            else df.withColumn("inputname", lit(inputname))
    if (a.columns.contains("fromhost")) a
    else a.withColumn("fromhost",
      lit(java.net.InetAddress.getLocalHost.getHostName))
  }

  /** Feed columns to carry through a preset decode unchanged (the
    * decodeSyslog passthrough convention: everything but the consumed
    * value and the internals). */
  private def passCols(src: DataFrame, valueCol: String): Seq[Column] =
    src.columns.filterNot(c => c == valueCol || c == "inputname" ||
      c == "fromhost" || c.startsWith("__")).map(col).toSeq

  /** imklog decode (plugins/imklog: bsd.c submitSyslog:72-148 strips the
    * kernel `[secs.usecs]` stamp sitting right after the PRI header;
    * imklog.c Syslog():245-277 then resolves the PRI — a systemd-style
    * SECONDARY `<N>` directly (or one space) after a single-digit first
    * PRI wins when it parses to 8..191, else the leading PRI, else the
    * klog default kern.info — and drops non-kern facilities unless
    * permitnonkernel). rawmsg/msg = the after-PRI text (enqMsg receives
    * the advanced pointer), TAG "kernel:". `ts` is reception time —
    * parseKernelStamp's boot-relative clock needs the reader host's boot
    * epoch, which the transport feed would carry; default off as in the
    * reference. */
  def imklogDecode(lines: DataFrame, valueCol: String = "value",
                   permitNonKernel: Boolean = false,
                   keepKernelStamp: Boolean = false,
                   now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(lines, "imklog")
    val raw0 = col(valueCol)
    // strip `[ts]` only when it directly follows a valid <PRI> (endpri
    // index check, bsd.c:84-86); keepkernelstamp="on" keeps it in place
    val dekmsg =
      if (keepKernelStamp) src.withColumn("__b", raw0)
      else src.withColumn("__b", regexp_replace(raw0,
        "^(<\\d{1,3}>)\\[ *\\d+\\.\\d+\\]", "$1"))
    val b = col("__b")
    // secondary-PRI window: first PRI exactly one digit, then '<' at
    // offset 3 or ' <' at offset 3-4 (imklog.c:254-257)
    val secN = nullif(regexp_extract(b, "^<\\d> ?<(\\d{1,3})>", 1), lit(""))
      .cast("int")
    val secValid = secN.isNotNull && secN.between(8, 191)
    val primN = nullif(regexp_extract(b, "^<(\\d{1,3})>", 1), lit(""))
      .cast("int")
    val primValid = primN.isNotNull && primN <= 191
    val stage = dekmsg
      .withColumn("__pri",
        when(secValid, secN)
          .when(primValid, primN)
          .otherwise(lit(6))) // LOG_INFO from readklog
      .withColumn("__body",
        when(secValid, regexp_replace(b, "^<\\d> ?<\\d{1,3}>", ""))
          .when(primValid, regexp_replace(b, "^<\\d{1,3}>", ""))
          .otherwise(b))
    val kept =
      if (permitNonKernel) stage
      else stage.filter((col("__pri") / 8).cast("int") === 0)
    kept.select(passCols(src, valueCol) ++ Seq(
      col("inputname"), col("fromhost"),
      col("__body").as("rawmsg"),
      lit(0).as("protocol_version"),
      col("__pri").as("pri"),
      (col("__pri") / 8).cast("int").as("facility"),
      (col("__pri") % 8).cast("int").as("severity"),
      now.as("ts"),
      col("fromhost").as("hostname"),
      lit("kernel").as("app_name"),
      lit(null).cast("string").as("procid"),
      lit(null).cast("string").as("msgid"),
      lit(null).cast("string").as("structured_data"),
      lit("kernel:").as("syslogtag"),
      lit("kernel").as("programname"),
      col("__body").as("msg"),
      lit(true).as("parsesuccess"),
      lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** imkmsg decode (contrib/imkmsg/kmsg.c submitSyslog:68-190): one
    * /dev/kmsg record per row — `pri,seq,usec[,flags];msg` with optional
    * ` KEY=value` continuation lines. A record that fails the
    * pri/seq/`;` scan is dropped (the reference returns without
    * submitting). The $! tree carries sequnum (int), msg, then every
    * continuation property in order (json-c insertion order preserved by
    * the merge); continuation lines without '=' are skipped — the
    * reference `break`s there, a binary-field artifact text frames
    * cannot carry. TAG "kernel:"; ts = reception time (the boot-relative
    * µs stamp needs the reader host's boot epoch, as with imklog). */
  def imkmsgDecode(entries: DataFrame, valueCol: String = "value",
                   now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(entries, "imkmsg")
    val v = col(valueCol)
    val hdr = regexp_extract(v, "^(\\d+),(\\d+),(\\d+)[^;\\n]*;", 0)
    val stage = src
      .withColumn("__hdr", hdr)
      .filter(col("__hdr") =!= "")
      .withColumn("__pri", regexp_extract(v, "^(\\d+),", 1).cast("int"))
      .withColumn("__seq",
        regexp_extract(v, "^\\d+,(\\d+),", 1).cast("long"))
      .withColumn("__after", expr(s"substring($valueCol, length(__hdr) + 1)"))
      .withColumn("__msg", regexp_extract(col("__after"), "^([^\\n]*)", 1))
      .withColumn("__props",
        filter(
          transform(
            slice(split(col("__after"), "\n"), lit(2), greatest(
              size(split(col("__after"), "\n")) - 1, lit(0))),
            l => struct(
              regexp_extract(l, "^ ?([^= \\n]+)=", 1).as("key"),
              regexp_extract(l, "^ ?[^= \\n]+=(.*)$", 1).as("value"))),
          kv => kv.getField("key") =!= ""))
    val base = to_json(struct(col("__seq").as("sequnum"),
      col("__msg").as("msg")))
    val varsMsg = when(size(col("__props")) > 0,
      graft.functions.rainer.json_merge(base,
        to_json(map_from_entries(col("__props")))))
      .otherwise(base)
    stage.select(passCols(src, valueCol) ++ Seq(
      col("inputname"), col("fromhost"),
      v.as("rawmsg"),
      lit(0).as("protocol_version"),
      col("__pri").as("pri"),
      (col("__pri") / 8).cast("int").as("facility"),
      (col("__pri") % 8).cast("int").as("severity"),
      now.as("ts"),
      col("fromhost").as("hostname"),
      lit("kernel").as("app_name"),
      lit(null).cast("string").as("procid"),
      lit(null).cast("string").as("msgid"),
      lit(null).cast("string").as("structured_data"),
      lit("kernel:").as("syslogtag"),
      lit("kernel").as("programname"),
      col("__msg").as("msg"),
      lit(true).as("parsesuccess"),
      varsMsg.as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** improg / imfifo line decode (contrib/improg/improg.c enqLine:360-384,
    * plugins/imfifo/imfifo.c:235-253 — byte-identical submit shape):
    * empty lines dropped, hostname = the receiver, APPNAME = the tag
    * verbatim (MsgSetAPPNAME gets the raw tag, not the program-name
    * slice), PRI = facility|severity (defaults local0.notice, 128|5),
    * msg = the whole line (MSGoffs 0). */
  def lineInputDecode(lines: DataFrame, inputname: String, tag: String,
                      facility: Int = 16, severity: Int = 5,
                      valueCol: String = "value",
                      now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(lines, inputname)
    val prog = graft.functions.SyslogParseExpr.programName(tag)
    src.filter(col(valueCol) =!= "").select(passCols(src, valueCol) ++ Seq(
      col("inputname"), col("fromhost"),
      col(valueCol).as("rawmsg"),
      lit(0).as("protocol_version"),
      lit(facility * 8 + severity).as("pri"),
      lit(facility).as("facility"), lit(severity).as("severity"),
      now.as("ts"),
      col("fromhost").as("hostname"),
      lit(tag).as("app_name"),
      lit(null).cast("string").as("procid"),
      lit(null).cast("string").as("msgid"),
      lit(null).cast("string").as("structured_data"),
      lit(tag).as("syslogtag"),
      lit(prog).cast("string").as("programname"),
      col(valueCol).as("msg"),
      lit(true).as("parsesuccess"),
      lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** imhiredis decode (contrib/imhiredis/imhiredis.c). Two submit
    * shapes exist:
    *
    *  - queue/subscribe modes (enqMsg:1084-1105): the popped/published
    *    string IS the message — no header, no PRI stamp, so the
    *    msgConstruct defaults show through (facility "invld" = 24,
    *    severity debug = 7, runtime/msg.c:687-688); empty strings are
    *    dropped.
    *  - stream mode (enqueueRedisStreamReply:1857-1890 + enqMsgJson):
    *    the entry's field map lands whole under `$!`, and `$.redis`
    *    carries {stream, index [, group, consumer]}; the message text
    *    itself is EMPTY (enqMsgJson never sets rawmsg).
    *
    * For stream mode pass the entry JSON in `valueCol` and the entry id
    * in an `index` column. */
  def imhiredisDecode(df: DataFrame, mode: String = "queue",
                      streamKey: String = "", group: String = "",
                      consumer: String = "",
                      valueCol: String = "value",
                      now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(df, "imhiredis")
    val common = Seq(
      lit(0).as("protocol_version"),
      lit(24 * 8 + 7).as("pri"),
      lit(24).as("facility"), lit(7).as("severity"),
      now.as("ts"),
      col("fromhost").as("hostname"),
      lit(null).cast("string").as("app_name"),
      lit(null).cast("string").as("procid"),
      lit(null).cast("string").as("msgid"),
      lit(null).cast("string").as("structured_data"),
      lit("").as("syslogtag"),
      lit("").as("programname"))
    if (mode == "stream") {
      // group/consumer only when configured, like the reference's
      // conditional object_add
      val redisObj =
        if (group.nonEmpty && consumer.nonEmpty)
          struct(lit(streamKey).as("stream"), col("index").cast("string").as("index"),
            lit(group).as("group"), lit(consumer).as("consumer"))
        else if (group.nonEmpty)
          struct(lit(streamKey).as("stream"), col("index").cast("string").as("index"),
            lit(group).as("group"))
        else
          struct(lit(streamKey).as("stream"), col("index").cast("string").as("index"))
      // `index` is consumed into $.redis, like valueCol into $!
      src.select(src.columns.filterNot(c => c == valueCol ||
          c == "index" || c == "inputname" || c == "fromhost" ||
          c.startsWith("__")).map(col).toSeq ++
        Seq(col("inputname"), col("fromhost"),
        lit("").as("rawmsg")) ++ common ++ Seq(
        lit("").as("msg"),
        lit(true).as("parsesuccess"),
        col(valueCol).cast("string").as("vars_msg"),
        to_json(struct(redisObj.as("redis"))).as("vars_local")): _*)
    } else {
      src.filter(col(valueCol).isNotNull && col(valueCol) =!= "")
        .select(passCols(src, valueCol) ++
          Seq(col("inputname"), col("fromhost"),
          col(valueCol).as("rawmsg")) ++ common ++ Seq(
          col(valueCol).as("msg"),
          lit(true).as("parsesuccess"),
          lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
    }
  }

  /** imkubernetes decode (contrib/imkubernetes/imkubernetes.c): pod log
    * lines → enriched pipeline rows. The feed carries (path, seq,
    * value) — one log line per row, `seq` = read order within a file
    * (the CRI partial-fragment accumulator needs it).
    *
    *  - path metadata (populatePathMeta:542-560): a `/containers/` path
    *    parses `<pod>_<ns>_<container>-<cid>.log` (parseContainersPath
    *    :490-540); otherwise the pods layout
    *    `.../pods/<ns>_<pod>_<uid>/<container>/<restart>.log`
    *    (parsePodsPath:411-489, restart = numeric basename).
    *  - record formats (processLine:1243-1275, tried in order): CRI
    *    `<ts> <stdout|stderr> <P|F…> <msg>` (structural checks only —
    *    a bad timestamp still parses as CRI with reception time);
    *    docker-json `{"log":…,"stream":…,"time":…}` (trailing newline
    *    of `log` stripped); anything else emits raw with
    *    parse_error=true.
    *  - CRI `P` fragments accumulate until their closing `F` record
    *    (emitPartialIfComplete:1100-1148) — concatenated in seq order
    *    with the FIRST fragment's stream/time (partialInitFromRecord
    *    copies them into the accumulator); an unclosed run at end of
    *    input stays pending (never emitted), same as the reference
    *    waiting for more data. The stream-mismatch reset and the
    *    cross-format partial close (a docker/raw line closing a CRI
    *    run) are pathological interleavings not modeled here.
    *  - $!kubernetes carries the path metadata + log_file/stream/
    *    log_format(+parse_error) (addRuntimeMetadata:976-1046);
    *    $!docker carries container_id. The pod-metadata API
    *    (queryPodMetadata) is an External boundary — a `pod_md_json`
    *    feed column supplies it, and the copyJsonField list
    *    (:1013-1025) merges in.
    *  - TAG "kubernetes:", hostname = receiver, severity err for
    *    stderr else info, facility user (enqMsg:1049-1098 + defaults
    *    :75-76); msg sanitized (bEscapeLf default on). */
  def imkubernetesDecode(lines: DataFrame, valueCol: String = "value",
                         dfltFacility: Int = 1, dfltSeverity: Int = 6,
                         now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(lines, "imkubernetes")
    val v = col(valueCol)
    val criRe = "^([^ ]+) (stdout|stderr) ([^ ]+) (.*)$"
    val dockerLog = get_json_object(v, "$.log")
    val parsed = src
      .withColumn("__cri_ts", regexp_extract(v, criRe, 1))
      .withColumn("__is_cri", col("__cri_ts") =!= "")
      .withColumn("__fmt",
        when(col("__is_cri"), "cri")
          .when(dockerLog.isNotNull, "docker_json")
          .otherwise("raw"))
      .withColumn("__stream",
        when(col("__is_cri"), regexp_extract(v, criRe, 2))
          .when(col("__fmt") === "docker_json" &&
            get_json_object(v, "$.stream") === "stderr", "stderr")
          .otherwise("stdout"))
      .withColumn("__partial",
        col("__is_cri") && regexp_extract(v, criRe, 3).startsWith("P"))
      .withColumn("__msg0",
        when(col("__is_cri"), regexp_extract(v, criRe, 4))
          .when(col("__fmt") === "docker_json",
            regexp_replace(dockerLog, "\n$", ""))
          .otherwise(v))
      .withColumn("__ts",
        when(col("__is_cri"),
          try_to_timestamp(regexp_replace(col("__cri_ts"), "Z$", "+00:00"),
            lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS][.SSSSSS][.SSS][.SS][.S][XXX]")))
        .when(col("__fmt") === "docker_json",
          try_to_timestamp(
            regexp_replace(get_json_object(v, "$.time"), "Z$", "+00:00"),
            lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS][.SSSSSS][.SSS][.SS][.S][XXX]"))))
    // CRI partial accumulation: record id = count of FINAL markers with
    // a smaller seq, so each P-run shares its closing F's id; runs with
    // no closing F (max id) stay pending and are dropped
    // feed passthrough columns survive the accumulation as the FIRST
    // fragment's values (one accumulated record spans several lines)
    val extraCols = src.columns.filterNot(c => c == valueCol ||
      c == "path" || c == "seq" || c.startsWith("__")).toSeq
    val cri = parsed.filter(col("__is_cri"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("path")).orderBy(col("seq"))
    val criAcc = cri
      .withColumn("__rid", sum(when(col("__partial"), 0).otherwise(1))
        .over(w) - when(col("__partial"), 0).otherwise(1))
      .withColumn("__closed",
        max(when(!col("__partial"), col("__rid"))).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("path"))))
      .filter(col("__rid") <= col("__closed"))
      .groupBy(col("path"), col("__rid"))
      .agg(
        concat_ws("", array_sort(collect_list(struct(col("seq"), col("__msg0"))))
          .getField("__msg0")).as("__msg0"),
        (Seq(
          max(col("seq")).as("seq"),
          min_by(col("__stream"), col("seq")).as("__stream"),
          min_by(col("__ts"), col("seq")).as("__tsx")) ++
         extraCols.map(c => min_by(col(c), col("seq")).as(c))): _*)
      .withColumn("__fmt", lit("cri"))
      .withColumn("__parse_error", lit(false))
      .withColumn("__ts", col("__tsx"))
    val nonCri = parsed.filter(!col("__is_cri"))
      .withColumn("__parse_error", col("__fmt") === "raw")
    val keepCols = (Seq("path", "seq", "__msg0", "__stream", "__fmt",
      "__parse_error", "__ts") ++ extraCols).map(col)
    val assembled = criAcc.select(keepCols: _*)
      .unionByName(nonCri.select(keepCols: _*))
    // path metadata: containers layout first, then pods layout
    val base = regexp_extract(col("path"), "([^/]+)$", 1)
    val baseNoExt = regexp_replace(base, "\\.[^.]*$", "")
    val isContainers = col("path").contains("/containers/") &&
      baseNoExt.rlike("^[^_]+_[^_]+_.*-[^-]+$")
    val podsRe = "/pods/([^_/]+)_([^_/]+)_([^/]+)/([^/]+)/(\\d+)\\.[^/.]*$"
    val isPods = col("path").rlike(podsRe)
    def cg(i: Int) = regexp_extract(baseNoExt, "^([^_]+)_([^_]+)_(.*)-([^-]+)$", i)
    def pg(i: Int) = regexp_extract(col("path"), podsRe, i)
    val ns = when(isContainers, cg(2)).when(isPods, pg(1))
    val pod = when(isContainers, cg(1)).when(isPods, pg(2))
    val uid = when(isPods, pg(3))
    val cname = when(isContainers, cg(3)).when(isPods, pg(4))
    val cid = when(isContainers, cg(4))
    val restart = when(isPods, pg(5).cast("int"))
    def kv(k: String, c: Column, quote: Boolean = true): Column =
      when(c.isNotNull && (c =!= ""),
        concat(lit(",\"" + k + "\":" + (if (quote) "\"" else "")), c,
          lit(if (quote) "\"" else ""))).otherwise(lit(""))
    def mdField(k: String, quote: Boolean = true): Column =
      if (!assembled.columns.contains("pod_md_json")) lit("")
      else kv(k, get_json_object(col("pod_md_json"), "$." + k), quote)
    val k8s = concat(
      lit("{"),
      regexp_replace(concat(
        kv("namespace_name", ns), kv("pod_name", pod), kv("pod_uid", uid),
        kv("container_name", cname),
        kv("restart_count", restart.cast("string"), quote = false),
        kv("log_file", col("path")),
        kv("stream", col("__stream")),
        kv("log_format", col("__fmt")),
        when(col("__parse_error"), lit(",\"parse_error\":true"))
          .otherwise(lit("")),
        mdField("pod_id"), mdField("creation_timestamp"),
        mdField("owner_kind"), mdField("owner_name"),
        mdField("pod_ip"), mdField("host_ip"), mdField("master_url"),
        mdField("host")), "^,", ""),
      lit("}"))
    val docker = when(cid.isNotNull && (cid =!= ""),
      concat(lit("{\"container_id\":\""), cid, lit("\"}")))
      .otherwise(lit("{}"))
    val varsMsg = concat(lit("{\"kubernetes\":"), k8s,
      lit(",\"docker\":"), docker, lit("}"))
    val msg = sanitize(col("__msg0"))
    assembled.select(assembled.columns.filterNot(c => c == valueCol ||
        c == "path" || c == "seq" || c == "pod_md_json" ||
        c == "inputname" || c == "fromhost" || c.startsWith("__"))
        .map(col).toSeq ++ Seq(
      (if (assembled.columns.contains("inputname")) col("inputname")
       else lit("imkubernetes")).as("inputname"),
      (if (assembled.columns.contains("fromhost")) col("fromhost")
       else lit(java.net.InetAddress.getLocalHost.getHostName)).as("fromhost"),
      col("path").as("log_path"), col("seq").as("log_seq"),
      msg.as("rawmsg"),
      lit(0).as("protocol_version"),
      (lit(dfltFacility * 8) +
        when(col("__stream") === "stderr", 3).otherwise(dfltSeverity))
        .cast("int").as("pri"),
      lit(dfltFacility).as("facility"),
      when(col("__stream") === "stderr", 3).otherwise(dfltSeverity)
        .cast("int").as("severity"),
      coalesce(col("__ts"), now).as("ts"),
      lit(java.net.InetAddress.getLocalHost.getHostName).as("hostname"),
      lit("kubernetes").as("app_name"),
      lit(null).cast("string").as("procid"),
      lit(null).cast("string").as("msgid"),
      lit(null).cast("string").as("structured_data"),
      lit("kubernetes:").as("syslogtag"),
      lit("kubernetes").as("programname"),
      msg.as("msg"),
      lit(true).as("parsesuccess"),
      varsMsg.as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** imsolaris decode (plugins/imsolaris/imsolaris.c readLog:185-215):
    * one STREAMS log message per row — the `log_ctl` header carries the
    * PRI and the kernel timestamp, the body has neither
    * (`NEEDS_PARSING | NO_PRI_IN_RAW | IGNDATE`, hostname never parsed
    * from the text). The feed supplies `value` plus `pri` and `ctl_sec`
    * (epoch seconds) from the header; the body still runs the standard
    * parse for TAG/msg split, but PRI comes from the header, any
    * in-body date is discarded in favor of the header time, and
    * hostname stays the receiver. */
  def imsolarisDecode(df: DataFrame, valueCol: String = "value",
                      defaultYear: Int = 2024,
                      now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(df, "imsolaris")
    val priCol =
      if (src.columns.contains("pri")) col("pri").cast("int") else lit(13)
    val tsCol =
      if (src.columns.contains("ctl_sec"))
        timestamp_seconds(col("ctl_sec").cast("long"))
      else now
    decodeSyslog(src.withColumn("__pri_hdr", priCol)
        .withColumn("__ts_hdr", tsCol)
        .drop("pri"), valueCol, defaultYear = defaultYear)
      .withColumn("pri", col("__pri_hdr"))
      .withColumn("facility", (col("__pri_hdr") / 8).cast("int"))
      .withColumn("severity", (col("__pri_hdr") % 8).cast("int"))
      .withColumn("ts", col("__ts_hdr"))
      .withColumn("hostname", col("fromhost"))
      .drop("__pri_hdr", "__ts_hdr")
  }

  /** impcap decode (contrib/impcap/impcap.c packet_parse:514-584): one
    * captured packet (BINARY `packet` column) per row. The message is
    * header metadata, not text: `$!data` carries the unparsed remainder
    * hex-encoded with its strlen (jadd, :570-578 — added to the message
    * BEFORE the metadata container), `$!impcap` carries {ID (the
    * capture counter — the feed's `id` column here), timestamp
    * (RFC3339 of the pcap stamp — the feed's `ts`, else reception
    * time), net_bytes_total, then every field the parser chain
    * extracted, net_bytes_data last}. No rawmsg is ever set and no
    * PRI/TAG is stamped beyond tag= (msgConstruct defaults show
    * through, as with imhiredis). Parser-chain subset and field tables:
    * see [[graft.functions.PcapUtil]]. */
  def impcapDecode(packets: DataFrame, tag: String = "",
                   metadataContainer: String = "impcap",
                   dataContainer: String = "data",
                   packetCol: String = "packet",
                   now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(packets, "impcap")
    val dec = org.apache.spark.sql.GraftBridge.column(
      graft.functions.PcapPacketExpr(
        org.apache.spark.sql.GraftBridge.expression(col(packetCol))))
    val idCol = if (src.columns.contains("id")) col("id").cast("long") else lit(0L)
    val tsCol = if (src.columns.contains("ts")) col("ts").cast("timestamp") else now
    val prog = graft.functions.SyslogParseExpr.programName(tag)
    val stage = src
      .withColumn("__dec", dec)
      .withColumn("__frag", expr("split(__dec, '\\n', 2)[0]"))
      .withColumn("__hex", expr("split(__dec, '\\n', 2)[1]"))
    val varsMsg = concat(
      lit("{\"" + dataContainer + "\":{\"length\":"), length(col("__hex")),
      lit(",\"content\":\""), col("__hex"),
      lit("\"},\"" + metadataContainer + "\":{\"ID\":"), idCol,
      lit(",\"timestamp\":\""),
      date_format(tsCol, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS+00:00"),
      lit("\",\"net_bytes_total\":"), length(col(packetCol)),
      col("__frag"), lit("}}"))
    stage.select(src.columns.filterNot(c => c == packetCol || c == "id" ||
        c == "ts" || c == "inputname" || c == "fromhost" ||
        c.startsWith("__")).map(col).toSeq ++ Seq(
      col("inputname"), col("fromhost"),
      lit("").as("rawmsg"),
      lit(0).as("protocol_version"),
      lit(24 * 8 + 7).as("pri"),
      lit(24).as("facility"), lit(7).as("severity"),
      tsCol.as("ts"),
      col("fromhost").as("hostname"),
      lit(null).cast("string").as("app_name"),
      lit(null).cast("string").as("procid"),
      lit(null).cast("string").as("msgid"),
      lit(null).cast("string").as("structured_data"),
      lit(tag).as("syslogtag"),
      lit(prog).cast("string").as("programname"),
      lit("").as("msg"),
      lit(true).as("parsesuccess"),
      varsMsg.as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** imtuxedoulog decode (contrib/imtuxedoulog/imtuxedoulog.c
    * parseMsg:193-290, README.md cases 1-4): `hhmmss.ff[f].host!prog:
    * [gtrid ...:] [ECID <id>:] text`. The time-of-day comes from the
    * line (2- or 3-digit second fraction), the DATE from the ULOG file
    * name (`ULOG.MMDDYY`) — passed here as an optional `filedate` DATE
    * column on the feed (reception date otherwise). PROCID = the
    * prog segment truncated at its last '.' (the context id drops,
    * `lprog>` in the README sketches); an ECID lands as structured
    * data `[ECID="..."]`; a leading `gtrid ...: ` run is skipped; the
    * text after each marker loses exactly colon+1 chars like the
    * reference's `+2` walks. Lines failing the time scan (Java
    * exception continuation lines) are dropped, and no PRI/TAG is
    * stamped — msgConstruct defaults show through as with imhiredis. */
  def imtuxedoulogDecode(lines: DataFrame, valueCol: String = "value",
                         now: Column = current_timestamp()): DataFrame = {
    val src = withProvenance(lines, "imtuxedoulog")
    val v = col(valueCol)
    val re = "^(\\d{2})(\\d{2})(\\d{2})\\.(\\d{2,3})\\.([^!]+)!([^:]*):(.*)$"
    def g(i: Int) = regexp_extract(v, re, i)
    val stage0 = src
      .withColumn("__hh", nullif(g(1), lit("")).cast("int"))
      .withColumn("__mi", nullif(g(2), lit("")).cast("int"))
      .withColumn("__ss", nullif(g(3), lit("")).cast("int"))
      .withColumn("__fr", g(4))
      .withColumn("__host", g(5))
      .withColumn("__prog", g(6))
      .withColumn("__rest", g(7))
      .filter(col("__hh").isNotNull && col("__hh") <= 23 &&
        col("__mi") <= 59 && col("__ss") <= 59)
    // strtData+2 skips ':' and one more char; same after the gtrid run
    val text0 = expr("substring(__rest, 2)")
    val stage1 = stage0.withColumn("__t1",
      when(text0.startsWith("gtrid"),
        expr("substring(substring(__rest, 2), " +
          "instr(substring(__rest, 2), ':') + 2)"))
      .otherwise(text0))
    val t1 = col("__t1")
    val hasEcid = t1.startsWith("ECID ") && instr(t1, ">") > 6
    val stage = stage1
      .withColumn("__sd", when(hasEcid,
        concat(lit("[ECID=\""), regexp_extract(t1, "^ECID .([^>]*)>", 1),
          lit("\"]"))).otherwise(lit(null).cast("string")))
      .withColumn("__msg", when(hasEcid,
        expr("substring(__t1, instr(__t1, '>') + 3)")).otherwise(t1))
    val dateCol =
      if (src.columns.contains("filedate")) col("filedate") else to_date(now)
    val ts = to_timestamp(concat(
      date_format(dateCol, "yyyy-MM-dd"), lit(" "),
      lpad(col("__hh").cast("string"), 2, "0"), lit(":"),
      lpad(col("__mi").cast("string"), 2, "0"), lit(":"),
      lpad(col("__ss").cast("string"), 2, "0"), lit("."),
      rpad(col("__fr"), 3, "0")), "yyyy-MM-dd HH:mm:ss.SSS")
    // `filedate` is consumed into ts, like valueCol into the parse
    stage.select(src.columns.filterNot(c => c == valueCol ||
        c == "filedate" || c == "inputname" || c == "fromhost" ||
        c.startsWith("__")).map(col).toSeq ++ Seq(
      col("inputname"), col("fromhost"),
      col("__msg").as("rawmsg"),
      lit(0).as("protocol_version"),
      lit(24 * 8 + 7).as("pri"),
      lit(24).as("facility"), lit(7).as("severity"),
      ts.as("ts"),
      col("__host").as("hostname"),
      lit(null).cast("string").as("app_name"),
      when(col("__prog").contains("."),
        regexp_extract(col("__prog"), "^(.*)\\.[^.]*$", 1))
        .otherwise(col("__prog")).as("procid"),
      lit(null).cast("string").as("msgid"),
      col("__sd").as("structured_data"),
      lit("").as("syslogtag"),
      lit("").as("programname"),
      col("__msg").as("msg"),
      lit(true).as("parsesuccess"),
      lit("{}").as("vars_msg"), lit("{}").as("vars_local")): _*)
  }

  /** imuxsock decode (plugins/imuxsock/imuxsock.c SubmitMsg:908-1140):
    * datagram text runs through the standard syslog parse; with
    * annotate + parsetrusted the SCM_CREDENTIALS-derived trusted
    * properties land as a CEE-root object `$!{pid,uid,gid,appname,exe,
    * cmd}` (:985-1010, lumberjack placement); with annotate alone they
    * are APPENDED to the raw text as ` @[_PID=.. _UID=.. _GID=..
    * [_COMM=..][_EXE=..][_CMDLINE=..]]` before parsing (:1013-1091).
    * The feed carries the credentials as optional pid/uid/gid/comm/exe/
    * cmdline columns — the socket peer's identity is transport. The
    * per-pid ratelimiter (:617-680) is the rate-limit operator's job,
    * keyed on pid (interval default 0 = off, so not applied here). */
  def imuxsockDecode(datagrams: DataFrame, annotate: Boolean = false,
                     parseTrusted: Boolean = false,
                     valueCol: String = "value",
                     defaultYear: Int = 2024): DataFrame = {
    val src = withProvenance(datagrams, "imuxsock")
    def cred(n: String): Column =
      if (src.columns.contains(n)) col(n) else lit(null).cast("string")
    if (annotate && parseTrusted) {
      val trusted = to_json(struct(
        cred("pid").cast("long").as("pid"),
        cred("uid").cast("long").as("uid"),
        cred("gid").cast("long").as("gid"),
        cred("comm").as("appname"),
        cred("exe").as("exe"),
        cred("cmdline").as("cmd")), Map("ignoreNullFields" -> "true"))
      decodeSyslog(src, valueCol, defaultYear = defaultYear)
        .withColumn("vars_msg", trusted)
    } else if (annotate) {
      val ann = concat(col(valueCol), lit(" @["),
        concat_ws(" ",
          concat(lit("_PID="), coalesce(cred("pid").cast("string"), lit("0"))),
          concat(lit("_UID="), coalesce(cred("uid").cast("string"), lit("0"))),
          concat(lit("_GID="), coalesce(cred("gid").cast("string"), lit("0"))),
          when(cred("comm").isNotNull, concat(lit("_COMM="), cred("comm"))),
          when(cred("exe").isNotNull, concat(lit("_EXE="), cred("exe"))),
          when(cred("cmdline").isNotNull,
            concat(lit("_CMDLINE="), cred("cmdline")))),
        lit("]"))
      decodeSyslog(src.withColumn(valueCol, ann), valueCol,
        defaultYear = defaultYear)
    } else decodeSyslog(src, valueCol, defaultYear = defaultYear)
  }

  /** imhttp decode (contrib/imhttp/imhttp.c doSubmitMsg:528-566): each
    * posted body record is submitted NEEDS_PARSING|PARSE_HOSTNAME —
    * i.e. it runs the standard parser chain like a tcp frame — with the
    * peer address as fromhost; addmetadata="on" adds
    * `$!metadata!httpheaders` and `$!metadata!queryparams`
    * (msgAddMetadataFromHttpHeader / ...QueryParams, :444-520). The
    * feed carries body rows in `value` with optional `remoteaddr`,
    * `headers_json`, `query_json` columns. */
  def imhttpDecode(df: DataFrame, addMetadata: Boolean = false,
                   defaultYear: Int = 2024): DataFrame = {
    val src0 = withProvenance(df, "imhttp")
    val src = if (src0.columns.contains("remoteaddr"))
      src0.withColumn("fromhost", coalesce(col("remoteaddr"), col("fromhost")))
    else src0
    val dec = decodeSyslog(src, defaultYear = defaultYear)
    if (!addMetadata) dec
    else {
      def j(n: String): Column =
        if (dec.columns.contains(n)) coalesce(col(n), lit("{}")) else lit("{}")
      dec.withColumn("vars_msg",
        concat(lit("{\"metadata\":{\"httpheaders\":"), j("headers_json"),
          lit(",\"queryparams\":"), j("query_json"), lit("}}")))
    }
  }
}
