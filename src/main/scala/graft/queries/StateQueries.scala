package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators._
import graft.Queries.{synthSql, synthSyslog}

/** Lookup tables, statistics and rate limiting (SURVEY §2.6–2.8):
  * lookup types and reload, dynstats, percentiles, impstats, counters,
  * rate limits, queue shedding and the dead-letter path.
  */
object StateQueries {

  private[queries] val ratelimitOracle: String =
    """WITH seq AS (
      |  SELECT user_id, row_number() OVER (
      |    PARTITION BY user_id, epoch_ns(ts)//1000000000//3600
      |    ORDER BY event_id) AS rn
      |  FROM events)
      |SELECT user_id, count(*) AS n_passed FROM seq WHERE rn <= 3 GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // §2.8 named ratelimit() object + YAML policy file: per-source
    // limits with an override key, the keyTemplate rendered through the
    // template registry, and the severity exemption that spends no
    // bucket budget (runtime/ratelimit.c; the imptcp-persource-
    // ratelimit-policy.sh shape, policy file written at query time)
    QueryDef("ratelimit_policy", (s, dir) => {
      val f = java.io.File.createTempFile("graft_rlpolicy", ".yaml")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath,
        """severity: 6
          |perSource:
          |  enabled: true
          |  keyTemplate: "RlKey"
          |  default:
          |    max: 3
          |    window: 720h
          |  overrides:
          |    - key: "host1"
          |      max: 10
          |""".stripMargin.getBytes("UTF-8"))
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        s"""template(name="RlKey" type="string" string="%hostname%")
           |ratelimit(name="ps" policy="${f.getPath}")
           |""".stripMargin)
      val policy = cfg.ratelimitPolicy("ps").get
      val ev = synthSyslog(s, dir)
      val out = graft.operators.RateLimit.applyPolicy(ev, policy,
        cfg.ratelimitKey(policy, n => col(n)), col("ts"), col("event_id"),
        col("severity"))
      out.groupBy(col("hostname"))
        .agg(count(lit(1)).as("n_in"),
          count(when(col("rl_limited"), 1)).as("n_limited"),
          count(when(!col("rl_limited"), 1)).as("n_pass"))
    },
      (synthSql +
      """, r AS (
        |  SELECT hostname, event_id, severity,
        |    epoch_ns(ts)//1000000000//2592000 AS win,
        |    CASE WHEN severity < 6 THEN 0 ELSE 1 END AS subject
        |  FROM ev),
        |c AS (
        |  SELECT *, sum(subject) OVER (
        |    PARTITION BY hostname, win ORDER BY event_id) AS seq
        |  FROM r),
        |f AS (
        |  SELECT hostname,
        |    (subject = 1 AND seq >
        |      (CASE WHEN hostname = 'host1' THEN 10 ELSE 3 END)) AS limited
        |  FROM c)
        |SELECT hostname, count(*) AS n_in,
        |  count(*) FILTER (WHERE limited) AS n_limited,
        |  count(*) FILTER (WHERE NOT limited) AS n_pass
        |FROM f GROUP BY 1""".stripMargin)),

    // §2.8 queue.discardMark/discardSeverity load shedding
    // (qqueueChkDiscardMsg): in saturated arrival windows, messages at or
    // above the discard severity drop before enqueue; critical ones pass
    QueryDef("queue_shed", (s, dir) => {
      val ev = synthSyslog(s, dir)
      val shed = graft.operators.RateLimit.discardShed(ev, col("ts"),
        col("severity"), discardMark = 50L, discardSeverity = 4,
        windowDur = "1 day")
      shed.groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("shed"), 1)).as("n_shed"),
          count(when(!col("shed"), 1)).as("n_kept"),
          sum(when(!col("shed"), col("severity")).otherwise(0))
            .as("sev_kept"))
        .select(col("window.start").as("ws"), col("n_total"),
          col("n_shed"), col("n_kept"), col("sev_kept"))
    },
      (synthSql +
      """, w AS (
        |  SELECT severity,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS ws FROM ev),
        |c AS (SELECT *, count(*) OVER (PARTITION BY ws) AS depth FROM w),
        |f AS (SELECT ws, severity,
        |  (depth >= 50 AND severity >= 4) AS shed FROM c)
        |SELECT ws, count(*) AS n_total,
        |  count(*) FILTER (WHERE shed) AS n_shed,
        |  count(*) FILTER (WHERE NOT shed) AS n_kept,
        |  CAST(sum(CASE WHEN NOT shed THEN severity ELSE 0 END) AS BIGINT)
        |    AS sev_kept
        |FROM f GROUP BY 1""".stripMargin)),

    // §2.7 impstats format family (format= legacy/json/json-es/cee/
    // prometheus, statsobj.c getStatsLine/getStatsLineCEE/
    // emitPrometheusForObject): every render of the same counter set,
    // incl. json-c SPACED JSON, the ES dot→bang counter rename, and the
    // U__ Prometheus metric-name encoding for dotted object names
    QueryDef("impstats_formats", (s, dir) => {
      val ev = Tables.events(s, dir)
      val t = ev.groupBy(concat(lit("events."), col("event_type")).as("name"))
        .agg(count(lit(1)).as("submitted"),
          count(when(col("event_id") % 7 === 0, 1)).as("discarded"))
      val ctrs = Seq("submitted" -> col("submitted"),
        "ratelimit.discarded" -> col("discarded"))
      import graft.sources.Impstats
      t.select(col("name"),
        Impstats.legacyLine(col("name"), "imfile", ctrs).as("legacy"),
        Impstats.jsonLine(col("name"), "imfile", ctrs).as("json"),
        Impstats.jsonLine(col("name"), "imfile", ctrs,
          esNames = true).as("json_es"),
        Impstats.ceeLine(col("name"), "imfile", ctrs).as("cee"),
        Impstats.prometheusBlock(col("name"), "imfile", "submitted",
          col("submitted")).as("prom_submitted"),
        Impstats.prometheusBlock(col("name"), "imfile",
          "ratelimit.discarded", col("discarded")).as("prom_discarded"))
    },
      """WITH t AS (
        |  SELECT 'events.' || event_type AS name,
        |    count(*) AS submitted,
        |    count(*) FILTER (WHERE event_id % 7 = 0) AS discarded
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT *,
        |    'U__' || replace(replace(name || '_submitted_total',
        |      '_', '__'), '.', '_2E_') AS m_sub,
        |    'U__' || replace(replace(name || '_ratelimit.discarded_total',
        |      '_', '__'), '.', '_2E_') AS m_dis
        |  FROM t)
        |SELECT name,
        |  name || ': origin=imfile submitted=' || submitted ||
        |    ' ratelimit.discarded=' || discarded || ' ' AS legacy,
        |  '{ "name": "' || name || '", "origin": "imfile", "submitted": ' ||
        |    submitted || ', "ratelimit.discarded": ' || discarded || ' }'
        |    AS json,
        |  '{ "name": "' || name || '", "origin": "imfile", "submitted": ' ||
        |    submitted || ', "ratelimit!discarded": ' || discarded || ' }'
        |    AS json_es,
        |  '@cee: { "name": "' || name || '", "origin": "imfile", "submitted": '
        |    || submitted || ', "ratelimit.discarded": ' || discarded || ' }'
        |    AS cee,
        |  '# HELP ' || m_sub || ' rsyslog stats: origin="imfile" object="' ||
        |    name || '", counter="submitted"' || chr(10) ||
        |    '# TYPE ' || m_sub || ' counter' || chr(10) ||
        |    m_sub || ' ' || submitted || chr(10) AS prom_submitted,
        |  '# HELP ' || m_dis || ' rsyslog stats: origin="imfile" object="' ||
        |    name || '", counter="ratelimit.discarded"' || chr(10) ||
        |    '# TYPE ' || m_dis || ' counter' || chr(10) ||
        |    m_dis || ' ' || discarded || chr(10) AS prom_discarded
        |FROM m""".stripMargin),

    // §2.7 impstats format="zabbix" (impstats.c generateZabbixStats +
    // collectStats_zbx): ONE grouped JSON line per interval — stat lines
    // grouped by sanitized origin, the dual-origin global/local split,
    // and the core.action→stats_omkafka_local remap. The walk order is
    // the explicit ord column (registration order in the reference); the
    // frame is #stats-objects rows, so the single-row assembly is bounded
    QueryDef("impstats_zabbix", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.agg(count(lit(1)).as("n"), max(col("ts")).as("mts"))
      val perType = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"), max(col("ts")).as("mts_t"))
        .withColumn("name", concat(lit("events."), col("event_type")))
        // bounded window: rows = distinct event types (stats objects)
        .withColumn("ord", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("name")))
          .cast("long"))
      import graft.sources.Impstats
      val imfileLines = perType.join(a).select(
        col("name"), lit("imfile").as("origin"),
        Impstats.jsonLine(col("name"), "imfile",
          Seq("submitted" -> col("n_t"))).as("line"),
        col("ord"), col("mts"))
      // all four synthetic stats objects from ONE pass over the 1-row
      // aggregate (a union of per-branch selects would re-scan the
      // corpus once per branch)
      def entry(name: String, origin: String, ord: Long, line: Column) =
        struct(lit(name).as("name"), lit(origin).as("origin"),
          line.as("line"), lit(ord).as("ord"))
      val synthLines = a.select(col("mts"), explode(array(
          entry("omkafka", "omkafka", 1000L,
            Impstats.jsonLine(lit("omkafka"), "omkafka",
              Seq("submitted" -> col("n")))),
          entry("topic-events", "omkafka", 1001L,
            Impstats.jsonLine(lit("topic-events"), "omkafka",
              Seq("submitted" -> col("n")))),
          entry("action-omkafka", "core.action", 1002L,
            Impstats.jsonLine(lit("action-omkafka"), "core.action",
              Seq("processed" -> col("n")))),
          entry("resource-usage", "impstats", 1003L,
            Impstats.jsonLine(lit("resource-usage"), "impstats",
              Seq("utime" -> col("n"), "openfiles" -> lit(32)))))).as("r"))
        .select(col("r.name").as("name"), col("r.origin").as("origin"),
          col("r.line").as("line"), col("r.ord").as("ord"), col("mts"))
      val lines = imfileLines.unionByName(synthLines)
      Impstats.zabbixSnapshot(lines, col("line"), col("origin"),
        col("name"), col("ord"), col("mts"))
        .select(col("snapshot"),
          get_json_object(col("snapshot"), "$.stats_imfile[0].name")
            .as("probe_first_name"),
          get_json_object(col("snapshot"),
            "$.stats_omkafka_global[0].submitted").cast("long")
            .as("probe_global_sub"),
          get_json_object(col("snapshot"),
            "$.stats_omkafka_local[1].processed").cast("long")
            .as("probe_remap"),
          get_json_object(col("snapshot"), "$.timedate").as("probe_td"))
    },
      """WITH t AS (
        |  SELECT 'events.' || event_type AS name, count(*) AS n_t
        |  FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n,
        |  max(CAST(ts AS TIMESTAMP)) AS mts FROM events),
        |arr AS (
        |  SELECT string_agg('{ "name": "' || name ||
        |    '", "origin": "imfile", "submitted": ' || n_t || ' }',
        |    ',' ORDER BY name) AS imfile_arr FROM t)
        |SELECT snapshot,
        |  json_extract_string(snapshot, '$.stats_imfile[0].name')
        |    AS probe_first_name,
        |  CAST(json_extract(snapshot, '$.stats_omkafka_global[0].submitted')
        |    AS BIGINT) AS probe_global_sub,
        |  CAST(json_extract(snapshot, '$.stats_omkafka_local[1].processed')
        |    AS BIGINT) AS probe_remap,
        |  json_extract_string(snapshot, '$.timedate') AS probe_td
        |FROM (
        |  SELECT '{ "timedate": "' || strftime(mts, '%a %b %d %H:%M:%S %Y') ||
        |    '", "stats_imfile": [' || (SELECT imfile_arr FROM arr) || ']' ||
        |    ', "stats_omkafka_global": [{ "name": "omkafka", "origin": "omkafka", "submitted": ' || n || ' }]' ||
        |    ', "stats_omkafka_local": [{ "name": "topic-events", "origin": "omkafka", "submitted": ' || n || ' },{ "name": "action-omkafka", "origin": "core.action", "processed": ' || n || ' }]' ||
        |    ', "stats_impstats": [{ "name": "resource-usage", "origin": "impstats", "utime": ' || n || ', "openfiles": 32 }]' ||
        |    '}' AS snapshot
        |  FROM a)""".stripMargin),

    // §2.6 lookup table (string type) — broadcast-map enrichment
    QueryDef("lookup_string", (s, dir) => {
      val tbl = StringLookup(
        Map("error" -> "E", "signup" -> "S", "purchase" -> "P", "view" -> "V"),
        nomatch = "UNK")
      Tables.events(s, dir)
        .withColumn("code", tbl.probe(col("event_type")))
        .groupBy(col("code")).agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
    },
      """SELECT CASE event_type
        |    WHEN 'error' THEN 'E' WHEN 'signup' THEN 'S'
        |    WHEN 'purchase' THEN 'P' WHEN 'view' THEN 'V'
        |    ELSE 'UNK' END AS code,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1""".stripMargin),

    // §2.6 lookup table (sparseArray type) — floor-match on sorted ranges
    QueryDef("lookup_sparse", (s, dir) => {
      val tbl = SparseArrayLookup(
        IndexedSeq(0L -> "low", 50L -> "mid", 150L -> "high", 500L -> "xhigh"),
        nomatch = "neg")
      Tables.events(s, dir)
        .withColumn("band", tbl.probe(floor(col("value")).cast("long")))
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE
        |    WHEN floor(value) >= 500 THEN 'xhigh'
        |    WHEN floor(value) >= 150 THEN 'high'
        |    WHEN floor(value) >= 50 THEN 'mid'
        |    WHEN floor(value) >= 0 THEN 'low'
        |    ELSE 'neg' END AS band,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // §2.6 lookup table (regex type) — ordered first-match-wins
    QueryDef("lookup_regex", (s, dir) => {
      val tbl = RegexLookup(
        IndexedSeq("^p" -> "p-ish", "^(e|s)" -> "es-ish", "w$" -> "w-end"),
        nomatch = "other")
      Tables.events(s, dir)
        .withColumn("cls", tbl.probe(col("event_type")))
        .groupBy(col("cls")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE
        |    WHEN regexp_matches(event_type, '^p') THEN 'p-ish'
        |    WHEN regexp_matches(event_type, '^(e|s)') THEN 'es-ish'
        |    WHEN regexp_matches(event_type, 'w$') THEN 'w-end'
        |    ELSE 'other' END AS cls,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // §2.7 dynstats — dyn_inc counters keyed by runtime string, with
    // maxCardinality semantics (first-seen keys kept, rest → overflow)
    QueryDef("dynstats", (s, dir) => {
      DynStats.counters(Tables.events(s, dir),
        keyCol = col("event_type"), orderCol = col("event_id"),
        maxCardinality = 3)
    },
      DynStats.oracleSql(maxCardinality = 3)),

    // §2.7 percentile_stats — per-key percentiles over an observation window
    QueryDef("perctile", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          round(min(col("value")), 2).as("window_min"),
          round(max(col("value")), 2).as("window_max"),
          count(lit(1)).as("window_count"))
    },
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(min(value), 2) AS window_min,
        |  round(max(value), 2) AS window_max,
        |  count(*) AS window_count
        |FROM events GROUP BY 1""".stripMargin),

    // §2.7 dyn_inc from SCRIPT TEXT → real DynStats counters: the call
    // sites' frozen path guards aggregate over the final frame. The
    // trailing severity==6 stop runs AFTER the dyn_inc sequence point, so
    // those rows still count (reference fires the side effect the moment
    // the statement runs); the leading severity==7 stop runs before, so
    // those never count.
    QueryDef("rainerscript_dynstats", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .select("event_id", "facility", "severity", "event_type", "hostname")
      val script =
        """if $severity == 7 then stop
          |if $severity <= 4 then {
          |  set $.r = dyn_inc("by_type", $event_type);
          |} else {
          |  set $.r = dyn_inc("by_type", "quiet");
          |}
          |if $severity == 6 then stop
          |""".stripMargin
      graft.rainerscript.RainerCompiler.run(script, ev)
        .dynStatsFrame("by_type", col("event_id"), maxCardinality = 3)
    },
      (synthSql +
      """, obs AS (
        |  SELECT event_id,
        |    CASE WHEN severity <= 4 THEN event_type ELSE 'quiet' END AS metric_key
        |  FROM ev WHERE severity <> 7),
        |perkey AS (
        |  SELECT metric_key, count(*) AS cnt, min(event_id) AS first_seen
        |  FROM obs GROUP BY 1),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY first_seen) AS rk FROM perkey)
        |SELECT CASE WHEN rk <= 3 THEN metric_key ELSE '_overflow' END AS metric,
        |  CAST(sum(cnt) AS BIGINT) AS n
        |FROM ranked GROUP BY 1""".stripMargin)),

    // §2.7 percentile_observe from SCRIPT TEXT → perctile digest
    QueryDef("rainerscript_perctile", (s, dir) => {
      val ev = synthSyslog(s, dir)
        .select("event_id", "facility", "severity", "event_type", "hostname")
      val script =
        """set $.p = percentile_observe("lat", $event_type,
          |                             $severity * $severity + $facility);
          |""".stripMargin
      graft.rainerscript.RainerCompiler.run(script, ev)
        .perctileFrame("lat")
    },
      (synthSql +
      """, obs AS (
        |  SELECT event_type AS pkey,
        |    CAST(severity * severity + facility AS DOUBLE) AS v
        |  FROM ev)
        |SELECT pkey, count(*) AS window_count,
        |  round(min(v), 4) AS window_min, round(max(v), 4) AS window_max,
        |  round(quantile_cont(v, 0.5), 4) AS p50,
        |  round(quantile_cont(v, 0.95), 4) AS p95,
        |  round(quantile_cont(v, 0.99), 4) AS p99
        |FROM obs GROUP BY 1""".stripMargin)),

    // §2.7 mmcount — running count per key annotated back onto rows
    QueryDef("mmcount", (s, dir) => {
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("event_id"))
      ev.withColumn("msgcnt", row_number().over(w))
        .filter(col("msgcnt") % 100 === 0)
        .select(col("event_id"), col("event_type"), col("msgcnt"))
    },
      """WITH seq AS (
        |  SELECT event_id, event_type, row_number() OVER (
        |    PARTITION BY event_type ORDER BY event_id) AS msgcnt
        |  FROM events)
        |SELECT event_id, event_type, msgcnt FROM seq WHERE msgcnt % 100 = 0""".stripMargin),

    // §2.7 mmsequence — monotonic per-key sequence numbers
    QueryDef("mmsequence", (s, dir) => {
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      ev.withColumn("seq", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(max(col("seq")).as("max_seq"), count(lit(1)).as("n"))
    },
      """WITH seq AS (
        |  SELECT user_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS s
        |  FROM events)
        |SELECT user_id, max(s) AS max_seq, count(*) AS n FROM seq GROUP BY 1""".stripMargin),

    // §2.8 ratelimit — token bucket (interval+burst) per key over event time
    QueryDef("ratelimit", (s, dir) => {
      val ev = Tables.events(s, dir)
      RateLimit(ev, col("user_id"), col("ts"), col("event_id"),
        intervalSec = 3600, burst = 3)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_passed"))
    },
      ratelimitOracle),

    // §2.8 ratelimit drop summary ("N messages dropped" marks)
    QueryDef("ratelimit_summary", (s, dir) => {
      RateLimit.dropSummary(Tables.events(s, dir), col("user_id"), col("ts"),
        intervalSec = 3600, burst = 3)
    },
      """SELECT user_id AS key, epoch_ns(ts)//1000000000//3600 AS rl_win,
        |  count(*) AS n_total,
        |  least(count(*), 3) AS n_passed,
        |  count(*) - least(count(*), 3) AS n_dropped
        |FROM events GROUP BY 1, 2""".stripMargin),

    // §2.7 "last message repeated n times" — consecutive-run reduction
    QueryDef("repeat_reduce", (s, dir) => {
      RateLimit.repeatedMsgReduction(Tables.events(s, dir),
        col("user_id"), col("event_type"), col("event_id"))
    },
      """WITH base AS (
        |  SELECT user_id AS key, event_type AS msg, event_id,
        |    CASE WHEN lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY event_id) IS NULL
        |         OR lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY event_id) <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |runs AS (SELECT *, sum(chg) OVER (
        |    PARTITION BY key ORDER BY event_id ROWS UNBOUNDED PRECEDING)
        |  AS run_id FROM base)
        |SELECT key, msg, min(event_id) AS first_seen,
        |  count(*) AS n_repeats
        |FROM runs GROUP BY key, run_id, msg""".stripMargin),

    // §2.6 lookup table (array type) — dense offset lookup
    QueryDef("lookup_array", (s, dir) => {
      val tbl = ArrayLookup(100L,
        (0 until 20).map(i => s"svc${i}").toIndexedSeq, nomatch = "nosvc")
      Tables.events(s, dir)
        .withColumn("svc", tbl.probe(col("user_id") % 30 + 100))
        .groupBy(col("svc")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE WHEN user_id % 30 + 100 <= 119
        |    THEN 'svc' || (user_id % 30) ELSE 'nosvc' END AS svc,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // §2.8/§2.10 action retry/suspend → dead-letter, oracle-checked: a
    // healthy action delivers its slice on attempt 1; a permanently
    // suspended action exhausts its retries (action.c:856-1015 backoff)
    // and the batch lands in the error-file/dead-letter path instead of
    // being lost (omelasticsearch error-file pattern)
    QueryDef("dead_letter", (s, dir) => {
      import graft.sources.ReliableSink
      val base = graft.Tmp.dir("graft_dlq_")
      val (primary, dlq) = (s"$base/primary", s"$base/dlq")
      val ev = synthSyslog(s, dir).select(col("event_id"), col("severity"))
      val policy = ReliableSink.RetryPolicy(maxRetries = 2,
        resumeIntervalMs = 1, resumeIntervalMaxMs = 4)
      val okPrimary = ReliableSink.writeWithRetry(ev.filter(col("severity") < 4),
        df => df.write.mode("overwrite").parquet(primary),
        df => df.write.mode("overwrite").parquet(dlq), policy)
      var attempts = 0
      val okSuspended = ReliableSink.writeWithRetry(ev.filter(col("severity") >= 4),
        df => { attempts += 1; throw new java.io.IOException("action suspended") },
        df => df.write.mode("overwrite").parquet(dlq), policy)
      require(okPrimary && !okSuspended && attempts == 3,
        s"retry contract drifted: ok=$okPrimary susp=$okSuspended tries=$attempts")
      s.read.parquet(primary).withColumn("handled_by", lit("primary"))
        .unionByName(s.read.parquet(dlq).withColumn("handled_by", lit("dead_letter")))
        .select(col("event_id"), col("handled_by"))
    },
      (synthSql +
      """ SELECT event_id,
        |   CASE WHEN severity < 4 THEN 'primary' ELSE 'dead_letter' END
        |     AS handled_by
        | FROM ev""".stripMargin)),

    // §2.1 reload_lookup_table — hot reload ≡ per-epoch rebuild: the table
    // FILE is rewritten and re-loaded between epochs (the exact mechanics
    // of the foreachBatch re-read at stream epoch boundaries; reference
    // runtime/lookup.c lookupReload). Epoch 1 probes v1, epoch 2 the
    // reloaded v2; routing stays declarative per epoch.
    QueryDef("lookup_reload", (s, dir) => {
      val f = java.io.File.createTempFile("graft_lookup_reload", ".json")
      f.deleteOnExit()
      def write(json: String): Unit = {
        val w = new java.io.PrintWriter(f)
        try w.write(json) finally w.close()
      }
      write("""{"version":1,"nomatch":"UNK","type":"string","table":[
        {"index":"error","value":"sev-high"},{"index":"purchase","value":"rev"}]}""")
      val v1 = LookupTable.load(f.getPath)
      write("""{"version":1,"nomatch":"UNK","type":"string","table":[
        {"index":"error","value":"sev-crit"},{"index":"signup","value":"acq"}]}""")
      val v2 = LookupTable.load(f.getPath)
      val ev = Tables.events(s, dir)
      val epoch1 = ev.filter(col("event_id") % 2 === 0)
        .withColumn("cls", v1.probe(col("event_type")))
        .withColumn("epoch", lit(1L))
      val epoch2 = ev.filter(col("event_id") % 2 === 1)
        .withColumn("cls", v2.probe(col("event_type")))
        .withColumn("epoch", lit(2L))
      epoch1.unionByName(epoch2)
        .groupBy(col("epoch"), col("cls"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH e1 AS (
        |  SELECT CASE event_type WHEN 'error' THEN 'sev-high'
        |                         WHEN 'purchase' THEN 'rev'
        |                         ELSE 'UNK' END AS cls
        |  FROM events WHERE event_id % 2 = 0),
        |e2 AS (
        |  SELECT CASE event_type WHEN 'error' THEN 'sev-crit'
        |                         WHEN 'signup' THEN 'acq'
        |                         ELSE 'UNK' END AS cls
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT CAST(1 AS BIGINT) AS epoch, cls, count(*) AS n FROM e1 GROUP BY 1, 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS epoch, cls, count(*) AS n FROM e2 GROUP BY 1, 2""".stripMargin)
  )
}
