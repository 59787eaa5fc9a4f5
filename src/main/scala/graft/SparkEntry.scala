package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql` on the same
  * parquet tables. Column names are aligned between both sides (the
  * driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0.
    * The full SURVEY §7 minimum slice through the config front-end:
    * rsyslog.conf text → objects + script → decode synth syslog lines →
    * filter/enrich/stop → action with rendered template → aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val raw = Queries.synthSyslog(spark, dir).select(col("rawmsg").as("value"))
    val decoded = graft.sources.Sources.decodeSyslog(raw)
    val cfg = graft.rainerscript.RsyslogConfig.parse(
      """template(name="out" type="string"
        |         string="%timereported:::date-rfc3164% %hostname% %syslogtag% %msg%")
        |ruleset(name="classify") {
        |  if prifilt("*.err") then set $!class = "high";
        |  else set $!class = "low";
        |}
        |call classify
        |if $severity == 7 then stop
        |action(type="omfile" name="keep")
        |""".stripMargin)
    val res = cfg.run(decoded)
    res.actionFrame(0)
      .withColumn("line", cfg.renderTemplate("out", col))
      .groupBy(get_json_object(col("vars_msg"), "$.class").as("class"))
      .agg(count(lit(1)).as("n"), max(length(col("line"))).as("max_len"))
  }

  /** Every driver query, family by family. A new query is one `QueryDef`
    * in the family file under `graft/queries/` it belongs to. */
  val all: Seq[QueryDef] = Seq(
    RelationalQueries.defs, ScriptQueries.defs, InputQueries.defs,
    StateQueries.defs, ParserQueries.defs, OutputQueries.defs,
    CorpusQueries.defs, StreamQueries.defs).flatten

  locally {
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracleSql).toMap
}

/** The synthesized syslog stream the queries share: the plan side
  * (`synthSyslog`, `synthFrom`) and its DuckDB mirror (`synthSql`).
  */
object Queries {

  /** events with a deterministic synthesized RFC3164 rawmsg column — the
    * stream stand-in from FIXTURES.md §4: PRI from (user_id, event_id),
    * hostname from user_id, tag from event_type, msg body with seq.
    */
  def synthSyslog(spark: SparkSession, dir: String): DataFrame =
    synthFrom(Tables.events(spark, dir))

  /** Row-level synthesis only, so it runs unchanged on a readStream
    * events frame (the streaming-gate queries reuse it). */
  def synthFrom(ev: DataFrame): DataFrame = {
    ev.withColumn("facility", (col("user_id") % 24).cast("int"))
      .withColumn("severity", (col("event_id") % 8).cast("int"))
      .withColumn("pri", col("facility") * 8 + col("severity"))
      .withColumn("hostname", concat(lit("host"), col("user_id")))
      // v100 = value in integer cents: avoids double→string dialect gaps
      .withColumn("v100", round(col("value") * 100, 0).cast("long"))
      .withColumn("rawmsg", concat(
        lit("<"), col("pri"), lit(">"),
        // RFC3164 TIMESTAMP from ts (second granularity)
        date_format(col("ts"), "MMM "),
        lpad(date_format(col("ts"), "d"), 2, " "),
        date_format(col("ts"), " HH:mm:ss "),
        col("hostname"), lit(" "),
        col("event_type"), lit("[" ), col("event_id"), lit("]: "),
        lit("msgnum:"), lpad(col("event_id"), 8, "0"), lit(": v100="), col("v100")))
  }

  /** Shared DuckDB CTE mirroring synthSyslog's derived fields. */
  val synthSql: String =
    """WITH ev AS (
      |  SELECT *,
      |    CAST(user_id % 24 AS INT) AS facility,
      |    CAST(event_id % 8 AS INT) AS severity,
      |    'host' || user_id AS hostname,
      |    CAST(round(value * 100, 0) AS BIGINT) AS v100,
      |    event_type || '[' || event_id || ']' AS syslogtag
      |  FROM events
      |)""".stripMargin
}
