package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._

/** Relational baselines and Spark-native extensions: TPC-H-shaped
  * aggregate and join, event-time windows, the skew join and the
  * SQL-only surface.
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(
    // §2 flagship agg (baseline relational capability)
    QueryDef("q1_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // baseline relational capability, join shape (TPC-H Q3-ish):
    // filtered customer dim BROADCAST into orders, the fact-fact join to
    // lineitem shuffles on the key — the plan a 100 TB run needs (small
    // side broadcast, one shuffle for the big join, AQE re-plan free)
    QueryDef("q3_join", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord.join(broadcast(cust),
          col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count_distinct(col("o_orderkey")).as("n_orders"))
    },
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin),

    // event-time tumbling window aggregation (Spark-native extension the
    // reference lacks — SURVEY §2.8 late/out-of-order note)
    QueryDef("window_agg", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(unix_timestamp(col("w.start")).as("day_start"),
          col("event_type"), col("n"), col("sum_v"))
    },
      """SELECT CAST(epoch_ns(date_trunc('day', ts)) // 1000000000 AS BIGINT)
        |    AS day_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin),

    // skew tooling as a load-bearing query: a structural hot key (one
    // host carries ~70% of the stream) enriched against a host→site dim
    // through the salted-join kernel — the hot key spreads over 8 salt
    // partitions instead of hammering one (at this dim size Spark may
    // still broadcast, which is fine: the salting is the contract for
    // when the dim outgrows broadcast at 100 TB)
    QueryDef("skew_join", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("hostkey",
        when(col("user_id") % 10 < 7, lit("host0"))
          .otherwise(concat(lit("host"), col("user_id") % 100)))
      val dim = s.range(100).select(
        concat(lit("host"), col("id")).as("hostkey"),
        concat(lit("site"), col("id") % 5).as("site"))
      Skew.saltedJoin(ev, dim, "hostkey", col("event_id"), factor = 8)
        .groupBy(col("site"))
        .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("nu"))
    },
      """WITH dim AS (
        |  SELECT 'host' || i AS hostkey, 'site' || (i % 5) AS site
        |  FROM range(100) t(i)),
        |e AS (
        |  SELECT *, CASE WHEN user_id % 10 < 7 THEN 'host0'
        |                 ELSE 'host' || (user_id % 100) END AS hostkey
        |  FROM events)
        |SELECT site, count(*) AS n, count(DISTINCT user_id) AS nu
        |FROM e JOIN dim USING (hostkey) GROUP BY 1""".stripMargin),

    // event-time SESSION windows (Spark-native extension next to the
    // tumbling window_agg): per-user activity sessions split on 30-min
    // idle gaps — the log-analytics sessionization primitive
    QueryDef("session_window", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("session_start"),
          col("n"), col("sum_v"))
    },
      // gaps-and-islands on MICROSECOND-truncated event time — exactly the
      // precision Spark's session_window sees after the ns→µs normalization,
      // so a gap straddling the 30-min boundary within 1 µs cannot diverge
      """WITH o AS (
        |  SELECT user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
        |b AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |                 OR us - lag(us) OVER w >= 1800000000
        |            THEN 1 ELSE 0 END AS brk
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sgrp AS (
        |  SELECT *, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b)
        |SELECT user_id, min(us) // 1000000 AS session_start,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM sgrp GROUP BY user_id, sid""".stripMargin),

    // the SQL-only user's path (VERDICT r10 #6): the same pipeline a
    // Scala user writes with the operators above, expressed entirely in
    // spark.sql over the graft_* function surface (GraftExtensions) —
    // six registered kernels exercised end-to-end under oracle
    QueryDef("sql_surface", (s, dir) => {
      GraftExtensions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
      s.sql("""
        SELECT doc_id,
          graft_langid(text) AS predicted,
          size(graft_tokens(text)) AS n_tokens,
          graft_subwords(text) AS n_subwords,
          graft_fingerprint(text) AS fp,
          graft_redact(concat('contact user', doc_id, '@example.com at 10.0.',
            doc_id % 256, '.7 acct 123456789')) AS redacted,
          graft_is_in_subnet(concat('10.0.', doc_id % 256, '.7'),
            '10.0.128.0/17') AS upper_half
        FROM graft_docs
        WHERE size(graft_tokens(text)) > 0""")
    },
      (s"""SELECT doc_id, predicted, n_tokens, n_subwords, fp, redacted,
        |  upper_half
        |FROM (
        |  SELECT doc_id, predicted,
        |    len(list_filter(string_split_regex(lower(text), '[\\s\\x0B]+'),
        |      x -> x <> '')) AS n_tokens,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s\\x0B]')) AS n_subwords,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\\s\\x0B]', '', 'g'), '[\\s\\x0B]+', ' ', 'g'))) AS fp,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      'contact user' || doc_id || '@example.com at 10.0.'
        |        || (doc_id % 256) || '.7 acct 123456789',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
        |      '\\b\\d{7,}\\b', '<NUM>', 'g') AS redacted,
        |    (doc_id % 256) >= 128 AS upper_half
        |  FROM ${TextAnalysis.langIdSql("text")}
        |) WHERE n_tokens > 0""".stripMargin))
  )
}
