package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface registered by [[GraftExtensions]] — a
  * SQL-only user's view of the engine. Uses its own session because the
  * extension must be installed at build time. */
class ExtensionsSpec extends AnyFunSuite {

  // extensions only apply to a NEWLY built session, and the suite JVM
  // shares TestSpark's — so clear the active/default slots, build an
  // isolated session over the same SparkContext, then put the shared
  // one back so later suites are untouched
  private lazy val spark: SparkSession = {
    val shared = TestSpark.spark // materialize the shared session first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }

  test("syslog, text and dedup kernels answer from plain SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_syslog_parse('<13>Oct 11 22:14:15 host app[42]: hi').hostname AS h,
        |  graft_syslog_pri('<34>x') AS pri,
        |  graft_langid('the cat and the hat of the thing') AS lang,
        |  graft_tokens('A b  C') AS toks,
        |  graft_ngrams(graft_tokens('a b c'), 2) AS bi,
        |  round(graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)), 4) AS cos,
        |  graft_simhash('some repeated text some repeated text') AS sh,
        |  size(graft_minhash('one two three four five', 2, 8)) AS mh_k,
        |  graft_is_in_subnet('192.168.1.77', '192.168.0.0/16') AS in_net
        |""".stripMargin).collect()(0)
    assert(r.getAs[String]("h") == "host")
    assert(r.getAs[Int]("pri") == 34)
    assert(r.getAs[String]("lang") == "en")
    assert(r.getAs[scala.collection.Seq[String]]("toks").toSeq == Seq("a", "b", "c"))
    assert(r.getAs[scala.collection.Seq[String]]("bi").toSeq == Seq("a b", "b c"))
    assert(r.getAs[Double]("cos") == 1.0)
    assert(r.getAs[Int]("mh_k") == 8)
    assert(r.getAs[Boolean]("in_net"))
  }

  test("composed text signals answer from plain SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_redact('mail a@b.co from 10.1.2.3 acct 12345678') AS red,
        |  graft_fingerprint('A  b!') = graft_fingerprint('a b') AS fp_eq,
        |  graft_subwords('hello world42!') AS sub
        |""".stripMargin).collect()(0)
    assert(r.getAs[String]("red") == "mail <EMAIL> from <IP> acct <NUM>")
    assert(r.getAs[Boolean]("fp_eq"))
    assert(r.getAs[Int]("sub") == 4) // hello | world | 42 | !
    // the fingerprint matches the Scala-API kernel exactly
    import org.apache.spark.sql.functions._
    val viaApi = spark.range(1).select(
      graft.operators.TextAnalysis.fingerprint(lit("A  b!")).as("fp"))
      .collect()(0).getString(0)
    val viaSql = spark.sql("SELECT graft_fingerprint('A  b!') AS fp")
      .collect()(0).getString(0)
    assert(viaApi == viaSql)
  }

  test("JSON tree and compression kernels answer from plain SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_json_set('{}', '$!a!b', 'v') AS set_j,
        |  graft_json_exists(graft_json_set('{}', '$!a!b', 'v'), '$!a!b') AS ex,
        |  graft_json_unset(graft_json_set('{}', '$!a!b', 'v'), '$!a') AS unset_j,
        |  graft_find_json('garbage {"x": 1} tail') AS found,
        |  CAST(graft_gunzip(graft_gzip(CAST('payload' AS BINARY))) AS STRING) AS rt,
        |  CAST(graft_fwd_unzip(graft_fwd_zip(CAST(repeat('log line ', 30) AS BINARY), 9)) AS STRING)
        |    = repeat('log line ', 30) AS fwd_rt
        |""".stripMargin).collect()(0)
    assert(r.getAs[Boolean]("ex"))
    assert(r.getAs[String]("unset_j") == "{}")
    assert(r.getAs[String]("found").contains("\"x\""))
    assert(r.getAs[String]("rt") == "payload")
    assert(r.getAs[Boolean]("fwd_rt"))
    // non-literal static args are rejected with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT graft_ngrams(graft_tokens('a b'), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("INTEGER literal") ||
      e.getCause != null && e.getCause.getMessage.contains("INTEGER literal"))
  }

  test("feature-hash and span-scrub kernels answer from plain SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_fnv64('hello') AS h,
        |  graft_multi_remove('XXabYYabZZ', array('ab', 'YY')) AS scrubbed,
        |  graft_multi_remove('clean', array('zz', 'qq')) AS untouched
        |""".stripMargin).collect()(0)
    // FNV-1a 64 of "hello" (public test vector), as a signed long
    assert(r.getAs[Long]("h") == 0xa430d84680aabd0bL)
    assert(r.getAs[String]("scrubbed") == "XXZZ")
    assert(r.getAs[String]("untouched") == "clean")
    // non-foldable spans must be rejected, not silently mis-planned
    val e = intercept[Exception] {
      spark.sql("SELECT graft_multi_remove('x', array(repeat('a', id))) " +
        "FROM range(1)").collect()
    }
    assert(e.getMessage.contains("foldable") ||
      e.getMessage.toLowerCase.contains("multi_remove"))
  }

  test("GraftExtensions.register injects into an already-built session") {
    // a plain session (no withExtensions at build time) gains the full
    // surface after register() — the notebook/REPL path, and what the
    // sql_surface oracle query relies on. newSession() shares the
    // SparkContext but gets a FRESH function registry (same isolation
    // discipline as the suite session above — never stop() here)
    val plain = TestSpark.spark.newSession()
    intercept[Exception] {
      plain.sql("SELECT graft_tokens('x')").collect()
    }
    graft.GraftExtensions.register(plain)
    val r = plain.sql(
      "SELECT size(graft_tokens('one  two\tthree')) AS n, " +
      "graft_langid('the cat and the dog have that') AS l").collect()(0)
    assert(r.getAs[Int]("n") == 3)
    assert(r.getAs[String]("l") == "en")
    // idempotent: re-registration replaces, not duplicates/throws
    graft.GraftExtensions.register(plain)
    assert(plain.sql("SELECT size(graft_tokens('x')) AS n")
      .collect()(0).getAs[Int]("n") == 1)
  }
}
