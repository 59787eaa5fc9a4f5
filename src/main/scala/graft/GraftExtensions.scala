package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RegExpReplace, RegExpExtractAll, Md5, StringTrim, Lower, Size, Cast}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** SQL surface for the engine's native kernels: register with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`) and every
  * kernel below is callable from plain `spark.sql(...)` — the standard
  * Spark mechanism for shipping a function library, so a SQL-only user
  * gets the syslog/dedup/JSON kernels without touching the Scala API.
  * All implementations are the same codegen'd Catalyst expressions the
  * DataFrame API uses; nothing here is a UDF.
  *
  * `GraftExtensions.register(spark)` injects the same functions into an
  * ALREADY-built session (idempotent) — for notebooks/REPLs where the
  * builder ran without extensions, and for the `sql_surface` oracle
  * query, which runs against the driver's plain session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.forEachFunction { (id, inf, builder) =>
      ext.injectFunction((id, inf, builder))
    }
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  /** Register into a live session's function registry (idempotent —
    * re-registration replaces the same builder). */
  def register(spark: SparkSession): Unit =
    forEachFunction { (id, inf, builder) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, id, inf, builder)
    }

  private def forEachFunction(
      sink: (FunctionIdentifier, ExpressionInfo,
             Seq[Expression] => Expression) => Unit): Unit = {
    def reg(name: String, usage: String)(b: Seq[Expression] => Expression): Unit =
      sink(FunctionIdentifier(name), info(name, usage), b)

    // syslog reception
    reg("graft_syslog_parse",
      "graft_syslog_parse(raw) - RFC3164/5424 auto-detect parse to a struct") {
      es => SyslogParseExpr(es.head)
    }
    reg("graft_syslog_pri",
      "graft_syslog_pri(raw) - the PRI alone: 13 without '<', 199 if invalid") {
      es => SyslogPriExpr(es.head)
    }
    reg("graft_parse_sd",
      "graft_parse_sd(sd) - RFC5424 STRUCTURED-DATA to JSON") {
      es => ParseStructuredDataExpr(es.head)
    }

    // text analysis / dedup kernels
    reg("graft_tokens",
      "graft_tokens(text) - casefolded whitespace tokens") {
      es => TokensExpr(es.head)
    }
    reg("graft_langid",
      "graft_langid(text) - marker-stopword language id ('und' if none)") {
      es => LangIdExpr(TokensExpr(es.head), graft.operators.TextAnalysis.langMarkers)
    }
    reg("graft_ngrams",
      "graft_ngrams(tokens, n) - space-joined word n-grams") {
      es => NgramJoinExpr(es.head, litInt(es(1), "graft_ngrams", "n"))
    }
    reg("graft_shingles",
      "graft_shingles(text, n) - distinct word-shingle hashes") {
      es => ShinglesExpr(es.head, litInt(es(1), "graft_shingles", "n"))
    }
    reg("graft_minhash",
      "graft_minhash(text, n, k) - k-hash minhash signature of n-shingles") {
      es => MinHashTextExpr(es.head, litInt(es(1), "graft_minhash", "n"),
        litInt(es(2), "graft_minhash", "k"))
    }
    reg("graft_simhash",
      "graft_simhash(text) - 64-bit simhash over the casefolded tokens") {
      es => SimHash64Expr(TokensExpr(es.head))
    }
    reg("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two float arrays") {
      es => CosineSimilarityExpr(es.head, es(1))
    }
    reg("graft_winnow",
      "graft_winnow(text, k, w) - winnowing fingerprint hashes") {
      es => WinnowFingerprintExpr(es.head, litInt(es(1), "graft_winnow", "k"),
        litInt(es(2), "graft_winnow", "w"))
    }

    // composed text signals, assembled as RESOLVED catalyst trees (the
    // Column API can't cross the FunctionBuilder boundary: composed
    // Columns carry unresolved nodes the analyzer won't revisit here).
    // Richer compositions (quality score, Gopher flags) stay Scala-API /
    // SQL-composable from the kernels above.
    def re(e: Expression, pat: String, to: String): Expression =
      RegExpReplace(e, Literal(pat), Literal(to))
    reg("graft_redact",
      "graft_redact(text) - emails/IPv4s/long digit runs to class tokens") {
      es =>
        import graft.operators.TextAnalysis._
        re(re(re(es.head, emailRe, "<EMAIL>"), ipv4Re, "<IP>"),
          longDigitsRe, "<NUM>")
    }
    reg("graft_fingerprint",
      "graft_fingerprint(text) - md5 of normalized content") {
      es => FingerprintExpr(es.head)
    }
    reg("graft_subwords",
      "graft_subwords(text) - BPE-ish subword count estimate") {
      es => SubwordCountExpr(es.head)
    }

    // net
    reg("graft_is_in_subnet",
      "graft_is_in_subnet(ip, cidr) - CIDR membership") {
      es => IsInSubnetExpr(es.head, es(1))
    }

    // JSON tree mutation (the $! variable tree operations)
    reg("graft_json_set",
      "graft_json_set(json, path, value) - set a $!-style path") {
      es => JsonSetExpr(es.head, es(1), es(2))
    }
    reg("graft_json_unset",
      "graft_json_unset(json, path) - unset a $!-style path") {
      es => JsonUnsetExpr(es.head, es(1))
    }
    reg("graft_json_exists",
      "graft_json_exists(json, path) - path existence") {
      es => JsonExistsExpr(es.head, es(1))
    }
    reg("graft_json_merge",
      "graft_json_merge(dst, src) - recursive JSON merge") {
      es => JsonMergeExpr(es.head, es(1))
    }
    reg("graft_find_json",
      "graft_find_json(text) - first embedded JSON object (mmjsonparse find-json)") {
      es => FindJsonExpr(es.head)
    }

    // compression wire kernels
    reg("graft_gzip", "graft_gzip(bin) - gzip bytes") {
      es => GzipExpr(es.head)
    }
    reg("graft_gunzip", "graft_gunzip(bin) - gunzip bytes, NULL if malformed") {
      es => GunzipExpr(es.head)
    }
    reg("graft_fwd_zip",
      "graft_fwd_zip(bin, level) - omfwd single-msg compression ('z' frame on gain)") {
      es => OmfwdZipExpr(es.head, litInt(es(1), "graft_fwd_zip", "level"))
    }
    reg("graft_fwd_unzip",
      "graft_fwd_unzip(bin) - inflate a 'z' frame, pass through raw") {
      es => OmfwdUnzipExpr(es.head)
    }

    // feature hashing + span scrubbing (the r12 LLM-prep kernels)
    reg("graft_fnv64",
      "graft_fnv64(text) - FNV-1a 64-bit hash (feature hashing)") {
      es => Fnv1a64Expr(es.head)
    }
    reg("graft_multi_remove",
      "graft_multi_remove(text, spans) - single-pass removal of " +
        "fixed-width literal spans (Rabin-Karp; = regexp_replace over " +
        "a literal alternation)") { es =>
      val spansExpr = es(1)
      if (!spansExpr.foldable) throw new IllegalArgumentException(
        "graft_multi_remove: spans must be a foldable array literal")
      val spans = spansExpr.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
        case other => throw new IllegalArgumentException(
          s"graft_multi_remove: spans must be ARRAY<STRING>, got $other")
      }
      MultiRemoveExpr(es.head, spans)
    }
  }
}
