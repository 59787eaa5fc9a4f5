package graft.rainerscript

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.rainer
import graft.operators.LookupTable
import graft.templates.TemplateCompiler

/** Compiles a RainerScript AST into a DataFrame pipeline — the Spark
  * analogue of the reference interpreter `scriptExec`
  * (runtime/ruleset.c:536-596), but *declarative*: the whole script
  * becomes a chain of `withColumn` projections Catalyst fuses into one
  * whole-stage-codegen'd stage. Control flow lowers to boolean path
  * conditions, exactly how the reference's per-message branches become
  * per-row predicates:
  *
  *  - `if c then A else B` → A under path∧c, B under path∧¬c; each
  *    condition is *materialized* into a temp column at its sequence
  *    point so later variable mutations can't retroactively change it
  *    (rsyslog evaluates the guard before the body runs).
  *  - `set $!a!b = e` → vars_msg = if(path) json_set(vars_msg,"a!b",e)
  *  - `stop` → __stopped |= path; survivors = ¬__stopped at the end.
  *  - `action(...)` → records (frozen condition, params); each action's
  *    rows = rows whose path reached it un-stopped.
  *
  * Input contract: the DataFrame carries the fixed LogEvent columns the
  * script references ($msg → msg, …) plus `vars_msg`/`vars_local` JSON
  * columns (created if absent).
  */
object RainerCompiler {

  /** `frameOverride`: an action whose sequence point sits inside a
    * foreach body fires once PER ELEMENT (runtime/ruleset.c:310-401
    * executes arbitrary statements per iteration), so it captures the
    * exploded frame as of its sequence point — the post-loop collapse
    * keeps one row per pre-loop record and cannot represent per-element
    * firings. actionFrame() reads the override; aggregating such an
    * action's condCol over the FINAL frame would count element 0 only. */
  case class CompiledAction(index: Int, params: Map[String, String],
                            condCol: String, renderCol: Option[String],
                            frameOverride: Option[DataFrame] = None)

  /** A dyn_inc / percentile_observe call site captured at compile time:
    * the key/value expressions plus the frozen path condition under which
    * the reference interpreter would have executed the side effect
    * (runtime/dynstats.c:73-97, runtime/perctile_stats.c:289-343). The
    * set engine derives the counters by aggregating these observations
    * over the final frame — same numbers, one distributed pass. */
  case class CounterSite(kind: String, bucket: String, key: Column,
                         value: Column, guard: Column)

  /** Mutable compile context for counter-site capture: `guard` tracks the
    * current statement's path condition while its expressions compile. */
  final class CounterRecorder {
    var guard: Column = lit(true)
    val sites = scala.collection.mutable.ArrayBuffer.empty[CounterSite]
  }

  case class ScriptResult(frame: DataFrame, actions: Seq[CompiledAction],
                          counterSites: Seq[CounterSite] = Nil) {
    /** dyn_stats counters for one named bucket, aggregated from every
      * dyn_inc site with maxCardinality admission in `orderCol` order —
      * the batch face of Stateful.dynStats, wired to the script surface. */
    def dynStatsFrame(bucket: String, orderCol: Column,
                      maxCardinality: Int): DataFrame = {
      val obs = counterSites
        .filter(s => s.kind == "dyn" && s.bucket == bucket)
        .map(s => frame.filter(s.guard)
          .select(s.key.cast("string").as("metric_key"), orderCol.as("ord")))
      require(obs.nonEmpty, s"no dyn_inc site for bucket $bucket")
      graft.operators.DynStats.counters(
        obs.reduce(_ unionAll _), col("metric_key"), col("ord"), maxCardinality)
    }

    /** percentile_stats digest for one named bucket from every
      * percentile_observe site (full-window percentiles — the batch face
      * of Stateful.perctileStats). */
    def perctileFrame(bucket: String): DataFrame = {
      val obs = counterSites
        .filter(s => s.kind == "pct" && s.bucket == bucket)
        .map(s => frame.filter(s.guard)
          .select(s.key.cast("string").as("pkey"), s.value.cast("double").as("v")))
      require(obs.nonEmpty, s"no percentile_observe site for bucket $bucket")
      obs.reduce(_ unionAll _)
        .groupBy(col("pkey"))
        .agg(
          count(lit(1)).as("window_count"),
          round(min(col("v")), 4).as("window_min"),
          round(max(col("v")), 4).as("window_max"),
          round(expr("percentile(v, 0.5)"), 4).as("p50"),
          round(expr("percentile(v, 0.95)"), 4).as("p95"),
          round(expr("percentile(v, 0.99)"), 4).as("p99"))
    }
    /** Rows that survive the script (not stopped), internals dropped. */
    def output: DataFrame = frame.filter(!col("__stopped"))
      .drop(frame.columns.filter(_.startsWith("__")): _*)
    /** Rows reaching action i; `__rendered` carries the action's template
      * output as materialized AT the action's sequence point (rsyslog
      * renders when the action fires — later variable mutations must not
      * leak in). Built and analyzed once per index: every call returns the
      * same Dataset. */
    def actionFrame(i: Int): DataFrame =
      actionFrames.computeIfAbsent(i, _ => buildActionFrame(i))
    private val actionFrames =
      new java.util.concurrent.ConcurrentHashMap[Int, DataFrame]()
    private def buildActionFrame(i: Int): DataFrame = {
      val a = actions(i)
      val base = a.frameOverride.getOrElse(frame).filter(col(a.condCol))
      val rendered = a.renderCol match {
        case Some(rc) => base.withColumn("__rendered", col(rc))
        case None => base
      }
      rendered.drop(rendered.columns.filter(c =>
        c.startsWith("__") && c != "__rendered"): _*)
    }
  }

  /** One JSON-tree variable read: Spark's codegen'd get_json_object in
    * the (default) case-sensitive mode; the ci render kernel when
    * global(variables.casesensitive="off") is in force — get_json_object
    * cannot fold key case, and the render kernel's scalar output matches
    * it (textValue/asText vs unquoted scalar extraction). */
  private def varRead(vc: String, p: String): Column =
    if (EnvSource.varsCaseInsensitive)
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.JsonRenderExpr(
          org.apache.spark.sql.GraftBridge.expression(col(vc)),
          p.replace('.', '!'), ci = true))
    else get_json_object(col(vc), "$." + p.replace('!', '.'))

  /** Property name → Column for the fixed schema + JSON var trees. */
  def resolveProp(name: String): Column = name match {
    // bare tree roots: the whole namespace column (compact JSON — the
    // reference pretty-prints with fjson spacing; content is identical)
    case "$!" => col("vars_msg")
    case "$." => col("vars_local")
    case "$/" => col("vars_global")
    case n if n.startsWith("$!") || n.startsWith("!") =>
      varRead("vars_msg", n.dropWhile(c => c == '$' || c == '!'))
    case n if n.startsWith("$.") =>
      varRead("vars_local", n.drop(2))
    // $/ globals: own namespace column, per-message scope — cross-message
    // mutation is per-partition-unsafe in a parallel engine (rsyslog
    // itself documents $/ as not reliably thread-safe); SURVEY §1.2
    case n if n.startsWith("$/") =>
      varRead("vars_global", n.drop(2))
    case n if n.startsWith("$") => resolveProp(n.drop(1))
    case "severity" => col("severity")
    case "facility" => col("facility")
    // derived/aliased names (pri-text, syslogpriority, *-text tables,
    // timereported, app-name, iut, …) share the template compiler's
    // resolver — one property space for scripts and templates
    case other => TemplateCompiler.resolve(other, col)
  }

  /** A scalar read-through cache entry for a `set` variable: reads of the
    * same var can resolve to the materialized value column instead of
    * re-parsing the JSON tree (json_set costs a Jackson roundtrip; a
    * script that sets then reads pays it per read without this).
    * `guard` is the set's path condition — rows where it holds read
    * `value`, the rest fall back to the tree read, which is also the
    * always-correct fallback for JSON-shaped strings (putTagged embeds
    * those as subtrees, so the read-back differs from the raw text).
    * Guards only ever go true→false over a run (__stopped is monotone,
    * path conds are frozen), so a later re-evaluation that turns false
    * just takes the fallback — whose tree already has the set applied. */
  case class OverlayInfo(guard: Column, value: Column,
                         dt: org.apache.spark.sql.types.DataType)

  /** Overlay-aware scalar read with `fallback` = the tree read. */
  private def overlayRead(ov: Option[OverlayInfo], fallback: Column,
                          allowDouble: Boolean): Column = {
    import org.apache.spark.sql.types._
    ov match {
      case Some(OverlayInfo(g, v, StringType)) =>
        when(g && !trim(v).rlike("^[\\[{]"), v).otherwise(fallback)
      case Some(OverlayInfo(g, v, LongType | IntegerType | BooleanType)) =>
        when(g, v.cast("string")).otherwise(fallback)
      case Some(OverlayInfo(g, v, DoubleType)) if allowDouble =>
        when(g, v.cast("string")).otherwise(fallback)
      case _ => fallback
    }
  }

  /** String coercion of an expression: JSON-namespace variable reads go
    * through the reference's jsonToString render (json_object_get_string
    * on a non-string → json-c SPACED serialization, runtime/msg.c:1067;
    * scalars come back raw) — everything else is a plain string cast. */
  private def strCoerce(e: RExpr, go: RExpr => Column,
                        overlays: String => Option[OverlayInfo]): Column = {
    // a missing/unset JSON var coerces to the EMPTY string, not null —
    // var2String renders a NULL json as "" (grammar/rainerscript.c:
    // 1514-1517), so `$.unset & "|"` is "|", never null
    def r(vc: String, p: String): Column =
      coalesce(org.apache.spark.sql.GraftBridge.column(
        graft.functions.JsonRenderExpr(
          org.apache.spark.sql.GraftBridge.expression(col(vc)), p,
          EnvSource.varsCaseInsensitive)), lit(""))
    // json-c's double rendering is not guaranteed to match a SQL cast,
    // so double overlays keep the render path here (allowDouble=false).
    // String context coerces a null value to "" (the same var2String
    // contract the fallback's coalesce enforces) — without it a null
    // set value (cbool of a missing var, …) would null the whole concat
    def ov(n: String, fallback: Column): Column =
      coalesce(overlayRead(overlays(n), fallback, allowDouble = false),
        lit(""))
    e match {
      case RVar(raw) =>
        val n = if (raw.startsWith("$")) raw else "$" + raw
        if (n == "$!") r("vars_msg", "")
        else if (n == "$.") r("vars_local", "")
        else if (n == "$/") r("vars_global", "")
        else if (n.startsWith("$!")) ov(n, r("vars_msg", n.drop(2)))
        else if (n.startsWith("$.")) ov(n, r("vars_local", n.drop(2)))
        else if (n.startsWith("$/")) ov(n, r("vars_global", n.drop(2)))
        else go(e).cast("string")
      case _ => go(e).cast("string")
    }
  }

  def compileExpr(e: RExpr, tables: Map[String, LookupTable],
                  templates: Map[String, String] = Map.empty,
                  rec: CounterRecorder = null,
                  timezones: Map[String, String] = Map.empty,
                  templateEscapes: Map[String, String] = Map.empty,
                  overlays: String => Option[OverlayInfo] = _ => None,
                  http: Map[String, String] = Map.empty): Column = {
    def go(e: RExpr): Column = e match {
      case RStr(s) => lit(s)
      case RNum(n) => lit(n)
      case RArr(items) => array(items.map(lit): _*)
      // scalar var reads resolve through the set-overlay cache when one
      // is live (a get_json_object fallback covers guard-false rows and
      // JSON-shaped strings); doubles allowed here because the fallback
      // is get_json_object = Jackson text = Double.toString, same as cast
      case RVar(raw) => overlayRead(overlays(raw), resolveProp(raw),
        allowDouble = true)
      case RNot(x) => !toBool(x)
      case RNeg(x) => -rainer.cnum(go(x))
      case RBinop("and", l, r) => toBool(l) && toBool(r)
      case RBinop("or", l, r) => toBool(l) || toBool(r)
      // String concat coerces JSON-tree reads through the reference's
      // jsonToString (json_object_get_string, grammar/rainerscript.c:1519,
      // 2024): objects/arrays render in json-c SPACED form, scalars raw.
      case RBinop("&", l, r) =>
        concat(strCoerce(l, go, overlays), strCoerce(r, go, overlays))
      case RBinop(op @ ("+" | "-" | "*" | "/" | "%"), l, r) =>
        val (a, b) = (rainer.cnum(go(l)), rainer.cnum(go(r)))
        op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          // div-by-zero yields "undefined" in the reference (guarded);
          // try_divide → null mirrors that
          case "/" => try_divide(a, b).cast("long")
          case "%" => when(b =!= 0, a % b)
        }
      case RBinop("==", l, RArr(items)) => rainer.rs_in(go(l).cast("string"), items)
      case RBinop("!=", l, RArr(items)) => !rainer.rs_in(go(l).cast("string"), items)
      case RBinop("==", l, r) => rainer.rs_eq(go(l), go(r))
      case RBinop("!=" | "<>", l, r) => rainer.rs_ne(go(l), go(r))
      case RBinop("<", l, r) => rainer.rs_lt(go(l), go(r))
      case RBinop("<=", l, r) => rainer.rs_le(go(l), go(r))
      case RBinop(">", l, r) => rainer.rs_gt(go(l), go(r))
      case RBinop(">=", l, r) => rainer.rs_ge(go(l), go(r))
      case RBinop("contains", l, r) => go(l).cast("string").contains(go(r).cast("string"))
      case RBinop("contains_i", l, r) =>
        lower(go(l).cast("string")).contains(lower(go(r).cast("string")))
      case RBinop("startswith", l, r) => go(l).cast("string").startsWith(go(r).cast("string"))
      case RBinop("startswith_i", l, r) =>
        lower(go(l).cast("string")).startsWith(lower(go(r).cast("string")))
      case RBinop("endswith", l, r) => go(l).cast("string").endsWith(go(r).cast("string"))
      case RBinop(op, _, _) => throw new IllegalArgumentException(s"op $op")
      case RFunc(name, args) =>
        compileFunc(name, args, tables, templates, go, rec, timezones,
          templateEscapes, overlays, http)
    }
    def toBool(e: RExpr): Column = e match {
      case RBinop("and" | "or" | "==" | "!=" | "<>" | "<" | "<=" | ">" | ">=" |
                  "contains" | "contains_i" | "startswith" | "startswith_i" |
                  "endswith", _, _) | RNot(_) => go(e).cast("boolean")
      case RFunc("prifilt" | "re_match" | "re_match_i" | "is_in_subnet" |
                 "exists" | "is_time", _) => go(e).cast("boolean")
      // numeric truthiness: non-zero = true (var2Number semantics).
      // A bare string LITERAL in boolean position is almost always a
      // missing repeated comparison (`contains "a" or "b"`) — warn like
      // the reference's config check, but keep the historical truthiness
      // (tests/rscript_bool_constant_warning.sh; constants that merely
      // fold to a literal, e.g. a folded comparison, stay silent because
      // only as-written RStr operands reach this case)
      case other =>
        other match {
          case RStr(s) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"""string constant "$s" in boolean position - did you mean to repeat the comparison?""")
          case _ => ()
        }
        coalesce(rainer.cnum(go(other)) =!= 0, lit(false))
    }
    go(e)
  }

  private def compileFunc(name: String, args: Seq[RExpr],
                          tables: Map[String, LookupTable],
                          templates: Map[String, String],
                          go: RExpr => Column,
                          rec: CounterRecorder = null,
                          timezones: Map[String, String] = Map.empty,
                          templateEscapes: Map[String, String] = Map.empty,
                          overlays: String => Option[OverlayInfo] = _ => None,
                          http: Map[String, String] = Map.empty): Column = {
    def a(i: Int): Column = go(args(i))
    def s(i: Int): String = args(i) match {
      case RStr(x) => x
      case RNum(n) => n.toString
      case other => throw new IllegalArgumentException(
        s"$name arg $i must be a literal, got $other")
    }
    name match {
      case "strlen" => length(a(0))
      case "substring" => rainer.rs_substring(a(0), a(1), a(2))
      case "ltrim" => ltrim(a(0))
      case "rtrim" => rtrim(a(0))
      case "tolower" => lower(a(0))
      case "toupper" => upper(a(0))
      case "replace" => replace(a(0), a(1), a(2))
      case "wrap" =>
        if (args.length > 2) rainer.wrap(a(0), s(1), s(2)) else rainer.wrap(a(0), s(1))
      case "field" => rainer.field(a(0), fieldDelim(s(1)), s(2).toInt)
      case "split" => split(a(0), java.util.regex.Pattern.quote(s(1)))
      case "cstr" => strCoerce(args(0), go, overlays)
      case "cnum" => rainer.cnum(a(0))
      case "cbool" => a(0).cast("boolean")
      case "re_match" => rainer.re_match(a(0), s(1))
      case "re_match_i" => rainer.re_match_i(a(0), s(1))
      case "re_extract" =>
        rainer.re_extract(a(0), s(1), s(2).toInt, s(3).toInt, s(4))
      case "re_extract_i" =>
        rainer.re_extract_i(a(0), s(1), s(2).toInt, s(3).toInt, s(4))
      case "getenv" => rainer.rs_getenv(s(0))
      case "random" =>
        // config-time range warning (doFunct_RandomGen's
        // MAX_RANDOM_NUMBER check, tests/rscript_random_warning.sh)
        args(0) match {
          case RNum(n) if n > Int.MaxValue =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"rainerscript: desired random-number range [0 - $n] is wider " +
              s"than supported limit of [0 - ${Int.MaxValue})")
          case _ => ()
        }
        rainer.rs_random(a(0))
      case "num2ipv4" => rainer.num2ipv4(a(0))
      case "ipv42num" | "ip42num" => rainer.ipv42num(a(0))
      case "int2hex" => rainer.int2hex(a(0))
      case "format_time" => rainer.format_time(a(0), s(1))
      case "parse_time" => rainer.parse_time(a(0))
      case "is_time" => rainer.is_time(a(0))
      // rc-only in pure expression position (0 = parses, 1 = not —
      // strict whole-input check); the mutating 2-arg form is rewritten
      // at the set-statement level in runStmts (it writes the container
      // column too, which an expression cannot)
      case "parse_json" =>
        when(coalesce(rainer.parse_json_ok(a(0)), lit(false)), lit(0L))
          .otherwise(lit(1L))
      case "get_property" => get_json_object(a(0), "$." + s(1))
      case "lookup" =>
        val tbl = tables.getOrElse(s(0),
          throw new IllegalArgumentException(s"unknown lookup table ${s(0)}"))
        tbl.probe(a(1))
      case "prifilt" => rainer.prifilt(s(0))(col("facility"), col("severity"))
      case "b64_decode" => rainer.b64_decode(a(0))
      case "hash64" => xxhash64(a(0))
      case "hash64mod" => pmod(xxhash64(a(0)), a(1))
      case "hash32" => rainer.hash32(a(0))
      case "hash32mod" => rainer.hash32mod(a(0), s(1).toLong)
      case "is_in_subnet" => rainer.is_in_subnet(a(0), a(1))
      case "exists" => args(0) match {
        case RVar(raw) if raw.startsWith("$!") =>
          rainer.json_exists(col("vars_msg"), raw.drop(2))
        case RVar(raw) if raw.startsWith("$.") =>
          rainer.json_exists(col("vars_local"), raw.drop(2))
        case RVar(raw) if raw.startsWith("$/") =>
          rainer.json_exists(col("vars_global"), raw.drop(2))
        case RVar(raw) => resolveProp(raw).isNotNull
        case _ => a(0).isNotNull
      }
      case "unflatten" => rainer.unflatten(a(0), s(1))
      case "cef_ext_escape" => rainer.cef_ext_escape(a(0))
      case "b64_encode" => rainer.b64_encode(a(0))
      case "tocef" =>
        rainer.tocef(a(0), a(1), a(2), a(3), a(4), a(5), a(6))
      case "parse_time_localtz" =>
        // configured timezone(id= offset=) objects resolve symbolic ids
        // to their offsets (runtime/timezones.c glblFindTimezone —
        // config table first, else the literal zone string)
        if (args.length > 1)
          rainer.parse_time_localtz(a(0), timezones.getOrElse(s(1), s(1)))
        else rainer.parse_time(a(0)) // session TZ is UTC
      // append_json(src, dst): expression form returns the merged tree
      // (the reference mutates dst in place, grammar/rainerscript.c:3614)
      case "append_json" => rainer.json_merge(a(1), a(0))
      // dyn_inc / percentile_observe are streaming-counter side effects in
      // the reference (grammar/rainerscript.c:2724, rainerscript.c:4282);
      // the set engine CAPTURES each call site (bucket, key/value, frozen
      // path guard) and derives the same counters by aggregating the
      // observations over the final frame — ScriptResult.dynStatsFrame /
      // perctileFrame. The expression itself returns success (0), exactly
      // like the reference's script-visible return value.
      // Entry points that compile lone expressions (no CounterRecorder)
      // degrade to the reference's script-visible return value (0) with a
      // warning rather than a hard error — the reference's call is valid
      // from any expression position, so ours must be too; only the
      // counter side effect is lost, and the log says so.
      case "dyn_inc" =>
        if (rec == null) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "dyn_inc compiled without a counter context: side effect dropped")
        } else rec.sites += CounterSite("dyn", s(0), a(1), lit(1L), rec.guard)
        lit(0L)
      case "percentile_observe" =>
        if (rec == null) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "percentile_observe compiled without a counter context: side effect dropped")
        } else rec.sites += CounterSite("pct", s(0), a(1), rainer.cnum(a(2)), rec.guard)
        lit(0L)
      // interpreter-state introspection: the declarative engine exposes
      // failure through null-propagation / ReliableSink instead; calls
      // resolve to their success values so real configs run
      case "script_error" => lit(0L)
      case "previous_action_suspended" => lit(false)
      case "exec_template" =>
        TemplateCompiler.compile(
          templates.getOrElse(s(0), throw new IllegalArgumentException(
            s"exec_template: unknown template ${s(0)}")), resolveProp,
          templateEscapes.get(s(0)))
      // fmhttp http_request(url) (plugins/fmhttp/fmhttp.c:89-136): GET
      // the evaluated URL, return the body as a string; ANY failure
      // (curl error) returns number 0 instead. A live per-message HTTP
      // round-trip from inside an executor is the documented Spark
      // anti-pattern (SURVEY §2.3), so the engine's face is the
      // pre-joined-reference-data boundary: the caller supplies the
      // URL → body response map at compile time (http=), and a URL
      // absent from the map IS the failure path (→ 0, which renders
      // "0" in string context exactly like var2String on svar 'N' 0).
      // The map compiles to a plan literal — broadcast with the plan,
      // no shuffle; a provider too big for that belongs in a
      // lookup_table + broadcast join instead.
      case "http_request" =>
        if (http.isEmpty)
          throw new IllegalArgumentException(
            "http_request: no response map bound — supply http= " +
            "(pre-fetched URL → body pairs; live per-row HTTP is not " +
            "a distributed-plan operation)")
        coalesce(element_at(typedLit(http), a(0).cast("string")), lit("0"))
      // ffaup URL component extractors (contrib/ffaup/ffaup.c:307-318)
      case "faup" => // full decomposition as a JSON object
        to_json(struct(
          rainer.faup_scheme(a(0)).as("scheme"),
          rainer.faup_credential(a(0)).as("credential"),
          rainer.faup_subdomain(a(0)).as("subdomain"),
          rainer.faup_domain(a(0)).as("domain"),
          rainer.faup_domain_without_tld(a(0)).as("domain_without_tld"),
          rainer.faup_host(a(0)).as("host"),
          rainer.faup_tld(a(0)).as("tld"),
          rainer.faup_port(a(0)).as("port"),
          rainer.faup_resource_path(a(0)).as("resource_path"),
          rainer.faup_query(a(0)).as("query_string"),
          rainer.faup_fragment(a(0)).as("fragment")))
      case "faup_scheme" => rainer.faup_scheme(a(0))
      case "faup_host" => rainer.faup_host(a(0))
      case "faup_port" => rainer.faup_port(a(0))
      case "faup_path" | "faup_resource_path" => rainer.faup_resource_path(a(0))
      case "faup_query_string" => rainer.faup_query(a(0))
      case "faup_fragment" => rainer.faup_fragment(a(0))
      case "faup_credential" => rainer.faup_credential(a(0))
      case "faup_subdomain" => rainer.faup_subdomain(a(0))
      case "faup_domain" => rainer.faup_domain(a(0))
      case "faup_domain_without_tld" => rainer.faup_domain_without_tld(a(0))
      case "faup_tld" => rainer.faup_tld(a(0))
      case other => throw new IllegalArgumentException(s"unknown function $other")
    }
  }

  /** rsyslog field() delimiter: decimal char code or string. */
  private def fieldDelim(d: String): String =
    if (d.forall(_.isDigit)) d.toInt.toChar.toString else d

  /** Compile and apply a script to a DataFrame. */
  def run(src: String, input: DataFrame,
          tables: Map[String, LookupTable] = Map.empty,
          templates: Map[String, String] = Map.empty,
          timezones: Map[String, String] = Map.empty,
          templateEscapes: Map[String, String] = Map.empty,
          http: Map[String, String] = Map.empty,
          jsonf: Map[String, Seq[TemplateCompiler.JsonfField]] = Map.empty,
          jsonfTree: Set[String] = Set.empty): ScriptResult =
    runStmts(RainerParser.parseScript(src), input, tables, templates, timezones,
      templateEscapes, http, jsonf, jsonfTree)

  /** Compile and apply an already-parsed statement list. */
  def runStmts(stmts: Seq[RStmt], input: DataFrame,
               tables: Map[String, LookupTable] = Map.empty,
               templates: Map[String, String] = Map.empty,
               timezones: Map[String, String] = Map.empty,
               templateEscapes: Map[String, String] = Map.empty,
               http: Map[String, String] = Map.empty,
               jsonf: Map[String, Seq[TemplateCompiler.JsonfField]] = Map.empty,
               jsonfTree: Set[String] = Set.empty): ScriptResult = {
    var df = input
    if (!df.columns.contains("vars_msg")) df = df.withColumn("vars_msg", lit("{}"))
    if (!df.columns.contains("vars_local")) df = df.withColumn("vars_local", lit("{}"))
    if (!df.columns.contains("vars_global")) df = df.withColumn("vars_global", lit("{}"))
    df = df.withColumn("__stopped", lit(false))
    var condId = 0
    val actions = scala.collection.mutable.ArrayBuffer.empty[CompiledAction]
    // counter-site capture: rec.guard is set to the active path condition
    // before each expression compiles, so dyn_inc/percentile_observe sites
    // freeze the condition under which the reference would have fired
    val rec = new CounterRecorder

    def freshCond(): String = { condId += 1; s"__cond_$condId" }

    def varCol(raw: String): (String, String) =
      if (raw.startsWith("$.")) ("vars_local", raw.drop(2).replace('!', '.'))
      else if (raw.startsWith("$/")) ("vars_global", raw.drop(2).replace('!', '.'))
      // dot-normalized like the other namespaces — the overlay cache
      // keys on this form, so "$!a!b" must produce "a.b" here (the
      // json_set call sites re-bang via .replace('.', '!'))
      else ("vars_msg",
        raw.dropWhile(c => c == '$' || c == '!').replace('!', '.'))

    // ---- scalar set-overlay cache (see OverlayInfo) -------------------
    val overlays = scala.collection.mutable.Map.empty[String, OverlayInfo]
    def isVarName(raw: String): Boolean =
      raw.startsWith("$!") || raw.startsWith("$.") || raw.startsWith("$/") ||
      raw.startsWith("!")
    // under variables.casesensitive="off", overlay cache keys fold case
    // so a read of $!ABC after `set $!abc = v` hits the same entry the
    // ci JSON lookup would resolve to
    def ovPath(p: String): String =
      if (EnvSource.varsCaseInsensitive) p.toLowerCase else p

    def ovLookup(raw: String): Option[OverlayInfo] =
      if (!isVarName(raw)) None
      else {
        val (vc, p) = varCol(raw)
        if (p.isEmpty) None else overlays.get(s"$vc:${ovPath(p)}")
      }
    /** Drop overlays whose path is the written path, a descendant of it,
      * or an ancestor (writing $.a invalidates a cached $.a!b and vice
      * versa — ensureParent can replace intermediate nodes). */
    def invalidateOverlaps(vc: String, p0: String): Unit = {
      val p = ovPath(p0)
      val me = s"$vc:$p"
      overlays.keys.toSeq.foreach { k =>
        if (k == me || k.startsWith(me + ".") ||
            (k.startsWith(s"$vc:") && me.startsWith(k + ".")))
          overlays.remove(k)
      }
    }

    /** Compile an expression under `guard`, then MATERIALIZE any counter
      * sites it produced into fresh columns: the guard must see the
      * __stopped/variable state AT this sequence point — a later `stop` or
      * `set` must not retroactively change what dyn_inc counted (the
      * reference fires the side effect the moment the statement runs). */
    def compileWithSites(e: RExpr, guard: Column): Column = {
      rec.guard = guard
      val before = rec.sites.length
      val c = compileExpr(e, tables, templates, rec, timezones,
        templateEscapes, ovLookup, http)
      def freeze(x: Column): Column = {
        val cn = freshCond(); df = df.withColumn(cn, x); col(cn)
      }
      for (i <- before until rec.sites.length) {
        val site = rec.sites(i)
        rec.sites(i) = site.copy(guard = freeze(site.guard),
          key = freeze(site.key), value = freeze(site.value))
      }
      c
    }


    /** Does this expression read variables from namespace column `vc`?
      * Guards the consecutive-set batching: a later set whose value reads
      * the same tree must see the earlier sets' effects, so it can't be
      * folded into one multi-write. */
    def readsNs(e: RExpr, vc: String): Boolean = e match {
      case RVar(raw) =>
        (vc == "vars_msg" && (raw.startsWith("$!") || raw.startsWith("!"))) ||
        (vc == "vars_local" && raw.startsWith("$.")) ||
        (vc == "vars_global" && raw.startsWith("$/"))
      case RBinop(_, l, r) => readsNs(l, vc) || readsNs(r, vc)
      case RNot(x) => readsNs(x, vc)
      case RNeg(x) => readsNs(x, vc)
      case RFunc(_, args) => args.exists(readsNs(_, vc))
      case _ => false
    }

    def execOne(s: RStmt, path: Column): Unit = exec(Seq(s), path)

    // set/unset may only target the three variable namespaces —
    // cnfstmtNewSet/NewUnset require PROP_CEE / PROP_LOCAL_VAR /
    // PROP_GLOBAL_VAR (grammar/rainerscript.c:5167-5183) and DISABLE the
    // statement with "invalid variable '%s'" otherwise
    // (tests/rscript_set_unset_invalid_var.sh: $@timestamp must be
    // diagnosed, the rest of the config keeps running)
    // Subscripted paths ($!arr[1]) are READ surface (resolveProp /
    // renderKernel navigate them); as a WRITE target they would need
    // array-cell mutation json_set doesn't model — disable with a
    // diagnostic like the invalid-name case.
    def validVarTarget(raw: String): Boolean =
      (raw.startsWith("$!") || raw.startsWith("$.") || raw.startsWith("$/")) &&
      !raw.contains('[')

    def exec(stmts: Seq[RStmt], path: Column): Unit = {
      var idx = 0
      while (idx < stmts.length) {
        stmts(idx) match {
          case RSet(RVar(raw), _) if !validVarTarget(raw) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"invalid variable '$raw' in set statement - disabled")
            idx += 1
          case RUnset(RVar(raw)) if !validVarTarget(raw) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"invalid variable '$raw' in unset statement - disabled")
            idx += 1
          // set $.rc = parse_json(text, "$!container") — the side-effect
          // form (doFunc_parse_json, grammar/rainerscript.c:1868-1928):
          // parse with a TRAILING-GARBAGE check (whitespace tolerated),
          // on success store the tree under the container variable and
          // return 0; on failure leave the container untouched and
          // return 1 (tests/rscript_parse_json_issue.sh: "22 08 23 …"
          // must NOT half-parse to 22). The container must be a literal
          // (it names a compile-time column path, like the reference's
          // config-time name resolution).
          case RSet(RVar(tgtRaw), RFunc("parse_json", Seq(textE, RStr(contRaw))))
              if varCol(tgtRaw)._2.nonEmpty && isVarName(contRaw) &&
                 varCol(contRaw)._2.nonEmpty =>
            val guard = path && !col("__stopped")
            val txt = compileWithSites(textE, guard).cast("string")
            val txtN = { condId += 1; val n = s"__ov_$condId"
              df = df.withColumn(n, txt); n }
            // strict whole-input validity: try_parse_json rejects
            // trailing garbage, mirroring the char_offset check
            val okN = { condId += 1; val n = s"__ov_$condId"
              df = df.withColumn(n,
                coalesce(rainer.parse_json_ok(col(txtN)), lit(false))); n }
            val (cvc, cp) = varCol(contRaw)
            // store the trimmed text: json_set embeds JSON-shaped strings
            // as subtrees, and the validity gate just proved the whole
            // (whitespace-stripped) input is one JSON value
            df = df.withColumn(cvc,
              when(guard && col(okN),
                rainer.json_set(col(cvc), cp.replace('.', '!'),
                  trim(col(txtN))))
              .otherwise(col(cvc)))
            invalidateOverlaps(cvc, cp)
            val (tvc, tp) = varCol(tgtRaw)
            val rcN = { condId += 1; val n = s"__ov_$condId"
              df = df.withColumn(n,
                when(col(okN), lit(0L)).otherwise(lit(1L))); n }
            df = df.withColumn(tvc,
              when(guard, rainer.json_set(col(tvc), tp.replace('.', '!'),
                col(rcN)))
              .otherwise(col(tvc)))
            invalidateOverlaps(tvc, tp)
            overlays(s"$tvc:${ovPath(tp)}") =
              OverlayInfo(guard, col(rcN), org.apache.spark.sql.types.LongType)
            idx += 1
          case RSet(RVar(raw0), _) if varCol(raw0)._2.nonEmpty =>
            // peephole: batch the run of consecutive sets to the same
            // namespace column (one JSON parse+serialize for the run);
            // bare-root sets (`set $! = …`) take the execStmt path
            val (vc0, _) = varCol(raw0)
            val run = scala.collection.mutable.ArrayBuffer.empty[(String, RExpr)]
            var j = idx
            var ok = true
            while (ok && j < stmts.length) {
              stmts(j) match {
                // the parse_json side-effect form has its own exec case —
                // it mutates a second (container) column, so it can't
                // join a single-column batch
                case RSet(_, RFunc("parse_json", Seq(_, RStr(c))))
                    if isVarName(c) && varCol(c)._2.nonEmpty =>
                  ok = false
                case RSet(RVar(raw), value)
                    if varCol(raw)._1 == vc0 && varCol(raw)._2.nonEmpty &&
                       (j == idx || !readsNs(value, vc0)) =>
                  run += ((varCol(raw)._2.replace('.', '!'), value))
                  j += 1
                case _ => ok = false
              }
            }
            val guard = path && !col("__stopped")
            // materialize each value once: json_set consumes it AND later
            // reads of the same var resolve to it via the overlay cache
            // (values bind to the PRE-set frame state — snapshot
            // semantics — because the withColumn lands before the tree
            // update)
            val vs = run.map(r => compileWithSites(r._2, guard)).toSeq
            val ovCols = vs.map { v =>
              condId += 1; val n = s"__ov_$condId"
              df = df.withColumn(n, v); n
            }
            if (run.length == 1) {
              df = df.withColumn(vc0,
                when(guard, graft.functions.rainer.json_set(col(vc0),
                  run(0)._1, col(ovCols(0))))
                .otherwise(col(vc0)))
            } else {
              val expr = graft.functions.JsonSetMultiExpr(
                run.map(_._1).toSeq,
                (col(vc0) +: coalesce(guard, lit(false)) +: ovCols.map(col))
                  .map(org.apache.spark.sql.GraftBridge.expression),
                EnvSource.varsCaseInsensitive)
              df = df.withColumn(vc0, org.apache.spark.sql.GraftBridge.column(expr))
            }
            val schema = df.schema
            run.toSeq.zip(ovCols).foreach { case ((bangPath, _), ovn) =>
              val dotPath = bangPath.replace('!', '.')
              invalidateOverlaps(vc0, dotPath)
              overlays(s"$vc0:${ovPath(dotPath)}") =
                OverlayInfo(guard, col(ovn), schema(ovn).dataType)
            }
            idx = j
          case other =>
            // conservative overlay invalidation: any statement that can
            // mutate a vars column outside the set path clears the cache
            other match {
              case _: RIf | _: RPriFilt | _: RPropFilt | RStop |
                   _: RCall | _: RCallIndirect | _: RReloadLookupTable => ()
              case RUnset(RVar(raw)) =>
                val (vc, p) = varCol(raw); invalidateOverlaps(vc, p)
              case RSet(RVar(raw), _) if varCol(raw)._2.isEmpty =>
                val (vc, _) = varCol(raw)
                overlays.keys.toSeq.filter(_.startsWith(s"$vc:"))
                  .foreach(overlays.remove)
              case RAction(params)
                  if !params.get("type").exists(_.startsWith("mm")) => ()
              case _ => overlays.clear()
            }
            execStmt(other, path)
            idx += 1
        }
      }
    }

    def execStmt(stmt: RStmt, path: Column): Unit = stmt match {
      // bare-root assignment `set $! = $.` (rscript_bare_var_root.sh):
      // the whole tree column is replaced; a non-object RHS degrades to
      // "{}" the way the reference rejects non-object assignment
      case RSet(RVar(raw), value) if varCol(raw)._2.isEmpty =>
        val (vc, _) = varCol(raw)
        val v = compileWithSites(value, path && !col("__stopped")).cast("string")
        df = df.withColumn(vc,
          when(path && !col("__stopped"),
            when(v.startsWith("{"), v).otherwise(lit("{}")))
          .otherwise(col(vc)))
      case RSet(RVar(raw), value) =>
        val (vc, p) = varCol(raw)
        val v = compileWithSites(value, path && !col("__stopped"))
        df = df.withColumn(vc,
          when(path && !col("__stopped"),
            graft.functions.rainer.json_set(col(vc), p.replace('.', '!'), v))
          .otherwise(col(vc)))
      case RUnset(RVar(raw)) =>
        val (vc, p) = varCol(raw)
        df = df.withColumn(vc,
          when(path && !col("__stopped"),
            graft.functions.rainer.json_unset(col(vc), p.replace('.', '!')))
          .otherwise(col(vc)))
      case RIf(cond, thenB, elseB) =>
        // freeze the guard at this sequence point
        val compiled = compileWithSites(cond, path && !col("__stopped"))
        val cn = freshCond()
        df = df.withColumn(cn,
          path && !col("__stopped") &&
            coalesce(compiled.cast("boolean"), lit(false)))
        exec(thenB, col(cn))
        if (elseB.nonEmpty) {
          val en = freshCond()
          df = df.withColumn(en, path && !col("__stopped") && !col(cn))
          exec(elseB, col(en))
        }
      case RPriFilt(sel, body) =>
        val cn = freshCond()
        df = df.withColumn(cn, path && !col("__stopped") &&
          rainer.prifilt(sel)(col("facility"), col("severity")))
        exec(body, col(cn))
      case RPropFilt(prop, op, neg, v, body) =>
        val base = resolveProp(prop).cast("string")
        val test = op match {
          case "contains" => base.contains(v)
          case "isequal" => base === v
          case "startswith" => base.startsWith(v)
          case "endswith" => base.endsWith(v)
          case "regex" | "ereregex" =>
            // POSIX dialect translated like re_match ([[:class:]] forms)
            base.rlike(graft.functions.PosixRegex.translate(v))
          case "isempty" => base.isNull || base === ""
          case other => throw new IllegalArgumentException(s"propfilt op $other")
        }
        val cn = freshCond()
        df = df.withColumn(cn, path && !col("__stopped") &&
          (if (neg) !coalesce(test, lit(false)) else coalesce(test, lit(false))))
        exec(body, col(cn))
      case RForeach(RVar(loopRaw), source, body) =>
        // explode → body-per-element → last-element-wins collapse.
        // Restrictions (documented): no stop/nested-foreach inside the
        // body, and each element sees the PRE-loop variable state
        // (cross-iteration accumulators need an aggregation, not a loop,
        // in a set engine). action() in the body IS supported: it
        // captures the exploded frame at its sequence point and fires
        // once per element (see CompiledAction.frameOverride).
        def hasUnsupported(ss: Seq[RStmt]): Boolean = ss.exists {
          case RStop => true
          case RIf(_, t, e) => hasUnsupported(t) || hasUnsupported(e)
          case _: RForeach => true
          case _ => false
        }
        require(!hasUnsupported(body),
          "foreach body: stop/nested-foreach not supported in batch lowering")
        condId += 1
        val tag = condId
        val (lvCol, lvPath) = varCol(loopRaw)
        val srcCol = compileWithSites(source, path && !col("__stopped"))
        // split()/array-valued sources are arrays already; anything else
        // (a $! var read) is a JSON-array string to parse
        val arrCol = source match {
          case RFunc("split", _) | RArr(_) => srcCol
          case _ => from_json(srcCol.cast("string"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))
        }
        // row identity for the collapse. The id is assigned at EXECUTION
        // time (partition index + row position): stable within one plan
        // execution, NOT across executions — never checkpoint/persist it
        // or compare it across runs; it exists only so THIS plan's
        // explode can be undone a few operators later.
        df = df
          .withColumn(s"__fe_id_$tag", monotonically_increasing_id())
          .withColumn(s"__fe_arr_$tag", arrCol)
        df = df.select(col("*"),
          posexplode_outer(col(s"__fe_arr_$tag"))
            .as(Seq(s"__fe_pos_$tag", s"__fe_item_$tag")))
        val iterCond = freshCond()
        df = df.withColumn(iterCond,
          path && !col("__stopped") && col(s"__fe_item_$tag").isNotNull)
        df = df.withColumn(lvCol,
          when(col(iterCond),
            graft.functions.rainer.json_set(col(lvCol), lvPath.replace('.', '!'),
              col(s"__fe_item_$tag")))
          .otherwise(col(lvCol)))
        // loop-var reads in the body resolve straight to the exploded
        // item column (the main JSON-roundtrip saver for foreach bodies)
        invalidateOverlaps(lvCol, lvPath)
        overlays(s"$lvCol:${ovPath(lvPath)}") = OverlayInfo(col(iterCond),
          col(s"__fe_item_$tag"), org.apache.spark.sql.types.StringType)
        val sitesBeforeBody = rec.sites.length
        val actionsBeforeBody = actions.length
        exec(body, col(iterCond))
        // freeze body actions against the exploded frame: one firing per
        // element, with that element's variable state (the collapse
        // below would fold them to one row per pre-loop record)
        if (actions.length > actionsBeforeBody) {
          val snapshot = df
          (actionsBeforeBody until actions.length).foreach { i =>
            if (actions(i).frameOverride.isEmpty) // nested loops keep theirs
              actions(i) = actions(i).copy(frameOverride = Some(snapshot))
          }
        }
        // counter sites live as frozen per-row columns, but the collapse
        // below keeps first() per pre-loop record — a dyn_inc in the body
        // would silently count only element 0 of each array. Part of the
        // documented foreach body restrictions (like action/stop): hoist
        // the counter out of the loop or aggregate the array instead.
        require(rec.sites.length == sitesBeforeBody,
          "foreach body: dyn_inc/percentile_observe not supported in batch " +
            "lowering (the collapse keeps one row per pre-loop record, so " +
            "per-element counter side effects would undercount)")
        // collapse: each iteration row = pre-loop vars + that element's
        // sets; merge the per-row var trees in element order (later
        // elements overwrite — rsyslog's sequential mutation order).
        val tempPrefix = s"__fe_"
        val orderedCols = df.columns.toSeq
        val varsCols = Seq("vars_msg", "vars_local").filter(orderedCols.contains)
        val otherCols = orderedCols.filter(c =>
          !varsCols.contains(c) && !(c.startsWith(tempPrefix) && c.endsWith(s"_$tag")))
        val aggs =
          otherCols.filterNot(_ == s"__fe_id_$tag").map(c => first(col(c)).as(c)) ++
          varsCols.map { v =>
            val sorted = transform(
              array_sort(collect_list(struct(
                col(s"__fe_pos_$tag").as("p"), col(v).as("v")))),
              s => s.getField("v"))
            aggregate(sorted, lit("{}"),
              (acc, x) => graft.functions.rainer.json_merge(acc, x)).as(v)
          }
        df = df.groupBy(col(s"__fe_id_$tag"))
          .agg(aggs.head, aggs.tail: _*)
          .drop(s"__fe_id_$tag")
          .select(orderedCols.filter(c =>
            !(c.startsWith(tempPrefix) && c.endsWith(s"_$tag"))).map(col): _*)
        // the collapse rebuilds vars columns by merge and keeps first()
        // of the overlay temp columns — every cached entry is stale
        overlays.clear()
      case RStop =>
        df = df.withColumn("__stopped", col("__stopped") || path)
      case RContinue => // user-requested NOP (S_NOP "continue")
      // mmjsonparse as an inline message modifier (the reference's mm*
      // modules mutate the message for SUBSEQUENT statements;
      // plugins/mmjsonparse/mmjsonparse.c doAction :353-445): cookie
      // mode skips leading whitespace then requires the cookie and an
      // immediately-following JSON object (trailing data tolerated —
      // json_tokener stops at the object's end); find-json mode scans
      // up to max_scan_bytes. Success replaces the container with the
      // parsed object; failure stores {"msg": <text>}; the
      // parsesuccess property renders OK/FAIL.
      case RAction(params) if params.get("type").contains("mmjsonparse") =>
        val guard = path && !col("__stopped")
        val mode = params.getOrElse("mode", "cookie")
        val cookie = params.getOrElse("cookie", "@cee:")
        val allowTrailing = params.get("allow_trailing").forall(_ != "off")
        val maxScan = params.getOrElse("max_scan_bytes", "65536").toInt
        val m = coalesce(col("msg").cast("string"), lit(""))
        val stripped = ltrim(m)
        def findJson(c: Column): Column =
          org.apache.spark.sql.GraftBridge.column(
            graft.functions.FindJsonExpr(
              org.apache.spark.sql.GraftBridge.expression(c),
              maxScan, allowTrailing))
        val (candidate, failText) = mode match {
          case "find-json" => (findJson(m), m)
          case _ =>
            val rest = when(stripped.startsWith(cookie),
              ltrim(stripped.substr(lit(cookie.length + 1), length(stripped))))
            // the object must be the first non-ws content after the
            // cookie (json_tokener starts parsing right there)
            val fj = findJson(rest)
            (when(fj.isNotNull && rest.startsWith(fj), fj), stripped)
        }
        val candCol = freshCond()
        df = df.withColumn(candCol, candidate)
        val valid = col(candCol).isNotNull
        val failObj = to_json(struct(failText.as("msg")))
        val container = params.getOrElse("container", "$!")
        val (vc, sub) =
          if (container.startsWith("$.")) ("vars_local", container.drop(2))
          else ("vars_msg", container.dropWhile(c => c == '$' || c == '!'))
        val newTree = when(valid, col(candCol)).otherwise(failObj)
        // bare-root container merges into the existing tree on both the
        // success and {"msg":...} failure paths (runtime/msg.c:5078,
        // name[1]=='\0' → jsonMerge), preserving earlier $! fields
        val updated =
          if (sub.isEmpty)
            graft.functions.rainer.json_merge(col(vc), newTree)
          else graft.functions.rainer.json_set(col(vc),
            sub.replace('.', '!'), newTree)
        df = df.withColumn(vc, when(guard, updated).otherwise(col(vc)))
        val prevPs =
          if (df.columns.contains("parsesuccess"))
            col("parsesuccess").cast("string")
          else lit(null).cast("string")
        df = df.withColumn("parsesuccess",
          when(guard, when(valid, lit("OK")).otherwise(lit("FAIL")))
            .otherwise(prevPs))
      // further stateless message-modifier actions, inline like
      // mmjsonparse above — each re-uses its oracled operator kernel
      case RAction(params) if params.get("type").contains("mmrm1stspace") =>
        // drop exactly one leading blank (plugins/mmrm1stspace)
        val guard = path && !col("__stopped")
        df = df.withColumn("msg",
          when(guard && col("msg").startsWith(" "),
            expr("substring(msg, 2)")).otherwise(col("msg")))
      case RAction(params) if params.get("type").contains("mmutf8fix") =>
        // repair invalid UTF-8 byte sequences (plugins/mmutf8fix);
        // replacementChar / replacementSequence set what each invalid
        // byte becomes (tests/yaml-mmutf8fix-replacement-sequence.sh)
        val guard = path && !col("__stopped")
        val repl = params.get("replacementsequence")
          .orElse(params.get("replacementSequence"))
          .orElse(params.get("replacementchar"))
          .orElse(params.get("replacementChar"))
          .getOrElse(" ")
        df = df.withColumn("msg",
          when(guard, graft.functions.device.utf8fix(
            encode(col("msg"), "UTF-8"), repl)).otherwise(col("msg")))
      case RAction(params) if params.get("type").contains("mmfields") =>
        // split msg on the separator into $!f_1..$!f_N
        // (plugins/mmfields/mmfields.c, default separator ',')
        val guard = path && !col("__stopped")
        val sepRaw = params.getOrElse("separator", ",")
        // numeric form is a decimal char code; an empty separator=""
        // falls back to the ',' default (vacuous forall would otherwise
        // hit "".toInt)
        val sep = if (sepRaw.isEmpty) ","
                  else if (sepRaw.forall(_.isDigit)) sepRaw.toInt.toChar.toString
                  else sepRaw.take(1)
        val f = split(coalesce(col("msg").cast("string"), lit("")),
          java.util.regex.Pattern.quote(sep))
        val fieldsObj = to_json(map_from_arrays(
          transform(sequence(lit(1), size(f)),
            i => concat(lit("f_"), i)), f))
        df = df.withColumn("vars_msg",
          when(guard, graft.functions.rainer.json_merge(
            col("vars_msg"), fieldsObj)).otherwise(col("vars_msg")))
      case RAction(params) if params.get("type").contains("mmtaghostname") =>
        // tag applied only when the message has none; forcelocalhostname
        // rewrites HOSTNAME to the receiver (contrib/mmtaghostname)
        val guard = path && !col("__stopped")
        params.get("tag").foreach { t =>
          df = df.withColumn("syslogtag",
            when(guard, coalesce(nullif(col("syslogtag"), lit("")), lit(t)))
            .otherwise(col("syslogtag")))
        }
        if (params.get("forcelocalhostname").contains("on"))
          df = df.withColumn("hostname",
            when(guard, lit(java.net.InetAddress.getLocalHost.getHostName))
            .otherwise(col("hostname")))
      case RAction(params) if params.get("type").contains("mmnormalize") =>
        // rulebase file (v2 `rule=[tags]:text` lines) or inline rule=
        // param → field extraction into $!; a no-match stores liblognorm's
        // originalmsg/unparsed-data pair (plugins/mmnormalize)
        val guard = path && !col("__stopped")
        val rules: Seq[String] =
          params.get("rulebase").orElse(params.get("ruleBase")).map { f =>
            java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
              .toArray(Array.empty[String]).toSeq
              .filter(_.startsWith("rule="))
              .map(l => l.substring(l.indexOf(':', 5) + 1))
          }.getOrElse(params.get("rule").map(RsyslogConfig.splitArray).getOrElse(Seq.empty))
            .map(graft.operators.Normalize.stripRulePrefix)
        require(rules.nonEmpty,
          "action(type=mmnormalize) needs rulebase= or rule=")
        // variable="$.x" normalizes that variable's value instead of msg
        // (mmnormalize.c variable param, tests/mmnormalize_variable.sh)
        val src: Column = params.get("variable") match {
          case Some(v) => strCoerce(RVar(v), e => compileWithSites(e, guard),
            ovLookup)
          case None => col("msg").cast("string")
        }
        val m = coalesce(src, lit(""))
        val nc = freshCond()
        df = df.withColumn(nc,
          graft.operators.Normalize.normalize(m, rules))
        val failObj = to_json(struct(m.as("originalmsg"),
          m.as("unparsed-data")))
        df = df.withColumn("vars_msg",
          when(guard, graft.functions.rainer.json_merge(col("vars_msg"),
            when(col(nc) === "{}", failObj).otherwise(col(nc))))
          .otherwise(col("vars_msg")))
        // parsesuccess OK/FAIL like mmjsonparse
        // (tests/mmnormalize_parsesuccess.sh)
        val prevNps =
          if (df.columns.contains("parsesuccess"))
            col("parsesuccess").cast("string")
          else lit(null).cast("string")
        df = df.withColumn("parsesuccess",
          when(guard, when(col(nc) =!= "{}", lit("OK")).otherwise(lit("FAIL")))
            .otherwise(prevNps))
      case RAction(params) if params.get("type").contains("mmanon") =>
        // mmanon over the message text: IPv4 + IPv6 + embedded-IPv4, all
        // on by default like the reference (plugins/mmanon/mmanon.c
        // setInstParamDefaults: v4 zero/16, v6 zero/96, embedded zero/96).
        // The random modes draw from a seeded keyed hash (see
        // AnonIpMsgExpr's divergence note); `seed` is our extension.
        val guard = path && !col("__stopped")
        def anonMode(s: String): Int = s match {
          case "zero" => graft.functions.AnonIpMsgExpr.ZERO
          case "random" => graft.functions.AnonIpMsgExpr.RANDOM
          case "random-consistent" | "random-consistent-unique" =>
            graft.functions.AnonIpMsgExpr.RAND_CONSIS
          case "simple" | "rewrite" => graft.functions.AnonIpMsgExpr.SIMPLE
          case other => throw new IllegalArgumentException(
            s"mmanon: unknown anonymization mode $other")
        }
        def flag(k: String, dflt: Boolean): Boolean =
          params.get(k).map(v => v == "on" || v == "1" || v == "true")
            .getOrElse(dflt)
        val v6Mode = anonMode(params.getOrElse("ipv6.anonmode", "zero"))
        val embMode = anonMode(params.getOrElse("embeddedipv4.anonmode", "zero"))
        require(v6Mode != graft.functions.AnonIpMsgExpr.SIMPLE &&
          embMode != graft.functions.AnonIpMsgExpr.SIMPLE,
          "mmanon: simple mode is IPv4-only (mmanon.c anonmode parse)")
        val v4Mode = anonMode(params.get("ipv4.mode").orElse(params.get("mode"))
          .getOrElse("zero"))
        val v4BitsRaw = params.get("ipv4.bits").orElse(params.get("bits"))
          .map(_.toInt).getOrElse(16)
        // simple mode rounds bits UP to a whole octet (mmanon.c:510-531:
        // <8→8, 9-15→16, 17-23→24, else→32, with an LogError the engine
        // surfaces as silent correction)
        val v4Bits =
          if (v4Mode != graft.functions.AnonIpMsgExpr.SIMPLE) v4BitsRaw
          else if (v4BitsRaw < 0) 32
          else if (v4BitsRaw <= 8) 8
          else if (v4BitsRaw <= 16) 16
          else if (v4BitsRaw <= 24) 24
          else 32
        val cfg = graft.functions.AnonIpCfg(
          v4On = flag("ipv4.enable", dflt = true),
          v4Bits = v4Bits,
          v4Mode = v4Mode,
          v4Char = params.get("ipv4.replacechar")
            .orElse(params.get("replacementchar"))
            .filter(_.nonEmpty).map(_.charAt(0)).getOrElse('x'),
          v6On = flag("ipv6.enable", dflt = true),
          v6Bits = params.get("ipv6.bits").map(_.toInt).getOrElse(96),
          v6Mode = v6Mode,
          embOn = flag("embeddedipv4.enable", dflt = true),
          embBits = params.get("embeddedipv4.bits").map(_.toInt).getOrElse(96),
          embMode = embMode,
          seed = params.get("seed").map(_.toLong).getOrElse(0L))
        df = df.withColumn("msg",
          when(guard, graft.functions.rainer.anon_ip_msg(
            coalesce(col("msg").cast("string"), lit("")), cfg))
          .otherwise(col("msg")))
      case RAction(params) if params.get("type").contains("mmpstrucdata") =>
        // RFC5424 SD string → JSON tree under jsonRoot!container
        // (plugins/mmpstrucdata; defaults "!" + "rfc5424-sd"). A message
        // WITHOUT structured data stores an explicit JSON null under the
        // container (tests/yaml-mmpstrucdata-container-null.sh expected
        // '{ "custom-yaml-sd": null }').
        val guard = path && !col("__stopped")
        val container = params.get("container").getOrElse("rfc5424-sd")
          .stripPrefix("$!").stripPrefix("!")
        val rootPath = params.get("jsonroot").orElse(params.get("jsonRoot"))
          .getOrElse("!").stripPrefix("$!").stripPrefix("!")
        val sdPath = if (rootPath.isEmpty) container
                     else rootPath + "!" + container
        val sd = graft.functions.rainer.parse_structured_data(
          col("structured_data"))
        df = df.withColumn("vars_msg",
          when(guard, graft.functions.rainer.json_set(
            col("vars_msg"), sdPath, sd)).otherwise(col("vars_msg")))
      case RAction(params) if params.get("type").contains("mmleefparse") =>
        // LEEF 1.0/2.0 event → {header:{protocolVersion,vendor,product,
        // productVersion,eventID}, fields:{k:v}} under container=
        // (default "!", plugins/mmleefparse/mmleefparse.c:109,398-408);
        // cookie default "LEEF:"; userawmsg selects the source
        val guard = path && !col("__stopped")
        require(params.getOrElse("cookie", "LEEF:") == "LEEF:",
          "mmleefparse: only the default LEEF: cookie is supported")
        val srcCol =
          if (params.get("userawmsg").contains("on")) col("rawmsg") else col("msg")
        val delim = params.getOrElse("delimiter", "\t")
        val lf = graft.functions.device.parseLeef(
          coalesce(srcCol.cast("string"), lit("")), delim)
        val tree = to_json(struct(
          struct(lf.getField("version").as("protocolVersion"),
            lf.getField("vendor").as("vendor"),
            lf.getField("product").as("product"),
            lf.getField("product_version").as("productVersion"),
            lf.getField("event_id").as("eventID")).as("header"),
          lf.getField("ext").as("fields")))
        val container = params.getOrElse("container", "!")
        require(container.startsWith("!"),
          s"mmleefparse: container must start with '!', got $container")
        val merged =
          if (container == "!") rainer.json_merge(col("vars_msg"), tree)
          else rainer.json_set(col("vars_msg"), container.drop(1), tree)
        df = df.withColumn("vars_msg",
          when(guard && lf.isNotNull, merged).otherwise(col("vars_msg")))
      case RAction(params) if params.get("type").contains("mmaudit") =>
        // linux-audit numeric-type records: `type=<N> audit(<id>): k=v…`
        // → $!audit = {k:v…, hdr:{auditid,type}} + parsesuccess
        // (plugins/mmaudit/mmaudit.c doAction:192-263; note this
        // grammar has NO `msg=` — that variant is the pmaudit-style
        // parse_audit query form)
        val guard = path && !col("__stopped")
        val m = org.apache.spark.sql.GraftBridge.column(
          graft.functions.RegexStructExpr(
            org.apache.spark.sql.GraftBridge.expression(
              coalesce(col("msg").cast("string"), lit(""))),
            "^\\s*type=(\\d+) audit\\(([^)]*)\\): (.*)$",
            Seq(("atype", 1, 'I'), ("auditid", 2, 'S'), ("kv", 3, 'M'))))
        val tree = rainer.json_merge(to_json(m.getField("kv")),
          concat(lit("{\"hdr\":{\"auditid\":\""), m.getField("auditid"),
            lit("\",\"type\":"), m.getField("atype"), lit("}}")))
        df = df
          .withColumn("vars_msg",
            when(guard && m.isNotNull,
              rainer.json_set(col("vars_msg"), "audit", tree))
            .otherwise(col("vars_msg")))
          .withColumn("parsesuccess",
            when(guard, m.isNotNull).otherwise(col("parsesuccess")))
      case RAction(params) if params.get("type").contains("mmgrok") =>
        // grok match= pattern over source= (default msg) → JSON under
        // target= (default "!" root; contrib/mmgrok/mmgrok.c:166);
        // patterndir custom pattern files are not supported here
        val guard = path && !col("__stopped")
        require(!params.contains("patterndir"),
          "mmgrok: patterndir= custom pattern files are not supported")
        val pattern = params.getOrElse("match",
          throw new IllegalArgumentException("mmgrok needs match="))
        val src = params.get("source").map(resolveProp)
          .getOrElse(col("msg"))
        // grok() yields a STRUCT (null on no-match); the variable tree
        // holds JSON text, so convert before merge — to_json(null
        // struct) is null, which the guard treats as no-match
        val g = to_json(graft.operators.Normalize.grok(
          coalesce(src.cast("string"), lit("")), pattern))
        val target = params.getOrElse("target", "!")
        require(target.startsWith("!"),
          s"mmgrok: target must start with '!', got $target")
        val merged =
          if (target == "!") rainer.json_merge(col("vars_msg"), g)
          else rainer.json_set(col("vars_msg"), target.drop(1), g)
        df = df.withColumn("vars_msg",
          when(guard && g.isNotNull && g =!= "{}", merged)
          .otherwise(col("vars_msg")))
      case RAction(params) if params.get("type").contains("mmrfc5424addhmac") =>
        // HMAC of the raw message appended as `[sd_id hash="hex"]` to
        // STRUCTURED-DATA, only for RFC5424 frames that don't already
        // carry the SD-ID (contrib/mmrfc5424addhmac/mmrfc5424addhmac.c
        // doAction:330-345, hashMsg:300-327)
        val guard = path && !col("__stopped")
        val key = params.getOrElse("key",
          throw new IllegalArgumentException("mmrfc5424addhmac needs key="))
        val algo = params.getOrElse("hashfunction", "sha256")
        require(algo.equalsIgnoreCase("sha256"),
          s"mmrfc5424addhmac: hashfunction $algo not supported (sha256 only)")
        val sdid = params.getOrElse("sd_id",
          throw new IllegalArgumentException("mmrfc5424addhmac needs sd_id="))
        val sig = graft.functions.device.hmacSha256(
          coalesce(col("rawmsg").cast("string"), lit("")), key)
        val entry = concat(lit("[" + sdid + " hash=\""), sig, lit("\"]"))
        val present = coalesce(col("structured_data"), lit("-"))
          .rlike("\\[" + java.util.regex.Pattern.quote(sdid) + "[ =\\]\"]")
        val newSd = when(
          col("structured_data").isNull || col("structured_data") === "-",
          entry).otherwise(concat(col("structured_data"), entry))
        df = df.withColumn("structured_data",
          when(guard && col("protocol_version") === 1 && !present, newSd)
          .otherwise(col("structured_data")))
      case RAction(params) =>
        val cn = freshCond()
        df = df.withColumn(cn, path && !col("__stopped"))
        // render the template NOW: action-time variable state, frozen
        // against later mutations (runtime/action.c renders at doAction)
        val renderCol = params.get("template").map { t =>
            val rc = s"__render_${actions.size}"
            // jsonf templates render through compileJsonf; everything
            // else through the string-template compiler
            val rendered = jsonf.get(t) match {
              case Some(fs) =>
                TemplateCompiler.compileJsonf(fs, resolveProp,
                  tree = jsonfTree(t))
              case None =>
                val tpl = if (t.contains("%")) t else templates.getOrElse(t, t)
                TemplateCompiler.compile(tpl, resolveProp, templateEscapes.get(t))
            }
            df = df.withColumn(rc, when(col(cn), rendered))
            rc
          }
        actions += CompiledAction(actions.size, params, cn, renderCol)
      case RCall(_) =>
        // single-ruleset scope in round 1: call is a no-op marker
      case RReloadLookupTable(_, _) =>
        // per-epoch rebuild is the reload mechanism here (Config.lookupTables
        // is immutable within a run; foreachBatch re-parses per epoch)
      case RCallIndirect(_) =>
        // without a config registry every computed name is unknown → NOP
        // (runtime/ruleset.c:250-255); RsyslogConfig.run lowers this to
        // per-ruleset equality guards before compilation
      case other => throw new IllegalArgumentException(s"stmt $other")
    }

    exec(stmts, lit(true))
    ScriptResult(df, actions.toSeq, rec.sites.toSeq)
  }
}
