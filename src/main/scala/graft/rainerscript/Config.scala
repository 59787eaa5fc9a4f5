package graft.rainerscript

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.parsing.combinator.RegexParsers
import graft.operators.LookupTable
import graft.templates.TemplateCompiler

/** Full rsyslog.conf front-end: config objects + script statements →
  * a compiled engine configuration (reference compile path SURVEY §3.1:
  * lexer → grammar → cnfobj/cnfstmt → rsconf assembly). Object types
  * covered (grammar/rainerscript.h:36-53): template, lookup_table,
  * ruleset; plus top-level script = the default ruleset.
  */
case class RsyslogConfig(
    templates: Map[String, String],
    jsonfTemplates: Map[String, Seq[TemplateCompiler.JsonfField]],
    lookupTables: Map[String, LookupTable],
    rulesets: Map[String, Seq[RStmt]],
    mainStmts: Seq[RStmt],
    // remaining CNFOBJ registries (grammar/rainerscript.h:36-53):
    // dyn_stats / perctile_stats / ratelimit / timezone objects — params
    // by object name, consumed by the DynStats / Stateful operators
    objects: Map[(String, String), Map[String, String]] = Map.empty,
    // module(load=...) params in declaration order (CNFOBJ_MODULE);
    // $ModLoad folds in here too
    modules: Seq[Map[String, String]] = Nil,
    // input(type=...) params in declaration order (CNFOBJ_INPUT); legacy
    // $UDPServerRun / $InputTCPServerRun fold in here
    inputs: Seq[Map[String, String]] = Nil,
    // global()/main_queue() params (key-prefixed) plus legacy
    // $-directives the engine records but does not act on (ownership /
    // privilege / queue plumbing that Spark owns) — the warn-skip ledger
    globals: Map[String, String] = Map.empty,
    // template-level escape option per template name (template.c
    // optFormatEscape: "sql" | "stdsql" | "json"), applied to every
    // property of the named template at render time
    templateEscapes: Map[String, String] = Map.empty,
    // parser(name= type= ...) objects (CNFOBJ_PARSER,
    // grammar/rainerscript.h:45; registered runtime/parser.c:120-180) —
    // params by parser name. Array-valued params (rule=[...]) are
    // NUL-joined (see P.param).
    parsers: Map[String, Map[String, String]] = Map.empty,
    // ruleset(parser=[...]) bindings: ruleset name → parser-name chain
    // (runtime/ruleset.c rulesetSetParserList; replaces the default
    // rfc5424→rfc3164 list for messages routed to that ruleset)
    rulesetParsers: Map[String, Seq[String]] = Map.empty,
    // templates rendered in option.jsonftree mode (nested dot outnames)
    jsonfTree: Set[String] = Set.empty) {

  /** Is a module loaded (module(load=) or $ModLoad)? */
  def hasModule(name: String): Boolean = modules.exists(_.get("load").contains(name))

  /** Params of a named config object (kind = "dyn_stats",
    * "perctile_stats", "ratelimit", "timezone"). */
  def obj(kind: String, name: String): Option[Map[String, String]] =
    objects.get((kind, name))

  /** timezone(id= offset=) objects as an id → ±HH:MM offset map
    * (runtime/timezones.c:40-41 params; consumed by
    * parse_time_localtz's symbolic-zone resolution). */
  def timezones: Map[String, String] = objects.collect {
    case (("timezone", id), p) if p.contains("offset") => id -> p("offset")
  }

  /** Run a ruleset (or the main/default script) against a LogEvent frame.
    * `call` statements expand inline (runtime/ruleset.c:277-294 direct
    * call path; queued rulesets = separate pipelines at the caller's
    * discretion). `http` binds the fmhttp http_request() response map
    * (pre-fetched URL → body; see Compiler's http_request case).
    * `callNestingLimit` bounds recursive `call` inlining: guarded
    * self-recursion (a real config pattern — `if $.c < n then call x`)
    * is exact up to this depth because every inlined level carries its
    * own frozen path condition; an unconditionally-recursive config
    * truncates here with the reference's diagnostic (the reference
    * recurses to 1024 at runtime and stops with "ruleset call nesting
    * limit reached", rscript_ruleset_call-recursion-limit.sh — a static
    * plan must pick a depth before execution, and 1024 inlined copies
    * of a body is a compile-time explosion, so the default is modest
    * and the truncation is loud). */
  def run(input: DataFrame, ruleset: String = "",
          http: Map[String, String] = Map.empty,
          callNestingLimit: Int = 16): RainerCompiler.ScriptResult = {
    val stmts = if (ruleset.isEmpty) mainStmts
                else rulesets.getOrElse(ruleset,
                  throw new IllegalArgumentException(s"unknown ruleset $ruleset"))
    // global(variables.casesensitive="off") — glbl.c:1405 flips fjson's
    // key comparison to case-INsensitive. Bracketed around the compile:
    // the flag is read at expression-CONSTRUCTION time and baked into
    // each json expression, so task-time evaluation is immune, and the
    // finally prevents a leak into queries built after this config.
    // The whole set→compile→reset bracket holds a JVM-global lock: the
    // flag is process-global, so two configs compiling concurrently
    // (one "on", one "off") would otherwise race and bake the wrong ci
    // mode into each other's expressions. Compilation is pure plan
    // construction (no Spark actions), so the critical section is
    // short; execution of the returned plan is NOT serialized.
    RsyslogConfig.compileLock.synchronized {
      EnvSource.varsCaseInsensitive = globals.get("variables.casesensitive")
        .exists(v => v == "off" || v == "0")
      try RainerCompiler.runStmts(
        inlineCalls(stmts, Set.empty, 0, callNestingLimit),
        input, lookupTables, templates, timezones, templateEscapes, http,
        jsonfTemplates, jsonfTree)
      finally EnvSource.varsCaseInsensitive = false
    }
  }

  private def inlineCalls(stmts: Seq[RStmt], seen: Set[String], depth: Int,
                          limit: Int): Seq[RStmt] =
    stmts.flatMap {
      case RCall(name) if rulesets.contains(name) =>
        if (depth >= limit) {
          // the reference's runtime recursion guard (its limit is 1024);
          // deeper levels are unreachable in the static plan, so the
          // call truncates to nothing — loudly
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"ruleset call nesting limit of $limit reached calling " +
            s"'$name'; deeper call levels are not in the plan (reference " +
            "runtime guard: 1024, runtime/ruleset.c). A guard-bounded " +
            "recursion that converges within the limit is unaffected; " +
            "raise callNestingLimit if yours is genuinely deeper")
          Nil
        } else inlineCalls(rulesets(name), seen, depth + 1, limit)
      // call_indirect: evaluate-at-runtime dispatch lowers to one
      // name-equality guard per known ruleset (a message's computed name
      // selects at most one branch; unknown names fall through = NOP,
      // runtime/ruleset.c:250-255). Unlike direct call, indirect dispatch
      // keeps the `seen` cycle guard instead of the depth budget: the
      // static lowering expands EVERY known ruleset per level, so a depth
      // budget would blow up as #rulesets^depth.
      case RCallIndirect(e) =>
        rulesets.toSeq.sortBy(_._1).collect {
          case (name, body) if !seen(name) =>
            RIf(RBinop("==", e, RStr(name)),
              inlineCalls(body, seen + name, depth, limit), Nil)
        }
      case RIf(c, t, e) =>
        Seq(RIf(c, inlineCalls(t, seen, depth, limit),
          inlineCalls(e, seen, depth, limit)))
      case RPriFilt(s, b) => Seq(RPriFilt(s, inlineCalls(b, seen, depth, limit)))
      case RPropFilt(p, o, n, v, b) =>
        Seq(RPropFilt(p, o, n, v, inlineCalls(b, seen, depth, limit)))
      case other => Seq(other)
    }

  /** Activate the config: bind every declared input() to a live source
    * (imfile → filesystem; socket/broker types → the caller-supplied
    * `feeds` frames) and run each input's frame through its bound
    * ruleset — config text in, running pipeline out, the reference's
    * activation pass (tools/rsyslogd.c:885-929) as one call. Inputs
    * sharing a ruleset union before the ruleset runs (they share the
    * reference's queue); the result map is keyed by ruleset name, "" =
    * the default/main ruleset. `now` supplies reception time (inject a
    * literal for deterministic replays). */
  def activate(spark: org.apache.spark.sql.SparkSession,
               feeds: Map[String, DataFrame] = Map.empty,
               now: Column = current_timestamp(),
               defaultYear: Int = 2024): Map[String, RainerCompiler.ScriptResult] =
    InputBinding.bindBatch(this, spark, feeds, now, defaultYear)
      .groupBy(_._1)
      .map { case (rs, bound) =>
        rs -> run(bound.map(_._2)
          .reduce((a, b) => a.unionByName(b, allowMissingColumns = true)), rs)
      }

  /** Render a named template over a frame (exec_template / action
    * template= resolution, rsconf.c:1570-1604 registration). */
  /** Resolve a named `ratelimit()` object to its effective policy
    * (rsconf.c initFunc_ratelimit:625-700 param surface merged with the
    * YAML policy file when `policy=` is set). Callers re-invoke per
    * epoch for the policyWatch/HUP hot-reload face — the file is
    * re-read on every call, like lookup-table reload. Resolution target
    * of `action(... action.ratelimit.name=)` and
    * `input(... ratelimit.name=)`. */
  def ratelimitPolicy(name: String): Option[RatelimitPolicy.Policy] =
    obj("ratelimit", name).map(RatelimitPolicy.fromParams)

  /** The rendered per-source key for a policy: its keyTemplate through
    * the template registry, defaulting to fromhost like the reference's
    * default key mode (ratelimit.c perSourceKeyModeFromTemplate). */
  def ratelimitKey(policy: RatelimitPolicy.Policy,
                   props: String => Column): Column =
    policy.perSource.flatMap(_.keyTemplate) match {
      case Some(t) => renderTemplate(t, props)
      case None => props("fromhost")
    }

  /** Main-queue discard policy from config: `main_queue(queue.discardmark=
    * queue.discardseverity=)` or the legacy `$MainMsgQueueDiscard*`
    * directives, applied as the Stage-3 shedding policy
    * (`RateLimit.discardShed`). Reference defaults: severity 8 = off
    * (rsconf.c:384), mark -1 → 98% of queue.size at construct
    * (queue.c:4901; main queue default size 100000 → 98000). Severity
    * accepts the syslog name words like the legacy handler. */
  def mainQueueShed(df: DataFrame, tsCol: Column, severityCol: Column,
                    windowDur: String = "1 minute"): DataFrame = {
    def g(k: String, legacy: String): Option[String] =
      globals.get("main_queue." + k).orElse(globals.get(legacy))
    val size = g("queue.size", "mainmsgqueuesize").map(_.toLong)
      .getOrElse(100000L)
    val mark = g("queue.discardmark", "mainmsgqueuediscardmark")
      .map(_.toLong).filter(_ >= 0).getOrElse(size / 100 * 98)
    val sevNames = Map("emerg" -> 0, "alert" -> 1, "crit" -> 2, "err" -> 3,
      "error" -> 3, "warning" -> 4, "warn" -> 4, "notice" -> 5, "info" -> 6,
      "debug" -> 7)
    val sev = g("queue.discardseverity", "mainmsgqueuediscardseverity")
      .map(v => sevNames.getOrElse(v.toLowerCase,
        v.toInt)).getOrElse(8)
    graft.operators.RateLimit.discardShed(df, tsCol, severityCol, mark,
      sev, windowDur)
  }

  def renderTemplate(name: String, props: String => Column): Column =
    templates.get(name).map(t =>
        TemplateCompiler.compile(t, props, templateEscapes.get(name)))
      .orElse(jsonfTemplates.get(name).map(fs =>
        TemplateCompiler.compileJsonf(fs, props, tree = jsonfTree(name))))
      .getOrElse(throw new IllegalArgumentException(s"unknown template $name"))
}

object RsyslogConfig {

  /** Serializes the casesensitive-flag compile bracket in `run` — see
    * the comment there. */
  private[rainerscript] val compileLock = new Object

  /** Built-in templates (runtime/rsconf.c:202-260, registered
    * rsconf.c:1570-1604; leading-space names are the reference's
    * collision-proof module defaults, e.g. ommysql's " StdDBFmt").
    * Texts are stored post-unescape (the C literals' \" already
    * resolved). `sp-if-no-1st-sp` renders only the conditional
    * separator (msg.c:4353-4360), so the texts keep the reference's
    * two-property `%msg:::sp-if-no-1st-sp%%msg%` idiom verbatim. */
  val builtinTemplates: Map[String, String] = Map(
    "RSYSLOG_TraditionalFileFormat" ->
      "%timereported:::date-rfc3164% %hostname% %syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%\n",
    "RSYSLOG_FileFormat" ->
      "%timereported:::date-rfc3339% %hostname% %syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%\n",
    "RSYSLOG_ForwardFormat" ->
      "<%pri%>%timereported:::date-rfc3339% %hostname% %syslogtag%%msg%",
    "RSYSLOG_TraditionalForwardFormat" ->
      "<%pri%>%timereported:::date-rfc3164% %hostname% %syslogtag%%msg%",
    "RSYSLOG_SyslogProtocol23Format" ->
      "<%PRI%>1 %TIMESTAMP:::date-rfc3339% %HOSTNAME% %APP-NAME% %PROCID% %MSGID% %STRUCTURED-DATA% %msg%\n",
    "RSYSLOG_SyslogRFC5424Format" ->
      "<%PRI%>1 %TIMESTAMP:::date-rfc3339% %HOSTNAME% %APP-NAME% %PROCID% %MSGID% %STRUCTURED-DATA% %msg%",
    "RSYSLOG_SysklogdFileFormat" ->
      "%TIMESTAMP% %HOSTNAME% %syslogtag%%msg:::sp-if-no-1st-sp%%msg%\n",
    "RSYSLOG_DebugFormat" ->
      ("Debug line with all properties:\nFROMHOST: '%FROMHOST%', fromhost-ip: '%fromhost-ip%', " +
       "HOSTNAME: '%HOSTNAME%', PRI: %PRI%,\nsyslogtag '%syslogtag%', programname: '%programname%', " +
       "APP-NAME: '%APP-NAME%', PROCID: '%PROCID%', MSGID: '%MSGID%',\nTIMESTAMP: '%TIMESTAMP%', " +
       "STRUCTURED-DATA: '%STRUCTURED-DATA%',\nmsg: '%msg%'\nescaped msg: '%msg:::drop-cc%'\n" +
       "inputname: %inputname% rawmsg: '%rawmsg%'\n$!:%$!%\n$.:%$.%\n$/:%$/%\n\n"),
    " WallFmt" ->
      "\r\n\u0007Message from syslogd@%HOSTNAME% at %timegenerated% ...\r\n %syslogtag%%msg%\n\r",
    " StdUsrMsgFmt" -> " %syslogtag%%msg%\n\r",
    " StdDBFmt" ->
      ("insert into SystemEvents (Message, Facility, FromHost, Priority, DeviceReportedTime, " +
       "ReceivedAt, InfoUnitID, SysLogTag) values ('%msg%', %syslogfacility%, '%HOSTNAME%', " +
       "%syslogpriority%, '%timereported:::date-mysql%', '%timegenerated:::date-mysql%', %iut%, " +
       "'%syslogtag%')"),
    " StdPgSQLFmt" ->
      ("insert into SystemEvents (Message, Facility, FromHost, Priority, DeviceReportedTime, " +
       "ReceivedAt, InfoUnitID, SysLogTag) values ('%msg%', %syslogfacility%, '%HOSTNAME%', " +
       "%syslogpriority%, '%timereported:::date-pgsql%', '%timegenerated:::date-pgsql%', %iut%, " +
       "'%syslogtag%')"),
    " StdJSONFmt" ->
      ("{\"message\":\"%msg:::json%\",\"fromhost\":\"%HOSTNAME:::json%\"," +
       "\"facility\":\"%syslogfacility-text%\",\"priority\":\"%syslogpriority-text%\"," +
       "\"timereported\":\"%timereported:::date-rfc3339%\"," +
       "\"timegenerated\":\"%timegenerated:::date-rfc3339%\"}"),
    " FullJSONFmt" ->
      ("{\"message\":\"%msg:::json%\",\"fromhost\":\"%HOSTNAME:::json%\"," +
       "\"programname\":\"%programname%\",\"procid\":\"%PROCID%\",\"msgid\":\"%MSGID%\"," +
       "\"facility\":\"%syslogfacility-text%\",\"priority\":\"%syslogpriority-text%\"," +
       "\"timereported\":\"%timereported:::date-rfc3339%\"," +
       "\"timegenerated\":\"%timegenerated:::date-rfc3339%\"}"),
    " StdClickHouseFmt" ->
      ("INSERT INTO rsyslog.SystemEvents (severity, facility, timestamp, hostname, tag, message) " +
       "VALUES (%syslogseverity%, %syslogfacility%, '%timereported:::date-unixtimestamp%', " +
       "'%hostname%', '%syslogtag%', '%msg%')"),
    " StdOmSenderTrack-senderid" -> "%fromhost-ip%",
    "RSYSLOG_PerSourceKey" -> "%hostname%",
    "RSYSLOG_omudpspoofDfltSourceTpl" -> "%fromhost-ip%")

  /** Template-level escape modes of the built-ins (rsconf.c:224-253:
    * StdDBFmt carries the SQL option, StdPgSQLFmt / StdClickHouseFmt
    * STDSQL). */
  val builtinTemplateEscapes: Map[String, String] = Map(
    " StdDBFmt" -> "sql",
    " StdPgSQLFmt" -> "stdsql",
    " StdClickHouseFmt" -> "stdsql")

  private object P extends RainerParserBase {
    def cfgIdent: Parser[String] = """[A-Za-z_][A-Za-z0-9_\-.]*""".r
    // full lexer-level unescape (\xHH, \OOO, control escapes) shared
    // with script strings — grammar/rainerscript.c unescapeStr runs on
    // object parameter strings too (lexer.l:325-489 string contexts);
    // backtick `echo ...`/`cat ...` params expand like lexer.l:487
    def cfgString: Parser[String] =
      ("\"" + """([^"\\]|\\.)*""" + "\"").r ^^ { s =>
        unescape(s.substring(1, s.length - 1))
      } | btstring
    /** Param value: scalar string or `["a","b",...]` array
      * (grammar/rainerscript.y nvlst array values, used by
      * ruleset(parser=[...]) and parser(rule=[...])). Arrays fold to one
      * NUL-joined string — NUL can't appear in config text (the lexer is
      * line-oriented C strings), so the join is collision-free; consumers
      * split with [[RsyslogConfig.splitArray]]. */
    def param: Parser[(String, String)] =
      cfgIdent ~ ("=" ~> ("[" ~> repsep(cfgString, ",") <~ "]" ^^ (_.mkString("\u0000"))
        | cfgString)) ^^ { case k ~ v => (k.toLowerCase, v) }
    def params: Parser[Map[String, String]] = rep(param) ^^ (_.toMap)

    sealed trait Item
    case class TemplateObj(p: Map[String, String],
                           fields: Seq[Map[String, String]]) extends Item
    case class LookupObj(p: Map[String, String]) extends Item
    case class RulesetObj(name: String, p: Map[String, String],
                          body: Seq[RStmt]) extends Item
    case class StmtItem(s: RStmt) extends Item

    /** template(name="t" type="string" string="...") or
      * template(name="t" type="list") { constant(value="x") property(name="msg") } */
    def templateObj: Parser[Item] =
      "template" ~> "(" ~> params ~ (")" ~> opt(listBody)) ^^ {
        case p ~ body => TemplateObj(p, body.getOrElse(Seq.empty))
      }
    def listEntry: Parser[Map[String, String]] =
      "constant" ~> "(" ~> params <~ ")" ^^ (p =>
        // constants keep their params too: constant(outname= value=
        // format="jsonf") is a fixed-value jsonf field
        // (tests/template-const-jsonf.sh)
        p + ("outname" -> p.getOrElse("outname", "__const"),
             "name" -> p.getOrElse("value", ""),
             "__isconst" -> "1")) |
      // pass ALL params through (keys arrive lowercased from `param`),
      // so field options like omitifzero/onempty/datatype reach the
      // jsonf compiler without a whitelist going stale
      "property" ~> "(" ~> params <~ ")" ^^ { p =>
        p + ("outname" -> p.getOrElse("outname", p.getOrElse("name", "")),
             "name" -> p.getOrElse("name", ""))
      }
    def listBody: Parser[Seq[Map[String, String]]] = "{" ~> rep(listEntry) <~ "}"

    def lookupObj: Parser[Item] =
      "lookup_table" ~> "(" ~> params <~ ")" ^^ LookupObj.apply

    case class GenericObj(kind: String, p: Map[String, String]) extends Item
    def genericObj: Parser[Item] =
      ("dyn_stats" | "percentile_stats" | "perctile_stats" | "ratelimit" |
        "timezone") ~ ("(" ~> params <~ ")") ^^ {
        case kind ~ p =>
          GenericObj(if (kind == "percentile_stats") "perctile_stats" else kind, p)
      }

    def rulesetObj: Parser[Item] =
      "ruleset" ~> "(" ~> params ~ (")" ~> "{" ~> rep(stmt) <~ "}") ^^ {
        case p ~ body => RulesetObj(p.getOrElse("name",
          throw new IllegalArgumentException("ruleset needs name=")), p, body)
      }

    /** parser(name="x" type="pmnull"|"pmnormalize" ...) — a named parser
      * instance for ruleset(parser=[...]) chains (CNFOBJ_PARSER;
      * instances created via newParserInst, e.g.
      * plugins/pmnull/pmnull.c:96-138). */
    case class ParserObj(p: Map[String, String]) extends Item
    def parserObj: Parser[Item] = "parser" ~> "(" ~> params <~ ")" ^^ ParserObj.apply

    // ---- stock-config object surface (grammar/rainerscript.h:36-53
    // CNFOBJ_MODULE/INPUT/GLOBAL/MAINQ; include at lexer.l:379-382) ----
    case class ModuleObj(p: Map[String, String]) extends Item
    case class InputObj(p: Map[String, String]) extends Item
    case class SettingsObj(kind: String, p: Map[String, String]) extends Item
    case class IncludeObj(p: Map[String, String]) extends Item
    /** `$Directive args` legacy line (lexer.l:145-230 $-handlers). */
    case class LegacyDirective(name: String, arg: String) extends Item
    /** `& stop` / `& <target>` continuation: extends the previous
      * filter's action list (legacy conf continuation lines). */
    case class AmpCont(stmts: Seq[RStmt]) extends Item

    def moduleObj: Parser[Item] = "module" ~> "(" ~> params <~ ")" ^^ ModuleObj.apply
    def inputObj: Parser[Item] = "input" ~> "(" ~> params <~ ")" ^^ InputObj.apply
    def settingsObj: Parser[Item] =
      ("main_queue" | "global") ~ ("(" ~> params <~ ")") ^^ {
        case k ~ p => SettingsObj(k, p)
      }
    def includeObj: Parser[Item] = "include" ~> "(" ~> params <~ ")" ^^ IncludeObj.apply

    /** `$Word rest-of-line`: args run to end of line (legacy directives
      * are line-oriented; the expression `$var` surface never appears at
      * item position — statements start with keywords). */
    def legacyDirective: Parser[Item] =
      """\$[A-Za-z][A-Za-z0-9]*""".r ~ """[^\n]*""".r ^^ {
        case name ~ arg => LegacyDirective(name.drop(1), arg.trim)
      }

    /** legacy action targets (sysklogd selector lines; tools/omfile,
      * omfwd, omusrmsg, ompipe shorthands): `/file`, `-/file` (async),
      * `|pipe`, `@udp` / `@@tcp` host, `:omusrmsg:users`, `~` discard,
      * `*` wall-message. Optional `;templateName` suffix on file/fwd. */
    def legacyTarget: Parser[Seq[RStmt]] =
      "~" ^^^ Seq(RStop) |
      """-?/[^\s;#]+""".r ~ opt(";" ~> cfgIdent) ^^ { case path ~ tpl =>
        val async = path.startsWith("-")
        Seq(RAction(Map("type" -> "omfile",
          "file" -> (if (async) path.drop(1) else path),
          "sync" -> (if (async) "off" else "on")) ++ tpl.map("template" -> _)))
      } |
      """\|[^\s;#]+""".r ^^ (p =>
        Seq(RAction(Map("type" -> "ompipe", "pipe" -> p.drop(1))))) |
      """@@?[^\s;#]+""".r ~ opt(";" ~> cfgIdent) ^^ { case tgt ~ tpl =>
        Seq(RAction(Map("type" -> "omfwd",
          "target" -> tgt.dropWhile(_ == '@'),
          "protocol" -> (if (tgt.startsWith("@@")) "tcp" else "udp")) ++
          tpl.map("template" -> _)))
      } |
      """:[A-Za-z][A-Za-z0-9]*:[^\s;#]*""".r ^^ { t =>
        val Array(mod, rest) = t.drop(1).split(":", 2)
        Seq(RAction(Map("type" -> mod, "target" -> rest)))
      } |
      "*" ^^^ Seq(RAction(Map("type" -> "omusrmsg", "users" -> "*")))

    /** `mail.err /var/log/mail.err` — selector + legacy target. */
    def selectorLine: Parser[Item] =
      """[a-z0-9*,\-]+\.[!=*a-z]+(;[a-z0-9*,\-]+\.[!=*a-z]+)*""".r ~ legacyTarget ^^ {
        case sel ~ acts => StmtItem(RPriFilt(sel, acts))
      }

    /** `:msg, contains, "x" /var/log/x.log` — property filter + target. */
    def propLine: Parser[Item] =
      (":" ~> cfgIdent) ~ ("," ~> opt("!")) ~ cfgIdent ~ ("," ~> cfgString) ~ legacyTarget ^^ {
        case prop ~ neg ~ op ~ v ~ acts =>
          StmtItem(RPropFilt(prop, op, neg.isDefined, v, acts))
      }

    def ampCont: Parser[Item] =
      "&" ~> ("stop" ^^^ Seq(RStop) | legacyTarget) ^^ AmpCont.apply

    def item: Parser[Item] =
      templateObj | lookupObj | genericObj | rulesetObj | parserObj |
      moduleObj | inputObj | settingsObj | includeObj |
      legacyDirective | ampCont | selectorLine | propLine |
      stmt ^^ StmtItem.apply

    def config: Parser[Seq[Item]] = rep(item)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Split a possibly-array-valued config param back into its elements
    * (P.param NUL-joins array values). A scalar value has no NUL and
    * yields a one-element chain. */
  def splitArray(v: String): Seq[String] =
    v.split("\u0000").toSeq.map(_.trim).filter(_.nonEmpty)

  private def parseRaw(src: String): Seq[P.Item] =
    P.parseAll(P.config, src) match {
      case P.Success(r, _) => r
      case P.NoSuccess(msg, next) =>
        throw new IllegalArgumentException(
          s"config parse error at line ${next.pos.line}: $msg")
      case other => throw new IllegalStateException(other.toString)
    }

  /** Expand a possibly-globbed include path (lexer.l:379-382 cnfDoInclude
    * uses glob(3); we support the common single-`*` filename glob). */
  private def globFiles(pattern: String): Seq[java.io.File] = {
    val p = java.nio.file.Paths.get(pattern.trim)
    val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else {
      val m = java.nio.file.FileSystems.getDefault
        .getPathMatcher("glob:" + p.getFileName.toString)
      dir.toFile.listFiles.toSeq
        .filter(f => f.isFile && m.matches(f.toPath.getFileName))
        .sortBy(_.getName) // glob(3) sorts; include order is load order
    }
  }

  /** include()/$IncludeConfig expansion, recursive with a depth guard.
    * Missing files warn-skip (mode="optional" semantics) rather than
    * abort — the engine parses distro configs outside the distro. */
  private def expandIncludes(items: Seq[P.Item], depth: Int): Seq[P.Item] = {
    require(depth < 16, "include nesting too deep (cycle?)")
    items.flatMap {
      case P.IncludeObj(p) if objDisabled(p) => Nil
      case P.IncludeObj(p) =>
        val texts: Seq[String] = p.get("text").map(Seq(_)).getOrElse {
          val files = p.get("file").map(globFiles).getOrElse(Nil)
          if (files.isEmpty && !p.get("mode").contains("optional"))
            log.warn(s"include ${p.get("file").getOrElse("")} matched no files; skipping")
          // a .yaml include routes through the YAML front-end first
          // (runtime/yamlconf.c include handling, tests/yaml-include.sh)
          files.map { f =>
            val raw = java.nio.file.Files.readString(f.toPath)
            if (f.getName.endsWith(".yaml") || f.getName.endsWith(".yml"))
              yamlToRainer(raw)
            else raw
          }
        }
        texts.flatMap(t => expandIncludes(parseRaw(t), depth + 1))
      case P.LegacyDirective(n, arg) if n.equalsIgnoreCase("IncludeConfig") =>
        val files = globFiles(stripTrailingComment(arg))
        if (files.isEmpty)
          log.warn(s"\\$$IncludeConfig $arg matched no files; skipping")
        files.flatMap(f =>
          expandIncludes(parseRaw(java.nio.file.Files.readString(f.toPath)), depth + 1))
      case other => Seq(other)
    }
  }

  private def stripTrailingComment(arg: String): String = {
    val i = arg.indexOf('#')
    (if (i >= 0) arg.substring(0, i) else arg).trim
  }

  /** config.enabled != "on" disables the carrying object at load
    * (nvlstChkDisabled, grammar/rainerscript.c:759-772); statement-level
    * action()/include() handling lives in the parser. */
  private def objDisabled(p: Map[String, String]): Boolean =
    p.get("config.enabled").exists(_ != "on")

  /** The YAML config front-end (runtime/yamlconf.c): parse a
    * .yaml/.yml rsyslog config by translating the documented schema to
    * the equivalent RainerScript text and running the normal parse —
    * the same design as the reference, which synthesises RainerScript
    * for script:/statements: blocks and builds the identical object
    * model for the rest (yamlconf.c:4-28). Top-level sections: version
    * (informational), global, mainqueue/main_queue, modules/
    * testbench_modules, inputs, templates (string or list-with-
    * elements), rulesets (script: | statements: | filter:+actions:),
    * parsers, lookup_tables, dyn_stats, perctile_stats, ratelimits,
    * timezones, include. Unknown top-level keys are ignored with a
    * diagnostic, like process_top_level:1910. */
  def parseYaml(src: String): RsyslogConfig = parse(yamlToRainer(src))

  /** The YAML→RainerScript translation itself (exposed for tests). */
  def yamlToRainer(src: String): String = {
    import YamlLite._
    val root = YamlLite.parse(src) match {
      case m: YMap => m
      case _ => throw new IllegalArgumentException(
        "yaml config: top level must be a mapping")
    }
    val sb = new StringBuilder
    def esc(v: String): String = v.replace("\\", "\\\\").replace("\"", "\\\"")
    def params(m: YMap, skip: Set[String] = Set.empty): String =
      m.entries.collect {
        case (k, YScalar(v)) if !skip(k) => s"""$k="${esc(v)}""""
        case (k, YList(items)) if !skip(k) =>
          // array-valued param (e.g. ruleset parser chains)
          items.collect { case YScalar(s) => "\"" + esc(s) + "\"" }
            .mkString(s"$k=[", ",", "]")
      }.mkString(" ")
    def objLine(kind: String, m: YMap): Unit =
      sb.append(kind).append("(").append(params(m)).append(")\n")
    def asList(n: YNode): Seq[YNode] = n match {
      case YList(xs) => xs
      case m: YMap => Seq(m)
      case _ => Nil
    }

    def actionStmt(m: YMap): String = s"action(${params(m)})"

    def exprOfVar(v: String): String = if (v.startsWith("$")) v else "$" + v

    /** Legacy filter string → guard expression: "*.info" (PRI) or
      * ":prop, op, val" (property filter; op of contains/isequal/
      * startswith/regex/ereregex, '!' negation) — the two forms
      * yamlconf.c's Phase-2 shortcut accepts. */
    def filterExpr(f: String): String = {
      val t = f.trim
      if (t.startsWith(":")) {
        val body = t.drop(1)
        val c1 = body.indexOf(',')
        val c2 = body.indexOf(',', c1 + 1)
        require(c1 > 0 && c2 > c1, s"yaml config: bad property filter '$f'")
        val prop = body.take(c1).trim
        var op = body.substring(c1 + 1, c2).trim
        val neg = op.startsWith("!")
        if (neg) op = op.drop(1).trim
        var v = body.drop(c2 + 1).trim
        if (v.length >= 2 && v.head == '"' && v.last == '"')
          v = v.substring(1, v.length - 1)
        val e = op.toLowerCase match {
          case "contains" => s"""$$$prop contains "${esc(v)}""""
          case "isequal" => s"""$$$prop == "${esc(v)}""""
          case "startswith" => s"""$$$prop startswith "${esc(v)}""""
          case "regex" | "ereregex" => s"""re_match($$$prop, "${esc(v)}")"""
          case o => throw new IllegalArgumentException(
            s"yaml config: unsupported property-filter op '$o'")
        }
        if (neg) s"not ($e)" else e
      } else s"""prifilt("${esc(t)}")"""
    }

    def stmts(items: Seq[YNode], indent: String): String =
      items.map(stmt(_, indent)).mkString("")

    def stmt(n: YNode, indent: String): String = n match {
      case m: YMap if m.get("if").isDefined =>
        val cond = m.scalar("if").get
        val thenBody = m.get("then").map(asList)
          .orElse(m.get("action").map(a => Seq(a)))
          .getOrElse(Nil)
        val elseBody = m.get("else").map(asList).getOrElse(Nil)
        val e = if (elseBody.isEmpty) ""
          else s" else {\n${stmts(elseBody, indent + "  ")}$indent}"
        s"$indent" + s"if $cond then {\n" +
          stmts(thenBody, indent + "  ") + s"$indent}$e\n"
      case m: YMap if m.get("type").isDefined =>
        s"$indent${actionStmt(m)}\n"
      case m: YMap if m.get("stop").isDefined => s"${indent}stop\n"
      case m: YMap if m.get("continue").isDefined => s"${indent}continue\n"
      case m: YMap if m.get("call").isDefined =>
        s"${indent}call ${m.scalar("call").get}\n"
      case m: YMap if m.get("call_indirect").isDefined =>
        val v = m.scalar("call_indirect").get
        if (v.startsWith("$")) s"${indent}call_indirect $v;\n"
        else s"""${indent}call_indirect "${esc(v)}";\n"""
      case m: YMap if m.get("set").isDefined =>
        val s0 = m.get("set").get.asInstanceOf[YMap]
        s"${indent}set ${exprOfVar(s0.scalar("var").get)} = ${s0.scalar("expr").get};\n"
      case m: YMap if m.get("unset").isDefined =>
        s"${indent}unset ${exprOfVar(m.scalar("unset").get)};\n"
      case m: YMap if m.get("foreach").isDefined =>
        val f = m.get("foreach").get.asInstanceOf[YMap]
        val body = f.get("do").map(asList).getOrElse(Nil)
        s"${indent}foreach (${exprOfVar(f.scalar("var").get)} in " +
          s"${f.scalar("in").get}) do {\n" +
          stmts(body, indent + "  ") + s"$indent}\n"
      case m: YMap if m.get("reload_lookup_table").isDefined =>
        val r = m.get("reload_lookup_table").get.asInstanceOf[YMap]
        val stub = r.scalar("stub_value")
          .map(s => s""", "${esc(s)}"""").getOrElse("")
        s"""${indent}reload_lookup_table("${r.scalar("table").get}"$stub)\n"""
      case other => throw new IllegalArgumentException(
        s"yaml config: unrecognised statement item $other")
    }

    def ruleset(m: YMap): Unit = {
      val special = Set("script", "statements", "filter", "actions")
      val body =
        m.scalar("script").getOrElse {
          val fromStmts = m.get("statements").map(s => stmts(asList(s), "  "))
          fromStmts.getOrElse {
            val acts = m.get("actions").map(asList).getOrElse(Nil)
            m.scalar("filter") match {
              case Some(f) =>
                s"  if ${filterExpr(f)} then {\n" +
                  acts.map(a => "    " + actionStmt(a.asInstanceOf[YMap]) +
                    "\n").mkString + "  }\n"
              case None =>
                acts.map(a => "  " + actionStmt(a.asInstanceOf[YMap]) +
                  "\n").mkString
            }
          }
        }
      sb.append("ruleset(").append(params(m, special)).append(") {\n")
        .append(if (body.endsWith("\n")) body else body + "\n")
        .append("}\n")
    }

    def template(m: YMap): Unit = m.get("elements") match {
      case Some(el) =>
        sb.append("template(").append(params(m, Set("elements")))
          .append(") {\n")
        asList(el).foreach {
          case e: YMap =>
            e.get("constant").foreach { case c: YMap =>
              sb.append("  constant(").append(params(c)).append(")\n")
              case _ => () }
            e.get("property").foreach { case p: YMap =>
              sb.append("  property(").append(params(p)).append(")\n")
              case _ => () }
          case _ => ()
        }
        sb.append("}\n")
      case None => objLine("template", m)
    }

    root.entries.foreach {
      case ("version", _) => ()
      case ("global", m: YMap) => objLine("global", m)
      case ("mainqueue" | "main_queue", m: YMap) => objLine("main_queue", m)
      case ("modules" | "testbench_modules", v) =>
        asList(v).foreach { case m: YMap => objLine("module", m); case _ => () }
      case ("inputs", v) =>
        asList(v).foreach { case m: YMap => objLine("input", m); case _ => () }
      case ("templates", v) =>
        asList(v).foreach { case m: YMap => template(m); case _ => () }
      case ("rulesets", v) =>
        asList(v).foreach { case m: YMap => ruleset(m); case _ => () }
      case ("parsers", v) =>
        asList(v).foreach { case m: YMap => objLine("parser", m); case _ => () }
      case ("lookup_tables", v) =>
        asList(v).foreach { case m: YMap => objLine("lookup_table", m); case _ => () }
      case ("dyn_stats", v) =>
        asList(v).foreach { case m: YMap => objLine("dyn_stats", m); case _ => () }
      case ("perctile_stats", v) =>
        asList(v).foreach { case m: YMap => objLine("perctile_stats", m); case _ => () }
      case ("ratelimits", v) =>
        asList(v).foreach { case m: YMap => objLine("ratelimit", m); case _ => () }
      case ("timezones", v) =>
        asList(v).foreach { case m: YMap => objLine("timezone", m); case _ => () }
      case ("include", v) =>
        asList(v).foreach {
          case m: YMap =>
            val mode = if (m.scalar("optional").exists(o =>
              Seq("on", "true", "yes", "1").contains(o.toLowerCase)))
              " mode=\"optional\"" else ""
            sb.append("include(file=\"")
              .append(esc(m.scalar("path").getOrElse(""))).append("\"")
              .append(mode).append(")\n")
          case _ => ()
        }
      case (other, _) =>
        log.debug(s"yaml config: unknown top-level key '$other' — ignored")
    }
    sb.toString
  }

  /** Object-form property params → the equivalent %name:from:to:options%
    * spec (template.c:2320-2540 pblkProperty): position.from/to,
    * field.number/delimiter, caseconversion, dateformat, date.inutc,
    * format, controlcharacters, securepath, droplastlf, spifno1stsp,
    * compressspace. Params without a string-form equivalent
    * (position.relativetoend, regex.*) warn and are skipped. */
  private def propertySpec(f: Map[String, String]): String = {
    val name = f("name")
    // regex.* params map onto the official R-spec string form
    // (template.c:1581-1680; tests/template-property-transformations.sh)
    if (f.contains("regex.expression")) {
      val typ = f.getOrElse("regex.type", "BRE")
      val sub = f.getOrElse("regex.submatch", "0")
      val nom = f.getOrElse("regex.nomatchmode", "DFLT").toUpperCase
      val mat = f.getOrElse("regex.match", "0")
      return s"%$name:R,$typ,$sub,$nom,$mat:${f("regex.expression").replace("%", "\\%")}--end%"
    }
    var from = f.getOrElse("position.from", "")
    var to = f.getOrElse("position.to", "")
    if (f.contains("field.delimiter") || f.contains("field.number")) {
      from = "F," + f.getOrElse("field.delimiter", "9")
      to = f.getOrElse("field.number", "1")
    }
    val opts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (f.get("position.relativetoend").contains("on")) opts += "relativetoend"
    if (f.get("fixedwidth").contains("on")) opts += "fixedwidth"
    f.get("caseconversion").foreach {
      case "lower" => opts += "lowercase"
      case "upper" => opts += "uppercase"
      case _ => ()
    }
    f.get("dateformat").foreach(v => opts += s"date-$v")
    if (f.get("date.inutc").contains("on")) opts += "date-utc"
    f.get("format").foreach(v => opts += v) // csv/json/jsonf/jsonr/jsonfr
    // jsonf/jsonfr field machinery rides as option tokens so the string
    // form can express the object form (outname differing from name,
    // dataType/onEmpty/omitIfZero — values lowercased like all params)
    if (f.get("format").exists(v => v == "jsonf" || v == "jsonfr")) {
      f.get("outname").filter(_ != f("name")).foreach(o => opts += s"outname=$o")
      f.get("datatype").foreach(d => opts += s"datatype=$d")
      f.get("onempty").foreach(o => opts += s"onempty=$o")
      if (f.get("omitifzero").contains("on")) opts += "omitifzero"
    }
    f.get("controlcharacters").foreach {
      case "drop" => opts += "drop-cc"
      case "space" => opts += "space-cc"
      case "escape" => opts += "escape-cc"
      case "escape-octal" => opts += "escape-cc-octal"
      case _ => ()
    }
    f.get("securepath").foreach {
      case "drop" => opts += "secpath-drop"
      case "replace" => opts += "secpath-replace"
      case _ => ()
    }
    if (f.get("droplastlf").contains("on")) opts += "drop-last-lf"
    if (f.get("spifno1stsp").contains("on")) opts += "sp-if-no-1st-sp"
    if (f.get("compressspace").contains("on")) opts += "compressed-sp"
    if (from.isEmpty && to.isEmpty && opts.isEmpty) s"%$name%"
    else s"%$name:$from:$to:${opts.mkString(",")}%"
  }

  def parse(src: String): RsyslogConfig = {
    // 1) parse, 2) expand includes, 3) fold `&` continuations into the
    // preceding filter's block (legacy continuation lines)
    val expanded = expandIncludes(parseRaw(src), 0).filterNot {
      case P.TemplateObj(p, _) => objDisabled(p)
      case P.LookupObj(p) => objDisabled(p)
      case P.ModuleObj(p) => objDisabled(p)
      case P.InputObj(p) => objDisabled(p)
      case P.SettingsObj(_, p) => objDisabled(p)
      case P.GenericObj(_, p) => objDisabled(p)
      case P.ParserObj(p) => objDisabled(p)
      case _ => false
    }
    val items = expanded.foldLeft(Vector.empty[P.Item]) {
      case (acc :+ P.StmtItem(RPriFilt(sel, b)), P.AmpCont(s)) =>
        acc :+ P.StmtItem(RPriFilt(sel, b ++ s))
      case (acc :+ P.StmtItem(RPropFilt(p, o, n, v, b)), P.AmpCont(s)) =>
        acc :+ P.StmtItem(RPropFilt(p, o, n, v, b ++ s))
      case (_, P.AmpCont(_)) =>
        throw new IllegalArgumentException("'&' continuation without a preceding filter")
      case (acc, i) => acc :+ i
    }
    var templates = builtinTemplates
    var templateEscapes = builtinTemplateEscapes
    var jsonf = Map.empty[String, Seq[TemplateCompiler.JsonfField]]
    val jsonfTreeNames = scala.collection.mutable.Set.empty[String]
    var lookups = Map.empty[String, LookupTable]
    var rulesets = Map.empty[String, Seq[RStmt]]
    var rulesetParsers = Map.empty[String, Seq[String]]
    var parserObjs = Map.empty[String, Map[String, String]]
    var objects = Map.empty[(String, String), Map[String, String]]
    val modules = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val inputs = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    var globals = Map.empty[String, String]
    val main = scala.collection.mutable.ArrayBuffer.empty[RStmt]
    // legacy $template NAME,"format"(,options) — the option suffix is
    // the template-level escape (template.c:1944-1970: sql/stdsql/json,
    // case-insensitive)
    val legacyTemplate = """([A-Za-z0-9_\-]+)\s*,\s*"((?:[^"\\]|\\.)*)"\s*(?:,\s*([A-Za-z]+))?.*""".r
    items.foreach {
      case P.TemplateObj(p, fields) =>
        val name = p("name")
        // template-level escape (template.c:1955-1970 O_SQL/O_STDSQL/
        // O_JSON options; mutually exclusive, last wins like the
        // reference's sequential ifs)
        Seq("sql", "stdsql", "json").foreach { m =>
          if (p.get(s"option.$m").contains("on")) templateEscapes += name -> m
        }
        p.getOrElse("type", "string") match {
          case "string" => templates += name -> p("string")
          case "list" =>
            // list templates with only properties compile to jsonf when
            // option.jsonf="on", else to a concatenated string template
            if (p.get("option.jsonf").contains("on") ||
                p.get("option.jsonftree").contains("on")) {
              // plain constants (no outname) are ignored in json modes;
              // outname'd constants become fixed-value fields
              jsonf += name -> fields.filter(_("outname") != "__const").map(f0 => {
                // nvlst param names compare case-insensitively in the
                // reference (dataType ≡ datatype ≡ DATATYPE)
                val f = f0.map { case (k, v) => (k.toLowerCase, v) }
                TemplateCompiler.JsonfField(f("outname"),
                  if (f.contains("__isconst")) "" else f("name"),
                  f.getOrElse("datatype", "string"),
                  f.getOrElse("onempty", "keep"),
                  f.get("omitifzero").contains("on"),
                  if (f.contains("__isconst")) Some(f("name")) else None)})
              if (p.get("option.jsonftree").contains("on"))
                jsonfTreeNames += name
            }
            else templates += name -> fields.map { f =>
              if (f.contains("__isconst")) {
                // constant(outname= format="jsonf") in a STRING list
                // template renders the `"name": "value"` fragment
                // (tests/template-const-jsonf.sh expected bytes)
                if (f.get("format").contains("jsonf") && f("outname") != "__const")
                  s"\"${f("outname")}\": \"${f("name")}\"".replace("%", "\\%")
                else f("name").replace("%", "\\%")
              } else propertySpec(f)
            }.mkString
          case "subtree" => templates += name -> s"%${p("subtree")}%"
          case other =>
            throw new IllegalArgumentException(s"template type $other")
        }
      case P.LookupObj(p) =>
        lookups += p("name") -> LookupTable.load(p("file"))
      case P.RulesetObj(name, p, body) =>
        rulesets += name -> body
        // ruleset(parser=...): scalar or ["a","b"] array, tried in order
        // (runtime/ruleset.c rulesetSetParserList)
        p.get("parser").foreach(v => rulesetParsers += name -> splitArray(v))
      case P.ParserObj(p) =>
        parserObjs += p.getOrElse("name",
          throw new IllegalArgumentException("parser needs name=")) -> p
      case P.GenericObj(kind, p) =>
        // timezone objects are identified by id=, the rest by name=
        objects += (kind, p.getOrElse("name", p.getOrElse("id", ""))) -> p
      case P.ModuleObj(p) => modules += p
      case P.InputObj(p) => inputs += p
      case P.SettingsObj(kind, p) =>
        // key-prefix main_queue params so they don't collide with global()
        val prefix = if (kind == "main_queue") "main_queue." else ""
        globals ++= p.map { case (k, v) => (prefix + k) -> v }
        // global(localHostname=): $myhostname override
        // (glbl.c LocalHostNameOverride, :122/:1409)
        p.get("localhostname").foreach(h => EnvSource.localHostname = Some(h))
        // global(environment=["K=V", …]): putenv for getenv()/backticks
        // (glbl.c eCmdHdlrArray environment → do_setenv;
        // tests/glbl_setenv.sh). Array values arrive NUL-joined.
        p.get("environment").foreach { v =>
          v.split('\u0000').foreach { kv =>
            val eq = kv.indexOf('=')
            if (eq > 0)
              EnvSource.overrides += (kv.substring(0, eq) -> kv.substring(eq + 1))
            else
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"global(environment=): entry '$kv' is not NAME=VALUE - ignored")
          }
        }
      case P.LegacyDirective(name, rawArg) =>
        val arg = stripTrailingComment(rawArg)
        name.toLowerCase match {
          case "modload" => modules += Map("load" -> arg)
          case "template" => rawArg.trim match {
            // $template NAME,"format" — template string may contain '#',
            // so match on the raw arg, not the comment-stripped one
            case legacyTemplate(n, fmt, opt) =>
              templates += n -> fmt
              Option(opt).map(_.toLowerCase).filter(
                Set("sql", "stdsql", "json")).foreach(m =>
                templateEscapes += n -> m)
            case other =>
              throw new IllegalArgumentException(s"bad \\$$template: $other")
          }
          case "udpserverrun" => inputs += Map("type" -> "imudp", "port" -> arg)
          case "inputtcpserverrun" => inputs += Map("type" -> "imtcp", "port" -> arg)
          case "workdirectory" => globals += "workdirectory" -> arg
          case "actionfiledefaulttemplate" =>
            globals += "actionfiledefaulttemplate" -> arg
          case other =>
            // warn-skip ledger: recorded verbatim, not acted on (file
            // ownership, privilege drop, queue tuning — Spark owns those
            // concerns; the reference's own v8 path also just maps these
            // to object params, lexer.l:145-230)
            log.debug(s"legacy directive \\$$$name recorded, not acted on")
            globals += other -> arg
        }
      case P.IncludeObj(_) | P.AmpCont(_) =>
        throw new IllegalStateException("unreachable: expanded earlier")
      case P.StmtItem(s) => main += s
    }
    // $ActionFileDefaultTemplate / builtin default: file actions without
    // an explicit template render with the default (tools/omfile.c
    // setLegacyDfltTpl) — inject so action render columns materialize
    val dfltFileTpl = globals.getOrElse("actionfiledefaulttemplate",
      "RSYSLOG_TraditionalFileFormat")
    // $ActionForwardDefaultTemplate (omfwd.c:2833 setLegacyDfltTpl;
    // builtin default omfwd.c:324)
    val dfltFwdTpl = globals.getOrElse("actionforwarddefaulttemplate",
      "RSYSLOG_TraditionalForwardFormat")
    // per-module default templates injected the way each module's
    // newActInst/cfline path does (reference cites at each case)
    def moduleDflt(p: Map[String, String]): Option[String] =
      p.get("type").collect {
        case "omfile" => dfltFileTpl // tools/omfile.c setLegacyDfltTpl
        case "omfwd" => dfltFwdTpl
        case "ompipe" => "RSYSLOG_FileFormat" // tools/ompipe.c:107-112
        case "omusrmsg" => // tools/omusrmsg.c:580 bIsWall split
          if (p.get("users").orElse(p.get("target")).contains("*")) " WallFmt"
          else " StdUsrMsgFmt"
        case "ommysql" => " StdDBFmt" // ommysql.c:466
        case "omlibdbi" => " StdDBFmt" // omlibdbi.c:120-127
        case "ompgsql" => " StdPgSQLFmt" // ompgsql.c:461
        case "omclickhouse" => " StdClickHouseFmt" // rsconf.c registration
        case "omelasticsearch" => " StdJSONFmt" // omelasticsearch.c:2682
      }
    def injectDefault(ss: Seq[RStmt]): Seq[RStmt] = ss.map {
      case RAction(p) if !p.contains("template") && moduleDflt(p).isDefined =>
        RAction(p + ("template" -> moduleDflt(p).get))
      case RIf(c, t, e) => RIf(c, injectDefault(t), injectDefault(e))
      case RPriFilt(s, b) => RPriFilt(s, injectDefault(b))
      case RPropFilt(p, o, n, v, b) => RPropFilt(p, o, n, v, injectDefault(b))
      case RForeach(v, src, b) => RForeach(v, src, injectDefault(b))
      case other => other
    }
    RsyslogConfig(templates, jsonf, lookups,
      rulesets.map { case (k, v) => k -> injectDefault(v) },
      injectDefault(main.toSeq), objects,
      modules.toSeq, inputs.toSeq, globals, templateEscapes,
      parserObjs, rulesetParsers, jsonfTreeNames.toSet)
  }
}
