package graft

import org.apache.spark.sql.functions._
import graft.rainerscript.{RainerParser, RainerCompiler}
import graft.rainerscript._
import graft.operators.StringLookup

/** RainerScript front-end: parse + compile + execute semantics, golden
  * cases mirroring the reference's rscript_compare_* corpus (the
  * comparison-coercion matrix) and scriptExec control flow.
  */
class RainerScriptSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    // severity, facility, msg, numstr
    (3, 2, "error on disk0", "10"),
    (6, 16, "info ok", "9"),
    (7, 2, "debug trace", "abc"),
    (1, 4, "alert!", "10")
  ).toDF("severity", "facility", "msg", "numstr")

  test("parser: statements and expressions") {
    val stmts = RainerParser.parseScript(
      """# comment
        |set $!a!b = 1 + 2 * 3;
        |if $msg contains "error" and $severity <= 3 then {
        |  set $.x = tolower($msg);
        |  stop
        |} else set $!y = "n";
        |/* block comment */
        |action(type="omfile" file="/tmp/x" template="%msg%\n")
        |""".stripMargin)
    assert(stmts.length == 3)
    assert(stmts(0) == RSet(RVar("$!a!b"),
      RBinop("+", RNum(1), RBinop("*", RNum(2), RNum(3)))))
    stmts(1) match {
      case RIf(RBinop("and", _, _), thenB, elseB) =>
        assert(thenB.length == 2); assert(elseB.length == 1)
      case other => fail(other.toString)
    }
    assert(stmts(2).isInstanceOf[RAction])
  }

  test("parser: string escapes decode left-to-right") {
    // literal input \\n (escaped backslash, then n) is backslash+n, NOT newline
    assert(RainerParser.parseExpr("\"a\\\\nb\"") == RStr("a\\nb"))
    assert(RainerParser.parseExpr("\"a\\nb\"") == RStr("a\nb"))
    assert(RainerParser.parseExpr("\"q\\\"t\\\\\"") == RStr("q\"t\\"))
    assert(RainerParser.parseExpr("'it\\'s'") == RStr("it's"))
  }

  test("compile: set/if/stop/action semantics") {
    val res = RainerCompiler.run(
      """set $!sevsq = $severity * $severity;
        |if $severity >= 7 then stop
        |if $msg startswith "error" then {
        |  set $!cls = "E";
        |} else {
        |  set $!cls = "other";
        |}
        |action(type="omfile")
        |""".stripMargin, fixture)
    val out = res.output
      .withColumn("cls", get_json_object(col("vars_msg"), "$.cls"))
      .withColumn("sevsq", get_json_object(col("vars_msg"), "$.sevsq"))
      .select("severity", "cls", "sevsq").collect()
    // severity 7 row stopped
    assert(out.length == 3)
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((3, "E"), (6, "other"), (1, "other")))
    assert(out.find(_.getInt(0) == 3).get.getString(2) == "9")
    // action sees the same 3 un-stopped rows
    assert(res.actionFrame(0).count() == 3)
  }

  test("actionFrame(i) is built once: every call returns the same Dataset") {
    val res = RainerCompiler.run(
      """if $severity <= 3 then action(type="omfile" template="%msg%")
        |action(type="omfile")
        |""".stripMargin, fixture)
    assert(res.actionFrame(0) eq res.actionFrame(0))
    assert(res.actionFrame(1) eq res.actionFrame(1))
    assert(res.actionFrame(0) ne res.actionFrame(1))
    assert(res.actionFrame(0).count() == 2)
  }

  test("guard frozen at sequence point (mutation after if does not rewrite history)") {
    val res = RainerCompiler.run(
      """if $!flag == "x" then set $!hit = "yes";
        |set $!flag = "x";
        |""".stripMargin,
      Seq(("m")).toDF("msg").withColumn("vars_msg", lit("""{"flag":"other"}""")))
    val r = res.output.select(
      get_json_object(col("vars_msg"), "$.hit"),
      get_json_object(col("vars_msg"), "$.flag")).collect()(0)
    assert(r.getString(0) == null) // guard saw flag=other
    assert(r.getString(1) == "x")
  }

  test("parse_json: trailing garbage fails whole, success stores the tree") {
    // tests/rscript_parse_json_issue.sh: "22 08 23 this is a test message"
    // must yield rc 1 with NOTHING stored (not a half-parse of "22")
    val res = RainerCompiler.run(
      """set $.ret = parse_json("22 08 23 this is a test message", "$!parsed");
        |set $.ok = parse_json("{\"a\":1,\"b\":[2,3]}", "$!tree");
        |set $.oknum = parse_json(" 42 ", "$!num");
        |set $.after = $!tree!b;
        |""".stripMargin,
      Seq(("m")).toDF("msg"))
    val r = res.output.select(
      get_json_object(col("vars_local"), "$.ret"),
      get_json_object(col("vars_msg"), "$.parsed"),
      get_json_object(col("vars_local"), "$.ok"),
      get_json_object(col("vars_msg"), "$.tree.a"),
      get_json_object(col("vars_local"), "$.oknum"),
      get_json_object(col("vars_msg"), "$.num"),
      get_json_object(col("vars_local"), "$.after")).collect()(0)
    assert(r.getString(0) == "1")    // rc: failure
    assert(r.getString(1) == null)   // container untouched
    assert(r.getString(2) == "0")    // rc: success
    assert(r.getString(3) == "1")    // nested tree landed
    assert(r.getString(4) == "0")    // leading/trailing ws tolerated
    assert(r.getString(5) == "42")   // scalar JSON value stored
    assert(r.getString(6) == "[2,3]") // later reads see the tree
  }

  test("$ in double quotes is diagnosed but kept; bool string-constant truthiness") {
    // tests/rscript_re_match-dbl_quotes.sh: "test$" draws the lexer
    // diagnostic (we warn + keep the literal where the reference
    // rejects); '\$' and single quotes are the accepted spellings
    assert(RainerParser.parseExpr("\"test$\"") == RStr("test$"))
    assert(RainerParser.parseExpr("\"test\\$\"") == RStr("test$"))
    assert(RainerParser.parseExpr("'test$'") == RStr("test$"))
    // tests/rscript_bool_constant_warning.sh: `contains "a" or "b"` keeps
    // historical truthiness — the bare literal converts to number 0 =
    // false, so only the contains decides
    val res = RainerCompiler.run(
      """if $msg contains "alpha" or "beta" then set $!hit = "y";
        |if $msg contains "zzz" or "1" then set $!num = "y";
        |""".stripMargin,
      Seq(("has alpha here")).toDF("msg"))
    val r = res.output.select(
      get_json_object(col("vars_msg"), "$.hit"),
      get_json_object(col("vars_msg"), "$.num")).collect()(0)
    assert(r.getString(0) == "y")   // contains matched; "beta" → 0 is moot
    assert(r.getString(1) == "y")   // "1" → 1 → true (historical semantics)
  }

  test("set/unset to invalid variable names are disabled, config keeps running") {
    // tests/rscript_set_unset_invalid_var.sh: $@timestamp is not a
    // msg/local/global variable → the statement is diagnosed and
    // disabled (cnfstmtNewSet, grammar/rainerscript.c:5167-5183); the
    // rest of the script still executes
    val res = RainerCompiler.run(
      """set $@timestamp = "test";
        |unset $@timestamp2;
        |set $msg = "clobbered";
        |set $!ok = "yes";
        |""".stripMargin,
      Seq(("orig")).toDF("msg"))
    val r = res.output.select(
      col("msg"),
      col("vars_msg"),
      get_json_object(col("vars_msg"), "$.ok")).collect()(0)
    assert(r.getString(0) == "orig")                     // $msg untouched
    assert(!r.getString(1).contains("timestamp"))        // nothing stored
    assert(!r.getString(1).contains("clobbered"))
    assert(r.getString(2) == "yes")                      // later stmt ran
  }

  test("bare root renders empty when the tree was never written") {
    // tests/rscript_bare_var_root-empty.sh: template "empty-%$!%-" over a
    // message whose trees were only copied empty must print "empty--"
    // (getJSONPropVal: NULL root → '', runtime/msg.c:3155-3178)
    val res = RainerCompiler.run(
      """set $. = $!;
        |set $! = $.;
        |action(type="omfile" template="empty-%$!%-")
        |""".stripMargin,
      Seq(("m")).toDF("msg"))
    assert(res.actionFrame(0).select(col("__rendered"))
      .collect()(0).getString(0) == "empty--")
    // …and a written tree still renders its JSON
    val res2 = RainerCompiler.run(
      """set $!a = "1";
        |action(type="omfile" template="got-%$!%-")
        |""".stripMargin,
      Seq(("m")).toDF("msg"))
    val got = res2.actionFrame(0).select(col("__rendered"))
      .collect()(0).getString(0)
    assert(got.startsWith("got-{") && got.contains("\"a\""))
  }

  test("JSON array subscripting: reads navigate [N] segments (0-based)") {
    // tests/json_array_subscripting.sh over its exact input tree
    val tree =
      """{"foo": ["abc0", "def1", "ghi2", {"bar": [{"baz": "important_msg"}, {"baz": "other_msg"}]}]}"""
    val res = RainerCompiler.run(
      """set $.quux = $!foo[2];
        |set $.corge = $!foo[3]!bar[0]!baz;
        |set $.grault = $!foo[3]!bar[1];
        |action(type="omfile" template="msg: %$!foo[1]% | %$.quux% | %$.corge% | %$.grault% | %$!foo[3]!bar[1]!baz%")
        |""".stripMargin,
      Seq(("m")).toDF("msg").withColumn("vars_msg", lit(tree)))
    assert(res.actionFrame(0).select(col("__rendered")).collect()(0).getString(0)
      == """msg: def1 | ghi2 | important_msg | { "baz": "other_msg" } | other_msg""")
    // subscripted WRITE target: diagnosed and disabled, not silently wrong
    val res2 = RainerCompiler.run(
      """set $!foo[1] = "x";
        |set $!ok = "y";
        |""".stripMargin,
      Seq(("m")).toDF("msg").withColumn("vars_msg", lit(tree)))
    val r2 = res2.output.select(
      get_json_object(col("vars_msg"), "$.foo[1]"),
      get_json_object(col("vars_msg"), "$.ok")).collect()(0)
    assert(r2.getString(0) == "def1")
    assert(r2.getString(1) == "y")
  }

  test("comparison coercion matrix (rscript_compare_* semantics)") {
    // numeric iff both sides numeric, else strcmp
    val df = fixture
    def ev(src: String) = RainerCompiler.run(s"""set $$.r = $src;""", df)
      .output.select(get_json_object(col("vars_local"), "$.r")).collect()
      .map(_.getString(0)).toSeq
    // "10" == 10 → numeric equal → 1 (rows with numstr=10)
    assert(ev("""$numstr == 10""") == Seq("true", "false", "false", "true"))
    // "9" > 10 numeric → false (lexicographic would be true);
    // "abc" vs 10 → strcmp("abc","10") → true (reference fallback)
    assert(ev("""$numstr > 10""") == Seq("false", "false", "true", "false"))
    // both non-numeric → strcmp
    assert(ev(""" $msg < "f" """) == Seq("true", "false", "true", "true"))
  }

  test("array IN and prifilt function") {
    val res = RainerCompiler.run(
      """if $numstr == ["10", "77"] then set $.in = "y";
        |if prifilt("mail.err") then set $.pf = "y";
        |""".stripMargin, fixture)
    val out = res.output.select(
      get_json_object(col("vars_local"), "$.in"),
      get_json_object(col("vars_local"), "$.pf"),
      col("severity"), col("facility")).collect()
    assert(out.count(_.getString(0) == "y") == 2)
    // mail.err = facility 2, severity <= 3: rows (3,2) and (1,4→no) → 1 row...
    // facility 2 rows: sev 3 (yes), sev 7 (no)
    assert(out.count(_.getString(1) == "y") == 1)
  }

  test("functions inside scripts + lookup tables") {
    val tbl = StringLookup(Map("error on disk0" -> "DISK"), "NONE")
    val res = RainerCompiler.run(
      """set $.lk = lookup("t", $msg);
        |set $.b = tolower(substring($msg, 0, 5)) & "|" & strlen($msg);
        |set $.h = int2hex(255);
        |""".stripMargin, fixture, tables = Map("t" -> tbl))
    val r = res.output.select(
      get_json_object(col("vars_local"), "$.lk"),
      get_json_object(col("vars_local"), "$.b"),
      get_json_object(col("vars_local"), "$.h")).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("DISK", "NONE", "NONE", "NONE"))
    assert(r(0).getString(1) == "error|14")
    assert(r(0).getString(2) == "ff")
  }

  test("legacy PRI selector and property filter statements") {
    val res = RainerCompiler.run(
      """*.err set $.e = "1";
        |:msg, contains, "ok" set $.k = "1";
        |""".stripMargin, fixture)
    val out = res.output.select(
      get_json_object(col("vars_local"), "$.e"),
      get_json_object(col("vars_local"), "$.k")).collect()
    assert(out.count(_.getString(0) == "1") == 2) // sev 3 and 1
    assert(out.count(_.getString(1) == "1") == 1) // "info ok"
  }

  test("action template renders action-time state (later mutations don't leak)") {
    val res = RainerCompiler.run(
      """set $!x = "a";
        |action(type="omfile" template="x=%$!x%")
        |set $!x = "b";
        |action(type="omfile" template="x=%$!x%")
        |""".stripMargin, Seq("m").toDF("msg"))
    assert(res.actionFrame(0).select("__rendered").collect()(0).getString(0) == "x=a")
    assert(res.actionFrame(1).select("__rendered").collect()(0).getString(0) == "x=b")
  }

  test("named template resolution in actions") {
    val res = RainerCompiler.run(
      """set $!x = "v";
        |action(type="omfile" template="tname")
        |""".stripMargin, Seq("m").toDF("msg"),
      templates = Map("tname" -> "got:%$!x%"))
    assert(res.actionFrame(0).select("__rendered").collect()(0).getString(0) == "got:v")
  }

  test("foreach over JSON array and split()") {
    val res = RainerCompiler.run(
      """set $!arr = "[\"x\",\"y\",\"z\"]";
        |foreach ($.e in $!arr) do {
        |  set $!last = toupper($.e);
        |}
        |foreach ($.w in split($msg, " ")) do {
        |  if $.w startswith "err" then set $!haserr = "y";
        |}
        |""".stripMargin,
      Seq("boot error on disk", "all fine here").toDF("msg"))
    val out = res.output.select(col("msg"),
      get_json_object(col("vars_msg"), "$.last"),
      get_json_object(col("vars_msg"), "$.haserr")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    // rows preserved 1:1 after the loops
    assert(out.size == 2)
    assert(out.values.forall(_._1 == "Z")) // last element uppercased
    assert(out("boot error on disk")._2 == "y")
    assert(out("all fine here")._2 == null)
  }

  test("consecutive sets batch correctly and dependent sets stay sequential") {
    val res = RainerCompiler.run(
      """set $!a = 1;
        |set $!b = "two";
        |set $!c!d = 3;
        |set $!sum = $!a + 10;
        |""".stripMargin, Seq("m").toDF("msg"))
    val r = res.output.select(
      get_json_object(col("vars_msg"), "$.a"),
      get_json_object(col("vars_msg"), "$.b"),
      get_json_object(col("vars_msg"), "$.c.d"),
      get_json_object(col("vars_msg"), "$.sum")).collect()(0)
    assert(r.getString(0) == "1")
    assert(r.getString(1) == "two")
    assert(r.getString(2) == "3")
    assert(r.getString(3) == "11") // reads $!a set in the same run
  }

  test("unset and exists") {
    val res = RainerCompiler.run(
      """set $!a!b = "v";
        |if exists($!a!b) then set $.saw = "y";
        |unset $!a!b;
        |if not exists($!a!b) then set $.gone = "y";
        |""".stripMargin, Seq("m").toDF("msg"))
    val r = res.output.select(
      get_json_object(col("vars_local"), "$.saw"),
      get_json_object(col("vars_local"), "$.gone")).collect()(0)
    assert(r.getString(0) == "y" && r.getString(1) == "y")
  }

  test("exec_template, append_json, b64_encode, tocef resolve in scripts") {
    val res = RainerCompiler.run(
      """set $.line = exec_template("short");
        |set $.merged = append_json("{\"a\":1}", "{\"b\":2}");
        |set $.b64 = b64_encode($msg);
        |set $.cef = tocef("v", "p", "1", "7", "evt", "3", "k=1");
        |""".stripMargin,
      Seq(("payload", "h1")).toDF("msg", "hostname"),
      templates = Map("short" -> "%hostname%!"))
    val r = res.output.select(
      get_json_object(col("vars_local"), "$.line"),
      get_json_object(col("vars_local"), "$.merged.a"),
      get_json_object(col("vars_local"), "$.merged.b"),
      get_json_object(col("vars_local"), "$.b64"),
      get_json_object(col("vars_local"), "$.cef")).collect()(0)
    assert(r.getString(0) == "h1!")
    assert(r.getString(1) == "1" && r.getString(2) == "2")
    assert(new String(java.util.Base64.getDecoder.decode(r.getString(3))) == "payload")
    assert(r.getString(4) == "CEF:0|v|p|1|7|evt|3|k=1")
  }

  test("reload_lookup_table / script_error / previous_action_suspended parse and run") {
    val res = RainerCompiler.run(
      """reload_lookup_table("geo", "stub");
        |set $.err = script_error();
        |if previous_action_suspended() then set $.susp = "y";
        |""".stripMargin, Seq("m").toDF("msg"))
    val r = res.output.select(
      get_json_object(col("vars_local"), "$.err"),
      get_json_object(col("vars_local"), "$.susp")).collect()(0)
    assert(r.getString(0) == "0" && r.getString(1) == null)
  }

  test("dyn_inc counts under the frozen path guard; later stop does not uncount") {
    val ev = Seq(
      (1L, 3, "error"), (2L, 3, "error"), (3L, 6, "view"), (4L, 7, "debugspam"))
      .toDF("event_id", "severity", "event_type")
    val res = RainerCompiler.run(
      """if $severity == 7 then stop
        |if $severity <= 4 then {
        |  set $.r = dyn_inc("b", $event_type);
        |} else {
        |  set $.r = dyn_inc("b", "quiet");
        |}
        |if $severity == 6 then stop
        |""".stripMargin, ev)
    val counts = res.dynStatsFrame("b", col("event_id"), maxCardinality = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sev 7 stopped BEFORE the count → absent; sev 6 stopped AFTER → counted
    assert(counts == Map("error" -> 2L, "quiet" -> 1L))
    // the expression itself returns success (0) like the reference
    val r0 = res.output.filter(col("severity") === 3).limit(1)
      .select(get_json_object(col("vars_local"), "$.r")).collect()(0)
    assert(r0.getString(0) == "0")
  }

  test("dyn_inc maxCardinality folds late keys into _overflow") {
    val ev = (1 to 10).map(i => (i.toLong, s"k${(i - 1) / 2}"))
      .toDF("event_id", "event_type")
    val res = RainerCompiler.run(
      """set $.r = dyn_inc("b", $event_type);""", ev)
    val counts = res.dynStatsFrame("b", col("event_id"), maxCardinality = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // first 3 keys by arrival (k0,k1,k2) kept; k3,k4 → _overflow (4 obs)
    assert(counts == Map("k0" -> 2L, "k1" -> 2L, "k2" -> 2L, "_overflow" -> 4L))
  }

  test("action() inside a foreach body fires once per element") {
    // runtime/ruleset.c:310-401: the body's statements execute per
    // iteration, so an action() there emits one row per element with
    // that element's variable state — captured from the exploded frame
    val res = RainerCompiler.run(
      """foreach ($.w in split($msg, " ")) do {
        |  if $.w startswith "e" then {
        |    set $.hit = toupper($.w);
        |    action(type="omfile" file="/frag.log")
        |  }
        |}
        |set $!done = "y";
        |""".stripMargin,
      Seq((1L, "each epoch ends"), (2L, "no match here")).toDF("id", "msg"))
    val rows = res.actionFrame(0)
      .select(col("id"), get_json_object(col("vars_local"), "$.hit").as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "EACH"), (1L, "EPOCH"), (1L, "ENDS")))
    // the main frame still collapses to one row per record, and
    // statements after the loop run on the collapsed rows
    assert(res.output.count() == 2)
    assert(res.output.select(get_json_object(col("vars_msg"), "$.done"))
      .collect().forall(_.getString(0) == "y"))
  }

  test("dyn_inc inside a foreach body is rejected (documented restriction)") {
    // the loop collapse keeps one row per pre-loop record, so a counter
    // in the body would silently count only element 0 — hard error, like
    // the remaining foreach body restrictions (stop/nested-foreach)
    val ev = Seq((1L, """["a","b"]""")).toDF("event_id", "arr")
    val e = intercept[IllegalArgumentException] {
      RainerCompiler.run(
        """foreach ($.x in $arr) do {
          |  set $.r = dyn_inc("b", $.x);
          |}""".stripMargin, ev)
    }
    assert(e.getMessage.contains("foreach body"))
  }

  test("percentile_observe from script produces the perctile digest") {
    val ev = (1 to 100).map(i => (i.toLong, "lat", i.toLong))
      .toDF("event_id", "event_type", "v")
    val res = RainerCompiler.run(
      """set $.p = percentile_observe("lat", $event_type, $v);""", ev)
    val row = res.perctileFrame("lat").collect()(0)
    assert(row.getAs[Long]("window_count") == 100L)
    assert(row.getAs[Double]("window_min") == 1.0)
    assert(row.getAs[Double]("window_max") == 100.0)
    assert(row.getAs[Double]("p50") == 50.5)
  }

  test("global $/ namespace is distinct from $! and $. (per-message scope)") {
    val res = RainerCompiler.run(
      """set $/site = "dc-east";
        |set $!site = "msg-ns";
        |if exists($/site) then set $.from_global = $/site;
        |unset $/site;
        |if not exists($/site) then set $.global_gone = "y";
        |""".stripMargin, Seq("m").toDF("msg"))
    val r = res.output.select(
      get_json_object(col("vars_local"), "$.from_global"),
      get_json_object(col("vars_msg"), "$.site"),
      get_json_object(col("vars_local"), "$.global_gone")).collect()(0)
    assert(r.getString(0) == "dc-east") // read through $/ not $!
    assert(r.getString(1) == "msg-ns")  // $! untouched by $/ writes
    assert(r.getString(2) == "y")
  }

  test("bare $! root: whole-tree read and assignment (rscript_bare_var_root.sh)") {
    // set $! = $. replaces the message tree with the local tree; the
    // prior $!a is gone. Our rendering is compact JSON (the reference
    // pretty-prints via fjson; content identical). A non-object RHS
    // resets to {} (the reference rejects non-object assignment).
    val res = graft.rainerscript.RainerCompiler.run(
      """set $!a = "TEST1";
        |set $.a = "TEST-overwritten";
        |set $! = $.;
        |set $.copy = $!;
        |""".stripMargin, Seq("m").toDF("msg"))
    val r = res.output.select(col("vars_msg"),
      get_json_object(col("vars_local"), "$.copy")).collect()(0)
    assert(r.getString(0) == """{"a":"TEST-overwritten"}""")
    assert(r.getString(1) == """{"a":"TEST-overwritten"}""")
    val bad = graft.rainerscript.RainerCompiler.run(
      """set $!x = "keep";
        |set $! = "not an object";
        |""".stripMargin, Seq("m").toDF("msg"))
    assert(bad.output.select("vars_msg").collect()(0).getString(0) == "{}")
  }

  test("http_request resolves from the bound response map; miss is number 0") {
    // plugins/fmhttp/fmhttp.c:89-136 — body string on success, svar
    // number 0 on any failure. The engine's failure path is a URL with
    // no bound response.
    val ev = Seq(("a", "error"), ("b", "click")).toDF("id", "t")
    val res = RainerCompiler.run(
      """set $.u = "http://x/" & $t;
        |set $.r = http_request($.u);
        |if $.r == 0 then set $!got = "miss";
        |else set $!got = get_property($.r, "team");
        |""".stripMargin, ev,
      http = Map("http://x/error" -> """{"team":"oncall"}"""))
    val rows = res.output.select(col("id"),
      get_json_object(col("vars_msg"), "$.got")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("a") == "oncall")
    assert(rows("b") == "miss")
  }

  test("http_request without a bound map is a compile-time error") {
    val e = intercept[IllegalArgumentException] {
      RainerCompiler.run("""set $.r = http_request("http://x/");""",
        Seq("m").toDF("msg"))
    }
    assert(e.getMessage.contains("http_request"))
  }

  test("continue is a user-requested NOP; reset assigns like set (abort-uncleancfg-continue-nop.sh)") {
    val res = RainerCompiler.run(
      """if $msg contains "error" then {
        |  continue
        |} else {
        |  stop
        |}
        |reset $.r = "x" & $severity;
        |""".stripMargin, fixture)
    val out = res.output
      .select(col("msg"), get_json_object(col("vars_local"), "$.r"))
      .collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "error on disk0")
    assert(out(0).getString(1) == "x3")
  }

  test("$$now-family system properties read in script (lexer.l:373, msg.c:473-533)") {
    val df = fixture.withColumn("ts",
      to_timestamp(lit("2024-03-01T13:47:03Z")))
    val res = RainerCompiler.run(
      """set $.stamp = $$now & "T" & $$hour & ":" & $$minute;
        |set $.q = $$qhour & "/" & $$hhour & "/" & $$wday;
        |set $.ux = $$now-unixtimestamp;
        |""".stripMargin, df)
    val row = res.output.select(
      get_json_object(col("vars_local"), "$.stamp"),
      get_json_object(col("vars_local"), "$.q"),
      get_json_object(col("vars_local"), "$.ux")).head
    assert(row.getString(0) == "2024-03-01T13:47")
    assert(row.getString(1) == "03/01/5")
    assert(row.getString(2) == "1709300823")
  }

  test("variables.casesensitive=off: ci read/write/unset/exists; on-mode unchanged") {
    val ev = Seq((1, 5)).toDF("event_id", "severity")
    // json-c in-place replace: the ci write through a different spelling
    // updates the EXISTING entry's value, keeping the original key
    // spelling (json_object_object_add: "the existing key remains
    // valid" — no respell, no reorder)
    val keep = graft.rainerscript.RsyslogConfig.parse(
      """global(variables.casesensitive="off")
        |set $!Aa!Bb = 7;
        |set $!AA!BB = $!aa!bb + 1;
        |set $!r = $!aA!bB;
        |""".stripMargin).run(ev)
    val k = keep.output.select(
      get_json_object(col("vars_msg"), "$.Aa.Bb"),
      get_json_object(col("vars_msg"), "$.Aa.BB"),
      get_json_object(col("vars_msg"), "$.r")).head
    assert(k.getString(0) == "8", "ci write must replace in place")
    assert(k.isNullAt(1), "ci write must NOT introduce the new spelling")
    assert(k.getString(2) == "8")
    val off = graft.rainerscript.RsyslogConfig.parse(
      """global(variables.casesensitive="off")
        |set $!Aa!Bb = 7;
        |set $!AA!BB = $!aa!bb + 1;
        |set $!e = exists($!AA!bb);
        |unset $!aa!BB;
        |set $!g = exists($!Aa!Bb);
        |""".stripMargin).run(ev)
    val r = off.output.select(
      get_json_object(col("vars_msg"), "$.Aa.Bb"),
      get_json_object(col("vars_msg"), "$.e"),
      get_json_object(col("vars_msg"), "$.g")).head
    assert(r.isNullAt(0), "unset must remove the ci-matched leaf")
    assert(r.getString(1) == "true" && r.getString(2) == "false")
    // default (no global): distinct-case paths are distinct keys
    val on = graft.rainerscript.RsyslogConfig.parse(
      """set $!Aa!Bb = 7;
        |set $!AA!BB = 1;
        |set $!r = $!aa!bb;
        |""".stripMargin).run(ev)
    val r2 = on.output.select(
      get_json_object(col("vars_msg"), "$.Aa.Bb"),
      get_json_object(col("vars_msg"), "$.AA.BB"),
      get_json_object(col("vars_msg"), "$.r")).head
    assert(r2.getString(0) == "7" && r2.getString(1) == "1" && r2.isNullAt(2))
    // the off-mode run must not leak: the bracket resets the flag
    assert(!graft.rainerscript.EnvSource.varsCaseInsensitive)
  }
}
