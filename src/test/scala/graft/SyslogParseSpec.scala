package graft

import org.apache.spark.sql.functions._
import graft.functions.rainer

/** Golden tests for the syslog parser expression, fixtures from
  * FIXTURES.md §1 (tcpflood formats) and the reference parser heuristics.
  */
class SyslogParseSpec extends SparkSpec {
  import spark.implicits._

  private def parse1(raw: String,
                     yearAfter: Boolean = false,
                     slashProg: Boolean = false): org.apache.spark.sql.Row =
    Seq(raw).toDF("raw")
      .select(rainer.parse_syslog(col("raw"), defaultYear = 2003,
        detectYearAfterTimestamp = yearAfter,
        permitSlashInProgramname = slashProg).as("p"))
      .select("p.*").collect()(0)

  test("tcpflood RFC3164 format") {
    val r = parse1("<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000001:")
    assert(r.getAs[Int]("protocol_version") == 0)
    assert(r.getAs[Int]("facility") == 20)
    assert(r.getAs[Int]("severity") == 7)
    assert(r.getAs[String]("hostname") == "172.20.245.8")
    // MSG keeps its leading space (reference parsertest-parse1 corpus)
    assert(r.getAs[String]("msg") == " msgnum:00000001:")
    assert(r.getAs[Boolean]("parsesuccess"))
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-03-01T01:00:00Z")
  }

  test("RFC3164 with TAG[pid]:") {
    val r = parse1("<13>Oct 11 22:14:15 myhost su[1234]: 'su root' failed")
    assert(r.getAs[String]("syslogtag") == "su[1234]:")
    assert(r.getAs[String]("programname") == "su")
    assert(r.getAs[String]("procid") == "1234")
    assert(r.getAs[String]("msg") == " 'su root' failed")
  }

  test("tcpflood RFC5424 with SD") {
    val r = parse1("<167>1 2003-03-01T01:00:00.000Z host tag - - " +
      "[tcpflood@32473 MSGNUM=\"00000001\"] msgnum:00000001:")
    assert(r.getAs[Int]("protocol_version") == 1)
    assert(r.getAs[String]("hostname") == "host")
    assert(r.getAs[String]("app_name") == "tag")
    assert(r.getAs[String]("procid") == null)
    assert(r.getAs[String]("structured_data") == "[tcpflood@32473 MSGNUM=\"00000001\"]")
    assert(r.getAs[String]("msg") == "msgnum:00000001:")
  }

  test("RFC5424 with offset timestamp and multiple SD elements") {
    val r = parse1("<34>1 2003-10-11T22:14:15.003-07:00 mymachine.example.com " +
      "su 1234 ID47 [ex@32473 a=\"1\"][ex2@32473 b=\"2\"] BOM'su root' failed")
    assert(r.getAs[Int]("facility") == 4)
    assert(r.getAs[Int]("severity") == 2)
    assert(r.getAs[String]("procid") == "1234")
    assert(r.getAs[String]("msgid") == "ID47")
    assert(r.getAs[String]("structured_data") == "[ex@32473 a=\"1\"][ex2@32473 b=\"2\"]")
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-10-12T05:14:15.003Z")
  }

  test("no PRI defaults to 13 (user.notice)") {
    val r = parse1("Mar  1 01:00:00 host tag: hi")
    assert(r.getAs[Int]("facility") == 1)
    assert(r.getAs[Int]("severity") == 5)
  }

  test("a PRI of non-ASCII digits is LOG_PRI_INVLD 199 (ASCII-only scan, parser.c:586-597)") {
    // Arabic-Indic 13: Char.isDigit + toInt would read it as 13
    val r = parse1("<\u0661\u0663>msg")
    assert(r.getAs[Int]("pri") == 199)
    assert(r.getAs[Int]("facility") == 24 && r.getAs[Int]("severity") == 7)
  }

  test("the fallback row keeps the PRI scanned before the body parse") {
    val row = graft.functions.SyslogParseExpr.fallback("<34>x", 34)
    assert(row.getInt(1) == 34 && row.getInt(2) == 4 && row.getInt(3) == 2)
    assert(row.getUTF8String(12).toString == "<34>x")
    assert(!row.getBoolean(13))
  }

  test("no timestamp: BSD tag-first parse continues (parsertest-parse-nodate)") {
    // the reference parses hostname/TAG even without a timestamp — the
    // classic BSD mis-parse is authentic behavior
    val r = parse1("<14>this is not a syslog header")
    assert(r.getAs[Boolean]("parsesuccess"))
    assert(r.getAs[java.sql.Timestamp]("ts") == null)
    assert(r.getAs[String]("hostname") == "this")
    assert(r.getAs[String]("syslogtag") == "is")
    assert(r.getAs[String]("msg") == " not a syslog header")
    // tag-first without hostname: "xapi: ..." keeps hostname unset
    val x = parse1("<27>xapi: [error|xen3] Connection to master died.")
    assert(x.getAs[String]("hostname") == null)
    assert(x.getAs[String]("syslogtag") == "xapi:")
    assert(x.getAs[String]("programname") == "xapi")
    assert(x.getAs[String]("msg") == " [error|xen3] Connection to master died.")
  }

  test("brace-headerless: spaces then '{' or '[' means all-MSG") {
    val r = parse1("<14>  {\"json\": 1}")
    assert(r.getAs[String]("hostname") == null)
    assert(r.getAs[String]("syslogtag") == null)
    assert(r.getAs[String]("msg") == "  {\"json\": 1}")
  }

  test("year-after-timestamp is an OPTION, default off (datetime.c:703)") {
    // default: the year token becomes the hostname (parse1 corpus line
    // "<6>AUG 10 22:18:24 2009  netips-warden2-p ...")
    val d = parse1("<13>Mar  1 01:00:00 2024 host tag: m")
    assert(d.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-03-01T01:00:00Z")
    assert(d.getAs[String]("hostname") == "2024")
    // with detect.yearAfterTimestamp="on": the year is consumed
    val r = parse1("<13>Mar  1 01:00:00 2024 host tag: m", yearAfter = true)
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2024-03-01T01:00:00Z")
    assert(r.getAs[String]("hostname") == "host")
  }

  test("programname slash handling (prop-programname-with-slashes.sh)") {
    // default: '/' terminates programname (FreeBSD rule, msg.c)
    val d = parse1("<133>2011-03-01T11:22:12Z host tag/with/slashes msgh ...x")
    assert(d.getAs[String]("programname") == "tag")
    assert(d.getAs[String]("syslogtag") == "tag/with/slashes")
    // global(parser.PermitSlashInProgramname="on"): slashes kept — the
    // reference test's exact wire message and expected pair
    val r = parse1("<133>2011-03-01T11:22:12Z host tag/with/slashes msgh ...x",
      slashProg = true)
    assert(r.getAs[String]("programname") == "tag/with/slashes")
    assert(r.getAs[String]("syslogtag") == "tag/with/slashes")
    assert(r.getAs[String]("hostname") == "host")
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2011-03-01T11:22:12Z")
  }

  test("calendar-invalid timestamps do NOT fail the row (datetime.c range-check-only)") {
    // the reference's syslogTime2time_t (datetime.c:1017-1101) converts
    // via a cumulative-day table with no month-length check: Feb 30
    // overflows into March, Apr 31 into May, ss=60 into the next minute
    val feb30 = parse1("<13>Feb 30 12:00:00 host tag: m")
    assert(feb30.getAs[Boolean]("parsesuccess"))
    assert(feb30.getAs[String]("hostname") == "host")
    assert(feb30.getAs[String]("syslogtag") == "tag:")
    assert(feb30.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-03-02T12:00:00Z") // 2003 non-leap: Feb 30 ≡ Mar 2
    val leap = parse1("<13>Mar  1 01:00:60 host tag: m")
    assert(leap.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-03-01T01:01:00Z") // leap second rolls forward
    assert(leap.getAs[String]("hostname") == "host")
    val apr31 = parse1("<13>Apr 31 12:00:00 host tag: m")
    assert(apr31.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-05-01T12:00:00Z")
    val feb29 = parse1("<13>Feb 29 2023 12:00:00 host tag: m")
    assert(feb29.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2023-03-01T12:00:00Z") // non-leap Feb 29 ≡ Mar 1
    assert(feb29.getAs[String]("hostname") == "host")
    assert(feb29.getAs[String]("msg") == " m")
  }

  test("TAG scan caps at CONF_TAG_MAXSIZE-2 = 510 chars (pmrfc3164.c:472)") {
    val tok = "A" * 600
    val r = parse1(s"<13>Oct 11 22:14:15 myhost $tok")
    assert(r.getAs[String]("syslogtag") == "A" * 510)
    assert(r.getAs[String]("msg") == "A" * 90) // remainder is MSG content
    // a ':' exactly at the cap still terminates-and-joins the TAG
    val r2 = parse1(s"<13>Oct 11 22:14:15 myhost ${"B" * 510}: rest")
    assert(r2.getAs[String]("syslogtag") == "B" * 510 + ":")
    assert(r2.getAs[String]("msg") == " rest")
  }

  test("permitSlashInProgramname applies to RFC5424 too (msg.c global)") {
    val raw = "<34>1 2003-10-11T22:14:15Z host app/sub 77 - - body"
    val d = parse1(raw)
    assert(d.getAs[String]("programname") == "app")
    val r = parse1(raw, slashProg = true)
    assert(r.getAs[String]("programname") == "app/sub")
    assert(r.getAs[String]("syslogtag") == "app/sub[77]")
  }

  test("year-after-timestamp at end of string is NOT detected (lenStr > 5)") {
    // datetime.c:703 requires more than 5 remaining chars, so a bare
    // trailing " YYYY" stays unconsumed even with the option on
    val r = parse1("<13>Mar  1 01:00:00 2024", yearAfter = true)
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2003-03-01T01:00:00Z")
    assert(r.getAs[String]("hostname") == "2024")
  }

  test("fuzz: parse() never throws and always yields a full row") {
    // the calendar-invalid-timestamp bug class: an exception escaping a
    // sub-parser silently degrades rows. Hammer the kernel with 10k
    // adversarial inputs (control chars, unicode, header fragments,
    // near-miss timestamps) across all option combinations.
    val rnd = new scala.util.Random(20260813L)
    val fragments = "<>0123456789 :[].-TZ+" + "JanFebMarAprMayJunJulAugSepOctNovDec"
    def randStr(): String = {
      val len = rnd.nextInt(80)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        sb.append(rnd.nextInt(4) match {
          case 0 => (rnd.nextInt(95) + 32).toChar
          case 1 => rnd.nextInt(32).toChar
          case 2 => (rnd.nextInt(0x2000) + 0x80).toChar
          case _ => fragments.charAt(rnd.nextInt(fragments.length))
        })
      }
      sb.toString
    }
    val headers = Seq("", "<13>", "<191>", "<999>", "<13>1 ",
      "<13>Feb 30 25:61:99 ", "<13>Mar  7 2008 19:06:53: ")
    (0 until 10000).foreach { i =>
      val raw = headers(i % headers.length) + randStr()
      val row = graft.functions.SyslogParseExpr.parse(
        org.apache.spark.unsafe.types.UTF8String.fromString(raw), 2024, i % 2 == 0, i % 3 == 0)
      assert(row != null && row.numFields == 14, s"input: [$raw]")
    }
  }

  test("structured data to JSON") {
    val sd = "[tcpflood@32473 MSGNUM=\"00000001\" X=\"a\\\"b\"][other k=\"v\"]"
    val j = Seq(sd).toDF("sd")
      .select(rainer.parse_structured_data(col("sd")).as("j"))
      .collect()(0).getString(0)
    assert(j == """{"tcpflood@32473":{"MSGNUM":"00000001","X":"a\"b"},"other":{"k":"v"}}""")
  }
}
