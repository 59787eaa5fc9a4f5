package graft

import org.apache.spark.sql.functions._
import graft.functions.rainer
import graft.sources.Sources

/** `syslog_pri` is the PRI-only kernel `decodeSyslog` projects `pri`,
  * `facility` and `severity` from, so a PRI selector pushes down as a
  * byte scan instead of a copy of the full parse. It must agree with
  * `parse_syslog(x).pri` on every input, and with a plain-Scala PRI rule
  * written apart from both, under codegen'd and interpreted evaluation.
  */
class SyslogPriParitySpec extends SparkSpec {
  import spark.implicits._

  private val inputs: Seq[String] = SyslogFuzzSpec.corpus ++ Seq(
    "<>", "<1x>", "<-3>", "<192>", "<999>", "<0009>", "\t<13>x",
    "<009>x", "<191>", "<0>", "<١٣>msg", "١<13>", null)

  /** The reference rule (parser.c:586-597) on the sanitized text: no '<'
    * first → 13; `<` + 1-3 ASCII digits + `>` with value ≤ 191 → that
    * value; any other '<' → 199. */
  private def refPri(s: String): Option[Int] =
    if (s == null) None
    else if (!s.startsWith("<")) Some(13)
    else Some("^<([0-9]{1,3})>".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).filter(_ <= 191).getOrElse(199))

  private def underMode[T](factoryMode: String, wholeStage: Boolean)(f: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), factoryMode)
    spark.conf.set(keys(1), wholeStage.toString)
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private type I = Option[Int]

  /** (rawmsg, syslog_pri, parse_syslog.pri/.facility/.severity, decoded
    * pri/facility/severity) per input row; an RDD-backed frame, so the
    * expressions run in tasks rather than folding into a local relation. */
  private def run(): Seq[(String, I, I, I, I, I, I, I)] = {
    val in = spark.sparkContext.parallelize(inputs.map(Tuple1(_)), 3).toDF("value")
    Sources.decodeSyslog(in)
      .withColumn("old", rainer.parse_syslog(col("rawmsg")))
      .select(col("rawmsg"), rainer.syslog_pri(col("rawmsg")),
        col("old.pri"), col("old.facility"), col("old.severity"),
        col("pri"), col("facility"), col("severity"))
      .as[(String, I, I, I, I, I, I, I)]
      .collect().toSeq.sortBy(r => Option(r._1))
  }

  test("syslog_pri == parse_syslog.pri == the reference rule, codegen and interpreted") {
    val modes = Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))
    val results = modes.map { case (m, ws) => underMode(m, ws)(run()) }
    results.zip(modes).foreach { case (rows, mode) =>
      assert(rows.size == inputs.size, s"$mode: decode must be row-preserving")
      rows.foreach { case (raw, kernel, oldPri, oldFac, oldSev, pri, fac, sev) =>
        val want = refPri(raw)
        assert(kernel == want, s"$mode syslog_pri [$raw]")
        assert(oldPri == want, s"$mode parse_syslog.pri [$raw]")
        assert(pri == want, s"$mode decodeSyslog pri [$raw]")
        assert(fac == oldFac && sev == oldSev, s"$mode fac/sev [$raw]")
        assert(fac == want.map(_ >> 3) && sev == want.map(_ & 7), s"$mode [$raw]")
      }
    }
    assert(results(0) == results(1), "codegen and interpreted results differ")
  }
}
