package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.rainerscript.RsyslogConfig
import graft.sources.Sources

/** `replay`: batch re-ingest of a spooled syslog file through a
  * distro-style rsyslog.conf. One pass writes every static-file action
  * through `ScriptResult.actionFrame` + `Sources.omfileText`. */
object Replay {
  import Main._

  def run(c: Ctx): Unit = {
    val conf = readUtf8(c.work.resolve("replay.conf"))
    val outDir = c.path("out")
    // reception time is pinned so lines without a timestamp render the
    // same on every pass and every run
    val now = to_timestamp(lit("2024-01-01 00:00:00"))
    val ((cfg, res), setupS) = setupMedian(3) {
      val cfg = Trace.span("rainerscript.parse")(RsyslogConfig.parse(conf))
      val res = Trace.span("rainerscript.activate")(cfg.activate(c.spark, now = now)(""))
      Trace.span("plan.build")(res.actions.indices.foreach(i =>
        res.actionFrame(i).queryExecution.executedPlan))
      (cfg, res)
    }
    val names = res.actions.map(a => Paths.get(a.params("file")).getFileName.toString)
    def pass(): Unit = res.actions.indices.foreach { i =>
      Trace.span("sources.omfileText")(
        Sources.omfileText(res.actionFrame(i), "__rendered", s"$outDir/${names(i)}"))
    }
    val passes = closedLoop(c, warmSeconds = 8, minTimed = 3)(pass())
    closedLoopMetrics(c, passes, setupS)

    if (c.trace) {
      c.out("rainerscript.parse_ms") = Clock.median(Trace.ms("rainerscript.parse"))
      c.out("rainerscript.activate_ms") = Clock.median(Trace.ms("rainerscript.activate"))
      c.out("rainerscript.plan_nodes") = planNodes(res.frame).toDouble
      val d = passes.counters.get
      val read = c.items * passes.n
      c.out("sources.input_bytes_per_item") = d.inBytes.toDouble / read
      c.out("sources.output_bytes_per_item") = d.outBytes.toDouble / read
      c.out("sources.jobs_per_pass") = d.jobs.toDouble / passes.n
      // the ladder: each cut runs once per action, as a pass does, and
      // ends in the noop sink; a layer is the difference of two cuts
      val spool = cfg.inputs.head("file")
      def cut(name: String)(job: Int => Unit): Double = Trace.span(s"ladder.$name")(
        cpuUs(2)(res.actions.indices.foreach(job)) / c.items)
      val scan = cut("scan")(_ => noop(Sources.fileLines(c.spark, spool)))
      val decode = cut("decode")(_ => noop(Sources.decodeSyslog(
        Sources.fileLines(c.spark, spool))))
      // the ruleset cut keeps one constant column, so it computes only
      // what the action's condition needs
      val ruleset = cut("ruleset")(i =>
        noop(res.frame.filter(col(res.actions(i).condCol)).select(lit(1))))
      val render = cut("render")(i => noop(res.actionFrame(i).select("__rendered")))
      val sink = passes.medCpuUs / c.items
      c.out("sources.scan_cpu_us_per_item") = scan
      c.out("sources.decode_cpu_us_per_item") = decode - scan
      c.out("rainerscript.ruleset_cpu_us_per_item") = ruleset - decode
      c.out("templates.render_cpu_us_per_item") = render - ruleset
      c.out("sources.sink_cpu_us_per_item") = sink - render
    }
  }
}
