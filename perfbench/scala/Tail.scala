package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.rainerscript.{RainerCompiler, RsyslogConfig}
import graft.sources.Sources
import graft.streaming.Stateful

/** `tail`: the Structured Streaming face of the same compiler. A file tail
  * feeds `decodeSyslog`, a RainerScript ruleset, per-host `rateLimit` into
  * one text file sink, and per-program `dynStats`. `run.py` writes the
  * input files on an open-loop schedule and talks to this over stdin:
  * `MARK` when the timed files begin, `END <messages>` after the last. */
object Tail {
  import Main._

  val TriggerMs = 2000L

  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    def of(name: String): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.name == name).toSeq.sortBy(_.batchId)
    def rows(name: String): Long = of(name).map(_.numInputRows).sum
  }

  final case class Built(cfg: RsyslogConfig, res: RainerCompiler.ScriptResult,
                         messages: DataFrame, dyn: Dataset[Stateful.DynSnapshot])

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val params = readUtf8(c.work.resolve("tail.params")).split("\n")
      .map(_.split("=", 2)).map(kv => kv(0).trim -> kv(1).trim).toMap
    val conf = readUtf8(c.work.resolve("tail.conf"))
    val inDir = c.path("in")

    def build(): Built = {
      val cfg = Trace.span("rainerscript.parse")(RsyslogConfig.parse(conf))
      val lines = Trace.span("sources.fileTail")(Sources.fileTail(spark, inDir))
      val decoded = Trace.span("sources.decodeSyslog")(Sources.decodeSyslog(lines))
      val res = Trace.span("rainerscript.activate")(cfg.run(decoded))
      val messages = Trace.span("streaming.rateLimit")(Stateful.rateLimit(
        res.actionFrame(0).select(col("hostname").as("key"),
          unix_millis(col("ts")).as("tsMillis"), col("__rendered").as("payload"))
          .as[Stateful.RlInput],
        params("interval_ms").toLong, params("burst").toLong)).select("payload")
      val dyn = Trace.span("streaming.dynStats")(Stateful.dynStats(
        res.output.select(lit("programs").as("bucket"), col("programname").as("key"),
          unix_millis(col("ts")).as("tsMillis")).as[Stateful.DynInput],
        params("dyn_cap").toInt, Long.MaxValue / 4))
      Trace.span("plan.build") {
        messages.queryExecution.analyzed; dyn.queryExecution.analyzed
      }
      Built(cfg, res, messages, dyn)
    }
    val (b, setupS) = setupMedian(3)(build())

    val progress = new Progress
    spark.streams.addListener(progress)
    @volatile var lastSnapshot = Array.empty[Stateful.DynSnapshot]
    val keepSnapshot: (Dataset[Stateful.DynSnapshot], Long) => Unit = (ds, _) => {
      val snap = ds.collect()
      if (snap.nonEmpty) lastSnapshot = snap
    }
    // a fixed trigger leaves the CPU idle between micro-batches; run back
    // to back, the per-batch work alone kept 4 cores busy at 500 msgs/s,
    // and host steal then stretched the latency of some runs by half
    val every = Trigger.ProcessingTime(TriggerMs)
    val q1 = b.messages.writeStream.queryName("messages").format("text").trigger(every)
      .option("checkpointLocation", c.path("ck/messages"))
      .option("path", c.path("out/messages")).start()
    val q2 = b.dyn.writeStream.queryName("dynstats").trigger(every)
      .option("checkpointLocation", c.path("ck/dynstats"))
      .foreachBatch(keepSnapshot).start()
    println("READY"); Console.out.flush()

    var mark: Option[(Long, Long, Long, Option[Ledger.Acc])] = None
    var total = -1L
    var timedItems = 0L
    while (total < 0) {
      val line = scala.io.StdIn.readLine()
      require(line != null, "input generator went away before END")
      line.split(" ").toList match {
        case "MARK" :: n :: Nil =>
          timedItems = n.toLong
          mark = Some((System.currentTimeMillis(), Clock.cpuNs, Clock.gcMs, snapshot(c)))
        case "END" :: n :: Nil => total = n.toLong
        case other => throw new IllegalStateException(s"unexpected control line $other")
      }
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((progress.rows("messages") < total || progress.rows("dynstats") < total) &&
           System.nanoTime() < deadline) Thread.sleep(10)
    val (markMs, cpu0, gc0, led0) = mark.get
    val cpuNs = Clock.cpuNs - cpu0
    val gcMs = Clock.gcMs - gc0
    val led = snapshot(c).map(_.minus(led0.get))
    c.out("setup_s") = c.out("session_s").asInstanceOf[Double] + setupS
    c.out("cpu_us_per_item") = cpuNs / 1e3 / timedItems
    c.out("retained_mb") = Clock.retainedMb()
    q1.stop(); q2.stop()
    Json.write(c.work.resolve("dynstats.json"),
      lastSnapshot.toSeq.sortBy(_.metric).map(s => Map("metric" -> s.metric, "value" -> s.value)))

    val batches = progress.of("messages").filter(_.numInputRows > 0)
    Json.write(c.work.resolve("progress.json"), batches.map { p =>
      Map("batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> dur(p, "triggerExecution"),
        "rows" -> p.numInputRows)
    })

    if (c.trace) {
      val timed = batches.filter(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli >= markMs)
      def p50(f: StreamingQueryProgress => Double): Double =
        Clock.median(timed.map(f))
      c.out("streaming.trigger_ms_p50") = p50(dur(_, "triggerExecution"))
      c.out("streaming.planning_ms_p50") = p50(dur(_, "queryPlanning"))
      c.out("streaming.offsets_ms_p50") = p50(p =>
        dur(p, "latestOffset") + dur(p, "getBatch") + dur(p, "walCommit"))
      c.out("streaming.addbatch_ms_p50") = p50(dur(_, "addBatch"))
      c.out("streaming.commit_ms_p50") = p50(dur(_, "commitOffsets"))
      c.out("streaming.state_commit_ms_p50") =
        p50(_.stateOperators.map(_.commitTimeMs.toDouble).sum)
      c.out("streaming.rows_per_batch_p50") = p50(_.numInputRows.toDouble)
      val lastState = Seq("messages", "dynstats").flatMap(n =>
        progress.of(n).lastOption.toSeq.flatMap(_.stateOperators))
      c.out("streaming.state_rows") = lastState.map(_.numRowsTotal.toDouble).sum
      c.out("streaming.state_mb") = lastState.map(_.memoryUsedBytes.toDouble).sum / 1048576.0
      sparkLayer(c, led.get, cpuNs, gcMs, timed.size, timedItems)
      c.out("sources.input_bytes_per_item") = led.get.inBytes.toDouble / timedItems
      c.out("sources.output_bytes_per_item") = led.get.outBytes.toDouble / timedItems
      c.out("sources.jobs_per_pass") = led.get.jobs.toDouble / timed.size
      c.out("rainerscript.parse_ms") = Clock.median(Trace.ms("rainerscript.parse"))
      c.out("rainerscript.activate_ms") = Clock.median(Trace.ms("rainerscript.activate"))
      c.out("rainerscript.plan_nodes") = planNodes(b.res.frame).toDouble
      ladder(c, b, inDir)
    }
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Batch cuts over every file the run wrote, each ending in the noop
    * sink; the last writes text the way the streaming sink does. */
  private def ladder(c: Ctx, b: Built, inDir: String): Unit = {
    val n = c.items.toDouble
    def lines = Sources.fileLines(c.spark, inDir)
    def res = b.cfg.run(Sources.decodeSyslog(lines))
    def cut(name: String)(f: => Unit): Double =
      Trace.span(s"ladder.$name")(cpuUs(2)(f) / n)
    val scan = cut("scan")(noop(lines))
    val decode = cut("decode")(noop(Sources.decodeSyslog(lines)))
    val ruleset = cut("ruleset")(noop(res.frame.filter(col(b.res.actions(0).condCol))
      .select(lit(1))))
    val render = cut("render")(noop(res.actionFrame(0).select("__rendered")))
    val sink = cut("sink")(Sources.omfileText(res.actionFrame(0), "__rendered",
      c.path("out/ladder")))
    c.out("sources.scan_cpu_us_per_item") = scan
    c.out("sources.decode_cpu_us_per_item") = decode - scan
    c.out("rainerscript.ruleset_cpu_us_per_item") = ruleset - decode
    c.out("templates.render_cpu_us_per_item") = render - ruleset
    c.out("sources.sink_cpu_us_per_item") = sink - render
  }
}
