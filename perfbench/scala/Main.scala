package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * with `--workload --work --items --seconds --trace --cores`, and checks
  * what it leaves in the work directory: the program's outputs and
  * `metrics.json`. With `--trace 1` a listener, SQL and streaming counters
  * and spans are on, and each workload also runs its layer ladder. */
object Main {
  /** Everything a workload needs from the command line. */
  final case class Ctx(spark: SparkSession, work: Path, items: Long,
                       seconds: Double, trace: Boolean,
                       ledger: Option[(Ledger, Ledger.SqlLog)],
                       out: mutable.LinkedHashMap[String, Any]) {
    def path(rel: String): String = work.resolve(rel).toAbsolutePath.toString
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val trace = a("trace") == "1"
    Trace.on = trace
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spark = Trace.span("session.start")(
      graft.GraftSession(s"local[${a("cores")}]", "perfbench"))
    // from JVM entry to a live session: the part of set-up no workload can
    // repeat inside one JVM
    out("session_s") = (System.currentTimeMillis() - Clock.jvmStartMs) / 1000.0
    val ledger = if (trace) Some(Ledger.install(spark)) else None
    val ctx = Ctx(spark, work, a("items").toLong, a("seconds").toDouble, trace,
      ledger, out)
    try {
      a("workload") match {
        case "replay" => Replay.run(ctx)
        case "tail" => Tail.run(ctx)
        case "corpus" => Corpus.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (trace) Trace.write(work.resolve("spans.json"))
      Json.write(work.resolve("metrics.json"), out)
    } finally spark.stop()
  }

  /** Median seconds of `k` repetitions of a set-up, and the last result. */
  def setupMedian[A](k: Int)(build: => A): (A, Double) = {
    var last: Option[A] = None
    val secs = (1 to k).map { _ =>
      val t0 = Clock.nowNs
      last = Some(Trace.span("setup")(build))
      (Clock.nowNs - t0) / 1e9
    }
    (last.get, Clock.median(secs))
  }

  /** Timed passes; with tracing, also the Spark counters, process CPU
    * and GC time over the whole timed region. */
  final case class Passes(wallNs: Seq[Long], cpuNs: Seq[Long],
                          counters: Option[Ledger.Acc], gcMs: Long) {
    def n: Int = wallNs.size
    def medWallMs: Double = Clock.median(wallNs.map(_ / 1e6))
    def medCpuUs: Double = Clock.median(cpuNs.map(_ / 1e3))
  }

  /** Closed loop: untimed passes for `warmSeconds` (at least one), then
    * passes back to back until `seconds` have gone by and at least
    * `minTimed` ran. The JIT compilers take whole cores through the first
    * passes of a JVM and keep compiling for tens of seconds more; the
    * untimed passes absorb the worst of it. */
  def closedLoop(c: Ctx, warmSeconds: Double, minTimed: Int)(pass: => Unit): Passes = {
    val w0 = Clock.nowNs
    var warm = 0
    while (warm < 1 || Clock.nowNs - w0 < warmSeconds * 1e9) {
      Trace.span("warmup.pass")(pass); warm += 1
    }
    val before = snapshot(c)
    val g0 = Clock.gcMs
    c.out("warm_passes") = warm
    val walls = mutable.ArrayBuffer.empty[Long]
    val cpus = mutable.ArrayBuffer.empty[Long]
    val t0 = Clock.nowNs
    while (walls.size < minTimed || Clock.nowNs - t0 < c.seconds * 1e9) {
      val w0 = Clock.nowNs; val c0 = Clock.cpuNs
      Trace.span("timed.pass")(pass)
      walls += Clock.nowNs - w0; cpus += Clock.cpuNs - c0
    }
    val gc = Clock.gcMs - g0
    Passes(walls.toSeq, cpus.toSeq, snapshot(c).map(_.minus(before.get)), gc)
  }

  /** The listener's totals so far, once every posted event reached it. */
  def snapshot(c: Ctx): Option[Ledger.Acc] = c.ledger.map { case (l, _) =>
    Ledger.drain(c.spark); l.total.copy
  }

  /** The end-to-end figures of a closed-loop workload. */
  def closedLoopMetrics(c: Ctx, p: Passes, setupS: Double): Unit = {
    c.out("items_per_s") = c.items / (p.medWallMs / 1000.0)
    c.out("cpu_us_per_item") = p.medCpuUs / c.items
    c.out("latency_p50_ms") = p.medWallMs
    c.out("setup_s") = c.out("session_s").asInstanceOf[Double] + setupS
    c.out("retained_mb") = Clock.retainedMb()
    c.out("passes") = p.n
    c.out("pass_wall_ms") = p.wallNs.map(_ / 1e6)
    c.out("pass_cpu_ms") = p.cpuNs.map(_ / 1e6)
    p.counters.foreach(d =>
      sparkLayer(c, d, p.cpuNs.sum, p.gcMs, p.n, c.items * p.n))
  }

  /** Spark counters over a timed region as per-item and per-pass figures
    * (`items` counts every item of every pass). */
  def sparkLayer(c: Ctx, d: Ledger.Acc, cpuNs: Long, gcMs: Long,
                 passes: Int, items: Long): Unit = {
    c.out("spark.task_cpu_us_per_item") = d.cpuNs / 1e3 / items
    c.out("spark.non_task_cpu_us_per_item") = (cpuNs - d.cpuNs) / 1e3 / items
    c.out("spark.gc_ms_per_pass") = gcMs.toDouble / passes
    c.out("spark.jobs_per_pass") = d.jobs.toDouble / passes
    c.out("spark.tasks_per_pass") = d.tasks.toDouble / passes
    c.out("spark.shuffle_write_bytes_per_item") = d.shuffleWrite.toDouble / items
    c.out("spark.shuffle_read_bytes_per_item") = d.shuffleRead.toDouble / items
    c.out("spark.spill_bytes") = d.spill.toDouble / passes
  }

  /** Process CPU (µs) of `f`, median of `reps` runs. */
  def cpuUs(reps: Int)(f: => Unit): Double =
    Clock.median((1 to reps).map { _ =>
      val c0 = Clock.cpuNs; f; (Clock.cpuNs - c0) / 1e3
    })

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def planNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.analyzed.foreach(_ => n += 1)
    n
  }

  def readUtf8(p: Path): String = new String(Files.readAllBytes(p), UTF_8)
}
