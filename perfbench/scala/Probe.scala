package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process clocks. CPU is the OS figure for every JVM thread (task
  * threads, planner, JIT, GC), which host steal does not inflate the way
  * it inflates wall clock. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def nowNs: Long = System.nanoTime
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after full collections. Spark's ContextCleaner frees the
    * blocks of unreachable RDDs only after a GC has cleared their weak
    * references, so collect, give the cleaner a moment, collect again. */
  def retainedMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Spans around the benchmark's calls into the program: name, start, end,
  * parent, and the process CPU spent inside. Kept in memory, written once
  * when the run ends. Driver thread only. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long, cpuNs: Long)
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = Clock.nowNs; val c0 = Clock.cpuNs
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, Clock.nowNs, Clock.cpuNs - c0)
      }
    }

  /** Durations in ms of every span with this name. */
  def ms(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def write(path: Path): Unit = {
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    val body = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${(s.startNs - base) / 1000},"end_us":${(s.endNs - base) / 1000},""" +
        s""""cpu_us":${s.cpuNs / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(path, body.getBytes(UTF_8))
  }
}

/** Work counters from Spark's own listener bus, attributed by job group.
  * The benchmark sets one job group around each operator call. */
final class Ledger extends SparkListener {
  import Ledger.Acc
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()
  val total = new Acc

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).jobs += 1; total.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrDefault(e.stageId, ""))
      Seq(a, total).foreach { x =>
        x.tasks += 1
        x.cpuNs += m.executorCpuTime
        x.inBytes += m.inputMetrics.bytesRead
        x.outBytes += m.outputMetrics.bytesWritten
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def group(g: String): Acc = acc(g).copy
}

object Ledger {
  final class Acc {
    var jobs, tasks, cpuNs, inBytes, outBytes, shuffleWrite, shuffleRead, spill = 0L
    def copy: Acc = minus(new Acc)
    def minus(o: Acc): Acc = {
      val r = new Acc
      r.jobs = jobs - o.jobs; r.tasks = tasks - o.tasks; r.cpuNs = cpuNs - o.cpuNs
      r.inBytes = inBytes - o.inBytes; r.outBytes = outBytes - o.outBytes
      r.shuffleWrite = shuffleWrite - o.shuffleWrite
      r.shuffleRead = shuffleRead - o.shuffleRead; r.spill = spill - o.spill
      r
    }
  }

  /** SQL executions seen on the bus: the action name and its executed
    * plan, whose SQL metrics carry row counts no task metric has. */
  final class SqlLog extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.add(funcName -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def drainAll(): Seq[(String, QueryExecution)] = {
      val out = ArrayBuffer.empty[(String, QueryExecution)]
      var x = seen.poll()
      while (x != null) { out += x; x = seen.poll() }
      out.toSeq
    }
  }

  def install(spark: SparkSession): (Ledger, SqlLog) = {
    val l = new Ledger
    val q = new SqlLog
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(q)
    (l, q)
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  /** Run `f` with every Spark job it starts under job group `g`. */
  def inGroup[A](spark: SparkSession, g: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try Trace.span(g)(f) finally sc.clearJobGroup()
  }
}

/** Just enough JSON output for flat metric maps and span lists. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"metric is not a number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON for $other")
  }

  def write(path: Path, v: Any): Unit = Files.write(path, (value(v) + "\n").getBytes(UTF_8))
}
