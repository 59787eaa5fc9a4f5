package graft.sources

import java.io.BufferedOutputStream
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}
import java.util.{Collections, Comparator, UUID, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The static-file writer behind `Sources.omfileText`: each task streams
  * its rows into one part file of a hidden staging directory, and the
  * driver publishes the directory with one rename. */
private[sources] object OmfileText {
  private val Lf = UTF8String.fromString("\n")

  def write(df: DataFrame, lineCol: String, outPath: String): Unit = {
    val target = localPath(outPath).toAbsolutePath
    val lines = linesOf(df, lineCol)
    require(lines.schema.head.dataType == StringType,
      s"omfileText: column $lineCol is ${lines.schema.head.dataType.simpleString}, not string")
    val parent = Files.createDirectories(target.getParent)
    // a sibling of the target, so the publishing rename stays on one file system
    val stage = Files.createDirectory(
      parent.resolve(s".${target.getFileName}.${UUID.randomUUID}.tmp"))
    try {
      val stageDir = stage.toString
      GraftBridge.withExecution(lines, "omfileText") { rows =>
        rows.sparkContext.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writePart(it, Paths.get(stageDir, f"part-${ctx.partitionId}%05d")))
      }
      deleteRecursively(target)
      Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
    } catch { case t: Throwable =>
      // a failed job's cancelled tasks may still be closing files in the
      // stage, so its removal gets a few tries
      var left = 3
      while (left > 0) {
        try { deleteRecursively(stage); left = 0 }
        catch { case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          left -= 1
          if (left == 0) t.addSuppressed(e) else Thread.sleep(50)
        }
      }
      throw t
    }
  }

  /** Each frame's pruned line projection, held while the frame lives:
    * a later write of the same frame runs the same `QueryExecution`, so
    * it is analyzed, optimized and planned once, as when one Dataset
    * runs two actions. Keys are frames by identity (Dataset keeps
    * Object's equals) and are held weakly; no value refers to its frame. */
  private val planned =
    Collections.synchronizedMap(new WeakHashMap[DataFrame, ConcurrentHashMap[String, DataFrame]])

  private def linesOf(df: DataFrame, lineCol: String): DataFrame = {
    val byCol = planned.computeIfAbsent(df, _ => new ConcurrentHashMap[String, DataFrame])
    Option(byCol.get(lineCol)).getOrElse {
      val lines = df.select(col(lineCol))
      if (reusable(lines)) byCol.putIfAbsent(lineCol, lines)
      lines
    }
  }

  /** A plan that reads the clock (`ComputeCurrentTime` fixes the time
    * once per optimization) or holds a nondeterministic expression is
    * planned per write, so each write sees its own reception time. */
  private def reusable(lines: DataFrame): Boolean =
    lines.queryExecution.analyzed.collectWithSubqueries {
      case p if p.containsPattern(CURRENT_LIKE) || !p.expressions.forall(_.deterministic) => p
    }.isEmpty

  /** A plain or `file:` path; any other scheme is refused before a job runs. */
  private def localPath(outPath: String): Path = {
    val uri = new org.apache.hadoop.fs.Path(outPath).toUri
    if (uri.getScheme != null && uri.getScheme != "file")
      throw new IllegalArgumentException(
        s"omfileText writes local files only, not ${uri.getScheme}: $outPath")
    Paths.get(uri.getPath)
  }

  /** One record is its bytes plus LF unless they already end in LF; a
    * null record is a bare LF. An empty partition writes no file. */
  private def writePart(rows: Iterator[InternalRow], file: Path): Unit =
    if (rows.hasNext) {
      val out = new BufferedOutputStream(Files.newOutputStream(file), 1 << 16)
      var bytes, records = 0L
      try rows.foreach { row =>
        val s = if (row.isNullAt(0)) null else row.getUTF8String(0)
        if (s != null) { s.writeTo(out); bytes += s.numBytes }
        if (s == null || !s.endsWith(Lf)) { out.write('\n'); bytes += 1 }
        records += 1
      } finally out.close()
      GraftBridge.addOutputMetrics(bytes, records)
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(p)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }
}
