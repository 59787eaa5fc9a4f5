package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, TextAnalysis}

/** `corpus`: the LLM-data operators in sequence over a seeded document
  * set: exact dedup, MinHash-LSH near-dup with exact verify, clusters of
  * the verified pairs, and BM25 top-k for a fixed query set. */
object Corpus {
  import Main._

  val Ops = Seq("exact", "neardup", "clusters", "bm25")
  val K = 10

  final case class Result(exact: Array[Row], pairs: Array[Row],
                          clusters: Array[Row], bm25: Array[Row])

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val docSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val qSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("qt", ArrayType(StringType))))
    val ((docs, queries), setupS) = setupMedian(3) {
      val d = spark.read.schema(docSchema).json(c.path("docs.jsonl"))
      val q = spark.read.schema(qSchema).json(c.path("queries.jsonl"))
      Trace.span("plan.build") {
        d.queryExecution.executedPlan; q.queryExecution.executedPlan
      }
      (d, q)
    }

    val opMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var last: Result = null
    def timedOp[A](name: String)(f: => A): A = {
      val t0 = Clock.nowNs
      val r = Ledger.inGroup(spark, s"operators.$name")(f)
      opMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (Clock.nowNs - t0) / 1e6
      r
    }
    def pass(): Unit = {
      val exact = timedOp("exact")(
        Dedup.exact(docs, "id", "text").filter(col("n_dups") > 1)
          .select("keep_id", "n_dups").collect())
      // nearDupVerified bands and counts its candidates when it is called
      val (pairsDf, pairs) = timedOp("neardup") {
        val df = Dedup.nearDupVerified(docs, "id", "text").cache()
        (df, df.collect())
      }
      val clusters = timedOp("clusters")(Dedup.clusters(pairsDf).collect())
      pairsDf.unpersist()
      val bm25 = timedOp("bm25")(
        TextAnalysis.bm25TopKSingleScan(docs, "id", "text", queries, k = K).collect())
      last = Result(exact, pairs, clusters, bm25)
    }
    val before = Ops.map(o => o -> c.ledger.map(_._1.group(s"operators.$o"))).toMap
    c.ledger.foreach(_._2.drainAll())
    val passes = closedLoop(c, warmSeconds = 8, minTimed = 3)(pass())
    closedLoopMetrics(c, passes, setupS)
    writeResult(c, last)

    if (c.trace) {
      val (ledger, sql) = c.ledger.get
      Ledger.drain(spark)
      // op times over the warm-up and the timed passes alike
      val n = opMs("exact").size.toDouble
      Ops.foreach { o =>
        val d = ledger.group(s"operators.$o").minus(before(o).get)
        c.out(s"operators.${o}_ms") = Clock.median(opMs(o).toSeq)
        c.out(s"operators.${o}_task_cpu_ms") = d.cpuNs / 1e6 / n
        c.out(s"operators.${o}_shuffle_bytes") = (d.shuffleWrite + d.shuffleRead) / n
        c.out(s"operators.${o}_tasks") = d.tasks / n
        if (o == "clusters") c.out("operators.clusters_jobs") = d.jobs / n
      }
      // nearDupVerified counts its checkpointed candidate pairs once per
      // call: the scan of that checkpoint in the count's plan holds the
      // number
      val helper = new AdaptiveSparkPlanHelper {}
      val counts = sql.drainAll().filter(_._1 == "count").flatMap { case (_, qe) =>
        helper.collect(qe.executedPlan) { case s: RDDScanExec =>
          s.metrics.get("numOutputRows").map(_.value) }.flatten
      }
      c.out("operators.neardup_candidate_pairs") =
        if (counts.isEmpty) 0.0 else Clock.median(counts.map(_.toDouble))
      c.out("operators.neardup_verified_pairs") = last.pairs.length.toDouble
    }
  }

  private def writeResult(c: Ctx, r: Result): Unit = {
    val dir = c.work.resolve("out")
    java.nio.file.Files.createDirectories(dir)
    def rows(name: String, xs: Array[Row], cols: Seq[String]): Unit =
      Json.write(dir.resolve(name), xs.toSeq.map(row =>
        cols.indices.map(i => row.get(i) match {
          case d: java.lang.Double => d.doubleValue
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.intValue
          case other => other
        })))
    rows("exact.json", r.exact, Seq("keep_id", "n_dups"))
    rows("pairs.json", r.pairs, Seq("id_a", "id_b", "jaccard"))
    rows("clusters.json", r.clusters, Seq("doc", "cluster"))
    rows("bm25.json", r.bm25, Seq("query_id", "rk", "doc_id", "mscore"))
  }
}
