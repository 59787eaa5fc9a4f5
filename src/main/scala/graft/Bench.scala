package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through a noop write
  * (count() alone would let Catalyst prune all projections away) and
  * prints the single JSON line the driver collects into BENCH_r{N}.json.
  *
  * Methodology (the reference's own bench gate — multiple paired trials
  * judged on median ± MAD, benchmarks/ratelimit-port-keys/RESULTS.md):
  * each query runs SPARK_GRAFT_TRIALS (default 2, + 1 untimed warm-up)
  * times inside one JVM
  * and the JSON carries {median, mad, trials[]} per query, so a noisy
  * neighbor on a shared host shows up as a fat MAD instead of silently
  * poisoning a single-trial number. `queries` keeps the flat
  * name→median map for round-over-round comparability.
  */
object Bench {

  /** Wall-clock budget (r11): BENCH_r10 died at the driver's hard
    * timeout (rc 124, parsed:null) because the default invocation grew
    * past the driver's wall-clock allowance — an unparseable bench is a
    * failed bench regardless of engine speed. Everything below paces
    * itself against ONE deadline: `budgetS` seconds from main() entry
    * (env SPARK_GRAFT_BUDGET_S, default 1500 — r9's successful run took
    * 1524 s and r10's was killed, so the driver allowance is near there;
    * 1500 plus sbt/JVM startup stays inside it with margin). Sections
    * run in MUST-HAVE order (main medians → trial → sf1 → sf10 → sf100)
    * and each scale section is skipped — loudly, with a
    * "sfN_skipped":"budget" marker in the JSON — when its measured-cost
    * estimate no longer fits. The sf100 linearity evidence therefore
    * comes from a standalone `runMain graft.Bench sf100` invocation
    * (coldest-JVM, which is also what its single-trial methodology
    * wants) recorded in benchmarks/NOTES_r11.md, not from squeezing the
    * default run past its deadline. */
  private val benchStart = System.nanoTime()
  private def elapsedS: Double = (System.nanoTime() - benchStart) / 1e9
  private[graft] var budgetS: Double =
    sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "1500").toDouble
  private def remainingS: Double = budgetS - elapsedS

  /** Host-speed calibration anchor: the r11 (uncontended) median of the
    * 524,288-msg trial on this host class, in msgs/s. The engine code
    * behind the trial is frozen (ingest decode→filter→template→agg),
    * so the ratio current/ref measures the HOST, not the engine — r12
    * measured 892 k on identical code purely from neighbor contention.
    * Published as "host_factor" (ref/current; >1 = today's host is
    * slower) so cross-round comparisons can ratio-correct absolutes. */
  private val hostRefMsgsPerSec = 1016000.0

  /** Deterministic cross-query heap reclaim: System.gc() alone leaves
    * localCheckpoint/persist blocks to the ASYNC ContextCleaner, so a
    * section query could start while gigabytes from a previous query
    * (sf1's clusters/verified checkpoints especially) still occupy the
    * block manager — the r10 clean run measured sf10 simhash at 166 s
    * mid-section vs 49.6 s fresh-JVM from exactly this. Unpersisting
    * every persistent RDD with blocking=true frees the blocks before
    * the next query's first task. */
  private def reclaim(spark: SparkSession, gc: Boolean = true): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // the explicit full GC exists for the POLLUTED parent JVM (r10:
    // mid-section blocks + fragmentation); inside a fresh pinned-heap
    // child it is pure cost — the v5 child logged 38 "Pause Full"s of
    // 1-3 s each from exactly this call
    if (gc) System.gc()
  }

  private def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** (median, median-absolute-deviation). */
  private def medMad(xs: Seq[Double]): (Double, Double) = {
    val m = median(xs)
    (m, median(xs.map(x => math.abs(x - m))))
  }

  private def fmtTrials(xs: Seq[Double]): String =
    xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  /** sf1 rehearsal corpus: 10 shards of the sf0.1 documents/embeddings/
    * events tables with remapped ids. Doc shards 0-3 are EXACT copies
    * (byte-identical text) and shards 4-9 differ by one trailing token,
    * so every document has 4 exact duplicates plus 6 near-identical
    * variants — the crawl-duplication shape: the exact mass exercises
    * the dedup-before-verify composition (preDedup collapses it), the
    * near mass exercises the capped LSH/bucket generators. Embeddings
    * get a small per-shard vector shift. Cached under /tmp; events keep
    * the LONG-nanos ts convention. */
  private def synthesizeSf1(spark: SparkSession, sfDir: String,
                            shards: Int = 10): String = {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_sf1"
    // versioned marker: bumping it invalidates caches synthesized with an
    // older corpus shape (v2 = exact-copy shards + lineitem/nation;
    // v3 = splittable outputs — multi-file dirs and small parquet row
    // groups, so scans parallelize instead of serializing a whole table
    // onto one core behind a single unsplittable row group;
    // v4 = row-group sizing actually applied — the v3 writer option
    // "parquet.block.size" was silently ignored by the DataFrameWriter,
    // leaving events.parquet ONE row group; it must go through the
    // hadoop conf; v5 = 512 KiB groups — the whole 1M-row events table
    // encodes to ~9 MiB, so an 8 MiB target still produced ONE group;
    // ~20 groups lets Tables.rebalance skip its compensating shuffle
    // while scans keep >= half the cores busy; v6 = orders/customer
    // shards for the q3_join relational baseline)
    val marker = new java.io.File(out, "_SYNTH_DONE_v6")
    val hconf = spark.sparkContext.hadoopConfiguration
    if (!marker.exists()) {
      val prevBlock = hconf.get("parquet.block.size")
      hconf.setInt("parquet.block.size", 512 * 1024)
      try {
      val sh = spark.range(shards).select(col("id").as("shard"))
      Tables.documents(spark, sfDir).crossJoin(sh).select(
        (col("doc_id") + col("shard") * 100000000L).as("doc_id"),
        when(col("shard") <= 3, col("text"))
          .otherwise(concat(col("text"), lit(" shard"), col("shard"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      Tables.embeddings(spark, sfDir).crossJoin(sh).select(
        (col("vec_id") + col("shard") * 100000000L).as("vec_id"),
        transform(col("embedding"),
          v => v + col("shard").cast("float") * lit(0.001f)).as("embedding"),
        col("label"))
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      // events must land as ONE real parquet FILE (not a Spark output
      // dir): the stream gate's single-micro-batch ordering contract and
      // its `{events.parquet}` glob both assume the driver's file layout
      val evTmp = s"$out/events_tmp"
      Tables.events(spark, sfDir).crossJoin(sh).select(
        (col("event_id") + col("shard") * 1000000000L).as("event_id"),
        col("ts_ns").as("ts"), // keep the driver's LONG-nanos convention
        (col("user_id") + col("shard") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
        // one file (the stream gate's layout contract) but SMALL row
        // groups (512 KiB via the hadoop conf above): parquet only splits
        // at row-group boundaries, so a single 500MB-buffer group would
        // serialize every events scan onto one task no matter what
        // maxPartitionBytes says
        .coalesce(1).write.mode("overwrite")
        .parquet(evTmp)
      val part = new java.io.File(evTmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(evTmp).listFiles().foreach(_.delete())
      new java.io.File(evTmp).delete()
      // lineitem ×shards with remapped order keys (q1_agg is a scan-agg,
      // but keep keys disjoint anyway); nation is a 25-row dim — copied
      // unscaled, as a real deployment would
      Tables.lineitem(spark, sfDir).crossJoin(sh).select(
        (col("l_orderkey") + col("shard") * 1000000000L).as("l_orderkey") +:
        Tables.lineitem(spark, sfDir).columns.filter(_ != "l_orderkey")
          .map(col).toSeq: _*)
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      // orders ×shards with order keys remapped to stay joinable to the
      // lineitem shards above; customer keys remap the same way so the
      // q3 join fans out realistically (each shard its own key range)
      Tables.orders(spark, sfDir).crossJoin(sh).select(
        (col("o_orderkey") + col("shard") * 1000000000L).as("o_orderkey"),
        (col("o_custkey") + col("shard") * 100000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      Tables.customer(spark, sfDir).crossJoin(sh).select(
        (col("c_custkey") + col("shard") * 100000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/nation.parquet"),
        java.nio.file.Paths.get(s"$out/nation.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      marker.createNewFile()
      } finally {
        if (prevBlock == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", prevBlock)
      }
    }
    out
  }

  /** sf10 corpus: 100 shards of sf0.1 documents/embeddings = 500k docs /
    * 200k vectors — one decade above the sf1 rehearsal, two above
    * verification scale. Shape matters as much as count: naively copying
    * 100 shards of near-identical text would multiply the DUPLICATION
    * factor (100-wide duplicate groups → quadratic candidate-pair growth
    * inside each LSH bucket), which is a different — and unrealistic —
    * workload from a 10× larger crawl. Instead the 100 shards form 10
    * content BLOCKS: a per-block letter rotation rewrites nearly every
    * shingle (blocks are mutually dissimilar), while within each block
    * the sf1 crawl-duplication shape repeats exactly (4 byte-identical
    * copies + 6 single-trailing-token variants). The corpus grows 10× in
    * DISTINCT documents at constant duplication factor — how a real
    * crawl scales. Embeddings likewise: a block-dependent sign-flip
    * pattern makes cross-block vectors near-orthogonal while the small
    * within-block shift keeps the 10-wide near-dup groups. */
  private def synthesizeSf10(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_sf10"
    val marker = new java.io.File(out, "_SYNTH_DONE_v1")
    if (!marker.exists()) {
      val shards = 100
      val sh = spark.range(shards).select(col("id").as("shard"))
      val block = (col("shard") / 10).cast("int")
      val pos = (col("shard") % 10).cast("int")
      // 10 distinct rotations of a 10-letter alphabet: block b translates
      // via the alphabet rotated by b, so most characters (and therefore
      // most shingles) differ between blocks; rotation 0 is the identity
      val alpha = "aeiounrsth"
      val rotated = (1 until 10).foldLeft(col("text")) { (acc, b) =>
        when(block === b,
          translate(col("text"), alpha, alpha.drop(b) + alpha.take(b)))
          .otherwise(acc)
      }
      Tables.documents(spark, sfDir).crossJoin(sh).select(
        (col("doc_id") + col("shard") * 100000000L).as("doc_id"),
        when(pos <= 3, rotated)
          .otherwise(concat(rotated, lit(" shard"), pos)).as("text"),
        col("lang"), col("source"), col("n_chars"))
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // cross-block dissimilarity via deterministic per-block sign flips
      // (random-ish half-dim flips → near-orthogonal across blocks,
      // norms preserved); within-block near-dup groups via the sf1-style
      // small additive shift
      Tables.embeddings(spark, sfDir).crossJoin(sh).select(
        (col("vec_id") + col("shard") * 100000000L).as("vec_id"),
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (v, i) => {
            val flip = when(((i + lit(1)) * (block + lit(2))) % 7 < 3,
              lit(-1.0f)).otherwise(lit(1.0f))
            (v * flip + (col("shard") % 10).cast("float") * lit(0.001f))
              .cast("float")
          }).as("embedding"),
        col("label"))
        .repartition(shards)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      marker.createNewFile()
    }
    out
  }

  /** sf100 corpus: 1000 shards of sf0.1 documents = 5M docs, one decade
    * above sf10, built the same shard way — 100 content blocks of 10
    * shards each. 100 mutually-dissimilar blocks need 100 distinct
    * character maps, so the translation composes TWO rotations over
    * disjoint 10-letter alphabets (block%10 rotates the first,
    * block/10 the second → 10×10 distinct maps); within each block the
    * sf1 crawl-duplication shape repeats exactly (4 byte-identical
    * copies + 6 single-trailing-token variants), so the corpus grows
    * 10× in DISTINCT documents at constant duplication factor. */
  private def synthesizeSf100(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val out = "/tmp/graft_sf100"
    val marker = new java.io.File(out, "_SYNTH_DONE_v1")
    if (!marker.exists()) {
      val shards = 1000
      val sh = spark.range(shards).select(col("id").as("shard"))
      val block = (col("shard") / 10).cast("int")
      val pos = (col("shard") % 10).cast("int")
      val alpha1 = "aeiounrsth"
      val alpha2 = "dlcmfwypbg"
      // ONE flat 100-branch CaseWhen, each branch a double-translate of
      // the ORIGINAL text. A nested fold (rot(rot(text,…),…)) would put
      // the whole inner when-tree in BOTH branches of every outer when —
      // 2^20 expression nodes, and codegen's common-subexpression walk
      // never returns (observed: the first sf100 synth attempt hung a
      // shuffle-exchange thread inside EquivalentExpressions for 5+ min)
      val rotated = (1 until 100).foldLeft(when(lit(false), col("text"))) {
        (acc, b) =>
          val t1 = alpha1.drop(b % 10) + alpha1.take(b % 10)
          val t2 = alpha2.drop(b / 10) + alpha2.take(b / 10)
          acc.when(block === b,
            translate(translate(col("text"), alpha1, t1), alpha2, t2))
      }.otherwise(col("text"))
      Tables.documents(spark, sfDir).crossJoin(sh).select(
        (col("doc_id") + col("shard") * 100000000L).as("doc_id"),
        when(pos <= 3, rotated)
          .otherwise(concat(rotated, lit(" shard"), pos)).as("text"),
        col("lang"), col("source"), col("n_chars"))
        .repartition(shards / 4)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      marker.createNewFile()
    }
    // embeddings arrived r14 (the ann_pq rotation needs a 2M-vector
    // point): own marker so cached documents never re-synthesize. Same
    // block scheme as sf10 — 100 blocks of 10 shards, per-block
    // sign-flip pattern for cross-block near-orthogonality, small
    // within-block shift for the 10-wide near-dup groups.
    val embMarker = new java.io.File(out, "_SYNTH_DONE_EMB_v1")
    if (!embMarker.exists()) {
      val shards = 1000
      val sh = spark.range(shards).select(col("id").as("shard"))
      val block = (col("shard") / 10).cast("int")
      Tables.embeddings(spark, sfDir).crossJoin(sh).select(
        (col("vec_id") + col("shard") * 100000000L).as("vec_id"),
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (v, i) => {
            val flip = when(((i + lit(1)) * (block + lit(2))) % 7 < 3,
              lit(-1.0f)).otherwise(lit(1.0f))
            (v * flip + (col("shard") % 10).cast("float") * lit(0.001f))
              .cast("float")
          }).as("embedding"),
        col("label"))
        .repartition(shards / 4)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      embMarker.createNewFile()
    }
    out
  }

  /** The sf100 spot queries in run order, each with its clean-run cost
    * estimate in seconds: cold-JVM measurements (NOTES_r12) + margin,
    * used only for the per-query skip decision, never reported as a
    * measurement. The per-SECTION estimates died in r15 — the top-down
    * wall plan (see main) replaced section-entry gating with per-query
    * guards + tiered reserves.
    *
    * CHEAP-FIRST order (r13): the driver run reaches this section with
    * a small remaining budget, so the queries carrying the SUBLINEARITY
    * claims (snapshot bloom 3.4×, line-dedup 2.7× at 10× data — the
    * micro-spot VERDICT r12 #4 asked to land in the artifact) run
    * first at ~20 s each; the 250-340 s exhaustive heavies
    * (dedup_verified's pair verify, substring's window explode) run
    * only when the wall allows — their sf100 points are already three
    * rounds deep in NOTES. */
  private val sf100SpotQueries: Seq[(String, Double)] = Seq(
    // r14 rotation (VERDICT r13 #6): one cheap round-new scan-bound
    // operator + the PQ family's at-scale point (2M vectors), plus
    // the retrieval family's (bm25's broadcast-pruned scan)
    "tokenize_bpe" -> 60.0, "ann_pq" -> 90.0, "bm25_topk" -> 120.0,
    "dedup_snapshot" -> 60.0, "dedup_lines" -> 60.0,
    "dedup_snapshot_fuzzy" -> 150.0, "decontaminate_fuzzy" -> 100.0,
    "dedup_verified" -> 380.0, "dedup_substring" -> 300.0)

  /** One more decade of measured scale curve for the two most expensive
    * sf10 queries (near-dup verify, substring dedup): single-trial spot
    * run at sf100 (5M docs). The check is near-linearity — each query
    * should land within ~10× its sf10 wall-time. */
  private def sf100Spot(spark: SparkSession, sfDir: String,
                        forced: Boolean,
                        shared: Boolean = false): (String, String) = {
    val names = sf100SpotQueries.map(_._1)
    val dir = synthesizeSf100(spark, sfDir)
    // `shared` = running right after the sf10 section in the same JVM
    // (child_scale): code warmth and the heap-floor fault bill are
    // already paid — every spot name is a subset of the sf10 list
    // when running standalone the absorber telemetry must land in THIS
    // section's JSON (the shared child_scale path already carries it in
    // the sf10 section line) — an unsettled absorber inflating the
    // timed spot entries is exactly what the gate needs to see
    val absorbJson = if (!shared) {
      warmQueries(spark, sfDir, names, capS = 90.0)
      absorbHeapFloor(spark, dir)
    } else ""
    // untimed sf100-corpus first read — the sf10 section's rationale
    // at one more decade (the 5M-doc parquet footer walk + cold page
    // cache otherwise lands inside the first timed spot query). BOTH
    // tables (ADVICE r14): the timed list includes ann_pq, whose first
    // sf100 embeddings read would otherwise pay the same cold-I/O bill
    // inside its timed entry.
    try {
      Tables.documents(spark, dir)
        .write.format("noop").mode("overwrite").save()
      Tables.embeddings(spark, dir)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }
    reclaim(spark, gc = false)
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val timed = sf100SpotQueries.flatMap { case (n, estS) =>
      // per-query deadline check (bypassed when `sf100` was an
      // explicit arg — standalone runs own their wall clock)
      if (!forced && remainingS < estS) {
        System.err.println(f"[bench:sf100] $n skipped (budget: ${remainingS}%.0fs left)")
        skipped += n
        None
      } else {
        reclaim(spark, gc = false) // blocks only; no full GC in children
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench:sf100] $n failed: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench:sf100] $n%-18s $dt%8.2fs${if (ok) "" else "  FAILED"}")
        Some((n, dt, ok))
      }
    }
    val nDocs = Tables.documents(spark, dir).count()
    val qj = timed.map { case (n, t, ok) =>
      "\"" + n + "\":" + (if (ok) f"$t%.3f" else "null")
    }.mkString("{", ",", "}")
    val total = timed.filter(_._3).map(_._2).sum
    val failed = timed.count(!_._3)
    val skipJson =
      if (skipped.isEmpty) ""
      else skipped.map("\"" + _ + "\"")
        .mkString(""","skipped":[""", ",", "]")
    (f""""sf100_spot":{"dir":"$dir","shards":1000,"rows":{"documents":$nDocs},$absorbJson$hostEchoJson"queries":$qj,"total":$total%.3f,"failed":$failed$skipJson}""",
     f""""sf100_total":$total%.3f,"sf100_failed":$failed""")
  }

  /** Single-trial spot-run of the dedup/ANN family at sf10 — the 100 TB
    * story is argued from bucketed-by-design kernels; this adds one more
    * decade of measured curve (sf0.1 → sf1 → sf10) as evidence. The
    * families whose scale behavior is non-obvious run here (candidate
    * generation, iterative CC, ANN) plus the flagship training-data
    * compositions over the same 100-shard document corpus (llm_prep's
    * dedup shuffle, decontaminate's broadcast-gram join, seq_pack's
    * per-shard windows); the rest of the suite has its sf1 point. */
  // PRIORITY order, not family order: the per-query deadline guard
  // truncates the TAIL, so a budget squeeze drops the least
  // informative queries first (the r11 validation run lost
  // dedup_verified to a 131 s dedup_ngram placed ahead of it).
  // Tiers (VERDICT r12 #1b, r14 #1b):
  //   new:  EVERY not-yet-two-rounds-old operator — its artifact
  //         presence is the round mandate;
  //   1:    the four mandated flagship entries + the pre-r13 ANN
  //         family (the other half of the mandate set);
  //   mid:  stable legacy whose sf10 points are rounds deep;
  //   heavy: the expensive exhaustive fallbacks (ngram's inverted
  //         index, simhash's fat buckets, substring's window explode).
  // A budget squeeze sheds mid/heavy FIRST — the mandate set is the
  // top-priority claimant, never the residual one.
  // tierNew r15: the r14 additions roll off after two artifact rounds;
  // r15-new is hybrid_retrieve_pq (the pluggable-leg composition).
  private val tier1 = Seq(
    "text_quality",
    "dedup_verified", "dedup_clusters_verified",
    "decontaminate_fuzzy", "dedup_lines",
    "ann_cosine", "ann_lsh", "ann_ivf", "emb_stats")
  // tierNew is split CHEAP/HEAVY (r15 sims #1-#2: the section's usable
  // window under 5-8.6x contention is 100-300 s; sim #1 put
  // hybrid_retrieve_pq's 57 s checkpoint ahead of the sub-2s ANN/BPE
  // entries and landed 4 mandate entries where ~15 fit; sim #2 fixed
  // that but the retrieval mid-weights (sample_dsir 98.6 s, hybrid
  // 47.1) then starved the FLAGSHIP tier out entirely). Scan-bound
  // round-new kernels run first (most mandate entries per second),
  // the flagship tier second, the retrieval/composition mid-weights
  // third — under a squeeze the artifact keeps the cheap round-new
  // set AND the flagship entries, shedding the expensive round-new
  // tail before either.
  private val tierNewCheap = Seq(
    "ann_pq", "ann_ivfpq", "ann_sq8", "ann_hamming", "ann_hamming_rerank",
    "tokenize_bpe", "chunk_tokens_bpe", "sample_temperature",
    "token_budget_bpe", "corpus_stats_bpe", "seq_pack_bpe",
    "bpe_fertility", "dedup_report")
  private val tierNewHeavy = Seq(
    "hybrid_retrieve_pq", "ann_recall_audit", "bm25_topk",
    "hybrid_retrieve", "mmr_rerank", "sample_dsir", "rag_retrieve",
    "split_leakage_safe")
  private def tierNew = tierNewCheap ++ tierNewHeavy
  private val tierMid = Seq(
    "dedup_snapshot", "dedup_snapshot_fuzzy", "ngram_hot",
    "quality_classifier", "token_budget", "corpus_stats",
    "cluster_topics", "sample_shuffle", "sample_perplexity",
    "dedup_exact", "dedup_canonical", "dedup_semantic", "dedup_url",
    "dedup_keep_best", "llm_prep", "decontaminate",
    "decontaminate_semantic", "contamination_report",
    "text_repetition", "text_fingerprint",
    "sample_stratified", "seq_pack", "lm_score", "quality_gopher",
    "tfidf_topk")
  private val tierHeavy = Seq(
    "dedup_minhash", "emb_neardup",
    "dedup_clusters", "dedup_simhash",
    "dedup_substring", "dedup_substring_removal", "dedup_ngram")
  /** The mandate set whose sf10 entries the artifact must carry
    * (VERDICT r14 #1b done-bar): round-new + flagship tiers. */
  private def mandateNames: Seq[String] = tierNew ++ tier1

  private def sf10Section(spark0: SparkSession, sfDir: String,
                          sf1Times: Map[String, Double],
                          reserveS: Double,
                          shared: Boolean = false): (String, String) = {
    // text_quality leads NOT for priority but as the warm-up: a cheap
    // full-corpus scan absorbs the fresh context's first-read cost so
    // it doesn't land inside the flagship's timing.
    // round-new operators BEFORE the flagship heavies (r13 sim #5): the
    // residual heap-fault bill lands stochastically in the first heavy
    // allocators (verified/clusters_verified swung 34-111 s across
    // same-binary sims), and when it lands hard it must only ever eat
    // the tail — the ~15 round-new queries cost ~90 s total and their
    // artifact presence is the round mandate. text_quality stays first
    // as the scan warm-up.
    val names = Seq("text_quality") ++ tierNewCheap ++
      tier1.filterNot(_ == "text_quality") ++ tierNewHeavy ++
      tierMid ++ tierHeavy
    // NO in-section context restarts (r13, branch deleted r14 — ADVICE):
    // the r12 in-section inflation was JVM-level; in the fresh
    // warm-code/pinned-heap child a context restart buys nothing.
    // per-query wall-cost estimate for the deadline guard: the query's
    // OWN measured sf1 time from the section that just ran, scaled by
    // the 10x data factor plus a 30% margin, clamped to [25, 300] s.
    // The floor was 60 s through r13; the r14 clean sim showed that on
    // a 2.6x-contended host the floor itself became the shedding
    // driver — 30 sub-2s-at-sf1 queries were skipped that would each
    // have run in seconds. 25 s still covers fixed overhead (worst
    // observed cheap-query time under contention ~10 s), and the guard
    // re-checks ACTUAL remaining wall before every query, so the only
    // exposure is one final query overshooting into the child's 180 s
    // grace. Queries WITHOUT an sf1 anchor fall back by TIER (r15 sim
    // #1: heavy contention shed the whole sf1 section, every needS
    // degraded to the old flat 160, and the flat estimate then shed
    // the sub-10s mandate queries it was supposed to protect — 4/21
    // mandate entries timed where ~15 fit): mandate-tier queries are
    // round-new kernels measured sub-10s at sf10 post-kernel-fix → 60
    // covers them at 5x contention; mid/heavy keep the conservative
    // 160. The guard also holds back `reserveS` for the sf100
    // micro-spot that follows this section (VERDICT r12 #4: the spot
    // is worth two sf10 tail queries).
    val cheapFallbackSet = (tierNewCheap :+ "text_quality").toSet
    val midFallbackSet = (tierNewHeavy ++ tier1).toSet
    // mandate-tier estimates clamp at 180, not 300 (r15 sim #3: one
    // contention burst during sf1 put dedup_verified at 74.9 s — 8.5x
    // its steady state — and the 13x-scaled 300-clamped estimate then
    // shed the FLAGSHIP entry from sf10; every mandate query has
    // measured ≤55 s at sf10 across three rehearsals, so 180 still
    // carries 3x margin while keeping one bad sf1 sample from vetoing
    // a mandate entry)
    def needS(n: String): Double = {
      val cap = if (cheapFallbackSet.contains(n) ||
        midFallbackSet.contains(n)) 180.0 else 300.0
      sf1Times.get(n).map(t => (t * 13.0).max(25.0).min(cap))
        .getOrElse(
          if (cheapFallbackSet.contains(n)) 60.0
          else if (midFallbackSet.contains(n)) 120.0
          else 160.0)
    }
    val spark = spark0
    val sf10Dir = synthesizeSf10(spark, sfDir)
    // `shared` = running inside child_scale AFTER the sf1 section: the
    // warm pass and the heap-floor absorber were paid before sf1 (so
    // sf1's own entries are protected too — VERDICT r14 #1a), and what
    // this section needs is only the ANN-profile CANARY below.
    if (!shared) {
      // tiny-corpus code warm-up, EXPENSIVE-at-sf10 queries first so the
      // cap cuts only the cheap tail (a cold cheap query costs ~5 s of
      // codegen in its timed run; a cold HEAVY costs 10x its steady
      // time); cap 90 — final-sim r14 #2 spent 152 s warming 30/60
      // under contention
      warmQueries(spark, sfDir, tierHeavy ++ tier1 ++ tierNew ++ tierMid,
        capS = 90.0)
    }
    // untimed ALLOCATION-heavy absorber with a MEASURED completion
    // precondition (r14; see absorbHeapFloor): the heap floor's one-time
    // page-fault bill (G1 region sweep faults pages on first touch of
    // the committed floor — ~45 s for 24 GB on this slow-zeroing host)
    // lands here instead of inside the first timed queries. sf1 scale
    // is enough: faulting follows cumulative ALLOCATION, not input
    // size. Falls back to the sf10 corpus if sf1 isn't cached.
    // In shared mode the main absorber ran before sf1; what runs here
    // is the ANN-PROFILE canary (VERDICT r14 #1c): text_quality
    // settling does not prove the ANN family's allocation profile is
    // clean — r14's artifact carried ann_hamming at 50.1 s AFTER a
    // settled absorber. ann_pq runs twice at the absorber corpus right
    // before the ANN-heavy tierNew block; if the pair is asymmetric, a
    // residual bill was still landing — absorb again, bounded.
    val absorbJson =
      (if (!shared) absorbHeapFloor(spark, sf10Dir) else "") +
        annCanary(spark, sf10Dir)
    // untimed sf10-corpus first read (r14, clean-sim finding): the
    // absorber runs against the CACHED sf1 corpus, so the sf10
    // parquet's cold first read (page cache + footer decode) still
    // landed inside the first timed query — measured 102.7 s on
    // text_quality at host_factor 2.57 vs its 5.5 s steady state,
    // which then starved the deadline guard for the whole tail. Same
    // rationale as the absorber: one-time I/O bills are not query
    // compute and must land untimed. The documents touch IS an
    // untimed text_quality run at the sf10 dir, so any residual
    // heap-fault bill the absorber's bounded retries did not sweep
    // also lands here — the timed pass then measures steady state.
    try {
      SparkEntry.queries("text_quality")(spark, sf10Dir)
        .write.format("noop").mode("overwrite").save()
      Tables.embeddings(spark, sf10Dir)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }
    reclaim(spark, gc = false)
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    // TIERED sf100 reserve (r15 top-down budget): while the MANDATE set
    // (round-new + flagship) is running, only the ≥3-cheap-spot sf100
    // floor is held back — the full reserve would let a contended wall
    // shed mandate queries to protect optional sf100 heavies, which is
    // the priority inversion r14 died of. Mid/heavy tiers hold back the
    // caller's full reserve.
    val mandateSet = (mandateNames :+ "text_quality").toSet
    def reserveFor(n: String): Double =
      if (mandateSet.contains(n)) math.min(reserveS, sf100MandateReserveS)
      else reserveS
    val timed = names.flatMap { n =>
      // per-query deadline guard: section-ENTRY gating is not enough —
      // the r11 driver-simulation run measured this section at 763 s
      // against a 380 s clean estimate. Skip the tail loudly rather
      // than blow the budget (or eat the sf100 micro-spot's reserve).
      if (remainingS - reserveFor(n) < needS(n)) { skipped += n; None }
      else {
        // deterministic block reclaim between queries — no full GC (see
        // `reclaim`: 38 multi-second Pause Fulls in the v5 child)
        reclaim(spark, gc = false)
        val t0 = System.nanoTime()
        val ok = try {
          SparkEntry.queries(n)(spark, sf10Dir).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[bench:sf10] $n failed: ${e.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench:sf10] $n%-18s $dt%8.2fs${if (ok) "" else "  FAILED"}")
        Some((n, dt, ok))
      }
    }
    val nDocs = Tables.documents(spark, sf10Dir).count()
    val nEmb = Tables.embeddings(spark, sf10Dir).count()
    val qj = timed.map { case (n, t, ok) =>
      "\"" + n + "\":" + (if (ok) f"$t%.3f" else "null")
    }.mkString("{", ",", "}")
    val total = timed.filter(_._3).map(_._2).sum
    val failed = timed.count(!_._3)
    val worst = timed.filter(_._3).sortBy(-_._2).take(3)
      .map { case (n, t, _) => "\"" + n + f"""\":$t%.3f""" }.mkString("{", ",", "}")
    val skipJson =
      if (skipped.isEmpty) ""
      else skipped.map("\"" + _ + "\"")
        .mkString(""","skipped":[""", ",", "]")
    (f""""sf10":{"dir":"$sf10Dir","shards":100,"rows":{"documents":$nDocs,"embeddings":$nEmb},$absorbJson$hostEchoJson"queries":$qj,"total":$total%.3f,"failed":$failed$skipJson}""",
     f""""sf10_total":$total%.3f,"sf10_failed":$failed,"sf10_worst":$worst""")
  }

  /** The parent's measured host factor, passed into scale children via
    * env so every section JSON names the contention level its absolutes
    * were measured under (VERDICT r13 #1c: the gate should read
    * ratios). Empty when the parent's trial failed or when running
    * standalone. */
  private def hostEchoJson: String =
    sys.env.get("SPARK_GRAFT_HOST_FACTOR")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .map(f => f""""host_factor_at_trial":$f%.3f,""").getOrElse("")

  /** The curated sf1 rehearsal subset (r12): the join/agg/stateful/
    * iterative shapes whose scale behavior is NOT a linear extrapolation
    * of their sf0.1 medians — every sf10-section query (so the sf10
    * deadline guard has a measured per-query sf1 anchor) plus the core
    * relational/streaming compositions. The r11 section ran all 189
    * queries (399 s), but ~160 of them are scan-bound projections whose
    * sf1 point is just 10x their sf0.1 median — information the main
    * loop already has — and that spend starved the sf10 section out of
    * the driver artifact two rounds running (VERDICT r11 #1). */
  private val sf1Names = Seq(
    // flagship + relational core
    "llm_prep", "pipeline_e2e", "q1_agg", "q3_join", "skew_join",
    "window_agg", "session_window", "stream_llm_prep",
    "stream_dedup_snapshot", "stream_dedup_snapshot_fuzzy",
    "stream_cluster_topics", "stream_corpus_stats",
    "stream_contamination_report", "stream_bpe_fertility",
    // dedup family (candidate generation, iterative CC, anti-joins)
    "dedup_exact", "dedup_canonical", "dedup_minhash", "dedup_verified",
    "dedup_clusters_verified", "dedup_clusters", "dedup_simhash",
    "dedup_ngram", "dedup_substring", "dedup_substring_removal",
    "dedup_lines", "dedup_semantic", "dedup_url", "dedup_snapshot",
    "dedup_snapshot_fuzzy",
    // decontamination + sampling/packing
    "decontaminate", "decontaminate_fuzzy", "decontaminate_semantic",
    "contamination_report", "sample_stratified", "sample_shuffle",
    "sample_domain_mix", "sample_perplexity", "sample_temperature",
    "sample_dsir",
    "seq_pack", "chunk_tokens", "chunk_tokens_bpe",
    "dedup_keep_best",
    // ANN / embeddings
    "ann_cosine", "ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq", "ann_sq8",
    "ann_hamming", "ann_hamming_rerank", "ann_recall_audit",
    "emb_neardup", "emb_stats", "cluster_topics",
    // text-analysis aggregations and model scoring
    "tfidf_topk", "bm25_topk", "rag_retrieve", "hybrid_retrieve",
    "hybrid_retrieve_pq", "mmr_rerank",
    "lm_score", "quality_classifier", "quality_gopher",
    "quality_calibration", "token_budget", "corpus_stats", "ngram_hot",
    "text_quality", "text_repetition", "text_fingerprint",
    "tokenize_bpe", "token_budget_bpe", "corpus_stats_bpe",
      "seq_pack_bpe", "bpe_fertility", "dedup_report",
      "split_leakage_safe")

  /** Every name a scale section schedules. The sections look each one
    * up directly, so a name that is not a registry name fails here, at
    * initialization, instead of dropping out of a section unnoticed. */
  private[graft] val scheduledNames: Seq[String] =
    (tier1 ++ tierNewCheap ++ tierNewHeavy ++ tierMid ++ tierHeavy ++
      sf1Names ++ sf100SpotQueries.map(_._1)).distinct

  locally {
    val unknown = scheduledNames.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"Bench schedules names that are not registry queries: ${unknown.mkString(", ")}")
  }

  /** One bench pass of the curated sf1 subset at the synthesized sf1
    * scale — the families whose scale behavior is non-obvious get a
    * recorded data point one decade above verification scale, so a
    * scale cliff surfaces here instead of in production. Single trial
    * each (the medians come from the main sf0.1 loop); the point is
    * no-OOM/no-pathology completion and the timing curve vs sf0.1.
    * Also returns the per-query wall times — the sf10 section derives
    * its per-query deadline guards from them. */
  private def sf1Section(spark: SparkSession, sfDir: String,
                         mandateReserveS: Double = 0.0)
      : (String, String, Map[String, Double]) = {
    // sf10-ANCHOR names first (r15 top-down budget): the sf10 section's
    // per-query deadline guards are derived from these sf1 times, so a
    // budget squeeze that sheds the sf1 tail must shed the queries the
    // guards DON'T need — the non-anchor relational/streaming names run
    // last. Within each half, sf1Names order (flagships lead).
    val sf10Set = (tierNew ++ tier1 ++ tierMid ++ tierHeavy).toSet
    val names = {
      val (anchors, rest) = sf1Names.partition(sf10Set.contains)
      anchors ++ rest
    }
    val sf1Dir = synthesizeSf1(spark, sfDir)
    // shed cached blocks so the 10x-scale timings measure the plans,
    // not accumulated heap state (a no-op in the fresh child)
    reclaim(spark)
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val timed = names.flatMap { n =>
      // per-query deadline guard (see sf10Section): truncate the tail
      // loudly instead of running the whole bench past the wall. The
      // caller's mandateReserveS holds back the sf10-mandate + sf100
      // floor — sf1 is the FIRST optional claimant to shed (VERDICT
      // r14 #1b: the mandate must never be the residual claimant).
      if (remainingS - mandateReserveS < 60) { skipped += n; None }
      else {
        reclaim(spark) // same retained-heap guard as the sf10 section
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(n)(spark, sf1Dir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench:sf1] $n failed: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench:sf1] $n%-18s $dt%8.2fs${if (ok) "" else "  FAILED"}")
        Some((n, dt, ok))
      }
    }
    val nDocs = Tables.documents(spark, sf1Dir).count()
    val nEmb = Tables.embeddings(spark, sf1Dir).count()
    val nEv = Tables.events(spark, sf1Dir).count()
    val qj = timed.map { case (n, t, ok) =>
      "\"" + n + "\":" + (if (ok) f"$t%.3f" else "null")
    }.mkString("{", ",", "}")
    val total = timed.filter(_._3).map(_._2).sum
    val failed = timed.count(!_._3)
    val worst = timed.filter(_._3).sortBy(-_._2).take(5)
      .map { case (n, t, _) => "\"" + n + f"""\":$t%.3f""" }.mkString("{", ",", "}")
    val skipJson =
      if (skipped.isEmpty) ""
      else skipped.map("\"" + _ + "\"")
        .mkString(""","skipped":[""", ",", "]")
    (f""""sf1":{"dir":"$sf1Dir","shards":10,"rows":{"documents":$nDocs,"embeddings":$nEmb,"events":$nEv},"queries":$qj,"total":$total%.3f,"failed":$failed$skipJson}""",
     f""""sf1_total":$total%.3f,"sf1_failed":$failed,"sf1_worst":$worst""",
     timed.filter(_._3).map { case (n, t, _) => n -> t }.toMap)
  }

  /** Tiny-corpus code warm-up: run each query once against the
    * smallest available corpus (the sf0.001 sibling of the base dir)
    * so janino codegen + C2 promotion happen BEFORE the timed
    * full-scale single trials. This is the other half of the
    * cold-first-run tax (see forkChild's pinned-heap note): warm code
    * + pinned heap measured 18.6 s on the sf10 flagship vs 207-234 s
    * cold, bracketing the 31 s post-warmup standalone median the
    * numbers are compared against. Untimed, failures swallowed,
    * capped. */
  private def warmQueries(spark: SparkSession, sfDir: String,
                          names: Seq[String], capS: Double = 150.0): Unit = {
    val warmDir = {
      val sib = new java.io.File(
        new java.io.File(sfDir).getParentFile, "sf0.001")
      if (new java.io.File(sib, "documents.parquet").exists()) sib.toString
      else sfDir
    }
    val t0 = System.nanoTime()
    var warmed = 0
    names.foreach { n =>
      if ((System.nanoTime() - t0) / 1e9 < capS)
        try {
          SparkEntry.queries(n)(spark, warmDir).write.format("noop").mode("overwrite").save()
          warmed += 1
        } catch { case _: Throwable => }
    }
    System.err.println(f"[bench] warm pass: $warmed/${names.size} queries at $warmDir in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  /** Untimed allocation-heavy run that sweeps the child's committed
    * heap floor so the one-time page-fault bill never lands inside a
    * timed query (see the forkChild -Xms note and sf10Section's
    * absorber comment). Prefers the cached sf1 corpus (a ~6 s flagship
    * run allocates enough to fault the floor); falls back to the
    * caller's own corpus when sf1 was never synthesized.
    *
    * Completion is a MEASURED precondition, not a hope (VERDICT r13
    * #1b: the single-pass absorber's effectiveness was stochastic —
    * sim #5 "swept only 14 s worth" and the residual bill landed
    * inside timed queries): after each absorber pass a cheap timed
    * canary (text_quality at the absorber corpus) runs TWICE; if the
    * first canary exceeds 1.5× the second, the bill was still landing
    * mid-canary — run another absorber pass. Bounded at 3 total
    * passes; every absorb and canary time lands in the section JSON so
    * the gate can see what the precondition measured. Returns that
    * JSON fragment (trailing comma) for the section line. */
  private def absorbHeapFloor(spark: SparkSession, fallbackDir: String): String = {
    val dir =
      if (new java.io.File("/tmp/graft_sf1/_SYNTH_DONE_v6").exists())
        "/tmp/graft_sf1"
      else fallbackDir
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    val absorbS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaryS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var settled = false
    while (!settled && absorbS.size < 3) {
      absorbS += run("dedup_verified")
      val c1 = run("text_quality")
      val c2 = run("text_quality")
      canaryS += c1; canaryS += c2
      // SYMMETRIC settlement (r14 final-sim finding): the original
      // `c1 <= max(1.5·c2, c2+2)` only caught the bill landing in the
      // FIRST canary — a pass-2 pair of (0.58 s, 7.40 s) declared
      // settled and the residual ~100 s bill landed in the first timed
      // query anyway. Both canaries must sit near the smaller one.
      val lo = math.min(c1, c2); val hi = math.max(c1, c2)
      settled = hi <= math.max(1.5 * lo, lo + 2.0)
      System.err.println(
        f"[bench] heap-floor absorber pass ${absorbS.size} at $dir: " +
        f"absorb ${absorbS.last}%.1fs canary $c1%.2fs/$c2%.2fs " +
        (if (settled) "(settled)" else "(still faulting)"))
    }
    val aj = absorbS.map(a => f"$a%.2f").mkString("[", ",", "]")
    val cj = canaryS.map(c => f"$c%.2f").mkString("[", ",", "]")
    s""""absorber":{"passes":${absorbS.size},"settled":$settled,"absorb_s":$aj,"canary_s":$cj},"""
  }

  /** The sf100 floor held back while MANDATE-tier sf10 queries run:
    * enough for ≥3 cheap spot queries (the sf100_spot mandate), not the
    * full reserve — see sf10Section's tiered guard. */
  private val sf100MandateReserveS = 150.0

  /** Flat estimate of the sf10 MANDATE tiers (round-new + flagship,
    * ~29 queries) in a warm pinned child, used by the sf1 guard before
    * per-query sf1 anchors exist. Post r15 kernel fixes (SQ8 closed-
    * form encode, CoarseCellExpr) the ANN block lost its 100 s+
    * outliers; sim-measured mandate blocks run 150-250 s — 320 carries
    * contention margin. */
  private val sf10MandateFlatS = 320.0

  /** ANN-profile absorber canary (VERDICT r14 #1c): the main absorber's
    * text_quality canary proves the SCAN profile settled, but r14's
    * artifact carried ann_hamming at 50.1 s AFTER a settled absorber —
    * the residual heap-fault bill lands by cumulative-allocation
    * pattern, and the ANN family (codebook collects, posexplode
    * distance arrays, window pre-cuts) allocates nothing like a
    * text scan. Runs the cheapest ANN query (ann_pq) TWICE at the
    * absorber corpus immediately before the ANN-heavy tierNew block;
    * an asymmetric pair means the bill was landing mid-canary → run
    * another allocation-heavy absorber pass and re-check. Bounded; all
    * times land in the section JSON for the gate to read. */
  private def annCanary(spark: SparkSession, fallbackDir: String): String = {
    val dir =
      if (new java.io.File("/tmp/graft_sf1/_SYNTH_DONE_v6").exists())
        "/tmp/graft_sf1"
      else fallbackDir
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    val absorbS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaryS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var settled = false
    var rounds = 0
    while (!settled && rounds < 3) {
      val c1 = run("ann_pq")
      val c2 = run("ann_pq")
      canaryS += c1; canaryS += c2
      val lo = math.min(c1, c2); val hi = math.max(c1, c2)
      // the same SYMMETRIC settlement the main absorber uses (r14)
      settled = hi <= math.max(1.5 * lo, lo + 2.0)
      rounds += 1
      if (!settled && rounds < 3) absorbS += run("dedup_verified")
      System.err.println(
        f"[bench] ann canary round $rounds at $dir: $c1%.2fs/$c2%.2fs " +
          (if (settled) "(settled)" else "(still faulting)"))
    }
    val aj = absorbS.map(a => f"$a%.2f").mkString("[", ",", "]")
    val cj = canaryS.map(c => f"$c%.2f").mkString("[", ",", "]")
    s""""ann_canary":{"settled":$settled,"canary_s":$cj,"absorb_s":$aj},"""
  }

  /** Parse the parent's sf1-times handoff file ({"query":secs,...}). */
  private def readTimes(path: String): Map[String, Double] = try {
    import scala.jdk.CollectionConverters._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.readTree(new java.io.File(path)).fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  } catch { case _: Throwable => Map.empty }

  /** Child-JVM entry for the scale sections (VERDICT r12 #1/#7): the
    * r12 driver artifact measured dedup_verified at 103 s inside the
    * section vs 31.5 s standalone on the SAME binary — and the r12
    * falsification runs showed a fresh SparkCONTEXT does not clear it
    * (the accumulation is JVM-level: old-gen shape after ~1000 query
    * executions). A fresh child JVM is the state the standalone
    * methodology measures, so the driver artifact's numbers become
    * reproducible standalone numbers by construction. The child
    * inherits the parent's exact JVM flags and classpath; its wall
    * budget arrives via SPARK_GRAFT_BUDGET_S (benchStart is process
    * start, so the child's own per-query deadline guards just work). */
  private def runChild(mode: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sf1Times = sys.env.get("SPARK_GRAFT_SF1TIMES")
      .map(readTimes).getOrElse(Map.empty)
    var sf1TimesChild: Map[String, Double] = sf1Times
    val spark = buildSession(cpus)
    mode match {
      case "child_sf10" =>
        val (full, short) = sf10Section(spark, sfDir, sf1Times, 0.0)
        println("@@FULL10@@" + full)
        println("@@SHORT10@@" + short)
        spark.stop()
      case "child_sf100" =>
        val (full, short) = sf100Spot(spark, sfDir, forced = false)
        println("@@FULL100@@" + full)
        println("@@SHORT100@@" + short)
        spark.stop()
      case "child_scale" =>
        // ALL scale sections (sf1 → sf10 → sf100) in ONE fresh
        // pinned+absorbed JVM (VERDICT r14 #1a): through r14 the sf1
        // section ran in the lazy-heap parent and its entries carried
        // the same fault-bill landings the sf10 child was cured of
        // (dedup_clusters 44.4 s at sf1 vs 8.8 s r13). The warm pass
        // and the heap-floor absorber are paid ONCE, before sf1, so
        // every scale entry measures warm-code pinned-heap steady
        // state — and the scale ratios sf1:sf10:sf100 come from the
        // same JVM on the same host.
        val sf100Reserve = sys.env
          .getOrElse("SPARK_GRAFT_SF100_RESERVE", "250").toDouble
        // stream_* stays COLD in the warm pass (r15 sim #1: the warm
        // loop ran 194 s against its 120 cap — AvailableNow checkpoint
        // setup is expensive at ANY corpus size and the sf1 stream
        // entries have always been cold-code numbers anyway)
        warmQueries(spark, sfDir,
          (tierHeavy ++ tier1 ++ tierNew ++ tierMid ++ sf1Names)
            .distinct.filterNot(_.startsWith("stream_")),
          capS = 120.0)
        val sf1Dir = synthesizeSf1(spark, sfDir)
        val prepJson = absorbHeapFloor(spark, sf1Dir)
        println("@@PREP@@" + s""""scale_prep":{$prepJson"dir":"$sf1Dir"}""")
        // sf1 sheds ITS tail first: the guard holds back the sf10
        // mandate-set estimate + the sf100 cheap-spot floor (top-down
        // budget — the mandate is never the residual claimant).
        // Sections honor the parent's env kill-switches (inherited).
        if (!sys.env.get("SPARK_GRAFT_SF1").contains("off")) {
          val (fullSf1, shortSf1, times) = sf1Section(spark, sfDir,
            mandateReserveS = sf10MandateFlatS + sf100MandateReserveS)
          println("@@FULLSF1@@" + fullSf1)
          println("@@SHORTSF1@@" + shortSf1)
          sf1TimesChild = times
        }
        if (!sys.env.get("SPARK_GRAFT_SF10").contains("off")) {
          val (full10, short10) =
            sf10Section(spark, sfDir, sf1TimesChild, sf100Reserve,
              shared = true)
          println("@@FULL10@@" + full10)
          println("@@SHORT10@@" + short10)
        }
        if (!sys.env.get("SPARK_GRAFT_SF100").contains("off")) {
          val (full100, short100) = sf100Spot(spark, sfDir, forced = false,
            shared = true)
          println("@@FULL100@@" + full100)
          println("@@SHORT100@@" + short100)
        }
        spark.stop()
      case other =>
        System.err.println(s"[bench] unknown child mode $other")
        sys.exit(2)
    }
  }

  /** Fork a child JVM running `runChild(mode)` with `budget` seconds of
    * wall allowance; returns the `@@KEY@@payload` marker lines it
    * printed as a KEY→payload map (FULL10/SHORT10/FULL100/SHORT100).
    * The child gets the parent's own java binary, JVM args
    * (--add-opens, -Xmx) and classpath; stderr streams through live so
    * the driver log keeps the per-query lines. A hard watchdog at
    * budget+180 s kills a wedged child — the parent's remaining
    * sections still report. Returns None on fork failure / crash /
    * zero markers. */
  private def forkChild(mode: String, budget: Double,
                        sf1TimesPath: Option[String],
                        hostFactor: Option[Double] = None): Option[Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xdebug") ||
          a.startsWith("-Xrunjdwp"))
      // FULLY pin the child's heap: -Xms = the parent's -Xmx. The A/B
      // ladder (NOTES_r13): a fresh JVM's first full-scale heavy query
      // pays ~10x while the heap grows from the tiny default
      // (dedup_verified at sf10: 207 s cold-code, 154 s warm-code/lazy
      // heap, 18.6 s warm-code/FULL pin) — and a HALF pin does not
      // work (-Xms24g child: verified 161 s, clusters_verified 134 s —
      // growth churn returns the moment allocation crosses the floor).
      // The full floor's one-time page-fault bill is real (~90 s for
      // 48 GB on this slow-zeroing host; AlwaysPreTouch -version alone
      // takes 90 s) but is paid ONCE in the untimed absorber, not
      // inside timed queries.
      val xms = Seq("-Xms" + sys.env.getOrElse("SPARK_GRAFT_CHILD_XMS",
        jvmArgs.collectFirst { case a if a.startsWith("-Xmx") =>
          a.substring(4) }.getOrElse("24g")))
      val cmd = Seq(javaBin) ++ jvmArgs ++ xms ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench", mode)
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_BUDGET_S", f"$budget%.0f")
      sf1TimesPath.foreach(p => pb.environment().put("SPARK_GRAFT_SF1TIMES", p))
      // the parent's measured contention level rides into every scale
      // section's JSON (host_factor_at_trial) so the gate reads ratios
      hostFactor.foreach(f =>
        pb.environment().put("SPARK_GRAFT_HOST_FACTOR", f"$f%.3f"))
      val proc = pb.start()
      val outLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def pump(in: java.io.InputStream, sink: String => Unit): Thread = {
        val t = new Thread(() => {
          val br = new java.io.BufferedReader(new java.io.InputStreamReader(in))
          var line = br.readLine()
          while (line != null) { sink(line); line = br.readLine() }
        })
        t.setDaemon(true); t.start(); t
      }
      val errT = pump(proc.getErrorStream, System.err.println)
      val outT = pump(proc.getInputStream, l => { outLines.add(l); () })
      val finished = proc.waitFor((budget + 180).toLong,
        java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) {
        System.err.println(s"[bench] child $mode overran its watchdog; killing")
        proc.destroyForcibly()
        proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      outT.join(3000); errT.join(3000)
      val marker = "@@([A-Z0-9]+)@@(.*)".r
      val found = outLines.asScala.collect {
        case marker(k, v) => k -> v
      }.toMap
      val rc = proc.exitValue()
      if (rc == 0 && found.nonEmpty) Some(found)
      else {
        System.err.println(
          s"[bench] child $mode rc=$rc markers=${found.keys.mkString(",")}")
        if (found.nonEmpty) Some(found) else None
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] child fork failed: ${e.getMessage}"); None
    }
  }

  /** Query-count scaling bench (VERDICT r14 #6): the gate's retrieval/
    * ANN oracles run 8 queries, which exercises neither the per-query
    * top-k windows nor the PqAdcExpr reference-object advantage at the
    * 10³–10⁴ batch sizes it was built for. Runs bm25_topk and ann_pq at
    * sf1 with 8 → 1000 queries (bench-only: rows-count sanity, not
    * gate-oracled — the 8-query variants ARE oracled) and prints one
    * {"metric":"qscale"} JSON line for NOTES. Standalone:
    * `runMain graft.Bench qscale`. */
  private def qscaleSection(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val dir = synthesizeSf1(spark, sfDir)
    val counts = Seq(8, 64, 256, 1000)
    def bm25(n: Int): org.apache.spark.sql.DataFrame = {
      val docs = Tables.documents(spark, dir)
      operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        operators.TextAnalysis.keywordQueries(docs, "doc_id", "text",
          maxId = n.toLong))
    }
    // r16: the MaxScore-pruned path (exact top-k; Bm25Spec pins value
    // equality) — swept side by side so the qscale line carries the
    // direct-vs-pruned curve at every batch size
    def bm25Pruned(n: Int): org.apache.spark.sql.DataFrame = {
      val docs = Tables.documents(spark, dir)
      operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        operators.TextAnalysis.keywordQueries(docs, "doc_id", "text",
          maxId = n.toLong), maxScorePrune = true)
    }
    def pq(n: Int): org.apache.spark.sql.DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      operators.Similarity.pqTopK(emb, emb.filter(col("vec_id") < n), k = 5)
    }
    // one untimed warm pass (smallest variant) per family
    try { bm25(8).write.format("noop").mode("overwrite").save() }
    catch { case _: Throwable => }
    try { pq(8).write.format("noop").mode("overwrite").save() }
    catch { case _: Throwable => }
    def sweep(label: String, f: Int => org.apache.spark.sql.DataFrame)
        : String =
      counts.map { n =>
        reclaim(spark, gc = false)
        val t0 = System.nanoTime()
        val rows = try {
          val d = f(n)
          d.write.format("noop").mode("overwrite").save()
          d.count()
        } catch { case e: Throwable =>
          System.err.println(s"[bench:qscale] $label@$n failed: ${e.getMessage}")
          -1L
        }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench:qscale] $label%-10s n=$n%-5d $dt%8.2fs  rows=$rows")
        s""""$n":{"s":${f"$dt%.3f"},"rows":$rows}"""
      }.mkString("{", ",", "}")
    val bj = sweep("bm25_topk", bm25)
    val bpj = sweep("bm25_pruned", bm25Pruned)
    val pj = sweep("ann_pq", pq)
    println(s"""{"metric":"qscale","sf1_dir":"$dir","counts":[8,64,256,1000],"bm25_topk":$bj,"bm25_topk_pruned":$bpj,"ann_pq":$pj}""")
  }

  private def buildSession(cpus: String): SparkSession = {
    val spark = GraftSession(s"local[$cpus]", "graft-bench")
    // test parquet is a handful of ~10-30MB files; the 128MB default
    // split size would serialize every scan onto one core. At cluster
    // scale the default is right — this mirrors having many input
    // files. 512k matches the synth corpora's row-group size, so
    // byte-range splits land on group boundaries and a ~10MB table
    // still spreads across ~20 cores without a rebalance shuffle.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512k")
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 1 && args(0).startsWith("child_")) {
      runChild(args(0)); return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 2 trials (r12; was 3, originally 5): with the warm-up run every
    // query still executes 3x; median-of-2 = midpoint; the trials[]
    // array still exposes the spread per query.
    val nTrials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt
    val isDriverRun = args.isEmpty
    val spark = buildSession(cpus)
    // warm the JVM/codegen once so per-query numbers measure the plan,
    // not first-call classloading
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    // ---- 524k throughput trial FIRST (r13 reorder): the host factor is
    // the single number every scheduling decision below wants, and the
    // trial's frozen ingest path needs no other section's state.
    val trialRates = try {
      import org.apache.spark.sql.functions._
      val nTrial = 524288L
      val raw = Queries.synthSyslog(spark, sfDir).select(col("rawmsg").as("value"))
      val nBase = math.max(1L, raw.count())
      val factor = ((nTrial + nBase - 1) / nBase).toInt
      val input = Seq.fill(factor)(raw).reduce(_ union _).limit(nTrial.toInt)
        .repartition(spark.sparkContext.defaultParallelism).cache()
      val actual = input.count()
      val decoded = graft.sources.Sources.decodeSyslog(input)
      val sevNames = array(Seq("emerg", "alert", "crit", "err", "warning",
        "notice", "info", "debug").map(lit): _*)
      val shaped = decoded
        .filter(graft.functions.rainer.prifilt("*.warning")(col("facility"), col("severity")))
        .withColumn("line", concat(
          date_format(col("ts"), "MMM "),
          lpad(date_format(col("ts"), "d"), 2, " "),
          date_format(col("ts"), " HH:mm:ss "),
          col("hostname"), lit(" "),
          col("syslogtag"), lit(" "),
          element_at(sevNames, col("severity") + 1), lit(":"), col("msg")))
        .groupBy(col("hostname"))
        .agg(count(lit(1)).as("n"), max(length(col("line"))).as("max_len"))
      val rates = (1 to nTrials).map { _ =>
        val t0 = System.nanoTime()
        shaped.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        actual / dt
      }
      input.unpersist()
      val (m, mad) = medMad(rates)
      System.err.println(
        f"[bench] trial_524288          median $m%.0f msgs/s  mad $mad%.0f  (${rates.size} trials)")
      rates
    } catch { case e: Throwable =>
      System.err.println(s"[bench] trial failed: ${e.getMessage}"); Seq.empty[Double]
    }
    val (trialMed, trialMad) = medMad(trialRates)
    // side-by-side reference anchor: benchmarks/ref_anchor/RESULTS.md
    // documents the attempt to build/run the reference engine on this
    // host; when a measured msgs/s exists it lands in ref_anchor.json as
    // {"ref_msgs_per_sec": N} and the ratio becomes a measurement.
    val anchorFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_ANCHOR", "benchmarks/ref_anchor/ref_anchor.json"))
    val refRate: Option[Double] =
      if (anchorFile.isFile) {
        val txt = scala.io.Source.fromFile(anchorFile).mkString
        "\"ref_msgs_per_sec\"\\s*:\\s*([0-9.eE+]+)".r
          .findFirstMatchIn(txt).map(_.group(1).toDouble)
      } else None
    val ratioJson = refRate match {
      case Some(r) if r > 0 =>
        f""""baseline_ratio":${trialMed / r}%.3f,"baseline_anchor":"measured","ref_msgs_per_sec":$r%.0f"""
      case _ =>
        """"baseline_ratio":1.0,"baseline_anchor":"assumed""""
    }
    // Host-speed calibration (VERDICT r12 #1): the 524k-trial rate on
    // FROZEN ingest code, ratioed against the r11 uncontended anchor,
    // names today's host factor explicitly so cross-round absolute
    // comparisons can be ratio-corrected (r12's artifact carried a ~2x
    // contended host and its absolutes were misread as regressions).
    // null (not 0.0) when the trial failed: a 0 reads as "infinitely
    // fast host" to any ratio-correcting consumer (ADVICE r13)
    val hostJson =
      if (trialMed > 0)
        f""""host_ref_msgs_per_sec":$hostRefMsgsPerSec%.0f,"host_factor":${hostRefMsgsPerSec / trialMed}%.3f"""
      else
        f""""host_ref_msgs_per_sec":$hostRefMsgsPerSec%.0f,"host_factor":null"""
    // cumulative progress lines: a kill mid-way still leaves the
    // completed sections parseable in the driver's output tail
    def progress(fields: String): Unit =
      println(f"""{"metric":"progress","elapsed_s":$elapsedS%.1f,"budget_s":$budgetS%.0f,"trial_msgs_per_sec":$trialMed%.0f,$hostJson,$ratioJson$fields}""")

    // ---- top-down wall plan (r15, VERDICT r14 #1b): allocations are
    // computed from the wall DOWN with the mandate guaranteed before
    // any optional spend. The parent keeps mainReserveS — the full
    // main loop must end with main_skipped = 0 (it DEGRADES to lean
    // single-trial mode under pressure, never skips; VERDICT r14 #5).
    // The child gets everything else and sheds internally in
    // mandate-last order: sf1 tail first, then sf10 mid/heavy, then
    // sf100 heavies — the mandate set (round-new + flagship sf10
    // entries + ≥3 sf100 spots) is the FIRST claimant, not the
    // residual one.
    // per-query 1.6 s covers warm-up + trials for the cheap tail and
    // amortizes the curated head's 5-6 s full runs; the cap keeps a
    // contended host from starving the child below its mandate floor
    // (r15 sim #3: a 1.15 s/query reserve at host_factor 1.64 pushed
    // 212 of 235 queries into lean mode — comparability prefers FULL
    // medians whenever the host allows)
    val nQAll = SparkEntry.queries.size
    val hostFNow = if (trialMed > 0) hostRefMsgsPerSec / trialMed else 1.5
    val mainReserveS = math.min(620.0, math.max(320.0,
      nQAll * 1.6 * math.min(math.max(hostFNow, 1.0), 2.2) + 45.0))

    // ---- standalone qscale section (VERDICT r14 #6; bench-only)
    if (args.contains("qscale")) {
      qscaleSection(spark, sfDir)
      spark.stop()
      return
    }

    // ---- standalone in-process scale sections (iteration workflow:
    // `runMain graft.Bench sf1|sf10|sf100`); the driver path runs them
    // in the child below instead
    val sparkScale =
      if (isDriverRun || args.exists(Set("sf1", "sf10", "sf100"))) {
        spark.stop()
        buildSession(cpus)
      } else spark
    val sparkScaleFinal: SparkSession = sparkScale
    val sf1On = !sys.env.get("SPARK_GRAFT_SF1").contains("off") &&
      (args.isEmpty || args.contains("sf1"))
    val sf10On = !sys.env.get("SPARK_GRAFT_SF10").contains("off") &&
      (args.isEmpty || args.contains("sf10"))
    val sf100On = !sys.env.get("SPARK_GRAFT_SF100").contains("off") &&
      (args.isEmpty || args.contains("sf100"))
    val (sf1JsonSA, sf1SummarySA, sf1TimesSA) =
      if (isDriverRun || !sf1On) ("", "", Map.empty[String, Double])
      else try {
        reclaim(sparkScale)
        val (full, short, times) = sf1Section(sparkScale, sfDir)
        ("," + full, "," + short, times)
      } catch { case e: Throwable =>
        System.err.println(s"[bench:sf1] section failed: ${e.getMessage}")
        ("", "", Map.empty[String, Double])
      }

    // ---- driver path: ONE child_scale JVM owns ALL scale sections
    // (sf1 → sf10 → sf100; VERDICT r14 #1a — the parent JVM's lazy
    // heap was re-inflating sf1 entries after the child was cured)
    if (isDriverRun) {
      // the child owns the host's cores and memory from here; the
      // parent only aggregates JSON until the main loop
      sparkScale.stop()
    }
    val childMarkers: Option[Map[String, String]] =
      if (!isDriverRun || (!sf1On && !sf10On && !sf100On)) None
      else {
        val grant = remainingS - mainReserveS - 15.0
        // 420 s ≈ child start + warm + absorber + the bare mandate set
        if (grant < 420.0) {
          System.err.println(
            f"[bench:scale] child skipped (grant $grant%.0fs under the 420s mandate floor)")
          None
        } else forkChild("child_scale", grant, None,
          if (trialMed > 0) Some(hostRefMsgsPerSec / trialMed) else None)
      }
    def fromChild(key: String, skipTag: String, on: Boolean): String =
      if (!on) ""
      else childMarkers.flatMap(_.get(key)).map("," + _)
        .getOrElse(
          if (isDriverRun) s""","$skipTag":"budget""""
          else "")
    val prepJson = childMarkers.flatMap(_.get("PREP")).map("," + _)
      .getOrElse("")
    val (sf1Json, sf1Summary, sf1Times) =
      if (isDriverRun)
        (fromChild("FULLSF1", "sf1_skipped", sf1On),
         fromChild("SHORTSF1", "sf1_skipped", sf1On),
         Map.empty[String, Double])
      else (sf1JsonSA, sf1SummarySA, sf1TimesSA)
    val (sf10Json, sf10Summary) =
      if (!sf10On) ("", "")
      else if (isDriverRun)
        (fromChild("FULL10", "sf10_skipped", sf10On),
         fromChild("SHORT10", "sf10_skipped", sf10On))
      else try {
        reclaim(sparkScale)
        val (full, short) =
          sf10Section(sparkScale, sfDir, sf1Times, 0.0)
        ("," + full, "," + short)
      } catch { case e: Throwable =>
        System.err.println(s"[bench:sf10] section failed: ${e.getMessage}"); ("", "")
      }
    val (sf100Json, sf100Summary) =
      if (!sf100On) ("", "")
      else if (isDriverRun)
        (fromChild("FULL100", "sf100_skipped", sf100On),
         fromChild("SHORT100", "sf100_skipped", sf100On))
      else try {
        val s = sparkScaleFinal
        reclaim(s)
        val (full, short) = sf100Spot(s, sfDir, forced = args.nonEmpty)
        ("," + full, "," + short)
      } catch { case e: Throwable =>
        System.err.println(s"[bench:sf100] section failed: ${e.getMessage}"); ("", "")
      }
    if (isDriverRun) progress(sf1Summary + sf10Summary + sf100Summary)

    // ---- main per-query loop LAST (r13 reorder): it self-truncates
    // against the wall instead of being killed by the driver's hard
    // timeout, and the curated sf1Names queries run FIRST so a
    // truncation drops only the stable scan-bound tail whose medians
    // have been flat every round.
    val sparkMain = if (isDriverRun) buildSession(cpus) else sparkScaleFinal
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(q => args.contains(q._1))
    val ordered = {
      val curated = sf1Names.filter(selected.contains)
      val tail = selected.keys.toSeq.filterNot(sf1Names.contains).sorted
      (curated ++ tail).map(n => n -> selected(n))
    }
    // NEVER skip a main-loop query (VERDICT r14 #5: main_skipped must
    // be 0 — 169 medians went missing in r14 and the round-over-round
    // comparability backbone broke). Under wall pressure the loop
    // DEGRADES instead: when the projected full-mode cost of the
    // remaining queries overruns the remaining wall, a query drops its
    // untimed warm-up and runs ONE cold trial. A cold number carries
    // the query's codegen in it — worse, but present and flagged
    // ("main_lean" counts them; mainSkipped stays in the JSON as the
    // zero the gate checks).
    var mainSkipped = 0
    var mainLean = 0
    var fullDone = 0
    var fullSpentS = 0.0
    var qIdx = 0
    val curatedCount = ordered.count(q => sf1Names.contains(q._1))
    val results = ordered.map { case (name, fn) =>
      val remQ = ordered.size - qIdx
      // projection blends the two populations (r15 sim #3: the
      // expensive curated head runs first, and projecting the cheap
      // ~160-query tail at the head's 5-6 s average tipped 212 queries
      // into lean mode at host_factor 1.64): remaining curated queries
      // at the measured full-mode average, the stable scan-bound tail
      // at min(avg, 1.6 s)
      val remCurated = math.max(0, curatedCount - qIdx)
      val remTail = remQ - remCurated
      val avgFullS = if (fullDone > 0) fullSpentS / fullDone else 2.2
      val projFullS = remCurated * avgFullS +
        remTail * math.min(avgFullS, 1.6)
      val lean = isDriverRun && remainingS < projFullS * 1.05
      val q0 = System.nanoTime()
      val trials = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      // one UNTIMED warm-up run per query (full mode): JIT/codegen/
      // classload of the query's own kernels otherwise lands in trial 1
      // and drags the median (observed: a regex+JSON kernel at 14.8s
      // cold vs 1.6s steady). The reference's methodology likewise
      // measures only warmed trials. The warm-up IS clocked — not
      // reported, but it anchors the single-trial anomaly check below.
      var warmS = 0.0
      if (!lean) {
        val w0 = System.nanoTime()
        try fn(sparkMain, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => failed = true }
        warmS = (System.nanoTime() - w0) / 1e9
      }
      var i = 0
      // shed to single-trial when the wall nears (contended host) —
      // and the ~160 stable scan-bound queries outside the curated
      // subset are single-trial always (MAD ~0 every round)
      val qTrials =
        if (lean) 1
        else if (args.isEmpty && (remainingS < 300 ||
          !sf1Names.contains(name))) 1
        else nTrials
      while (i < qTrials && !failed) {
        val t0 = System.nanoTime()
        try fn(sparkMain, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed = true
        }
        if (!failed) trials += (System.nanoTime() - t0) / 1e9
        i += 1
      }
      // single-trial anomaly insurance (full mode only — lean has no
      // warm anchor): one lone trial wildly over its own (warmed,
      // slower-by-construction) warm-up run is a scheduler/GC hiccup,
      // not the plan — sim r13 #3 recorded ruleset_recursion at 52.7 s
      // (1 trial) vs its every-other-run 0.9 s. One retry, report min.
      if (!lean && !failed && trials.size == 1 &&
          trials(0) > math.max(3 * warmS, warmS + 10)) {
        val t0 = System.nanoTime()
        try {
          fn(sparkMain, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[bench] $name anomaly retry: ${trials(0)}%.2fs -> $dt%.2fs")
          trials(0) = math.min(trials(0), dt)
        } catch { case _: Throwable => }
      }
      if (lean) mainLean += 1
      else { fullDone += 1; fullSpentS += (System.nanoTime() - q0) / 1e9 }
      qIdx += 1
      val (med, mad) = medMad(trials.toSeq)
      System.err.println(
        f"[bench] $name%-22s median $med%8.2fs  mad $mad%6.3fs  (${trials.size} trials${if (lean) ", lean" else ""})")
      (name, med, mad, trials.toSeq)
    }
    if (mainLean > 0)
      System.err.println(s"[bench] main loop degraded at the wall: $mainLean queries ran lean (cold single-trial)")
    val qs = results.map { case (k, m, _, _) => "\"" + k + f"""":$m%.3f""" }
      .mkString("{", ",", "}")
    val qstats = results.map { case (k, m, mad, ts) =>
      "\"" + k + "\":{\"median\":" + f"$m%.3f" + ",\"mad\":" + f"$mad%.3f" +
        ",\"trials\":" + fmtTrials(ts) + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // BASELINE.md anchor: end-to-end msgs/sec through the full ingest->
    // parse->filter->template pipeline (the 524,288-msg trial shape)
    val e2eRate = try {
      val nMsgs = Tables.events(sparkMain, sfDir).count()
      val secs = results.collectFirst { case ("pipeline_e2e", m, _, _) => m }
        .getOrElse(Double.NaN)
      if (secs > 0) nMsgs / secs else 0.0
    } catch { case _: Throwable => 0.0 }
    // main_skipped is ALWAYS emitted now (the gate checks for the 0);
    // main_lean counts the cold single-trial degradations
    val mainSkipJson =
      s""","main_skipped":$mainSkipped,"main_lean":$mainLean"""
    val trialStats = "{\"median\":" + f"$trialMed%.0f" + ",\"mad\":" +
      f"$trialMad%.0f" + ",\"trials\":" +
      trialRates.map(r => f"$r%.0f").mkString("[", ",", "]") + "}"
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_stats":$qstats,"bench_trials":$nTrials,"warmup_runs":1,"sf":"$sfDir","pipeline_msgs_per_sec":$e2eRate%.0f,"trial_msgs":524288,"trial_msgs_per_sec":$trialMed%.0f,"trial_msgs_per_sec_mad":$trialMad%.0f,"trial_stats":$trialStats,$hostJson,$ratioJson$mainSkipJson$prepJson$sf1Json$sf10Json$sf100Json}"""
    // flat per-section query maps for the summary line: the driver's
    // scaling comparison wants {name: sec} maps it can read without
    // digging into the nested section objects
    val sfQueriesJson =
      sectionQueries(sf1Json).map(q => s""","sf1_queries":$q""").getOrElse("") +
      sectionQueries(sf10Json).map(q => s""","sf10_queries":$q""").getOrElse("") +
      sectionQueries(sf100Json).map(q => s""","sf100_queries":$q""").getOrElse("")
    // VERDICT r15 #1 (the driver-parse contract): the summary line now
    // carries the top-level "queries" map of main-loop medians — the
    // driver parses ONE JSON line of the shape {"metric":...,"value":N,
    // "unit":"sec","queries":{name:sec,...},"sf":...} and r14/r15 both
    // came back parsed:null because the only line with "queries" was the
    // huge "total" line and neither line was the final unprefixed one.
    val summaryLine = f"""{"metric":"summary","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","trial_msgs_per_sec":$trialMed%.0f,"trial_msgs_per_sec_mad":$trialMad%.0f,"pipeline_msgs_per_sec":$e2eRate%.0f,$hostJson,$ratioJson$mainSkipJson$sf1Summary$sf10Summary$sf100Summary$sfQueriesJson}"""
    println(fullLine)
    // plain-file copy (VERDICT r15 #1): the full result survives any
    // stdout mangling by the launcher
    try {
      val outPath = sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "benchmarks/bench_result.json")
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try { w.println(fullLine); w.println(summaryLine) } finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] result-file write failed: ${e.getMessage}")
    }
    sparkMain.stop()
    // FINAL stdout line = the raw parseable JSON; printed after
    // spark.stop() so nothing can land after it. build.sbt's
    // StdoutOutput/showSuccess keep sbt from prefixing or appending.
    println(summaryLine)
    System.out.flush()
  }

  /** Pull the embedded "queries":{...} object out of a section's full
    * JSON string (balanced-brace scan; the map holds only numbers and
    * nulls, so brace counting is exact). */
  private def sectionQueries(sectionJson: String): Option[String] = {
    val key = "\"queries\":"
    val i = sectionJson.indexOf(key)
    if (i < 0) None
    else {
      val start = i + key.length
      if (start >= sectionJson.length || sectionJson.charAt(start) != '{') None
      else {
        var depth = 0; var j = start; var end = -1
        while (j < sectionJson.length && end < 0) {
          val c = sectionJson.charAt(j)
          if (c == '{') depth += 1
          else if (c == '}') { depth -= 1; if (depth == 0) end = j }
          j += 1
        }
        if (end < 0) None else Some(sectionJson.substring(start, end + 1))
      }
    }
  }
}
