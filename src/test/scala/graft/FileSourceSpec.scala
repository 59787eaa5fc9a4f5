package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.Sources

/** imfile-lite / omfile round trip through real files — the file-source
  * analogue of the reference's startup→inject→assert testbench pattern.
  */
class FileSourceSpec extends SparkSpec {
  import spark.implicits._

  test("imfile addMetadata: $!metadata!filename and line_number") {
    // tests/imfile-metadata-line-number.sh: each line carries its file
    // and 1-based line number under $!metadata
    val dir = graft.Tmp.dir("graft_imfile_meta")
    val f = dir.resolve("in.log")
    Files.writeString(f, "msgnum:00000000:\nmsgnum:00000001:\nmsgnum:00000002:\n")
    try {
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        s"""module(load="imfile")
           |input(type="imfile" tag="file:" file="${f.toString}" addMetadata="on")
           |template(name="outfmt" type="string" string="%msg:F,58:2% line:%$$!metadata!line_number%")
           |if $$msg contains "msgnum:" then
           |	action(type="omfile" template="outfmt")
           |""".stripMargin)
      val out = cfg.activate(spark)("").actionFrame(0)
        .select("__rendered").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("00000000 line:1", "00000001 line:2", "00000002 line:3"))
      // filename metadata rides too
      val fn = cfg.activate(spark)("").frame
        .select(get_json_object(col("vars_msg"), "$.metadata.filename"))
        .collect().head.getString(0)
      assert(fn != null && fn.endsWith("in.log"))
    } finally {
      Files.deleteIfExists(f); Files.deleteIfExists(dir)
    }
  }

  test("imfile addMetadata: line_number stays the file's line number across splits") {
    // a 5 MiB file reads as four splits at local[4]; the window numbers
    // lines in read order, so the splits must keep the file's order
    val dir = graft.Tmp.dir("graft_imfile_meta_split")
    val f = dir.resolve("in.log")
    val empty = 30001
    val fileLines = (1 to 60000).map(i => if (i == empty) "" else f"msgnum:$i%08d:" + "x" * 70)
    Files.writeString(f, fileLines.mkString("", "\n", "\n"))
    try {
      assert(spark.read.text(f.toString).rdd.getNumPartitions == 4)
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        s"""module(load="imfile")
           |input(type="imfile" tag="file:" file="${f.toString}" addMetadata="on")
           |template(name="outfmt" type="string" string="%msg:F,58:2% %$$!metadata!line_number%")
           |action(type="omfile" template="outfmt")
           |""".stripMargin)
      val out = cfg.activate(spark)("").actionFrame(0)
        .select("__rendered").as[String].collect().sorted.toSeq
      assert(out == (1 to 60000).filter(_ != empty).map(i => f"$i%08d $i"))
    } finally {
      Files.deleteIfExists(f); Files.deleteIfExists(dir)
    }
  }

  test("omfileText writes exactly the template's bytes (one LF per record)") {
    val spool = graft.Tmp.dir("graft_omfile_exact")
    Files.writeString(spool.resolve("a.log"),
      "<13>Mar  1 01:02:03 hostX su[7]: parsed body\n<78>Mar  1 01:02:04 hostY cron: job\n")
    val cfg = graft.rainerscript.RsyslogConfig.parse(
      s"""module(load="imfile")
         |input(type="imfile" file="$spool/*.log" tag="t:" needparse="on")
         |$$ActionFileDefaultTemplate RSYSLOG_TraditionalFileFormat
         |*.*                             /var/log/syslog
         |""".stripMargin)
    val out = graft.Tmp.dir("graft_omfile_exact_out").resolve("syslog")
    Sources.omfileText(cfg.activate(spark)("").actionFrame(0), "__rendered", out.toString)
    val parts = Files.list(out).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
    val bytes = parts.map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString
    assert(bytes == "Mar  1 01:02:03 hostX su[7]: parsed body\n" +
      "Mar  1 01:02:04 hostY cron: job\n")
  }

  private def lines(xs: Seq[String], partitions: Int) =
    spark.sparkContext.parallelize(xs, partitions).toDF("l")
  private def partFiles(d: java.nio.file.Path): Seq[java.nio.file.Path] =
    d.toFile.listFiles().toSeq.map(_.toPath)
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
  private def written(d: java.nio.file.Path): String =
    partFiles(d).map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString

  test("omfileText: a later write replaces the whole directory") {
    val out = graft.Tmp.dir("graft_omfile_replace").resolve("o")
    Sources.omfileText(lines(Seq("a", "b", "c"), 3), "l", out.toString)
    assert(partFiles(out).size == 3 && written(out) == "a\nb\nc\n")
    Sources.omfileText(lines(Seq("z"), 1), "l", out.toString)
    assert(out.toFile.list().toSeq == Seq("part-00000"))
    assert(written(out) == "z\n")
  }

  test("omfileText: sorted part files concatenate in input order") {
    val out = graft.Tmp.dir("graft_omfile_order").resolve("o")
    Sources.omfileText(spark.range(0, 1000, 1, 7).select(col("id").cast("string").as("l")),
      "l", out.toString)
    assert(partFiles(out).map(_.getFileName.toString) == (0 until 7).map(i => f"part-$i%05d"))
    assert(written(out) == (0 until 1000).map(i => s"$i\n").mkString)
  }

  test("omfileText: LF appended unless present; null is a bare LF") {
    val out = graft.Tmp.dir("graft_omfile_lf").resolve("o")
    Seq[(String, String)]((null, "\n"), ("", "\n"), ("a", "a\n"), ("a\n", "a\n"))
      .foreach { case (in, want) =>
        Sources.omfileText(lines(Seq(in), 1), "l", out.toString)
        assert(written(out) == want, s"record ${Option(in).map(_.replace("\n", "\\n"))}")
      }
  }

  test("omfileText: an empty frame leaves an empty directory") {
    val out = graft.Tmp.dir("graft_omfile_empty").resolve("o")
    Sources.omfileText(lines(Seq("old"), 1), "l", out.toString)
    Sources.omfileText(lines(Nil, 3), "l", out.toString)
    assert(out.toFile.isDirectory && out.toFile.list().isEmpty)
    assert(spark.read.text(out.toString).count() == 0)
  }

  test("omfileText: a failed job keeps the previous output and leaves no stage") {
    val base = graft.Tmp.dir("graft_omfile_fail")
    val out = base.resolve("o")
    Sources.omfileText(lines(Seq("old"), 1), "l", out.toString)
    val failing = spark.range(0, 100, 1, 4).select(
      when(col("id") === 50, raise_error(lit("boom"))).otherwise(col("id").cast("string")).as("l"))
    intercept[Exception](Sources.omfileText(failing, "l", out.toString))
    assert(written(out) == "old\n")
    assert(base.toFile.list().toSeq == Seq("o"))
  }

  test("omfileText: the output holds only part files") {
    val out = graft.Tmp.dir("graft_omfile_clean").resolve("o")
    Sources.omfileText(lines(Seq("a", "b", "c", "d"), 2), "l", out.toString)
    assert(out.toFile.list().sorted.toSeq == Seq("part-00000", "part-00001"))
  }

  test("omfileText: a non-local URI fails before any job runs") {
    val e = intercept[IllegalArgumentException](
      Sources.omfileText(lines(Seq("a"), 1), "l", "hdfs://namenode:8020/var/log/x"))
    assert(e.getMessage.contains("local files only"))
    // file: URIs are local
    val out = graft.Tmp.dir("graft_omfile_uri").resolve("o")
    Sources.omfileText(lines(Seq("a"), 1), "l", out.toUri.toString)
    assert(written(out) == "a\n")
  }

  test("omfileText: one SQL execution; task output metrics count the part files' bytes and the rows") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler._
    val group = "graft-omfile-metrics"
    val jobs, stages = ConcurrentHashMap.newKeySet[Int]()
    val executions = ConcurrentHashMap.newKeySet[String]()
    val bytes, records = new AtomicLong
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId); e.stageIds.foreach(stages.add)
          Option(e.properties.getProperty("spark.sql.execution.id")).foreach(executions.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
          records.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) done.countDown()
    }
    val sc = spark.sparkContext
    val out = graft.Tmp.dir("graft_omfile_metrics").resolve("o")
    val rows = Seq("x", "yy\n", null, "ünï", "", "zz")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "omfileText output metrics")
    try Sources.omfileText(lines(rows, 3), "l", out.toString)
    finally sc.clearJobGroup()
    try assert(done.await(30, TimeUnit.SECONDS), "job end not seen")
    finally sc.removeSparkListener(listener)
    assert(jobs.size == 1 && executions.size == 1)
    assert(bytes.get == partFiles(out).map(Files.size(_)).sum)
    assert(records.get == rows.size)
  }

  /** The QueryExecutions of the first `n` `omfileText` writes `body`
    * runs; the listener bus delivers them on its own thread. */
  private def writePlans(n: Int)(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        if (name == "omfileText") seen.add(qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      (1 to n).map { _ =>
        val qe = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(qe != null, "write not seen")
        qe
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("omfileText: two writes of one frame plan it once") {
    val frame = lines(Seq("a", "b", "c"), 2)
    val out = graft.Tmp.dir("graft_omfile_plan_once")
    val Seq(first, second) = writePlans(2) {
      Sources.omfileText(frame, "l", out.resolve("x").toString)
      Sources.omfileText(frame, "l", out.resolve("y").toString)
    }
    assert(first eq second, "each write planned the frame anew")
    assert(first.executedPlan eq second.executedPlan)
    assert(written(out.resolve("x")) == "a\nb\nc\n" && written(out.resolve("y")) == "a\nb\nc\n")
  }

  test("omfileText: a frame that reads the clock is planned per write") {
    val frame = spark.range(1).select(current_timestamp().cast("string").as("l"))
    val out = graft.Tmp.dir("graft_omfile_clock")
    val Seq(first, second) = writePlans(2) {
      Sources.omfileText(frame, "l", out.resolve("x").toString)
      Thread.sleep(20)
      Sources.omfileText(frame, "l", out.resolve("y").toString)
    }
    assert(first ne second)
    assert(written(out.resolve("x")) != written(out.resolve("y")),
      "the second write repeated the first write's time")
  }

  /** Writes a fresh frame twice and returns a weak reference to it. */
  private def writtenTwice(out: java.nio.file.Path): java.lang.ref.WeakReference[AnyRef] = {
    val frame = lines(Seq("a"), 1)
    Sources.omfileText(frame, "l", out.toString)
    Sources.omfileText(frame, "l", out.toString)
    new java.lang.ref.WeakReference(frame)
  }

  test("omfileText: a written frame that is no longer referenced is collected") {
    val ref = writtenTwice(graft.Tmp.dir("graft_omfile_gc").resolve("o"))
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get == null, "the plan memo keeps the frame alive")
  }

  test("imfile skips exactly-empty lines (imfile.c enqLine)") {
    val spool = graft.Tmp.dir("graft_imfile_empty")
    Files.writeString(spool.resolve("a.log"), "first\n\n third\n")
    Seq("off", "on").foreach { needparse =>
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        s"""module(load="imfile")
           |input(type="imfile" file="$spool/*.log" tag="t:" needparse="$needparse")
           |*.* /var/log/syslog
           |""".stripMargin)
      val rows = cfg.activate(spark)("").actionFrame(0).select("rawmsg")
        .as[String].collect().sorted.toSeq
      assert(rows == Seq(" third", "first"), s"needparse=$needparse")
    }
  }

  test("imjournal decode: field mapping, fallbacks, dup-key last-wins") {
    val full = "__REALTIME_TIMESTAMP=1700000000000000\nMESSAGE=hello world\n" +
      "PRIORITY=3\nSYSLOG_FACILITY=10\nSYSLOG_IDENTIFIER=sshd\n" +
      "SYSLOG_PID=42\n_PID=999\n_HOSTNAME=web1\nFOO=first\nFOO=second"
    val fallback = "MESSAGE=from comm\n_COMM=kworker\n_PID=7\nPRIORITY=99\n" +
      "SYSLOG_FACILITY=24"
    val bare = "_TRANSPORT=kernel" // no MESSAGE/iden/pid at all
    val out = Sources.imjournalDecode(Seq(full, fallback, bare).toDF("value"))
      .select("severity", "facility", "syslogtag", "msg", "procid",
        "vars_msg", "ts").collect()
    // full: every explicit field honored, SYSLOG_PID wins over _PID
    assert(out(0).getInt(0) == 3 && out(0).getInt(1) == 10)
    assert(out(0).getString(2) == "sshd[42]:")
    assert(out(0).getString(3) == "hello world")
    assert(out(0).getString(4) == "42")
    assert(out(0).getAs[java.sql.Timestamp]("ts").toInstant.toString
      == "2023-11-14T22:13:20Z")
    // dup key: LAST occurrence wins (fjson object_add replace)
    assert(get_json(out(0).getString(5), "$.FOO") == "second")
    // meta fields stay out of the $! tree; data fields are all in
    assert(get_json(out(0).getString(5), "$.__REALTIME_TIMESTAMP") == null)
    assert(get_json(out(0).getString(5), "$.MESSAGE") == "hello world")
    // fallback: _COMM identifier, _PID pid, out-of-bounds PRIORITY (99)
    // and SYSLOG_FACILITY (24) reset to the notice/user defaults
    assert(out(1).getInt(0) == 5 && out(1).getInt(1) == 1)
    assert(out(1).getString(2) == "kworker[7]:")
    // bare: default "journal" tag without pid, empty message, null ts
    assert(out(2).getString(2) == "journal:")
    assert(out(2).getString(3) == "")
    assert(out(2).get(6) == null)
  }

  test("octet-counted framing round-trips, byte-length for unicode") {
    val msgs = Seq("<13>Mar  1 01:00:00 h t: hi", "plain", "ünïcödé msg")
    val df = msgs.toDF("m")
    val framed = df.select(Sources.frameOctetCounted(col("m")).as("value"))
    val back = Sources.deframeOctetCounted(framed)
      .collect().map(_.getString(0))
    assert(back.toSeq == msgs)
    // the length prefix counts BYTES (RFC6587), not chars
    val uf = framed.collect().map(_.getString(0)).find(_.contains("ünïcödé")).get
    assert(uf.startsWith("ünïcödé msg".getBytes("UTF-8").length + " "))
  }

  test("esBulkFrame: action+doc NDJSON pairs, escaping, create verb") {
    val df = Seq(("idx\"odd", "k1", """{"a":1}"""), ("plain", "k2", """{"b":2}"""))
      .toDF("idx", "id", "doc")
    val bulk = Sources.esBulkFrame(df, "idx", "doc", idCol = Some("id"))
      .collect().map(_.getString(0))
    // index value with a quote is JSON-escaped, not mangled
    assert(bulk(0) == "{\"index\":{\"_index\":\"idx\\\"odd\",\"_id\":\"k1\"}}\n{\"a\":1}")
    assert(bulk(1) == "{\"index\":{\"_index\":\"plain\",\"_id\":\"k2\"}}\n{\"b\":2}")
    val create = Sources.esBulkFrame(df.limit(1), "idx", "doc", create = true)
      .collect()(0).getString(0)
    assert(create.startsWith("{\"create\":{\"_index\":"))
    assert(!create.contains("_id")) // no id column → ES assigns
    // null index/id must not collapse to_json's struct to "{}" (which
    // would splice an empty value into the action line): null index
    // falls back to the ES default index name, null id to ""
    val nulls = Seq((null: String, null: String, """{"c":3}"""))
      .toDF("idx", "id", "doc")
    val nb = Sources.esBulkFrame(nulls, "idx", "doc", idCol = Some("id"))
      .collect()(0).getString(0)
    assert(nb == "{\"index\":{\"_index\":\"system\",\"_id\":\"\"}}\n{\"c\":3}")
  }

  test("imjournal dfltTag with quote/backslash survives codegen") {
    // JournalEntryExpr routes dfltTag through a codegen reference object
    // — a verbatim splice of this tag would produce uncompilable Java
    val out = Sources.imjournalDecode(
      Seq("MESSAGE=hi").toDF("value"), dfltTag = "we\"ird\\tag")
      .select("syslogtag", "msg").collect()(0)
    assert(out.getString(0) == "we\"ird\\tag:")
    assert(out.getString(1) == "hi")
  }

  private def get_json(j: String, path: String): String = {
    val r = Seq(j).toDF("j")
      .select(get_json_object(col("j"), path)).collect()(0)
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("file source → decode → template → file sink round trip") {
    val inDir = graft.Tmp.dir("graft_in").toFile
    val outDir = new java.io.File(
      graft.Tmp.dir("graft_out").toFile, "out")
    val lines = (0 until 100).map(i =>
      f"<${8 * (i % 24) + i % 8}%d>Mar  1 01:00:00 host$i%d app[$i%d]: msgnum:$i%08d:")
    Files.write(new java.io.File(inDir, "a.log").toPath,
      String.join("\n", lines: _*).getBytes)

    val decoded = Sources.decodeSyslog(Sources.fileLines(spark, inDir.getAbsolutePath))
    assert(decoded.count() == 100)
    assert(decoded.filter(col("parsesuccess")).count() == 100)
    assert(decoded.filter(col("hostname").startsWith("host")).count() == 100)

    val rendered = decoded.withColumn("line",
      graft.templates.TemplateCompiler.compile(
        "%hostname% %syslogtag%%msg%", col))
    Sources.omfileText(rendered, "line", outDir.getAbsolutePath)
    val back = spark.read.text(outDir.getAbsolutePath)
    assert(back.count() == 100)
    // msg keeps its leading space (reference semantics) -> "]: msgnum"
    assert(back.filter(col("value").rlike("^host\\d+ app\\[\\d+\\]: msgnum:")).count() == 100)
  }

  test("reception sanitize: CR-drop option, control-char octal escaping default") {
    import spark.implicits._
    val lines = Seq("<13>Mar  1 01:00:00 h a: m\r").toDF("value")
    // default: CR kept (drop is opt-in) and escaped #015 (EscapeCCOnRcv=1)
    val kept = Sources.decodeSyslog(lines).collect()(0)
    assert(kept.getAs[String]("msg") == " m#015")
    val dropped = Sources.decodeSyslog(lines,
      sanitize = Sources.SanitizeOpts(dropTrailingCr = true)).collect()(0)
    assert(dropped.getAs[String]("msg") == " m")
    // tab escapes as #011 (snare's wire format under default settings);
    // 8-bit chars pass through (Escape8BitCharacters default off)
    val tab = Seq("<13>Mar  1 01:00:00 h a: x\ty ü").toDF("value")
    val t = Sources.decodeSyslog(tab).collect()(0)
    assert(t.getAs[String]("msg") == " x#011y ü")
    val ccoff = Sources.decodeSyslog(tab,
      sanitize = Sources.SanitizeOpts(escapeCC = false)).collect()(0)
    assert(ccoff.getAs[String]("msg") == " x\ty ü")
  }

  test("dynafile ≡ partitioned write by computed columns") {
    val outDir = new java.io.File(
      graft.Tmp.dir("graft_dyna").toFile, "part")
    import spark.implicits._
    val df = Seq((0, "err", "m0"), (1, "info", "m1"), (2, "err", "m2"))
      .toDF("id", "sev", "msg")
    Sources.omfilePartitioned(df, outDir.getAbsolutePath, Seq("sev"))
    val dirs = outDir.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("sev=err", "sev=info"))
    assert(spark.read.parquet(outDir.getAbsolutePath).count() == 3)
  }

  test("streaming fileTail processes appended files") {
    val inDir = graft.Tmp.dir("graft_stream").toFile
    Files.write(new java.io.File(inDir, "one.log").toPath,
      "<13>Mar  1 01:00:00 h1 a: first\n<13>Mar  1 01:00:00 h2 b: second".getBytes)
    val q = Sources.decodeSyslog(Sources.fileTail(spark, inDir.getAbsolutePath))
      .writeStream.format("memory").queryName("tail_out").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("tail_out")
    assert(out.count() == 2)
    assert(out.filter(col("msg") === " first").count() == 1)
  }

  test("omhttp batch shaping: all four formats, parse-drop, order") {
    // three valid messages + one malformed in a single batch, arriving
    // out of id order — the serializers must drop the malformed one for
    // the JSON formats, keep it for newline, and sort by the order col
    val rows = Seq(
      (0L, 3L, """{"n":3}"""),
      (0L, 1L, """{"n":1}"""),
      (0L, 2L, "not json"),
      (0L, 4L, """{"n":4}""")).toDF("b", "id", "m")
    def run(fmt: String): String =
      Sources.omhttpBatch(rows, "m", "b", "id", fmt).collect()(0).getString(1)
    assert(run("newline") == "{\"n\":1}\nnot json\n{\"n\":3}\n{\"n\":4}")
    assert(run("jsonarray") == """[{"n":1},{"n":3},{"n":4}]""")
    assert(run("kafkarest") ==
      """{"records":[{"value":{"n":1}},{"value":{"n":3}},{"value":{"n":4}}]}""")
    assert(run("lokirest") == """{"streams":[{"n":1},{"n":3},{"n":4}]}""")
  }

  test("omjournal frame: field set + decode round trip (PRIORITY quirk)") {
    // kern (facility 0) survives the PRIORITY=(fac*8|sev) quirk intact;
    // a nonzero facility pushes PRIORITY out of 0-7 and imjournal's
    // bounds check then applies its default severity (notice) — exactly
    // what the reference pair does to itself
    val src = Seq((0, 3, "ker: boom", "ktag"), (10, 3, "sec msg", "stag"))
      .toDF("facility", "severity", "msg", "syslogtag")
    val entries = Sources.omjournalFrame(src)
      .select(col("journal_entry").as("value"))
    assert(entries.collect()(0).getString(0) ==
      "MESSAGE=ker: boom\nPRIORITY=3\nSYSLOG_FACILITY=0\nSYSLOG_IDENTIFIER=ktag")
    val rt = Sources.imjournalDecode(entries)
      .select("facility", "severity", "msg", "syslogtag").collect()
    assert(rt(0).getInt(0) == 0 && rt(0).getInt(1) == 3)
    assert(rt(0).getString(2) == "ker: boom")
    assert(rt(0).getString(3) == "ktag:")
    // facility 10 round-trips; PRIORITY=83 is out of bounds → notice
    assert(rt(1).getInt(0) == 10 && rt(1).getInt(1) == 5)
  }

  test("imfile ignoreOlderThan skips stale files (imfile-ignore-old-file.sh)") {
    val dir = graft.Tmp.dir("graft_imfile_old")
    val fresh = dir.resolve("fresh.log")
    val old = dir.resolve("old.log")
    Files.writeString(fresh, "msgnum:new:\n")
    Files.writeString(old, "msgnum:old:\n")
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L))
    try {
      val cfg = graft.rainerscript.RsyslogConfig.parse(
        s"""module(load="imfile")
           |input(type="imfile" tag="file:" file="${dir.toString}/*.log" ignoreOlderThan="600")
           |action(type="omfile")
           |""".stripMargin)
      val msgs = cfg.activate(spark)("").frame
        .select("msg").collect().map(_.getString(0)).toSeq
      assert(msgs == Seq("msgnum:new:"), msgs.toString)
      // without the param both files read
      val cfg2 = graft.rainerscript.RsyslogConfig.parse(
        s"""module(load="imfile")
           |input(type="imfile" tag="file:" file="${dir.toString}/*.log")
           |action(type="omfile")
           |""".stripMargin)
      assert(cfg2.activate(spark)("").frame.count() == 2)
    } finally {
      Files.deleteIfExists(fresh); Files.deleteIfExists(old)
      Files.deleteIfExists(dir)
    }
  }
}
