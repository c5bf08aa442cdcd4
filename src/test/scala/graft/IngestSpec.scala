package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.ingest.{AuditIngest, AuditModel, SettleGate}
import graft.sinks.ShipSinks
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** End-to-end golden test of the ingest pipeline (SURVEY.md §5 item 3):
  * settle gate → streaming file source → envelope → mirror/DLQ split →
  * delete-after-commit → checkpoint restart redelivers nothing.
  */
class IngestSpec extends SparkSuite {

  private val Host = "testhost"

  private def writeXml(dir: Path, name: String, complete: Boolean): Path = {
    val body =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Audit>
        | <AuditRecord><Audit_Type>1</Audit_Type><Session_Id>42</Session_Id>
        |  <DB_User>SCOTT</DB_User><Action>3</Action><Returncode>0</Returncode>
        |  <Sql_Text>SELECT 1 FROM dual</Sql_Text></AuditRecord>
        | <AuditRecord><Audit_Type>1</Audit_Type><Session_Id>43</Session_Id>
        |  <DB_User>HR</DB_User><Action>2</Action><Returncode>0</Returncode>
        |  <Sql_Text>UPDATE t SET x = 1</Sql_Text></AuditRecord>
        |</Audit>
        |""".stripMargin
    val text = if (complete) body else body.substring(0, body.length / 2)
    Files.writeString(dir.resolve(name), text)
  }

  /** Run `body` with `listener` on `s`'s context. Returns once the
    * listener has heard every event `body` caused: a marker listener
    * registered after it sees a marker job run after `body`, and the
    * listener bus delivers each event to its listeners in registration
    * order.
    */
  private def listening(s: SparkSession, listener: SparkListener)(body: => Unit): Unit = {
    val marked = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "listener-marker"))
          marked.countDown()
    }
    s.sparkContext.addSparkListener(listener)
    s.sparkContext.addSparkListener(marker)
    try {
      body
      s.sparkContext.setJobDescription("listener-marker")
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.setJobDescription(null)
      assert(marked.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
    } finally {
      s.sparkContext.removeSparkListener(marker)
      s.sparkContext.removeSparkListener(listener)
    }
  }

  test("settle gate moves only settled xml files, atomically") {
    val raw = tmpDir("raw"); val ingest = tmpDir("ingest")
    writeXml(raw, "orcl_ora_111_1.xml", complete = true)
    writeXml(raw, "orcl_ora_222_2.xml", complete = true)
    Files.writeString(raw.resolve("not_audit.txt"), "ignored")
    // poison: a directory squats on this file's target name, so its
    // rename fails on every tick — it must not stall the others
    writeXml(raw, "orcl_ora_333_3.xml", complete = true)
    Files.createDirectory(ingest.resolve("orcl_ora_333_3.xml"))

    // nothing settles when everything is too fresh
    val t0 = System.currentTimeMillis()
    assert(SettleGate.tick(raw, ingest, settleMs = 60000, now = () => t0).isEmpty)
    // an interrupted caller (a mover being stopped) starts no move
    Thread.currentThread().interrupt()
    val whileInterrupted =
      try SettleGate.tick(raw, ingest, settleMs = 60000, now = () => t0 + 120000)
      finally Thread.interrupted()
    assert(whileInterrupted.isEmpty)
    assert(Files.exists(raw.resolve("orcl_ora_111_1.xml")))
    // everything settles once the clock passes the settle window, and
    // the poison file is skipped without failing the tick
    val moved = SettleGate.tick(raw, ingest, settleMs = 60000, now = () => t0 + 120000)
    assert(moved.toSet == Set("orcl_ora_111_1.xml", "orcl_ora_222_2.xml"))
    assert(Files.exists(raw.resolve("orcl_ora_333_3.xml")))
    assert(Files.exists(raw.resolve("not_audit.txt"))) // non-xml untouched
    assert(!Files.exists(raw.resolve("orcl_ora_111_1.xml")))
    assert(Files.exists(ingest.resolve("orcl_ora_111_1.xml")))
    // once the squatter is gone the poison file moves on the next tick
    Files.delete(ingest.resolve("orcl_ora_333_3.xml"))
    assert(SettleGate.tick(raw, ingest, settleMs = 60000, now = () => t0 + 120000) ==
      Seq("orcl_ora_333_3.xml"))
  }

  test("a mover whose ticks fail warns once, and again only after a tick succeeds") {
    val warnings = new ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("settle-gate-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // a logger config of the test's own, at WARN whatever the root level
    val ctx = LoggerContext.getContext(false)
    val name = SettleGate.getClass.getName
    val loggerConfig = new LoggerConfig(name, Level.WARN, false)
    loggerConfig.addAppender(capture, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, loggerConfig)
    ctx.updateLoggers()
    val raw = tmpDir("gone_raw"); val ingest = tmpDir("gone_ingest")
    val mover = SettleGate.startMover(raw, ingest, settleMs = 0, pollMs = 20)
    try {
      Files.delete(raw)
      assert(await(warnings.size == 1), "a failing tick logged nothing")
      assert(warnings.peek().contains(raw.toString), warnings.peek())
      Thread.sleep(300) // about 15 more failing ticks
      assert(warnings.size == 1, s"each failing tick warned: $warnings")
      // a tick that succeeds re-arms the warning
      Files.createDirectory(raw)
      writeXml(raw, "orcl_ora_1_1.xml", complete = true)
      assert(await(Files.exists(ingest.resolve("orcl_ora_1_1.xml"))), "mover never recovered")
      Files.delete(raw)
      assert(await(warnings.size == 2), s"a second failure after a success logged nothing: $warnings")
      Thread.sleep(300)
      assert(warnings.size == 2, s"each failing tick warned: $warnings")
    } finally {
      mover.interrupt(); mover.join(5000)
      ctx.getConfiguration.removeLogger(name); ctx.updateLoggers(); capture.stop()
    }
    assert(!mover.isAlive)
  }

  test("streaming ingest: mirror complete, DLQ truncated, delete source, idempotent restart") {
    val ingest = tmpDir("ingest"); val mirror = tmpDir("mirror")
    val dlq = tmpDir("dlq"); val ckpt = tmpDir("ckpt")
    writeXml(ingest, "orcl_ora_100_1.xml", complete = true)
    writeXml(ingest, "orcl_ora_200_2.xml", complete = true)
    writeXml(ingest, "orcl_ora_300_3.xml", complete = false)

    val q = AuditIngest.startStream(spark, ingest.toString, mirror.toString,
      dlq.toString, ckpt.toString, Host, triggerMs = 100)
    try q.processAllAvailable() finally q.stop()

    val m = spark.read.parquet(mirror.toString)
    assert(m.count() == 2)
    // R8 key contract + R6 newline strip + R4 pid lineage
    val row = m.filter(col("src_file").endsWith("orcl_ora_100_1.xml"))
      .select("key", "value", "src_pid", "src_file").head()
    assert(row.getString(0) == s"$Host:${row.getString(3)}")
    assert(!row.getString(1).contains("\n"))
    assert(row.getString(1).endsWith("</Audit>"))
    assert(row.getString(2) == "100")

    val d = spark.read.parquet(dlq.toString)
    assert(d.count() == 1)
    assert(d.head().getAs[String]("src_file").endsWith("orcl_ora_300_3.xml"))

    // R14: cleanSource=delete removes batch N's files when the source
    // commits N — at batch N+1 construction, strictly after the commit
    // log records N. Feed a batch N+1 and watch batch 0's files go.
    assert(Files.exists(ingest.resolve("orcl_ora_100_1.xml")),
      "batch-0 files must survive until their commit is recorded")
    writeXml(ingest, "orcl_ora_400_4.xml", complete = true)
    val q1b = AuditIngest.startStream(spark, ingest.toString, mirror.toString,
      dlq.toString, ckpt.toString, Host, triggerMs = 100)
    try {
      q1b.processAllAvailable()
      var waited = 0
      while (Files.exists(ingest.resolve("orcl_ora_100_1.xml")) && waited < 15000) {
        Thread.sleep(100); waited += 100
      }
    } finally q1b.stop()
    assert(!Files.exists(ingest.resolve("orcl_ora_100_1.xml")))
    assert(!Files.exists(ingest.resolve("orcl_ora_300_3.xml")))
    assert(spark.read.parquet(mirror.toString).count() == 3)

    // checkpoint restart: no new files ⇒ nothing redelivered
    val q2 = AuditIngest.startStream(spark, ingest.toString, mirror.toString,
      dlq.toString, ckpt.toString, Host, triggerMs = 100)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(mirror.toString).count() == 3)

    // Q32: the mirrored payload parses into §1.2 audit records
    val recs = AuditModel.parseAuditXml(
      spark.read.parquet(mirror.toString), "value")
    assert(recs.count() == 6) // 3 complete files × 2 AuditRecords
    assert(recs.select("rec.DB_User").as[String](spark.implicits.newStringEncoder)
      .collect().toSet == Set("SCOTT", "HR"))
  }

  test("a batch over Spark's parallel-listing threshold is listed on the driver, each file once") {
    // a fresh session: the threshold starts at Spark's default of 32
    val s = spark.newSession()
    val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert(s.conf.get(listingThreshold) == "32")
    val ingest = tmpDir("listing_in"); val mirror = tmpDir("listing_mir")
    val dlq = tmpDir("listing_dlq"); val ckpt = tmpDir("listing_ckpt")
    val names = (1 to 40).map(i => s"orcl_ora_${1000 + i}_$i.xml")
    names.zipWithIndex.foreach { case (n, i) => writeXml(ingest, n, complete = i >= 2) }

    // every job description the session's context starts
    val descriptions = new ConcurrentLinkedQueue[String]
    listening(s, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }) {
      val q = AuditIngest.startStream(s, ingest.toString, mirror.toString,
        dlq.toString, ckpt.toString, Host, triggerMs = 100)
      try q.processAllAvailable() finally q.stop()
    }

    val listings = descriptions.toArray(Array.empty[String]).toSeq
      .filter(d => d.startsWith("Listing leaf files") && d.contains(ingest.getFileName.toString))
    assert(listings.isEmpty, s"a batch's files were listed by a Spark job: $listings")
    def files(dir: Path): Seq[String] = s.read.parquet(dir.toString)
      .select("src_file").collect().map(_.getString(0).split('/').last).toSeq
    val (shipped, dead) = (files(mirror), files(dlq))
    assert(shipped.size == 38 && shipped.toSet == names.drop(2).toSet, s"mirror: $shipped")
    assert(dead.size == 2 && dead.toSet == names.take(2).toSet, s"DLQ: $dead")
    assert(s.conf.get(listingThreshold) == "512") // startStream's maxFilesPerTrigger

    // a caller's higher threshold is kept
    s.conf.set(listingThreshold, 4096L)
    AuditIngest.startStream(s, ingest.toString, mirror.toString,
      dlq.toString, ckpt.toString, Host, triggerMs = 100).stop()
    assert(s.conf.get(listingThreshold) == "4096")
  }

  test("a backlog batch runs in one wave: mirror tasks ≤ slots, one DLQ task and file") {
    // 200 small files: Spark's 4 MB per-file open cost alone plans 7 read
    // partitions, more than the 4 slots
    val s = spark.newSession()
    val slots = s.sparkContext.defaultParallelism
    val ingest = tmpDir("wave_in"); val mirror = tmpDir("wave_mir")
    val dlq = tmpDir("wave_dlq"); val ckpt = tmpDir("wave_ckpt")
    val names = (1 to 200).map(i => s"orcl_ora_${2000 + i}_$i.xml")
    val truncated = names.filter(_.endsWith("7.xml")).take(5).toSet
    names.foreach(n => writeXml(ingest, n, complete = !truncated(n)))

    // the write each stage served, by the output dir in its SQL plan
    val plans = new ConcurrentHashMap[Long, String]
    val stageExecution = new ConcurrentHashMap[Int, Long]
    val stageTasks = new ConcurrentHashMap[Int, Int]
    listening(s, new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.put(x.executionId, x.physicalPlanDescription)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => e.stageInfos.foreach(i => stageExecution.put(i.stageId, id.toLong)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }) {
      val q = AuditIngest.startStream(s, ingest.toString, mirror.toString,
        dlq.toString, ckpt.toString, Host, triggerMs = 100)
      try q.processAllAvailable() finally q.stop()
    }
    def tasksWriting(dir: Path): Seq[Int] = stageTasks.asScala.toSeq.collect {
      case (stage, n) if Option(stageExecution.get(stage))
          .flatMap(id => Option(plans.get(id))).exists(_.contains(dir.getFileName.toString)) => n
    }
    val (mirrorStages, dlqStages) = (tasksWriting(mirror), tasksWriting(dlq))
    assert(mirrorStages.nonEmpty && mirrorStages.forall(_ <= slots),
      s"mirror stages' tasks $mirrorStages over $slots slots")
    assert(dlqStages.sum == 1, s"DLQ stages' tasks $dlqStages")
    val dlqFiles = Files.list(dlq.resolve("batch=0"))
    try assert(dlqFiles.iterator().asScala.count(_.toString.endsWith(".parquet")) == 1)
    finally dlqFiles.close()

    def files(dir: Path): Seq[String] = s.read.parquet(dir.toString)
      .select("src_file").collect().map(_.getString(0).split('/').last).toSeq
    val (shipped, dead) = (files(mirror), files(dlq))
    assert(shipped.sorted == names.filterNot(truncated).sorted, s"mirror: $shipped")
    assert(dead.sorted == truncated.toSeq.sorted, s"DLQ: $dead")
  }

  test("ingest latency: file appearance → mirror commit (BASELINE target ≤ 2 s)") {
    val ingest = tmpDir("lat_in"); val mirror = tmpDir("lat_mir")
    val dlq = tmpDir("lat_dlq"); val ckpt = tmpDir("lat_ckpt")
    val q = AuditIngest.startStream(spark, ingest.toString, mirror.toString,
      dlq.toString, ckpt.toString, Host, triggerMs = 500)
    try {
      q.processAllAvailable() // drain the empty initial batch
      val t0 = System.nanoTime()
      writeXml(ingest, "orcl_ora_777_1.xml", complete = true)
      var seen = false
      while (!seen && (System.nanoTime() - t0) < 30e9) {
        Thread.sleep(50)
        seen = try spark.read.parquet(mirror.toString).count() > 0
        catch { case _: Throwable => false }
      }
      val latencyMs = (System.nanoTime() - t0) / 1e6
      info(f"file→mirror latency: $latencyMs%.0f ms (target ≤ 2000 ms on quiet hardware)")
      assert(seen, "file never reached the mirror")
      // loose bound: CI noise-tolerant; the measured value is the evidence
      assert(latencyMs < 30000)
    } finally q.stop()
  }

  test("batch backlog scan (R1) produces the same envelope") {
    val dir = tmpDir("backlog")
    writeXml(dir, "orcl_ora_555_7.xml", complete = true)
    val env = AuditIngest.readBatch(spark, dir.toString, Host)
    assert(env.count() == 1)
    val r = env.head()
    assert(r.getAs[String]("key").startsWith(s"$Host:"))
    assert(r.getAs[Boolean]("complete"))
    assert(r.getAs[String]("src_pid") == "555")
    // Q4: the kafka frame is exactly (key, value)
    assert(ShipSinks.frame(env).columns.toSeq == Seq("key", "value"))
  }
}
