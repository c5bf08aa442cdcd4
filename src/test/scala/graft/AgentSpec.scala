package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.config.A2Config
import graft.ingest.SettleGate
import org.apache.spark.sql.functions._

/** End-to-end test of the runnable agent (EP1): a properties file modeled
  * on the reference's oraaud-kafka.conf drives config → settle gate →
  * streaming ingest → sink → metrics MBean → graceful stop.
  */
class AgentSpec extends SparkSuite {

  private def writeXml(dir: Path, name: String, complete: Boolean = true,
                       sqlPad: Int = 0): Unit = {
    val sql = "SELECT 1 FROM dual" + ("/* " + "x" * sqlPad + " */").take(if (sqlPad > 0) sqlPad else 0)
    val body =
      s"""<?xml version="1.0" encoding="UTF-8"?>
        |<Audit>
        | <AuditRecord><Audit_Type>1</Audit_Type><Session_Id>7</Session_Id>
        |  <DB_User>SCOTT</DB_User><Action>3</Action><Returncode>0</Returncode>
        |  <Sql_Text>$sql</Sql_Text></AuditRecord>
        |</Audit>
        |""".stripMargin
    Files.writeString(dir.resolve(name), if (complete) body else body.take(body.length / 2))
  }

  private def confFile(watched: Path, work: Path, broker: String): Path = {
    // shaped like /root/reference/oraaud-kafka.conf
    val f = Files.createTempFile("oraaud", ".conf")
    Files.writeString(f,
      s"""a2.watched.path = $watched
         |a2.worker.count = 4
         |a2.locked.file.query.interval = 100
         |a2.settle.delay.ms = 100
         |a2.target.broker = $broker
         |a2.agent.work.dir = $work
         |a2.kinesis.stream = audit-stream
         |a2.kinesis.region = us-east-1
         |a2.kinesis.access.key = AK
         |a2.kinesis.access.secret = SK
         |""".stripMargin)
    f
  }

  test("mirror agent: conf file → settle gate → mirror, MBean metrics, graceful stop") {
    val watched = tmpDir("agent_watched"); val work = tmpDir("agent_work")
    writeXml(watched, "orcl_ora_101_1.xml")
    writeXml(watched, "orcl_ora_102_2.xml")
    writeXml(watched, "orcl_ora_103_3.xml", complete = false)

    val cfg = A2Config.fromFile(confFile(watched, work, "mirror").toString)
    assert(cfg.settledDir.startsWith(work.toString))
    val r = Agent.start(spark, cfg)
    val moverFailures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    r.mover.setUncaughtExceptionHandler((_, e) => moverFailures.add(e))
    try {
      def mirrorCount = Try2(spark.read.parquet(cfg.mirrorDir).count()).getOrElse(0L)
      assert(await(mirrorCount == 2), "complete files never reached the mirror")

      val m = spark.read.parquet(cfg.mirrorDir)
      val row = m.filter(col("src_pid") === "101").select("key", "value").head()
      assert(row.getString(0).startsWith(s"${Agent.hostName}:")) // R8 host:path key
      assert(row.getString(0).endsWith("orcl_ora_101_1.xml"))
      assert(row.getString(1).endsWith("</Audit>"))
      assert(!row.getString(1).contains("\n")) // R6 newline strip

      // truncated file lands in the DLQ, not the mirror
      assert(await(Try2(spark.read.parquet(cfg.dlqDir).count()).getOrElse(0L) == 1))

      // R15: the registered MBean serves the reference's attribute surface
      val mbs = ManagementFactory.getPlatformMBeanServer
      assert(await(mbs.getAttribute(r.mbean, "FilesCount").asInstanceOf[Long] >= 3L))
      assert(mbs.getAttribute(r.mbean, "FilesSize").asInstanceOf[Long] > 0L)
      assert(mbs.getAttribute(r.mbean, "DlqCount").asInstanceOf[Long] == 1L) // the truncated file
      assert(mbs.getAttribute(r.mbean, "ElapsedTime").asInstanceOf[String].contains("sec."))
      assert(mbs.getAttribute(r.mbean, "TransferTime").asInstanceOf[String].contains("min"))
    } finally Agent.stop(r, spark)

    assert(!r.query.isActive, "stream must stop on shutdown")
    assert(!r.mover.isAlive, "mover thread must have exited when stop returns")
    assert(moverFailures.isEmpty, s"mover must end cleanly on interrupt: $moverFailures")
    assert(!ManagementFactory.getPlatformMBeanServer.isRegistered(r.mbean))
  }

  test("a backlog already settled at start is in the settled dir when start returns") {
    val watched = tmpDir("agent_backlog"); val work = tmpDir("agent_backlog_work")
    val names = (1 to 20).map(i => s"orcl_ora_${300 + i}_$i.xml")
    val past = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000)
    names.foreach { n => writeXml(watched, n); Files.setLastModifiedTime(watched.resolve(n), past) }
    val cfg = A2Config.fromFile(confFile(watched, work, "mirror").toString)
    val r = Agent.start(spark, cfg)
    try {
      // the mover's first tick runs inside start, before the stream's
      // first trigger lists the settled dir
      def list(dir: String): Set[String] = {
        val s = Files.list(Paths.get(dir))
        try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
      }
      assert(list(watched.toString).isEmpty, s"left in the watched dir: ${list(watched.toString)}")
      assert(names.toSet.subsetOf(list(cfg.settledDir)), s"settled: ${list(cfg.settledDir)}")
      assert(await(Try2(spark.read.parquet(cfg.mirrorDir).count()).getOrElse(0L) == names.size))
    } finally Agent.stop(r, spark)
  }

  test("kinesis agent: seam receives the conditional-gzip binary frame") {
    val watched = tmpDir("agent_kin"); val work = tmpDir("agent_kin_work")
    writeXml(watched, "orcl_ora_201_1.xml")                 // ~280 B < threshold
    writeXml(watched, "orcl_ora_202_2.xml", sqlPad = 600)   // > 512 B threshold
    val cfg = A2Config.fromFile(confFile(watched, work, "kinesis").toString)
    val r = Agent.start(spark, cfg) // default transport = parquet mirror of the frame
    try {
      assert(await {
        Try2(spark.read.parquet(cfg.mirrorDir).count()).getOrElse(0L) == 2L
      })
      def frame(file: String): Array[Byte] =
        spark.read.parquet(cfg.mirrorDir)
          .filter(col("key").endsWith(file)).select("value")
          .head().getAs[Array[Byte]]("value")
      // KinesisJob.java:66-73 parity: ≤ threshold ships plain text…
      val small = frame("orcl_ora_201_1.xml")
      assert(!graft.functions.Gzip.isCompressed(small))
      assert(new String(small, "UTF-8").endsWith("</Audit>"))
      // …while > threshold takes the gzip branch and round-trips
      val big = frame("orcl_ora_202_2.xml")
      assert(graft.functions.Gzip.isCompressed(big),
        s"${big.length}-byte frame over the ${cfg.kinesisSizeThreshold}-byte threshold must gzip")
      assert(new String(graft.functions.Gzip.decompress(big), "UTF-8").endsWith("</Audit>"))
    } finally Agent.stop(r, spark)
  }

  test("JMX counts only the agent's own query, not other streams on the session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import spark.implicits._
    val watched = tmpDir("agent_jmx"); val work = tmpDir("agent_jmx_work")
    val r = Agent.start(spark, A2Config.fromFile(confFile(watched, work, "mirror").toString))
    // registered after the agent's listener: the listener bus delivers
    // each event to listeners in registration order, so once this one
    // has seen the unrelated query's data batch, the agent's has too
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val other = MemoryStream[Int]
    val seen = new CountDownLatch(1)
    val probe = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "unrelated" && e.progress.numInputRows > 0) seen.countDown()
    }
    spark.streams.addListener(probe)
    val q = other.toDF().writeStream.queryName("unrelated").format("memory").start()
    try {
      other.addData(1, 2, 3)
      q.processAllAvailable()
      assert(seen.await(30, TimeUnit.SECONDS), "unrelated query never reported progress")
      val mbs = ManagementFactory.getPlatformMBeanServer
      assert(mbs.getAttribute(r.mbean, "FilesCount").asInstanceOf[Long] == 0L)
      assert(mbs.getAttribute(r.mbean, "TransferTimeMillis").asInstanceOf[Long] == 0L)
    } finally {
      q.stop(); spark.streams.removeListener(probe); Agent.stop(r, spark)
    }
  }

  test("work dir on another file system fails at start, naming both dirs") {
    val watched = tmpDir("agent_xvol")
    val shm = Paths.get("/dev/shm")
    assume(Files.isDirectory(shm) && Files.isWritable(shm), "no writable /dev/shm on this host")
    val work = Files.createTempDirectory(shm, "agent_xvol_work")
    try {
      assume(Files.getFileStore(watched) != Files.getFileStore(work),
        s"$watched and $work are on one file store: no cross-volume move to refuse")
      val cfg = A2Config.fromFile(confFile(watched, work, "mirror").toString)
      val e = intercept[IllegalArgumentException] {
        val r = Agent.start(spark, cfg)
        Agent.stop(r, spark)
      }
      assert(e.getMessage.contains(cfg.settledDir) && e.getMessage.contains(watched.toString),
        e.getMessage)
      // the probe left nothing behind in the watched dir
      val left = Files.list(watched)
      try assert(left.count() == 0L) finally left.close()
    } finally {
      val s = Files.walk(work)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  test("per-OS lock-checker dispatch matches OraaudKafka.java:192-205") {
    assert(Agent.lockCheckerForOs("Linux").contains(SettleGate.ProcFdChecker))
    assert(Agent.lockCheckerForOs("SunOS").contains(SettleGate.ProcFdChecker))
    assert(Agent.lockCheckerForOs("Windows 11").contains(SettleGate.NioLockChecker)) // R5b
    assert(Agent.lockCheckerForOs("Mac OS X").contains(SettleGate.PsChecker))        // R5c
    assert(Agent.lockCheckerForOs("FreeBSD").contains(SettleGate.PsChecker))
  }

  test("R5b NIO checker: locked while a lock is held, unlocked after release") {
    val dir = tmpDir("nio_lock")
    val f = dir.resolve("orcl_ora_1_1.xml")
    Files.writeString(f, "<Audit></Audit>")
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    val lock = raf.getChannel.lock()
    try assert(SettleGate.NioLockChecker.isLocked("1", f.toString))
    finally { lock.release(); raf.close() }
    assert(!SettleGate.NioLockChecker.isLocked("1", f.toString))
    // unopenable file ⇒ locked (Windows sharing-violation semantics)
    assert(SettleGate.NioLockChecker.isLocked("1", s"$dir/absent/nope.xml"))
  }

  test("R5c ps checker: live pid locked, dead pid unlocked (reference liveness semantics)") {
    val live = ProcessHandle.current().pid().toString
    assert(SettleGate.PsChecker.isLocked(live, "/irrelevant/path.xml"))
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    assert(!SettleGate.PsChecker.isLocked(child.pid().toString, "/irrelevant/path.xml"))
  }

  test("agent config rejects unknown security protocol instead of silently passing") {
    intercept[IllegalArgumentException] {
      A2Config.fromProperties(Map(
        "a2.watched.path" -> "/tmp/x",
        "a2.kafka.servers" -> "b:9092", "a2.kafka.topic" -> "t",
        "a2.kafka.client.id" -> "c",
        "a2.kafka.security.protocol" -> "SASLSSL"))
    }
    // …but a non-kafka broker never reads kafka security keys (reference
    // parity), so a leftover key must not fail a mirror/kinesis agent
    val cfg = A2Config.fromProperties(Map(
      "a2.watched.path" -> "/tmp/x", "a2.target.broker" -> "mirror",
      "a2.kafka.security.protocol" -> "SASLSSL"))
    assert(!cfg.kafkaOptions.contains("security.protocol"))
  }

  private def Try2[T](f: => T): scala.util.Try[T] = scala.util.Try(f)
}
