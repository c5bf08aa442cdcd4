package graft

import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption}

import graft.config.A2Config
import graft.ingest.{AuditIngest, SettleGate}
import graft.plans.GraftExtensions
import graft.sinks.ShipSinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import scala.util.Try

/** The runnable transfer agent — the engine's analogue of the reference's
  * entire process (EP1, OraaudKafka.java:133-276): properties file →
  * validated config → per-OS lock-checker selection → settle-gate mover →
  * streaming ingest → sink (kafka / kinesis seam / parquet mirror) →
  * metrics MBean → shutdown hook (flush/close parity with
  * OraaudKafka.java:216-227).
  *
  * `sbt "runMain graft.Agent /path/to/oraaud-kafka.conf"` is the
  * product entry point; [[start]] is the embeddable form the end-to-end
  * spec drives against a live SparkSession.
  */
object Agent {

  /** Handles to everything [[start]] launched, for graceful shutdown. */
  final case class Running(
      cfg: A2Config,
      mover: Thread,
      query: StreamingQuery,
      metrics: AuditIngest.IngestMetrics,
      mbean: javax.management.ObjectName)

  /** R8 key prefix: the reference execs `hostname` once at startup
    * (CommonJobSingleton.java:49, OsUtils.java:30-39); InetAddress is the
    * driver-side equivalent.
    */
  def hostName: String =
    Try(java.net.InetAddress.getLocalHost.getHostName).getOrElse("localhost")

  /** Per-OS lock-checker dispatch (OraaudKafka.java:192-205): /proc scan
    * on SysV-style OSes (R5a), NIO tryLock on Windows (R5b), `ps`
    * liveness elsewhere — FreeBSD, HP-UX, macOS (R5c). The reference's
    * Windows arm tests `"WIN".contains(osName)`, which no real os.name
    * ("WINDOWS 10"…) can satisfy, so its NIO checker is unreachable and
    * Windows silently gets the `ps` probe; the prefix test here is the
    * evident intent (the arm also sets the reference's isWinOs flag).
    */
  def lockCheckerForOs(osName: String): Option[SettleGate.LockChecker] =
    osName.toUpperCase match {
      case "AIX" | "LINUX" | "SOLARIS" | "SUNOS" => Some(SettleGate.ProcFdChecker)
      case w if w.startsWith("WINDOWS") => Some(SettleGate.NioLockChecker)
      case "" => None // os.name unset: mtime settle gate alone
      case _ => Some(SettleGate.PsChecker)
    }

  /** Launch the full pipeline against an existing session, installing
    * the graft kernels on it first (a no-op when the session was built
    * with the extension). The watched dir must exist (reference exit-4
    * check, OraaudKafka.java:152-173) and share a file system with the
    * settled dir, or no settle-gate rename could ever succeed.
    *
    * `kinesisTransport` is the offline KPL stand-in (R12 seam): it
    * receives the conditional-gzip (key, value BINARY) frame per batch;
    * the default writes it as a parquet mirror so the agent is runnable
    * without the (unavailable) KPL jar.
    */
  def start(
      spark: SparkSession,
      cfg: A2Config,
      kinesisTransport: Option[(DataFrame, Long) => Unit] = None): Running = {

    GraftExtensions.install(spark)
    val watched = Paths.get(cfg.watchedPath)
    require(Files.exists(watched, LinkOption.NOFOLLOW_LINKS) && Files.isDirectory(watched),
      s"a2.watched.path '${cfg.watchedPath}' is not an existing directory") // exit 4

    val settled = Files.createDirectories(Paths.get(cfg.settledDir))
    val probeMove = Try {
      val probe = Files.createTempFile(watched, ".a2-move-probe", ".tmp")
      try Files.delete(Files.move(probe, settled.resolve(probe.getFileName), StandardCopyOption.ATOMIC_MOVE))
      finally Files.deleteIfExists(probe)
    }
    require(probeMove.isSuccess, s"settled dir '$settled' cannot take an atomic rename from " +
      s"a2.watched.path '$watched' (${probeMove.failed.get}); keep a2.agent.work.dir on its file system")

    // R5: settle-gate mover — raw watched dir → settled dir the stream
    // reads, so the source only ever discovers closed files.
    val mover = SettleGate.startMover(
      watched, settled,
      settleMs = cfg.settleDelayMs, pollMs = cfg.pollIntervalMs,
      lockChecker = lockCheckerForOs(sys.props.getOrElse("os.name", "")))

    // R15: metrics listener + JMX registration (CommonJobSingleton.java:52-54)
    val metrics = new AuditIngest.IngestMetrics
    spark.streams.addListener(metrics)
    val mbean = AuditIngest.registerMBean(metrics)

    // R11/R12/Q4: sink selection. None = built-in parquet mirror.
    val ship: Option[(DataFrame, Long) => Unit] = cfg.targetBroker match {
      case "mirror" => None
      case "kafka" =>
        // per-batch Kafka write inside foreachBatch keeps the DLQ split
        // and the delete-after-commit semantics of the shared stream
        Some((batch, _) =>
          ShipSinks.frame(batch).write.format("kafka").options(cfg.kafkaSinkOptions).save())
      case "kinesis" =>
        val transport = kinesisTransport.getOrElse(ShipSinks.overwriteBatch(_, cfg.mirrorDir, _))
        Some((batch, id) => transport(ShipSinks.kinesisFrame(batch, cfg), id))
    }

    // maxFilesPerTrigger bounds a microbatch the way the reference's
    // ArrayBlockingQueue(4096×workers) bounds dispatch (OraaudKafka.java:262)
    val query = AuditIngest.startStream(
      spark, cfg.settledDir, cfg.mirrorDir, cfg.dlqDir, cfg.checkpointDir,
      host = hostName, triggerMs = cfg.pollIntervalMs,
      maxFilesPerTrigger = cfg.workerCount * 16,
      ship = ship)

    Running(cfg, mover, query, metrics, mbean)
  }

  /** Graceful shutdown: stop the stream (flush parity with the
    * reference's producer flush+close hook), halt the mover (an
    * interrupted tick starts no further move, so no rename lands after
    * this returns), unregister the MBean and listener.
    */
  def stop(r: Running, spark: SparkSession): Unit = {
    Try(r.query.stop())
    r.mover.interrupt()
    r.mover.join(5000)
    Try(spark.streams.removeListener(r.metrics))
    Try(java.lang.management.ManagementFactory.getPlatformMBeanServer.unregisterMBean(r.mbean))
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("Usage: graft.Agent <properties-file>  (see oraaud-kafka.conf)")
      sys.exit(2) // reference printUsage exit code
    }
    val cfg =
      try A2Config.fromFile(args(0))
      catch {
        case e: Exception =>
          System.err.println(s"invalid configuration ${args(0)}: ${e.getMessage}")
          sys.exit(3) // reference exit 3/6: bad broker / bad sink settings
      }

    val spark = Sessions.local(cfg.workerCount, cfg.workerCount)

    val running =
      try start(spark, cfg)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          sys.exit(4) // reference exit 4: watched path invalid
      }

    // OraaudKafka.java:216-227: flush/close on SIGTERM
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stop(running, spark)
      spark.stop()
    }, "graft-agent-shutdown"))

    println(s"graft-agent started: watching ${cfg.watchedPath} → ${cfg.targetBroker}")
    running.query.awaitTermination()
  }
}
