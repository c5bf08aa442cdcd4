package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.Agent
import graft.config.A2Config
import graft.ingest.{AuditIngest, SettleGate}
import graft.queries.{AuditOps, Catalog, Dedup, Pipeline, Q, Relational, Similarity, TextAnalysis, Windowed}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the benchmark. It drives the agent and the catalog only
  * through their public calls and writes raw measurements (times, spans,
  * streaming progress, task metrics) to `<work>/out.json`; `run.py`
  * checks the outputs and turns the raw numbers into metrics.
  *
  * Usage: `perfbench.Harness workload=<ship_trickle|ship_backlog|catalog>
  * work=<dir> seconds=<s> trace=<0|1> cpus=<n> [rate=<files/s>]
  * [warm=<files>] [entries=<q,..>] [deadline_ms=<epoch ms>] [plant_ship_ms=<ms>]
  * [plant_lock_ms=<ms>]`. The work
  * dir holds the generated inputs: `agent.conf`, `prime/`, `flush/` and
  * `stage/` (trickle) or `corpus/` (backlog), or `tables/` (catalog).
  */
object Harness {

  // ---- spans ------------------------------------------------------------

  final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
                        parent: Int, group: String)

  /** In-memory span recorder: times in epoch microseconds; the parent is
    * the innermost open span on the same thread. Disabled, it only runs
    * the body.
    */
  final class Tracer(val on: Boolean) {
    val spans = new ConcurrentLinkedQueue[Span]
    private val ids = new AtomicInteger
    private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
    private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L

    def nowUs: Long = base + System.nanoTime() / 1000L

    def span[T](name: String, layer: String, group: String = "")(body: => T): T =
      if (!on) body
      else {
        val id = ids.incrementAndGet()
        val parent = stack.get.headOption.getOrElse(0)
        stack.set(id :: stack.get)
        val t0 = nowUs
        try body
        finally {
          stack.set(stack.get.tail)
          spans.add(Span(id, name, layer, t0, nowUs, parent, group))
        }
      }
  }

  val SettleLayer = "ingest.SettleGate"
  val IngestLayer = "ingest.AuditIngest"
  val ModelLayer = "ingest.AuditModel"

  // ---- tiny JSON writer -------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => json(other.toString)
  }

  // ---- host and process counters -----------------------------------------

  private def statFields(path: String): Array[Long] = Try {
    val line = scala.io.Source.fromFile(path).getLines().next()
    line.trim.split("\\s+").drop(1).map(_.toLong)
  }.getOrElse(Array.empty)

  /** Own CPU jiffies (utime + stime) from /proc/self/stat. */
  def ownJiffies(): Long = Try {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val t = s.substring(s.lastIndexOf(')') + 2).trim.split(" ")
    t(11).toLong + t(12).toLong
  }.getOrElse(0L)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Counters sampled around a timed phase. */
  final case class Counters(wallMs: Long, own: Long, busy: Long, steal: Long, total: Long, gc: Long)

  def counters(): Counters = {
    val f = statFields("/proc/stat")
    def at(i: Int) = if (i < f.length) f(i) else 0L
    Counters(System.currentTimeMillis(), ownJiffies(),
      Seq(0, 1, 2, 5, 6, 7).map(at).sum, at(7), f.take(8).sum, gcMs())
  }

  def hostDelta(a: Counters, b: Counters): Map[String, Any] = {
    val wallS = math.max(1L, b.wallMs - a.wallMs) / 1000.0
    val own = b.own - a.own
    Map(
      "wall_s" -> wallS,
      "jvm_cpu_s" -> own / 100.0,
      "jvm_gc_ms" -> (b.gc - a.gc),
      "other_cores" -> math.max(0.0, (b.busy - a.busy - own) / 100.0 / wallS),
      "steal_pct" -> (if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0))
  }

  def vmHwmMb(): Double = Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }.getOrElse(0.0)

  // ---- session ------------------------------------------------------------

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- streaming progress ---------------------------------------------------

  /** Collects every StreamingQueryProgress, keyed by query run id. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(String, Long, Long, Long, Map[String, Long])]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add((p.runId.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    def rows(runId: String): Long = events.asScala.filter(_._1 == runId).map(_._4).sum
    def of(runId: String): Seq[Map[String, Any]] =
      events.asScala.toSeq.filter(_._1 == runId).map { case (_, id, ts, n, d) =>
        Map("batch" -> id, "ts_ms" -> ts, "rows" -> n, "durations" -> d)
      }
  }

  // ---- agents -----------------------------------------------------------

  /** One agent's directories and its handle, untraced (`Agent.start`) or
    * traced (the same calls `Agent.start` makes, each wrapped in a span).
    */
  final class AgentRun(val id: String, root: Path, baseConf: Path) {
    val watched: Path = root.resolve("watched")
    val staging: Path = root.resolve("incoming")
    val workDir: Path = root.resolve("work")
    Files.createDirectories(watched)
    Files.createDirectories(staging)
    val conf: Path = root.resolve("agent.conf")
    Files.writeString(conf, Files.readString(baseConf) +
      s"\na2.watched.path=$watched\na2.agent.work.dir=$workDir\n")
    val cfg: A2Config = A2Config.fromFile(conf.toString)

    val closes = mutable.LinkedHashMap.empty[String, (Long, Long)] // name -> (scheduled, actual)
    val moved = new ConcurrentLinkedQueue[(String, Long)] // traced: name -> settled time
    var runId = ""
    var startMs = 0L
    var stopFn: () => Unit = () => ()
    var traced = false

    /** Close a staged file into the watched dir: hard-link it next to the
      * watched dir, stamp its mtime and rename it in atomically.
      */
    def close(src: Path, scheduledMs: Long, stampMtime: Boolean): Unit = {
      val name = src.getFileName.toString
      val tmp = staging.resolve(name)
      Try(Files.createLink(tmp, src)).getOrElse(Files.copy(src, tmp))
      if (stampMtime) Files.setLastModifiedTime(tmp, FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(tmp, watched.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      closes(name) = (scheduledMs, System.currentTimeMillis())
    }

    def start(spark: SparkSession, tracer: Option[Tracer], plantShipMs: Long, plantLockMs: Long): Unit = {
      startMs = System.currentTimeMillis()
      tracer match {
        case None =>
          val r = Agent.start(spark, cfg)
          runId = r.query.runId.toString
          stopFn = () => Agent.stop(r, spark)
        case Some(t) =>
          traced = true
          Files.createDirectories(Paths.get(cfg.settledDir))
          val lock = Agent.lockCheckerForOs(sys.props.getOrElse("os.name", "")).map { inner =>
            new SettleGate.LockChecker {
              def isLocked(pid: String, fileName: String): Boolean =
                t.span("isLocked", SettleLayer) {
                  if (plantLockMs > 0) Thread.sleep(plantLockMs)
                  inner.isLocked(pid, fileName)
                }
            }
          }
          val settled = Paths.get(cfg.settledDir)
          val mover = new Thread(() => {
            try {
              Thread.sleep(256)
              var tick = 0
              while (!Thread.currentThread().isInterrupted) {
                tick += 1
                val names = t.span("tick", SettleLayer, tick.toString) {
                  Try(SettleGate.tick(watched, settled, cfg.settleDelayMs, lock)).getOrElse(Nil)
                }
                val now = System.currentTimeMillis()
                names.foreach(n => moved.add(n -> now))
                Thread.sleep(cfg.pollIntervalMs)
              }
            } catch { case _: InterruptedException => () }
          }, "perfbench-settle-gate")
          mover.setDaemon(true)
          mover.start()
          val metrics = new AuditIngest.IngestMetrics
          spark.streams.addListener(metrics)
          val mbean = AuditIngest.registerMBean(metrics)
          val mirrorDir = cfg.mirrorDir
          val ship: (DataFrame, Long) => Unit = (batch, batchId) =>
            t.span("ship", IngestLayer, batchId.toString) {
              if (plantShipMs > 0) Thread.sleep(plantShipMs)
              batch.write.mode("overwrite").parquet(s"$mirrorDir/batch=$batchId")
            }
          val query = AuditIngest.startStream(
            spark, cfg.settledDir, cfg.mirrorDir, cfg.dlqDir, cfg.checkpointDir,
            host = Agent.hostName, triggerMs = cfg.pollIntervalMs,
            maxFilesPerTrigger = cfg.workerCount * 16, ship = Some(ship))
          runId = query.runId.toString
          stopFn = () => {
            Try(query.stop())
            mover.interrupt()
            mover.join(5000)
            Try(spark.streams.removeListener(metrics))
            Try(java.lang.management.ManagementFactory.getPlatformMBeanServer.unregisterMBean(mbean))
          }
      }
    }

    /** Wait until the stream has taken `rows` files; false on timeout or
      * past the run's deadline.
      */
    def awaitRows(progress: Progress, rows: Long, timeoutMs: Long): Boolean = {
      val deadline = math.min(System.currentTimeMillis() + timeoutMs, deadlineMs)
      while (progress.rows(runId) < rows && System.currentTimeMillis() < deadline) Thread.sleep(20)
      progress.rows(runId) >= rows
    }

    /** Commit-log time of every committed batch (checkpoint/commits/N). */
    def commits: Map[Long, Long] = {
      val dir = Paths.get(cfg.checkpointDir, "commits")
      if (!Files.isDirectory(dir)) Map.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit))
          .map(n => n.toLong -> Files.getLastModifiedTime(dir.resolve(n)).toMillis).toMap
        finally s.close()
      }
    }

    /** Close one more file so the file source commits, and so deletes,
      * the previous batch; wait until only the flush file is left.
      */
    def flush(progress: Progress, flushFile: Path, rowsBefore: Long): Boolean = {
      close(flushFile, System.currentTimeMillis(), stampMtime = false)
      val ok = awaitRows(progress, rowsBefore + 1, 60000)
      val settled = Paths.get(cfg.settledDir)
      val deadline = System.currentTimeMillis() + 20000
      def left = Try(Files.list(settled).iterator().asScala.size).getOrElse(0)
      while (left > 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      ok
    }

    def report(progress: Progress, extra: Map[String, Any]): Map[String, Any] = Map(
      "id" -> id, "traced" -> traced, "start_ms" -> startMs,
      "watched" -> watched.toString, "settled" -> cfg.settledDir,
      "mirror" -> cfg.mirrorDir, "dlq" -> cfg.dlqDir,
      "closes" -> closes.map { case (n, (s, a)) => n -> Seq(s, a) },
      "moved" -> moved.asScala.map { case (n, t) => n -> t }.toMap,
      "commits" -> commits, "progress" -> progress.of(runId)) ++ extra
  }

  // ---- ship workloads ---------------------------------------------------------

  /** Epoch ms by which every wait gives up, so a stuck agent still leaves
    * a report to check.
    */
  @volatile var deadlineMs: Long = Long.MaxValue

  def listXml(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".xml")).toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  def flushFile(work: Path): Path = listXml(work.resolve("flush")).head

  /** Set-up cycles: a fresh agent, one settled file, first commit, stop.
    * The file stays in the settled dir: its batch is the last one.
    */
  def primes(spark: SparkSession, progress: Progress, work: Path, conf: Path,
             n: Int): (Seq[Double], Seq[Map[String, Any]]) = {
    val files = listXml(work.resolve("prime"))
    val out = (0 until n).map { i =>
      val a = new AgentRun(s"prime$i", work.resolve("agents").resolve(s"prime$i"), conf)
      val t0 = System.nanoTime()
      a.close(files(i), System.currentTimeMillis(), stampMtime = false)
      a.start(spark, None, 0, 0)
      val ok = a.awaitRows(progress, 1, 60000)
      val s = (System.nanoTime() - t0) / 1e9
      a.stopFn()
      (s, a.report(progress, Map("ok" -> ok, "kind" -> "prime")))
    }
    (out.map(_._1), out.map(_._2))
  }

  /** Open loop: close `files` at `rate` per second into a fresh agent,
    * the first `warm` of them before the timed window.
    */
  def trickle(spark: SparkSession, progress: Progress, work: Path, conf: Path, id: String,
              files: Seq[Path], warm: Int, rate: Double, tracer: Option[Tracer],
              plantShipMs: Long, plantLockMs: Long): Map[String, Any] = {
    val a = new AgentRun(id, work.resolve("agents").resolve(id), conf)
    a.start(spark, tracer, plantShipMs, plantLockMs)
    val periodNs = (1e9 / rate).toLong
    val t0Ms = System.currentTimeMillis() + 200
    val t0Ns = System.nanoTime() + 200L * 1000000L
    var c0: Counters = null
    var timedStartMs = 0L
    files.zipWithIndex.foreach { case (f, i) =>
      if (i == warm) { c0 = counters(); timedStartMs = t0Ms + i * periodNs / 1000000L }
      val due = t0Ns + i * periodNs
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      a.close(f, t0Ms + i * periodNs / 1000000L, stampMtime = true)
    }
    val ok = a.awaitRows(progress, files.size, 90000)
    val c1 = counters()
    val flushed = a.flush(progress, flushFile(work), files.size)
    a.stopFn()
    a.report(progress, Map("ok" -> (ok && flushed), "kind" -> "trickle", "warm" -> warm,
      "timed_start_ms" -> timedStartMs, "host" -> hostDelta(c0, c1)))
  }

  /** Closed drain: the whole corpus sits settled in the watched dir before
    * `Agent.start`; timed from start to the last batch's commit.
    */
  def drain(spark: SparkSession, progress: Progress, work: Path, conf: Path, id: String,
            corpus: Seq[Path], tracer: Option[Tracer]): Map[String, Any] = {
    val a = new AgentRun(id, work.resolve("agents").resolve(id), conf)
    corpus.foreach(f => a.close(f, 0L, stampMtime = false))
    val c0 = counters()
    a.start(spark, tracer, 0, 0)
    val ok = a.awaitRows(progress, corpus.size, 120000)
    val c1 = counters()
    val lastCommit = Try(a.commits.values.max).getOrElse(System.currentTimeMillis())
    val flushed = a.flush(progress, flushFile(work), corpus.size)
    a.stopFn()
    a.report(progress, Map("ok" -> (ok && flushed), "kind" -> "drain",
      "drain_s" -> (lastCommit - a.startMs) / 1000.0, "host" -> hostDelta(c0, c1)))
  }

  // ---- catalog ------------------------------------------------------------

  val Modules: Seq[(String, Iterable[String])] = Seq(
    "Relational" -> Relational.defs.keys, "Windowed" -> Windowed.defs.keys,
    "AuditOps" -> AuditOps.defs.keys, "Dedup" -> Dedup.defs.keys,
    "Similarity" -> Similarity.defs.keys, "TextAnalysis" -> TextAnalysis.defs.keys,
    "Pipeline" -> Pipeline.defs.keys)

  def moduleOf(name: String): String =
    Modules.collectFirst { case (m, ks) if ks.exists(_ == name) => m }.getOrElse("Other")

  val EntryProp = "perfbench.entry"

  /** Task metrics per catalog entry, attributed through a local property
    * set on the driver thread around each entry.
    */
  final class TaskLedger extends SparkListener {
    private val stageEntry = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val byEntry = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(EntryProp)))
        .foreach(n => stageEntry.put(e.stageInfo.stageId, n))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val name = stageEntry.get(e.stageId)
      if (m != null && name != null) {
        val a = byEntry.computeIfAbsent(name, _ => new Array[Long](4))
        a.synchronized {
          a(0) += m.executorRunTime
          a(1) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a(2) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(3) += m.jvmGCTime
        }
      }
    }
  }

  def release(spark: SparkSession): Unit = {
    graft.Caches.release(spark)
    spark.sharedState.cacheManager.clearCache()
  }

  def catalogPass(spark: SparkSession, entries: Seq[(String, Q)], dir: String,
                  tracer: Tracer, pass: Int, results: Option[Path]): Seq[Map[String, Any]] =
    entries.map { case (name, q) =>
      val layer = s"queries.${moduleOf(name)}"
      spark.sparkContext.setLocalProperty(EntryProp, if (tracer.on) s"$name#$pass" else null)
      val t0 = System.nanoTime()
      var buildS = 0.0
      val err = try {
        tracer.span("entry", "catalog", name) {
          val df = tracer.span("build", layer, name)(q.build(spark, dir))
          buildS = (System.nanoTime() - t0) / 1e9
          tracer.span("exec", layer, name) {
            results match {
              case Some(out) => df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
        None
      } catch { case e: Throwable => Some(e.toString.take(300)) }
      finally {
        spark.sparkContext.setLocalProperty(EntryProp, null)
        release(spark)
      }
      val s = (System.nanoTime() - t0) / 1e9
      Map("name" -> name, "module" -> moduleOf(name), "pass" -> pass, "s" -> s,
        "build_s" -> buildS, "error" -> err)
    }

  /** Fit/serve split of the probe-carrying entries (traced only). */
  def probes(spark: SparkSession, entries: Seq[(String, Q)], dir: String,
             tracer: Tracer): Seq[Map[String, Any]] =
    entries.collect { case (name, q) if q.probe.isDefined =>
      val layer = s"queries.${moduleOf(name)}"
      val t0 = System.nanoTime()
      val res = try {
        tracer.span("probe", "catalog", name) {
          val serve = tracer.span("fit", layer, name)(q.probe.get(spark, dir))
          val t1 = System.nanoTime()
          tracer.span("serve", layer, name)(serve().write.format("noop").mode("overwrite").save())
          Map("fit_s" -> (t1 - t0) / 1e9, "serve_s" -> (System.nanoTime() - t1) / 1e9)
        }
      } catch { case e: Throwable => Map("error" -> e.toString.take(300)) }
      finally release(spark)
      Map("name" -> name) ++ res
    }

  // ---- main ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = opt.getOrElse("cpus", "4").toInt
    val plantShipMs = opt.getOrElse("plant_ship_ms", "0").toLong
    val plantLockMs = opt.getOrElse("plant_lock_ms", "0").toLong
    opt.get("deadline_ms").foreach(d => deadlineMs = d.toLong)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val tracer = new Tracer(traced)
    val untraced = new Tracer(false)

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    out("session_s") = (System.nanoTime() - t0) / 1e9
    val conf = work.resolve("agent.conf")
    try {
      workload match {
        case "ship_trickle" | "ship_backlog" =>
          val progress = new Progress
          spark.streams.addListener(progress)
          val (primeS, primeRuns) = primes(spark, progress, work, conf, 3)
          out("prime_s") = primeS
          val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
          runs ++= primeRuns
          val phases = if (traced) Seq(None, Some(tracer)) else Seq(None)
          if (workload == "ship_trickle") {
            val files = listXml(work.resolve("stage"))
            val warm = opt("warm").toInt
            phases.zipWithIndex.foreach { case (t, i) =>
              runs += trickle(spark, progress, work, conf, s"trickle$i", files, warm,
                opt("rate").toDouble, t, plantShipMs, plantLockMs)
            }
          } else {
            val corpus = listXml(work.resolve("corpus"))
            runs += drain(spark, progress, work, conf, "warm", corpus, None) + ("kind" -> "warm")
            val start = System.nanoTime()
            var i = 0
            // drains alternate untraced/traced when tracing; at least
            // three timed drains per phase
            while (i < 3 * phases.size || (System.nanoTime() - start) / 1e9 < seconds * phases.size) {
              runs += drain(spark, progress, work, conf, s"drain$i", corpus, phases(i % phases.size))
              i += 1
            }
            if (traced) {
              val env = (0 until 3).map { k =>
                val e0 = System.nanoTime()
                tracer.span("envelope", ModelLayer, k.toString) {
                  AuditIngest.readBatch(spark, work.resolve("corpus").toString, Agent.hostName)
                    .write.format("noop").mode("overwrite").save()
                }
                (System.nanoTime() - e0) / 1e9
              }
              out("envelope_s") = env
            }
          }
          out("runs") = runs.toSeq

        case "catalog" =>
          val dir = work.resolve("tables").toString
          val entries = opt("entries").split(",").toSeq.flatMap(n => Catalog.all.get(n).map(n -> _))
          out("oracle_sql") = entries.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }.toMap
          val w0 = System.nanoTime()
          // warm-up: one pass that also writes the results the oracle check reads
          out("warmup") = catalogPass(spark, entries, dir, untraced, -1, Some(work.resolve("results")))
          out("warmup_s") = (System.nanoTime() - w0) / 1e9
          val ledger = new TaskLedger
          val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
          // traced runs alternate untraced and traced passes, so both see
          // the same JIT warmth
          val phases = if (traced) Seq(untraced, tracer) else Seq(untraced)
          if (traced) spark.sparkContext.addSparkListener(ledger)
          val c0 = counters()
          val start = System.nanoTime()
          var pass = 0
          while (pass < 3 * phases.size || (System.nanoTime() - start) / 1e9 < seconds * phases.size) {
            val t = phases(pass % phases.size)
            passes ++= catalogPass(spark, entries, dir, t, pass, None).map(_ + ("traced" -> t.on))
            pass += 1
          }
          out("host") = hostDelta(c0, counters())
          out("passes") = passes.toSeq
          if (traced) {
            out("probes") = probes(spark, entries, dir, tracer)
            Thread.sleep(1000) // let the listener bus deliver the last task ends
            out("tasks") = ledger.byEntry.asScala.map { case (k, a) => k -> a.toSeq }.toMap
          }
      }
    } finally {
      out("vmhwm_mb") = vmHwmMb()
      if (traced) {
        out("spans") = tracer.spans.asScala.toSeq.map(s =>
          Seq(s.id, s.name, s.layer, s.start, s.end, s.parent, s.group))
      }
      Files.writeString(work.resolve("out.json"), json(out))
      spark.stop()
    }
  }
}
