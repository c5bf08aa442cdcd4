package graft.ingest

import java.util.concurrent.atomic.AtomicLong

import graft.sinks.ShipSinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Batch (R1) and streaming (R2–R16) audit-file ingest.
  *
  * Dataflow parity with the reference hot path (EP2, OraaudKafka):
  * discover → pid parse → settle gate (SettleGate mover) → whole-file
  * read → newline strip → completeness check → key/value frame → sink →
  * delete-after-commit. The reference's queue-removal-before-ack loss bug
  * (OraaudKafka.java:307, SURVEY §4.3) is structurally impossible here:
  * the checkpointed source offset log only advances after foreachBatch
  * returns, the mirror write is made idempotent per batch, and source
  * deletion is the file source's own post-commit `cleanSource=delete`
  * sweep — files are removed only after the commit log records their
  * batch, so no crash window can orphan an unshipped file.
  */
object AuditIngest {

  /** R1 backlog scan as a batch read: binaryFile source, *.xml glob.
    * Emits the envelope frame (key, value, pid, completeness, lineage).
    */
  def readBatch(spark: SparkSession, dir: String, host: String): DataFrame = {
    val raw = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xml")
      .load(dir)
      .select(
        col("path"),
        decode(col("content"), "UTF-8").as("payload"),
        col("modificationTime").as("mtime"),
        col("length"))
    AuditModel.envelope(raw, host)
  }

  /** JMX surface mirroring the reference's CommonJobMgmtMBean.java:16-23:
    * running counters plus derived elapsed/transfer durations in the same
    * "Xdays Yhrs Zmin Wsec." rendering (CommonJobMgmt.java:32-70).
    */
  trait IngestMetricsMBean {
    def getElapsedTimeMillis: Long
    def getElapsedTime: String
    def getFilesCount: Long
    def getFilesSize: Long
    def getDlqCount: Long
    def getTransferTimeMillis: Long
    def getTransferTime: String
  }

  /** R15 metrics: running files/bytes/DLQ/time counters (reference
    * CommonJobMgmt.java:21-30 AtomicLongs, exposed over JMX; here fed by
    * `observe()` rows via a StreamingQueryListener and registered as a
    * standard MBean by [[registerMBean]]). The listener hears every
    * query on the session; only progress carrying `audit_ingest` counts.
    */
  final class IngestMetrics extends StreamingQueryListener with IngestMetricsMBean {
    private val startTimeMillis = System.currentTimeMillis()
    val filesCount = new AtomicLong
    val filesSize = new AtomicLong
    val dlqCount = new AtomicLong
    val processingTimeMs = new AtomicLong

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val om = e.progress.observedMetrics
      if (om.containsKey("audit_ingest")) {
        val row = om.get("audit_ingest")
        filesCount.addAndGet(row.getAs[Long]("n_files"))
        filesSize.addAndGet(Option(row.getAs[java.lang.Long]("n_bytes")).map(_.toLong).getOrElse(0L))
        dlqCount.addAndGet(row.getAs[Long]("n_dlq"))
        processingTimeMs.addAndGet(
          Option(e.progress.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
      }
    }

    private def fmt(millis: Long): String = {
      val d = java.time.Duration.ofMillis(millis)
      s"${d.toDays}days ${d.toHours % 24}hrs ${d.toMinutes % 60}min ${d.getSeconds % 60}sec."
    }
    override def getElapsedTimeMillis: Long = System.currentTimeMillis() - startTimeMillis
    override def getElapsedTime: String = fmt(getElapsedTimeMillis)
    override def getFilesCount: Long = filesCount.get()
    override def getFilesSize: Long = filesSize.get()
    override def getDlqCount: Long = dlqCount.get()
    override def getTransferTimeMillis: Long = processingTimeMs.get()
    override def getTransferTime: String = fmt(getTransferTimeMillis)
  }

  /** Register the metrics under the reference's naming shape
    * (CommonJobSingleton.java:52-54). Returns the ObjectName for
    * unregistration; idempotent per name (re-register replaces).
    */
  def registerMBean(m: IngestMetrics, name: String = "oraaudit"): javax.management.ObjectName = {
    val on = new javax.management.ObjectName(s"graft.ingest:type=IngestMetrics,name=$name")
    val mbs = java.lang.management.ManagementFactory.getPlatformMBeanServer
    if (mbs.isRegistered(on)) mbs.unregisterMBean(on)
    mbs.registerMBean(m, on)
    on
  }

  /** Streaming ingest over the settled dir. Per microbatch:
    *  - complete files → parquet "topic mirror" (partitioned by batch id,
    *    overwritten on replay ⇒ idempotent / effectively exactly-once);
    *  - malformed files → DLQ table with a reason column (R13 without the
    *    reference's infinite requeue — the settle gate already ensured
    *    the writer closed, so incomplete here means truncated-for-good);
    *  - source files deleted only AFTER the batch is committed (R14),
    *    via the file source's own `cleanSource=delete`: the source
    *    removes batch N's files when it commits N — at batch N+1
    *    construction, strictly after the commit log records N — so a
    *    crash mid-batch always replays from still-present files, and a
    *    crash after commit leaves at worst a stale file that is never
    *    redelivered (seen-file log). The cleaner only sweeps a batch's
    *    own files, so a deletion lost to a crash between commit and
    *    sweep can leave that file on disk indefinitely — no data loss,
    *    just accumulation; janitor with maxFileAge-style cleanup if the
    *    ingest dir must stay empty. No driver-side collect in the
    *    commit path.
    *
    * `ship` overrides the complete-branch sink (default: parquet mirror
    * under mirrorDir/batch=N) — the seam graft.Agent uses to route the
    * same stream to Kafka or the Kinesis transport. It is the only way a
    * frame leaves the agent.
    *
    * The stream lists each batch's files on the driver: it raises the
    * session's `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * to at least `maxFilesPerTrigger` (a higher value is kept). Below
    * that, Spark lists a batch of more than 32 files with a distributed
    * job of one task per file, which took 1.9 s of a 3.3 s 512-file
    * batch on 4 cores. The file source reads the threshold from this
    * session, not the stream's clone, at every batch, so it cannot be
    * scoped to `start()` and stays set after the call, like the conf
    * `Tables` sets. How files are listed never changes which rows come
    * out.
    */
  def startStream(
      spark: SparkSession,
      ingestDir: String, mirrorDir: String, dlqDir: String,
      checkpointDir: String, host: String,
      triggerMs: Long = 500, maxFilesPerTrigger: Int = 512,
      ship: Option[(DataFrame, Long) => Unit] = None): StreamingQuery = {

    val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if (spark.conf.get(listingThreshold).toInt < maxFilesPerTrigger)
      spark.conf.set(listingThreshold, maxFilesPerTrigger.toLong)

    val raw = spark.readStream.format("text")
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.xml")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", "delete")
      .load(ingestDir)
      .select(
        col("value").as("payload"),
        col("_metadata.file_path").as("path"),
        col("_metadata.file_modification_time").as("mtime"),
        col("_metadata.file_size").as("length"))

    val env = AuditModel.envelope(raw, host)
      .observe("audit_ingest",
        count(lit(1)).as("n_files"),
        sum(col("src_bytes")).as("n_bytes"),
        count(when(!col("complete"), lit(1))).as("n_dlq"))

    env.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val complete = b.filter(col("complete")).drop("complete")
          ship.getOrElse(ShipSinks.overwriteBatch(_, mirrorDir, _))(complete, batchId)
          ShipSinks.overwriteBatch(
            b.filter(!col("complete"))
              .withColumn("reason", lit("incomplete: missing </Audit> terminator")),
            dlqDir, batchId)
        } finally b.unpersist()
        ()
      }
      .start()
  }
}
