package graft.sinks

import graft.config.A2Config
import graft.functions.Gzip
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink surface (reference R11 Kafka / R12 Kinesis / Q4-Q5): every sink
  * consumes the canonical `(key, value)` frame, and every frame leaves
  * through the arms of `graft.Agent.start`'s ship function, behind the
  * settle gate and the DLQ split of `AuditIngest.startStream`.
  *
  * - Kafka: the built-in `format("kafka")` batch writer; all `a2.kafka.*`
  *   keys pass through 1:1 (reference KafkaSingleton.java:65-139 —
  *   producer config incl. compression.type=gzip default).
  * - Kinesis: no connector offline (reference KinesisJob/KinesisSingleton);
  *   the record-level transform (R9 conditional gzip above the 512-byte
  *   threshold, KinesisJob.java:66-73) is real and tested, the transport
  *   is the agent's pluggable `kinesisTransport`.
  * - Parquet mirror: the verification sink carrying the identical
  *   frame, so sink-contract tests need no broker.
  */
object ShipSinks {

  /** The canonical sink frame: exactly (key, value). */
  def frame(df: DataFrame): DataFrame = df.select(col("key"), col("value"))

  /** R12/R9: Kinesis-shaped frame — key plus a BINARY value that is
    * gzip-compressed only above the size threshold (conditional
    * compression is the Kinesis path's record-level contract; Kafka
    * instead compresses at the producer level via compression.type).
    */
  def kinesisFrame(df: DataFrame, cfg: A2Config): DataFrame =
    df.select(col("key"),
      Gzip.gzip_if_large(col("value"), lit(cfg.kinesisSizeThreshold)).as("value"))

  /** Write one micro-batch as parquet under `dir/batch=N`, replacing
    * whatever a failed attempt of the same batch left there: a replay of
    * batch N rewrites the same directory, which is what makes the mirror,
    * the DLQ and the default Kinesis transport idempotent sinks.
    */
  def overwriteBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
}
