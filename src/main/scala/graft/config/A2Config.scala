package graft.config

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

/** Typed `a2.*` configuration surface, mirroring the reference's
  * properties file (reference OraaudKafka.java:133-276, 317-373 — target
  * broker validation, watched-path check, worker-count clamping, poll
  * interval parse; KafkaSingleton.java:65-139 / KinesisSingleton.java:70-157
  * for the per-sink keys). Validation is fail-fast `require`s instead of
  * the reference's exit codes 1-6.
  */
final case class A2Config(
    watchedPath: String,
    targetBroker: String = "kafka",
    workerCount: Int = A2Config.DefaultWorkers,
    pollIntervalMs: Long = A2Config.DefaultPollMs,
    settleDelayMs: Long = 2000L,
    kafkaServers: Option[String] = None,
    kafkaTopic: Option[String] = None,
    kafkaClientId: Option[String] = None,
    kafkaCompression: String = "gzip",
    kafkaOptions: Map[String, String] = Map.empty,
    kinesisSizeThreshold: Int = 512,
    kinesisMaxConnections: Int = 1,
    kinesisRequestTimeoutMs: Int = 30000,
    kinesisMaxBufferedTimeMs: Int = 5000,
    kinesisStream: Option[String] = None,
    kinesisRegion: Option[String] = None,
    kinesisAccessKey: Option[String] = None,
    kinesisAccessSecret: Option[String] = None,
    workDir: Option[String] = None,
    mirrorPath: Option[String] = None) {

  // "mirror" is an engine extension over the reference's kafka|kinesis
  // (OraaudKafka.java:141-150): a broker-less parquet sink carrying the
  // identical (key, value) frame, for test/offline operation.
  require(Set("kafka", "kinesis", "mirror")(targetBroker),
    s"a2.target.broker must be kafka|kinesis|mirror, got '$targetBroker'") // exit 3
  require(workerCount >= 1, "a2.worker.count must be >= 1")
  require(pollIntervalMs > 0, "a2.locked.file.query.interval must be > 0")
  if (targetBroker == "kafka") {
    require(kafkaServers.isDefined && kafkaTopic.isDefined && kafkaClientId.isDefined,
      "a2.kafka.servers, a2.kafka.topic, a2.kafka.client.id are mandatory for kafka")
  }
  if (targetBroker == "kinesis") {
    // reference KinesisSingleton.java:71-94: stream, region, access key
    // and secret are each mandatory (fatal + exit there; fail-fast here)
    require(kinesisStream.isDefined && kinesisRegion.isDefined &&
      kinesisAccessKey.isDefined && kinesisAccessSecret.isDefined,
      "a2.kinesis.stream, a2.kinesis.region, a2.kinesis.access.key, " +
        "a2.kinesis.access.secret are mandatory for kinesis")
  }

  /** Kafka sink options for `writeStream.format("kafka")` — every
    * `a2.kafka.*` key maps 1:1 onto a `kafka.*` sink option
    * (reference KafkaSingleton.java:116-139 pass-through list).
    */
  def kafkaSinkOptions: Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> kafkaServers.getOrElse(""),
      "topic" -> kafkaTopic.getOrElse(""),
      "kafka.client.id" -> kafkaClientId.getOrElse(""),
      "kafka.compression.type" -> kafkaCompression) ++
      kafkaOptions.map { case (k, v) => s"kafka.$k" -> v }

  /** Kinesis client settings for the agent's Kinesis transport (the
    * `kinesisTransport` of graft.Agent.start) — the typed form of what
    * KinesisSingleton.java:70-157 feeds its producer configuration:
    * identity/endpoint plus the tuning knobs (connections, timeout,
    * max buffered time). Keys are the reference property names with the
    * `a2.` prefix stripped, so a transport adapter can consume them
    * without re-parsing the properties file.
    */
  def kinesisClientSettings: Map[String, String] = Map(
    "kinesis.stream" -> kinesisStream.getOrElse(""),
    "kinesis.region" -> kinesisRegion.getOrElse(""),
    "kinesis.access.key" -> kinesisAccessKey.getOrElse(""),
    "kinesis.access.secret" -> kinesisAccessSecret.getOrElse(""),
    "kinesis.max.connections" -> kinesisMaxConnections.toString,
    "kinesis.request.timeout" -> kinesisRequestTimeoutMs.toString,
    "kinesis.request.record.max.buffered.time" -> kinesisMaxBufferedTimeMs.toString)

  /** Agent working directories (graft.Agent): the settle-gate target the
    * stream actually watches, checkpoint, DLQ, and (mirror target only)
    * the parquet mirror — all under one work dir so a single `a2.*` key
    * relocates the agent's mutable state — on the watched dir's file
    * system, which the settle gate's atomic renames need (Agent.start checks).
    */
  def agentWorkDir: String = workDir.getOrElse(s"$watchedPath/.graft")
  def settledDir: String = s"$agentWorkDir/settled"
  def checkpointDir: String = s"$agentWorkDir/checkpoint"
  def dlqDir: String = s"$agentWorkDir/dlq"
  def mirrorDir: String = mirrorPath.getOrElse(s"$agentWorkDir/mirror")
}

object A2Config {
  /** Reference defaults/cap: OraaudKafka.java:66-68 (16 default, 150 max),
    * :55 (1000 ms poll).
    */
  val DefaultWorkers = 16
  val MaxWorkers = 150
  val DefaultPollMs = 1000L

  // NB: security.protocol is NOT in this list — it is the canonical
  // security key, owned (and validated) by securityOptions below
  private[config] val passThroughKafkaKeys = Seq(
    "batch.size", "linger.ms", "acks", "max.request.size",
    "buffer.memory", "retries",
    // production broker security surface (KafkaSingleton.java:94-105 is
    // the reference subset; keystore/endpoint keys cover mutual TLS)
    "ssl.truststore.location", "ssl.truststore.password",
    "ssl.keystore.location", "ssl.keystore.password", "ssl.key.password",
    "ssl.endpoint.identification.algorithm",
    "sasl.mechanism", "sasl.jaas.config", "sasl.kerberos.service.name")

  /** The reference's dedicated security property names
    * (KafkaSingleton.java:94-105): `a2.kafka.security.protocol` =
    * SSL|SASL_SSL expands into the producer's ssl/sasl keys, with
    * the truststore under `a2.kafka.security.truststore.*` and the JAAS
    * line under `a2.security.jaas.config` (SASL mechanism fixed PLAIN).
    * Returned un-prefixed; `kafkaSinkOptions` adds the `kafka.` prefix.
    */
  private def securityOptions(get: String => Option[String]): Map[String, String] = {
    def trust: Map[String, String] = Seq("location", "password").map { k =>
      s"ssl.truststore.$k" -> get(s"a2.kafka.security.truststore.$k").getOrElse(
        throw new IllegalArgumentException(
          s"a2.kafka.security.truststore.$k is mandatory when a2.kafka.security.protocol is set"))
    }.toMap
    get("a2.kafka.security.protocol").map(_.toUpperCase) match {
      case Some("SSL") =>
        Map("security.protocol" -> "SSL") ++ trust
      case Some("SASL_SSL") =>
        Map("security.protocol" -> "SASL_SSL", "sasl.mechanism" -> "PLAIN") ++ trust ++
          Map("sasl.jaas.config" -> get("a2.security.jaas.config").getOrElse(
            throw new IllegalArgumentException(
              "a2.security.jaas.config is mandatory for SASL_SSL")))
      case Some(plain @ ("PLAINTEXT" | "SASL_PLAINTEXT")) =>
        // valid Kafka protocols the reference tolerates
        // (KafkaSingleton.java:94-105 ignores non-SSL values): no
        // truststore/JAAS expansion, the value passes through verbatim
        // (SASL_PLAINTEXT users supply sasl.* via the generic
        // a2.kafka.* passthrough keys)
        Map("security.protocol" -> plain)
      case Some(other) =>
        // the reference silently ignores unknown values here, so a typo
        // like 'SASLSSL' would skip the mandatory truststore/JAAS
        // validation entirely — fail fast instead
        throw new IllegalArgumentException(
          s"a2.kafka.security.protocol must be PLAINTEXT|SSL|SASL_PLAINTEXT|SASL_SSL, got '$other'")
      case None => Map.empty
    }
  }

  def fromProperties(props: Map[String, String]): A2Config = {
    def get(k: String): Option[String] = props.get(k).map(_.trim).filter(_.nonEmpty)
    // worker-count clamp mirrors OraaudKafka.java:355-373
    val workers = get("a2.worker.count").map(_.toInt) match {
      case Some(n) if n < 1 => DefaultWorkers
      case Some(n) if n > MaxWorkers => MaxWorkers
      case Some(n) => n
      case None => DefaultWorkers
    }
    val broker = get("a2.target.broker").getOrElse("kafka").toLowerCase
    A2Config(
      watchedPath = get("a2.watched.path").getOrElse(
        throw new IllegalArgumentException("a2.watched.path is mandatory")), // exit 4
      targetBroker = broker,
      workerCount = workers,
      pollIntervalMs = get("a2.locked.file.query.interval").map(_.toLong).getOrElse(DefaultPollMs),
      settleDelayMs = get("a2.settle.delay.ms").map(_.toLong).getOrElse(2000L),
      kafkaServers = get("a2.kafka.servers"),
      kafkaTopic = get("a2.kafka.topic"),
      kafkaClientId = get("a2.kafka.client.id"),
      kafkaCompression = get("a2.kafka.compression.type").getOrElse("gzip"),
      // security mapping is kafka-only: the reference never reads kafka
      // settings for other brokers, so a kinesis/mirror config carrying a
      // leftover a2.kafka.security.* key must not fail at startup
      kafkaOptions = passThroughKafkaKeys
        .flatMap(k => get(s"a2.kafka.$k").map(v => k -> v)).toMap ++
        (if (broker == "kafka") securityOptions(get) // canonical mapping wins on overlap
         else Map.empty),
      kinesisSizeThreshold = get("a2.kinesis.file.size.threshold").map(_.toInt).getOrElse(512),
      kinesisMaxConnections = get("a2.kinesis.max.connections").map(_.toInt).getOrElse(1),
      kinesisRequestTimeoutMs = get("a2.kinesis.request.timeout").map(_.toInt).getOrElse(30000),
      kinesisMaxBufferedTimeMs =
        get("a2.kinesis.request.record.max.buffered.time").map(_.toInt).getOrElse(5000),
      kinesisStream = get("a2.kinesis.stream"),
      kinesisRegion = get("a2.kinesis.region"),
      kinesisAccessKey = get("a2.kinesis.access.key"),
      kinesisAccessSecret = get("a2.kinesis.access.secret"),
      workDir = get("a2.agent.work.dir"),
      mirrorPath = get("a2.mirror.path"))
  }

  def fromFile(path: String): A2Config = {
    val p = new Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    fromProperties(p.asScala.toMap)
  }
}
