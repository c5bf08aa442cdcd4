package graft

import java.nio.file.Files

import graft.config.A2Config
import graft.functions.Gzip
import graft.sinks.ShipSinks
import org.apache.spark.sql.functions._

/** R17 config load/validation parity and the R11/R12 sink seams. */
class ConfigSinkSpec extends SparkSuite {

  private val base = Map(
    "a2.watched.path" -> "/tmp/audit",
    "a2.kafka.servers" -> "broker:9092",
    "a2.kafka.topic" -> "audit",
    "a2.kafka.client.id" -> "graft-1")

  private val kinesisKeys = Map(
    "a2.target.broker" -> "kinesis",
    "a2.kinesis.stream" -> "audit-stream", "a2.kinesis.region" -> "us-east-1",
    "a2.kinesis.access.key" -> "AK", "a2.kinesis.access.secret" -> "SK")

  test("kafka config maps a2.* keys 1:1 onto sink options") {
    val cfg = A2Config.fromProperties(base ++ Map(
      "a2.kafka.batch.size" -> "65536", "a2.kafka.linger.ms" -> "50"))
    val opts = cfg.kafkaSinkOptions
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("topic") == "audit")
    assert(opts("kafka.compression.type") == "gzip") // reference default on
    assert(opts("kafka.batch.size") == "65536")
    assert(opts("kafka.linger.ms") == "50")
  }

  test("SSL security keys expand like KafkaSingleton.java:94-105") {
    val cfg = A2Config.fromProperties(base ++ Map(
      "a2.kafka.security.protocol" -> "ssl",
      "a2.kafka.security.truststore.location" -> "/etc/tls/trust.jks",
      "a2.kafka.security.truststore.password" -> "secret"))
    val opts = cfg.kafkaSinkOptions
    assert(opts("kafka.security.protocol") == "SSL")
    assert(opts("kafka.ssl.truststore.location") == "/etc/tls/trust.jks")
    assert(opts("kafka.ssl.truststore.password") == "secret")
    assert(!opts.contains("kafka.sasl.mechanism"))
  }

  test("SASL_SSL adds PLAIN mechanism and the JAAS line") {
    val cfg = A2Config.fromProperties(base ++ Map(
      "a2.kafka.security.protocol" -> "SASL_SSL",
      "a2.kafka.security.truststore.location" -> "/etc/tls/trust.jks",
      "a2.kafka.security.truststore.password" -> "secret",
      "a2.security.jaas.config" ->
        "org.apache.kafka.common.security.plain.PlainLoginModule required username=\"u\" password=\"p\";"))
    val opts = cfg.kafkaSinkOptions
    assert(opts("kafka.security.protocol") == "SASL_SSL")
    assert(opts("kafka.sasl.mechanism") == "PLAIN")
    assert(opts("kafka.sasl.jaas.config").contains("PlainLoginModule"))
    assert(opts("kafka.ssl.truststore.password") == "secret")
    // missing truststore fails fast like the reference's NPE-on-put
    intercept[IllegalArgumentException] {
      A2Config.fromProperties(base + ("a2.kafka.security.protocol" -> "SSL"))
    }
  }

  test("PLAINTEXT and SASL_PLAINTEXT pass through verbatim, no truststore demanded") {
    val plain = A2Config.fromProperties(base + ("a2.kafka.security.protocol" -> "plaintext"))
    assert(plain.kafkaSinkOptions("kafka.security.protocol") == "PLAINTEXT")
    assert(!plain.kafkaSinkOptions.contains("kafka.ssl.truststore.location"))
    val sasl = A2Config.fromProperties(base ++ Map(
      "a2.kafka.security.protocol" -> "SASL_PLAINTEXT",
      "a2.kafka.sasl.mechanism" -> "SCRAM-SHA-512"))
    assert(sasl.kafkaSinkOptions("kafka.security.protocol") == "SASL_PLAINTEXT")
    assert(sasl.kafkaSinkOptions("kafka.sasl.mechanism") == "SCRAM-SHA-512")
  }

  test("non-kafka broker ignores leftover kafka security keys (reference parity)") {
    val cfg = A2Config.fromProperties(base ++ kinesisKeys +
      ("a2.kafka.security.protocol" -> "SSL")) // no truststore — would throw for kafka
    assert(cfg.kafkaOptions.isEmpty)
  }

  test("generic ssl/sasl producer keys pass through 1:1") {
    val cfg = A2Config.fromProperties(base ++ Map(
      "a2.kafka.ssl.keystore.location" -> "/etc/tls/key.jks",
      "a2.kafka.ssl.keystore.password" -> "kp",
      "a2.kafka.sasl.kerberos.service.name" -> "kafka"))
    val opts = cfg.kafkaSinkOptions
    assert(opts("kafka.ssl.keystore.location") == "/etc/tls/key.jks")
    assert(opts("kafka.ssl.keystore.password") == "kp")
    assert(opts("kafka.sasl.kerberos.service.name") == "kafka")
  }

  test("worker count clamps like the reference (default 16, cap 150)") {
    assert(A2Config.fromProperties(base + ("a2.worker.count" -> "0")).workerCount == 16)
    assert(A2Config.fromProperties(base + ("a2.worker.count" -> "500")).workerCount == 150)
    assert(A2Config.fromProperties(base + ("a2.worker.count" -> "32")).workerCount == 32)
  }

  test("validation fails fast on bad broker / missing mandatory keys") {
    intercept[IllegalArgumentException] {
      A2Config.fromProperties(base + ("a2.target.broker" -> "pulsar"))
    }
    intercept[IllegalArgumentException] {
      A2Config.fromProperties(Map("a2.watched.path" -> "/tmp/x")) // no kafka keys
    }
    intercept[IllegalArgumentException] {
      A2Config.fromProperties(base - "a2.watched.path")
    }
  }

  test("properties file round-trip") {
    val f = Files.createTempFile("a2", ".conf")
    Files.writeString(f,
      "a2.watched.path=/tmp/audit\na2.worker.count=32\n" +
        "a2.kafka.servers=b:9092\na2.kafka.topic=t\na2.kafka.client.id=c\n" +
        "a2.locked.file.query.interval=512\n")
    val cfg = A2Config.fromFile(f.toString)
    assert(cfg.workerCount == 32 && cfg.pollIntervalMs == 512L)
  }

  test("kinesis seam: fake transport receives the reference wire contract") {
    // the full frame contract of the reference Kinesis path
    // (KinesisJob.java:53,66-77) across the agent's transport seam,
    // asserted on the WIRE bytes a transport plugin would hand to
    // addUserRecord:
    //   key   = host:path, untouched by the frame transform
    //   value = gzip(value) iff byte length strictly > threshold,
    //           else the raw UTF-8 bytes; receiver discriminates by
    //           magic-byte sniff, never out-of-band flags
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    val watched = tmpDir("kinesis-watched"); val work = tmpDir("kinesis-work")
    val cfg = A2Config.fromProperties(base ++ kinesisKeys ++ Map(
      "a2.watched.path" -> watched.toString, "a2.agent.work.dir" -> work.toString,
      "a2.locked.file.query.interval" -> "100", "a2.settle.delay.ms" -> "100")
      - "a2.kafka.servers" - "a2.kafka.topic" - "a2.kafka.client.id")
    assert(cfg.kinesisSizeThreshold == 512) // reference default
    // complete audit files whose shipped value (newlines stripped, R6)
    // is below, exactly at (strict >, ships raw) and above the threshold
    def doc(valueBytes: Int): String = {
      val (head, tail) = ("<?xml version=\"1.0\"?>\n<Audit>\n<Sql_Text>", "</Sql_Text>\n</Audit>\n")
      head + "x" * (valueBytes - (head + tail).replace("\n", "").length) + tail
    }
    val docs = Map("orcl_ora_301_1.xml" -> doc(120), "orcl_ora_302_2.xml" -> doc(512),
      "orcl_ora_303_3.xml" -> doc(700))
    val wire = docs.map { case (f, d) => f -> d.replace("\n", "").getBytes(UTF_8) }
    assert(wire.values.map(_.length).toSet == Set(120, 512, 700))
    docs.foreach { case (f, d) => Files.writeString(watched.resolve(f), d) }

    val received = scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]
    val r = Agent.start(spark, cfg, kinesisTransport = Some { (frame, _) =>
      assert(frame.schema("value").dataType ==
        org.apache.spark.sql.types.BinaryType, "wire value must be BINARY")
      frame.select(col("key"), col("value")).as[(String, Array[Byte])]
        .collect().foreach { case (k, v) => received(k) = v }
    })
    try {
      val t0 = System.currentTimeMillis()
      while (received.size < docs.size && System.currentTimeMillis() - t0 < 30000)
        Thread.sleep(100)
    } finally Agent.stop(r, spark)
    def wireOf(file: String): Array[Byte] = {
      val keys = received.keys.filter(_.endsWith("/" + file)).toSeq
      assert(keys.size == 1 && keys.head.startsWith(s"${Agent.hostName}:"), received.keys)
      received(keys.head)
    }
    assert(received.size == docs.size, received.keys)
    // at/below threshold: byte-identical to value.getBytes(UTF-8)
    assert(java.util.Arrays.equals(wireOf("orcl_ora_301_1.xml"), wire("orcl_ora_301_1.xml")))
    assert(java.util.Arrays.equals(wireOf("orcl_ora_302_2.xml"), wire("orcl_ora_302_2.xml")))
    // above: gzip container (magic sniff on the wire bytes) wrapping the
    // exact original UTF-8 payload
    val big = wireOf("orcl_ora_303_3.xml")
    assert(Gzip.isCompressed(big) &&
      (big(0) & 0xff) == 0x1f && (big(1) & 0xff) == 0x8b)
    assert(java.util.Arrays.equals(Gzip.decompress(big), wire("orcl_ora_303_3.xml")))
  }

  test("kinesis identity/endpoint keys are typed and mandatory (KinesisSingleton parity)") {
    val cfg = A2Config.fromProperties(base ++ kinesisKeys ++ Map(
      "a2.kinesis.max.connections" -> "4", "a2.kinesis.request.timeout" -> "60000"))
    assert(cfg.kinesisStream.contains("audit-stream") &&
      cfg.kinesisRegion.contains("us-east-1"))
    val cs = cfg.kinesisClientSettings
    assert(cs("kinesis.stream") == "audit-stream" &&
      cs("kinesis.region") == "us-east-1" &&
      cs("kinesis.access.key") == "AK" && cs("kinesis.access.secret") == "SK" &&
      cs("kinesis.max.connections") == "4" &&
      cs("kinesis.request.timeout") == "60000" &&
      cs("kinesis.request.record.max.buffered.time") == "5000")
    // each identity key is mandatory for the kinesis broker — the
    // reference logs fatal and exits (KinesisSingleton.java:71-94)
    Seq("a2.kinesis.stream", "a2.kinesis.region",
        "a2.kinesis.access.key", "a2.kinesis.access.secret").foreach { k =>
      intercept[IllegalArgumentException] {
        A2Config.fromProperties(base ++ kinesisKeys - k)
      }
    }
    // ...but never demanded for other brokers (kafka config above
    // carries no kinesis keys and loads fine)
    assert(A2Config.fromProperties(base).kinesisStream.isEmpty)
  }

  test("kinesis frame gzips only above the threshold, round-trips") {
    import spark.implicits._
    val cfg = A2Config.fromProperties(base ++ kinesisKeys
      - "a2.kafka.servers" - "a2.kafka.topic" - "a2.kafka.client.id")
    val df = Seq(("k1", "small"), ("k2", "y" * 2000)).toDF("key", "value")
    val out = ShipSinks.kinesisFrame(df, cfg)
      .select(col("key"), col("value")).as[(String, Array[Byte])].collect().toMap
    assert(!Gzip.isCompressed(out("k1")))
    assert(Gzip.isCompressed(out("k2")))
    assert(new String(Gzip.decompress(out("k2")), "UTF-8") == "y" * 2000)
  }
}
