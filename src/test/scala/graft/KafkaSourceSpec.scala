package graft

import java.sql.Timestamp

import graft.sources.KafkaSource
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

/** Kafka connector surface (SURVEY §2 #42b): the option maps and the
  * wire-schema decode/encode path are the broker-independent contract —
  * a cluster with the connector jar consumes them unchanged. */
class KafkaSourceSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = KafkaSource.ReaderConfig(
    bootstrapServers = "broker-1:9092,broker-2:9092",
    subscribe = Seq("articles.raw", "articles.clean"),
    startingOffsets = "earliest",
    maxOffsetsPerTrigger = Some(5000L),
    groupIdPrefix = Some("graft-etl"))

  test("readerOptions compiles the consumer surface to Spark option names") {
    val opts = KafkaSource.readerOptions(cfg)
    assert(opts("kafka.bootstrap.servers") === "broker-1:9092,broker-2:9092")
    assert(opts("subscribe") === "articles.raw,articles.clean")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("failOnDataLoss") === "true")
    assert(opts("maxOffsetsPerTrigger") === "5000")
    assert(opts("groupIdPrefix") === "graft-etl")
    assert(!opts.contains("minPartitions"), "unset optionals must not emit")
  }

  test("reader config validates topics and offset specs") {
    intercept[IllegalArgumentException] {
      KafkaSource.ReaderConfig("b:9092", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      KafkaSource.ReaderConfig("b:9092", Seq("t"), startingOffsets = "sometime")
    }
    // per-partition JSON offsets are a legal spec
    KafkaSource.ReaderConfig("b:9092", Seq("t"),
      startingOffsets = """{"t":{"0":23,"1":-2}}""")
  }

  test("writerOptions carries kafka.-prefixed client passthroughs and rejects others") {
    val opts = KafkaSource.writerOptions("b:9092", "articles.clean",
      Map("kafka.acks" -> "all", "kafka.compression.type" -> "snappy"))
    assert(opts("topic") === "articles.clean")
    assert(opts("kafka.acks") === "all")
    intercept[IllegalArgumentException] {
      KafkaSource.writerOptions("b:9092", "t", Map("acks" -> "all"))
    }
  }

  test("decodeJson parses the wire frame against a declared schema, keeping lineage columns") {
    val payloadSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    val wire = Seq(
      ("k1".getBytes, """{"doc_id": 7, "text": "hello"}""".getBytes,
        "articles.raw", 0, 42L, Timestamp.valueOf("2024-01-01 10:00:00"), 0))
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    assert(spark.createDataFrame(wire.rdd, KafkaSource.wireSchema).schema === KafkaSource.wireSchema)
    val out = KafkaSource.decodeJson(wire, payloadSchema)
    val row = out.as[(String, String, Int, Long, Timestamp, Long, String)].collect().head
    assert(row === ("k1", "articles.raw", 0, 42L,
      Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "hello"))
  }

  test("encodeJson -> decodeJson round-trips the payload keyed by the dedup column") {
    val payloadSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    val docs = Seq((7L, "body text")).toDF("doc_id", "text")
    val encoded = KafkaSource.encodeJson(docs, keyCol = "doc_id",
      payloadCols = Seq("doc_id", "text"))
    assert(encoded.columns.toSeq === Seq("key", "value"))
    // shape the encoded rows as a wire frame (what the broker would echo back)
    val wire = encoded.select(
      $"key".cast("binary").as("key"), $"value".cast("binary").as("value"),
      org.apache.spark.sql.functions.lit("articles.raw").as("topic"),
      org.apache.spark.sql.functions.lit(0).as("partition"),
      org.apache.spark.sql.functions.lit(0L).as("offset"),
      org.apache.spark.sql.functions.lit(Timestamp.valueOf("2024-01-01 10:00:00")).as("timestamp"),
      org.apache.spark.sql.functions.lit(0).as("timestampType"))
    val back = KafkaSource.decodeJson(wire, payloadSchema)
      .select("key", "doc_id", "text").as[(String, Long, String)].collect().head
    assert(back === ("7", 7L, "body text"))
  }

  test("streaming wire frame -> decodeJson -> silver clean composes (raw-topic to clean-topic)") {
    implicit val sqlCtx = spark.sqlContext
    val payloadSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
      .add("lang", StringType).add("source", StringType).add("n_chars", LongType)
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp, Int)]
    val wire = input.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val cleaned = Streams.cleanStream(KafkaSource.decodeJson(wire, payloadSchema))
    val q = cleaned.writeStream
      .format("memory").queryName("kafka_clean_out").outputMode("append").start()
    try {
      input.addData((
        "1".getBytes,
        """{"doc_id": 1, "text": "Jakarta, CNN Indonesia -- Kafka  body", "lang": "id", "source": "cnn", "n_chars": 37}""".getBytes,
        "articles.raw", 0, 0L, Timestamp.valueOf("2024-01-01 10:00:00"), 0))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, content, content_length FROM kafka_clean_out")
        .as[(Long, String, Long)].collect()
      assert(out.toSeq === Seq((1L, "Kafka body", 10L)))
    } finally q.stop()
  }

  test("end-to-end: wire frame -> decode -> clean -> keyed upsert layer (replaces re-deliveries)") {
    implicit val sqlCtx = spark.sqlContext
    val payloadSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
      .add("lang", StringType).add("source", StringType).add("n_chars", LongType)
    val dir = tempDir("wire_upsert")
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp, Int)]
    val wire = input.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val cleaned = Streams.cleanStream(KafkaSource.decodeJson(wire, payloadSchema))
      .select("doc_id", "content", "content_length")
    val q = graft.sources.Sinks.streamingUpsertSink(
      cleaned, s"$dir/layer", s"$dir/ckpt", Seq("doc_id")).start()
    def frame(id: Long, text: String) = (
      id.toString.getBytes,
      s"""{"doc_id": $id, "text": "$text", "lang": "id", "source": "cnn", "n_chars": ${text.length}}""".getBytes,
      "articles.raw", 0, 0L, Timestamp.valueOf("2024-01-01 10:00:00"), 0)
    try {
      input.addData(frame(1L, "first  body"), frame(2L, "second body"))
      q.processAllAvailable()
      // producer re-delivers doc 1 with a corrected body: upsert, not append
      input.addData(frame(1L, "fixed body"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/layer")
        .select("doc_id", "content").as[(Long, String)].collect().toSet
      assert(out === Set((1L, "fixed body"), (2L, "second body")))
    } finally q.stop()
  }

  test("streamReader/batchReader/streamWriter build without a broker (options applied lazily)") {
    // .load()/.start() need a broker + connector jar; the builders must
    // not — a misconfigured option map should fail HERE, in unit tests.
    implicit val sqlCtx = spark.sqlContext
    KafkaSource.streamReader(spark, cfg)
    KafkaSource.batchReader(spark, cfg)
    val stream = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    KafkaSource.streamWriter(
      KafkaSource.encodeJson(stream, "doc_id", Seq("doc_id", "text")),
      "b:9092", "articles.clean", "/tmp/ckpt-unused")
  }
}
