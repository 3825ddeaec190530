package graft

import java.nio.file.Files

import graft.operators.Multimodal
import graft.sources.{JsonSource, Sinks}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Sources, sinks and multimodal plumbing (SURVEY §2 #37, #41-43). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("Tables.load rejects a table missing required columns") {
    val dir = tempDir("graft_tables")
    Seq((1L, "x")).toDF("event_id", "wrong").write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "events")
    }
    assert(e.getMessage.contains("missing columns"))
  }

  test("Tables.events EXECUTES after the nanosAsLong conf restore, next to another parquet read") {
    // The nanos conf is saved/restored inside Tables.events on the
    // assumption it only matters at schema-resolution time. That holds
    // on this Spark version; if an upgrade ever re-consults the
    // session conf when the scan executes, this join (action AFTER the
    // restore, alongside a normal parquet read) fails loudly instead
    // of the correctness gate failing mysteriously.
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val docs = Tables.documents(spark, dir)
    assert(!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "Tables.events must leave the session conf as it found it")
    assert(ev.join(docs, ev("event_id") === docs("doc_id")).count() > 0)
    assert(ev.select(max(col("ts"))).head().get(0) != null) // ts really materializes
  }

  /** Writes an `events.parquet` whose `ts` is physically INT64
    * TIMESTAMP(NANOS, isAdjustedToUTC=false) — the layout the original
    * data generator shipped, which Spark's writer cannot produce
    * (`outputTimestampType` stops at MICROS). Built with the bundled
    * parquet-java example writer so the nanos branch of Tables.events
    * stays exercised even though all current driver fixtures are
    * MICROS (the round-10 regression class: the branch going dead). */
  private def writeNanosEvents(file: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf).withType(schema).build()
    val factory = new SimpleGroupFactory(schema)
    rows.foreach { case (id, tsNanos, uid, etype, v, props) =>
      val g = factory.newGroup()
      g.add("event_id", id); g.add("ts", tsNanos); g.add("user_id", uid)
      g.add("event_type", etype); g.add("value", v); g.add("props", props)
      writer.write(g)
    }
    writer.close()
  }

  test("Tables.events normalizes TIMESTAMP(NANOS) and TIMESTAMP(MICROS) layouts identically") {
    import java.time.LocalDateTime
    // micro-aligned instants (the generator's contract; `ts div 1000` is lossless)
    val instants = Seq(
      LocalDateTime.of(2024, 3, 1, 12, 34, 56, 789012000),
      LocalDateTime.of(2024, 3, 2, 0, 0, 0, 0))
    def epochMicros(t: LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    val rows = instants.zipWithIndex.map { case (t, i) =>
      (i.toLong, epochMicros(t) * 1000L, 10L + i, "click", 1.0, "{}")
    }
    val nanosDir = tempDir("graft_ev_nanos")
    writeNanosEvents(s"$nanosDir/events.parquet", rows)

    val microsDir = tempDir("graft_ev_micros")
    instants.zipWithIndex
      .map { case (t, i) => (i.toLong, t, 10L + i, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$microsDir/events.parquet")

    def tsValues(dir: String): Seq[LocalDateTime] = {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
      ev.orderBy("event_id").select("ts").collect()
        .map(_.getAs[LocalDateTime](0)).toSeq
    }
    assert(tsValues(nanosDir) === instants, "nanos layout must decode to the generator instants")
    assert(tsValues(microsDir) === instants, "micros layout must decode to the generator instants")
    assert(!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "Tables.events must leave the session conf as it found it")
  }

  test("Tables.events fails fast on a drifted ts type instead of coercing to nulls") {
    val dir = tempDir("graft_ev_drift")
    Seq((1L, "2024-03-01", 10L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unexpected type"))
    assert(e.getMessage.contains("StringType"))
  }

  test("expireOlderThan keeps the cutoff row itself and everything after") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-15 00:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-15 00:00:01")))
      .toDF("id", "ts")
    val kept = graft.operators.Analytics
      .expireOlderThan(df, col("ts"), "2024-01-15 00:00:00")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L)) // >= cutoff, boundary inclusive
  }

  test("JsonSource.parseProps parses the payload against the declared schema") {
    val df = Seq((1L, """{"k": 42}"""), (2L, "not json")).toDF("event_id", "props")
    val out = JsonSource.parseProps(df).orderBy("event_id")
      .select("props_k").collect().map(r => Option(r.get(0)))
    assert(out.toSeq === Seq(Some(42), None)) // malformed -> null, not an error
  }

  test("JsonSource.readJson reads JSON lines with an explicit schema") {
    val dir = tempDir("graft_json")
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"), """{"id": 7}""" + "\n")
    val schema = new StructType().add("id", LongType)
    val out = JsonSource.readJson(spark, dir, schema).as[Long].collect()
    assert(out.toSeq === Seq(7L))
  }

  test("Sinks.writeParquet produces a partition-pruned layout") {
    val dir = tempDir("graft_sink") + "/out"
    val df = Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang")
    Sinks.writeParquet(df, dir, Seq("lang"))
    assert(new java.io.File(s"$dir/lang=en").exists())
    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(back.count() === 2L)
    // partition filter must prune at planning time, not post-scan
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"))
  }

  test("Sinks.jdbcWriter is configured for batched writes") {
    val w = Sinks.jdbcWriter(Seq((1L, "a")).toDF("id", "v"), "jdbc:postgresql://db/x", "t")
    assert(w.toString.nonEmpty) // construction only; no DB in this environment
  }

  test("Sinks.writeBucketed: a join on the bucket key needs NO shuffle at read time") {
    val left = (1L to 200L).map(i => (i, s"o$i")).toDF("k", "ov")
    val right = (1L to 400L).map(i => (i % 200 + 1, s"l$i")).toDF("k", "lv")
    Sinks.writeBucketed(left, "bkt_left", Seq("k"), buckets = 4)
    Sinks.writeBucketed(right, "bkt_right", Seq("k"), buckets = 4)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the at-scale join shape
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() === 400L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("Multimodal metadata derives features without decoding; stub is deterministic") {
    val docs = Seq((1L, "hello world", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val meta = Multimodal.metadata(Multimodal.binarize(docs)).head()
    assert(meta.getAs[Long]("byte_len") === 11L)
    assert(meta.getAs[String]("magic") === "68656C6C".toUpperCase) // 'hell'
    assert(meta.getAs[Int]("width") > 0 && meta.getAs[Int]("width") <= 640)
    assert(meta.getAs[Int]("height") > 0 && meta.getAs[Int]("height") <= 480)
    assert(meta.getAs[String]("fp").matches("[0-9a-f]{32}"))
    // the md5-seeded stub: width/height derive from the fingerprint's
    // leading 8 hex chars — the relation the SQL oracle replays
    val seed = java.lang.Long.parseLong(meta.getAs[String]("fp").substring(0, 8), 16)
    assert(meta.getAs[Int]("width") === (seed % 640 + 1).toInt)
    assert(meta.getAs[Int]("height") === (seed % 480 + 1).toInt)
    val again = Multimodal.metadata(Multimodal.binarize(docs)).head()
    assert(meta.getAs[String]("fp") === again.getAs[String]("fp"))
  }

  test("Multimodal triage is bytewise-deterministic and codec-free") {
    val docs = Seq((1L, "hello world", "en", "s", 11L), (2L, "hello world", "fr", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = Multimodal.triage(Multimodal.binarize(docs))
      .orderBy("doc_id").collect()
    assert(t(0).getAs[Long]("byte_len") === 11L)
    assert(t(0).getAs[String]("magic") === "68656C6C") // 'hell', uppercase hex
    // same payload -> same fingerprint across rows (dedupe key works)
    assert(t(0).getAs[String]("fp") === t(1).getAs[String]("fp"))
    assert(t(0).getAs[String]("fp").matches("[0-9a-f]{32}"))
  }

  test("CsvSource reads declared-schema CSV incl. quoted newlines; quarantine splits bad rows") {
    val dir = tempDir("csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,v\n1,\"line one\nstill row one\"\n2,plain\nnot_a_number,boom\n")
    val schema = new StructType().add("id", LongType).add("v", "string")
    val (good, bad) = graft.sources.CsvSource.readCsvQuarantine(spark, s"$dir/in.csv", schema)
    val rows = good.as[(Long, String)].collect().toSet
    assert(rows === Set((1L, "line one\nstill row one"), (2L, "plain")))
    assert(bad.count() === 1L)
  }

  test("ORC round-trip preserves schema and values (second columnar format)") {
    val dir = tempDir("orc") + "/t"
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "s", "x")
    df.write.format("orc").option("compression", "zstd").save(dir)
    val back = spark.read.orc(dir)
    // nullability widens through a file round-trip; names+types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 1.5), (2L, "b", -2.25)))
  }

  test("JsonSource.readJsonQuarantine splits malformed lines from parsed rows") {
    val dir = tempDir("jsonq")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id": 1, "v": "ok"}
        |{broken json
        |{"id": 3, "v": "also ok"}
        |""".stripMargin)
    val schema = new StructType().add("id", LongType).add("v", "string")
    val (good, bad) = JsonSource.readJsonQuarantine(spark, s"$dir/in.json", schema)
    assert(good.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    assert(bad.as[String].collect().toSeq === Seq("{broken json"))
  }

  test("Sinks.backfillParquet rewrites only the partitions in the batch") {
    val dir = tempDir("backfill") + "/t"
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"))
      .toDF("id", "day", "v")
    val day2 = Seq((3L, "2024-01-02", "c")).toDF("id", "day", "v")
    graft.sources.Sinks.backfillParquet(day1.unionByName(day2), dir, Seq("day"))
    // re-run day 2 with corrected data: day 1 must survive untouched
    val day2fix = Seq((3L, "2024-01-02", "C2"), (4L, "2024-01-02", "d"))
      .toDF("id", "day", "v")
    graft.sources.Sinks.backfillParquet(day2fix, dir, Seq("day"))
    val out = spark.read.parquet(dir).select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "a"), (2L, "b"), (3L, "C2"), (4L, "d")))
  }

  test("Sinks.compact collapses a many-small-files layer, data intact") {
    val dir = tempDir("compact") + "/layer"
    val df = (1L to 2000L).map(i => (i, s"row $i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles === 40)
    val n = graft.sources.Sinks.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n === 1 && parquetFiles === 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ===
      (1L to 2000L).map(i => (i, s"row $i")).toSet)
  }

  test("rewriteBucketed rewrites from itself via durable staging; half-swap recovers") {
    val rows = (1L to 100L).map(i => (i, i % 7)).toDF("id", "grp")
    Sinks.writeBucketed(rows, "graft_rw_t", Seq("id"), 4)
    // a self-derived rewrite (the recapChunkPostings shape): filter the
    // live table and swap the result in — no localCheckpoint, no window
    // where the only copy lives in executor blocks
    Sinks.rewriteBucketed(
      spark.table("graft_rw_t").filter(col("grp") =!= 0), "graft_rw_t", Seq("id"), 4)
    assert(spark.table("graft_rw_t").count() === (1L to 100L).count(_ % 7 != 0))
    // the swapped-in table keeps the declared bucket layout
    assert(Sinks.ensureBucketedTable(spark,
      "graft_rw_t", spark.table("graft_rw_t").schema, Seq("id"), 4) === "unchanged")
    assert(!spark.catalog.tableExists("graft_rw_t__staging"))

    // crash between DROP and RENAME: only the staging copy exists —
    // recovery promotes it instead of reading an absent table
    spark.sql("ALTER TABLE graft_rw_t RENAME TO graft_rw_t__staging")
    Sinks.recoverTableSwap(spark, "graft_rw_t")
    assert(spark.catalog.tableExists("graft_rw_t") &&
      !spark.catalog.tableExists("graft_rw_t__staging"))
    // a stale staging NEXT TO a live table is superseded, not recovered
    Sinks.writeBucketed(rows.limit(5), "graft_rw_t__staging", Seq("id"), 4)
    Sinks.recoverTableSwap(spark, "graft_rw_t")
    assert(spark.table("graft_rw_t").count() === (1L to 100L).count(_ % 7 != 0))
    // and the next rewrite clears it
    Sinks.rewriteBucketed(
      spark.table("graft_rw_t").filter(col("grp") =!= 1), "graft_rw_t", Seq("id"), 4)
    assert(spark.table("graft_rw_t").count() === (1L to 100L).count(i => i % 7 > 1))
    assert(!spark.catalog.tableExists("graft_rw_t__staging"))
    spark.sql("DROP TABLE graft_rw_t")
  }

  test("ensureBucketedTable: create, validate, evolve additively, reject layout drift") {
    val schema = new StructType()
      .add("doc_id", LongType).add("n_chars", LongType)
    try {
      assert(Sinks.ensureBucketedTable(spark, "graft_ddl_t", schema, Seq("doc_id"), 8)
        === "created")
      // re-ensure with the identical contract: a no-op, not an error
      assert(Sinks.ensureBucketedTable(spark, "graft_ddl_t", schema, Seq("doc_id"), 8)
        === "unchanged")
      // the created layout is real: writes bind to it and rows land
      Seq((1L, 10L)).toDF("doc_id", "n_chars")
        .write.mode("append").insertInto("graft_ddl_t")
      assert(spark.table("graft_ddl_t").count() === 1L)
      // additive evolution: the one in-place change parquet absorbs
      val grown = schema.add("lang", org.apache.spark.sql.types.StringType)
      assert(Sinks.ensureBucketedTable(spark, "graft_ddl_t", grown, Seq("doc_id"), 8)
        === "evolved:+1")
      // old rows read the new column as null (the ES add-a-mapping analog)
      assert(spark.table("graft_ddl_t").select("lang").head().isNullAt(0))
      // shard-count analog: a different bucket layout must fail loudly
      val e1 = intercept[IllegalStateException] {
        Sinks.ensureBucketedTable(spark, "graft_ddl_t", grown, Seq("doc_id"), 16)
      }
      assert(e1.getMessage.contains("rewrite via writeBucketed"))
      // type change and column drop both demand a rewrite
      val retyped = new StructType()
        .add("doc_id", LongType).add("n_chars", org.apache.spark.sql.types.IntegerType)
        .add("lang", org.apache.spark.sql.types.StringType)
      assert(intercept[IllegalStateException] {
        Sinks.ensureBucketedTable(spark, "graft_ddl_t", retyped, Seq("doc_id"), 8)
      }.getMessage.contains("type changes"))
      assert(intercept[IllegalStateException] {
        Sinks.ensureBucketedTable(spark, "graft_ddl_t", schema, Seq("doc_id"), 8)
      }.getMessage.contains("dropping columns"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_t")
  }

  test("streamingUpsertSink recovers a crash-mid-swap layer: __old restored, nothing lost") {
    // Simulates dying between swapInto's two renames: the live layer
    // sits under __old, the target is ABSENT, and a stale __staging
    // dir is left behind. The restarted sink must restore the layer
    // before merging (ADVICE r8: without recovery the re-run treats
    // the micro-batch alone as the merged layer and then DELETES the
    // recovery copy), and the swap must clean up both aside dirs.
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("upsert_crash")
    val layer = s"$dir/layer"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    def sink() = Sinks.streamingUpsertSink(
      input.toDF().toDF("doc_id", "text"), layer, s"$dir/ckpt", Seq("doc_id"))
    val q1 = sink().start()
    try { input.addData((1L, "a"), (2L, "b")); q1.processAllAvailable() } finally q1.stop()
    // crash simulation: half-swapped state + stale staging leftovers
    val fsDir = new java.io.File(layer)
    assert(fsDir.renameTo(new java.io.File(layer + "__old")))
    Seq((99L, "stale")).toDF("doc_id", "text").write.parquet(layer + "__staging")
    val q2 = sink().start()
    try { input.addData((2L, "B2"), (3L, "c")); q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(layer).as[(Long, String)].collect().toSet
    assert(out === Set((1L, "a"), (2L, "B2"), (3L, "c"))) // batch-1 rows survived the crash
    assert(!new java.io.File(layer + "__old").exists(), "__old cleaned up after a full swap")
    assert(!new java.io.File(layer + "__staging").exists(), "staging consumed by the swap")
  }

  test("Sinks.compact recovers a crash-mid-swap layer instead of compacting nothing") {
    val dir = tempDir("compact_crash") + "/layer"
    (1L to 100L).map(i => (i, s"row $i")).toDF("id", "v").repartition(4).write.parquet(dir)
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "__old")))
    val n = Sinks.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n === 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ===
      (1L to 100L).map(i => (i, s"row $i")).toSet)
    assert(!new java.io.File(dir + "__old").exists())
  }

  test("Sinks.mergeUpsert replaces same-key rows, appends new keys, keeps the rest") {
    val existing = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("doc_id", "text", "n_chars")
    val updates = Seq((2L, "B2", 21L), (9L, "z", 90L))
      .toDF("doc_id", "text", "n_chars")
    val merged = Sinks.mergeUpsert(existing, updates, Seq("doc_id"))
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(merged === Seq((1L, "a", 10L), (2L, "B2", 21L), (3L, "c", 30L), (9L, "z", 90L)))
  }

  test("Sinks.mergeUpsert fails fast on duplicate update keys") {
    val existing = Seq((1L, "a")).toDF("doc_id", "text")
    val updates = Seq((2L, "x"), (2L, "y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Sinks.mergeUpsert(existing, updates, Seq("doc_id"))
    }
  }

  test("Multimodal decodeBatched: bounded batches, order kept, stub matches the SQL stub") {
    val docs = (1L to 150L).map(i => (i, s"payload body $i", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bin = Multimodal.binarize(docs)
    // capture actual decoder batch sizes from the executors
    val sizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val out = Multimodal.decodeBatched(bin, maxBatch = 16,
      decode = { payloads =>
        sizes.add(payloads.length)
        Multimodal.stubDecode(payloads)
      })
    // JVM-side stub agrees with the Spark-SQL stub columns per doc
    val sqlStub = Multimodal.metadata(bin).select("doc_id", "width", "height")
    assert(out.select("doc_id", "width", "height").except(sqlStub).isEmpty)
    assert(out.count() === 150L)
    // the batch contract: nothing exceeds maxBatch, everything decoded
    val observed = sizes.value
    assert(observed.size() > 0)
    observed.forEach(n => assert(n >= 1 && n <= 16))
    assert(out.select(size(col("features"))).distinct().as[Int].collect().toSeq === Seq(8))
  }

  test("Multimodal frameSample explodes strided frame rows") {
    val docs = Seq((1L, "a" * 64, "en", "s", 64L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bin = Multimodal.binarize(docs)
    val out = Multimodal.frameSample(Multimodal.metadata(bin), bin, stride = 4)
    // n_frames = 64 % 16 + 1 = 1 -> frame 0 only
    assert(out.select("frame_idx").as[Int].collect().toSeq === Seq(0))
  }

  test("Sinks.writeShards lays out one dir per shard with rows in shuffle order") {
    val dir = tempDir("shards") + "/corpus"
    val docs = (1L to 300L).map(i => (i, s"doc $i", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val assigned = graft.operators.Corpus.shuffleShards(docs, numShards = 4)
    Sinks.writeShards(assigned, dir, numShards = 4)
    // every shard is its own partition directory
    val shards = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shards.toSeq === Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // a reader streaming one shard front-to-back sees shard_pos order
    // (single task wrote a tiny shard -> one file, order preserved)
    val read = spark.read.parquet(s"$dir/shard=2")
      .select("shard_pos").as[Long].collect().toSeq
    assert(read === read.sorted && read.head === 1L)
    assert(read.toSet === (1L to read.length).toSet)
    // nothing lost across the layout
    assert(spark.read.parquet(dir).select("doc_id").distinct().count() === 300L)
  }

  test("Sinks.writeTableRecoveringStaleLocation sweeps only a real orphaned table location") {
    import org.apache.hadoop.fs.Path
    val catalog = spark.sessionState.catalog
    def locOf(t: String) = new Path(
      catalog.defaultTablePath(spark.sessionState.sqlParser.parseTableIdentifier(t)))
    val fs = locOf("x").getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 1. orphaned Spark-written files at the default location, table NOT
    //    in the catalog: the first save dies with LOCATION_ALREADY_EXISTS,
    //    recovery verifies the contents, sweeps, and the retry lands
    val ok = "stale_loc_recovered"
    spark.sql(s"DROP TABLE IF EXISTS $ok")
    Seq((1L, "orphan")).toDF("doc_id", "text").write.parquet(locOf(ok).toString)
    Sinks.writeTableRecoveringStaleLocation(spark, ok) {
      Seq((2L, "live")).toDF("doc_id", "text")
        .write.mode("overwrite").format("parquet").saveAsTable(ok)
    }
    assert(spark.table(ok).as[(Long, String)].collect().toSeq === Seq((2L, "live")))

    // 2. a foreign file at the location: refuse loudly, leave it intact
    val bad = "stale_loc_foreign"
    spark.sql(s"DROP TABLE IF EXISTS $bad")
    val marker = new Path(locOf(bad), "README.txt")
    val out = fs.create(marker); out.writeBytes("not a spark table"); out.close()
    val e = intercept[IllegalStateException] {
      Sinks.writeTableRecoveringStaleLocation(spark, bad) {
        Seq((3L, "x")).toDF("doc_id", "text")
          .write.mode("overwrite").format("parquet").saveAsTable(bad)
      }
    }
    assert(e.getMessage.contains("refusing to sweep"))
    assert(fs.exists(marker), "foreign content must survive a refused sweep")
    fs.delete(locOf(bad), true)

    // 3. unrelated failures propagate untouched (no sweep attempted)
    val boom = intercept[IllegalArgumentException] {
      Sinks.writeTableRecoveringStaleLocation(spark, "whatever") {
        throw new IllegalArgumentException("unrelated")
      }
    }
    assert(boom.getMessage === "unrelated")

    // 4. `_temporary` at the location (r15 ADVICE): the
    //    FileOutputCommitter's in-flight marker — another session may
    //    be mid-CREATE, invisible to the catalog-absence check, so the
    //    sweep must refuse even though every entry is Spark-shaped
    val inflight = "stale_loc_inflight"
    spark.sql(s"DROP TABLE IF EXISTS $inflight")
    val tmp = new Path(locOf(inflight), "_temporary")
    fs.mkdirs(new Path(tmp, "0"))
    val e2 = intercept[IllegalStateException] {
      Sinks.writeTableRecoveringStaleLocation(spark, inflight) {
        Seq((4L, "x")).toDF("doc_id", "text")
          .write.mode("overwrite").format("parquet").saveAsTable(inflight)
      }
    }
    assert(e2.getMessage.contains("IN FLIGHT"))
    assert(fs.exists(tmp), "an in-flight writer's _temporary must survive the refusal")
    fs.delete(locOf(inflight), true)
  }

  test("appendBucketed lands one file per bucket; compaction restores the ceiling and the layout") {
    val rows = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.writeBucketed(rows, "graft_cmp_t", Seq("id"), 4)
    val base = Sinks.tableDataFileCount(spark, "graft_cmp_t")
    // each append writes EXACTLY one file per bucket, however the
    // delta was partitioned upstream — the repartition's bucket-id
    // hash agrees with the writer's, which this count proves
    (1 to 3).foreach { d =>
      Sinks.appendBucketed(
        (1L to 100L).map(i => (d * 10000L + i, "x")).toDF("id", "v").repartition(13),
        "graft_cmp_t", Seq("id"), 4)
    }
    assert(Sinks.tableDataFileCount(spark, "graft_cmp_t") === base + 3 * 4)
    // under the ceiling: metadata check only, no rewrite
    assert(!Sinks.compactBucketedIfFragmented(spark, "graft_cmp_t", maxFilesPerBucket = 100))
    assert(Sinks.tableDataFileCount(spark, "graft_cmp_t") === base + 3 * 4)
    // over the ceiling: one rewrite back to one file per bucket —
    // same rows, declared bucket layout intact. The rewrite pins the
    // bucketed scan on a CONF-ISOLATED session (r15 ADVICE): the
    // caller's autoBucketedScan policy must never flip, even
    // transiently, under a concurrent job on this session
    val abKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(abKey, "true")
    val before = spark.table("graft_cmp_t").as[(Long, String)].collect().toSet
    assert(Sinks.compactBucketedIfFragmented(spark, "graft_cmp_t", maxFilesPerBucket = 2))
    assert(spark.conf.get(abKey) === "true",
      "compaction leaked its scan-policy override into the caller's session")
    assert(Sinks.tableDataFileCount(spark, "graft_cmp_t") === 4)
    assert(spark.table("graft_cmp_t").as[(Long, String)].collect().toSet === before)
    assert(Sinks.ensureBucketedTable(spark, "graft_cmp_t",
      spark.table("graft_cmp_t").schema, Seq("id"), 4) === "unchanged")
    assert(!spark.catalog.tableExists("graft_cmp_t__staging"))
    // a non-bucketed table is refused, never rewritten — compaction
    // only owns layouts it can reproduce from the catalog
    rows.write.saveAsTable("graft_cmp_plain")
    assert(!Sinks.compactBucketedIfFragmented(spark, "graft_cmp_plain", maxFilesPerBucket = 0))
    spark.sql("DROP TABLE graft_cmp_t")
    spark.sql("DROP TABLE graft_cmp_plain")
  }

  test("compaction resolves unqualified names against the CALLER's current database") {
    // self-review r16: the conf-isolated rewrite session starts in
    // 'default' — without copying the caller's current database, a
    // pipeline that ran USE <db> would have its unqualified index
    // name resolved against the wrong database on compaction day
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cmp_db")
    spark.catalog.setCurrentDatabase("graft_cmp_db")
    try {
      val rows = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      Sinks.writeBucketed(rows, "graft_cmp_dbt", Seq("id"), 4)
      (1 to 2).foreach { d =>
        Sinks.appendBucketed(
          (1L to 50L).map(i => (d * 10000L + i, "x")).toDF("id", "v"),
          "graft_cmp_dbt", Seq("id"), 4)
      }
      val before = spark.table("graft_cmp_dbt").count()
      assert(Sinks.compactBucketedIfFragmented(spark, "graft_cmp_dbt", maxFilesPerBucket = 1))
      assert(spark.table("graft_cmp_dbt").count() === before)
      assert(Sinks.tableDataFileCount(spark, "graft_cmp_dbt") <= 4)
      spark.sql("DROP TABLE graft_cmp_dbt")
    } finally spark.catalog.setCurrentDatabase("default")
  }

  test("completeTableSwap: a stolen promotion is a completed swap, not a maintenance failure") {
    // r16 ADVICE (medium): a concurrent guard's recoverTableSwap can
    // promote __staging inside rewriteBucketed's DROP→RENAME window;
    // the maintenance RENAME then fails on an absent staging — but
    // the swap IS complete, with the same staging rows. The
    // completion leg must treat staging-absent + target-present as
    // success and anything else as a real failure.
    val t = "graft_steal_t"
    val rows = (1L to 20L).map(i => (i, i % 3)).toDF("id", "grp")
    // normal leg: staging present, target dropped -> renames
    Sinks.writeBucketed(rows, s"${t}__staging", Seq("id"), 4)
    Sinks.completeTableSwap(spark, s"${t}__staging", t)
    assert(spark.catalog.tableExists(t) && !spark.catalog.tableExists(s"${t}__staging"))
    // stolen leg: a guard already promoted (staging absent, target
    // present) — the RENAME fails underneath, the completion succeeds
    Sinks.completeTableSwap(spark, s"${t}__staging", t)
    assert(spark.catalog.tableExists(t))
    // broken leg: both absent is a lost table, never swallowed
    spark.sql(s"DROP TABLE $t")
    intercept[Exception] { Sinks.completeTableSwap(spark, s"${t}__staging", t) }
  }

  test("swapRaceSignature: only failures NAMING a watched table heal, others propagate") {
    // r16 ADVICE (low): the bare 'FileNotFoundException' substring
    // matched unrelated permanent failures (deleted checkpoint or
    // source paths), masking root causes under a heal + full batch
    // re-execution. The signature must reference the watched tables.
    val watched = Seq("graft_idx", "db.graft_other")
    def fnf(msg: String) = new java.io.FileNotFoundException(msg)
    // the three swap signatures, naming a watched table -> heal
    assert(Sinks.swapRaceSignature(watched,
      new RuntimeException("[TABLE_OR_VIEW_NOT_FOUND] The table `graft_idx` cannot be found")))
    assert(Sinks.swapRaceSignature(watched,
      new RuntimeException("[FAILED_READ_FILE] file:/wh/graft_idx/part-0.parquet")))
    assert(Sinks.swapRaceSignature(watched,
      fnf("java.io.FileNotFoundException: /wh/db.db/graft_other/part-1.parquet")))
    // nested cause chains are walked
    assert(Sinks.swapRaceSignature(watched,
      new RuntimeException("query failed",
        fnf("FileNotFoundException: /wh/graft_idx/part-3.parquet"))))
    // an unrelated FileNotFoundException (checkpoint, source file)
    // must NOT match even though the substring is present
    assert(!Sinks.swapRaceSignature(watched,
      fnf("java.io.FileNotFoundException: /tmp/ckpt/offsets/42")))
    assert(!Sinks.swapRaceSignature(watched,
      new RuntimeException("[TABLE_OR_VIEW_NOT_FOUND] The table `some_other` cannot be found")))
    // a watched-table mention WITHOUT a swap signature is not a race
    assert(!Sinks.swapRaceSignature(watched,
      new RuntimeException("graft_idx: arithmetic overflow")))
    // r17 ADVICE (low): the name must be a WHOLE identifier / path
    // component — a checkpoint dir or sibling table whose name merely
    // CONTAINS a watched name is a permanent loss, not a swap race
    assert(!Sinks.swapRaceSignature(watched,
      fnf("java.io.FileNotFoundException: /chk/graft_idx_chk/offsets/0")))
    assert(!Sinks.swapRaceSignature(watched,
      new RuntimeException("[TABLE_OR_VIEW_NOT_FOUND] The table `graft_idx_old` cannot be found")))
    // dash/dot-suffixed siblings are NOT identifier chars but still
    // longer names — the boundary classes must reject them too (r18
    // self-review: [^A-Za-z0-9_] boundaries readmitted these)
    assert(!Sinks.swapRaceSignature(watched,
      fnf("java.io.FileNotFoundException: /chk/graft_idx-chk/offsets/0")))
    assert(!Sinks.swapRaceSignature(watched,
      fnf("java.io.FileNotFoundException: /wh/graft_idx.bak/part-0.parquet")))
    // ...while the name as a full path component still heals (a
    // checkpoint dir named EXACTLY like the table remains
    // indistinguishable by name — the documented limit of the match)
    assert(Sinks.swapRaceSignature(Seq("graft_idx__bloom"),
      new RuntimeException("[FAILED_READ_FILE] file:/wh/graft_idx__bloom/part-0.parquet")))
  }

  test("retryAcrossTableSwap: deadline re-arms when churn moves to a NEW table, not for repeats") {
    // r17 ADVICE (medium): a daily ingest appends to its index tables
    // in SEQUENCE; each append is short but the series can outlast one
    // budget. The bracket must read it as a series of disturbances
    // (re-arm per newly-unstable table), while a single table churning
    // forever still exhausts within one budget window.
    val t1 = "swap_rearm_a"; val t2 = "swap_rearm_b"
    Seq(t1, t2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq((1L, "x")).toDF("id", "v").write.format("parquet").saveAsTable(t1)
    Seq((1L, "x")).toDF("id", "v").write.format("parquet").saveAsTable(t2)
    def touch(t: String): Unit =
      Seq((2L, "y")).toDF("id", "v").write.mode("append").format("parquet").saveAsTable(t)
    // churn script: attempt 1 touches t1, attempt 2 sleeps PAST the
    // original deadline and touches t2 (a new table -> re-arm),
    // attempt 3 is clean. Without the re-arm, attempt 2 exhausts the
    // budget and the bracket throws.
    var attempts = 0
    Sinks.retryAcrossTableSwap(spark, Seq(t1, t2), budgetMs = 1000L) { _ =>
      attempts += 1
      if (attempts == 1) touch(t1)
      if (attempts == 2) { Thread.sleep(2200L); touch(t2) }
    }
    assert(attempts == 3, s"expected exactly 3 attempts, got $attempts")
    // same-table churn never re-arms: t1 keeps changing -> the budget
    // expires within one window and the bracket refuses loudly
    var tries = 0
    val e = intercept[IllegalStateException] {
      Sinks.retryAcrossTableSwap(spark, Seq(t1, t2), budgetMs = 300L) { _ =>
        tries += 1
        Thread.sleep(120L)
        touch(t1)
      }
    }
    assert(e.getMessage.contains("stable state"), e.getMessage)
    assert(e.getMessage.contains(t1), e.getMessage) // names the unstable table
    Seq(t1, t2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("_temporary sweep: a long-quiet orphan sweeps when the age escape allows; fresh refuses") {
    // r16 ADVICE (low): the unconditional refusal permanently wedges a
    // location whose writer crashed and will never retry. Age escape:
    // a location QUIET longer than the caller's threshold (newest
    // mtime anywhere under it) is a crashed writer's orphan.
    import org.apache.hadoop.fs.Path
    val catalog = spark.sessionState.catalog
    val t = "stale_loc_aged"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new Path(catalog.defaultTablePath(
      spark.sessionState.sqlParser.parseTableIdentifier(t)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(): Path = {
      val tmp = new Path(loc, "_temporary")
      fs.mkdirs(new Path(tmp, "0"))
      val part = new Path(loc, "part-00000")
      val out = fs.create(part); out.writeBytes("x"); out.close()
      tmp
    }
    def write(thresholdMs: Long): Unit =
      Sinks.writeTableRecoveringStaleLocation(spark, t, thresholdMs) {
        Seq((1L, "live")).toDF("doc_id", "text")
          .write.mode("overwrite").format("parquet").saveAsTable(t)
      }
    // fresh _temporary: refused even WITH a threshold (still quiet
    // for less than it) — an active committer must survive
    val tmp = plant()
    val e = intercept[IllegalStateException] { write(thresholdMs = 60000L) }
    assert(e.getMessage.contains("IN FLIGHT"))
    assert(fs.exists(tmp), "a fresh _temporary must survive the refusal")
    // age everything under the location past the threshold -> sweeps
    val old = System.currentTimeMillis() - 120000L
    val it = fs.listFiles(loc, true)
    while (it.hasNext) { val f = it.next(); fs.setTimes(f.getPath, old, old) }
    Seq(loc, tmp, new Path(tmp, "0")).foreach(p => fs.setTimes(p, old, old))
    write(thresholdMs = 60000L)
    assert(spark.table(t).as[(Long, String)].collect().toSeq === Seq((1L, "live")))
    // and the DEFAULT stays the unconditional refusal
    spark.sql(s"DROP TABLE $t")
    val tmp2 = plant()
    val it2 = fs.listFiles(loc, true)
    while (it2.hasNext) { val f = it2.next(); fs.setTimes(f.getPath, old, old) }
    Seq(loc, tmp2, new Path(tmp2, "0")).foreach(p => fs.setTimes(p, old, old))
    val e2 = intercept[IllegalStateException] {
      Sinks.writeTableRecoveringStaleLocation(spark, t) {
        Seq((2L, "x")).toDF("doc_id", "text")
          .write.mode("overwrite").format("parquet").saveAsTable(t)
      }
    }
    assert(e2.getMessage.contains("refusing to sweep"))
    fs.delete(loc, true)
  }
}
