package graft

import java.sql.Timestamp

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming operators (SURVEY §2 #38-40) driven through
  * MemoryStream micro-batches — the real streaming engine, not the
  * batch twins. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("cleanStream applies the silver transform continuously") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Long)]
    val df = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Streams.cleanStream(df).writeStream
      .format("memory").queryName("clean_out").outputMode("append").start()
    try {
      input.addData((1L, "Jakarta, CNN Indonesia -- Body  here", "id", "cnn", 36L))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, content, content_length FROM clean_out")
        .as[(Long, String, Long)].collect()
      assert(out.toSeq === Seq((1L, "Body here", 9L)))
    } finally q.stop()
  }

  test("goldStream runs the fused silver->gold chain continuously, same rows as batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Long)]
    val df = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Streams.goldStream(df).writeStream
      .format("memory").queryName("gold_out").outputMode("append").start()
    val long = "Jakarta, CNN Indonesia -- " +
      "A story. With sentences. " + ("word " * 20).trim
    val rows = Seq(
      (1L, long, "id", "news", long.length.toLong),
      (2L, "too short", "id", "news", 9L)) // fails gold's >50 gate
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT doc_id, content_length, word_count, sentence_count FROM gold_out")
        .as[(Long, Long, Long, Long)].collect()
      val batch = graft.operators.Enrichment.gold(
        graft.operators.Cleaning.silver(
          rows.toDF("doc_id", "text", "lang", "source", "n_chars")))
        .select("doc_id", "content_length", "word_count", "sentence_count")
        .as[(Long, Long, Long, Long)].collect()
      assert(out.toSeq === batch.toSeq)
      assert(out.map(_._1).toSeq === Seq(1L)) // the short doc never lands
    } finally q.stop()
  }

  test("nerStream joins the unbounded stream to the static gazetteer per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val dict = Seq(("jakarta", "location", 0.9), ("pertamina", "org", 0.8))
      .toDF("word", "entity_type", "confidence")
    val q = Streams.nerStream(spark, df, dict).writeStream
      .format("memory").queryName("ner_out").outputMode("append").start()
    try {
      input.addData((1L, "pertamina opens in jakarta"), (2L, "nothing here"))
      q.processAllAvailable()
      val batchRows = Seq((1L, "pertamina opens in jakarta"), (2L, "nothing here"))
        .toDF("doc_id", "text")
      val batch = graft.operators.Ner.mentions(spark, batchRows, dict)
        .select("doc_id", "word", "entity_type")
        .as[(Long, String, String)].collect().toSet
      val out = spark.sql("SELECT doc_id, word, entity_type FROM ner_out")
        .as[(Long, String, String)].collect().toSet
      assert(out === batch)
      assert(out === Set((1L, "pertamina", "org"), (1L, "jakarta", "location")))
      // a second micro-batch joins the SAME static side again
      input.addData((3L, "jakarta again"))
      q.processAllAvailable()
      assert(spark.sql("SELECT COUNT(*) FROM ner_out").as[Long].head() === 3L)
    } finally q.stop()
  }

  test("qualityGateStream drops failing docs at ingest, same verdicts as the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Long)]
    val df = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Streams.qualityGateStream(df).writeStream
      .format("memory").queryName("gate_out").outputMode("append").start()
    // 50 words, mwl ~4, all-alpha, two stop hits -> passes; "tiny text" fails
    val good = (Seq("the", "data", "of", "pipeline") ++ Seq.fill(46)("word")).mkString(" ")
    try {
      input.addData(
        (1L, good, "en", "s1", good.length.toLong),
        (2L, "tiny text", "en", "s1", 9L))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id FROM gate_out").as[Long].collect()
      assert(out.toSeq === Seq(1L))
      // stream verdicts == batch verdicts on the same frame
      val batch = graft.operators.TextOps.gopherFilter(
        Seq((1L, good, "en", "s1", good.length.toLong),
          (2L, "tiny text", "en", "s1", 9L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
        .select("doc_id").as[Long].collect()
      assert(batch.toSeq === out.toSeq)
    } finally q.stop()
  }

  test("windowedCounts aggregates tumbling event-time windows under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val df = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Streams.windowedCounts(df, windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      input.addData((1L, ts(1), "click", 1.0), (2L, ts(4), "click", 2.0))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 window
      input.addData((3L, ts(59), "view", 1.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT window_start, event_type, events, sum_value FROM win_out")
        .as[(Timestamp, String, Long, Double)].collect()
      assert(out.toSeq === Seq((ts(0), "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("slidingCounts places one event in length/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val df = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Streams.slidingCounts(df, windowLength = "1 hour", slide = "15 minutes",
      watermark = "5 minutes")
      .writeStream.format("memory").queryName("slide_out").outputMode("append").start()
    try {
      input.addData((1L, ts(7), "click", 2.0)) // 10:07
      q.processAllAvailable()
      // far-future event closes all four of the first event's windows
      input.addData((2L, Timestamp.valueOf("2024-01-01 14:00:00"), "view", 1.0))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT window_start, events, sum_value FROM slide_out WHERE event_type = 'click'")
        .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
      // epoch-aligned 15-min starts covering 10:07: 09:15..10:00
      val starts = Seq("09:15:00", "09:30:00", "09:45:00", "10:00:00")
        .map(s => Timestamp.valueOf(s"2024-01-01 $s"))
      assert(out.toSeq === starts.map(s => (s, 1L, 2.0)))
    } finally q.stop()
  }

  test("attributionJoin pairs purchases with in-window clicks, stream-stream") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = Streams.attributionJoin(
      clicks.toDF().toDF("click_id", "click_ts", "user_id"),
      purchases.toDF().toDF("p_id", "p_ts", "p_user_id"),
      windowMinutes = 30)
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      // user 7: click at t=1, purchases at t=10 (in window) and t=40
      // (outside); user 8 purchases with no click at all
      clicks.addData((100L, ts(1), 7L))
      purchases.addData((200L, ts(10), 7L), (201L, ts(40), 7L), (202L, ts(10), 8L))
      q.processAllAvailable()
      val out = spark.sql("SELECT click_id, p_id FROM attr_out")
        .as[(Long, Long)].collect().toSet
      assert(out === Set((100L, 200L)))
    } finally q.stop()
  }

  test("dedupStream keeps the first occurrence of a key and drops in-watermark replays") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("id", "ts", "payload")
    val q = Streams.dedupStream(df, key = "id", watermark = "5 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData((1L, ts(1), "first"), (2L, ts(2), "other"))
      q.processAllAvailable()
      input.addData((1L, ts(3), "replay")) // same key, inside the watermark
      q.processAllAvailable()
      val out = spark.sql("SELECT id, payload FROM dedup_out")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(out.toSeq === Seq((1L, "first"), (2L, "other")))
    } finally q.stop()
  }

  test("dedupStream re-emits a replay past the watermark; batch compaction restores keep-first") {
    // The documented contract (Streams.dedupStream): state is bounded
    // to one watermark interval, so duplicates farther apart than the
    // watermark are NOT caught in-stream — they fall to the batch
    // compaction pass. Pin both halves of that contract.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("id", "ts", "payload")
    val q = Streams.dedupStream(df, key = "id", watermark = "5 minutes")
      .writeStream.format("memory").queryName("dedup_wm_out").outputMode("append").start()
    try {
      input.addData((1L, ts(0), "first"))
      q.processAllAvailable()
      // move the watermark far past ts(0) + 5 min: key 1's state expires
      input.addData((9L, ts(59), "mover"))
      q.processAllAvailable()
      input.addData((1L, Timestamp.valueOf("2024-01-01 11:30:00"), "replay-after-watermark"))
      q.processAllAvailable()
      val emitted = spark.sql("SELECT payload FROM dedup_wm_out WHERE id = 1")
        .as[String].collect().sorted
      assert(emitted.toSeq === Seq("first", "replay-after-watermark"))
      // downstream compaction (same key, same keep-first tiebreak)
      val compacted = graft.operators.Cleaning.dedupKeepFirst(
        spark.table("dedup_wm_out"), col("id"), col("ts"))
        .filter(col("id") === 1L).select("payload").as[String].collect()
      assert(compacted.toSeq === Seq("first"))
    } finally q.stop()
  }

  test("nearDupStream flags a near-rewrite against the first copy, leaves unrelated docs clean") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.nearDupStream(df, watermark = "5 minutes")
      .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      input.addData((1L, ts(1), base))
      q.processAllAvailable()
      // a later micro-batch: a near-rewrite of doc 1 and an unrelated doc
      input.addData((2L, ts(2), near), (3L, ts(3), other))
      q.processAllAvailable()
      val hits = spark.sql("SELECT doc_id, matched_doc_id FROM neardup_out")
        .as[(Long, Long)].collect().toSet
      assert(hits === Set((2L, 1L))) // flagged against the FIRST copy; 3 is clean
      // same candidate contract as the batch path: the flagged pair is
      // exactly what batch MinHash banding finds on the same corpus
      val batch = graft.operators.Dedup.minhashPairs(
        Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text"))
        .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
      assert(batch === Set((1L, 2L)))
    } finally q.stop()
  }

  test("nearDupStream expires a bucket past the watermark; the twin falls to the batch sweep") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.nearDupStream(df, watermark = "5 minutes")
      .writeStream.format("memory").queryName("neardup_wm_out").outputMode("append").start()
    try {
      input.addData((1L, ts(0), base))
      q.processAllAvailable()
      // push the watermark far past ts(0) + 5 min: doc 1's buckets expire
      input.addData((9L, ts(59), (1 to 40).map(i => s"mover$i").mkString(" ")))
      q.processAllAvailable()
      // an exact replay arrives after expiry: NOT caught in-stream
      input.addData((2L, Timestamp.valueOf("2024-01-01 11:30:00"), base))
      q.processAllAvailable()
      val hits = spark.sql("SELECT doc_id FROM neardup_wm_out").as[Long].collect()
      assert(hits.isEmpty) // the documented trade: it falls to the batch pass
    } finally q.stop()
  }

  test("semanticProbeStream flags a paraphrased re-delivery against the corpus, == batch probe") {
    implicit val sqlCtx = spark.sqlContext
    // corpus with a trained 2-cell index (rank-seeded like the
    // incremental arm); delta: one paraphrase-of-1000 (same direction,
    // different vector — the MinHash-blind case) and one orthogonal doc
    val corpus = Seq(
      (1000L, Seq(1f, 0f, 0f, 0f)),
      (5000L, Seq(0.9f, 0.1f, 0f, 0f)),
      (9000L, Seq(0f, 0f, 1f, 0f))).toDF("doc_id", "embedding")
    graft.operators.Ann.writeSemanticIndex(corpus, "graft_semidx_stream",
      numCentroids = 2, trainIters = 1)
    val cells = spark.table("graft_semidx_stream")
    val cents = spark.table("graft_semidx_stream__centroids")
    val delta = Seq(
      (7L, Seq(0.95f, 0.31f, 0f, 0f)),   // paraphrase: lands in 1000's cell
      (8L, Seq(0f, 1f, 0f, 0f)))          // unrelated direction
    val input = MemoryStream[(Long, Seq[Float])]
    val df = input.toDF().toDF("doc_id", "embedding")
    val q = Streams.semanticProbeStream(df, cells, cents, threshold = 0.5)
      .writeStream.format("memory").queryName("sem_probe_out").outputMode("append").start()
    try {
      input.addData(delta: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, corpus_doc, cosine FROM sem_probe_out")
        .as[(Long, Long, Double)].collect().toSet
      // the streaming hits are EXACTLY the batch incremental probe's
      // rows for the same delta (nprobe = 1 on both sides)
      val batch = graft.operators.Ann.incrementalSemanticMatches(
        delta.toDF("doc_id", "embedding"), cells, cents, threshold = 0.5)
        .select(col("delta_doc"), col("corpus_doc"), col("cosine"))
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed === batch)
      assert(streamed.map(_._1) === Set(7L), "only the paraphrase is flagged")
    } finally q.stop()
  }

  test("streamingUpsertSink: later micro-batches replace same-key rows in the layer") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("upsert")
    val input = MemoryStream[(Long, String)]
    val q = graft.sources.Sinks.streamingUpsertSink(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/layer", s"$dir/ckpt", Seq("doc_id")).start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((2L, "B2"), (3L, "c"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/layer")
        .as[(Long, String)].collect().toSet
      assert(out === Set((1L, "a"), (2L, "B2"), (3L, "c")))
    } finally q.stop()
  }

  test("sessionize closes a session after the gap timeout and counts events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.sessionize(input.toDS(), gapMinutes = 10).writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 7: two events 3 min apart -> one session
      input.addData(Streams.Event(7L, ts(0), "click", 1.0), Streams.Event(7L, ts(3), "click", 1.0))
      q.processAllAvailable()
      // event far in the future moves the watermark past 10:03 + 10min -> closes it
      input.addData(Streams.Event(8L, ts(59), "view", 1.0))
      q.processAllAvailable()
      input.addData(Streams.Event(8L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT user_id, session_start, session_end, events FROM sess_out WHERE user_id = 7")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
      assert(out.toSeq === Seq((7L, ts(0), ts(3), 2L)))
    } finally q.stop()
  }

  test("end-to-end: JSON stream -> silver clean -> parquet sink -> read back") {
    val dir = tempDir("graft_stream")
    val inDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$inDir/batch1.json"),
      """{"doc_id": 1, "text": "Jakarta, CNN Indonesia -- Streamed  body", "lang": "id", "source": "cnn", "n_chars": 40}""" + "\n")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
      .add("lang", org.apache.spark.sql.types.StringType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("n_chars", org.apache.spark.sql.types.LongType)
    val stream = graft.sources.JsonSource.readJsonStream(spark, inDir, schema)
    val q = graft.sources.Sinks
      .streamingParquetSink(Streams.cleanStream(stream), outDir, ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    val back = spark.read.parquet(outDir)
      .select("doc_id", "content", "content_length").as[(Long, String, Long)].collect()
    assert(back.toSeq === Seq((1L, "Streamed body", 13L)))
  }

  test("microBatchIngest: append-only bronze + dedup-on-read upsert semantics") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest")
    val input = MemoryStream[(Long, String)]
    val q = Streams.microBatchIngest(
      input.toDF().toDF("id", "payload"), s"$dir/bronze", s"$dir/ckpt")
    try {
      input.addData((1L, "v1"), (2L, "v1"))
      q.processAllAvailable()
      input.addData((2L, "v2"), (3L, "v1")) // id 2 re-delivered
      q.processAllAvailable()
    } finally q.stop()
    val bronze = spark.read.parquet(s"$dir/bronze")
    assert(bronze.count() === 4L) // appends never rewrite
    val deduped = graft.operators.Cleaning.dedupKeepFirst(
      bronze, col("id"), col("payload")) // keep-first by payload version
    assert(deduped.count() === 3L)
  }

  test("sessionizeBatch splits on gaps > 30 minutes within a user") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")),
      (1L, Timestamp.valueOf("2024-01-01 11:30:00")), // 80 min gap -> new session
      (2L, Timestamp.valueOf("2024-01-01 09:00:00")))
      .toDF("user_id", "ts")
    val out = Streams.sessionizeBatch(df).orderBy("user_id", "session_id")
      .select("user_id", "session_id", "events").as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("heavyHittersStream: exact running totals under k, MG contracts on a skewed feed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("source", "text")
    val q = Streams.heavyHittersStream(df, k = 4)
      .writeStream.format("memory").queryName("hh_out").outputMode("append").start()
    try {
      // batch 1: three distinct terms (< k): counts must be exact
      input.addData(("s1", "a a a b"), ("s1", "b c"))
      q.processAllAvailable()
      val snap1 = spark.sql(
        "SELECT term, est FROM hh_out").as[(String, Long)].collect().toMap
      assert(snap1 === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
      // batch 2: more of the same terms — running totals accumulate
      // across triggers exactly (still under k distinct); the current
      // snapshot is the max-trigger row set (the documented
      // latest-wins rule, not a per-term max(est) workaround)
      input.addData(("s1", "a b b"))
      q.processAllAvailable()
      val latest = spark.sql(
        """SELECT term, est FROM hh_out
          |WHERE trigger = (SELECT max(trigger) FROM hh_out)""".stripMargin)
        .as[(String, Long)].collect().toMap
      assert(latest === Map("a" -> 4L, "b" -> 4L, "c" -> 1L))
      // batch 3: a flood of distinct cold terms forces decrements; the
      // hot term must survive (MG guarantee) and never overcount
      input.addData(("s1", (1 to 30).map(i => s"z$i").mkString(" ")))
      input.addData(("s1", "a a a a a a a a a a"))
      q.processAllAvailable()
      val last = spark.sql(
        """SELECT term, est FROM hh_out
          |WHERE trigger = (SELECT max(trigger) FROM hh_out)""".stripMargin)
        .as[(String, Long)].collect().toMap
      // N = 7 + 3 + 30 + 10 = 50, k=4 -> bound N/(k+1) = 10; true a = 14 > 10
      assert(last.contains("a"), s"hot term lost: $last")
      assert(last("a") <= 14L, s"overcounted: ${last("a")}")
      assert(14L - last("a") <= 10L, s"past the MG bound: ${last("a")}")
      // triggers are per-source update counters: strictly increasing,
      // one value per micro-batch that touched the source
      val trigs = spark.sql("SELECT DISTINCT trigger FROM hh_out")
        .as[Long].collect().sorted
      assert(trigs.head === 1L && trigs.length >= 3
        && trigs.toSeq === (1L to trigs.length))
    } finally q.stop()
  }

  test("heavyHittersStream keys state per source: sketches never mix") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("source", "text")
    val q = Streams.heavyHittersStream(df, k = 4)
      .writeStream.format("memory").queryName("hh_src_out").outputMode("append").start()
    try {
      input.addData(("s1", "x x"), ("s2", "y"))
      q.processAllAvailable()
      val out = spark.sql("SELECT source, term, est FROM hh_src_out")
        .as[(String, String, Long)].collect().toSet
      assert(out === Set(("s1", "x", 2L), ("s2", "y", 1L)))
    } finally q.stop()
  }

  test("persisted heavy-hitters snapshot survives a kill/restart and converges to batch") {
    // the live view as a TABLE: streamingGroupReplaceSink keeps one
    // latest row set per source across triggers AND across a query
    // kill/restart (state from the checkpoint, table via group
    // replace) — at the end it must equal the batch
    // heavyHittersSnapshot of the full delivered prefix (≤ k
    // distinct terms per source, so both sides are exact counts and
    // the comparison is order-independent)
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("hh_snap")
    val path = s"$dir/snapshot"
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("source", "text")
    def start() = graft.sources.Sinks.streamingGroupReplaceSink(
      Streams.heavyHittersStream(df, k = 8).toDF(), path, s"$dir/ckpt",
      groupKeys = Seq("source"), versionCol = Some("trigger")).start()
    val q1 = start()
    try {
      input.addData(("s1", "a a b"), ("s2", "x"))
      q1.processAllAvailable()
      input.addData(("s1", "b c"))
      q1.processAllAvailable()
    } finally q1.stop() // kill mid-stream; checkpoint + table survive
    val mid = spark.read.parquet(path)
      .select("source", "term", "est").as[(String, String, Long)].collect().toSet
    assert(mid === Set(("s1", "a", 2L), ("s1", "b", 2L), ("s1", "c", 1L), ("s2", "x", 1L)),
      s"pre-restart snapshot wrong: $mid")
    val q2 = start()
    try {
      input.addData(("s1", "a"), ("s2", "x y"))
      q2.processAllAvailable()
    } finally q2.stop()
    val fin = spark.read.parquet(path)
      .select("source", "term", "est").as[(String, String, Long)].collect().toSet
    val delivered = Seq(("s1", "a a b"), ("s2", "x"), ("s1", "b c"),
      ("s1", "a"), ("s2", "x y")).toDF("source", "text")
    val batch = graft.operators.Corpus.heavyHittersSnapshot(delivered, k = 8)
      .select("source", "term", "est").as[(String, String, Long)].collect().toSet
    assert(fin === batch, s"restarted snapshot $fin != batch $batch")
    // exactly one row set per source: no superseded trigger rows leak
    val perSourceTrigs = spark.read.parquet(path)
      .select("source", "trigger").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    assert(perSourceTrigs.values.forall(_ == 1), s"stale trigger rows: $perSourceTrigs")
  }

  test("curriculumMixStream: live per-source mix converges to the batch twin through a kill/restart") {
    // the second consumer of the group-replace snapshot pattern
    // (r14 VERDICT item 6): per-source bucket row SETS re-emitted
    // each trigger, persisted latest-wins. Counts are exact and
    // min/max order-independent, so after ANY delivered prefix —
    // including across a kill/restart — the snapshot table must
    // equal Corpus.curriculumMixBySource of everything delivered,
    // against the same FIXED bounds.
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("cmix")
    val path = s"$dir/snapshot"
    // two boundaries -> three buckets; bid tiebreakers irrelevant here
    val bounds = Seq((0.45, 0L), (0.75, 0L))
    val input = MemoryStream[(Long, String, String, Long)]
    val df = input.toDF().toDF("doc_id", "source", "text", "n_chars")
    def start() = graft.sources.Sinks.streamingGroupReplaceSink(
      Streams.curriculumMixStream(df, bounds).toDF(), path, s"$dir/ckpt",
      groupKeys = Seq("source"), versionCol = Some("trigger")).start()
    def doc(id: Long, src: String, text: String, n: Long) = (id, src, text, n)
    val batch1 = Seq(
      doc(1L, "s1", "the quick brown fox", 400L),
      doc(2L, "s1", "spam spam spam spam spam spam", 30L),
      doc(3L, "s2", "a rich varied vocabulary sentence here", 900L))
    val batch2 = Seq(
      doc(4L, "s1", "another document with the usual words", 700L))
    val batch3 = Seq(
      doc(5L, "s2", "x x x x x x x x", 10L),
      doc(6L, "s3", "fresh source arrives late", 600L))
    val q1 = start()
    try {
      input.addData(batch1: _*)
      q1.processAllAvailable()
      input.addData(batch2: _*)
      q1.processAllAvailable()
    } finally q1.stop() // kill mid-stream; checkpoint + snapshot survive
    val q2 = start()
    try {
      input.addData(batch3: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val fin = spark.read.parquet(path)
      .select("source", "bucket", "docs", "min_score", "max_score")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val delivered = (batch1 ++ batch2 ++ batch3)
      .toDF("doc_id", "source", "text", "n_chars")
    val batch = graft.operators.Corpus.curriculumMixBySource(delivered, bounds)
      .select("source", "bucket", "docs", "min_score", "max_score")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(fin === batch, s"restarted snapshot $fin != batch twin $batch")
    // the planted corpus must actually exercise >1 bucket and >1
    // source, or the convergence claim is vacuous
    assert(batch.map(_._1).size >= 3 && batch.map(_._2).size >= 2)
    // exactly one row set per source: no superseded trigger rows
    val trigs = spark.read.parquet(path)
      .select("source", "trigger").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    assert(trigs.values.forall(_ == 1), s"stale trigger rows: $trigs")
  }

  test("streamingGroupReplaceSink fails loudly on snapshot schema drift instead of null-filling") {
    // a snapshot written by an OLDER stream shape (no trigger column)
    // must not be silently read with the new schema — forced
    // null-fill would make the latest-wins max misread legacy rows
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("hh_drift")
    val path = s"$dir/snapshot"
    Seq(("s1", "a", 2L)).toDF("source", "term", "est").write.parquet(path)
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("source", "text")
    val q = graft.sources.Sinks.streamingGroupReplaceSink(
      Streams.heavyHittersStream(df, k = 4).toDF(), path, s"$dir/ckpt",
      groupKeys = Seq("source"), versionCol = Some("trigger")).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        input.addData(("s1", "a b"))
        q.processAllAvailable()
      } finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("snapshot lacks [trigger]")), s"wrong failure: $e")
    // the mismatched snapshot survives untouched for the migration
    val kept = spark.read.parquet(path)
      .select("source", "term", "est").as[(String, String, Long)].collect().toSeq
    assert(kept === Seq(("s1", "a", 2L)))
  }

  test("streamingCorpusGuardSink: novel-only lands, verdict reads the corpus fresh each trigger") {
    implicit val sqlCtx = spark.sqlContext
    val hash = "graft_guard_hash"
    def hashesOf(texts: String*) = texts.toDF("content")
      .select(md5(col("content")).as("content_md5")).distinct()
    graft.sources.Sinks.writeBucketed(hashesOf("old doc one", "old doc two"),
      hash, Seq("content_md5"))
    graft.operators.Dedup.writeHashBloom(spark, hash)
    val input = MemoryStream[(Long, String)]
    val dir = tempDir("graft_guard")
    val q = graft.sources.Sinks.streamingCorpusGuardSink(
      input.toDF().toDF("doc_id", "content"), hash, s"$dir/out", s"$dir/chk").start()
    try {
      input.addData((1L, "old doc one"), (2L, "fresh doc"))
      q.processAllAvailable()
      def landed = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      assert(landed === Set(2L), "corpus member leaked or novel doc dropped")
      // the corpus GROWS between triggers (the daily ingest indexed a
      // doc); the guard's next verdict must see it — a stream-static
      // transform with a baked bloom literal would leak doc 3 as
      // definitely-new, exactly the staleness this sink exists to avoid
      graft.sources.Sinks.appendBucketed(hashesOf("indexed later"),
        hash, Seq("content_md5"))
      graft.operators.Dedup.mergeHashBloom(spark, hash, hashesOf("indexed later"))
      input.addData((3L, "indexed later"), (4L, "still novel"))
      q.processAllAvailable()
      assert(landed === Set(2L, 4L), "stale corpus view leaked a duplicate")
      // batch-twin parity: the batch arm over the same delivered docs
      // against the same corpus state lands the same verdicts
      val twin = graft.Pipeline.exactNewVsCorpus(spark,
        Seq((3L, "indexed later"), (4L, "still novel")).toDF("doc_id", "content"), hash)
        .select("doc_id").as[Long].collect().toSet
      assert(twin === Set(4L))
    } finally q.stop()
  }

  test("corpus guard probe memo: an unchanged bloom is read once, a hit lands a fresh query's rows") {
    // the probe is memoized on the bloom's file set as the swap
    // bracket lists it: a second trigger against the same bloom
    // builds no probe (no job reads the bloom table), yet lands
    // exactly the rows a fresh query, building its own probe, lands;
    // a merged bloom (new files) rebuilds on the next trigger
    implicit val sqlCtx = spark.sqlContext
    val hash = "graft_guard_memo_hash"
    val bloom = hash + "__bloom"
    def hashesOf(texts: String*) = texts.toDF("content")
      .select(md5(col("content")).as("content_md5")).distinct()
    graft.sources.Sinks.writeBucketed(hashesOf("memo corpus doc"), hash, Seq("content_md5"))
    graft.operators.Dedup.writeHashBloom(spark, hash)
    // jobs of SQL executions whose plan scans the bloom table
    val sc = spark.sparkContext
    val bloomExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val bloomJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case st: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if st.physicalPlanDescription.contains(bloom) => bloomExecs.add(st.executionId)
        case _ => ()
      }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .filter(id => bloomExecs.contains(id.toLong))
          .foreach(_ => bloomJobs.incrementAndGet())
    }
    def bloomReadsDuring(run: => Unit): Int = {
      org.apache.spark.graft.BusDrain(sc)
      val before = bloomJobs.get()
      run
      org.apache.spark.graft.BusDrain(sc)
      bloomJobs.get() - before
    }
    val dir = tempDir("graft_guard_memo")
    def start(input: MemoryStream[(Long, String)], name: String) =
      graft.sources.Sinks.streamingCorpusGuardSink(
        input.toDF().toDF("doc_id", "content"), hash, s"$dir/$name", s"$dir/${name}_chk").start()
    def landed(name: String, batch: Long) =
      spark.read.parquet(s"$dir/$name/batch_id=$batch").as[(Long, String)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val fresh = MemoryStream[(Long, String)]
    val q = start(input, "out")
    val q2 = start(fresh, "fresh")
    sc.addSparkListener(listener)
    try {
      val first = bloomReadsDuring {
        input.addData((1L, "memo corpus doc"), (2L, "novel one"))
        q.processAllAvailable()
      }
      assert(first > 0, "the first trigger must build its probe from the bloom table")
      val trigger2 = Seq((3L, "memo corpus doc"), (4L, "novel two"), (5L, "novel three"))
      val second = bloomReadsDuring {
        input.addData(trigger2: _*)
        q.processAllAvailable()
      }
      assert(second === 0, "an unchanged bloom must not be re-read")
      fresh.addData(trigger2: _*)
      q2.processAllAvailable()
      assert(landed("out", 1L) === Set((4L, "novel two"), (5L, "novel three")))
      assert(landed("out", 1L) === landed("fresh", 0L),
        "the memoized probe landed other rows than a fresh query")
      graft.operators.Dedup.mergeHashBloom(spark, hash, hashesOf("indexed later"))
      graft.sources.Sinks.appendBucketed(hashesOf("indexed later"), hash, Seq("content_md5"))
      val third = bloomReadsDuring {
        input.addData((6L, "indexed later"), (7L, "novel four"))
        q.processAllAvailable()
      }
      assert(third > 0, "a merged bloom must rebuild the probe")
      assert(landed("out", 2L) === Set((7L, "novel four")))
    } finally { sc.removeSparkListener(listener); q.stop(); q2.stop() }
  }

  test("streamingNearDupGuardSink: pairs == batch arm; corpus grown between triggers is pairable") {
    implicit val sqlCtx = spark.sqlContext
    val post = "graft_guard_post"
    def tok(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    def nearOf(p: String) = (1 to 39).map(i => s"$p$i").mkString(" ") + " changed"
    val corpus = Seq((100L, tok("a"))).toDF("doc_id", "text")
    graft.operators.Dedup.writeBandPostings(corpus, post)
    graft.operators.Dedup.writeHashBloom(spark, post,
      hashCol = graft.operators.Dedup.bandKeySql)
    val input = MemoryStream[(Long, String)]
    val dir = tempDir("graft_guard_nd")
    val q = graft.sources.Sinks.streamingNearDupGuardSink(
      input.toDF().toDF("doc_id", "text"), post, s"$dir/out", s"$dir/chk").start()
    try {
      // trigger 1: a corpus near-dup, an unrelated doc, an in-batch
      // near-dup pair (the delta×delta arm the prefilter must NOT see)
      val day1 = Seq((10L, nearOf("a")), (11L, tok("z")),
        (12L, tok("b")), (13L, nearOf("b")))
      input.addData(day1: _*)
      q.processAllAvailable()
      def landed = spark.read.parquet(s"$dir/out")
        .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
      // the stream's verdict IS the batch arm's — same function, same
      // prefilter, same corpus state
      val twin1 = graft.operators.Dedup.incrementalMinhashCandidates(
        day1.toDF("doc_id", "text"), spark.table(post),
        bandPrefilter = graft.operators.Dedup.bloomProbeFor(spark, post),
        sigs = graft.operators.Dedup.postingsFrames(spark, post)._2)
        .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
      assert(landed === twin1, "stream and batch arm disagree on candidates")
      assert(landed.contains((10L, 100L)), "corpus near-dup missed")
      assert(landed.contains((12L, 13L)), "in-batch near-dup pair missed")
      assert(!landed.exists(p => p._1 == 11L || p._2 == 11L),
        "unrelated doc must pair with nothing")
      // the corpus GROWS between triggers (the daily ingest posted a
      // doc) — production order: band bloom merged FIRST, postings
      // appended second (bloom ⊇ table throughout, so the guard's
      // prefilter can never drop a posted band) — and the next
      // trigger must pair against the new doc
      val grownBands = graft.operators.Dedup.bandPostings(
        Seq((200L, tok("c"))).toDF("doc_id", "text"))
      graft.operators.Dedup.mergeHashBloom(spark, post,
        grownBands.select(col("band"), col("band_hash")).distinct(),
        hashCol = graft.operators.Dedup.bandKeySql)
      // split layout: slim posting rows + the day's forward sig rows
      graft.sources.Sinks.appendBucketed(
        grownBands.select(col("band"), col("band_hash"), col("doc_id")),
        post, Seq("band", "band_hash"))
      graft.sources.Sinks.appendBucketed(
        grownBands.select(col("doc_id"), col("sig")).dropDuplicates("doc_id"),
        post + "__sigs", Seq("doc_id"))
      input.addData((20L, nearOf("c")))
      q.processAllAvailable()
      assert(landed.contains((20L, 200L)),
        "a corpus doc indexed between triggers must be pairable")
    } finally q.stop()
  }

  test("corpus guard survives a maintenance table swap: trigger heals mid-swap state, query stays alive") {
    // self-review r16: the bucketed-index compaction swaps tables via
    // DROP + RENAME; a trigger landing inside the window (or after a
    // maintenance crash left the only copy under __staging) read
    // TABLE_OR_VIEW_NOT_FOUND and TERMINATED the streaming query. The
    // guard now promotes the half-swap, refreshes, and retries once —
    // the mid-swap state below is exactly what a crashed compaction
    // leaves and stands in for the live two-metadata-op window.
    implicit val sqlCtx = spark.sqlContext
    val hash = "graft_guard_swap_hash"
    def hashesOf(texts: String*) = texts.toDF("content")
      .select(md5(col("content")).as("content_md5")).distinct()
    graft.sources.Sinks.writeBucketed(hashesOf("swap corpus doc"), hash, Seq("content_md5"))
    graft.operators.Dedup.writeHashBloom(spark, hash)
    val input = MemoryStream[(Long, String)]
    val dir = tempDir("graft_guard_swap")
    val q = graft.sources.Sinks.streamingCorpusGuardSink(
      input.toDF().toDF("doc_id", "content"), hash, s"$dir/out", s"$dir/chk").start()
    try {
      input.addData((1L, "swap corpus doc"), (2L, "novel one"))
      q.processAllAvailable()
      def landed = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      assert(landed === Set(2L))
      // a compaction crashed between its DROP and RENAME: only
      // __staging holds the table when the next trigger fires
      spark.sql(s"ALTER TABLE $hash RENAME TO ${hash}__staging")
      input.addData((3L, "swap corpus doc"), (4L, "novel two"))
      q.processAllAvailable() // must NOT throw — retry heals the swap
      assert(landed === Set(2L, 4L),
        "post-swap trigger must probe the recovered table")
      assert(spark.catalog.tableExists(hash), "the swap must be promoted")
      assert(q.isActive, "the guard query must survive the swap window")
    } finally q.stop()
  }

  test("corpus guard LIVE race: triggers under a looping maintenance rewrite stay alive and correct") {
    // r16 VERDICT #4: the earlier swap spec SIMULATES a crashed
    // half-swap between triggers; this one runs the real thing — a
    // second thread loops rewriteBucketed (the compaction/recap swap
    // machinery: durable staging + DROP + RENAME) over the hash table
    // WHILE the guard processes triggers. Pins, repeatedly: the
    // query never dies (heal-and-retry absorbs every window it
    // lands in), every verdict is correct, and the maintenance
    // thread never fails either — a guard stealing the promotion
    // mid-window is absorbed by completeTableSwap's idempotent leg
    // (r16 ADVICE medium).
    implicit val sqlCtx = spark.sqlContext
    val hash = "graft_guard_race_hash"
    def hashesOf(texts: String*) = texts.toDF("content")
      .select(md5(col("content")).as("content_md5")).distinct()
    graft.sources.Sinks.writeBucketed(hashesOf("race corpus doc"), hash, Seq("content_md5"))
    graft.operators.Dedup.writeHashBloom(spark, hash)
    val input = MemoryStream[(Long, String)]
    val dir = tempDir("graft_guard_race")
    val q = graft.sources.Sinks.streamingCorpusGuardSink(
      input.toDF().toDF("doc_id", "content"), hash, s"$dir/out", s"$dir/chk").start()
    @volatile var maintErr: Option[Throwable] = None
    @volatile var stop = false
    // SIX full staging swaps spaced across the trigger stream — the
    // production shape (compaction fires per table per DAY; what the
    // guard must survive is each swap's window landing mid-trigger,
    // not a never-ending rewrite storm, which the consistency
    // bracket would rightly refuse to certify against)
    val maint = new Thread(() => {
      try {
        var k = 0
        while (!stop && k < 6) {
          graft.sources.Sinks.rewriteBucketed(
            spark.table(hash), hash, Seq("content_md5"))
          Thread.sleep(400)
          k += 1
        }
      } catch { case t: Throwable => maintErr = Some(t) }
    }, "guard-race-maintenance")
    try {
      maint.start()
      val rounds = 10
      for (i <- 1 to rounds) {
        input.addData((2L * i, "race corpus doc"), (2L * i + 1, s"novel $i"))
        q.processAllAvailable() // must never throw across any window
      }
      maint.join(60000)
      assert(maintErr.isEmpty,
        s"maintenance rewrite failed against the live guard: ${maintErr.getOrElse("")}")
      assert(q.isActive, "the guard query must survive every swap window")
      val landed = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      assert(landed === (1 to rounds).map(i => 2L * i + 1).toSet,
        "a verdict went wrong under the live maintenance race")
      assert(spark.catalog.tableExists(hash) &&
        !spark.catalog.tableExists(hash + "__staging"))
    } finally { stop = true; q.stop(); maint.join(60000) }
  }

  test("streamingSubstringGuardSink: matches == batch arm; growth, recap and swap between triggers") {
    implicit val sqlCtx = spark.sqlContext
    val chunkT = "graft_guard_chunk"
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // a long shared passage: its INTERIOR CDC chunks hash identically
    // in every doc that carries it, whatever surrounds it
    val passage1 = toks("pa", 120)
    val passage2 = toks("pb", 120)
    val corpus = Seq((100L, toks("ca", 30) + " " + passage1)).toDF("doc_id", "text")
    graft.operators.Dedup.writeChunkPostings(corpus, chunkT)
    graft.operators.Dedup.writeHashBloom(spark, chunkT, hashCol = "chunk_hash")
    val input = MemoryStream[(Long, String)]
    val dir = tempDir("graft_guard_sub")
    val q = graft.sources.Sinks.streamingSubstringGuardSink(
      input.toDF().toDF("doc_id", "text"), chunkT, s"$dir/out", s"$dir/chk",
      minSharedTokens = 16L).start()
    def landed = spark.read.parquet(s"$dir/out")
      .select("delta_doc", "corpus_doc", "shared_chunks", "shared_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    def twin(day: Seq[(Long, String)]) = graft.operators.Dedup.incrementalSubstringMatches(
      day.toDF("doc_id", "text"), spark.table(chunkT), minSharedTokens = 16L,
      bloomProbe = graft.operators.Dedup.bloomProbeFor(spark, chunkT))
      .select("delta_doc", "corpus_doc", "shared_chunks", "shared_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    try {
      // trigger 1: a passage copy under a different preamble, and an
      // unrelated doc — the stream's verdict IS the batch arm's
      // (same function, same chunk-bloom prefilter, same corpus state)
      val day1 = Seq((10L, toks("da", 30) + " " + passage1), (11L, toks("z", 60)))
      input.addData(day1: _*)
      q.processAllAvailable()
      val t1 = twin(day1)
      assert(landed === t1, "stream and batch arm disagree on substring matches")
      assert(t1.nonEmpty && t1.forall(r => r._1 == 10L && r._2 == 100L),
        "the passage copy must match doc 100 and nothing else")
      // the corpus GROWS between triggers, in the PRODUCTION order:
      // chunk bloom merged FIRST, postings appended second (bloom ⊇
      // table throughout — the prefilter can never drop an indexed
      // chunk) — and the next trigger must match against the new doc
      val grown = graft.operators.Dedup.chunkPostings(
        Seq((200L, toks("cb", 30) + " " + passage2)).toDF("doc_id", "text"))
      graft.operators.Dedup.mergeHashBloom(spark, chunkT,
        grown.select(col("chunk_hash")).distinct(), hashCol = "chunk_hash")
      graft.sources.Sinks.appendBucketed(grown, chunkT, Seq("chunk_hash"))
      val day2 = Seq((20L, toks("db", 30) + " " + passage2))
      input.addData(day2: _*)
      q.processAllAvailable()
      assert(landed.intersect(twin(day2)) === twin(day2), "stream missed grown-corpus matches")
      assert(landed.exists(r => r._1 == 20L && r._2 == 200L),
        "a corpus doc indexed between triggers must be matchable")
      // the df-cap RECAP between triggers (the one path that SHRINKS
      // the index), production order: staged rewrite + bloom rebuild.
      // A third copy of passage2 pushes its chunks' df to 2; recap at
      // cap 1 removes them. The guard's next trigger must re-read the
      // recapped table AND refresh its probe cache (the rebuilt bloom
      // landed new files), still equal to the batch arm: passage2
      // finds nothing now, passage1 (df 1) still matches.
      graft.sources.Sinks.appendBucketed(graft.operators.Dedup.chunkPostings(
        Seq((300L, toks("cc", 5) + " " + passage2)).toDF("doc_id", "text")),
        chunkT, Seq("chunk_hash"))
      graft.operators.Dedup.recapChunkPostings(spark, chunkT, maxDocFreq = 1L)
      graft.operators.Dedup.rebuildHashBloom(spark, chunkT, "chunk_hash")
      val day3 = Seq((21L, toks("dc", 30) + " " + passage2),
        (22L, toks("dd", 30) + " " + passage1))
      input.addData(day3: _*)
      q.processAllAvailable()
      val t3 = twin(day3)
      assert(landed.intersect(t3) === t3, "stream disagrees with batch arm after the recap")
      assert(!landed.exists(r => r._1 == 21L), "recapped (boilerplate) chunks must not match")
      assert(landed.exists(r => r._1 == 22L && r._2 == 100L),
        "a surviving passage must still match after the recap")
      // a compaction crashed between its DROP and RENAME: only
      // __staging holds the table — the trigger must heal and survive
      spark.sql(s"ALTER TABLE $chunkT RENAME TO ${chunkT}__staging")
      val day4 = Seq((23L, toks("de", 30) + " " + passage1))
      input.addData(day4: _*)
      q.processAllAvailable() // must NOT throw
      assert(landed.exists(r => r._1 == 23L && r._2 == 100L),
        "post-swap trigger must probe the recovered table")
      assert(spark.catalog.tableExists(chunkT), "the swap must be promoted")
      assert(q.isActive, "the guard query must survive the swap window")
    } finally q.stop()
  }

  test("near-dup and substring guards LIVE race: triggers under looping index rewrites stay alive and correct") {
    // the exact guard's race spec, extended to the two other
    // bucketed-index guards — each watches its own table set, so
    // each deserves the real two-metadata-op window landing
    // mid-trigger with verdicts pinned
    implicit val sqlCtx = spark.sqlContext
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    def nearOf(p: String) = (1 to 39).map(i => s"$p$i").mkString(" ") + " changed"
    val post = "graft_race_nd_post"; val chunk = "graft_race_sub_chunk"
    val passage = toks("rp", 120)
    graft.operators.Dedup.writeBandPostings(
      Seq((100L, toks("ra", 40))).toDF("doc_id", "text"), post)
    graft.operators.Dedup.writeHashBloom(spark, post,
      hashCol = graft.operators.Dedup.bandKeySql)
    graft.operators.Dedup.writeChunkPostings(
      Seq((200L, toks("rb", 30) + " " + passage)).toDF("doc_id", "text"), chunk)
    graft.operators.Dedup.writeHashBloom(spark, chunk, hashCol = "chunk_hash")
    val ndIn = MemoryStream[(Long, String)]; val subIn = MemoryStream[(Long, String)]
    val dir = tempDir("graft_race_g2")
    val ndQ = graft.sources.Sinks.streamingNearDupGuardSink(
      ndIn.toDF().toDF("doc_id", "text"), post, s"$dir/nd_out", s"$dir/nd_chk").start()
    val subQ = graft.sources.Sinks.streamingSubstringGuardSink(
      subIn.toDF().toDF("doc_id", "text"), chunk, s"$dir/sub_out", s"$dir/sub_chk",
      minSharedTokens = 16L).start()
    @volatile var maintErr: Option[Throwable] = None
    @volatile var stop = false
    val maint = new Thread(() => {
      try {
        var k = 0
        while (!stop && k < 5) {
          graft.sources.Sinks.rewriteBucketed(
            spark.table(post), post, Seq("band", "band_hash"))
          graft.sources.Sinks.rewriteBucketed(
            spark.table(chunk), chunk, Seq("chunk_hash"))
          Thread.sleep(300)
          k += 1
        }
      } catch { case t: Throwable => maintErr = Some(t) }
    }, "guard-race-2-maintenance")
    try {
      maint.start()
      for (i <- 1 to 8) {
        ndIn.addData((300L + i, nearOf("ra")))
        subIn.addData((400L + i, toks(s"rp$i-", 30) + " " + passage))
        ndQ.processAllAvailable()
        subQ.processAllAvailable()
      }
      maint.join(120000)
      assert(maintErr.isEmpty, s"maintenance failed: ${maintErr.getOrElse("")}")
      assert(ndQ.isActive && subQ.isActive, "both guards must survive every swap window")
      val ndPairs = spark.read.parquet(s"$dir/nd_out")
        .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
      // pairs are (least, greatest): the corpus doc's id (100) sorts first
      assert((1 to 8).forall(i => ndPairs.contains((100L, 300L + i))),
        s"a near-dup verdict went missing under the live rewrite race: $ndPairs")
      val subDocs = spark.read.parquet(s"$dir/sub_out")
        .select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
      assert((1 to 8).forall(i => subDocs.contains((400L + i, 200L))),
        "a substring verdict went missing under the live rewrite race")
      assert(spark.catalog.tableExists(post) && spark.catalog.tableExists(chunk))
    } finally { stop = true; ndQ.stop(); subQ.stop(); maint.join(120000) }
  }

  test("semantic guard LIVE race: triggers under looping PQ retrains stay alive and correct") {
    // the semantic guard's hardest churn made live: a maintenance
    // loop RETRAINING the PQ tier (writeSemanticIndexPq drops the
    // code index FIRST, rewrites codebooks, re-encodes) while
    // triggers stream. Mid-retrain triggers may legitimately probe
    // one-tier (the documented downgrade — same hits); what is
    // pinned is the query never dies, the retrain loop never fails,
    // and every trigger's hit lands.
    implicit val sqlCtx = spark.sqlContext
    val t = "graft_race_sem"
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val flagged = embs.select(col("vec_id"), col("embedding"),
      (substring(md5(col("vec_id").cast("string")), 1, 4) < "0ccd").as("is_delta"))
    val corpus = flagged.filter(!col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val deltaRows = flagged.filter(col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    graft.operators.Ann.writeSemanticIndex(corpus, t)
    graft.operators.Pq.writeSemanticIndexPq(corpus, t + "__pq", deterministic = true,
      sharedCentroids = Some(spark.table(t + "__centroids")))
    val expected = graft.Pipeline.semanticCorpusHits(
      spark, deltaRows.toDF("doc_id", "embedding"), t)
      .as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture must produce semantic hits")
    val input = MemoryStream[(Long, Seq[Float])]
    val dir = tempDir("graft_race_sem")
    val q = graft.sources.Sinks.streamingSemanticGuardSink(
      input.toDF().toDF("doc_id", "embedding"), t, s"$dir/out", s"$dir/chk").start()
    @volatile var maintErr: Option[Throwable] = None
    @volatile var stop = false
    val maint = new Thread(() => {
      try {
        var k = 0
        while (!stop && k < 3) {
          graft.operators.Pq.writeSemanticIndexPq(
            spark.table(t).select(col("doc_id"), col("emb").as("embedding")),
            t + "__pq", deterministic = true,
            sharedCentroids = Some(spark.table(t + "__centroids")))
          Thread.sleep(200)
          k += 1
        }
      } catch { case tr: Throwable => maintErr = Some(tr) }
    }, "guard-race-sem-maintenance")
    try {
      maint.start()
      for (group <- deltaRows.grouped(math.max(1, deltaRows.size / 6))) {
        input.addData(group: _*)
        q.processAllAvailable()
      }
      maint.join(120000)
      assert(maintErr.isEmpty, s"PQ retrain failed against the live guard: ${maintErr.getOrElse("")}")
      assert(q.isActive, "the semantic guard must survive the retrain churn")
      val landed = spark.read.parquet(s"$dir/out")
        .select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
      assert(landed === expected,
        "semantic verdicts diverged from the batch twin under live PQ retrains")
    } finally { stop = true; q.stop(); maint.join(120000) }
  }

  test("streamingAcceptPreviewSink: per-doc verdicts == runIncremental on the same delta, read-only, fresh next trigger") {
    implicit val sqlCtx = spark.sqlContext
    val post = "graft_prev_post"; val hash = "graft_prev_hash"
    val chunk = "graft_prev_chunk"; val sem = "graft_prev_sem"
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    def e(k: Int): Seq[Float] = Seq.tabulate(16)(j => if (j == k) 1f else 0f)
    val filler = toks("tok", 40); val other = toks("oth", 40)
    val fresh = toks("fr", 40); val freshB = toks("fb", 40)
    val passageC = toks("pc", 160); val passageH = toks("ph", 48)
    // day 0: corpus bootstraps postings + hash + chunk; the semantic
    // index bootstraps one-tier (the PQ two-tier face is pinned by
    // the semantic guard spec — dispatch is shared either way)
    val corpus = Seq((101L, filler), (102L, other), (103L, toks("ca", 40)),
      (104L, toks("cb", 40)), (105L, toks("cc", 40)), (106L, toks("cd", 40)),
      (107L, toks("pre", 30) + " " + passageC)).toDF("doc_id", "text")
    graft.Pipeline.bootstrapIncremental(corpus, post, hash, chunkTable = Some(chunk))
    graft.operators.Ann.writeSemanticIndex(
      corpus.as[(Long, String)].collect().toSeq.zipWithIndex
        .map { case ((id, _), k) => (id, e(k)) }.toDF("doc_id", "embedding"),
      sem, numCentroids = 4, trainIters = 2)
    val holdout = Seq((9000L, toks("hh", 120) + " " + passageH)).toDF("doc_id", "text")
    // the delta: one doc per verdict category
    val day1 = Seq(
      (30L, "too short", 30),                                  // low_quality
      (101L, toks("ed", 40), -1),                              // id_collision (corpus id)
      (31L, fresh, 8),                                         // accepted
      (32L, fresh, 9),                                         // exact_dup_within (keep-first keeps 31)
      (33L, filler, 10),                                       // exact_dup_corpus
      (34L, ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" "), 11), // near_dup_corpus
      (35L, toks("zz", 300) + " " + passageC, 12),             // substring_dup_corpus (low whole-doc J)
      (36L, toks("uq", 40), 3),                                // semantic_dup_corpus (embedding == corpus 104)
      (37L, freshB, 13),                                       // near_dup_within (38 is longer)
      (38L, freshB + " " + toks("extra", 10), 14),             // accepted (cluster canonical)
      (39L, toks("dd", 120) + " " + passageH, 15))             // contaminated (holdout passage)
    def rows(day: Seq[(Long, String, Int)]) = day.map { case (id, t, k) =>
      (id, t, "en", "s", t.length.toLong, if (k >= 0) e(k) else e(7)) }
    val input = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    val dir = tempDir("graft_prev")
    val q = graft.sources.Sinks.streamingAcceptPreviewSink(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars", "embedding"),
      post, hash, s"$dir/out", s"$dir/chk",
      holdout = Some(holdout), chunkTable = Some(chunk), semanticTable = Some(sem)).start()
    try {
      val countsBefore = Seq(post, hash, chunk, sem).map(t => spark.table(t).count())
      input.addData(rows(day1): _*)
      q.processAllAvailable()
      def landed = spark.read.parquet(s"$dir/out")
        .select("doc_id", "verdict").as[(Long, String)].collect().toMap
      val expected = Map(30L -> "low_quality", 101L -> "id_collision",
        31L -> "accepted", 32L -> "exact_dup_within", 33L -> "exact_dup_corpus",
        34L -> "near_dup_corpus", 35L -> "substring_dup_corpus",
        36L -> "semantic_dup_corpus", 37L -> "near_dup_within",
        38L -> "accepted", 39L -> "contaminated")
      assert(landed === expected)
      // READ-ONLY: the preview touched no index and wrote no corpus
      assert(Seq(post, hash, chunk, sem).map(t => spark.table(t).count()) === countsBefore,
        "the preview must not grow any index")
      // the REAL daily run on the SAME delta against the SAME corpus
      // state lands exactly the previewed verdicts — same accepted
      // set, same per-gate drop counts (the categories are disjoint
      // on this delta by construction)
      val srcDir = tempDir("graft_prev_src")
      rows(day1).map { case (id, t, l, s, n, _) => (id, t, l, s, n) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$srcDir/documents.parquet")
      val embs1 = rows(day1).map { case (id, _, _, _, _, v) => (id, v) }
        .toDF("doc_id", "embedding")
      val outDir = tempDir("graft_prev_out")
      val s1 = graft.Pipeline.runIncremental(spark, srcDir, outDir, post, hash,
        holdout = Some(holdout), chunkTable = Some(chunk),
        semanticTable = Some(sem), deltaEmbeddings = Some(embs1))
      assert(spark.read.parquet(s"$outDir/accepted").select("doc_id")
        .as[Long].collect().toSet ===
        landed.filter(_._2 == "accepted").keySet)
      assert(s1("id_collision_dropped") === 1L && s1("neardup_vs_corpus_dropped") === 1L &&
        s1("substring_vs_corpus_dropped") === 1L && s1("semantic_vs_corpus_dropped") === 1L &&
        s1("decontaminated") === 1L && s1("accepted") === 2L)
      // FRESHNESS: the daily run grew every index; the next trigger's
      // preview must judge against the GROWN corpus — re-delivered
      // accepted content is now an exact dup, a near-dup of the newly
      // accepted doc 38 now loses to the corpus, novel still lands
      input.addData(
        (51L, fresh, "en", "s", fresh.length.toLong, e(8)),
        (52L, freshB + " " + toks("extra", 9), "en", "s", 0L, e(14)),
        (53L, toks("nw", 40), "en", "s", 0L, e(15)))
      q.processAllAvailable()
      assert(landed.get(51L).contains("exact_dup_corpus"),
        "yesterday's accepted content must preview as an exact dup today")
      assert(landed.get(52L).contains("near_dup_corpus"),
        "a near-dup of yesterday's accepted doc must lose to the grown index")
      assert(landed.get(53L).contains("accepted"))
    } finally q.stop()
  }

  test("streamingAcceptPreviewSink charlm arm: cached model re-collects when the model table grows") {
    implicit val sqlCtx = spark.sqlContext
    val post = "graft_prevlm_post"; val hash = "graft_prevlm_hash"
    val model = "graft_prevlm_model"
    // natural-prose corpus seeds the trigram model at bootstrap
    val corpus = (1 to 6).map(i => (i.toLong,
      Seq.fill(10)(s"the data pipeline number $i runs the data").mkString(" ")))
      .toDF("doc_id", "text")
    graft.Pipeline.bootstrapIncremental(corpus, post, hash, charlmTable = Some(model))
    val natural = Seq.fill(8)("data runs today the pipeline quietly the number data").mkString(" ")
    val garbled = (1 to 14).map(i => s"zq${i}x w${i}v7 k${i}j").mkString(" ")
    val input = MemoryStream[(Long, String, String, String, Long)]
    val dir = tempDir("graft_prevlm")
    val q = graft.sources.Sinks.streamingAcceptPreviewSink(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      post, hash, s"$dir/out", s"$dir/chk",
      charlmTable = Some(model), charlmRareFracMax = Some(0.5),
      charlmRareBelow = 0.1).start()
    try {
      def landed = spark.read.parquet(s"$dir/out")
        .select("doc_id", "verdict").as[(Long, String)].collect().toMap
      // trigger 1: the corpus-trained model drops the garbled doc
      input.addData((80L, natural, "en", "s", natural.length.toLong),
        (81L, garbled, "en", "s", garbled.length.toLong))
      q.processAllAvailable()
      assert(landed === Map(80L -> "accepted", 81L -> "charlm_dropped"))
      // trigger 2, model table UNCHANGED: the cached bytes must judge
      // exactly like trigger 1 (same text, fresh id — 81 was dropped,
      // so nothing of it is indexed)
      input.addData((82L, garbled, "en", "s", garbled.length.toLong))
      q.processAllAvailable()
      assert(landed.get(82L).contains("charlm_dropped"))
      // the model table grows a day whose prose is the garbled
      // family (the daily run normalizing new vocabulary): the file
      // set changes, so trigger 3 must score against the GROWN model
      // — the same text that just dropped now passes the gate. A
      // stale cache would drop it again.
      graft.sources.Sinks.appendBucketed(
        operators.TextOps.charlmCounts(
          (1 to 10).map(i => (i.toLong, garbled)).toDF("doc_id", "text"))
          .withColumn("append_id", lit("day2")),
        model, Seq("tri"))
      input.addData((83L, garbled, "en", "s", garbled.length.toLong))
      q.processAllAvailable()
      assert(landed.get(83L).contains("accepted"),
        s"grown model must accept the normalized family, got ${landed.get(83L)}")
    } finally q.stop()
  }

  test("streamingAcceptPreviewSink: kill/restart converges; a replayed batch REWRITES its directory") {
    // r17 VERDICT #4: the guards have swap/race specs and the
    // group-replace sink has kill/restart — the preview claims
    // per-batch-directory idempotence under at-least-once. Prove it
    // through the real machinery: kill after batch 0 commits, delete
    // batch 0's commit marker (the crash-between-land-and-commit
    // window), restart — the engine REPLAYS batch 0 (overwriting its
    // directory, no duplicate rows) and processes new data as batch
    // 1; every directory equals the batch decideDelta of exactly its
    // delivered slice.
    implicit val sqlCtx = spark.sqlContext
    val post = "graft_prevkr_post"; val hash = "graft_prevkr_hash"
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    graft.Pipeline.bootstrapIncremental(
      Seq((201L, toks("ka", 40)), (202L, toks("kb", 40))).toDF("doc_id", "text"),
      post, hash)
    val input = MemoryStream[(Long, String, String, String, Long)]
    val dir = tempDir("graft_prevkr")
    def start() = graft.sources.Sinks.streamingAcceptPreviewSink(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      post, hash, s"$dir/out", s"$dir/chk").start()
    def row(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val q1 = start()
    try {
      input.addData(
        row(60L, toks("ka", 40)),  // exact_dup_corpus
        row(61L, toks("nv", 40)),  // accepted
        row(62L, toks("nv", 40)))  // exact_dup_within (61 keeps)
      q1.processAllAvailable()
    } finally q1.stop() // kill between the batch-0 commit and batch 1
    def verdictsOf(batch: Long) = spark.read.parquet(s"$dir/out/batch_id=$batch")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    val expected0 = Map(60L -> "exact_dup_corpus", 61L -> "accepted",
      62L -> "exact_dup_within")
    assert(verdictsOf(0L) === expected0)
    // forge the at-least-once window: the commit marker vanishes (as
    // if the process died after landing the directory but before the
    // commit log write) — the restarted query must re-execute batch 0
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/chk/commits/0")),
      "batch 0's commit marker must exist before the forged crash")
    // the local FS keeps a sidecar checksum next to the marker — it
    // must vanish with it or the replayed commit's rename trips on it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/chk/commits/.0.crc"))
    val q2 = start()
    try {
      input.addData(row(63L, toks("fresh", 40))) // novel -> batch 1
      q2.processAllAvailable()
    } finally q2.stop()
    // the replayed batch 0 overwrote its directory: same verdicts,
    // exactly one row per doc — no duplicate rows from the rerun
    assert(verdictsOf(0L) === expected0, "replayed batch must converge")
    assert(spark.read.parquet(s"$dir/out/batch_id=0").count() === 3L)
    // the restarted stream's new micro-batch judged per-trigger (63
    // is novel vs the corpus — 61's accepted preview never entered
    // any index, so it cannot shadow later batches)
    assert(verdictsOf(1L) === Map(63L -> "accepted"))
    // and the whole layer equals the per-slice batch decisions: one
    // directory per delivered micro-batch, nothing else
    assert(spark.read.parquet(s"$dir/out")
      .select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L))
  }

  test("streamingSemanticGuardSink: hits == daily arm; growth, PQ retrain, PQ loss and swap between triggers") {
    implicit val sqlCtx = spark.sqlContext
    val t = "graft_guard_sem"
    // the gate corpus split, as in the PQ specs: deterministic md5
    // flag carves a small delta out of the embeddings table
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val flagged = embs.select(col("vec_id"), col("embedding"),
      (substring(md5(col("vec_id").cast("string")), 1, 4) < "0ccd").as("is_delta"))
    val corpus = flagged.filter(!col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val deltaRows = flagged.filter(col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    // bootstrap exactly as the pipeline does: shared coarse centroids,
    // full-vector cell index + the PQ twin (32 B/doc, qerrs form)
    graft.operators.Ann.writeSemanticIndex(corpus, t)
    graft.operators.Pq.writeSemanticIndexPq(corpus, t + "__pq", deterministic = true,
      sharedCentroids = Some(spark.table(t + "__centroids")))
    val input = MemoryStream[(Long, Seq[Float])]
    val dir = tempDir("graft_guard_semx")
    val q = graft.sources.Sinks.streamingSemanticGuardSink(
      input.toDF().toDF("doc_id", "embedding"), t, s"$dir/out", s"$dir/chk").start()
    def landed = spark.read.parquet(s"$dir/out")
      .select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    def twin(day: Seq[(Long, Seq[Float])]) = graft.Pipeline.semanticCorpusHits(
      spark, day.toDF("doc_id", "embedding"), t)
      .as[(Long, Long)].collect().toSet
    try {
      // trigger 1: the full delta — the stream's verdict IS the daily
      // arm's (same two-tier dispatch, same tight bound, same margin)
      val day1 = deltaRows
      input.addData(day1: _*)
      q.processAllAvailable()
      val t1 = twin(day1)
      assert(landed === t1, "stream and daily semantic arm disagree")
      assert(t1.nonEmpty, "fixture must produce at least one semantic hit")
      // the corpus GROWS between triggers via the production append
      // shapes (cell rows + projected PQ rows); a delta vector
      // re-delivered under a new id is cosine-1 with the appended
      // copy, so the next trigger MUST pair them — a baked snapshot
      // would miss the growth
      val (d0id, d0emb) = deltaRows.head
      val grown = Seq((900000L, d0emb)).toDF("doc_id", "embedding")
      graft.sources.Sinks.appendBucketed(
        graft.operators.Ann.semanticIndexRows(grown, spark.table(t + "__centroids")),
        t, Seq("cell"))
      graft.sources.Sinks.appendBucketed(
        graft.operators.Pq.semanticIndexRowsPq(grown, spark.table(t + "__centroids"),
          spark.table(t + "__pq__codebooks")),
        t + "__pq", Seq("cell"))
      val day2 = Seq((d0id, d0emb))
      input.addData(day2: _*)
      q.processAllAvailable()
      assert(landed.contains((d0id, 900000L)),
        "a corpus vector indexed between triggers must be pairable")
      assert(landed.intersect(twin(day2)) === twin(day2),
        "stream disagrees with the daily arm on the grown corpus")
      // PQ RETRAIN between triggers — the drift tripwire's rewrite:
      // codebooks + code index replaced wholesale mid-stream. The
      // guard's per-trigger re-read must probe new codes against new
      // codebooks (old codes × new codebooks would be silently wrong
      // distances) and still equal the daily arm on the same state.
      graft.operators.Pq.writeSemanticIndexPq(
        spark.table(t).select(col("doc_id"), col("emb").as("embedding")),
        t + "__pq", deterministic = true,
        sharedCentroids = Some(spark.table(t + "__centroids")))
      val day3 = deltaRows.take(5)
      input.addData(day3: _*)
      q.processAllAvailable()
      val t3 = twin(day3)
      assert(landed.intersect(t3) === t3,
        "stream disagrees with the daily arm after a PQ retrain")
      // PQ LOSS between triggers — a crash took the code index (and
      // its codebooks): the dispatch must DOWNGRADE to the one-tier
      // exact cell probe, same hits as the daily arm's downgrade,
      // never a failure and never wrong answers
      spark.sql(s"DROP TABLE ${t}__pq")
      spark.sql(s"DROP TABLE ${t}__pq__codebooks")
      val day4 = deltaRows.take(3)
      input.addData(day4: _*)
      q.processAllAvailable()
      val t4 = twin(day4)
      assert(landed.intersect(t4) === t4,
        "stream disagrees with the daily arm's one-tier downgrade")
      assert(t4.nonEmpty, "one-tier downgrade must still find the hits")
      // a compaction crashed between DROP and RENAME on the cell
      // index: only __staging holds it — the trigger must heal
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}__staging")
      input.addData(deltaRows.take(2): _*)
      q.processAllAvailable() // must NOT throw
      assert(spark.catalog.tableExists(t), "the swap must be promoted")
      assert(q.isActive, "the guard query must survive the swap window")
    } finally q.stop()
  }
}
