package graft

import graft.operators.{Cleaning, Enrichment, Ner}
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** End-to-end batch pipeline (the reference's Airflow DAG as one
  * call): every layer lands on disk, layer counts agree with the
  * in-memory operators, and the partition layout prunes. */
class PipelineSpec extends SparkSpec {

  test("runBatch writes all layers with operator-consistent counts") {
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("graft_pipeline")
    val summary = Pipeline.runBatch(spark, dir, out)

    val raw = Tables.documents(spark, dir)
    val bronzeExpected = Cleaning.dedupKeepFirst(raw, md5(col("text")), col("doc_id")).count()
    assert(summary("bronze") === bronzeExpected)
    assert(summary("silver") === bronzeExpected) // silver is a projection, row-preserving
    val goldExpected = Enrichment.gold(
      Cleaning.silver(spark.read.parquet(s"$out/bronze"))).count()
    assert(summary("gold") === goldExpected)
    assert(summary("gold") <= summary("silver")) // quality gate only removes
    assert(summary("entities") > 0)
    assert(summary("gold_analytics") > 0 && summary("gold_trends") > 0)

    // every count is what the write committed: a parquet-footer count
    // of the layer's directory agrees
    val layers = Map("bronze" -> "bronze", "silver" -> "silver", "gold" -> "gold",
      "entities" -> "entities", "gold_analytics" -> "views/gold_analytics",
      "gold_trends" -> "views/gold_trends")
    layers.foreach { case (name, path) =>
      assert(summary(name) === spark.read.parquet(s"$out/$path").count(), name)
    }
    // a second pass overwrites the same layout and reports the same counts
    assert(Pipeline.runBatch(spark, dir, out) === summary)

    // lang partitioning must prune at planning time on the written layout
    val pruned = spark.read.parquet(s"$out/gold").filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
  }

  test("runBatch stays within its job budget: no count or schema-inference jobs") {
    val out = tempDir("graft_pipeline_jobs")
    val sc = spark.sparkContext
    val key = "graft.spec.jobBudget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      // only jobs submitted under the key: runBatch's own threads
      // inherit the caller's local properties
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "runBatch")
      try Pipeline.runBatch(spark, "/root/testdata/sf0.001", out)
      finally sc.setLocalProperty(key, null)
      BusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // 28 jobs before the counts came from the writes and the
    // read-backs were schema-pinned: 12 parquet-footer count jobs and
    // 3 schema-inference jobs are gone
    assert(jobs.get() > 0 && jobs.get() <= 13, s"${jobs.get()} jobs")
  }

  test("runBatch over an empty corpus writes every layer empty and counts zero") {
    import spark.implicits._
    val src = tempDir("graft_pipe_empty")
    val out = tempDir("graft_pipe_empty_out")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")
    val summary = Pipeline.runBatch(spark, src, out)
    assert(summary === Map("bronze" -> 0L, "silver" -> 0L, "gold" -> 0L,
      "entities" -> 0L, "gold_analytics" -> 0L, "gold_trends" -> 0L))
  }

  test("runBatch with every doc below the gold gate writes empty gold and views") {
    import spark.implicits._
    val src = tempDir("graft_pipe_gate")
    val out = tempDir("graft_pipe_gate_out")
    Seq((1L, "short text one"), (2L, "short text two")) // content_length <= 50
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")
    val summary = Pipeline.runBatch(spark, src, out)
    assert(summary("bronze") === 2L && summary("silver") === 2L)
    assert(summary("gold") === 0L)
    assert(summary("gold_analytics") === 0L && summary("gold_trends") === 0L)
  }

  test("runTrainingPrep: the curation funnel drops, redacts and splits as composed") {
    import spark.implicits._
    val src = tempDir("graft_prep")
    val out = tempDir("graft_prep_out")
    val filler = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    Seq(
      (1L, filler, "en"),                        // survives, cluster representative
      (2L, filler, "en"),                        // exact dup of 1 -> dropped at exact stage
      (3L, nearDup, "en"),                       // near-dup of 1 -> dropped at cluster stage
      (4L, "contact admin@example.com about " +
        (1 to 40).map(i => s"mail$i").mkString(" "), "en"), // PII -> redacted, no shingle overlap
      (5L, "too short", "en"),                   // quality gate -> dropped
      (6L, (1 to 40).map(i => s"other$i").mkString(" "), "id")) // unrelated survivor
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")

    val s1 = Pipeline.runTrainingPrep(spark, src, out)
    assert(s1("input") === 6L)
    assert(s1("quality") === 5L)        // doc 5 out
    assert(s1("exact_deduped") === 4L)  // doc 2 out
    assert(s1("near_deduped") === 3L)   // doc 3 out
    assert(s1("decontaminated") === 0L) // survivors share no passages
    assert(s1("train") + s1("test") === s1("near_deduped"))
    // every train doc landed in a packing window; tiny corpus -> each
    // (domain, bin) distinct pair counted once
    assert(s1("train_bins") >= 1L && s1("train_bins") <= s1("train"))
    assert(spark.read.parquet(s"$out/train_packing").count() === s1("train"))
    assert(s1("train_bpe_bins") === 0L) // the optional BPE map is off
    // with the BPE arm on, the second packing map lands next to the
    // whitespace one and covers the same train docs
    val outB = tempDir("graft_prep_outB")
    val sB = Pipeline.runTrainingPrep(spark, src, outB, bpePackingMerges = Some(1))
    assert(sB("train_bpe_bins") >= 1L)
    assert(spark.read.parquet(s"$outB/train_packing_bpe")
      .select("doc_id").as[Long].collect().sorted.toSeq ===
      spark.read.parquet(s"$outB/train_packing")
        .select("doc_id").as[Long].collect().sorted.toSeq)
    // the shard layout holds every train doc exactly once, in the
    // deterministic shuffle order (dense per-shard positions)
    val shards = spark.read.parquet(s"$out/train_shards")
    assert(shards.count() === s1("train"))
    assert(s1("train_shards") >= 1L && s1("train_shards") <= 8L)
    val positions = shards.select("shard", "shard_pos")
      .as[(Int, Long)].collect().groupBy(_._1)
    positions.values.foreach { ps =>
      assert(ps.map(_._2).sorted.toSeq === (1L to ps.length).toSeq)
    }

    // the curriculum map covers the train split exactly, one monotone
    // bucket per doc (the Corpus.curriculumAssign contract over the
    // WRITTEN split)
    val cur = spark.read.parquet(s"$out/train_curriculum")
    assert(cur.count() === s1("train"))
    assert(s1("curriculum_buckets") >= 1L && s1("curriculum_buckets") <= 10L)
    val trainIds = spark.read.schema(
      spark.read.parquet(s"$out/train").schema).parquet(s"$out/train")
      .select("doc_id").as[Long].collect().toSet
    assert(cur.select("doc_id").as[Long].collect().toSet === trainIds)

    val written = spark.read.parquet(s"$out/train")
      .unionByName(spark.read.parquet(s"$out/test"))
    val kept = written.select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L, 6L))
    // PII left the corpus before the write
    val doc4 = written.filter(col("doc_id") === 4L)
      .select("content").as[String].head()
    assert(doc4.contains("<EMAIL>") && !doc4.contains("admin@example.com"))
    // the split is the hashSplit assignment (re-derivable, deterministic)
    val expected = graft.operators.TextOps
      .hashSplit(written.select(col("doc_id")), col("doc_id"), 410)
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    val testIds = spark.read.schema(written.schema).parquet(s"$out/test")
      .select("doc_id").as[Long].collect().toSet
    assert(testIds === expected)
    // re-running is byte-deterministic on the funnel counts
    val s2 = Pipeline.runTrainingPrep(spark, src,
      tempDir("graft_prep_out2"))
    assert(s2 === s1)
  }

  test("runIncremental: corpus wins at both dedup grains, only the delta moves, the index grows") {
    import spark.implicits._
    val filler = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"fresh$i").mkString(" ")
    // day 0: the accepted corpus bootstraps both probe tables
    Pipeline.bootstrapIncremental(
      Seq((1L, filler), (6L, other)).toDF("doc_id", "text"),
      "graft_inc_post", "graft_inc_hash")

    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_inc_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val day1 = writeDelta(
      (10L, ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")), // near-dup of corpus 1
      (11L, other),                                                     // exact dup of corpus 6
      (12L, fresh),                                                     // fresh
      (13L, fresh + " extra reach admin@example.com"),                  // near-dup of 12, LONGER, carries PII
      (14L, "too short"))                                               // quality gate
    val out1 = tempDir("graft_inc_out1")
    val s1 = Pipeline.runIncremental(spark, day1, out1, "graft_inc_post", "graft_inc_hash")
    assert(s1("input") === 5L)
    assert(s1("quality") === 4L)              // 14 out
    assert(s1("id_collision_dropped") === 0L)
    assert(s1("exact_within") === 4L)         // no within-delta exact dups
    assert(s1("exact_new") === 3L)            // 11 lost to the corpus hash set
    assert(s1("neardup_vs_corpus_dropped") === 1L) // 10 lost to corpus 1
    assert(s1("accepted") === 1L)             // 12 vs 13 cluster -> longest (13) survives
    val acc1 = spark.read.parquet(s"$out1/accepted")
    assert(acc1.select("doc_id").as[Long].collect().toSet === Set(13L))
    // the day's heavy-hitters snapshot lands with the day's output,
    // from the RAW delta (pre-gate). On THIS delta the tokens are
    // near-all singletons, so Misra-Gries legitimately decrements
    // everything away — the contract here is the bounded shape (at
    // most k rows per source, estimates never above exact), not
    // non-emptiness; a skewed feed's snapshot is pinned in
    // SketchSpec/StreamingSpec
    val hh1 = spark.read.parquet(s"$out1/heavy_hitters")
    assert(hh1.columns.sorted.toSeq === Seq("est", "n_tokens", "source", "term"))
    assert(hh1.count() <= 32L)
    // explode_outer keeps the (source, n_tokens) row even when the
    // sketch emptied — the source is never absent from the snapshot
    assert(hh1.select("source").distinct().as[String].collect().toSeq === Seq("s"))
    val hhTerms = hh1.filter(col("term").isNotNull)
      .select("term", "est").as[(String, Long)].collect().toMap
    // 'fresh1'..'fresh40' appear twice (docs 12+13): MG never overcounts
    assert(hhTerms.values.forall(_ <= 2L), s"overcount: $hhTerms")
    // the WRITTEN corpus is redacted like the full prep's; the probe
    // indexes keep the pre-redact content the pair graphs read
    val written13 = acc1.select("content").as[String].head()
    assert(written13.contains("<EMAIL>") && !written13.contains("admin@example.com"))
    assert(spark.table("graft_inc_post").select("doc_id").distinct()
      .as[Long].collect().toSet === Set(1L, 6L, 13L))

    // day 2: a near-dup of day 1's ACCEPTED doc must now lose to the
    // corpus — proof the append actually extended the index
    val day2 = writeDelta(
      (20L, fresh + " changed"))              // near-dup of accepted 13
    val out2 = tempDir("graft_inc_out2")
    val s2 = Pipeline.runIncremental(spark, day2, out2, "graft_inc_post", "graft_inc_hash")
    assert(s2("neardup_vs_corpus_dropped") === 1L)
    assert(s2("accepted") === 0L)

    // day 3: re-delivering an id the corpus already holds (with edited
    // text) must drop at the id-collision guard — accepting it would
    // write a second, conflicting set of postings/hashes for id 13
    val day3 = writeDelta(
      (13L, (1 to 40).map(i => s"edit$i").mkString(" ")))
    val out3 = tempDir("graft_inc_out3")
    val s3 = Pipeline.runIncremental(spark, day3, out3, "graft_inc_post", "graft_inc_hash")
    assert(s3("id_collision_dropped") === 1L)
    assert(s3("accepted") === 0L)

    // day 4: a doc leaking a holdout passage drops at the decontam
    // stage when the standing holdout is supplied (the full prep's
    // eval guard, enforced at the daily grain)
    val passage = (1 to 48).map(i => s"leak$i").mkString(" ")
    val day4 = writeDelta(
      (41L, (1 to 120).map(i => s"dd$i").mkString(" ") + " " + passage),
      (42L, (1 to 40).map(i => s"clean$i").mkString(" ")))
    val out4 = tempDir("graft_inc_out4")
    val s4 = Pipeline.runIncremental(spark, day4, out4, "graft_inc_post", "graft_inc_hash",
      holdout = Some(Seq((9000L, (1 to 120).map(i => s"hh$i").mkString(" ") + " " + passage))
        .toDF("doc_id", "text")))
    assert(s4("decontaminated") === 1L)
    assert(s4("accepted") === 1L)
    assert(spark.read.parquet(s"$out4/accepted")
      .select("doc_id").as[Long].collect().toSet === Set(42L))
  }

  test("bloom prefilter: the exact arm probes map-side, same rows as the plain anti-join") {
    import spark.implicits._
    val corpusText = (1 to 40).map(i => s"bp$i").mkString(" ")
    val otherText = (1 to 40).map(i => s"bq$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusText), (2L, otherText)).toDF("doc_id", "text"),
      "graft_bloomarm_post", "graft_bloomarm_hash")
    // bootstrap maintains the bloom next to the hash table
    assert(spark.catalog.tableExists("graft_bloomarm_hash__bloom"))
    assert(spark.table("graft_bloomarm_hash__bloom")
      .select("items").as[Long].head() === 2L)
    val freshText = (1 to 40).map(i => s"br$i").mkString(" ")
    val delta = Seq((10L, corpusText), (11L, freshText)).toDF("doc_id", "content")
    val framed = Pipeline.exactNewVsCorpus(spark, delta, "graft_bloomarm_hash")
    // PLAN WALK: the probe itself runs ONCE inside the checkpointed
    // base (so the serialized bloom rides the plan exactly once —
    // the probe expression's plan shape is pinned in DedupSpec and
    // the chunk arm's walk); the OUTER plan must show the bypass:
    // a Union of the two checkpoint-scan branches where only ONE
    // branch carries the LeftAnti probe join
    val plan = framed.queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).length === 1, s"join shape wrong:\n$plan")
    assert(plan.contains("Union"), s"no union bypass in plan:\n$plan")
    // rows: the corpus dup drops, the fresh doc survives — identical
    // to the plain anti-join once the bloom is gone
    assert(framed.select("doc_id").as[Long].collect().toSet === Set(11L))
    spark.sql("DROP TABLE graft_bloomarm_hash__bloom")
    val plain = Pipeline.exactNewVsCorpus(spark, delta, "graft_bloomarm_hash")
    assert(!plain.queryExecution.executedPlan.toString.contains("graft_might_contain"))
    assert(plain.select("doc_id").as[Long].collect().toSet === Set(11L))
  }

  test("doc-id bloom: id gate decides all-novel deltas without touching the postings table, same ids either path") {
    // r17 VERDICT #2: the id-collision gate was the accept chain's one
    // per-decision corpus touch (a postings doc_id scan). With the
    // bootstrapped doc-id key space, definite non-members decide
    // map-side; only a non-empty maybe sliver confirms exactly.
    import spark.implicits._
    val t1 = (1 to 40).map(i => s"ib$i").mkString(" ")
    val t2 = (1 to 40).map(i => s"ic$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, t1), (2L, t2)).toDF("doc_id", "text"),
      "graft_idb_post", "graft_idb_hash")
    assert(spark.catalog.tableExists("graft_idb_post__ids__bloom"),
      "bootstrap must register the doc-id key space")
    // verdict-neutrality: bloom path == forced scan path on a mixed
    // delta (one collision, two novel)
    val deltaIds = Seq(1L, 10L, 11L).toDF("doc_id")
    val viaBloom = Pipeline.corpusIdCollisions(spark, deltaIds, "graft_idb_post")
      .as[Long].collect().toSet
    val viaScan = Pipeline.corpusIdCollisions(spark, deltaIds, "graft_idb_post",
      probeOverride = Some(None)).as[Long].collect().toSet
    assert(viaBloom === Set(1L) && viaScan === Set(1L),
      s"bloom path $viaBloom vs scan path $viaScan")
    // MAP-SIDE PROOF: hide the postings table (bloom stays). An
    // all-novel delta still decides — the confirm join is never even
    // constructed. A maybe id confirms against the SPLIT layout's
    // forward sig table (one already-distinct row per doc — r19,
    // closing the r18 'watch' item), so it still answers with the
    // postings table physically unreachable; only hiding the sig
    // table too makes a maybe id fail loudly. Stronger than any plan
    // walk: each corpus surface is physically removed in turn.
    spark.sql("ALTER TABLE graft_idb_post RENAME TO graft_idb_post__hidden")
    try {
      val novel = Pipeline.corpusIdCollisions(spark,
        Seq(50L, 51L).toDF("doc_id"), "graft_idb_post")
      assert(novel.isEmpty, "novel ids must decide without the postings table")
      assert(Pipeline.corpusIdCollisions(spark,
          Seq(1L).toDF("doc_id"), "graft_idb_post").as[Long].collect().toSet
        === Set(1L),
        "a maybe id must confirm via the sig table alone")
      spark.sql("ALTER TABLE graft_idb_post__sigs RENAME TO graft_idb_post__sigs__hidden")
      try {
        intercept[Exception] {
          Pipeline.corpusIdCollisions(spark,
            Seq(1L).toDF("doc_id"), "graft_idb_post").count()
        }
      } finally spark.sql(
        "ALTER TABLE graft_idb_post__sigs__hidden RENAME TO graft_idb_post__sigs")
    } finally spark.sql("ALTER TABLE graft_idb_post__hidden RENAME TO graft_idb_post")
    // the daily merge maintains the key space: an accepted day's ids
    // enter the bloom (items grew past the bootstrap's 2)
    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_idb_delta")
      rows.map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val fresh = (1 to 40).map(i => s"idn$i").mkString(" ")
    val s1 = Pipeline.runIncremental(spark,
      writeDelta((10L, fresh)),
      tempDir("graft_idb_out"),
      "graft_idb_post", "graft_idb_hash")
    assert(s1("accepted") === 1L)
    assert(spark.table("graft_idb_post__ids__bloom")
      .select("items").as[Long].head() === 3L,
      "the accepted day's id must merge into the doc-id bloom")
    // ...and a re-delivery of the accepted id now collides THROUGH the
    // bloom path (maybe -> exact confirm -> drop)
    val s2 = Pipeline.runIncremental(spark,
      writeDelta((10L, (1 to 40).map(i => s"ed$i").mkString(" "))),
      tempDir("graft_idb_out2"),
      "graft_idb_post", "graft_idb_hash")
    assert(s2("id_collision_dropped") === 1L && s2("accepted") === 0L)
  }

  test("PQ drift tripwire is self-calibrated: the stamped training bar gates the daily retrain") {
    import spark.implicits._
    // r19: an absolute qerr threshold mislabeled every day of a
    // high-entropy embedding space as drift (daily full retrain —
    // the dominant steady-state fixed cost). The bar is now the
    // training corpus's own worst qerr, stamped on the codebooks;
    // the effective threshold is max(pqRetrainQerr, 2 × bar). Pin
    // (a) the stamp equals the index's max qerr, and (b) the daily
    // check honors the stamp in both directions.
    val corpusText = (1 to 40).map(i => s"qbar$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusText)).toDF("doc_id", "text"),
      "graft_qbar_post", "graft_qbar_hash",
      semanticTable = Some("graft_qbar_cells"),
      corpusEmbeddings = Some(Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("doc_id", "embedding")))
    val stamped = graft.operators.Pq.qerrBar(spark, "graft_qbar_cells__pq__codebooks")
    val maxQerr = spark.table("graft_qbar_cells__pq")
      .agg(max(col("qerr"))).first().getDouble(0)
    assert(stamped.contains(maxQerr), s"stamp $stamped != index max $maxQerr")
    def day(id: Long, vec: Seq[Float], tag: String): Pipeline.Summary = {
      val dir = tempDir(s"graft_qbar_$tag")
      Seq((id, (1 to 40).map(i => s"$tag$i").mkString(" "), "en", "s", 40L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      Pipeline.runIncremental(spark, dir,
        tempDir(s"graft_qbar_out_$tag"),
        "graft_qbar_post", "graft_qbar_hash",
        semanticTable = Some("graft_qbar_cells"),
        deltaEmbeddings = Some(Seq((id, vec)).toDF("doc_id", "embedding")))
    }
    // an orthogonal day vector (qerr 2 ≫ the 0.5 absolute floor) must
    // NOT retrain while the stamped bar says days like it are normal
    spark.sql("ALTER TABLE graft_qbar_cells__pq__codebooks " +
      "SET TBLPROPERTIES ('graft.qerr_bar' = '10.0')")
    val s1 = day(80L, Seq(0f, 1f, 0f, 0f), "hi")
    assert(s1("accepted") === 1L && s1("semantic_pq_retrain") === 0L, s"$s1")
    // …and MUST retrain once the bar says the corpus quantizes near
    // zero (the retrain then re-stamps from the new training pass)
    spark.sql("ALTER TABLE graft_qbar_cells__pq__codebooks " +
      "SET TBLPROPERTIES ('graft.qerr_bar' = '0.0')")
    val s2 = day(81L, Seq(0f, 0f, 1f, 0f), "lo")
    assert(s2("accepted") === 1L && s2("semantic_pq_retrain") === 1L, s"$s2")
    // the retrain re-stamps from its own training pass (the planted
    // '0.0' is overwritten; the tiny corpus re-encodes near zero, so
    // assert presence, not magnitude)
    assert(graft.operators.Pq.qerrBar(spark, "graft_qbar_cells__pq__codebooks").isDefined,
      "retrain must re-stamp the bar")
  }

  test("acceptPreviewAudit: every planted branch fires — charlm, semantic and holdout arms included") {
    // r17 VERDICT #1 + r18 holdout: the gate row previously ran
    // decideDelta WITHOUT the charlm/semantic arms (9 of 11
    // categories value-checked) and left the holdout unarmed. Now
    // every arm is armed; the planted slices must each land in their
    // own verdict bucket with a nonzero count. (The exact counts are
    // value-checked against DuckDB by the registry gate; this spec
    // pins the branch coverage at the smallest SF — a regression
    // that silently disabled an arm in BOTH engines would keep the
    // count-equality gate green, so the must-fire list here is the
    // guard against symmetric arm loss.)
    val dir = "/root/testdata/sf0.001"
    val out = Pipeline.acceptPreviewAudit(
        Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("accepted", "id_collision", "substring_dup_corpus",
        "exact_dup_within", "charlm_dropped", "semantic_dup_corpus",
        "contaminated")
      .foreach { k =>
        assert(out.getOrElse(k, 0L) > 0L, s"$k must fire; got $out") }
    // the contamination slice survives every corpus arm by
    // construction (its holdout sources were never indexed) — only
    // the post-dedup decontamination can account for it (3 docs at
    // this SF)
    assert(out("contaminated") === 3L, s"got $out")
    // the LM gate runs FIRST: a garbled doc must never reach a dedup
    // arm, so charlm_dropped is exactly the garbled slice (8 docs at
    // this SF — measured rare-frac >= 0.19 vs <= 0.11 for all others)
    assert(out("charlm_dropped") === 8L, s"got $out")
    // the paraphrase slice is text-invisible (no shared shingles or
    // chunks) — only the embedding probe catches it
    assert(out("semantic_dup_corpus") >= 16L, s"got $out")
  }

  test("acceptPreviewAudit reuses its persisted bootstrap on a matching input, rebuilds otherwise") {
    // r18 VERDICT #3: the gate row re-trained its corpus state every
    // call. A repeat call on the same input in the same session must
    // REUSE the bootstrap (observable: the postings table's files are
    // untouched) and emit identical verdicts; a different input — a
    // copy of the same files under another directory — must rebuild;
    // and values depend only on the rows.
    val dir = "/root/testdata/sf0.001"
    val other = tempDir("apv_input")
    Seq("documents", "embeddings").foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$t.parquet"), java.nio.file.Paths.get(s"$other/$t.parquet")))
    def run(d: String) = Pipeline.acceptPreviewAudit(
        Tables.documents(spark, d), Tables.embeddings(spark, d))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out1 = run(dir)
    val files1 = spark.table("graft_audit_apv_post").inputFiles.toSet
    val out2 = run(dir)
    val files2 = spark.table("graft_audit_apv_post").inputFiles.toSet
    assert(out2 === out1, "reused bootstrap changed the verdicts")
    assert(files2 === files1, "a matching input must not rebuild the index")
    val out3 = run(other)
    val files3 = spark.table("graft_audit_apv_post").inputFiles.toSet
    assert(files3 !== files2, "a different input must rebuild")
    assert(out3 === out1, "the same rows under another directory changed the verdicts")
  }

  test("runIncremental maintains the bloom across days: accepted hashes probe true next run") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"bm$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, base)).toDF("doc_id", "text"),
      "graft_bloomday_post", "graft_bloomday_hash")
    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_bloomday_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val fresh = (1 to 40).map(i => s"bn$i").mkString(" ")
    val s1 = Pipeline.runIncremental(spark,
      writeDelta((10L, fresh)),
      tempDir("graft_bloomday_out1"),
      "graft_bloomday_post", "graft_bloomday_hash")
    assert(s1("accepted") === 1L)
    // the accepted day's hash was merged into the persisted bloom —
    // item count grew, and a re-delivery of the SAME content tomorrow
    // goes down the maybe branch and drops at the exact check
    assert(spark.table("graft_bloomday_hash__bloom")
      .select("items").as[Long].head() === 2L)
    val s2 = Pipeline.runIncremental(spark,
      writeDelta((20L, fresh)),
      tempDir("graft_bloomday_out2"),
      "graft_bloomday_post", "graft_bloomday_hash")
    assert(s2("exact_new") === 0L, s"bloom lost day 1's hashes: $s2")
    assert(s2("accepted") === 0L)
  }

  test("runIncremental crash recovery: a pending manifest replays to a consistent corpus, never an empty day") {
    import spark.implicits._
    val filler = (1 to 40).map(i => s"crtok$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, filler)).toDF("doc_id", "text"), "graft_crash_post", "graft_crash_hash")

    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_crash_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }

    // Construct EXACTLY the on-disk state a run leaves when it crashes
    // after (accepted output + manifest + postings append) but BEFORE
    // the hash append — the poison state from the r11 ADVICE: without
    // repair, a rerun sees doc 21 in postings, drops it as an id
    // collision, and overwrites the day's output with an empty set.
    val newText = (1 to 40).map(i => s"crnew$i").mkString(" ")
    val day = writeDelta((21L, newText))
    val out = tempDir("graft_crash_out")
    val acceptedText = Seq((21L, newText)).toDF("doc_id", "text")
    acceptedText.select(col("doc_id"), col("text").as("content"), lit("en").as("lang"))
      .write.partitionBy("lang").parquet(s"$out/accepted")
    acceptedText
      .withColumn("content_md5", md5(col("text")))
      .withColumn("out_dir", lit(out))
      .withColumn("hash_table", lit("graft_crash_hash"))
      .withColumn("chunk_table", lit(null).cast("string"))
      .withColumn("semantic_table", lit(null).cast("string"))
      .withColumn("embedding", lit(null).cast("array<float>"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable("graft_crash_post__pending")
    // split layout: the crashed run landed slim posting rows AND the
    // forward sig rows before dying (the two postings-family appends
    // are adjacent; a crash between THEM is covered by the repair's
    // per-index anti-join, exercised below via the hash gap)
    val crashedBands = graft.operators.Dedup.bandPostings(acceptedText)
    graft.sources.Sinks.appendBucketed(
      crashedBands.select(col("band"), col("band_hash"), col("doc_id")),
      "graft_crash_post", Seq("band", "band_hash"))
    graft.sources.Sinks.appendBucketed(
      crashedBands.select(col("doc_id"), col("sig")).dropDuplicates("doc_id"),
      "graft_crash_post__sigs", Seq("doc_id"))

    val s = Pipeline.runIncremental(spark, day, out, "graft_crash_post", "graft_crash_hash")
    assert(s === Map("accepted" -> 1L, "repaired" -> 1L))
    // the day's output survived the rerun
    assert(spark.read.parquet(s"$out/accepted")
      .select("doc_id").as[Long].collect().toSeq === Seq(21L))
    // the missing hash append was completed...
    val md5New = acceptedText.select(md5(col("text"))).as[String].head()
    assert(spark.table("graft_crash_hash").filter(col("content_md5") === md5New).count() === 1L)
    // ...and the already-landed postings were NOT appended twice
    assert(spark.table("graft_crash_post").filter(col("doc_id") === 21L).count() === 16L)
    assert(!spark.catalog.tableExists("graft_crash_post__pending"))

    // A crash left over from a PREVIOUS day must repair and then let
    // the current day's delta process normally (not return early).
    val dayBText = (1 to 40).map(i => s"crday2$i").mkString(" ")
    acceptedText // re-break the state: pretend day-21's hash append crashed again
      .withColumn("content_md5", md5(col("text")))
      .withColumn("out_dir", lit(out))
      .withColumn("hash_table", lit("graft_crash_hash"))
      .withColumn("chunk_table", lit(null).cast("string"))
      .withColumn("semantic_table", lit(null).cast("string"))
      .withColumn("embedding", lit(null).cast("array<float>"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable("graft_crash_post__pending")
    val dayB = writeDelta((30L, dayBText))
    val outB = tempDir("graft_crash_outB")
    val sB = Pipeline.runIncremental(spark, dayB, outB, "graft_crash_post", "graft_crash_hash")
    assert(sB("accepted") === 1L) // day B processed, not short-circuited
    assert(sB.contains("input"))  // the full summary, not the recovered stub
    assert(spark.read.parquet(s"$outB/accepted")
      .select("doc_id").as[Long].collect().toSeq === Seq(30L))
    // idempotent repair: doc 21's postings/hashes still exactly once
    assert(spark.table("graft_crash_post").filter(col("doc_id") === 21L).count() === 16L)
    assert(spark.table("graft_crash_hash").filter(col("content_md5") === md5New).count() === 1L)
    assert(!spark.catalog.tableExists("graft_crash_post__pending"))
  }

  test("runIncremental chunk arm: a passage copy below whole-doc Jaccard drops vs the corpus") {
    import spark.implicits._
    val passage = (1 to 160).map(i => s"pass$i").mkString(" ")
    val corpusDoc = (1 to 200).map(i => s"corp$i").mkString(" ") + " " + passage
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusDoc)).toDF("doc_id", "text"),
      "graft_chk_post", "graft_chk_hash", chunkTable = Some("graft_chk_chunks"))

    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_chk_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // the leak: a long distinct prefix keeps whole-doc Jaccard far
    // below the MinHash bar, so the banded probe CANNOT see it — only
    // the chunk index can
    val cleanDoc = (1 to 120).map(i => s"clean$i").mkString(" ")
    val day = writeDelta(
      (50L, (1 to 200).map(i => s"dd$i").mkString(" ") + " " + passage),
      (51L, cleanDoc))
    val out = tempDir("graft_chk_out")
    val s = Pipeline.runIncremental(spark, day, out, "graft_chk_post", "graft_chk_hash",
      chunkTable = Some("graft_chk_chunks"))
    assert(s("neardup_vs_corpus_dropped") === 0L, "banded probe must be blind to the passage")
    assert(s("substring_vs_corpus_dropped") === 1L)
    assert(s("accepted") === 1L)
    assert(spark.read.parquet(s"$out/accepted")
      .select("doc_id").as[Long].collect().toSet === Set(51L))
    // the chunk index grew by the accepted doc — a later passage copy
    // OF THE ACCEPTED DOC must now drop too
    val day2 = writeDelta(
      (60L, (1 to 200).map(i => s"ee$i").mkString(" ") + " " + cleanDoc))
    val out2 = tempDir("graft_chk_out2")
    val s2 = Pipeline.runIncremental(spark, day2, out2, "graft_chk_post", "graft_chk_hash",
      chunkTable = Some("graft_chk_chunks"))
    assert(s2("substring_vs_corpus_dropped") === 1L)
    assert(s2("accepted") === 0L)
    // the chunk index carries its bloom summary (bootstrapped, then
    // merged per accepted day) and the probe's PLAN runs the map-side
    // prefilter — an inner join, so the prune is a plain filter, and
    // day-1/day-2 drops above already prove hits survive it
    assert(spark.catalog.tableExists("graft_chk_chunks__bloom"))
    val probed = graft.operators.Dedup.incrementalSubstringMatches(
      Seq((70L, cleanDoc)).toDF("doc_id", "text"),
      spark.table("graft_chk_chunks"), minSharedTokens = 64L,
      bloomProbe = graft.operators.Dedup.bloomProbeFor(spark, "graft_chk_chunks"))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_might_contain"), s"no chunk prefilter in plan:\n$plan")
    // parity: accepted doc 51's chunks are IN the merged bloom, so the
    // probe still finds the full passage overlap through the prefilter
    assert(probed.select("delta_doc").as[Long].collect().toSet === Set(70L))
  }

  test("runIncremental semantic arm: a paraphrased re-delivery drops via the embedding probe") {
    import spark.implicits._
    // corpus doc 1 with its embedding: the arm trains the quantizer
    // and persists cell index + centroids at bootstrap
    val corpusText = (1 to 40).map(i => s"sem$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusText)).toDF("doc_id", "text"),
      "graft_sem_post", "graft_sem_hash",
      semanticTable = Some("graft_sem_cells"),
      corpusEmbeddings = Some(Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("doc_id", "embedding")))
    assert(spark.catalog.tableExists("graft_sem_cells") &&
      spark.catalog.tableExists("graft_sem_cells__centroids"))
    // the PQ twin bootstraps next to the full-vector index: the
    // 16 B/doc code index + its codebooks, cells SHARED with the
    // full index (one coarse quantizer)
    assert(spark.catalog.tableExists("graft_sem_cells__pq") &&
      spark.catalog.tableExists("graft_sem_cells__pq__codebooks"))
    assert(spark.table("graft_sem_cells__pq").columns.sorted.toSeq
      === Seq("cell", "codes", "doc_id", "nrm", "qerr", "qerrs"))

    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_sem_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // day 1: doc 80 PARAPHRASES corpus 1 — zero token overlap, so the
    // MinHash probe is structurally blind to it — but its embedding
    // sits next to corpus 1's; doc 81 is fresh in text AND embedding
    val day1 = writeDelta(
      (80L, (1 to 40).map(i => s"para$i").mkString(" ")),
      (81L, (1 to 40).map(i => s"novel$i").mkString(" ")))
    val out1 = tempDir("graft_sem_out1")
    val s1 = Pipeline.runIncremental(spark, day1, out1, "graft_sem_post", "graft_sem_hash",
      semanticTable = Some("graft_sem_cells"),
      deltaEmbeddings = Some(Seq(
        (80L, Seq(0.97f, 0.24f, 0f, 0f)),
        (81L, Seq(0f, 1f, 0f, 0f))).toDF("doc_id", "embedding")))
    assert(s1("neardup_vs_corpus_dropped") === 0L, "text probe must be blind to the paraphrase")
    assert(s1("semantic_vs_corpus_dropped") === 1L)
    assert(s1("accepted") === 1L)
    // doc 81 is ORTHOGONAL to the 1-vector bootstrap corpus — the
    // frozen codebook cannot encode it (self-quantization error 2),
    // so the drift tripwire must fire and re-encode the PQ index;
    // without the retrain, day 2's paraphrase of 81 would sail past
    // the PQ tier (its code would reconstruct to corpus doc 1)
    assert(s1("semantic_pq_retrain") === 1L, s"drift retrain did not fire: $s1")
    assert(spark.read.parquet(s"$out1/accepted")
      .select("doc_id").as[Long].collect().toSet === Set(81L))
    // the accepted doc's vector joined the index; the dropped one
    // didn't — and the PQ code index grew in lockstep
    assert(spark.table("graft_sem_cells").select("doc_id")
      .as[Long].collect().toSet === Set(1L, 81L))
    assert(spark.table("graft_sem_cells__pq").select("doc_id")
      .as[Long].collect().toSet === Set(1L, 81L))

    // day 2: a paraphrase of DAY 1's accepted doc must now drop — the
    // semantic index grew by exactly the accepted vectors
    val day2 = writeDelta((90L, (1 to 40).map(i => s"alt$i").mkString(" ")))
    val out2 = tempDir("graft_sem_out2")
    val s2 = Pipeline.runIncremental(spark, day2, out2, "graft_sem_post", "graft_sem_hash",
      semanticTable = Some("graft_sem_cells"),
      deltaEmbeddings = Some(Seq(
        (90L, Seq(0.24f, 0.97f, 0f, 0f))).toDF("doc_id", "embedding")))
    assert(s2("semantic_vs_corpus_dropped") === 1L)
    assert(s2("accepted") === 0L)
    // day 2's delta sits in the re-trained codebook's span — no retrain
    assert(s2("semantic_pq_retrain") === 0L)

    // crash repair covers the semantic arm: a manifest carrying the
    // day's vector with NO semantic append landed yet must replay the
    // missing cell-index rows (and the other indexes) exactly once
    val t95 = (1 to 40).map(i => s"crashsem$i").mkString(" ")
    Seq((95L, t95)).toDF("doc_id", "text")
      .withColumn("content_md5", md5(col("text")))
      .withColumn("out_dir", lit("/tmp/graft_sem_crash_out"))
      .withColumn("hash_table", lit("graft_sem_hash"))
      .withColumn("chunk_table", lit(null).cast("string"))
      .withColumn("semantic_table", lit("graft_sem_cells"))
      .join(Seq((95L, Seq(0f, 0f, 1f, 0f))).toDF("doc_id", "embedding"), Seq("doc_id"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable("graft_sem_post__pending")
    assert(Pipeline.repairPendingAppends(spark, "graft_sem_post")
      === Some("/tmp/graft_sem_crash_out"))
    assert(spark.table("graft_sem_cells").filter(col("doc_id") === 95L).count() === 1L)
    // the PQ twin repaired by the same anti-join rule, exactly once
    assert(spark.table("graft_sem_cells__pq").filter(col("doc_id") === 95L).count() === 1L)
    assert(spark.table("graft_sem_post").filter(col("doc_id") === 95L).count() === 16L)
    assert(spark.table("graft_sem_hash")
      .filter(col("content_md5") === org.apache.commons.codec.digest.DigestUtils.md5Hex(t95))
      .count() === 1L)
    assert(!spark.catalog.tableExists("graft_sem_post__pending"))
  }

  test("runIncremental charlm arm: corpus-model gate drops garbage; the model grows per day") {
    import spark.implicits._
    // a corpus of natural prose seeds the trigram model at bootstrap
    val corpusDocs = (1 to 6).map(i => (i.toLong,
      Seq.fill(10)(s"the data pipeline number $i runs the data").mkString(" ")))
    Pipeline.bootstrapIncremental(
      corpusDocs.toDF("doc_id", "text"),
      "graft_lm_post", "graft_lm_hash", charlmTable = Some("graft_lm_model"))
    assert(spark.table("graft_lm_model")
      .select("append_id").distinct().as[String].collect().toSeq === Seq("bootstrap"))

    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_lm_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // day 1: doc 80 is natural prose — same character distribution as
    // the corpus but scrambled word order, so its word-level shingles
    // share nothing and NO dedup arm fires; doc 81 is garbled (chars
    // the corpus never saw -> every trigram at the unseen-mass floor)
    val natural = Seq.fill(8)("data runs today the pipeline quietly the number data").mkString(" ")
    val garbled = (1 to 14).map(i => s"zq${i}x w${i}v7 k${i}j").mkString(" ")
    val day1 = writeDelta((80L, natural), (81L, garbled))
    val out1 = tempDir("graft_lm_out1")
    val s1 = Pipeline.runIncremental(spark, day1, out1, "graft_lm_post", "graft_lm_hash",
      charlmTable = Some("graft_lm_model"),
      charlmRareFracMax = Some(0.5), charlmRareBelow = 0.1)
    assert(s1("charlm_dropped") === 1L, s"summary: $s1")
    assert(s1("accepted") === 1L)
    assert(spark.read.parquet(s"$out1/accepted")
      .select("doc_id").as[Long].collect().toSeq === Seq(80L))
    // the model grew by exactly the accepted day's counts, under the
    // day's append id — tomorrow's gate sees today's prose
    assert(spark.table("graft_lm_model")
      .select("append_id").distinct().as[String].collect().toSet === Set("bootstrap", out1))

    // crash repair: a manifest naming the charlm table with the day's
    // rows only PARTIALLY landed must append exactly the missing
    // (append_id, tri) rows — no duplicates for the pre-landed ones
    val crashText = Seq.fill(8)("pipeline data the runs number the data today quietly").mkString(" ")
    Seq((95L, crashText)).toDF("doc_id", "text")
      .withColumn("content_md5", md5(col("text")))
      .withColumn("out_dir", lit("/tmp/graft_lm_crash_out"))
      .withColumn("hash_table", lit("graft_lm_hash"))
      .withColumn("chunk_table", lit(null).cast("string"))
      .withColumn("semantic_table", lit(null).cast("string"))
      .withColumn("charlm_table", lit("graft_lm_model"))
      .withColumn("embedding", lit(null).cast("array<float>"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable("graft_lm_post__pending")
    // simulate the partial append: half the day's rows already landed
    val dayCounts = graft.operators.TextOps.charlmCounts(
        Seq((95L, crashText)).toDF("doc_id", "text"))
      .withColumn("append_id", lit("/tmp/graft_lm_crash_out")).localCheckpoint()
    val half = dayCounts.filter(md5(col("tri")).substr(1, 1) < "8").localCheckpoint()
    graft.sources.Sinks.appendBucketed(half, "graft_lm_model", Seq("tri"))
    assert(Pipeline.repairPendingAppends(spark, "graft_lm_post")
      === Some("/tmp/graft_lm_crash_out"))
    val landed = spark.table("graft_lm_model")
      .filter(col("append_id") === "/tmp/graft_lm_crash_out")
      .select("tri", "n").as[(String, Long)].collect()
    assert(landed.length === dayCounts.count(), "every day row exactly once")
    assert(landed.toMap === dayCounts.select("tri", "n")
      .as[(String, Long)].collect().toMap)

    // recap: days collapse into one append id with IDENTICAL per-tri
    // totals — the model a reader sums is unchanged
    val before = spark.table("graft_lm_model")
      .groupBy(col("tri")).agg(org.apache.spark.sql.functions.sum(col("n")).as("n"))
      .as[(String, Long)].collect().toMap
    graft.operators.TextOps.recapCharlmCounts(spark, "graft_lm_model")
    val after = spark.table("graft_lm_model")
    assert(after.select("append_id").distinct().as[String].collect().toSeq === Seq("recap"))
    assert(after.select("tri", "n").as[(String, Long)].collect().toMap === before)
  }

  test("runIncremental auto-recaps the chunk index when an append breaches the df cap") {
    import spark.implicits._
    // a ~30-token shared passage: long distinct prefixes keep every
    // pairwise whole-doc Jaccard far below the MinHash bar AND the
    // shared chunk tokens below the 64-token destructive bar, so the
    // passage-carrying docs keep getting ACCEPTED — exactly how a
    // chunk's doc-frequency creeps up across ingests
    val passage = (1 to 30).map(i => s"boiler$i").mkString(" ")
    def doc(prefix: String) =
      (1 to 200).map(i => s"$prefix$i").mkString(" ") + " " + passage
    Pipeline.bootstrapIncremental(
      Seq((1L, doc("aa")), (2L, doc("bb"))).toDF("doc_id", "text"),
      "graft_recap_post", "graft_recap_hash", chunkTable = Some("graft_recap_chunks"))

    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_recap_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // day 1: a third passage carrier is accepted (under both dedup
    // bars); its chunk append pushes the passage chunks to df=3 > 2 —
    // the breach check must fire and the staged recap must drop them
    val day1 = writeDelta((70L, doc("cc")))
    val out1 = tempDir("graft_recap_out1")
    val s1 = Pipeline.runIncremental(spark, day1, out1,
      "graft_recap_post", "graft_recap_hash",
      chunkTable = Some("graft_recap_chunks"), chunkMaxDocFreq = 2L)
    assert(s1("substring_vs_corpus_dropped") === 0L, "passage must stay below the 64-token bar")
    assert(s1("accepted") === 1L)
    assert(s1("chunk_recap") === 1L)
    val dfs = spark.table("graft_recap_chunks")
      .groupBy("chunk_hash").count()
    assert(dfs.filter(col("count") > 2).count() === 0L, "recap must restore the df cap")
    assert(dfs.count() > 0L, "per-doc prefix chunks must survive the recap")
    // r15 ADVICE: the recap REMOVED keys whose bits stay set in the
    // chunk bloom, so the pipeline rebuilds the filter right after —
    // items must read exactly the recapped table's distinct keys
    // (a mere recount here would UNDER-state occupancy and delay the
    // saturation rebuild past the declared fpp), and every surviving
    // key must still probe true
    val chunkDistinct = spark.table("graft_recap_chunks")
      .select("chunk_hash").distinct().count()
    assert(spark.table("graft_recap_chunks__bloom")
      .agg(org.apache.spark.sql.functions.sum(col("items")))
      .as[Long].head() === chunkDistinct,
      "recap must rebuild the chunk bloom to filter == table")
    val chunkProbe = graft.operators.Dedup.bloomProbeFor(spark, "graft_recap_chunks").get
    assert(spark.table("graft_recap_chunks").select("chunk_hash").distinct()
      .filter(chunkProbe(col("chunk_hash"))).count() === chunkDistinct)

    // day 2: the same passage arrives again — its chunks were recapped
    // away as boilerplate, so they carry no dedup evidence (df restarts
    // at 1) and no new breach fires
    val day2 = writeDelta((71L, doc("dd")))
    val out2 = tempDir("graft_recap_out2")
    val s2 = Pipeline.runIncremental(spark, day2, out2,
      "graft_recap_post", "graft_recap_hash",
      chunkTable = Some("graft_recap_chunks"), chunkMaxDocFreq = 2L)
    assert(s2("substring_vs_corpus_dropped") === 0L)
    assert(s2("accepted") === 1L)
    assert(s2("chunk_recap") === 0L)
  }

  test("runTrainingPrep charlm arm drops the garbled doc the rule gate passes") {
    import spark.implicits._
    val src = tempDir("graft_prep_lm")
    val outOff = tempDir("graft_prep_lm_off")
    val outOn = tempDir("graft_prep_lm_on")
    // natural docs share trigram mass; the garbled doc is long enough
    // to pass the length rule but its trigrams are near-unique — high
    // rare-position fraction under the corpus-trained model
    val natural = (i: Int) =>
      Seq.fill(12)(s"the data pipeline number $i runs the data").mkString(" ")
    val garbled = (1 to 14).map(i => s"zq${i}x w${i}v7 k${i}j").mkString(" ")
    (Seq.tabulate(6)(i => (i.toLong, natural(i), "en")) :+ ((99L, garbled, "en")))
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")

    val off = Pipeline.runTrainingPrep(spark, src, outOff)
    assert(off("charlm_dropped") === 0L)
    // a tiny corpus can leave the test split empty (no parquet footer
    // to infer from) — read both splits with the train side's schema
    val sch = spark.read.parquet(s"$outOff/train").schema
    def ids(out: String): Set[Long] =
      (spark.read.schema(sch).parquet(s"$out/train")
        .select("doc_id").as[Long].collect() ++
        spark.read.schema(sch).parquet(s"$out/test")
          .select("doc_id").as[Long].collect()).toSet
    val offIds = ids(outOff)
    assert(offIds.contains(99L), "without the arm the garbled doc survives")

    // rareBelow raised for the tiny corpus: with 7 docs every bigram
    // context count is small, so the corpus-scale 1e-3 bar never
    // fires — 0.1 separates the garbled doc's near-unique trigrams
    // (P ~ 0.05) from the naturals' repeated mass (P ~ 0.7)
    val on = Pipeline.runTrainingPrep(spark, src, outOn,
      charlmRareFracMax = Some(0.5), charlmRareBelow = 0.1)
    assert(on("charlm_dropped") === 1L, s"summary: $on")
    val onIds = ids(outOn)
    assert(!onIds.contains(99L), "the garbled doc must be dropped")
    assert(onIds === offIds - 99L, "the arm touches ONLY the improbable doc")
  }

  test("runTrainingPrep persists the cross-run postings index a later delta can probe") {
    import spark.implicits._
    val src = tempDir("graft_prep_idx")
    val out = tempDir("graft_prep_idx_out")
    val filler = (1 to 40).map(i => s"tok$i").mkString(" ")
    Seq((1L, filler, "en"), (6L, (1 to 40).map(i => s"other$i").mkString(" "), "id"))
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")
    Pipeline.runTrainingPrep(spark, src, out,
      postingsTable = Some("graft_prep_postings"),
      hashTable = Some("graft_prep_hashes"))
    // split layout (r18): slim posting rows + the forward sig table
    val (idx, idxSigs) =
      graft.operators.Dedup.postingsFrames(spark, "graft_prep_postings")
    assert(idx.columns.toSet === Set("doc_id", "band", "band_hash"))
    assert(idx.select("doc_id").distinct().as[Long].collect().toSet === Set(1L, 6L))
    assert(idxSigs.get.columns.toSet === Set("doc_id", "sig"))
    assert(idxSigs.get.select("doc_id").as[Long].collect().toSet === Set(1L, 6L))
    // the hash set is over PRE-redact cleaned content — the same text
    // the pair graphs read — so exact re-deliveries match day after day
    assert(spark.table("graft_prep_hashes").as[String].collect().toSet
      === Set(filler, (1 to 40).map(i => s"other$i").mkString(" "))
        .map(t => org.apache.commons.codec.digest.DigestUtils.md5Hex(t)))
    // tomorrow's delta: a near-dup of accepted doc 1 — the probe must
    // flag it against the index without touching doc 6's postings
    val delta = Seq((10L, ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" "),
        "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val hits = graft.operators.Dedup
      .incrementalMinhashCandidates(delta, idx, sigs = idxSigs)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(hits === Set((1L, 10L)))
  }

  test("runTrainingPrep drops a train doc that leaks a passage into the holdout") {
    import spark.implicits._
    // find ids the deterministic md5 split sends to OPPOSITE sides, so
    // the planted passage genuinely crosses the train/test boundary
    val assign = graft.operators.TextOps
      .hashSplit((1L to 200L).toDF("doc_id"), col("doc_id"), 410)
      .as[(Long, String)].collect().toMap
    val testId = assign.collectFirst { case (id, "test") => id }.get
    val trainId = assign.collectFirst { case (id, "train") => id }.get
    val src = tempDir("graft_prep_leak")
    val out = tempDir("graft_prep_leak_out")
    val passage = (1 to 48).map(i => s"leak$i").mkString(" ")
    Seq(
      // long distinct prefixes keep whole-doc Jaccard ~0.16 (no ngram
      // pair) and the 48-token passage shares < 64 chunk tokens (below
      // the pipeline's deliberately-high destructive-dedup bar), so
      // BOTH docs reach the split — the residual class the aggressive
      // (8-token) decontamination stage exists for
      (trainId, (1 to 120).map(i => s"tr$i").mkString(" ") + " " + passage, "en"),
      (testId, (1 to 120).map(i => s"te$i").mkString(" ") + " " + passage, "en"),
      // 999 sits outside the 1..200 id scan, so it can never collide
      // with the chosen trainId/testId
      (999L, (1 to 40).map(i => s"clean$i").mkString(" "), "en"))
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")
    val s = Pipeline.runTrainingPrep(spark, src, out)
    assert(s("near_deduped") === 3L, "the passage pair must NOT cluster (low Jaccard)")
    assert(s("decontaminated") === 1L)
    val trainIds = spark.read.parquet(s"$out/train")
      .select("doc_id").as[Long].collect().toSet
    val testIds = spark.read.parquet(s"$out/test")
      .select("doc_id").as[Long].collect().toSet
    assert(!trainIds.contains(trainId), "the leaking train doc must be dropped")
    assert(testIds.contains(testId), "the eval side is never dropped")
  }

  test("bronze dedup keeps every null-text doc (content hash is per-doc for nulls)") {
    import spark.implicits._
    val src = tempDir("graft_pipe_null")
    val out = tempDir("graft_pipe_null_out")
    Seq(
      (1L, Option("same text"), "en", "s", 9L),
      (2L, Option("same text"), "en", "s", 9L), // true content dup -> collapses
      (3L, Option.empty[String], "en", "s", 0L), // null text: must BOTH survive
      (4L, Option.empty[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$src/documents.parquet")
    val summary = Pipeline.runBatch(spark, src, out)
    assert(summary("bronze") === 3L) // docs 1, 3, 4
    val kept = spark.read.parquet(s"$out/bronze").select("doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L))
  }

  test("runIncremental repairs a crash-degraded PQ tier: codebooks without their index") {
    import spark.implicits._
    // bootstrap a semantic corpus with its PQ twin
    Pipeline.bootstrapIncremental(
      Seq((1L, (1 to 40).map(i => s"pqr$i").mkString(" ")),
          (2L, (1 to 40).map(i => s"pqs$i").mkString(" "))).toDF("doc_id", "text"),
      "graft_pqrep_post", "graft_pqrep_hash",
      semanticTable = Some("graft_pqrep_cells"),
      corpusEmbeddings = Some(Seq(
        (1L, Seq(1f, 0f, 0f, 0f)),
        (2L, Seq(0f, 1f, 0f, 0f))).toDF("doc_id", "embedding")))
    assert(spark.catalog.tableExists("graft_pqrep_cells__pq"))
    // simulate the crash window writeSemanticIndexPq documents: the
    // index is dropped FIRST, so a death before the rewrite leaves
    // codebooks with no code table — the probe silently one-tier
    spark.sql("DROP TABLE graft_pqrep_cells__pq")
    assert(spark.catalog.tableExists("graft_pqrep_cells__pq__codebooks"))

    val dir = tempDir("graft_pqrep_delta")
    Seq((50L, (1 to 40).map(i => s"fresh$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = tempDir("graft_pqrep_out")
    val s1 = Pipeline.runIncremental(spark, dir, out, "graft_pqrep_post", "graft_pqrep_hash",
      semanticTable = Some("graft_pqrep_cells"),
      deltaEmbeddings = Some(Seq((50L, Seq(0f, 0f, 1f, 0f))).toDF("doc_id", "embedding")))
    // the run detects the degraded tier, rebuilds it, and says so
    assert(s1("semantic_pq_repair") === 1L, s"repair did not fire: $s1")
    assert(s1("accepted") === 1L)
    assert(spark.catalog.tableExists("graft_pqrep_cells__pq"))
    // the rebuilt index covers the WHOLE corpus including today
    assert(spark.table("graft_pqrep_cells__pq").select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L, 50L))
    assert(spark.table("graft_pqrep_cells__pq").columns.sorted.toSeq
      === Seq("cell", "codes", "doc_id", "nrm", "qerr", "qerrs"))

    // the repaired tier is LIVE again: a paraphrase of the corpus doc
    // drops via the two-tier probe on the very next day, and a healthy
    // run reports no repair
    val dir2 = tempDir("graft_pqrep_delta2")
    Seq((60L, (1 to 40).map(i => s"para$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/documents.parquet")
    val out2 = tempDir("graft_pqrep_out2")
    val s2 = Pipeline.runIncremental(spark, dir2, out2, "graft_pqrep_post", "graft_pqrep_hash",
      semanticTable = Some("graft_pqrep_cells"),
      deltaEmbeddings = Some(Seq((60L, Seq(0.97f, 0.24f, 0f, 0f))).toDF("doc_id", "embedding")))
    assert(s2("semantic_pq_repair") === 0L)
    assert(s2("semantic_vs_corpus_dropped") === 1L)
    assert(s2("accepted") === 0L)
  }

  test("sharded bloom prefilter: end-to-end exact arm — same rows, one shard probe per row, merge keeps the shape") {
    import spark.implicits._
    val corpusText = (1 to 40).map(i => s"sb$i").mkString(" ")
    val otherText = (1 to 40).map(i => s"sc$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusText), (2L, otherText)).toDF("doc_id", "text"),
      "graft_shardarm_post", "graft_shardarm_hash", bloomShards = 8)
    val bloomRows = spark.table("graft_shardarm_hash__bloom")
    assert(bloomRows.columns.contains("shard"), "bootstrap did not write the sharded form")
    assert(bloomRows.select("nshards").distinct().as[Int].collect().toSeq === Seq(8))
    val freshText = (1 to 40).map(i => s"sd$i").mkString(" ")
    val delta = Seq((10L, corpusText), (11L, freshText)).toDF("doc_id", "content")
    val framed = Pipeline.exactNewVsCorpus(spark, delta, "graft_shardarm_hash")
    // PLAN WALK: the same union-bypass as the single-filter arm, with
    // the SHARDED probe — one graft_sharded_might_contain per row
    // (probed once into the checkpointed boolean), exactly one
    // LeftAnti on the maybe branch, and NO single-filter probe
    val plan = framed.queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).length === 1, s"join shape wrong:\n$plan")
    assert(plan.contains("Union"), s"no union bypass:\n$plan")
    assert(!plan.contains("graft_might_contain("), s"single-filter probe leaked in:\n$plan")
    val checkpointed = delta.withColumn("__content_md5",
        org.apache.spark.sql.functions.md5(col("content")))
      .withColumn("__maybe", graft.functions.ShardedBloomMightContain.probe(
        spark.sparkContext.broadcast(
          graft.operators.Dedup.readHashBloomSharded(spark, "graft_shardarm_hash").get),
        col("__content_md5")))
    // analyzed, not executed: the local-Seq delta collapses to a
    // LocalTableScan under ConvertToLocalRelation, which EVALUATES the
    // probe away; the probed-once property is structural either way
    assert("graft_sharded_might_contain".r
      .findAllIn(checkpointed.queryExecution.analyzed.toString).length === 1,
      "the probe must appear exactly once in the probing plan")
    // rows: identical to the plain anti-join
    assert(framed.select("doc_id").as[Long].collect().toSet === Set(11L))
    // a full day through runIncremental: the merge dispatches to the
    // sharded path and KEEPS the sharded shape; a re-delivery of the
    // accepted day drops tomorrow
    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_shardarm_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val s1 = Pipeline.runIncremental(spark, writeDelta((20L, freshText)),
      tempDir("graft_shardarm_out1"),
      "graft_shardarm_post", "graft_shardarm_hash")
    assert(s1("accepted") === 1L)
    val merged = spark.table("graft_shardarm_hash__bloom")
    assert(merged.columns.contains("shard"), "daily merge demoted the sharded table")
    assert(merged.agg(org.apache.spark.sql.functions.sum(col("items")))
      .as[Long].head() === 3L)
    val s2 = Pipeline.runIncremental(spark, writeDelta((30L, freshText)),
      tempDir("graft_shardarm_out2"),
      "graft_shardarm_post", "graft_shardarm_hash")
    assert(s2("exact_new") === 0L, s"sharded bloom lost day 1's hash: $s2")
    assert(s2("accepted") === 0L)
  }

  test("band bloom prefilter: minhash arm — same pairs, probe in plan, delta-delta untouched, merge keeps coverage") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val corpusText = (1 to 40).map(i => s"bb$i").mkString(" ")
    val otherText = (1 to 40).map(i => s"bc$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusText), (2L, otherText)).toDF("doc_id", "text"),
      "graft_bandarm_post", "graft_bandarm_hash")
    // bootstrap maintains a band-key bloom NEXT TO the postings index,
    // sized by the table's actual distinct band keys
    assert(spark.catalog.tableExists("graft_bandarm_post__bloom"))
    val expectedKeys = spark.table("graft_bandarm_post")
      .select(expr(graft.operators.Dedup.bandKeySql)).distinct().count()
    assert(spark.table("graft_bandarm_post__bloom")
      .select("items").as[Long].head() === expectedKeys)
    // the probe arm: near-dup of corpus 1, one novel doc, and a
    // novel delta-delta near-dup pair that shares NO bands with the
    // corpus — the prefilter must drop only corpus-probe rows, never
    // self-join rows
    val fresh = (1 to 40).map(i => s"bd$i").mkString(" ")
    val delta = Seq(
      (10L, ((1 to 39).map(i => s"bb$i") :+ "changed").mkString(" ")),
      (11L, fresh),
      (12L, ((1 to 39).map(i => s"bd$i") :+ "altered").mkString(" ")))
      .toDF("doc_id", "text")
    val probe = graft.operators.Dedup.bloomProbeFor(spark, "graft_bandarm_post")
    assert(probe.nonEmpty, "no band bloom to probe")
    def pairs(p: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]) =
      graft.operators.Dedup.incrementalMinhashCandidates(
        delta, spark.table("graft_bandarm_post"), bandPrefilter = p,
        sigs = graft.operators.Dedup.postingsFrames(spark, "graft_bandarm_post")._2)
        .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    val filtered = pairs(probe)
    val plain = pairs(None)
    // identical candidate pairs: the corpus near-dup (1,10) AND the
    // delta-delta near-dup (11,12) — the latter proves the self-join
    // side is unfiltered
    assert(filtered === plain, s"prefilter changed the pair set: $filtered vs $plain")
    assert(filtered.contains((1L, 10L)) && filtered.contains((11L, 12L)), s"$filtered")
    // the probe rides the corpus-arm plan exactly once (one filter on
    // the delta banding rows feeding the postings join); analyzed
    // plan, same LocalRelation caveat as the sharded walk
    assert("graft_might_contain".r.findAllIn(
      graft.operators.Dedup.incrementalMinhashCandidates(
        delta, spark.table("graft_bandarm_post"), bandPrefilter = probe,
        sigs = graft.operators.Dedup.postingsFrames(spark, "graft_bandarm_post")._2)
        .queryExecution.analyzed.toString).length === 1)
    // a full day: the accepted doc's bands merge into the postings
    // bloom, so a near-dup of the ACCEPTED doc still drops tomorrow
    // (false negatives here would silently skip the corpus probe)
    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_bandarm_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val s1 = Pipeline.runIncremental(spark, writeDelta((20L, fresh)),
      tempDir("graft_bandarm_out1"),
      "graft_bandarm_post", "graft_bandarm_hash")
    assert(s1("accepted") === 1L)
    val grown = spark.table("graft_bandarm_post")
      .select(expr(graft.operators.Dedup.bandKeySql)).distinct().count()
    assert(grown > expectedKeys)
    assert(spark.table("graft_bandarm_post__bloom")
      .select("items").as[Long].head() >= grown,
      "daily merge under-counts the band bloom")
    val s2 = Pipeline.runIncremental(spark,
      writeDelta((30L, ((1 to 39).map(i => s"bd$i") :+ "tweaked").mkString(" "))),
      tempDir("graft_bandarm_out2"),
      "graft_bandarm_post", "graft_bandarm_hash")
    assert(s2("neardup_vs_corpus_dropped") === 1L, s"band bloom lost day 1's bands: $s2")
    assert(s2("accepted") === 0L)
  }

  test("pre-qerrs PQ index keeps taking appends (scalar bound) until its next retrain") {
    import spark.implicits._
    // a __pq table written BEFORE the per-subspace qerrs column
    // existed: the daily append must narrow to the persisted columns
    // (appending the wider frame verbatim fails the first
    // post-upgrade day, and the manifest repair replays the failure)
    val corpusText = (1 to 40).map(i => s"pqup$i").mkString(" ")
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusText)).toDF("doc_id", "text"),
      "graft_pqup_post", "graft_pqup_hash",
      semanticTable = Some("graft_pqup_cells"),
      corpusEmbeddings = Some(Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("doc_id", "embedding")))
    // simulate the pre-qerrs deployment: same rows, 24 B/doc schema
    graft.sources.Sinks.rewriteBucketed(
      spark.table("graft_pqup_cells__pq").drop("qerrs"),
      "graft_pqup_cells__pq", Seq("cell"))
    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_pqup_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // a NO-BREACH accepted day (retrain bar lifted so the APPEND path
    // runs — a retrain would sidestep it by rewriting the new schema):
    // doc 90 is orthogonal to the corpus (accepted), projected to the
    // old schema on append
    val s1 = Pipeline.runIncremental(spark,
      writeDelta((90L, (1 to 40).map(i => s"pqnew$i").mkString(" "))),
      tempDir("graft_pqup_out1"),
      "graft_pqup_post", "graft_pqup_hash",
      semanticTable = Some("graft_pqup_cells"),
      deltaEmbeddings = Some(Seq((90L, Seq(0f, 1f, 0f, 0f))).toDF("doc_id", "embedding")),
      pqRetrainQerr = 10.0)
    assert(s1("accepted") === 1L && s1("semantic_pq_retrain") === 0L, s"$s1")
    assert(!spark.table("graft_pqup_cells__pq").columns.contains("qerrs"),
      "append must not widen a pre-qerrs index")
    assert(spark.table("graft_pqup_cells__pq").select("doc_id")
      .as[Long].collect().toSet === Set(1L, 90L))
    // the grown old-schema index still answers: a paraphrase of the
    // APPENDED doc drops through the scalar-bound two-tier probe
    val s2 = Pipeline.runIncremental(spark,
      writeDelta((91L, (1 to 40).map(i => s"pqpara$i").mkString(" "))),
      tempDir("graft_pqup_out2"),
      "graft_pqup_post", "graft_pqup_hash",
      semanticTable = Some("graft_pqup_cells"),
      deltaEmbeddings = Some(Seq((91L, Seq(0.05f, 0.95f, 0f, 0f))).toDF("doc_id", "embedding")),
      pqRetrainQerr = 10.0)
    assert(s2("semantic_vs_corpus_dropped") === 1L && s2("accepted") === 0L, s"$s2")
  }

  test("sharded chunk bloom: bootstrap(bloomShards) shards all three key spaces; the passage probe rides the sharded form") {
    import spark.implicits._
    val passage = (1 to 160).map(i => s"shpass$i").mkString(" ")
    val corpusDoc = (1 to 200).map(i => s"shcorp$i").mkString(" ") + " " + passage
    Pipeline.bootstrapIncremental(
      Seq((1L, corpusDoc)).toDF("doc_id", "text"),
      "graft_shchk_post", "graft_shchk_hash",
      chunkTable = Some("graft_shchk_chunks"), bloomShards = 4)
    // all three blooms took the sharded shape
    Seq("graft_shchk_post", "graft_shchk_hash", "graft_shchk_chunks").foreach { t =>
      assert(spark.table(t + "__bloom").columns.contains("shard"),
        s"$t bloom is not sharded")
    }
    // the chunk probe dispatches to the SHARDED probe for a passage
    // copy (padding pushes whole-doc Jaccard under the banding bar)
    val copy = (1 to 400).map(i => s"shpad$i").mkString(" ") + " " + passage
    val probed = graft.operators.Dedup.incrementalSubstringMatches(
      Seq((70L, copy)).toDF("doc_id", "text"),
      spark.table("graft_shchk_chunks"), minSharedTokens = 64L,
      bloomProbe = graft.operators.Dedup.bloomProbeFor(spark, "graft_shchk_chunks"))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sharded_might_contain"), s"no sharded prefilter:\n$plan")
    assert(!plan.contains("graft_might_contain("), s"single-form probe leaked in:\n$plan")
    // the hit survives the prefilter (shard-wise no-false-negatives)
    assert(probed.select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
      === Set((70L, 1L)))
  }

  test("runIncremental compacts fragmented indexes; a compaction crash mid-swap recovers next run") {
    import spark.implicits._
    val post = "graft_cmpidx_post"; val hash = "graft_cmpidx_hash"
    Pipeline.bootstrapIncremental(
      Seq((1L, (1 to 40).map(i => s"cf$i").mkString(" "))).toDF("doc_id", "text"),
      post, hash)
    def writeDelta(rows: (Long, String)*): String = {
      val dir = tempDir("graft_cmpidx_delta")
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // threshold 0 forces the trigger at toy scale: all three
    // maintained indexes (slim postings, forward sigs, hash set)
    // compact at end of run, AFTER the day's appends
    val fresh = (1 to 40).map(i => s"cg$i").mkString(" ")
    val s1 = Pipeline.runIncremental(spark, writeDelta((10L, fresh)),
      tempDir("graft_cmpidx_out1"), post, hash,
      compactFilesPerBucket = 0)
    assert(s1("accepted") === 1L)
    assert(s1("compacted_indexes") === 3L,
      s"expected postings+sigs+hash compaction: $s1")
    // compacted = at most one file per (64-)bucket, and the swap left
    // no staging behind
    assert(graft.sources.Sinks.tableDataFileCount(spark, post) <= 64)
    assert(graft.sources.Sinks.tableDataFileCount(spark, hash) <= 64)
    assert(!spark.catalog.tableExists(post + "__staging"))
    // the compacted indexes still answer: an exact re-delivery of the
    // accepted day-1 doc drops against the rewritten hash set
    val s2 = Pipeline.runIncremental(spark, writeDelta((20L, fresh)),
      tempDir("graft_cmpidx_out2"), post, hash,
      compactFilesPerBucket = 0)
    assert(s2("exact_new") === 0L && s2("accepted") === 0L, s"$s2")
    // crash between the compaction swap's DROP and RENAME: the hash
    // table is gone, only __staging holds the copy — the entry sweep
    // must promote it before anything probes
    spark.sql(s"ALTER TABLE $hash RENAME TO ${hash}__staging")
    val s3 = Pipeline.runIncremental(spark, writeDelta((30L, fresh)),
      tempDir("graft_cmpidx_out3"), post, hash)
    assert(s3("exact_new") === 0L, s"recovered hash table lost members: $s3")
    assert(s3("accepted") === 0L)
    // PER-TABLE cadence (r15 VERDICT #4): every index fragments at
    // the same one-file-per-bucket-per-day rate, so one global
    // ceiling clusters every rewrite onto the same day — a per-table
    // ceiling puts each index's rewrite on its own day. Postings at
    // ceiling 0 with the global knob huge: exactly ONE index
    // compacts this run
    val s4 = Pipeline.runIncremental(spark,
      writeDelta((40L, (1 to 40).map(i => s"ch$i").mkString(" "))),
      tempDir("graft_cmpidx_out4"), post, hash,
      compactFilesPerBucket = 10000,
      compactFilesPerBucketByTable = Map(post -> 0))
    assert(s4("accepted") === 1L)
    assert(s4("compacted_indexes") === 1L,
      s"per-table cadence must compact ONLY the postings index: $s4")
  }

  test("a non-default bucket fan-out survives the daily cycle: appends and recap take the layout from the catalog") {
    import spark.implicits._
    // r17 self-review: runIncremental's index appends hard-coded 64
    // buckets, so a corpus bootstrapped at any other fan-out wedged
    // its FIRST daily ingest with a bucket-mismatch AnalysisException
    // (and the chunk recap would have silently rewritten the layout).
    // appendBucketed and recapChunkPostings now read the catalog.
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val post = "graft_fan_post"; val hash = "graft_fan_hash"; val chunk = "graft_fan_chunk"
    Pipeline.bootstrapIncremental(
      Seq((1L, toks("fa", 40)), (2L, toks("fb", 40))).toDF("doc_id", "text"),
      post, hash, chunkTable = Some(chunk), buckets = 16)
    val dir = tempDir("graft_fan_delta")
    Seq((10L, toks("fc", 60)), (11L, toks("fa", 40)))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = tempDir("graft_fan_out")
    val s1 = Pipeline.runIncremental(spark, dir, out, post, hash,
      chunkTable = Some(chunk))
    assert(s1("accepted") === 1L && s1("exact_new") === 1L)
    // every index kept its DECLARED 16-bucket layout through the append
    def fanOf(t: String) = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec.get.numBuckets
    assert(Seq(post, hash, chunk).map(fanOf) === Seq(16, 16, 16))
    // and the recap rewrite preserves it too
    graft.operators.Dedup.recapChunkPostings(spark, chunk, maxDocFreq = 100L)
    assert(fanOf(chunk) === 16)
    Seq(post, hash, chunk).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}__bloom")
    }
  }
}
