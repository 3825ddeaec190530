package graft

import graft.operators.{Analytics, Cleaning, Dedup, Enrichment, Ner, TextOps}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Batch orchestration of the full medallion pipeline — what the
  * reference runs as an Airflow DAG (`bronze_to_silver` →
  * `silver_to_gold` → NER → view refresh,
  * `/root/reference/airflow_home/dags/`), expressed as one call over
  * composed DataFrames.
  *
  * Each stage is the SAME operator the query registry exposes — the
  * pipeline adds only ordering and sinks. Spark sees the whole lineage
  * and still prunes/pushes per stage because every write re-derives
  * from the narrowest projection it needs. Layout choices are the
  * 100 TB ones: silver/gold land partitioned by `lang` (low
  * cardinality, the dominant read filter) with bounded file sizes;
  * entities and the small rollup views land unpartitioned.
  */
object Pipeline {

  /** Stage outputs: layer name → row count written. */
  type Summary = Map[String, Long]

  def runBatch(spark: SparkSession, sourceDir: String, outDir: String): Summary = {
    val raw = Tables.documents(spark, sourceDir)

    // Each write returns the rows it committed, counted by an
    // observed aggregate on the write's own tasks: no re-read of the
    // layer and no extra job.
    def write(df: DataFrame, layer: String, partitionCols: Seq[String]): Long = {
      val rows = Observation()
      Sinks.writeParquet(df.observe(rows, count(lit(1)).as("rows")),
        s"$outDir/$layer", partitionCols)
      rows.get("rows").asInstanceOf[Long]
    }
    // A layer read back as written, under the schema its frame already
    // has: no schema-inference job, and an EMPTY layer (no part files
    // to infer from — an empty corpus, or every doc below the gold
    // gate) reads back as empty instead of throwing.
    def readBack(df: DataFrame, layer: String): DataFrame =
      spark.read.schema(df.schema).parquet(s"$outDir/$layer")

    // bronze: append-only raw + exact keep-first dedup on content hash.
    // NULL-text docs get a per-doc surrogate key: md5(NULL) is NULL and
    // Window.partitionBy groups all NULL keys together, which would
    // silently collapse every null-text doc into one row (the
    // reference's upsert conflicts on per-doc link, never on content —
    // it keeps them all).
    val bronze = Cleaning.dedupKeepFirst(raw,
      coalesce(md5(col("text")), concat(lit("__null__"), col("doc_id").cast("string"))),
      col("doc_id"))
    val bronzeN = write(bronze, "bronze", Seq("lang"))

    // silver (cleaned projection) and entities (NER) both read bronze
    // as written and nothing else, so they write concurrently
    val bronzeRead = readBack(bronze, "bronze")
    val silver = Cleaning.silver(bronzeRead)
    val Seq(silverN, entitiesN) = runConcurrently(spark, Seq(
      () => write(silver, "silver", Seq("lang")),
      () => write(Ner.extract(spark, bronzeRead), "entities", Seq.empty)))

    // gold: enrichment + quality gate over silver-as-written. The
    // rollup views (the reference's refresh_gold_views step) derive
    // from the same gold frame, not from gold on disk, so all three
    // write concurrently.
    val gold = Enrichment.gold(readBack(silver, "silver"))
    val Seq(goldN, gaN, gtN) = runConcurrently(spark, Seq(
      () => write(gold, "gold", Seq("lang")),
      () => write(Analytics.goldAnalytics(gold), "views/gold_analytics", Seq.empty),
      () => write(Analytics.goldTrends(gold), "views/gold_trends", Seq.empty)))

    Map("bronze" -> bronzeN, "silver" -> silverN, "gold" -> goldN,
      "entities" -> entitiesN, "gold_analytics" -> gaN, "gold_trends" -> gtN)
  }

  /** Drop the ENTIRE incremental-state table set for a bootstrap
    * harness — catalog entries AND their (possibly orphaned)
    * warehouse locations, covering every name the state can own:
    * the three bucketed indexes with their blooms, staging and
    * pending sidecars, the doc-id key space's bloom (its VIEW is
    * dropped first — `DROP TABLE` cannot), the semantic index with
    * centroids, PQ twin, codebooks and both staging names, and the
    * charlm count table. One definition instead of the four
    * hand-copied lists the bench, the audit gate row and the two
    * ScaleCheck harnesses had each let drift (r18 review). Proactive
    * location deletion is safe ONLY for fixed, harness-owned table
    * names (a crashed prior harness's leftovers, nothing else);
    * production writers use the reactive
    * [[sources.Sinks]] stale-location recovery instead. */
  private[graft] def dropIncrementalState(spark: SparkSession,
      postingsTable: String, hashTable: String,
      chunkTable: Option[String] = None,
      semanticTable: Option[String] = None,
      charlmTable: Option[String] = None): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS ${postingsTable}__ids")
    val tables =
      (Seq(postingsTable, hashTable) ++ chunkTable).flatMap(t =>
        Seq(t, t + "__bloom", t + "__staging", t + "__pending")) ++
      Seq(postingsTable + "__ids__bloom",
        postingsTable + "__sigs", postingsTable + "__sigs__staging") ++
      semanticTable.toSeq.flatMap(t => Seq(t, t + "__centroids",
        t + "__pq", t + "__pq__codebooks", t + "__pq__centroids",
        t + "__staging", t + "__pq__staging")) ++
      charlmTable.toSeq.flatMap(t => Seq(t, t + "__staging"))
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          spark.sessionState.sqlParser.parseTableIdentifier(t)))
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
  }

  /** Bootstrap the cross-run dedup state from an ACCEPTED corpus —
    * the two bucketed probe tables [[runIncremental]] consumes: the
    * banded MinHash postings index (near-dup, keyed on the LSH join
    * key) and the exact content-hash set (exact-dup, keyed on the
    * hash). Call once from the initial full prep; every incremental
    * run appends to both. `corpus` carries (doc_id, text). */
  def bootstrapIncremental(corpus: org.apache.spark.sql.DataFrame,
                           postingsTable: String, hashTable: String,
                           chunkTable: Option[String] = None,
                           semanticTable: Option[String] = None,
                           corpusEmbeddings: Option[org.apache.spark.sql.DataFrame] = None,
                           charlmTable: Option[String] = None,
                           bloomShards: Int = 1,
                           buckets: Int = 64): Unit = {
    Dedup.writeBandPostings(corpus, postingsTable, buckets = buckets)
    Sinks.writeBucketed(
      corpus.select(md5(col("text")).as("content_md5")).distinct(),
      hashTable, Seq("content_md5"), buckets)
    // the hash set's bloom summary, maintained across ingests: the
    // daily exact arm drops definite non-members map-side before the
    // index anti-join ([[runIncremental]]'s union-bypass), licensed
    // by the no-false-negatives contract operators.Corpus
    // .bloomFilterAudit pins. `bloomShards > 1` chooses the
    // prefix-sharded form (same probe semantics, broadcast-delivered
    // instead of a plan literal) — the shape for corpora past the
    // single filter's ~0.9 GB serialized ceiling; the daily merge and
    // the probe dispatch on the persisted table's shape automatically.
    if (bloomShards > 1)
      Dedup.writeHashBloomSharded(corpus.sparkSession, hashTable, bloomShards)
    else
      Dedup.writeHashBloom(corpus.sparkSession, hashTable)
    // band-key bloom over the postings index — the LAST incremental
    // arm to gain a prefilter: the minhash probe's delta side carries
    // the full signature array on every banding row (by far the
    // widest rows any daily arm shuffles), and in the steady state
    // most of those bands are novel. Same key-uniformity note as the
    // content bloom, but the key space is ~bands× the doc count —
    // which is exactly why the sharded form matters here first.
    if (bloomShards > 1)
      Dedup.writeHashBloomSharded(corpus.sparkSession, postingsTable, bloomShards,
        hashCol = Dedup.bandKeySql)
    else
      Dedup.writeHashBloom(corpus.sparkSession, postingsTable,
        hashCol = Dedup.bandKeySql)
    // doc-id key space over the postings index (r17 VERDICT #2): the
    // id-collision gate's map-side prefilter — without it every
    // decision (daily: fine; per stream trigger: corpus-bound) scans
    // the postings doc_id column. A view + bloom; the daily merge
    // maintains it alongside the other two key spaces.
    Dedup.writeIdsBloom(corpus.sparkSession, postingsTable, bloomShards)
    chunkTable.foreach { t =>
      Dedup.writeChunkPostings(corpus, t, buckets = buckets)
      // same summary for the chunk index: the substring probe drops
      // definitely-novel delta chunks map-side (inner join — a plain
      // prefilter, no union-bypass needed). Chunk keys are several
      // per doc, so past the literal ceiling the sharded form applies
      // here exactly like the band keys'.
      if (bloomShards > 1)
        Dedup.writeHashBloomSharded(corpus.sparkSession, t, bloomShards,
          hashCol = "chunk_hash")
      else
        Dedup.writeHashBloom(corpus.sparkSession, t, hashCol = "chunk_hash")
    }
    // semantic arm: trained-quantizer cell index over the corpus
    // vectors ((doc_id, embedding) — the embedder's output for the
    // accepted docs); training runs ONCE here, daily runs only probe.
    // Next to the full-vector index, the PQ-compressed twin
    // (<t>__pq + <t>__pq__codebooks — 16 B/doc): the probe's first
    // pass at corpus scales the vector index has outgrown in memory.
    // Codebooks train HERE, once; the coarse quantizer is SHARED
    // (same persisted centroids) so both indexes agree on cell
    // membership — the confirm pass prunes the vector index by the
    // PQ probe's cells and two quantizers would read wrong cells.
    semanticTable.zip(corpusEmbeddings).foreach { case (t, vecs) =>
      // cell fan-out scales with the corpus (k ≈ √N, clamped): at a
      // FIXED k, members-per-cell — and with it every delta vector's
      // probe work — grows linearly with the corpus, which the 100×
      // ScaleCheck surfaced as the accept-preview trigger's dominant
      // residual growth term once the postings scan went slim (r18).
      // √N keeps per-cell occupancy ≈ √N on both sides of the probe
      // (cells scanned × members per cell), the standard IVF sizing;
      // the 4096 ceiling keeps the probe's cell-metadata collect a
      // driver-safe constant. Floor 64 = the historical default, so
      // gate-SF bootstraps (and every spec fixture) are unchanged.
      val k = math.max(64, math.min(4096,
        math.ceil(math.sqrt(vecs.count().toDouble)).toInt))
      graft.operators.Ann.writeSemanticIndex(vecs, t, numCentroids = k)
      graft.operators.Pq.writeSemanticIndexPq(vecs, t + "__pq",
        sharedCentroids = Some(vecs.sparkSession.table(t + "__centroids")))
    }
    // charlm arm: the corpus's aggregated trigram counts, tagged with
    // the bootstrap append id. One row set per ingest (bounded by
    // |alphabet|^3 whatever the day's size), summed back into the
    // quality model at probe time — the model STAYS CURRENT as the
    // corpus grows, without ever re-reading corpus documents.
    charlmTable.foreach { t =>
      Sinks.writeBucketed(
        TextOps.charlmCounts(corpus).withColumn("append_id", lit("bootstrap")),
        t, Seq("tri"))
    }
  }

  /** Complete a crashed [[runIncremental]]'s index appends from its
    * pending manifest (`<postingsTable>__pending` — written after the
    * day's accepted output, dropped only when every append landed).
    * The repair is IDEMPOTENT per index: only entries the crash left
    * missing are appended (postings/chunks by doc_id semi-join against
    * the broadcast manifest ids, hashes by their bucketed key), so it
    * is safe whether the crash hit before, between or after any of the
    * appends, and safe to crash during the repair itself. Returns the
    * crashed run's outDir when a manifest was found, so the caller can
    * distinguish "finish my own crashed day" from "repair a previous
    * day, then proceed". Without this, a crash between appends poisons
    * the NEXT run's own dedup decisions: the half-indexed delta ids
    * read as corpus members, every doc of a re-run drops as an id
    * collision, and the day's accepted output gets overwritten empty
    * (r11 ADVICE, medium). */
  private[graft] def repairPendingAppends(spark: SparkSession,
                                          postingsTable: String): Option[String] = {
    val pending = postingsTable + "__pending"
    if (!spark.catalog.tableExists(pending)) None
    else {
      val p = spark.table(pending).localCheckpoint()
      val ids = p.select(col("doc_id"))
      val text = p.select(col("doc_id"), col("text"))
      // Bloom re-merges run UNCONDITIONAL + idempotent (re-merging
      // keys the bloom already holds sets the same bits) and BEFORE
      // their table appends — the same bloom ⊇ table invariant as
      // the live path (r15 ADVICE): a streaming guard reading
      // mid-repair must never see a table key the bloom lacks. Each
      // merge recomputes the WHOLE manifest's keys (delta-sized), so
      // after repair the prefilter provably covers every indexed key
      // wherever the crash hit.
      // Band arm: the day frame carries RAW (band, band_hash) and
      // hashCol stays the key EXPRESSION — mergeHashBloom's rebuild
      // paths (saturation, crash-emptied table) apply the same
      // hashCol to the postings TABLE, which has no materialized
      // band_key column; a pre-computed-column day frame would wedge
      // every rebuild.
      Dedup.mergeHashBloom(spark, postingsTable,
        Dedup.bandPostings(text)
          .select(col("band"), col("band_hash")).distinct(),
        hashCol = Dedup.bandKeySql)
      // doc-id key space: same unconditional idempotent re-merge —
      // bloom ⊇ postings ids must hold mid-repair exactly as live
      // (no-op on a pre-r18 bootstrap without the __ids__bloom).
      // BANDED ids only, the view's actual key population — see the
      // live merge's note on sub-3-token accepted docs
      Dedup.mergeHashBloom(spark, Dedup.idsSpaceOf(postingsTable),
        Dedup.bandPostings(text).select(col("doc_id")).distinct(),
        hashCol = Dedup.idKeySql)
      val postedIds = spark.table(postingsTable).select(col("doc_id")).distinct()
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
      val missingBands = Dedup.bandPostings(
        text.join(broadcast(postedIds), Seq("doc_id"), "left_anti"))
      if (spark.catalog.tableExists(postingsTable + "__sigs")) {
        // the forward sig table repairs against ITS OWN id set — the
        // crash may have landed the posting rows and not the sigs (or
        // the reverse); same per-index anti-join idempotence as the
        // semantic/PQ twins below. SIGS FIRST, same order as the live
        // append path (r18 ADVICE): a reader probing mid-repair must
        // never see a posting row whose sig the inner fetch join
        // would silently drop.
        val siggedIds = spark.table(postingsTable + "__sigs")
          .select(col("doc_id")).distinct()
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
        Sinks.appendBucketed(
          Dedup.minhashSignatures(
            text.join(broadcast(siggedIds), Seq("doc_id"), "left_anti")),
          postingsTable + "__sigs", Seq("doc_id"))
        Sinks.appendBucketed(
          missingBands.select(col("band"), col("band_hash"), col("doc_id")),
          postingsTable, Seq("band", "band_hash"))
      } else
        Sinks.appendBucketed(missingBands, postingsTable, Seq("band", "band_hash"))
      val hashTable = p.select(col("hash_table")).first().getString(0)
      Dedup.mergeHashBloom(spark, hashTable, p.select(col("content_md5")).distinct())
      Sinks.appendBucketed(
        p.select(col("content_md5")).distinct()
          .join(spark.table(hashTable), Seq("content_md5"), "left_anti"),
        hashTable, Seq("content_md5"))
      Option(p.select(col("chunk_table")).first().getString(0)).foreach { t =>
        Dedup.mergeHashBloom(spark, t,
          Dedup.chunkPostings(text).select(col("chunk_hash")).distinct(),
          hashCol = "chunk_hash")
        val chunkedIds = spark.table(t).select(col("doc_id")).distinct()
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
        Sinks.appendBucketed(
          Dedup.chunkPostings(text.join(broadcast(chunkedIds), Seq("doc_id"), "left_anti")),
          t, Seq("chunk_hash"))
      }
      // semantic arm: the manifest carries each accepted doc's vector
      // (null when the doc had none), so the cell-index append replays
      // without the embedder — same per-index anti-join idempotence.
      // The PQ twin repairs by the same rule against ITS OWN id set
      // (the crash may have landed one index and not the other).
      Option(p.select(col("semantic_table")).first().getString(0)).foreach { t =>
        val manifestVecs = p.filter(col("embedding").isNotNull)
          .select(col("doc_id"), col("embedding"))
        val semIds = spark.table(t).select(col("doc_id")).distinct()
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
        Sinks.appendBucketed(
          graft.operators.Ann.semanticIndexRows(
            manifestVecs.join(broadcast(semIds), Seq("doc_id"), "left_anti"),
            spark.table(t + "__centroids")),
          t, Seq("cell"))
        if (spark.catalog.tableExists(t + "__pq")) {
          val pqIds = spark.table(t + "__pq").select(col("doc_id")).distinct()
            .join(broadcast(ids), Seq("doc_id"), "left_semi")
          Sinks.appendBucketed(
            projectToTable(spark, graft.operators.Pq.semanticIndexRowsPq(
              manifestVecs.join(broadcast(pqIds), Seq("doc_id"), "left_anti"),
              spark.table(t + "__centroids"), spark.table(t + "__pq__codebooks")),
              t + "__pq"),
            t + "__pq", Seq("cell"))
        }
      }
      val outDir = p.select(col("out_dir")).first().getString(0)
      // charlm arm: recompute the crashed day's aggregated counts from
      // the manifest text and append exactly the (append_id, tri) rows
      // the crash left missing — row-level idempotent like the others.
      // (Column guard: a manifest written by a pre-charlm build has no
      // charlm_table column.)
      if (p.columns.contains("charlm_table"))
        Option(p.select(col("charlm_table")).first().getString(0)).foreach { t =>
          val day = TextOps.charlmCounts(text).withColumn("append_id", lit(outDir))
          Sinks.appendBucketed(
            day.join(spark.table(t).filter(col("append_id") === outDir)
              .select(col("tri")), Seq("tri"), "left_anti"),
            t, Seq("tri"))
        }
      spark.sql(s"DROP TABLE $pending")
      Some(outDir)
    }
  }


  /** Everything [[runIncremental]] DECIDES about a delta, as data —
    * one frame per gate stage (each checkpointed where the batch run
    * checkpoints) plus the surviving rows. Extracted so the decision
    * chain has exactly ONE definition with two faces: the daily
    * ingest (which goes on to write the output and grow the indexes)
    * and the read-only streaming accept-preview
    * ([[sources.Sinks.streamingAcceptPreviewSink]]) — the stream and
    * the batch run can never disagree on who would be accepted. */
  private[graft] final case class DeltaDecision(
      input: org.apache.spark.sql.DataFrame,
      quality: org.apache.spark.sql.DataFrame,
      charlmDropped: Option[org.apache.spark.sql.DataFrame],
      corpusIds: org.apache.spark.sql.DataFrame,
      idSafe: org.apache.spark.sql.DataFrame,
      exactWithin: org.apache.spark.sql.DataFrame,
      exactNew: org.apache.spark.sql.DataFrame,
      corpusHits: org.apache.spark.sql.DataFrame,
      substrHits: Option[org.apache.spark.sql.DataFrame],
      semHits: Option[org.apache.spark.sql.DataFrame],
      survivors: org.apache.spark.sql.DataFrame,
      deduped: org.apache.spark.sql.DataFrame,
      contaminated: Option[org.apache.spark.sql.DataFrame],
      accepted: org.apache.spark.sql.DataFrame,
      broadcastIdFrames: Boolean = true) {

    /** Per-doc attribution over the WHOLE input delta: every doc_id
      * mapped to its gate outcome — `accepted`, or the FIRST gate
      * that dropped it in pipeline order (`low_quality`,
      * `charlm_dropped`, `id_collision`, `exact_dup_within`,
      * `exact_dup_corpus`, `near_dup_corpus`, `substring_dup_corpus`,
      * `semantic_dup_corpus`, `near_dup_within`, `contaminated`).
      * A doc several corpus arms hit carries the first arm's verdict
      * (the order the batch run applies them); the sets the summary
      * counts are the raw per-arm frames, which may overlap. All
      * joins are delta-sized id frames off checkpointed stages
      * (idSafe/exactWithin/exactNew/deduped/accepted and every
      * optional-arm hit set are pinned in [[decideDelta]]) — flag
      * construction re-runs no gate. */
    def verdicts: org.apache.spark.sql.DataFrame = {
      def bc(df: org.apache.spark.sql.DataFrame) =
        if (broadcastIdFrames) broadcast(df) else df
      def flag(df: org.apache.spark.sql.DataFrame, name: String) =
        bc(df.select(col("doc_id")).distinct().withColumn(name, lit(true)))
      val none = input.limit(0)
      input.select(col("doc_id"))
        .join(flag(accepted, "f_accepted"), Seq("doc_id"), "left")
        .join(flag(contaminated.getOrElse(none), "f_contaminated"), Seq("doc_id"), "left")
        .join(flag(survivors.join(bc(deduped.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"), "f_near_within"), Seq("doc_id"), "left")
        .join(flag(corpusHits, "f_near"), Seq("doc_id"), "left")
        .join(flag(substrHits.getOrElse(none), "f_substr"), Seq("doc_id"), "left")
        .join(flag(semHits.getOrElse(none), "f_sem"), Seq("doc_id"), "left")
        .join(flag(exactWithin.join(bc(exactNew.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"), "f_exact_corpus"), Seq("doc_id"), "left")
        .join(flag(idSafe.join(bc(exactWithin.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"), "f_exact_within"), Seq("doc_id"), "left")
        .join(flag(corpusIds, "f_id_collision"), Seq("doc_id"), "left")
        .join(flag(charlmDropped.getOrElse(none), "f_charlm"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("f_accepted").isNotNull, "accepted")
            .when(col("f_contaminated").isNotNull, "contaminated")
            .when(col("f_near_within").isNotNull, "near_dup_within")
            .when(col("f_near").isNotNull, "near_dup_corpus")
            .when(col("f_substr").isNotNull, "substring_dup_corpus")
            .when(col("f_sem").isNotNull, "semantic_dup_corpus")
            .when(col("f_exact_corpus").isNotNull, "exact_dup_corpus")
            .when(col("f_exact_within").isNotNull, "exact_dup_within")
            .when(col("f_id_collision").isNotNull, "id_collision")
            .when(col("f_charlm").isNotNull, "charlm_dropped")
            .otherwise("low_quality").as("verdict"))
    }
  }

  /** Run independent tasks as concurrent Spark jobs from daemon
    * threads — the pipeline's one concurrency mechanism: decideDelta's
    * probe materializations, runBatch's independent layer writes and
    * runIncremental's index-append groups. Each task forces its own
    * jobs, so the caller's wall pays the slowest task, not the sum.
    * Spark schedules jobs from multiple threads of one session
    * fairly. The ACTIVE session is
    * pinned per thread (it is thread-local and a fresh thread starts
    * without one); the DEFAULT session is deliberately NOT touched —
    * it is a JVM-wide global, and writing it here would race between
    * concurrent decideDelta calls on different sessions (all code on
    * the probe paths takes its session explicitly, so the active pin
    * is belt-and-braces, not load-bearing). Job-group/description
    * local properties inherit from the spawning thread via
    * SparkContext's InheritableThreadLocal. All threads are joined
    * before returning — the first failure rethrows with every other
    * task already finished, so no job leaks past an error. */
  private def runConcurrently[A](spark: SparkSession,
                                 tasks: Seq[() => A]): Seq[A] =
    if (tasks.lengthCompare(1) <= 0) tasks.map(_())
    else {
      val out = new Array[Either[Throwable, A]](tasks.size)
      val threads = tasks.zipWithIndex.map { case (t, i) =>
        val th = new Thread(() => {
          SparkSession.setActiveSession(spark)
          out(i) = try Right(t()) catch { case e: Throwable => Left(e) }
        }, s"graft-task-$i")
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
      out.toSeq.map {
        case Right(a) => a
        case Left(e) => throw e
      }
    }

  /** The daily accept decision over a delta, READ-ONLY — the chain
    * [[runIncremental]] runs between its crash recovery and its
    * writes, verbatim (this IS the extracted code, not a replica):
    * silver clean → rule quality → optional corpus-charlm gate → id
    * collision → exact within/vs-corpus (bloom union-bypass) →
    * near-dup vs corpus + within-delta clusters → optional substring
    * and semantic arms → optional holdout decontamination. Mutates
    * nothing; the caller decides whether to write and index
    * ([[runIncremental]]) or only report
    * ([[sources.Sinks.streamingAcceptPreviewSink]]).
    *
    * `probeOverrides` (keyed by index table name) substitutes cached
    * bloom probes for the per-call [[operators.Dedup.bloomProbeFor]]
    * dispatch — the streaming preview re-reads filters only when a
    * bloom's file set changes, exactly like the single-arm guards;
    * the daily run passes nothing and reads them fresh. */
  private[graft] def decideDelta(spark: SparkSession,
      rawDelta: org.apache.spark.sql.DataFrame,
      postingsTable: String, hashTable: String,
      holdout: Option[org.apache.spark.sql.DataFrame] = None,
      chunkTable: Option[String] = None,
      semanticTable: Option[String] = None,
      deltaEmbeddings: Option[org.apache.spark.sql.DataFrame] = None,
      charlmTable: Option[String] = None,
      charlmRareFracMax: Option[Double] = None,
      charlmRareBelow: Double = 0.001,
      probeOverrides: Map[String, Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column]] = Map.empty,
      charlmModelOverride: Option[Option[Array[Byte]]] = None,
      broadcastIdFrames: Boolean = true): DeltaDecision = {
    // `broadcastIdFrames` governs only the HINTS this round added on
    // the within-delta side (survivor fold, decontam anti-join, the
    // verdict flag frames): at micro-batch and ordinary daily sizes
    // they are id-only frames a broadcast trivially fits, and the
    // hints keep the whole verdict chain statically shuffle-free
    // (plan-spec-pinned); a deployment whose single DAY runs to
    // hundreds of millions of docs can set false and let AQE size
    // them instead. The corpus-probe broadcasts (delta ids into the
    // postings/chunk probes) are NOT governed: those are the core
    // never-shuffle-the-corpus design, not an optimization hint.
    def bcIds(df: org.apache.spark.sql.DataFrame) =
      if (broadcastIdFrames) broadcast(df) else df
    val silver = Cleaning.silver(rawDelta)
    // the silver regex chain runs ONCE: the charlm scoring, the
    // id-gate probe and the idSafe anti-join each re-evaluate
    // ruleQuality, and without this pin each re-evaluation re-runs
    // the full cleaning chain over the delta — the single heaviest
    // map work in the decision (r18; same rationale as the
    // idSafe/exactWithin pins below, one junction earlier)
    val ruleQuality = silver.filter(col("content").isNotNull && col("content_length") > 50)
      .localCheckpoint()
    // charlm arm, gate side (optional): score the delta against the
    // CORPUS-TRAINED model — the persisted per-ingest count table
    // summed back to (tri, c3) — and drop LM-improbable docs, the
    // same corpus-relative quality bar [[runTrainingPrep]] applies,
    // except here "the corpus" is the standing accepted corpus, not
    // the delta itself (a delta of garbage must not normalize its own
    // garbage). Runs before every dedup arm for the prep's reason: a
    // damaged doc must never become a cluster's surviving canonical.
    val charlmDropped = charlmTable.zip(charlmRareFracMax).map { case (t, maxFrac) =>
      val deltaText = ruleQuality.select(col("doc_id"), col("content").as("text"))
      // `charlmModelOverride` is the steady-caller seam: the streaming
      // preview sink collects the model ONCE per model-table file set
      // (TextOps.charlmCollectModel) and hands the bytes in, so a
      // micro-batch pays only the map-side predicate — the same
      // re-read-only-on-change discipline as probeOverrides. The
      // daily run passes nothing and aggregates the table fresh.
      TextOps.charlmRareDropIds(deltaText,
          spark.table(t).groupBy(col("tri")).agg(sum(col("n")).as("c3")),
          charlmRareBelow, maxFrac, modelBytes = charlmModelOverride)
        .localCheckpoint()
    }
    val quality = charlmDropped.fold(ruleQuality)(d =>
      ruleQuality.join(broadcast(d), Seq("doc_id"), "left_anti"))
    val corpusIds = corpusIdCollisions(spark, quality.select(col("doc_id")),
        postingsTable,
        probeOverride = probeOverrides.get(Dedup.idsSpaceOf(postingsTable)))
      .localCheckpoint()
    // idSafe and exactWithin checkpoint because BOTH faces re-read
    // them: the daily run's summary counts, and the preview's verdict
    // flags (f_exact_within/f_exact_corpus) — without the pins each
    // re-evaluation re-runs the silver regex chain (r17 self-review)
    val idSafe = quality.join(broadcast(corpusIds), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val exactWithin = Cleaning.dedupKeepFirst(idSafe, md5(col("content")), col("doc_id"))
      .localCheckpoint()
    val exactNew = exactNewVsCorpus(spark, exactWithin, hashTable,
        probeOverride = probeOverrides.get(hashTable))
      .localCheckpoint() // three consumers below; the probe must not re-run the scan chain
    val text = exactNew.select(col("doc_id"), col("content").as("text"))

    val deltaIds = text.select(col("doc_id"))
    // band-key bloom (maintained since bootstrap; None on a pre-bloom
    // postings table → plain probe): delta banding rows with
    // definitely-novel (band, band_hash) drop map-side before the
    // sig-carrying shuffle into the bucketed corpus join
    val (postingsDf, postingsSigs) = Dedup.postingsFrames(spark, postingsTable)
    // The corpus probes (near-dup banding, CDC chunk, semantic cell)
    // and the within-delta substring pair graph are INDEPENDENT given
    // the exact-arm survivors — their construction + materialization
    // run as concurrent job groups (r20; the r19 append discipline
    // applied to the probe side): the decision's wall pays
    // max(probe), not Σ probe, and on a cluster the probe jobs
    // interleave across executors instead of draining one at a time.
    // Values untouched — each probe checkpoints exactly the frame the
    // sequential form did (spec-pinned by the unchanged gate rows).
    val pairsTask = () => Some(
      Dedup.incrementalMinhashCandidates(text, postingsDf,
          bandPrefilter = probeOverrides.getOrElse(postingsTable,
            Dedup.bloomProbeFor(spark, postingsTable)),
          sigs = postingsSigs)
        .join(broadcast(deltaIds.select(col("doc_id").as("doc_id_1"),
          lit(true).as("in1"))), Seq("doc_id_1"), "left")
        .join(broadcast(deltaIds.select(col("doc_id").as("doc_id_2"),
          lit(true).as("in2"))), Seq("doc_id_2"), "left")
        .localCheckpoint()) // consumed twice (corpus hits + delta clusters)
    // substring arm (optional): a passage copy sits below whole-doc
    // MinHash Jaccard but its interior CDC chunks hash identically —
    // probe the chunk index with the SAME destructive bar as the full
    // prep's substringDupPairs pass, corpus wins
    val substrTask = () => chunkTable.map { t =>
      Dedup.incrementalSubstringMatches(text, spark.table(t), minSharedTokens = 64L,
        bloomProbe = probeOverrides.getOrElse(t, Dedup.bloomProbeFor(spark, t)))
        .select(col("delta_doc").as("doc_id")).distinct().localCheckpoint()
    }
    // the delta's own substring pairs (feeds the within-delta cluster
    // graph below when the chunk arm is on — the full prep unions
    // both graphs the same way)
    val ddSubstrTask = () => chunkTable.map { _ =>
      Dedup.substringDupPairs(text, minSharedTokens = 64L)
        .select(col("doc_id_1"), col("doc_id_2")).localCheckpoint()
    }
    // semantic arm (optional): a PARAPHRASED re-delivery shares no
    // shingles and no CDC chunks — both text probes are structurally
    // blind to it; its embedding still lands in the corpus doc's
    // quantizer cell. Probe with the surviving delta's vectors
    // ((doc_id, embedding) from the day's embedder), corpus wins.
    // Delta docs without a vector simply skip this arm. With the PQ
    // twin present (bootstraps since the PQ seam landed), the probe
    // is TWO-TIER: candidates from the 16 B/doc code index
    // (persisted codebooks — never retrained; over-collects by the
    // probe's margin because ADC cosines carry quantization error),
    // then EXACT cosine on just the candidate pairs against the
    // full-vector index, scanning only the cells the candidates
    // touched (the collect is bounded by the quantizer's k — a
    // driver-safe constant, same license as the BPE loop's 1-row
    // fetch). Corpus-scale work reads codes; vectors surface
    // candidate-sized. Without the PQ twin: the one-tier exact
    // cell probe, same hits.
    val semThreshold = 0.35
    val semTask = () => semanticTable.zip(deltaEmbeddings).map { case (t, embs) =>
      val deltaVecs = embs.join(broadcast(exactNew.select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
      semanticCorpusHits(spark, deltaVecs, t, semThreshold)
        .select(col("delta_doc").as("doc_id")).distinct().localCheckpoint()
    }
    val Seq(pairsSlot, substrHits, semHits, ddSubstrPairs) =
      runConcurrently(spark, Seq(pairsTask, substrTask, semTask, ddSubstrTask))
    val pairs = pairsSlot.get
    // exactly one side in the delta -> the delta side lost to the corpus
    val corpusHits = pairs.filter(col("in1").isNull =!= col("in2").isNull)
      .select(when(col("in1").isNotNull, col("doc_id_1"))
        .otherwise(col("doc_id_2")).as("doc_id")).distinct()
    // every build side below is a delta-sized id frame by
    // construction — hint the broadcasts instead of leaving AQE to
    // discover them, so the micro-batch face plans shuffle-free
    // statically (plan-spec-pinned: no sort-merge join anywhere in
    // the verdict chain)
    val survivors = (substrHits.toSeq ++ semHits.toSeq).foldLeft(
      exactNew.join(bcIds(corpusHits), Seq("doc_id"), "left_anti"))(
      (df, s) => df.join(bcIds(s), Seq("doc_id"), "left_anti"))
    // within-delta clusters: the LSH probe's delta-delta pairs, plus
    // the delta's own substring pairs when the chunk arm is on (the
    // full prep unions both graphs the same way; materialized above
    // alongside the corpus probes)
    val ddPairs = pairs.filter(col("in1").isNotNull && col("in2").isNotNull)
      .select(col("doc_id_1"), col("doc_id_2"))
    val allDdPairs = ddSubstrPairs.fold(ddPairs)(ddPairs.unionByName)
    // star-rounds CC ([[Dedup.clusterPairsStar]]): O(log^2 n)
    // convergence regardless of component shape — the production
    // default, since a prep run over an arbitrary corpus can't assume
    // the dense quasi-clique components min-label propagation wants
    // (same min-id labeling either way, one shared oracle)
    val clusters = Dedup.clusterPairsStar(allDdPairs)
    // checkpointed: consumed by contaminated + accepted in the main
    // chain and by the preview's f_near_within flag — one cluster
    // materialization instead of three (r17 self-review)
    val deduped = Dedup.applyCanonical(survivors, clusters,
      Dedup.canonicalPerCluster(
        survivors.select(col("doc_id"), col("content").as("text")), clusters))
      .localCheckpoint()
    val contaminated = holdout.map { h =>
      TextOps.decontaminateSubstring(
        deduped.select(col("doc_id"), col("content").as("text")), h)
        .select(col("doc_id")).localCheckpoint()
    }
    val accepted = contaminated
      .fold(deduped)(c => deduped.join(bcIds(c), Seq("doc_id"), "left_anti"))
      .localCheckpoint() // written once, then indexed twice below
    DeltaDecision(rawDelta, quality, charlmDropped, corpusIds, idSafe,
      exactWithin, exactNew, corpusHits, substrHits, semHits,
      survivors, deduped, contaminated, accepted, broadcastIdFrames)
  }

  /** [[acceptPreviewAudit]]'s steady-caller state per input —
    * everything that is a pure function of the input and NOT part of
    * the decision being priced: the planted delta frames
    * (checkpointed — the synthetic slice construction is audit
    * scaffolding, not decision work), the four bloom probes and the
    * collected charlm model bytes (the streaming preview sink's
    * re-read-only-on-change discipline, applied here because the
    * audit's tables are immutable for a given input). Values are
    * identical with or without a hit. */
  private final case class AuditState(
      delta: org.apache.spark.sql.DataFrame,
      deltaVecs: org.apache.spark.sql.DataFrame,
      holdout: org.apache.spark.sql.DataFrame,
      probes: Map[String, Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column]],
      charlmBytes: Option[Array[Byte]])
  private val auditMemo = new InputMemo[AuditState](cap = 4)

  /** The daily accept decision as a GATE ROW (SURVEY §2 row 37m):
    * split the documents table into a standing corpus and a delta by
    * a deterministic md5 rule, bootstrap the REAL probe tables
    * (banded postings + content-hash set + CDC chunk index + doc-id
    * key space, blooms included) exactly as day-zero does — plus the
    * corpus-trained charlm model and the deterministic-trained
    * semantic cell index — run [[decideDelta]] with EVERY arm armed
    * (the code `runIncremental` and the streaming accept-preview
    * share), and return per-verdict counts. Branch-forcing slices:
    * re-delivery (corpus ids, edited text → id_collision),
    * passage-lift (filler + whole corpus doc under a fresh id →
    * substring at sub-MinHash whole-doc Jaccard), verbatim re-sends
    * under higher ids (→ keep-first exact_dup_within), vowel-garbled
    * corpus text under fresh ids (trigram-rare vs the corpus model →
    * charlm_dropped), and word-order-REVERSED corpus text under
    * fresh ids carrying the SOURCE's embedding (no shared shingles,
    * no shared CDC chunks, normal trigrams — only the semantic arm
    * can catch it → semantic_dup_corpus), and out-of-subset HOLDOUT
    * docs' text re-embedded whole after filler under fresh ids
    * (novel to every corpus arm — the sources were never indexed —
    * yet sharing interior CDC chunks with the armed holdout, so only
    * the post-dedup decontamination can drop it → contaminated; r18).
    * The DuckDB oracle replays
    * the ENTIRE chain — silver cleaning, the rule bar, the add-one
    * trigram gate, id collision, keep-first exact dedup, md5 MinHash
    * banding + 64-perm estimate at 0.5, the df-capped CDC chunk
    * probe at 64 shared tokens, the rank-seeded Lloyd quantizer +
    * cell-cosine probe, within-delta clusters (recursive CC) with
    * longest-survivor canonicals, and the 8-shared-token df-capped
    * holdout decontamination — so ALL ELEVEN verdict categories,
    * contaminated included, are value-checked end to end (r17
    * VERDICT #1 armed charlm+semantic; r18 armed the holdout).
    * Bloom prefilters run in the engine and are
    * result-neutral by the no-false-negatives contract the bloom
    * audit rows pin; the semantic arm bootstraps the one-tier exact
    * index — the PQ two-tier face is result-identical by the
    * certified bound + margin, and its cost is priced by its own
    * seven gate rows.
    *
    * The corpus-side bootstrap (indexes, blooms, charlm counts,
    * Lloyd training) and the planted frames are memoized
    * ([[InputMemo]]) on the session and the fingerprints of both
    * inputs' plans and files; a hit also needs the checkpointed delta
    * frames to still read and every audit table to still hold every
    * file the bootstrap wrote. A hit prices the decision — the r18
    * trim; any other input (a rewritten file, an in-memory frame)
    * bootstraps afresh. Values are identical either way. */
  def acceptPreviewAudit(documents: org.apache.spark.sql.DataFrame,
                         embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = documents.sparkSession
    val post = "graft_audit_apv_post"; val hash = "graft_audit_apv_hash"
    val chunk = "graft_audit_apv_chunk"; val sem = "graft_audit_apv_sem"
    val charlm = "graft_audit_apv_charlm"
    // PERSISTED bootstrap (r18 VERDICT #3): the audit's corpus-side
    // state — postings + hash + chunk indexes with blooms, the
    // corpus-trained charlm counts, the deterministic-Lloyd semantic
    // index — and the planted frames are pure functions of the input,
    // so a repeat call on the same input in the SAME session (the
    // bench's warm-up → timed pair, a stream of spec assertions)
    // reuses them and prices [[decideDelta]] alone, exactly the
    // semantic_probe_pq_persisted seam. Verdict values are unchanged
    // by construction: the reused tables are byte-identical to what
    // this call would have written. The tables are the audit's own
    // fixed names, so a miss first drops a crashed prior audit's
    // leftovers.
    val owned = Seq(post, hash, chunk).flatMap(t => Seq(t, t + "__bloom")) ++
      Seq(post + "__ids__bloom", sem, sem + "__centroids", charlm)
    val st = auditMemo((), Seq(documents, embeddings), owned)(
        s => Seq(s.delta, s.deltaVecs)) {
    dropIncrementalState(spark, post, hash, chunkTable = Some(chunk),
      semanticTable = Some(sem), charlmTable = Some(charlm))
    // deterministic 50% subset (an md5 position INDEPENDENT of the
    // split/slice rules below): the audit value-checks machinery, not
    // corpus statistics — a half corpus exercises every branch at
    // half of the bootstrap + probe cost in the bench
    val subset = documents.filter(
      substring(md5(col("doc_id").cast("string")), 3, 2) < lit("80"))
    val flagged = subset.withColumn("__delta",
        substring(md5(col("doc_id").cast("string")), 1, 2) < lit("14"))
      .localCheckpoint() // bootstrap and decision must see ONE split
    val corpus = flagged.filter(!col("__delta"))
      .select(col("doc_id"), col("text"))
    // the re-delivery slice: corpus ids re-sent with edited text —
    // the id-collision guard's case (an edited re-delivery must NOT
    // slip through as a fresh doc)
    val redelivered = flagged.filter(!col("__delta") &&
        substring(md5(col("doc_id").cast("string")), 1, 2).between("80", "83"))
      .withColumn("text", concat(col("text"), lit(" redelivered")))
    // the passage-lift slice: a long corpus doc re-embedded whole
    // after 300 unique filler tokens under a fresh id — whole-doc
    // Jaccard sits far below the MinHash bar (≤ ~100 shared of 400+
    // tokens) while the copied span's CDC chunks match the source
    // everywhere past its first boundary, so the SUBSTRING branch
    // must catch it
    val passageLift = flagged.filter(!col("__delta") &&
        substring(md5(col("doc_id").cast("string")), 1, 2).between("90", "af") &&
        size(split(col("text"), " ")) >= 90)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text", concat(
        concat_ws(" ", transform(sequence(lit(1), lit(300)),
          i => concat(lit("fl"), col("doc_id").cast("string"), lit("_"), i.cast("string")))),
        lit(" "), col("text")))
    // the within-delta duplicate slice: a delta doc re-sent verbatim
    // under a higher id — keep-first must keep the original and tag
    // the copy exact_dup_within
    val dupWithin = flagged.filter(col("__delta") &&
        substring(md5(col("doc_id").cast("string")), 1, 2) < "02")
      .withColumn("doc_id", col("doc_id") + lit(20000000L))
    // the LM-improbable slice: corpus docs re-sent under fresh ids
    // with vowel-substituted text — word-internal trigrams go rare vs
    // the corpus-trained model (measured rare-frac ≥ 0.19 at
    // rareBelow 0.01 across all gate SFs, vs ≤ 0.11 for every other
    // slice — maxFrac 0.15 splits them with margin on both sides), so
    // the charlm gate must drop them before any dedup arm runs
    val garbled = flagged.filter(!col("__delta") &&
        substring(md5(col("doc_id").cast("string")), 1, 2).between("b0", "bf"))
      .withColumn("doc_id", col("doc_id") + lit(40000000L))
      .withColumn("text", translate(col("text"), "aeiou", "zqxjv"))
    // the PARAPHRASE slice: corpus docs word-order-REVERSED under
    // fresh ids, carrying the SOURCE's embedding — no shared 3-token
    // shingles (MinHash blind), no shared CDC chunks (substring
    // blind), normal trigram statistics (charlm passes) — only the
    // embedding probe can catch it: cosine 1.0 with the source's
    // indexed vector. Sources without an embedding (partial embedder
    // coverage at sf0.1) legitimately land as accepted — both engines
    // agree, and partial coverage is the production reality.
    val paraphrased = flagged.filter(!col("__delta") &&
        substring(md5(col("doc_id").cast("string")), 1, 2).between("c0", "cf"))
      .withColumn("doc_id", col("doc_id") + lit(30000000L))
      .withColumn("text", concat_ws(" ", reverse(split(col("text"), " "))))
    // the CONTAMINATION slice (r18 — the last verdict category goes
    // oracle-armed): docs from OUTSIDE the audit subset stand in for
    // the eval/holdout set; their text re-embedded whole after the
    // passage-lift filler under fresh ids is NOVEL to every corpus
    // arm (the sources were never indexed — no id, no hash, no
    // shingle, no chunk, no vector in any probe table) yet shares
    // its interior CDC chunks with the holdout, so ONLY the
    // post-dedup decontamination arm can drop it. ≥60 words keeps
    // well clear of the 8-shared-token bar past the filler's first
    // chunk boundary.
    val holdoutSrc = documents.filter(
        substring(md5(col("doc_id").cast("string")), 3, 2) >= lit("80") &&
        substring(md5(col("doc_id").cast("string")), 1, 2).between("d0", "df") &&
        size(split(col("text"), " ")) >= 60)
      .localCheckpoint() // read twice: the planted slice + the holdout arg
    val contamLift = holdoutSrc
      .withColumn("doc_id", col("doc_id") + lit(50000000L))
      .withColumn("text", concat(
        concat_ws(" ", transform(sequence(lit(1), lit(300)),
          i => concat(lit("fl"), col("doc_id").cast("string"), lit("_"), i.cast("string")))),
        lit(" "), col("text")))
      .withColumn("__delta", lit(true))
    val delta = flagged.filter(col("__delta"))
      .unionByName(redelivered).unionByName(passageLift).unionByName(dupWithin)
      .unionByName(garbled).unionByName(paraphrased).unionByName(contamLift)
      .drop("__delta")
    // 16 buckets for the audit's own tables: the gate row prices the
    // DECISION, not a 64-wide production layout's file overhead
    bootstrapIncremental(corpus, post, hash, chunkTable = Some(chunk),
      charlmTable = Some(charlm), buckets = 16)
    // semantic index over the corpus docs that HAVE embeddings
    // (vec_id ≡ doc_id in the test tables; coverage is partial at
    // sf0.1 — production reality). Deterministic training so the
    // oracle replays the quantizer bit-for-bit.
    val corpusVecs = embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(broadcast(corpus.select(col("doc_id"))), Seq("doc_id"), "left_semi")
    // ONE Lloyd round (r18, gate-cost trim): the paraphrase slice
    // carries the SOURCE's embedding verbatim, so its cell equals its
    // source's under ANY shared centroid set — every verdict is
    // invariant to training depth, and one round still value-checks
    // the Lloyd machinery end to end (the 3-round depth stays priced
    // by ann_ivf_trained / dedup_semantic_trained / semantic_probe's
    // own oracles). The oracle below replays iters = 1 to match.
    graft.operators.Ann.writeSemanticIndex(corpusVecs, sem, buckets = 16,
      trainIters = 1, deterministic = true)
    // the paraphrase slice's delta vectors: the SOURCE's embedding
    // under the shifted id
    val deltaVecs = embeddings
      .select((col("vec_id") + lit(30000000L)).as("doc_id"), col("embedding"))
      .join(broadcast(paraphrased.select(col("doc_id"))), Seq("doc_id"), "left_semi")
    // memoized with the tables they read: the four bloom probes and
    // the collected charlm model bytes (the streaming sink
    // discipline); delta/deltaVecs checkpoint so a hit never
    // re-derives the synthetic slices
    val probes = Dedup.probeMapFor(spark, post, hash, Some(chunk))
    val modelBytes = TextOps.charlmCollectModel(
      spark.table(charlm).groupBy(col("tri")).agg(sum(col("n")).as("c3")))
    AuditState(delta.localCheckpoint(), deltaVecs.localCheckpoint(),
      holdoutSrc.select(col("doc_id"), col("text")), probes, modelBytes)
      }
    decideDelta(spark, st.delta, post, hash,
        holdout = Some(st.holdout),
        chunkTable = Some(chunk),
        semanticTable = Some(sem), deltaEmbeddings = Some(st.deltaVecs),
        charlmTable = Some(charlm), charlmRareFracMax = Some(0.15),
        charlmRareBelow = 0.01, probeOverrides = st.probes,
        charlmModelOverride = Some(st.charlmBytes))
      .verdicts
      .groupBy(col("verdict")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("verdict"))
  }

  /** Project `rows` down to `table`'s persisted columns — the append
    * form of backward schema compatibility: a producer that LEARNED a
    * new column (the PQ index's per-subspace `qerrs`) must keep
    * appending to tables written before it existed, carrying only
    * what the table holds; consumers already dispatch on column
    * presence. Refuses (via the subsequent write's own validation) to
    * paper over a table with columns the producer CANNOT supply —
    * this only ever narrows, never null-fills. */
  private def projectToTable(spark: SparkSession, rows: org.apache.spark.sql.DataFrame,
                             table: String): org.apache.spark.sql.DataFrame =
    rows.select(spark.table(table).columns.map(col): _*)

  /** The semantic corpus probe — "is this delta vector a paraphrase
    * of an indexed doc" — as ONE definition shared by
    * [[runIncremental]]'s daily arm and the streaming semantic guard
    * ([[sources.Sinks.streamingSemanticGuardSink]]), so the stream
    * and the daily ingest can never disagree on a hit. TWO-TIER when
    * the PQ twin exists: candidates from the 16–32 B/doc code index
    * under the certified cosine bound, then EXACT cosine on just the
    * candidate pairs against the full-vector index, scanning only
    * the cells the candidates touched (the collect is bounded by the
    * quantizer's k — a driver-safe constant). Corpus-scale work
    * reads codes; vectors surface candidate-sized. Without the PQ
    * twin: the one-tier exact cell probe, same hits.
    *
    * margin 1e-9: the certified bound is exact mathematics but
    * double sqrt/divide arithmetic — a pair whose true cosine sits
    * EXACTLY at the threshold can round a few ULPs under it and be
    * dropped by the PQ tier while the one-tier exact arm would keep
    * it. The epsilon makes the PQ-present and PQ-absent deployments'
    * accept/drop decisions identical; the exact confirm re-applies
    * the true threshold.
    *
    * tight = per-subspace certified bound when the persisted index
    * carries `qerrs` (the 32 B/doc form this code writes) — strictly
    * smaller candidate sets at the same m lookups, completeness
    * still a theorem. Dispatching on the column keeps a pre-qerrs
    * 24 B/doc index probing correctly (scalar bound) until its next
    * retrain rewrites the wider schema.
    *
    * Input: `deltaVecs` carries (doc_id, embedding). Returns
    * DISTINCT (delta_doc, corpus_doc) pairs at `threshold`. */
  private[graft] def semanticCorpusHits(spark: SparkSession,
                                        deltaVecs: org.apache.spark.sql.DataFrame,
                                        t: String,
                                        threshold: Double = 0.35): org.apache.spark.sql.DataFrame = {
    val hits =
      if (spark.catalog.tableExists(t + "__pq")) {
        val pqIdx = spark.table(t + "__pq")
        val cand = graft.operators.Pq.incrementalSemanticMatchesPq(
            deltaVecs, pqIdx, spark.table(t + "__centroids"),
            spark.table(t + "__pq__codebooks"), threshold = threshold,
            margin = 1e-9, tight = pqIdx.columns.contains("qerrs"))
          .localCheckpoint()
        val cells = cand.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // the exact confirm: the cosine join keyed on the candidate
        // pairs themselves, over the touched cells' index rows
        graft.operators.Ann.cosineJoin(
          graft.operators.Ann.vectorRows(deltaVecs, "doc_id")
            .join(cand.select(col("delta_doc").as("vec_id"), col("corpus_doc")), Seq("vec_id")),
          spark.table(t).filter(col("cell").isin(cells: _*))
            .select(col("doc_id").as("vec_id"), col("emb"), col("nrm")),
          Nil, threshold, col("b.vec_id") === col("a.corpus_doc"))
          .select(col("a.vec_id").as("delta_doc"), col("b.vec_id").as("corpus_doc"))
      } else
        graft.operators.Ann.incrementalSemanticMatches(
          deltaVecs, spark.table(t), spark.table(t + "__centroids"),
          threshold = threshold)
    hits.select(col("delta_doc"), col("corpus_doc")).distinct()
  }

  /** The id-collision gate: which delta ids does the corpus already
    * hold? With the doc-id bloom maintained ([[operators.Dedup
    * .writeIdsBloom]] — bootstrapped since r18, merged daily), the
    * probe is MAP-SIDE over the delta: definite non-members need no
    * corpus at all, and when the maybe sliver is EMPTY — the common
    * stream-trigger case at the id space's 1e-4 fpp — the postings
    * table is never touched (r17 VERDICT #2: the preview's one
    * remaining per-trigger corpus-bound term). A non-empty sliver
    * confirms exactly: the broadcast maybe ids semi-join the postings
    * doc_id column — the same scan as the pre-bloom path, now gated
    * and fed a delta-sized (usually fpp-sized) probe set. Bloom
    * false positives cannot mint a wrong verdict (the confirm is
    * exact); no false negatives means a definite-new is truly new.
    * Without a bloom (pre-r18 bootstrap, lost table): the plain
    * scan + semi-join, same rows. `probeOverride` as in
    * [[exactNewVsCorpus]] — the streaming preview's per-query cache.
    *
    * CONFIRM SOURCE (r19, closes the r18 'watch' item): on a split
    * index the confirm reads the forward sig table — one row per
    * doc, already distinct, bucketed on doc_id — instead of
    * distinct-aggregating the postings table's bands× rows. Same id
    * population by construction (posting rows derive from the sig
    * rows), and STRICTLY more correct in the one state they differ:
    * sigs append first, so a crash window where a doc has sig rows
    * but no posting rows yet still reads its id as held — the
    * postings-based confirm would re-accept a colliding re-delivery
    * of a half-indexed day. Legacy single-table indexes keep the
    * distinct scan. */
  private[graft] def corpusIdCollisions(spark: SparkSession,
                                        deltaIds: org.apache.spark.sql.DataFrame,
                                        postingsTable: String,
                                        probeOverride: Option[Option[
                                          org.apache.spark.sql.Column =>
                                            org.apache.spark.sql.Column]] = None)
    : org.apache.spark.sql.DataFrame = {
    def corpusIdRows =
      if (spark.catalog.tableExists(postingsTable + "__sigs"))
        spark.table(postingsTable + "__sigs").select(col("doc_id"))
      else spark.table(postingsTable).select(col("doc_id")).distinct()
    def confirm(cands: org.apache.spark.sql.DataFrame) =
      corpusIdRows.join(broadcast(cands), Seq("doc_id"), "left_semi")
    probeOverride.getOrElse(
        Dedup.bloomProbeFor(spark, Dedup.idsSpaceOf(postingsTable))) match {
      case Some(probe) =>
        // checkpointed: the maybe set is read twice (emptiness gate +
        // confirm) and must not re-run the silver prefix either time
        val maybes = deltaIds.filter(probe(expr(Dedup.idKeySql))).localCheckpoint()
        if (maybes.isEmpty) maybes else confirm(maybes)
      case None => confirm(deltaIds)
    }
  }

  /** The exact-dup-vs-corpus gate with the BLOOM UNION-BYPASS: when
    * the hash table carries its persisted bloom summary
    * ([[operators.Dedup.writeHashBloom]] — bootstrapped once, merged
    * daily), delta rows the bloom says are DEFINITELY not corpus
    * members skip the anti-join entirely — no false negatives means
    * they are truly new — and only the "maybe" sliver (fpp × delta +
    * true duplicates, ~3% at steady state) proceeds to the exact
    * bucketed anti-join. The shape matters because Spark's zero-code
    * runtime bloom join CANNOT serve here: pruning the probe side of
    * a LEFT ANTI join would drop exactly the rows the join must
    * keep, so InjectRuntimeFilter never fires on it — the explicit
    * filter + union is the correct form. The bloom ships as a plan
    * literal (a broadcast-scale driver value), the probe is the
    * codegen'd [[graft.functions.BloomMightContain]], and the delta
    * is checkpointed once so both branches read one materialization.
    * Without a bloom (pre-bloom bootstrap, lost table): the plain
    * anti-join, same rows. */
  private[graft] def exactNewVsCorpus(spark: SparkSession, exactWithin: org.apache.spark.sql.DataFrame,
                                      hashTable: String,
                                      probeOverride: Option[Option[
                                        org.apache.spark.sql.Column =>
                                          org.apache.spark.sql.Column]] = None)
    : org.apache.spark.sql.DataFrame = {
    val hashed = exactWithin.withColumn("__content_md5", md5(col("content")))
    // union-bypass with either bloom form: probe ONCE into a boolean
    // column and checkpoint, so whatever carries the filter (the
    // single-form plan literal, or the sharded form's broadcast
    // handle) rides the plan exactly once; the two branches then
    // filter a materialized boolean.
    def bypass(maybeCol: org.apache.spark.sql.Column) = {
      val base = hashed.withColumn("__maybe", maybeCol).localCheckpoint()
      base.filter(!col("__maybe")).unionByName(
        base.filter(col("__maybe")).join(spark.table(hashTable),
          col("__content_md5") === col("content_md5"), "left_anti"))
        .drop("__maybe")
    }
    // one dispatch for both bloom forms ([[operators.Dedup
    // .bloomProbeFor]]): the sharded shape probes through a real
    // torrent broadcast, the single shape through the plan literal.
    // `probeOverride` lets a caller that already HOLDS a probe (the
    // streaming guard's per-query cache — the bloom changes at most
    // once per daily ingest, not per trigger) skip re-reading and
    // re-broadcasting the filter bytes per call.
    val out = probeOverride.getOrElse(Dedup.bloomProbeFor(spark, hashTable)) match {
      case Some(probe) => bypass(probe(col("__content_md5")))
      case None =>
        hashed.join(spark.table(hashTable),
          col("__content_md5") === col("content_md5"), "left_anti")
    }
    out.drop("__content_md5")
  }

  /** The DAILY ingest against a standing corpus — the production path
    * the full [[runTrainingPrep]] is too expensive for: the corpus is
    * never re-read, re-signed or re-shuffled; only the delta moves.
    *
    * Stages, with corpus-wins keep-first semantics throughout
    * (matching [[streaming.Streams.dedupStream]]'s contract at the
    * batch grain):
    *  1. clean + quality-gate the delta ([[operators.Cleaning.silver]]);
    *  1b. OPTIONAL charlm arm, gate side (`charlmTable` +
    *     `charlmRareFracMax`): score the delta against the
    *     CORPUS-TRAINED trigram model — the per-ingest count table
    *     summed back to `(tri, c3)` — and drop LM-improbable docs
    *     before any dedup arm (the same corpus-relative bar
    *     [[runTrainingPrep]]'s charlm gate applies, except "the
    *     corpus" is the standing accepted corpus, so a delta of
    *     garbage cannot normalize its own garbage); the accepted
    *     day's |alphabet|^3-bounded counts append under this run's
    *     outDir, so tomorrow's gate sees today's prose without ever
    *     re-reading a corpus document;
    *  2. exact dedup WITHIN the delta (keep-first on content hash),
    *     then VS the corpus — the bloom union-bypass
    *     ([[exactNewVsCorpus]]): definite non-members of the
    *     persisted corpus bloom skip the join map-side (no false
    *     negatives), the maybe sliver anti-joins the bucketed hash
    *     set, which reads shuffle-free on its join key; the accepted
    *     day's hashes merge back into the bloom
    *     ([[operators.Dedup.mergeHashBloom]] — delta-sized, crash-
    *     replayable) so tomorrow's prefilter stays complete;
    *  3. near-dup VS corpus and WITHIN delta in one
    *     [[operators.Dedup.incrementalMinhashCandidates]] probe: a
    *     delta doc paired with any corpus doc drops (the corpus copy
    *     already won); delta-delta pairs cluster
    *     ([[operators.Dedup.clusterPairs]]) and the LONGEST member
    *     survives ([[operators.Dedup.applyCanonical]] — same keep
    *     policy as the full prep);
    *  3b. OPTIONAL semantic arm (`semanticTable` + `deltaEmbeddings`):
    *     delta vectors probe the trained cell index
    *     ([[operators.Ann.incrementalSemanticMatches]]) — the arm that
    *     catches a PARAPHRASED re-delivery both text probes are
    *     structurally blind to; corpus wins, accepted vectors append;
    *  4. docs sharing a CDC passage with the optional `holdout` set
    *     drop ([[operators.TextOps.decontaminateSubstring]] — the same
    *     eval guard the full prep applies across its split; pass the
    *     standing holdout so daily ingest cannot leak eval passages);
    *  5. the accepted delta lands in `outDir/accepted` REDACTED
    *     ([[operators.TextOps.redact]], matching [[runTrainingPrep]] —
    *     the written corpus is always post-redact while both indexes
    *     stay pre-redact, the content the pair graphs read), and BOTH
    *     probe tables grow by exactly the accepted docs
    *     ([[sources.Sinks.appendBucketed]] keeps the bucket layout, so
    *     tomorrow's probe still joins shuffle-free).
    *
    * A delta doc RE-DELIVERING an id the corpus already holds is
    * dropped and counted (`id_collision_dropped`) — accepting it
    * would write a second, conflicting set of postings and hashes for
    * that id (the probe join even suppresses corpus-vs-same-id pairs,
    * so an edited re-delivery would otherwise slip through as fresh).
    * The check is one column scan of the postings table against the
    * broadcast delta id set; updates-in-place are an upsert
    * ([[sources.Sinks.mergeUpsert]]) plus index rebuild, not an
    * ingest.
    *
    * Pair provenance (which side of a candidate pair is the corpus)
    * is decided against the BROADCAST delta id set — never by joining
    * the corpus-sized postings ids.
    *
    * NEAR-DUP CRITERION: the incremental bar is the MinHash ESTIMATE
    * (est_jaccard >= 0.5 from the banded probe), deliberately NOT the
    * full [[runTrainingPrep]] criterion (exact ngram-Jaccard >= 0.5 ∪
    * substring pairs): re-scoring exact Jaccard for every candidate
    * would re-read corpus documents the index exists to avoid
    * touching. Near the threshold the two bars can disagree (the
    * estimate is binomial(64, J) around the true J), so daily
    * accept/drop decisions approximate what a full re-prep of
    * corpus+delta would decide — the spec pins incremental == full at
    * the MINHASH grain, and the chunk arm carries the substring
    * criterion exactly.
    *
    * CRASH SAFETY: the accepted output is written first, then a
    * pending manifest, then the three index appends, then the manifest
    * drop — see [[repairPendingAppends]] for how any crash point
    * replays to a consistent corpus + indexes. */
  def runIncremental(spark: SparkSession, sourceDir: String, outDir: String,
                     postingsTable: String, hashTable: String,
                     holdout: Option[org.apache.spark.sql.DataFrame] = None,
                     chunkTable: Option[String] = None,
                     chunkMaxDocFreq: Long = 100L,
                     semanticTable: Option[String] = None,
                     deltaEmbeddings: Option[org.apache.spark.sql.DataFrame] = None,
                     charlmTable: Option[String] = None,
                     charlmRareFracMax: Option[Double] = None,
                     charlmRareBelow: Double = 0.001,
                     pqRetrainQerr: Double = 0.5,
                     compactFilesPerBucket: Int = 64,
                     compactFilesPerBucketByTable: Map[String, Int] = Map.empty,
                     broadcastIdFrames: Boolean = true): Summary = {
    // Swap recovery FIRST-FIRST: a compaction (or chunk recap) crash
    // between its DROP and RENAME leaves the only copy of an index
    // under __staging — promote it before ANYTHING reads the tables
    // (metadata-only, no-op in every healthy state).
    (Seq(postingsTable, postingsTable + "__sigs", hashTable) ++ chunkTable ++
      semanticTable ++ semanticTable.map(_ + "__pq") ++ charlmTable)
      .foreach(Sinks.recoverTableSwap(spark, _))
    // Crash recovery FIRST: a leftover pending manifest means a prior
    // run died between its index appends — complete them before any
    // decision reads the tables. If the crashed run was THIS outDir's,
    // its accepted output is already on disk and fully indexed now;
    // re-processing the same delta would classify every doc as
    // already-ingested and OVERWRITE the day's output with an empty
    // set, so return the recovered day instead.
    repairPendingAppends(spark, postingsTable).foreach { crashedOutDir =>
      if (crashedOutDir == outDir)
        return Map(
          "accepted" -> spark.read.parquet(s"$outDir/accepted").count(),
          "repaired" -> 1L)
    }
    // Day-zero observability, BEFORE any gate: the raw delta's
    // per-source heavy-hitters snapshot to the DAY's directory (k
    // sketch rows per source — what flooded this feed today,
    // including everything the gates below drop). Written to outDir,
    // not a global table, so a crash-rerun overwrites the same
    // LOCATION instead of double-appending — append-idempotent only:
    // MG sketch content is update/merge-order dependent, so a rerun
    // under different partitioning may legally land different
    // borderline (term, est) rows (the MG contract booleans, not row
    // content, are the stable surface — see heavyHittersSnapshot's
    // doc). Deliberately outside the pending-manifest discipline (a
    // monitoring view, rebuildable from the raw delta, never an
    // accept/drop input).
    val rawDelta = Tables.documents(spark, sourceDir)
    Sinks.writeParquet(
      operators.Corpus.heavyHittersSnapshot(rawDelta),
      s"$outDir/heavy_hitters", Seq())
    val d = decideDelta(spark, rawDelta, postingsTable, hashTable, holdout,
      chunkTable, semanticTable, deltaEmbeddings, charlmTable,
      charlmRareFracMax, charlmRareBelow,
      broadcastIdFrames = broadcastIdFrames)
    import d.{accepted, charlmDropped, contaminated, corpusHits, corpusIds,
      exactNew, exactWithin, quality, semHits, substrHits}

    Sinks.writeParquet(
      accepted.withColumn("content", TextOps.redact(col("content"))),
      s"$outDir/accepted", Seq("lang"))
    val acceptedText = accepted.select(col("doc_id"), col("content").as("text"))
    val acceptedN = accepted.count()
    // The index appends are three separate non-atomic writes; the
    // pending manifest written HERE (after the day's output, before
    // any append) is what makes a crash among them recoverable — the
    // next run's repairPendingAppends completes exactly the missing
    // entries and drops the manifest. An empty day appends nothing,
    // so it needs no manifest.
    // the semantic arm is live only when BOTH the index and the day's
    // vectors exist — a vector-less day appends nothing semantic and
    // must not record the index name in the manifest (repair would
    // otherwise look for vectors the manifest cannot carry)
    val semArm = semanticTable.zip(deltaEmbeddings)
    if (acceptedN > 0) {
      val manifestBase = acceptedText
        .withColumn("content_md5", md5(col("text")))
        .withColumn("out_dir", lit(outDir))
        .withColumn("hash_table", lit(hashTable))
        .withColumn("chunk_table",
          chunkTable.map(lit(_)).getOrElse(lit(null)).cast("string"))
        .withColumn("semantic_table",
          semArm.map(a => lit(a._1)).getOrElse(lit(null)).cast("string"))
        .withColumn("charlm_table",
          charlmTable.map(lit(_)).getOrElse(lit(null)).cast("string"))
      semArm.map { case (_, embs) =>
        manifestBase.join(embs.select(col("doc_id"), col("embedding")),
          Seq("doc_id"), "left")
      }.getOrElse(manifestBase.withColumn("embedding", lit(null).cast("array<float>")))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(postingsTable + "__pending")
    }
    // the day's signatures / distinct hashes / chunk rows each
    // materialize ONCE (checkpointed): the bloom merge reads them
    // first, then the appends and the df-cap check consume them.
    // SIGNATURES are the checkpoint grain, not banding rows (r19):
    // the expensive job is the md5 minhash over the day's text; the
    // banding on top is a map-only xxhash over the 64-slot array, so
    // re-deriving it per consumer costs nothing while the checkpoint
    // shrinks 16× (one 512 B sig per doc instead of per posting row)
    // and the split layout's sig append consumes the checkpoint
    // directly — no dropDuplicates shuffle over sig-carrying rows.
    val daySigs = Dedup.minhashSignatures(acceptedText).localCheckpoint()
    val dayBands = Dedup.bandedFromSigs(daySigs)
    val dayHashes = acceptedText.select(md5(col("text")).as("content_md5"))
      .distinct().localCheckpoint()
    val deltaChunks = chunkTable.map { _ =>
      Dedup.chunkPostings(acceptedText).localCheckpoint() }
    // ALL maintained blooms merge in ONE batched call (r15 VERDICT:
    // three sequential sharded merges cost ~5 s/day of pure job
    // overhead — batching keys every step by (arm, shard) so the
    // three key spaces share one metadata collect, one day-key
    // aggregate, one day-filter shuffle and one OR-merge pass), and
    // they merge BEFORE the table appends (r15 ADVICE, medium): the
    // streaming corpus guard reads bloom + table concurrently, and
    // merge-first keeps bloom ⊇ table at every instant — a doc in
    // the bloom but not yet the table is an extra maybe (harmless
    // anti-join work); the reverse order had a window where an
    // already-appended doc probed definitely-new, a duplicate leak.
    // Rebuild paths fired mid-merge union the day frames explicitly
    // (the tables don't hold them yet). Crash rules unchanged: any
    // crash before the manifest drop re-merges idempotently via
    // repairPendingAppends (bloom puts set the same bits).
    // Band arm: raw (band, band_hash) day keys + the key EXPRESSION
    // as hashCol — the merge's saturation/crash rebuild paths
    // re-apply hashCol to the postings TABLE itself, so it must be
    // derivable there too. Distinct day KEYS (not banding rows) so
    // the items metadata counts what actually occupies the filter.
    if (acceptedN > 0)
      Dedup.mergeHashBlooms(spark, Seq(
        (postingsTable,
          dayBands.select(col("band"), col("band_hash")).distinct(),
          Dedup.bandKeySql),
        // the doc-id key space (r17 VERDICT #2) rides the same batched
        // merge — an arm is one more (arm, shard) key group, not one
        // more job set; a pre-r18 bootstrap has no __ids__bloom and
        // the arm no-ops. Day keys are the ids that actually ENTER
        // the postings table (banded docs — the __ids view's
        // contents), NOT all accepted ids: an accepted doc below the
        // 3-token shingle floor never posts, and merging its id
        // would make the compaction recount UNDER-state filter
        // occupancy against the view (r18 self-review — the exact
        // filter==table drift recountBloomItems' exactness rests on)
        (Dedup.idsSpaceOf(postingsTable),
          dayBands.select(col("doc_id")).distinct(), Dedup.idKeySql),
        (hashTable, dayHashes, "content_md5")) ++
        chunkTable.zip(deltaChunks).map { case (t, c) =>
          (t, c.select(col("chunk_hash")).distinct(), "chunk_hash") })
    // split-layout dispatch (r18): a split index appends the day's
    // one-sig-per-doc forward rows plus slim posting rows; a legacy
    // single-table index keeps appending sig-carrying rows unchanged.
    // SIGS FIRST (r18 ADVICE): an orphan sig row is harmless, but a
    // posting row without its sig would silently vanish from the
    // split probe's inner sig join for any reader — the streaming
    // accept-preview sink — that probes between a crash and the next
    // run's pending-manifest repair.
    // CONCURRENT append groups (r19, the split layout's fixed-cost
    // trim — r18 VERDICT #1): the day's appends target DISTINCT
    // tables with no cross-group ordering constraint (the one
    // in-group order, sigs before postings, stays sequential inside
    // its group), so they submit as concurrent driver-side jobs and
    // the scheduler overlaps their delta-sized shuffles instead of
    // paying one sequential job round-trip per index — on local[32]
    // the five groups' fixed costs collapse into ~the slowest one,
    // and on a real cluster concurrent small jobs fill scheduler
    // slots a sequential chain leaves idle. Crash contract
    // unchanged: every group runs AFTER the batched bloom merge
    // (bloom ⊇ table at every instant) and BEFORE the manifest drop,
    // each group's writes are idempotently re-repairable, and ALL
    // groups settle before the first failure rethrows — a failed day
    // never drops its manifest.
    val bandGroup = () => {
      if (spark.catalog.tableExists(postingsTable + "__sigs")) {
        Sinks.appendBucketed(daySigs, postingsTable + "__sigs", Seq("doc_id"))
        Sinks.appendBucketed(
          dayBands.select(col("band"), col("band_hash"), col("doc_id")),
          postingsTable, Seq("band", "band_hash"))
      } else
        Sinks.appendBucketed(dayBands, postingsTable, Seq("band", "band_hash"))
      (false, false)
    }
    val hashGroup = () => {
      Sinks.appendBucketed(dayHashes, hashTable, Seq("content_md5"))
      (false, false)
    }
    val chunkGroups = chunkTable.zip(deltaChunks).map { case (t, c) =>
      () => {
        Sinks.appendBucketed(c, t, Seq("chunk_hash"))
        (false, false)
      }
    }
    // semantic index append: the accepted docs' vectors, assigned to
    // their persisted-centroid cells — tomorrow's probe must see
    // today. The PQ twin appends the same docs' code rows (persisted
    // codebooks encode them — no retraining in the steady state),
    // keeping both tiers of the probe complete in lockstep — UNLESS
    // the day's vectors breach the quantization-error bar: a frozen
    // codebook only bounds error for data like its training corpus,
    // so a day landing out-of-distribution vectors (feed shifts
    // topic, embedder changes) would encode them so poorly the PQ
    // tier could miss their future paraphrases past any margin. On
    // breach, RETRAIN codebooks + RE-ENCODE the whole index from the
    // full-vector table (coarse centroids stay shared/unchanged) —
    // the semantic analog of the chunk df-cap auto-recap: amortized,
    // auto-triggered, and a crash mid-rewrite only loses the PQ
    // table, which downgrades the probe to the exact one-tier arm,
    // never to wrong answers.
    val semGroups = semArm.map { case (t, embs) => () => {
      val dayVecs = embs.join(broadcast(accepted.select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
      Sinks.appendBucketed(
        graft.operators.Ann.semanticIndexRows(dayVecs, spark.table(t + "__centroids")),
        t, Seq("cell"))
      // DEGRADED-TIER REPAIR: a crash mid-retrain leaves codebooks
      // without their code index (writeSemanticIndexPq drops the index
      // FIRST, by design — see its crash-consistency note). Without
      // this check the probe would silently stay one-tier forever:
      // nothing below recreates an absent __pq table. The surviving
      // codebooks' generation is unknowable (crash before vs after the
      // codebook overwrite), so the repair is the full retrain +
      // re-encode the interrupted run was attempting — AFTER today's
      // full-vector append above, so the rebuilt index includes today.
      if (!spark.catalog.tableExists(t + "__pq") &&
          spark.catalog.tableExists(t + "__pq__codebooks")) {
        graft.operators.Pq.writeSemanticIndexPq(
          spark.table(t).select(col("doc_id"), col("emb").as("embedding")),
          t + "__pq",
          sharedCentroids = Some(spark.table(t + "__centroids")))
        (true, true)
      } else if (!spark.catalog.tableExists(t + "__pq")) (false, false)
      else {
        val worst = graft.operators.Pq.quantizationError(
            dayVecs, spark.table(t + "__pq__codebooks"))
          .agg(max(col("qerr"))).first()
        // drift = the day quantizes MATERIALLY WORSE than the training
        // corpus itself did: threshold 2× the codebooks' stamped
        // training bar (≈1.4× in distance — squared errors), floored
        // at the absolute `pqRetrainQerr` for near-zero-bar corpora.
        // An absolute threshold alone mislabeled every day of a
        // high-entropy embedding space as drift (r19: the daily
        // retrain+re-encode was the dominant steady-state fixed
        // cost). No stamp (pre-r19 index, crash before the stamp) →
        // the absolute fallback, and any retrain it triggers stamps.
        val bar = graft.operators.Pq.qerrBar(spark, t + "__pq__codebooks")
          .map(b => math.max(pqRetrainQerr, 2.0 * b)).getOrElse(pqRetrainQerr)
        val breach = !worst.isNullAt(0) && worst.getDouble(0) > bar
        if (breach)
          graft.operators.Pq.writeSemanticIndexPq(
            spark.table(t).select(col("doc_id"), col("emb").as("embedding")),
            t + "__pq",
            sharedCentroids = Some(spark.table(t + "__centroids")))
        else
          // projected to the PERSISTED index's columns: a pre-qerrs
          // table (24 B/doc) keeps taking appends — and keeps probing
          // on the scalar bound — until its next retrain writes the
          // 32 B/doc form; appending the wider frame verbatim would
          // fail the very first post-upgrade day and wedge on replay
          Sinks.appendBucketed(
            projectToTable(spark, graft.operators.Pq.semanticIndexRowsPq(dayVecs,
              spark.table(t + "__centroids"), spark.table(t + "__pq__codebooks")),
              t + "__pq"),
            t + "__pq", Seq("cell"))
        (breach, false)
      }
    }}
    // charlm model append: the accepted day's aggregated trigram
    // counts, tagged with this run's outDir as the append id — one
    // |alphabet|^3-bounded row set per ingest; tomorrow's gate sums
    // the grown model without re-reading any corpus document
    val charlmGroups = (if (acceptedN > 0) charlmTable.toSeq else Seq.empty).map {
      t => () => {
        Sinks.appendBucketed(
          TextOps.charlmCounts(acceptedText).withColumn("append_id", lit(outDir)),
          t, Seq("tri"))
        (false, false)
      }
    }
    // settle EVERY group before the first failure rethrows: a crash
    // report must never race still-running writes, and a failed day
    // keeps its manifest for the next run's repair
    val (pqRetrained, pqRepaired) = runConcurrently(spark,
        Seq(bandGroup, hashGroup) ++ chunkGroups ++ semGroups ++ charlmGroups)
      .foldLeft((false, false)) { case ((rt, rp), (t2, p2)) => (rt || t2, rp || p2) }
    if (acceptedN > 0) spark.sql(s"DROP TABLE IF EXISTS ${postingsTable}__pending")
    // Df-cap maintenance, AUTO-TRIGGERED: appends never re-check the
    // global doc-frequency cap, so a chunk can creep over it across
    // many ingests — and a breach can only happen on the day an append
    // grows that chunk's postings, which means checking ONLY the
    // hashes today's delta touched catches every breach the day it
    // occurs. The check is a bucketed index probe against the
    // broadcast delta hash set (index-only — no corpus scan, and not
    // even a full index aggregate); on breach the staged
    // [[operators.Dedup.recapChunkPostings]] rewrite restores the
    // invariant without a manual maintenance call.
    val recapped = chunkTable.zip(deltaChunks).exists { case (t, c) =>
      val breached = acceptedN > 0 && spark.table(t)
        .join(broadcast(c.select(col("chunk_hash")).distinct()),
          Seq("chunk_hash"), "left_semi")
        .groupBy(col("chunk_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") > chunkMaxDocFreq)
        .limit(1).count() > 0
      if (breached) {
        Dedup.recapChunkPostings(spark, t, chunkMaxDocFreq)
        // the recap REMOVED keys whose bits stay set in the chunk
        // bloom: a later items recount against the shrunk table
        // would UNDER-state occupancy and delay the saturation
        // rebuild past the declared fpp (r15 ADVICE) — rebuild the
        // filter from the recapped table (form-preserving,
        // index-sized, paid only on recap days) so filter == table
        // and the compaction recount's exactness claim holds again
        Dedup.rebuildHashBloom(spark, t, "chunk_hash")
      }
      breached
    }
    // Small-files maintenance, AUTO-TRIGGERED: every maintained index
    // gains one file per bucket per accepted day (appendBucketed's
    // one-file-per-bucket contract), so after ~compactFilesPerBucket
    // days a probe opens that many footers per bucket. Each table
    // compacts independently through the durable staging swap (crash
    // mid-swap → the recovery sweep at the top of this method);
    // content-neutral, so the persisted blooms and every probe stay
    // valid across it. Freshly rewritten tables (a chunk recap, a PQ
    // retrain) have one file per bucket already and no-op here. Runs
    // AFTER the manifest drop: a compaction crash can never leave the
    // day's appends half-replayed.
    //
    // `compactFilesPerBucketByTable` staggers the cadence per table
    // (r15 VERDICT #4): every index gains files at the same one-per-
    // bucket-per-day rate, so ONE global ceiling makes every rewrite
    // fire on the SAME day — and the rewrites are index-sized, with
    // the band-postings index ~bands× the hash set, so the
    // maintenance cost clusters into a spike day instead of
    // spreading. Distinct ceilings (e.g. postings at 48, hash at 64)
    // put each table's rewrite on its own day; unlisted tables keep
    // the global knob.
    val compacted: Seq[(String, Option[String])] = Seq(
      postingsTable -> Some(Dedup.bandKeySql),
      hashTable -> Some("content_md5")) ++
      // the split layout's forward sig table gains one file per
      // bucket per day like every other append target; no bloom key
      // space of its own (the id/band spaces cover its keys)
      Seq(postingsTable + "__sigs" -> None)
        .filter(p => spark.catalog.tableExists(p._1)) ++
      chunkTable.map(_ -> Some("chunk_hash")) ++
      semanticTable.map(_ -> None) ++
      semanticTable.map(_ + "__pq" -> None)
        .filter(p => spark.catalog.tableExists(p._1)) ++
      charlmTable.map(_ -> None)
    val compactedN = compacted.count { case (t, bloomKey) =>
      val did = Sinks.compactBucketedIfFragmented(spark, t,
        maxFilesPerBucket = compactFilesPerBucketByTable.getOrElse(t, compactFilesPerBucket))
      // piggyback on the compaction's index-sized pass: re-pin the
      // table's bloom items metadata to the exact distinct count, so
      // the saturation trigger stops compounding the daily merges'
      // over-approximation (sound but early-rebuilding)
      if (did) bloomKey.foreach(Dedup.recountBloomItems(spark, t, _))
      // the postings table carries a SECOND key space (the doc-id
      // bloom over its __ids view) — same recount license: crash
      // re-merges can double-count ids, and the compaction just paid
      // the index pass anyway (no-op when no ids bloom is maintained)
      if (did && t == postingsTable)
        Dedup.recountBloomItems(spark, Dedup.idsSpaceOf(t), Dedup.idKeySql)
      did
    }
    // summary counts over already-checkpointed frames, CONCURRENT
    // (r20): nine sequential tiny count jobs cost one driver
    // round-trip each — the probe-side runConcurrently discipline
    // applied to the report tail; values are unchanged (every frame
    // is pinned, so a count is a pure read)
    val summaryCounts = runConcurrently(spark, Seq(
      () => "input" -> Tables.documents(spark, sourceDir).count(),
      () => "quality" -> quality.count(),
      // the dropped-id set is checkpointed — this count does not
      // re-run the corpus-model scoring job
      () => "charlm_dropped" -> charlmDropped.map(_.count()).getOrElse(0L),
      () => "id_collision_dropped" -> corpusIds.count(),
      () => "exact_within" -> exactWithin.count(),
      () => "exact_new" -> exactNew.count(),
      () => "neardup_vs_corpus_dropped" -> corpusHits.count(),
      () => "substring_vs_corpus_dropped" -> substrHits.map(_.count()).getOrElse(0L),
      () => "semantic_vs_corpus_dropped" -> semHits.map(_.count()).getOrElse(0L),
      () => "decontaminated" -> contaminated.map(_.count()).getOrElse(0L)))
    Map(
      "compacted_indexes" -> compactedN.toLong,
      "chunk_recap" -> (if (recapped) 1L else 0L),
      "semantic_pq_retrain" -> (if (pqRetrained) 1L else 0L),
      // 1 when this run found codebooks WITHOUT their code index (a
      // crash window mid-retrain) and rebuilt the PQ tier — the loud
      // signal that the previous run died degraded
      "semantic_pq_repair" -> (if (pqRepaired) 1L else 0L),
      "accepted" -> acceptedN) ++ summaryCounts
  }

  /** End-to-end TRAINING-DATA preparation — what a pre-training corpus
    * actually runs over raw documents, composed entirely from the
    * operators the registry verifies one by one:
    *
    *   clean → quality gate → exact dedup → near-dup + substring-dup
    *   clustering → keep-the-longest-per-cluster → PII redaction →
    *   deterministic train/holdout split → HOLDOUT DECONTAMINATION →
    *   partitioned writes.
    *
    * Stage order is the scale order: the cheap row-local gates (clean,
    * quality) shrink the corpus before anything that shuffles; exact
    * dedup (one hash shuffle) runs before the costlier pair passes;
    * PII redaction is a zero-shuffle projection so it rides the final
    * write; the split adds a column, not a shuffle. The cluster stage
    * unions BOTH pair generators — whole-document near-dups
    * ([[graft.operators.Dedup.ngramJaccardPairs]]) and HEAVY
    * passage-level copies ([[graft.operators.Dedup.substringDupPairs]]
    * at a high 64-shared-token bar) — each bounded by its
    * doc-frequency cap. The thresholds are deliberately ASYMMETRIC:
    * clustering DELETES a document, so it demands substantial
    * duplication; the post-split decontamination only protects the
    * eval boundary, so it fires aggressively (8 shared tokens) — train
    * docs sharing whole CDC chunks with the eval side are DROPPED from
    * train (never from test). Light passage sharing inside train is
    * tolerated; the same passage across the split is contamination.
    * The returned counts give per-stage survivor numbers — the
    * curation funnel every training-data run reports.
    *
    * `postingsTable` / `hashTable`: when set, the run also persists
    * the cross-run dedup state [[runIncremental]] probes — the banded
    * MinHash postings index and the exact content-hash set, BOTH over
    * the PRE-redact cleaned content (the text this run's own pair
    * graphs read; bootstrapping hashes from the written — redacted —
    * splits would mismatch every doc redaction touched, and exact
    * duplicates of those docs would be re-accepted daily). Pass both
    * for a consistent bootstrap; [[bootstrapIncremental]] covers the
    * corpus-already-in-hand case. */
  def runTrainingPrep(spark: SparkSession, sourceDir: String, outDir: String,
                      testBuckets: Int = 410,
                      postingsTable: Option[String] = None,
                      hashTable: Option[String] = None,
                      chunkTable: Option[String] = None,
                      charlmRareFracMax: Option[Double] = None,
                      charlmRareBelow: Double = 0.001,
                      bpePackingMerges: Option[Int] = None): Summary = {
    val silver = Cleaning.silver(Tables.documents(spark, sourceDir))
    val ruleQuality = silver.filter(col("content").isNotNull && col("content_length") > 50)
    // optional CORPUS-RELATIVE quality arm ([[TextOps.charlmScore]]):
    // train the bounded char-trigram model on the rule-gate survivors
    // themselves and drop docs whose fraction of rare trigram
    // positions exceeds the cap — the garbled/encoding-damaged text a
    // fixed rule battery misses. Runs BEFORE dedup so a damaged doc
    // can never become a cluster's surviving canonical. Both knobs are
    // corpus-calibrated: `charlmRareBelow` is what counts as a rare
    // trigram position (1e-3 suits corpus-scale counts; smaller
    // corpora need a higher bar), `charlmRareFracMax` how much of a
    // doc may be rare before it drops.
    val quality = charlmRareFracMax match {
      case None => ruleQuality
      case Some(maxFrac) =>
        val text = ruleQuality.select(col("doc_id"), col("content").as("text"))
        val improbable = TextOps.charlmRareDropIds(text,
          TextOps.charlmCounts(text).select(col("tri"), col("n").as("c3")),
          charlmRareBelow, maxFrac)
        ruleQuality.join(improbable, Seq("doc_id"), "left_anti")
    }
    val exact = Cleaning.dedupKeepFirst(quality, md5(col("content")), col("doc_id"))

    // near-dup + substring-dup clustering over the exact-deduped
    // survivors — one connected-components pass over the UNION of both
    // pair graphs, so a doc that is a near-dup of A and shares a
    // passage with B lands in one cluster; the star-rounds CC is the
    // production default (O(log^2 n) rounds for any component shape,
    // same min-id labeling), reading the pairs once in its first round
    val textOnly = exact.select(col("doc_id"), col("content").as("text"))
    val pairCols = Seq("doc_id_1", "doc_id_2")
    val clusters = Dedup.clusterPairsStar(
      Dedup.ngramJaccardPairs(textOnly).select(pairCols.map(col): _*)
        .unionByName(Dedup.substringDupPairs(textOnly, minSharedTokens = 64L)
          .select(pairCols.map(col): _*)))
    // keep policy: the LONGEST member of each cluster survives (the
    // truncated mirror loses to the full copy), not the arbitrary
    // min-id member — lengths measured on the cleaned content the
    // clusters were built from
    val deduped = Dedup.applyCanonical(exact, clusters,
      Dedup.canonicalPerCluster(textOnly, clusters))

    val prepared = deduped.withColumn("content", TextOps.redact(col("content")))
    // persist the split ONCE: four consumers fan out from here (the
    // decontamination job reads both branches, then each side is
    // written) — unpersisted, each would re-run the whole
    // silver→dedup→cluster→redact prefix including its shuffles
    val split = TextOps.hashSplit(prepared, col("doc_id"), testBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val trainAll = split.filter(col("split") === "train").drop("split")
    val test = split.filter(col("split") === "test").drop("split")
    // holdout decontamination: passage leakage ACROSS the split that
    // survived clustering (the copies sat in different clusters). The
    // contaminated set is tiny by construction — localCheckpoint
    // materializes the chain once for the count and the anti-join. No
    // broadcast hint on either join: the test split is a constant
    // FRACTION of the corpus (multi-TB at full scale), and even the
    // contaminated set is only expected-tiny — AQE broadcasts when the
    // runtime sizes allow and degrades to shuffled joins when not,
    // instead of an OOM'd driver on a pathological corpus.
    val contaminated = TextOps.decontaminateSubstring(
        trainAll.select(col("doc_id"), col("content").as("text")),
        test.select(col("doc_id"), col("content").as("text")))
      .select(col("doc_id")).localCheckpoint()
    val decontamN = contaminated.count()
    Sinks.writeParquet(
      trainAll.join(contaminated, Seq("doc_id"), "left_anti"),
      s"$outDir/train", Seq("lang"))
    Sinks.writeParquet(test, s"$outDir/test", Seq("lang"))

    // cross-run dedup state: postings + hashes over the text the NEXT
    // run's candidates will be judged against (cleaned, pre-redact —
    // the same column this run's own pair graphs read), restricted to
    // the docs ACTUALLY WRITTEN (train-post-decontam ∪ test = deduped
    // minus the contaminated drops). Indexing `deduped` directly would
    // register the contaminated docs as corpus members although no
    // output holds them, and a future delta re-delivering that content
    // would be rejected as 'corpus wins' against a ghost (r11 ADVICE).
    // One derivation shared by all three writes.
    val indexSource = deduped.select(col("doc_id"), col("content").as("text"))
      .join(contaminated, Seq("doc_id"), "left_anti")
    postingsTable.foreach(t => Dedup.writeBandPostings(indexSource, t))
    hashTable.foreach { t =>
      Sinks.writeBucketed(
        indexSource.select(md5(col("text")).as("content_md5")).distinct(),
        t, Seq("content_md5"))
      // same bloom bootstrap as bootstrapIncremental — the daily
      // exact arm's map-side prefilter starts live immediately
      Dedup.writeHashBloom(spark, t)
    }
    chunkTable.foreach { t =>
      Dedup.writeChunkPostings(indexSource, t)
      Dedup.writeHashBloom(spark, t, hashCol = "chunk_hash")
    }

    def written(path: String): Long =
      spark.read.schema(prepared.schema).parquet(path).count()

    // the funnel: input -> quality -> exact -> near-dup -> split sizes.
    // quality/exact/deduped counts re-derive their (lazy) frames; the
    // expensive near-dup stage is NOT re-run for counting — train/test
    // are counted from the written parquet footers and deduped's count
    // is their sum.
    val trainN = written(s"$outDir/train")
    val testN = written(s"$outDir/test")

    // final layout: the written TRAIN split gets its concat-and-split
    // packing assignment (Corpus.packSequences contract) — the map a
    // loader consumes to materialize context windows. Domain-keyed, so
    // the assignment survives any re-read partitioning.
    val packed = operators.Corpus.packSequences(
      spark.read.schema(prepared.schema).parquet(s"$outDir/train")
        .select(col("doc_id"), col("content").as("text")))
    Sinks.writeParquet(packed, s"$outDir/train_packing", Seq())
    val bins = spark.read.parquet(s"$outDir/train_packing")
      .select(col("domain"), col("bin")).distinct().count()
    // optional BPE-budget packing map next to the whitespace one
    // (`bpePackingMerges` = the tokenizer's merge count): the map a
    // loader consuming BPE sequences budgets windows with — the
    // whitespace map over-fills wherever words fragment into
    // multiple BPE tokens. Same domain-keyed, re-read-stable
    // assignment contract as train_packing.
    bpePackingMerges.foreach { merges =>
      Sinks.writeParquet(
        operators.Corpus.packSequencesBpe(
          spark.read.schema(prepared.schema).parquet(s"$outDir/train")
            .select(col("doc_id"), col("content").as("text")),
          merges = merges),
        s"$outDir/train_packing_bpe", Seq())
    }

    // curriculum map over the SAME written train split: quality-
    // quantile bucket per doc (Corpus.curriculumAssign — sample-
    // boundary buckets, no global sort), so a trainer can schedule
    // highest-quality buckets first (or easy→hard) without re-scoring;
    // like the packing map, assignment is a pure row function and
    // survives any re-read partitioning
    Sinks.writeParquet(
      operators.Corpus.curriculumAssign(
        spark.read.schema(prepared.schema).parquet(s"$outDir/train")
          .select(col("doc_id"), col("content").as("text"),
            col("content_length").as("n_chars"))),
      s"$outDir/train_curriculum", Seq())
    val curriculumBuckets = spark.read.parquet(s"$outDir/train_curriculum")
      .select(col("bucket")).distinct().count()

    // last mile: the deterministic global shuffle, materialized as
    // shard=K/ directories in read order (Corpus.shuffleShards +
    // Sinks.writeShards) — the layout a trainer streams directly;
    // re-running the pipeline reproduces byte-identical shard order
    val numShards = 8
    Sinks.writeShards(
      operators.Corpus.shuffleShards(
        spark.read.schema(prepared.schema).parquet(s"$outDir/train"), numShards),
      s"$outDir/train_shards", numShards)
    val shardN = spark.read.parquet(s"$outDir/train_shards")
      .select(col("shard")).distinct().count()

    // one evaluation each: with the charlm arm on, quality.count()
    // re-runs the corpus-scale model-train + score + anti-join — the
    // summary must not pay that job twice (nor an extra silver scan
    // when the arm is off, where ruleQuality IS quality)
    val qualityN = quality.count()
    val charlmDroppedN =
      charlmRareFracMax.map(_ => ruleQuality.count() - qualityN).getOrElse(0L)
    Map(
      "input" -> Tables.documents(spark, sourceDir).count(),
      "quality" -> qualityN,
      // 0 when the arm is off — the summary keys stay stable
      "charlm_dropped" -> charlmDroppedN,
      "exact_deduped" -> exact.count(),
      "near_deduped" -> (trainN + testN + decontamN),
      "decontaminated" -> decontamN,
      "train" -> trainN,
      "test" -> testN,
      "train_bins" -> bins,
      // 0 when the optional BPE map is off — summary keys stay stable
      "train_bpe_bins" -> bpePackingMerges.map(_ =>
        spark.read.parquet(s"$outDir/train_packing_bpe")
          .select(col("domain"), col("bin")).distinct().count()).getOrElse(0L),
      "curriculum_buckets" -> curriculumBuckets,
      "train_shards" -> shardN)
    } finally split.unpersist()
  }
}
