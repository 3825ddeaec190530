package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for the embedding column — the ANN
  * memory path the flat indexes cannot offer at corpus scale
  * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search"; the reference engine ships no ANN at all — see
  * SURVEY.md §2 #30-32 for the similarity-search family this
  * extends).
  *
  * The embedding is split into `m` contiguous subspaces of
  * `subDims` dims; each subspace gets its own `ksub`-centroid
  * L2 k-means codebook; a vector's code is its per-subspace
  * argmin cell — `m` small ints instead of `dims` floats. At 100 TB
  * that is the difference between an un-holdable corpus and an
  * in-memory scan: 100 B vectors × 64 fp32 dims = 25.6 TB of raw
  * vectors, but m=8 byte codes are 800 GB — a size a 1000-executor
  * cluster holds in memory. Queries scan CODES, not vectors
  * (asymmetric distance computation): each query precomputes an
  * m × ksub table of subspace distances ONCE, then every candidate
  * costs m array lookups — no per-candidate float math at all. Full
  * vectors are touched only to re-rank the top-R ADC survivors.
  * The PQ top-k itself is [[Ann.topK]] with `Codec.Pq`; this object
  * holds the codebook training, the encode, the ADC tables and the
  * persisted PQ semantic index.
  *
  * Every stage is engine-portable by the same conventions the
  * trained-IVF family proved (Ann.kmeansCentroids): float→double
  * widening, left-to-right sequential folds for every distance, and
  * deterministic re-center means folding members in ascending
  * `vec_id` — so DuckDB replays training, codes, ADC and re-rank
  * bit-for-bit ([[graft.OracleSql.pqCodesSql]] /
  * [[graft.OracleSql.pqQuerySql]]).
  */
object Pq {

  /** Sequential-fold squared L2 distance between two equal-length
    * double arrays: 0.0 + (a1-b1)² + (a2-b2)² + … left-to-right —
    * the one fold convention every PQ oracle replays
    * (`list_reduce(list_transform(range(…)))` on the DuckDB side). */
  private[graft] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** The full codebook set packed to ONE row `subcents[j]` = subspace
    * j's `array<struct<cell, cemb>>` (subspaces ascending) — what
    * [[graft.functions.PqEncode]] consumes as a 1-row broadcast, the
    * same packed layout [[queryTables]] always used. Cell ORDER within
    * a subspace's array is irrelevant: the encode compares (d², cell)
    * explicitly, exactly like the struct-sort it replaced. */
  private def subcentsRow(cb: DataFrame): DataFrame =
    cb.agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
      p => p.getField("cents")).as("subcents"))

  /** Codebook rows `(sub, cell, cemb)` packed to the (sub, cents) layout the
    * assignment/ADC internals consume. */
  private def packCodebooks(codebooks: DataFrame): DataFrame =
    codebooks.groupBy(col("sub"))
      .agg(collect_list(struct(col("cell"), col("cemb"))).as("cents"))

  /** Fused per-vector PQ encode against the packed codebooks: one
    * native expression per row emits (codes, per-subspace d²s, Σd²) —
    * all m subspace argmins with the exact l2sq fold and (d², cell)
    * tie order of the declarative chain it replaces, zero shuffle,
    * zero joins (r20; the corpus-side groupBy(vec_id) that used to
    * reassemble code arrays is gone with it). */
  private[graft] def encodedRows(e: DataFrame, cb: DataFrame): DataFrame =
    e.crossJoin(broadcast(subcentsRow(cb)))
      .withColumn("enc", call_function("graft_pq_encode", col("emb"), col("subcents")))
      .drop("subcents")

  /** One trained PQ codebook set in the packed layout
    * [[graft.functions.PqEncode]] reads: subspaces ascending, each its
    * cells ascending. */
  private[graft] type Subcents = Seq[Seq[PqCell]]

  /** One codebook cell as the plan literal [[graft.functions.PqEncode]] reads. */
  private[graft] final case class PqCell(cell: Long, cemb: Seq[Double])

  /** Codebook sets for several LAYOUTS of the same vectors, trained in
    * the same rounds: layout `s` is the embedding expression
    * `layouts(s)` over `e`'s rows, and its result is the `s`-th set.
    * Seed = the `ksub` lowest vec_ids' subvectors, RANKED to dense cells
    * 0..ksub-1 (the ADC code→array-index contract REQUIRES dense cells,
    * whatever the id space) — one collect; then `iters` rounds of
    * [[Ann.lloyd]] under squared L2, ALL subspaces and layouts in one
    * job per round. A round's assignment is the fused native encode
    * against each layout's codebook literal (no explode before it, no
    * codebook join); its members are the whole subvectors keyed by
    * (layout, subspace × ksub + cell). Each layout's sets are bitwise
    * the ones it trains alone: the groups never mix layouts.
    *
    * The training frame is pinned for the rounds ([[Ann.pin]]). */
  private[graft] def trainLayouts(e: DataFrame, layouts: Seq[Column], m: Int, subDims: Int,
                                  ksub: Int, iters: Int, deterministic: Boolean): Seq[Subcents] = {
    require(iters >= 0 && ksub > 0)
    graft.GraftExtensions.register(e.sparkSession) // graft_pq_encode
    val train = (if (iters >= 1) Ann.pin(e) else e)
      .select(col("vec_id") +: layouts.zipWithIndex.map { case (l, s) => l.as(s"l$s") }: _*)
    val rows = train.orderBy(col("vec_id")).limit(ksub).collect()
    val seed: Ann.Centres = (for ((r, cell) <- rows.toSeq.zipWithIndex; s <- layouts.indices;
        j <- 0 until m) yield (s, j.toLong * ksub + cell) ->
      r.getSeq[Number](s + 1).slice(j * subDims, (j + 1) * subDims).map(_.doubleValue).toArray).toMap
    def subcents(c: Ann.Centres, s: Int): Subcents =
      Seq.tabulate(m, rows.length)((j, cell) => PqCell(cell, c((s, j.toLong * ksub + cell)).toSeq))
    val cents = Ann.lloyd(seed, iters, deterministic) { c =>
      train.select(col("vec_id"), explode(concat(layouts.indices.map { s =>
        val l = col(s"l$s")
        transform(call_function("graft_pq_encode", l, typedLit(subcents(c, s))).getField("codes"),
          (code, j) => struct(lit(s).as("set"), (j.cast("long") * ksub + code).as("key"),
            Ann.asDouble(slice(l, j * lit(subDims) + 1, lit(subDims))).as("x")))
      }: _*)).as("a"))
        .select(col("a.set"), col("a.key"), col("vec_id"), col("a.x"))
    }
    layouts.indices.map(subcents(cents, _))
  }

  /** All `m` trained codebooks of `e`'s `emb` ([[trainLayouts]] with the
    * identity layout), one row per subspace `(sub, cents:
    * array<struct<cell, cemb>>)` — one driver-built row exploded, so a
    * consumer reads it without a job to compute it and in one
    * partition. `iters + 1` jobs: the seed, then one per round. The set
    * is m × ksub × subDims doubles — a constant at any corpus size. */
  private[graft] def trainCodebooks(e: DataFrame, m: Int, subDims: Int,
                                    ksub: Int, iters: Int,
                                    deterministic: Boolean): DataFrame =
    e.sparkSession.createDataFrame(Seq(Tuple1(trainLayouts(e, Seq(col("emb")), m, subDims,
      ksub, iters, deterministic).head)))
      .select(posexplode(col("_1")).as(Seq("sub", "cents")))

  /** PQ codes for every vector and subspace against a trained
    * codebook set — the fused native encode, posexploded to the
    * relational (vec_id, sub, code) form. Map-only.
    *
    * OUTER posexplode + null-position filter rather than the plain
    * one (r21): `InferFiltersFromGenerate` turns a non-outer explode
    * of the extracted codes attribute into a `size(codes) > 0 AND
    * isnotnull(codes)` filter that predicate pushdown substitutes
    * back through the extract projection — the plan dump showed
    * graft_pq_encode evaluated THREE times per corpus row (twice in
    * the broadcast-join condition, once in the projection). The rule
    * skips outer generates, and for this array type (containsNull =
    * false by [[graft.functions.PqEncode]]'s dataType) the outer
    * explode emits exactly the inner explode's rows plus one
    * all-null row per empty/null array — which the `sub` null filter
    * removes — so the relational output is row-identical and the
    * encode runs ONCE per row. */
  private def codesFor(e: DataFrame, cb: DataFrame): DataFrame =
    encodedRows(e, cb)
      .select(col("vec_id"),
        posexplode_outer(col("enc.codes")).as(Seq("sub", "code")))
      .filter(col("sub").isNotNull)

  private def embCol(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("emb"))

  /** PQ encoding of the corpus: one row per (vec_id, sub) with that
    * subspace's nearest trained cell — the relational form of the
    * m-byte code. `m` map-side broadcast argmins over the corpus,
    * zero corpus shuffles. */
  def pqCodes(embeddings: DataFrame, m: Int = 8, subDims: Int = 8,
              ksub: Int = 16, iters: Int = 2,
              deterministic: Boolean = false): DataFrame = {
    val e = embCol(embeddings)
    val cb = trainCodebooks(e, m, subDims, ksub, iters, deterministic)
    codesFor(e, cb)
  }

  /** The m × ksub per-query ADC distance table: one row per query,
    * `dtab[j][cell+1]` = ‖q_j − c_{j,cell}‖². Codebook cells are
    * always 0..ksub-1 (seed rule + empty-cell keep), so sorting a
    * codebook by cell makes the array index the cell id. */
  private[graft] def queryTables(q: DataFrame, cb: DataFrame, subDims: Int): DataFrame =
    q.crossJoin(broadcast(subcentsRow(cb)))
      .withColumn("dtab", transform(col("subcents"), (cents, j) =>
        transform(array_sort(cents), c =>
          l2sq(Ann.asDouble(slice(col("qemb"), j * subDims + 1, lit(subDims))),
            c.getField("cemb")))))
      .drop("subcents")

  /** ADC approximate distance of one coded row against a query's
    * table: m lookups folded in subspace order — per-row, fixed
    * order, so bit-stable under ANY partitioning. Native
    * ([[graft.functions.AdcDist]], r20): this is the per-candidate
    * cost of every ADC scan; the interpreted zip_with/aggregate HOF
    * twin it replaces folds in the identical order. */
  private[graft] def adcDist: Column =
    call_function("graft_adc_dist", col("dtab"), col("codes"))

  /** (m, subDims) recovered from a persisted codebook table — one
    * tiny aggregate over the m × ksub codebook rows, so probe/append
    * callers never have to carry training hyper-parameters around. */
  private def codebookShape(codebooks: DataFrame): (Int, Int) = {
    val r = codebooks.agg(
      (max(col("sub")) + 1).cast("int"), max(size(col("cemb"))).cast("int")).first()
    (r.getInt(0), r.getInt(1))
  }

  /** Train-once seam over [[writeSemanticIndexPq]] for the PERSISTED
    * registry rows: the build runs only when its [[graft.InputMemo]] misses —
    * keyed on the session, `(table, deterministic)` and the
    * fingerprint of `vectors`' plan and files, and a hit only while
    * the three tables still hold every file the build wrote, so
    * another writer's rewrite, a rewritten input file or a fresh
    * session rebuilds. Repeat calls in one session — the bench's
    * warm-up → timed pair — then price the PROBE, which is the
    * production read path (`runIncremental` never retrains codebooks
    * on an ordinary day). Values identical either way: deterministic
    * training writes byte-identical tables.
    *
    * NOT for production writers: the daily drift retrain MUST rewrite
    * regardless — it calls [[writeSemanticIndexPq]] directly. */
  def writeSemanticIndexPqOnce(vectors: DataFrame, table: String,
                               deterministic: Boolean = true): Unit =
    pqOnceMemo((table, deterministic), Seq(vectors),
        owned = Seq(table, table + "__centroids", table + "__codebooks"))(_ => Nil) {
      writeSemanticIndexPq(vectors, table, deterministic = deterministic)
    }

  private val pqOnceMemo = new graft.InputMemo[Unit](cap = 8)

  /** Train + persist the PQ-compressed cross-run semantic index — the
    * production form of what [[semanticProbePq]] proves as a
    * registered query: three tables, trained ONCE at bootstrap, only
    * probed and appended-to by daily ingests:
    *
    *   - `<table>__centroids` — the coarse quantizer's k cells
    *     (rank-seeded [[Ann.kmeansCentroids]], identical to
    *     [[Ann.writeSemanticIndex]]'s, so the full-vector index and
    *     the PQ index agree on cell membership);
    *   - `<table>__codebooks` — the m × ksub PQ codebooks
    *     `(sub, cell, cemb)`, the broadcast-scale training product
    *     whose per-probe RETRAINING the registered query pays by
    *     design and production must not;
    *   - `<table>` — one row per corpus doc `(doc_id, cell, codes,
    *     nrm, qerr)`, BUCKETED on `cell`: the 24 B/doc payload (m
    *     code bytes + the stored norm that lets a probe recover
    *     cosine from ADC distance by the law of cosines + the
    *     stored reconstruction error that makes the candidate set
    *     certified — see [[semanticIndexRowsPq]]) that stays
    *     holdable in cluster memory at any corpus size the
    *     full-vector index has long outgrown. */
  def writeSemanticIndexPq(vectors: DataFrame, table: String,
                           numCentroids: Int = 64, trainIters: Int = 3,
                           m: Int = 8, subDims: Int = 8, ksub: Int = 16,
                           iters: Int = 2, buckets: Int = 64,
                           deterministic: Boolean = false,
                           sharedCentroids: Option[DataFrame] = None): Unit = {
    val spark = vectors.sparkSession
    graft.GraftExtensions.register(spark)
    // CRASH CONSISTENCY: the code index must never outlive a codebook
    // overwrite — old codes ADC-scanned against new codebooks are
    // silently wrong distances, the one failure mode worse than no
    // index. Drop the index FIRST: every crash window then leaves
    // "no PQ table", which downgrades the probe to the exact one-tier
    // arm, never corrupts it.
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Stale locations (a managed-table LOCATION surviving its catalog
    // entry — fresh session over a shared warehouse, crash mid-create)
    // are handled REACTIVELY per write below via
    // [[graft.sources.Sinks.writeTableRecoveringStaleLocation]]: only
    // an actual LOCATION_ALREADY_EXISTS failure triggers a sweep, the
    // path comes from the catalog (qualified-name-safe), and the
    // directory must look like an orphaned Spark table — a proactive
    // delete-on-catalog-absence could hit live or unrelated data.
    def recovering(t: String)(w: => Unit): Unit =
      graft.sources.Sinks.writeTableRecoveringStaleLocation(spark, t)(w)
    val e = vectors.select(col("doc_id").as("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", Ann.norm(col("emb")))
    // `sharedCentroids`: reuse an already-persisted coarse quantizer
    // (e.g. the full-vector index's `__centroids`) instead of
    // training one — REQUIRED when the PQ index lives next to a
    // full-vector index of the same corpus, because the confirm pass
    // prunes the full index by the PQ probe's cell ids: two
    // independently-trained quantizers would disagree on membership
    // and the prune would read the wrong cells.
    if (sharedCentroids.isEmpty) {
      val cents = Ann.kmeansCentroids(e, numCentroids, trainIters, deterministic,
        rankSeed = true)
      recovering(table + "__centroids") {
        Ann.unpackCentroids(cents)
          .write.mode("overwrite").format("parquet").saveAsTable(table + "__centroids")
      }
    }
    val centroidRows = sharedCentroids.getOrElse(spark.table(table + "__centroids"))
    val cb = trainCodebooks(e, m, subDims, ksub, iters, deterministic)
    recovering(table + "__codebooks") {
      cb.select(col("sub"), explode(col("cents")).as("c"))
        .select(col("sub"), col("c.cell").as("cell"), col("c.cemb").as("cemb"))
        .write.mode("overwrite").format("parquet").saveAsTable(table + "__codebooks")
    }
    recovering(table) {
      graft.sources.Sinks.writeBucketed(
        semanticIndexRowsPq(vectors, centroidRows,
          spark.table(table + "__codebooks")),
        table, Seq("cell"), buckets)
    }
    // SELF-CALIBRATED drift bar (r19): stamp the TRAINING corpus's own
    // worst reconstruction error on the codebooks. The retrain
    // tripwire ([[graft.Pipeline.runIncremental]]) compares each
    // day's qerr against what THIS corpus achieves under its own
    // codebooks, not against an absolute constant — random-ish or
    // high-entropy embedding spaces legitimately quantize at qerr ≫
    // any fixed bar, and an absolute threshold made every day a
    // "drift" day (a full retrain + re-encode per ingest, measured
    // as the dominant daily fixed cost in r19 profiling). One slim
    // column scan of the just-written index at TRAIN time — never a
    // daily cost. Stamped LAST: a crash before the stamp leaves the
    // absolute-threshold fallback, and the first (possibly spurious)
    // retrain it causes re-stamps.
    val bar = spark.table(table).agg(max(col("qerr"))).first()
    if (!bar.isNullAt(0))
      spark.sql(s"ALTER TABLE ${table}__codebooks " +
        s"SET TBLPROPERTIES ('graft.qerr_bar' = '${bar.getDouble(0)}')")
  }

  /** The training-corpus qerr bar stamped by [[writeSemanticIndexPq]],
    * if the codebooks carry one (absent on pre-r19 indexes and when a
    * crash beat the stamp — callers fall back to their absolute
    * threshold). */
  def qerrBar(spark: org.apache.spark.sql.SparkSession,
              codebooksTable: String): Option[Double] =
    try spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(codebooksTable))
      .properties.get("graft.qerr_bar").map(_.toDouble)
    catch { case _: Exception => None }

  /** PQ index rows for a batch of vectors against the PERSISTED
    * centroids + codebooks — the shape [[writeSemanticIndexPq]]
    * writes and a daily append adds:
    * `(doc_id, cell, codes, nrm, qerr, qerrs)` — cell by the
    * broadcast coarse argmin, codes by the broadcast per-subspace
    * argmin, `qerr` = the vector's own reconstruction error
    * Σ_j ‖x_j − c_{j,code_j}‖² taken from the SAME argmin pass (the
    * fused (cell, d²) pick — one encode pass, not two), and `qerrs`
    * its per-subspace decomposition. Storing the errors is what
    * makes the probe's candidate set CERTIFIED: the triangle
    * inequality bounds how far ADC distance can sit from the true
    * distance by this exact per-doc error, so
    * [[incrementalSemanticMatchesPq]] filters on a provable cosine
    * upper bound instead of a hopeful fixed margin — and the
    * per-subspace form tightens that bound (see the `qerrs` note
    * in the body for the sizing story). */
  def semanticIndexRowsPq(vectors: DataFrame, centroids: DataFrame,
                          codebooks: DataFrame): DataFrame = {
    graft.GraftExtensions.register(vectors.sparkSession)
    pqIndexRows(vectors.select(col("doc_id").as("vec_id"), col("embedding").as("emb"))
        .withColumn("nrm", Ann.norm(col("emb"))),
      Ann.packCentroids(centroids), packCodebooks(codebooks))
      .withColumnRenamed("vec_id", "doc_id")
  }

  /** [[semanticIndexRowsPq]]'s rows `(vec_id, cell, codes, nrm, qerr,
    * qerrs)` over packed centroids and codebooks, in ONE zero-shuffle
    * pass (r20): the coarse argmin ([[Ann.nearestCells]]) and the
    * fused PQ encode ride the same scan projection against two 1-row
    * broadcasts. `qerr` is the subspace-ordered fold inside the native
    * encode, `qerrs` the per-subspace d² array. Stored as exact
    * doubles so the certified bound replays bit-for-bit in the
    * oracle; a production deployment past memory pressure quantizes
    * each √e_j UP to one byte against a per-table scale (any stored
    * s_j ≥ √e_j keeps the bound certified), putting the index at
    * 24+m = 32 B/doc. */
  private def pqIndexRows(e: DataFrame, cents: DataFrame, cb: DataFrame): DataFrame =
    encodedRows(Ann.nearestCells(e, cents, "emb", "nrm", keep = 1), cb)
      .select(col("vec_id"), col("cell"), col("enc.codes").as("codes"), col("nrm"),
        col("enc.qerr").as("qerr"), col("enc.d2s").as("qerrs"))

  /** The OPQ DECISION REPORT — connects the measured embedding
    * covariance ([[Ann.quantizedMoments]], the registered
    * `embedding_covariance` table) to the PQ subspace layout, so
    * rotate-before-PQ (OPQ, Ge et al. 2013) is a data-driven call
    * instead of folklore: PQ quantizes `subDims`-dim contiguous
    * blocks independently, which is information-optimal only when
    * correlation mass concentrates WITHIN blocks — correlation
    * ACROSS blocks is structure the independent codebooks cannot
    * exploit, and a learned rotation would repack it. One row:
    * pair counts and mean |Pearson correlation| within vs across
    * the m contiguous blocks, plus the verdict boolean
    * (`rotation_indicated` = cross mass exceeds within mass).
    *
    * Determinism: covariances are the proven exact replay; each
    * correlation is one division + IEEE sqrt of exact doubles;
    * the two means fold the FIXED ≤ dims²/2 pair rows in ascending
    * (dim_i, dim_j) via the native sorted fold, then divide by exact
    * counts — no unordered double sums anywhere. Scale shape: one
    * corpus moments pass (shared with `embedding_covariance`), then
    * constant-size (≤ 2016 rows at 64 dims) arithmetic. */
  def subspaceCoherence(embeddings: DataFrame, subDims: Int = 8): DataFrame = {
    // a single block (subDims = dims) has no cross pairs and
    // one-dim blocks have no within pairs — either way one mean is
    // 0/0 and the verdict null; fail loudly instead (subDims ≥ 2 is
    // checkable here; the ≥ 2 blocks half surfaces as a null-free
    // require below the aggregate, which the registered 64/8 layout
    // never trips)
    require(subDims >= 2, s"subspaceCoherence needs subDims >= 2, got $subDims")
    graft.GraftExtensions.register(embeddings.sparkSession)
    val mom = Ann.quantizedMoments(embeddings)
    val diag = mom.filter(col("dim_i") === col("dim_j"))
      .select(col("dim_i").as("d"), col("cov").as("v"))
    val off = mom.filter(col("dim_i") < col("dim_j"))
      .join(broadcast(diag.select(col("d").as("dim_i"), col("v").as("vi"))), Seq("dim_i"))
      .join(broadcast(diag.select(col("d").as("dim_j"), col("v").as("vj"))), Seq("dim_j"))
      // zero-variance dims carry no correlation (a constant dimension
      // is trivially block-independent) — guard the division
      .withColumn("corr", when(col("vi") * col("vj") > 0,
        col("cov") / sqrt(col("vi") * col("vj"))).otherwise(lit(0.0)))
      .withColumn("same_block",
        expr(s"(dim_i - 1) div $subDims") === expr(s"(dim_j - 1) div $subDims"))
      .withColumn("k", (col("dim_i").cast("long") * 1000L + col("dim_j")).cast("long"))
    off.agg(
        sum(when(col("same_block"), 1L).otherwise(0L)).as("within_pairs"),
        sum(when(!col("same_block"), 1L).otherwise(0L)).as("cross_pairs"),
        call_function("graft_sorted_fold_sum", col("k"),
          when(col("same_block"), abs(col("corr"))).otherwise(lit(0.0))).as("ws"),
        call_function("graft_sorted_fold_sum", col("k"),
          when(!col("same_block"), abs(col("corr"))).otherwise(lit(0.0))).as("cs"))
      .select(col("within_pairs"), col("cross_pairs"),
        (col("ws") / col("within_pairs")).as("within_mean_abs_corr"),
        // the ≥ 2 blocks half of the degenerate-layout guard: a
        // single block (dims ≤ subDims) has no cross pairs — raise
        // instead of emitting a null mean and a null verdict
        when(col("cross_pairs") > 0, col("cs") / col("cross_pairs"))
          .otherwise(raise_error(
            lit("subspaceCoherence needs at least 2 blocks (dims > subDims)"))
            .cast("double"))
          .as("cross_mean_abs_corr"))
      .withColumn("rotation_indicated",
        col("cross_mean_abs_corr") > col("within_mean_abs_corr"))
  }

  /** Per-vector SELF-quantization error against persisted codebooks:
    * Σ_j ‖x_j − c_{j,code(x_j)}‖² — how far a vector sits from its
    * own PQ reconstruction. This is the drift tripwire for a frozen
    * codebook: vectors from regions the training corpus never
    * covered (a feed shifting topic, a new embedder) quantize with
    * arbitrarily large error, and THEIR recovered cosines can miss
    * the probe's margin entirely — quantization error is bounded for
    * in-distribution data only. [[graft.Pipeline.runIncremental]]
    * checks each accepted day's error and retrains + re-encodes the
    * PQ index when the day breaches the bar (the semantic analog of
    * the chunk df-cap auto-recap). Cost: delta-sized — the same
    * broadcast argmin as encoding, keeping the min d² instead of the
    * argmin cell. */
  def quantizationError(vectors: DataFrame, codebooks: DataFrame): DataFrame = {
    graft.GraftExtensions.register(vectors.sparkSession)
    // one zero-shuffle map pass (r20): the fused encode's qerr IS the
    // subspace-ordered fold the exploded groupBy used to compute —
    // per-row, fixed order, bit-stable under any partitioning (the
    // property [[opqGain]]'s row-by-row compare rests on)
    vectors.select(col("doc_id").as("vec_id"), col("embedding").as("emb"))
      .crossJoin(broadcast(subcentsRow(packCodebooks(codebooks))))
      .select(col("vec_id").as("doc_id"),
        call_function("graft_pq_encode", col("emb"), col("subcents"))
          .getField("qerr").as("qerr"))
  }

  /** Per-dimension variance of the int8-quantized embedding — the
    * diagonal of [[Ann.quantizedMoments]] computed without the other
    * 2016 pairs: exact integer sums (combinable, replayable), one
    * mirrored double expression. The variance ORDERING is all the
    * permutation below consumes. */
  private[graft] def dimVariances(embeddings: DataFrame): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    embeddings.select(Ann.quantize(col("embedding")).as("q"))
      .select(posexplode(col("q")).as(Seq("i0", "x")))
      .groupBy((col("i0") + 1).as("dim"))
      .agg(count(lit(1)).as("n"),
        sum((col("x") * col("x")).cast("long")).as("sxx"),
        sum(col("x").cast("long")).as("sx"))
      .select(col("dim"),
        ((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n"))
          / col("n")).as("v"))
  }

  /** OPQ-LITE: the balanced-variance dimension PERMUTATION — the
    * eigen-free member of the optimized-PQ family (Ge et al. 2014's
    * OPQ learns a full rotation; its cheapest useful ancestor is
    * reordering dimensions so each subspace receives a balanced
    * share of the variance instead of whatever contiguity the
    * embedder happened to emit). Rank dims by quantized variance
    * (desc, dim-ascending ties), deal rank r to subspace
    * `snake(r)` — boustrophedon over the m groups, so the top-m
    * dims land in m DIFFERENT subspaces and each group's variance
    * mass stays balanced — and to slot r/m within the group.
    * Returns the 1-based position→dim map as a plain array (a
    * dims-sized driver constant — same license as the centroid
    * collect). Deterministic end-to-end: exact variances, total
    * ranking order, pure arithmetic on the rank. */
  private[graft] def opqPosToDim(embeddings: DataFrame, m: Int, subDims: Int): Array[Int] = {
    val ranked = dimVariances(embeddings)
      .orderBy(col("v").desc, col("dim"))
      .select(col("dim")).collect().map(_.getInt(0))
    require(ranked.length == m * subDims,
      s"OPQ permutation needs dims == m*subDims: ${ranked.length} != ${m * subDims}")
    val posToDim = new Array[Int](ranked.length)
    ranked.zipWithIndex.foreach { case (dim, r) =>
      val c = r / m
      val j = r % m
      val g = if (c % 2 == 0) j else m - 1 - j
      posToDim(g * subDims + c) = dim
    }
    posToDim
  }

  /** [[opqGain]]'s trained state per input and hyperparameters: the
    * balanced-variance permutation and both codebook sets (identity,
    * permuted), as driver values — a hit reads nothing. */
  private val opqMemo = new graft.InputMemo[(Array[Int], Seq[Subcents])](cap = 8)

  /** The OPQ GAIN REPORT — does the balanced-variance permutation
    * actually encode THIS corpus better? Train codebooks for both
    * layouts (identity vs permuted) in the same Lloyd rounds
    * ([[trainLayouts]]), quantize every vector with both in ONE scan,
    * and count per-vector self-quantization-error wins: one row
    * `(docs, improved_docs, regressed_docs, tied_docs,
    * improved_frac, opq_wins)`. Counts of strict double comparisons
    * — order-free, combinable, exactly replayable (the per-vec
    * errors are subspace-ordered folds) — so the report needs no
    * unordered double sums and no tolerance. A FALSE `opq_wins` is
    * the documented negative result: this corpus's variance is
    * already contiguity-balanced, keep identity layout.
    * [[subspaceCoherence]] answers the covariance half of the
    * rotate-before-PQ question; this row answers the variance half
    * with the permutation actually applied.
    *
    * The permutation and both codebook sets are pure functions of the
    * input, memoized ([[graft.InputMemo]]) on the session, the
    * hyperparameters and the fingerprint of `embeddings`' plan and
    * files: a repeat call on the same files prices the DECISION (the
    * one encode scan and the win count), not the training. Any other
    * input — a filtered frame, a rewritten file, an in-memory frame —
    * trains afresh. Values are identical either way. */
  def opqGain(embeddings: DataFrame, m: Int = 8, subDims: Int = 8,
              ksub: Int = 16, iters: Int = 2,
              deterministic: Boolean = false): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val e = embCol(embeddings)
    def permuted(posToDim: Array[Int]) =
      transform(lit(posToDim), d => element_at(col("emb"), d))
    val (posToDim, Seq(ident, perm)) =
      opqMemo((m, subDims, ksub, iters, deterministic), Seq(embeddings))(_ => Nil) {
        val p2d = opqPosToDim(embeddings, m, subDims)
        (p2d, trainLayouts(e, Seq(col("emb"), permuted(p2d)), m, subDims, ksub, iters,
          deterministic))
      }
    def qerr(emb: Column, cb: Subcents) =
      call_function("graft_pq_encode", emb, typedLit(cb)).getField("qerr")
    e.select(qerr(col("emb"), ident).as("qp"), qerr(permuted(posToDim), perm).as("qo"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("qo") < col("qp"), 1L).otherwise(0L)).as("improved_docs"),
        sum(when(col("qo") > col("qp"), 1L).otherwise(0L)).as("regressed_docs"),
        sum(when(col("qo") === col("qp"), 1L).otherwise(0L)).as("tied_docs"))
      .withColumn("improved_frac",
        col("improved_docs").cast("double") / col("docs").cast("double"))
      .withColumn("opq_wins", col("improved_docs") > col("regressed_docs"))
  }

  /** The daily semantic probe against the PERSISTED PQ index — the
    * production first pass [[graft.Pipeline.runIncremental]] runs
    * when the PQ tables exist: each delta vector gets its coarse
    * cell (broadcast argmin over the persisted centroids), ONE
    * m × ksub ADC table (persisted codebooks — never retrained), and
    * scans only its cell's 24 B/doc code rows; cosine is recovered
    * from the ADC distance by the law of cosines exactly as
    * [[semanticProbePq]] does.
    *
    * The candidate set is CERTIFIED, not margin-guessed: with
    * d̂ = ADC distance (= the exact distance to the doc's
    * reconstruction x̂, since the query side of ADC is exact) and
    * e = ‖x − x̂‖ (stored per doc as `qerr` = e²), the triangle
    * inequality gives |d̂² − d²| ≤ e·(2d̂ + e), so
    *   true_cos ≤ approx_cos + e·(2d̂ + e) / (2‖q‖‖x‖)
    * and filtering on that UPPER bound keeps every pair whose true
    * cosine clears the threshold — within-cell candidate
    * completeness is a theorem, not a tuning outcome (the r14
    * self-review found the fixed 0.05 margin could silently miss
    * in-distribution dups whose qerr sat below the retrain bar).
    * Out-of-distribution corpus docs get large stored e and simply
    * become candidates for more queries — the exact confirm prunes
    * them; the drift retrain is an EFFICIENCY lever now, not a
    * correctness one. `margin` remains as optional extra slack
    * (float-rounding paranoia), default 0.
    *
    * `tight = true` certifies PER SUBSPACE instead: ADC already
    * computes the per-subspace distances d_j = ‖q_j − x̂_j‖, and
    * with the stored per-subspace errors e_j (`qerrs`) the true
    * distance obeys d² = Σ_j ‖q_j − x_j‖² ≥ Σ_j max(0, d_j − √e_j)²
    * — Cauchy–Schwarz (Σ d_j √e_j ≤ √(Σd_j²)·√(Σe_j)) proves this
    * lower bound ≥ the scalar one, so the cosine upper bound is
    * TIGHTER and the candidate set a subset of the scalar-qerr
    * set while still provably containing every true hit
    * (spec-pinned both ways). Same m lookups; the extra work is m
    * subtract/max per scanned code row. */
  def incrementalSemanticMatchesPq(newVecs: DataFrame, pqIndex: DataFrame,
                                   centroids: DataFrame, codebooks: DataFrame,
                                   threshold: Double = 0.35,
                                   margin: Double = 0.0,
                                   nprobe: Int = 1,
                                   tight: Boolean = false): DataFrame = {
    graft.GraftExtensions.register(newVecs.sparkSession)
    val (_, subDims) = codebookShape(codebooks)
    val d = newVecs.select(col("doc_id").as("query_id"), col("embedding").as("qemb"))
      .withColumn("qnrm", Ann.norm(col("qemb")))
    val q = Ann.nearestCells(d, Ann.packCentroids(centroids), "qemb", "qnrm", keep = nprobe)
    val qt = queryTables(q, packCodebooks(codebooks), subDims)
    val idxCols = Seq(col("doc_id").as("corpus_doc"), col("cell"),
      col("codes"), col("nrm"), col("qerr")) ++
      (if (tight) Seq(col("qerrs")) else Nil)
    val scanned = qt.select(col("query_id"), col("qnrm"), col("cell"), col("dtab"))
      .join(pqIndex.select(idxCols: _*), Seq("cell"))
      .filter(col("corpus_doc") =!= col("query_id"))
      .withColumn("adist", adcDist)
      .withColumn("approx_cos",
        (col("qnrm") * col("qnrm") + col("nrm") * col("nrm") - col("adist"))
          / (lit(2.0) * col("qnrm") * col("nrm")))
    val kept =
      if (tight) {
        // d_j² per subspace: the SAME m table lookups adcDist folds,
        // kept elementwise; then the per-subspace triangle floor.
        // Subspace-ordered fold from 0.0 — bit-stable like adcDist
        val dsub = zip_with(col("dtab"), col("codes"),
          (t, c) => element_at(t, (c + 1).cast("int")))
        val dlb = aggregate(
          zip_with(dsub, col("qerrs"), (d2, e2) => {
            val s = greatest(lit(0.0), sqrt(d2) - sqrt(e2))
            s * s
          }),
          lit(0.0), (acc, v) => acc + v)
        scanned.filter(
          (col("qnrm") * col("qnrm") + col("nrm") * col("nrm") - dlb)
            / (lit(2.0) * col("qnrm") * col("nrm"))
          >= threshold - margin)
      } else
        scanned.filter(col("approx_cos")
          + (sqrt(col("qerr")) * (lit(2.0) * sqrt(col("adist")) + sqrt(col("qerr"))))
            / (lit(2.0) * col("qnrm") * col("nrm"))
          >= threshold - margin)
    kept.select(col("query_id").as("delta_doc"), col("corpus_doc"),
      col("cell"), col("approx_cos"))
  }

  /** The PQ-COMPRESSED daily-ingest semantic probe — what the
    * persisted semantic index becomes when the corpus outgrows
    * storing vectors: 16 B per corpus doc (8 code bytes + one
    * stored norm) instead of 256 B of fp32, a 16× smaller index the
    * cluster can hold in memory at any corpus size. Same pseudo-delta
    * split and rank-seeded coarse quantizer as
    * [[Ann.semanticProbe]]; the index rows are (cell, doc_id, codes,
    * ‖x‖); each delta vector gets ONE m × ksub ADC table, and the
    * cosine is recovered from the ADC distance by the law of
    * cosines: cos ≈ (‖q‖² + ‖x‖² − d²_adc) / (2‖q‖‖x‖) — possible
    * precisely BECAUSE the index keeps the exact norm. Hits are
    * approximate (quantization error moves borderline pairs), which
    * is the documented trade: this probe flags candidates for the
    * exact arm, it does not replace it. With deterministic training
    * every stage replays ([[graft.OracleSql.semanticProbePqSql]]). */
  def semanticProbePq(embeddings: DataFrame, numCentroids: Int = 64,
                      trainIters: Int = 3, threshold: Double = 0.35,
                      deltaHex: String = "0ccd", m: Int = 8, subDims: Int = 8,
                      ksub: Int = 16, iters: Int = 2,
                      deterministic: Boolean = false): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val flagged = embeddings.select(col("vec_id"), col("embedding"),
      (substring(md5(col("vec_id").cast("string")), 1, 4) < deltaHex).as("is_delta"))
    val e = flagged.filter(!col("is_delta"))
      .select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", Ann.norm(col("emb")))
    val cents = Ann.kmeansCentroids(e, numCentroids, trainIters, deterministic,
      rankSeed = true)
    val cb = trainCodebooks(e, m, subDims, ksub, iters, deterministic)
    // the persisted index SHAPE: one row per corpus doc, 16 B payload
    val index = pqIndexRows(e, cents, cb).select(col("vec_id"), col("codes"), col("cell"), col("nrm"))
    val delta = flagged.filter(col("is_delta"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
      .withColumn("qnrm", Ann.norm(col("qemb")))
    val q = Ann.nearestCells(delta, cents, "qemb", "qnrm", keep = 1)
    val qt = queryTables(q, cb, subDims)
    qt.select(col("query_id"), col("qnrm"), col("cell"), col("dtab"))
      .join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", adcDist)
      .withColumn("approx_cos",
        (col("qnrm") * col("qnrm") + col("nrm") * col("nrm") - col("adist"))
          / (lit(2.0) * col("qnrm") * col("nrm")))
      .filter(col("approx_cos") >= threshold)
      .select(col("query_id").as("delta_doc"), col("vec_id").as("corpus_doc"),
        col("approx_cos"))
  }
}
