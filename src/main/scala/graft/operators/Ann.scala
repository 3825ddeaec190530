package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY §2 #30-32):
  * one cosine top-k operator, [[Ann.topK]], parameterized by a coarse
  * candidate step (flat, sign-random-projection LSH, IVF cells) and a
  * codec (float, int8, product quantization) — the FAISS
  * index-factory shape — plus embedding-cosine near-dup pairs and the
  * semantic dedup/probe index on the same coarse quantizer.
  *
  * Vector math on the hot path uses graft's native codegen'd Catalyst
  * expressions ([[graft.functions.DotProduct]]/[[graft.functions.L2Norm]]
  * — tight primitive loops under whole-stage codegen). They fold
  * left-to-right exactly like the portable HOF formulation
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`, kept here as
  * [[Ann.dotHof]] for engines without the extension), so results are
  * bit-identical on any partitioning and to the DuckDB oracles. No
  * UDF, no collect.
  */
object Ann {

  /** Cast a float embedding to double per element. The native
    * expressions accept array<float> directly (exact widening), so the
    * hot paths pass raw embeddings; this remains for the portable HOF
    * twins, which need array<double>. */
  def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = call_function("graft_norm", a)

  /** Portable higher-order-function twin of [[dot]] — same sequential
    * fold, interpreted; used by the spec to pin bit-equality. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-random-projection buckets for ALL `tables` hash tables in one
    * native pass ([[graft.functions.SrpBucketsMd5]]): md5-derived ±1
    * hyperplanes a SQL engine replays verbatim, so bucket membership
    * itself is oracle-checkable; the constant weight matrix is cached
    * per executor, so the per-row LSH indexing cost is one projection
    * inside the scan. */
  def srpBucketsMd5(emb: Column, tables: Int, numBits: Int): Column =
    call_function("graft_srp_buckets_md5", emb, lit(tables), lit(numBits))

  /** The candidate step of [[topK]]: which (query, vector) pairs are
    * scored at all. */
  sealed trait Coarse
  object Coarse {
    /** Every pair — the exactness baseline the indexes are checked
      * against. */
    case object Flat extends Coarse
    /** Pairs sharing a [[srpBucketsMd5]] bucket in any of `tables`
      * hash tables of `bits` sign bits: recall grows with `tables` at
      * constant per-table cost. */
    final case class Lsh(tables: Int = 4, bits: Int = 8) extends Coarse
    /** Pairs inside one of the query's `nprobe` nearest cells of the
      * [[kmeansCentroids]] quantizer: `numCentroids` cells seeded by
      * the lowest vec_ids, refined by `trainIters` Lloyd rounds
      * (`deterministic`: oracle-replayable re-center folds). */
    final case class Ivf(numCentroids: Int = 64, nprobe: Int = 4, trainIters: Int = 0,
                         deterministic: Boolean = false) extends Coarse
  }

  /** The scoring step of [[topK]]: what a candidate's score is
    * computed from. */
  sealed trait Codec
  object Codec {
    /** Exact cosine of the float vectors; output column `cosine`. */
    case object Float extends Codec
    /** Exact cosine of the int8-quantized vectors ([[quantize]]);
      * output column `cosine_q`. Zero-norm quantized vectors (cosine
      * undefined) are dropped. */
    case object Int8 extends Codec
    /** Product-quantization codes ([[graft.operators.Pq]]): `m`
      * subspaces of `subDims` dims, `ksub`-cell codebooks trained by
      * `iters` Lloyd rounds (`deterministic` as for [[Coarse.Ivf]]).
      * Candidates are ranked by ADC distance, the `adcCand` nearest
      * re-ranked by exact cosine; output columns `adist, cosine`.
      * `residual` (IVF only) codes each vector's offset from its cell
      * centroid — FAISS `IndexIVFPQ(by_residual = true)` — with one
      * ADC table per (query, probed cell). */
    final case class Pq(m: Int = 8, subDims: Int = 8, ksub: Int = 16, iters: Int = 2,
                        adcCand: Int = 64, residual: Boolean = false,
                        deterministic: Boolean = false) extends Codec
  }

  /** Cosine top-k of the `numQueries` lowest vec_ids against the rest
    * of the corpus: one row per (query, rank ≤ k), ranked by
    * (score desc, vec_id). Every registered ANN row is one
    * `coarse` × `codec` point (`ann_ivf_pq` = IVF × PQ, …).
    *
    * Scale shape: the query side (numQueries × tables or nprobe rows)
    * is broadcast, so the corpus is scanned once and never shuffled
    * for the candidate join; LSH buckets, IVF cells and PQ codes are
    * computed in the scan projection against 1-row broadcasts (the
    * corpus side of the IVF join is plan-spec-pinned shuffle-free).
    * Norms are computed once per vector, not per pair. Scoring needs
    * one shuffle, the per-query rank window over the narrow
    * (query_id, vec_id, score) rows. Pairs are deduplicated only where
    * the coarse step can emit one twice (LSH, IVF with nprobe > 1):
    * after scoring, inside that same window. PQ adds the codebook
    * training; it scores candidates by m table lookups each
    * ([[graft.functions.AdcDist]]) and joins full vectors only to
    * the queries × adcCand survivors of the exact re-rank (the join
    * input itself is a corpus scan). */
  def topK(embeddings: DataFrame, numQueries: Int = 5, k: Int = 3,
           coarse: Coarse = Coarse.Flat, codec: Codec = Codec.Float): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectorRows(embeddings)
    val queries = e.filter(col("vec_id") < numQueries)
    // coarse step: corpus and query rows, each tagged with the join key
    val (corpus, probes, key, centroids) = coarse match {
      case Coarse.Flat => (e, queries, Nil, None)
      case Coarse.Lsh(tables, bits) =>
        def banded(df: DataFrame) = df.select(col("*"),
          posexplode(srpBucketsMd5(col("emb"), tables, bits)).as(Seq("table", "bucket")))
        (banded(e), banded(queries), Seq("table", "bucket"), None)
      case Coarse.Ivf(numCentroids, nprobe, trainIters, deterministic) =>
        val cents = kmeansCentroids(e, numCentroids, trainIters, deterministic)
        (nearestCells(e, cents, "emb", "nrm", keep = 1),
          nearestCells(queries, cents, "emb", "nrm", keep = nprobe), Seq("cell"), Some(cents))
    }
    val dedup = coarse match {
      case Coarse.Flat => false
      case _: Coarse.Lsh => true
      case ivf: Coarse.Ivf => ivf.nprobe > 1
    }
    // query columns renamed: vec_id -> query_id, emb -> qemb, nrm -> qnrm
    val q = probes.select(probes.columns.toSeq.map(c =>
      if (key.contains(c)) col(c) else col(c).as(if (c == "vec_id") "query_id" else "q" + c)): _*)
    def scored(c: DataFrame, q: DataFrame, score: Column): DataFrame =
      (if (key.isEmpty) c.crossJoin(broadcast(q)) else c.join(broadcast(q), key))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("vec_id"), col("query_id"), score.as("score"))
    // The n best per query. Copies of a pair share its score (it is
    // deterministic per pair), hence its dense_rank: ranking distinct
    // pairs needs no exchange beyond the window's own, and `distinct`
    // drops the surviving copies on the window's query_id partitioning.
    def top(s: DataFrame, n: Int, dedup: Boolean, order: Column*): DataFrame = {
      val rank = if (dedup) dense_rank() else row_number()
      val ranked = s.withColumn("rank",
        rank.over(Window.partitionBy(col("query_id")).orderBy(order: _*)).cast("long"))
        .filter(col("rank") <= n)
      if (dedup) ranked.distinct() else ranked
    }
    def exactTop(s: DataFrame, dedup: Boolean, cols: Column*): DataFrame =
      top(s, k, dedup, col("score").desc, col("vec_id"))
        .select(Seq(col("query_id"), col("vec_id")) ++ cols :+ col("rank"): _*)
    codec match {
      case Codec.Float =>
        exactTop(scored(corpus, q, dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))),
          dedup, col("score").as("cosine"))
      case Codec.Int8 =>
        def int8(df: DataFrame, p: String) = df.withColumn(p + "q", quantize(col(p + "emb")))
          .withColumn(p + "nq", dot(col(p + "q"), col(p + "q")))
          .filter(col(p + "nq") > 0.0)
        exactTop(scored(int8(corpus, ""), int8(q, "q"),
          dot(col("qq"), col("q")) / (sqrt(col("qnq")) * sqrt(col("nq")))),
          dedup, col("score").as("cosine_q"))
      case Codec.Pq(m, subDims, ksub, iters, adcCand, residual, deterministic) =>
        require(!residual || centroids.isDefined, "residual PQ codes need the IVF coarse step")
        // residual: both sides replace the vector by its offset from
        // its (probed) cell's centroid. The corpus residuals are pinned
        // once: every training round and the encode pass read them.
        val (c, qv) = centroids match {
          case Some(cents) if residual =>
            val centRows = broadcast(unpackCentroids(cents).select(col("cell"), col("cemb").as("c")))
            def offset(df: DataFrame, embCol: String) = df.join(centRows, Seq("cell"))
              .withColumn(embCol, zip_with(asDouble(col(embCol)), col("c"), (x, y) => x - y))
              .drop("c")
            (offset(corpus.select(col("vec_id"), col("cell"), col("emb")), "emb")
              .localCheckpoint(false), offset(q, "qemb"))
          case _ => (corpus, q)
        }
        val cb = Pq.trainCodebooks(if (residual) c else e, m, subDims, ksub, iters, deterministic)
        val adc = top(scored(Pq.encodedRows(c, cb).withColumn("codes", col("enc.codes")),
          Pq.queryTables(qv, cb, subDims), Pq.adcDist), adcCand, dedup, col("score"), col("vec_id"))
          .select(col("query_id"), col("vec_id"), col("score").as("adist"))
        // exact-cosine re-rank of the ≤ queries × adcCand survivors
        exactTop(adc.join(e.select(col("vec_id"), col("emb")), Seq("vec_id"))
          .join(broadcast(queries.select(col("vec_id").as("query_id"), col("emb").as("qemb"))),
            Seq("query_id"))
          .select(col("query_id"), col("vec_id"), col("adist"),
            (dot(col("qemb"), col("emb")) / (norm(col("qemb")) * norm(col("emb")))).as("score")),
          false, col("adist"), col("score").as("cosine"))
    }
  }

  /** The `k`-cell seed as unpacked `(cell, cemb, cnrm)` rows: the
    * `vec_id < k` vectors as cells keyed by their ids, or, where ids
    * are sparse (`rankSeed`), the k lowest ids ranked to cells 0..k-1
    * (TakeOrdered-k bounds the seed scan; the rank window runs over k
    * rows). Either way |seed| is a constant independent of corpus
    * size — the broadcast stays k vectors at 100 TB. */
  private def seedRows(e: DataFrame, k: Int, rankSeed: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (rankSeed) e.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long").as("cell"),
        asDouble(col("emb")).as("cemb"), col("nrm").as("cnrm"))
    else e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("emb").as("cemb"), col("nrm").as("cnrm"))
  }

  /** The `vec_id < numCentroids` seed packed to ONE row
    * ([[packCentroids]]) — the untrained IVF quantizer. */
  private[graft] def ivfCentroids(e: DataFrame, numCentroids: Int): DataFrame =
    packCentroids(seedRows(e, numCentroids, rankSeed = false))

  /** Centroid rows `(cell, cemb, cnrm)` packed to the ONE-row
    * `cents: array<struct<cell, cemb, cnrm>>` every quantizer consumer
    * broadcasts ([[nearestCells]], [[graft.functions.IvfArgmin]]). */
  private[graft] def packCentroids(rows: DataFrame): DataFrame =
    rows.agg(collect_list(struct(col("cell"), col("cemb"), col("cnrm"))).as("cents"))

  /** [[packCentroids]]' inverse: one `(cell, cemb, cnrm)` row per
    * cell — the persisted `__centroids` table layout. */
  private[graft] def unpackCentroids(cents: DataFrame): DataFrame =
    cents.select(explode(col("cents")).as("c"))
      .select(col("c.cell").as("cell"), col("c.cemb").as("cemb"), col("c.cnrm").as("cnrm"))

  /** Lloyd centres on the driver, keyed by `(set, key)`: `set` names a
    * layout trained in the same rounds, `key` a centre within it. */
  private[graft] type Centres = Map[(Int, Long), Array[Double]]

  /** One IVF cell as the plan literal [[graft.functions.IvfArgmin]] reads. */
  private[graft] final case class IvfCell(cell: Long, cemb: Seq[Double], cnrm: Double)

  /** The ONE Lloyd loop of every trained quantizer (IVF cells, PQ
    * codebooks) — the Spark MLlib KMeans shape: the centres live on
    * the driver, and each of the `iters` rounds is ONE Spark job.
    * `members(centres)` is the round's assignment, a map-only frame of
    * `(set: int, key: long, vec_id: long, x: array<double>)` that sees
    * the centres as a plan literal (it ships inside the stage's task
    * binary — the bytes a broadcast would ship, without the job that
    * builds one). Each map task folds its members per `(set, key)`,
    * the `(set, key)`-keyed exchange carries the serialized partials
    * (the aggregate's own `serialize`, the bytes a SQL exchange of it
    * carries), the reduce side merges them and divides by the member
    * count, and the driver collects the new means. An RDD exchange,
    * not a DataFrame `groupBy`: under adaptive execution a SQL
    * exchange is a job of its own, two per round. Centres whose cell
    * attracted no member keep their previous vector (the standard
    * empty-cell rule), and so do centres whose fold is null (the
    * combinable fold's sum over zero-length subvectors, where an
    * embedding is shorter than m × subDims); keys outside the current
    * set (a malformed row's `-1` cell) are dropped.
    *
    * `deterministic = true` (the oracle-checked registry path) folds
    * each group's members elementwise in ascending `vec_id` order
    * ([[graft.functions.SortedFoldSumArr]]), which any engine replays
    * bit-for-bit — the shuffle carries the member vectors, the price
    * of byte-level reproducibility under any partitioning.
    * `deterministic = false` (production) sums them map-side
    * combinable ([[graft.functions.FoldSumArr]]): the shuffle carries
    * one partial per group and map task, but double addition is
    * partition-order-dependent, so means are not bit-stable across
    * layouts. Both folds run their own update/merge/eval/serialize
    * code, so the per-dimension IEEE additions are the aggregates'.
    * A FIXED round count keeps runs reproducible (vs a
    * convergence epsilon on floats). */
  private[graft] def lloyd(seed: Centres, iters: Int, deterministic: Boolean)(
      members: Centres => DataFrame): Centres = {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    def round[B](fold: TypedImperativeAggregate[B])(cents: Centres): Centres = {
      val means = members(cents).queryExecution.toRdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[(Int, Long), (B, Long)]
        rows.foreach { r =>
          val k = (r.getInt(0), r.getLong(1))
          val (b, n) = acc.getOrElse(k, (fold.createAggregationBuffer(), 0L))
          acc(k) = (fold.update(b, r), n + 1)
        }
        acc.iterator.map { case (k, (b, n)) => (k, (fold.serialize(b), n)) }
      }.groupByKey().flatMap { case (k, parts) =>
        val sum = fold.eval(parts.map(p => fold.deserialize(p._1)).reduce[B](fold.merge(_, _)))
        val n = parts.map(_._2).sum
        Option(sum).map(s => (k, s.asInstanceOf[ArrayData].toDoubleArray().map(_ / n)))
      }.collect()
      cents ++ means.filter(m => cents.contains(m._1))
    }
    val x = BoundReference(3, ArrayType(DoubleType), nullable = false)
    val step: Centres => Centres =
      if (deterministic) round(graft.functions.SortedFoldSumArr(
        BoundReference(2, LongType, nullable = false), x))
      else round(graft.functions.FoldSumArr(x))
    (1 to iters).foldLeft(seed)((c, _) => step(c))
  }

  /** The ONE coarse-centroid step of every IVF cell build (the top-k,
    * the semantic dedup/decontam blocking, the persisted semantic
    * indexes): the packed seed ([[seedRows]]) as is when `iters = 0`,
    * else refined by `iters` rounds of Lloyd's k-means ([[lloyd]]):
    * assignment is the native argmin ([[graft.functions.IvfArgmin]])
    * against the centre literal, re-centering folds whole vectors per
    * cell. Better-centered cells mean fewer same-cell misses at a
    * fixed nprobe — the recall knob that costs training time instead
    * of query time. A trained call runs `iters + 1` jobs: the seed
    * collect, then one per round; its result is the packed centroid
    * row built on the driver, so consumers read it without a job of
    * their own to compute it. A spec pins both `deterministic` modes
    * to the same top-k at gate SF. */
  private[graft] def kmeansCentroids(e: DataFrame, k: Int, iters: Int,
                                     deterministic: Boolean = false,
                                     rankSeed: Boolean = false): DataFrame = {
    require(iters >= 0)
    if (iters == 0) packCentroids(seedRows(e, k, rankSeed))
    else {
      graft.GraftExtensions.register(e.sparkSession) // graft_ivf_argmin
      val train = pin(e)
      val seed = seedRows(train, k, rankSeed).collect()
        .map(r => (0, r.getLong(0)) -> r.getSeq[Number](1).map(_.doubleValue).toArray).toMap
      val cents = lloyd(seed, iters, deterministic) { c =>
        train.select(lit(0).as("set"),
          coalesce(call_function("graft_ivf_argmin", col("emb"), typedLit(ivfCells(c))),
            lit(-1L)).as("key"),
          col("vec_id"), asDouble(col("emb")).as("x"))
      }
      e.sparkSession.createDataFrame(Seq(Tuple1(ivfCells(cents)))).toDF("cents")
    }
  }

  /** A Lloyd training frame pinned for the fixed round count: a LAZY
    * localCheckpoint, its raw row blocks materialized by the seed job
    * and read by every round (measured faster than re-reading the scan
    * each round; persist()'s columnar re-encode of the embedding arrays
    * was measured costing more than the scans it saves). Per call: its
    * blocks die with the RDD. A frame that already is a checkpoint (the
    * residual PQ path pins its offsets for training and encode alike)
    * is used as it is — re-pinning blocks would only copy them. */
  private[graft] def pin(e: DataFrame): DataFrame =
    if (e.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) e
    else e.localCheckpoint(false)

  /** The centres as IVF cells, ascending; `cnrm` is [[norm]]'s fold. */
  private def ivfCells(c: Centres): Seq[IvfCell] =
    c.toSeq.sortBy(_._1).map { case ((_, cell), v) =>
      IvfCell(cell, v.toSeq, math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x)))
    }

  /** Map-side nearest-cell assignment: each row scores the broadcast
    * one-row centroid array with array HOFs and explodes its `keep`
    * best cells — no per-pair row expansion, no window, no shuffle on
    * the corpus side (plan-spec-pinned). The (-sim, cell) sort key
    * ranks by similarity descending with ties to the lower cell id. */
  private[graft] def nearestCells(df: DataFrame, centroids: DataFrame,
                                  embCol: String, nrmCol: String, keep: Int): DataFrame = {
    val scored = transform(col("cents"), c =>
      struct((-(dot(col(embCol), c.getField("cemb")) / (col(nrmCol) * c.getField("cnrm"))))
        .as("negsim"), c.getField("cell").as("cell")))
    val joined = df.crossJoin(broadcast(centroids))
    // keep=1 (the whole corpus) is an O(k) argmin fused into ONE
    // native pass ([[graft.functions.IvfArgmin]] — no per-centroid
    // lambda binds or struct allocations, same ordering as the
    // declarative struct-min, spec-pinned equal); keep>1 (the handful
    // of query rows) pays the interpreted sort.
    //
    // coalesce(argmin, -1) rather than the bare argmin (r21): `cell`
    // feeds inner equi-joins, so constraint inference adds an
    // isnotnull(cell) filter that predicate pushdown substitutes back
    // through this projection — the plan dumps showed
    // `isnotnull(graft_ivf_argmin(emb, cents))` in the broadcast-join
    // condition, i.e. the full k×dims argmin evaluated TWICE per
    // corpus row. The coalesce makes the column non-nullable, so the
    // inferred null-check folds away and the argmin runs once. Values
    // are identical in every consumer: argmin is null only for
    // malformed inputs (impossible by construction, spec-pinned), and
    // if one ever occurred, cell −1 — an id no codebook contains —
    // drops in the equi-joins exactly where the null row dropped
    // before (the Lloyd loop's assignment applies the same coalesce,
    // and [[lloyd]] drops keys outside its centre set).
    val assigned =
      if (keep == 1) joined.withColumn("cell",
        coalesce(call_function("graft_ivf_argmin", col(embCol), col("cents")),
          lit(-1L)))
      else joined
        .withColumn("__cell", explode(slice(array_sort(scored), 1, keep)))
        .withColumn("cell", col("__cell.cell"))
        .drop("__cell")
    assigned.drop("cents")
  }

  /** Symmetric int8 quantization of an embedding: each component maps
    * to floor(x·127/max|x| + 0.5) ∈ [-127, 127]. `floor` rather than
    * `round` because floor is exactly specified on every engine while
    * round's half-way rule differs (HALF_UP vs banker's); the +0.5
    * shift makes it round-half-toward-+∞ — deterministic bit-for-bit.
    * All-zero vectors quantize to all-zero (no division). Values are
    * kept as integer-valued DOUBLES: every quantized dot product is
    * ≤ 127²·dims ≪  2^53, so the native codegen'd [[dot]] computes
    * EXACT integer arithmetic at float-pipeline speed — no separate
    * integer kernel needed. */
  def quantize(emb: Column): Column =
    call_function("graft_quantize_int8", emb)

  /** Portable declarative twin of [[quantize]] — interpreted HOF
    * passes where the native expression is one loop; kept for the
    * bit-identity spec pin and engines without the extension. The
    * explicit `exists(isnull)` guard makes the twin null-poison whole
    * vectors exactly like the native expression (bare `transform`
    * would instead keep null elements and quantize the rest, because
    * `array_max` skips nulls — a silent contract divergence). */
  private[graft] def quantizeHof(emb: Column): Column = {
    val d = transform(emb, x => x.cast("double"))
    val maxabs = array_max(transform(d, x => abs(x)))
    when(exists(d, x => x.isNull), lit(null).cast("array<double>"))
      .when(maxabs === 0.0, d)
      .otherwise(transform(d, x => floor(x * 127.0 / maxabs + 0.5)))
  }

  /** Second-moment table of the int8-quantized embeddings — the
    * statistics that TUNE a quantized index: per dimension pair
    * (i ≤ j), the exact product sum and the covariance. Off-diagonal
    * covariance structure tells you whether scalar (per-dimension)
    * quantization is leaving accuracy on the table (correlated dims
    * → a rotation/PCA before SQ would decorrelate); the diagonal is
    * the per-dimension energy a re-scaling would equalize. Runs on
    * the QUANTIZED values deliberately: these are the integers the
    * index actually stores, and integer arithmetic makes every
    * moment exact — products ≤ 127² sum in decimal(30,0), so the
    * whole table (and the covariance derived from it with one
    * mirrored double expression) replays bit-for-bit in SQL.
    *
    * Scale shape: the dims² explode inflates rows 4096× BUT the
    * aggregate is map-side combinable into a constant dims²/2 = 2080
    * groups — the shuffle carries 2080 rows per map partition no
    * matter the corpus, and the result always fits the driver. The
    * explode never leaves the partial-aggregation pipeline, which is
    * the same bound the bigram/BPE statistics ride. */
  def quantizedMoments(embeddings: DataFrame): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    embeddings
      .select(quantize(col("embedding")).as("q"))
      .select(posexplode(col("q")).as(Seq("i0", "x")), col("q"))
      // generate ONLY the upper triangle: the inner explode walks the
      // tail slice q[i..], never the full array — half the generated
      // rows of an explode-then-filter (measured 6.8 s → the explode
      // dominated this query's cost at sf0.1)
      .select(col("i0"), col("x"),
        posexplode(slice(col("q"), col("i0") + 1, size(col("q")) - col("i0")))
          .as(Seq("j1", "y")))
      // 1-based dims: matches SQL list indexing, so the oracle needs
      // no off-by-one shim; j = i + slice offset
      .groupBy((col("i0") + 1).as("dim_i"), (col("i0") + col("j1") + 1).as("dim_j"))
      // LONG sums, not decimal: products are bounded by 127² = 16129,
      // so a 64-bit sum is exact until ~5.7e14 vectors (≈ 570 PB of
      // 64-dim float32) — three orders of magnitude past the design
      // point, where decimal aggregation costs ~3× on the hot path
      // (measured: the decimal form made this the suite's slowest
      // query). The bound is documented, not silent: it dwarfs any
      // corpus this engine targets.
      .agg(
        count(lit(1)).as("n"),
        sum((col("x") * col("y")).cast("long")).as("sxy"),
        sum(col("x").cast("long")).as("sx"),
        sum(col("y").cast("long")).as("sy"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        col("sxy").cast("double").as("sum_xy"),
        ((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n")) / col("n"))
          .as("cov"))
  }

  /** Recall@k report of an approximate top-k against the exact
    * brute-force top-k: per query, the exact hit-set size, how many of
    * those hits the approximate index returned, and the k-th exact
    * cosine (the similarity boundary the index had to clear). This
    * turns the ANN cross-validation contract into oracle-checkable
    * integers: with parameters that reach full recall on a corpus, the
    * oracle pins `hits = exact_k` from the DATA side, so a bucketing
    * or probe regression drops `hits` and hash-mismatches.
    *
    * Scale shape: both inputs are O(queries × k) rows — the join and
    * aggregate are negligible next to producing them; nothing
    * corpus-sized is touched here. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("vec_id"), col("cosine"))
      .join(approx.select(col("query_id"), col("vec_id"), lit(1L).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("exact_k"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"),
        min(col("cosine")).as("kth_cosine"))

  /** The ONE vector projection of the similarity operators: `(vec_id,
    * emb, nrm)` from a frame's `id` and `embedding` columns, plus the
    * `keep` columns as they are. `emb` stays the raw embedding (the
    * native expressions widen it exactly); `nrm` is [[norm]]'s fold,
    * computed once per vector, never per pair. It registers graft's
    * native expressions, so the operators that start from it need not. */
  private[graft] def vectorRows(df: DataFrame, id: String = "vec_id",
                                keep: Seq[String] = Nil): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.select(col(id).as("vec_id") +: col("embedding").as("emb") +: keep.map(col): _*)
      .withColumn("nrm", norm(col("emb")))
  }

  /** The engine-portable 4-hex md5 split of the semantic rows (the
    * `hash_split` convention of [[graft.operators.TextOps.hashSplit]]):
    * `(rest, slice)`, where the slice holds the rows whose
    * `substr(md5(id), 1, 4) < hex` — ~hex/0x10000 of the ids, stable
    * under re-runs and corpus growth, and replayed verbatim by the SQL
    * oracle. The decontam holdout and the probes' pseudo-delta. */
  private[graft] def md5Split(df: DataFrame, id: String, hex: String): (DataFrame, DataFrame) = {
    val inSlice = substring(md5(col(id).cast("string")), 1, 4) < hex
    (df.filter(!inSlice), df.filter(inSlice))
  }

  /** [[md5Split]] of an embeddings table into the probes' `(corpus,
    * delta)`, each as `(doc_id, embedding)` — the daily-ingest vector
    * shape. */
  private[graft] def deltaSplit(embeddings: DataFrame, hex: String = "0ccd"): (DataFrame, DataFrame) =
    md5Split(embeddings.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id", hex)

  /** The ONE exact within-block cosine join of the semantic arm: the
    * rows of `a` and `b` ([[vectorRows]] projections, aliased `a` and
    * `b`) that agree on every `key` column and pass `pair`, a condition
    * over those aliases, scored `cos` = exact cosine and kept at
    * `threshold`. Serves the self-pairs (`a < b`: SemDeDup cells, label
    * blocks, capped subcells), train × holdout (decontam), delta ×
    * index (the probes) and the PQ candidates' exact confirm
    * ([[graft.Pipeline.semanticCorpusHits]]). Work is Σ |a-block|·|b-block|
    * — the key must bound block size (IVF cells do; free-form labels
    * may not), never all-pairs across the corpus. */
  private[graft] def cosineJoin(a: DataFrame, b: DataFrame, key: Seq[String],
                                threshold: Double, pair: Column = lit(true)): DataFrame =
    a.as("a").join(b.as("b"), (key.map(k => col(s"a.$k") === col(s"b.$k")) :+ pair).reduce(_ && _))
      .withColumn("cos", dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)

  /** Near-dup pairs `(vec_id_1 < vec_id_2, <key.head>, cosine)` within
    * the blocks of `key` ([[cosineJoin]] of `e` with itself). */
  private def pairsWithin(e: DataFrame, key: Seq[String], threshold: Double): DataFrame =
    cosineJoin(e, e, key, threshold, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"),
        col(s"a.${key.head}").as(key.head), col("cos").as("cosine"))

  /** Embedding-cosine near-dup pairs, blocked on a key (here the
    * `label` column — in production a coarse quantization cell): exact
    * within the block, never all-pairs across the corpus.
    *
    * Work is Σ |block|² — the blocking key MUST bound block size
    * (IVF-style cells do; free-form labels may not). For blocks too
    * large to pair exactly, switch to the sub-quadratic candidates of
    * [[topK]]'s LSH buckets or [[graft.operators.Dedup.minhashPairs]]
    * — accepting their recall contract instead of exactness. */
  def embeddingDedupPairs(embeddings: DataFrame, threshold: Double = 0.4): DataFrame =
    pairsWithin(vectorRows(embeddings, keep = Seq("label")), Seq("label"), threshold)

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023: cluster the
    * embeddings coarsely, then pair exactly ONLY within a cluster):
    * the blocking key is the nearest cell of the SAME deterministic
    * IVF coarse quantizer [[topK]] uses — so unlike
    * [[embeddingDedupPairs]] (which trusts a given label column) this
    * needs no labels and the block sizes are bounded by the quantizer
    * fan-out, not by whatever a free-form label happens to contain.
    *
    * Scale shape: cell assignment is a map-side argmin against a
    * constant-size broadcast centroid row ([[nearestCells]]); the
    * pair join shuffles on cell id and the work is Σ |cell|² — the
    * documented SemDeDup trade, tuned by `numCentroids` (more cells →
    * smaller blocks → less pairing work, lower recall across cell
    * boundaries). Because the quantizer is pure deterministic double
    * arithmetic with no JVM hash anywhere, the ENTIRE path — cell
    * choice included — replays bit-for-bit in the SQL oracle, which
    * almost no semantic-dedup implementation can claim.
    *
    * `numCentroids` scaled to the corpus — `k = max(16, ceil(√N))`,
    * the classic balanced IVF choice, derived by the caller from one
    * count — holds both the assignment cost (N·k dots) and the pair
    * cost (≈ N²/k) at N^1.5, where a fixed k lets the pair work grow
    * as N²/k (the measured 100× ScaleCheck gap between
    * `dedup_semantic` at 64 and `dedup_semantic_scaled`).
    *
    * `trainIters > 0` swaps the seed quantizer for Lloyd's-refined
    * centroids ([[kmeansCentroids]]): better-centered cells put true
    * neighbors in the SAME cell more often, so fewer near-dup pairs
    * are missed at the same fan-out — training time buys recall
    * without touching the pairing cost model. With `deterministic`
    * the trained path stays fully oracle-replayable.
    *
    * `cap` is the viral-cell guard: one dense cluster (boilerplate
    * embeddings, a template family) otherwise concentrates the corpus
    * in one cell and its \|cell\|² pair term dominates the job. Members
    * subdivide by rank-within-cell: subcell = (row_number over (cell,
    * vec_id) − 1) div cap, so every subcell holds EXACTLY `cap`
    * members (last one partial) for ANY id distribution, and
    * worst-case pair work per cell is ≈ \|cell\|·cap/2 — LINEAR in the
    * viral cell's population. (An id-modulo split collapses to one
    * subcell when ids arrive strided or sparse — post-dedup gaps,
    * sharded allocators — the production shape.) The rank window rides
    * the same cell-keyed shuffle the pair join needs anyway, and both
    * engines replay ROW_NUMBER over (cell, vec_id) bit-for-bit.
    * Cross-subcell pairs inside a subdivided cell are deliberately not
    * generated — the recall-for-boundedness trade of the posting-list
    * df cap ([[graft.functions.BoundedCollect]]), in exactly the cells
    * where near-everything pairs with near-everything anyway (the
    * canonical-keep stage needs ONE surviving representative). */
  def semanticDedupPairs(embeddings: DataFrame, numCentroids: Int = 64,
                         threshold: Double = 0.35, trainIters: Int = 0,
                         deterministic: Boolean = false,
                         cap: Option[Int] = None): DataFrame = {
    require(cap.forall(_ >= 1))
    val e = vectorRows(embeddings)
    val cells = nearestCells(e, kmeansCentroids(e, numCentroids, trainIters, deterministic),
      "emb", "nrm", keep = 1)
    cap match {
      case None => pairsWithin(cells, Seq("cell"), threshold)
      case Some(c) => pairsWithin(cells.withColumn("subcell",
          expr(s"(row_number() OVER (PARTITION BY cell ORDER BY vec_id) - 1) div $c")),
        Seq("cell", "subcell"), threshold)
    }
  }

  /** Embedding-space decontamination — [[graft.operators.TextOps]]'
    * n-gram `decontam_overlap` catches verbatim eval leakage, but a
    * paraphrased or re-translated eval document shares no n-grams
    * with its source; its EMBEDDING still sits next to it. This is
    * the semantic arm of the same guard: flag every train vector
    * whose cosine to ANY holdout vector reaches `threshold`, blocked
    * on the deterministic IVF cells of [[topK]]'s quantizer (the
    * SemDeDup blocking of [[semanticDedupPairs]], applied CROSS-SET:
    * train×holdout inside a cell, never train×train).
    *
    * The holdout is the [[md5Split]] slice under `holdoutHex` (~5%),
    * so the split is stable under re-runs and corpus growth and the
    * SQL oracle replays it verbatim. Per flagged train vector: its
    * nearest offending holdout vector (ties to the lower id), that
    * cosine, and how many holdout vectors it collides with — the
    * evidence row a curation run attaches to each dropped document.
    *
    * Scale shape: cell assignment is the map-side broadcast argmin
    * ([[nearestCells]]); the only corpus-scale shuffle is the
    * cell-keyed join, whose probe side is the ~5% holdout slice; work
    * is Σ |cell_train|·|cell_holdout| — bounded by the quantizer
    * fan-out like SemDeDup, never all-pairs. The per-vector argmax is
    * a single max-of-struct aggregate (no window over the corpus). */
  def semanticDecontam(embeddings: DataFrame, numCentroids: Int = 64,
                       threshold: Double = 0.35,
                       holdoutHex: String = "0ccd",
                       trainIters: Int = 0,
                       deterministic: Boolean = false): DataFrame = {
    val e = vectorRows(embeddings)
    val (train, holdout) = md5Split(nearestCells(e,
      kmeansCentroids(e, numCentroids, trainIters, deterministic), "emb", "nrm", keep = 1),
      "vec_id", holdoutHex)
    cosineJoin(train, holdout, Seq("cell"), threshold)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("h_id"), col("cos"))
      .groupBy(col("vec_id"))
      .agg(
        max(struct(col("cos"), (-col("h_id")).as("neg"), col("h_id"))).as("best"),
        count(lit(1)).as("matches"))
      .select(col("vec_id"), col("best.h_id").as("holdout_id"),
        col("best.cos").as("cosine"), col("matches"))
  }

  /** The persisted semantic indexes' coarse quantizer as `(cell, cemb,
    * cnrm)` rows — the `__centroids` table layout: [[kmeansCentroids]]
    * from the rank seed, because a corpus's ids are sparse after a
    * split or a dedup. Shared by [[writeSemanticIndex]],
    * [[graft.operators.Pq.writeSemanticIndexPq]] and [[semanticProbe]],
    * so the full-vector and PQ indexes of one corpus agree on cells. */
  private[graft] def rankSeededCentroids(e: DataFrame, numCentroids: Int, trainIters: Int,
                                         deterministic: Boolean): DataFrame =
    unpackCentroids(kmeansCentroids(e, numCentroids, trainIters, deterministic,
      rankSeed = true))

  /** Train + persist the cross-run SEMANTIC dedup index over an
    * accepted corpus's vectors — the embedding arm of the incremental
    * ingest state, next to [[graft.operators.Dedup.writeBandPostings]]
    * (whole-doc shingles) and
    * [[graft.operators.Dedup.writeChunkPostings]] (passages): a
    * PARAPHRASED re-delivery shares no shingles and no CDC chunks
    * with its source, so both text arms are structurally blind to it;
    * its embedding still lands in the same quantizer cell.
    *
    * Writes two tables: `<table>` — every corpus vector with its
    * assigned cell, BUCKETED on `cell` so the daily probe join reads
    * the corpus side with zero exchange — and `<table>__centroids`
    * — the k trained centroids ([[rankSeededCentroids]];
    * constant-size, the probe broadcasts it). At 100 TB each Lloyd
    * round is the map-side broadcast argmin plus a k×dims-row
    * re-center, and it runs ONCE at bootstrap — daily deltas never
    * retrain, they probe. */
  def writeSemanticIndex(vectors: DataFrame, table: String,
                         numCentroids: Int = 64, trainIters: Int = 3,
                         buckets: Int = 64, deterministic: Boolean = false): Unit = {
    // deterministic = true (the accept-preview audit's bootstrap):
    // re-center means fold members in vec_id order, so a DuckDB
    // oracle replays the trained quantizer bit-for-bit — same knob,
    // same price as every other oracle-checked training path
    rankSeededCentroids(vectorRows(vectors, "doc_id"), numCentroids, trainIters, deterministic)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(table + "__centroids")
    graft.sources.Sinks.writeBucketed(
      semanticIndexRows(vectors,
        vectors.sparkSession.table(table + "__centroids")),
      table, Seq("cell"), buckets)
  }

  /** Cell-index rows for a batch of vectors against the PERSISTED
    * centroids — the shape [[writeSemanticIndex]] writes and an
    * incremental append adds: (doc_id, cell, emb, nrm), assignment by
    * the same map-side broadcast argmin as every quantizer consumer. */
  def semanticIndexRows(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    nearestCells(vectorRows(vectors, "doc_id"), packCentroids(centroids), "emb", "nrm", keep = 1)
      .select(col("vec_id").as("doc_id"), col("cell"),
        asDouble(col("emb")).as("emb"), col("nrm"))
  }

  /** Incremental semantic near-dup probe: delta vectors against the
    * persisted [[writeSemanticIndex]] — assign each delta vector to
    * its `nprobe` nearest persisted cells (broadcast argmin over the
    * constant-size centroid table), join the bucketed corpus index on
    * `cell` (zero corpus-side exchange — only the day's delta
    * shuffles), exact cosine inside the cell. One row per
    * (delta doc, corpus doc) at `threshold`, with the best cosine as
    * evidence. `nprobe > 1` buys cross-boundary recall at probe time
    * for delta-sized cost — the knob a fixed corpus index has that
    * recomputed SemDeDup blocking lacks. */
  def incrementalSemanticMatches(newVecs: DataFrame, cellIndex: DataFrame,
                                 centroids: DataFrame,
                                 threshold: Double = 0.35,
                                 nprobe: Int = 1): DataFrame =
    semanticProbeRows(newVecs, cellIndex, centroids, threshold, nprobe)
      .groupBy(col("delta_doc"), col("corpus_doc"))
      .agg(max(col("cos")).as("cosine"))

  /** The probe's candidate core `(delta_doc, corpus_doc, cos)`, SHARED
    * between the batch arm above and
    * [[graft.streaming.Streams.semanticProbeStream]] — cell
    * assignment, index join, self-pair filter, cosine and threshold
    * live in exactly one place, so the spec-pinned stream == batch
    * contract cannot drift when a knob changes. At `nprobe = 1` the
    * emitted (delta_doc, corpus_doc) pairs are already unique (one
    * cell per delta vector, one index row per corpus member); the
    * batch wrapper's max-aggregate matters only for `nprobe > 1`. */
  private[graft] def semanticProbeRows(newVecs: DataFrame, cellIndex: DataFrame,
                                       centroids: DataFrame,
                                       threshold: Double,
                                       nprobe: Int): DataFrame = {
    cosineJoin(
      nearestCells(vectorRows(newVecs, "doc_id"), packCentroids(centroids), "emb", "nrm",
        keep = nprobe),
      cellIndex.select(col("doc_id").as("vec_id"), col("cell"), col("emb"), col("nrm")),
      Seq("cell"), threshold, col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("delta_doc"), col("b.vec_id").as("corpus_doc"), col("cos"))
  }

  /** The DAILY-INGEST SEMANTIC PROBE as a registered, oracle-checkable
    * query: carve a pseudo-delta out of the embeddings table
    * ([[deltaSplit]], ≈ 5%), train the quantizer on the REMAINING
    * corpus only ([[rankSeededCentroids]], because the corpus ids are
    * sparse after the split — what
    * [[graft.Pipeline.bootstrapIncremental]] does), build the cell
    * index from the corpus, and probe it with the delta through the
    * LITERAL production function ([[incrementalSemanticMatches]],
    * `nprobe = 1`). This is the one path `runIncremental` runs per
    * delta that previously had only spec coverage; with
    * `deterministic = true` every stage is replayable double/hex
    * arithmetic, so DuckDB value-checks the whole probe end-to-end
    * ([[graft.OracleSql.semanticProbeSql]]).
    *
    * Scale shape is the production one by construction: training cost
    * is constant-size per-round centroid math over the corpus,
    * the index is one argmin projection per corpus vector, and the
    * probe joins delta×corpus WITHIN cells only — the corpus never
    * self-joins and never re-shuffles for the delta. */
  def semanticProbe(embeddings: DataFrame, numCentroids: Int = 64,
                    trainIters: Int = 3, threshold: Double = 0.35,
                    deltaHex: String = "0ccd",
                    deterministic: Boolean = false): DataFrame = {
    val (corpus, delta) = deltaSplit(embeddings, deltaHex)
    val centroids = rankSeededCentroids(vectorRows(corpus, "doc_id"), numCentroids, trainIters,
      deterministic)
    incrementalSemanticMatches(delta, semanticIndexRows(corpus, centroids),
      centroids, threshold, nprobe = 1)
  }

  /** Embedding-table sanity report — the check an embedding pipeline
    * runs before anything consumes the vectors: per dimensionality
    * (ragged tables show up as extra rows), vector count, norm range,
    * and how many vectors are non-unit or all-zero (both break
    * cosine math downstream: zero norms divide by zero, mixed norms
    * mean dot ≠ cosine). One map-side projection (native codegen'd
    * norm, computed once per vector) + one combinable aggregate;
    * min/max of deterministic doubles are partitioning-independent,
    * unlike a double sum/avg, which is deliberately NOT reported. */
  def embeddingNormStats(embeddings: DataFrame, unitTol: Double = 1e-3): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    embeddings
      .select(size(col("embedding")).cast("long").as("dim"),
        norm(col("embedding")).as("nrm"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("vectors"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        sum(when(abs(col("nrm") - 1.0) > unitTol, 1L).otherwise(0L)).as("non_unit"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("zero_vectors"))
  }
}
