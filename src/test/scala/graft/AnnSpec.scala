package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

/** Similarity search (SURVEY §2 #30-32). */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def embs(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  private val e1 = Seq(1f, 0f, 0f, 0f)
  private val e1close = Seq(0.9f, 0.1f, 0f, 0f)
  private val e2 = Seq(0f, 1f, 0f, 0f)
  private val e3 = Seq(0f, 0f, 1f, 0f)

  test("embeddingNormStats flags non-unit and zero vectors per dimensionality") {
    val df = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),      // unit
      (1L, Seq(0f, 2f, 0f, 0f), 0),      // norm 2 -> non-unit
      (2L, Seq(0f, 0f, 0f, 0f), 0))      // zero vector (also non-unit)
      .union(embs((3L, Seq(0f, 1f), 1))) // ragged: dim 2
    val out = Ann.embeddingNormStats(df)
      .select("dim", "vectors", "min_norm", "max_norm", "non_unit", "zero_vectors")
      .as[(Long, Long, Double, Double, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(4L) === ((4L, 3L, 0.0, 2.0, 2L, 1L)))
    assert(out(2L) === ((2L, 1L, 1.0, 1.0, 0L, 0L)))
  }

  test("cosine expression matches hand-computed values") {
    GraftExtensions.register(spark)
    val df = embs((0L, e1, 0), (1L, e1, 0))
    val cos = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id") === 1)
      .select(Ann.cosine(Ann.asDouble(col("a.embedding")), Ann.asDouble(col("b.embedding"))))
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("native graft_dot is bit-identical to the portable HOF fold") {
    GraftExtensions.register(spark)
    val vecs = (0 until 50).map(i =>
      (i.toLong, (0 until 64).map(j => math.sin(i * 64 + j).toFloat), 0))
    val df = embs(vecs: _*)
      .select(col("vec_id"), Ann.asDouble(col("embedding")).as("emb"))
    val diffs = df.as("a").crossJoin(df.as("b"))
      .select(
        Ann.dot(col("a.emb"), col("b.emb")).as("native"),
        Ann.dotHof(col("a.emb"), col("b.emb")).as("hof"))
      .filter(col("native") =!= col("hof")) // exact double comparison
      .count()
    assert(diffs === 0L)
  }

  test("bruteForceTopK ranks the closest vector first, excludes self") {
    val out = Ann.topK(
      embs((0L, e1, 0), (10L, e1close, 0), (11L, e2, 0), (12L, e3, 0)),
      numQueries = 1, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(out.length === 2)
    assert(out.map(_._1).toSet === Set(0L))
    assert(out.find(_._3 == 1L).get._2 === 10L) // e1close is rank 1
  }

  test("quantize maps to [-127,127] ints, keeps signs, zero vector stays zero") {
    graft.GraftExtensions.register(spark)
    val out = embs((0L, Seq(0.5f, -1.0f, 0.25f, 0f), 0), (1L, Seq(0f, 0f, 0f, 0f), 0))
      .select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Seq[Double])].collect().toMap
    // scale = 127/1.0; floor(0.5*127 + .5)=64, floor(-127+.5)=-127, floor(31.75+.5)=32
    assert(out(0L) === Seq(64.0, -127.0, 32.0, 0.0))
    assert(out(1L) === Seq(0.0, 0.0, 0.0, 0.0))
    out.values.flatten.foreach(v => assert(v == math.floor(v) && math.abs(v) <= 127))
  }

  test("native graft_quantize_int8 is bit-identical to the declarative HOF quantize") {
    graft.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(11)
    val rows = (0L until 50L).map(i =>
      (i, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 4f), 0)) :+
      (99L, Seq.fill(16)(0f), 0)
    val df = embs(rows: _*)
    val native = df.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Seq[Double])].collect().toMap
    val hof = df.select(col("vec_id"), Ann.quantizeHof(col("embedding")).as("q"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(native === hof)
  }

  test("quantize null contract: a null element poisons the WHOLE vector, both paths") {
    graft.GraftExtensions.register(spark)
    val df = Seq((0L, Seq[java.lang.Float](1.0f, null, 2.0f)),
        (1L, Seq[java.lang.Float](1.0f, -2.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val native = df.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Option[Seq[Double]])].collect().toMap
    val hof = df.select(col("vec_id"), Ann.quantizeHof(col("embedding")).as("q"))
      .as[(Long, Option[Seq[Double]])].collect().toMap
    assert(native(0L).isEmpty && hof(0L).isEmpty) // holes -> no meaningful scale
    assert(native(1L) === hof(1L) && native(1L).nonEmpty)
  }

  test("quantizedTopK agrees with exact brute force on separated vectors, drops zero vectors") {
    val df = embs((0L, e1, 0), (10L, e1close, 0), (11L, e2, 0), (12L, e3, 0),
      (13L, Seq(0f, 0f, 0f, 0f), 0))
    val qTop = Ann.topK(df, numQueries = 1, k = 2, codec = Ann.Codec.Int8)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect()
    val exact = Ann.topK(df.filter(col("vec_id") =!= 13L), numQueries = 1, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(qTop.toSet === exact.toSet)
    assert(!qTop.exists(_._2 == 13L), "zero vector must be excluded, not NaN-ranked")
  }

  test("lshTopK returns same-bucket candidates ranked by exact cosine") {
    // identical vectors always share every bucket -> guaranteed recall
    val out = Ann.topK(
      embs((0L, e1, 0), (10L, e1, 0), (11L, e2, 0)),
      numQueries = 1, k = 3, coarse = Ann.Coarse.Lsh())
      .select("vec_id", "rank").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.find(_._2 == 1L).get._1 === 10L)
  }

  test("ivfTopK finds the nearest vector when it shares the query's cell") {
    // numCentroids=100 makes every vector a centroid; vec 10 (≈ e1)
    // sits in its own cell, which query 0 probes at nprobe=2 (its
    // second-nearest centroid after its own cell 0)
    val out = Ann.topK(
      embs((0L, e1, 0), (10L, e1close, 0), (11L, e2, 0), (12L, e3, 0)),
      numQueries = 1, k = 2, coarse = Ann.Coarse.Ivf(numCentroids = 100, nprobe = 2))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.find(_._3 == 1L).get._2 === 10L)
  }

  /** `topK`'s rows as a sorted sequence, after checking the output
    * contract: each (query, vector) pair once, ranks 1..n per query. */
  private def topRows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    val rows = df.collect().toSeq
    val pairs = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
    assert(pairs.distinct.length === rows.length, "a (query, vector) pair came out twice")
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { q =>
      assert(q.map(_.getAs[Long]("rank")).sorted === (1L to q.length.toLong))
    }
    rows.sortBy(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")))
  }

  test("topK: IVF probing every cell returns flat's rows, float and int8 codecs") {
    val emb = randomEmbeddings(400)
    for (codec <- Seq(Ann.Codec.Float, Ann.Codec.Int8);
         ivf <- Seq(Ann.Coarse.Ivf(numCentroids = 8, nprobe = 8),
           Ann.Coarse.Ivf(numCentroids = 8, nprobe = 8, trainIters = 2, deterministic = true))) {
      val flat = topRows(Ann.topK(emb, codec = codec))
      assert(flat.length === 15)
      assert(topRows(Ann.topK(emb, coarse = ivf, codec = codec)) === flat, s"$ivf x $codec")
    }
  }

  test("topK: the float and int8 parameterizations return identical rows under any partitioning") {
    val emb = randomEmbeddings(400)
    val trained = Ann.Coarse.Ivf(trainIters = 3, deterministic = true)
    for ((coarse, codec) <- Seq[(Ann.Coarse, Ann.Codec)](
        (Ann.Coarse.Flat, Ann.Codec.Float), (Ann.Coarse.Lsh(), Ann.Codec.Float),
        // 64 tables of 4 bits: near neighbours share many buckets, so
        // the candidate join emits each of them several times
        (Ann.Coarse.Lsh(tables = 64, bits = 4), Ann.Codec.Float),
        (Ann.Coarse.Ivf(), Ann.Codec.Float), (trained, Ann.Codec.Float),
        (Ann.Coarse.Flat, Ann.Codec.Int8), (Ann.Coarse.Ivf(), Ann.Codec.Int8))) {
      def run(n: Int) = topRows(Ann.topK(emb.repartition(n), coarse = coarse, codec = codec))
      val one = run(1)
      assert(one.nonEmpty)
      assert(run(7) === one, s"$coarse x $codec")
    }
  }

  test("kmeansCentroids pulls seeds onto well-separated cluster means; trained IVF finds the nearest") {
    // two tight clusters far apart; seeds (vec 0, vec 1) start one in
    // each, so 3 Lloyd rounds must land each centroid on its cluster mean
    val a = (0 until 8).map(i => (i * 2L, Seq(1f, 0.02f * i, 0f, 0f), 0))      // cluster A: even ids
    val b = (0 until 8).map(i => (i * 2L + 1L, Seq(0f, 0.02f * i, 1f, 0f), 0)) // cluster B: odd ids
    val df = embs((a ++ b): _*)
    val e = df.select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", Ann.norm(col("emb")))
    val cents = Ann.kmeansCentroids(e, k = 2, iters = 3)
      .select(explode(col("cents")).as("c"))
      .select(col("c.cell"), col("c.cemb"))
      .as[(Long, Seq[Double])].collect().toMap
    // centroid 0 ≈ mean of A (x-dominant), centroid 1 ≈ mean of B (z-dominant)
    assert(cents(0L).head > 0.9 && cents(0L)(2) < 0.1)
    assert(cents(1L)(2) > 0.9 && cents(1L).head < 0.1)
    // trained IVF: query 0 (in A) must rank another A member first
    val top = Ann.topK(df, numQueries = 1, k = 1,
      coarse = Ann.Coarse.Ivf(numCentroids = 2, nprobe = 1, trainIters = 3))
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(top.length === 1 && top.head._2 % 2 === 0L,
      s"query 0's nearest must come from cluster A, got ${top.toSeq}")
  }

  test("deterministic kmeans mode returns the same trained top-k as the combinable mode") {
    // The ann_ivf_trained registry row runs deterministic=true (vec_id-
    // ordered member folds, DuckDB-replayable); production keeps the
    // map-side-combinable partial sums. The means differ only in
    // double rounding, so the trained top-k must agree on real data.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(det: Boolean) =
      Ann.topK(emb, coarse = Ann.Coarse.Ivf(trainIters = 3, deterministic = det))
        .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
        .collect().toSet
    assert(run(det = true) === run(det = false))
  }

  test("capped semantic blocking bounds a viral cell's pair work, pairs stay a subset") {
    // 200 near-identical vectors all land in one cell: uncapped pairs
    // ~ C(200,2); cap=20 subdivides into 10 subcells of exactly 20 ->
    // pair count collapses ~10x, every capped pair an uncapped pair.
    // Ids are STRIDED (x100) — the distribution an id-modulo split
    // collapses on; rank-within-cell must stay balanced regardless
    val viral = (0 until 200).map { i =>
      (i * 100L, Seq(1f, 1e-4f * i, 0f, 0f), 0)
    }
    val df = embs(viral: _*)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id_1", "vec_id_2").as[(Long, Long)].collect().toSet
    val uncapped = pairs(Ann.semanticDedupPairs(df, numCentroids = 1, threshold = 0.0))
    val capped = pairs(Ann.semanticDedupPairsCapped(df, numCentroids = 1,
      threshold = 0.0, cap = 20))
    assert(uncapped.size === 199 * 200 / 2)
    assert(capped.subsetOf(uncapped))
    // 10 subcells of 20 -> 10 * C(20,2) = 1900 pairs, a 10.5x cut
    assert(capped.size === 10 * (19 * 20 / 2))
  }

  test("trained semantic blocking recalls at least as many true pairs as the untrained seed") {
    // the point of paying for Lloyd's rounds: better-centered cells
    // co-locate true neighbors more often at the SAME fan-out.
    // Ground truth = all-pairs cosine >= threshold (fine at spec SF).
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", Ann.norm(col("emb")))
    val truth = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Ann.dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= 0.35)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect().toSet
    def found(iters: Int) =
      Ann.semanticDedupPairs(emb, trainIters = iters, deterministic = true)
        .select("vec_id_1", "vec_id_2").as[(Long, Long)].collect().toSet
    val (untrained, trained) = (found(0), found(3))
    assert(trained.subsetOf(truth) && untrained.subsetOf(truth),
      "blocked pairs are exact cosine matches, so both must be subsets of truth")
    assert((trained & truth).size >= (untrained & truth).size,
      s"trained recall ${(trained & truth).size} < untrained ${(untrained & truth).size}")
  }

  test("semantic index: rank-seeded centroids handle sparse ids; probe finds cross-corpus neighbors") {
    // STRIDED doc ids — the distribution ivfCentroids' `vec_id < k`
    // seed rule collapses on (no ids below k exist); the rank seed
    // must still produce k cells and a working probe
    val corpus = Seq(
      (1000L, Seq(1f, 0f, 0f, 0f)),
      (5000L, Seq(0f, 1f, 0f, 0f)),
      (9000L, Seq(0f, 0f, 1f, 0f))).toDF("doc_id", "embedding")
    Ann.writeSemanticIndex(corpus, "graft_semidx_t", numCentroids = 2, trainIters = 1)
    val cells = spark.table("graft_semidx_t")
    assert(cells.select("doc_id").as[Long].collect().toSet === Set(1000L, 5000L, 9000L))
    assert(spark.table("graft_semidx_t__centroids").count() === 2L)
    val m = Ann.incrementalSemanticMatches(
      Seq((7L, Seq(0.95f, 0.31f, 0f, 0f))).toDF("doc_id", "embedding"),
      cells, spark.table("graft_semidx_t__centroids"), threshold = 0.5)
      .collect()
    assert(m.map(r => (r.getAs[Long]("delta_doc"), r.getAs[Long]("corpus_doc"))).toSet
      === Set((7L, 1000L)))
  }

  test("scaled+trained composition equals fixed-k training at the derived sqrt-N fan-out") {
    // the composed registered path must be exactly "derive k, then
    // train at k" — no hidden divergence between the two knobs
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id_1", "vec_id_2").as[(Long, Long)].collect().toSet
    val composed = pairs(Ann.semanticDedupPairsScaled(emb, trainIters = 3, deterministic = true))
    val fixed = pairs(Ann.semanticDedupPairs(emb, numCentroids = k,
      trainIters = 3, deterministic = true))
    assert(composed === fixed)
    assert(composed.nonEmpty)
  }

  test("native graft_dot yields NULL for ragged arrays and null elements, like the HOF form") {
    GraftExtensions.register(spark)
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0, 3.0)), // ragged
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),     // null elem
      (3L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))      // clean
      .toDF("id", "a", "b")
    val out = df.orderBy("id")
      .select(Ann.dot(col("a"), col("b")), Ann.dotHof(col("a"), col("b")))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(out(0) === ((None, None)))
    assert(out(1) === ((None, None)))
    assert(out(2) === ((Some(11.0), Some(11.0))))
  }

  test("graft_dot / graft_norm are callable from SQL once registered") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "graft_norm(array(3.0D, 4.0D)) AS n").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
  }

  test("graft_srp_buckets_md5 matches an independent hex-string sign reference") {
    GraftExtensions.register(spark)
    // Replayability contract (what the ann_lsh oracle relies on): the
    // bucket must be derivable from md5 HEX strings alone — weight
    // (t, j, d) is +1 iff md5("t:j:d") starts with '0'..'7', the
    // projection folds dims left-to-right, bit j set iff strictly
    // positive. An independent driver-side formulation must land on
    // the same buckets as the engine's byte-twiddling loop.
    def refBuckets(v: Seq[Double], tables: Int, bits: Int): Seq[Long] =
      (0 until tables).map { t =>
        (0 until bits).foldLeft(0L) { (bucket, j) =>
          val proj = v.indices.foldLeft(0.0) { (acc, d) =>
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(s"$t:$j:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
            acc + v(d) * (if (hex.charAt(0) <= '7') 1.0 else -1.0)
          }
          if (proj > 0) bucket | (1L << j) else bucket
        }
      }
    val vecs = Seq(
      Seq(1.0, -2.0, 0.5, 3.0),
      (0 until 64).map(j => math.sin(j * 0.7)).toSeq)
    for (v <- vecs) {
      val arr = v.map(x => s"${x}D").mkString("array(", ", ", ")")
      val got = spark.sql(s"SELECT graft_srp_buckets_md5($arr, 4, 8) AS b")
        .head().getSeq[Long](0)
      assert(got.toSeq === refBuckets(v, 4, 8))
    }
    // identical vectors share every bucket (the recall guarantee the
    // LSH top-k spec uses) holds for the md5 family by determinism
    val a = spark.sql("SELECT graft_srp_buckets_md5(array(1.0D, 2.0D), 3, 5) AS b")
      .head().getSeq[Long](0)
    val b = spark.sql("SELECT graft_srp_buckets_md5(array(1.0D, 2.0D), 3, 5) AS b")
      .head().getSeq[Long](0)
    assert(a === b)
  }

  test("graft_ivf_argmin equals the declarative struct-min on random mixed vectors") {
    GraftExtensions.register(spark)
    val vecs = (0 until 200).map(i =>
      (i.toLong, (0 until 16).map(j => math.sin(i * 16 + j).toFloat), 0))
    val df = embs(vecs: _*)
      .select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", Ann.norm(col("emb")))
    val cents = Ann.ivfCentroids(df, 32)
    val scored = transform(col("cents"), c =>
      struct((-(Ann.dot(col("emb"), c.getField("cemb")) / (col("nrm") * c.getField("cnrm"))))
        .as("negsim"), c.getField("cell").as("cell")))
    val diffs = df.crossJoin(broadcast(cents))
      .select(
        call_function("graft_ivf_argmin", col("emb"), col("cents")).as("native"),
        array_min(scored).getField("cell").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs === 0L)
  }

  test("graft_dot rejects non-double-array arguments at analysis time") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot('a', 'b')").collect()
    }
    assert(e.getMessage.contains("graft_dot"))
  }

  test("embeddingDedupPairs blocks on label and applies the threshold") {
    val out = Ann.embeddingDedupPairs(
      embs((1L, e1, 7), (2L, e1close, 7), (3L, e1, 8), (4L, e2, 7)),
      threshold = 0.9)
      .select("vec_id_1", "vec_id_2").as[(Long, Long)].collect()
    // 1-2 same label & cos ~0.99; 1-3 identical but different label; 1-4 orthogonal
    assert(out.toSeq === Seq((1L, 2L)))
  }

  test("semanticDedupPairs blocks on the deterministic IVF cell, no labels needed") {
    // numCentroids=2 -> centroids are vec 0 (x-axis) and vec 1 (y-axis)
    val out = Ann.semanticDedupPairs(embs(
      (0L, Seq(1f, 0f, 0f, 0f), 9),      // centroid/cell 0
      (1L, Seq(0f, 1f, 0f, 0f), 9),      // centroid/cell 1
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 9),  // -> cell 0
      (3L, Seq(0.8f, 0.2f, 0f, 0f), 9),  // -> cell 0
      (4L, Seq(0.1f, 0.9f, 0f, 0f), 9)), // -> cell 1
      numCentroids = 2, threshold = 0.9)
      .select("vec_id_1", "vec_id_2", "cell").as[(Long, Long, Long)].collect().toSet
    // within cell 0: (0,2) cos .994, (0,3) cos .970, (2,3) cos .991;
    // within cell 1: (1,4) cos .994; cross-cell pairs never scored
    assert(out === Set((0L, 2L, 0L), (0L, 3L, 0L), (2L, 3L, 0L), (1L, 4L, 1L)))
  }

  test("ivfQuantizedTopK: cell probing bounds candidates, quantized dots score them exactly") {
    // numCentroids=2 -> centroids vec 0 (x-axis) and vec 1 (y-axis)
    val out = Ann.topK(embs(
      (0L, Seq(1f, 0f, 0f, 0f), 9),       // query+centroid, cell 0
      (1L, Seq(0f, 1f, 0f, 0f), 9),       // query+centroid, cell 1
      (2L, Seq(0.5f, 0f, 0f, 0f), 9),     // cell 0; quantizes to (127,0,0,0)
      (3L, Seq(0f, 0f, 0f, 0f), 9),       // zero vector -> excluded from scoring
      (4L, Seq(0f, 0.5f, 0.5f, 0f), 9)),  // cell 1; quantizes to (0,127,127,0)
      numQueries = 2, k = 2, coarse = Ann.Coarse.Ivf(numCentroids = 2, nprobe = 1),
      codec = Ann.Codec.Int8)
      .select("query_id", "vec_id", "cosine_q", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    // query 0 probes only cell 0: candidate 2 at quantized cos 1.0
    // (both quantize to (127,0,0,0)); query 1 probes cell 1:
    // candidate 4 at 16129/(sqrt(16129)*sqrt(32258)) = 1/sqrt(2)
    val c14 = 16129.0 / (math.sqrt(16129.0) * math.sqrt(32258.0))
    assert(out === Set((0L, 2L, 1.0, 1L), (1L, 4L, c14, 1L)))
  }

  test("semanticDecontam flags train vectors near a holdout, best match ties to lower id") {
    // md5 prefixes: "6"->1679, "7"->8f14, "9"->45c4 (< a000 -> holdout);
    // "0"->cfcd, "1"->c4ca, "2"->c81e, "3"->eccb (train).
    // numCentroids=2 -> centroids vec 0 (x-axis) and vec 1 (y-axis).
    val out = Ann.semanticDecontam(embs(
      (0L, Seq(1f, 0f, 0f, 0f), 9),      // train, cell 0
      (1L, Seq(0f, 1f, 0f, 0f), 9),      // train, cell 1
      (2L, Seq(0.95f, 0.05f, 0f, 0f), 9), // train, cell 0
      (3L, Seq(0f, 0f, 1f, 0f), 9),      // train, cell 0 (tie -> lower), orthogonal to all
      (6L, Seq(0.9f, 0.1f, 0f, 0f), 9),  // holdout, cell 0
      (7L, Seq(0.8f, 0.2f, 0f, 0f), 9),  // holdout, cell 0
      (9L, Seq(0.1f, 0.9f, 0f, 0f), 9)), // holdout, cell 1
      numCentroids = 2, threshold = 0.5, holdoutHex = "a000")
      .select("vec_id", "holdout_id", "matches")
      .as[(Long, Long, Long)].collect().toSet
    // vec 0 hits holdouts 6 (cos .994) and 7 (.970) -> best 6, 2 matches;
    // vec 2 hits 6 (.998) and 7 (.982); vec 1 hits 9 (.994); vec 3 is
    // orthogonal to every holdout in its cell -> clean, absent
    assert(out === Set((0L, 6L, 2L), (2L, 6L, 2L), (1L, 9L, 1L)))
  }

  test("quantizedMoments: exact int8 second moments and covariance, upper triangle only") {
    // q(v1)=[127,64] (ma=2: 1*127/2+.5 floors to 64), q(v2)=[0,0],
    // q(v3)=[127,-127]
    val df = embs((1L, Seq(2f, 1f), 0), (2L, Seq(0f, 0f), 0), (3L, Seq(1f, -1f), 0))
    val out = Ann.quantizedMoments(df)
      .select("dim_i", "dim_j", "n", "sum_xy", "cov")
      .as[(Int, Int, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.keySet === Set((1, 1), (1, 2), (2, 2))) // i <= j only
    assert(out((1, 1))._4 === 127.0 * 127 + 0 + 127.0 * 127)
    assert(out((1, 2))._4 === 127.0 * 64 + 0 + 127.0 * -127)
    assert(out((2, 2))._4 === 64.0 * 64 + 0 + 127.0 * 127)
    assert(out.values.forall(_._3 === 3L))
    // covariance via the same double association the operator uses
    assert(out((1, 2))._5 === (-8001.0 - 254.0 * (-63.0) / 3) / 3)
    assert(out((1, 1))._5 === (32258.0 - 254.0 * 254.0 / 3) / 3)
  }

  test("deterministic Lloyd training is bitwise identical under any partitioning") {
    // full-mantissa doubles: sums of widened floats are exact in any
    // order, so only these can expose a partition-order-dependent fold
    val e = randomEmbeddings(400)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double") / 3).as("emb"))
      .withColumn("nrm", Ann.norm(col("emb")))
    def raw(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v: scala.collection.Seq[_] => v.map(raw)
      case o => o
    }
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(raw)).sortBy(_.toString).toSeq
    def ivf(n: Int, rank: Boolean) = bits(Ann.unpackCentroids(
      Ann.kmeansCentroids(e.repartition(n), 16, 3, deterministic = true, rankSeed = rank)))
    def pq(n: Int) = bits(graft.operators.Pq.trainCodebooks(e.repartition(n)
      .select(col("vec_id"), col("emb")), 8, 8, 16, 3, deterministic = true)
      .select(col("sub"), explode(col("cents")).as("c"))
      .select(col("sub"), col("c.cell"), col("c.cemb")))
    for (rank <- Seq(false, true)) assert(ivf(1, rank) === ivf(7, rank), s"IVF rankSeed=$rank")
    assert(pq(1) === pq(7), "PQ codebooks")
  }
}
