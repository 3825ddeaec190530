package graft

import graft.operators.{Ann, Pq}
import org.apache.spark.sql.functions._

/** Product quantization (SURVEY §2, ANN family: `pq_codes`,
  * `ann_pq`, `ann_ivf_pq`). */
class PqSpec extends SparkSpec {
  import spark.implicits._

  /** 40 deterministic 8-dim vectors in two tight clusters: even ids
    * hug e1-ish directions, odd ids e2-ish — small jitter keeps every
    * vector distinct while the cluster structure stays unambiguous. */
  private def clustered(n: Int = 40): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val base = if (i % 2 == 0) Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
      else Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
      val jit = (0 until 8).map(j => base(j) + 0.01f * ((i * 8 + j) % 7))
      (i.toLong, jit, i % 2)
    }.toDF("vec_id", "embedding", "label")

  test("l2sq folds dims left-to-right: 0 for identical, exact for a unit offset") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0), Seq(2.0, 2.0, 3.0)))
      .toDF("a", "b", "c")
    val (same, off) = df.select(
      Pq.l2sq(col("a"), col("b")), Pq.l2sq(col("a"), col("c")))
      .as[(Double, Double)].head()
    assert(same === 0.0)
    assert(off === 1.0)
  }

  test("pqCodes: one code per (vector, subspace), codes within [0, ksub)") {
    val codes = Pq.pqCodes(clustered(), m = 2, subDims = 4, ksub = 4,
      iters = 2, deterministic = true)
    val rows = codes.as[(Long, Int, Long)].collect()
    assert(rows.length === 40 * 2)
    assert(rows.map(r => (r._1, r._2)).distinct.length === 80)
    assert(rows.forall(r => r._3 >= 0 && r._3 < 4))
  }

  test("pqCodes groups the two planted clusters: same-parity rows share codes") {
    // After training, every even vector should land on one code word
    // per subspace and every odd vector on another — PQ's whole point.
    // ksub = 2 so the seed (vecs 0 and 1) plants one centroid per
    // cluster — with more seeds a cluster legitimately spans several
    // code words and the one-word assertion would be vacuous.
    val codes = Pq.pqCodes(clustered(), m = 2, subDims = 4, ksub = 2,
      iters = 2, deterministic = true)
      .withColumn("parity", (col("vec_id") % 2).cast("int"))
    val perParity = codes.groupBy(col("parity"), col("sub"))
      .agg(countDistinct(col("code")).as("n")).as[(Int, Int, Long)].collect()
    assert(perParity.forall(_._3 === 1L),
      s"each (parity, sub) should map to exactly one code word: ${perParity.toSeq}")
    val cross = codes.filter(col("sub") === 0)
      .groupBy(col("parity")).agg(first(col("code")).as("c"))
      .as[(Int, Long)].collect().toMap
    assert(cross(0) !== cross(1), "clusters must get distinct code words")
  }

  test("deterministic and combinable training agree on the top-k (same data, both modes)") {
    val det = Ann.topK(clustered(), numQueries = 3, k = 3, codec = Ann.Codec.Pq(m = 2,
      subDims = 4, ksub = 4, iters = 2, adcCand = 8, deterministic = true))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val comb = Ann.topK(clustered(), numQueries = 3, k = 3, codec = Ann.Codec.Pq(m = 2,
      subDims = 4, ksub = 4, iters = 2, adcCand = 8, deterministic = false))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(det === comb)
  }

  test("pqTopK re-rank returns exact cosines: top hit for an even query is an even vector") {
    val out = Ann.topK(clustered(), numQueries = 2, k = 3, codec = Ann.Codec.Pq(m = 2,
      subDims = 4, ksub = 4, iters = 2, adcCand = 8, deterministic = true))
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(out.length === 6)
    // query 0 is even-cluster: all its top-3 are even vectors with
    // near-1 cosine; same for odd query 1 within its own cluster
    out.foreach { case (q, v, cos, _) =>
      assert(v % 2 === q % 2, s"query $q matched cross-cluster vector $v")
      assert(cos > 0.99, s"in-cluster cosine unexpectedly low: $cos")
      assert(v !== q, "self must be excluded")
    }
  }

  test("ADC distance is the sum of per-subspace codebook distances (spot-check vs exact)") {
    // With ksub large enough that every vector is its own centroid
    // after 0 iters (n <= ksub), ADC degenerates to exact L2 between
    // subvectors — adist must equal the true squared L2 distance.
    val df = clustered(8)
    val out = Ann.topK(df, numQueries = 1, k = 3, codec = Ann.Codec.Pq(m = 2, subDims = 4,
      ksub = 8, iters = 0, adcCand = 7, deterministic = true))
      .select("vec_id", "adist").as[(Long, Double)].collect().toMap
    val e = df.select(col("vec_id"), Ann.asDouble(col("embedding")).as("emb"))
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
    val exact = e.crossJoin(q).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), Pq.l2sq(col("emb"), col("qemb")).as("d2"))
      .as[(Long, Double)].collect().toMap
    out.foreach { case (v, adist) =>
      assert(math.abs(adist - exact(v)) < 1e-12,
        s"vec $v: adist $adist != exact ${exact(v)}")
    }
  }

  test("ivfPqTopK matches pqTopK's hit set when every cell is probed") {
    // nprobe = numCentroids means coarse pruning removes nothing —
    // the composed index must return the same (query, vec) hits.
    val flat = Ann.topK(clustered(), numQueries = 2, k = 3, codec = Ann.Codec.Pq(m = 2,
      subDims = 4, ksub = 4, iters = 2, adcCand = 40, deterministic = true))
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.topK(clustered(), numQueries = 2, k = 3,
      coarse = Ann.Coarse.Ivf(numCentroids = 4, nprobe = 4, trainIters = 1, deterministic = true),
      codec = Ann.Codec.Pq(m = 2, subDims = 4, ksub = 4, iters = 2, adcCand = 40,
        deterministic = true))
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(flat === ivf)
  }

  test("IVF-PQ probing every cell returns flat PQ's rows") {
    // every vector is a candidate either way and the codes are the
    // same raw-vector codes, so ADC survivors and re-rank coincide
    val embs = randomEmbeddings(400)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    val pq = Ann.Codec.Pq(deterministic = true)
    val flat = rows(Ann.topK(embs, codec = pq))
    assert(flat.size === 15)
    assert(rows(Ann.topK(embs, coarse = Ann.Coarse.Ivf(numCentroids = 8, nprobe = 8,
      trainIters = 2, deterministic = true), codec = pq)) === flat)
  }

  test("the PQ parameterizations return identical rows under any partitioning") {
    val embs = randomEmbeddings(400)
    val ivf = Ann.Coarse.Ivf(trainIters = 3, deterministic = true)
    for ((coarse, codec) <- Seq[(Ann.Coarse, Ann.Codec)](
        (Ann.Coarse.Flat, Ann.Codec.Pq(deterministic = true)),
        (ivf, Ann.Codec.Pq(deterministic = true)),
        (ivf, Ann.Codec.Pq(residual = true, deterministic = true)))) {
      def run(n: Int) = Ann.topK(embs.repartition(n), coarse = coarse, codec = codec)
        .collect().sortBy(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"))).toSeq
      val one = run(1)
      assert(one.length === 15)
      assert(run(7) === one, s"$coarse x $codec")
    }
  }

  test("pq recall on the gate corpus: ADC top-64 + re-rank recovers the exact top-3") {
    // The parameters registered for ann_pq reach full recall on the
    // sf0.001 embeddings — the same data-side contract ann_lsh_recall
    // pins; a codes/ADC regression drops hits below exact_k.
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val recall = Ann.recallAtK(
      Ann.topK(embs, codec = Ann.Codec.Pq(deterministic = true)),
      Ann.topK(embs))
      .select("query_id", "exact_k", "hits").as[(Long, Long, Long)].collect()
    assert(recall.length === 5)
    val total = recall.map(_._2).sum
    val hit = recall.map(_._3).sum
    assert(hit >= (total * 2) / 3,
      s"PQ recall collapsed: $hit of $total exact hits recovered")
  }

  test("residual IVF-PQ with exact codebooks reproduces true distances and the exact top-k") {
    // iters=0 and ksub >= n make every residual its own codeword, so
    // ADC in a probed cell is ||(q-c) - (x-c)||^2 = ||q-x||^2 exactly;
    // probing every cell with a full rerank budget must then return
    // the brute-force top-k
    val df = clustered(8)
    val out = Ann.topK(df, numQueries = 2, k = 3,
      coarse = Ann.Coarse.Ivf(numCentroids = 4, nprobe = 4, trainIters = 1, deterministic = true),
      codec = Ann.Codec.Pq(m = 2, subDims = 4, ksub = 8, iters = 0, adcCand = 8,
        residual = true, deterministic = true))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val exact = Ann.topK(df, numQueries = 2, k = 3)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(out === exact)
  }

  test("residual IVF-PQ recall on the gate corpus stays above the family floor") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val recall = Ann.recallAtK(
      Ann.topK(embs, coarse = Ann.Coarse.Ivf(trainIters = 3, deterministic = true),
        codec = Ann.Codec.Pq(residual = true, deterministic = true)),
      Ann.topK(embs))
      .select("exact_k", "hits").as[(Long, Long)].collect()
    val (total, hit) = (recall.map(_._1).sum, recall.map(_._2).sum)
    assert(hit >= (total * 2) / 3,
      s"residual IVF-PQ recall collapsed: $hit of $total")
  }

  test("semanticProbePq with exact codebooks recovers true cosines via the law of cosines") {
    // ksub >= corpus and iters = 0 make every corpus vector its own
    // codeword, so adist is the true ||q - x||^2 and the recovered
    // cosine must match the direct dot-product cosine to fp rounding
    val df = clustered(12)
    val pq = Pq.semanticProbePq(df, numCentroids = 4, trainIters = 1,
      threshold = -2.0, deltaHex = "4000", m = 2, subDims = 4, ksub = 12,
      iters = 0, deterministic = true)
      .select("delta_doc", "corpus_doc", "approx_cos")
      .as[(Long, Long, Double)].collect()
    assert(pq.nonEmpty, "the 25% pseudo-delta must produce probe pairs")
    val e = df.select(col("vec_id"), Ann.asDouble(col("embedding")).as("emb"))
    val cos = e.as("a").crossJoin(e.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        (Ann.dot(col("a.emb"), col("b.emb")) /
          (Ann.norm(col("a.emb")) * Ann.norm(col("b.emb")))).as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    pq.foreach { case (d, c, ac) =>
      assert(math.abs(ac - cos((d, c))) < 1e-9,
        s"($d,$c): recovered $ac vs direct ${cos((d, c))}")
    }
  }

  test("semanticProbePq is candidate-COMPLETE over the exact probe at gate SF") {
    // quantization error widens the candidate set near the threshold
    // (that is the documented trade: the PQ probe feeds the exact
    // arm), but it must not LOSE a hit the exact probe finds
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Ann.semanticProbe(embs, trainIters = 3, deterministic = true)
      .select("delta_doc", "corpus_doc")
      .as[(Long, Long)].collect().toSet
    val pq = Pq.semanticProbePq(embs, deterministic = true)
      .select("delta_doc", "corpus_doc")
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert((exact -- pq).isEmpty,
      s"PQ probe lost exact hits: ${exact -- pq}")
  }

  test("subspaceCoherence: cross-block twins indicate rotation, within-block twins don't") {
    // 16-dim one-hot designs over i = 0..63, subDims=8 -> 2 blocks;
    // indicator dims give EXACT correlations (two one-hot dims of one
    // block: -1/7; independent uniform indicators: 0; copied dims:
    // 1), and 0/1 values survive per-vector int8 quantization as
    // 0/127 — correlations unchanged. No noise floor anywhere.
    def embed(f: (Int, Int) => Float) =
      (0 until 64).map(i => (i.toLong, (0 until 16).map(d => f(i, d)))).toDF("vec_id", "embedding")
    def ind(b: Boolean): Float = if (b) 1f else 0f
    // block 1 copies block 0: the perfect pairs land CROSS-block
    // (cross mean = (8·1 + 56·(1/7))/64 = 1/4 > within mean 1/7)
    val crossTwins = embed((i, d) => ind(i % 8 == d % 8))
    val crossRow = Pq.subspaceCoherence(crossTwins, subDims = 8).head()
    assert(crossRow.getAs[Long]("within_pairs") === 56L
      && crossRow.getAs[Long]("cross_pairs") === 64L)
    assert(crossRow.getAs[Boolean]("rotation_indicated"),
      s"cross-block structure not flagged: $crossRow")
    // blocks one-hot on INDEPENDENT digits of i (i%8 vs i/8): all
    // structure within blocks (mean 1/7), zero across — contiguous
    // slicing is already right, no rotation
    val withinTwins = embed((i, d) => if (d < 8) ind(i % 8 == d) else ind(i / 8 == d - 8))
    val withinRow = Pq.subspaceCoherence(withinTwins, subDims = 8).head()
    assert(withinRow.getAs[Double]("cross_mean_abs_corr") === 0.0)
    assert(!withinRow.getAs[Boolean]("rotation_indicated"),
      s"within-block structure misread as rotation case: $withinRow")
  }

  test("opqPosToDim: a bijection that snake-balances variance across subspaces") {
    // dims 1..8 carry variance (value = i-dependent), dims 9..16 are
    // constant: identity layout puts ALL variance in block 0; the
    // snake must deal the 8 high-variance dims one per... with m=2
    // groups of 8: ranks 0,1 -> groups 0,1; ranks 2,3 -> 1,0 (snake);
    // so the 8 high-variance dims split 4/4 between the two groups
    // flat dims are exactly 0 so their quantized variance is exactly
    // 0 whatever each row's scale (a nonzero constant would quantize
    // to row-dependent values and leak variance)
    val embs = (0 until 32).map(i => (i.toLong,
      (0 until 16).map(d => if (d < 8) ((i * (d + 2)) % 101).toFloat else 0f)))
      .toDF("vec_id", "embedding")
    val p = Pq.opqPosToDim(embs, m = 2, subDims = 8)
    assert(p.sorted.toSeq === (1 to 16))
    val highPerGroup = p.grouped(8).map(_.count(_ <= 8)).toSeq
    assert(highPerGroup === Seq(4, 4),
      s"variance not balanced: $highPerGroup (posToDim ${p.toSeq})")
  }

  test("opqGain counts every vector exactly once and is deterministic") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Pq.opqGain(embs, deterministic = true).head()
    val (docs, imp, reg, tied) = (r.getAs[Long]("docs"), r.getAs[Long]("improved_docs"),
      r.getAs[Long]("regressed_docs"), r.getAs[Long]("tied_docs"))
    assert(docs > 0 && imp + reg + tied === docs, s"partition broken: $r")
    val r2 = Pq.opqGain(embs.repartition(13), deterministic = true).head()
    assert(r2 === r, s"not partition-stable: $r vs $r2")
  }

  test("opqGain memo: cached training chains reproduce the uncached row bit-for-bit") {
    // r19 VERDICT #5: the permutation + both trained codebook sets
    // are memoized on the input's fingerprint, so repeat calls price
    // encoding + win counting. Three pins: a memoized call == an
    // uncached one (the cache changes cost, never values), a second hit == itself (the
    // cached frames survive reuse), and a different input stays
    // independent (no cross-input bleed).
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // a checkpointed copy has no file fingerprint: never memoized
    val plain = Pq.opqGain(embs.localCheckpoint(), deterministic = true).head()
    val keyed1 = Pq.opqGain(embs, deterministic = true).head()
    val keyed2 = Pq.opqGain(embs, deterministic = true).head()
    assert(keyed1 === plain, "a cache hit changed the row values")
    assert(keyed2 === plain, "cached training chains drifted on reuse")
    // a DIFFERENT input over the same files must not see the cache
    val other = Pq.opqGain(embs.filter(col("vec_id") % 2 === 0),
      deterministic = true).head()
    assert(other.getAs[Long]("docs") < plain.getAs[Long]("docs"),
      "distinct inputs must train on their own input")
  }

  test("writeSemanticIndexPqOnce: matching key reuses the persisted index, different key rebuilds") {
    // train-once seam for the persisted registry rows, keyed on the
    // input's fingerprint: the same input must leave the tables
    // untouched, a different input must rebuild, the first input
    // again must rebuild over the other input's tables, and the probe
    // reads the same values for the same input (deterministic
    // training).
    Seq("graft_pq_once", "graft_pq_once__centroids", "graft_pq_once__codebooks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = embs.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val delta = embs.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    def probe() = Pq.incrementalSemanticMatchesPq(delta,
        spark.table("graft_pq_once"), spark.table("graft_pq_once__centroids"),
        spark.table("graft_pq_once__codebooks"))
      .collect().map(_.toString).sorted.toSeq
    def files = spark.table("graft_pq_once").inputFiles.toSet
    Pq.writeSemanticIndexPqOnce(corpus, "graft_pq_once")
    val out1 = probe()
    val files1 = files
    Pq.writeSemanticIndexPqOnce(corpus, "graft_pq_once")
    assert(files === files1, "a matching input must not rebuild the index")
    assert(probe() === out1)
    Pq.writeSemanticIndexPqOnce(corpus.filter(col("doc_id") % 5 =!= 0), "graft_pq_once")
    val files2 = files
    assert(files2 !== files1, "a different input must rebuild")
    Pq.writeSemanticIndexPqOnce(corpus, "graft_pq_once")
    assert(files !== files2, "the first input must rebuild over the other input's tables")
    assert(probe() === out1, "the same input must reproduce the probe")
  }

  test("persisted PQ probe: certified candidates ⊇ exact hits ⊇ nothing lost, values replay") {
    // the production seam: train once, persist centroids + codebooks
    // + the 24 B/doc code index (codes + norm + reconstruction
    // error), probe through the daily functions. The candidate set
    // is CERTIFIED (triangle-inequality upper bound on true cosine),
    // so three contracts hold: (a) it contains every pair the plain
    // ADC-threshold probe emits, with bit-identical approx_cos on
    // the shared pairs (the persisted round-trip perturbs nothing);
    // (b) it contains EVERY within-cell pair the exact probe finds —
    // a theorem now, not a tuning outcome; (c) margin only widens.
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val flagged = embs.select(col("vec_id"), col("embedding"),
      (substring(md5(col("vec_id").cast("string")), 1, 4) < "0ccd").as("is_delta"))
    val corpus = flagged.filter(!col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val delta = flagged.filter(col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Pq.writeSemanticIndexPq(corpus, "graft_spec_sem_pq", deterministic = true)
    def probe(margin: Double) = Pq.incrementalSemanticMatchesPq(delta,
      spark.table("graft_spec_sem_pq"), spark.table("graft_spec_sem_pq__centroids"),
      spark.table("graft_spec_sem_pq__codebooks"), margin = margin)
    val certified = probe(0.0).select("delta_doc", "corpus_doc", "approx_cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val inMemory = Pq.semanticProbePq(embs, deterministic = true)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(inMemory.keySet.subsetOf(certified.keySet),
      s"certified set lost plain-ADC hits: ${inMemory.keySet -- certified.keySet}")
    inMemory.foreach { case (k, v) =>
      assert(certified(k) === v, s"approx_cos drifted through persistence at $k") }
    val exact = Ann.semanticProbe(embs, trainIters = 3, deterministic = true)
      .select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert((exact -- certified.keySet).isEmpty,
      s"certified probe lost exact hits: ${exact -- certified.keySet}")
    val widened = probe(0.05).select("delta_doc", "corpus_doc")
      .as[(Long, Long)].collect().toSet
    assert(certified.keySet.subsetOf(widened))
  }

  test("tight per-subspace bound: candidates(tight) ⊆ candidates(scalar), exact hits kept") {
    // the 32 B/doc form: per-subspace reconstruction errors tighten
    // the certified bound (d² ≥ Σ_j max(0, d_j − √e_j)², which
    // Cauchy–Schwarz proves ≥ the scalar-qerr floor), so the tight
    // candidate set must be a SUBSET of the scalar-certified one —
    // the exact confirm pays for less — while the theorem side
    // still holds: no within-cell exact hit may be lost, and
    // approx_cos on surviving pairs is bit-identical (same ADC).
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val flagged = embs.select(col("vec_id"), col("embedding"),
      (substring(md5(col("vec_id").cast("string")), 1, 4) < "0ccd").as("is_delta"))
    val corpus = flagged.filter(!col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val delta = flagged.filter(col("is_delta"))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Pq.writeSemanticIndexPq(corpus, "graft_spec_sem_pq_t", deterministic = true)
    def probe(tight: Boolean) = Pq.incrementalSemanticMatchesPq(delta,
      spark.table("graft_spec_sem_pq_t"), spark.table("graft_spec_sem_pq_t__centroids"),
      spark.table("graft_spec_sem_pq_t__codebooks"), tight = tight)
      .select("delta_doc", "corpus_doc", "approx_cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val scalarSet = probe(tight = false)
    val tightSet = probe(tight = true)
    assert(tightSet.keySet.subsetOf(scalarSet.keySet),
      s"tight bound ADMITTED pairs the scalar bound rejects: ${tightSet.keySet -- scalarSet.keySet}")
    tightSet.foreach { case (k, v) =>
      assert(scalarSet(k) === v, s"approx_cos diverged between bounds at $k") }
    val exact = Ann.semanticProbe(embs, trainIters = 3, deterministic = true)
      .select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert((exact -- tightSet.keySet).isEmpty,
      s"tight bound lost exact hits: ${exact -- tightSet.keySet}")
    // NOTE: on the gate corpus the two sets coincide (reconstruction
    // errors are small against the threshold slack, so no borderline
    // pair sits between the two bounds) — strict pruning is proven
    // on the planted-error corpus below, where it is arithmetic.
  }

  test("tight bound strictness: concentrated subspace error prunes what the scalar slack admits") {
    // Hand-built single-cell index (m=2, subDims=2) where the two
    // bounds provably disagree. Codebook reconstructs x̂=(1,0,1,0);
    // corpus x=(1,0.2,1,0) puts ALL its error in subspace 0
    // (e=(0.04,0)); query q=(1,0,0,1) puts ALL its ADC distance in
    // subspace 1 (d²=(0,2)). Then:
    //   approx_cos = (2+2.04−2)/(2·√2·√2.04) ≈ 0.5050
    //   scalar ub  = approx_cos + 0.2(2√2+0.2)/(2√2√2.04) ≈ 0.6549
    //   tight floor: sub0 max(0,0−0.2)²=0, sub1 max(0,√2−0)²=2 ⇒
    //   tight ub   = approx_cos ≈ 0.5050
    // At threshold 0.6 the scalar slack admits the pair, the
    // per-subspace floor rejects it — and correctly: true cosine is
    // 1/(√2·√2.04) ≈ 0.495 < 0.6, so pruning loses nothing.
    val centroids = Seq((0L, Seq(1.0, 0.0, 1.0, 0.0), math.sqrt(2.0)))
      .toDF("cell", "cemb", "cnrm")
    val codebooks = Seq((0, 0L, Seq(1.0, 0.0)), (1, 0L, Seq(1.0, 0.0)))
      .toDF("sub", "cell", "cemb")
    val idx = Seq((1L, 0L, Seq(0L, 0L), math.sqrt(2.04), 0.04, Seq(0.04, 0.0)))
      .toDF("doc_id", "cell", "codes", "nrm", "qerr", "qerrs")
    val delta = Seq((100L, Seq(1.0, 0.0, 0.0, 1.0))).toDF("doc_id", "embedding")
    def run(tight: Boolean) = Pq.incrementalSemanticMatchesPq(delta, idx,
      centroids, codebooks, threshold = 0.6, tight = tight)
      .select("delta_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert(run(tight = false) === Set((100L, 1L)),
      "scalar slack should admit the planted pair")
    assert(run(tight = true) === Set.empty,
      "per-subspace floor should prune the planted pair")
  }

  /** A codebook set as raw double bits, so equality is bitwise. */
  private def bits(cb: Pq.Subcents): Seq[Seq[(Long, Seq[Long])]] =
    cb.map(_.map(c => (c.cell, c.cemb.map(java.lang.Double.doubleToRawLongBits))))

  test("Lloyd training runs the seed job plus one job per round, PQ and IVF") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").as("emb"))
    val en = e.withColumn("nrm", Ann.norm(col("emb")))
    for (r <- Seq(0, 1, 3); det <- Seq(true, false)) {
      val (_, pq) = sparkJobs(Pq.trainCodebooks(e, 8, 8, 16, r, det))
      val (_, ivf) = sparkJobs(Ann.kmeansCentroids(en, 16, r, det, rankSeed = true))
      for ((what, n) <- Seq("trainCodebooks" -> pq, "kmeansCentroids" -> ivf))
        assert(n <= r + 1 && n >= r, s"$what iters=$r deterministic=$det: $n jobs")
    }
  }

  test("two layouts trained in one loop equal each layout trained alone, bitwise") {
    // full-mantissa doubles: sums of widened floats are exact in any
    // order, so only these can expose a partition-order-dependent fold
    val e = randomEmbeddings(300, dims = 16)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double") / 3).as("emb"))
    val rev = reverse(col("emb"))
    def train(df: org.apache.spark.sql.DataFrame, layouts: Seq[org.apache.spark.sql.Column]) =
      Pq.trainLayouts(df, layouts, m = 4, subDims = 4, ksub = 8, iters = 3,
        deterministic = true).map(bits)
    // the pair trains on another partitioning than the singles, so a
    // partition-order-dependent fold cannot pass by coincidence
    val both = train(e.repartition(7), Seq(col("emb"), rev))
    assert(both === train(e, Seq(col("emb"))) ++ train(e.repartition(3), Seq(rev)))
    assert(both(0) !== both(1), "the two layouts must train different codebooks")
  }
}
