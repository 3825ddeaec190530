package graft

import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.functions._

/** The rows-only approximate operators have no DuckDB oracle; this
  * suite cross-validates them against their EXACT counterparts on the
  * real test corpus (which carries planted near-duplicate pairs well
  * separated from the ~0.02 background similarity). */
class CrossValidationSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col(df.columns(0)), col(df.columns(1))).as[(Long, Long)].collect().toSet

  test("minhash recovers every exact-Jaccard >= 0.8 pair (100% recall on separated data)") {
    val docs = Tables.documents(spark, dir)
    val exact = pairs(Dedup.ngramJaccardPairs(docs, threshold = 0.8))
    val approx = pairs(Dedup.minhashPairs(docs, threshold = 0.6))
    assert(exact.nonEmpty) // the corpus really has planted dups
    assert(exact.subsetOf(approx))
    // and no background pair sneaks in: every candidate is a true near-dup at 0.5
    val exactLoose = pairs(Dedup.ngramJaccardPairs(docs, threshold = 0.5))
    assert(approx.subsetOf(exactLoose))
  }

  test("simhash pairs are a subset of the exact near-dup pairs") {
    val docs = Tables.documents(spark, dir)
    val sim = pairs(Dedup.simhashPairs(docs))
    val exactLoose = pairs(Dedup.ngramJaccardPairs(docs, threshold = 0.5))
    assert(sim.nonEmpty)
    assert(sim.subsetOf(exactLoose))
  }

  test("BF, LSH and IVF all recover a planted exact-duplicate neighbor at rank 1") {
    // Uniformly random vectors have no meaningful neighbors (max cos
    // ~0.5), so "agree with brute force" would assert luck. Planting
    // an exact copy of each query gives every method a neighbor its
    // contract GUARANTEES: identical vectors share all LSH buckets and
    // the same IVF cell deterministically, and cosine 1.0 outranks the
    // random background everywhere.
    val emb = Tables.embeddings(spark, dir)
    val planted = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    def rank1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rank") === 1).select("query_id", "vec_id")
        .as[(Long, Long)].collect().toMap
    val expected = (0L until 5L).map(q => q -> (q + 9000L)).toMap
    assert(rank1(Ann.topK(corpus, numQueries = 5, k = 1)) === expected)
    assert(rank1(Ann.topK(corpus, numQueries = 5, k = 1, coarse = Ann.Coarse.Lsh())) === expected)
    assert(rank1(Ann.topK(corpus, numQueries = 5, k = 1, coarse = Ann.Coarse.Ivf())) === expected)
  }

  test("capped semantic pairs are a refinement of uncapped on the real corpus") {
    // the subcell split can only REMOVE pairs (same cell AND same
    // subcell implies same cell) — on real embeddings, not just the
    // synthetic viral cell the AnnSpec case uses
    val emb = Tables.embeddings(spark, dir)
    val uncapped = pairs(Ann.semanticDedupPairs(emb))
    val capped = pairs(Ann.semanticDedupPairs(emb, cap = Some(8)))
    assert(capped.nonEmpty && capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size, "cap=8 must actually subdivide at this SF")
  }
}
