package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Entity extraction + aggregation pipeline, following the reference's
  * NER post-processing semantics (`/root/reference/processor/ner.py:96-229`):
  * extract candidate entities with a type and confidence, validate
  * (minimum length, per-type rules), drop blocklisted false positives,
  * keep confidence >= 0.5, dedupe per (doc, text, type) keeping the
  * max confidence, and roll up entity views
  * (`/root/reference/airflow_home/dags/sql/process_silver_to_gold.sql:139-170`,
  * `/root/reference/services/staging_pg.py:376-395`).
  *
  * The reference extracts with a transformer model (unavailable and
  * non-deterministic — SURVEY §3); the extractor here is a
  * deterministic dictionary gazetteer, so the *pipeline* semantics the
  * reference layers on top are what is implemented and verified. The
  * dictionary is broadcast — the scan side never shuffles, which is
  * the only join shape that survives a 100 TB corpus.
  */
object Ner {

  /** Gazetteer: token -> (entity type, model confidence). Includes
    * entries engineered to exercise every validation rule: `table`
    * fails the confidence floor, `a` fails min length, `data` is
    * blocklisted. Types match the reference (PER/ORG/LAW/NOR). */
  val Dictionary: Seq[(String, String, Double)] = Seq(
    ("spark", "ORG", 0.95),
    ("customer", "PER", 0.9),
    ("stream", "NOR", 0.85),
    ("data", "ORG", 0.8),   // blocklisted false positive
    ("query", "LAW", 0.7),
    ("window", "LAW", 0.6),
    ("merge", "NOR", 0.55),
    ("table", "ORG", 0.45), // below the 0.5 confidence floor
    ("a", "PER", 0.9))      // below the min-length rule

  /** False-positive blocklist (`ner.py:37-60`). */
  val Blocklist: Set[String] = Set("data")

  private def dictDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Dictionary.toDF("word", "entity_type", "confidence")
  }

  /** Columns a gazetteer frame must carry. */
  val DictionaryColumns: Seq[String] = Seq("word", "entity_type", "confidence")

  /** Load a gazetteer from parquet (or any `spark.read`-able path a
    * caller pre-reads) — the dictionary is DATA, not code: a real
    * corpus swaps in its own entity list without recompiling. Schema
    * is validated up front so a malformed dictionary fails at load,
    * not as an unresolved-column error three operators later. */
  def loadDictionary(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val missing = DictionaryColumns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"gazetteer at $path is missing columns: ${missing.mkString(",")}")
    df.select(col("word").cast("string"), col("entity_type").cast("string"),
      col("confidence").cast("double"))
  }

  /** Raw validated mentions: one row per (doc, token occurrence) that
    * survives validation — length >= 2, confidence >= 0.5, not
    * blocklisted, alphabetic surface form (`ner.py:115-168`).
    *
    * `dictionary` is any (word, entity_type, confidence) frame — see
    * [[loadDictionary]]; it is broadcast regardless of origin (a
    * gazetteer is dimension-sized by construction), so the corpus side
    * never shuffles — the only join shape that survives 100 TB. */
  def mentions(spark: SparkSession, documents: DataFrame,
               dictionary: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(dictionary), "word")
      .filter(
        length(col("word")) >= 2 &&
          col("confidence") >= 0.5 &&
          !col("word").isin(Blocklist.toSeq: _*) &&
          col("word").rlike("^[a-z]+$"))

  /** [[mentions]] with the built-in spec-fixture gazetteer. */
  def mentions(spark: SparkSession, documents: DataFrame): DataFrame =
    mentions(spark, documents, dictDf(spark))

  /** Entity table: deduped per (doc, text, type) keeping the max
    * confidence, with the mention count (`ner.py:200-229`). */
  def extract(spark: SparkSession, documents: DataFrame,
              dictionary: DataFrame): DataFrame =
    mentions(spark, documents, dictionary)
      .groupBy(col("doc_id"), col("word").as("entity_text"), col("entity_type"))
      .agg(
        max(col("confidence")).as("confidence"),
        count(lit(1)).as("mentions"))

  /** [[extract]] with the built-in gazetteer. */
  def extract(spark: SparkSession, documents: DataFrame): DataFrame =
    extract(spark, documents, dictDf(spark))

  /** view_gold_entities (`process_silver_to_gold.sql:139-170`): per
    * entity, mention + article counts, HAVING >= 2 articles. */
  def entityInsights(spark: SparkSession, documents: DataFrame): DataFrame =
    extract(spark, documents)
      .groupBy(col("entity_text"), col("entity_type"))
      .agg(
        sum(col("mentions")).as("mention_count"),
        countDistinct(col("doc_id")).as("article_count"),
        max(col("confidence")).as("confidence"))
      .filter(col("article_count") >= 2)

  /** Per-type entity drill-down (`apx.py:114-136` get_entity_insights):
    * confidence-thresholded, grouped per entity, HAVING >= 2 mentions,
    * top-N by mention count. The type + confidence predicates sit
    * UNDER the aggregation so they prune before any shuffle, and the
    * average confidence uses the exact decimal accumulator
    * ([[graft.functions.Exact.avgFixed]]) so the double is
    * partitioning-independent. The reference's ORDER BY ends at
    * avg_confidence (ties nondeterministic); entity_text is appended
    * as a total-order tiebreak. */
  def entityInsightsTyped(spark: SparkSession, documents: DataFrame,
                          entityType: String = "PER", minConfidence: Double = 0.7,
                          limit: Int = 20): DataFrame =
    extract(spark, documents)
      .filter(col("entity_type") === entityType && col("confidence") > minConfidence)
      .groupBy(col("entity_text"), col("entity_type"))
      .agg(
        sum(col("mentions")).as("mention_count"),
        countDistinct(col("doc_id")).as("article_count"),
        graft.functions.Exact.avgFixed(col("confidence")).as("avg_confidence"))
      .filter(col("mention_count") >= 2)
      .orderBy(col("mention_count").desc, col("avg_confidence").desc, col("entity_text"))
      .limit(limit)

  /** Dashboard entity overview (`apx.py:72-74`): the reference's three
    * scalar subqueries (3 scans of gold_entities) as ONE conditional
    * aggregation pass. */
  def entityOverview(spark: SparkSession, documents: DataFrame): DataFrame =
    extract(spark, documents).agg(
      count(lit(1)).as("total_entities"),
      countDistinct(when(col("entity_type") === "PER", col("entity_text"))).as("unique_people"),
      countDistinct(when(col("entity_type") === "ORG", col("entity_text"))).as("unique_orgs"))

  /** get_entity_stats top-entity flavor
    * (`process_silver_to_gold.sql:177-215`): per type, the most
    * mentioned entity — rank inside the (small) per-type aggregate,
    * so the window never sees raw mention rows. */
  def topEntities(spark: SparkSession, documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    extract(spark, documents)
      .groupBy(col("entity_type"), col("entity_text"))
      .agg(sum(col("mentions")).as("mention_count"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("entity_type"))
          .orderBy(col("mention_count").desc, col("entity_text"))))
      .filter(col("rn") === 1)
      .select(col("entity_type"), col("entity_text").as("top_entity"),
        col("mention_count").as("top_entity_count"))
  }

  /** Entities statistics by type (`staging_pg.py:376-395`). */
  def entityTypeStats(spark: SparkSession, documents: DataFrame): DataFrame =
    extract(spark, documents)
      .groupBy(col("entity_type"))
      .agg(
        sum(col("mentions")).as("total_mentions"),
        countDistinct(col("entity_text")).as("unique_entities"),
        countDistinct(col("doc_id")).as("articles"),
        max(col("confidence")).as("max_confidence"))

  /** NER work queue (`staging_pg.py:294-321`): quality-filtered silver
    * docs with NO extracted entities yet — the incremental-processing
    * anti-join pattern (silver LEFT JOIN entities … WHERE NULL,
    * recency-ordered, LIMIT n). At scale the anti-join shuffles only
    * doc ids on the build side and the order+limit plans as
    * TakeOrderedAndProject — no global sort materializes. */
  def nerBacklog(spark: SparkSession, documents: DataFrame, limit: Int = 50): DataFrame = {
    val processed = extract(spark, documents).select(col("doc_id")).distinct()
    Cleaning.silver(documents)
      .filter(col("content").isNotNull && col("content_length") > 100)
      .join(processed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("id"), col("content_length"), col("topic"))
      .orderBy(col("doc_id").desc)
      .limit(limit)
  }

  /** Entity co-occurrence lift — which entity pairs appear in the same
    * document far more often than their individual frequencies
    * predict: `lift = P(a,b) / (P(a) * P(b)) = pair_docs * N /
    * (docs_a * docs_b)`. This is PMI without the logarithm — `ln`
    * carries no cross-engine correct-rounding guarantee while
    * products/ratios of exactly-represented counts are IEEE
    * exact-rounded, and the log is monotone so every ranking/threshold
    * use is unchanged (same trade as ranked_search_multi's linear
    * idf).
    *
    * Scale shape: per-doc DISTINCT entity sets are gazetteer-bounded,
    * so map-side pair generation over the sorted set (the bounded
    * trick from [[Dedup.ngramJaccardPairs]]) replaces a mentions
    * self-join; the per-entity doc counts are a gazetteer-sized
    * broadcast; N rides a 1-row broadcast. Nothing corpus-sized is
    * ever joined or sorted. */
  def entityPairLift(spark: SparkSession, documents: DataFrame,
                     minPairDocs: Long = 2L): DataFrame = {
    val ents = entityDocs(spark, documents)
    val pairs = cooccurrencePairs(ents)
      .select(col("e1").as("entity_1"), col("e2").as("entity_2"), col("w").as("pair_docs"))
    val singles = ents.groupBy(col("word"))
      .agg(count(lit(1)).as("c")) // ents is distinct -> doc frequency
    val n = documents.agg(count(lit(1)).cast("double").as("nd"))
    pairs
      .join(broadcast(singles.select(col("word").as("entity_1"), col("c").as("c1"))),
        "entity_1")
      .join(broadcast(singles.select(col("word").as("entity_2"), col("c").as("c2"))),
        "entity_2")
      .crossJoin(broadcast(n))
      .filter(col("pair_docs") >= minPairDocs)
      .withColumn("lift",
        (col("pair_docs").cast("double") * col("nd")) /
          (col("c1").cast("double") * col("c2").cast("double")))
      .select(col("entity_1"), col("entity_2"), col("pair_docs"), col("lift"))
  }

  /** Weighted graph centrality over the entity co-occurrence graph —
    * which entities sit at the center of the corpus' concept network.
    * `degree` is the weighted degree (Σ co-occurrence doc counts over
    * incident edges, the first power-iteration step A·1) and
    * `centrality` the second iterate (Σ edge-weight × neighbor degree,
    * A·(A·1)) — unnormalized eigenvector-centrality power iteration
    * kept in EXACT BIGINT: a damped double PageRank would sum doubles,
    * and a distributed double sum is partitioning-dependent (the same
    * determinism rule as `embedding_norm_stats`' deliberately absent
    * double mean). Integer iterates rank identically to the normalized
    * vector at every fixed depth.
    *
    * Scale shape: the ONLY corpus-sized work is the per-doc distinct
    * mention aggregate already bounded by the gazetteer; the graph
    * itself is gazetteer² at most, so the adjacency union, both
    * degree aggregates and the final join run on broadcast-scale
    * rows. Iterate depth 2 keeps the worst-case magnitude
    * (|V| × N × (|V| × N)) far inside BIGINT for any realistic
    * gazetteer. */
  def entityCentrality(spark: SparkSession, documents: DataFrame): DataFrame = {
    val adj = cooccurrenceAdj(spark, documents)
    val deg = adj.groupBy(col("u")).agg(sum(col("w")).as("degree"))
    val cent = adj
      .join(broadcast(deg.select(col("u").as("v"), col("degree").as("dv"))), "v")
      .groupBy(col("u"))
      .agg(sum(col("w") * col("dv")).as("centrality"))
    deg.join(cent, "u")
      .select(col("u").as("entity"), col("degree"), col("centrality"))
  }

  /** The distinct `(doc_id, word)` entity mentions — one row per
    * entity per document it appears in. */
  private def entityDocs(spark: SparkSession, documents: DataFrame): DataFrame =
    mentions(spark, documents).select(col("doc_id"), col("word")).distinct()

  /** The entity co-occurrence pairs `(e1, e2, w)` with `e1 < e2` over
    * [[entityDocs]]' rows: each doc's entities paired within the doc
    * (sorted-array slice pairing — no self-join on the corpus), `w` =
    * number of docs where the two entities co-occur. Gazetteer-bounded:
    * at most |dict|·(|dict|-1)/2 pairs no matter the corpus size (the
    * built-in gazetteer leaves 6 valid words, so at most 15 pairs over
    * 6 nodes). */
  private def cooccurrencePairs(ents: DataFrame): DataFrame =
    ents
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("word"))).as("es"))
      .filter(size(col("es")) >= 2)
      .select(explode(flatten(transform(col("es"), (a, i) =>
        transform(slice(col("es"), i + 2, size(col("es"))),
          b => struct(a.as("e1"), b.as("e2")))))).as("p"))
      .groupBy(col("p.e1").as("e1"), col("p.e2").as("e2"))
      .agg(count(lit(1)).as("w"))

  /** [[cooccurrencePairs]] as the symmetric graph `(u, v, w)`, both
    * edge directions materialized — the base of [[entityCentrality]]. */
  private def cooccurrenceAdj(spark: SparkSession, documents: DataFrame): DataFrame = {
    val pairs = cooccurrencePairs(entityDocs(spark, documents))
    pairs.select(col("e1").as("u"), col("e2").as("v"), col("w"))
      .union(pairs.select(col("e2").as("u"), col("e1").as("v"), col("w")))
  }

  /** The co-occurrence graph held in one task: node names in ascending
    * unsigned-UTF-8 order (Spark's string order, and the key order of
    * `graft_sorted_fold_sum_str`), so comparing two node indices
    * compares their names; `adj(i)` is node i's (neighbour, weight)
    * list, neighbours ascending. */
  private final class EntityGraph(edges: Iterator[(String, String, Long)]) {
    private val es = edges.toArray
    val names: Array[String] =
      es.flatMap(e => Array(e._1, e._2)).distinct.sortBy(UTF8String.fromString)
    val adj: Array[Array[(Int, Long)]] = {
      val ix = names.zipWithIndex.toMap
      val byNode = es
        .flatMap { case (a, b, w) => Array((ix(a), (ix(b), w)), (ix(b), (ix(a), w))) }
        .groupMap(_._1)(_._2)
      Array.tabulate(names.length)(i => byNode(i).sortBy(_._1))
    }

    /** `iters` synchronous rounds: every node's next state is
      * `step(previous states, node)`, so update order cannot matter. */
    def rounds[S: ClassTag](iters: Int, init: Array[S])(step: (Array[S], Int) => S): Array[S] =
      (0 until iters).foldLeft(init)((prev, _) => Array.tabulate(names.length)(step(prev, _)))
  }

  /** Runs `kernel` over the whole co-occurrence graph in ONE task of
    * ONE Spark execution: the corpus-sized mention aggregate stays
    * distributed, the gazetteer-bounded pair rows (see
    * [[cooccurrencePairs]]) coalesce into a single partition, and the
    * fixpoint rounds run in memory — no checkpoint, broadcast or Spark
    * job per round. Lazy: nothing runs until the result is read. */
  private def onEntityGraph[T: Encoder](spark: SparkSession, documents: DataFrame)(
      kernel: EntityGraph => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    cooccurrencePairs(entityDocs(spark, documents)).as[(String, String, Long)]
      .coalesce(1)
      .mapPartitions(edges => kernel(new EntityGraph(edges)))
  }

  /** Damped weighted PageRank over the entity co-occurrence graph —
    * the double-precision ranking [[entityCentrality]]'s docstring
    * historically ruled out: a distributed double sum is
    * partitioning-dependent, but the deterministic sorted-fold
    * convention proven by the trained-quantizer family (fold each
    * node's in-contributions in ascending neighbor order) makes the
    * damped iteration bit-replayable on any engine, so the full
    * PageRank semantics — damping, weight normalization, convergent
    * mass — come back on the menu.
    *
    * Fixed `iters` rounds (reproducibility over epsilon-convergence,
    * the [[Ann.kmeansCentroids]] rule) of
    * `pr' = (1-d)/N + d · Σ_in pr(u) · w / outw(u)`, starting from
    * `1/N`: each contribution is `pr * w / outw` in doubles, and each
    * node's contributions fold from 0.0 in ascending unsigned-UTF-8
    * order of `u` (the `graft_sorted_fold_sum_str` rule, which the
    * DuckDB oracle replays). The graph is symmetric so every node has
    * out-edges — no dangling-mass term.
    *
    * Scale shape: corpus-sized work ends at the per-doc mention
    * aggregate; the graph is gazetteer-bounded (at most |dict|² edges,
    * 6 nodes with the built-in gazetteer), so all `iters` rounds run
    * in one task of ONE Spark execution ([[onEntityGraph]]). */
  def entityPagerank(spark: SparkSession, documents: DataFrame,
                     iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 0)
    import spark.implicits._
    onEntityGraph(spark, documents) { g =>
      val n = g.names.length
      val outw = g.adj.map(_.map(_._2).sum.toDouble)
      val pr = g.rounds(iters, Array.fill(n)(1.0 / n)) { (pr, v) =>
        val s = g.adj(v).foldLeft(0.0) { case (acc, (u, w)) => acc + pr(u) * w / outw(u) }
        (1 - damping) / n + damping * s
      }
      g.names.iterator.zip(pr.iterator)
    }.toDF("entity", "pagerank")
  }

  /** Community detection on the entity co-occurrence graph by
    * SYNCHRONOUS weighted label propagation — deterministic where
    * classic LPA is not: every round, each node adopts the label
    * with the greatest summed incident edge weight among its
    * neighbors' current labels, where the node's OWN current label
    * also votes, with weight equal to its strongest incident edge;
    * ties go to the SMALLER label; all nodes update simultaneously
    * from the previous round's labels, so update order cannot
    * matter; labels start as each node's own name. The self-vote is
    * the 2-cycle breaker a pure neighbor majority lacks (r13
    * ADVICE): on a two-node (or any bipartite) component the
    * neighbor-only rule swaps labels forever — self weight = max
    * incident edge ties the swap and the min-label tiebreak settles
    * the component on its smallest name in one round, while inside
    * a community a dominant label still outvotes any single
    * self-vote (it carries ≥ the same max edge weight plus the rest
    * of its edges). Fixed `iters` rounds (the
    * reproducibility-over-epsilon rule). Integer weights and
    * lexicographic ties throughout — no doubles at all, the easiest
    * replay in the graph family.
    *
    * Scale shape: identical to [[entityPagerank]] — corpus work ends
    * at the mention aggregate, and the gazetteer-bounded graph runs
    * all `iters` rounds in one task of ONE Spark execution. */
  def entityCommunities(spark: SparkSession, documents: DataFrame,
                        iters: Int = 5): DataFrame = {
    require(iters >= 0)
    import spark.implicits._
    onEntityGraph(spark, documents) { g =>
      val self = g.adj.map(_.map(_._2).max)
      val labels = g.rounds(iters, g.names.indices.toArray) { (label, u) =>
        val votes = scala.collection.mutable.Map(label(u) -> self(u))
        g.adj(u).foreach { case (v, w) => votes(label(v)) = votes.getOrElse(label(v), 0L) + w }
        votes.minBy { case (l, lw) => (-lw, l) }._1
      }
      g.names.iterator.zip(labels.iterator.map(g.names(_)))
    }.toDF("entity", "community")
  }
}
