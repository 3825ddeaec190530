package graft

import graft.operators.Ner

/** NER pipeline semantics vs `/root/reference/processor/ner.py:96-229`:
  * validation, blocklist, confidence floor, per-doc dedupe. */
class NerSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("dictionary entities are extracted with type and confidence") {
    val out = Ner.extract(spark, docs((1L, "spark beats hadoop spark")))
      .as[(Long, String, String, Double, Long)].collect()
    assert(out.toSeq === Seq((1L, "spark", "ORG", 0.95, 2L)))
  }

  test("blocklisted, low-confidence and short entities are dropped") {
    // 'data' blocklisted, 'table' conf 0.45 < 0.5, 'a' length 1 < 2
    val out = Ner.extract(spark, docs((1L, "data table a data")))
    assert(out.count() === 0L)
  }

  test("mentions are counted per doc; dedupe is per (doc, text, type)") {
    val out = Ner.extract(spark, docs((1L, "query query window"), (2L, "query")))
      .orderBy("doc_id", "entity_text")
      .select("doc_id", "entity_text", "mentions").as[(Long, String, Long)].collect()
    assert(out.toSeq === Seq((1L, "query", 2L), (1L, "window", 1L), (2L, "query", 1L)))
  }

  test("entityInsights keeps entities present in >= 2 articles") {
    val df = docs((1L, "spark query"), (2L, "spark"), (3L, "stream"))
    val out = Ner.entityInsights(spark, df)
      .select("entity_text", "article_count").as[(String, Long)].collect()
    assert(out.toSeq === Seq(("spark", 2L))) // query & stream appear in 1 article each
  }

  test("a parquet-loaded gazetteer drives extraction; built-in dict stays the default") {
    val dir = tempDir("graft_gazetteer")
    // a domain dictionary the built-in fixture knows nothing about
    Seq(("jakarta", "NOR", 0.9), ("airlangga", "PER", 0.8), ("komnas", "ORG", 0.75))
      .toDF("word", "entity_type", "confidence")
      .write.mode("overwrite").parquet(s"$dir/dict.parquet")
    val dict = Ner.loadDictionary(spark, s"$dir/dict.parquet")
    val corpus = docs((1L, "airlangga visited jakarta"), (2L, "komnas jakarta report"))
    val out = Ner.extract(spark, corpus, dict)
      .orderBy("doc_id", "entity_text")
      .select("doc_id", "entity_text", "entity_type").as[(Long, String, String)].collect()
    assert(out.toSeq === Seq(
      (1L, "airlangga", "PER"), (1L, "jakarta", "NOR"),
      (2L, "jakarta", "NOR"), (2L, "komnas", "ORG")))
    // same validation pipeline applies to external dictionaries too:
    // blocklist, confidence floor, min length
    Seq(("data", "ORG", 0.9), ("x", "PER", 0.9), ("weak", "PER", 0.3))
      .toDF("word", "entity_type", "confidence")
      .write.mode("overwrite").parquet(s"$dir/bad.parquet")
    assert(Ner.extract(spark, docs((1L, "data x weak")),
      Ner.loadDictionary(spark, s"$dir/bad.parquet")).count() === 0L)
    // schema drift fails at load
    Seq(("w", 1.0)).toDF("word", "confidence")
      .write.mode("overwrite").parquet(s"$dir/drift.parquet")
    intercept[IllegalArgumentException] {
      Ner.loadDictionary(spark, s"$dir/drift.parquet")
    }
  }

  test("entityTypeStats rolls up by type") {
    val df = docs((1L, "spark customer spark"), (2L, "customer"))
    val out = Ner.entityTypeStats(spark, df).orderBy("entity_type")
      .select("entity_type", "total_mentions", "unique_entities", "articles")
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(("ORG", 2L, 1L, 1L), ("PER", 2L, 1L, 2L)))
  }

  test("entityCentrality computes exact integer power iterates") {
    // co-occurrence graph: {spark,customer} x2 docs, {spark,query} x1
    //   w(spark,customer)=2, w(spark,query)=1
    // degree: spark=3, customer=2, query=1
    // centrality (Σ w×neighbor degree):
    //   spark = 2×2 + 1×1 = 5, customer = 2×3 = 6, query = 1×3 = 3
    val df = docs(
      (1L, "spark customer"), (2L, "customer spark"), (3L, "spark query"))
    val out = Ner.entityCentrality(spark, df)
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(
      ("spark", 3L, 5L), ("customer", 2L, 6L), ("query", 1L, 3L)))
  }

  private val prDocs = docs(
    (1L, "spark customer"), (2L, "customer spark"), (3L, "spark query"),
    (4L, "query window"), (5L, "spark window"))

  test("entityPagerank: iters=0 is uniform 1/N over the graph's nodes") {
    val out = Ner.entityPagerank(spark, prDocs, iters = 0)
      .as[(String, Double)].collect().toMap
    assert(out.keySet === Set("spark", "customer", "query", "window"))
    out.values.foreach(v => assert(v === 0.25))
  }

  test("entityPagerank conserves mass and ranks the hub first") {
    val out = Ner.entityPagerank(spark, prDocs)
      .as[(String, Double)].collect().toMap
    // symmetric graph, no dangling nodes: total rank mass stays 1
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
    // spark co-occurs with everyone — it must outrank every other node
    val top = out.maxBy(_._2)._1
    assert(top === "spark", s"expected hub 'spark' first, got $out")
    out.values.foreach(v => assert(v > 0.0))
  }

  test("entityPagerank is bit-deterministic under repartitioning") {
    val a = Ner.entityPagerank(spark, prDocs)
      .as[(String, Double)].collect().toMap
    val b = Ner.entityPagerank(spark, prDocs.repartition(7))
      .as[(String, Double)].collect().toMap
    // exact double equality — the sorted-fold convention's contract
    assert(a === b)
  }

  test("entityPagerank and entityCommunities each run exactly one SQL execution") {
    // every round runs inside the one task that holds the graph: no
    // checkpoint, broadcast or count execution per round
    val (pr, prExecs) = sqlExecutions(Ner.entityPagerank(spark, prDocs).collect())
    assert(pr.length === 4)
    assert(prExecs === 1, s"entityPagerank ran $prExecs SQL executions")
    val (cm, cmExecs) = sqlExecutions(Ner.entityCommunities(spark, prDocs).collect())
    assert(cm.length === 4)
    assert(cmExecs === 1, s"entityCommunities ran $cmExecs SQL executions")
  }

  test("entityCommunities groups two cliques, the weak bridge stays home") {
    // clique 1 {customer, merge, query} x3 docs, clique 2
    // {spark, stream, window} x3 docs, one bridge doc {query, spark}:
    // synchronous LPA converges to each clique under its dominant
    // label; the w=1 bridge never outvotes the w=3 clique edges
    val df = docs(
      (1L, "customer merge query"), (2L, "customer merge query"),
      (3L, "customer merge query"),
      (4L, "spark stream window"), (5L, "spark stream window"),
      (6L, "spark stream window"),
      (7L, "query spark"))
    val out = Ner.entityCommunities(spark, df)
      .as[(String, String)].collect().toMap
    assert(out("customer") === out("merge") && out("merge") === out("query"))
    assert(out("spark") === out("stream") && out("stream") === out("window"))
    assert(out("customer") !== out("spark"),
      s"bridge merged the cliques: $out")
  }

  test("entityCommunities converges on a two-node component (no 2-cycle swap)") {
    // an entity pair that co-occurs ONLY with each other is the
    // smallest bipartite component: a pure neighbor-majority rule
    // swaps their labels every synchronous round, so after any odd/
    // even round count the two nodes of one component disagree (r13
    // ADVICE). The self-vote (own label, max incident edge weight)
    // ties the swap and min-label settles both on the smaller name.
    val df = docs(
      (1L, "customer merge"), (2L, "customer merge"),
      // a second isolated pair, opposite lexicographic edge order
      (3L, "window stream"), (4L, "window stream"))
    val out = Ner.entityCommunities(spark, df)
      .as[(String, String)].collect().toMap
    assert(out("customer") === "customer" && out("merge") === "customer",
      s"pair component did not settle on its min label: $out")
    assert(out("stream") === "stream" && out("window") === "stream",
      s"pair component did not settle on its min label: $out")
  }

  test("entityCommunities is deterministic under repartitioning") {
    val df = docs(
      (1L, "customer merge query"), (2L, "spark stream window"),
      (3L, "query spark"), (4L, "customer query"))
    val a = Ner.entityCommunities(spark, df).as[(String, String)].collect().toSet
    val b = Ner.entityCommunities(spark, df.repartition(11))
      .as[(String, String)].collect().toSet
    assert(a === b)
  }
}
