package graft

import graft.operators.{Corpus, Ner}
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String, String)*) =
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("bloomFilterAuditMergeBatched memo: a cache hit returns the rows of a miss and of an in-memory call") {
    // a repeat on the same parquet input reuses the built tables and
    // the day key frames (a hit keeps the first build's files and only
    // appends); the rows must not tell a hit from a rebuild
    val inMemory = (1L to 300L).map(i =>
        (i, (1 to 80).map(j => s"w${(i * 7 + j * j) % 211}").mkString(" ")))
      .toDF("doc_id", "text")
    val path = tempDir("bmb_docs") + "/documents.parquet"
    inMemory.write.parquet(path)
    def run(documents: org.apache.spark.sql.DataFrame) =
      Corpus.bloomFilterAuditMergeBatched(documents).orderBy("arm").collect().toSeq
    def hashFiles = spark.table("graft_audit_bmb_hash").inputFiles.toSet
    val miss = run(spark.read.parquet(path))
    val built = hashFiles
    val hit = run(spark.read.parquet(path))
    assert(built.subsetOf(hashFiles), "the repeat on the same input rebuilt instead of hitting")
    val afterHit = hashFiles
    val plain = run(inMemory)
    assert(!afterHit.subsetOf(hashFiles), "the in-memory input must rebuild")
    assert(miss.nonEmpty)
    assert(hit === miss, "a cache hit changed the rows")
    assert(plain === miss, "the memo changed the rows")
  }

  test("bpeTrain: hand-computed merge sequence, greedy non-overlap, early stop") {
    // corpus "aaab aaab ab": words aaab (freq 2), ab (freq 1)
    // round 0: (a,a) = 4 occurrences (2 per aaab), (a,b) = 3 -> merge aa
    //   greedy non-overlap: [a,a,a,b] -> [aa,a,b] (NOT [aa,aa...])
    // round 1: (a,b) = 3 beats (aa,a) = 2 -> merge ab; [aa,a,b] -> [aa,ab]
    // round 2: (aa,ab) = 2 -> merge aaab
    // round 3: no pairs anywhere -> early stop (3 rows despite merges=4)
    val df = docs((1L, "aaab aaab ab", "en", "s"))
    val out = Corpus.bpeTrain(df, merges = 4)
      .orderBy("merge_rank")
      .as[(Int, String, String, String, Long)].collect()
    assert(out.toSeq === Seq(
      (0, "a", "a", "aa", 4L),
      (1, "a", "b", "ab", 3L),
      (2, "aa", "ab", "aaab", 2L)))
  }

  test("bpeEncodeStats counts tokens under the trained merges; short words count 1") {
    // same corpus as the bpeTrain spec: after its 3 merges both vocab
    // words collapse to single tokens (aaab -> [aaab], ab -> [ab]);
    // the 1-char word "a" is outside the vocab rollup -> 1 token
    val df = docs(
      (1L, "aaab aaab ab", "en", "s"),
      (2L, "a aaab", "en", "s"))
    val out = Corpus.bpeEncodeStats(df, merges = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out(0) === ((1L, 3L, 10L, 3L, 10.0 / 3)))
    assert(out(1) === ((2L, 2L, 5L, 2L, 5.0 / 2)))
  }

  test("bpeTrain ties resolve to the lexicographically smallest pair") {
    // "xy yx": (x,y) = 1 and (y,x) = 1 -> (x,y) wins the tie
    val out = Corpus.bpeTrain(docs((1L, "xy yx", "en", "s")), merges = 1)
      .as[(Int, String, String, String, Long)].collect()
    assert(out.toSeq === Seq((0, "x", "y", "xy", 1L)))
  }

  test("stratifiedSample is deterministic, stratified and stable under growth") {
    val base = (1L to 400L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "fr", "s"))
    val df = docs(base: _*)
    val kept = Corpus.stratifiedSample(df, col("lang"), col("doc_id"),
      Map("en" -> 410), defaultBuckets = 1024)
      .select("doc_id").as[Long].collect().toSet
    // re-run identical; growth never evicts or admits an existing doc
    val again = Corpus.stratifiedSample(df, col("lang"), col("doc_id"),
      Map("en" -> 410), defaultBuckets = 1024)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === again)
    val grown = Corpus.stratifiedSample(
      docs((base :+ ((401L, "new", "en", "s"))): _*),
      col("lang"), col("doc_id"), Map("en" -> 410), defaultBuckets = 1024)
      .select("doc_id").as[Long].collect().toSet
    assert((grown - 401L) === kept)
    // the per-stratum rule is the documented md5-prefix compare
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex3(s: String) = md.digest(s.getBytes("UTF-8"))
      .take(2).map(b => f"$b%02x").mkString.take(3)
    base.foreach { case (id, _, lang, _) =>
      val expectKept = hex3(s"$lang:$id") < (if (lang == "en") "19a" else "400")
      assert(kept.contains(id) === expectKept, s"doc $id lang $lang")
    }
  }

  test("stratifiedSample rejects out-of-range bucket counts") {
    val df = docs((1L, "t", "en", "s"))
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(df, col("lang"), col("doc_id"), Map("en" -> 4096), 0)
    }
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(df, col("lang"), col("doc_id"), Map.empty, -1)
    }
  }

  test("groupTopK keeps exactly k per group under the total order") {
    val df = docs(
      (1L, "aaaa", "en", "s"), (2L, "bbbb", "en", "s"), (3L, "cc", "en", "s"),
      (4L, "dddddd", "fr", "s"), (5L, "e", "fr", "s"))
    val out = Corpus.groupTopK(df, col("lang"),
      Seq(col("n_chars").desc, col("doc_id")), k = 2)
      .select("lang", "doc_id", "rank").as[(String, Long, Int)].collect().toSet
    // en: docs 1 and 2 tie at 4 chars -> doc_id breaks the tie; doc 3 cut
    assert(out === Set(("en", 1L, 1), ("en", 2L, 2), ("fr", 4L, 1), ("fr", 5L, 2)))
  }

  test("bigramCounts counts adjacent lowercased pairs with multiplicity") {
    val df = docs(
      (1L, "Big Cat big cat", "en", "s"), // "big cat" x2, "cat big" x1
      (2L, "big cat", "en", "s"),
      (3L, "solo", "en", "s")) // single token -> no bigrams
    val out = Corpus.bigramCounts(df, topN = 10)
      .as[(String, Long)].collect().toSeq
    assert(out.head === (("big cat", 3L)))
    assert(out.toMap === Map("big cat" -> 3L, "cat big" -> 1L))
    // deterministic order: count desc then gram asc
    assert(out === out.sortBy { case (g, n) => (-n, g) })
  }

  test("lengthHistogram buckets on exact integer division with an overflow cap") {
    val df = docs(
      (1L, "x" * 49, "en", "s"), // bucket 0
      (2L, "x" * 50, "en", "s"), // bucket 1
      (3L, "x" * 99, "en", "s"), // bucket 1
      (4L, "x" * 2000, "en", "s")) // 40 -> capped at 19
    val out = Corpus.lengthHistogram(df)
      .select("bucket", "bucket_lo", "docs", "min_chars", "max_chars")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (0L, 0L, 1L, 49L, 49L),
      (1L, 50L, 2L, 50L, 99L),
      (19L, 950L, 1L, 2000L, 2000L)))
  }

  test("exactPercentiles picks the smallest value reaching ceil(q*N)") {
    // values 1..10, one each: p25 -> smallest v with cum >= 2.5 -> 3
    val df = docs((1L to 10L).map(i => (i, "x" * i.toInt, "en", "s")): _*)
    val out = Corpus.exactPercentiles(df, col("n_chars"))
      .select("n", "p25", "p50", "p75", "p95")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((10L, 3L, 5L, 8L, 10L)))
  }

  test("exactPercentiles equals a sorted-seq reference on skewed data") {
    val values = Seq.fill(40)(7L) ++ (1L to 25L) ++ Seq.fill(10)(100L)
    val df = docs(values.zipWithIndex.map { case (v, i) =>
      (i.toLong, "x" * v.toInt, "en", "s")
    }: _*)
    val qs = Seq(("p10", 1L, 10L), ("p50", 1L, 2L), ("p99", 99L, 100L))
    val out = Corpus.exactPercentiles(df, col("n_chars"), qs)
      .select("p10", "p50", "p99").as[(Long, Long, Long)].collect().head
    val sorted = values.sorted
    def ref(num: Long, den: Long) =
      sorted((((sorted.size * num) + den - 1) / den - 1).toInt) // ceil(q*N)th, 1-based
    assert(out === ((ref(1, 10), ref(1, 2), ref(99, 100))))
  }

  test("sampleToCharBudget keeps under-budget sources whole and samples the rest down") {
    val rows = (1L to 200L).map(i => (i, "x" * 100, "big", "big")) ++
      Seq((201L, "y" * 30, "small", "small"))
    val df = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Corpus.sampleToCharBudget(df, budgetChars = 2000L)
      .select("source", "chars_total", "docs_kept", "chars_kept")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // small: 30 <= 2000 -> kept whole
    assert(out("small") === (("small", 30L, 1L, 30L)))
    // big: 20000 chars, fraction 2000/20000 = 0.1 -> expect ~20 docs;
    // md5 is uniform so allow wide slack, but it must be a strict sample
    val (_, total, kept, chars) = out("big")
    assert(total === 20000L && chars === kept * 100)
    assert(kept > 5 && kept < 60, s"kept=$kept not near 10% of 200")
    // determinism: identical re-run
    val again = Corpus.sampleToCharBudget(df, budgetChars = 2000L)
      .select("source", "docs_kept").as[(String, Long)].collect().toMap
    assert(again("big") === kept)
  }

  test("retentionCohorts: offsets are whole weeks from the Monday-start cohort week") {
    import graft.operators.Analytics
    // user 10 first seen Wed 2024-01-03 (cohort week Mon 01-01), back
    // the next week and in week 3; user 20 only ever appears once
    val ev = Seq(
      (10L, "2024-01-03 10:00:00"), (10L, "2024-01-08 09:00:00"),
      (10L, "2024-01-17 23:00:00"), (20L, "2024-01-09 00:00:00"))
      .toDF("user_id", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val out = Analytics.retentionCohorts(ev)
      .select("cohort_week", "week_offset", "active_users")
      .as[(java.sql.Date, Long, Long)].collect()
      .map { case (w, o, n) => (w.toString, o, n) }.toSet
    assert(out === Set(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-08", 0L, 1L)))
  }

  test("chunkDocuments windows overlap correctly and tail chunks run short") {
    val d = docs((1L, (1 to 10).map(i => s"w$i").mkString(" "), "en", "s"))
    val out = Corpus.chunkDocuments(d, chunkTokens = 4, overlap = 1)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq
    // step 3: starts at tokens 1, 4, 7, 10
    assert(out === Seq(
      (0L, 4L, "w1 w2 w3 w4"),
      (1L, 4L, "w4 w5 w6 w7"),
      (2L, 4L, "w7 w8 w9 w10"),
      (3L, 1L, "w10")))
  }

  test("packSequences cuts per-domain token streams at window boundaries") {
    // one domain (doc_id mod 1): stream of 4 docs x 6 tokens, window 10
    val d = docs(
      (1L, "a b c d e f", "en", "s"), (2L, "a b c d e f", "en", "s"),
      (3L, "a b c d e f", "en", "s"), (4L, "a b c d e f", "en", "s"))
    val out = Corpus.packSequences(d, windowTokens = 10L, domains = 1)
      .orderBy("doc_id")
      .select("doc_id", "tok_offset", "bin")
      .as[(Long, Long, Long)].collect().toSeq
    // offsets 0, 6, 12, 18 -> bins 0, 0, 1, 1
    assert(out === Seq((1L, 0L, 0L), (2L, 6L, 0L), (3L, 12L, 1L), (4L, 18L, 1L)))
  }

  test("packSequencesBpe bins by the BPE budget, not the whitespace one") {
    val d = docs(
      (1L, "wxyz wxyz", "en", "s"), (2L, "wxyz wxyz", "en", "s"),
      (3L, "wxyz wxyz", "en", "s"), (4L, "wxyz wxyz", "en", "s"))
    // one merge fuses "wx" (pairs wx/xy/yz tie at 8, lexicographic
    // min wins): wxyz -> [wx, y, z], 3 BPE tokens per word, 6 per
    // doc -> offsets 0,6,12,18, bins 0,0,1,1 — while WHITESPACE
    // packing (2 tokens/doc) would keep all four docs in bin 0: the
    // budget divergence this operator exists for
    val out = Corpus.packSequencesBpe(d, windowTokens = 10L, domains = 1, merges = 1)
      .orderBy("doc_id").select("doc_id", "n_tokens", "tok_offset", "bin")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 6L, 0L, 0L), (2L, 6L, 6L, 0L),
      (3L, 6L, 12L, 1L), (4L, 6L, 18L, 1L)))
    assert(Corpus.packSequences(d, windowTokens = 10L, domains = 1)
      .select("bin").distinct().as[Long].collect().toSeq === Seq(0L))
    // membership contract: a wordless doc carries no BPE tokens,
    // occupies no budget, and is absent from the map
    val withEmpty = docs((1L, "wxyz", "en", "s"), (2L, "", "en", "s"))
    assert(Corpus.packSequencesBpe(withEmpty, 10L, 1, 1)
      .select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("packFill reports per-window fill and overflow exactly") {
    // domain 0 stream: 6+6+6+6 tokens, window 10 -> bins 0 (docs 1,2:
    // 12 tokens, overflow 2) and 1 (docs 3,4: 12 tokens, overflow 2)
    val d = docs(
      (1L, "a b c d e f", "en", "s"), (2L, "a b c d e f", "en", "s"),
      (3L, "a b c d e f", "en", "s"), (4L, "a b c d e f", "en", "s"))
    val out = Corpus.packFill(d, windowTokens = 10L, domains = 1)
      .orderBy("bin").select("bin", "docs", "fill_tokens", "overflow_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 2L, 12L, 2L), (1L, 2L, 12L, 2L)))
  }

  test("corpusOverview counts volume and diversity in one row") {
    val d = docs((1L, "a b", "en", "s1"), (2L, "c d e", "id", "s2"))
    val r = Corpus.corpusOverview(d).head()
    assert(r.getAs[Long]("docs") === 2L)
    assert(r.getAs[Long]("langs") === 2L && r.getAs[Long]("sources") === 2L)
    assert(r.getAs[Long]("total_tokens") === 5L)
    assert(r.getAs[Double]("mean_tokens") === 2.5)
  }

  test("packSequences is deterministic across domain counts for a fixed doc") {
    val d = docs((1L to 40L).map(i => (i, "a b c", "en", "s")): _*)
    val a = Corpus.packSequences(d, 8L, domains = 4)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    val b = Corpus.packSequences(d.repartition(7), 8L, domains = 4)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(a === b, "assignment must not depend on physical partitioning")
  }

  test("tokenRarity profiles distinct-token document frequencies") {
    val d = docs(
      (1L, "common common rare1", "en", "s"),   // distinct: common(df2), rare1(df1)
      (2L, "common other", "en", "s"))          // distinct: common(df2), other(df1)
    val out = Corpus.tokenRarity(d).orderBy("doc_id")
      .select("doc_id", "n_terms", "df_sum", "min_df", "mean_df")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 3L, 1L, 1.5), (2L, 2L, 3L, 1L, 1.5)))
  }

  test("entityPairLift computes pair_docs x N over single-count products") {
    // gazetteer words: use two dictionary entries via real Ner fixtures
    val dict = Ner.Dictionary
      .filter { case (w, _, c) => w.length >= 2 && c >= 0.5 && !Ner.Blocklist(w) }
      .map(_._1).take(2)
    val Seq(a, b) = dict
    val df = docs(
      (1L, s"$a $b together", "en", "s"),
      (2L, s"$a $b again", "en", "s"),
      (3L, s"$a alone", "en", "s"),
      (4L, "neither here", "en", "s"))
    val out = Ner.entityPairLift(spark, df)
      .as[(String, String, Long, Double)].collect()
    assert(out.length === 1)
    val (e1, e2, pairDocs, lift) = out.head
    assert(Set(e1, e2) === Set(a, b) && e1 < e2)
    assert(pairDocs === 2L)
    // N=4, docs(a)=3, docs(b)=2 -> lift = 2*4/(3*2)
    assert(lift === (2.0 * 4.0) / (3.0 * 2.0))
  }

  test("entityPairLift drops pairs below minPairDocs") {
    val dict = Ner.Dictionary
      .filter { case (w, _, c) => w.length >= 2 && c >= 0.5 && !Ner.Blocklist(w) }
      .map(_._1).take(2)
    val Seq(a, b) = dict
    val df = docs((1L, s"$a $b once", "en", "s"), (2L, s"$a only", "en", "s"))
    assert(Ner.entityPairLift(spark, df).isEmpty)
    assert(Ner.entityPairLift(spark, df, minPairDocs = 1L).count() === 1L)
  }

  test("domainMix reports shares, targets and sampling factors; untargeted sources get 0") {
    // tokens: a=6, b=3, c=1 -> total 10
    val df = docs(
      (1L, "one two three four five six", "en", "a"),
      (2L, "seven eight nine", "en", "b"),
      (3L, "ten", "en", "c"))
    val out = Corpus.domainMix(df, Map("a" -> 0.5, "b" -> 0.5))
      .orderBy("source")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(out(0) === (("a", 6L, 0.6, 0.5, 0.5 / 0.6)))
    assert(out(1) === (("b", 3L, 0.3, 0.5, 0.5 / 0.3)))
    // source c is in the corpus but not the mix: listed with factor 0,
    // never silently dropped from the report
    assert(out(2) === (("c", 1L, 0.1, 0.0, 0.0)))
  }

  test("applyMix: whole epochs for every doc, stable fractional epoch, untargeted dropped") {
    val df = docs(
      ((1L to 50L).map(i => (i, "a a a a a a", "en", "a")) ++
        (101L to 150L).map(i => (i, "b b b b b b", "en", "b")) ++
        Seq((201L, "c c c c c c", "en", "c"))): _*)
    // tokens: a=300, b=300, c=6, total 606 -> factor(a)=factor(b)=1.01
    val mix = Map("a" -> 0.5, "b" -> 0.5)
    val out = Corpus.applyMix(df, mix)
      .select("doc_id", "epoch").as[(Long, Long)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(!byDoc.contains(201L)) // untargeted source dropped entirely
    // factor 1.01: every targeted doc keeps epoch 0, epochs are dense
    assert((1L to 50L).forall(i => byDoc(i).headOption.contains(0L)))
    assert((101L to 150L).forall(i => byDoc(i).headOption.contains(0L)))
    assert(byDoc.values.forall(es => es === (0L until es.size.toLong)))
    // deterministic doc-for-doc on a re-run
    val again = Corpus.applyMix(df, mix)
      .select("doc_id", "epoch").as[(Long, Long)].collect()
    assert(out.toSet === again.toSet)
    // downsampling: factor 0.505 keeps a stable strict subset at epoch 0
    val down = Corpus.applyMix(df, Map("a" -> 0.25, "b" -> 0.75))
      .filter(col("source") === "a")
      .select("doc_id", "epoch").as[(Long, Long)].collect()
    assert(down.forall(_._2 === 0L))
    assert(down.length > 0 && down.length < 50)
    assert(down.map(_._1).toSet.subsetOf((1L to 50L).toSet))
  }

  test("vocabCoverage: hand-computed OOV rates and the deterministic tie-break") {
    val df = docs(
      (1L, "a a b", "en", "s1"),   // tokens a,a,b
      (2L, "a c", "en", "s2"))     // tokens a,c
    // corpus freq: a=3, b=1, c=1; vocabSize=1 -> vocab = {a}
    val one = Corpus.vocabCoverage(df, vocabSize = 1)
      .select("source", "tokens", "oov_tokens", "oov_terms", "oov_rate")
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(one("s1") === (("s1", 3L, 1L, 1L, 1.0 / 3.0)))
    assert(one("s2") === (("s2", 2L, 1L, 1L, 0.5)))
    // vocabSize=2: b and c tie at cnt=1 -> lexicographic keeps "b"
    val two = Corpus.vocabCoverage(df, vocabSize = 2)
      .select("source", "oov_tokens").as[(String, Long)].collect().toMap
    assert(two === Map("s1" -> 0L, "s2" -> 1L))
  }

  test("importanceFavored: exact cross-multiplication picks the target-favored buckets") {
    // md5 3-hex prefixes of x,y,z are distinct (9dd, 415, fba), so
    // each token is its own feature bucket in this corpus
    val df = docs(
      (1L, "x x y", "en", "src0"),     // the target domain
      (2L, "x z z z", "en", "src1"))
    // totals: raw=7, target=3. bucket x: ct=2,cr=3 -> 2*7>3*3 favored;
    // y: 1*7>1*3 favored; z: 0>3*3 not favored
    val out = Corpus.importanceFavored(df, targetSource = "src0")
      .select("doc_id", "n_tokens", "favored_tokens", "favored_rate")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 3L, 3L, 1.0)))
    assert(out(2L) === ((2L, 4L, 1L, 0.25)))
  }

  test("bpePairStats: position-weighted pair counts off the word rollup, 1-char words out") {
    val df = docs(
      (1L, "aaa bc x", "en", "s1"),  // aaa -> aa twice per occurrence
      (2L, "bc bc", "en", "s1"))
    val out = Corpus.bpePairStats(df)
      .as[(String, Long)].collect().toSeq
    // word freqs: aaa=1, bc=3 ("x" dropped, length 1); pairs:
    // bc occurs 3x, aa occurs at 2 positions x 1 occurrence = 2
    assert(out === Seq(("bc", 3L), ("aa", 2L)))
  }

  test("shuffleShards: reproducible, dense per-shard ranks, salt reshuffles, layout-invariant") {
    val df = docs((1L to 200L).map(i => (i, s"doc $i", "en", "s")): _*)
    val out = Corpus.shuffleShards(df, numShards = 4)
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Int, Long)].collect()
    // every doc lands exactly once, shards in range
    assert(out.length === 200 && out.map(_._1).distinct.length === 200)
    assert(out.forall(r => r._2 >= 0 && r._2 < 4))
    // ranks are dense 1..n within each shard
    out.groupBy(_._2).values.foreach { shard =>
      assert(shard.map(_._3).sorted.toSeq === (1L to shard.length).toSeq)
    }
    // re-run bit-identical; different salt produces a different order
    val again = Corpus.shuffleShards(df, numShards = 4)
      .select("doc_id", "shard", "shard_pos").as[(Long, Int, Long)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    val salted = Corpus.shuffleShards(df, numShards = 4, salt = "s1")
      .select("doc_id", "shard", "shard_pos").as[(Long, Int, Long)].collect()
    assert(salted.sortBy(_._1).toSeq !== out.sortBy(_._1).toSeq)
    // input partitioning must not change the assignment (the cluster
    // layout is not part of the contract)
    val repart = Corpus.shuffleShards(df.repartition(7), numShards = 4)
      .select("doc_id", "shard", "shard_pos").as[(Long, Int, Long)].collect()
    assert(repart.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  private def curDocs(n: Int) = docs((0 until n).map { i =>
    // distinct texts with varying length/uniqueness so quality
    // scores spread out; deterministic per id
    val words = (0 to i % 37).map(j => s"w${(i * 7 + j) % 53}")
    (i.toLong, ("the " * (i % 3)) + words.mkString(" "), "en", "s")
  }: _*)

  test("curriculumAssign partitions every doc into a monotone bucket") {
    val out = Corpus.curriculumAssign(curDocs(200))
      .as[(Long, Double, Long)].collect()
    assert(out.length === 200)
    assert(out.map(_._1).distinct.length === 200)
    val byBucket = out.groupBy(_._3).toSeq.sortBy(_._1)
    assert(byBucket.forall { case (b, _) => b >= 0 && b <= 9 })
    assert(byBucket.size >= 5, s"sample boundaries collapsed: ${byBucket.map(_._1)}")
    // score ranges must not interleave: max of bucket b <= min of b+1
    // (equality only at a tied boundary score)
    val ranges = byBucket.map { case (b, rs) =>
      (b, rs.map(_._2).min, rs.map(_._2).max) }
    ranges.sliding(2).foreach {
      case Seq((b1, _, mx), (b2, mn, _)) =>
        assert(mx <= mn, s"buckets $b1/$b2 interleave: max $mx > min $mn")
      case _ =>
    }
  }

  test("curriculumAssign is bit-deterministic under repartitioning") {
    val a = Corpus.curriculumAssign(curDocs(120))
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    val b = Corpus.curriculumAssign(curDocs(120).repartition(13))
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("curriculumAssign degrades to bucket 0 when the sample is empty") {
    // 3 docs whose md5(doc_id) first hex chars are all >= '1' would be
    // flaky to construct; instead force emptiness with an impossible
    // sample threshold via a tiny corpus where no id hashes below '0'
    // ('0' is below every hex char, so the sample is always empty)
    val out = Corpus.curriculumAssign(curDocs(5), sampleHexLt = "0")
      .as[(Long, Double, Long)].collect()
    assert(out.length === 5)
    assert(out.forall(_._3 === 0L))
  }

  test("curriculumStats reports near-uniform monotone buckets") {
    val st = Corpus.curriculumStats(curDocs(300))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(st.map(_._2).sum === 300L)
    st.sliding(2).foreach {
      case Array((_, _, _, mx1), (_, _, mn2, _)) => assert(mx1 <= mn2)
      case _ =>
    }
  }
}