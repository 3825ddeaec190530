package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions.col

/** Training-data text operators (SURVEY §2 #26, #33-36). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String, String, Long)*) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  test("langId predicts the language with the most marker hits") {
    val df = docs(
      (1L, "the fast the fast merge", "en", "s", 23L), // en 4 vs de 1
      (2L, "vector hash vector slow", "zh", "s", 23L)) // zh 3 vs es 1
    val out = TextOps.langId(df).orderBy("doc_id")
      .select("predicted_lang").as[String].collect()
    assert(out.toSeq === Seq("en", "zh"))
  }

  test("langId ties resolve to the first language in order (de < en < ...)") {
    val df = docs((1L, "merge the", "en", "s", 9L)) // de 1, en 1 -> de wins
    assert(TextOps.langId(df).select("predicted_lang").as[String].head() === "de")
  }

  test("quality bands split at 0.6 and 0.4") {
    // long, diverse, no stopwords -> high; short all-stopword text -> low
    val df = docs(
      (1L, (1 to 100).map(i => s"w$i").mkString(" "), "en", "s", 500L),
      (2L, "the the the the", "en", "s", 15L))
    val out = TextOps.qualityScore(df).orderBy("doc_id")
      .select("quality_band").as[String].collect()
    assert(out(0) === "high")
    assert(out(1) === "low")
  }

  test("tokenCount: whitespace vs BPE-ish regex tokens") {
    val df = docs((1L, "ab1 cd, e", "en", "s", 9L))
    val r = TextOps.tokenCount(df).head()
    assert(r.getAs[Long]("ws_tokens") === 3L)
    // ab|1|cd|,|e -> 5 regex tokens
    assert(r.getAs[Long]("bpe_tokens") === 5L)
  }

  test("dupRateBySource counts cross-source duplicates against every holder") {
    val df = docs(
      (1L, "same text", "en", "a", 9L),  // keeper of the dup group
      (2L, "same text", "en", "b", 9L),  // cross-source copy
      (3L, "unique a", "en", "a", 8L),
      (4L, "unique b", "en", "b", 8L))
    val out = TextOps.dupRateBySource(df)
      .select("source", "docs", "dup_docs", "would_drop", "dup_rate")
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // both sources hold a copy of the duplicated text -> dup_docs 1 each,
    // but only source b's copy (doc 2, not the min id) would be dropped
    assert(out("a") === (("a", 2L, 1L, 0L, 0.5)))
    assert(out("b") === (("b", 2L, 1L, 1L, 0.5)))
  }

  test("langTokenStats: fertility is the ratio of corpus sums, not avg of ratios") {
    val df = docs(
      (1L, "ab cd", "en", "s", 5L),   // ws 2, bpe 2
      (2L, "a, b!", "en", "s", 5L),   // ws 2, bpe 4 (a , b !)
      (3L, "xy", "fr", "s", 2L))      // ws 1, bpe 1
    val out = TextOps.langTokenStats(df)
      .select("lang", "docs", "ws_tokens", "bpe_tokens", "chars", "fertility")
      .as[(String, Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("en") === (("en", 2L, 4L, 6L, 10L, 6.0 / 4.0)))
    assert(out("fr") === (("fr", 1L, 1L, 1L, 2L, 1.0)))
  }

  test("docFingerprint: normalized fingerprint is whitespace/case invariant") {
    val df = docs((1L, "Hello  World", "en", "s", 12L), (2L, "hello world", "en", "s", 11L))
    val fps = TextOps.docFingerprint(df).orderBy("doc_id").collect()
    assert(fps(0).getAs[String]("fp_raw") !== fps(1).getAs[String]("fp_raw"))
    assert(fps(0).getAs[String]("fp_norm") === fps(1).getAs[String]("fp_norm"))
    assert(fps(0).getAs[String]("shard") === fps(0).getAs[String]("fp_raw").take(2))
  }

  test("Ws class keeps Java \\s semantics: vertical tab is whitespace in fp_norm and bpe tokens") {
    // `\s` is the one metachar Java (includes \x0B) and RE2 (excludes
    // it) read differently; the operators spell the class explicitly so
    // both engines agree — and the explicit class must keep VT inside.
    val df = docs((1L, "ab", "en", "s", 3L), (2L, "a b", "en", "s", 3L))
    val fps = TextOps.docFingerprint(df).orderBy("doc_id").collect()
    assert(fps(0).getAs[String]("fp_norm") === fps(1).getAs[String]("fp_norm"))
    val toks = TextOps.tokenCount(df).orderBy("doc_id").collect()
    // VT is whitespace, not a standalone "other" token: a / b only
    assert(toks(0).getAs[Long]("bpe_tokens") === 2L)
    assert(toks(1).getAs[Long]("bpe_tokens") === 2L)
  }

  test("redactPii scrubs URLs, emails, and phone runs with typed placeholders") {
    val df = docs(
      (1L, "mail me at a.b+c@example.co.id or call 0812-3456-7890 now", "en", "s", 1L),
      (2L, "see https://example.com/x?u=a@b.com for details", "en", "s", 1L),
      (3L, "clean text only", "en", "s", 1L))
    val out = TextOps.redactPii(df).orderBy("doc_id")
      .select("redacted", "had_pii").as[(String, Boolean)].collect()
    assert(out(0) === (("mail me at <EMAIL> or call <PHONE> now", true)))
    // the email inside the URL disappears WITH the url (order matters)
    assert(out(1) === (("see <URL> for details", true)))
    assert(out(2) === (("clean text only", false)))
  }

  test("redactPii leaves dates, times and short number lists intact") {
    val df = docs(
      (1L, "meeting on 2024-01-02 03:04 in room 9", "en", "s", 1L),
      (2L, "scores 10 20 30 40", "en", "s", 1L))
    val out = TextOps.redactPii(df).orderBy("doc_id")
      .select("redacted", "had_pii").as[(String, Boolean)].collect()
    assert(out(0) === (("meeting on 2024-01-02 03:04 in room 9", false)))
    assert(out(1) === (("scores 10 20 30 40", false)))
  }

  test("decontaminate flags exactly the docs sharing k-grams with the benchmark") {
    val corpus = docs(
      (1L, "alpha beta gamma delta", "en", "s", 1L), // shares "alpha beta gamma"
      (2L, "totally different words here", "en", "s", 1L),
      (3L, "x y alpha beta gamma", "en", "s", 1L))
    val bench = docs((100L, "alpha beta gamma", "en", "s", 1L))
    val out = TextOps.decontaminate(corpus, bench).orderBy("doc_id")
      .as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L), (3L, 1L)))
  }

  test("decontaminateSubstring flags passage-level copies, ignores short-span overlap") {
    val passage = (1 to 48).map(i => s"s$i").mkString(" ")
    val corpus = docs(
      // contaminated: carries the benchmark passage behind its own prefix
      (1L, (1 to 60).map(i => s"a$i").mkString(" ") + " " + passage, "en", "s", 1L),
      // shares only a 3-token span — shingle decontamination's
      // territory, below any whole-chunk threshold here
      (2L, "s1 s2 s3 " + (1 to 60).map(i => s"b$i").mkString(" "), "en", "s", 1L),
      (3L, (1 to 60).map(i => s"c$i").mkString(" "), "en", "s", 1L))
    val bench = docs((100L, passage, "en", "s", 1L))
    val flagged = TextOps.decontaminateSubstring(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(1L))
    // the shingle layer DOES see doc 2's short span — the two operators
    // cover different leakage granularities by design
    assert(TextOps.decontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("decontaminateSubstring ignores boilerplate chunks past the df cap") {
    // a stock phrase shared by MANY corpus docs carries no
    // contamination signal even when the benchmark contains it too —
    // without the cap, on natural language every ordinary doc would
    // accumulate enough common chunks to be spuriously dropped
    val stock = (1 to 48).map(i => s"boiler$i").mkString(" ")
    val corpus = docs((1L to 6L).map(i =>
      (i, s"own$i words$i " + stock, "en", "s", 1L)): _*)
    val bench = docs((100L, stock, "en", "s", 1L))
    assert(TextOps.decontaminateSubstring(corpus, bench, maxDocFreq = 5L).count() === 0L)
    // below the cap the same sharing IS flagged
    val small = docs((1L to 3L).map(i =>
      (i, s"own$i words$i " + stock, "en", "s", 1L)): _*)
    assert(TextOps.decontaminateSubstring(small, bench, maxDocFreq = 5L).count() === 3L)
  }

  test("docRepetition measures duplicate word/bigram fractions") {
    val df = docs(
      (1L, "a a a a", "en", "s", 7L),        // 4 words, 1 distinct; 3 bigrams, 1 distinct
      (2L, "w x y z", "en", "s", 7L),        // all unique
      (3L, "solo", "en", "s", 4L))           // 1 word: bigram frac is null
    val out = TextOps.docRepetition(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("dup_word_frac") === 0.75)
    assert(out(0).getAs[Double]("dup_bigram_frac") === 1.0 - 1.0 / 3.0)
    assert(out(1).getAs[Double]("dup_word_frac") === 0.0)
    assert(out(1).getAs[Double]("dup_bigram_frac") === 0.0)
    assert(out(2).isNullAt(out(2).fieldIndex("dup_bigram_frac")))
  }

  test("dedupExact groups by content hash keeping min id and group size") {
    val df = docs((5L, "same", "en", "s", 4L), (2L, "same", "en", "s", 4L),
      (9L, "other", "en", "s", 5L))
    val out = TextOps.dedupExact(df).orderBy("keeper_id")
      .select("keeper_id", "dup_count").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((2L, 2L), (9L, 1L)))
  }

  test("splitBalance shares sum to 1 within each split and counts tie out") {
    val df = docs((1L to 200L).map(i =>
      (i, s"doc $i", if (i % 3 == 0) "id" else "en", "s", 6L)): _*)
    val rows = TextOps.splitBalance(df)
      .select("split", "lang", "docs", "split_docs", "share")
      .as[(String, String, Long, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (_, cells) =>
      assert(cells.map(_._3).sum === cells.head._4) // docs sum to split_docs
      assert(math.abs(cells.map(_._5).sum - 1.0) < 1e-12)
    }
    assert(rows.map(_._3).sum === 200L)
  }

  test("clusterSafeSplit keeps every cluster member in one split, others where hashSplit puts them") {
    val df = docs((1L to 200L).map(i => (i, s"doc $i", "en", "s", 6L)): _*)
    // three clusters whose members' OWN hashes straddle splits somewhere
    // in 200 ids; representatives 1, 50, 120
    val clusters = Seq(
      (1L, 1L), (7L, 1L), (13L, 1L),
      (50L, 50L), (51L, 50L),
      (120L, 120L), (121L, 120L), (122L, 120L))
      .toDF("doc_id", "cluster_id")
    val out = TextOps.clusterSafeSplit(df, clusters)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val plain = TextOps.hashSplit(df, col("doc_id"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // cluster members all share their representative's plain split
    assert(Seq(1L, 7L, 13L).map(out).distinct === Seq(plain(1L)))
    assert(Seq(50L, 51L).map(out).distinct === Seq(plain(50L)))
    assert(Seq(120L, 121L, 122L).map(out).distinct === Seq(plain(120L)))
    // unclustered docs are untouched
    val members = Set(1L, 7L, 13L, 50L, 51L, 120L, 121L, 122L)
    (1L to 200L).filterNot(members).foreach(i => assert(out(i) === plain(i)))
    // and the stats view ties out: clusters never straddle splits
    val stats = TextOps.clusterSafeSplitStats(df, clusters)
      .select("split", "docs", "clustered_docs", "clusters")
      .as[(String, Long, Long, Long)].collect()
    assert(stats.map(_._2).sum === 200L)
    assert(stats.map(_._3).sum === 8L)
    assert(stats.map(_._4).sum === 3L) // each cluster counted in ONE split
  }

  test("decontamReport merges both arms: identical copy -> both, short span -> ngram only") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val spanOnly = ((1 to 20).map(i => s"zed$i") ++ Seq("tok5", "tok6", "tok7") ++
      (21 to 40).map(i => s"zed$i")).mkString(" ")
    val clean = (1 to 40).map(i => s"oth$i").mkString(" ")
    val corpus = docs(
      (1L, base, "en", "s1", base.length.toLong),        // identical to the bench doc
      (3L, spanOnly, "en", "s1", spanOnly.length.toLong), // shares ONE 3-token shingle
      (2L, clean, "en", "s1", clean.length.toLong))
    val bench = docs((100L, base, "en", "s1", base.length.toLong))
    val out = TextOps.decontamReport(corpus, bench)
      .select("doc_id", "flagged_by").as[(Long, String)].collect().toMap
    // doc 1 trips shingles AND whole chunks; doc 3 only the shingle
    // arm (its chunks extend into different surrounding tokens, so no
    // chunk hash matches); doc 2 is clean and absent
    assert(out === Map(1L -> "both", 3L -> "ngram"))
    val full = TextOps.decontamReport(corpus, bench)
      .filter(col("doc_id") === 3L)
      .select("overlap_shingles", "shared_chunks", "shared_tokens")
      .as[(Long, Long, Long)].head()
    assert(full === ((1L, 0L, 0L))) // zero-filled evidence for the silent arm
  }

  test("charlmScore: hand-computed model on a 2-doc corpus; garbled text scores lower") {
    // corpus "abab" + "abxq": trigram table is tiny enough to check by
    // hand. "abab" -> {aba:1, bab:1}; "abxq" -> {abx:1, bxq:1}.
    // C(ab)=C(aba)+C(abx)=2, C(ba)=1, C(bx)=1; S=|{a,b,x,q}|=4.
    // P(a|ab)=(1+1)/(2+4)=1/3, P(b|ba)=(1+1)/(1+4)=2/5,
    // P(x|ab)=(1+1)/(2+4)=1/3, P(q|bx)=(1+1)/(1+4)=2/5.
    val df = docs((1L, "abab", "en", "s", 4L), (2L, "abxq", "en", "s", 4L))
    val out = TextOps.charlmScore(df, deterministic = true)
      .orderBy("doc_id")
      .select("doc_id", "n_tri", "mean_char_prob", "rare_tri")
      .as[(Long, Long, Double, Long)].collect()
    assert(out(0) === ((1L, 2L, (1.0 / 3 + 2.0 / 5) / 2, 0L)))
    assert(out(1) === ((2L, 2L, (1.0 / 3 + 2.0 / 5) / 2, 0L)))

    // semantic contract on a larger corpus: repeated natural-looking
    // text scores HIGHER than a doc of characters the model never
    // groups the same way (every trigram near-unique)
    val natural = Seq.fill(20)("the data pipeline runs the data").mkString(" ")
    val garbled = "zq9 vw7 kx3 mj5 qz1 wv8 xk4 jm6 p0y y2p"
    val big = docs(
      (Seq.tabulate(8)(i => (i.toLong, natural, "en", "s", natural.length.toLong)) :+
        ((99L, garbled, "en", "s", garbled.length.toLong))): _*)
    val scores = TextOps.charlmScore(big)
      .select("doc_id", "mean_char_prob").as[(Long, Double)].collect().toMap
    assert(scores(99L) < scores(0L) / 2,
      s"garbled ${scores(99L)} should be far below natural ${scores(0L)}")
  }

  test("graft_char_ngrams is element-identical to the HOF substring form") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions.expr
    // crafted: shorter-than-k, exactly k, multi-byte chars (substring
    // must count characters), repeats — plus a long mixed string
    val rows = Seq("ab", "abc", "ололо ab", "aaaa",
      (1 to 50).map(i => s"w$i").mkString(" "))
    val df = rows.toDF("text")
    val out = df.select(
      expr("graft_char_ngrams(text, 3)").as("native"),
      expr("CASE WHEN length(text) >= 3 THEN " +
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) " +
        "ELSE array() END").as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("charlmScoreAgainst: unseen mass follows the single smoothed formula") {
    // reference "abab": model c3 = {aba:1, bab:1}, C(ab)=1, C(ba)=1,
    // S = |{a, b}| = 2.
    // candidate "abaq": tri "aba" seen -> (1+1)/(1+2) = 2/3;
    //   tri "baq" unseen over seen bigram "ba" -> (0+1)/(1+2) = 1/3.
    // candidate "qqq": tri "qqq" unseen over unseen bigram -> 1/S = 1/2.
    val ref = docs((10L, "abab", "en", "s", 4L))
    val cand = docs((1L, "abaq", "en", "s", 4L), (2L, "qqq", "en", "s", 3L))
    val out = TextOps.charlmScoreAgainst(cand, ref, deterministic = true)
      .orderBy("doc_id")
      .select("doc_id", "n_tri", "mean_char_prob", "rare_tri")
      .as[(Long, Long, Double, Long)].collect()
    assert(out(0) === ((1L, 2L, (2.0 / 3 + 1.0 / 3) / 2, 0L)))
    assert(out(1) === ((2L, 1L, 1.0 / 2, 0L)))
    // self-scoring delegates to the same core: identical output
    val self = TextOps.charlmScore(ref, deterministic = true)
      .select("doc_id", "mean_char_prob").as[(Long, Double)].collect()
    val selfAgainst = TextOps.charlmScoreAgainst(ref, ref, deterministic = true)
      .select("doc_id", "mean_char_prob").as[(Long, Double)].collect()
    assert(self.toSeq === selfAgainst.toSeq)
  }

  test("charlm fast scorer is bit-identical to the join path, multi-byte text included") {
    // the dispatch contract: charlmScoreAgainstModel with the model
    // under the row cap scores through graft_charlm_doc_score (one
    // map-side expression); past the cap it keeps the join+fold path.
    // Both must produce the SAME bits — same IEEE ops, same
    // ascending-unsigned-byte fold order — on any text, so the corpus
    // here mixes ASCII, repeats, multi-byte (Cyrillic/CJK/emoji) and
    // boundary lengths (2 chars = dropped, exactly 3 = one trigram).
    val texts = Seq(
      "ab", // < 3 chars -> absent from BOTH outputs
      "abc",
      "abab",
      "the data pipeline runs the data " * 5,
      "ололо ab ололо", // 2-byte chars: substring must count chars
      "数据管道每天运行一次数据管道", // 3-byte chars
      "mixed ascii и кириллица and 中文 🚀🚀 tail",
      "zq9 vw7 kx3 mj5 qz1 wv8 xk4 jm6")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val model = TextOps.charlmCounts(df).select(col("tri"), col("n").as("c3"))
    val fast = TextOps.charlmScoreAgainstModel(df, model, rareBelow = 0.05)
      .orderBy("doc_id")
      .select("doc_id", "n_tri", "mean_char_prob", "rare_tri")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // maxModelRows = 0 forces the join-path fallback (deterministic
    // fold — the order the fast path reproduces)
    val joined = TextOps.charlmScoreAgainstModel(df, model, rareBelow = 0.05,
        deterministic = true, maxModelRows = 0)
      .orderBy("doc_id")
      .select("doc_id", "n_tri", "mean_char_prob", "rare_tri")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(fast.nonEmpty && fast.map(_._1) === texts.indices.map(_.toLong).filter(i =>
      texts(i.toInt).length >= 3))
    fast.zip(joined).foreach { case (f, j) =>
      assert(f._1 === j._1)
      assert(f._2 === j._2)
      assert(java.lang.Double.doubleToLongBits(f._3) ===
        java.lang.Double.doubleToLongBits(j._3),
        s"doc ${f._1}: fast ${f._3} != join ${j._3}")
      assert(f._4 === j._4)
    }
  }

  test("charlmRareDropIds == the scored-form drop set under every dispatch, duplicate ids pooled") {
    // the gate's pooled fast form must select exactly the ids the
    // join-path scored frame's filter selects — fast path,
    // cached-bytes override, and over-cap join fallback. doc_id 6
    // appears TWICE (the gate runs before every dedup/id arm, so a
    // twice-delivered id is a legal input): natural text + garbled
    // text pool into ONE trigram multiset in the join path's
    // (doc_id, tri) rollup, and the fast form's integer sums must
    // land the identical pooled verdict.
    val natural = Seq.fill(8)("the data pipeline runs the data").mkString(" ")
    val garbled = (1 to 14).map(i => s"zq${i}x w${i}v7 k${i}j").mkString(" ")
    // parquet round-trip: a local Seq would fold to a LocalRelation
    // and evaluate the scorer at OPTIMIZATION time, hiding the plan
    // shape the single-evaluation pin below exists to check
    val dfDir = tempDir("graft_lm_drop") + "/docs"
    Seq(
      (1L, natural), (2L, garbled), (3L, "ab"), // <3 chars: never dropped
      (4L, natural + " tail"), (5L, garbled.reverse),
      (6L, natural), (6L, garbled)) // duplicate id: pooled verdict
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dfDir)
    val df = spark.read.parquet(dfDir)
    val model = TextOps.charlmCounts(df.filter(col("doc_id") <= 2L))
      .select(col("tri"), col("n").as("c3"))
    val expected = TextOps.charlmScoreAgainstModel(df, model,
        rareBelow = 0.1, maxModelRows = 0) // join path as the reference
      .filter(col("rare_tri").cast("double") / col("n_tri") > 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && !expected.contains(1L) && !expected.contains(3L))
    val fast = TextOps.charlmRareDropIds(df, model, 0.1, 0.4)
    // single-evaluation pin: the struct projection must NOT collapse
    // into the aggregate (that would re-evaluate the scorer per field
    // reference — the pushdown hazard this form exists to avoid).
    // Counted on the optimized LOGICAL plan — CollapseProject and
    // predicate pushdown are logical rules, and the physical tree's
    // toString elides long expression lists.
    assert("graft_charlm_doc_score".r
      .findAllIn(fast.queryExecution.optimizedPlan.toString).size === 1,
      "the per-doc scorer must appear exactly once in the gate plan")
    assert(fast.as[Long].collect().toSet === expected)
    val cached = TextOps.charlmRareDropIds(df,
        sys.error("cached bytes must not re-aggregate the model"),
        0.1, 0.4,
        modelBytes = Some(TextOps.charlmCollectModel(model)))
      .as[Long].collect().toSet
    assert(cached === expected)
    val overCap = TextOps.charlmRareDropIds(df, model, 0.1, 0.4, maxModelRows = 0)
      .as[Long].collect().toSet
    assert(overCap === expected)
  }

  test("charlmScore deterministic fold equals the combinable sum within float tolerance") {
    val texts = (1 to 30).map(i =>
      (i.toLong, s"doc $i with some shared characters and id $i" * (i % 3 + 1), "en", "s", 10L))
    val df = docs(texts: _*)
    val det = TextOps.charlmScore(df, deterministic = true)
      .select("doc_id", "mean_char_prob").as[(Long, Double)].collect().toMap
    val comb = TextOps.charlmScore(df, deterministic = false)
      .select("doc_id", "mean_char_prob").as[(Long, Double)].collect().toMap
    assert(det.keySet === comb.keySet)
    det.foreach { case (k, v) => assert(math.abs(v - comb(k)) < 1e-12) }
  }

  test("gopherFilter keeps exactly gopherRules' pass set with input columns intact") {
    // 50 words, mwl ~4, all-alpha, two stopword hits -> passes every rule
    val good = (Seq("the", "data", "of", "pipeline") ++ Seq.fill(46)("word")).mkString(" ")
    val df = docs(
      (1L, good, "en", "s1", (good.length).toLong),
      (2L, "tiny text", "en", "s1", 9L)) // 2 words -> fails the word-count rule
    val kept = TextOps.gopherFilter(df)
    assert(kept.columns.toSeq === df.columns.toSeq)
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(1L))
    // the gate and the report agree doc-for-doc
    val verdicts = TextOps.gopherRules(df).select("doc_id", "gopher_pass")
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts === Map(1L -> true, 2L -> false))
  }
}
