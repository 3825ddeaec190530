package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: AQE-final formatted physical plans of the
  * representative queries, as checked-in evidence of the plan audit
  * (pushdown, broadcast shape, codegen spans, shuffle counts).
  *
  * Usage: `runMain graft.PlanDump [row ...]`. With no arguments it
  * rewrites the whole file; with row names it regenerates only those
  * sections and splices each in place of its old section, leaving the
  * rest of the file as it was. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val picks = Seq(
      "silver_clean" -> "the flagship regex chain: one codegen stage, zero shuffles",
      "q_join_dims" -> "star join: dims broadcast, single fact shuffle",
      "q_topn_revenue" -> "top-N before the dim join (TakeOrderedAndProject + broadcast)",
      "keyword_search" -> "text predicate pushed to the parquet scan",
      "ner_extract" -> "broadcast gazetteer join + single aggregate",
      "dedup_minhash" -> "banded LSH: map-only scalar signatures + bucket self-join",
      "dedup_ngram_jaccard" -> "df cap fused into a bounded-collect aggregate: one explode, one shuffle, native pair combos (r20), no broadcast, no sorts",
      "publishing_patterns" -> "share-of-total window over the <=24-row post-aggregation rollup (one scan + one shuffle)",
      "ann_bruteforce" -> "topK flat x float: broadcast query set + native codegen'd graft_dot; one query_id exchange feeds the rank window",
      "ann_ivf" -> "topK IVF x float: fixed-k centroids aggregated to one broadcast row; map-side array-argmin cell assignment; probe rows broadcast; dense_rank ranks each pair once inside the window's own exchange",
      "fuzzy_search" -> "edit-budget token scoring map-side; TakeOrderedAndProject bounds the sort",
      "sessionize_batch" -> "two window passes over ONE (user_id) shuffle",
      "ner_backlog" -> "incremental work queue: left-anti join + TakeOrderedAndProject",
      "ranked_search_page2" -> "keyset pagination: 1-row cursor broadcast, page cost independent of depth",
      "search_highlight_multi" -> "successive positional fragments, one row each: zero-shuffle map + Generate",
      "ranked_search_multi" -> "idf weights from a 1-row broadcast stats aggregate; corpus never shuffles",
      "dedup_clusters" -> "min-label propagation: per-round join + map-side min agg over checkpointed labels; convergence observed inside the round's checkpoint job (r20)",
      "stratified_sample" -> "deterministic md5 stratified sample: single map-side filter, zero shuffle",
      "group_topk" -> "per-group exemplars: WindowGroupLimit keeps the exchange at O(groups x k)",
      "bigram_counts" -> "corpus bigram stats: zip_with explode + map-side combine + TakeOrdered(topN)",
      "entity_pair_lift" -> "PMI-lift: the shared cooccurrencePairs bounded per-doc pair explode; singles + N broadcast, no corpus SMJ",
      "length_percentiles" -> "exact type-1 quantiles: window over the bounded distinct-value rollup",
      "char_budget_sample" -> "budget mixing: source totals broadcast onto the scan, map-side md5 keep rule",
      "scrub_boilerplate" -> "native one-pass token scrub: corpus bigram agg to ONE broadcast row, then a zero-shuffle projection",
      "gopher_rules" -> "Gopher battery: one shuffle-free codegen'd projection at scan speed",
      "entity_centrality" -> "integer power iterates: corpus work ends at the gazetteer-bounded mention agg; graph math on broadcast-scale rows",
      "interval_join" -> "attribution pairs: equi-key SMJ with the time window as a join residual, no time-bucket expansion",
      "z_value" -> "Morton key: generated masked-shift arithmetic in the scan projection, zero shuffle",
      "ann_quantized" -> "topK flat x int8: broadcast queries, native exact dot on integer-valued doubles",
      "chunk_documents" -> "overlapping token windows: per-row explode, zero shuffle",
      "pack_sequences" -> "concat-and-split packing: ONE domain-keyed exchange feeds the cumulative window",
      "token_rarity" -> "term-keyed df rollup join co-partitioned with the df aggregate",
      "dedup_substring" -> "CDC chunks: per-DOC window over the token explode, bounded-collect postings, map-side pair explode",
      "dedup_canonical" -> "cluster keep decision: pair-graph-sized cluster table broadcast into the corpus scan; one member-sized groupBy, the whole pick a single max_by struct",
      "apply_mix" -> "materialized mixing plan: source-cardinality factor aggregate broadcast back onto the scan, per-row sequence explode — zero corpus shuffle",
      "substring_pair_confirm" -> "confirm-or-drop: candidate pairs broadcast into two shingle-carrying corpus scans, Jaccard a map-side array_intersect/union — corpus scanned twice, shuffled never",
      "ann_lsh_recall" -> "recall report: two O(queries x k) topK outputs joined + aggregated; the LSH side ranks its narrow scored pairs through one exchange",
      "ranked_search_analyzed" -> "analyzer chain: lower() fused into the same scan-side scoring projection as the raw path",
      "decontam_substring" -> "chunk-overlap decontamination: df cap fused into the bounded collect; unhinted semi-join (AQE broadcasts small benchmarks, shuffles corpus-scale holdouts)",
      "sliding_counts" -> "hopping windows: one scan, the window explode and combinable agg both inside the exchange",
      "q_region_revenue" -> "TPC-H Q5 snowflake: constant dims broadcast, date filter pushed into orders, three declarative fact joins with the local-supplier residual on the last",
      "dedup_semantic" -> "SemDeDup: native argmin cell assignment against a 1-row broadcast centroid aggregate, within-cell equi-join pairing",
      "vocab_coverage" -> "vocabulary coverage: term-bounded frequency agg, TakeOrdered top-N broadcast back onto the token stream",
      "importance_favored" -> "DSIR importance: 4096-row feature table, favored set broadcast into the second pass; only doc-keyed re-aggregate shuffles",
      "q_big_orders" -> "TPC-H Q18: combinable orderkey fact aggregate, HAVING survivors joined back declaratively (AQE broadcasts when small), TakeOrderedAndProject",
      "decontam_semantic" -> "cross-set SemDeDup blocking: cell-keyed train x holdout join, per-vector max-of-struct aggregate — no corpus window",
      "bpe_pair_stats" -> "BPE merge candidates: substr pair explode on the vocab-bounded word rollup, map-side combine, TakeOrdered(topN)",
      "ann_ivf_quantized" -> "topK IVF x int8 (IVF-SQ8): full-precision argmin cells against the 1-row broadcast centroids, int8 exact-integer dots inside probed cells only",
      "q_forecast_revenue" -> "TPC-H Q6: every predicate in PushedFilters, 4-column pruned scan, one combinable global aggregate — the scan-efficiency yardstick",
      "q_returned_items" -> "TPC-H Q10: both fact filters pushed, per-customer rollup BEFORE the dim join, broadcast nation, TakeOrderedAndProject top-20",
      "q_top_supplier" -> "TPC-H Q15: rollup and its max on one reused exchange (scan-once), max as a 1-row broadcast equi-join — no global window",
      "q_small_qty_revenue" -> "TPC-H Q17: per-part correlated average as a keyed window over the brand slice; exact integer cross-multiplied threshold",
      "q_disc_revenue" -> "TPC-H Q19: hand-derived single-side prefilters pushed to both scans, OR-of-ANDs evaluated as the join residual",
      "q_idle_customers" -> "TPC-H Q22: positive-average as a 1-row broadcast, LEFT ANTI against orders, exact cross-multiplied above-average test",
      "ranked_search_bm25" -> "BM25 shape: corpus stats (n_docs, avgdl, df) as ONE broadcast row, saturated scoring map-side, TakeOrderedAndProject",
      "shuffle_shards" -> "deterministic shuffle: one shard-keyed exchange, per-shard rank window, no single-partition funnel",
      "embedding_covariance" -> "int8 moments: upper-triangle slice explode, long sums combined map-side into 2080 constant groups",
      "decontam_report" -> "combined contamination verdict: both arms' bounded outputs full-outer-joined; corpus work stays inside the arms",
      "q_waiting_orders" -> "TPC-H Q21 rewritten: ONE lineitem scan feeds the per-order lateness profile (the semi+anti pair as two stacked aggregates); supplier x nation broadcast after the sole-late decision",
      "ann_ivf_trained" -> "topK trained IVF x float: the Lloyd rounds ran before this plan, one Spark job each (native argmin against the centre literal + deterministic sorted-fold re-center); the refined centroids arrive as a driver-built 1-row local relation; query path identical to ann_ivf",
      "dedup_semantic_trained" -> "trained SemDeDup: Lloyd's-refined centroids slot into the same broadcast-argmin cell assignment + within-cell equi-join pairing as dedup_semantic",
      "sketch_distinct_audit" -> "HLL++ contract row: exact distinct (expand-based) and the sketch in ONE source-keyed aggregate pass over the token explode",
      "sketch_quantile_audit" -> "GK contract row: bounded per-source value rollup + 3 probe rows joined back; the corpus contributes one combinable count pass",
      "dedup_semantic_scaled" -> "SemDeDup with k = ceil(sqrt(N)) fan-out: same broadcast-argmin + within-cell pairing shape as dedup_semantic — only the centroid count scales",
      "dedup_semantic_capped" -> "viral-cell guard: cell sizes ride a k-row broadcast, rank-within-cell subdivision lands in the join key — pair work per cell linear in its population",
      "dedup_semantic_scaled_trained" -> "the composed production path: sqrt(N) fan-out derived by one count action, then driver-side Lloyd rounds at that k (one Spark job each), within-cell pairing unchanged",
      "multimodal_meta" -> "decode-free metadata + md5-seeded stub decode: ONE map-side projection over the binarized scan — no shuffle, no codec; every column replays in the oracle",
      "dedup_simhash" -> "md5-vote simhash: map-only scalar fingerprints, 4x16-bit band explode, bucket self-join, bit_count(xor) re-rank — the whole chain oracle-replayable since round 12",
      "ann_lsh" -> "topK LSH x float: md5-hyperplane SRP buckets, constant sign matrix cached per executor, (table, bucket) equi-join against the broadcast query buckets bounds candidates; narrow scored pairs ranked once through ONE exchange (no array-carrying dedup aggregate)",
      "semantic_probe" -> "daily-ingest probe: rank-seeded corpus-only Lloyd training, corpus cell index from one argmin projection, delta x corpus joined WITHIN cells — the corpus never self-joins",
      "charlm_score" -> "char-LM filter: |alphabet|^3-bounded model trained by ONE packed-trigram aggregate, collected driver-side, scored per doc by ONE map-side expression (model as a foldable plan literal, elided below) — zero scoring shuffle, no log anywhere",
      "bpe_train" -> "BPE training: vocab-bounded word rollup, per-round pair-count aggregate + 1-row winner collect, map-only fold re-segmentation — corpus rows touched once at tokenization",
      "q_market_share" -> "TPC-H Q8: share-within-group over the six-table snowflake — ONE conditional aggregate pass (no per-nation self-join), pushed date/type filters, constant dims broadcast, big dims left to AQE",
      "pq_codes" -> "PQ encoding: all m subspaces in ONE fused native scan expression (graft_pq_encode vs a 1-row packed-codebook broadcast, r20), zero corpus shuffles; the codebooks arrive as a driver-built local relation (training ran one Spark job per Lloyd round, outside this plan)",
      "ann_pq" -> "topK flat x PQ: per-query m x ksub distance table broadcast onto fused-encode code arrays, native graft_adc_dist per candidate, exact-cosine re-rank only for the top-64 survivors",
      "ann_ivf_pq" -> "topK trained IVF x PQ: cell argmin and fused encode in ONE scan projection (no vec_id re-join), per-(query, cell) ADC tables broadcast, full vectors fetched for the re-rank only",
      "entity_pagerank" -> "damped PageRank: corpus work ends at the per-doc mention aggregate; the gazetteer-bounded pairs coalesce into one task that runs all 5 sorted-fold rounds in memory — one Spark execution",
      "curriculum_assign" -> "curriculum buckets: md5 sample filter map-side, window only over the SAMPLE, bucket count against a (k-1)-row broadcast — no global sort",
      "heavy_hitters_audit" -> "MG contract row: the k-entry combinable sketch and the exact rollup in one audit join; production keeps only the sketch aggregate",
      "ann_ivf_pq_residual" -> "topK trained IVF x residual PQ: residuals carry their cell and are pinned once (every training round and the encode read them); per-(query, probed-cell) ADC tables ride one broadcast; full vectors only in the re-rank",
      "entity_communities" -> "sync LPA: the gazetteer-bounded pairs coalesce into one task that runs all 5 argmax rounds in memory — one Spark execution; integer weights, no doubles",
      "semantic_probe_pq" -> "PQ-compressed probe: 16 B/doc index rows off ONE zero-shuffle fused-encode projection (r20) equi-join delta cells, native ADC + law-of-cosines recovery map-side, corpus vectors never load",
      "bloom_filter_audit" -> "bloom contract row: one checkpointed split feeds the driver-built filter and the probe aggregate; booleans pinned from the exact side",
      "semantic_probe_pq_persisted" -> "the persisted PQ seam: codebooks/centroids/codes READ from tables (no retraining in the probe half), delta cells equi-join the bucketed 16 B/doc index, ADC + law-of-cosines map-side",
      "pack_sequences_bpe" -> "BPE-budget packing: vocab-bounded token-count table joins the exploded words, then the same ONE domain-keyed exchange feeds the cumulative window",
      "pq_opq_check" -> "OPQ verdict: one corpus moments pass (shared shape with embedding_covariance), then constant-size (2016-row) correlation arithmetic with sorted-fold means",
      "pq_opq_gain" -> "OPQ applied: variance ranking (diagonal moments) and both layouts' codebooks trained in the same Lloyd rounds before this plan; ONE scan encodes both layouts (two graft_pq_encode calls against the codebook literals, which fill the 8000-char dump), win counts as order-free integer sums",
      "bloom_filter_audit_sharded" -> "sharded bloom contract: filters built DISTRIBUTED (one distinct-hash shuffle, mapGroups assembles each shard executor-side), probed through the torrent-broadcast handle — one shard lookup per row, no multi-GB plan literal",
      "semantic_probe_pq_tight" -> "tight certified probe: the same bucketed ADC equi-join as the persisted seam; the per-subspace floor adds m subtract/max ops on the already-loaded lookup rows — candidates shrink, plan shape unchanged",
      "curriculum_mix_by_source" -> "per-feed curriculum mix: bootstrap-trained bounds folded map-side as a (k-1)-value literal, ONE sources x k aggregate, zero joins at any corpus size",
      "bloom_filter_audit_merge_batched" -> "batched daily merge contract: the audit aggregate probes BOTH key spaces through the production dispatch after ONE mergeHashBlooms call — the plan shows the broadcast shard-probe per row, no per-table merge pipelines",
      "accept_preview_audit" -> "the armed accept decision: every gate stage checkpointed delta-sized (plan leaves are RDD scans), verdict attribution ALL-BROADCAST flag joins over the input ids — no sort-merge join anywhere; the corpus-side probes (id bloom, exact bypass, banded minhash, chunk, quantizer cells) ran inside the checkpointed stages behind their bloom prefilters")
    val notes = picks.toMap
    val unknown = args.filterNot(notes.contains)
    require(unknown.isEmpty, s"not a PlanDump row: ${unknown.mkString(", ")}")
    def section(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // drive AQE to the final plan
      // elide driver-built binary plan literals (charlm model bytes —
      // KBs of hex that would bury the plan shape the dump exists
      // for) BEFORE truncating: a truncate-first would let one large
      // literal swallow every plan node after it. RDD call sites lose
      // their line numbers (`localCheckpoint at Pq.scala:197` ->
      // `at Pq.scala`), so a section changes only when its plan does.
      val plan = "0x[0-9A-F]{64,}".r.replaceAllIn(
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode),
        m => s"0x<${(m.matched.length - 2) / 2} bytes elided>")
        .replaceAll("""(at \w+\.scala):\d+""", "$1").take(8000)
      s"\n## $name — ${notes(name)}\n\n```\n$plan\n```\n"
    }
    val path = Paths.get("PLANS.md")
    val text =
      if (args.isEmpty)
        "# PLANS — AQE-final formatted physical plans (sf0.01)\n\n" +
          "Generated by `sbt \"runMain graft.PlanDump\"`. Regenerate after plan-affecting changes.\n" +
          picks.map(p => section(p._1)).mkString
      else args.foldLeft(Files.readString(path)) { (old, name) =>
        // a section runs from its heading to the next one (or the end)
        val start = old.indexOf(s"\n## $name — ")
        require(start >= 0, s"PLANS.md has no $name section; run with no arguments to rewrite it")
        val next = old.indexOf("\n## ", start + 1)
        old.substring(0, start) + section(name) + (if (next < 0) "" else old.substring(next))
      }
    Files.writeString(path, text)
    println(s"wrote PLANS.md (${text.length} chars; " +
      s"${if (args.isEmpty) "all sections" else args.mkString(", ")})")
    spark.stop()
  }
}
