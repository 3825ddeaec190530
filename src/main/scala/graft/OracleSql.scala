package graft

/** DuckDB renderings of graft's core column pipelines, used to build
  * the `SparkEntry.oracleSql` entries. Kept next to the Scala
  * implementations so the two stay in lock-step; every pattern is in
  * the common Java-regex ∩ RE2 subset (no lookahead/backrefs).
  */
object OracleSql {

  /** Mirrors [[graft.operators.Cleaning.cleanContent]] — generated
    * from the same [[graft.operators.Cleaning.ContentSteps]] list so
    * the Spark and DuckDB pipelines cannot drift. Literal newlines in
    * the Scala patterns are escaped to `\n` for the SQL string (RE2
    * parses `\n` to the same newline char the Java pattern holds). */
  def cleanContentSql(expr: String): String = {
    val nested = graft.operators.Cleaning.ContentSteps.foldLeft(expr) { case (e, (pat, rep)) =>
      // Enforce the no-drift contract: a quote would break the SQL
      // literal; $ or backslash in a replacement means Java replaceAll,
      // Spark RegExpReplace and RE2 would each interpret it differently.
      require(!pat.contains("'"),
        s"ContentSteps pattern not renderable as a DuckDB literal: $pat")
      // Java reads \s as [ \t\n\x0B\f\r]; RE2 excludes the vertical
      // tab — spell the class out (Cleaning.Ws) instead of drifting.
      require(!pat.contains("\\s"),
        s"ContentSteps pattern must not use \\s (Java/RE2 disagree on \\x0B): $pat")
      require(!rep.exists(c => c == '\'' || c == '$' || c == '\\'),
        s"ContentSteps replacement must be literal text (no ', $$, \\): $rep")
      s"regexp_replace($e, '${pat.replace("\n", "\\n")}', '$rep', 'g')"
    }
    s"TRIM($nested)"
  }

  /** Mirrors [[graft.operators.Cleaning.silver]] as a CTE body. */
  def silverSql: String = {
    val cleaned = cleanContentSql("text")
    s"""SELECT
       |  md5('https://example.com/doc/' || CAST(doc_id AS VARCHAR)) AS id,
       |  doc_id,
       |  $cleaned AS content,
       |  CAST(LENGTH($cleaned) AS BIGINT) AS content_length,
       |  lang,
       |  source AS topic
       |FROM documents""".stripMargin
  }

  /** Mirrors [[graft.operators.Enrichment.topicCategory]]. */
  def topicCategorySql(expr: String): String =
    s"""CASE
       |  WHEN lower($expr) LIKE '%politik%' OR lower($expr) LIKE '%pemerintah%' THEN 'Politik'
       |  WHEN lower($expr) LIKE '%ekonom%' OR lower($expr) LIKE '%bisnis%' THEN 'Ekonomi'
       |  WHEN lower($expr) LIKE '%olahraga%' OR lower($expr) LIKE '%sport%' THEN 'Olahraga'
       |  WHEN lower($expr) LIKE '%teknolog%' OR lower($expr) LIKE '%digital%' THEN 'Teknologi'
       |  WHEN lower($expr) LIKE '%kesehatan%' OR lower($expr) LIKE '%medis%' THEN 'Kesehatan'
       |  WHEN lower($expr) LIKE '%pendidikan%' OR lower($expr) LIKE '%sekolah%' THEN 'Pendidikan'
       |  WHEN lower($expr) LIKE '%hukum%' OR lower($expr) LIKE '%kriminal%' THEN 'Hukum'
       |  WHEN lower($expr) LIKE '%internasional%' OR lower($expr) LIKE '%dunia%' THEN 'Internasional'
       |  ELSE COALESCE($expr, 'Umum')
       |END""".stripMargin

  /** Mirrors [[graft.operators.Ner]]'s dictionary + validation +
    * dedupe pipeline as a CTE chain. Use as
    * `WITH $nerCtes SELECT ... FROM ents`. Generated from
    * [[graft.operators.Ner.Dictionary]] so the two stay in lock-step. */
  def nerCtes: String = {
    val values = graft.operators.Ner.Dictionary
      .map { case (w, t, c) => s"('$w', '$t', CAST($c AS DOUBLE))" }
      .mkString(", ")
    val block = graft.operators.Ner.Blocklist.toSeq.sorted.map(w => s"'$w'").mkString(", ")
    s"""dict(word, entity_type, confidence) AS (VALUES $values),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |hits AS (
       |  SELECT t.doc_id, t.word, d.entity_type, d.confidence
       |  FROM tok t JOIN dict d ON t.word = d.word
       |  WHERE length(t.word) >= 2 AND d.confidence >= 0.5
       |    AND t.word NOT IN ($block)
       |    AND regexp_matches(t.word, '^[a-z]+$$')),
       |ents AS (
       |  SELECT doc_id, word AS entity_text, entity_type,
       |         MAX(confidence) AS confidence, COUNT(*) AS mentions
       |  FROM hits GROUP BY 1, 2, 3)""".stripMargin
  }

  /** Mirrors [[graft.operators.TextOps.langId]]: per-language marker
    * hit counts and the first-max `when` chain. */
  def langIdSql: String = {
    val markers = graft.operators.TextOps.LangMarkers
    val langs = markers.map(_._1)
    def hits(ws: Seq[String]): String =
      s"CAST(len(regexp_extract_all(text, '\\b(${ws.mkString("|")})\\b')) AS BIGINT)"
    val whens = langs.init.map { l =>
      val later = langs.dropWhile(_ != l).tail
      val cond = later.map(o => s"${l}_hits >= ${o}_hits").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id,
       |  ${langs.map(l => s"${l}_hits").mkString(", ")},
       |  CASE $whens ELSE '${langs.last}' END AS predicted_lang,
       |  meta_lang
       |FROM (SELECT doc_id, lang AS meta_lang,
       |  ${markers.map { case (l, ws) => s"${hits(ws)} AS ${l}_hits" }.mkString(",\n  ")}
       |  FROM documents) t""".stripMargin
  }

  /** Mirrors [[graft.operators.Dedup.ngramJaccardPairs]] (threshold
    * 0.5, maxDocFreq 100) as a CTE chain ending in
    * `pairs(doc_id_1, doc_id_2, jaccard)`. Use as
    * `WITH $ngramPairsCtes SELECT ... FROM pairs`. */
  /** Mirrors [[graft.operators.TextOps.gopherRules]] (default
    * thresholds). Stopword CASE terms are generated from the same
    * `GopherStops` list the operator uses, so the two cannot drift.
    * Shared by the `gopher_rules` row and the `gopher_report`
    * per-source rollup. */
  def gopherRulesSql: String = {
    val stops = graft.operators.TextOps.GopherStops
      .map(w => s"(CASE WHEN regexp_matches(text, '\\b$w\\b') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, source, n_chars, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |  FROM documents),
       |m AS (SELECT doc_id, source, n_words,
       |    CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
       |      / CAST(n_words AS DOUBLE) AS symbol_ratio,
       |    CAST(len(list_filter(string_split(text, ' '), x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
       |      / CAST(n_words AS DOUBLE) AS alpha_ratio,
       |    CAST($stops AS BIGINT) AS stop_hits
       |  FROM w)
       |SELECT doc_id, source, n_words, mean_word_len, symbol_ratio, alpha_ratio, stop_hits,
       |  n_words >= 50 AND n_words <= 100000 AS pass_words,
       |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS pass_mwl,
       |  symbol_ratio < 0.1 AS pass_symbol,
       |  alpha_ratio > 0.8 AS pass_alpha,
       |  stop_hits >= 2 AS pass_stops,
       |  n_words >= 50 AND n_words <= 100000
       |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND symbol_ratio < 0.1 AND alpha_ratio > 0.8
       |    AND stop_hits >= 2 AS gopher_pass
       |FROM m""".stripMargin
  }

  /** Mirrors [[graft.operators.Dedup.minhashPairs]] (64 permutations,
    * 16 bands x 4 rows, threshold 0.5) as a CTE chain ending in
    * `mh_est(doc_id_1, doc_id_2, est_jaccard)` — a bit-for-bit replay
    * of the md5-Kirsch-Mitzenmacher signature family
    * ([[graft.functions.MinHashSigMd5]]):
    *  - `mh_hv` parses each shingle's md5 HEX into its two 64-bit
    *    halves as HUGEINTs (digit-weighted sum; 16^k = 2^(4k) is an
    *    exact double, so `power` is lossless),
    *  - `mh_pm` is the per-(doc, permutation) signature element:
    *    MIN over shingles of `h1 + i*(h2 odd) mod 2^64` — the same
    *    winner the engine's unsigned-Long min picks,
    *  - banding is value-equality on all 4 rows of a band (`i // 4`),
    *    which is exactly what the engine's band_hash bucket equality
    *    encodes (xxhash64 there is only a bucketing key).
    * Validated against an independent python/hashlib reference. */
  def minhashPairsCtes: String = minhashPairsCtes("documents")

  /** [[minhashPairsCtes]] over an arbitrary base relation (CTE name)
    * instead of the `documents` table — the accept-preview audit
    * replays the incremental probe over a delta∪corpus union. The
    * base relation is INTERPOLATED into the canonical text (r17
    * ADVICE: a post-hoc `String.replace` would silently corrupt the
    * SQL if a future edit added another occurrence of the needle). */
  def minhashPairsCtes(base: String): String =
    s"""mh_tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM $base),
      |mh_sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |          FROM mh_tok, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
      |mh_hx AS (SELECT DISTINCT shingle FROM mh_sh),
      |mh_md AS (SELECT shingle, md5(shingle) AS m FROM mh_hx),
      |mh_hv AS (SELECT shingle,
      |            SUM(CASE WHEN p <= 16 THEN CAST(strpos('0123456789abcdef', substr(m, p, 1)) - 1 AS HUGEINT)
      |                  * CAST(power(2, 4 * (16 - p)) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS h1,
      |            SUM(CASE WHEN p > 16 THEN CAST(strpos('0123456789abcdef', substr(m, p, 1)) - 1 AS HUGEINT)
      |                  * CAST(power(2, 4 * (32 - p)) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS h2
      |          FROM mh_md, UNNEST(range(1, 33)) AS t(p) GROUP BY 1),
      |mh_pm AS (SELECT s.doc_id, i,
      |            MIN((h1 + i * (h2 + CASE WHEN h2 % 2 = 0 THEN 1 ELSE 0 END))
      |                % CAST(power(2, 64) AS HUGEINT)) AS v
      |          FROM mh_sh s JOIN mh_hv h USING (shingle), UNNEST(range(0, 64)) AS t(i)
      |          GROUP BY 1, 2),
      |mh_bd AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      |          FROM mh_pm a JOIN mh_pm b ON a.i = b.i AND a.v = b.v AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id, a.i // 4
      |          HAVING COUNT(*) = 4),
      |mh_cand AS (SELECT DISTINCT doc_id_1, doc_id_2 FROM mh_bd),
      |mh_est AS (SELECT c.doc_id_1, c.doc_id_2,
      |             CAST(SUM(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE) / 64 AS est_jaccard
      |           FROM mh_cand c
      |           JOIN mh_pm a ON a.doc_id = c.doc_id_1
      |           JOIN mh_pm b ON b.doc_id = c.doc_id_2 AND b.i = a.i
      |           GROUP BY 1, 2)""".stripMargin

  /** Mirrors [[graft.operators.Dedup.simhashPairs]] (64-bit md5-vote
    * fingerprints, 4×16-bit bands, Hamming ≤ 3) as a CTE chain ending
    * in `sx_pairs(doc_id_1, doc_id_2, hamming)` — a bit-for-bit replay
    * of [[graft.functions.SimHashSigMd5]]:
    *  - `sx_hv` parses each distinct shingle's md5 HEX first half into
    *    the 64-bit token hash `h1` as a HUGEINT (same digit-weighted
    *    sum as `mh_hv`),
    *  - `sx_vote` sums the ±1 per-bit votes over each doc's DISTINCT
    *    shingle set (bit extraction `(h1 // 2^i) % 2` — 2^i is a power
    *    of two, so the `power` doubles are exact),
    *  - `sx_fp` reassembles the unsigned fingerprint (bit set iff the
    *    vote is STRICTLY positive, ties → 0 like the engine),
    *  - banding is integer slicing `(fp // 2^(16b)) % 65536` — the
    *    unsigned view of the engine's `shiftright & 0xFFFF`,
    *  - `sx_ham` re-derives Hamming by comparing the 64 bit columns
    *    (the engine's `bit_count(xor)` on the same-bits signed long).
    */
  def simhashPairsCtes: String =
    """sx_tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sx_sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |          FROM sx_tok, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
      |sx_hx AS (SELECT DISTINCT shingle FROM sx_sh),
      |sx_md AS (SELECT shingle, md5(shingle) AS m FROM sx_hx),
      |sx_hv AS (SELECT shingle,
      |            SUM(CAST(strpos('0123456789abcdef', substr(m, p, 1)) - 1 AS HUGEINT)
      |                  * CAST(power(2, 4 * (16 - p)) AS HUGEINT)) AS h1
      |          FROM sx_md, UNNEST(range(1, 17)) AS t(p) GROUP BY 1),
      |sx_vote AS (SELECT s.doc_id, i,
      |              SUM(CASE WHEN (h1 // CAST(power(2, i) AS HUGEINT)) % 2 = 1
      |                    THEN 1 ELSE -1 END) AS v
      |            FROM sx_sh s JOIN sx_hv h USING (shingle), UNNEST(range(0, 64)) AS t(i)
      |            GROUP BY 1, 2),
      |sx_fp AS (SELECT doc_id,
      |            SUM(CASE WHEN v > 0 THEN CAST(power(2, i) AS HUGEINT)
      |                  ELSE CAST(0 AS HUGEINT) END) AS fpu
      |          FROM sx_vote GROUP BY 1),
      |sx_band AS (SELECT doc_id,
      |              b, (fpu // CAST(power(2, 16 * b) AS HUGEINT)) % 65536 AS key
      |            FROM sx_fp, UNNEST(range(0, 4)) AS t(b)),
      |sx_cand AS (SELECT DISTINCT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2
      |            FROM sx_band l JOIN sx_band r
      |              ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
      |sx_ham AS (SELECT c.doc_id_1, c.doc_id_2,
      |             CAST(SUM(CASE WHEN (f1.fpu // CAST(power(2, i) AS HUGEINT)) % 2
      |                            <> (f2.fpu // CAST(power(2, i) AS HUGEINT)) % 2
      |                   THEN 1 ELSE 0 END) AS INTEGER) AS hamming
      |           FROM sx_cand c
      |           JOIN sx_fp f1 ON f1.doc_id = c.doc_id_1
      |           JOIN sx_fp f2 ON f2.doc_id = c.doc_id_2, UNNEST(range(0, 64)) AS t(i)
      |           GROUP BY 1, 2),
      |sx_pairs AS (SELECT doc_id_1, doc_id_2, hamming FROM sx_ham WHERE hamming <= 3)""".stripMargin

  /** Mirrors [[graft.operators.Ann.topK]] (LSH × float) at the registered
    * production parameters (4 tables × 8 bits, 5 queries, top-3) as a
    * CTE chain ending in `al_top(query_id, vec_id, cosine, rank)` — a
    * bit-for-bit replay of [[graft.functions.SrpBucketsMd5]]:
    *  - `al_sgn` builds the CONSTANT ±1 hyperplane matrix from md5 of
    *    the literal `"t:j:d"` keys (+1 iff the first hex char is
    *    '0'..'7', i.e. the digest's top bit is clear),
    *  - `al_proj` folds each (vector, plane) projection left-to-right
    *    in doubles — the convention every green ANN row proves,
    *  - bucket bit j is set iff the projection is STRICTLY positive;
    *    candidates meet on (table, bucket) and exact cosine re-ranks.
    */
  def annLshCtes: String =
    """al_e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |         FROM embeddings),
      |al_n AS (SELECT vec_id, emb,
      |           sqrt(list_reduce(list_transform(range(1, 65), i -> emb[i] * emb[i]),
      |                (acc, x) -> acc + x)) AS nrm
      |         FROM al_e),
      |al_sgn AS (SELECT t, j,
      |             list_transform(range(0, 64), d ->
      |               CASE WHEN substr(md5(t || ':' || j || ':' || d), 1, 1) <= '7'
      |                 THEN 1.0 ELSE -1.0 END) AS s
      |           FROM UNNEST(range(0, 4)) AS t1(t), UNNEST(range(0, 8)) AS t2(j)),
      |al_proj AS (SELECT vec_id, t, j,
      |              list_reduce(list_transform(range(1, 65), i -> emb[i] * s[i]),
      |                (acc, x) -> acc + x) AS proj
      |            FROM al_n CROSS JOIN al_sgn),
      |al_bkt AS (SELECT vec_id, t AS tbl,
      |             SUM(CASE WHEN proj > 0 THEN CAST(power(2, j) AS BIGINT)
      |                   ELSE CAST(0 AS BIGINT) END) AS bucket
      |           FROM al_proj GROUP BY 1, 2),
      |al_q AS (SELECT b.vec_id AS query_id, n.emb AS qemb, n.nrm AS qnrm, b.tbl, b.bucket
      |         FROM al_bkt b JOIN al_n n USING (vec_id) WHERE b.vec_id < 5),
      |al_cand AS (SELECT DISTINCT q.query_id, b.vec_id
      |            FROM al_bkt b JOIN al_q q ON b.tbl = q.tbl AND b.bucket = q.bucket
      |            WHERE b.vec_id <> q.query_id),
      |al_sc AS (SELECT c.query_id, c.vec_id,
      |            list_reduce(list_transform(range(1, 65), i -> q.qemb[i] * n.emb[i]),
      |              (acc, x) -> acc + x) / (q.qnrm * n.nrm) AS cos
      |          FROM al_cand c
      |          JOIN (SELECT DISTINCT query_id, qemb, qnrm FROM al_q) q USING (query_id)
      |          JOIN al_n n ON n.vec_id = c.vec_id),
      |al_rk AS (SELECT query_id, vec_id, cos,
      |            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |              ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
      |          FROM al_sc),
      |al_top AS (SELECT query_id, vec_id, cos AS cosine, rank FROM al_rk WHERE rank <= 3)""".stripMargin

  /** True transitive closure over the ngram-Jaccard pair graph via a
    * (linear) recursive CTE — every node's cluster is the least id it
    * can reach. The shared oracle for BOTH connected-component
    * implementations ([[graft.operators.Dedup.clusterPairs]] min-label
    * propagation and [[graft.operators.Dedup.clusterPairsStar]]
    * large-star/small-star): same pair graph, same output contract,
    * one oracle. */
  def clustersCcSql: String =
    s"""WITH RECURSIVE $clustersCcCtes
       |SELECT doc_id, cluster_id FROM cl""".stripMargin

  /** [[clustersCcSql]]'s chain as a CTE fragment ending in
    * `cl(doc_id, cluster_id)` — shared with the canonical-selection
    * oracle so the labeling and the keep decision can never disagree
    * on what the components are. */
  def clustersCcCtes: String =
    s"""$ngramPairsCtes,
       |edges AS (SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
       |          UNION SELECT doc_id_2, doc_id_1 FROM pairs),
       |reach AS (SELECT a, b FROM edges
       |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       |       FROM reach GROUP BY a)""".stripMargin

  def ngramPairsCtes: String = ngramPairsCtes(0.5)

  /** Mirrors [[graft.operators.Dedup.cdcChunks]] (hexCut "20") as a
    * CTE chain ending in `uch(doc_id, h, n_tokens)` — one row per
    * (doc, DISTINCT chunk fingerprint), the per-doc-deduped form both
    * `dedup_substring` and `decontam_substring` consume. ONE
    * definition so the two oracles can never disagree on the chunking. */
  def cdcChunksCtes: String = cdcChunksCtes("documents", "")

  /** [[cdcChunksCtes]] over an arbitrary base relation with PREFIXED
    * chain names, so two instantiations (corpus chunks, delta chunks)
    * coexist in one WITH list. Ends in `<prefix>uch(doc_id, h,
    * n_tokens)`. Base and prefix are INTERPOLATED into the canonical
    * text (r17 ADVICE: post-hoc `String.replace` on needles like
    * `cdc_`/`uch AS` would silently corrupt the SQL if a future edit
    * added another occurrence). */
  def cdcChunksCtes(base: String, prefix: String): String =
    s"""${prefix}cdc_d AS (SELECT doc_id, string_split(text, ' ') AS t FROM $base),
      |${prefix}cdc_tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t FROM ${prefix}cdc_d),
      |${prefix}cdc_flg AS (SELECT doc_id, i, t[i] AS token,
      |         CASE WHEN substr(md5(t[i]), 1, 2) < '20' THEN 1 ELSE 0 END AS b
      |       FROM ${prefix}cdc_tok),
      |${prefix}cdc_cid AS (SELECT doc_id, i, token,
      |         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
      |       FROM ${prefix}cdc_flg),
      |${prefix}cdc_ch AS (SELECT doc_id, chunk_idx, COUNT(*) AS n_tokens,
      |         md5(string_agg(token, ' ' ORDER BY i)) AS h
      |       FROM ${prefix}cdc_cid GROUP BY 1, 2),
      |${prefix}uch AS (SELECT doc_id, h, MAX(n_tokens) AS n_tokens FROM ${prefix}cdc_ch GROUP BY 1, 2)""".stripMargin

  /** Threshold-parameterized form — `thresholdSweep` replays the same
    * chain at a lower floor to see below the production cut. */
  def ngramPairsCtes(threshold: Double): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
      |freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle) WHERE df <= 100),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
      |com AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS common
      |        FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_id_1, doc_id_2, jaccard FROM (
      |    SELECT doc_id_1, doc_id_2,
      |      CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
      |    FROM com
      |    JOIN sizes s1 ON com.doc_id_1 = s1.doc_id
      |    JOIN sizes s2 ON com.doc_id_2 = s2.doc_id) t
      |  WHERE jaccard >= $threshold)""".stripMargin

  /** DuckDB replay of [[graft.operators.Ann.kmeansCentroids]] with
    * `deterministic = true`: the seed is the first-`k` vec_ids
    * (exactly [[graft.operators.Ann.ivfCentroids]]), then `iters`
    * unrolled assign/re-center rounds. Bit-stability rests on three
    * shared conventions, all proven by the green `ann_ivf` row:
    * float→double widening is exact, every dot/norm folds dims
    * left-to-right, and the re-center mean folds cell members in
    * ascending `vec_id` order on BOTH engines (`list(x ORDER BY
    * vec_id)` here, the sorted array fold there). Empty cells keep
    * their previous centroid (LEFT JOIN + COALESCE here, the
    * driver-side centre map of [[graft.operators.Ann.lloyd]] there).
    * Ends at relation `cents$iters(cell, cemb, cnrm)`. */
  /** The ONE rendering of graft's sequential-fold dot product —
    * every trained-quantizer oracle builds on this single definition
    * so the fold convention can never drift between them. */
  private def dotExpr(dims: Int)(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${dims + 1}), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  /** `scored` + `fasg` CTEs assigning every vector its nearest
    * TRAINED cell (append after [[kmeansCentroidsCtes]]) — shared by
    * every trained-quantizer consumer for the same no-drift reason. */
  private def trainedAssignmentCtes(iters: Int, dims: Int): String =
    s"""scored AS (
       |  SELECT n.vec_id, n.emb, n.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |      (${dotExpr(dims)("n.emb", "c.cemb")} / (n.nrm * c.cnrm)) DESC, c.cell) AS rn
       |  FROM n CROSS JOIN cents$iters c),
       |fasg AS (SELECT vec_id, emb, nrm, cell FROM scored WHERE rn = 1)""".stripMargin

  /** The accept-preview audit's CHARLM GATE as a CTE chain ending in
    * `chd(doc_id)` — the docs the corpus-trained trigram model drops.
    * Mirrors [[graft.operators.TextOps.charlmScoreAgainstModel]] fed
    * by a model built from `modelBase(doc_id, text)` (the standing
    * corpus — [[graft.operators.TextOps.charlmCounts]] summed back)
    * and scoring `candBase(doc_id, content)` (the delta's cleaned
    * rule-quality survivors), with the drop rule
    * `rare_tri / n_tri > maxFrac` at `p < rareBelow`. Only integer
    * counts and one exact double divide decide the drop, so the
    * boundary cannot flip between engines (same arithmetic the green
    * `charlm_cross_score` row pins, including add-one smoothing for
    * trigrams the model never saw). */
  def charlmGateCtes(modelBase: String, candBase: String,
                     rareBelow: Double, maxFrac: Double): String =
    s"""lm_mt AS (SELECT substr(text, i, 3) AS tri
       |          FROM $modelBase, UNNEST(range(1, length(text) - 1)) AS t(i)
       |          WHERE length(text) >= 3),
       |lm_c3 AS (SELECT tri, CAST(COUNT(*) AS BIGINT) AS c3 FROM lm_mt GROUP BY 1),
       |lm_c2 AS (SELECT substr(tri, 1, 2) AS bi, CAST(SUM(c3) AS BIGINT) AS c2
       |          FROM lm_c3 GROUP BY 1),
       |lm_s AS (SELECT COUNT(DISTINCT substr(tri, 3, 1)) AS sz FROM lm_c3),
       |lm_ct AS (SELECT doc_id, substr(content, i, 3) AS tri
       |          FROM $candBase, UNNEST(range(1, length(content) - 1)) AS t(i)
       |          WHERE length(content) >= 3),
       |lm_cn AS (SELECT doc_id, tri, COUNT(*) AS n FROM lm_ct GROUP BY 1, 2),
       |lm_p AS (SELECT cn.doc_id, cn.n,
       |           (CAST(COALESCE(c3.c3, 0) AS DOUBLE) + 1.0)
       |             / (CAST(COALESCE(c2.c2, 0) AS DOUBLE) + CAST(s.sz AS DOUBLE)) AS p
       |         FROM lm_cn cn LEFT JOIN lm_c3 c3 USING (tri)
       |         LEFT JOIN lm_c2 c2 ON substr(cn.tri, 1, 2) = c2.bi, lm_s s),
       |chd AS (SELECT doc_id FROM (
       |          SELECT doc_id,
       |            CAST(COALESCE(SUM(CASE WHEN p < $rareBelow THEN n END), 0) AS DOUBLE)
       |              / CAST(SUM(n) AS DOUBLE) AS rf
       |          FROM lm_p GROUP BY 1) WHERE rf > $maxFrac)""".stripMargin

  /** The accept-preview audit's SEMANTIC ARM as a CTE chain ending in
    * `semh(doc_id)` — delta docs whose embedding lands in a trained
    * corpus cell next to a cosine-≥-threshold corpus vector. Replays
    * [[graft.operators.Ann.writeSemanticIndex]] (rank-seeded
    * deterministic training over the `where`-selected corpus vectors)
    * + [[graft.operators.Ann.incrementalSemanticMatches]] (nprobe=1).
    * The audit's delta vectors are corpus vectors RE-SENT under
    * `vec_id + idOffset` (the paraphrase slice: same embedding,
    * word-order-reversed text), so each delta vector's nearest-cell
    * assignment IS its source's `fasg` row — identical input, same
    * centroids, same (-cos, cell) tie-break — and the engine's
    * `corpus_doc =!= delta_doc` filter never binds at the offset.
    * `probeWhere` selects the re-sent sources as a predicate over
    * `d.vec_id`. */
  def semanticAuditCtes(where: String, probeWhere: String, idOffset: Long,
                        k: Int = 64, iters: Int = 3, dims: Int = 64,
                        threshold: Double = 0.35): String =
    s"""${kmeansCentroidsCtes(k, iters, dims, rankSeed = true, where = Some(where))},
       |${trainedAssignmentCtes(iters, dims)},
       |semh AS (SELECT DISTINCT d.vec_id + $idOffset AS doc_id
       |         FROM fasg d JOIN fasg c ON c.cell = d.cell
       |         WHERE ($probeWhere)
       |           AND ${dotExpr(dims)("d.emb", "c.emb")} / (d.nrm * c.nrm) >= $threshold)""".stripMargin

  /** `kSql`: when set, the seed fan-out is DERIVED from the data by
    * this scalar expression over `e` (e.g. the √N rule of
    * [[graft.operators.Ann.semanticDedupPairsScaled]]) instead of the
    * literal `k` — the same derive-then-seed order the Scala side
    * runs, so the scaled+trained composition replays bit-for-bit. */
  def kmeansCentroidsCtes(k: Int = 64, iters: Int = 3, dims: Int = 64,
                          kSql: Option[String] = None,
                          where: Option[String] = None,
                          rankSeed: Boolean = false): String = {
    val dot = dotExpr(dims) _
    val seedCents = (kSql, rankSeed) match {
      case (Some(expr), false) =>
        s"""kk AS (SELECT $expr AS k FROM e),
           |cents0 AS (SELECT vec_id AS cell, emb AS cemb, nrm AS cnrm FROM n, kk WHERE vec_id < kk.k)""".stripMargin
      case (None, false) =>
        s"cents0 AS (SELECT vec_id AS cell, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < $k)"
      case (None, true) =>
        // [[graft.operators.Ann.kmeansCentroids]]' rank seed: the k LOWEST
        // ids become cells 0..k-1 in id order — the seed rule for
        // corpora with arbitrary (sparse) id spaces
        s"""cents0 AS (SELECT rn - 1 AS cell, emb AS cemb, nrm AS cnrm FROM (
           |  SELECT emb, nrm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM n) WHERE rn <= $k)""".stripMargin
      case (Some(_), true) =>
        throw new IllegalArgumentException("kSql + rankSeed not composed by any registered path")
    }
    val whereSql = where.map(w => s"WHERE $w").getOrElse("")
    val seed =
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |     FROM embeddings $whereSql),
         |n AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM e),
         |$seedCents""".stripMargin
    val rounds = (0 until iters).map { i =>
      s"""asg$i AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT n.vec_id, n.emb, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |        (${dot("n.emb", "c.cemb")} / (n.nrm * c.cnrm)) DESC, c.cell) AS rn
         |    FROM n CROSS JOIN cents$i c) WHERE rn = 1),
         |mean$i AS (
         |  SELECT cell, p.pos AS pos,
         |    list_reduce(list(emb[p.pos] ORDER BY vec_id), (a, b) -> a + b) / COUNT(*) AS m
         |  FROM asg$i CROSS JOIN (SELECT unnest(range(1, ${dims + 1})) AS pos) p
         |  GROUP BY cell, p.pos),
         |newc$i AS (SELECT cell, list(m ORDER BY pos) AS cemb FROM mean$i GROUP BY cell),
         |cents${i + 1} AS (
         |  SELECT p.cell, COALESCE(nc.cemb, p.cemb) AS cemb,
         |    CASE WHEN nc.cemb IS NULL THEN p.cnrm
         |         ELSE sqrt(${dot("nc.cemb", "nc.cemb")}) END AS cnrm
         |  FROM cents$i p LEFT JOIN newc$i nc ON p.cell = nc.cell)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Mirrors [[graft.operators.Ann.topK]] (trained IVF × float, deterministic
    * training) end-to-end: replayed Lloyd's centroids, argmin cell
    * assignment, nprobe query probe, exact cosine re-rank — the same
    * shape as the green `ann_ivf` oracle with `cents0` swapped for
    * the trained `cents$iters`. */
  def kmeansQuerySql(k: Int = 64, iters: Int = 3, numQueries: Int = 5,
                     nprobe: Int = 4, topK: Int = 3, dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims)},
       |${trainedAssignmentCtes(iters, dims)},
       |qp AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, cell
       |       FROM scored WHERE vec_id < $numQueries AND rn <= $nprobe),
       |cand AS (
       |  SELECT qp.query_id, a.vec_id,
       |    ${dot("qp.qemb", "a.emb")} / (qp.qnrm * a.nrm) AS cos
       |  FROM fasg a JOIN qp ON a.cell = qp.cell
       |  WHERE a.vec_id <> qp.query_id),
       |ranked AS (SELECT query_id, vec_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM cand)
       |SELECT query_id, vec_id, cos AS cosine, rank FROM ranked WHERE rank <= $topK""".stripMargin
  }

  /** Mirrors [[graft.operators.Ann.semanticDedupPairs]] with a TRAINED
    * deterministic quantizer (`trainIters` Lloyd rounds): the replayed
    * [[kmeansCentroidsCtes]] training loop, then the same within-cell
    * pairing as the green `dedup_semantic` oracle against
    * `cents$iters` instead of the seed. */
  def semanticPairsTrainedSql(k: Int = 64, iters: Int = 3,
                              threshold: Double = 0.35, dims: Int = 64,
                              kSql: Option[String] = None): String = {
    val dot = dotExpr(dims) _
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims, kSql)},
       |${trainedAssignmentCtes(iters, dims)}
       |SELECT vec_id_1, vec_id_2, cell, cos AS cosine FROM (
       |  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2, a.cell AS cell,
       |    ${dot("a.emb", "b.emb")} / (a.nrm * b.nrm) AS cos
       |  FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id) t
       |WHERE cos >= $threshold""".stripMargin
  }

  /** Sequential-fold squared L2 — the PQ metric's twin of
    * [[dotExpr]]: 0 + (a1-b1)² + … left-to-right, matching
    * [[graft.operators.Pq.l2sq]]'s `aggregate(zip_with(…))` fold. */
  private def l2sqExpr(dims: Int)(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${dims + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, x) -> acc + x)"

  /** DuckDB replay of [[graft.operators.Pq.trainCodebooks]] +
    * [[graft.operators.Pq.pqCodes]] with `deterministic = true`:
    * per subspace `j`, the seed codebook is the first-`ksub`
    * vec_ids' subvectors, then `iters` unrolled L2 Lloyd rounds
    * (same three shared conventions as [[kmeansCentroidsCtes]] —
    * exact float→double widening, left-to-right distance folds,
    * ascending-vec_id re-center means — with cosine-argmax swapped
    * for L2-argmin). Ends at `codes(vec_id, sub, code)`; per-sub
    * relations `s$j` (subvectors) and `p${j}c$iters` (trained
    * codebook) stay visible for the query replays. `withE = false`
    * composes after [[kmeansCentroidsCtes]], which already defines
    * the shared double-widened `e`.
    *
    * `rankSeed` DEFAULTS TO TRUE to match
    * [[graft.operators.Pq.trainCodebooks]]'s default — the two
    * seedings coincide only on dense 0-based vec_ids, so a default
    * mismatch would keep oracles green on generated data while
    * silently diverging on any sparse or 1-based id space (r14
    * ADVICE). Keep the defaults aligned when either side changes. */
  def pqCtes(m: Int = 8, subDims: Int = 8, ksub: Int = 16,
             iters: Int = 2, withE: Boolean = true,
             src: String = "e", rankSeed: Boolean = true,
             tag: String = ""): String = {
    val l2 = l2sqExpr(subDims) _
    val e = if (withE)
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),\n"
    else ""
    val subs = (0 until m).map { j =>
      val lo = j * subDims + 1
      val hi = (j + 1) * subDims
      val seedCte = if (rankSeed)
        // [[graft.operators.Pq.trainCodebooks]]' seed: the ksub lowest
        // ids become cells 0..ksub-1 in id order (sparse id spaces)
        s"""p$tag${j}c0 AS (SELECT rn - 1 AS cell, semb AS cemb FROM (
           |  SELECT semb, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM s$tag$j) WHERE rn <= $ksub)""".stripMargin
      else
        s"p$tag${j}c0 AS (SELECT vec_id AS cell, semb AS cemb FROM s$tag$j WHERE vec_id < $ksub)"
      val seed =
        s"""s$tag$j AS (SELECT vec_id, emb[$lo:$hi] AS semb FROM $src),
           |$seedCte""".stripMargin
      val rounds = (0 until iters).map { i =>
        s"""p$tag${j}a$i AS (SELECT vec_id, semb, cell FROM (
           |  SELECT s.vec_id, s.semb, c.cell,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY ${l2("s.semb", "c.cemb")}, c.cell) AS rn
           |  FROM s$tag$j s CROSS JOIN p$tag${j}c$i c) WHERE rn = 1),
           |p$tag${j}m$i AS (SELECT cell, p.pos AS pos,
           |    list_reduce(list(semb[p.pos] ORDER BY vec_id), (a, b) -> a + b) / COUNT(*) AS mn
           |  FROM p$tag${j}a$i CROSS JOIN (SELECT unnest(range(1, ${subDims + 1})) AS pos) p
           |  GROUP BY cell, p.pos),
           |p$tag${j}n$i AS (SELECT cell, list(mn ORDER BY pos) AS cemb FROM p$tag${j}m$i GROUP BY cell),
           |p$tag${j}c${i + 1} AS (SELECT p.cell, COALESCE(nc.cemb, p.cemb) AS cemb
           |  FROM p$tag${j}c$i p LEFT JOIN p$tag${j}n$i nc ON p.cell = nc.cell)""".stripMargin
      }
      val code =
        s"""p$tag${j}code AS (SELECT vec_id, CAST($j AS INTEGER) AS sub, cell AS code FROM (
           |  SELECT s.vec_id, c.cell,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY ${l2("s.semb", "c.cemb")}, c.cell) AS rn
           |  FROM s$tag$j s CROSS JOIN p$tag${j}c$iters c) WHERE rn = 1)""".stripMargin
      (seed +: rounds :+ code).mkString(",\n")
    }
    val codes = (0 until m).map(j => s"SELECT vec_id, sub, code FROM p$tag${j}code")
      .mkString("\n  UNION ALL ")
    e + (subs :+ s"codes$tag AS (\n  $codes)").mkString(",\n")
  }

  /** Mirrors [[graft.operators.Pq.opqGain]] end-to-end: the int8
    * diagonal variances (the proven quantize chain), the total
    * variance ranking, the snake position map, the permuted
    * embedding relation, BOTH deterministic PQ training chains
    * ([[pqCtes]] twice — the identity layout untagged, the permuted
    * layout under tag `o`), per-vector quantization errors as
    * subspace-ordered folds of per-subspace MIN distances, and the
    * win/loss counting. */
  def opqGainSql(m: Int = 8, subDims: Int = 8, ksub: Int = 16,
                 iters: Int = 2, dims: Int = 64): String = {
    val l2 = l2sqExpr(subDims) _
    def qerrCtes(tag: String): String = {
      val per = (0 until m).map { j =>
        s"""qe$tag$j AS (SELECT s.vec_id, CAST($j AS INTEGER) AS sub,
           |    MIN(${l2("s.semb", "c.cemb")}) AS d2
           |  FROM s$tag$j s CROSS JOIN p$tag${j}c$iters c GROUP BY s.vec_id)""".stripMargin
      }.mkString(",\n")
      val un = (0 until m).map(j => s"SELECT vec_id, sub, d2 FROM qe$tag$j")
        .mkString("\n  UNION ALL ")
      s"""$per,
         |qerr$tag AS (SELECT vec_id,
         |    list_reduce(list(d2 ORDER BY sub), (a, b) -> a + b) AS qerr
         |  FROM (
         |  $un) GROUP BY vec_id)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id,
       |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |qm AS (SELECT vec_id, emb,
       |       list_max(list_transform(emb, x -> abs(x))) AS ma FROM e),
       |qz AS (SELECT vec_id, CASE WHEN ma = 0 THEN emb
       |         ELSE list_transform(emb, x -> floor(x * 127.0 / ma + 0.5)) END AS q
       |       FROM qm),
       |dv AS (SELECT CAST(i AS INT) AS dim, q[CAST(i AS INT)] AS x
       |       FROM qz, UNNEST(range(1, ${dims + 1})) AS t(i)),
       |vr AS (SELECT dim,
       |    (CAST(SUM(CAST(x * x AS BIGINT)) AS DOUBLE)
       |      - CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE)
       |        * CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE) / COUNT(*)) / COUNT(*) AS v
       |  FROM dv GROUP BY 1),
       |rk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1 AS r FROM vr),
       |pd AS (SELECT CASE WHEN (r // $m) % 2 = 0 THEN r % $m
       |         ELSE ${m - 1} - (r % $m) END * $subDims + (r // $m) + 1 AS pos, dim
       |       FROM rk),
       |pe AS (SELECT e.vec_id, list(e.emb[pd.dim] ORDER BY pd.pos) AS emb
       |       FROM e, pd GROUP BY e.vec_id),
       |${pqCtes(m, subDims, ksub, iters, withE = false, src = "e")},
       |${pqCtes(m, subDims, ksub, iters, withE = false, src = "pe", tag = "o")},
       |${qerrCtes("")},
       |${qerrCtes("o")},
       |agg AS (SELECT COUNT(*) AS docs,
       |    SUM(CASE WHEN o.qerr < q.qerr THEN 1 ELSE 0 END) AS improved,
       |    SUM(CASE WHEN o.qerr > q.qerr THEN 1 ELSE 0 END) AS regressed,
       |    SUM(CASE WHEN o.qerr = q.qerr THEN 1 ELSE 0 END) AS tied
       |  FROM qerr q JOIN qerro o USING (vec_id))
       |SELECT CAST(docs AS BIGINT) AS docs,
       |  CAST(improved AS BIGINT) AS improved_docs,
       |  CAST(regressed AS BIGINT) AS regressed_docs,
       |  CAST(tied AS BIGINT) AS tied_docs,
       |  CAST(improved AS DOUBLE) / docs AS improved_frac,
       |  improved > regressed AS opq_wins
       |FROM agg""".stripMargin
  }

  /** Mirrors [[graft.operators.Pq.pqCodes]] end-to-end. */
  def pqCodesSql(m: Int = 8, subDims: Int = 8, ksub: Int = 16,
                 iters: Int = 2): String =
    s"""WITH ${pqCtes(m, subDims, ksub, iters)}
       |SELECT vec_id, sub, code FROM codes""".stripMargin

  /** The shared ADC query chain: codes rolled to per-vector arrays,
    * per-query per-subspace distance tables `dt`, and the
    * subspace-ordered fold `adist` over a candidate set named
    * `cand(query_id, vec_id)`. The exact-cosine re-rank mirrors
    * [[graft.operators.Ann.topK]]'s PQ re-rank. */
  private def adcQueryCtes(m: Int, subDims: Int, iters: Int,
                           numQueries: Int, adcCand: Int, topK: Int,
                           dims: Int): String = {
    val l2 = l2sqExpr(subDims) _
    val dot = dotExpr(dims) _
    val dt = (0 until m).map { j =>
      s"""SELECT q.vec_id AS query_id, CAST($j AS INTEGER) AS sub, c.cell,
         |    ${l2("q.semb", "c.cemb")} AS d2
         |  FROM s$j q CROSS JOIN p${j}c$iters c WHERE q.vec_id < $numQueries""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""ca AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id),
       |dt AS (
       |  $dt),
       |adist AS (
       |  SELECT d.query_id, c.vec_id,
       |    list_reduce(list(d.d2 ORDER BY d.sub), (a, b) -> a + b) AS adist
       |  FROM cand c
       |  JOIN ca ON ca.vec_id = c.vec_id
       |  JOIN dt d ON d.query_id = c.query_id AND d.cell = ca.codes[d.sub + 1]
       |  GROUP BY d.query_id, c.vec_id),
       |acand AS (SELECT query_id, vec_id, adist FROM (
       |  SELECT query_id, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS arn
       |  FROM adist) WHERE arn <= $adcCand),
       |nv AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM e),
       |rr AS (SELECT a.query_id, a.vec_id, a.adist,
       |    ${dot("q.emb", "v.emb")} / (q.nrm * v.nrm) AS cos
       |  FROM acand a
       |  JOIN nv v ON a.vec_id = v.vec_id
       |  JOIN nv q ON q.vec_id = a.query_id),
       |pqtop AS (SELECT query_id, vec_id, adist, cos, rank FROM (
       |  SELECT query_id, vec_id, adist, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM rr) WHERE rank <= $topK)""".stripMargin
  }

  /** Mirrors [[graft.operators.Ann.topK]] (flat × PQ, deterministic training)
    * end-to-end: replayed codebooks and codes, a flat ADC scan as
    * the candidate set (every coded vector, self excluded), then
    * the exact-cosine re-rank of the top-`adcCand` survivors. */
  def pqQuerySql(m: Int = 8, subDims: Int = 8, ksub: Int = 16,
                 iters: Int = 2, numQueries: Int = 5, adcCand: Int = 64,
                 topK: Int = 3, dims: Int = 64): String =
    s"""WITH ${pqCtes(m, subDims, ksub, iters)},
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM e WHERE vec_id < $numQueries),
       |cand AS (SELECT qq.query_id, v.vec_id FROM e v CROSS JOIN qq
       |         WHERE v.vec_id <> qq.query_id),
       |${adcQueryCtes(m, subDims, iters, numQueries, adcCand, topK, dims)}
       |SELECT query_id, vec_id, adist, cos AS cosine, rank FROM pqtop""".stripMargin

  /** Mirrors `Ann.recallAtK(flat × PQ topK, flat × float topK)` as a
    * FULL replay — unlike `ann_lsh_recall`, PQ at the registered
    * parameters does NOT reach full recall (quantization loses real
    * neighbors), so the oracle cannot pin `hits = exact_k` from the
    * data side; instead BOTH chains are replayed (the proven pq CTEs
    * plus the brute-force ranking over the `nv` norms relation the
    * ADC chain already builds) and the recall integers are computed
    * the same way on each engine. */
  def pqRecallSql(m: Int = 8, subDims: Int = 8, ksub: Int = 16,
                  iters: Int = 2, numQueries: Int = 5, adcCand: Int = 64,
                  topK: Int = 3, dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    s"""WITH ${pqCtes(m, subDims, ksub, iters)},
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM e WHERE vec_id < $numQueries),
       |cand AS (SELECT qq.query_id, v.vec_id FROM e v CROSS JOIN qq
       |         WHERE v.vec_id <> qq.query_id),
       |${adcQueryCtes(m, subDims, iters, numQueries, adcCand, topK, dims)},
       |ex AS (SELECT q.vec_id AS query_id, v.vec_id,
       |    ${dot("q.emb", "v.emb")} / (q.nrm * v.nrm) AS cos
       |  FROM nv v CROSS JOIN nv q
       |  WHERE q.vec_id < $numQueries AND v.vec_id <> q.vec_id),
       |exr AS (SELECT query_id, vec_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM ex),
       |extop AS (SELECT query_id, vec_id, cos FROM exr WHERE rank <= $topK)
       |SELECT x.query_id, CAST(COUNT(*) AS BIGINT) AS exact_k,
       |  CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  MIN(x.cos) AS kth_cosine
       |FROM extop x LEFT JOIN pqtop p
       |  ON p.query_id = x.query_id AND p.vec_id = x.vec_id
       |GROUP BY x.query_id""".stripMargin
  }

  /** Mirrors [[graft.operators.Ann.topK]] (trained IVF × PQ): the trained COSINE
    * coarse quantizer ([[kmeansCentroidsCtes]], identical to
    * `ann_ivf_trained`'s) prunes candidates to each query's
    * `nprobe` cells, and the PQ chain ADC-ranks only those — the
    * composed two-level replay. */
  def ivfPqQuerySql(kCoarse: Int = 64, coarseIters: Int = 3,
                    nprobe: Int = 4, m: Int = 8, subDims: Int = 8,
                    ksub: Int = 16, iters: Int = 2, numQueries: Int = 5,
                    adcCand: Int = 64, topK: Int = 3,
                    dims: Int = 64): String =
    s"""WITH ${kmeansCentroidsCtes(kCoarse, coarseIters, dims)},
       |${trainedAssignmentCtes(coarseIters, dims)},
       |${pqCtes(m, subDims, ksub, iters, withE = false)},
       |qp AS (SELECT vec_id AS query_id, cell
       |       FROM scored WHERE vec_id < $numQueries AND rn <= $nprobe),
       |cand AS (SELECT qp.query_id, a.vec_id FROM fasg a
       |         JOIN qp ON a.cell = qp.cell WHERE a.vec_id <> qp.query_id),
       |${adcQueryCtes(m, subDims, iters, numQueries, adcCand, topK, dims)}
       |SELECT query_id, vec_id, adist, cos AS cosine, rank FROM pqtop""".stripMargin

  /** Mirrors [[graft.operators.Ann.topK]] (trained IVF × residual PQ) — FAISS
    * IndexIVFPQ with by_residual=true: the coarse chain assigns
    * cells, a residual projection re-roots the PQ chain on
    * `x − c(cell)` (`pqCtes(src = "res")`), the query side computes a
    * residual PER PROBED CELL, and ADC joins on (query, cell, sub,
    * code). Per-element subtraction and every fold replay exactly. */
  def ivfPqResidualQuerySql(kCoarse: Int = 64, coarseIters: Int = 3,
                            nprobe: Int = 4, m: Int = 8, subDims: Int = 8,
                            ksub: Int = 16, iters: Int = 2, numQueries: Int = 5,
                            adcCand: Int = 64, topK: Int = 3,
                            dims: Int = 64): String = {
    val l2 = l2sqExpr(subDims) _
    val dot = dotExpr(dims) _
    val dt = (0 until m).map { j =>
      val lo = j * subDims + 1
      val hi = (j + 1) * subDims
      s"""SELECT qr.query_id, qr.cell, CAST($j AS INTEGER) AS sub, cb.cell AS code,
         |    ${l2(s"(qr.remb[$lo:$hi])", "cb.cemb")} AS d2
         |  FROM qres qr CROSS JOIN p${j}c$iters cb""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${kmeansCentroidsCtes(kCoarse, coarseIters, dims)},
       |${trainedAssignmentCtes(coarseIters, dims)},
       |res AS MATERIALIZED (SELECT a.vec_id,
       |    list_transform(range(1, ${dims + 1}), i -> a.emb[i] - c.cemb[i]) AS emb
       |  FROM fasg a JOIN cents$coarseIters c ON a.cell = c.cell),
       |${pqCtes(m, subDims, ksub, iters, withE = false, src = "res")},
       |qp AS (SELECT vec_id AS query_id, qemb, cell FROM (
       |  SELECT vec_id, emb AS qemb, cell, rn FROM scored WHERE vec_id < $numQueries) t
       |  WHERE rn <= $nprobe),
       |qres AS (SELECT q.query_id, q.cell,
       |    list_transform(range(1, ${dims + 1}), i -> q.qemb[i] - c.cemb[i]) AS remb
       |  FROM qp q JOIN cents$coarseIters c ON q.cell = c.cell),
       |dt AS (
       |  $dt),
       |ca AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id),
       |cand AS (SELECT qp.query_id, a.vec_id, a.cell FROM fasg a
       |         JOIN qp ON a.cell = qp.cell WHERE a.vec_id <> qp.query_id),
       |adist AS (
       |  SELECT c.query_id, c.vec_id,
       |    list_reduce(list(d.d2 ORDER BY d.sub), (x, y) -> x + y) AS adist
       |  FROM cand c
       |  JOIN ca ON ca.vec_id = c.vec_id
       |  JOIN dt d ON d.query_id = c.query_id AND d.cell = c.cell
       |           AND d.code = ca.codes[d.sub + 1]
       |  GROUP BY c.query_id, c.vec_id),
       |acand AS (SELECT query_id, vec_id, adist FROM (
       |  SELECT query_id, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS arn
       |  FROM adist) WHERE arn <= $adcCand),
       |rr AS (SELECT a.query_id, a.vec_id, a.adist,
       |    ${dot("q.emb", "v.emb")} / (q.nrm * v.nrm) AS cos
       |  FROM acand a
       |  JOIN n v ON a.vec_id = v.vec_id
       |  JOIN n q ON q.vec_id = a.query_id)
       |SELECT query_id, vec_id, adist, cos AS cosine, rank FROM (
       |  SELECT query_id, vec_id, adist, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM rr) WHERE rank <= $topK""".stripMargin
  }

  /** Mirrors [[graft.operators.Corpus.bpeTrain]] round for round:
    * each round's winner (max count, lexicographic ties) is DERIVED
    * from the data like the k-means oracle's centroids, and the merge
    * is applied with the islands/even-offset window form of greedy
    * non-overlapping left-to-right matching (provably equal to the
    * engine's fold — adjacent matches exist only when lhs = rhs, and
    * both rules then merge alternate positions). Pure integer/string
    * arithmetic throughout — the one oracle with no doubles at all. */
  def bpeTrainSql(merges: Int = 8): String = {
    val unioned = (0 until merges).map { r =>
      s"SELECT CAST($r AS INTEGER) AS merge_rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM win$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeTrainCtes(merges)}
       |$unioned""".stripMargin
  }

  /** Mirrors [[graft.operators.Corpus.bpeEncodeStats]]: the encoder
    * is "replay the merges", so the training chain's final `seg`
    * relation already holds every vocabulary word's encoding — token
    * counts read off it, doc stats from one exploded-words join
    * (words under 2 chars are outside the vocab rollup and count 1
    * token, the LEFT JOIN + COALESCE). */
  def bpeEncodeSql(merges: Int = 8): String =
    s"""WITH ${bpeTrainCtes(merges)},
       |wl AS (SELECT word, CAST(len(seg) AS BIGINT) AS toks FROM seg$merges),
       |dw AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
       |dwf AS (SELECT doc_id, word FROM dw WHERE length(word) >= 1),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |          CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |          CAST(SUM(COALESCE(toks, 1)) AS BIGINT) AS n_bpe_tokens
       |        FROM dwf LEFT JOIN wl USING (word) GROUP BY 1)
       |SELECT doc_id, n_words, n_chars, n_bpe_tokens,
       |  CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE) AS chars_per_token
       |FROM agg""".stripMargin

  /** Mirrors [[graft.operators.Corpus.packSequencesBpe]]: the
    * [[bpeEncodeSql]] encoder chain reduced to per-doc BPE token
    * counts, then [[graft.SparkEntry]]'s pack_sequences window form
    * re-rooted on it (same `//` integer division, same
    * 1-PRECEDING running sum). */
  def packSequencesBpeSql(merges: Int = 8, windowTokens: Long = 2048L,
                          domains: Int = 256): String =
    s"""WITH ${bpeTrainCtes(merges)},
       |wl AS (SELECT word, CAST(len(seg) AS BIGINT) AS toks FROM seg$merges),
       |dw AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
       |dwf AS (SELECT doc_id, word FROM dw WHERE length(word) >= 1),
       |enc AS (SELECT doc_id, CAST(SUM(COALESCE(toks, 1)) AS BIGINT) AS n_tokens
       |        FROM dwf LEFT JOIN wl USING (word) GROUP BY 1),
       |t AS (SELECT doc_id, doc_id % $domains AS domain, n_tokens FROM enc)
       |SELECT doc_id, domain, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $windowTokens AS BIGINT) AS bin
       |FROM t""".stripMargin

  private def bpeTrainCtes(merges: Int): String = {
    val base =
      """bw AS (SELECT word, COUNT(*) AS freq FROM
        |  (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY 1),
        |seg0 AS (SELECT word, freq,
        |  list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS seg
        |  FROM bw)""".stripMargin
    val rounds = (0 until merges).map { r =>
      s"""pc$r AS (SELECT seg[i] AS lhs, seg[i + 1] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM seg$r, UNNEST(range(1, len(seg))) AS t(i) GROUP BY 1, 2),
         |win$r AS (SELECT lhs, rhs, cnt FROM pc$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |pos$r AS (SELECT word, freq, i, seg[i] AS sym, w.lhs AS wl, w.rhs AS wr,
         |    CASE WHEN seg[i] = w.lhs AND seg[i + 1] = w.rhs THEN 1 ELSE 0 END AS m
         |  FROM seg$r, win$r w, UNNEST(range(1, len(seg) + 1)) AS t(i)),
         |isl$r AS (SELECT *, CASE WHEN m = 1
         |    THEN i - ROW_NUMBER() OVER (PARTITION BY word, m ORDER BY i) END AS isl
         |  FROM pos$r),
         |mrg$r AS (SELECT *, CASE WHEN m = 1
         |    AND (i - MIN(i) OVER (PARTITION BY word, isl)) % 2 = 0
         |    THEN 1 ELSE 0 END AS do_merge
         |  FROM isl$r),
         |emit$r AS (SELECT word, freq, i,
         |    CASE WHEN do_merge = 1 THEN wl || wr
         |         WHEN COALESCE(LAG(do_merge) OVER (PARTITION BY word ORDER BY i), 0) = 0
         |           THEN sym END AS nsym
         |  FROM mrg$r),
         |seg${r + 1} AS (SELECT word, freq, list(nsym ORDER BY i) AS seg
         |  FROM emit$r WHERE nsym IS NOT NULL GROUP BY word, freq)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** Mirrors [[graft.operators.Ann.semanticProbe]] — the daily-ingest
    * semantic arm as a value-checked query: the 4-hex md5 split carves
    * the delta out of the embeddings table, training runs on the
    * CORPUS ONLY with the rank seed (sparse ids after a split — the
    * production situation), `fasg` doubles as the corpus cell index,
    * and the delta probes it with the same argmin + within-cell
    * cosine the batch probe runs at `nprobe = 1`. */
  def semanticProbeSql(k: Int = 64, iters: Int = 3, threshold: Double = 0.35,
                       deltaHex: String = "0ccd", dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    val split = s"substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)"
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims,
          where = Some(s"$split >= '$deltaHex'"), rankSeed = true)},
       |${trainedAssignmentCtes(iters, dims)},
       |de AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |       FROM embeddings WHERE $split < '$deltaHex'),
       |dn AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM de),
       |dasg AS (SELECT vec_id, emb, nrm, cell FROM (
       |  SELECT dn.vec_id, dn.emb, dn.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY dn.vec_id ORDER BY
       |      (${dot("dn.emb", "c.cemb")} / (dn.nrm * c.cnrm)) DESC, c.cell) AS rn
       |  FROM dn CROSS JOIN cents$iters c) WHERE rn = 1)
       |SELECT delta_doc, corpus_doc, cos AS cosine FROM (
       |  SELECT d.vec_id AS delta_doc, a.vec_id AS corpus_doc,
       |    ${dot("d.emb", "a.emb")} / (d.nrm * a.nrm) AS cos
       |  FROM dasg d JOIN fasg a ON d.cell = a.cell
       |  WHERE a.vec_id <> d.vec_id) t
       |WHERE cos >= $threshold""".stripMargin
  }

  /** Mirrors [[graft.operators.Pq.semanticProbePq]]: the probe's
    * coarse chain (corpus-only, rank-seeded — identical to
    * [[semanticProbeSql]]), rank-seeded PQ codebooks + codes on the
    * corpus (`pqCtes(rankSeed = true)`), one ADC table per delta
    * vector, and the law-of-cosines recovery of the approximate
    * cosine from the ADC distance and the stored exact norms. */
  def semanticProbePqSql(k: Int = 64, iters: Int = 3, threshold: Double = 0.35,
                         deltaHex: String = "0ccd", m: Int = 8,
                         subDims: Int = 8, ksub: Int = 16, pqIters: Int = 2,
                         dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    val l2 = l2sqExpr(subDims) _
    val split = s"substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)"
    val dt = (0 until m).map { j =>
      val lo = j * subDims + 1
      val hi = (j + 1) * subDims
      s"""SELECT d.vec_id AS query_id, CAST($j AS INTEGER) AS sub, cb.cell,
         |    ${l2(s"(d.emb[$lo:$hi])", "cb.cemb")} AS d2
         |  FROM dn d CROSS JOIN p${j}c$pqIters cb""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims,
          where = Some(s"$split >= '$deltaHex'"), rankSeed = true)},
       |${trainedAssignmentCtes(iters, dims)},
       |${pqCtes(m, subDims, ksub, pqIters, withE = false, rankSeed = true)},
       |ca AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id),
       |de AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |       FROM embeddings WHERE $split < '$deltaHex'),
       |dn AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM de),
       |dasg AS (SELECT vec_id, nrm, cell FROM (
       |  SELECT dn.vec_id, dn.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY dn.vec_id ORDER BY
       |      (${dot("dn.emb", "c.cemb")} / (dn.nrm * c.cnrm)) DESC, c.cell) AS rn
       |  FROM dn CROSS JOIN cents$iters c) WHERE rn = 1),
       |dt AS (
       |  $dt),
       |cnd AS (SELECT d.vec_id AS query_id, a.vec_id, d.nrm AS qn, a.nrm AS xn
       |        FROM dasg d JOIN fasg a ON d.cell = a.cell
       |        WHERE a.vec_id <> d.vec_id),
       |ad AS (SELECT c.query_id, c.vec_id, c.qn, c.xn,
       |    list_reduce(list(d.d2 ORDER BY d.sub), (x, y) -> x + y) AS adist
       |  FROM cnd c
       |  JOIN ca ON ca.vec_id = c.vec_id
       |  JOIN dt d ON d.query_id = c.query_id AND d.cell = ca.codes[d.sub + 1]
       |  GROUP BY c.query_id, c.vec_id, c.qn, c.xn)
       |SELECT query_id AS delta_doc, vec_id AS corpus_doc, approx_cos FROM (
       |  SELECT query_id, vec_id,
       |    (qn * qn + xn * xn - adist) / (CAST(2 AS DOUBLE) * qn * xn) AS approx_cos
       |  FROM ad) t
       |WHERE approx_cos >= $threshold""".stripMargin
  }

  /** Mirrors the PERSISTED probe
    * ([[graft.operators.Pq.writeSemanticIndexPq]] →
    * [[graft.operators.Pq.incrementalSemanticMatchesPq]] at
    * margin 0): [[semanticProbePqSql]]'s chain plus the per-corpus-
    * doc reconstruction error (per-subspace MIN distance to the
    * final codebook, summed in subspace order) and the CERTIFIED
    * candidate filter — approx_cos plus the triangle-inequality
    * slack e·(2·√adist + e)/(2‖q‖‖x‖) must clear the threshold. */
  def semanticProbePqPersistedSql(k: Int = 64, iters: Int = 3,
                                  threshold: Double = 0.35,
                                  deltaHex: String = "0ccd", m: Int = 8,
                                  subDims: Int = 8, ksub: Int = 16,
                                  pqIters: Int = 2, dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    val l2 = l2sqExpr(subDims) _
    val split = s"substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)"
    val dt = (0 until m).map { j =>
      val lo = j * subDims + 1
      val hi = (j + 1) * subDims
      s"""SELECT d.vec_id AS query_id, CAST($j AS INTEGER) AS sub, cb.cell,
         |    ${l2(s"(d.emb[$lo:$hi])", "cb.cemb")} AS d2
         |  FROM dn d CROSS JOIN p${j}c$pqIters cb""".stripMargin
    }.mkString("\n  UNION ALL ")
    val qe = (0 until m).map { j =>
      s"""qe$j AS (SELECT s.vec_id, CAST($j AS INTEGER) AS sub,
         |    MIN(${l2("s.semb", "c.cemb")}) AS d2
         |  FROM s$j s CROSS JOIN p${j}c$pqIters c GROUP BY s.vec_id)""".stripMargin
    }.mkString(",\n")
    val qeUnion = (0 until m).map(j => s"SELECT vec_id, sub, d2 FROM qe$j")
      .mkString("\n  UNION ALL ")
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims,
          where = Some(s"$split >= '$deltaHex'"), rankSeed = true)},
       |${trainedAssignmentCtes(iters, dims)},
       |${pqCtes(m, subDims, ksub, pqIters, withE = false, rankSeed = true)},
       |ca AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id),
       |$qe,
       |qerr AS (SELECT vec_id,
       |    list_reduce(list(d2 ORDER BY sub), (a, b) -> a + b) AS qerr
       |  FROM (
       |  $qeUnion) GROUP BY vec_id),
       |de AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |       FROM embeddings WHERE $split < '$deltaHex'),
       |dn AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM de),
       |dasg AS (SELECT vec_id, nrm, cell FROM (
       |  SELECT dn.vec_id, dn.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY dn.vec_id ORDER BY
       |      (${dot("dn.emb", "c.cemb")} / (dn.nrm * c.cnrm)) DESC, c.cell) AS rn
       |  FROM dn CROSS JOIN cents$iters c) WHERE rn = 1),
       |dt AS (
       |  $dt),
       |cnd AS (SELECT d.vec_id AS query_id, a.vec_id, d.nrm AS qn, a.nrm AS xn
       |        FROM dasg d JOIN fasg a ON d.cell = a.cell
       |        WHERE a.vec_id <> d.vec_id),
       |ad AS (SELECT c.query_id, c.vec_id, c.qn, c.xn,
       |    list_reduce(list(d.d2 ORDER BY d.sub), (x, y) -> x + y) AS adist
       |  FROM cnd c
       |  JOIN ca ON ca.vec_id = c.vec_id
       |  JOIN dt d ON d.query_id = c.query_id AND d.cell = ca.codes[d.sub + 1]
       |  GROUP BY c.query_id, c.vec_id, c.qn, c.xn)
       |SELECT query_id AS delta_doc, vec_id AS corpus_doc, approx_cos FROM (
       |  SELECT a.query_id, a.vec_id,
       |    (a.qn * a.qn + a.xn * a.xn - a.adist)
       |      / (CAST(2 AS DOUBLE) * a.qn * a.xn) AS approx_cos,
       |    (a.qn * a.qn + a.xn * a.xn - a.adist)
       |      / (CAST(2 AS DOUBLE) * a.qn * a.xn)
       |      + (sqrt(e.qerr) * (CAST(2 AS DOUBLE) * sqrt(a.adist) + sqrt(e.qerr)))
       |        / (CAST(2 AS DOUBLE) * a.qn * a.xn) AS cos_ub
       |  FROM ad a JOIN qerr e ON a.vec_id = e.vec_id) t
       |WHERE cos_ub >= $threshold""".stripMargin
  }

  /** Mirrors the persisted probe at `tight = true`
    * ([[graft.operators.Pq.incrementalSemanticMatchesPq]]'s
    * per-subspace certified bound): instead of the scalar-qerr
    * triangle slack, the true-distance floor
    * d² ≥ Σ_j max(0, d_j − √e_j)² is folded per subspace (each d_j
    * from the SAME ADC lookup, each e_j the stored per-subspace
    * reconstruction error), and the candidate filter keeps a pair
    * when (‖q‖² + ‖x‖² − floor) / (2‖q‖‖x‖) clears the threshold.
    * Emitted approx_cos is still the plain ADC recovery — identical
    * to [[semanticProbePqPersistedSql]]'s on shared pairs. */
  def semanticProbePqTightSql(k: Int = 64, iters: Int = 3,
                              threshold: Double = 0.35,
                              deltaHex: String = "0ccd", m: Int = 8,
                              subDims: Int = 8, ksub: Int = 16,
                              pqIters: Int = 2, dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    val l2 = l2sqExpr(subDims) _
    val split = s"substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)"
    val dt = (0 until m).map { j =>
      val lo = j * subDims + 1
      val hi = (j + 1) * subDims
      s"""SELECT d.vec_id AS query_id, CAST($j AS INTEGER) AS sub, cb.cell,
         |    ${l2(s"(d.emb[$lo:$hi])", "cb.cemb")} AS d2
         |  FROM dn d CROSS JOIN p${j}c$pqIters cb""".stripMargin
    }.mkString("\n  UNION ALL ")
    val qe = (0 until m).map { j =>
      s"""qe$j AS (SELECT s.vec_id, CAST($j AS INTEGER) AS sub,
         |    MIN(${l2("s.semb", "c.cemb")}) AS d2
         |  FROM s$j s CROSS JOIN p${j}c$pqIters c GROUP BY s.vec_id)""".stripMargin
    }.mkString(",\n")
    val qeUnion = (0 until m).map(j => s"SELECT vec_id, sub, d2 FROM qe$j")
      .mkString("\n  UNION ALL ")
    // per-subspace floor term: max(0, d_j − √e_j)² with g*g (not
    // pow) so the arithmetic matches Spark's `s * s` bit-for-bit
    val floorTerm =
      s"""greatest(CAST(0 AS DOUBLE), sqrt(d.d2) - sqrt(e.d2))
         |        * greatest(CAST(0 AS DOUBLE), sqrt(d.d2) - sqrt(e.d2))""".stripMargin
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims,
          where = Some(s"$split >= '$deltaHex'"), rankSeed = true)},
       |${trainedAssignmentCtes(iters, dims)},
       |${pqCtes(m, subDims, ksub, pqIters, withE = false, rankSeed = true)},
       |ca AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id),
       |$qe,
       |qes AS (
       |  $qeUnion),
       |de AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |       FROM embeddings WHERE $split < '$deltaHex'),
       |dn AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM de),
       |dasg AS (SELECT vec_id, nrm, cell FROM (
       |  SELECT dn.vec_id, dn.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY dn.vec_id ORDER BY
       |      (${dot("dn.emb", "c.cemb")} / (dn.nrm * c.cnrm)) DESC, c.cell) AS rn
       |  FROM dn CROSS JOIN cents$iters c) WHERE rn = 1),
       |dt AS (
       |  $dt),
       |cnd AS (SELECT d.vec_id AS query_id, a.vec_id, d.nrm AS qn, a.nrm AS xn
       |        FROM dasg d JOIN fasg a ON d.cell = a.cell
       |        WHERE a.vec_id <> d.vec_id),
       |ad AS (SELECT c.query_id, c.vec_id, c.qn, c.xn,
       |    list_reduce(list(d.d2 ORDER BY d.sub), (x, y) -> x + y) AS adist,
       |    list_reduce(list($floorTerm
       |      ORDER BY d.sub), (x, y) -> x + y) AS dlb
       |  FROM cnd c
       |  JOIN ca ON ca.vec_id = c.vec_id
       |  JOIN dt d ON d.query_id = c.query_id AND d.cell = ca.codes[d.sub + 1]
       |  JOIN qes e ON e.vec_id = c.vec_id AND e.sub = d.sub
       |  GROUP BY c.query_id, c.vec_id, c.qn, c.xn)
       |SELECT query_id AS delta_doc, vec_id AS corpus_doc, approx_cos FROM (
       |  SELECT query_id, vec_id,
       |    (qn * qn + xn * xn - adist) / (CAST(2 AS DOUBLE) * qn * xn) AS approx_cos,
       |    (qn * qn + xn * xn - dlb) / (CAST(2 AS DOUBLE) * qn * xn) AS cos_ub
       |  FROM ad) t
       |WHERE cos_ub >= $threshold""".stripMargin
  }

  /** Mirrors [[graft.operators.Ann.semanticDecontam]] with a TRAINED
    * deterministic quantizer: replayed training, then the green
    * `decontam_semantic` oracle's cross-set (train×holdout) logic
    * against `cents$iters`. */
  def semanticDecontamTrainedSql(k: Int = 64, iters: Int = 3, threshold: Double = 0.35,
                                 holdoutHex: String = "0ccd", dims: Int = 64): String = {
    val dot = dotExpr(dims) _
    s"""WITH ${kmeansCentroidsCtes(k, iters, dims)},
       |${trainedAssignmentCtes(iters, dims)},
       |h AS (SELECT * FROM fasg WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '$holdoutHex'),
       |tr AS (SELECT * FROM fasg WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) >= '$holdoutHex'),
       |m AS (SELECT tr.vec_id AS vec_id, h.vec_id AS h_id,
       |        ${dot("tr.emb", "h.emb")} / (tr.nrm * h.nrm) AS cos
       |      FROM tr JOIN h ON tr.cell = h.cell),
       |f AS (SELECT * FROM m WHERE cos >= $threshold)
       |SELECT vec_id, h_id AS holdout_id, cos AS cosine, matches FROM (
       |  SELECT vec_id, h_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, h_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY vec_id) AS matches
       |  FROM f) t WHERE rn = 1""".stripMargin
  }

  /** Mirrors [[graft.operators.Enrichment.gold]] as a CTE chain
    * (silver → gold). Use as `WITH $goldCtes SELECT ... FROM gold`. */
  def goldCtes: String =
    s"""silver AS ($silverSql),
       |gold AS (
       |  SELECT
       |    id, doc_id, content, content_length, lang, topic,
       |    CASE WHEN content_length < 500 THEN 'Short'
       |         WHEN content_length < 1500 THEN 'Medium'
       |         WHEN content_length < 3000 THEN 'Long'
       |         ELSE 'Very Long' END AS content_category,
       |    ${topicCategorySql("topic")} AS topic_category,
       |    CAST(len(string_split(content, ' ')) AS BIGINT) AS word_count,
       |    CAST(len(string_split_regex(content, '\\.')) AS BIGINT) AS sentence_count,
       |    content_length > 200 AS has_substantial_content,
       |    concat_ws(' ', content, COALESCE(topic, '')) AS search_text
       |  FROM silver
       |  WHERE content IS NOT NULL AND content_length > 50
       |)""".stripMargin
}
