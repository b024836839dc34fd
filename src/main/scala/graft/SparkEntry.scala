package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * One `queries` entry per operator (SURVEY.md §2 Table B + the
  * training-pipeline ops); `oracleSql` holds the DuckDB-equivalent SQL
  * with identical column names/types. Every query is oracled — the
  * byte-level flagship via its partition-independent projection
  * (raw_bytes + the pinned bound_ok flag); codec internals are
  * additionally covered by the ScalaTest suites. */
object SparkEntry {

  /** Flagship on sf0.001: the codec engine applied to `documents` —
    * selector choice + realized compression per column. */
  def entry(spark: SparkSession): DataFrame =
    encodeStatsDetail(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // codec-engine stats / oracles
    "q_frame_width" -> (qFrameWidth(_, _)),
    "q_rle_runs" -> (qRleRuns(_, _)),
    "q_runlen_hist" -> (qRunlenHist(_, _)),
    "q_dict_stats" -> (qDictStats(_, _)),
    "q_codec_select" -> (qCodecSelect(_, _)),
    "q_for_frames" -> (qForFrames(_, _)),
    "q_encode_stats" -> (qEncodeStats(_, _)),
    // relational surface
    "q_scan_project" -> (qScanProject(_, _)),
    "q_join_segments" -> (qJoinSegments(_, _)),
    "q_semi_join" -> (qSemiJoin(_, _)),
    "q_anti_join" -> (qAntiJoin(_, _)),
    "q_salted_agg" -> (qSaltedAgg(_, _)),
    "q_topk_sources" -> (qTopkSources(_, _)),
    "q_topn_group" -> (qTopnGroup(_, _)),
    "q_set_pending" -> (qSetPending(_, _)),
    "q_window_running" -> (qWindowRunning(_, _)),
    "q_ntile_ranges" -> (qNtileRanges(_, _)),
    "q_agg_rollup" -> (qAggRollup(_, _)),
    "q_json_roundtrip" -> (qJsonRoundtrip(_, _)),
    // training-data pipeline ops
    "q_dedup_exact" -> (qDedupExact(_, _)),
    "q_dedup_clusters" -> (qDedupClusters(_, _)),
    "q_dedup_apply" -> (qDedupApply(_, _)),
    "q_percentiles" -> (qPercentiles(_, _)),
    "q_token_count" -> (qTokenCount(_, _)),
    "q_lang_id" -> (qLangId(_, _)),
    "q_quality_score" -> (qQualityScore(_, _)),
    "q_fingerprint" -> (qFingerprint(_, _)),
    "q_minhash_lsh" -> (qMinhashLsh(_, _)),
    "q_simhash" -> (qSimhash(_, _)),
    "q_embed_topk" -> (qEmbedTopk(_, _)),
    "q_embed_ivf" -> (qEmbedIvf(_, _)),
    "q_embed_lsh_buckets" -> (qEmbedLshBuckets(_, _)),
    "q_binary_meta" -> (qBinaryMeta(_, _)),
    "q_ngram_jaccard" -> (qNgramJaccard(_, _)),
    "q_embed_neardup" -> (qEmbedNeardup(_, _)),
    "q_mm_decode" -> (qMmDecode(_, _)),
    "q_rollup_sets" -> (qRollupSets(_, _)),
    "q_sessionize" -> (qSessionize(_, _)),
    "q_asof_join" -> (qAsofJoin(_, _)),
    "q_range_pairs" -> (qRangePairs(_, _)),
    "q_cohort_retention" -> (qCohortRetention(_, _)),
    "q_funnel_steps" -> (qFunnelSteps(_, _)),
    "q_latest_event" -> (qLatestEvent(_, _)),
    "q_pivot_events" -> (qPivotEvents(_, _)),
    "q_unpivot_events" -> (qUnpivotEvents(_, _)),
    "q_bigram_pmi" -> (qBigramPmi(_, _)),
    "q_gapfill_rate" -> (qGapfillRate(_, _)),
    "q_salted_join" -> (qSaltedJoin(_, _)),
    "q_sketch_bounds" -> (qSketchBounds(_, _)),
    "q_snapshot_diff" -> (qSnapshotDiff(_, _)),
    "q_sample_stratified" -> (qSampleStratified(_, _)),
    "q_vocab_topk" -> (qVocabTopk(_, _)),
    "q_seq_pack" -> (qSeqPack(_, _)),
    "q_chunk_windows" -> (qChunkWindows(_, _)),
    "q_repetition" -> (qRepetition(_, _)),
    "q_boilerplate" -> (qBoilerplate(_, _)),
    "q_line_dedup" -> (qLineDedup(_, _)),
    "q_doc_freq" -> (qDocFreq(_, _)),
    "q_contamination" -> (qContamination(_, _)),
    "q_shuffle_shards" -> (qShuffleShards(_, _)),
    "q_norm_dedup" -> (qNormDedup(_, _)),
    "q_filter_funnel" -> (qFilterFunnel(_, _)),
    "q_top_customers" -> (qTopCustomers(_, _)),
    "q_engine_roundtrip" -> (qEngineRoundtrip(_, _)),
    "q_engine_rt_range" -> (qEngineRtRange(_, _)),
    "q_dsv2_read" -> (qDsv2Read(_, _)),
    "q_dsv2_ts_range" -> (qDsv2TsRange(_, _)),
    "q_dsv2_count" -> (qDsv2Count(_, _)),
    "q_dsv2_minmax" -> (qDsv2MinMax(_, _)),
    "q_engine_ts_range" -> (qEngineTsRange(_, _)),
    "q_dsv2_write" -> (qDsv2Write(_, _)),
    // SQL-registered codec surface (Table B UDF/UDAF row)
    "q_sql_codec" -> (qSqlCodec(_, _)))

  // ---- shared DuckDB CTE/expression twins -------------------------------
  // Each is the single oracle-side spelling of a definition the Spark side
  // also keeps in ONE place (Queries.shingleStream / minhashSig / bands4 /
  // ccLabels / TokensExpr / tokenLines / qRepetition's rep_e4). They are
  // interpolated into every oracle that uses them, so an edit to the
  // shingle stride, band count, bucket cap, tokenization, or ratio
  // arithmetic cannot drift one hand-pasted copy out of sync — the
  // "change both engines together" rule is structural, not
  // comment-enforced.

  /** 8-char shingles at stride 4 (Queries.shingleStream). The dedup
    * family aggregates min() over them, so DISTINCT is semantics-free
    * there; the jaccard/contamination family COUNTS them and needs the
    * DISTINCT variant below. */
  private val ShinglesCte =
    """sh AS (
      |  SELECT doc_id, substr(text, CAST(u AS INT), 8) AS s
      |  FROM (SELECT doc_id, text,
      |               unnest(range(1, greatest(1, length(text) - 7) + 1, 4)) AS u
      |        FROM documents))""".stripMargin

  /** Set-semantics shingles (per-doc DISTINCT) for the counting oracles. */
  private val DistinctShinglesCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(u AS INT), 8) AS s
      |  FROM (SELECT doc_id, text,
      |               unnest(range(1, greatest(1, length(text) - 7) + 1, 4)) AS u
      |        FROM documents))""".stripMargin

  /** 4 MinHash families + banding (Queries.minhashSig / bands4). */
  private val MinhashBandsCte =
    """sig AS (
      |  SELECT doc_id, min(md5('0' || s)) AS h0, min(md5('1' || s)) AS h1,
      |         min(md5('2' || s)) AS h2, min(md5('3' || s)) AS h3
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 AS bucket FROM sig
      |  UNION ALL SELECT doc_id, 1, h1 FROM sig
      |  UNION ALL SELECT doc_id, 2, h2 FROM sig
      |  UNION ALL SELECT doc_id, 3, h3 FROM sig)""".stripMargin

  /** LSH candidate pairs (2..16 bucket cap) through the recursive-CTE
    * connected-components labels — the oracle twin of Queries.ccLabels.
    * `reach` seeds EVERY doc, so isolated docs self-label. */
  private val LshLabelsCte =
    """okb AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 16),
      |mem AS (SELECT bands.doc_id, bands.band, bands.bucket FROM bands JOIN okb USING (band, bucket)),
      |pairs AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |          FROM mem a JOIN mem b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
      |reach(doc, other) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.doc, e.dst FROM reach r JOIN edges e ON r.other = e.src),
      |labels AS (SELECT doc, min(other) AS label FROM reach GROUP BY doc)""".stripMargin

  /** DuckDB twin of Queries.TokensExpr (whitespace tokens, empties
    * dropped) — the load-bearing tokenization of the corpus-op oracles. */
  private val TokensSql = "list_filter(string_split(text, ' '), x -> length(x) > 0)"

  /** Synthesized 8-token line windows over a `ts` token list column —
    * twin of Queries.tokenLines (range(n) is empty for n <= 0, matching
    * the Spark side's size(ts) > 0 guard). */
  private val TokenLinesCte =
    s"""toks AS (
      |  SELECT doc_id, source, $TokensSql AS ts
      |  FROM documents),
      |lines AS (
      |  SELECT doc_id, source, CAST(i AS BIGINT) AS line_no,
      |         array_to_string(ts[(i*8+1):(i*8+8)], ' ') AS line
      |  FROM toks, LATERAL (SELECT unnest(range(CAST(ceil(len(ts)/8.0) AS BIGINT))) AS i))""".stripMargin

  /** Exact integer repetition per-myriad over a `toks` list column —
    * twin of qRepetition's `(n_words - n_distinct) * 10000 div n_words`. */
  private val RepE4Sql =
    "CASE WHEN len(toks) > 0 THEN (len(toks) - len(list_distinct(toks))) * 10000 // len(toks) ELSE 0 END"

  def oracleSql: Map[String, String] = Map(
    "q_frame_width" ->
      """SELECT CAST(floor(doc_id / 128) AS BIGINT) AS frame,
        |       CAST(greatest(1, max(length(bin(n_chars)))) AS BIGINT) AS frame_bits,
        |       count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin,
    "q_rle_runs" ->
      """WITH s AS (SELECT l_returnflag AS v,
        |                  row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        |           FROM lineitem),
        |b AS (SELECT v, rn,
        |             CASE WHEN lag(v) OVER (ORDER BY rn) IS NULL
        |                    OR lag(v) OVER (ORDER BY rn) <> v THEN 1 ELSE 0 END AS brk
        |      FROM s),
        |r AS (SELECT v, CAST(sum(brk) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |      FROM b)
        |SELECT run_id, min(v) AS val, count(*) AS run_len FROM r GROUP BY run_id""".stripMargin,
    "q_runlen_hist" ->
      """WITH b AS (SELECT doc_id, lang,
        |                  CASE WHEN lag(lang) OVER (ORDER BY doc_id) IS NULL
        |                         OR lag(lang) OVER (ORDER BY doc_id) <> lang THEN 1 ELSE 0 END AS brk
        |           FROM documents),
        |r AS (SELECT lang, CAST(sum(brk) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |      FROM b),
        |g AS (SELECT run_id, lang, count(*) AS run_len FROM r GROUP BY run_id, lang)
        |SELECT lang, count(*) AS n_runs, max(run_len) AS max_run FROM g GROUP BY lang""".stripMargin,
    "q_dict_stats" ->
      """SELECT lang, count(*) AS cnt, count(DISTINCT source) AS ndv_source,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q_codec_select" ->
      """SELECT source, count(*) AS n, count(DISTINCT lang) AS ndv,
        |       CAST(sum(length(lang)) AS BIGINT) AS payload,
        |       CASE WHEN count(DISTINCT lang) = 1 THEN 'rle'
        |            WHEN count(DISTINCT lang) <= 256 THEN 'dict'
        |            ELSE 'fsst' END AS codec
        |FROM documents GROUP BY source""".stripMargin,
    "q_for_frames" ->
      """SELECT date_trunc('month', o_orderdate) AS m, count(*) AS cnt,
        |       min(o_orderdate) AS ts_min, max(o_orderdate) AS ts_max
        |FROM orders GROUP BY 1""".stripMargin,
    // raw_bytes is exact and partition-independent (payload bytes + 8/row
    // of offsets for strings, 8/row for longs); bound_ok pinned to 1 makes
    // the hash compare assert the structural north-rule size bound
    // sum(encBytes) <= sum(flBaselineBytes). Codec picks / encoded sizes
    // are engine-specific and stay in encodeStatsDetail (rows-only-free).
    "q_encode_stats" ->
      """SELECT 'doc_id' AS col_name, CAST(8 * count(*) AS BIGINT) AS raw_bytes,
        |       CAST(1 AS BIGINT) AS bound_ok FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(8 * count(*) AS BIGINT), CAST(1 AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(sum(strlen(lang)) + 8 * count(*) AS BIGINT), CAST(1 AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'source', CAST(sum(strlen(source)) + 8 * count(*) AS BIGINT), CAST(1 AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'text', CAST(sum(strlen(text)) + 8 * count(*) AS BIGINT), CAST(1 AS BIGINT) FROM documents""".stripMargin,
    "q_scan_project" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000.0""".stripMargin,
    "q_join_segments" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
    // 4-table join-agg (TPC-H Q10 shape); revenue in exact integer
    // cents x (100 - discount%) so the sum is reduction-order-
    // independent across engines, top 20 under a deterministic total
    // order (revenue desc, custkey)
    "q_top_customers" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_e4 DESC, c_custkey
        |LIMIT 20""".stripMargin,
    // the oracle is the UNSALTED aggregation: a hash match proves the
    // salted two-phase plan computes identical results
    "q_salted_agg" ->
      """SELECT source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY source""".stripMargin,
    "q_topk_sources" ->
      """SELECT source, count(*) AS cnt FROM documents
        |GROUP BY source ORDER BY cnt DESC, source LIMIT 10""".stripMargin,
    "q_topn_group" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3""".stripMargin,
    "q_set_pending" ->
      """SELECT CAST(doc_id % 16 AS BIGINT) AS pid FROM documents
        |EXCEPT
        |SELECT CAST(doc_id % 16 AS BIGINT) AS pid FROM documents WHERE doc_id % 16 < 6""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events""".stripMargin,
    "q_ntile_ranges" ->
      """WITH x AS (SELECT doc_id, CAST(ntile(16) OVER (ORDER BY doc_id) AS BIGINT) AS bucket FROM documents)
        |SELECT bucket, count(*) AS cnt, min(doc_id) AS lo, max(doc_id) AS hi FROM x GROUP BY bucket""".stripMargin,
    "q_agg_rollup" ->
      """SELECT lang, source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    // each engine builds its own JSON then extracts; only extracted
    // values are compared (raw JSON text differs in key order/spacing)
    "q_json_roundtrip" ->
      """WITH j AS (SELECT doc_id,
        |                  to_json(struct_pack(lang := lang, source := source, n_chars := n_chars)) AS js
        |           FROM documents)
        |SELECT doc_id,
        |       json_extract_string(js, '$.lang') AS lang_j,
        |       json_extract_string(js, '$.source') AS source_j,
        |       CAST(json_extract_string(js, '$.n_chars') AS BIGINT) AS n_chars_j
        |FROM j""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_percentiles" ->
      """SELECT lang, count(*) AS cnt,
        |       round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |       round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |       round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $ShinglesCte,
$MinhashBandsCte,
$LshLabelsCte
SELECT label AS cluster_id, count(*) AS n_docs FROM labels GROUP BY label""",
    // same candidate/edge CTEs as q_dedup_clusters; the apply step labels
    // EVERY document (reach seeds every doc, so isolated docs self-label)
    // and keeper = "my id is my cluster's min id"
    "q_dedup_apply" ->
      s"""WITH RECURSIVE $ShinglesCte,
$MinhashBandsCte,
$LshLabelsCte
SELECT doc AS doc_id, label AS cluster_id,
       CAST(CASE WHEN doc = label THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
FROM labels""",
    "q_token_count" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_bpeish
        |FROM documents""".stripMargin,
    "q_lang_id" ->
      """SELECT lang,
        |       CASE WHEN text LIKE '% the %' OR text LIKE '% and %' OR text LIKE '% of %' THEN 'en'
        |            WHEN text LIKE '% der %' OR text LIKE '% und %' OR text LIKE '% die %' THEN 'de'
        |            WHEN text LIKE '% le %' OR text LIKE '% la %' OR text LIKE '% et %' THEN 'fr'
        |            ELSE 'und' END AS lang_pred,
        |       count(*) AS cnt
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sent_marks,
        |       CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT) AS n_capwords,
        |       CAST(CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END AS BIGINT) AS len_ok
        |FROM documents""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(substr(text, 1, 64)) AS prefix_fp,
        |       CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,
    "q_minhash_lsh" ->
      s"""WITH $ShinglesCte,
$MinhashBandsCte
SELECT CAST(band AS BIGINT) AS band, bucket, count(*) AS cnt, min(doc_id) AS min_doc
FROM bands GROUP BY band, bucket""",
    "q_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(1, 16), i ->
        |           CAST(strpos('0123456789abcdef', substr(md5(tk), CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS h
        |  FROM tok WHERE length(tk) > 0),
        |b AS (
        |  SELECT doc_id, bits.b AS bit,
        |         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, (SELECT unnest(range(0, 16)) AS b) bits
        |  GROUP BY doc_id, bits.b)
        |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash16
        |FROM b GROUP BY doc_id""".stripMargin,
    "q_embed_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT vec_id,
        |         list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS dot,
        |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |         sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings, q)
        |SELECT vec_id, CAST(floor(dot / (na * nb) * 10000) AS BIGINT) AS cos_e4 FROM d
        |ORDER BY cos_e4 DESC, vec_id LIMIT 20""".stripMargin,
    // mirrors the Spark-side 2-round deterministic Lloyd build: quantized
    // (floor(x * 2^20)) integer mean sums are aggregation-order-exact, so
    // both engines compute bit-identical centroids; distances/cosines then
    // use the same double arithmetic as before
    "q_embed_ivf" -> {
      // round count and quant scale come from the SAME constants the
      // Spark side iterates with — tuning Queries.IvfKmeansRounds /
      // IvfQuantScale can never silently desynchronize the oracle
      // exact decimal spelling of the double — a non-integral tuning of
      // the scale interpolates faithfully instead of silently truncating
      val scale = BigDecimal(graft.ops.Queries.IvfQuantScale).toString
      def kmRound(prev: String, idx: Int): String =
        s"""d$idx AS (
           |  SELECT e.vec_id, e.embedding, c.cell,
           |         list_sum(list_transform(generate_series(1, len(e.embedding)),
           |           i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))) AS d2
           |  FROM embeddings e, $prev c),
           |a$idx AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT vec_id, embedding, cell,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
           |    FROM d$idx) WHERE rn = 1),
           |s$idx AS (
           |  SELECT cell, u AS pos,
           |         sum(CAST(floor(CAST(embedding[CAST(u AS INT)] AS DOUBLE) * $scale) AS BIGINT)) AS sq,
           |         count(*) AS cnt
           |  FROM (SELECT cell, embedding, unnest(generate_series(1, len(embedding))) AS u FROM a$idx)
           |  GROUP BY cell, u),
           |cent$idx AS (
           |  SELECT cell, list(CAST(sq AS DOUBLE) / (CAST(cnt AS DOUBLE) * $scale) ORDER BY pos) AS cv
           |  FROM s$idx GROUP BY cell)""".stripMargin
      val n = graft.ops.Queries.IvfKmeansRounds
      val rounds = (1 to n).map(i => kmRound(s"cent${i - 1}", i)).mkString(",\n")
      s"""WITH cent0 AS (SELECT vec_id AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |               FROM embeddings WHERE vec_id < 8),
         |$rounds,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dists AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |         list_sum(list_transform(generate_series(1, len(e.embedding)),
         |           i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))) AS d2
         |  FROM embeddings e, cent$n c),
         |asg AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT vec_id, embedding, cell,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM dists) WHERE rn = 1),
         |probe AS (
         |  SELECT c.cell FROM cent$n c, q
         |  ORDER BY list_sum(list_transform(generate_series(1, len(c.cv)),
         |    i -> (c.cv[i] - CAST(q.qv[i] AS DOUBLE)) * (c.cv[i] - CAST(q.qv[i] AS DOUBLE)))), c.cell
         |  LIMIT 2)
         |SELECT a.cell, a.vec_id,
         |       CAST(floor(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
         |       (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 10000) AS BIGINT) AS cos_e4
         |FROM asg a JOIN probe USING (cell), q
         |ORDER BY cos_e4 DESC, a.vec_id LIMIT 10""".stripMargin
    },
    "q_embed_lsh_buckets" ->
      ("""SELECT CAST(""" + (1 to graft.ops.Queries.EmbedLshBits).map(i =>
        s"(CASE WHEN embedding[$i] > 0 THEN ${1L << (i - 1)} ELSE 0 END)").mkString(" + ") +
        """ AS BIGINT) AS bucket, count(*) AS cnt, min(vec_id) AS min_vec
          |FROM embeddings GROUP BY 1""".stripMargin),
    "q_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_hash, substr(text, 1, 4) AS magic
        |FROM documents""".stripMargin,
    "q_ngram_jaccard" ->
      (s"""WITH $DistinctShinglesCte,
""" + """sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |sig AS (SELECT doc_id, min(md5('0' || s)) AS bucket FROM sh GROUP BY doc_id),
        |okb AS (SELECT bucket FROM sig GROUP BY bucket HAVING count(*) BETWEEN 2 AND 16),
        |mem AS (SELECT sig.doc_id, sig.bucket FROM sig JOIN okb USING (bucket)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM mem a JOIN mem b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |com AS (SELECT doc_a, doc_b, count(*) AS common
        |        FROM pairs JOIN sh sa ON doc_a = sa.doc_id
        |                   JOIN sh sb ON doc_b = sb.doc_id AND sa.s = sb.s
        |        GROUP BY doc_a, doc_b)
        |SELECT p.doc_a, p.doc_b,
        |       CAST(COALESCE(com.common, 0) * 10000 // (na.n_sh + nb.n_sh - COALESCE(com.common, 0)) AS BIGINT) AS jaccard_e4
        |FROM pairs p LEFT JOIN com USING (doc_a, doc_b)
        |JOIN sizes na ON p.doc_a = na.doc_id
        |JOIN sizes nb ON p.doc_b = nb.doc_id""".stripMargin),
    "q_embed_neardup" -> {
      def bits(off: Int) = (1 to 8).map(i =>
        s"(CASE WHEN embedding[${off + i}] > 0 THEN ${1L << (i - 1)} ELSE 0 END)").mkString(" + ")
      s"""WITH m AS (
         |  SELECT vec_id, CAST(0 AS BIGINT) AS band, CAST(${bits(0)} AS BIGINT) AS bucket FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, CAST(1 AS BIGINT), CAST(${bits(8)} AS BIGINT) FROM embeddings),
         |ok AS (SELECT band, bucket FROM m GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 16),
         |mo AS (SELECT m.vec_id, m.band, m.bucket FROM m JOIN ok USING (band, bucket)),
         |p AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |      FROM mo a JOIN mo b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |c AS (SELECT vec_a, vec_b,
         |  list_sum(list_transform(generate_series(1, len(ea.embedding)), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) /
         |  (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |  AS cos_raw
         |  FROM p JOIN embeddings ea ON p.vec_a = ea.vec_id JOIN embeddings eb ON p.vec_b = eb.vec_id)
         |SELECT vec_a, vec_b, CAST(floor(cos_raw * 10000) AS BIGINT) AS cos_e4
         |FROM c WHERE cos_raw >= 0.25""".stripMargin
    },
    "q_mm_decode" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(160 + (strlen(text) % 32) * 16 AS BIGINT) AS fake_w,
        |       CAST(120 + ((CASE WHEN strlen(text) = 0 THEN 0 ELSE unicode(substr(text, 1, 1)) END) % 24) * 16 AS BIGINT) AS fake_h,
        |       CAST(1 + strlen(text) % 16 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    "q_rollup_sets" ->
      """SELECT lang, source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    // fl_ok/rle_ok are literal 1 here and computed round-trip results on
    // the Spark side: the value hash-compare IS the round-trip assertion
    "q_sql_codec" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(1 AS BIGINT) AS fl_ok, CAST(1 AS BIGINT) AS rle_ok
        |FROM documents""".stripMargin,
    // recomputed straight from the source table: a hash match proves the
    // engine's encode->disk->projected-decode round-trip byte-identically
    "q_engine_roundtrip" ->
      """SELECT printf('https://doc.example/%09d', doc_id) AS url,
        |       md5(text) AS text_md5, lang
        |FROM documents""".stripMargin,
    // range-pruned projected decode: urls embed doc_id order-preservingly,
    // so the engine's url-range decode must equal a doc_id BETWEEN
    "q_engine_rt_range" ->
      """SELECT printf('https://doc.example/%09d', doc_id) AS url, lang
        |FROM documents WHERE doc_id BETWEEN 100 AND 299""".stripMargin,
    // the DSv2 connector's pushdown path: encode -> format("graft") scan
    // with consumed url bounds + pruned columns; recomputed straight from
    // the source table like the engine round-trips
    "q_dsv2_read" ->
      """SELECT printf('https://doc.example/%09d', doc_id) AS url,
        |       md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id BETWEEN 50 AND 449""".stripMargin,
    // time-range scan through the connector: warc_ts = 1700000000 +
    // doc_id seconds by construction, so the pushed ts bounds are a
    // doc_id BETWEEN; ts_us re-derives the micros exactly
    "q_dsv2_ts_range" ->
      """SELECT printf('https://doc.example/%09d', doc_id) AS url,
        |       (1700000000 + doc_id) * 1000000 AS ts_us, lang
        |FROM documents WHERE doc_id BETWEEN 120 AND 379""".stripMargin,
    // the pushed count(*) answered from chunk metadata must equal the
    // source-table ground truth
    "q_dsv2_count" ->
      "SELECT count(*) AS n_pages FROM documents",
    // the ENGINE-surface ts-range decode (DecodeJob.runProjected, epoch
    // micros in): doc_id BETWEEN via the warc_ts = 1700000000 + doc_id
    // construction
    "q_engine_ts_range" ->
      """SELECT printf('https://doc.example/%09d', doc_id) AS url,
        |       (1700000000 + doc_id) * 1000000 AS ts_us, lang
        |FROM documents WHERE doc_id BETWEEN 200 AND 459""".stripMargin,
    // pushed min/max/count from chunk metadata vs the source recompute:
    // urls embed doc_id (%09d) and warc_ts = 1700000000 + doc_id s
    "q_dsv2_minmax" ->
      """SELECT printf('https://doc.example/%09d', min(doc_id)) AS min_url,
        |       printf('https://doc.example/%09d', max(doc_id)) AS max_url,
        |       (1700000000 + min(doc_id)) * 1000000 AS min_ts_us,
        |       (1700000000 + max(doc_id)) * 1000000 AS max_ts_us,
        |       count(*) AS n_pages
        |FROM documents""".stripMargin,
    // write via df.write.format("graft") -> projected decode readback:
    // same recompute-from-source oracle as q_engine_roundtrip
    "q_dsv2_write" ->
      """SELECT printf('https://doc.example/%09d', doc_id) AS url,
        |       md5(text) AS text_md5, lang
        |FROM documents""".stripMargin,
    // same md5-nibble hash on both engines (shift arithmetic, not 16**k —
    // exact in integers), so the sampled set is identical by construction
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         list_sum(list_transform(range(1, 5), i ->
        |           CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (4 - i)))) % 100 AS h
        |  FROM documents)
        |WHERE h < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 10 END""".stripMargin,
    "q_vocab_topk" ->
      """SELECT tk, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
        |WHERE length(tk) > 0
        |GROUP BY tk ORDER BY cnt DESC, tk LIMIT 100""".stripMargin,
    "q_seq_pack" ->
      s"""WITH x AS (
        |  SELECT source,
        |         CAST((list_sum(list_transform(range(1, 3), i ->
        |            CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (2 - i)))))
        |           % ${graft.ops.Queries.SeqPackShards} AS BIGINT) AS shard,
        |         doc_id, n_chars,
        |         sum(n_chars) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS start_off
        |  FROM documents)
        |SELECT source, shard, CAST(floor(start_off / 16384) AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM x GROUP BY source, shard, bin""".stripMargin,
    // Spark sequence() end is INCLUSIVE, DuckDB range() end is exclusive
    // — hence the +1 (same convention as the shingle CTEs)
    "q_chunk_windows" ->
      """SELECT doc_id,
        |       CAST((u - 1) / 384 AS BIGINT) AS chunk_id,
        |       CAST(length(substr(text, CAST(u AS INT), 512)) AS BIGINT) AS n_chunk_chars,
        |       md5(substr(text, CAST(u AS INT), 512)) AS chunk_fp
        |FROM (SELECT doc_id, text,
        |             unnest(range(1, greatest(1, length(text)) + 1, 384)) AS u
        |      FROM documents)""".stripMargin,
    // rep_e4 is integer arithmetic ((n-d)*10000 // n) — a double
    // round(ratio, 4) ties at the 5th decimal for small exact rationals
    // and the engines resolve ties differently (see qRepetition)
    "q_repetition" ->
      s"""WITH t AS (SELECT doc_id, $TokensSql AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST($RepE4Sql AS BIGINT) AS rep_e4
FROM t""",
    // shared "synthesized line" CTE (8-token non-overlapping windows over
    // the whitespace tokenization) — mirrors Queries.tokenLines exactly;
    // DuckDB range(n) is empty for n <= 0, matching the Spark-side
    // size(ts) > 0 guard (empty docs yield zero lines on both engines)
    "q_boilerplate" ->
      (s"""WITH $TokenLinesCte,
""" + """boiler AS (
        |  SELECT source, line FROM lines
        |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT l.doc_id, count(*) AS n_lines, count(b.line) AS n_boiler
        |FROM lines l LEFT JOIN boiler b ON l.source = b.source AND l.line = b.line
        |GROUP BY 1""".stripMargin),
    // keep-first winner via row_number here is oracle-scale-only; the
    // Spark side uses groupBy + min(struct) (partial-agg, skew-safe)
    "q_line_dedup" ->
      (s"""WITH $TokenLinesCte,
""" + """w AS (
        |  SELECT line, doc_id AS wdoc, line_no AS wno FROM (
        |    SELECT line, doc_id, line_no,
        |           row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
        |    FROM lines) WHERE rn = 1)
        |SELECT l.doc_id, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN l.doc_id = w.wdoc AND l.line_no = w.wno
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines
        |FROM lines l JOIN w USING (line)
        |GROUP BY 1""".stripMargin),
    // mean_df_e4 uses exact integer floor-division on both engines
    // (DuckDB sums are HUGEINT; the Spark side sums in decimal(38,0) and
    // divides with `div`) — no double arithmetic anywhere
    "q_doc_freq" ->
      (s"""WITH toks AS (
  SELECT doc_id, unnest($TokensSql) AS token
  FROM documents),
""" + """df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       CAST(sum(d.df) * 10000 // (count(*) * (SELECT count(*) FROM documents)) AS BIGINT) AS mean_df_e4
        |FROM toks t JOIN df d USING (token)
        |GROUP BY 1""".stripMargin),
    "q_contamination" ->
      (s"""WITH $DistinctShinglesCte,
""" + """b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20),
        |c AS (SELECT sh.doc_id, sh.s, b.bench_id FROM sh JOIN b USING (s) WHERE sh.doc_id >= 20)
        |SELECT doc_id, count(DISTINCT s) AS n_shared, min(bench_id) AS first_hit
        |FROM c GROUP BY doc_id""".stripMargin),
    "q_sessionize" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, value,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS t_start, max(ts) AS t_end,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // DuckDB's NATIVE ASOF LEFT JOIN is the oracle for the distributed
    // union+window as-of; tie handling (t.ts >= q.ts) matches the Spark
    // side's quotes-before-trades sort at equal ts
    "q_asof_join" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, max(event_id) AS quote_id,
        |         arg_max(value, event_id) AS qval
        |  FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
        |trades AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_id % 10 <> 0)
        |SELECT t.user_id, t.event_id, t.ts, q.quote_id,
        |       CAST(round(q.qval * 100) AS BIGINT) AS quote_cents
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND t.ts >= q.ts""".stripMargin,
    // plain inequality join is the oracle for the bucketed band join
    "q_range_pairs" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, count(*) AS n_pairs, min(a.event_id) AS first_a
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(b.us - a.us) <= 300000000
        |GROUP BY 1""".stripMargin,
    // exact integer day arithmetic on both engines (epoch_us // day ==
    // unix_micros div day under the pinned UTC session zone) — no
    // date-type round-trip whose pandas dtype differs between engines
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts)//86400000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1)
        |SELECT f.cohort_day, e.d - f.cohort_day AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users, count(*) AS n_events
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // same seeded-md5 sort key and leading-4-nibble (16-bit) shard on
    // both engines, so the permutation is identical by construction
    // (shift arithmetic for the nibbles — 16**k in doubles loses
    // precision). Interpolates the DEFAULT shard count: the driver gate
    // runs with default conf; a deployment overriding
    // spark.graft.shuffle.shards re-parameterizes the Spark side only.
    "q_shuffle_shards" ->
      s"""WITH x AS (
        |  SELECT doc_id, md5('shuf1:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |y AS (
        |  SELECT doc_id, skey,
        |         CAST(list_sum(list_transform(range(1, 5), i ->
        |           CAST(strpos('0123456789abcdef', substr(skey, CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (4 - i))))
        |           % ${graft.ops.Queries.ShuffleShards} AS BIGINT) AS shard
        |  FROM x)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
        |FROM y""".stripMargin,
    // the whitespace class is explicit ([ \t\r\n]) on both engines: Java
    // \s also eats \x0B where RE2's does not; DuckDB regexp_replace needs
    // the 'g' flag (Spark's replaces all matches by default)
    "q_norm_dedup" ->
      """WITH n AS (
        |  SELECT doc_id, md5(text) AS raw_fp,
        |         md5(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) AS norm_fp
        |  FROM documents)
        |SELECT norm_fp, count(*) AS cnt,
        |       count(DISTINCT raw_fp) AS n_raw_variants,
        |       min(doc_id) AS keep_id
        |FROM n GROUP BY norm_fp""".stripMargin,
    // cumulative stage flags; rep_e4 is the exact integer per-myriad of
    // qRepetition (double round() ties diverge between engines)
    "q_filter_funnel" ->
      (s"""WITH t AS (
  SELECT source, n_chars, lang, $TokensSql AS toks
  FROM documents),
s AS (
  SELECT source,
         CASE WHEN n_chars >= 50 THEN 1 ELSE 0 END AS s1,
         len(toks) AS n_words,
         $RepE4Sql AS rep_e4,
         lang IN ('en', 'de', 'fr') AS lang_ok
  FROM t),
""" + """
        |c AS (
        |  SELECT source, s1,
        |         CASE WHEN s1 = 1 AND lang_ok THEN 1 ELSE 0 END AS s2,
        |         n_words, rep_e4
        |  FROM s),
        |d AS (
        |  SELECT source, s1, s2,
        |         CASE WHEN s2 = 1 AND rep_e4 < 3000 THEN 1 ELSE 0 END AS s3,
        |         n_words
        |  FROM c)
        |SELECT source, count(*) AS n_total,
        |       CAST(sum(s1) AS BIGINT) AS n_len,
        |       CAST(sum(s2) AS BIGINT) AS n_lang,
        |       CAST(sum(s3) AS BIGINT) AS n_rep,
        |       CAST(sum(CASE WHEN s3 = 1 AND n_words >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_tok
        |FROM d GROUP BY source""".stripMargin),
    // min(CASE WHEN ...) ignores non-matching rows in both engines;
    // strict < ordering decides the reached stage
    "q_funnel_steps" ->
      """WITH f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        |  FROM events GROUP BY 1)
        |SELECT CAST(CASE
        |         WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
        |              AND t1 < t2 AND t2 < t3 THEN 3
        |         WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t1 < t2 THEN 2
        |         WHEN t1 IS NOT NULL THEN 1
        |         ELSE 0 END AS BIGINT) AS stage,
        |       count(*) AS n_users
        |FROM f GROUP BY 1""".stripMargin,
    // row_number spelling is oracle-scale only — the Spark side is a
    // partial-aggregable max over a lexicographic struct
    "q_latest_event" ->
      """SELECT user_id, us AS ts_us, event_id, event_type, n_events FROM (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
        |         count(*) OVER (PARTITION BY user_id) AS n_events,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "q_pivot_events" ->
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click') AS "click",
        |       count(*) FILTER (WHERE event_type = 'error') AS "error",
        |       count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
        |       count(*) FILTER (WHERE event_type = 'signup') AS "signup",
        |       count(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY 1""".stripMargin,
    // the plain group-by IS the oracle: hash equality asserts the
    // unpivot∘pivot round-trip identity on the Spark side
    "q_unpivot_events" ->
      "SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2",
    // dense grid incl. zero rows; integer hour-bucket arithmetic on both
    // engines (epoch_us // h == unix_micros div h under the pinned UTC
    // session zone)
    "q_gapfill_rate" ->
      """WITH e AS (SELECT epoch_us(ts)//3600000000 AS bk, event_type FROM events),
        |b AS (SELECT min(bk) AS lo, max(bk) AS hi FROM e),
        |grid AS (
        |  SELECT g.bk, t.event_type
        |  FROM (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS bk) g
        |  CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view']) AS event_type) t),
        |c AS (SELECT bk, event_type, count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT grid.bk, grid.event_type, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
        |FROM grid LEFT JOIN c USING (bk, event_type)""".stripMargin,
    // same simulated snapshots (drop %3 / drop %5 + edit %7), same md5
    // classification; FULL JOIN USING coalesces the key on both engines
    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 3 <> 0),
        |neu AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN 'v2:' || text ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT doc_id,
        |       CASE WHEN h_old IS NULL THEN 'added'
        |            WHEN h_new IS NULL THEN 'removed'
        |            WHEN h_old <> h_new THEN 'changed'
        |            ELSE 'same' END AS status
        |FROM old FULL JOIN neu USING (doc_id)""".stripMargin,
    // the sketch flags are pinned to 1: the hash compare asserts HLL and
    // the quantile sketch landed within their advertised error bounds
    "q_sketch_bounds" ->
      """SELECT source, count(DISTINCT n_chars) AS exact_ndv,
        |       CAST(1 AS BIGINT) AS hll_ok, CAST(1 AS BIGINT) AS pctl_ok
        |FROM documents GROUP BY 1""".stripMargin,
    // oracle is the UNSALTED join/aggregate: a hash match proves the
    // salt-replicated dimension join matched every row exactly once
    "q_salted_join" ->
      """SELECT d.source, count(*) AS n, max(s.src_docs) AS src_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS chars
        |FROM documents d
        |JOIN (SELECT source, count(*) AS src_docs FROM documents GROUP BY 1) s
        |  ON d.source = s.source
        |GROUP BY 1""".stripMargin,
    // exact integer PMI ordering: score_e6 = c_xy*N*1e6 // (c_x*c_y) in
    // HUGEINT (the Spark side uses decimal(38,0) + div) — both floor
    // exactly, no float log in the comparison; N is summed BEFORE the
    // min-count cut
    "q_bigram_pmi" ->
      s"""WITH toks AS (SELECT $TokensSql AS ts FROM documents),
        |t2 AS (SELECT ts FROM toks WHERE len(ts) > 0),
        |cnt AS (
        |  SELECT x, y, count(*) AS c FROM (
        |    SELECT unnest(ts) AS x, CAST(NULL AS VARCHAR) AS y FROM t2
        |    UNION ALL
        |    SELECT ts[i] AS x, ts[i + 1] AS y
        |    FROM t2, LATERAL (SELECT unnest(range(1, len(ts))) AS i))
        |  GROUP BY 1, 2),
        |cxy AS (SELECT x, y, c AS c_xy FROM cnt WHERE y IS NOT NULL),
        |uni AS (SELECT x AS tok, c AS c_tok FROM cnt WHERE y IS NULL),
        |tot AS (SELECT sum(c_xy) AS n_total FROM cxy)
        |SELECT cxy.x, cxy.y, cxy.c_xy,
        |       CAST(CAST(cxy.c_xy AS HUGEINT) * n_total * 1000000
        |            // (CAST(ux.c_tok AS HUGEINT) * uy.c_tok) AS BIGINT) AS score_e6
        |FROM cxy
        |JOIN uni ux ON ux.tok = cxy.x
        |JOIN uni uy ON uy.tok = cxy.y
        |CROSS JOIN tot
        |WHERE cxy.c_xy >= 3
        |ORDER BY score_e6 DESC, cxy.x, cxy.y
        |LIMIT 20""".stripMargin)
}
