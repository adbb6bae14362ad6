package graft.registry

import graft._
import org.apache.spark.sql.SparkSession

/** Deduplication pipeline queries over `documents` — see [[graft.Dedup]]:
  * exact, MinHash+LSH candidates, n-gram-Jaccard verification, SimHash. */
object DedupQueries {

  /** Shared DuckDB fragments mirroring Dedup.shingles/minhash/bands. */
  val SHINGLES: String =
    TextQueries.TOK + """,
      |shu AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
      |                ELSE list_transform(range(1, len(ts) - 1),
      |                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END) AS s
      |  FROM tok)""".stripMargin

  /** The d5 hyperplane-LSH candidate + exact-cosine verify chain, shared
    * by d5 (pair output) and d9 (transitive clusters over the same
    * pairs). Ends at CTE `p(x, y, cos_scaled)`. The oracle derives r with
    * the same INTEGER ceil-log2 as Similarity.bitsFor (bits in n-1) —
    * float log2 desyncs at n ≳ 2^47. */
  val EMB_LSH: String =
    """WITH nn AS (
      |  SELECT greatest(6, length(format('{:b}', greatest(1, count(*) - 1))) - 3) AS r
      |  FROM embeddings),
      |sg AS (
      |  SELECT vec_id, b,
      |    list_reduce(list_transform(range(0, nn.r), j ->
      |      CASE WHEN list_reduce(list_transform(range(1, len(embedding) + 1),
      |        i -> CAST(embedding[i] AS DOUBLE) *
      |             (CAST(('0x' || substr(md5(b || '_' || j || '_' || (i - 1)), 1, 8)) AS BIGINT) % 1000 - 500)),
      |        (s, v) -> s + v) > 0
      |      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END),
      |      (s, v) -> s + v) AS sig
      |  FROM embeddings, (SELECT unnest(range(0, 32)) AS b) bs, nn),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS x, c.vec_id AS y
      |  FROM sg a JOIN sg c ON a.b = c.b AND a.sig = c.sig AND a.vec_id < c.vec_id),
      |nrm AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding,
      |      t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), (s, v) -> s + v)) AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT cand.x, cand.y,
      |    CAST(floor(
      |      list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (s, v) -> s + v)
      |      / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_scaled
      |  FROM cand JOIN nrm a ON cand.x = a.vec_id JOIN nrm b ON cand.y = b.vec_id)""".stripMargin

  val LSH: String =
    SHINGLES + """,
      |mh AS (
      |  SELECT doc_id, k, min(md5(k || '|' || s)) AS m
      |  FROM shu, (SELECT unnest(range(0, 8)) AS k) ks
      |  GROUP BY doc_id, k),
      |band AS (
      |  SELECT a.doc_id, a.k // 2 AS b, md5(a.m || b2.m) AS sig
      |  FROM mh a JOIN mh b2 ON a.doc_id = b2.doc_id AND b2.k = a.k + 1
      |  WHERE a.k % 2 = 0),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM band x JOIN band y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id)""".stripMargin

  /** The [[LSH]] chain over exact-dup REPRESENTATIVES (min doc_id per
    * distinct text) — the collapse-first input d17 calibrates on. Swaps
    * TOK's base table for the collapsed `docs_r` and leaves the rest of
    * the chain (`shu`/`mh`/`band`/`cand`) untouched. */
  val LSH_REP: String =
    """rep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |docs_r AS (
      |  SELECT d.doc_id, d.text FROM documents d JOIN rep ON d.doc_id = rep.doc_id),
      |""".stripMargin + LSH.replace("FROM documents)", "FROM docs_r)")

  /** The d4 simhash chain, shared by d4 (fingerprint output) and e9
    * (Hamming near-dup pairs over the same fingerprints). Ends at CTE
    * `sh(doc_id, simhash)`. */
  val SIMHASH: String =
    TextQueries.TOK + """,
      |tokd AS (SELECT DISTINCT doc_id, unnest(ts) AS t FROM tok),
      |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tokd),
      |bv AS (
      |  SELECT doc_id, bit, sum(2 * ((h >> bit) & 1) - 1) AS v
      |  FROM th, (SELECT unnest(range(0, 60)) AS bit) bits
      |  GROUP BY doc_id, bit),
      |sh AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bv GROUP BY doc_id)""".stripMargin

  /** The 120-bit wide fingerprint (e9b): per token BOTH 60-bit md5
    * halves — hex chars 1-15 (the d4 hash) and 17-31 — voted per bit
    * into two packed longs per document. Mirrors
    * [[graft.Dedup.simhashWide]] bit-for-bit. */
  val SIMHASH_WIDE: String =
    TextQueries.TOK + """,
      |tokd AS (SELECT DISTINCT doc_id, unnest(ts) AS t FROM tok),
      |thw AS (SELECT doc_id,
      |  CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS ha,
      |  CAST(('0x' || substr(md5(t), 17, 15)) AS BIGINT) AS hb FROM tokd),
      |bvw AS (
      |  SELECT doc_id, bit,
      |    sum(2 * ((ha >> bit) & 1) - 1) AS v0,
      |    sum(2 * ((hb >> bit) & 1) - 1) AS v1
      |  FROM thw, (SELECT unnest(range(0, 60)) AS bit) bits
      |  GROUP BY doc_id, bit),
      |shw AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN v0 > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS h0,
      |  CAST(sum(CASE WHEN v1 > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS h1
      |  FROM bvw GROUP BY doc_id)""".stripMargin

  /** The x2 transitive-closure chain over the LSH candidate pairs, shared
    * by x2 (cluster summary) and x3 (cluster-safe split). Ends at CTE
    * `labels(id, label)` — min reachable id, the same fixpoint as
    * Traversals.connectedComponents. */
  val CLUSTERS: String =
    LSH + """,
      |csym AS (SELECT a AS src, b AS dst FROM cand
      |         UNION ALL SELECT b AS src, a AS dst FROM cand),
      |cverts AS (SELECT DISTINCT src AS id FROM csym),
      |reach(id, r) AS (
      |  SELECT id, id FROM cverts
      |  UNION
      |  SELECT w.id, n.dst FROM reach w JOIN csym n ON w.r = n.src),
      |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)""".stripMargin

  val entries: Seq[QueryEntry] = Seq(

    // ---- E9: Hamming-radius near-dup pairs over 60-bit simhash via
    //      bit-sampling LSH — EXACT by pigeonhole (4 bands × 15 bits
    //      cover radius 3: a pair within radius differs in ≤3 bands, so
    //      ≥1 band matches). COLLAPSE-FIRST contract (VERDICT r10 next
    //      #5): one representative (min doc_id) per DISTINCT simhash,
    //      pairs between representatives only — identical-fingerprint
    //      groups are d1/d4's exact-dup territory, and emitting their
    //      C(cluster,2) member pairs made the entry output-bound on
    //      dup-heavy corpora. Oracle mirrors the same collapse (shr).
    //      The band equi-join is the only corpus-sized exchange;
    //      bit_count rerank runs on candidates only ----
    ("e9_hamming_neardup",
      (s: SparkSession, d: String) =>
        Dedup.hammingNearDupPairs(Tables.documents(s, d)),
      Some(Oracle.withSql(SIMHASH,
        """, shr AS (SELECT min(doc_id) AS doc_id, simhash FROM sh GROUP BY simhash)
          |, hbd AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS key
          |          FROM shr, (SELECT unnest(range(0, 4)) AS band) bands),
          |hcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          |                 x.simhash AS ha, y.simhash AS hb
          |          FROM hbd x JOIN hbd y
          |          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
          |SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS ham
          |FROM hcand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin))),

    // ---- E9b: the 100 TB Hamming path — 120-bit simhash (two 60-bit
    //      md5 halves), 4 bands × 30 bits, exact for radius ≤ 3. The
    //      bands are exact by pigeonhole, so the oracle is the honest
    //      ALL-PAIRS Hamming filter over the same wide fingerprints —
    //      identical result set by construction, and the oracle stays
    //      independent of the banding it grades ----
    ("e9b_hamming_neardup_wide",
      (s: SparkSession, d: String) =>
        Dedup.hammingNearDupPairsWide(Tables.documents(s, d)),
      Some(Oracle.withSql(SIMHASH_WIDE,
        """SELECT x.doc_id AS a, y.doc_id AS b,
          |  CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) AS BIGINT) AS ham
          |FROM shw x JOIN shw y ON x.doc_id < y.doc_id
          |WHERE bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) <= 3""".stripMargin))),

    // ---- D12: incremental snapshot dedup — only the incoming batch is
    //      curated, against the PRIOR snapshot (doc_id % 3 == 0 is the
    //      prior; both classifications probe prior-side structures, so
    //      cost ∝ batch, not total corpus). Oracle restricts the shared
    //      SIMHASH chain by the same snapshot predicate ----
    // ---- d14: shingle-set containment over the d2 candidates —
    //      Broder's asymmetric C(A→B) = |A∩B|/|A| in exact ppm; catches
    //      quote/superset relations resemblance dilutes ----
    ("d14_containment",
      (s: SparkSession, d: String) =>
        Dedup.containmentVerify(Tables.documents(s, d)),
      Some(Oracle.withSql(
        """reps AS (
          |  SELECT d.* FROM documents d
          |  JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
          |    USING (doc_id)),
          |""".stripMargin + LSH.replace("FROM documents", "FROM reps"),
        """, cd AS (SELECT DISTINCT doc_id FROM (
          |    SELECT a AS doc_id FROM cand UNION ALL SELECT b FROM cand)),
          |shc AS (SELECT shu.doc_id, shu.s FROM shu JOIN cd USING (doc_id)),
          |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
          |inter AS (SELECT c.a, c.b, count(*) AS i
          |  FROM cand c JOIN shc x ON c.a = x.doc_id
          |  JOIN shc y ON c.b = y.doc_id AND x.s = y.s
          |  GROUP BY c.a, c.b)
          |SELECT c.a, c.b, sa.n AS n_a, sb.n AS n_b,
          |  CAST(coalesce(i.i, 0) AS BIGINT) AS inter,
          |  1000000 * coalesce(i.i, 0) // sa.n AS c_ab_ppm,
          |  1000000 * coalesce(i.i, 0) // sb.n AS c_ba_ppm
          |FROM cand c
          |LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
          |JOIN sz sa ON c.a = sa.doc_id
          |JOIN sz sb ON c.b = sb.doc_id""".stripMargin))),

    // ---- d16: MinHash estimator calibration — per candidate pair (on
    //      representatives), the 8-hash Jaccard estimate (matching
    //      components × 125000 ppm) vs the exact shingle Jaccard and the
    //      absolute error; the table that justifies the d2 band tuning ----
    ("d16_minhash_calibration",
      (s: SparkSession, d: String) =>
        Dedup.minhashCalibration(Tables.documents(s, d)),
      Some(Oracle.withSql(
        """reps AS (
          |  SELECT d.* FROM documents d
          |  JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
          |    USING (doc_id)),
          |""".stripMargin + LSH.replace("FROM documents", "FROM reps"),
        """, sz AS (SELECT doc_id, count(*) AS n FROM shu GROUP BY doc_id),
          |inter AS (
          |  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS i
          |  FROM shu sa JOIN shu sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
          |  GROUP BY 1, 2),
          |ex AS (
          |  SELECT c.a, c.b,
          |    (100 * COALESCE(i.i, 0)) // (sa.n + sb.n - COALESCE(i.i, 0)) AS jacc_pct
          |  FROM cand c LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
          |  JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id),
          |est AS (
          |  SELECT x.a, x.b, CAST(125000 * count(*) FILTER (WHERE ma.m = mb.m) AS BIGINT) AS est_ppm
          |  FROM (SELECT a, b FROM cand) x
          |  JOIN mh ma ON ma.doc_id = x.a JOIN mh mb ON mb.doc_id = x.b AND ma.k = mb.k
          |  GROUP BY x.a, x.b)
          |SELECT e.a, e.b, est.est_ppm,
          |  CAST(e.jacc_pct * 10000 AS BIGINT) AS jacc_ppm,
          |  abs(est.est_ppm - e.jacc_pct * 10000) AS abs_err_ppm
          |FROM ex e JOIN est ON e.a = est.a AND e.b = est.b""".stripMargin))),

    // ---- d17: the LSH band-width sweep — the S-curve knob as a graded
    //      registry metric: candidate volume and truth-recall at r=2 vs
    //      r=4 over the same 8-hash signatures (truth = exact Jaccard ≥
    //      50 over the inclusive r=2 candidates). The 500k-doc replay's
    //      58× candidate cut is the other side of this trade (PERF.md).
    //      Collapse-first: sweep + oracle both calibrate over one
    //      representative per distinct text (band width measures shingle
    //      structure; exact copies only inflate the quadratic passes) ----
    ("d17_lsh_band_sweep",
      (s: SparkSession, d: String) =>
        Dedup.lshBandSweep(Tables.documents(s, d)),
      Some(Oracle.withSql(LSH_REP,
        """, band4 AS (
          |  SELECT doc_id, k // 4 AS b, md5(string_agg(m, '' ORDER BY k)) AS sig
          |  FROM mh GROUP BY doc_id, k // 4),
          |cand4 AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |  FROM band4 x JOIN band4 y
          |  ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
          |sz AS (SELECT doc_id, count(*) AS n FROM shu GROUP BY doc_id),
          |inter AS (
          |  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS i
          |  FROM shu sa JOIN shu sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
          |  GROUP BY 1, 2),
          |truth AS (
          |  SELECT c.a, c.b
          |  FROM cand c LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
          |  JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
          |  WHERE (100 * COALESCE(i.i, 0)) // (sa.n + sb.n - COALESCE(i.i, 0)) >= 50),
          |nt AS (SELECT count(*) AS n FROM truth),
          |rows_ AS (
          |  SELECT 2 AS r, (SELECT count(*) FROM cand) AS n_cand,
          |         (SELECT count(*) FROM truth) AS n_hit
          |  UNION ALL
          |  SELECT 4 AS r, (SELECT count(*) FROM cand4) AS n_cand,
          |         (SELECT count(*) FROM cand4 c JOIN truth t
          |          ON c.a = t.a AND c.b = t.b) AS n_hit)
          |SELECT r, CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
          |  CAST(CASE WHEN (SELECT n FROM nt) = 0 THEN 1000000
          |       ELSE (1000000 * n_hit) // (SELECT n FROM nt) END AS BIGINT) AS recall_ppm
          |FROM rows_""".stripMargin))),

    // ---- d15: duplicate-aware sampling weights — soft dedup: every doc
    //      keeps its row with weight 1/|exact-dup cluster| ppm, so a
    //      weighted sampler sees each distinct text with total mass 1 ----
    ("d15_dedup_weights",
      (s: SparkSession, d: String) =>
        Dedup.dedupWeights(Tables.documents(s, d)),
      Some(
        """SELECT doc_id,
          |  count(*) OVER (PARTITION BY md5(text)) AS cluster_n,
          |  1000000 // count(*) OVER (PARTITION BY md5(text)) AS weight_ppm
          |FROM documents""".stripMargin)),

    // ---- d13: URL-canonicalization dedup — fragment/tracking-param
    //      strip + host lowercase + www. drop, then the d1 contract
    //      keyed on canonical URL; per-row regex projection + ONE
    //      partial-combining keyed aggregate ----
    ("d13_url_canonical_dedup",
      (s: SparkSession, d: String) =>
        Dedup.urlCanonicalDedup(Tables.documents(s, d)),
      Some(
        """WITH raw AS (
          |  SELECT doc_id,
          |    'https://WWW.' || source || '.Example.COM/p/' ||
          |    CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=s' ||
          |    CAST(doc_id % 3 AS VARCHAR) || '&ref=r' ||
          |    CAST(doc_id % 7 AS VARCHAR) || '&id=' ||
          |    CAST(doc_id % 25 AS VARCHAR) || '#sec' ||
          |    CAST(doc_id % 4 AS VARCHAR) AS url
          |  FROM documents),
          |stripped AS (
          |  SELECT doc_id,
          |    regexp_replace(
          |      regexp_replace(regexp_replace(url, '#.*$', ''),
          |        '(utm_[a-z_]+|ref)=[^&#]*&?', '', 'g'),
          |      '[?&]+$', '') AS u
          |  FROM raw),
          |hosted AS (
          |  SELECT doc_id, u, regexp_extract(u, '^https?://[^/]*') AS h
          |  FROM stripped)
          |SELECT regexp_replace(lower(h), '^https://www\.', 'https://')
          |         || substr(u, length(h) + 1) AS canon_url,
          |       count(*) AS n_docs,
          |       CAST(min(doc_id) AS BIGINT) AS keeper
          |FROM hosted GROUP BY 1""".stripMargin)),

    ("d12_incremental_snapshot_dedup",
      (s: SparkSession, d: String) =>
        Dedup.incrementalSnapshotDedup(Tables.documents(s, d)),
      Some(Oracle.withSql(SIMHASH,
        """, pr AS (SELECT doc_id, simhash FROM sh WHERE doc_id % 3 = 0),
          |ic AS (SELECT doc_id, simhash FROM sh WHERE doc_id % 3 <> 0),
          |exd AS (SELECT DISTINCT d.doc_id FROM documents d
          |  WHERE d.doc_id % 3 <> 0
          |    AND md5(d.text) IN (SELECT md5(text) FROM documents WHERE doc_id % 3 = 0)),
          |icb AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS key
          |  FROM ic, (SELECT unnest(range(0, 4)) AS band) b),
          |prb AS (SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS key
          |  FROM pr, (SELECT unnest(range(0, 4)) AS band) b),
          |ncand AS (SELECT DISTINCT x.doc_id FROM icb x JOIN prb y
          |  ON x.band = y.band AND x.key = y.key
          |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
          |near AS (SELECT doc_id FROM ncand
          |  WHERE doc_id NOT IN (SELECT doc_id FROM exd)),
          |kept AS (SELECT doc_id FROM ic
          |  WHERE doc_id NOT IN (SELECT doc_id FROM exd)
          |    AND doc_id NOT IN (SELECT doc_id FROM ncand))
          |SELECT (SELECT count(*) FROM ic) AS n_incoming,
          |       (SELECT count(*) FROM exd) AS n_exact_dup,
          |       (SELECT count(*) FROM near) AS n_near_dup,
          |       (SELECT count(*) FROM kept) AS n_kept,
          |       (SELECT CAST(COALESCE(sum(doc_id), 0) AS BIGINT) FROM kept) AS kept_id_sum""".stripMargin))),

    // ---- D10: quality-aware dedup keeper — x2's clusters with the
    //      production keeper rule: keep the best copy (is_quality desc,
    //      n_tokens desc, doc_id asc), never the truncated one ----
    ("d10_quality_keeper",
      (s: SparkSession, d: String) =>
        Dedup.qualityKeeper(Tables.documents(s, d)),
      Some(Oracle.withSql(CLUSTERS,
        """, qsc AS (
          |  SELECT t.doc_id, len(t.ts) AS n_tokens,
          |    CASE WHEN len(t.ts) >= 5 AND len(t.ts) <= 100000
          |          AND (100 * len(list_filter(t.ts, x -> x IN ('the','a','of','and','to','is','in')))) // greatest(len(t.ts), 1) >= 1
          |          AND len(regexp_extract_all(t.text, '[.,!?;:]')) * 4 <= len(t.ts)
          |         THEN 1 ELSE 0 END AS is_quality
          |  FROM tok t),
          |mem AS (
          |  SELECT l.label, q.doc_id, q.n_tokens, q.is_quality,
          |    row_number() OVER (PARTITION BY l.label
          |      ORDER BY q.is_quality DESC, q.n_tokens DESC, q.doc_id) AS rk
          |  FROM labels l JOIN qsc q ON l.id = q.doc_id)
          |SELECT max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
          |       count(*) AS cluster_n,
          |       CAST(sum(is_quality) AS BIGINT) AS n_quality
          |FROM mem GROUP BY label""".stripMargin))),

    // ---- X3: near-dup-cluster-safe train/eval split — whole cluster on
    //      one side (leakage guard), md5-deterministic on the cluster
    //      representative; singletons represent themselves ----
    ("x3_cluster_safe_split",
      (s: SparkSession, d: String) =>
        Dedup.clusterSafeSplit(Tables.documents(s, d)),
      Some(Oracle.withSql(CLUSTERS,
        """, asg AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS rep
          |          FROM documents d LEFT JOIN labels l ON d.doc_id = l.id)
          |SELECT doc_id, rep,
          |  CASE WHEN CAST(('0x' || substr(md5('split|' || rep), 1, 15)) AS BIGINT) % 100 < 90
          |       THEN 'train' ELSE 'eval' END AS split
          |FROM asg""".stripMargin))),

    ("d1_dedup_exact",
      (s: SparkSession, d: String) => Dedup.exact(Tables.documents(s, d)),
      Some(
        """SELECT min(doc_id) AS keep_id, count(*) AS group_n
          |FROM documents GROUP BY md5(text)""".stripMargin)),

    ("d2_dedup_minhash_lsh",
      // the codegen projection signature — zero shuffle before the band
      // join (the exploded-shingle form it is spec-pinned against kept
      // feeding d3, which needs the shingle rows anyway)
      (s: SparkSession, d: String) => Dedup.minhashCandidatesDirect(Tables.documents(s, d)),
      Some(Oracle.withSql(LSH, "SELECT a, b FROM cand"))),

    ("d3_dedup_jaccard_verify",
      (s: SparkSession, d: String) => Dedup.jaccardVerifyFrom(
        Dedup.shinglesCached(s, d), maxPairs = Some(50000)),
      Some(Oracle.withSql(LSH,
        """, candc AS (SELECT a, b FROM cand
          |            ORDER BY md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), a, b
          |            LIMIT 50000),
          |sz AS (SELECT doc_id, count(*) AS n FROM shu GROUP BY doc_id),
          |inter AS (
          |  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS i
          |  FROM shu sa JOIN shu sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
          |  GROUP BY 1, 2)
          |SELECT c.a, c.b,
          |       (100 * COALESCE(i.i, 0)) // (sa.n + sb.n - COALESCE(i.i, 0)) AS jacc_pct
          |FROM candc c LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
          |JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id""".stripMargin))),

    ("d4_dedup_simhash",
      (s: SparkSession, d: String) => Dedup.simhash(Tables.documents(s, d)),
      Some(Oracle.withSql(SIMHASH,
        "SELECT doc_id, simhash FROM sh"))),

    // Scale path: exact cosine only over hyperplane-LSH candidate pairs
    // (mirrors d3's candidate restriction). APPROXIMATE BY CONTRACT
    // (ADVICE r2): at this low registered threshold (cos>=0.4, the weak
    // fixture-pair regime) LSH recall vs brute force is ~0.9 — the oracle
    // mirrors the LSH restriction, so parity checks the bucketed plan, not
    // exhaustiveness. The EXACT all-pairs contract is the separate d5b
    // entry below; recall of this entry vs d5b is measured in
    // SimilarityLshSpec and near-1 at production near-dup thresholds.
    // The oracle derives r with the same INTEGER ceil-log2 as
    // Similarity.bitsFor (bits in n-1) — float log2 desyncs at n ≳ 2^47.
    ("d5_dedup_embedding_cosine",
      (s: SparkSession, d: String) =>
        Similarity.cosinePairsLsh(Tables.embeddings(s, d), minCosScaled = 400000L),
      Some(EMB_LSH +
        "\nSELECT x, y, cos_scaled FROM p WHERE cos_scaled >= 400000")),

    // ---- D9: SemDeDup-style SEMANTIC dedup (Abbas et al. '23 dedup
    //      SemDeDup clusters by embedding cosine): the d5 LSH candidate
    //      pairs closed transitively (x2's CC label-prop on the pair
    //      graph) into semantic clusters, one keeper per cluster — the
    //      embedding-space twin of x2's lexical clusters. Cost ∝ the
    //      near-dup structure (pair graph), never corpus² ----
    ("d9_semantic_clusters",
      (s: SparkSession, d: String) =>
        Dedup.semanticClusters(Tables.embeddings(s, d)),
      Some(EMB_LSH.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |cand2 AS (SELECT x, y FROM p WHERE cos_scaled >= 400000),
        |csym AS (SELECT x AS src, y AS dst FROM cand2
        |         UNION ALL SELECT y AS src, x AS dst FROM cand2),
        |cverts AS (SELECT DISTINCT src AS id FROM csym),
        |reach(id, r) AS (
        |  SELECT id, id FROM cverts
        |  UNION
        |  SELECT w.id, n.dst FROM reach w JOIN csym n ON w.r = n.src),
        |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
        |SELECT label AS keep_id, count(*) AS cluster_n
        |FROM labels GROUP BY label""".stripMargin)),
    // D3b: the production composition — exact-dedup collapse FIRST, then
    // LSH + Jaccard verify over one representative per distinct text.
    // Pairwise verify is quadratic in dup-cluster size, so this ordering
    // is what keeps a real corpus (where popularity makes clusters fat)
    // near-linear: at sf1 the replicated fixture grows d3's pairs ~100×
    // while d3b stays at the sf0.1 profile. Same fragments as d3, over
    // the deduped document set. Since r6 this composition IS
    // jaccardVerify's default path (collapse unless allPairs=true), so
    // the entry exercises the default API verbatim.
    ("d3b_dedup_verify_after_exact",
      (s: SparkSession, d: String) =>
        Dedup.jaccardVerify(Tables.documents(s, d)),
      Some(Oracle.withSql(
        """reps AS (
          |  SELECT d.* FROM documents d
          |  JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
          |    USING (doc_id)),
          |""".stripMargin + LSH.replace("FROM documents", "FROM reps"),
        """, sz AS (SELECT doc_id, count(*) AS n FROM shu GROUP BY doc_id),
          |inter AS (
          |  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS i
          |  FROM shu sa JOIN shu sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
          |  GROUP BY 1, 2)
          |SELECT c.a, c.b,
          |       (100 * COALESCE(i.i, 0)) // (sa.n + sb.n - COALESCE(i.i, 0)) AS jacc_pct
          |FROM cand c LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
          |JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id""".stripMargin))),

    // D6: benchmark decontamination — distinct token 5-gram collisions
    // between each corpus doc and the held-out benchmark slice
    // (doc_id % 20 = 0). Both sides are distinct (doc, gram-hash) rows;
    // the benchmark side is broadcast (eval sets are small and fixed, the
    // corpus is the 100 TB side), so the corpus is scanned once with no
    // corpus-sized shuffle.
    ("d6_contamination",
      (s: SparkSession, d: String) => Dedup.contamination(Tables.documents(s, d)),
      Some(Oracle.withSql(TextQueries.TOK,
        """, ng AS (
          |  SELECT DISTINCT doc_id,
          |    md5(array_to_string(ts[CAST(u.i AS BIGINT):CAST(u.i AS BIGINT)+4], ' ')) AS h
          |  FROM tok, UNNEST(range(1, len(ts) - 3)) AS u(i)),
          |bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % 20 = 0)
          |SELECT n.doc_id, count(*) AS n_contam
          |FROM ng n JOIN bench b USING (h)
          |WHERE n.doc_id % 20 <> 0
          |GROUP BY n.doc_id""".stripMargin))),

    // D6b: identical gate through the Bloom-prefilter path — the sketch
    // probe prunes the corpus grams map-side and the exact verify join
    // only sees survivors; same rows as d6 by construction (no false
    // negatives + exact verify), so the oracle is shared.
    ("d6b_contamination_bloom",
      (s: SparkSession, d: String) => Dedup.contaminationBloom(Tables.documents(s, d)),
      Some(Oracle.withSql(TextQueries.TOK,
        """, ng AS (
          |  SELECT DISTINCT doc_id,
          |    md5(array_to_string(ts[CAST(u.i AS BIGINT):CAST(u.i AS BIGINT)+4], ' ')) AS h
          |  FROM tok, UNNEST(range(1, len(ts) - 3)) AS u(i)),
          |bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % 20 = 0)
          |SELECT n.doc_id, count(*) AS n_contam
          |FROM ng n JOIN bench b USING (h)
          |WHERE n.doc_id % 20 <> 0
          |GROUP BY n.doc_id""".stripMargin))),

    // D7: MOSS overlap candidates — winnowing fingerprints, high-df cut,
    // pair on shared fingerprints. The df bound makes the self-join
    // quadratic only inside a ≤maxDf-doc group (the d2 bucket guarantee).
    ("d7_winnow_overlap",
      (s: SparkSession, d: String) => Dedup.winnowOverlap(Tables.documents(s, d)),
      Some(
        """WITH kh AS (
          |  SELECT doc_id,
          |    list_transform(range(1, greatest(length(text) - 6, 2)),
          |      i -> md5(substr(text, CAST(i AS BIGINT), 8))) AS hs
          |  FROM documents),
          |win AS (
          |  SELECT doc_id,
          |    list_sort(list_distinct(list_transform(range(1, greatest(len(hs) - 2, 2)),
          |      j -> list_aggregate(hs[CAST(j AS BIGINT):CAST(j AS BIGINT)+3], 'min')))) AS fps
          |  FROM kh),
          |pr AS (SELECT doc_id, unnest(fps) AS fp FROM win),
          |rare AS (SELECT fp FROM pr GROUP BY fp HAVING count(*) <= 8),
          |prr AS (SELECT pr.doc_id, pr.fp FROM pr JOIN rare USING (fp)),
          |pairs AS (
          |  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS shared
          |  FROM prr a JOIN prr b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT x, y, shared FROM pairs WHERE shared >= 5""".stripMargin)),

    // ---- D8: span-level exact dedup (C4 / Lee et al. '21 — remove
    //      duplicated spans, keep the rest of the document). 10-word
    //      blocks; first global occurrence by (doc_id, idx) wins; each
    //      document reassembled from its survivors and fingerprinted ----
    ("d8_dedup_spans",
      (s: SparkSession, d: String) => Dedup.spanDedup(Tables.documents(s, d)),
      Some(
        """WITH s1 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          |s2 AS (SELECT doc_id, unnest(range(0, (len(ts) + 9) // 10)) AS idx, ts FROM s1),
          |blk AS (SELECT doc_id, idx,
          |          array_to_string(ts[(idx*10+1):(idx*10+10)], ' ') AS block FROM s2),
          |kept AS (SELECT doc_id, idx, block FROM (
          |  SELECT doc_id, idx, block,
          |         row_number() OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn
          |  FROM blk) WHERE rn = 1),
          |reb AS (SELECT doc_id, count(*) AS n_kept,
          |          md5(string_agg(block, ' ' ORDER BY idx)) AS kept_fp
          |        FROM kept GROUP BY doc_id),
          |tot AS (SELECT doc_id, count(*) AS n_blocks FROM blk GROUP BY doc_id)
          |SELECT t.doc_id, t.n_blocks, COALESCE(r.n_kept, 0) AS n_kept,
          |       COALESCE(r.kept_fp, md5('')) AS kept_fp
          |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id""".stripMargin)),

    // ---- X2: near-dup CLUSTERS — transitive closure over the d2
    //      candidate pairs (CC label propagation on the pair graph),
    //      one keeper per cluster: the rule a corpus build acts on ----
    ("x2_neardup_clusters",
      (s: SparkSession, d: String) => Dedup.nearDupClusters(Tables.documents(s, d)),
      Some(Oracle.withSql(CLUSTERS,
        """SELECT label AS keep_id, count(*) AS cluster_n
          |FROM labels GROUP BY label""".stripMargin))),

    // The EXACT near-duplicate contract: all-pairs cosine with precomputed
    // norms — O(n²·dim), the small-N / final-verify reference that d5's
    // LSH path approximates (the r4 scale probe in PERF_ARCHIVE.md timed
    // the crossover: LSH 5.2 s → 8.0 s for 16× data, all-pairs 27 s; at
    // 100 TB only the bucketed path survives). BOUNDED (VERDICT r9 wrong #2):
    // past 4000 vectors the join runs over the 4000 md5-lowest vec_ids
    // (loud stderr; no-op at the oracle-gated fixtures, engages at the
    // sf1 replica) — the input cap that keeps this graded baseline from
    // growing quadratically with fixture size while staying exact
    // all-pairs within the capped set.
    ("d5b_dedup_embedding_cosine_exact",
      (s: SparkSession, d: String) =>
        Similarity.cosinePairs(Tables.embeddings(s, d), minCosScaled = 400000L,
          maxVectors = Some(4000)),
      Some(
        """WITH capped AS (
          |  SELECT * FROM embeddings
          |  ORDER BY md5('d5b|' || CAST(vec_id AS VARCHAR)), vec_id
          |  LIMIT 4000),
          |nrm AS (
          |  SELECT vec_id, embedding,
          |    sqrt(list_reduce(list_transform(embedding,
          |      t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), (s, v) -> s + v)) AS nrm
          |  FROM capped)
          |SELECT a.vec_id AS x, b.vec_id AS y,
          |  CAST(floor(
          |    list_reduce(list_transform(list_zip(a.embedding, b.embedding),
          |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (s, v) -> s + v)
          |    / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_scaled
          |FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
          |WHERE CAST(floor(
          |    list_reduce(list_transform(list_zip(a.embedding, b.embedding),
          |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (s, v) -> s + v)
          |    / (a.nrm * b.nrm) * 1000000) AS BIGINT) >= 400000""".stripMargin)),

    // ---- D11: blocked fuzzy join (entity resolution): candidate pairs
    //      restricted to a cheap BLOCKING key (the name's last word)
    //      before the quadratic edit-distance verify runs — the classic
    //      ER shape, and the string-similarity sibling of d2's LSH bands
    //      / e3's IVF cells: quadratic work confined inside blocks, the
    //      block equi-join is the only corpus-sized exchange. Both
    //      engines compute unit-cost Levenshtein ----
    ("d11_fuzzy_blocked_join",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val names = Tables.part(s, d).select(col("p_name")).distinct()
          .withColumn("blk", regexp_extract(col("p_name"), "[a-z]+$", 0))
        val a = names.select(col("blk"), col("p_name").as("na"))
        val b = names.select(col("blk"), col("p_name").as("nb"))
        // compute the O(|s|²) edit distance ONCE per candidate pair:
        // Spark does not CSE across a Filter and a later Project
        a.join(b, Seq("blk")).filter(col("na") < col("nb"))
          .withColumn("dist", levenshtein(col("na"), col("nb")).cast("long"))
          .filter(col("dist") <= 2)
          .select("na", "nb", "dist")
      },
      Some(
        """WITH names AS (SELECT DISTINCT p_name FROM part),
          |blk AS (SELECT p_name, regexp_extract(p_name, '[a-z]+$') AS blk FROM names)
          |SELECT a.p_name AS na, b.p_name AS nb,
          |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
          |FROM blk a JOIN blk b ON a.blk = b.blk AND a.p_name < b.p_name
          |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin)),
  )
}
