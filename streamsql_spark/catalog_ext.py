"""Extension-operator catalog entries: dedup, similarity search, text
analysis, multimodal — the LLM-training-data pipeline surface (graded
alongside SURVEY §2).

Every oracle replicates the operator's exact algorithm in DuckDB SQL —
md5-derived hashing keeps the two engines bit-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import CATALOG, Entry
from .session import load_tables

# ---------------------------------------------------------------- dedup


# deterministic synthetic URLs (the fixture has none): three surface
# forms per canonical target — mixed-case host + default port +
# tracking param, the bare form, and a fragment variant — so the
# canonicalizer's collapses are what the dedup actually exercises
_URL_SYNTH = (
    "CASE CAST(doc_id % 3 AS INT)"
    " WHEN 0 THEN concat('HTTP://Site', CAST(doc_id % 50 AS STRING),"
    "   '.COM:80/p/', CAST(doc_id % 100 AS STRING), '/?utm_source=x')"
    " WHEN 1 THEN concat('http://site', CAST(doc_id % 50 AS STRING),"
    "   '.com/p/', CAST(doc_id % 100 AS STRING))"
    " ELSE concat('http://site', CAST(doc_id % 50 AS STRING),"
    "   '.com/p/', CAST(doc_id % 100 AS STRING), '#sec') END")


def _run_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-key dedup family, kind-tagged: content dedup (md5 of the
    text) and URL dedup (md5 of the C4-style CANONICAL url — lowercased
    scheme/host, fragment and tracking params stripped, default port
    and trailing slash removed), both one hash-groupBy with min-id
    representative.  The three synthesized surface forms per target
    collapse to one digest only if the canonicalizer does its job —
    which the value hash verifies against the same chain in DuckDB."""
    from pyspark.sql import functions as F

    from .operators.dedup import exact_dedup, incremental_dedup
    from .operators.text import url_dedup
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    exact = exact_dedup(docs, ["text"], "doc_id") \
        .withColumn("kind", F.lit("text"))
    urls = docs.select("doc_id", F.expr(_URL_SYNTH).alias("url"))
    u = url_dedup(urls).withColumn("kind", F.lit("url"))
    # cross-run incremental dedup (merged r5): treat doc_id % 4 == 0 as
    # tonight's batch against the rest as the already-ingested corpus —
    # only digests unseen by history survive (digest LEFT ANTI)
    incr = incremental_dedup(docs.where("doc_id % 4 = 0"),
                             docs.where("doc_id % 4 != 0"),
                             ["text"], "doc_id") \
        .withColumn("kind", F.lit("incr"))
    return (exact.unionByName(u).unionByName(incr)
            .select("kind", "digest", "keep_id", "n_copies"))


CATALOG["dedup_exact"] = Entry(
    _run_dedup_exact,
    r"""
    WITH urls AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'HTTP://Site' || (doc_id % 50) || '.COM:80/p/' ||
                           (doc_id % 100) || '/?utm_source=x'
               WHEN 1 THEN 'http://site' || (doc_id % 50) || '.com/p/' || (doc_id % 100)
               ELSE 'http://site' || (doc_id % 50) || '.com/p/' || (doc_id % 100) || '#sec'
             END AS url
      FROM documents),
    c0 AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
               || regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS u
      FROM urls),
    c1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM c0),
    c2 AS (SELECT doc_id, regexp_replace(u,
             '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*', '\1', 'g') AS u FROM c1),
    c3 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '') AS u FROM c2),
    c4 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '&{2,}', '&', 'g'),
             '\?&', '?', 'g') AS u FROM c3),
    c5 AS (SELECT doc_id, regexp_replace(u,
             '^([A-Za-z]+://[^/?#]+):(?:80|443)([/?#]|$)', '\1\2') AS u FROM c4),
    c6 AS (SELECT doc_id, regexp_replace(u,
             '^([A-Za-z]+://[^?#]*[^?#/])/+(\?|$)', '\1\2') AS u FROM c5)
    SELECT 'text' AS kind, md5(coalesce(CAST(text AS VARCHAR), '')) AS digest,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'url' AS kind, md5(u) AS digest, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM c6 GROUP BY 2
    UNION ALL
    SELECT 'incr' AS kind, md5(coalesce(CAST(text AS VARCHAR), '')) AS digest,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents d
    WHERE doc_id % 4 = 0
      AND NOT EXISTS (
          SELECT 1 FROM documents h
          WHERE h.doc_id % 4 != 0
            AND md5(coalesce(CAST(h.text AS VARCHAR), '')) =
                md5(coalesce(CAST(d.text AS VARCHAR), '')))
    GROUP BY 2
    """,
    "extension: exact-key dedup family — content dedup (text md5) + "
    "URL dedup on the C4-style canonical form (case/fragment/tracking-"
    "param/port/slash normalization, RE2-safe chain shared with the "
    "oracle) + cross-run incremental dedup (merged r5: new batch LEFT "
    "ANTI history on the digest); hash-groupBy, min-id representative")


def _run_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.skew import salted_aggregate
    t = load_tables(spark, sf_dir)
    out = salted_aggregate(
        t["events"], ["event_type"],
        {"cnt": ("count", "*"), "total": ("sum", "value"),
         "vmax": ("max", "value"), "mean": ("avg", "value")},
        n_salts=16)
    return out.select("event_type", "cnt",
                      F.round("total", 4).alias("total"),
                      F.round("vmax", 4).alias("vmax"),
                      F.round("mean", 4).alias("mean"))


CATALOG["agg_salted_skew"] = Entry(
    _run_salted_skew,
    """
    SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total,
           round(max(value), 4) AS vmax, round(avg(value), 4) AS mean
    FROM events GROUP BY event_type
    """,
    "extension: salted two-phase aggregation for skewed keys "
    "(hot key sharded over n_salts reducers; partial→final combine)")


def _run_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_dedup_pairs
    t = load_tables(spark, sf_dir)
    return minhash_dedup_pairs(t["documents"], "text", "doc_id",
                               num_hashes=12, bands=4, shingle_k=3,
                               threshold=0.5)


def _minhash_oracle_consts() -> str:
    from .operators.dedup import _mh_consts
    a, b = _mh_consts(12)
    return (f"[{', '.join(str(x) for x in a)}]",
            f"[{', '.join(str(x) for x in b)}]")


_MH_A, _MH_B = _minhash_oracle_consts()

_MINHASH_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                        i -> array_to_string(w[i+1:i+3], ' ')) AS shingles
  FROM toks
), base AS (
  SELECT doc_id,
         list_transform(shingles, s ->
           ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hs
  FROM sh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 12), i ->
           list_min(list_transform(hs, h ->
             (({_MH_A}[i+1] * h + {_MH_B}[i+1]) % 2147483647)))) AS sig
  FROM base
), banded AS (
  SELECT doc_id, sig, b.band,
         md5(array_to_string(list_transform(range(1, 4),
             j -> CAST(sig[b.band * 3 + j] AS VARCHAR)), ',')) AS bucket
  FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS band) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(list_sum(list_transform(range(1, 13),
            j -> CASE WHEN sig_a[j] = sig_b[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 12
           AS est_jaccard
FROM pairs
WHERE CAST(list_sum(list_transform(range(1, 13),
          j -> CASE WHEN sig_a[j] = sig_b[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 12 >= 0.5
"""

CATALOG["dedup_minhash_lsh"] = Entry(
    _run_dedup_minhash, _MINHASH_ORACLE,
    "extension: MinHash+LSH near-dup (shingle→minhash→band→bucket-join)")


def _run_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_dedup_pairs
    t = load_tables(spark, sf_dir)
    # scope bounded: the synthetic corpus shares a ~50-word vocabulary, so
    # loose hamming radii match nearly everything — not representative of
    # a real corpus where the chunk-LSH prunes hard
    docs = t["documents"].where("doc_id < 1000")
    return simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=4)


_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents
  WHERE doc_id < 1000
), bitsum AS (
  SELECT doc_id,
         list_transform(range(0, 64), b ->
           list_sum(list_transform(w, t ->
             CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) = 1
                  THEN 1 ELSE -1 END))) AS acc
  FROM toks
), fp AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 64), b ->
           CASE WHEN acc[b + 1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS simhash
  FROM bitsum
), chunks AS (
  SELECT doc_id, simhash, c.chunk, (simhash >> (c.chunk * 15)) & 32767 AS val
  FROM fp, LATERAL (SELECT unnest(range(0, 4)) AS chunk) c
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""

CATALOG["dedup_simhash"] = Entry(
    _run_dedup_simhash, _SIMHASH_ORACLE,
    "extension: SimHash near-dup (60-bit fingerprint, 15-bit chunk LSH)")


def _run_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_pairs
    t = load_tables(spark, sf_dir)
    # bounded scope (see simhash note): the synthetic corpus shares a
    # ~31-word vocabulary, so near-dup density is quadratic by
    # construction; the df-cut (max_token_df) is the scale lever — here
    # it drops the most-common half of the vocabulary from the postings
    # (median df ≈ 390 in scope), exercising cut + exact re-verify
    docs = t["documents"].where("doc_id < 500")
    return jaccard_pairs(docs, "text", "doc_id", threshold=0.8,
                         max_token_df=390)


CATALOG["dedup_ngram_jaccard"] = Entry(
    _run_dedup_jaccard,
    """
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents
      WHERE doc_id < 500
    ), p AS (
      SELECT doc_id, unnest(w) AS tok FROM toks
    ), rare AS (
      SELECT tok FROM p GROUP BY tok HAVING count(*) <= 390
    ), pr AS (
      SELECT p.doc_id, p.tok FROM p JOIN rare USING (tok)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pr a JOIN pr b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ), j AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(ta.w, tb.w)) AS inter,
             len(ta.w) AS na, len(tb.w) AS nb
      FROM cand c JOIN toks ta ON ta.doc_id = c.id_a
                  JOIN toks tb ON tb.doc_id = c.id_b)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM j
    WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.8
    """,
    "extension: token-set Jaccard near-dup — df-cut postings join for "
    "candidates (fan-out <= max_token_df^2 per token), exact "
    "intersection re-verify on the full token sets")


# ----------------------------------------------------------- similarity

_COS_ORACLE_EXPR = """
  list_sum(list_transform(range(1, 65),
    j -> {a}[j]::DOUBLE * {b}[j]::DOUBLE))
  / (sqrt(list_sum(list_transform(range(1, 65), j -> {a}[j]::DOUBLE * {a}[j]::DOUBLE)))
   * sqrt(list_sum(list_transform(range(1, 65), j -> {b}[j]::DOUBLE * {b}[j]::DOUBLE))))
"""


def _run_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup PAIRS + SemDeDup keep/drop decisions
    in one entry (kind-tagged): 'pair' rows are the cluster-blocked
    pairwise similarities; 'sem' rows resolve those pairs through
    connected components and keep the max-``label`` member per semantic
    group (label stands in for a quality score — the election topology
    is what matters), ties broken by min id.  The oracle recomputes the
    transitive closure with a recursive CTE and the same election."""
    from pyspark.sql import functions as F

    from .operators.dedup import embedding_neardup_pairs, semantic_dedup
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    # ONE pair computation feeds both outputs (the BLAS pair kernel is
    # the expensive stage; the election reuses it via the pairs param)
    raw_pairs = embedding_neardup_pairs(emb, threshold=0.4, n_centroids=8) \
        .localCheckpoint(eager=False)
    pairs = raw_pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").alias("a"), F.col("id_b").alias("b"),
        F.col("sim").alias("val"))
    sem = (semantic_dedup(emb, "label", threshold=0.4, n_centroids=8,
                          pairs=raw_pairs)
           .select(F.lit("sem").alias("kind"),
                   F.col("vec_id").alias("a"),
                   F.col("cluster_id").alias("b"),
                   F.col("keep").cast("double").alias("val")))
    return pairs.unionByName(sem)


_EMB_PAIRS_ORACLE = f"""
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                  FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 round({_COS_ORACLE_EXPR.format(a='v.embedding', b='c.c_emb')}, 6) DESC,
                 c.centroid_id) AS rn
        FROM embeddings v, cent c) WHERE rn = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_ORACLE_EXPR.format(a='a.embedding', b='b.embedding')}, 6) AS sim
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE round({_COS_ORACLE_EXPR.format(a='a.embedding', b='b.embedding')}, 6) >= 0.4
"""

CATALOG["dedup_embedding_cosine"] = Entry(
    _run_dedup_embedding,
    f"""
    WITH RECURSIVE pairs AS ({_EMB_PAIRS_ORACLE}),
    und AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk(node, reach) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT w.node, u.d FROM walk w JOIN und u ON u.s = w.reach
    ),
    comp AS (
      SELECT node, min(reach) AS cluster_id FROM walk GROUP BY node
    ),
    sem AS (
      SELECT c.node, c.cluster_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY e.label DESC, c.node) AS rk
      FROM comp c JOIN embeddings e ON e.vec_id = c.node)
    SELECT 'pair' AS kind, id_a AS a, id_b AS b, sim AS val FROM pairs
    UNION ALL
    SELECT 'sem' AS kind, node AS a, cluster_id AS b,
           CAST(CAST(rk = 1 AS INT) AS DOUBLE) AS val
    FROM sem
    """,
    "extension: embedding-cosine near-dup (cluster-blocked pairwise "
    "sim) + SemDeDup semantic dedup — pairs -> connected components -> "
    "highest-quality keeper per group, vs a recursive-CTE closure + "
    "same-election oracle")


def _run_ann_bruteforce_and_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four ANN strategies in one entry, tagged with their method
    (merged to keep the catalog at the driver's 50-entry gate):

    - exact brute-force cosine top-k — the baseline;
    - product quantization (k-means codebooks → ADC lookup-table scan
      in a vectorized Arrow kernel → exact rerank of k·refine
      candidates) — must reproduce the exact rows, so the oracle lists
      the exact top-k again: any candidate the PQ pruning misses fails
      the value hash, an executable recall == 1.0 bound on the fixture;
    - sharded NSW-graph beam search (per-partition small-world graphs,
      exact global rerank) — held to the same exact-list oracle: on
      fixture-sized shards the ef_search=32 beam is near-exhaustive,
      so any layout-induced candidate miss fails the hash;
    - IVF over KMEANS-TRAINED cells (merged r5): ``kmeans_fit(emb,
      k=8, max_iter=1)`` — min-id init, one full Lloyd iteration
      (row-local assign → distributed elementwise means) — supplies
      the centroids; the oracle replicates the ENTIRE iteration in
      DuckDB (init → argmin assign → per-dimension avg, all at the 6dp
      rounding contract) and then the probe-pruned search against the
      trained cells, so the distributed trainer itself is
      value-hash-checked (probe pruning legitimately diverges from
      exact)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from .operators.similarity import (cosine_topk, graph_topk, ivf_topk,
                                       kmeans_fit, pq_topk)
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    q = emb.where("vec_id < 3")
    # the three builders that run driver-side jobs (pq: query+codebook
    # collects; kmeans→ivf: init + Lloyd-means collects; graph: query
    # collect) are independent — submit them from a small thread pool
    # so their jobs overlap on the shared scheduler instead of running
    # back-to-back (guide §2.6); results are the same DataFrames
    exact = cosine_topk(emb, q, k=5).withColumn("method", F.lit("exact"))
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_pq = pool.submit(pq_topk, emb, q, 5)
        f_ivf = pool.submit(
            lambda: ivf_topk(emb, q, k=5, nprobe=2,
                             centroids=kmeans_fit(emb, k=8, max_iter=1)))
        f_graph = pool.submit(graph_topk, emb, q, 5)
        pq = f_pq.result().withColumn("method", F.lit("pq"))
        ivf = f_ivf.result().withColumn("method", F.lit("ivf"))
        graph = f_graph.result().withColumn("method", F.lit("graph"))
    return exact.unionByName(pq).unionByName(ivf).unionByName(graph)


CATALOG["ann_cosine_bruteforce"] = Entry(
    _run_ann_bruteforce_and_pq,
    f"""
    WITH init AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS ce
      FROM embeddings WHERE vec_id < 8
    ),
    a0 AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, i.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 round({_COS_ORACLE_EXPR.format(a='v.embedding', b='i.ce')}, 6) DESC,
                 i.cid) AS rn
        FROM embeddings v, init i) WHERE rn = 1
    ),
    upd AS (
      SELECT a.cid, p.pos,
             round(avg(CAST(a.embedding[p.pos] AS DOUBLE)), 6) AS m
      FROM a0 a, (SELECT unnest(generate_series(1, 64)) AS pos) p
      GROUP BY a.cid, p.pos
    ),
    cent AS (
      SELECT i.cid AS centroid_id, coalesce(u.vec, i.ce) AS c_emb
      FROM init i LEFT JOIN (
        SELECT cid, list(m ORDER BY pos) AS vec FROM upd GROUP BY cid) u
      ON i.cid = u.cid
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 round({_COS_ORACLE_EXPR.format(a='v.embedding', b='c.c_emb')}, 6) DESC,
                 c.centroid_id) AS rn
        FROM embeddings v, cent c) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 3),
    sims AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             {_COS_ORACLE_EXPR.format(a='v.embedding', b='q.q_emb')} AS sim
      FROM embeddings v, q WHERE v.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
      FROM sims
    ), topk AS (
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             round(sim, 6) AS sim
      FROM ranked WHERE rank <= 5
    ),
    probes AS (
      SELECT query_id, q_emb, centroid_id FROM (
        SELECT q.query_id, q.q_emb, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round({_COS_ORACLE_EXPR.format(a='q.q_emb', b='c.c_emb')}, 6) DESC,
                 c.centroid_id) AS rn
        FROM q, cent c) WHERE rn <= 2
    ),
    icand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS_ORACLE_EXPR.format(a='a.embedding', b='p.q_emb')} AS sim
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id != p.query_id
    ), iranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
      FROM icand
    )
    SELECT query_id, neighbor_id, rank, sim, 'exact' AS method FROM topk
    UNION ALL
    SELECT query_id, neighbor_id, rank, sim, 'pq' AS method FROM topk
    UNION ALL
    SELECT query_id, neighbor_id, rank, sim, 'graph' AS method FROM topk
    UNION ALL
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(sim, 6) AS sim, 'ivf' AS method
    FROM iranked WHERE rank <= 5
    """,
    "extension: ANN quartet — exact brute-force cosine top-k; "
    "product-quantization (ADC kernel, exact rerank); sharded "
    "NSW-graph beam search (per-partition small-world graphs, exact "
    "global rerank) — PQ and graph are hash-checked against the exact "
    "list, i.e. recall@5 = 1.0 on the fixture; and IVF (centroid "
    "assign → probe-pruned search) against its algorithm-replica "
    "oracle")


# -------------------------------------------------------- text analysis


def _run_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole text-analysis family in one Catalyst plan: language-ID
    (stopword profiles), quality features + composite score, token
    counting (whitespace + BPE-ish regex), winnowing-style rolling-hash
    fingerprint — all pure column expressions, no Python in the loop."""
    from .operators.text import (fingerprint, language_id,
                                 linear_quality_score, ngram_lm_fit,
                                 perplexity_score, quality_features,
                                 token_counts)
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # ONE parquet scan for the whole family (r14, guide §5/§2.4): the
    # feature chain, the LM fit and the perplexity pair explode each
    # consumed their own scan of `documents` (narrow chains share no
    # exchange, so AQE cannot dedup them) — persist the narrow
    # (doc_id, text) base they all derive from instead.  Spread BEFORE
    # the persist: the 1-split local scan would otherwise cache as one
    # partition and serialize every downstream kernel.  Registered via
    # register_persisted AFTER the ppl_buckets call so the current
    # run's cut keeps it alive and the next run reclaims it.  At
    # 100 TB persist() is MEMORY_AND_DISK — the trade is one corpus
    # copy on local disk vs three full parquet re-scans.
    from .operators.text import ppl_buckets, register_persisted
    from .session import ensure_parallelism
    base = ensure_parallelism(docs.select("doc_id", "text")).persist()
    try:
        feat = fingerprint(token_counts(quality_features(language_id(base))))
        feat = linear_quality_score(feat, _CLF_WEIGHTS, bias=_CLF_BIAS)
        # CCNet-style perplexity under a bigram LM self-trained on the
        # corpus (merged r4): every gram is in-model, so the score is a
        # deterministic function of the counts on both engines
        uni, big, v = ngram_lm_fit(base)
        feat = perplexity_score(feat, uni, big, v)
        # head/middle/tail cut (merged r5): exact percentiles here so
        # the DuckDB quantile_cont replica hash-matches — the row-guard
        # bounds the holistic aggregate; at corpus scale the approx
        # default applies
        feat = ppl_buckets(feat, exact=True, probe_df=docs)
    except BaseException:
        base.unpersist()  # not registered yet: nothing else frees it
        raise
    register_persisted(base)
    return feat.select(
        "doc_id", "lang_pred", "lang_score",
        "n_chars_m", "n_tokens", "mean_tok_len", "punct_ratio",
        "digit_ratio", "uniq_token_ratio", "quality_score", "clf_score",
        "ws_tokens", "subword_tokens", "est_bpe_tokens", "fingerprint",
        "ppl", "ppl_bucket")


# demo weight table for the fastText/CCNet-style linear quality
# classifier — at production scale this is the trained model's
# token->weight map (hashed buckets), loaded not hand-written; the
# fixture table spans the synthetic vocabulary so scores vary
_CLF_WEIGHTS: dict[str, float] = {
    "the": 0.9, "a": 0.5, "data": 1.2, "query": 1.0, "table": 0.8,
    "value": 0.4, "fast": 0.7, "slow": -1.5, "big": -0.6, "spark": 1.1,
}
_CLF_BIAS = -0.4


def _sq(s: str) -> str:
    """Standard-SQL single-quote escaping for a string literal body —
    vocabulary tokens come from raw corpus text ("don't"), so they must
    never be interpolated unescaped."""
    return s.replace("'", "''")


def _clf_score_oracle() -> str:
    cases = " ".join(f"WHEN '{_sq(t)}' THEN {w!r}"
                     for t, w in sorted(_CLF_WEIGHTS.items()))
    w = "string_split(text, ' ')"
    total = (f"list_sum(list_transform({w}, t -> "
             f"CASE t {cases} ELSE 0.0 END))")
    logit = f"({total}) / greatest(len({w}), 1) + ({_CLF_BIAS!r})"
    return f"round(1.0 / (1.0 + exp(-({logit}))), 6)"


def _lang_score_oracle(lang_words: tuple[str, ...]) -> str:
    sw = ", ".join(f"'{_sq(w)}'" for w in lang_words)
    return (f"round(CAST(len(list_filter(string_split(lower(text), ' '), "
            f"t -> list_contains([{sw}], t))) AS DOUBLE)"
            f" / greatest(len(string_split(lower(text), ' ')), 1), 6)")


def _text_analysis_oracle() -> str:
    from .operators.text import LANG_PROFILES
    structs = ", ".join(
        f"{{'score': {_lang_score_oracle(sw)}, 'lang': '{lang}'}}"
        for lang, sw in LANG_PROFILES.items())
    return rf"""
    WITH fp AS (
      SELECT doc_id,
             list_sort(list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
               i -> ('0x' || substr(md5(array_to_string(
                      (string_split(text, ' '))[i+1:i+4], ' ')), 1, 15))::BIGINT)) AS h
      FROM documents),
    f AS (
      SELECT doc_id,
             CASE WHEN list_max([{structs}]).score > 0
                  THEN list_max([{structs}]).lang ELSE 'und' END AS lang_pred,
             list_max([{structs}]).score AS lang_score,
             CAST(length(text) AS INT) AS n_chars_m,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             round(CAST(list_sum(list_transform(string_split(text, ' '),
                   t -> length(t))) AS DOUBLE)
                   / greatest(len(string_split(text, ' ')), 1), 6) AS mean_tok_len,
             round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1), 6) AS punct_ratio,
             round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1), 6) AS digit_ratio,
             round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / greatest(len(string_split(text, ' ')), 1), 6) AS uniq_token_ratio,
             CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0)) AS INT)
                 AS subword_tokens,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
             {_clf_score_oracle()} AS clf_score
      FROM documents)
    , tk AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
    vv AS (SELECT count(*) AS vs FROM uni),
    bp AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk)),
    bg AS (SELECT w1, w2, count(*) AS c12 FROM bp GROUP BY w1, w2),
    pp AS (
      SELECT bp.doc_id,
             round(exp(-sum(ln((bg.c12 + 0.1) / (uni.c1 + 0.1 * vv.vs)))
                       / count(*)), 4) AS ppl
      FROM bp JOIN bg USING (w1, w2) JOIN uni ON bp.w1 = uni.w
      CROSS JOIN vv
      GROUP BY bp.doc_id),
    cuts AS (
      SELECT round(quantile_cont(ppl, 0.3333333333333333), 6) AS p_lo,
             round(quantile_cont(ppl, 0.6666666666666666), 6) AS p_hi
      FROM pp)
    SELECT f.*,
           round(least(n_tokens / 50.0, 1.0) * uniq_token_ratio
                 * (1.0 - least(digit_ratio * 5.0, 1.0))
                 * (1.0 - least(punct_ratio * 5.0, 1.0)), 6) AS quality_score,
           array_to_string(list_transform(fp.h[1:4], x -> CAST(x AS VARCHAR)), '-')
               AS fingerprint,
           pp.ppl AS ppl,
           CASE WHEN pp.ppl IS NULL THEN 'tail'
                WHEN pp.ppl <= cuts.p_lo THEN 'head'
                WHEN pp.ppl <= cuts.p_hi THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM f JOIN fp USING (doc_id) LEFT JOIN pp USING (doc_id)
    CROSS JOIN cuts
    """


CATALOG["text_analysis"] = Entry(
    _run_text_analysis, _text_analysis_oracle(),
    "extension: text-analysis family — language-ID (stopword profiles), "
    "quality features + composite score, fastText/CCNet-style linear "
    "quality classifier (plan-literal weight map, sigmoid over mean "
    "token weight), CCNet perplexity filtering (add-k smoothed bigram "
    "LM fit distributedly, merged r4) with head/middle/tail "
    "percentile buckets (merged r5, quantile_cont replica oracle), "
    "token counting (whitespace + BPE-ish regex), winnowing-style "
    "rolling-hash fingerprint — one Catalyst plan, pure column "
    "expressions")


# ----------------------------------------------------------- multimodal


def _run_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal family, kind-tagged (merged r5):

    - 'image': byte-statistics features over the raw payloads;
    - 'resize': REAL nearest-neighbor resize of synthetic 8×6 P6
      images whose pixel bytes are the document's text bytes (repeated
      to fill) — the oracle replicates the index-gather arithmetic
      byte-for-byte and value-hashes the md5 of the resized payload;
    - 'frame': REAL frame sampling (every 2nd) of a synthetic 3-frame
      concatenated-P6 "video" built the same way — each sampled frame
      re-encoded standalone and digested.

    The P6 construction lives in the QUERY (both engines build the
    same bytes from the same fixture text), so the mapInPandas resize
    and frame-parse kernels themselves are what the hash checks."""
    from pyspark.sql import functions as F

    from .operators.multimodal import (documents_as_media,
                                       extract_features, resize_images,
                                       sample_frames)
    t = load_tables(spark, sf_dir)
    # ASCII-only guard on BOTH engines (Spark: octet_length; DuckDB:
    # strlen): the byte-level replicas equate characters with bytes —
    # a multi-byte document would break the P6 pixel math and the
    # ascii() feature codes identically on neither side
    docs = t["documents"].where(
        "doc_id < 100 AND length(text) >= 1 "
        "AND octet_length(text) = length(text)")
    media = documents_as_media(t["documents"].where(
        "doc_id < 100 AND octet_length(text) = length(text)"))
    nul = lambda ty: F.lit(None).cast(ty)  # noqa: E731
    feats = extract_features(media).select(
        "media_id", "kind", nul("bigint").alias("seq"),
        "n_bytes", "byte_mean", "byte_entropy",
        nul("string").alias("digest"))

    px = ("substring(repeat(text, CAST(ceil(144.0/length(text)) AS INT)"
          " + 1), 1, 144)")
    img = docs.select(
        F.col("doc_id").alias("media_id"), F.lit("image").alias("kind"),
        F.concat(F.lit("P6\n8 6\n255\n"), F.expr(px))
        .cast("binary").alias("payload"),
        F.struct(F.lit("image/x-portable-pixmap").alias("mime"),
                 F.lit(155).cast("long").alias("n_bytes"),
                 F.lit("synthetic-ppm").alias("source")).alias("meta"))
    rz = resize_images(img, 4, 3).select(
        "media_id", F.lit("resize").alias("kind"),
        nul("bigint").alias("seq"),
        F.length("payload").cast("bigint").alias("n_bytes"),
        nul("double").alias("byte_mean"),
        nul("double").alias("byte_entropy"),
        F.md5(F.lower(F.hex("payload"))).alias("digest"))

    p36 = ("substring(repeat(text, CAST(ceil(36.0/length(text)) AS INT)"
           " + 1), 1, 36)")
    seg = (lambda off: F.concat(
        F.lit("P6\n2 2\n255\n"),
        F.expr(f"substring({p36}, {off} + 1, 12)")))
    vid = docs.select(
        F.col("doc_id").alias("media_id"), F.lit("video").alias("kind"),
        F.concat(seg(0), seg(12), seg(24)).cast("binary").alias("payload"),
        F.struct(F.lit("video/x-raw-ppm").alias("mime"),
                 F.lit(69).cast("long").alias("n_bytes"),
                 F.lit("synthetic-ppm").alias("source")).alias("meta"))
    fr = sample_frames(vid, every_n=2).select(
        "media_id", F.lit("frame").alias("kind"),
        F.col("frame_index").cast("bigint").alias("seq"),
        F.length("payload").cast("bigint").alias("n_bytes"),
        nul("double").alias("byte_mean"),
        nul("double").alias("byte_entropy"),
        F.md5(F.lower(F.hex("payload"))).alias("digest"))
    return feats.unionByName(rz).unionByName(fr)


# hex of the P6 headers both engines must agree on byte-for-byte
_PPM_HDR_4x3 = b"P6\n4 3\n255\n".hex()
_PPM_HDR_2x2 = b"P6\n2 2\n255\n".hex()

CATALOG["multimodal_features"] = Entry(
    _run_multimodal,
    f"""
    WITH bytes AS (
      SELECT doc_id AS media_id, 'image' AS kind,
             CAST(length(text) AS BIGINT) AS n_bytes,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents
      WHERE doc_id < 100 AND strlen(text) = length(text)),
    binned AS (
      SELECT media_id, kind, n_bytes, codes,
             list_transform(range(0, 8), b ->
               len(list_filter(codes, c -> (c // 32) = b))) AS bins
      FROM bytes),
    px AS (
      SELECT doc_id AS media_id,
             substr(repeat(text, CAST(ceil(144.0/length(text)) AS INT) + 1),
                    1, 144) AS p,
             substr(repeat(text, CAST(ceil(36.0/length(text)) AS INT) + 1),
                    1, 36) AS p36
      FROM documents
      WHERE doc_id < 100 AND length(text) >= 1
        AND strlen(text) = length(text)),
    rz AS (
      SELECT media_id,
             list_transform(range(0, 36), k ->
               ascii(substr(p,
                 ((k // 12) * 2) * 24 + (((k % 12) // 3) * 2) * 3
                 + (k % 3) + 1, 1))) AS oc
      FROM px)
    SELECT media_id, kind, CAST(NULL AS BIGINT) AS seq, n_bytes,
           round(CAST(list_sum(codes) AS DOUBLE) / n_bytes, 6) AS byte_mean,
           round(-list_sum(list_transform(bins, c ->
               CASE WHEN c > 0 THEN (CAST(c AS DOUBLE)/n_bytes) * log2(CAST(c AS DOUBLE)/n_bytes)
                    ELSE 0 END)), 6) AS byte_entropy,
           CAST(NULL AS VARCHAR) AS digest
    FROM binned
    UNION ALL
    SELECT media_id, 'resize' AS kind, CAST(NULL AS BIGINT) AS seq,
           CAST(47 AS BIGINT) AS n_bytes,
           CAST(NULL AS DOUBLE) AS byte_mean,
           CAST(NULL AS DOUBLE) AS byte_entropy,
           md5('{_PPM_HDR_4x3}' || lower(list_aggregate(
               list_transform(oc, c -> lpad(to_hex(c), 2, '0')),
               'string_agg', ''))) AS digest
    FROM rz
    UNION ALL
    SELECT media_id, 'frame' AS kind, CAST(f AS BIGINT) AS seq,
           CAST(23 AS BIGINT) AS n_bytes,
           CAST(NULL AS DOUBLE) AS byte_mean,
           CAST(NULL AS DOUBLE) AS byte_entropy,
           md5('{_PPM_HDR_2x2}' || lower(list_aggregate(
               list_transform(range(1, 13), i ->
                 lpad(to_hex(ascii(substr(p36, f * 12 + i, 1))), 2, '0')),
               'string_agg', ''))) AS digest
    FROM px, (SELECT unnest([0, 2]) AS f) ff
    """,
    "extension: multimodal family — byte-statistics feature kernel "
    "(codec decode is the documented injection seam) + REAL "
    "nearest-neighbor P6 resize and every-nth frame sampling (merged "
    "r5: synthetic text-byte P6 payloads built identically in both "
    "engines; the oracle replicates the gather arithmetic and "
    "value-hashes each output payload)")


# ------------------------------------------------- composed pipeline


def _run_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep in ONE Catalyst plan: exact-dedup
    survivors → language-ID → quality filter → bigram-LM perplexity
    gate (LM fit on the full corpus, CCNet-style) → deterministic
    train/val/test hash split → token budgeting, rolled up per
    (language, split).  The point is composition: every stage is a
    column-level transform, broadcast join, or one aggregation — no
    Python in the loop, no driver round-trips between stages."""
    from pyspark.sql import functions as F

    from .operators.dedup import exact_dedup
    from .operators.pack import hash_split
    from .operators.text import (language_id, ngram_lm_fit,
                                 perplexity_score, quality_features,
                                 token_counts)

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    reps = exact_dedup(docs, ["text"], "doc_id") \
        .select(F.col("keep_id").alias("doc_id"))
    keep = docs.join(reps, "doc_id", "left_semi")
    uni, big, vocab = ngram_lm_fit(docs)
    feat = token_counts(quality_features(language_id(keep)))
    feat = perplexity_score(feat, uni, big, vocab)
    feat = hash_split(feat, "doc_id",
                      {"train": 0.9, "val": 0.05, "test": 0.05})
    return (feat.filter("quality_score >= 0.05 AND ppl <= 31.0")
                .groupBy("lang_pred", "split")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("est_bpe_tokens").alias("corpus_tokens"),
                     F.round(F.avg("quality_score"), 6).alias("avg_quality"),
                     F.round(F.avg("ppl"), 6).alias("avg_ppl")))


def _pipeline_oracle() -> str:
    from .operators.text import LANG_PROFILES
    structs = ", ".join(
        f"{{'score': {_lang_score_oracle(sw)}, 'lang': '{lang}'}}"
        for lang, sw in LANG_PROFILES.items())
    return f"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id
      FROM documents GROUP BY md5(CAST(text AS VARCHAR))),
    d AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id IN (SELECT doc_id FROM keep)),
    f AS (
      SELECT doc_id,
             CASE WHEN list_max([{structs}]).score > 0
                  THEN list_max([{structs}]).lang ELSE 'und' END AS lang_pred,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1), 6) AS punct_ratio,
             round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1), 6) AS digit_ratio,
             round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / greatest(len(string_split(text, ' ')), 1), 6) AS uniq_token_ratio,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
      FROM d),
    q AS (
      SELECT *, round(least(n_tokens / 50.0, 1.0) * uniq_token_ratio
                      * (1.0 - least(digit_ratio * 5.0, 1.0))
                      * (1.0 - least(punct_ratio * 5.0, 1.0)), 6) AS quality_score
      FROM f),
    tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT w, count(*) AS c1
            FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
    vv AS (SELECT count(*) AS vs FROM uni),
    bp AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk)),
    bg AS (SELECT w1, w2, count(*) AS c12 FROM bp GROUP BY w1, w2),
    pp AS (SELECT bp.doc_id,
                  round(exp(-sum(ln((bg.c12 + 0.1) / (uni.c1 + 0.1 * vv.vs)))
                            / count(*)), 4) AS ppl
           FROM bp JOIN bg USING (w1, w2) JOIN uni ON bp.w1 = uni.w
           CROSS JOIN vv GROUP BY bp.doc_id),
    sp AS (
      SELECT q.*, pp.ppl,
             ('0x' || substr(md5('split' || chr(31)
                                 || CAST(q.doc_id AS VARCHAR)), 1, 7))::BIGINT
                 / 268435456.0 AS u
      FROM q JOIN pp USING (doc_id))
    SELECT lang_pred,
           CASE WHEN u < 0.05 THEN 'test'
                WHEN u < 0.95 THEN 'train' ELSE 'val' END AS split,
           count(*) AS n_docs,
           CAST(sum(est_bpe_tokens) AS BIGINT) AS corpus_tokens,
           round(avg(quality_score), 6) AS avg_quality,
           round(avg(ppl), 6) AS avg_ppl
    FROM sp WHERE quality_score >= 0.05 AND ppl <= 31.0
    GROUP BY lang_pred, CASE WHEN u < 0.05 THEN 'test'
                             WHEN u < 0.95 THEN 'train' ELSE 'val' END
    """


CATALOG["pipeline_training_data"] = Entry(
    _run_training_pipeline, _pipeline_oracle(),
    "extension: composed training-data pipeline (dedup survivors → "
    "language-ID → quality gate → CCNet bigram-LM perplexity gate → "
    "deterministic hash train/val/test split → token budget) in one "
    "Catalyst plan (perplexity + split merged r4)")


# ------------------------------------------- duplicate-cluster resolution


def _run_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: SimHash candidate pairs fed
    through distributed connected components (alternating large-star /
    small-star, Kiveris et al. SoCC'14 — O(log n) hash-shuffle rounds,
    see operators/graph.py), then per-cluster representative election.
    This is the step an LLM dedup pipeline runs between "find similar
    pairs" and "drop the copies": transitive closure, min-id keeps."""
    from .operators.dedup import simhash_dedup_pairs
    from .operators.graph import dedup_clusters
    t = load_tables(spark, sf_dir)
    docs = t["documents"].where("doc_id < 1000")
    pairs = simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=4)
    return dedup_clusters(docs, pairs, "doc_id")


def _cluster_cc_oracle() -> str:
    # transitive closure by recursive CTE over the SAME simhash edge set
    # the Spark side computes (nested full oracle as the edge CTE) —
    # min reachable id IS the component id
    return f"""
    WITH RECURSIVE edges AS ({_SIMHASH_ORACLE}),
    und AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM edges
    ),
    walk(node, reach) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 1000
      UNION
      SELECT w.node, u.d FROM walk w JOIN und u ON u.s = w.reach
    )
    SELECT node AS doc_id, min(reach) AS cluster_id,
           (node = min(reach)) AS is_rep
    FROM walk GROUP BY node
    """


CATALOG["dedup_cluster_cc"] = Entry(
    _run_dedup_cluster_cc, _cluster_cc_oracle(),
    "extension: duplicate-cluster resolution — SimHash pairs → "
    "distributed connected components (large-star/small-star) → min-id "
    "representative election; checked against a recursive-CTE "
    "transitive-closure oracle")


# ------------------------------------------------ decontamination


def _run_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training docs sharing ≥2 distinct word
    3-grams with the (broadcast) benchmark slice are flagged.  The
    benchmark here is the deterministic doc_id % 97 == 0 slice — at
    production scale it is the eval suites, still broadcast-sized."""
    from .operators.text import decontaminate
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    bench = docs.where("doc_id % 97 = 0")
    train = docs.where("doc_id % 97 != 0")
    return decontaminate(train, bench, ngram_n=3, min_overlap=2)


CATALOG["text_decontaminate"] = Entry(
    _run_decontaminate,
    """
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
               i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' '))) AS grams
      FROM documents),
    bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
    train AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 != 0),
    ov AS (
      SELECT t.doc_id, count(*) AS n_overlap
      FROM train t JOIN bench b USING (gram) GROUP BY t.doc_id)
    SELECT d.doc_id, CAST(coalesce(o.n_overlap, 0) AS INT) AS n_overlap,
           coalesce(o.n_overlap, 0) >= 2 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 != 0) d
    LEFT JOIN ov o USING (doc_id)
    """,
    "extension: test-set decontamination — distinct-n-gram overlap vs a "
    "broadcast benchmark set (GPT-3-appendix-C-style n-gram rule); "
    "corpus side never shuffles, one groupBy on doc id")


# ------------------------------------------------ deterministic sampling


def _run_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both deterministic samplers over events, tagged by method:
    rate = per-stratum Bernoulli on a content hash (zero shuffle,
    layout-independent, nested subsets across rates); quota = exact
    per-stratum top-``n`` by key hash (deterministic reservoir).  The
    oracle recomputes both selections from the same md5 buckets — the
    hash check verifies the exact chosen row sets, not just sizes."""
    from pyspark.sql import functions as F

    from .operators.sample import hash_quota_sample, hash_stratified_sample
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "event_type", "user_id", "value")
    rate = hash_stratified_sample(
        ev, "event_type", "event_id",
        rates={"click": 0.5, "view": 0.2, "purchase": 1.0},
        default_rate=0.1).withColumn("method", F.lit("rate"))
    quota = (hash_quota_sample(ev, "event_type", "event_id", quota=50)
             .withColumn("method", F.lit("quota")))
    return rate.unionByName(quota)


CATALOG["sample_stratified"] = Entry(
    _run_sample_stratified,
    """
    WITH b AS (
      SELECT event_id, event_type, user_id, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT
                 % 1000000 AS bucket
      FROM events),
    rate AS (
      SELECT event_id, event_type, user_id, value FROM b
      WHERE bucket < (CASE event_type WHEN 'click' THEN 500000
                                      WHEN 'view' THEN 200000
                                      WHEN 'purchase' THEN 1000000
                                      ELSE 100000 END)),
    quota AS (
      SELECT event_id, event_type, user_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY bucket, event_id) AS rk
        FROM b) WHERE rk <= 50)
    SELECT *, 'rate' AS method FROM rate
    UNION ALL
    SELECT *, 'quota' AS method FROM quota
    """,
    "extension: deterministic data-mixing samplers — per-stratum "
    "Bernoulli rate sampling on content hash (no shuffle, nested "
    "subsets) + exact per-stratum hash quota (deterministic reservoir)")


# ------------------------------- repetition filters + PII redaction

# deterministic synthetic PII appended per doc so the redaction paths
# are actually exercised (the fixture corpus contains none) — the SAME
# augmentation expression runs on both engines
_PII_AUG = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com"
    " at 10.0.', CAST(doc_id % 256 AS STRING), '.',"
    " CAST((doc_id * 7) % 256 AS STRING), ' or +1-555-',"
    " lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))")


def _run_quality_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality gate + PII scrub in ONE Catalyst
    plan over documents: word stats, top-2-gram fraction, duplicate-
    3-gram fraction, composite keep/drop gate, then email/IPv4/phone
    redaction with per-kind audit counts.  Zero shuffle, zero Python —
    per-document column expressions only; the redacted text is emitted
    as an md5 digest so the hash gate verifies byte-exact scrubbing."""
    from pyspark.sql import functions as F

    from .operators.text import pii_scrub, repetition_features
    t = load_tables(spark, sf_dir)
    docs = (t["documents"].select("doc_id", "text")
            .withColumn("text", F.expr(_PII_AUG)))
    # PII first: the regex columns then ride the ONE repartition
    # exchange inside repetition_features instead of re-running on the
    # joined output's lineage
    out = repetition_features(pii_scrub(docs))
    return out.select(
        "doc_id", "word_count", "mean_word_len", "frac_alpha_words",
        "top_2gram_frac", "dup_3gram_frac", "gopher_pass",
        "n_email", "n_ipv4", "n_phone",
        F.md5("clean_text").alias("clean_digest"))


_QUALITY_PII_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com at 10.0.' ||
         (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
         ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents),
w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM aug),
g AS (SELECT doc_id, text, w,
        list_transform(range(0, greatest(len(w) - 1, 1)),
                       i -> array_to_string(w[i+1:i+2], ' ')) AS g2,
        list_transform(range(0, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i+1:i+3], ' ')) AS g3
      FROM w),
f AS (
  SELECT doc_id, text,
         CAST(len(w) AS INT) AS word_count,
         round(list_sum(list_transform(w, x -> length(x))) * 1.0
               / greatest(len(w), 1), 6) AS mean_word_len,
         round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
               / greatest(len(w), 1), 6) AS frac_alpha_words,
         round(CAST(list_max(list_transform(list_distinct(g2), d ->
               len(list_filter(g2, x -> x = d)))) AS DOUBLE)
               / greatest(len(g2), 1), 6) AS top_2gram_frac,
         round(1.0 - CAST(len(list_filter(list_distinct(g3), d ->
               len(list_filter(g3, x -> x = d)) = 1)) AS DOUBLE)
               / greatest(len(g3), 1), 6) AS dup_3gram_frac
  FROM g)
SELECT doc_id, word_count, mean_word_len, frac_alpha_words,
       top_2gram_frac, dup_3gram_frac,
       (word_count >= 30 AND word_count <= 100000
        AND mean_word_len >= 2 AND mean_word_len <= 10
        AND frac_alpha_words > 0.8
        AND top_2gram_frac < 0.2 AND dup_3gram_frac < 0.6) AS gopher_pass,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS INT) AS n_email,
       CAST(len(regexp_extract_all(
            regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', 0)) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(
            regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
            '\+[0-9][0-9()\-\. ]{6,}[0-9]', 0)) AS INT) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
            '\+[0-9][0-9()\-\. ]{6,}[0-9]', '<PHONE>', 'g')) AS clean_digest
FROM f
"""


CATALOG["text_quality_pii"] = Entry(
    _run_quality_pii, _QUALITY_PII_ORACLE,
    "extension: Gopher/C4-style repetition + quality gate (top-2-gram "
    "fraction, duplicate-3-gram fraction, alpha-word fraction, "
    "composite keep/drop) and PII redaction (email/IPv4/phone -> typed "
    "tokens, RE2-safe patterns, per-kind audit counts) — one "
    "shuffle-free Catalyst plan, redacted text verified byte-exact "
    "via digest")


# -------------------------------------------------- sequence packing


def _run_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing AND overlapping chunking in one entry
    (kind-tagged):

    - 'pack' rows: per-doc token counts (BPE-ish length/4 heuristic)
      assigned to consecutive fixed-budget packs per source in stable
      doc_id order — ONE window shuffle, assignment a pure function of
      (order, token counts) so reruns and re-layouts agree.  The
      tighter first-fit-decreasing variant (no-overflow bins) is
      operators/pack.py:greedy_bin_pack, pytest-verified against a
      pure Python reference (sequential recurrence — not
      SQL-expressible);
    - 'chunk' rows: sliding-window token chunks (64-token chunks,
      16-token overlap) with per-chunk digests — zero shuffle,
      per-document fan-out only;
    - 'mat' rows (merged r5): :func:`materialize_packs` — one row per
      materialized pack whose digest covers the concatenated text AND
      the doc_ids/doc_offsets boundary arrays, so the oracle
      value-hashes the exact training sequences (concatenation order,
      separator placement, loss-mask offsets) the trainer would read."""
    from pyspark.sql import functions as F

    from .operators.pack import (budget_shard_pack, chunk_documents,
                                 materialize_packs)
    from .operators.text import token_counts
    t = load_tables(spark, sf_dir)
    docs = token_counts(t["documents"].select("doc_id", "source", "text")) \
        .select("doc_id", "source", "text", "est_bpe_tokens")
    packed = budget_shard_pack(docs, "source", "doc_id",
                               "est_bpe_tokens", budget=512)
    pack = (packed.drop("text")
            .select(F.lit("pack").alias("kind"), "doc_id",
                    F.col("pack_id").alias("seq"),
                    F.col("pack_offset").alias("off"),
                    F.col("est_bpe_tokens").alias("n"),
                    F.lit(None).cast("string").alias("digest")))
    mat = (materialize_packs(packed, "source", "doc_id")
           .select(
               F.lit("mat").alias("kind"),
               F.element_at("doc_ids", 1).alias("doc_id"),
               F.col("pack_id").alias("seq"),
               F.col("n_docs").cast("bigint").alias("off"),
               F.length("pack_text").cast("bigint").alias("n"),
               F.md5(F.concat_ws(
                   "|", F.col("pack_text"),
                   F.expr("array_join(transform(doc_ids, "
                          "x -> cast(x AS string)), ',')"),
                   F.expr("array_join(transform(doc_offsets, "
                          "x -> cast(x AS string)), ',')"))).alias("digest")))
    chunk = (chunk_documents(docs.select("doc_id", "text"),
                             chunk_tokens=64, overlap_tokens=16)
             .select(F.lit("chunk").alias("kind"), "doc_id",
                     F.col("chunk_id").alias("seq"),
                     F.col("chunk_start").cast("bigint").alias("off"),
                     F.col("chunk_n_tokens").cast("bigint").alias("n"),
                     F.col("chunk_digest").alias("digest")))
    return pack.unionByName(chunk).unionByName(mat)


CATALOG["pack_sequences"] = Entry(
    _run_pack_sequences,
    """
    WITH tok AS (
      SELECT doc_id, source, CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
      FROM documents),
    c AS (
      SELECT *, sum(est_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - est_bpe_tokens AS prefix
      FROM tok),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    starts AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w) - 16, 1), 48)) AS s
      FROM words)
    SELECT 'pack' AS kind, doc_id,
           CAST(floor(prefix / 512.0) AS BIGINT) AS seq,
           CAST(prefix % 512 AS BIGINT) AS off,
           est_bpe_tokens AS n,
           CAST(NULL AS VARCHAR) AS digest
    FROM c
    UNION ALL
    SELECT 'chunk' AS kind, doc_id,
           CAST((s - 1) // 48 AS BIGINT) AS seq,
           CAST(s AS BIGINT) AS off,
           CAST(len(w[s:s+63]) AS BIGINT) AS n,
           md5(array_to_string(w[s:s+63], ' ')) AS digest
    FROM starts
    UNION ALL
    SELECT 'mat' AS kind,
           min(c.doc_id) AS doc_id,
           CAST(floor(prefix / 512.0) AS BIGINT) AS seq,
           CAST(count(*) AS BIGINT) AS off,
           CAST(length(string_agg(d.text, e'\n\n' ORDER BY c.doc_id))
                AS BIGINT) AS n,
           md5(string_agg(d.text, e'\n\n' ORDER BY c.doc_id) || '|' ||
               string_agg(CAST(c.doc_id AS VARCHAR), ',' ORDER BY c.doc_id)
               || '|' ||
               string_agg(CAST(prefix % 512 AS VARCHAR), ','
                          ORDER BY c.doc_id)) AS digest
    FROM c JOIN documents d ON c.doc_id = d.doc_id
    GROUP BY c.source, CAST(floor(prefix / 512.0) AS BIGINT)
    """,
    "extension: token-budget sequence packing (deterministic "
    "cumulative-budget shard assignment per source, one window "
    "shuffle; FFD greedy bin packing via applyInPandas pytest-checked "
    "vs a Python reference) + overlapping sliding-window chunking "
    "(64/16, per-chunk digests, zero shuffle) + pack materialization "
    "(merged r5: per-pack concatenated-text + boundary-array digests, "
    "exchange-reused groupBy)")


# --------------------------------------- global duplicate-span removal


def _run_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global duplicate-span removal over the corpus: 10-token
    segments, globally-first occurrence wins (doc id, then position),
    documents reassembled from surviving segments.  The synthetic
    word-soup corpus has heavy cross-document span repetition, so the
    keep counts genuinely vary per doc.  Reassembled text is emitted
    as a digest for the value-hash gate."""
    from pyspark.sql import functions as F

    from .operators.text import segment_dedup
    t = load_tables(spark, sf_dir)
    out = segment_dedup(t["documents"].select("doc_id", "text"),
                        seg_tokens=10)
    return out.select("doc_id", "n_segs", "n_kept",
                      F.md5("clean_text").alias("clean_digest"))


CATALOG["text_segment_dedup"] = Entry(
    _run_segment_dedup,
    """
    WITH w AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
      FROM documents),
    seg AS (
      SELECT doc_id,
             CAST((s - 1) // 10 AS BIGINT) AS seg_id,
             array_to_string(w[s:s+9], ' ') AS seg_text
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w), 1), 10)) AS s
            FROM w)),
    elect AS (
      SELECT doc_id, seg_id, seg_text,
             row_number() OVER (PARTITION BY seg_text
                                ORDER BY doc_id, seg_id) = 1 AS keep
      FROM seg)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
           md5(coalesce(array_to_string(
               list(seg_text ORDER BY seg_id) FILTER (WHERE keep),
               ' '), '')) AS clean_digest
    FROM elect GROUP BY doc_id
    """,
    "extension: C4-style global duplicate-span removal — fixed-token "
    "segments, globally-first occurrence election (one window over the "
    "segment hash), per-document reassembly; boilerplate repeated "
    "across documents survives once")
