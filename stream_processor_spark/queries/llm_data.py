"""LLM-training-data operators (SURVEY.md §2.12 + north-star extensions).

Deduplication (exact / MinHash-LSH / SimHash / token-Jaccard /
embedding-cosine), similarity search (brute-force + bucketed ANN), text
analysis (tokens, stats, quality, fingerprint, lang-id), multimodal binary
plumbing. Deterministic operators are hash-checked against DuckDB; LSH and
model-backed ops get rows-only checks.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import functions as F

from stream_processor_spark.operators import dedup as dd
from stream_processor_spark.operators import kmeans
from stream_processor_spark.operators import npkernel as npk
from stream_processor_spark.operators import rangejoin as rj
from stream_processor_spark.operators import multimodal as mm
from stream_processor_spark.operators import similarity as sim
from stream_processor_spark.operators import text as tx
from stream_processor_spark.queries.base import register

_log = logging.getLogger(__name__)

# ------------------------------------------------------------- similarity ----


def _query_vec(t):
    return t.embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )


def _bucket_sql(bits: int) -> str:
    """DuckDB expression mirroring operators.similarity.sign_bucket."""
    terms = " + ".join(
        f"(CASE WHEN CAST(embedding[{i + 1}] AS DOUBLE) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"CAST({terms} AS INT)"


def _band_cand_sql(n_bands: int = 4, bits: int = 4,
                   max_bucket: int = 256) -> str:
    """DuckDB CTEs mirroring operators.similarity.banded_candidate_pairs
    (including the ``max_bucket`` hot-bucket cap: each bucket keeps its
    ``max_bucket`` smallest vec_ids before pairing — same deterministic
    rank both sides).

    Emits ``bands(vec_id, band_idx, band_key)`` and ``cand(va, vb)``.
    """

    def key(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN CAST(embedding[{b * bits + i + 1}] AS DOUBLE) > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )

    keys = ", ".join(f"({key(b)}) AS k{b}" for b in range(n_bands))
    case = " ".join(f"WHEN {b} THEN k{b}" for b in range(n_bands))
    idxs = ", ".join(str(b) for b in range(n_bands))
    return f"""
    keyed AS (SELECT vec_id, {keys} FROM embeddings),
    bands AS (
      SELECT vec_id, band_idx, band_key FROM (
        SELECT vec_id, u.band_idx,
               CASE u.band_idx {case} END AS band_key,
               ROW_NUMBER() OVER (
                 PARTITION BY u.band_idx,
                              CASE u.band_idx {case} END
                 ORDER BY vec_id) AS rk
        FROM keyed, (SELECT unnest([{idxs}]) AS band_idx) u
      ) WHERE rk <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       AND x.vec_id < y.vec_id
    )"""


@register(
    "sim_cosine_pairs",
    oracle=sim.ORACLE_COSINE_CTE.format(query_filter="vec_id = 0", dim=64)
    + "SELECT vec_id, cosine FROM scored",
)
def sim_cosine_pairs(t):
    """Cosine of every embedding vs a fixed query vector (vec_id=0).

    Array-fold dot product with exact scaled-integer accumulation — one
    scan, no shuffle, bit-deterministic (operators/similarity.py).
    """
    return sim.cosine_vs_query(t.embeddings, _query_vec(t)).select("vec_id", "cosine")


@register(
    "sim_topk",
    oracle=sim.ORACLE_COSINE_CTE.format(query_filter="vec_id = 0", dim=64)
    + "SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 20",
)
def sim_topk(t):
    """Brute-force exact top-20 nearest neighbors (TakeOrderedAndProject)."""
    return sim.topk_vs_query(t.embeddings, _query_vec(t), k=20)


@register(
    "sim_ann_bucketed",
    oracle=sim.ORACLE_COSINE_CTE.format(query_filter="vec_id = 0", dim=64)
    + """,
    buckets AS (
      SELECT vec_id,
             CAST((CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN CAST(embedding[4] AS DOUBLE) > 0 THEN 8 ELSE 0 END)
                AS INT) AS bucket
      FROM embeddings
    ),
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0)
    SELECT s.vec_id, s.cosine, b.bucket
    FROM scored s JOIN buckets b ON s.vec_id = b.vec_id CROSS JOIN qb
    WHERE b.bucket = qb.qbucket
    ORDER BY s.cosine DESC, s.vec_id LIMIT 10
    """,
)
def sim_ann_bucketed(t):
    """ANN via deterministic sign-bucket LSH: probe only the query's bucket.

    Scale path for similarity search: with the table partitioned by bucket,
    the probe is a partition-pruned read of ~1/2^bits of the data.
    """
    e = t.embeddings.withColumn("bucket", sim.sign_bucket(F.col("embedding"), bits=4))
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket"))
    )
    probed = e.join(F.broadcast(q), e.bucket == F.col("qbucket"))
    return (
        probed.withColumn("cosine", sim.cosine(F.col("embedding"), F.col("qv")))
        .select("vec_id", "cosine", "bucket")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


def _exact_pair_cosines(e, cand, cand_ids=None):
    """Score candidate pairs with the exact scaled-int cosine — WITHOUT
    ever attaching (or shuffling) an embedding array to a pair row.

    The candidates come from capped banded LSH, so the DISTINCT ids that
    can appear in any pair are structurally bounded at
    ``n_bands * 2^bits * max_bucket`` (16,384 at the defaults, 4,489
    measured at sf10's 1M vectors) at ANY corpus size — the hot-bucket
    cap keeps only that many band members. Round 9 attached embeddings
    with two full-table shuffle joins and scored with the interpreted
    zip_with/aggregate fold; a round-10 same-session profile showed the
    INTERPRETED FOLD over ~1.9M pairs, not the shuffles, was the 15 s
    residual at sf10 (a broadcast-attach variant with the same HOF
    scored in the same 17.5 s). So the fix is the `npkernel` pattern
    already carrying IVF rerank: hydrate the bounded (vec_id, embedding)
    set driver-side (<= 16k rows, ~4 MiB — model-sized, the
    KMeansModel.clusterCenters discipline), ship it in the task closure,
    and score the SLIM (id_a, id_b) pair frame in one vectorized
    Arrow-batched pass (`round_half_up((a*b)*1e16)` summed as int64 —
    bit-identical to the JVM fold and the DuckDB oracle, pinned in
    tests/test_npkernel.py).

    ``cand_ids``: slim one-column (vec_id) frame bounding the ids in
    ``cand`` — callers pass the capped band membership
    (`sim.capped_band_member_ids`, computable WITHOUT the quadratic
    self-join); derived from ``cand`` itself when omitted. A superset is
    harmless (lookup rows that never appear in a pair are dead weight,
    nothing more).

    The candidate frame still REPARTITIONS first: AQE coalesces the slim
    (id_a, id_b) shuffle to a handful of partitions, which would
    serialize the scoring stage (the round-8 dedup_semantic lesson).

    Returns (id_a, id_b, cosine)."""
    import numpy as np

    from stream_processor_spark.operators import npkernel as npk

    spark = e.sparkSession
    par = spark.sparkContext.defaultParallelism
    cand = cand.select("id_a", "id_b").repartition(par, "id_a")
    if cand_ids is None:
        cand_ids = (
            cand.select(F.col("id_a").alias("vec_id"))
            .union(cand.select(F.col("id_b").alias("vec_id")))
            .distinct()
        )
    # bounded hydration: one corpus scan, broadcast-filtered map-side
    rows = (
        e.join(F.broadcast(cand_ids.select("vec_id")), "vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = "id_a long, id_b long, cosine double"
    if not rows:
        return spark.createDataFrame([], out_schema)
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    E = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, E = ids[order], E[order]
    sxx = npk.self_norms_scaled(E)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["id_a"].to_numpy()
            b_ids = pdf["id_b"].to_numpy()
            ia = np.searchsorted(ids, a_ids)
            ib = np.searchsorted(ids, b_ids)
            # Membership validation (round-11 ADVICE): searchsorted
            # returns an INSERTION index, so an id absent from the
            # hydrated set would silently score against a neighboring
            # vector (or index past the end). Today's callers derive
            # cand_ids and cand from the same banding parameters, but
            # that sync is by hand — fail loudly if it ever diverges.
            ia_c = np.minimum(ia, ids.size - 1)
            ib_c = np.minimum(ib, ids.size - 1)
            if not (np.all(ids[ia_c] == a_ids) and np.all(ids[ib_c] == b_ids)):
                missing = set(a_ids[ids[ia_c] != a_ids][:5].tolist()) | set(
                    b_ids[ids[ib_c] != b_ids][:5].tolist()
                )
                raise ValueError(
                    "_exact_pair_cosines: candidate pair references vec_ids "
                    f"absent from the hydrated embedding set (e.g. {sorted(missing)}); "
                    "cand and cand_ids were derived with divergent banding parameters"
                )
            ia, ib = ia_c, ib_c
            A, B = E[ia], E[ib]
            p = npk.round_half_up((A * B) * npk.SCALE).sum(axis=-1)
            cos = npk.cosine_from_scaled(p, sxx[ia], sxx[ib])
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(),
                    "id_b": pdf["id_b"].to_numpy(),
                    "cosine": cos,
                }
            )

    return cand.mapInPandas(score, schema=out_schema)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_band_cand_sql(4, 4)},
    terms AS (
      SELECT c.va AS vec_a, c.vb AS vec_b,
             CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                        * CAST(b.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS p,
             CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                        * CAST(a.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
             CAST(round(CAST(b.embedding[i.i] AS DOUBLE)
                        * CAST(b.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS bb
      FROM cand c
      JOIN embeddings a ON c.va = a.vec_id
      JOIN embeddings b ON c.vb = b.vec_id
      CROSS JOIN generate_series(1, 64) AS i(i)
    )
    SELECT vec_a, vec_b,
           CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(SUM(bb) AS BIGINT) AS DOUBLE))) AS cosine
    FROM terms GROUP BY vec_a, vec_b
    HAVING CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(SUM(bb) AS BIGINT) AS DOUBLE))) > 0.35
    """,
)
def dedup_embedding_cosine(t):
    """Embedding near-dup pairs: banded hyperplane-LSH + cosine > τ.

    Candidates come from ``banded_candidate_pairs`` (4 bands × 4 sign
    bits, operators/similarity.py) — OR-amplified LSH whose bucket
    cardinality is hash-derived and scales with the data, unlike a
    low-cardinality metadata label whose blocks grow O(n²/L) at 100 TB.
    The residual exact cosine (scaled-integer fold, bit-deterministic)
    then filters candidates to true near-dups.
    """
    e = t.embeddings
    cand = sim.banded_candidate_pairs(e, n_bands=4, bits=4)
    cids = sim.capped_band_member_ids(e, n_bands=4, bits=4)
    return (
        _exact_pair_cosines(e, cand, cand_ids=cids)
        .filter(F.col("cosine") > 0.35)
        .select(
            F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cosine"
        )
    )


# -------------------------------------------------------------------- dedup ----


@register(
    "dedup_token_jaccard",
    oracle="""
    WITH q AS (
      SELECT list_distinct(string_split(text, ' ')) AS qtok
      FROM documents WHERE doc_id = 0
    )
    SELECT d.doc_id,
           CAST(len(list_intersect(list_distinct(string_split(d.text, ' ')), q.qtok))
                AS DOUBLE)
           / (len(list_distinct(string_split(d.text, ' '))) + len(q.qtok)
              - len(list_intersect(list_distinct(string_split(d.text, ' ')), q.qtok)))
             AS jaccard
    FROM documents d CROSS JOIN q
    """,
)
def dedup_token_jaccard(t):
    """Token-set Jaccard of every document vs a query doc (doc_id=0).

    All-expression set ops (array_intersect/array_union) — no shuffle.
    """
    d = sim.fan_out(t.documents).select(
        "doc_id", dd.token_set(F.col("text")).alias("tok")
    )
    q = d.filter(F.col("doc_id") == 0).select(F.col("tok").alias("qtok"))
    return (
        d.crossJoin(F.broadcast(q))
        .select("doc_id", dd.jaccard_tokens(F.col("tok"), F.col("qtok")).alias("jaccard"))
    )


# Deterministic MinHash-LSH pair CTE chain, reimplemented in SQL: same
# pinned universal-hash coefficients, same 60-bit md5 shingle hashes,
# same 4×2 banding as operators/dedup.minhash_det_near_dup_pairs —
# candidate sets and jaccard values match exactly. Ends in
# ``pairs(doc_a, doc_b, jaccard)`` with jaccard >= 0.5; shared by
# `dedup_near` and the end-to-end `dedup_fuzzy_survivors`
# (queries/curation_extra.py).
MINHASH_PAIRS_CTES = """params AS (
      SELECT * FROM (VALUES
        (0, 1103515245, 12345), (1, 1229782938, 2463534242),
        (2, 1790989885, 777777777), (3, 1537228672, 1013904223),
        (4, 1664525, 1013904242), (5, 22695477, 1),
        (6, 1103527590, 394837629), (7, 214013, 2531011)) AS t(j, a, b)
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS shingles
      FROM toks
    ),
    hs AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> (('0x' || substr(md5(s), 1, 15))::UBIGINT)::BIGINT)) AS hset
      FROM sh
    ),
    mh AS (
      SELECT h.doc_id, p.j,
             MIN((p.a * (u.h % 2147483647) + p.b) % 2147483647) AS mh
      FROM hs h, unnest(h.hset) AS u(h), params p
      GROUP BY h.doc_id, p.j
    ),
    bands AS (
      SELECT a.doc_id, a.j // 2 AS band_idx,
             MIN(CASE WHEN a.j % 2 = 0 THEN a.mh END) * 2147483647
               + MIN(CASE WHEN a.j % 2 = 1 THEN a.mh END) AS band_key
      FROM mh a GROUP BY a.doc_id, a.j // 2
    ),
    -- hot-bucket guard (mirrors the engine's max_bucket_size=64):
    -- boilerplate-shingle buckets are dropped before pairing
    kept AS (
      SELECT band_idx, band_key FROM bands
      GROUP BY band_idx, band_key HAVING COUNT(*) <= 64
    ),
    bands_kept AS (
      SELECT b.* FROM bands b JOIN kept k
        ON b.band_idx = k.band_idx AND b.band_key = k.band_key
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands_kept x JOIN bands_kept y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(ha.hset, hb.hset)) AS DOUBLE)
                 / (len(ha.hset) + len(hb.hset)
                    - len(list_intersect(ha.hset, hb.hset))) AS jaccard
        FROM cand c
        JOIN hs ha ON c.doc_a = ha.doc_id
        JOIN hs hb ON c.doc_b = hb.doc_id
      ) WHERE jaccard >= 0.5
    )"""


@register(
    "dedup_near",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_near(t):
    """Deterministic MinHash-LSH near-duplicate pairs (operators/dedup.py).

    Sub-quadratic band-bucket join with pinned hash coefficients — no RNG
    seeds, so the candidate set is reproducible and hash-verified against
    the SQL oracle. (The pyspark.ml MinHashLSH variant remains available
    as ``operators.dedup.minhash_near_dup_pairs`` for vector workflows.)
    """
    return dd.minhash_det_near_dup_pairs(t.documents)


@register(
    "dedup_near_indexed",
    # same oracle as the from-scratch twin: the persisted layout can
    # only change the plan, never answers
    oracle=f"""
    WITH {MINHASH_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_near_indexed(t):
    """`dedup_near` served from the persisted MinHash layout
    (`operators/dedup.ensure_minhash_index`, built on first use):
    shingling, shingle hashing, and the 8 pinned MinHashes are pure
    corpus functions paid at WRITE time into two bucketed tables (band
    keys on band_key, hash sets on doc_id); the request path is the
    hot-bucket guard, one co-bucketed band self-join, and the exact
    hash-set Jaccard from the persisted sets. Router route:
    `near_dedup`. The guard stays serve-side — bucket sizes change
    under appends, so baking it into the layout would freeze a stale
    cutoff.

    Scale: the text column is read once at build time and never again;
    serving cost is bounded by the capped candidate count, and both
    join legs arrive pre-bucketed on their join keys."""
    from stream_processor_spark.operators.dedup import (
        ensure_minhash_index,
        minhash_pairs_from_index,
    )

    bands_name, hset_name = ensure_minhash_index(t._spark, t._dir)
    return minhash_pairs_from_index(t._spark, bands_name, hset_name)


@register(
    "dedup_simhash",
    # Full SQL reimplementation of the md5-based SimHash (engine-portable
    # by construction): token → first-8-bytes-of-md5 as uint64 → per-bit
    # ±1 sums → signed 64-bit signature (bit 63 contributes -2^63).
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND text <> ''
      ) WHERE tok <> ''
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
    ),
    bits AS (
      SELECT doc_id, b.i,
             SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(generate_series(0, 63)) AS i) b
      GROUP BY doc_id, b.i
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN
                 CASE WHEN i = 63 THEN -9223372036854775808
                      ELSE (1::BIGINT << CAST(i AS INT)) END
               ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(sig.simhash, 0) AS simhash,
           COALESCE(sig.simhash, 0) & 65535 AS band0,
           (COALESCE(sig.simhash, 0) >> 16) & 65535 AS band1
    FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id
    """,
)
def dedup_simhash(t):
    """64-bit SimHash signature per document + band keys for blocking.

    Bands extracted with exact bit ops (shiftright + mask) — float
    division would round away low bits for |signature| ≥ 2^53 and
    mis-bucket candidates.
    """
    d = t.documents.select("doc_id", dd.simhash64(F.col("text")).alias("simhash"))
    mask = F.lit(0xFFFF)
    return d.select(
        "doc_id",
        "simhash",
        F.col("simhash").bitwiseAND(mask).alias("band0"),
        F.shiftright(F.col("simhash"), 16).bitwiseAND(mask).alias("band1"),
    )


# ------------------------------------------------------------ text analysis ----


@register(
    "text_token_counts",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def text_token_counts(t):
    """Corpus token frequencies: explode(split) + count."""
    return (
        t.documents.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# GPT-2-style pre-tokenizer, constrained to the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate IDENTICALLY: leftmost-first
# alternation, no lookahead (RE2 has none — GPT-2's `\s+(?!\S)` branch
# is dropped), ASCII classes (no locale-dependent \p{L} differences).
# Contract: contractions split ('s 't 're 've 'm 'll 'd), one leading
# space folds into the following token (the BPE convention that makes
# " world" ≠ "world"), runs of letters / digits / other-non-space each
# form one token, remaining whitespace separates and is dropped.
_BPE_RE = r"('s|'t|'re|'ve|'m|'ll|'d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@register(
    "text_token_counts_bpe",
    oracle=f"""
    SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS tok
      FROM documents WHERE text IS NOT NULL
    )
    GROUP BY tok
    """,
)
def text_token_counts_bpe(t):
    """Corpus token frequencies under a BPE-ish PRE-TOKENIZER — the
    GPT-2 regex family (contractions, space-prefixed letter/digit/
    punctuation runs) restricted to the Java∩RE2 subset so Spark and
    DuckDB tokenize bit-identically (see `_BPE_RE`). Complements
    `text_token_counts` (whitespace split): this is the token stream a
    real BPE tokenizer would merge, so its counts drive vocabulary
    coverage and tokens-per-doc budgeting for training pipelines.

    Scale: regexp_extract_all runs inside codegen (no Python); explode
    + count is one map-side-combined shuffle of (token, partial n)."""
    return (
        t.documents.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(t):
    """Per-language corpus statistics."""
    d = t.documents
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           round(CAST(len(list_filter(string_split(text, ' '),
                     x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
                   AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio,
           round(
             (CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 1000
                   THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                       x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
                     AS DOUBLE) / len(string_split(text, ' ')) > 0.0
                 AND CAST(len(list_filter(string_split(text, ' '),
                       x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
                     AS DOUBLE) / len(string_split(text, ' ')) < 0.6
                   THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                          AS DOUBLE) / length(text) > 0.8
                   THEN 0.2 ELSE 0.0 END), 2) AS quality
    FROM documents
    """,
)
def text_quality_score(t):
    """Heuristic quality scoring (length band / stopword band / charset)."""
    d = t.documents
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.round(tx.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        tx.quality_score(F.col("text")).alias("quality"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                x -> x <> '')) AS INT) AS n_regex_tokens
    FROM documents
    """,
)
def text_fingerprint(t):
    """Document fingerprint (md5, engine-portable) + regex token count.

    Round 11: the token count is `regexp_count` over alnum RUNS instead
    of size(filter(split(...))) — counting non-overlapping matches of
    the complement pattern is definitionally the same number as the
    non-empty split fields, with no array materialization and no
    interpreted HOF lambda. Measured 17.9 s -> 0.56 s at sf10 (the
    split+filter's F.filter lambda ran interpreted per element); result
    rows pinned identical in the same A/B."""
    d = t.documents
    return d.select(
        "doc_id",
        tx.fingerprint(F.col("text")).alias("fingerprint"),
        F.regexp_count("text", F.lit("[a-zA-Z0-9]+")).alias(
            "n_regex_tokens"
        ),
    )


@register(
    "text_lang_id",
    # Full SQL reimplementation of the marker-voting heuristic
    # (operators/text.py:lang_id), including its first-wins tie-break
    # order (en > es > fr > de) and the CJK charset pre-check.
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text,
             list_slice(string_split(lower(text), ' '), 1, 200) AS s,
             regexp_matches(substr(text, 1, 200), '[一-鿿]') AS zh
      FROM documents
    ),
    hits AS (
      SELECT doc_id, lang, text, zh,
             list_contains(s,'the')::INT + list_contains(s,'and')::INT
               + list_contains(s,'of')::INT + list_contains(s,'is')::INT AS h_en,
             list_contains(s,'el')::INT + list_contains(s,'la')::INT
               + list_contains(s,'de')::INT + list_contains(s,'que')::INT AS h_es,
             list_contains(s,'le')::INT + list_contains(s,'la')::INT
               + list_contains(s,'et')::INT + list_contains(s,'les')::INT AS h_fr,
             list_contains(s,'der')::INT + list_contains(s,'die')::INT
               + list_contains(s,'und')::INT + list_contains(s,'das')::INT AS h_de
      FROM scored
    )
    SELECT doc_id, lang,
           CASE
             WHEN text IS NULL OR text = '' THEN 'unk'
             WHEN zh THEN 'zh'
             WHEN h_en >= 1 AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
             WHEN h_es >= 1 AND h_es >  h_en AND h_es >= h_fr AND h_es >= h_de THEN 'es'
             WHEN h_fr >= 1 AND h_fr >  h_en AND h_fr >  h_es AND h_fr >= h_de THEN 'fr'
             WHEN h_de >= 1 AND h_de >  h_en AND h_de >  h_es AND h_de >  h_fr THEN 'de'
             ELSE 'unk'
           END AS lang_pred
    FROM hits
    """,
)
def text_lang_id(t):
    """Language-ID via vectorized n-gram/marker scoring (pandas_udf)."""
    return t.documents.select(
        "doc_id", "lang", tx.lang_id(F.col("text")).alias("lang_pred")
    )


@register(
    "sample_stratified",
    oracle="""
    WITH counts AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    ),
    rated AS (
      SELECT e.event_id, e.event_type,
             least(1.0, 500.0 / c.n) AS rate
      FROM events e JOIN counts c USING (event_type)
    )
    SELECT event_id, event_type
    FROM rated
    WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) < CAST(floor(rate * 4294967296.0) AS BIGINT)
    """,
)
def sample_stratified(t):
    """Stratified rebalancing sample: cap every event_type at ~500 rows
    by per-group rates, selected via a deterministic md5 hash threshold —
    the class-rebalance step of a training-data pipeline (downsample
    dominant classes, keep rare ones whole), reproducible across engines,
    runs, AND partitionings (unlike TABLESAMPLE / rand()).

    Scale: group counts are one tiny aggregate broadcast back onto the
    stream; selection is a pure map filter — no shuffle of the corpus.
    """
    e = t.events
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    rate = F.least(F.lit(1.0), F.lit(500.0) / F.col("n"))
    rated = e.join(F.broadcast(counts), "event_type").select(
        "event_id", "event_type", rate.alias("rate")
    )
    bucket = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    # explicit floor(): Spark's double→long cast truncates while DuckDB's
    # rounds half-to-even — without it the two engines disagree by one on
    # fractional thresholds and a hash landing exactly there flips
    return rated.filter(
        bucket < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")
    ).select("event_id", "event_type")


@register(
    "text_pii_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS scrubbed,
           CAST(length(text) - length(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g'))
                AS INT) AS email_chars_removed
    FROM documents
    """,
)
def text_pii_scrub(t):
    """PII scrubbing: replace email / phone / SSN-shaped spans with typed
    placeholder tokens — the safety-filter map pass of a training-data
    pipeline. Pure regexp_replace expressions (JVM codegen, no Python);
    the removed-chars count gives a per-doc audit signal.
    """
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
    ssn = r"\b\d{3}-\d{2}-\d{4}\b"
    txt = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, email, "<EMAIL>"), phone, "<PHONE>"
        ),
        ssn,
        "<SSN>",
    )
    return t.documents.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (F.length(txt) - F.length(F.regexp_replace(txt, email, ""))).alias(
            "email_chars_removed"
        ),
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freqs AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(max(c) AS INT) AS top_token_count,
           CAST(SUM(c) AS INT) AS n_tokens,
           CAST(max(c) AS DOUBLE) / SUM(c) AS repetition_ratio
    FROM freqs GROUP BY doc_id
    """,
)
def text_repetition(t):
    """Repetition ratio: the most frequent token's share per document —
    the classic degenerate-text signal (keyword stuffing, decode loops)
    used alongside length/stopword quality scores.

    Explode + two hash aggregations, all codegen (an in-row
    map-accumulator fold would be interpreter-bound and O(tokens ×
    distinct) on long documents); the shuffles carry (doc_id, token)
    partials then per-doc pairs — both shrink with map-side combine.
    """
    toks = sim.fan_out(t.documents).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    freqs = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        freqs.groupBy("doc_id")
        .agg(
            F.max("c").cast("int").alias("top_token_count"),
            F.sum("c").cast("int").alias("n_tokens"),
            (F.max("c").cast("double") / F.sum("c")).alias("repetition_ratio"),
        )
    )


@register(
    "text_rolling_chunks",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE text IS NOT NULL
    ),
    cutl AS (
      SELECT doc_id, text, L,
        list_filter(
          list_transform(generate_series(4, L),
            i -> CASE WHEN i < L AND (
                   CAST(ascii(substring(text, i,   1)) AS BIGINT)
                 + CAST(ascii(substring(text, i-1, 1)) AS BIGINT) * 263
                 + CAST(ascii(substring(text, i-2, 1)) AS BIGINT) * 69169
                 + CAST(ascii(substring(text, i-3, 1)) AS BIGINT) * 18191447
               ) % 1048576 % 64 = 0 THEN i END),
          x -> x IS NOT NULL) AS cuts
      FROM base
    ),
    bounds AS (
      SELECT doc_id, text,
             list_concat(list_concat([CAST(0 AS BIGINT)],
                         list_transform(cuts, x -> CAST(x AS BIGINT))),
                         [CAST(L AS BIGINT)]) AS b
      FROM cutl
    ),
    ks AS (
      SELECT doc_id, text, b,
             unnest(generate_series(1, len(b) - 1)) AS k
      FROM bounds
    )
    SELECT doc_id, CAST(k AS INT) AS chunk_idx,
           CAST(b[k+1] - b[k] AS INT) AS chunk_len,
           md5(substring(text, CAST(b[k] + 1 AS BIGINT),
                         CAST(b[k+1] - b[k] AS BIGINT))) AS chunk_fp
    FROM ks
    """,
)
def text_rolling_chunks(t):
    """Content-defined chunking (Rabin-style rolling hash,
    operators/text.py:rolling_chunks): chunk boundaries follow the
    CONTENT (window-hash boundary condition), so edits only perturb the
    chunks they touch — the rsync/LBFS property that makes chunk-level
    dedup robust to insertions, and the 'rolling hash' form of document
    fingerprinting. Emits one row per chunk with its fingerprint.

    Scale: per-row expression work then explode; the shuffle-free map
    pass emits (doc, chunk) rows whose fingerprints feed the same
    exact-dedup shuffle as whole-doc fingerprints.
    """
    d = sim.fan_out(t.documents.filter(F.col("text").isNotNull())).select(
        "doc_id", "text", tx.char_codes(F.col("text")).alias("__codes")
    )
    return d.select(
        "doc_id",
        F.explode(tx.rolling_chunks(F.col("text"), F.col("__codes"))).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.length("c.chunk").alias("chunk_len"),
        F.md5("c.chunk").alias("chunk_fp"),
    )


@register(
    "dedup_chunk_overlap",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE text IS NOT NULL
    ),
    cutl AS (
      SELECT doc_id, text, L,
        list_filter(
          list_transform(generate_series(4, L),
            i -> CASE WHEN i < L AND (
                   CAST(ascii(substring(text, i,   1)) AS BIGINT)
                 + CAST(ascii(substring(text, i-1, 1)) AS BIGINT) * 263
                 + CAST(ascii(substring(text, i-2, 1)) AS BIGINT) * 69169
                 + CAST(ascii(substring(text, i-3, 1)) AS BIGINT) * 18191447
               ) % 1048576 % 64 = 0 THEN i END),
          x -> x IS NOT NULL) AS cuts
      FROM base
    ),
    bounds AS (
      SELECT doc_id, text,
             list_concat(list_concat([CAST(0 AS BIGINT)],
                         list_transform(cuts, x -> CAST(x AS BIGINT))),
                         [CAST(L AS BIGINT)]) AS b
      FROM cutl
    ),
    ks AS (
      SELECT doc_id, text, b, unnest(generate_series(1, len(b) - 1)) AS k
      FROM bounds
    ),
    chunk_fps AS (
      SELECT DISTINCT doc_id,
             md5(substring(text, CAST(b[k] + 1 AS BIGINT),
                           CAST(b[k+1] - b[k] AS BIGINT))) AS fp
      FROM ks WHERE b[k+1] - b[k] >= 8
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_chunks
    FROM chunk_fps a JOIN chunk_fps b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
)
def dedup_chunk_overlap(t):
    """Chunk-overlap near-dup pairs: documents sharing ≥2 content-defined
    chunks (length ≥8 — sub-window slivers collide trivially). The
    edit-robust near-dup family the rolling-hash chunker exists to feed:
    because boundaries are content-defined, a doc with an insertion still
    shares every untouched chunk with its original, where fixed-size
    chunking would desynchronize after the edit.

    Scale: one shuffle on the 16-byte chunk fingerprint; the self-join
    is collision-bounded within fingerprint groups (never all-pairs of
    documents), then a tiny per-pair aggregate.
    """
    d = sim.fan_out(t.documents.filter(F.col("text").isNotNull())).select(
        "doc_id", "text", tx.char_codes(F.col("text")).alias("__codes")
    )
    chunks = d.select(
        "doc_id",
        F.explode(tx.rolling_chunks(F.col("text"), F.col("__codes"))).alias("c"),
    ).filter(F.length("c.chunk") >= 8)
    fps = chunks.select("doc_id", F.md5("c.chunk").alias("fp")).distinct()
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= 2)
    )


@register(
    "text_char_ngrams",
    oracle="""
    WITH grams AS (
      SELECT substring(text, i.i, 3) AS ngram
      FROM documents
      CROSS JOIN LATERAL unnest(generate_series(
        1, greatest(length(text) - 2, 0))) AS i(i)
    )
    SELECT ngram, COUNT(*) AS n
    FROM grams GROUP BY ngram
    ORDER BY n DESC, ngram LIMIT 20
    """,
)
def text_char_ngrams(t):
    """Corpus-level character-trigram profile (top-20): the statistical
    building block of n-gram language ID and gibberish detection,
    standalone and exact (the shipped `text_lang_id` uses marker words;
    a production profile model consumes exactly this frequency table).

    Scale: the ×(len−2) explode is map-side; the shuffle carries only
    (ngram, partial count) pairs, and top-20 is TakeOrderedAndProject.
    """
    d = t.documents
    # guard: Spark's sequence(1, stop) DESCENDS when stop < 1 (a doc
    # shorter than 3 chars would emit bogus [1,0] positions; DuckDB's
    # generate_series is empty there) — emit no ngrams instead
    positions = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = d.select(
        F.explode(
            F.transform(positions, lambda i: F.col("text").substr(i, F.lit(3)))
        ).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "ngram")
        .limit(20)
    )


# --------------------------------------------------------------- multimodal ----


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes_in,
           -- least() ignores NULLs in DuckDB, so guard explicitly:
           -- NULL payload must yield NULL size, not 128
           CAST(CASE WHEN text IS NULL THEN NULL
                     ELSE least(length(text), 128) END AS BIGINT) AS n_bytes_out,
           md5(substring(text, 1, 128)) AS resized_fp
    FROM documents
    """,
)
def multimodal_resize(t):
    """Payload resize plumbing: shrink every binary payload to a 128-byte
    budget and fingerprint the result (operators/multimodal.py:
    resize_payloads) — the media-resize dataflow with budget truncation
    standing in for the codec. The oracle recomputes from the source
    text (ASCII corpus ⇒ byte ≡ char truncation)."""
    return mm.resize_payloads(mm.attach_binary_payload(t.documents))


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS fingerprint,
           substring(text, 1, 8) AS head
    FROM documents
    """,
)
def multimodal_features(t):
    """Binary-column plumbing: text → binary payload → mapInPandas features.

    Verifies the full Arrow round-trip (JVM binary → Python bytes →
    features) against the oracle computing the same features from the
    source text (ASCII corpus ⇒ byte length = char length).
    """
    with_payload = mm.attach_binary_payload(t.documents)
    return mm.extract_binary_features(with_payload)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH frames AS (
      SELECT doc_id, text,
             unnest(generate_series(
               0, CAST(ceil(length(text) / 32.0) AS BIGINT) - 1)) AS frame_idx
      FROM documents
    )
    SELECT doc_id, frame_idx,
           md5(substring(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS frame_fp
    FROM frames WHERE frame_idx % 4 = 0
    """,
)
def multimodal_frame_sample(t):
    """Frame-sampling over binary payloads: every 4th 32-byte frame,
    fingerprinted — the video keyframe-sample dataflow with byte-slicing
    standing in for the codec (operators/multimodal.py:sample_frames).

    Verifies the flatMap contract (one row → 0..k frame rows) through
    the Arrow batch boundary; the oracle recomputes the frames from the
    source text (ASCII corpus ⇒ char slices ≡ byte slices).
    """
    return mm.sample_frames(mm.attach_binary_payload(t.documents))


# Shared by `multimodal_decode_stats` (BMP) and `multimodal_png_stats`
# (PNG): both decode REAL bytes of the same closed-form LCG fixture, so
# one oracle — which never sees the bytes — verifies both codecs.
_IMG_STATS_ORACLE = """
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 5 AS h, 5 + doc_id % 4 AS w
      FROM documents
    ),
    px AS (
      SELECT d.doc_id, d.h, d.w, c.c,
             ((1103515245 * ((d.doc_id % 100000) * 4096
                 + (y.y * d.w + x.x) * 3 + c.c) + 12345)
               % 2147483648) % 256 AS v
      FROM d, range(0, 8) y(y), range(0, 8) x(x), range(0, 3) c(c)
      WHERE y.y < d.h AND x.x < d.w
    )
    SELECT doc_id,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(3 AS BIGINT) AS channels,
           CAST(MAX(h) * MAX(w) AS BIGINT) AS n_pixels,
           CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """


@register("multimodal_decode_stats", oracle=_IMG_STATS_ORACLE)
def multimodal_decode_stats(t):
    """REAL image decode, hash-verified end to end: every document gets
    a deterministic 24-bit BMP payload (pixels from the engine's pinned
    LCG over a linear index, widths 5..8 so every 4-byte row-padding
    case occurs), the engine decodes the actual BMP bytes — header
    parse, padding strip, BGR→RGB, bottom-up flip — in pure numpy
    (operators/multimodal.py:decode_bmp) and emits integer-exact pixel
    statistics. The oracle computes the SAME statistics from the
    closed-form pixel formula without ever seeing the bytes, so a hash
    match proves the encode→binary→decode path is byte-perfect.

    Closes the round-5 "real image decode" gap for the formats a
    container without codec libraries can honestly support (BMP + PPM;
    JPEG/PNG keep the NotImplementedError contract). Scale notes: pure
    map pass (one Arrow crossing, no shuffle before the final per-doc
    stats, which aggregate inside the same mapInPandas batch)."""
    return mm.decode_image(
        t.documents.select("doc_id"),
        payload_from=mm.image_payload_series("bmp"),
    )


@register("multimodal_png_stats", oracle=_IMG_STATS_ORACLE)
def multimodal_png_stats(t):
    """REAL PNG decode, hash-verified end to end (round 10, VERDICT r9
    ask #3): every document gets a deterministic 8-bit truecolor PNG
    payload (same closed-form LCG pixels as the BMP twin, encoded with
    the CYCLING row filter so rows exercise all five PNG scanline
    filters — None/Sub/Up/Average/Paeth); the engine decodes the actual
    PNG bytes — chunk walk, IHDR validation, stdlib-zlib inflate,
    per-scanline unfilter (operators/multimodal.py:decode_png) — and
    emits the same integer-exact pixel statistics. The oracle computes
    those statistics from the pixel formula without ever seeing the
    bytes, so a hash match proves the DEFLATE + filter pipeline is
    byte-perfect. JPEG stays honestly gated (libjpeg absent). Scale
    notes: identical to the BMP twin — one Arrow crossing, map-only."""
    return mm.decode_image(
        t.documents.select("doc_id"),
        payload_from=mm.image_payload_series("png"),
    )


@register(
    "multimodal_jpeg_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 3 AS n_mb FROM documents
    ),
    mb AS (
      SELECT d.doc_id, d.n_mb, m.m,
        ((1103515245 * ((d.doc_id % 100000) * 4096 + m.m * 3 + 0) + 12345)
           % 2147483648) % 256 AS r,
        ((1103515245 * ((d.doc_id % 100000) * 4096 + m.m * 3 + 1) + 12345)
           % 2147483648) % 256 AS g,
        ((1103515245 * ((d.doc_id % 100000) * 4096 + m.m * 3 + 2) + 12345)
           % 2147483648) % 256 AS b
      FROM d, range(0, 3) m(m) WHERE m.m < d.n_mb
    ),
    ycc AS (
      SELECT doc_id, n_mb, m,
        least(greatest(round(0.299*r + 0.587*g + 0.114*b + 0.0), 0), 255) AS y,
        least(greatest(round(-0.168736*r + -0.331264*g + 0.5*b + 128.0), 0), 255) AS cb,
        least(greatest(round(0.5*r + -0.418688*g + -0.081312*b + 128.0), 0), 255) AS cr
      FROM mb
    ),
    rec AS (
      SELECT doc_id, n_mb, m,
        least(greatest(CAST(floor(
          (CAST(round(8.0*(y - 128)/16.0) AS BIGINT)*16*5793*5793
             + 134217728) / 268435456.0) AS BIGINT) + 128, 0), 255) AS y2,
        least(greatest(CAST(floor(
          (CAST(round(8.0*(cb - 128)/17.0) AS BIGINT)*17*5793*5793
             + 134217728) / 268435456.0) AS BIGINT) + 128, 0), 255) AS cb2,
        least(greatest(CAST(floor(
          (CAST(round(8.0*(cr - 128)/17.0) AS BIGINT)*17*5793*5793
             + 134217728) / 268435456.0) AS BIGINT) + 128, 0), 255) AS cr2
      FROM ycc
    ),
    px AS (
      SELECT doc_id, n_mb, m,
        least(greatest(round(y2 + 1.402*(cr2 - 128.0)), 0), 255) AS r2,
        least(greatest(round(y2 - 0.344136*(cb2 - 128.0)
                                - 0.714136*(cr2 - 128.0)), 0), 255) AS g2,
        least(greatest(round(y2 + 1.772*(cb2 - 128.0)), 0), 255) AS b2
      FROM rec
    )
    SELECT doc_id,
           CAST(16 AS BIGINT) AS height,
           CAST(16 * MAX(n_mb) AS BIGINT) AS width,
           CAST(3 AS BIGINT) AS channels,
           CAST(256 * MAX(n_mb) AS BIGINT) AS n_pixels,
           CAST(256 * SUM(r2) AS BIGINT) AS sum_r,
           CAST(256 * SUM(g2) AS BIGINT) AS sum_g,
           CAST(256 * SUM(b2) AS BIGINT) AS sum_b,
           CAST(least(MIN(r2), MIN(g2), MIN(b2)) AS BIGINT) AS px_min,
           CAST(greatest(MAX(r2), MAX(g2), MAX(b2)) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
)
def multimodal_jpeg_stats(t):
    """REAL baseline-JPEG decode, hash-verified end to end (round 11,
    VERDICT r10 ask #3 — retracting the earlier "JPEG genuinely cannot
    be reimplemented with stdlib" claim for the baseline profile): every
    document gets a real 4:2:0 baseline JFIF payload — Huffman entropy
    coding, byte stuffing, DQT/SOF0/DHT/SOS segments — from the
    macroblock-constant LCG fixture; the engine decodes the actual bytes
    (marker walk, canonical Huffman DECODE/EXTEND, dequantize, integer
    IDCT, chroma upsample, YCbCr→RGB — operators/jpeg.py) and emits the
    same integer-exact pixel statistics as the BMP/PNG twins.

    JPEG is LOSSY, so verifiability comes from the fixture design:
    constant 16x16 macroblocks quantize to DC-only blocks, whose decode
    has a closed form (floor((DCq*Q*B00^2 + 2^27)/2^28) + 128 with the
    integer-IDCT basis B00 = 5793) that the oracle replays in SQL
    without seeing the bytes — validated against the real decoder on
    2000+ colors (tests/test_jpeg.py). Progressive/12-bit/restart
    frames stay honestly gated inside decode_jpeg. Scale notes:
    identical dataflow to the BMP twin — one Arrow crossing, map-only,
    no shuffle."""
    return mm.decode_image(
        t.documents.select("doc_id"),
        payload_from=mm.image_payload_series("jpeg"),
    )


@register(
    "dedup_shingle_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]
             )) AS shingles
      FROM documents
    ),
    q AS (SELECT shingles AS qsh FROM sh WHERE doc_id = 0)
    SELECT s.doc_id,
           CAST(len(list_intersect(s.shingles, q.qsh)) AS DOUBLE)
           / greatest(len(s.shingles) + len(q.qsh)
                      - len(list_intersect(s.shingles, q.qsh)), 1) AS jaccard
    FROM sh s CROSS JOIN q
    """,
)
def dedup_shingle_jaccard(t):
    """Word-3-gram shingle Jaccard vs a query doc — the MinHash input
    representation, computed exactly (array expressions, no shuffle).

    At corpus scale this exact form runs only within LSH candidate buckets;
    the shingling expression itself is the shared building block.
    """
    # materialize the token array once per row — inlining split() into the
    # transform lambda would re-split the text per shingle (O(tokens^2));
    # fan_out: per-row shingling is CPU-heavy and the local fixture is one
    # parquet split (no-op on a multi-split corpus)
    toked = sim.fan_out(t.documents).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    n_sh = F.greatest(F.size(toks) - F.lit(2), F.lit(0))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
    )
    d = toked.select("doc_id", shingles.alias("shingles"))
    q = d.filter(F.col("doc_id") == 0).select(F.col("shingles").alias("qsh"))
    inter = F.size(F.array_intersect(F.col("shingles"), F.col("qsh")))
    union = F.size(F.col("shingles")) + F.size(F.col("qsh")) - inter
    return d.crossJoin(F.broadcast(q)).select(
        "doc_id",
        (inter.cast("double") / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


@register(
    "sim_centroids",
    oracle="""
    WITH terms AS (
      SELECT label, i.i AS pos,
             CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) AS i(i)
    )
    SELECT label, pos,
           CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / (1e16 * COUNT(*)) AS centroid_component
    FROM terms
    GROUP BY label, pos
    """,
)
def sim_centroids(t):
    """Per-label centroid vectors (semantic-dedup / IVF training building
    block), as (label, pos, component) rows.

    Fixed-point int64 accumulation per dimension → bit-deterministic
    means under any partitioning. SIZE-ADAPTIVE (round 10, the
    `cosine_vs_query` discipline — both forms bit-identical, so the
    switch is pure cost): small inputs keep the ×dim posexplode through
    a decimal hash aggregate (no Python worker); large inputs use the
    `npkernel` partial-sum pass — each Arrow batch computes per-label
    per-dimension EXACT column sums (`round_half_up(v*1e16)` int64,
    block-summed in ≤512-row chunks — each chunk bounded at
    512·1e16 < 2^63 — and accumulated into arbitrary-precision Python
    ints, emitted as DECIMAL(38,0) partials), so the shuffle carries
    labels×dim partial rows per task instead of rows×dim exploded
    terms (1.3x at sf10, lower per-row constant beyond —
    docs/SIM_NPK_AB_r10.json). The final decimal sum and single
    division are the same exact operands either way.
    """
    import numpy as np

    from stream_processor_spark.operators import npkernel as npk

    # The npkernel partials path carries the label through an int64
    # Arrow column (schema `label long`), so it is only semantically
    # equivalent to the explode form for integral labels. Gate the fast
    # path on the label type (round-11 ADVICE): a string-labeled frame
    # must take the explode branch at ANY size rather than crash or
    # mangle labels above the byte threshold — the switch stays pure
    # cost, never behavior.
    _label_integral = dict(t.embeddings.dtypes).get("label") in (
        "tinyint", "smallint", "int", "bigint",
    )
    if not _label_integral or (
        sim._input_bytes(t.embeddings) or 0
    ) < sim._NPK_BYTES_THRESHOLD:
        e = t.embeddings.select(
            "label", F.posexplode(F.col("embedding")).alias("pos0", "v")
        )
        scaled = F.round(
            F.col("v").cast("double") * F.lit(1e16), 0
        ).cast("long")
        return (
            e.select(
                "label", (F.col("pos0") + 1).alias("pos"), scaled.alias("sv")
            )
            .groupBy("label", "pos")
            .agg(
                (
                    F.sum(F.col("sv").cast("decimal(38,0)")).cast("double")
                    / (F.lit(1e16) * F.count(F.lit(1)))
                ).alias("centroid_component")
            )
        )

    def partials(batches):
        from decimal import Decimal

        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            SV = npk.round_half_up(E * npk.SCALE)
            labs = pdf["label"].to_numpy()
            recs = []
            for lab in np.unique(labs):
                M = SV[labs == lab]
                tot = [0] * M.shape[1]
                for i in range(0, M.shape[0], 512):
                    c = M[i : i + 512].sum(axis=0)  # ≤512·1e16: no overflow
                    tot = [a + int(b) for a, b in zip(tot, c)]
                n = int(M.shape[0])
                recs.extend(
                    (int(lab), p + 1, Decimal(s), n)
                    for p, s in enumerate(tot)
                )
            yield pd.DataFrame(
                recs, columns=["label", "pos", "psum", "n"]
            )

    part = sim.fan_out(t.embeddings.select("label", "embedding")).mapInPandas(
        partials, schema="label long, pos int, psum decimal(38,0), n long"
    )
    return (
        part.groupBy("label", "pos")
        .agg(
            (
                # DECIMAL(38,0) sum of exact integer partials; the
                # single division rounds the same exact operand the
                # explode form produced → engine-identical
                F.sum("psum").cast("double")
                / (F.lit(1e16) * F.sum("n"))
            ).alias("centroid_component")
        )
    )


_IVF_CENT_SQL = """cent AS (
  SELECT label AS clabel, i.i AS pos,
         CAST(CAST(SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT))
              AS BIGINT) AS DOUBLE) / (1e16 * COUNT(*)) AS c
  FROM embeddings CROSS JOIN generate_series(1, 64) AS i(i)
  GROUP BY label, i.i
)"""


def _ivf_serve_sql(nprobe: int = 2) -> str:
    """Serving CTEs shared by every IVF-family oracle: corpus assignment
    to the ``cent(clabel, pos, c)`` quantizer, query probe of the nearest
    ``nprobe`` lists, exact scaled-int rerank, top 10. Mirrors the Spark
    ``_ivf_serve`` dataflow term-for-term (1e16-scaled int64 products)."""
    return f"""asn_terms AS (
  SELECT e.vec_id, c.clabel,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE)
                    * CAST(e.embedding[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc
  FROM embeddings e CROSS JOIN cent c
),
asn_sims AS (
  SELECT vec_id, clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))) AS cos
  FROM asn_terms GROUP BY vec_id, clabel
),
assign AS (
  SELECT vec_id, clabel AS list_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel DESC) AS rn
    FROM asn_sims) WHERE rn = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
q_terms AS (
  SELECT c.clabel,
         CAST(round(c.c * CAST(q.qv[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS p,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc,
         CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * CAST(q.qv[c.pos] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM cent c CROSS JOIN q
),
q_sims AS (
  SELECT clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cos
  FROM q_terms GROUP BY clabel
),
qprobe AS (
  SELECT clabel AS list_id FROM (
    SELECT clabel, row_number() OVER (ORDER BY cos DESC, clabel DESC) AS rn
    FROM q_sims) WHERE rn <= {nprobe}
),
cand AS (SELECT a.vec_id FROM assign a JOIN qprobe USING (list_id)),
cand_terms AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN cand USING (vec_id)
  CROSS JOIN q CROSS JOIN generate_series(1, 64) AS i(i)
)
SELECT vec_id,
       CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
            * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
FROM cand_terms GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT 10
"""


_IVF_ORACLE = "WITH " + _IVF_CENT_SQL + ",\n" + _ivf_serve_sql(2)


def _ivf_serve_multi_sql(nprobe: int = 2, topk: int = 10,
                         query_ids: str = "0, 1, 2") -> str:
    """`_ivf_serve_sql` with a query dimension: every query in
    ``query_ids`` probes its own nearest lists and gets its own top-k —
    the oracle of the batched indexed serve. Assignment CTEs are shared
    (the index is query-independent)."""
    return f"""asn_terms AS (
  SELECT e.vec_id, c.clabel,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE)
                    * CAST(e.embedding[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc
  FROM embeddings e CROSS JOIN cent c
),
asn_sims AS (
  SELECT vec_id, clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))) AS cos
  FROM asn_terms GROUP BY vec_id, clabel
),
assign AS (
  SELECT vec_id, clabel AS list_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel DESC) AS rn
    FROM asn_sims) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN ({query_ids})),
q_terms AS (
  SELECT q.query_id, c.clabel,
         CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT) AS p,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc,
         CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * CAST(q.qv[c.pos] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM cent c CROSS JOIN q
),
q_sims AS (
  SELECT query_id, clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cos
  FROM q_terms GROUP BY query_id, clabel
),
qprobe AS (
  SELECT query_id, clabel AS list_id FROM (
    SELECT query_id, clabel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, clabel DESC) AS rn
    FROM q_sims) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM assign a JOIN qprobe p USING (list_id)
),
cand_terms AS (
  SELECT cd.query_id, e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN cand cd USING (vec_id)
  JOIN q ON q.query_id = cd.query_id
  CROSS JOIN generate_series(1, 64) AS i(i)
),
scored AS (
  SELECT query_id, vec_id,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
  FROM cand_terms GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM scored) WHERE rn <= {topk}
"""


@register(
    "sim_ann_ivf_multiquery",
    oracle="WITH " + _IVF_CENT_SQL + ",\n" + _ivf_serve_multi_sql(2, 10),
)
def sim_ann_ivf_multiquery(t):
    """Batched ANN: THREE query vectors (vec_id 0/1/2) served in ONE
    pass over the persisted IVF index — the retrieval twin of
    `text_bm25_multiquery` (`operators/annindex.ivf_multi_query_indexed`).
    The lists scan is pruned once by the UNION of every query's probes;
    one Arrow rerank scores each vector against exactly the queries
    whose probe set contains its list; per-query top-10 via one
    query-partitioned window. Per query the rows are identical to
    `sim_ann_ivf_indexed` (same model/probe/rerank arithmetic)."""
    import numpy as np

    from stream_processor_spark.operators.annindex import (
        ensure_ivf_index,
        ivf_multi_query_indexed,
    )

    spark = t._spark
    lists_name, cent_name = ensure_ivf_index(spark, t._dir)
    qrows = (
        t.embeddings.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        raise ValueError("multi-query IVF: no query vectors found")
    queries = {
        int(r[0]): np.asarray(r[1], dtype=np.float64) for r in qrows
    }
    return ivf_multi_query_indexed(spark, lists_name, cent_name, queries)


def _ivf_serve(e, cent_rows, nprobe=2, topk=10):
    """Shared IVF serving plan: hydrated model + ONE vectorized corpus pass.

    Round-5 second rewrite. The quantizer (k·dim scalars from
    ``cent_rows``) and the query vector are HYDRATED DRIVER-SIDE in ONE
    model-sized collect — the pyspark.ml pattern
    (KMeansModel.clusterCenters lives on the driver and ships in the task
    closure). The probe list (``cos DESC, clabel DESC LIMIT nprobe``,
    the oracle's exact ordering) is then a driver-side computation over
    k scalars. The corpus pass is a single Arrow-batched ``mapInPandas``
    stage (`operators/npkernel.py`): per batch, one k×dim scaled-int64
    matrix product assigns every vector (argmax cosine, ties to the
    higher label), probe-pruned rows get the exact fused cosine vs the
    query, and top-k goes through TakeOrderedAndProject. Every term is
    the engine's `round((a*b)*1e16)` int64 discipline, reproduced
    bit-exactly in numpy (tests/test_npkernel.py), so the DuckDB hash
    oracles are unchanged.

    vs the interpreted higher-order-function formulation this replaces:
    ~30 µs/vector of expression-tree walking becomes ~0.1 µs/vector of
    vectorized int64 math — the difference between 3.9× and ~1× of the
    single-node baseline at sf1 — while the dataflow stays scan →
    map-only score → top-k with zero corpus shuffle.
    """
    import pandas as pd

    # ONE hydration job: the fitted centroids and the query vector ride
    # in the same collect (query rows tagged label = -1), so serving
    # pays exactly two Spark jobs total — hydrate, then the corpus pass.
    qrows = (
        e.filter(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("pos0", "v"))
        .select(
            F.lit(-1).cast("long").alias("label"),
            (F.col("pos0") + 1).alias("pos"),
            F.col("v").cast("double").alias("c"),
        )
    )
    rows = (
        cent_rows.select(
            F.col("label").cast("long").alias("label"),
            F.col("pos").cast("int").alias("pos"),
            F.col("c").cast("double").alias("c"),
        )
        .unionByName(qrows.select("label", F.col("pos").cast("int"), "c"))
        .collect()
    )
    labels, C, scc = npk.model_from_rows([r for r in rows if r[0] >= 0])
    qmap = {int(r[1]): float(r[2]) for r in rows if r[0] == -1}
    if not qmap:
        raise ValueError("IVF serve: query vector (vec_id=0) not found")
    q = np.asarray([qmap[p] for p in sorted(qmap)], dtype=np.float64)
    sqq = npk.self_norms_scaled(q[None, :])[0]
    qp = npk.dot_scaled(q[None, :], C)[0]
    qcos = qp.astype("float64") / (
        np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq))
    )
    order = np.lexsort((-labels, -qcos))  # cos DESC, clabel DESC
    probe = np.sort(labels[order[:nprobe]])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            assigned, sxx = npk.assign_labels(E, labels, C, scc)
            keep = np.isin(assigned, probe)
            if not keep.any():
                continue
            p = npk.dot_scaled(E[keep], q)
            cos = p.astype("float64") / (
                np.sqrt(sxx[keep].astype("float64")) * np.sqrt(float(sqq))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy()[keep], "cosine": cos}
            )

    # No fan-out: the vectorized pass costs ~0.1 µs/vector, so even a
    # single local parquet split finishes in milliseconds — a rebalance
    # shuffle would cost more than it saves. Multi-split corpora (any
    # real deployment) parallelize naturally across their scan tasks.
    return (
        e.select("vec_id", "embedding")
        .mapInPandas(score, schema="vec_id long, cosine double")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(topk)
    )


@register("sim_ann_ivf", oracle=_IVF_ORACLE)
def sim_ann_ivf(t):
    """IVF-style ANN: coarse quantizer → inverted lists → probe → exact
    rerank. Deterministic end-to-end, so fully oracle-checkable.

    The coarse quantizer is the per-label mean centroid (the exact
    deterministic computation `sim_centroids` verifies) standing in for
    trained k-means (see `sim_ann_ivf_trained` for the trained swap).
    Like any IVF/k-means deployment the quantizer is a MODEL, not data:
    its L·dim scalars are fitted by one distributed fixed-point
    aggregation, then HYDRATED DRIVER-SIDE (one model-sized collect —
    the pyspark.ml KMeansModel.clusterCenters pattern) and shipped to
    executors in the task closure.

    Serving is the shared `_ivf_serve` plan: one Arrow-batched numpy
    pass assigns the corpus against the hydrated model (bit-exact
    scaled-int64 kernels, `operators/npkernel.py`), probe-prunes to
    ~nprobe/L of the corpus, and exact-reranks.

    Scale: the only shuffle is the model fit's (label, pos) aggregation
    over scaled-int partials; the corpus path is scan → vectorized map →
    top-k. At 100 TB, lists become partition keys (partition pruning
    replaces the probe filter) and the quantizer is swapped for trained
    k-means — identical dataflow. Complements `sim_ann_bucketed` (LSH):
    IVF gives data-adaptive lists, LSH gives data-independent hashing.

    All scalar terms round as ``round((a·b)·1e16)`` → int64 sums —
    bit-identical across Spark and the DuckDB oracle regardless of
    evaluation order.
    """
    e = t.embeddings

    # ---- fit: exact per-label fixed-point centroid means (columnar
    # per-dimension aggregates, one tiny shuffle — kmeans._mean_update),
    # packed to ONE broadcast row.
    cent_rows = kmeans._mean_update(
        e.select("label", "embedding"), "label", "embedding"
    )
    return _ivf_serve(e, cent_rows)


@register("sim_ann_ivf_indexed", oracle=_IVF_ORACLE)
def sim_ann_ivf_indexed(t):
    """`sim_ann_ivf` served from a PERSISTED inverted-list index — the
    build/serve split real vector serving uses, and the ANN twin of
    `text_bm25_postings` (round 6): `operators/annindex.ensure_ivf_index`
    writes the corpus ONCE as a table partitioned by list id (same
    deterministic quantizer, same bit-exact vectorized assignment), and
    each query then scans ONLY its nprobe probed list partitions
    (`PartitionFilters` pruning, pinned in tests/test_plans.py) and
    exact-reranks with the engine's scaled-int64 cosine. Results are
    identical to `sim_ann_ivf` — same model, probe order, and rerank
    arithmetic — so the oracle is shared.

    Scale: per-query scan cost is nprobe/k of the corpus BY LAYOUT (no
    assignment pass at query time at all); the write is amortized
    across queries, and incremental appends assign new vectors against
    the frozen model into their list partitions."""
    import numpy as np

    from stream_processor_spark.operators.annindex import (
        ensure_ivf_index,
        ivf_query_indexed,
    )

    spark = t._spark
    lists_name, cent_name = ensure_ivf_index(spark, t._dir)
    qrow = (
        t.embeddings.filter(F.col("vec_id") == 0).select("embedding").head()
    )
    if qrow is None:
        raise ValueError("IVF indexed serve: query vector (vec_id=0) not found")
    return ivf_query_indexed(
        spark, lists_name, cent_name, np.asarray(qrow[0], dtype=np.float64)
    )


_IVF_TRAINED_ORACLE = (
    "WITH " + kmeans.lloyd_oracle_ctes(k=10, iters=2) + ",\n" + _ivf_serve_sql(3)
)


@register("sim_ann_ivf_trained", oracle=_IVF_TRAINED_ORACLE)
def sim_ann_ivf_trained(t):
    """Production IVF: a TRAINED coarse quantizer (deterministic
    fixed-point Lloyd's k-means, k=10, 2 iterations — see
    ``operators/kmeans.py``) swapped into the exact `sim_ann_ivf`
    serving dataflow — the north-star swap docs/LIMITS.md promised.

    Through round 4 this used pyspark.ml KMeans and was stuck as a
    rows-only check (k-means|| init is implementation-defined, so no SQL
    oracle could reproduce the model). The deterministic Lloyd trainer
    removes that wall: seeded LCG init, argmax-cosine assignment and
    fixed-point mean updates are all 1e16-scaled int64 arithmetic, so
    the DuckDB oracle REPLAYS THE ENTIRE TRAINING TRAJECTORY from
    unrolled CTEs (``kmeans.lloyd_oracle_ctes``) and hash-checks the
    result — trained ANN, fully value-verified. Recall vs the exact
    ranking is additionally pinned in tests/test_ann_quality.py.

    fit: per iteration, one vectorized map-only assignment pass against
    the driver-hydrated model (k·dim scalars — `kmeans.lloyd_fit_np`) +
    one (label, pos) partial-agg shuffle for the means — the canonical
    multi-pass Lloyd cost. serve: identical `_ivf_serve` plan as
    `sim_ann_ivf` (vectorized assignment, nprobe=3 probe, exact rerank;
    the extra probed list buys recall@10 0.8 vs 0.6 on the fixture).
    At 100 TB: fit on a sample (the trainer takes any DataFrame),
    persist the centroids, partition the corpus by list_id — the probe
    becomes partition pruning; identical serving plan.
    """
    e = t.embeddings
    cent = kmeans.lloyd_fit_np(e, k=10, iters=2)
    return _ivf_serve(e, cent, nprobe=3)


_PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS, _PQ_SHORTLIST = 8, 8, 16, 2, 50
# residual PQ needs only a 30-candidate shortlist for the recall plain PQ
# reaches at 50 — the measurable win of residual refinement (see test_ann_quality)
_PQR_SHORTLIST = 30


def _pq_serve_sql(shortlist: int = _PQ_SHORTLIST) -> str:
    """Serving CTEs for PQ-ADC over the fitted ``cent(m, cid, pos, c)``
    codebooks (+ the ``sub_long`` layout from ``pq_oracle_ctes``):
    code assignment, query ADC table, integer shortlist scores, exact
    rerank. Every product is a 1e16-scaled int64; shortlist scores are
    pure integer sums, so the shortlist boundary is exact on both
    engines."""
    return f"""codes AS (
  SELECT vid, m, cid FROM (
    SELECT vid, m, cid, row_number() OVER (PARTITION BY vid, m
             ORDER BY dist ASC, cid ASC) AS rn FROM (
      SELECT l.vid, l.m, c.cid,
             CAST(SUM(CAST(round((l.v - c.c) * (l.v - c.c) * 1e16) AS BIGINT))
                  AS BIGINT) AS dist
      FROM sub_long l JOIN cent c ON c.m = l.m AND c.pos = l.pos
      GROUP BY l.vid, l.m, c.cid)) WHERE rn = 1),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
q_adc AS (
  SELECT c.m, c.cid,
         CAST(SUM(CAST(round(CAST(q.qv[c.m * {_PQ_SUB} + c.pos] AS DOUBLE) * c.c
                             * 1e16) AS BIGINT)) AS BIGINT) AS t
  FROM cent c CROSS JOIN q GROUP BY c.m, c.cid),
scores AS (
  SELECT k.vid, CAST(SUM(a.t) AS BIGINT) AS s
  FROM codes k JOIN q_adc a ON a.m = k.m AND a.cid = k.cid
  GROUP BY k.vid),
short AS (
  SELECT vid AS vec_id FROM (
    SELECT vid, row_number() OVER (ORDER BY s DESC, vid ASC) AS rn
    FROM scores) WHERE rn <= {shortlist}),
cand_terms AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN short USING (vec_id)
  CROSS JOIN q CROSS JOIN generate_series(1, 64) AS i(i)
)
SELECT vec_id,
       CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
            * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
FROM cand_terms GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT 10
"""


from stream_processor_spark.operators.annindex import (  # noqa: E402
    _PQFIT_MOD,
    _PQFIT_THRESHOLD,
)


def _pq_sampled_fit_ctes() -> str:
    """PQ-fit CTEs with the PRODUCTION sampling rule (round 9 — the
    round-8 IVFPQ treatment extended to the plain-PQ family): above
    `_PQFIT_THRESHOLD` corpus vectors the codebooks train on the
    deterministic 1-in-`_PQFIT_MOD` slice (vec_id % mod = 0); ENCODING
    always covers the full corpus. The rule is a pure function of the
    corpus count (the `fitmod` scalar CTE), so the oracle replays both
    branches and the small fixtures keep exercising the unsampled one.
    Emits the full-corpus `sub_long` for the encode/serve CTEs and ends
    in `cent(m, cid, pos, c)`."""
    dim = _PQ_M * _PQ_SUB
    return (
        f"""fitmod AS (
  SELECT CASE WHEN COUNT(*) > {_PQFIT_THRESHOLD} THEN {_PQFIT_MOD}
              ELSE 1 END AS m
  FROM embeddings),
efit AS (
  SELECT e.vec_id FROM embeddings e, fitmod f WHERE e.vec_id % f.m = 0),
sub_long AS (
  SELECT vec_id AS vid, CAST(floor((i.i - 1) / {_PQ_SUB}) AS INT) AS m,
         (i.i - 1) % {_PQ_SUB} + 1 AS pos,
         CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN generate_series(1, {dim}) AS i(i)),
fit_long AS (
  SELECT l.* FROM sub_long l, fitmod f WHERE l.vid % f.m = 0),
"""
        + kmeans.pq_oracle_ctes(
            _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS, table="efit",
            sub_long="fit_long",
        )
    )


def _pq_fit_input(e):
    """The trainer's input under the sampling rule — shared by the
    fit-per-query serve and `annindex.ensure_pq_index` so the scratch
    and indexed route twins stay row-identical at every scale."""
    n = e.count()
    fit_mod = _PQFIT_MOD if n > _PQFIT_THRESHOLD else 1
    return e.filter(F.col("vec_id") % fit_mod == 0)


_PQ_TRAINED_ORACLE = (
    "WITH "
    + _pq_sampled_fit_ctes()
    + ",\n"
    + _pq_serve_sql()
)


def _pq_trained_frame(t, shortlist=_PQ_SHORTLIST):
    """Plain-PQ serving frame with a parameterized shortlist (the recall
    test compares shortlist sizes across PQ variants).

    Round-5 vectorized serve: the trained codebooks (the lazy
    `lloyd_fit_pq` dataflow, executed once by the hydration collect)
    and the query hydrate driver-side; code assignment + ADC scoring +
    exact rerank cosine run in ONE Arrow-batched numpy pass
    (`npkernel.pq_adc_scores` — bit-identical to the JVM expressions,
    oracle unchanged); shortlist and final ranking are the same two
    TakeOrderedAndProject steps."""
    import pandas as pd

    e = t.embeddings
    M, SUB, K = _PQ_M, _PQ_SUB, _PQ_K
    books = npk.hydrate_codebooks(
        kmeans.lloyd_fit_pq(
            _pq_fit_input(e), n_sub=M, sub_dim=SUB, k=K, iters=_PQ_ITERS
        )
    )
    q = npk.hydrate_query(e)
    sqq = npk.self_norms_scaled(q[None, :])[0]

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            s = npk.pq_adc_scores(E, books, SUB, q)
            p = npk.dot_scaled(E, q)
            sxx = npk.self_norms_scaled(E)
            cos = p.astype("float64") / (
                np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqq))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "s": s, "cosine": cos}
            )

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_id long, s long, cosine double"
    )
    return (
        scored.orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(shortlist)
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "cosine")
    )


@register("sim_ann_pq_trained", oracle=_PQ_TRAINED_ORACLE)
def sim_ann_pq_trained(t):
    """Product quantization with ADC (asymmetric distance computation):
    the 64-dim space splits into M=8 subspaces of 8 dims; each subspace
    gets a k=16 codeword codebook, so a vector compresses to 8 bytes
    (one code per subspace — 32× smaller than float32). Search scores
    candidates WITHOUT decompression: the query precomputes a per-
    codeword table of partial dot products, and a candidate's
    approximate score is just M table lookups summed (exact int64 adds).
    Top-50 shortlist by ADC score, then exact fused-fold cosine rerank
    of the 50 — the standard IVF-PQ serving shape minus the IVF stage
    (composable with either list filter).

    The sub-quantizers are trained by the deterministic fixed-point
    Lloyd's in ``operators/kmeans.py`` (seeded LCG init, argmin
    squared-Euclidean assignment, scaled-int means, 2 iterations, all
    M=8 subspaces fitted in ONE dataflow with the subspace id as a
    grouping column). Through round 4 this used pyspark.ml KMeans and
    was rows-only; the DuckDB oracle now replays the full training +
    coding + ADC pipeline from generated CTEs and hash-checks it.
    Recall is additionally pinned in tests/test_ann_quality.py.

    Spark-first serving: codes are computed map-only against the
    broadcast codebooks (nested HOF argmin per subspace — no corpus
    shuffle); the query's ADC table is an expression over the same
    broadcast row; shortlist is TakeOrderedAndProject on exact integer
    scores. At 100 TB the codes column is written once (8 bytes/vector)
    and every downstream similarity pass scans codes instead of floats —
    the 32× scan shrinkage is the point.
    """
    return _pq_trained_frame(t, _PQ_SHORTLIST)


def _pq_residual_oracle(shortlist: int = _PQR_SHORTLIST) -> str:
    """Full training+serving replay for the residual-PQ pipeline: coarse
    Lloyd fit → corpus assignment → residuals → residual-PQ fit → codes →
    base-plus-ADC integer shortlist → exact rerank."""
    coarse = kmeans.lloyd_oracle_ctes(k=10, iters=2, prefix="cq")
    glue = f"""rasn_terms AS (
  SELECT e.vec_id AS avid, c.clabel,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE)
                    * CAST(e.embedding[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc
  FROM embeddings e CROSS JOIN cqcent c),
rasn AS (
  SELECT avid, clabel AS list_id FROM (
    SELECT avid, clabel,
           row_number() OVER (PARTITION BY avid ORDER BY cos DESC, clabel DESC) AS rn
    FROM (SELECT avid, clabel,
             CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))) AS cos
          FROM rasn_terms GROUP BY avid, clabel)) WHERE rn = 1),
rsub_long AS (
  SELECT e.vec_id AS vid,
         CAST(floor((i.i - 1) / {_PQ_SUB}) AS INT) AS m,
         (i.i - 1) % {_PQ_SUB} + 1 AS pos,
         CAST(e.embedding[i.i] AS DOUBLE) - c.c AS v
  FROM embeddings e
  CROSS JOIN generate_series(1, 64) AS i(i)
  JOIN rasn a ON a.avid = e.vec_id
  JOIN cqcent c ON c.clabel = a.list_id AND c.pos = i.i)"""
    pq = kmeans.pq_oracle_ctes(
        _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS, prefix="r", sub_long="rsub_long"
    )
    serve = f"""rcodes AS (
  SELECT vid, m, cid FROM (
    SELECT vid, m, cid, row_number() OVER (PARTITION BY vid, m
             ORDER BY dist ASC, cid ASC) AS rn FROM (
      SELECT l.vid, l.m, c.cid,
             CAST(SUM(CAST(round((l.v - c.c) * (l.v - c.c) * 1e16) AS BIGINT))
                  AS BIGINT) AS dist
      FROM rsub_long l JOIN rcent c ON c.m = l.m AND c.pos = l.pos
      GROUP BY l.vid, l.m, c.cid)) WHERE rn = 1),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
rq_adc AS (
  SELECT c.m, c.cid,
         CAST(SUM(CAST(round(CAST(q.qv[c.m * {_PQ_SUB} + c.pos] AS DOUBLE) * c.c
                             * 1e16) AS BIGINT)) AS BIGINT) AS t
  FROM rcent c CROSS JOIN q GROUP BY c.m, c.cid),
qbase AS (
  SELECT a.avid AS vid,
         CAST(SUM(CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT))
              AS BIGINT) AS b
  FROM rasn a JOIN cqcent c ON c.clabel = a.list_id CROSS JOIN q
  GROUP BY a.avid),
rscores AS (
  SELECT k.vid, CAST(qb.b + SUM(a.t) AS BIGINT) AS s
  FROM rcodes k JOIN rq_adc a ON a.m = k.m AND a.cid = k.cid
  JOIN qbase qb ON qb.vid = k.vid
  GROUP BY k.vid, qb.b),
short AS (
  SELECT vid AS vec_id FROM (
    SELECT vid, row_number() OVER (ORDER BY s DESC, vid ASC) AS rn
    FROM rscores) WHERE rn <= {shortlist}),
cand_terms AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN short USING (vec_id)
  CROSS JOIN q CROSS JOIN generate_series(1, 64) AS i(i)
)
SELECT vec_id,
       CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
            * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
FROM cand_terms GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT 10
"""
    return "WITH " + coarse + ",\n" + glue + ",\n" + pq + ",\n" + serve


# Handles to the frames persisted by the PREVIOUS _pq_residual_frame
# invocation, unpersisted on the next build. This is the inverse of
# memoization: it exists only to GUARANTEE that every invocation's
# action recomputes the coarse fit from the parquet inputs (Spark's
# CacheManager matches canonicalized plans, so without the explicit
# unpersist a rebuilt identical frame would silently reuse the prior
# run's cached rows — exactly the cross-run reuse the bench forbids).
# Within ONE invocation the caches are what dedupe the lazy
# re-evaluations of the fit subtrees (see _pq_residual_frame).
_PQR_PERSISTED: list = []


def _pqr_drop_previous() -> None:
    """Unpersist the previous invocation's caches. A stale handle whose
    SparkSession has since stopped holds no cache and must not break the
    new build (multi-session tests/tools), so it is dropped quietly. Any
    other unpersist failure is logged: a surviving cache would let the
    CacheManager serve the previous run's rows to this one."""
    while _PQR_PERSISTED:
        h = _PQR_PERSISTED.pop()
        if h.sparkSession.sparkContext._jsc is None:  # session stopped
            continue
        try:
            h.unpersist()
        except Exception:
            _log.warning(
                "pq_residual: unpersist of a cached frame failed", exc_info=True
            )


def _pq_residual_frame(t, shortlist=_PQR_SHORTLIST):
    # Round 16: the round-15 shape still re-embedded the coarse fit +
    # assignment twice (rv cache build AND the coding pass) and carried
    # `embedding`/`__cl` (2×64 doubles) through the shortlist — static
    # plan 103 Exchanges / 62 scans / 51 BNLJ, and for the 2000-row
    # sf0.1 fixture nearly ALL the wall time was Catalyst re-optimizing
    # that tree per action, not data work. This shape cuts the plan at
    # the three natural model boundaries with LAZY per-invocation
    # persists (nothing computes at build time; the previous
    # invocation's caches are dropped above so every run computes from
    # parquet):
    #   cent  — the coarse (label, pos, c) fit result, k·dim rows;
    #   bres  — ONE corpus pass producing (vec_id, list_id, rv);
    #   books — the 1-row packed residual codebooks.
    # The serve then scores SLIM rows: the per-candidate base term
    # <q, c_list> is computed once per LIST (k=10 values, identical
    # dot_scaled call on the identical centroid array — bit-equal to
    # the per-row <q, __cl> it replaces) and looked up by list_id, and
    # `embedding` is re-attached only for the top-`shortlist` rerank
    # rows via a broadcast join on vec_id (same parquet values the old
    # shape carried through).
    _pqr_drop_previous()
    e = t.embeddings
    M, SUB, K = _PQ_M, _PQ_SUB, _PQ_K
    cent = kmeans.lloyd_fit(e, k=10, iters=2).persist()
    _PQR_PERSISTED.append(cent)
    coarse = kmeans.pack_centroids(cent)

    # assignment that KEEPS the winning centroid's array (for the
    # residual) — same argmax struct as kmeans.assign_cosine
    bres = (
        sim.fan_out(e)
        .select(
            "vec_id",
            "embedding",
            sim.dot_scaled(F.col("embedding"), F.col("embedding")).alias("__sxx"),
        )
        .crossJoin(F.broadcast(coarse))
        .select(
            "vec_id",
            "embedding",
            "cents",
            F.array_max(
                F.transform(
                    F.col("cents"),
                    lambda c: F.struct(
                        (
                            sim.dot_scaled(F.col("embedding"), c["carr"]).cast("double")
                            / (
                                F.sqrt(F.col("__sxx").cast("double"))
                                * F.sqrt(c["scc"].cast("double"))
                            )
                        ).alias("cos"),
                        c["clabel"].alias("clabel"),
                    ),
                )
            )["clabel"].alias("list_id"),
        )
        .select(
            "vec_id",
            "embedding",
            "list_id",
            F.element_at(
                F.filter(F.col("cents"), lambda c: c["clabel"] == F.col("list_id")), 1
            )["carr"].alias("__cl"),
        )
        .select(
            "vec_id",
            "list_id",
            F.zip_with(
                F.col("embedding"), F.col("__cl"), lambda x, y: x.cast("double") - y
            ).alias("rv"),
        )
        .persist()
    )
    _PQR_PERSISTED.append(bres)
    books = kmeans.pack_codebooks(
        kmeans.lloyd_fit_pq(
            bres.select("vec_id", "rv"),
            n_sub=M,
            sub_dim=SUB,
            k=K,
            iters=_PQ_ITERS,
            vec_col="rv",
        )
    ).persist()
    _PQR_PERSISTED.append(books)

    # one-row query model: the ADC table plus the per-list base terms
    # <q, c_list> (same dot_scaled over the same packed centroid arrays
    # the old per-row <q, __cl> used — exact int64, bit-equal)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    model = (
        q.crossJoin(F.broadcast(books))
        .crossJoin(F.broadcast(coarse))
        .select(
            kmeans.pq_adc_expr("qv", SUB).alias("__adc"),
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    c["clabel"].alias("clabel"),
                    sim.dot_scaled(F.col("qv"), c["carr"]).alias("bterm"),
                ),
            ).alias("__bt"),
            "books",
        )
    )
    bterm = F.element_at(
        F.filter(F.col("__bt"), lambda b: b["clabel"] == F.col("list_id")), 1
    )["bterm"]
    score = bterm + kmeans.pq_adc_score(M)
    short = (
        bres.crossJoin(F.broadcast(model))
        .select(
            "vec_id",
            "list_id",
            kmeans.pq_code_expr("rv", M, SUB).alias("code"),
            "__adc",
            "__bt",
        )
        .select("vec_id", score.alias("__s"))
        .orderBy(F.col("__s").desc(), F.col("vec_id"))
        .limit(shortlist)
        .select("vec_id")
    )
    return (
        e.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", sim.cosine(F.col("embedding"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@register("sim_ann_pq_residual", oracle=_pq_residual_oracle())
def sim_ann_pq_residual(t):
    """IVF-PQ residual refinement: PQ codes trained on RESIDUALS against
    a coarse Lloyd quantizer, at the same 8-byte code budget as
    `sim_ann_pq_trained` — the docs/LIMITS.md open item.

    Why residuals lift recall: after subtracting the assigned coarse
    centroid, the vectors the sub-quantizers must cover span a much
    smaller cell of the space, so the same M=8×K=16 codebook budget
    quantizes far more finely. The candidate's approximate score
    decomposes exactly: <q, v> = <q, c_list> + <q, r_v> — the first term
    is one scaled-int dot against the assigned coarse centroid, the
    second is the standard M-lookup residual-ADC sum; both are exact
    int64, so the top-50 shortlist boundary is deterministic and the
    whole pipeline (coarse fit → assignment → residual fit → codes →
    scores → rerank) is hash-checked by a DuckDB oracle that replays it
    from generated CTEs.

    Spark shape: coarse fit = `kmeans.lloyd_fit` (k=10, 2 iters);
    assignment + residual computation map-only against the broadcast
    coarse model (the winning centroid's array is pulled from the packed
    row — no join); residual-PQ fit = `kmeans.lloyd_fit_pq` on the
    residual column; serving identical to `sim_ann_pq_trained` plus the
    base term <q, c_list>, computed once per LIST and looked up by
    list_id (exact int64 — the same dot against the same centroid array
    every row of the list would compute). The three model boundaries
    (coarse fit, slim residuals, codebooks) are lazily persisted per
    invocation so the shortlist scores slim (vec_id, list_id, rv) rows
    and `embedding` is re-read only for the rerank candidates (a
    broadcast semi-join on vec_id). At 100 TB, list_id partitions the corpus,
    codes are written once, and the coarse/codebook models stay
    broadcast-sized. Measured on the fixture: at an equal 30-candidate
    shortlist the residual ADC reaches recall@10 0.7 where plain PQ gets
    0.5, so this query is REGISTERED at shortlist 30 — same recall as
    plain PQ at 50 with 40% fewer rerank candidates (pinned in
    tests/test_ann_quality.py).
    """
    return _pq_residual_frame(t, _PQR_SHORTLIST)


@register(
    "text_levenshtein",
    oracle="""
    WITH q AS (SELECT text AS qtext FROM documents WHERE doc_id = 0)
    SELECT d.doc_id,
           CAST(levenshtein(substring(d.text, 1, 60), substring(q.qtext, 1, 60))
                AS INT) AS edit_distance
    FROM documents d CROSS JOIN q
    """,
)
def text_levenshtein(t):
    """Edit distance vs a query doc (prefix-bounded) — the third near-dup
    metric family (exact char-level) alongside token/shingle Jaccard.

    Distance is O(len²) per pair, so production use is always
    prefix/length-bounded and LSH-blocked; the 60-char bound here models
    that."""
    d = t.documents
    q = d.filter(F.col("doc_id") == 0).select(
        F.substring("text", 1, 60).alias("qhead")
    )
    return d.crossJoin(F.broadcast(q)).select(
        "doc_id",
        F.levenshtein(F.substring("text", 1, 60), F.col("qhead")).alias(
            "edit_distance"
        ),
    )


_PREP_CTE = """
    WITH scored AS (
      SELECT doc_id, text, lang,
             round(
               (CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 1000
                     THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                         x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
                       AS DOUBLE) / len(string_split(text, ' ')) > 0.0
                   AND CAST(len(list_filter(string_split(text, ' '),
                         x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
                       AS DOUBLE) / len(string_split(text, ' ')) < 0.6
                     THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                            AS DOUBLE) / length(text) > 0.8
                     THEN 0.2 ELSE 0.0 END), 2) AS quality
      FROM documents
    ),
    kept AS (
      SELECT *, md5(lower(trim(text))) AS fingerprint
      FROM scored WHERE quality >= 0.5
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id)
                 AS rn
        FROM kept
      ) WHERE rn = 1
    )
"""


@register(
    "corpus_prep",
    oracle=_PREP_CTE + """
    SELECT doc_id, lang, quality, fingerprint,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
    FROM deduped
    """,
)
def corpus_prep(t):
    """End-to-end corpus preparation (operators/prep.py): quality filter →
    exact dedup on content fingerprint → per-doc features. The composite
    query the engine exists to run; one plan, two shuffles (dedup window +
    none for scoring)."""
    from stream_processor_spark.operators.prep import prepare_corpus

    return prepare_corpus(t.documents).select(
        "doc_id", "lang", "quality", "fingerprint", "n_tokens"
    )


@register(
    "dedup_cross_source",
    oracle="""
    WITH fp AS (
      SELECT source,
             md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS f
      FROM documents
    ),
    shared AS (
      SELECT DISTINCT a.f, a.source AS source_a, b.source AS source_b
      FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    )
    SELECT source_a, source_b, COUNT(*) AS n_shared
    FROM shared GROUP BY source_a, source_b
    """,
)
def dedup_cross_source(t):
    """Cross-source overlap audit: counts of content fingerprints (5-token
    prefix) shared between source pairs — the contamination check every
    training pipeline runs before carving train/eval splits from multiple
    sources (did source A leak into source B?).

    Scale: one shuffle on the 16-byte fingerprint; the self-join runs
    within fingerprint groups only (collision-bounded), never all-pairs
    of documents, and the output is per source-PAIR — tiny.
    """
    d = t.documents
    fp = d.select(
        "source",
        F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))).alias("f"),
    )
    a = fp.alias("a")
    b = fp.alias("b")
    shared = (
        a.join(b, (F.col("a.f") == F.col("b.f")) & (F.col("a.source") < F.col("b.source")))
        .select(
            F.col("a.f").alias("f"),
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .distinct()
    )
    return shared.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )


@register(
    "corpus_prep_stats",
    oracle=_PREP_CTE + """
    SELECT (SELECT COUNT(*) FROM documents) AS n_raw,
           COUNT(*) AS n_kept,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT fingerprint) AS n_unique
    FROM deduped
    """,
)
def corpus_prep_stats(t):
    """Acceptance-funnel stats over the prepared corpus
    (operators/prep.py:corpus_stats): raw → kept → unique, with total
    token volume — the per-run audit record a corpus pipeline emits.
    Fully lazy: the raw count rides as a 1-row cross join, no eager
    driver-side count."""
    from stream_processor_spark.operators.prep import corpus_stats, prepare_corpus

    raw_n = t.documents.agg(F.count(F.lit(1)).alias("n_raw"))
    return corpus_stats(prepare_corpus(t.documents), raw_n)


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_band_cand_sql(4, 4).lstrip()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM cand e1
    JOIN cand e2 ON e2.va = e1.vb
    JOIN cand e3 ON e3.va = e1.va AND e3.vb = e2.vb
    """,
)
def graph_triangle_count(t):
    """Triangle count over the LSH candidate graph — the cluster-density
    diagnostic for near-duplicate graphs: many triangles ⇒ candidate
    edges form tight clusters (real duplicate groups); few ⇒ scattered
    pair noise. Edges are the deterministic banded-LSH candidate pairs
    (va < vb, the same edge set `dedup_cc_clusters` clusters), so the
    count is exact and hash-checkable.

    The canonical distributed triangle algorithm: with edges oriented
    low→high id, each triangle a<b<c is counted exactly once as
    (a,b)+(b,c)+(a,c) — two self-joins, no orientation dedup needed.
    Scale: the candidate graph is band-bucketed (edges ≪ n²); the two
    equi-joins shuffle on vertex ids and AQE handles the skew of hub
    vertices (a hot vertex can also be salted — `operators/skew.py`).
    """
    edges = sim.banded_candidate_pairs(t.embeddings).select(
        F.col("id_a").alias("va"), F.col("id_b").alias("vb")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.vb") == F.col("e2.va"))
        .join(
            e3,
            (F.col("e3.va") == F.col("e1.va")) & (F.col("e3.vb") == F.col("e2.vb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}


def _mix_weight_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items()
    )
    return f"CASE lang {cases} END"


@register(
    "corpus_mix",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    feasible AS (
      SELECT MIN(CAST(floor(CAST(n AS DOUBLE) / ({_mix_weight_sql()})) AS BIGINT))
             AS total FROM counts
    ),
    ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
               ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.source
    FROM ranked r CROSS JOIN feasible f
    WHERE r.rn <= CAST(floor(({_mix_weight_sql().replace("lang", "r.lang")})
                             * f.total) AS BIGINT)
    """,
)
def corpus_mix(t):
    """Weighted corpus mixing — the training-data composition step: given
    target language proportions (en .5 / de .2 / fr .15 / es .1 / zh .05),
    select the LARGEST corpus achieving exactly that mix: feasible total
    T = min over groups of floor(n_g / w_g), then keep floor(w_g · T)
    docs per group, chosen by deterministic LCG-hash rank (stable across
    partitionings, engines, and runs — the reproducible counterpart of
    random sub/over-sampling).

    Scale: one tiny group-count aggregate → 1-row broadcast; selection is
    a per-group row_number over the hash order (one shuffle on the group
    key) with the cutoff computed expression-side. At 100 TB the same
    two-pass shape stands; weights/keys are parameters.
    """
    d = t.documents
    w = None
    for k, v in _MIX_WEIGHTS.items():
        w = F.when(F.col("lang") == k, F.lit(v)) if w is None else w.when(
            F.col("lang") == k, F.lit(v)
        )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    feasible = counts.select(
        F.min(F.floor(F.col("n").cast("double") / w).cast("long")).alias("total")
    )
    from pyspark.sql.window import Window

    rank = Window.partitionBy("lang").orderBy(
        ((F.col("doc_id") * F.lit(1103515245) + F.lit(12345))
         % F.lit(2147483648)).asc(),
        F.col("doc_id").asc(),
    )
    return (
        d.select("doc_id", "lang", "source")
        .withColumn("rn", F.row_number().over(rank))
        .crossJoin(F.broadcast(feasible))
        .filter(
            F.col("rn")
            <= F.floor(w * F.col("total").cast("double")).cast("long")
        )
        .select("doc_id", "lang", "source")
    )


@register(
    "text_rarity_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM freq)
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(CAST(round(1e6 * (CAST(t.n_total AS DOUBLE) / f.cnt))
                               AS BIGINT)) AS BIGINT) AS DOUBLE)
             / (1e6 * COUNT(*)) AS rarity
    FROM tok k JOIN freq f USING (token) CROSS JOIN tot t
    GROUP BY k.doc_id
    """,
)
def text_rarity_score(t):
    """Document distinctiveness via inverse unigram frequency: rarity =
    mean over the doc's tokens of (corpus_tokens / token_count) — high
    for documents made of rare vocabulary, ~1 for documents of pure
    boilerplate. The frequency-based cousin of `text_quality_score`
    (surface heuristics) and the deterministic stand-in for perplexity
    filtering (swap the unigram table for a real LM's logprobs at
    production; identical dataflow).

    Per-token ratios are 1e6-scaled int64 (IEEE division + one multiply,
    bit-identical cross-engine), summed exactly, one final division —
    so the score hash-checks. Scale (round 15, re-planned on the Zipf
    corpus — the string-keyed dictionary measured 4.7x DuckDB at sf10
    with a 2M-token vocabulary): tokens aggregate and join as 8-byte
    xxhash64 keys (the hash never reaches the output — the documented
    dup-spans collision argument), shrinking the frequency shuffle AND
    the broadcast dictionary to 16 bytes/token (2M-token vocab =
    32 MB; A/B'd against the non-broadcast shuffle join, which paid a
    55M-row probe-side exchange and measured 2.4x slower). The
    broadcast is O(vocab) — fine to ~100M tokens on a 48 GB driver;
    past that drop the hint and the same plan runs as a key-partitioned
    shuffle join. The 1-row corpus total rides its own broadcast.
    """
    d = t.documents
    tok = d.select(
        "doc_id",
        F.explode(
            F.transform(tx.tokens(F.col("text")), lambda x: F.xxhash64(x))
        ).alias("gh"),
    )
    freq = tok.groupBy("gh").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("long").alias("n_total"))
    term = F.round(
        F.lit(1e6) * (F.col("n_total").cast("double") / F.col("cnt")), 0
    ).cast("long")
    return (
        tok.join(F.broadcast(freq), "gh")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(term).cast("double")
                / (F.lit(1e6) * F.count(F.lit(1)))
            ).alias("rarity"),
        )
    )


@register(
    "sample_uniform_k",
    oracle="""
    SELECT doc_id, source FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100
    """,
)
def sample_uniform_k(t):
    """Exact-k uniform sample without replacement: rank every row by a
    cryptographic hash of its key and keep the k smallest — the
    deterministic, engine-portable form of reservoir sampling (same
    result from any partitioning / arrival order, unlike TABLESAMPLE or
    an actual streaming reservoir). Complements `sample_deterministic`
    (fixed RATE by hash threshold) with a fixed SIZE.

    Scale: TakeOrderedAndProject — per-partition top-k then a k-sized
    driver merge; no global sort, no shuffle of the corpus.
    """
    d = t.documents
    return (
        d.select("doc_id", "source")
        .orderBy(F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc())
        .limit(100)
    )


def _cc_unrolled_sql(rounds: int = 30) -> str:
    """Unrolled min-label propagation CTEs: c0..c<rounds>.

    The natural recursive-CTE fixpoint (UNION-dedup transitive closure)
    materializes (vertex, EVERY smaller reachable label) — O(V x
    cluster_size) working set, which the round-6 sf1 sweep measured as
    intractable already at 20k vertices with dense LSH clusters (>15
    min, unbounded; DuckDB 1.0 has no keyed recursion). The
    unrolled form is the EXACT oracle of the engine's BSP instead: each
    stage keeps one (v, min comp) row per vertex, so stage cost is
    O(V + E) flat. ``rounds`` mirrors connected_components' max_iter
    (=30): if the true diameter exceeds it the Spark side raises — the
    same loud contract, never a silent divergence; extra stages past the
    fixpoint are no-ops.

    Formulation notes (DuckDB 1.0): every stage must reference its
    predecessor exactly ONCE — a two-reference stage (self UNION ALL
    neighbor-propagate) inlines exponentially. Self-loops added to the
    edge list make `min(own, neighbors)` a single grouped join; and
    every stage is AS MATERIALIZED — inlined single-reference stages
    still blow up the optimizer's plan search superlinearly (measured:
    15 rounds 0.5 s, 20 rounds 12 s, 25+ minutes; materialized, 30
    rounds run in 0.2 s at the same scale)."""
    s = [
        # self-loop per vertex ⇒ one grouped join per stage computes
        # min(own previous comp, neighbors' previous comps)
        "bidir_loop AS MATERIALIZED ("
        "SELECT v, u FROM bidir "
        "UNION ALL SELECT vec_id AS v, vec_id AS u FROM embeddings)",
        "c0 AS MATERIALIZED "
        "(SELECT vec_id AS v, vec_id AS comp FROM embeddings)",
    ]
    for i in range(1, rounds + 1):
        s.append(
            f"c{i} AS MATERIALIZED (SELECT b.u AS v, MIN(p.comp) AS comp "
            f"FROM c{i - 1} p JOIN bidir_loop b ON b.v = p.v "
            f"GROUP BY b.u)"
        )
    return ",\n    ".join(s)


# Shared by `dedup_cc_clusters` (the labeling) and `dedup_cluster_stats`
# (the size profile) — one WITH chain: banded candidates -> exact-cosine
# pairs -> 30-round unrolled min-label propagation into c30.
_CC_ORACLE_CTES = f"""
    WITH
    {_band_cand_sql(4, 4).lstrip()},
    terms AS (
      SELECT c.va, c.vb,
             CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                        * CAST(b.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS p,
             CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                        * CAST(a.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
             CAST(round(CAST(b.embedding[i.i] AS DOUBLE)
                        * CAST(b.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS bb
      FROM cand c
      JOIN embeddings a ON c.va = a.vec_id
      JOIN embeddings b ON c.vb = b.vec_id
      CROSS JOIN generate_series(1, 64) AS i(i)
    ),
    pairs AS (
      SELECT va, vb FROM terms GROUP BY va, vb
      HAVING CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(SUM(bb) AS BIGINT) AS DOUBLE))) > 0.2
    ),
    bidir AS (
      SELECT va AS v, vb AS u FROM pairs
      UNION ALL SELECT vb, va FROM pairs
    ),
    {_cc_unrolled_sql(30)}
    """


@register(
    "dedup_cc_clusters",
    oracle=_CC_ORACLE_CTES
    + """
    SELECT v AS vec_id, comp AS component
    FROM c30
    """,
)
def dedup_cc_clusters(t):
    """Dedup clusters: connected components of the similarity graph
    (banded-LSH candidate pairs with cosine > 0.2), component = min vec_id.

    Pair generation uses ``banded_candidate_pairs`` (4 bands × 4 sign
    bits) — hash-derived bucket cardinality that scales with the data,
    unlike a metadata label (O(n²/L) within blocks at 100 TB).
    Pairs→clusters is the canonicalization step after near-dup detection;
    iterative min-label propagation (operators/graph.py) vs the oracle's
    UNROLLED 30-round min-label propagation (same per-stage recurrence,
    `_cc_unrolled_sql`) — the min-label fixpoint is unique, max_iter=30
    bounds both sides identically (Spark raises loudly past it), so this
    iterative algorithm is hash-checked at any scale the diameter bound
    admits.
    """
    from stream_processor_spark.operators.graph import connected_components

    e = t.embeddings
    cand = sim.banded_candidate_pairs(e, n_bands=4, bits=4)
    cids = sim.capped_band_member_ids(e, n_bands=4, bits=4)
    pairs = (
        _exact_pair_cosines(e, cand, cand_ids=cids)
        .filter(F.col("cosine") > 0.2)
        .select(F.col("id_a").alias("va"), F.col("id_b").alias("vb"))
    )
    vertices = e.select(F.col("vec_id").alias("id"))
    return connected_components(
        vertices, pairs, id_col="id", src_col="va", dst_col="vb"
    ).withColumnRenamed("id", "vec_id")


@register(
    "dedup_cluster_stats",
    oracle=_CC_ORACLE_CTES
    + """
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
      SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM c30 GROUP BY comp
    ) GROUP BY cluster_size
    """,
)
def dedup_cluster_stats(t):
    """Cluster-size profile of the near-dup similarity graph: the
    histogram (cluster_size, n_clusters) over `dedup_cc_clusters`'
    components. This is the number an operator actually watches before
    committing a dedup pass: the singleton row says how much of the
    corpus is untouched, the tail rows catch a degenerate giant
    component (a too-loose threshold collapsing the corpus into one
    cluster) BEFORE any document is dropped.

    Scale: two slim aggregates on top of the component labels — a
    (component)-keyed count (vertex-sized shuffle of two longs), then a
    (size)-keyed count over one row per cluster. Nothing here touches
    embeddings or text."""
    comp = dedup_cc_clusters(t)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


# ---------------------------------------------- round-4 corpus operators ----


# Shared by `text_bm25` (query-time tokenize) and `text_bm25_postings`
# (persisted layout) — both produce the identical ranking. Same
# expression shapes on both sides; score rounded to 6 dp so a sub-ulp
# libm difference in ln() cannot flip the hash.
_BM25_ORACLE = """
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs
      ) WHERE tok <> ''
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dlen AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    corpus AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dlen
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    qtok AS (SELECT DISTINCT tok FROM tf WHERE doc_id = 0)
    SELECT t.doc_id,
           round(SUM(
             ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
             * (CAST(t.tf AS DOUBLE) * 2.2)
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(d.len AS DOUBLE) / c.avgdl)))
           ), 6) AS bm25
    FROM tf t
    JOIN qtok q ON t.tok = q.tok
    JOIN dfreq f ON t.tok = f.tok
    JOIN dlen d ON t.doc_id = d.doc_id
    CROSS JOIN corpus c
    GROUP BY t.doc_id
    """


@register("text_bm25", oracle=_BM25_ORACLE)
def text_bm25(t):
    """BM25, tokenize-per-query (at scale serve from `text_bm25_postings`: the persisted layout).

    Relevance of every document against the query doc's (doc_id=0)
    token set — the classic corpus-ranking operator (k1=1.2, b=0.75),
    used in training-data pipelines for query-targeted subset selection.

    Round-5 vectorized restructure: the query token set (the request
    parameter) hydrates driver-side; ONE Arrow-batched pandas pass over
    the corpus emits narrow integer-keyed rows — per document a length
    row plus (tokidx, tf) for matched query tokens only — so the
    shuffles that remain carry (long, int) pairs with map-side combine
    instead of three passes over exploded token STRINGS (measured ~4×
    at 50k docs / 5M tokens). df/idf frames are query-sized and
    broadcast; the scoring expressions are the SAME Catalyst
    double-arithmetic as before, so the DuckDB oracle is unchanged
    (idf uses the +1 Lucene form; score rounded to 6 dp — natural log
    is the one sub-ulp engine-divergence risk, and the rounding absorbs
    it).

    Scale: corpus path is scan → vectorized map → two tiny integer
    aggregations; nothing document-sized ever shuffles as strings. At
    100 TB the same pass writes (doc, token-id, tf) postings once and
    every subsequent query reuses them.
    """
    import pandas as pd

    # query token set — hydrated like any serving parameter
    qrow = (
        t.documents.filter(F.col("doc_id") == 0).select("text").head()
    )
    if qrow is None or qrow[0] is None:
        raise ValueError("bm25: query document (doc_id=0) not found")
    qtokens = sorted({tok for tok in qrow[0].split(" ") if tok != ""})
    tok_index = {tok: i for i, tok in enumerate(qtokens)}

    d = sim.fan_out(
        t.documents.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    ).select("doc_id", "text")

    def postings(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = pdf["text"].str.split(" ")
            exploded = pd.DataFrame(
                {"doc_id": pdf["doc_id"].repeat(toks.str.len()), "tok": toks.explode()}
            )
            exploded = exploded[exploded["tok"] != ""]
            lens = exploded.groupby("doc_id").size()
            # every document contributes a length row (tokidx = -1)
            len_rows = pd.DataFrame(
                {
                    "doc_id": lens.index.to_numpy(),
                    "tokidx": -1,
                    "tf": 0,
                    "len": lens.to_numpy(),
                }
            )
            exploded["tokidx"] = exploded["tok"].map(tok_index)
            matched = exploded.dropna(subset=["tokidx"])
            tf = (
                matched.groupby(["doc_id", "tokidx"]).size().rename("tf").reset_index()
            )
            tf["len"] = tf["doc_id"].map(lens)
            tf = tf[["doc_id", "tokidx", "tf", "len"]]
            out = pd.concat([len_rows, tf], ignore_index=True)
            out["tokidx"] = out["tokidx"].astype("int32")
            yield out

    rows = d.mapInPandas(
        postings, schema="doc_id long, tokidx int, tf long, len long"
    )
    dlen = rows.filter(F.col("tokidx") == -1).select("doc_id", "len")
    corpus = dlen.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("len").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = rows.filter(F.col("tokidx") >= 0)
    dfreq = tf.groupBy("tokidx").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term = (
        idf
        * (F.col("tf").cast("double") * F.lit(2.2))
        / (
            F.col("tf").cast("double")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * (F.col("len").cast("double") / F.col("avgdl")))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "tokidx")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term), 6).alias("bm25"))
    )


@register("text_bm25_postings", oracle=_BM25_ORACLE)
def text_bm25_postings(t):
    """BM25 served from the PERSISTED postings layout — the production
    shape `text_bm25`'s docstring has always argued for, now registered
    and measured (round-5 verdict item 1).

    `operators/postings.ensure_postings` tokenizes the corpus ONCE into
    a (tok, doc_id, tf, len) table bucketed-and-sorted by token plus a
    one-row stats table; this query then serves the ranking for the
    query doc's (doc_id=0) token set from that layout. The ``tok IN``
    filter prunes the bucketed scan to the buckets containing query
    tokens (SelectedBucketsCount pinned in tests/test_plans.py), and
    document frequencies aggregate from the pruned postings themselves
    — per-query cost scales with MATCHED postings, not corpus size.
    Scoring expressions are identical to `text_bm25`, so both variants
    share one oracle; the write is the amortized cost, skipped on every
    call after the first (same caching contract as `join_bucketed`).

    Scale: at 100 TB the per-query plan reads a handful of buckets of
    narrow integer rows, broadcasts a query-token-sized df frame, and
    runs one map-side-combined doc aggregate — no document text is ever
    rescanned."""
    from stream_processor_spark.operators.postings import (
        bm25_from_postings,
        ensure_postings,
    )

    spark = t._spark
    qrow = t.documents.filter(F.col("doc_id") == 0).select("text").head()
    if qrow is None or qrow[0] is None:
        raise ValueError("bm25: query document (doc_id=0) not found")
    qtokens = sorted({tok for tok in qrow[0].split(" ") if tok != ""})
    post_name, stats_name = ensure_postings(spark, t._dir)
    return bm25_from_postings(spark, post_name, stats_name, qtokens)


@register(
    "text_bm25_multiquery",
    # text_bm25's oracle with a query dimension: per (query doc 0/1/2,
    # corpus doc) score, df/corpus stats computed once, query token
    # sets deduplicated per query exactly as the engine's broadcast
    # (query_id, tok) frame is.
    oracle="""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs
      ) WHERE tok <> ''
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dlen AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    corpus AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dlen
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    qtok AS (
      SELECT DISTINCT doc_id AS query_id, tok FROM toks WHERE doc_id IN (0, 1, 2)
    )
    SELECT q.query_id, t.doc_id,
           round(SUM(
             ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
             * (CAST(t.tf AS DOUBLE) * 2.2)
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(d.len AS DOUBLE) / c.avgdl)))
           ), 6) AS bm25
    FROM tf t
    JOIN qtok q ON t.tok = q.tok
    JOIN dfreq f ON t.tok = f.tok
    JOIN dlen d ON t.doc_id = d.doc_id
    CROSS JOIN corpus c
    GROUP BY q.query_id, t.doc_id
    """,
)
def text_bm25_multiquery(t):
    """Batched BM25: THREE query documents (doc_id 0/1/2) ranked against
    the whole corpus in ONE pass over the persisted postings index
    (`operators/postings.bm25_multi_query`) — the training-data
    selection workload where the layout pays hardest: N queries cost
    one pruned scan + one (query, doc) aggregate instead of N scans.
    Per query the scores are identical to the single-query path (same
    expressions, df counted once over the pruned postings); the oracle
    is `text_bm25`'s with a query dimension."""
    from stream_processor_spark.operators.postings import (
        bm25_multi_query,
        ensure_postings,
    )

    spark = t._spark
    qrows = (
        t.documents.filter(F.col("doc_id").isin([0, 1, 2]))
        .select("doc_id", "text")
        .collect()
    )
    queries = {
        int(r[0]): sorted({tok for tok in (r[1] or "").split(" ") if tok})
        for r in qrows
    }
    queries = {qid: toks for qid, toks in queries.items() if toks}
    if not queries:
        raise ValueError("bm25 multiquery: no query documents found")
    post_name, stats_name = ensure_postings(spark, t._dir)
    return bm25_multi_query(spark, post_name, stats_name, queries)


_SQ8_ORACLE = """
WITH dims AS (
  SELECT i.i AS pos,
         MIN(CAST(embedding[i.i] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[i.i] AS DOUBLE)) AS mx
  FROM embeddings CROSS JOIN generate_series(1, 64) AS i(i)
  GROUP BY i.i
),
q8 AS (
  SELECT e.vec_id, d.pos,
         CASE WHEN d.mx > d.mn THEN
           CAST(round(((CAST(e.embedding[d.pos] AS DOUBLE) - d.mn) * 255.0)
                      / (d.mx - d.mn)) AS BIGINT)
         ELSE 0 END AS q
  FROM embeddings e CROSS JOIN dims d
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scores AS (
  SELECT a.vec_id,
         CAST(SUM(CAST(round(((CAST(a.q AS DOUBLE) * (d.mx - d.mn)) / 255.0 + d.mn)
                             * CAST(q.qv[a.pos] AS DOUBLE) * 1e16) AS BIGINT))
              AS BIGINT) AS s
  FROM q8 a JOIN dims d USING (pos) CROSS JOIN q
  GROUP BY a.vec_id
),
cand AS (SELECT vec_id FROM scores ORDER BY s DESC, vec_id LIMIT 50),
terms AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN cand USING (vec_id)
  CROSS JOIN q CROSS JOIN generate_series(1, 64) AS i(i)
)
SELECT vec_id,
       CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
            * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
FROM terms GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("sim_ann_sq8", oracle=_SQ8_ORACLE)
def sim_ann_sq8(t):
    """Scalar-quantized ANN (SQ8): per-dimension min/max over the corpus
    → each vector quantized to 8-bit codes → asymmetric dequantized-dot
    shortlist (top-50; candidate codes dequantized against the RAW query
    vector, exact scaled-int sums) → exact fused cosine rerank (top-10).

    This is the deterministic member of the product-quantization family
    (per-dim scalar codebooks instead of trained sub-space centroids), so
    unlike PQ it is fully oracle-checkable: quantization uses half-away
    rounding on identical expression shapes, and the shortlist scores are
    exact int64 sums.

    Round-5 vectorized serve (same rewrite as `sim_ann_ivf`): the
    (mn, mx) codebook fits COLUMNAR (128 min/max aggregates in one scan,
    no posexplode shuffle) and hydrates driver-side with the query
    vector; quantize + asymmetric ADC + exact rerank all run in ONE
    Arrow-batched numpy pass (`operators/npkernel.py` — the affine
    dequantization and every scaled-int term replicate the JVM/DuckDB
    expression order exactly, so the hash oracle is unchanged). The
    shortlist boundary and final ranking are the same two
    TakeOrderedAndProject steps.

    Scale: codebook fit is one columnar aggregate; the corpus path is
    scan → vectorized map → top-50 → top-10, zero corpus shuffle. At
    100 TB the codes would be written once as a byte column (4-8× scan
    shrinkage for any downstream similarity pass) — this query is that
    pipeline inline.
    """
    import pandas as pd

    e = t.embeddings
    dim = 64
    aggs = [
        F.expr(f"min(cast(element_at(embedding, {i}) AS double)) AS mn{i}")
        for i in range(1, dim + 1)
    ] + [
        F.expr(f"max(cast(element_at(embedding, {i}) AS double)) AS mx{i}")
        for i in range(1, dim + 1)
    ]
    row = e.agg(*aggs).collect()[0]
    mn = np.asarray([row[f"mn{i}"] for i in range(1, dim + 1)], dtype=np.float64)
    mx = np.asarray([row[f"mx{i}"] for i in range(1, dim + 1)], dtype=np.float64)
    q = npk.hydrate_query(e)
    span = mx - mn
    ok = mx > mn
    span_safe = np.where(ok, span, 1.0)
    sqq = npk.self_norms_scaled(q[None, :])[0]

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            Q8 = np.where(ok, npk.round_half_up(((E - mn) * 255.0) / span_safe), 0)
            DQ = (Q8.astype(np.float64) * span) / 255.0 + mn
            s = npk.round_half_up((DQ * q) * 1e16).sum(axis=1)
            p = npk.dot_scaled(E, q)
            sxx = npk.self_norms_scaled(E)
            cos = p.astype("float64") / (
                np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqq))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "s": s, "cosine": cos}
            )

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_id long, s long, cosine double"
    )
    return (
        scored.orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(50)
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "cosine")
    )


@register(
    "sample_weighted",
    # All-integer selection arithmetic -> no float boundary can flip the
    # selected set between engines.
    oracle="""
    WITH w AS (
      SELECT doc_id, source, GREATEST(n_chars, 1) AS w
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, w,
             SUM(w) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY source) AS total
      FROM w
    )
    SELECT doc_id, source, CAST(w AS BIGINT) AS weight
    FROM cum
    WHERE (cw * 20) // total > ((cw - w) * 20) // total
    """,
)
def sample_weighted(t):
    """Weighted systematic sampling, stratified by source: within each
    stratum, documents are selected where their cumulative-weight span
    crosses one of k=20 evenly spaced weight thresholds — longer docs
    (weight = n_chars) are proportionally more likely, short docs still
    reachable, and the whole selection is pure int64 arithmetic: exactly
    reproducible across engines and partitionings (no RNG, no float
    thresholds), the property that matters for auditable training-data
    subsets.

    Scale: one shuffle on source for the per-stratum running sum (the
    same partitioning serves both window passes), then a map-side filter.
    Strata are bounded (sources), so per-partition sequential cumsum is
    the intended shape — the unpartitioned global variant would
    single-thread and is deliberately not offered.
    """
    from pyspark.sql.window import Window

    w = t.documents.select(
        "doc_id", "source", F.greatest(F.col("n_chars"), F.lit(1)).alias("w")
    )
    run = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("source")
    cum = w.select(
        "doc_id",
        "source",
        "w",
        F.sum("w").over(run).alias("cw"),
        F.sum("w").over(tot).alias("total"),
    )
    # SQL `div` = exact int64 division on both engines (a float floor
    # could misround once cw·k passes 2^53 — reachable in a 100 TB
    # stratum), matching the oracle's `//` on BIGINT
    sel = F.expr("(cw * 20) div total") > F.expr("((cw - w) * 20) div total")
    return cum.filter(sel).select(
        "doc_id", "source", F.col("w").cast("long").alias("weight")
    )


@register(
    "window_time_spine",
    # DuckDB: generate_series is inclusive of both bounds.
    oracle="""
    WITH bounds AS (
      SELECT min(date_trunc('day', ts)) AS d0, max(date_trunc('day', ts)) AS d1
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY date_trunc('day', ts)
    )
    SELECT s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def window_time_spine(t):
    """Dense daily time spine with zero-filled gaps — the standard
    preparation for time-series models and windowed joins, where a day
    with no events must appear as an explicit zero row rather than be
    silently absent.

    Spark-first: the spine is GENERATED from the data's own [min, max]
    bounds with `sequence()` + explode (one 2-value global aggregate,
    broadcast back — never a driver-side date loop), then the daily
    counts left-join onto it. At 100 TB the daily aggregate is
    partial+final over date_trunc and the spine side stays
    calendar-sized (broadcast)."""
    e = t.events
    bounds = e.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select("day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"))
    )


@register(
    "window_cumulative_distinct",
    oracle="""
    WITH firsts AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CASE WHEN row_number() OVER (
               PARTITION BY event_type, user_id ORDER BY ts, event_id
             ) = 1 THEN 1 ELSE 0 END AS is_first
      FROM events
    ),
    daily AS (
      SELECT event_type, day,
             CAST(SUM(is_first) AS BIGINT) AS new_users,
             COUNT(*) AS n_events
      FROM firsts GROUP BY event_type, day
    )
    SELECT event_type, day, new_users, n_events,
           CAST(SUM(new_users) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_distinct_users
    FROM daily
    """,
)
def window_cumulative_distinct(t):
    """Cumulative distinct-user count per event type by day — the
    growth-accounting query engines cannot express as
    ``COUNT(DISTINCT) OVER`` (Spark forbids it; a collect_set window
    would carry the whole user set per row). The scalable formulation:
    flag each (type, user)'s FIRST event with a row_number window, roll
    the flags up daily, then a running sum — distinct-counting becomes
    exact integer arithmetic that partial-aggregates and never
    materializes a set.

    Scale: one shuffle on (event_type, user_id) for the first-occurrence
    window, a daily partial+final aggregate, and a calendar-sized running
    sum. Deterministic tie-break on event_id, so both engines agree on
    which event is 'first'."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    firsts = t.events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("is_first"),
    )
    daily = firsts.groupBy("event_type", "day").agg(
        F.sum("is_first").cast("long").alias("new_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    run = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "event_type",
        "day",
        "new_users",
        "n_events",
        F.sum("new_users").over(run).cast("long").alias("cum_distinct_users"),
    )


@register(
    "ts_user_similarity",
    # Pearson correlation assembled from exact int64 moment sums (values
    # in cents) — the one float expression is the final ratio, identical
    # shape in both engines, rounded to 6 dp.
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    q AS (SELECT day, v AS qv FROM daily WHERE user_id = 1),
    joined AS (
      SELECT d.user_id, d.v, q.qv FROM daily d JOIN q ON d.day = q.day
      WHERE d.user_id <> 1
    ),
    moments AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS sx, CAST(SUM(qv) AS BIGINT) AS sy,
             CAST(SUM(v * qv) AS BIGINT) AS sxy,
             CAST(SUM(v * v) AS BIGINT) AS sxx,
             CAST(SUM(qv * qv) AS BIGINT) AS syy
      FROM joined GROUP BY user_id
    )
    SELECT user_id,
           round(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS corr
    FROM moments
    WHERE n >= 3
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY corr DESC, user_id LIMIT 20
    """,
)
def ts_user_similarity(t):
    """Time-series similarity search (EDBT'19-shaped): which users'
    daily activity series correlate most with a query user's (user 1)?
    Daily per-user sums in exact cents → join on shared days → Pearson
    correlation assembled from five int64 moment sums — everything up to
    the final ratio is exact integer arithmetic, so the ranking is
    bit-deterministic and the SQL oracle reproduces it (constant-series
    users are excluded: zero variance has no defined correlation).

    Scale: one shuffle for the (user, day) aggregate, the query user's
    series broadcasts, moments partial-aggregate per user, and the top-k
    is TakeOrderedAndProject. The series never materializes as an array
    — only 5 running sums per user."""
    e = t.events
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(cents).cast("long").alias("v"))
    q = daily.filter(F.col("user_id") == 1).select("day", F.col("v").alias("qv"))
    joined = daily.filter(F.col("user_id") != 1).join(F.broadcast(q), "day")
    m = joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("long").alias("sx"),
        F.sum("qv").cast("long").alias("sy"),
        F.sum(F.col("v") * F.col("qv")).cast("long").alias("sxy"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sxx"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    varx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vary = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return (
        m.filter(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            "user_id",
            F.round(num / (F.sqrt(varx) * F.sqrt(vary)), 6).alias("corr"),
        )
        .orderBy(F.col("corr").desc(), F.col("user_id"))
        .limit(20)
    )


@register(
    "agg_histogram",
    # bin = (price - min) * nbins / (max - min), clamped into [0, nbins-1]
    # — identical double expression shape in both engines; bin ids and
    # counts are exact integers.
    oracle="""
    WITH b AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ),
    binned AS (
      SELECT LEAST(CAST(floor((o_totalprice - b.lo) * 16.0 / (b.hi - b.lo))
                        AS BIGINT), 15) AS bin,
             b.lo, b.hi
      FROM orders CROSS JOIN b
    )
    SELECT bin,
           COUNT(*) AS n,
           -- raw double, NOT rounded: the expression shape is identical
           -- in both engines so the IEEE result is bit-equal, while a
           -- decimal round() can disagree at exact .5 boundaries
           MIN(lo + bin * (hi - lo) / 16.0) AS bin_lo
    FROM binned GROUP BY bin
    """,
)
def agg_histogram(t):
    """Equi-width histogram (16 bins) of order prices — the
    data-profiling primitive behind range statistics and quality
    dashboards. Bounds come from the data's own global (min, max)
    aggregate, broadcast back; binning is a map-side expression and the
    final count is a partial+final aggregate on ≤16 groups.

    Scale: two passes over the column (bounds, then bin) — the standard
    exact formulation; the sketch alternative (approx percentiles) is
    `agg_approx_percentile`."""
    o = t.orders
    b = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = o.crossJoin(F.broadcast(b)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                * F.lit(16.0)
                / (F.col("hi") - F.col("lo"))
            ).cast("long"),
            F.lit(15).cast("long"),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(
            F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / F.lit(16.0)
        ).alias("bin_lo"),
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'o_custkey' AS col,
           COUNT(*) AS n_rows,
           COUNT(o_custkey) AS n_non_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*), COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    """,
)
def profile_table(t):
    """Column profiling (null counts, exact distincts, ranges) — the
    data-quality report every ingestion pipeline runs before training.

    SINGLE PASS over the table (round-5 rewrite; previously one full
    aggregate per profiled column unioned = N scans): all per-column
    metrics are computed in ONE global aggregate and unpivoted to the
    tall report shape expression-side (explode of a 2-struct array on
    the one-row result — free). The two exact countDistincts plan as
    the standard multi-distinct Expand over the single scan; at 100 TB
    swap in `profile_frame_approx` (below) — approx_count_distinct
    drops the Expand too, leaving scan → partial agg → 1-row reduce
    (plan pinned in tests/test_plans.py).
    """
    o = t.orders
    wide = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("mn_ck"),
        F.max("o_custkey").cast("double").alias("mx_ck"),
        F.count("o_totalprice").alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        F.min("o_totalprice").cast("double").alias("mn_tp"),
        F.max("o_totalprice").cast("double").alias("mx_tp"),
    )
    return wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_ck").alias("n_non_null"),
                    F.col("nd_ck").alias("n_distinct"),
                    F.col("mn_ck").alias("min_val"),
                    F.col("mx_ck").alias("max_val"),
                ),
                F.struct(
                    F.lit("o_totalprice").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_tp").alias("n_non_null"),
                    F.col("nd_tp").alias("n_distinct"),
                    F.col("mn_tp").alias("min_val"),
                    F.col("mx_tp").alias("max_val"),
                ),
            )
        ).alias("p")
    ).select("p.*")


def profile_frame_approx(df, cols):
    """The 100 TB profile shape: ONE aggregate with per-column count /
    approx_count_distinct / min / max — no exact distinct, so the plan
    has no Expand: scan → partial agg → single-row reduce, one pass
    regardless of how many columns are profiled. Returns the wide
    one-row frame (callers unpivot as needed)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.approx_count_distinct(c, 0.01).alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    return df.agg(*aggs)


@register(
    "profile_table_approx",
    oracle="""
    SELECT 'o_custkey' AS col,
           COUNT(*) AS n_rows,
           COUNT(o_custkey) AS n_non_null,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           true AS approx_ok,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*), COUNT(o_totalprice), COUNT(DISTINCT o_totalprice), true,
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    """,
)
def profile_table_approx(t):
    """`profile_table`'s scale variant made checkable: the profile uses
    HyperLogLog++ approx_count_distinct (the pass `profile_frame_approx`
    runs at 100 TB), and the oracle contract is banded like
    `agg_approx_count_distinct`: Spark emits the exact distinct plus a
    boolean asserting the HLL estimate landed within 5% (deterministic
    for fixed data), the oracle emits the exact count plus ``true``.
    The exact countDistinct here exists only for the correctness band —
    the production pass (plan pinned in tests/test_plans.py) runs
    approx-only with no Expand."""
    o = t.orders

    def band(c):
        return (
            F.abs(F.approx_count_distinct(c, 0.01) - F.countDistinct(c))
            <= 0.05 * F.countDistinct(c)
        )

    wide = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        band("o_custkey").alias("ok_ck"),
        F.min("o_custkey").cast("double").alias("mn_ck"),
        F.max("o_custkey").cast("double").alias("mx_ck"),
        F.count("o_totalprice").alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        band("o_totalprice").alias("ok_tp"),
        F.min("o_totalprice").cast("double").alias("mn_tp"),
        F.max("o_totalprice").cast("double").alias("mx_tp"),
    )
    return wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_ck").alias("n_non_null"),
                    F.col("nd_ck").alias("exact_distinct"),
                    F.col("ok_ck").alias("approx_ok"),
                    F.col("mn_ck").alias("min_val"),
                    F.col("mx_ck").alias("max_val"),
                ),
                F.struct(
                    F.lit("o_totalprice").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_tp").alias("n_non_null"),
                    F.col("nd_tp").alias("exact_distinct"),
                    F.col("ok_tp").alias("approx_ok"),
                    F.col("mn_tp").alias("min_val"),
                    F.col("mx_tp").alias("max_val"),
                ),
            )
        ).alias("p")
    ).select("p.*")


@register(
    "window_funnel",
    oracle="""
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_click) AS BIGINT) AS step1_click,
           CAST(SUM(CASE WHEN t_view > t_click THEN 1 ELSE 0 END) AS BIGINT)
             AS step2_view_after_click,
           CAST(SUM(CASE WHEN t_purchase > t_view AND t_view > t_click
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS step3_purchase_after_view
    FROM steps
    """,
)
def window_funnel(t):
    """Event funnel (click → view → purchase, ordered): per user, the
    FIRST timestamp of each step via conditional MIN, then ordering
    comparisons — the product-analytics conversion query. NULL
    three-valued logic does the step gating (a missing step makes the
    comparison NULL → not counted), identically in both engines.

    Scale: one shuffle on user_id with map-side partial conditional
    MINs, then a single-row global rollup."""
    e = t.events
    steps = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_click").alias("step1_click"),
        F.sum(
            F.when(F.col("t_view") > F.col("t_click"), 1).otherwise(0)
        ).cast("long").alias("step2_view_after_click"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_view"))
                & (F.col("t_view") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).cast("long").alias("step3_purchase_after_view"),
    )


@register(
    "text_contamination_ngram",
    oracle="""
    WITH bench AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE source = 'src0'
    ),
    bgrams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 4),
                                     i -> array_to_string(toks[i:i+4], ' '))) AS g
        FROM bench)
    ),
    train AS (
      SELECT string_split(text, ' ') AS toks
      FROM documents WHERE source <> 'src0'
    ),
    tgrams AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 4),
                                     i -> array_to_string(toks[i:i+4], ' '))) AS g
        FROM train)
    )
    SELECT b.doc_id,
           COUNT(*) AS n_grams,
           COUNT(t.g) AS n_contam,
           CAST(COUNT(t.g) AS DOUBLE) / COUNT(*) AS contamination
    FROM bgrams b LEFT JOIN tgrams t USING (g)
    GROUP BY b.doc_id
    """,
)
def text_contamination_ngram(t):
    """Benchmark-contamination audit: for each document of the held-out
    source (`src0` plays the benchmark), the fraction of its distinct
    5-grams that appear anywhere in the training corpus (all other
    sources) — the n-gram-overlap decontamination check every LLM data
    pipeline runs before training.

    Scale (the part that matters at 100 TB of train data): the TRAIN
    side never shuffles its n-grams globally. Benchmark grams (small by
    definition) are DISTINCTed and BROADCAST; the train gram stream is
    semi-joined against them map-side, so the only train-sized work is
    one scan, and the distinct that follows runs over at most
    |benchmark grams| matched rows. The final per-doc aggregate joins
    the matched set back by broadcast. A naive `train_grams.distinct()`
    formulation would shuffle the full corpus vocabulary — the exact
    scale-killer this plan avoids.
    """
    d = t.documents

    def grams(col):
        g = F.transform(
            F.sequence(F.lit(1), F.size(col) - 4),
            lambda i: F.concat_ws(" ", F.slice(col, i, 5)),
        )
        return F.array_distinct(
            F.when(F.size(col) >= 5, g).otherwise(F.array().cast("array<string>"))
        )

    bench_grams = (
        d.filter(F.col("source") == "src0")
        .select("doc_id", F.explode(grams(tx.tokens(F.col("text")))).alias("g"))
    )
    bench_vals = bench_grams.select("g").distinct()
    train_grams = (
        d.filter(F.col("source") != "src0")
        .select(F.explode(grams(tx.tokens(F.col("text")))).alias("g"))
    )
    matched = (
        train_grams.join(F.broadcast(bench_vals), "g", "leftsemi")
        .distinct()
        .select(F.col("g").alias("tg"))
    )
    return (
        bench_grams.join(F.broadcast(matched), F.col("g") == F.col("tg"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("tg").alias("n_contam"),
            (F.count("tg").cast("double") / F.count(F.lit(1))).alias("contamination"),
        )
    )


@register(
    "window_retention",
    oracle="""
    WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    firsts AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id),
    act AS (
      SELECT DISTINCT f.cohort,
             CAST(date_diff('day', f.cohort, e.d) AS BIGINT) AS day_offset,
             e.user_id
      FROM e JOIN firsts f USING (user_id)
    ),
    sizes AS (SELECT cohort, COUNT(*) AS n_cohort FROM firsts GROUP BY cohort)
    SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort, a.day_offset,
           COUNT(*) AS n_users,
           CAST(COUNT(*) AS DOUBLE) / s.n_cohort AS retention
    FROM act a JOIN sizes s USING (cohort)
    GROUP BY a.cohort, a.day_offset, s.n_cohort
    """,
)
def window_retention(t):
    """Cohort retention: users grouped by first-activity date; for each
    (cohort, day-offset) the distinct users active that day and the
    retention ratio vs cohort size — the standard product-analytics
    retention triangle.

    Scale: one shuffle on user_id (first-date aggregate; the activity
    join reuses the same hash partitioning), then one (cohort, offset)
    aggregate whose cardinality is days² — tiny. Cohort sizes are a
    days-sized frame, joined by broadcast. Exactness: counts and one
    final division — deterministic under any partitioning."""
    e = t.events.select("user_id", F.to_date("ts").alias("d"))
    firsts = e.groupBy("user_id").agg(F.min("d").alias("cohort"))
    act = (
        e.join(firsts, "user_id")
        .select(
            "cohort",
            F.datediff(F.col("d"), F.col("cohort")).cast("long").alias("day_offset"),
            "user_id",
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        act.groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "day_offset",
            "n_users",
            (F.col("n_users").cast("double") / F.col("n_cohort")).alias("retention"),
        )
    )


_PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point PageRank mass


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled-CTE oracle replaying the integer-PageRank iterations."""
    ctes = [
        f"WITH {_band_cand_sql(4, 4).lstrip()}",
        """nodes AS (SELECT vec_id AS node FROM embeddings),
    nc AS (SELECT COUNT(*) AS n FROM nodes),
    edges AS (SELECT va AS src, vb AS dst FROM cand
              UNION ALL SELECT vb AS src, va AS dst FROM cand),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT node, {S} // n AS pr FROM nodes CROSS JOIN nc)""".replace(
            "{S}", str(_PR_SCALE)
        ),
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""in{t} AS (
      SELECT e.dst AS node, CAST(SUM((17 * p.pr) // (20 * d.deg)) AS BIGINT) AS inflow
      FROM edges e JOIN deg d ON d.src = e.src
      JOIN pr{t - 1} p ON p.node = e.src
      GROUP BY e.dst),
    pr{t} AS (
      SELECT n.node, ({15 * _PR_SCALE // 100} // nc.n) + COALESCE(i.inflow, 0) AS pr
      FROM nodes n CROSS JOIN nc LEFT JOIN in{t} i ON i.node = n.node)""")
    return (
        ",\n    ".join(ctes)
        + f"\n    SELECT node AS vec_id, pr AS pr_score FROM pr{iters}"
    )


@register("graph_pagerank", oracle=_pagerank_oracle(3))
def graph_pagerank(t):
    """PageRank over the LSH candidate graph (3 synchronous iterations,
    damping 0.85) — ranks documents by near-duplicate-graph centrality,
    the standard importance signal for picking cluster representatives.

    Exactness: all mass arithmetic is integer — scores carry 1e12 units,
    the damped contribution is ``(17·pr) div (20·deg)`` (positive floor
    division, identical in Spark's ``div`` and DuckDB's ``//``), and
    inflows sum as int64 — so the whole trajectory is bit-identical
    across engines and partitionings, and the oracle replays it from
    unrolled CTEs. (Simplification vs classical PageRank: dangling-node
    mass is not redistributed — documented, deterministic.)

    Scale: the canonical BSP shape — per iteration ONE shuffle
    aggregating edge contributions by destination plus co-partitioned
    node joins; edges and ranks hash-partition on the vertex id, so
    iteration cost is O(|E|/cores) with AQE handling hub skew. The node
    count rides as a broadcast 1-row aggregate (no collect).
    """
    e = t.embeddings
    cand = sim.banded_candidate_pairs(e)
    edges = cand.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(cand.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nc = e.agg(F.count(F.lit(1)).alias("n"))
    base = e.select(F.col("vec_id").alias("node")).crossJoin(F.broadcast(nc))
    pr = base.select("node", F.expr(f"{_PR_SCALE} div n").alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(deg, "src")
            .join(pr, edges.src == F.col("node"))
            .select("dst", F.expr("(17 * pr) div (20 * deg)").alias("c"))
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        pr = (
            base.join(inflow, base.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.expr(f"{15 * _PR_SCALE // 100} div n")
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("pr"),
            )
        )
    return pr.select(F.col("node").alias("vec_id"), F.col("pr").alias("pr_score"))


@register(
    "join_interval_banded",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts - INTERVAL 1 HOUR
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def join_interval_banded(t):
    """Large×large interval join: every (click, purchase) of the same
    user within ±1 hour — attribution-window candidate generation.

    This is the query shape `join_range`'s broadcast-nested-loop CANNOT
    serve at scale (two fact-sized sides). The plan is the banded
    formulation docs/SCALE.md prescribes (`operators/rangejoin.py`):
    quantize time into window-width buckets, explode the probe side to
    bucket ± 1, EQUI-join on (user, bucket), then apply the exact
    residual predicate — hash-partitionable and skew-splittable, with
    each true pair produced exactly once. The oracle is the plain
    inequality join: bucketing must not change the result.
    """
    e = t.events
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    return rj.banded_interval_join(
        clicks, purchases, key="user_id", left_ts="cts", right_ts="pts",
        window_sec=3600,
    ).select("click_id", "purchase_id")


@register(
    "ts_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    w AS (
      SELECT user_id, day, v,
             CAST(SUM(v) OVER win AS BIGINT) AS s,
             CAST(SUM(v * v) OVER win AS BIGINT) AS sq,
             COUNT(*) OVER win AS n
      FROM daily
      WINDOW win AS (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, day, v,
           CAST(s AS DOUBLE) / n AS mean_prev,
           (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n
             AS var_prev
    FROM w
    WHERE n >= 4
      AND (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / n)
          * (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / n)
        > 4.0 * ((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
    """,
)
def ts_anomaly_zscore(t):
    """Trailing-window z-score anomaly detection: per user, flag days
    whose activity total deviates from the previous ≤7 days' mean by
    more than 2 trailing standard deviations — the standard metric-
    monitoring outlier rule, squared-form ((v-μ)² > 4σ²) so no sqrt.

    Exactness: daily totals are fixed-point int64; the window carries
    exact Σv and Σv² (int64 — values ≤5e4 scaled, squares ≤2.5e9, ×7
    well inside range); mean/variance/threshold are then scalar double
    expressions written IDENTICALLY in both engines, so the comparison
    is bit-deterministic — no accumulation-order hazard anywhere.

    Scale: one shuffle on user_id shared by the daily aggregate and the
    window pass (same partitioning); frames are bounded (8 rows), so
    state is O(1) per series — the streaming analog is a sliding
    aggregate with the same arithmetic.
    """
    e = t.events
    daily = (
        e.groupBy(
            "user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)))
            .cast("long")
            .alias("v")
        )
    )
    from pyspark.sql.window import Window

    win = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    w = daily.select(
        "user_id",
        "day",
        "v",
        F.sum("v").over(win).cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).over(win).cast("long").alias("sq"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / F.col("n")
    dev = F.col("v").cast("double") - F.col("s").cast("double") / F.col("n")
    return (
        w.filter((F.col("n") >= 4) & (dev * dev > F.lit(4.0) * var))
        .select(
            "user_id",
            "day",
            "v",
            mean.alias("mean_prev"),
            var.alias("var_prev"),
        )
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def topk_per_group(t):
    """Per-group top-k: the 3 highest-value orders in each priority
    class (deterministic tie-break on key) — the grouped counterpart of
    `topk_orders`' global TakeOrderedAndProject.

    Scale: one shuffle on the group key + in-partition sort; with few
    huge groups the window sort is the cost — the documented alternative
    is per-partition pre-truncation (aggregate a bounded top-k heap per
    map task via `collect_list`+`slice`, then merge), worth it only when
    k ≪ group size and groups are few; the window form is the right
    default and what Catalyst optimizes (rank pushdown into sort at the
    window operator in recent Spark).
    """
    o = t.orders
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "dedup_keep_best",
    oracle="""
    SELECT md5(text) AS fp,
           arg_max(doc_id, n_chars * 1000000000000 - doc_id) AS doc_id,
           arg_max(n_chars, n_chars * 1000000000000 - doc_id) AS n_chars,
           COUNT(*) AS n_dups
    FROM documents WHERE text IS NOT NULL
    GROUP BY md5(text)
    """,
)
def dedup_keep_best(t):
    """Exact dedup with QUALITY-BASED survivor selection: within each
    content-identical group keep the best document (longest, ties to
    the lowest id) instead of `dedup_exact`'s arbitrary min-id — the
    form every production corpus dedup actually uses (keep the copy
    with the richest metadata / longest text).

    The survivor choice is a single int64 ordering key
    (n_chars·1e12 − doc_id, strictly unique per row), so `max_by`
    aggregates it with map-side partials — one shuffle carrying one
    struct per (partition × fingerprint), no window sort, no row
    explosion. The oracle uses DuckDB's arg_max on the same key.

    Scale: identical profile to `dedup_exact` — groupBy on the 16-byte
    md5; survivor selection is free inside the aggregate.
    """
    d = t.documents.filter(F.col("text").isNotNull())
    key = F.col("n_chars") * F.lit(1_000_000_000_000) - F.col("doc_id")
    return (
        d.select(F.md5("text").alias("fp"), "doc_id", "n_chars", key.alias("__k"))
        .groupBy("fp")
        .agg(
            F.max_by("doc_id", F.col("__k")).alias("doc_id"),
            F.max_by("n_chars", F.col("__k")).alias("n_chars"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


@register(
    "join_fuzzy_tokens",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
    FROM vocab a JOIN vocab b
      ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1
    """,
)
def join_fuzzy_tokens(t):
    """Fuzzy self-join of the corpus token vocabulary: all token pairs
    within edit distance 1 — typo mining / vocabulary normalization.

    The oracle is the plain quadratic predicate join; the Spark plan is
    a SOUND BLOCKED join — a single character edit can destroy the
    first character only at position 1 and the last character only at
    position n, never both (n ≥ 2), and insert/delete shifts preserve
    the untouched end. So every qualifying pair shares a
    (first-char) or (last-char) block — plus one catch-all block for
    length ≤ 1 tokens, where both ends are the same character. Blocks
    are exploded (≤3 keys per token), equi-joined, and the exact
    levenshtein residual + distinct dedups multi-block matches. The
    quadratic work collapses to within-block pairs — the same
    candidates-then-residual discipline as `join_interval_banded` and
    the LSH dedup family, applied to string similarity.

    Scale: vocabulary extraction is one distinct shuffle (map-side
    partial); the self-join shuffles only (block_key, token) pairs and
    AQE skew-splits hot blocks (e.g. a dominant first letter).
    """
    d = t.documents.filter(F.col("text").isNotNull())
    vocab = d.select(
        F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).distinct()
    return tx.fuzzy_token_pairs(vocab, "tok")


@register(
    "split_leakage_audit",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, md5(text) AS fp,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 10 < 9
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents WHERE text IS NOT NULL
    ),
    leaks AS (
      SELECT DISTINCT a.fp
      FROM assigned a JOIN assigned b
        ON a.fp = b.fp AND a.split = 'train' AND b.split = 'eval'
    )
    SELECT
      (SELECT COUNT(*) FROM assigned WHERE split = 'train') AS n_train,
      (SELECT COUNT(*) FROM assigned WHERE split = 'eval') AS n_eval,
      (SELECT COUNT(*) FROM leaks) AS n_leaked_fingerprints
    """,
)
def split_leakage_audit(t):
    """Train/eval split + contamination audit in one pass: documents are
    split 90/10 by a DETERMINISTIC id hash (md5 prefix mod 10 — stable
    across runs and engines), then the audit counts content
    fingerprints that appear on BOTH sides — exact-duplicate leakage
    from train into eval, the check every pipeline must run because an
    id-based split deliberately ignores content.

    Scale: assignment is a map-only expression; the leak check is one
    shuffle on the 16-byte fingerprint with a per-fingerprint
    conditional aggregate (never a self-join of documents); output is
    one row.

    Note the Spark side aggregates per-fingerprint flags instead of the
    oracle's pedagogical self-join — same result, linear work.
    """
    d = t.documents.filter(F.col("text").isNotNull())
    split = F.when(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10 < 9,
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    assigned = d.select(F.md5("text").alias("fp"), split.alias("split"))
    per_fp = assigned.groupBy("fp").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("split") == "eval", 1).otherwise(0)).alias("n_ev"),
    )
    return per_fp.agg(
        F.sum("n_tr").cast("long").alias("n_train"),
        F.sum("n_ev").cast("long").alias("n_eval"),
        F.sum(
            F.when((F.col("n_tr") > 0) & (F.col("n_ev") > 0), 1).otherwise(0)
        ).cast("long").alias("n_leaked_fingerprints"),
    )


@register(
    "feature_quantile_bins",
    oracle="""
    WITH binned AS (
      SELECT o_orderkey, o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM binned GROUP BY decile ORDER BY decile
    """,
)
def feature_quantile_bins(t):
    """Quantile binning: every order assigned its global price decile
    (ntile over a TOTAL order — value + key tie-break, so bin edges are
    deterministic), summarized as per-decile count and value range —
    the standard numeric-feature discretization step.

    Scale: ntile over an unpartitioned window is a single-reducer sort
    at face value; the documented scale path is two-pass — compute
    approx (or exact distributed) decile EDGES first, broadcast them,
    and bin map-side with a CASE/searchsorted — same outputs when edges
    are exact. This query keeps the exact single-pass form the oracle
    can replay; the edges-first variant is `agg_approx_percentile`'s
    shape composed with a broadcast join.
    """
    o = t.orders
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    binned = o.select(
        "o_orderkey", "o_totalprice", F.ntile(10).over(w).alias("decile")
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("decile")
    )


# --------------------------------------- persisted trained-ANN serving ----
# Round-7: the trained family (Lloyd-fit IVF and PQ) gets the same
# build-once/serve-pruned treatment the label-based IVF index and the
# BM25 postings received in round 6 (operators/annindex.py), plus
# batched multi-query serving for the quantized shortlist paths.


@register("sim_ann_ivf_trained_indexed", oracle=_IVF_TRAINED_ORACLE)
def sim_ann_ivf_trained_indexed(t):
    """`sim_ann_ivf_trained` served from a PERSISTED index: the
    deterministic-Lloyd coarse quantizer is fitted ONCE at build time
    (`operators/annindex.ensure_ivf_trained_index` — the same
    `kmeans.lloyd_fit_np` model the per-query plan refits every call)
    and the corpus written partitioned by its assigned list; each query
    then probes nprobe=3 lists driver-side and scans only those
    partitions (`PartitionFilters` pruning) with the exact scaled-int64
    rerank. Results are identical to `sim_ann_ivf_trained` — same
    model trajectory, probe order, rerank — so the full
    training-replay oracle is shared.

    Scale: this closes the 'persist the trained model' half of the IVF
    story — training (2 corpus passes + model-sized shuffles) is paid
    at write time, serving is nprobe/k of the corpus by layout, and
    `append_ivf_index` works unchanged against the frozen trained
    model."""
    from stream_processor_spark.operators.annindex import (
        ensure_ivf_trained_index,
        ivf_query_indexed,
    )

    spark = t._spark
    lists_name, cent_name = ensure_ivf_trained_index(spark, t._dir)
    qrow = (
        t.embeddings.filter(F.col("vec_id") == 0).select("embedding").head()
    )
    if qrow is None:
        raise ValueError("trained IVF serve: query vector (vec_id=0) missing")
    return ivf_query_indexed(
        spark,
        lists_name,
        cent_name,
        np.asarray(qrow[0], dtype=np.float64),
        nprobe=3,
    )


@register("sim_ann_pq_indexed", oracle=_PQ_TRAINED_ORACLE)
def sim_ann_pq_indexed(t):
    """`sim_ann_pq_trained` served from a PERSISTED layout: codebooks
    trained once (`operators/annindex.ensure_pq_index`, the exact
    deterministic-Lloyd dataflow) and every vector's 8 codeword ids
    written as a codes table — 8 ids/vector vs 64 floats, the 32x scan
    shrinkage PQ exists for. Serving computes the query's ADC tables
    driver-side, folds them into the codes scan as literal maps
    (whole-stage-codegen `element_at` sums, exact int64 — zero Python
    in the shortlist), and reranks ONLY the shortlist ids read back
    from the float table with vec_id pushdown. Identical results to
    the fit-per-query plan (same assignment argmin, shortlist
    boundary, rerank), so the training-replay oracle is shared.

    Scale: the shortlist pass scans the codes table (≈3% of the float
    bytes); the float embeddings are touched for exactly `shortlist`
    rows per query. Rebuild cadence handles drift; the codes table is
    append-able with the frozen codebooks like every other layout."""
    from stream_processor_spark.operators.annindex import (
        ensure_pq_index,
        pq_query_indexed,
    )

    spark = t._spark
    codes_name, books_name = ensure_pq_index(
        spark, t._dir, _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    )
    q = npk.hydrate_query(t.embeddings)
    return pq_query_indexed(
        spark, codes_name, books_name, t.embeddings, q,
        shortlist=_PQ_SHORTLIST,
    )


def _pq_serve_multi_sql(
    query_ids, shortlist: int = _PQ_SHORTLIST, topk: int = 10
) -> str:
    """Multi-query PQ-ADC serving CTEs: the (query-independent) code
    assignment is computed once; ADC tables, integer shortlists and
    exact reranks carry a query_id dimension — per query identical to
    `_pq_serve_sql`."""
    ids = ", ".join(str(i) for i in sorted(query_ids))
    return f"""codes AS (
  SELECT vid, m, cid FROM (
    SELECT vid, m, cid, row_number() OVER (PARTITION BY vid, m
             ORDER BY dist ASC, cid ASC) AS rn FROM (
      SELECT l.vid, l.m, c.cid,
             CAST(SUM(CAST(round((l.v - c.c) * (l.v - c.c) * 1e16) AS BIGINT))
                  AS BIGINT) AS dist
      FROM sub_long l JOIN cent c ON c.m = l.m AND c.pos = l.pos
      GROUP BY l.vid, l.m, c.cid)) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN ({ids})),
q_adc AS (
  SELECT q.query_id, c.m, c.cid,
         CAST(SUM(CAST(round(CAST(q.qv[c.m * {_PQ_SUB} + c.pos] AS DOUBLE) * c.c
                             * 1e16) AS BIGINT)) AS BIGINT) AS t
  FROM cent c CROSS JOIN q GROUP BY q.query_id, c.m, c.cid),
scores AS (
  SELECT a.query_id, k.vid, CAST(SUM(a.t) AS BIGINT) AS s
  FROM codes k JOIN q_adc a ON a.m = k.m AND a.cid = k.cid
  GROUP BY a.query_id, k.vid),
short AS (
  SELECT query_id, vid AS vec_id FROM (
    SELECT query_id, vid, row_number() OVER (PARTITION BY query_id
             ORDER BY s DESC, vid ASC) AS rn
    FROM scores) WHERE rn <= {shortlist}),
cand_terms AS (
  SELECT sh.query_id, e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN short sh ON sh.vec_id = e.vec_id
  JOIN q ON q.query_id = sh.query_id
  CROSS JOIN generate_series(1, 64) AS i(i)),
mscored AS (
  SELECT query_id, vec_id,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
  FROM cand_terms GROUP BY query_id, vec_id)
SELECT query_id, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM mscored) WHERE rn <= {topk}
"""


_PQ_MULTI_ORACLE = (
    "WITH "
    + _pq_sampled_fit_ctes()
    + ",\n"
    + _pq_serve_multi_sql([0, 1, 2])
)


@register("sim_ann_pq_multiquery", oracle=_PQ_MULTI_ORACLE)
def sim_ann_pq_multiquery(t):
    """Batched PQ-ADC: THREE query vectors (vec_id 0/1/2) served in ONE
    pass over the persisted codes table
    (`operators/annindex.pq_multi_query_indexed`) — each query adds one
    literal-map ADC column to the same 8-ids/vector scan, per-query
    shortlists come from one window, and one pushed-down embeddings
    read reranks the union of shortlists. Per query the rows are
    identical to `sim_ann_pq_indexed`; the oracle is the training
    replay with a query dimension.

    Scale: N queries cost one codes scan (+N codegen columns) + one
    |union shortlist|-row float read — vs N full scans for the
    fit-per-query plan; this is the training-data-selection shape
    (thousands of probe queries against one corpus) for the quantized
    family."""
    from stream_processor_spark.operators.annindex import (
        ensure_pq_index,
        pq_multi_query_indexed,
    )

    spark = t._spark
    codes_name, books_name = ensure_pq_index(
        spark, t._dir, _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    )
    qrows = (
        t.embeddings.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        raise ValueError("multi-query PQ: no query vectors found")
    queries = {int(r[0]): np.asarray(r[1], dtype=np.float64) for r in qrows}
    return pq_multi_query_indexed(
        spark, codes_name, books_name, t.embeddings, queries,
        shortlist=_PQ_SHORTLIST,
    )


def _sq8_multi_oracle(query_ids, shortlist: int = 50, topk: int = 10) -> str:
    """`_SQ8_ORACLE` with a query_id dimension — quantization CTEs are
    query-independent and computed once; per query the serve replay is
    identical to the single-query oracle."""
    ids = ", ".join(str(i) for i in sorted(query_ids))
    return f"""
WITH dims AS (
  SELECT i.i AS pos,
         MIN(CAST(embedding[i.i] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[i.i] AS DOUBLE)) AS mx
  FROM embeddings CROSS JOIN generate_series(1, 64) AS i(i)
  GROUP BY i.i
),
q8 AS (
  SELECT e.vec_id, d.pos,
         CASE WHEN d.mx > d.mn THEN
           CAST(round(((CAST(e.embedding[d.pos] AS DOUBLE) - d.mn) * 255.0)
                      / (d.mx - d.mn)) AS BIGINT)
         ELSE 0 END AS q
  FROM embeddings e CROSS JOIN dims d
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN ({ids})),
scores AS (
  SELECT q.query_id, a.vec_id,
         CAST(SUM(CAST(round(((CAST(a.q AS DOUBLE) * (d.mx - d.mn)) / 255.0 + d.mn)
                             * CAST(q.qv[a.pos] AS DOUBLE) * 1e16) AS BIGINT))
              AS BIGINT) AS s
  FROM q8 a JOIN dims d USING (pos) CROSS JOIN q
  GROUP BY q.query_id, a.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, vec_id) AS rn
    FROM scores) WHERE rn <= {shortlist}),
terms AS (
  SELECT cd.query_id, e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN cand cd ON cd.vec_id = e.vec_id
  JOIN q ON q.query_id = cd.query_id
  CROSS JOIN generate_series(1, 64) AS i(i)),
mscored AS (
  SELECT query_id, vec_id,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
  FROM terms GROUP BY query_id, vec_id)
SELECT query_id, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM mscored) WHERE rn <= {topk}
"""


def _sq8_multi_frame(t, qids=(0, 1, 2), shortlist=50, topk=10):
    """Parameterized body of `sim_ann_sq8_multiquery` (round 15: the
    shortlist is the corpus-density knob — at 2M dispersed vectors the
    exact top-10 gaps are smaller than the 8-bit quantization noise,
    so a shortlist pinned at 50 misses them; scale records call this
    with shortlist ~ the near-neighbor family size while the
    registered entry keeps the oracle-replayed 50)."""
    import pandas as pd

    e = t.embeddings
    dim = 64
    aggs = [
        F.expr(f"min(cast(element_at(embedding, {i}) AS double)) AS mn{i}")
        for i in range(1, dim + 1)
    ] + [
        F.expr(f"max(cast(element_at(embedding, {i}) AS double)) AS mx{i}")
        for i in range(1, dim + 1)
    ]
    row = e.agg(*aggs).collect()[0]
    mn = np.asarray([row[f"mn{i}"] for i in range(1, dim + 1)], dtype=np.float64)
    mx = np.asarray([row[f"mx{i}"] for i in range(1, dim + 1)], dtype=np.float64)
    span = mx - mn
    ok = mx > mn
    span_safe = np.where(ok, span, 1.0)
    qrows = (
        e.filter(F.col("vec_id").isin(list(qids)))
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        raise ValueError("multi-query SQ8: no query vectors found")
    qids = sorted(int(r[0]) for r in qrows)
    Q = {int(r[0]): np.asarray(r[1], dtype=np.float64) for r in qrows}
    sqqs = {qid: npk.self_norms_scaled(Q[qid][None, :])[0] for qid in qids}

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            ids = pdf["vec_id"].to_numpy()
            Q8 = np.where(ok, npk.round_half_up(((E - mn) * 255.0) / span_safe), 0)
            DQ = (Q8.astype(np.float64) * span) / 255.0 + mn
            sxx = npk.self_norms_scaled(E)
            frames = []
            for qid in qids:
                qv = Q[qid]
                s = npk.round_half_up((DQ * qv) * 1e16).sum(axis=1)
                p = npk.dot_scaled(E, qv)
                cos = p.astype("float64") / (
                    np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqqs[qid]))
                )
                # batch-local partial top-k (s DESC, vec_id ASC): a safe
                # superset of the global shortlist boundary
                keep = np.lexsort((ids, -s))[:shortlist]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": ids[keep],
                            "s": s[keep],
                            "cosine": cos[keep],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    from pyspark.sql.window import Window

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, vec_id long, s long, cosine double"
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("vec_id")
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_s))
        .filter(F.col("__rn") <= shortlist)
        .drop("__rn", "s")
        .withColumn("__rn", F.row_number().over(w_c))
        .filter(F.col("__rn") <= topk)
        .drop("__rn")
    )


@register("sim_ann_sq8_multiquery", oracle=_sq8_multi_oracle([0, 1, 2]))
def sim_ann_sq8_multiquery(t):
    """Batched SQ8: THREE query vectors (vec_id 0/1/2) served in ONE
    corpus pass — the (mn, mx) codebook fits once (query-independent),
    and the single Arrow-batched scan quantizes/dequantizes each vector
    ONCE then scores it against every query (the dequantized matrix is
    reused across queries — the batched-ADC trick). Each batch emits
    only its per-query top-`shortlist` rows (a safe superset of the
    global shortlist — the standard partial top-k), so the window
    input stays bounded by batches x queries x shortlist, not the
    corpus. Per-query shortlist and exact-cosine rerank are one
    window each; rows per query are identical to `sim_ann_sq8`.

    Scale: N queries = ONE corpus scan + per-batch O(n·d + n·N) numpy
    (vs N scans each repeating quantization); the window input is
    model-sized. This is the remaining retrieval path from round-6
    verdict item 7, completing multi-query serving across BM25, IVF,
    PQ and SQ8. Body in `_sq8_multi_frame`; the shortlist knob there
    scales with near-neighbor density on large corpora."""
    return _sq8_multi_frame(t)


# ------------------------------------------------ combined IVF+PQ index ----

_IVFPQ_NPROBE = 3

_IVFPQ_ORACLE = (
    "WITH "
    + kmeans.lloyd_oracle_ctes(k=10, iters=2)
    + f""",
asn_terms AS (
  SELECT e.vec_id, c.clabel,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE)
                    * CAST(e.embedding[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc
  FROM embeddings e CROSS JOIN cent c
),
asn_sims AS (
  SELECT vec_id, clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))) AS cos
  FROM asn_terms GROUP BY vec_id, clabel
),
assign AS (
  SELECT vec_id, clabel AS list_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, clabel DESC) AS rn
    FROM asn_sims) WHERE rn = 1
),
rsub_long AS (
  SELECT e.vec_id AS vid,
         CAST(floor((i.i - 1) / {_PQ_SUB}) AS INT) AS m,
         (i.i - 1) % {_PQ_SUB} + 1 AS pos,
         CAST(e.embedding[i.i] AS DOUBLE) - c.c AS v
  FROM embeddings e
  CROSS JOIN generate_series(1, 64) AS i(i)
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN cent c ON c.clabel = a.list_id AND c.pos = i.i
),
fitmod AS (
  SELECT CASE WHEN COUNT(*) > {_PQFIT_THRESHOLD} THEN {_PQFIT_MOD}
              ELSE 1 END AS m
  FROM embeddings
),
efit AS (
  SELECT e.vec_id FROM embeddings e, fitmod f WHERE e.vec_id % f.m = 0
),
rfit_long AS (
  SELECT l.* FROM rsub_long l, fitmod f WHERE l.vid % f.m = 0
),
"""
    + kmeans.pq_oracle_ctes(
        _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS, prefix="pq", sub_long="rfit_long",
        table="efit",
    )
    + f""",
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
q_terms AS (
  SELECT c.clabel,
         CAST(round(c.c * CAST(q.qv[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS p,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc,
         CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * CAST(q.qv[c.pos] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM cent c CROSS JOIN q
),
q_sims AS (
  SELECT clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cos
  FROM q_terms GROUP BY clabel
),
qprobe AS (
  SELECT clabel AS list_id FROM (
    SELECT clabel, row_number() OVER (ORDER BY cos DESC, clabel DESC) AS rn
    FROM q_sims) WHERE rn <= {_IVFPQ_NPROBE}
),
codes AS (
  SELECT vid, m, cid FROM (
    SELECT vid, m, cid, row_number() OVER (PARTITION BY vid, m
             ORDER BY dist ASC, cid ASC) AS rn FROM (
      SELECT l.vid, l.m, c.cid,
             CAST(SUM(CAST(round((l.v - c.c) * (l.v - c.c) * 1e16) AS BIGINT))
                  AS BIGINT) AS dist
      FROM rsub_long l JOIN pqcent c ON c.m = l.m AND c.pos = l.pos
      GROUP BY l.vid, l.m, c.cid)) WHERE rn = 1),
q_adc AS (
  SELECT c.m, c.cid,
         CAST(SUM(CAST(round(CAST(q.qv[c.m * {_PQ_SUB} + c.pos] AS DOUBLE) * c.c
                             * 1e16) AS BIGINT)) AS BIGINT) AS t
  FROM pqcent c CROSS JOIN q GROUP BY c.m, c.cid),
qbase AS (
  SELECT a.vec_id AS vid,
         CAST(SUM(CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * c.c * 1e16)
                       AS BIGINT)) AS BIGINT) AS b
  FROM assign a JOIN qprobe USING (list_id)
  JOIN cent c ON c.clabel = a.list_id CROSS JOIN q
  GROUP BY a.vec_id),
scores AS (
  SELECT k.vid, CAST(qb.b + SUM(a.t) AS BIGINT) AS s
  FROM codes k JOIN qbase qb ON qb.vid = k.vid
  JOIN q_adc a ON a.m = k.m AND a.cid = k.cid
  GROUP BY k.vid, qb.b),
short AS (
  SELECT vid AS vec_id FROM (
    SELECT vid, row_number() OVER (ORDER BY s DESC, vid ASC) AS rn
    FROM scores) WHERE rn <= {_PQ_SHORTLIST}),
cand_terms AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN short USING (vec_id)
  CROSS JOIN q CROSS JOIN generate_series(1, 64) AS i(i)
)
SELECT vec_id,
       CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
            * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
FROM cand_terms GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT 10
"""
)


@register("sim_ann_ivfpq_indexed", oracle=_IVFPQ_ORACLE)
def sim_ann_ivfpq_indexed(t):
    """The COMBINED IVF+PQ index (the FAISS IndexIVFPQ layout): a
    trained coarse quantizer (deterministic Lloyd, k=10) partitions the
    corpus into inverted lists, and inside each list partition vectors
    are stored as their 8 PQ codeword ids
    (`operators/annindex.ensure_ivfpq_index` — one corpus pass does
    both the bit-exact coarse assignment and the PQ encode). Serving
    compounds BOTH prunings: the scan reads only the nprobe=3 probed
    list partitions (`PartitionFilters`) AND only 8 ids/vector (ADC
    literal-map scoring, whole-stage codegen, zero Python in the
    shortlist); the exact rerank reads just the 50 shortlist ids from
    the float table. The oracle replays BOTH training trajectories
    (coarse Lloyd + PQ Lloyd namespaced into one WITH chain), the
    corpus assignment, the query probe, the probed-only ADC shortlist,
    and the exact rerank — the full composite index is hash-verified.

    Scale: per-query scan cost is (nprobe/k of rows) × (8 ids vs 64
    floats) ≈ 1% of the brute-force bytes by CONSTRUCTION — the layout
    the 100 TB similarity-search story actually deploys. Appends ride
    the frozen models (assign + encode new vectors into their list
    partitions); drift is a periodic rebuild, as with every layout."""
    from stream_processor_spark.operators.annindex import (
        ensure_ivfpq_index,
        ivfpq_query_indexed,
    )

    spark = t._spark
    codes_name, cent_name, books_name = ensure_ivfpq_index(
        spark, t._dir, 10, 2, _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    )
    q = npk.hydrate_query(t.embeddings)
    return ivfpq_query_indexed(
        spark,
        codes_name,
        cent_name,
        books_name,
        t.embeddings,
        q,
        nprobe=_IVFPQ_NPROBE,
        shortlist=_PQ_SHORTLIST,
    )


_IVFPQ_MULTI_ORACLE = (
    "WITH "
    + kmeans.lloyd_oracle_ctes(k=10, iters=2)
    + f""",
asn_terms AS (
  SELECT e.vec_id, c.clabel,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE) * c.c * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[c.pos] AS DOUBLE)
                    * CAST(e.embedding[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc
  FROM embeddings e CROSS JOIN cent c
),
asn_sims AS (
  SELECT vec_id, clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))) AS cos
  FROM asn_terms GROUP BY vec_id, clabel
),
assign AS (
  SELECT vec_id, clabel AS list_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, clabel DESC) AS rn
    FROM asn_sims) WHERE rn = 1
),
rsub_long AS (
  SELECT e.vec_id AS vid,
         CAST(floor((i.i - 1) / {_PQ_SUB}) AS INT) AS m,
         (i.i - 1) % {_PQ_SUB} + 1 AS pos,
         CAST(e.embedding[i.i] AS DOUBLE) - c.c AS v
  FROM embeddings e
  CROSS JOIN generate_series(1, 64) AS i(i)
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN cent c ON c.clabel = a.list_id AND c.pos = i.i
),
fitmod AS (
  SELECT CASE WHEN COUNT(*) > {_PQFIT_THRESHOLD} THEN {_PQFIT_MOD}
              ELSE 1 END AS m
  FROM embeddings
),
efit AS (
  SELECT e.vec_id FROM embeddings e, fitmod f WHERE e.vec_id % f.m = 0
),
rfit_long AS (
  SELECT l.* FROM rsub_long l, fitmod f WHERE l.vid % f.m = 0
),
"""
    + kmeans.pq_oracle_ctes(
        _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS, prefix="pq", sub_long="rfit_long",
        table="efit",
    )
    + f""",
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN (0, 1, 2)),
q_terms AS (
  SELECT q.query_id, c.clabel,
         CAST(round(c.c * CAST(q.qv[c.pos] AS DOUBLE) * 1e16) AS BIGINT) AS p,
         CAST(round(c.c * c.c * 1e16) AS BIGINT) AS cc,
         CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * CAST(q.qv[c.pos] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM cent c CROSS JOIN q
),
q_sims AS (
  SELECT query_id, clabel,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(cc) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cos
  FROM q_terms GROUP BY query_id, clabel
),
qprobe AS (
  SELECT query_id, clabel AS list_id FROM (
    SELECT query_id, clabel, row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, clabel DESC) AS rn
    FROM q_sims) WHERE rn <= {_IVFPQ_NPROBE}
),
codes AS (
  SELECT vid, m, cid FROM (
    SELECT vid, m, cid, row_number() OVER (PARTITION BY vid, m
             ORDER BY dist ASC, cid ASC) AS rn FROM (
      SELECT l.vid, l.m, c.cid,
             CAST(SUM(CAST(round((l.v - c.c) * (l.v - c.c) * 1e16) AS BIGINT))
                  AS BIGINT) AS dist
      FROM rsub_long l JOIN pqcent c ON c.m = l.m AND c.pos = l.pos
      GROUP BY l.vid, l.m, c.cid)) WHERE rn = 1),
q_adc AS (
  SELECT q.query_id, c.m, c.cid,
         CAST(SUM(CAST(round(CAST(q.qv[c.m * {_PQ_SUB} + c.pos] AS DOUBLE) * c.c
                             * 1e16) AS BIGINT)) AS BIGINT) AS t
  FROM pqcent c CROSS JOIN q GROUP BY q.query_id, c.m, c.cid),
qbase AS (
  SELECT qp.query_id, a.vec_id AS vid,
         CAST(SUM(CAST(round(CAST(q.qv[c.pos] AS DOUBLE) * c.c * 1e16)
                       AS BIGINT)) AS BIGINT) AS b
  FROM assign a
  JOIN qprobe qp ON qp.list_id = a.list_id
  JOIN cent c ON c.clabel = a.list_id
  JOIN q ON q.query_id = qp.query_id
  GROUP BY qp.query_id, a.vec_id),
scores AS (
  SELECT qb.query_id, k.vid, CAST(qb.b + SUM(a.t) AS BIGINT) AS s
  FROM codes k
  JOIN qbase qb ON qb.vid = k.vid
  JOIN q_adc a ON a.query_id = qb.query_id AND a.m = k.m AND a.cid = k.cid
  GROUP BY qb.query_id, k.vid, qb.b),
short AS (
  SELECT query_id, vid AS vec_id FROM (
    SELECT query_id, vid, row_number() OVER (PARTITION BY query_id
             ORDER BY s DESC, vid ASC) AS rn
    FROM scores) WHERE rn <= {_PQ_SHORTLIST}),
cand_terms AS (
  SELECT sh.query_id, e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e JOIN short sh ON sh.vec_id = e.vec_id
  JOIN q ON q.query_id = sh.query_id
  CROSS JOIN generate_series(1, 64) AS i(i)),
mscored AS (
  SELECT query_id, vec_id,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
  FROM cand_terms GROUP BY query_id, vec_id)
SELECT query_id, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM mscored) WHERE rn <= 10
"""
)


@register("sim_ann_ivfpq_multiquery", oracle=_IVFPQ_MULTI_ORACLE)
def sim_ann_ivfpq_multiquery(t):
    """Batched serving for the combined IVF+PQ index: THREE queries
    (vec_id 0/1/2) in ONE pass (`annindex.ivfpq_multi_query_indexed`).
    The codes scan is pruned to the UNION of all probe lists; each
    query's literal-map ADC column is gated to its OWN probed lists
    (rows outside score NULL and drop from that query's shortlist), so
    per query the rows are identical to `sim_ann_ivfpq_indexed`. One
    window produces all shortlists; one pushed-down float read reranks
    the union. This completes batched serving across every retrieval
    layout: BM25 postings, IVF, PQ, SQ8, and now IVF+PQ.

    Scale: N queries cost one |union probed partitions| codes scan of
    8 ids/vector + one |union shortlists| float read — the
    training-data-selection shape (thousands of probes against one
    corpus) on the cheapest layout."""
    from stream_processor_spark.operators.annindex import (
        ensure_ivfpq_index,
        ivfpq_multi_query_indexed,
    )

    spark = t._spark
    codes_name, cent_name, books_name = ensure_ivfpq_index(
        spark, t._dir, 10, 2, _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    )
    qrows = (
        t.embeddings.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        raise ValueError("multi-query IVF+PQ: no query vectors found")
    queries = {int(r[0]): np.asarray(r[1], dtype=np.float64) for r in qrows}
    return ivfpq_multi_query_indexed(
        spark,
        codes_name,
        cent_name,
        books_name,
        t.embeddings,
        queries,
        nprobe=_IVFPQ_NPROBE,
        shortlist=_PQ_SHORTLIST,
    )


# ------------------------------------------------- index quality report ----

def _ivf_recall_oracle() -> str:
    """Recall@10 of the IVF probe (nprobe=2) against brute force —
    both pipelines replayed in one WITH chain: the IVF serve CTEs are
    spliced up to `cand_terms`, its final SELECT re-expressed as a CTE,
    and the brute-force leg computed over the full corpus with the same
    exact-int cosine."""
    body = _ivf_serve_sql(2)
    head = body[: body.index("\nSELECT vec_id,")]
    return (
        "WITH "
        + _IVF_CENT_SQL
        + ",\n"
        + head
        + """,
ivf_scored AS (
  SELECT vec_id,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
  FROM cand_terms GROUP BY vec_id
),
ivf10 AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rn
    FROM ivf_scored) WHERE rn <= 10
),
brute_terms AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS p,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS aa,
         CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                    * 1e16) AS BIGINT) AS qq
  FROM embeddings e CROSS JOIN q CROSS JOIN generate_series(1, 64) AS i(i)
),
brute_scored AS (
  SELECT vec_id,
         CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
  FROM brute_terms GROUP BY vec_id
),
brute10 AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rn
    FROM brute_scored) WHERE rn <= 10
)
SELECT CAST(COUNT(*) AS BIGINT) AS hits,
       CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_10
FROM ivf10 JOIN brute10 USING (vec_id)
"""
    )


@register("sim_recall_report", oracle=_ivf_recall_oracle())
def sim_recall_report(t):
    """Index-quality monitoring AS an operator: recall@10 of the IVF
    probe (nprobe=2) against exact brute force, for the standard query
    (vec_id 0). One row: (hits, recall_at_10). This is the number an
    ingest pipeline alerts on after index rebuilds — recall decay means
    the quantizer has drifted from the corpus and `ensure_*` needs a
    retrain; `tests/test_ann_quality.py` pins floors at fixture scale,
    this makes the same measurement a runnable production probe.

    Both legs are the engine's own deterministic pipelines (shared
    kernels with `sim_ann_ivf` / `sim_topk`), so the oracle replays the
    ENTIRE comparison — probe, brute force, and the intersection —
    in one WITH chain.

    Scale: the brute leg is the expensive half (one full scan); on a
    real corpus, run it over a deterministic sample of queries and
    vectors (the rule `_pq_fit_input` uses) — the report is an
    estimate either way, the sample just makes it a cheap one."""
    e = t.embeddings
    cent_rows = kmeans._mean_update(
        e.select("label", "embedding"), "label", "embedding"
    )
    ivf10 = _ivf_serve(e, cent_rows).select("vec_id")
    brute10 = sim.topk_vs_query(e, _query_vec(t), k=10).select("vec_id")
    return ivf10.join(brute10, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("hits"),
        (F.count(F.lit(1)).cast("double") / 10.0).alias("recall_at_10"),
    )


@register(
    "sample_hard_negatives",
    oracle=sim.ORACLE_COSINE_CTE.format(query_filter="vec_id = 0", dim=64)
    + """
    SELECT CAST(rn AS BIGINT) AS neg_rank, vec_id, cosine FROM (
      SELECT vec_id, cosine,
             row_number() OVER (ORDER BY cosine DESC, vec_id) AS rn
      FROM scored) WHERE rn BETWEEN 11 AND 50
    """,
)
def sample_hard_negatives(t):
    """Hard-negative mining for retrieval/embedding training: for the
    query (vec_id 0), the vectors ranked 11-50 by exact cosine — close
    enough to be informative negatives, far enough to (probably) be
    actual negatives; the contrastive-training counterpart of
    `sim_topk` (whose top-10 would be positives/near-dups).

    Scale: one TakeOrderedAndProject scan to rank 50 (no global sort),
    then a 50-row window — per query the same cost as the top-k it
    extends; at 100 TB serve the ranking leg from the IVF/PQ layouts
    via the router, exactly as for positives."""
    from pyspark.sql.window import Window

    top50 = sim.topk_vs_query(t.embeddings, _query_vec(t), k=50)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        top50.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") >= 11)
        .select("neg_rank", "vec_id", "cosine")
    )


@register(
    "multimodal_wav_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 40 + doc_id % 17 AS n FROM documents
    ),
    s AS (
      SELECT d.doc_id, i.i,
             (((1103515245 * ((d.doc_id % 100000) * 4096 + i.i) + 12345)
               % 2147483648) % 2001) - 1000 AS v
      FROM d, range(0, 57) i(i) WHERE i.i < d.n
    ),
    sg AS (
      SELECT doc_id, i, v,
             COALESCE(
               last_value(CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 END
                          IGNORE NULLS)
                 OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               1) AS sgn
      FROM s
    ),
    zc AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN prev_sgn IS NOT NULL AND sgn <> prev_sgn
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM (
        SELECT doc_id, sgn,
               lag(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev_sgn
        FROM sg
      ) GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak,
           z.zero_crossings
    FROM s JOIN zc z USING (doc_id)
    GROUP BY s.doc_id, z.zero_crossings
    """,
)
def multimodal_wav_stats(t):
    """REAL audio decode, hash-verified end to end (round 10): every
    document gets a deterministic PCM16 RIFF/WAVE payload (samples from
    the engine's pinned LCG, lengths 40..56 so chunk parsing sees varied
    data sizes), the engine decodes the actual WAV bytes — RIFF chunk
    walk, fmt validation, little-endian int16 samples
    (operators/multimodal.py:decode_wav) — and emits integer-exact
    audio statistics (sum |s|, peak, zero crossings with zeros
    inheriting the previous sign). The oracle recomputes the same
    statistics from the closed-form sample formula without seeing the
    bytes, so a hash match proves the container round trip byte-perfect.
    Compressed audio (MP3/AAC/Opus) stays honestly gated — entropy
    codecs need real libraries; PCM is the training-corpus landing
    format this engine would actually scan. Scale: one Arrow crossing,
    map-only, stats fold inside the batch."""
    return mm.decode_audio(
        t.documents.select("doc_id"),
        payload_from=mm.audio_payload_series(),
    )


def _sign_sig_sql(col: str, start: int, nbits: int) -> str:
    """The 32-term CASE sum packing sign bits — textual twin of
    similarity.sign_signature, shared by both Hamming oracles."""
    terms = " + ".join(
        f"(CASE WHEN CAST({col}[{start + i}] AS DOUBLE) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(nbits)
    )
    return f"CAST({terms} AS BIGINT)"


_HAMMING_CTES = f"""
    WITH sigs AS (
      SELECT vec_id,
             {_sign_sig_sql('embedding', 1, 32)} AS sig_lo,
             {_sign_sig_sql('embedding', 33, 32)} AS sig_hi
      FROM embeddings
    ),
    qsig AS (SELECT sig_lo AS q_lo, sig_hi AS q_hi FROM sigs WHERE vec_id = 0),
    ham AS (
      SELECT s.vec_id,
             CAST(bit_count(xor(s.sig_lo, q.q_lo))
                + bit_count(xor(s.sig_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM sigs s CROSS JOIN qsig q
    )
    """


@register(
    "sim_ann_hamming",
    oracle=_HAMMING_CTES
    + "SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 20",
)
def sim_ann_hamming(t):
    """Binary-quantized ANN, stage 1: pack each embedding's sign bits
    into two int64 halves (1 bit/dim — 32x smaller than SQ8, the
    coarsest rung of the quantization ladder) and take the Hamming
    top-20 against the query signature via XOR + bit_count. Entirely
    whole-stage-codegen (a 32-term CASE sum per half, then two bit_count
    calls) — no Python, no shuffle before TakeOrderedAndProject; at
    100 TB the signature table is 16 bytes/vector and this scan is the
    cheap shortlist pass in front of an exact rerank
    (`sim_ann_hamming_rerank`)."""
    q = t.embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return sim.hamming_topk(t.embeddings, q, k=20)


@register(
    "sim_ann_hamming_rerank",
    oracle=_HAMMING_CTES
    + f""",
    short AS (
      SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 50
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT e.vec_id,
             CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                        * 1e16) AS BIGINT) AS p,
             CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                        * 1e16) AS BIGINT) AS aa,
             CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                        * 1e16) AS BIGINT) AS qq
      FROM embeddings e JOIN short s ON e.vec_id = s.vec_id
      CROSS JOIN qv q CROSS JOIN generate_series(1, 64) AS i(i)
    ),
    scored AS (
      SELECT vec_id,
             CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def sim_ann_hamming_rerank(t):
    """Binary-quantized ANN, both stages: Hamming top-50 shortlist over
    the 16-byte sign signatures (stage 1, pure bit arithmetic), then the
    exact scaled-int cosine rerank of only those 50 vectors (stage 2,
    the same JVM fold every exact operator uses) — the classic
    two-stage search at its cheapest memory point. The shortlist is
    LIMIT-bounded, so the rerank side is broadcast-sized by construction
    at any corpus scale; the oracle replays both stages exactly."""
    e = t.embeddings
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    short = sim.hamming_topk(e, q, k=50).select("vec_id")
    cand = e.join(F.broadcast(short), "vec_id").crossJoin(F.broadcast(q))
    return (
        cand.select(
            "vec_id", sim.cosine(F.col("embedding"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "multimodal_video_frames",
    oracle="""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents
    ),
    fr AS (
      SELECT d.doc_id, f.f AS frame_idx
      FROM d, range(0, 6) f(f)
      WHERE f.f < d.nf AND f.f % 2 = 0
    ),
    px AS (
      SELECT fr.doc_id, fr.frame_idx, p.p,
             ((1103515245 * ((fr.doc_id % 100000) * 4096
                 + fr.frame_idx * 60 + p.p * 20 + i.i) + 12345)
               % 2147483648) % 256 AS v
      FROM fr, range(0, 3) p(p), range(0, 20) i(i)
    )
    SELECT doc_id, frame_idx,
           CAST(4 AS BIGINT) AS height,
           CAST(5 AS BIGINT) AS width,
           CAST(SUM(CASE WHEN p = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_y,
           CAST(SUM(CASE WHEN p = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_u,
           CAST(SUM(CASE WHEN p = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_v,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id, frame_idx
    """,
)
def multimodal_video_frames(t):
    """REAL video demux, hash-verified end to end (round 10): every
    document gets a deterministic Y4M (YUV4MPEG2, C444) payload — 3..6
    frames of 4x5 planar YUV from the pinned LCG — and the engine
    demuxes the actual container bytes (stream-header parameter parse,
    FRAME-marker walk, planar slice; operators/multimodal.py:decode_y4m),
    keeps every 2nd frame (the keyframe-sampling contract
    `multimodal_frame_sample` modeled with byte-slicing, now REAL for
    the codec-free container class), and emits integer-exact per-frame
    plane statistics. The oracle recomputes them from the closed-form
    index formula — the linear index order IS the planar layout — so a
    hash match proves the demux byte-perfect. Compressed video
    (H.264/VP9/AV1) stays honestly gated. Scale: one Arrow crossing,
    flatMap map-only pass; a real corpus shards by video and scales
    linearly with cores."""
    return mm.demux_video(
        t.documents.select("doc_id"),
        payload_from=mm.video_payload_series(),
    )


@register(
    "corpus_split_by_cluster",
    oracle=_CC_ORACLE_CTES
    + """
    , b AS (
      SELECT v AS vec_id, comp AS component,
             (('0x' || substr(md5('csplit1|' || CAST(comp AS VARCHAR)), 1, 15))
              ::UBIGINT)::BIGINT % 100 AS bucket
      FROM c30
    )
    SELECT vec_id, component, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def corpus_split_by_cluster(t):
    """CLUSTER-GRANULAR train/val/test split (80/10/10): assignment is a
    salted-md5 hash of the near-dup CLUSTER id (`dedup_cc_clusters`'
    connected components), not the document id — so near-duplicates can
    NEVER straddle a split boundary, by construction. This is the
    leakage-safe upgrade of `corpus_train_val_test_split` (whose
    per-doc hash `split_leakage_audit` must then police): the pipeline
    runs dedup clustering once, splits by component, and the audit
    becomes a tautology for every duplicate the clustering caught.
    Deterministic forever: membership is a pure function of the corpus
    (pinned LSH + exact cosine + min-label CC), so re-runs and
    backfills agree, and appends only reshuffle components they touch.

    Scale: the CC labeling is the bounded banded-LSH + bounded-model
    exact-verify pass (docs/SF10_CC_SLIM_r10.json: ~9 s at 1M vectors);
    the split itself is a map over (vec_id, component) pairs — two
    longs — with the salted-hash arithmetic mirrored in the oracle
    (same ``csplit1`` salt on both sides)."""
    comp = dedup_cc_clusters(t)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("csplit1"),
                        F.col("component").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return comp.select(
        "vec_id",
        "component",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "sim_ann_hamming_indexed",
    oracle=_HAMMING_CTES
    + f""",
    short AS (
      SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 50
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT e.vec_id,
             CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                        * 1e16) AS BIGINT) AS p,
             CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)
                        * 1e16) AS BIGINT) AS aa,
             CAST(round(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)
                        * 1e16) AS BIGINT) AS qq
      FROM embeddings e JOIN short s ON e.vec_id = s.vec_id
      CROSS JOIN qv q CROSS JOIN generate_series(1, 64) AS i(i)
    ),
    scored AS (
      SELECT vec_id,
             CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cosine
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def sim_ann_hamming_indexed(t):
    """`sim_ann_hamming_rerank` served from the PERSISTED sign-signature
    layout (operators/annindex.ensure_sign_index): the Hamming shortlist
    scans a 16-byte-per-vector table — never touching the 64-float
    embedding column — and only the LIMIT-bounded shortlist joins back
    to embeddings for the exact rerank. The query's own signature comes
    from the same table (driver-side parquet point read on small
    layouts, round 12). Same oracle as the scratch twin — the layout
    changes the plan only. At 100 TB the signature scan is ~1/16th the
    bytes of the embedding scan; appends are per-row pure
    (`append_sign_index`, append ≡ rebuild exact).

    Round-12 serve shape: the shortlist ids and the query embedding
    are HYDRATED (TakeOrdered collect; predicate-pushed point read
    with a one-job Spark fallback) and enter the rerank scan as
    literals — `vec_id IN (...)` prunes parquet row groups instead of
    building a broadcast-join exchange, and the query vector rides the
    plan as a literal array rather than a crossJoin of a second
    embeddings scan. Two jobs total (shortlist + rerank) where the
    broadcast-join form paid four; bounded hydration (50 ids + one
    64-float row), the IVF centroid-collect contract."""
    from stream_processor_spark.operators.annindex import (
        _point_read_row,
        ensure_sign_index,
        hamming_query_indexed,
    )

    spark = t._spark
    (sig_name,) = ensure_sign_index(spark, t._dir)
    short_ids = [
        int(r[0])
        for r in hamming_query_indexed(
            spark, sig_name, query_vec_id=0, k=50
        ).collect()
    ]
    e = t.embeddings
    qrow = _point_read_row(e, "vec_id", 0, ["embedding"], max_files=64)
    if qrow is None:
        qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
        if qrow is None:
            raise ValueError("hamming rerank: query vec_id=0 not found")
    # float32 -> double widening is exact, so the literal array is
    # bit-identical to the oracle's CAST(qv[i] AS DOUBLE)
    qcol = F.array(*[F.lit(float(x)).cast("double") for x in qrow[0]])
    return (
        e.filter(F.col("vec_id").isin(short_ids))
        .select(
            "vec_id", sim.cosine(F.col("embedding"), qcol).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "sim_ann_hamming_multiquery",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id,
             {_sign_sig_sql('embedding', 1, 32)} AS sig_lo,
             {_sign_sig_sql('embedding', 33, 32)} AS sig_hi
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
      FROM sigs WHERE vec_id IN (0, 1, 2)
    ),
    ham AS (
      SELECT q.query_id, s.vec_id,
             CAST(bit_count(xor(s.sig_lo, q.q_lo))
                + bit_count(xor(s.sig_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM sigs s CROSS JOIN qs q
    ),
    rk AS (
      SELECT query_id, vec_id, hamming,
             row_number() OVER (
               PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
      FROM ham
    )
    SELECT query_id, vec_id, hamming FROM rk WHERE rn <= 10
    """,
)
def sim_ann_hamming_multiquery(t):
    """Batched binary ANN: THREE query signatures (vec_id 0/1/2) served
    over the persisted 16-byte sign layout — N queries add two
    bit_count terms per row each, never another scan; no scratch twin,
    like every batched serve (router route `ann_binary_multi`).

    Round-12 plan: the former query_id-partitioned row_number window
    sorted |corpus|·|queries| rows across only |queries| partitions —
    a 3-task 600k-row sort at sf10 (measured 4.3× DuckDB) that only
    gets worse with the corpus. The Hamming domain is [0, 128], so
    per-query top-k is a HISTOGRAM problem: one map-side-combinable
    (query_id, hamming) count — ≤129 rows per query, any corpus size —
    hydrates each query's k-th-smallest threshold driver-side (the
    bounded-model discipline), then the filter pass takes everything
    strictly below the threshold plus the boundary rows ranked by
    vec_id (row_number over ONLY ties-at-threshold — a few rows, not
    the corpus). Same rows as the window plan bit-for-bit (hamming
    asc, vec_id asc top-10; the oracle's rk CTE unchanged), but every
    stage is either map-parallel or bounded by 129·|queries|."""
    from itertools import chain

    from pyspark.sql import Window

    from stream_processor_spark.operators.annindex import (
        _point_read_row,
        ensure_sign_index,
    )

    spark = t._spark
    topk = 10
    qids = [0, 1, 2]
    (sig_name,) = ensure_sign_index(spark, t._dir)
    sigs = spark.table(sig_name)
    # query signatures as LITERAL structs (point-read per id with a
    # one-job Spark fallback): the scan pays no broadcast-exchange
    # build for a 3-row frame
    qrows = []
    for qid in qids:
        row = _point_read_row(sigs, "vec_id", qid, ["sig_lo", "sig_hi"])
        if row is None:
            jrow = (
                sigs.filter(F.col("vec_id") == qid)
                .select("sig_lo", "sig_hi")
                .head()
            )
            if jrow is None:
                raise ValueError(
                    f"hamming multiquery: query vec_id={qid} not in "
                    f"signature table {sig_name!r}"
                )
            row = (jrow[0], jrow[1])
        qrows.append((qid, int(row[0]), int(row[1])))
    qarr = F.array(
        *[
            F.struct(
                F.lit(q).cast("long").alias("query_id"),
                F.lit(lo).cast("long").alias("q_lo"),
                F.lit(hi).cast("long").alias("q_hi"),
            )
            for q, lo, hi in qrows
        ]
    )
    ham = (
        F.bit_count(F.col("q.q_lo").bitwiseXOR(F.col("sig_lo")))
        + F.bit_count(F.col("q.q_hi").bitwiseXOR(F.col("sig_hi")))
    ).cast("long")
    scored = sigs.select(
        F.explode(qarr).alias("q"), "vec_id", "sig_lo", "sig_hi"
    ).select(F.col("q.query_id").alias("query_id"), "vec_id", ham.alias("hamming"))
    # job 1: the bounded histogram — <=129 rows per query at ANY corpus
    # size, map-side combinable
    hist = (
        scored.groupBy("query_id", "hamming")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_q: dict[int, dict[int, int]] = {}
    for r in hist:
        by_q.setdefault(int(r[0]), {})[int(r[1])] = int(r[2])
    thresh = {}  # query_id -> (boundary hamming, rows still needed there)
    for q, counts in by_q.items():
        need = topk
        for h in sorted(counts):
            if counts[h] >= need:
                thresh[q] = (h, need)
                break
            need -= counts[h]
        else:
            # corpus smaller than topk for this query (round-12 ADVICE):
            # the loop never satisfied `need`, so take EVERYTHING. The
            # boundary is the max hamming present; its allowance must be
            # the FULL tie count there — `need` has already been
            # decremented by counts[mx] when the loop falls through, so
            # storing the post-decrement value (round-13 ADVICE) dropped
            # boundary ties whenever total < topk < total + counts[mx].
            # Without this branch at all the map lookup below yields NULL
            # and drops every row for the query, where the old window
            # plan returned all rows.
            mx = max(counts)
            thresh[q] = (mx, counts[mx])
    hmap = F.create_map(
        *chain.from_iterable(
            (F.lit(q), F.lit(h)) for q, (h, _) in thresh.items()
        )
    )
    nmap = F.create_map(
        *chain.from_iterable(
            (F.lit(q), F.lit(n)) for q, (_, n) in thresh.items()
        )
    )
    # job 2: one pruned pass — everything strictly below the threshold
    # plus the vec_id-ranked boundary ties; the window's input is only
    # the pruned rows, never the corpus
    pruned = (
        scored.withColumn("h_star", hmap[F.col("query_id")])
        .withColumn("need", nmap[F.col("query_id")])
        .filter(F.col("hamming") <= F.col("h_star"))
    )
    wb = Window.partitionBy(
        "query_id", F.col("hamming") == F.col("h_star")
    ).orderBy(F.col("vec_id").asc())
    return (
        pruned.withColumn("rn", F.row_number().over(wb))
        .filter(
            (F.col("hamming") < F.col("h_star"))
            | (F.col("rn") <= F.col("need"))
        )
        .select("query_id", "vec_id", "hamming")
    )


_LPA_ROUNDS = 4


def _lpa_oracle(iters: int = _LPA_ROUNDS) -> str:
    """Unrolled synchronous label-propagation CTEs (self-vote variant).

    The `_cc_unrolled_sql` formulation rules apply (DuckDB 1.0): every
    stage references its predecessor exactly ONCE and is AS MATERIALIZED.
    Self-loops give every node a vote for its own label, which (a) makes
    the per-round update a single grouped join — no second
    keep-old-label reference — and (b) damps the oscillation classic
    synchronous LPA exhibits on bipartite structures."""
    ctes = [
        f"WITH {_band_cand_sql(4, 4).lstrip()}",
        """nodes AS MATERIALIZED (SELECT vec_id AS node FROM embeddings),
    edges AS MATERIALIZED (
      SELECT va AS src, vb AS dst FROM cand
      UNION ALL SELECT vb AS src, va AS dst FROM cand
      UNION ALL SELECT node AS src, node AS dst FROM nodes),
    lab0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""lab{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label,
               row_number() OVER (
                 PARTITION BY e.dst
                 ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM edges e JOIN lab{i - 1} l ON l.node = e.src
        GROUP BY e.dst, l.label) WHERE rn = 1)""")
    return (
        ",\n    ".join(ctes)
        + f"\n    SELECT node AS vec_id, label AS community FROM lab{iters}"
    )


@register("graph_lpa", oracle=_lpa_oracle())
def graph_lpa(t):
    """Label-propagation communities over the LSH candidate graph
    (4 synchronous rounds, self-vote variant): each node adopts the
    most frequent label among its neighbors AND itself, ties to the
    smallest label — the near-linear community detector that, unlike
    connected components (`dedup_cc_clusters`), respects edge DENSITY:
    two clusters joined by one spurious LSH edge stay separate
    communities while CC would merge them. The standard domain/topic
    grouping signal for corpus curation. Deterministic: synchronous
    updates + total-order tie-break, so the 4-round trajectory is
    bit-replayable (the oracle unrolls it; self-loops make every stage
    reference its predecessor once — the `_cc_unrolled_sql` discipline).

    Scale: the canonical BSP shape — per round ONE (node, label) count
    aggregate over edges (hash-partitioned on the destination, AQE
    handles hub skew) and one per-node window over label counts
    (bounded by each node's distinct neighbor labels); localCheckpoint
    caps lineage per round, as in `connected_components`."""
    from pyspark.sql import Window

    e = t.embeddings
    cand = sim.banded_candidate_pairs(e)
    nodes = e.select(F.col("vec_id").alias("node"))
    edges = (
        cand.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            cand.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .unionByName(nodes.select(F.col("node").alias("src"),
                                  F.col("node").alias("dst")))
        .localCheckpoint()
    )
    lab = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(_LPA_ROUNDS):
        lab = (
            edges.join(lab, edges.src == lab.node)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return lab.select(
        F.col("node").alias("vec_id"), F.col("label").alias("community")
    )


@register(
    "multimodal_audio_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id, 40 + doc_id % 17 AS n FROM documents
    ),
    s AS (
      SELECT d.doc_id, i.i, i.i // 16 AS win_idx,
             ABS((((1103515245 * ((d.doc_id % 100000) * 4096 + i.i) + 12345)
               % 2147483648) % 2001) - 1000) AS a
      FROM d, range(0, 57) i(i) WHERE i.i < d.n
    )
    SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(a) AS BIGINT) AS sum_abs,
           CAST(MAX(a) AS BIGINT) AS peak
    FROM s GROUP BY doc_id, win_idx
    """,
)
def multimodal_audio_windows(t):
    """Windowed audio energy features over REAL decoded WAV bytes: the
    voice-activity-detection / energy-gating pass a speech-data pipeline
    runs before segment selection — per 16-sample window, exact
    sum |s| and peak |s| (trailing partial window kept with its true
    count, never padded). flatMap through the same Arrow-batched
    boundary as the other decoders; the oracle recomputes every window
    from the closed-form sample formula (window index = i // 16), so a
    hash match proves decode + windowing end to end. Scale: map-only,
    one Arrow crossing; a real corpus shards by file and scales
    linearly with cores."""
    return mm.audio_windows(
        t.documents.select("doc_id"),
        payload_from=mm.audio_payload_series(),
    )


@register(
    "multimodal_scene_cuts",
    oracle="""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents
    ),
    px AS (
      SELECT d.doc_id, f.f AS frame_idx, i.i,
             ((1103515245 * ((d.doc_id % 100000) * 4096
                 + f.f * 60 + i.i) + 12345)
               % 2147483648) % 256 AS y
      FROM d, range(0, 6) f(f), range(0, 20) i(i)
      WHERE f.f < d.nf
    ),
    delta AS (
      SELECT a.doc_id, a.frame_idx,
             CAST(SUM(ABS(a.y - b.y)) AS BIGINT) AS y_delta
      FROM px a JOIN px b
        ON a.doc_id = b.doc_id AND a.i = b.i
       AND b.frame_idx = a.frame_idx - 1
      GROUP BY a.doc_id, a.frame_idx
    )
    SELECT doc_id, frame_idx, y_delta, y_delta > 1500 AS is_cut
    FROM delta
    """,
)
def multimodal_scene_cuts(t):
    """Scene-cut detection over REAL demuxed Y4M bytes: exact
    frame-to-frame luma deltas (sum |Y_f − Y_{f−1}| over the Y plane,
    int64) with a threshold flag — the keyframe/scene-boundary
    heuristic a video curation pipeline runs to pick representative
    frames (the intelligent upgrade of every-Nth sampling). The oracle
    recomputes every delta from the closed-form pixel formula (Y plane
    = plane 0 = linear indices 0..19 per frame), so a hash match proves
    demux + differencing end to end. Scale: map-only flatMap, one Arrow
    crossing; consecutive frames live in the same payload so no shuffle
    ever touches pixels."""
    return mm.scene_deltas(
        t.documents.select("doc_id"),
        payload_from=mm.video_payload_series(),
    )


# ------------------------------------------------- graph ANN (round 11) ----


def _graph_oracle_sql(
    bits: int = 4, m: int = 12, beam: int = 8, hops: int = 6, topk: int = 10
) -> str:
    """DuckDB replay of the deterministic NSW build + beam search
    (operators/graphann.py): the graph structure is a closed-form
    function of the corpus (sign buckets, exact top-m bucket-local
    cosine edges, per-bucket hubs), and the GRAPH_HOPS beam rounds are
    UNROLLED as chained CTEs — the Lloyd-trainer replay discipline
    applied to graph traversal. All cosines use the engine's exact
    scaled-int64 convention, ties to the smaller vec_id."""
    probes = ", ".join(f"({v})" for v in [0] + [1 << j for j in range(bits)])
    bexpr = "\n       + ".join(
        f"(CASE WHEN CAST(embedding[{j + 1}] AS DOUBLE) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    parts = [
        f"""bkt AS MATERIALIZED (
  SELECT vec_id, embedding,
         {bexpr} AS b
  FROM embeddings
),
probe AS (
  SELECT vec_id, xor(b, x.x) AS pb FROM bkt, (VALUES {probes}) x(x)
),
pt AS (
  SELECT p.vec_id AS src, c.vec_id AS dst,
         CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                    * CAST(c.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS xy,
         CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                    * CAST(a.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS xx,
         CAST(round(CAST(c.embedding[i.i] AS DOUBLE)
                    * CAST(c.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS yy
  FROM probe p
  JOIN bkt a ON a.vec_id = p.vec_id
  JOIN bkt c ON c.b = p.pb AND c.vec_id <> p.vec_id
  CROSS JOIN generate_series(1, 64) AS i(i)
),
pc AS (
  SELECT src, dst,
         CAST(CAST(SUM(xy) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(xx) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(yy) AS BIGINT) AS DOUBLE))) AS cos
  FROM pt GROUP BY src, dst
),
local_edges AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
    FROM pc) WHERE rk <= {m}
),
hubs AS (SELECT b, min(vec_id) AS hub FROM bkt GROUP BY b),
hub_edges AS (
  SELECT h1.hub AS src, h2.hub AS dst
  FROM hubs h1, hubs h2 WHERE h1.hub <> h2.hub
),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM local_edges
    UNION ALL SELECT src, dst FROM hub_edges)
),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
qt AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE)
                    * CAST(q.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS xy,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE)
                    * CAST(e.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS xx,
         CAST(round(CAST(q.embedding[i.i] AS DOUBLE)
                    * CAST(q.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS qq
  FROM embeddings e CROSS JOIN qv q CROSS JOIN generate_series(1, 64) AS i(i)
),
qsc AS MATERIALIZED (
  SELECT vec_id AS v,
         CAST(CAST(SUM(xy) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(xx) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cos
  FROM qt GROUP BY vec_id
),
beam0 AS (SELECT min(vec_id) AS v FROM embeddings)"""
    ]
    for h in range(1, hops + 1):
        parts.append(
            f""",
cand{h} AS MATERIALIZED (
  SELECT DISTINCT v FROM (
    SELECT e.dst AS v FROM edges e JOIN beam{h - 1} b ON e.src = b.v
    UNION ALL SELECT v FROM beam{h - 1})
),
beam{h} AS MATERIALIZED (
  SELECT v FROM (
    SELECT c.v, row_number() OVER (ORDER BY q.cos DESC, c.v ASC) AS rk
    FROM cand{h} c JOIN qsc q ON q.v = c.v) WHERE rk <= {beam}
)"""
        )
    visited_union = "\n    UNION ALL ".join(
        [f"SELECT v FROM cand{h}" for h in range(1, hops + 1)]
        + ["SELECT v FROM beam0"]
    )
    parts.append(
        f""",
visited AS (SELECT DISTINCT v FROM ({visited_union}))
SELECT v AS vec_id, cos AS cosine FROM (
  SELECT q.v, q.cos, row_number() OVER (ORDER BY q.cos DESC, q.v ASC) AS rk
  FROM visited vi JOIN qsc q ON q.v = vi.v) WHERE rk <= {topk}"""
    )
    return "WITH " + "".join(parts)


@register("sim_ann_graph_indexed", oracle=_graph_oracle_sql())
def sim_ann_graph_indexed(t):
    """ANN top-10 served by a BEAM WALK over a persisted deterministic
    NSW graph (round 11, VERDICT r10 ask #6) — the graph-index family
    (HNSW's) that completes the retrieval ladder: brute -> LSH-bucketed
    -> IVF/PQ/binary layouts -> navigable graph.

    `operators/graphann.ensure_graph_index` writes the edge table once
    (sign buckets, exact top-12 bucket+adjacent-bucket cosine edges,
    fully-connected per-bucket hubs; one file per src-bucket partition),
    and each query runs the standard NSW ef-search: beam 8, 6 hops,
    partition-pruned adjacency lookups, exact scaled-int64 rerank over
    the visited set (~170 of 500 fixture vectors touched — recall
    floors pinned against the IVF probe at matched scanned budget in
    tests/test_ann_quality.py). HNSW itself draws random levels, which
    would be unverifiable; this deterministic member's build AND walk
    are pure functions of the corpus, so the oracle replays the whole
    thing — graph construction in closed form, the 6 beam rounds as
    unrolled CTEs (the Lloyd-trainer discipline). Reference has no ANN
    surface ([EXT])."""
    import numpy as np

    from stream_processor_spark.operators.graphann import (
        ensure_graph_index,
        graph_auto_params,
        graph_query_indexed,
    )

    spark = t._spark
    # scale-aware params: EXACTLY the oracle-replayed profile (bits=4,
    # uncapped) at every oracle scale, the bits(n) schedule + hard cap
    # above them (round 12) — one entry, both regimes
    bits, cap = graph_auto_params(spark, t._dir)
    (edges_name,) = ensure_graph_index(
        spark, t._dir, bits=bits, max_bucket=cap
    )
    qrow = (
        t.embeddings.filter(F.col("vec_id") == 0).select("embedding").head()
    )
    if qrow is None:
        raise ValueError("graph ANN: query vector vec_id=0 not found")
    return graph_query_indexed(
        spark, edges_name, np.asarray(qrow[0], dtype=np.float64), bits=bits
    )


def _graph_oracle_multi_sql(
    qids=(0, 1, 2), bits: int = 4, m: int = 12, beam: int = 8,
    hops: int = 6, topk: int = 10,
) -> str:
    """Multi-query twin of `_graph_oracle_sql`: ONE shared graph build
    (identical CTEs), then an independent unrolled beam chain per
    query_id, unioned with the id column — mirroring the engine's
    shared-read walk, whose per-query rows equal the single-query serve
    by construction."""
    base = _graph_oracle_sql(bits=bits, m=m, beam=beam, hops=hops, topk=topk)
    # keep everything up to (and incl.) the edges CTE; rebuild per-query
    build_end = base.index("qv AS (SELECT embedding")
    parts = [base[:build_end].rstrip().rstrip(",")]
    for q in qids:
        parts.append(
            f""",
qv{q} AS (SELECT embedding FROM embeddings WHERE vec_id = {q}),
qt{q} AS (
  SELECT e.vec_id,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE)
                    * CAST(q.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS xy,
         CAST(round(CAST(e.embedding[i.i] AS DOUBLE)
                    * CAST(e.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS xx,
         CAST(round(CAST(q.embedding[i.i] AS DOUBLE)
                    * CAST(q.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS qq
  FROM embeddings e CROSS JOIN qv{q} q
  CROSS JOIN generate_series(1, 64) AS i(i)
),
qsc{q} AS MATERIALIZED (
  SELECT vec_id AS v,
         CAST(CAST(SUM(xy) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(xx) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qq) AS BIGINT) AS DOUBLE))) AS cos
  FROM qt{q} GROUP BY vec_id
),
beam{q}_0 AS (SELECT min(vec_id) AS v FROM embeddings)"""
        )
        for h in range(1, hops + 1):
            parts.append(
                f""",
cand{q}_{h} AS MATERIALIZED (
  SELECT DISTINCT v FROM (
    SELECT e.dst AS v FROM edges e JOIN beam{q}_{h - 1} b ON e.src = b.v
    UNION ALL SELECT v FROM beam{q}_{h - 1})
),
beam{q}_{h} AS MATERIALIZED (
  SELECT v FROM (
    SELECT c.v, row_number() OVER (ORDER BY q.cos DESC, c.v ASC) AS rk
    FROM cand{q}_{h} c JOIN qsc{q} q ON q.v = c.v) WHERE rk <= {beam}
)"""
            )
        vis = "\n    UNION ALL ".join(
            [f"SELECT v FROM cand{q}_{h}" for h in range(1, hops + 1)]
            + [f"SELECT v FROM beam{q}_0"]
        )
        parts.append(
            f""",
visited{q} AS (SELECT DISTINCT v FROM ({vis})),
top{q} AS (
  SELECT CAST({q} AS BIGINT) AS query_id, v AS vec_id, cos AS cosine
  FROM (
    SELECT q.v, q.cos,
           row_number() OVER (ORDER BY q.cos DESC, q.v ASC) AS rk
    FROM visited{q} vi JOIN qsc{q} q ON q.v = vi.v) WHERE rk <= {topk}
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM top{q}" for q in qids)
    parts.append(f"\n{union}")
    return "".join(parts)


@register("sim_ann_graph_multiquery", oracle=_graph_oracle_multi_sql())
def sim_ann_graph_multiquery(t):
    """Batched graph-ANN serve: MANY queries share ONE beam walk over
    the persisted NSW edge table — each hop issues a single
    partition-pruned adjacency read for the union of all beams, nodes
    expanded by several queries are read once, and per-query results
    are IDENTICAL to `sim_ann_graph_indexed`'s single serve (the
    batched-retrieval pattern every other ANN layout already has:
    ivf/pq/ivfpq/hamming multiquery). Oracle: one shared graph build +
    an independent unrolled 6-hop CTE chain per query id."""
    import numpy as np

    from stream_processor_spark.operators.graphann import (
        ensure_graph_index,
        graph_auto_params,
        graph_multi_query_indexed,
    )

    spark = t._spark
    bits, cap = graph_auto_params(spark, t._dir)
    (edges_name,) = ensure_graph_index(
        spark, t._dir, bits=bits, max_bucket=cap
    )
    qrows = (
        t.embeddings.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", "embedding")
        .collect()
    )
    if len(qrows) < 3:
        raise ValueError("graph multiquery: query vectors 0..2 not found")
    queries = {int(r[0]): np.asarray(r[1], dtype=np.float64) for r in qrows}
    return graph_multi_query_indexed(spark, edges_name, queries, bits=bits)
