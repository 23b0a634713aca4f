"""Training-data pipeline composition operators (round 7).

The corpus-preparation steps that sit BETWEEN the per-document analyses
(`llm_data.py`) and the training job itself: sequence packing
(concat-and-chunk), semantic deduplication (SemDeDup-style cluster +
near-dup prune), cross-document boilerplate detection, one BPE merge
step of tokenizer training, and an auditable multi-rule quality gate.

Every operator follows the engine's hash-oracle discipline: integer or
exactly-reproducible arithmetic only, and a DuckDB oracle that replays
the same definition (including the full k-means training trajectory for
the semantic dedup, via ``kmeans.lloyd_oracle_ctes``).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stream_processor_spark.operators import kmeans
from stream_processor_spark.operators import similarity as sim
from stream_processor_spark.operators import text as tx
from stream_processor_spark.queries.base import register
from stream_processor_spark.queries.llm_data import _band_cand_sql

# Concat-and-chunk training-sequence length (tokens per packed sequence).
_SEQ_LEN = 512
# Static doc_id bucket width for the distributed prefix sum (mirrors
# `corpus_shard_by_tokens`'s convention).
_RANGE = 200


def _with_begin_off(sized):
    """(doc_id, n_tokens, bucket) → + ``begin_off``: each document's
    global token offset in doc_id order, via the engine's DISTRIBUTED
    prefix sum (per-bucket local cumsum in parallel + one tiny cascaded
    bucket-offset pass) — bit-identical to the sequential running sum by
    associativity of +, with no single-threaded global window.

    The bucket totals are ``max(local_cum)`` over the SAME windowed
    frame, not a second ``sum(n_tokens)`` aggregate over ``sized``
    (round 15): with both branches reading one identical
    scan→filter→exchange subtree, AQE's exchange reuse evaluates the
    upstream — a corpus scan+tokenize here, the whole gate+dedup
    pipeline in `corpus_curate_e2e` — ONCE instead of once per branch
    (final adaptive plan: 1 Scan parquet, was 2; the separate-aggregate
    shape defeats reuse because column pruning and the join's one-sided
    isnotnull pushdown make the two subtrees canonically different).
    The explicit isnotnull(bucket) filter mirrors the inner join's
    pushed predicate symmetrically into both branches — it drops
    nothing the join would keep. max(local_cum) == the bucket's
    n_tokens sum because n_tokens >= 0 makes the running sum
    non-decreasing (size() is never negative), so the last row IS the
    max; null n_tokens rows repeat the previous cumsum value in both
    shapes."""
    shared = sized.filter(F.col("bucket").isNotNull())
    local = shared.withColumn(
        "local_cum",
        F.sum("n_tokens").over(
            Window.partitionBy("bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    offsets = (
        local.groupBy("bucket")
        .agg(F.max("local_cum").alias("bucket_total"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bucket_total").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("offset") + F.col("local_cum") - F.col("n_tokens")).alias(
                "begin_off"
            ),
        )
    )


def _pack_rows(pos):
    """(doc_id, n_tokens, begin_off) → (doc_id, seq_id, seq_tokens):
    explode each doc over the sequences its token span crosses."""
    return (
        pos.filter(F.col("n_tokens") >= 1)
        .select(
            "doc_id",
            "begin_off",
            "n_tokens",
            F.explode(
                F.expr(
                    f"sequence(begin_off div {_SEQ_LEN},"
                    f" (begin_off + n_tokens - 1) div {_SEQ_LEN})"
                )
            ).alias("seq_id"),
        )
        .select(
            "doc_id",
            "seq_id",
            (
                F.least(
                    (F.col("seq_id") + 1) * _SEQ_LEN - 1,
                    F.col("begin_off") + F.col("n_tokens") - 1,
                )
                - F.greatest(F.col("seq_id") * _SEQ_LEN, F.col("begin_off"))
                + 1
            ).alias("seq_tokens"),
        )
    )


def _pack_sql(src: str) -> str:
    """Packing tail SQL over CTE ``src``(doc_id, n_tokens): sequential
    running sum + per-span explode (the oracle replays the sequential
    definition the distributed prefix sum equals)."""
    return f"""pos AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - n_tokens AS BIGINT) AS begin_off
      FROM {src}
    )
    SELECT doc_id, seq_id,
           least((seq_id + 1) * {_SEQ_LEN} - 1, begin_off + n_tokens - 1)
             - greatest(seq_id * {_SEQ_LEN}, begin_off) + 1 AS seq_tokens
    FROM (
      SELECT doc_id, begin_off, n_tokens,
             unnest(generate_series(begin_off // {_SEQ_LEN},
                                    (begin_off + n_tokens - 1) // {_SEQ_LEN}))
               AS seq_id
      FROM pos WHERE n_tokens >= 1
    )"""


@register(
    "corpus_pack_sequences",
    oracle="""
    WITH sized AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    """
    + _pack_sql("sized"),
)
def corpus_pack_sequences(t):
    """Concat-and-chunk sequence packing: documents in stable doc_id
    order are concatenated into one token stream and chunked into
    fixed-length training sequences of {512} tokens — the packing step
    GPT-style pretraining uses. Output is the doc→sequence span map:
    one row per (document, sequence) overlap with the token count that
    document contributes to that sequence (a doc crossing a boundary
    emits one row per spanned sequence).

    Scale: the global token offset comes from the same DISTRIBUTED
    prefix sum as `corpus_shard_by_tokens` (static doc_id-range buckets,
    per-bucket local cumsum in parallel, one tiny cascaded bucket-offset
    pass) — no single-threaded global window. The explode multiplies
    rows only by the spans a doc actually crosses (≤ n_tokens/seq_len +
    1), and the text column never shuffles.
    """
    d = t.documents
    sized = d.select(
        "doc_id",
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {_RANGE}").alias("bucket"),
    )
    return _pack_rows(_with_begin_off(sized))


# SemDeDup parameters: the shared deterministic-Lloyd quantizer
# (k=10, 2 iterations — same budget as `sim_ann_ivf_trained`, so the
# oracle CTE chain is the proven one) and the cosine near-dup threshold.
_SEM_K, _SEM_ITERS, _SEM_TAU = 10, 2, 0.35

_SEMANTIC_ORACLE = (
    "WITH "
    + kmeans.lloyd_oracle_ctes(k=_SEM_K, iters=_SEM_ITERS)
    + """,
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
  SELECT vec_id, clabel AS cluster_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, clabel DESC) AS rn
    FROM asn_sims) WHERE rn = 1
),"""
    + _band_cand_sql(4, 4)
    + f""",
    same_cl AS (
      SELECT c.va, c.vb FROM cand c
      JOIN assign x ON x.vec_id = c.va
      JOIN assign y ON y.vec_id = c.vb
      WHERE x.cluster_id = y.cluster_id
    ),
    pair_terms AS (
      SELECT s.va, s.vb,
             CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                        * CAST(b.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS p,
             CAST(round(CAST(a.embedding[i.i] AS DOUBLE)
                        * CAST(a.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS aa,
             CAST(round(CAST(b.embedding[i.i] AS DOUBLE)
                        * CAST(b.embedding[i.i] AS DOUBLE) * 1e16) AS BIGINT) AS bb
      FROM same_cl s
      JOIN embeddings a ON s.va = a.vec_id
      JOIN embeddings b ON s.vb = b.vec_id
      CROSS JOIN generate_series(1, 64) AS i(i)
    ),
    dropped AS (
      SELECT DISTINCT vb FROM (
        SELECT va, vb FROM pair_terms GROUP BY va, vb
        HAVING CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(CAST(SUM(aa) AS BIGINT) AS DOUBLE))
                    * sqrt(CAST(CAST(SUM(bb) AS BIGINT) AS DOUBLE))) > {_SEM_TAU}
      )
    )
    SELECT a.vec_id, a.cluster_id
    FROM assign a
    WHERE a.vec_id NOT IN (SELECT vb FROM dropped)
    """
)


def _sem_verify_batches(batches):
    """Arrow-batched exact-cosine verify for `_sem_dropped`: the same
    1e16-scaled int64 arithmetic as `similarity.cosine`, vectorized via
    `npkernel` (bit-identical per tests/test_npkernel.py — half-up
    per-term rounding, exact int64 sums, single-IEEE-op derivations),
    so the τ comparison decides on exactly the values the oracle
    replays. Emits the dropped (higher-id) side only."""
    import numpy as np

    from stream_processor_spark.operators import npkernel as npk

    for b in batches:
        if len(b) == 0:
            continue
        va = npk.stack_embeddings(b["va"])
        vb = npk.stack_embeddings(b["vb"])
        xy = npk.round_half_up((va * vb) * npk.SCALE).sum(axis=-1)
        xx = npk.round_half_up((va * va) * npk.SCALE).sum(axis=-1)
        yy = npk.round_half_up((vb * vb) * npk.SCALE).sum(axis=-1)
        cos = xy.astype(np.float64) / (
            np.sqrt(xx.astype(np.float64)) * np.sqrt(yy.astype(np.float64))
        )
        keep = b.loc[cos > _SEM_TAU, ["vec_id"]]
        if len(keep):
            yield keep


def _sem_dropped(t, cand, assigned):
    """Shared pairwise tail of both semantic-dedup twins: same-cluster
    filter -> exact scaled-int64 cosine over the candidate pairs ->
    the DISTINCT dropped (higher-id) side.

    The pair frame is explicitly repartitioned to cluster parallelism
    first: AQE's size estimate of the slim (id, id) pairs coalesces the
    downstream stage to ~3 partitions, and the embedding joins plus the
    cosine verify then run nearly serial — measured 3.7 s -> 1.2 s at
    sf0.1 from this one repartition. The shuffled rows are two longs
    each; the cost is noise at any scale.

    Round-15 optimizations (results hash-identical, measured at sf0.1):
    - ``cand`` arrives RAW (``distinct=False`` at both call sites): the
      pair-level distinct removed only ~9 % duplicate rows but cost a
      full shuffle of the widest intermediate, and its (id_a, id_b)
      partitioning is not reusable by the id_a join that follows — the
      final dropped-side distinct (τ-survivors only, one slim column)
      absorbs multiplicity identically at every scale.
    - the verify runs as an Arrow-batched `mapInPandas` over ONLY
      (vec_id, va, vb) (`_sem_verify_batches`): same bit-exact
      arithmetic via `npkernel`, vectorized instead of the interpreted
      higher-order-function fold (guide §4.2 — the IVF serve precedent).
    Alternatives falsified on record (OPTIMIZATION_r15.md): pre-joining
    a (cluster, embedding) side frame 2.5× slower at sf0.1; dropping the
    explicit repartition 3× slower (AQE coalesces the verify to ~3
    tasks)."""
    e = t.embeddings
    ca = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("cl_a")
    )
    cb = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("cluster_id").alias("cl_b")
    )
    same = (
        cand.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(F.col("cl_a") == F.col("cl_b"))
        .select("id_a", "id_b")
        .repartition(t._spark.sparkContext.defaultParallelism, "id_a")
    )
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        same.join(ea, "id_a")
        .join(eb, "id_b")
        .select(F.col("id_b").alias("vec_id"), "va", "vb")
        .mapInPandas(_sem_verify_batches, "vec_id long")
        .distinct()
    )


@register("dedup_semantic", oracle=_SEMANTIC_ORACLE)
def dedup_semantic(t):
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with the deterministic fixed-point Lloyd's trainer, then
    within each cluster drop every vector that has a LOWER-id near
    duplicate (exact cosine > τ) — keeping one representative per
    semantic near-dup group. Output: the surviving (vec_id, cluster_id)
    rows.

    Candidate pairs come from the engine's banded hyperplane-LSH
    (`banded_candidate_pairs`, hot-bucket-capped) intersected with
    same-cluster membership, so the pairing cost is bounded at any
    corpus size — the pairwise step never goes quadratic in the cluster
    population. The DuckDB oracle replays the ENTIRE k-means training
    trajectory (``kmeans.lloyd_oracle_ctes``), the argmax-cosine
    cluster assignment, the capped LSH candidate generation, and the
    scaled-int64 exact cosine — the full operator is hash-verified.

    Scale: fit on a sample at 100 TB (the trainer takes any DataFrame);
    assignment is one map-only broadcast-model pass; LSH banding and the
    cluster blocking key both shuffle slim projections only.
    """
    e = t.embeddings
    cent = kmeans.lloyd_fit_np(e, k=_SEM_K, iters=_SEM_ITERS)
    # materialize once: `assigned` appears THREE times in the final plan
    # (both pair sides + the anti-join base) — without the checkpoint the
    # vectorized assignment pass executes three times per action
    assigned = kmeans.assign_cosine(
        e.select("vec_id", "embedding"),
        kmeans.pack_centroids(cent),
        out_col="cluster_id",
    ).select("vec_id", "cluster_id").localCheckpoint()
    cand = sim.banded_candidate_pairs(e, n_bands=4, bits=4, distinct=False)
    dropped = _sem_dropped(t, cand, assigned)
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster_id"
    )


@register("dedup_semantic_indexed", oracle=_SEMANTIC_ORACLE)
def dedup_semantic_indexed(t):
    """`dedup_semantic` served from the persisted SemDeDup layout
    (`operators/semindex.ensure_semantic_index`, built on first use —
    the registered behavior of every *_indexed entry): the Lloyd fit,
    the cluster assignment, and the capped LSH band keys are pure
    corpus functions paid at WRITE time; the request path is one
    co-bucketed band self-join + the exact-cosine check over candidate
    pairs + the anti join. Same deterministic trainer and band
    derivation, hence the same oracle — the layout can only change the
    plan, never answers. Router route: `semantic_dedup`.

    Scale: the ~10 fixed training stages that kept the from-scratch
    twin >2x at sf0.1 disappear from serving; what remains is bounded
    by the capped candidate count and the survivors' anti join."""
    from stream_processor_spark.operators.semindex import (
        candidate_pairs_from_index,
        ensure_semantic_index,
    )

    asn_name, band_name, _cent_name = ensure_semantic_index(
        t._spark, t._dir
    )
    assigned = t._spark.table(asn_name)
    cand = candidate_pairs_from_index(t._spark, band_name, distinct=False)
    dropped = _sem_dropped(t, cand, assigned)
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster_id"
    )


# A shingle is boilerplate when it appears in at least this many docs.
_BOILER_DF = 10


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      FROM toks
    ),
    df AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN df.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) * 10000 // COUNT(*) AS boiler_pct
    FROM sh s JOIN df USING (shingle)
    GROUP BY s.doc_id
    """,
)
def text_boilerplate_ngrams(t):
    """Cross-document boilerplate detection (CCNet-style): a distinct
    3-token shingle is boilerplate when it occurs in ≥ {10} documents
    (headers, license banners, navigation templates). Per document:
    distinct-shingle count, boilerplate-shingle count, and the
    integer-scaled coverage ``boiler_pct = n_boiler * 10000 div
    n_shingles`` — the signal a cleaning pass thresholds on.

    Scale (round 15, re-planned on the Zipf corpus — the string-keyed
    shape measured 17x DuckDB at sf10): shingles shuffle as 8-byte
    xxhash64 keys, never strings — each token is hashed ONCE and each
    3-token shingle hashes the 3-long slice of the pre-hash array (the
    `text_dup_spans_merged_fast` discipline; equality-preserving
    because split tokens contain no separator, collision-safe by the
    same documented argument — the hash never reaches the output).
    The document-frequency aggregate is FILTERED to df >= {10} BEFORE
    the join back, so the join's build side is only the boilerplate
    dictionary (small by definition — boilerplate is the repeated
    minority), not the corpus; per-doc totals come straight from the
    distinct-shingle array length, no join at all. The only
    corpus-sized shuffles left are the slim (gh) df aggregate and the
    (doc_id) count — both map-side combinable.
    """
    d = t.documents
    tk = tx.tokens(F.col("text"))
    # token-hash array materialized in its OWN projection: referenced
    # through a lambda, CollapseProject re-inlines the whole transform
    # into every element_at — an O(len^2) re-evaluation per window that
    # measured 8.5 s for this stage at sf10; split out it is 0.6 s.
    # Variadic xxhash64 over the three scalars (not xxhash64(slice()))
    # avoids one array allocation per window on top of that.
    with_th = d.filter(F.col("text").isNotNull() & (F.size(tk) >= 3)).select(
        "doc_id", F.transform(tk, lambda x: F.xxhash64(x)).alias("th")
    )
    sh3 = F.transform(
        F.sequence(F.lit(1), F.size("th") - 2),
        lambda i: F.xxhash64(
            F.element_at(F.col("th"), i),
            F.element_at(F.col("th"), i + 1),
            F.element_at(F.col("th"), i + 2),
        ),
    )
    base = with_th.select("doc_id", F.array_distinct(sh3).alias("ghs"))
    sh = base.select("doc_id", F.explode("ghs").alias("gh"))
    boiler_dict = (
        sh.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("gh")
    )
    boiler = (
        sh.join(boiler_dict, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_boiler"))
    )
    return (
        base.select(
            "doc_id", F.size("ghs").cast("long").alias("n_shingles")
        )
        .join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0).cast("long")).alias(
                "n_boiler"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.expr("n_boiler * 10000 div n_shingles").alias("boiler_pct"),
        )
    )


@register(
    "text_bpe_pair_counts",
    oracle="""
    WITH wf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        WHERE text IS NOT NULL
      ) WHERE tok <> '' GROUP BY tok
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(tok) - 1),
                    i -> substr(tok, i, 2))) AS pair, freq
      FROM wf WHERE len(tok) >= 2
    ),
    agg AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM pairs GROUP BY pair)
    SELECT pair, cnt FROM (
      SELECT pair, cnt,
             row_number() OVER (ORDER BY cnt DESC, pair) AS rn FROM agg)
    WHERE rn <= 20
    """,
)
def text_bpe_pair_counts(t):
    """One BPE merge step of tokenizer training: corpus-weighted counts
    of adjacent character pairs inside words, top 20 by count (the pair
    a BPE trainer would merge next). Word frequencies aggregate first so
    the character-pair explode runs over the VOCABULARY (distinct words)
    rather than the corpus — the standard word-counts-first BPE
    formulation.

    Scale: one token-count aggregate over the corpus, then all later
    stages are vocabulary-sized. Top-20 is TakeOrderedAndProject with a
    total (cnt DESC, pair) order — deterministic under ties, no global
    sort.
    """
    d = t.documents
    toks = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    wf = toks.groupBy("tok").agg(F.count("*").cast("long").alias("freq"))
    pairs = (
        wf.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.col("tok").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "freq",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(20)
    )


# BPE trainer: number of merge iterations. The symbol-string encoding
# ("_h _e _l _l _o") makes one merge a plain `replace(s || ' ', '_a _b ',
# '_ab ')` — SQL replace scans left-to-right over non-overlapping
# occurrences, which is EXACTLY the greedy merge order Sennrich-style
# BPE applies. Both symbol boundaries are anchored: '_' only occurs at
# symbol starts (so the pattern can only begin where a symbol begins)
# and the appended ' ' sentinel plus the trailing space in the pattern
# pins the SECOND symbol's end (without it, pattern '_t _h' would also
# match inside '_t _he' and over-merge to '_the'). Identical builtin in
# Spark SQL and DuckDB, so the oracle replays the whole trajectory.
_BPE_MERGES = 50

_BPE_WF_SQL = """
    wf AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        WHERE text IS NOT NULL
      ) WHERE regexp_matches(tok, '^[a-z]+$') GROUP BY tok
    ),
    v0 AS MATERIALIZED (
      SELECT tok, rtrim(regexp_replace(tok, '(.)', '_\\1 ', 'g')) AS s, freq
      FROM wf
    )"""


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled-CTE replay of the full BPE training trajectory (the
    `lloyd_oracle_ctes` pattern): per iteration, pair counts over the
    current symbol strings -> deterministic argmax (cnt DESC, pair) ->
    one replace() merge pass. Output: the merge table."""
    ctes = ["WITH " + _BPE_WF_SQL]
    for i in range(1, n_merges + 1):
        ctes.append(
            f""",
    p{i} AS MATERIALIZED (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                      j -> syms[j] || ' ' || syms[j+1])) AS pair, freq
        FROM (SELECT string_split(s, ' ') AS syms, freq FROM v{i-1})
        WHERE len(syms) >= 2
      ) GROUP BY pair
    ),
    m{i} AS MATERIALIZED (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1),
    v{i} AS MATERIALIZED (
      SELECT v.tok,
             rtrim(replace(v.s || ' ', m.pair || ' ',
                           replace(m.pair, ' _', '') || ' ')) AS s,
             v.freq
      FROM v{i-1} v, m{i} m
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS merge_idx, replace(pair, '_', '') AS pair, cnt "
        f"FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return "".join(ctes) + f" SELECT * FROM ({selects}) ORDER BY merge_idx"


@register("text_bpe_train", oracle=_bpe_train_oracle(_BPE_MERGES))
def text_bpe_train(t):
    """Full BPE tokenizer training over the corpus vocabulary: {50}
    greedy merges, each picking the corpus-weighted most frequent
    adjacent symbol pair (deterministic tie-break: count DESC, pair
    ASC) and fusing it everywhere — the complete Sennrich training
    loop, not just the single step `text_bpe_pair_counts` demonstrates.
    Output: the learned merge table (merge_idx, pair, cnt), the
    artifact a tokenizer ships.

    Training runs on word counts, so every per-iteration stage is
    VOCABULARY-sized regardless of corpus size (the corpus is touched
    once, by the token-count aggregate). The driver iterates like the
    Lloyd trainer: per merge, a vocab-sized pair aggregate, a 1-row
    argmax collect, and a whole-stage-codegen replace() pass;
    `localCheckpoint` per iteration caps lineage (the round-7 O(iters²)
    replay lesson). The oracle replays the entire 50-merge trajectory
    as unrolled CTEs — trainer and replay are hash-compared end to end.

    Scale: vocab at 100 TB is still vocabulary-sized (cap with a
    min-frequency filter as real trainers do); 50 sequential
    vocab-sized jobs dominate wall-clock, not data volume.
    """
    merges, _vocab = _bpe_fit(t)
    return t._spark.createDataFrame(
        merges, "merge_idx long, pair string, cnt long"
    ).orderBy("merge_idx")


def _bpe_fit(t):
    """The shared BPE training loop: returns (merge records, final
    vocab frame (tok, s, freq)) — `s` is the marker-joined symbol
    string after all merges, so `size(split(s, ' '))` is the word's
    BPE piece count. Carried `tok` keys the encode join."""
    d = t.documents
    toks = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
    )
    wf = toks.groupBy("tok").agg(F.count("*").cast("long").alias("freq"))
    vocab = wf.select(
        "tok",
        F.rtrim(F.regexp_replace(F.col("tok"), "(.)", "_$1 ")).alias("s"),
        "freq",
    ).localCheckpoint()

    merges: list[tuple[int, str, int]] = []
    for i in range(1, _BPE_MERGES + 1):
        syms = F.split(F.col("s"), " ")
        pairs = (
            vocab.filter(F.size(syms) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda j: F.concat_ws(
                            " ",
                            F.element_at(syms, j),
                            F.element_at(syms, j + 1),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        pair, cnt = pairs[0]["pair"], pairs[0]["cnt"]
        merges.append((i, pair.replace("_", ""), int(cnt)))
        merged = pair.replace(" _", "")
        # Anchor BOTH symbol boundaries: '_' pins the start, the
        # sentinel space pins the end (else '_t _h' matches '_t _he').
        vocab = vocab.select(
            "tok",
            F.expr(f"rtrim(replace(s || ' ', '{pair} ', '{merged} '))").alias(
                "s"
            ),
            "freq",
        ).localCheckpoint()
    return merges, vocab


# ---- batched BPE trainer (round 9) ----------------------------------------
#
# The sequential trainer above is the Sennrich reference: one merge per
# vocab-sized job, so a production 32k-merge vocabulary would take 32k
# driver round-trips. The batched trainer amortizes: per ROUND it
# selects a symbol-disjoint batch of pairs by STRATIFIED DOMINANCE —
# level 1 keeps every pair that outranks (cnt DESC, pair ASC total
# order) all pairs sharing either of its symbols; pairs conflicting
# with a level's winners are removed and dominance re-evaluated, for
# `_BPE_PEELS` levels (this peeling is exactly the rank-greedy maximal
# independent set, stratified so each level is one relational step —
# single-level dominance alone yields only ~4 merges/round because one
# high-rank chain blocks whole neighborhoods). The union of levels,
# capped at the top `_BPE_BATCH_K` by rank, applies as one fused
# replace chain in rank order. Selected pairs are pairwise
# symbol-disjoint, which makes simultaneous application well-defined;
# rank order additionally pins the one remaining interaction (an
# earlier merge in the round can mint new instances of a later pair's
# symbol) to a deterministic result the oracle replays exactly via the
# same fold. Deviates from strict greedy order only within a round —
# the standard parallel batched-BPE trade.
_BPE_BATCH_ROUNDS = 16
_BPE_BATCH_K = 48
_BPE_PEELS = 6


def _bpe_batched_round_ctes(i: int, k: int, peels: int) -> str:
    """One batched round: pair counts -> total-order rank -> stratified
    dominance peels (level winners = rank == min rank of BOTH symbols;
    conflicting pairs drop before the next level) -> top-k cap -> one
    list_reduce fold applying the round's merges in rank order."""
    out = f""",
    p{i} AS MATERIALIZED (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                      j -> syms[j] || ' ' || syms[j+1])) AS pair, freq
        FROM (SELECT string_split(s, ' ') AS syms, freq FROM v{i-1})
        WHERE len(syms) >= 2
      ) GROUP BY pair
    ),
    c{i}_0 AS MATERIALIZED (
      SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rn
      FROM p{i}
    )"""
    for l in range(1, peels + 1):
        out += f""",
    sm{i}_{l} AS (
      SELECT sym, MIN(rn) AS mrn FROM (
        SELECT unnest(string_split(pair, ' ')) AS sym, rn FROM c{i}_{l-1}
      ) GROUP BY sym
    ),
    d{i}_{l} AS MATERIALIZED (
      SELECT c.pair, c.cnt, c.rn FROM c{i}_{l-1} c
      JOIN sm{i}_{l} a ON a.sym = string_split(c.pair, ' ')[1]
                      AND a.mrn = c.rn
      JOIN sm{i}_{l} b ON b.sym = string_split(c.pair, ' ')[2]
                      AND b.mrn = c.rn
    ),
    ds{i}_{l} AS (
      SELECT DISTINCT unnest(string_split(pair, ' ')) AS sym FROM d{i}_{l}
    ),
    c{i}_{l} AS MATERIALIZED (
      SELECT c.* FROM c{i}_{l-1} c
      WHERE string_split(c.pair, ' ')[1] NOT IN (SELECT sym FROM ds{i}_{l})
        AND string_split(c.pair, ' ')[2] NOT IN (SELECT sym FROM ds{i}_{l})
    )"""
    union = " UNION ALL ".join(
        f"SELECT pair, cnt, rn FROM d{i}_{l}" for l in range(1, peels + 1)
    )
    out += f""",
    sel{i} AS MATERIALIZED (
      SELECT pair, cnt, rn FROM ({union}) ORDER BY rn LIMIT {k}
    ),
    v{i} AS MATERIALIZED (
      SELECT v.tok,
             rtrim(list_reduce(list_prepend(v.s || ' ', pats.l),
                   (acc, p) -> replace(acc, p, replace(p, ' _', '')))) AS s,
             v.freq
      FROM v{i-1} v,
           (SELECT coalesce(list(pair || ' ' ORDER BY rn), []) AS l
            FROM sel{i}) pats
    )"""
    return out


def _bpe_batched_oracle(rounds: int, k: int, peels: int) -> str:
    ctes = ["WITH " + _BPE_WF_SQL]
    for i in range(1, rounds + 1):
        ctes.append(_bpe_batched_round_ctes(i, k, peels))
    union = " UNION ALL ".join(
        f"SELECT {i} AS round, pair, cnt, rn FROM sel{i}"
        for i in range(1, rounds + 1)
    )
    return "".join(ctes) + f"""
    SELECT CAST(row_number() OVER (ORDER BY round, rn) AS BIGINT)
             AS merge_idx,
           replace(pair, '_', '') AS pair, cnt
    FROM ({union}) ORDER BY merge_idx"""


#: vocabularies at or below this many distinct words run the batched
#: trainer's merge rounds DRIVER-SIDE (round 15). The vocabulary is the
#: trainer's MODEL — bounded by distinct alphabetic words, not corpus
#: rows — so hydrating it follows the npkernel bounded-model discipline
#: (2M words ~ 150 MB on a 48 GB driver). Above the bound the original
#: relational round loop runs unchanged.
_BPE_DRIVER_VOCAB_MAX = 2_000_000


def _bpe_rounds_driver(rows, rounds, k, peels):
    """The batched trainer's merge rounds in pure Python over the
    hydrated vocabulary — operation-for-operation the relational loop
    below (pair counts summing word freq per ADJACENT OCCURRENCE,
    total-order rank (cnt DESC, pair ASC), `peels` dominance-peeling
    levels, rank-ordered batch cap, innermost-first replace fold with
    the trailing-space convention), so the oracle's unrolled-CTE
    replay hash-matches either path. Eliminates the ~5 Spark jobs per
    round the 16-round loop paid on a vocabulary-sized frame (measured
    ~0.9 s/round of pure scheduling at sf10 — 2.2x DuckDB for a
    31-word model; driver rounds are sub-millisecond there).
    tests/test_round15_ops.py pins driver==relational on a multi-round
    vocabulary."""
    vocab = [(r[0], r[1], int(r[2])) for r in rows]
    merges: list[tuple[int, str, int]] = []
    for _ in range(rounds):
        cnt: dict[str, int] = {}
        for _tok, s, freq in vocab:
            syms = s.split(" ")
            for j in range(len(syms) - 1):
                p = syms[j] + " " + syms[j + 1]
                cnt[p] = cnt.get(p, 0) + freq
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        cand = [(p, c, i + 1) for i, (p, c) in enumerate(ranked)]
        levels: list[tuple[str, int, int]] = []
        for _lvl in range(peels):
            symmin: dict[str, int] = {}
            for p, _c, r in cand:
                for sym in p.split(" "):
                    if sym not in symmin or r < symmin[sym]:
                        symmin[sym] = r
            dom = [
                (p, c, r)
                for p, c, r in cand
                if symmin[p.split(" ")[0]] == r
                and symmin[p.split(" ")[1]] == r
            ]
            if not dom:
                break
            levels.extend(dom)
            domsyms = {sym for p, _c, _r in dom for sym in p.split(" ")}
            cand = [
                (p, c, r)
                for p, c, r in cand
                if p.split(" ")[0] not in domsyms
                and p.split(" ")[1] not in domsyms
            ]
        sel = sorted(levels, key=lambda x: x[2])[:k]
        if not sel:
            break
        new_vocab = []
        for tok, s, freq in vocab:
            s2 = s + " "
            for p, _c, _r in sel:  # rank order == the innermost-first fold
                s2 = s2.replace(p + " ", p.replace(" _", "") + " ")
            new_vocab.append((tok, s2.rstrip(" "), freq))
        vocab = new_vocab
        for p, c, _r in sel:
            merges.append((len(merges) + 1, p.replace("_", ""), int(c)))
    return merges, vocab


def _bpe_fit_batched(t):
    """Batched trainer loop: returns (merge records, final vocab frame).
    Per round: one vocab-sized pair aggregate, a total-order rank
    (single-partition window — the pair table is vocabulary-sized, NOT
    corpus-sized, so this is bounded at any corpus scale), the dominant
    selection, a bounded collect (<= ``k`` rows), and ONE fused
    whole-stage-codegen replace chain; localCheckpoint caps lineage.

    Round count, batch cap and peel depth are the module constants,
    read at call time (tests monkeypatch them). Per-round yield and
    wall-clock flatness at >=5k merges on a wide-vocab corpus are on
    record in docs/BPE_SATURATION_r10.json."""
    rounds, k, peels = _BPE_BATCH_ROUNDS, _BPE_BATCH_K, _BPE_PEELS

    d = t.documents
    toks = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
    )
    wf = toks.groupBy("tok").agg(F.count("*").cast("long").alias("freq"))
    vocab = wf.select(
        "tok",
        F.rtrim(F.regexp_replace(F.col("tok"), "(.)", "_$1 ")).alias("s"),
        "freq",
    ).localCheckpoint()

    # model-sized vocabulary -> run the rounds driver-side (round 15):
    # one corpus aggregate stays distributed, the 16 merge rounds stop
    # paying ~5 scheduler round-trips each on a vocabulary-sized frame
    if vocab.count() <= _BPE_DRIVER_VOCAB_MAX:
        d_merges, d_vocab = _bpe_rounds_driver(vocab.collect(), rounds, k, peels)
        return d_merges, t._spark.createDataFrame(
            d_vocab, "tok string, s string, freq long"
        )

    merges: list[tuple[int, str, int]] = []
    for _ in range(rounds):
        syms = F.split(F.col("s"), " ")
        pairs = (
            vocab.filter(F.size(syms) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda j: F.concat_ws(
                            " ",
                            F.element_at(syms, j),
                            F.element_at(syms, j + 1),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        cand = pairs.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("pair"))
            ),
        ).localCheckpoint()
        levels = []
        for _lvl in range(peels):
            symmin = (
                cand.select(
                    F.explode(F.split(F.col("pair"), " ")).alias("sym"), "rn"
                )
                .groupBy("sym")
                .agg(F.min("rn").alias("mrn"))
            )
            dom = (
                cand.join(
                    symmin.alias("a"),
                    (F.split(F.col("pair"), " ")[0] == F.col("a.sym"))
                    & (F.col("a.mrn") == F.col("rn")),
                )
                .join(
                    symmin.alias("b"),
                    (F.split(F.col("pair"), " ")[1] == F.col("b.sym"))
                    & (F.col("b.mrn") == F.col("rn")),
                )
                .select("pair", "cnt", "rn")
            )
            got = dom.collect()
            if not got:
                break
            levels.extend(got)
            domsyms = {
                sym for row in got for sym in row["pair"].split(" ")
            }
            # winners and every conflicting pair drop before the next peel
            cand = cand.filter(
                ~F.split(F.col("pair"), " ")[0].isin(sorted(domsyms))
                & ~F.split(F.col("pair"), " ")[1].isin(sorted(domsyms))
            ).localCheckpoint()
        sel = sorted(levels, key=lambda r: r["rn"])[:k]
        if not sel:
            break
        expr = "s || ' '"
        for row in sel:  # rank order: innermost replace = lowest rn
            pat, rep = row["pair"] + " ", row["pair"].replace(" _", "") + " "
            expr = f"replace({expr}, '{pat}', '{rep}')"
        vocab = vocab.select(
            "tok", F.expr(f"rtrim({expr})").alias("s"), "freq"
        ).localCheckpoint()
        for row in sel:
            merges.append(
                (len(merges) + 1, row["pair"].replace("_", ""), int(row["cnt"]))
            )
    return merges, vocab


@register(
    "text_bpe_train_batched",
    oracle=_bpe_batched_oracle(_BPE_BATCH_ROUNDS, _BPE_BATCH_K, _BPE_PEELS),
)
def text_bpe_train_batched(t):
    """BPE tokenizer training at production merge counts: 16 rounds x
    up to 48 batched merges selected by stratified dominance peeling
    (= the rank-greedy symbol-disjoint independent set, computed in 6
    relational levels — see the module comment), applied simultaneously
    per round — per-merge wall-clock is ~batch-size times below the
    sequential trainer's, which is what lets the trainer reach a real
    32k vocabulary (round-8 VERDICT #3). `text_bpe_train` remains the
    strict-greedy Sennrich reference; this entry is the scale path.

    Output: the learned merge table (merge_idx, pair, cnt) — cnt is the
    pre-round pair count used for selection. The oracle replays the
    full 16-round trajectory as unrolled CTEs, applying each round's
    selection with the SAME rank-ordered fold (DuckDB list_reduce ==
    the engine's nested replace chain), so trainer and replay are
    hash-compared end to end.

    Scale: the corpus is touched once (token-count aggregate); every
    per-round stage is vocabulary-sized. The total-order rank is a
    single-partition window over the PAIR table (vocabulary-bounded —
    ~200k rows even for web-scale corpora, since it is adjacent symbol
    pairs of distinct words, not corpus text).

    Data bound on the shipped fixtures: documents has 31 distinct
    alphabetic words at every sf, a total merge inventory of ~90 —
    this entry EXHAUSTS it (complete vocabulary collapse, all words one
    symbol). The >=500-merge evidence therefore lives on a 2600-word
    fixture (805 merges, hash-identical DuckDB replay, 6.1x per-merge
    speedup over the sequential trainer — docs/SF10_BPE_r9.json,
    tests/test_llm_pipeline.py::test_bpe_batched_500_merges_oracled)."""
    merges, _vocab = _bpe_fit_batched(t)
    return t._spark.createDataFrame(
        merges, "merge_idx long, pair string, cnt long"
    ).orderBy("merge_idx")


_BPE_ENCODE_TAIL = f""",
enc AS MATERIALIZED (
  SELECT tok, CAST(len(string_split(s, ' ')) AS BIGINT) AS pieces
  FROM v{_BPE_MERGES}
),
dtk AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(e.pieces, 1)) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, tok FROM dtk WHERE tok <> '') d
LEFT JOIN enc e USING (tok)
GROUP BY d.doc_id"""


@register(
    "text_bpe_encode",
    oracle=_bpe_train_oracle(_BPE_MERGES).split(" SELECT * FROM (")[0]
    + _BPE_ENCODE_TAIL,
)
def text_bpe_encode(t):
    """The SERVING half of BPE: apply the 50 learned merges
    (`text_bpe_train`) to the corpus and report each document's token
    count under the trained tokenizer — (doc_id, n_words,
    n_bpe_tokens). Alphabetic words take their trained piece count
    (every alpha word is in the training vocabulary by construction);
    non-alpha tokens count as one unknown piece.

    Plan shape: the trainer's vocab frame already holds every word's
    final symbol string, so encoding is ONE vocabulary-sized piece-count
    projection joined to the corpus token stream (slim (doc_id, tok)
    shuffle) — per-document work never re-runs merges. The oracle
    replays the training CTE chain and the same left join.

    Scale: corpus-sized work is the token explode + one aggregate; the
    vocab join's build side is vocabulary-sized (broadcastable in
    practice; left as a shuffle join so the plan survives 100 TB
    vocabularies)."""
    _merges, vocab = _bpe_fit(t)
    enc = vocab.select(
        "tok", F.size(F.split(F.col("s"), " ")).cast("long").alias("pieces")
    )
    d = t.documents
    dtk = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return (
        dtk.join(enc, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.coalesce(F.col("pieces"), F.lit(1)))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )


# Mixing recipe: per-language token-share targets (percent) and the
# global budget as a fraction of corpus tokens — both scale-free, so the
# operator is meaningful at every sf.
_MIX_W = {"en": 50, "de": 20, "fr": 15, "es": 10, "zh": 5}
_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_W.items())
    + " ELSE 0 END"
)


@register(
    "corpus_token_budget_mix",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM sized),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_incl
      FROM sized
    )
    SELECT doc_id, lang, n_tokens
    FROM cum CROSS JOIN tot
    WHERE cum_incl <= (tot.total // 2) * ({_MIX_CASE}) // 100
    """,
)
def corpus_token_budget_mix(t):
    """Data-mixing recipe execution (Dolma/RedPajama shape): hit a
    global token budget (half the corpus) with a fixed per-language
    token share (en 50 / de 20 / fr 15 / es 10 / zh 5 percent),
    selecting documents deterministically in doc_id order per language
    until that language's target is full. Output: the selected
    (doc_id, lang, n_tokens) manifest a downstream tokenizer consumes.

    Scale: per-language running token counts use the engine's
    distributed prefix sum keyed by (lang, doc_id-range bucket) — the
    per-group generalization of `corpus_shard_by_tokens` — so no
    language's cumsum single-threads. The corpus total is one scalar
    aggregate broadcast into the filter; only the slim
    (doc_id, lang, n_tokens) projection ever shuffles.
    """
    d = t.documents
    sized = d.select(
        "doc_id",
        "lang",
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {_RANGE}").alias("bucket"),
    )
    # Round 15: the cumsum and bucket-total branches share ONE
    # scan→filter→exchange subtree (AQE exchange reuse — same shape as
    # `_with_begin_off`; bucket totals are max(local_cum), exact because
    # n_tokens >= 0 keeps the running sum non-decreasing). The explicit
    # isnotnull filter mirrors the inner join's pushed predicates
    # symmetrically so the subtrees canonicalize identically; it drops
    # nothing the join would keep. `total` deliberately stays an
    # aggregate over the UNFILTERED projection (its own scan): the
    # oracle's corpus total counts null-lang documents too, so deriving
    # it from the joined branches would change the budget on data with
    # null langs. 3 corpus scans → 2.
    shared = sized.filter(
        F.col("lang").isNotNull() & F.col("bucket").isNotNull()
    )
    local = shared.withColumn(
        "local_cum",
        F.sum("n_tokens").over(
            Window.partitionBy("lang", "bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    offsets = (
        local.groupBy("lang", "bucket")
        .agg(F.max("local_cum").alias("bucket_total"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bucket_total").over(
                    Window.partitionBy("lang")
                    .orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("lang", "bucket", "offset")
    )
    total = sized.agg(F.sum("n_tokens").cast("long").alias("total"))
    return (
        local.join(F.broadcast(offsets), ["lang", "bucket"])
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("offset") + F.col("local_cum")
            <= F.expr(f"(total div 2) * ({_MIX_CASE}) div 100")
        )
        .select("doc_id", "lang", "n_tokens")
    )


# DSIR ratio scale: per-token importance = (target_count * 1e6) div
# source_count. The target/source TOTAL ratio is a constant factor across
# documents, so it is deliberately dropped — rankings are unchanged and
# every intermediate stays comfortably inside int64 (target_count * 1e6
# overflows only past ~9e12 occurrences of one token in the target slice).
_DSIR_SCALE = 1_000_000


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE text IS NOT NULL
    ),
    src AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS src_cnt FROM tok GROUP BY token
    ),
    tgt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS tgt_cnt FROM tok
      WHERE lang = 'en' GROUP BY token
    ),
    ratio AS (
      SELECT s.token,
             COALESCE(t.tgt_cnt, 0) * {_DSIR_SCALE} // s.src_cnt AS r
      FROM src s LEFT JOIN tgt t USING (token)
    )
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(r.r) AS BIGINT) AS dsir_score,
           CAST(SUM(r.r) AS BIGINT) // COUNT(*) AS dsir_mean
    FROM tok k JOIN ratio r USING (token)
    GROUP BY k.doc_id
    """,
)
def dsir_importance_weights(t):
    """DSIR-style importance weights: score every document by how much
    its unigram distribution looks like a TARGET slice (here lang='en')
    relative to the full corpus — the data-selection signal of
    Xie et al.'s Data Selection with Importance Resampling, in the
    engine's log-free integer form. Per token occurrence the weight is
    ``(target_count * 1e6) div source_count``; a document's score is the
    sum over its tokens, plus the length-normalized mean.

    Scale: two token-keyed hash aggregates (corpus and target slice)
    build the ratio table, one join back on the token key, one doc_id
    aggregate — all slim projections, no text movement after
    tokenization, and the ratio table is vocabulary-sized (broadcastable
    when the vocabulary is).
    """
    d = t.documents
    tok = (
        d.filter(F.col("text").isNotNull())
        .select(
            "doc_id", "lang", F.explode(tx.tokens(F.col("text"))).alias("token")
        )
    )
    src = tok.groupBy("token").agg(F.count("*").cast("long").alias("src_cnt"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("tgt_cnt"))
    )
    ratio = (
        src.join(tgt, "token", "left")
        .select(
            "token",
            F.expr(
                f"coalesce(tgt_cnt, 0) * {_DSIR_SCALE} div src_cnt"
            ).alias("r"),
        )
    )
    return (
        tok.join(ratio, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("r").cast("long").alias("dsir_score"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dsir_score",
            F.expr("dsir_score div n_tokens").alias("dsir_mean"),
        )
    )


# Quality-gate stopword list: lowercase mirror of operators/text.STOPWORDS.
_GATE_STOPS = ", ".join(f"'{w}'" for w in tx.STOPWORDS)

# Shared gate CTEs / mask expression (also composed into the end-to-end
# curation oracle below).
_GATE_FEAT_SQL = f"""base AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars
      FROM documents WHERE text IS NOT NULL
    ),
    feat AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             n_chars,
             CAST(len(list_filter(tk, x -> list_contains([{_GATE_STOPS}],
                                                         lower(x))))
                  AS BIGINT) AS n_stop,
             CAST(list_max(list_transform(list_distinct(tk),
                    u -> len(list_filter(tk, x -> x = u)))) AS BIGINT) AS top_freq
      FROM base
    )"""

_GATE_MASK_SQL = """(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END)
         + (CASE WHEN n_tokens > 1000 THEN 2 ELSE 0 END)
         + (CASE WHEN n_chars < 2 * n_tokens OR n_chars > 12 * n_tokens
                 THEN 4 ELSE 0 END)
         + (CASE WHEN n_stop * 20 < n_tokens THEN 8 ELSE 0 END)
         + (CASE WHEN top_freq * 5 > n_tokens THEN 16 ELSE 0 END)"""


def _gate_feat(d, with_fp: bool = False):
    """documents → per-doc gate features (doc_id, n_tokens, n_chars,
    n_stop, top_freq) — one all-expression map pass. ``with_fp`` adds
    the md5 text fingerprint so a downstream exact-dedup can ride the
    SAME scan instead of re-reading the text column (round 12,
    corpus_curate_e2e's one-pass restructure).

    Round-15 optimization (values PROVEN identical on the full sf0.1
    corpus before the swap, oracle unchanged):

    - ``n_chars``: ``len(text) - (size(tk) - 1)`` replaces the per-row
      ``regexp_replace`` scan — splitting on the single literal space
      makes ``size(tk) - 1`` exactly the space count, so the two forms
      are equal on every string (consecutive/leading/trailing spaces
      produce empty tokens and keep the identity).
    - ``top_freq``: max run length over the SORTED token array replaces
      the O(distinct·len) ``array_max(transform(array_distinct, ...))``
      count-per-distinct-token scan — equal because sorting groups
      equal tokens contiguously, so the max multiplicity IS the longest
      run. O(len·log len) and no nested re-scan per token; measured
      2.2x on the sf0.1 gate-feature pass (0.77 -> 0.35 s interleaved
      best-of-5)."""
    tk = tx.tokens(F.col("text"))
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        tk.alias("tk"),
        (F.length(F.col("text")) - F.size(tk) + 1)
        .cast("long")
        .alias("n_chars"),
        *([F.md5(F.col("text")).alias("__fp")] if with_fp else []),
    )
    tkc = F.col("tk")
    run = lambda acc, x: F.when(  # noqa: E731 — shared by both fields
        acc["prev"].eqNullSafe(x), acc["run"] + 1
    ).otherwise(F.lit(1).cast("long"))
    top_freq = F.aggregate(
        F.array_sort(tkc),
        F.struct(
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("mx"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            run(acc, x).alias("run"),
            F.greatest(acc["mx"], run(acc, x)).alias("mx"),
            x.alias("prev"),
        ),
        lambda acc: acc["mx"],
    )
    return base.select(
        "doc_id",
        *(["__fp"] if with_fp else []),
        F.size(tkc).cast("long").alias("n_tokens"),
        "n_chars",
        F.size(
            F.filter(tkc, lambda x: F.lower(x).isin(*tx.STOPWORDS))
        )
        .cast("long")
        .alias("n_stop"),
        top_freq.alias("top_freq"),
    )


def _gate_mask_col():
    """The rule bitmap over `_gate_feat` columns (mirror of
    `_GATE_MASK_SQL`)."""
    return (
        F.when(F.col("n_tokens") < 10, 1).otherwise(0)
        + F.when(F.col("n_tokens") > 1000, 2).otherwise(0)
        + F.when(
            (F.col("n_chars") < 2 * F.col("n_tokens"))
            | (F.col("n_chars") > 12 * F.col("n_tokens")),
            4,
        ).otherwise(0)
        + F.when(F.col("n_stop") * 20 < F.col("n_tokens"), 8).otherwise(0)
        + F.when(F.col("top_freq") * 5 > F.col("n_tokens"), 16).otherwise(0)
    )


@register(
    "text_quality_gate",
    oracle=f"""
    WITH {_GATE_FEAT_SQL}
    SELECT doc_id, n_tokens,
           {_GATE_MASK_SQL} AS fail_mask,
           ({_GATE_MASK_SQL}) = 0 AS passed
    FROM feat
    """,
)
def text_quality_gate(t):
    """Auditable multi-rule quality gate (Gopher-rule shape): each
    document gets a BITMAP of failed filter rules instead of a bare
    drop — the form a production cleaning pipeline needs to report WHY
    a document was rejected and to tune each rule independently.

    Rules (bit set = failed): 1 too short (<10 tokens); 2 too long
    (>1000); 4 mean token length outside [2,12] chars (exact integer
    cross-multiplication, no division); 8 stopword ratio < 5%
    (``n_stop * 20 < n_tokens``); 16 single-token dominance > 20%
    (``top_freq * 5 > n_tokens``). ``passed`` = no bits set.

    All arithmetic is integer-exact (hash-safe). The per-doc dominant
    token count is an all-expression fold over the token array
    (quadratic in tokens-per-doc, linear in docs — codegen-resident, no
    shuffle); the whole gate is one embarrassingly parallel map pass.
    """
    feat = _gate_feat(t.documents)
    mask = _gate_mask_col()
    return feat.select(
        "doc_id",
        "n_tokens",
        mask.alias("fail_mask"),
        (mask == 0).alias("passed"),
    )


@register(
    "corpus_curate_e2e",
    oracle=f"""
    WITH {_GATE_FEAT_SQL},
    gated AS (SELECT doc_id FROM feat WHERE {_GATE_MASK_SQL} = 0),
    keep AS (
      SELECT MIN(d.doc_id) AS doc_id
      FROM documents d JOIN gated g ON d.doc_id = g.doc_id
      GROUP BY md5(d.text)
    ),
    sized AS (
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM documents d JOIN keep k ON d.doc_id = k.doc_id
    ),
    {_pack_sql("sized")}
    """,
)
def corpus_curate_e2e(t):
    """The END-TO-END curation pipeline as ONE declarative plan:
    quality-gate the corpus (all 5 rules pass) → exact-dedup the
    survivors (keep the lowest doc_id per md5 text fingerprint — the
    fingerprint, not the text, is what shuffles) → pack the curated
    stream into 512-token training sequences. Output: the final
    doc→sequence manifest a tokenizer fleet consumes.

    This is the composition story: each stage is an independently
    hash-verified operator (`text_quality_gate`, the `dedup_exact`
    family, `corpus_pack_sequences`), and chaining them stays ONE
    Catalyst plan — no materialization between stages. The oracle
    chains the same three definitions as CTEs.

    Round-12 restructure (was 2.8× DuckDB at sf0.1, 1.5× after): the
    old chain scanned the text column THREE times (gate features, md5
    for dedup, tokens for sizing) with two doc_id joins stitching the
    scans back together. The gate pass now also emits the fingerprint
    (`_gate_feat(with_fp=True)`) and its n_tokens is reused for
    sizing, so dedup keeps (min doc_id, its n_tokens) via one
    struct-min aggregate; the text column never shuffles — the only
    wide ops are the (fp → struct-min) dedup on 16-byte keys and the
    packing prefix sum over slim survivor rows. Honest plan note: the
    prefix sum's bucket-offset branch re-evaluates the gate+dedup
    subtree (its column pruning differs, so Catalyst's exchange reuse
    can't dedupe it), so the text scan executes twice, not once —
    still down from three, with both joins gone; deriving offsets from
    the windowed branch was tried and measured NO faster (the reuse
    still doesn't fire and the extra window costs more than the scan).
    Same rows bit-for-bit (min-doc_id-per-fingerprint semantics are
    order-free; n_tokens is the same expression either way).
    """
    feat = _gate_feat(t.documents, with_fp=True)
    gated = feat.filter(_gate_mask_col() == 0).select(
        "doc_id", "__fp", "n_tokens"
    )
    # min_by instead of min(struct): a struct-valued aggregation buffer
    # forces SortAggregate (per-partition sort of the survivor stream in
    # BOTH plan branches); (min, min_by) buffers are fixed-width longs,
    # so the dedup stays a HashAggregate. Identical rows: doc_id is
    # unique within a fingerprint group, so "row of the min doc_id" and
    # "min of (doc_id, n_tokens) structs" pick the same record
    # (round 15; plan 4 SortAggregate+Sort -> 0, interleaved best-of-5
    # 0.66 -> 0.62 s at sf0.1).
    keep = gated.groupBy("__fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    ).select("doc_id", "n_tokens")
    sized = keep.select(
        "doc_id",
        "n_tokens",
        F.expr(f"doc_id div {_RANGE}").alias("bucket"),
    )
    return _pack_rows(_with_begin_off(sized))
