"""Corpus-curation operators, continued (round 7c).

Three curation steps every large-scale pretraining pipeline runs that
were still missing from the registry:

- ``text_substring_dup_spans`` — exact-substring duplication audit in
  the style of Lee et al. 2021 ("Deduplicating Training Data Makes
  Language Models Better"): corpus-wide duplicated 10-token windows and
  the per-document token coverage they imply. The paper builds a
  distributed suffix array; the scalable Spark-native equivalent is the
  positioned-n-gram groupBy used here (the standard approximation —
  every duplicated substring of length >= 10 tokens is a run of
  duplicated 10-grams, so window coverage equals Lee-style span
  coverage for spans >= the window length).
- ``dedup_fuzzy_survivors`` — the END of the fuzzy-dedup funnel: takes
  the engine's deterministic MinHash-LSH verified near-dup pairs and
  applies the standard keep-first policy (drop every document that has
  a verified near-duplicate with a smaller id), reporting per-source
  corpus shrinkage. Complements `dedup_near` (pairs only) and
  `dedup_cc_clusters` (transitive clusters) with the single-pass
  survivor selection production dedup jobs actually apply.
- ``text_unigram_surprisal`` — CCNet-style language-model quality
  proxy: train a unigram LM on the corpus itself and score each
  document by its mean token surprisal. Kept hash-exact by using
  integer-scaled inverse frequency ((N * 1e6) div count) instead of
  floating log-probabilities — order-equivalent to -log p for ranking
  and bucketing, and bit-identical across engines.

Reference parity: the reference (a per-record Node.js stream processor,
src/consumer.js) has no corpus analytics; these extend SURVEY §2.12's
LLM-data mandate. All arithmetic is integer-exact per the engine's
oracle discipline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processor_spark.operators import dedup as dd
from stream_processor_spark.queries.base import register
from stream_processor_spark.queries.llm_data import MINHASH_PAIRS_CTES

# Duplicated-window length in tokens (Lee et al. use 50 BPE tokens; 10
# whitespace tokens keeps the sf0.01 fixture corpus non-degenerate).
_WIN = 10
# Surprisal scale: (N * _SURP_SCALE) div cnt fits int64 while the corpus
# token count N stays below ~9.2e12 (≈ 37 TB of 4-byte tokens); past
# that, rescale or split hi/lo as agg_groupby_wide does.
_SURP_SCALE = 1_000_000


@register(
    "text_substring_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, u.i AS pos,
             (('0x' || substr(md5(array_to_string(tk[u.i:u.i+{_WIN - 1}], ' ')),
                       1, 15))::UBIGINT)::BIGINT AS gh
      FROM toks, unnest(generate_series(1, len(tk) - {_WIN - 1})) AS u(i)
      WHERE len(tk) >= {_WIN}
    ),
    dupg AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + o.off AS tokpos
      FROM (SELECT doc_id, pos FROM g JOIN dupg USING (gh)),
           unnest(generate_series(0, {_WIN - 1})) AS o(off)
    ),
    percov AS (
      SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.tk) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           (COALESCE(p.dup_tokens, 0) * 10000) // len(t.tk) AS dup_bp
    FROM toks t LEFT JOIN percov p USING (doc_id)
    """,
)
def text_substring_dup_spans(t):
    """Exact-substring duplication audit (Lee et al. 2021 style).

    Every positioned 10-token window is hashed (60-bit md5, the
    engine's shingle convention); a window value occurring more than
    once ANYWHERE in the corpus (across or within documents) marks its
    10 token positions as duplicated, and each document reports how
    many of its tokens sit inside at least one duplicated window
    (interval-union coverage) plus the basis-point ratio.

    Scale: one positioned-gram pass (map-side), one groupBy on the
    64-bit gram hash with partial counts (the only corpus-sized
    shuffle — 16 bytes/row, the same cost class as exact dedup), a
    hash-key join back to positions, and a coverage explode bounded by
    10x the DUPLICATED windows only (dup spans, not the corpus). No
    suffix array, no driver state; at 100 TB this is the standard
    MapReduce formulation of substring dedup.
    """
    d = t.documents.filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    g = (
        toks.filter(F.size("tk") >= _WIN)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (_WIN - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, _WIN)),
                )
            ).alias("p0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("long")
            .alias("gh"),
        )
    )
    dupg = g.groupBy("gh").agg(F.count(F.lit(1)).alias("__n")).filter(
        F.col("__n") > 1
    ).select("gh")
    cov = (
        g.join(dupg, "gh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_WIN - 1))
            ).alias("tokpos"),
        )
        .distinct()
    )
    percov = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_tokens"))
    stats = toks.select("doc_id", F.size("tk").alias("n_tokens"))
    return (
        stats.join(percov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias(
                "dup_tokens"
            ),
            F.expr("(coalesce(dup_tokens, 0) * 10000) div n_tokens").alias(
                "dup_bp"
            ),
        )
    )


_DUP_SPANS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, u.i AS pos,
             (('0x' || substr(md5(array_to_string(tk[u.i:u.i+{_WIN - 1}], ' ')),
                       1, 15))::UBIGINT)::BIGINT AS gh
      FROM toks, unnest(generate_series(1, len(tk) - {_WIN - 1})) AS u(i)
      WHERE len(tk) >= {_WIN}
    ),
    dupg AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1
    ),
    dw AS (
      SELECT doc_id, pos FROM g JOIN dupg USING (gh)
    ),
    isl AS (
      SELECT doc_id, pos,
             CAST(SUM(CASE WHEN prev IS NULL
                           OR pos > prev + {_WIN} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dw
      )
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_WIN - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) + {_WIN - 1} - MIN(pos) + 1 AS BIGINT)
             AS span_tokens
    FROM isl GROUP BY doc_id, island
    """


@register("text_dup_spans_merged", oracle=_DUP_SPANS_ORACLE)
def text_dup_spans_merged(t):
    """MAXIMAL duplicated spans (the actual Lee et al. 2021 output):
    `text_substring_dup_spans` marks which 10-token windows are
    duplicated; this merges overlapping-or-adjacent duplicated windows
    into maximal (doc_id, span_start, span_end, span_tokens) intervals
    via gaps-and-islands — the span list a substring-dedup pass would
    actually cut from each document. Token positions are 1-based
    inclusive; two windows merge when their coverage intervals touch
    (next start ≤ previous start + window length).

    All windows share one length, so the running coverage end is
    monotone in the start position and the island break reduces to a
    single lag() comparison — one narrow window pass over DUPLICATED
    window starts only (never the corpus), partitioned by doc_id.

    Scale: identical cost class to the coverage audit — the only
    corpus-sized shuffle is the 16-byte gram-hash aggregate; the
    islands pass is per-document and bounded by duplicated windows.
    This entry keeps the engine's md5 shingle convention (exactly
    replayed by the oracle); `text_dup_spans_merged_fast` is the
    production twin with codegen-resident xxhash64 gram hashing
    (round-8 VERDICT #4: md5+base-conv per gram was the 34.7 s sf10
    cost driver).
    """
    return _dup_spans_body(
        t,
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long"),
    )


def _dup_spans_body(t, gram_hash):
    """Two-pass maximal-span pipeline mirroring the oracle's CTE shape;
    ``gram_hash`` is the Column hashing the `gram` string (hash values
    never reach the output — they exist only for equality grouping, so
    any collision-free-in-practice hash yields identical spans)."""
    d = t.documents.filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    g = (
        toks.filter(F.size("tk") >= _WIN)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (_WIN - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, _WIN)),
                )
            ).alias("p0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            gram_hash.alias("gh"),
        )
    )
    dupg = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("gh")
    )
    dw = g.join(dupg, "gh").select("doc_id", "pos")
    return _spans_from_dup_windows(dw)


def _spans_from_dup_windows(dw):
    """Gaps-and-islands merge of duplicated window starts (doc_id, pos)
    into maximal spans — one narrow window pass over DUPLICATED window
    starts only (never the corpus), partitioned by doc_id."""
    from pyspark.sql.window import Window

    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dw.withColumn("prev", F.lag("pos").over(w_ord))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev").isNull()
                    | (F.col("pos") > F.col("prev") + _WIN),
                    1,
                ).otherwise(0)
            ).over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (_WIN - 1)).cast("long").alias("span_end"),
        (F.max("pos") + (_WIN - 1) - F.min("pos") + 1)
        .cast("long")
        .alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


@register(
    "text_dup_spans_merged_fast",
    # Same oracle as the md5 twin: the gram hash never reaches the
    # output — it exists only to group equal windows — so the md5
    # replay and the xxhash64 engine produce identical span lists
    # unless one of the hashes collides where the other does not
    # (P < 1e-8 at the driver's sf0.01 window count, and any collision
    # could only SHRINK a span by falsely merging two windows).
    # Hashing the token-hash slice instead of the joined gram string is
    # equality-preserving because split(text, ' ') tokens never contain
    # spaces, so token-array equality <=> gram-string equality.
    oracle=_DUP_SPANS_ORACLE,
)
def text_dup_spans_merged_fast(t):
    """Production twin of `text_dup_spans_merged`: identical maximal
    duplicated spans, restructured for throughput (round-8 VERDICT #4;
    md5 twin was 34.7 s first-run at sf10):

    1. No per-window string building or md5: each token is xxhash64'd
       ONCE, and each 10-token window hashes the 10-long slice of that
       pre-hash array — both whole-stage-codegen builtins (~3.7 s saved
       at sf10 vs concat_ws+xxhash64 per window, ~20 s vs md5+conv).
    2. Single corpus pass: the md5 twin mirrors the oracle's two-pass
       shape (dup-gram aggregate, then join the grams back), which
       recomputes scan+split+explode twice because column pruning gives
       the two consumers different child plans (no exchange reuse).
       Here dup detection and member recovery fuse into ONE aggregate:
       collect the (doc_id, pos) members per gram hash and keep groups
       with >1 member. sf10: 26 s -> 9.3 s steady (docs/
       SF10_DUP_SPANS_r9.json).

    Scale: one corpus-sized 16-byte shuffle (gh, doc_id, pos); islands
    pass bounded by duplicated windows. The per-gram member array is
    bounded by that gram's global occurrence count — fine for natural
    corpora, but a boilerplate gram repeated ~1e8+ times would
    materialize its members in one aggregation buffer; round 11
    (VERDICT r10 ask #9) made the documented fallback REAL: set
    `_DUP_SPANS_FUSED = False` (or pass fused=False) and the member
    recovery runs as a COUNT(*) OVER (PARTITION BY gh) window instead —
    WindowExec buffers partitions in a SPILLING row array, so the hot
    gram degrades to disk instead of OOM. Identical results by
    construction (tests/test_round11_ops.py pins them equal on a
    pathological single-gram-duplicated-50k-times corpus). Round 15
    flipped the DEFAULT to the window shape: on the Zipf corpus
    (realistic vocabulary, small duplicated-gram groups) the
    controlled A/B measured window 2.50 s vs fused 3.66 s vs two-pass
    16.5 s at sf10 (docs/DUP_SPANS_AB_r15.json) — the old corpus' huge
    groups were what made collect_list pay; spill safety now comes
    free with the faster shape."""
    return _spans_from_dup_windows(_dup_windows_fast(t))


# Fused member recovery (collect_list per gram hash) vs spill-safe
# window count — see text_dup_spans_merged_fast. Module constant so
# deployments with different corpus shapes flip it once; tests
# monkeypatch it (resolved at CALL time, never at def time).
# Round 15 (docs/DUP_SPANS_AB_r15.json): on the Zipf corpus —
# realistic vocabulary, small duplicated-gram groups — the WINDOW
# shape wins the controlled A/B (2.50 s vs 3.66 s fused vs 16.5 s
# two-pass at sf10, 0.34x DuckDB), and it is also the spill-safe one;
# the fused shape's win was an artifact of the old 31-token corpus'
# huge groups. Window count is therefore the default now.
_DUP_SPANS_FUSED = False


def _window_hashes(t):
    """(doc_id, pos, gh) for every 10-token window: each token
    xxhash64'd once, each window hashing its 10 pre-hash values with
    ONE variadic xxhash64 call. Shared by the fused/unfused
    member-recovery shapes (A/B on record in docs/DUP_SPANS_AB_r15.json).

    Round 15: the former `xxhash64(slice(th, i, 10))` allocated an
    array per window AND — because `th` was referenced through a
    lambda — CollapseProject re-inlined the whole token-hash transform
    into the window expression (O(len^2) re-evaluation per document).
    Materializing `th` in its own projection and hashing the 10
    scalars variadically removed both costs (measured ~6x on the
    shingle stage at sf10; same gh VALUES? no — different hash, same
    EQUALITY classes, which is all the span algebra uses; the oracle
    groups by gram strings either way)."""
    d = t.documents.filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    with_th = toks.filter(F.size("tk") >= _WIN).select(
        "doc_id", F.transform(F.col("tk"), lambda x: F.xxhash64(x)).alias("th")
    )
    return (
        with_th.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("th") - (_WIN - 1)),
                    lambda i: F.xxhash64(
                        *[
                            F.element_at(F.col("th"), i + j)
                            for j in range(_WIN)
                        ]
                    ),
                )
            ).alias("p0", "gh"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh")
    )


def _dup_windows_fast(t, fused: bool | None = None):
    """Duplicated 10-token window starts (doc_id, pos) via the
    single-pass token-prehash/slice-hash pipeline (the fast twin's
    engine; see `text_dup_spans_merged_fast` for the full rationale
    and measured numbers)."""
    g = _window_hashes(t)
    if fused is None:
        fused = _DUP_SPANS_FUSED
    if not fused:
        # spill-safe member recovery: WindowExec buffers each gh
        # partition in ExternalAppendOnlyUnsafeRowArray (spills to disk
        # past spark.sql.windowExec.buffer.spill.threshold), so a
        # boilerplate gram repeated 1e8 times degrades gracefully
        from pyspark.sql.window import Window as W

        return (
            g.withColumn(
                "__n", F.count(F.lit(1)).over(W.partitionBy("gh"))
            )
            .filter(F.col("__n") > 1)
            .select("doc_id", "pos")
        )
    return (
        g.groupBy("gh")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ws"))
        .filter(F.size("ws") > 1)
        .select(F.explode("ws").alias("w"))
        .select("w.doc_id", "w.pos")
    )


@register(
    "text_dup_spans_removed",
    # Reuses the span CTEs (md5 replay — hashes are internal, see the
    # fast twin's oracle note), then rebuilds each document WITHOUT the
    # tokens any maximal duplicated span covers. Spans per doc are
    # disjoint by construction (islands merge anything closer than the
    # window length), so the coverage probe matches at most one span.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, u.i AS pos,
             (('0x' || substr(md5(array_to_string(tk[u.i:u.i+{_WIN - 1}], ' ')),
                       1, 15))::UBIGINT)::BIGINT AS gh
      FROM toks, unnest(generate_series(1, len(tk) - {_WIN - 1})) AS u(i)
      WHERE len(tk) >= {_WIN}
    ),
    dupg AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
    dw AS (SELECT doc_id, pos FROM g JOIN dupg USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             CAST(SUM(CASE WHEN prev IS NULL
                           OR pos > prev + {_WIN} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dw
      )
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_WIN - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    tok AS (
      SELECT doc_id, u.i AS pos, tk[u.i] AS tok
      FROM toks, unnest(generate_series(1, len(tk))) AS u(i)
    ),
    cov AS (
      SELECT t.doc_id, t.pos, t.tok,
             EXISTS (SELECT 1 FROM spans s
                     WHERE s.doc_id = t.doc_id
                       AND t.pos BETWEEN s.s AND s.e) AS dup
      FROM tok t
    )
    SELECT doc_id,
           COALESCE(string_agg(tok, ' ' ORDER BY pos)
                      FILTER (WHERE NOT dup), '') AS clean_text,
           CAST(COUNT(*) FILTER (WHERE NOT dup) AS BIGINT) AS kept_tokens,
           CAST(COUNT(*) FILTER (WHERE dup) AS BIGINT) AS removed_tokens
    FROM cov GROUP BY doc_id
    """,
)
def text_dup_spans_removed(t):
    """The substring-dedup CUT (Lee et al. 2021 §4.2 applied): rebuild
    every document with the tokens covered by ANY maximal duplicated
    span removed — the transform a dedup pass actually performs, where
    `text_dup_spans_merged` only reports the span list. This is the
    aggressive variant (every occurrence of a duplicated span is cut,
    not all-but-one); the conservative keep-first variant is a
    policy-flag away (exclude each span group's min doc_id from the dup
    windows) and shares this plan shape.

    Per doc: (doc_id, clean_text, kept_tokens, removed_tokens) — docs
    with nothing duplicated come through verbatim, fully-duplicated
    docs come through with clean_text = ''.

    Scale: spans come from the fast twin's single-pass pipeline (token
    pre-hash + slice hash, one corpus-sized shuffle); the coverage probe
    is a doc_id-keyed range join where spans per doc are FEW and
    DISJOINT (islands merge anything within the window length), so the
    join fans out at most one span per token; the rebuild is one
    per-doc aggregate (sorted struct collect, bounded by doc length —
    the same bound the tokenizer already carries)."""
    spans = _spans_from_dup_windows(_dup_windows_fast(t)).select(
        "doc_id",
        F.col("span_start").alias("s"),
        F.col("span_end").alias("e"),
    )
    d = t.documents.filter(F.col("text").isNotNull())
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    cov = tok.join(spans, ["doc_id"], "left").withColumn(
        "dup",
        F.col("s").isNotNull()
        & F.col("pos").between(F.col("s"), F.col("e")),
    )
    # a token may match several span rows of its doc (all but at most
    # one with dup=false) — reduce to one row per token with an OR
    per_tok = cov.groupBy("doc_id", "pos", "tok").agg(
        F.max(F.col("dup").cast("int")).alias("dup")
    )
    return per_tok.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("dup") == 0, F.struct("pos", "tok")
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(F.col("dup") == 0, 1).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
        F.sum(F.when(F.col("dup") == 1, 1).otherwise(0))
        .cast("long")
        .alias("removed_tokens"),
    )


@register(
    "dedup_fuzzy_survivors",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTES},
    dropped AS (
      SELECT DISTINCT doc_b AS doc_id FROM pairs
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL
                         THEN COALESCE(len(string_split(d.text, ' ')), 0)
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
    """,
)
def dedup_fuzzy_survivors(t):
    """End-to-end fuzzy-dedup survivor selection (keep-first policy).

    Runs the engine's deterministic MinHash-LSH near-dup detector
    (`operators/dedup.minhash_det_near_dup_pairs`, jaccard >= 0.5,
    hot-bucket capped) and drops every document with a verified
    near-duplicate of smaller id — the standard single-pass keep-first
    rule (as used by e.g. The Stack / BigCode dedup) that needs no
    transitive closure. Reports per-source document counts, survivors,
    and surviving token mass — the corpus-shrinkage summary a curation
    run logs.

    Scale: everything up to the pairs is the capped-LSH path whose cost
    is bounded by construction; the drop set joins back on doc_id (one
    hash join), and the final aggregate is |sources|-sized. Contrast
    `dedup_cc_clusters` (transitive clusters via BSP) when chain
    merging is wanted.
    """
    d = t.documents
    pairs = dd.minhash_det_near_dup_pairs(d)
    dropped = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    n_tokens = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    ).otherwise(0)
    joined = d.select("doc_id", "source", n_tokens.alias("n_tokens")).join(
        dropped, "doc_id", "left"
    )
    keep = F.col("__dropped").isNull()
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
    )


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    nt AS (SELECT doc_id, len(tk) AS n_tokens FROM toks),
    tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
    per AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    vocab AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS cnt FROM per GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n FROM nt),
    ds AS (
      SELECT p.doc_id,
             CAST(SUM(((t.n * {_SURP_SCALE}) // v.cnt) * p.c) AS BIGINT) AS s
      FROM per p JOIN vocab v USING (tok) CROSS JOIN tot t
      GROUP BY p.doc_id
    )
    SELECT n.doc_id, n.n_tokens, ds.s // n.n_tokens AS mean_surprisal
    FROM nt n JOIN ds USING (doc_id)
    """,
)
def text_unigram_surprisal(t):
    """Unigram-LM mean surprisal per document (CCNet-style quality
    filter, self-trained).

    The unigram LM is the corpus's own token frequencies; a token's
    surprisal is the integer-scaled inverse probability
    ``(N * 1e6) div count(tok)`` (monotone in -log p, so bucketing and
    thresholding behave identically to the floating formulation while
    staying bit-exact across engines — the same trick as
    `dsir_importance_weights`). A document's score is the mean over
    its token OCCURRENCES; boilerplate- and stopword-heavy docs score
    low, rare-token (or noisy) docs score high — the two tails CCNet
    trims.

    Scale: per-doc token counts aggregate map-side before the
    vocab-keyed shuffle; the vocab join is token-keyed (the same
    cost class as TF-IDF); the corpus total N is a 1-row broadcast.
    No driver collect, no per-row Python.
    """
    d = t.documents.filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    nt = toks.select("doc_id", F.size("tk").alias("n_tokens"))
    tok = toks.select("doc_id", F.explode("tk").alias("tok"))
    per = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = per.groupBy("tok").agg(F.sum("c").alias("cnt"))
    tot = nt.agg(F.sum("n_tokens").alias("n"))
    ds = (
        per.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(f"((n * {_SURP_SCALE}) div cnt) * c").alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("s"))
    )
    return nt.join(ds, "doc_id").select(
        "doc_id", "n_tokens", F.expr("s div n_tokens").alias("mean_surprisal")
    )


@register(
    "text_bigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    nb AS (
      SELECT doc_id, CAST(len(tk) - 1 AS BIGINT) AS n_bigrams
      FROM toks WHERE len(tk) >= 2
    ),
    big AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(tk) - 1),
                 i -> [tk[i], tk[i+1]])) AS p
        FROM toks WHERE len(tk) >= 2
      )
    ),
    per AS (
      SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
      FROM big GROUP BY doc_id, w1, w2
    ),
    bg AS (
      SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cnt FROM per GROUP BY w1, w2
    ),
    hd AS (
      SELECT w1, CAST(SUM(cnt) AS BIGINT) AS hc FROM bg GROUP BY w1
    ),
    ds AS (
      SELECT p.doc_id,
             CAST(SUM(((h.hc * {_SURP_SCALE}) // b.cnt) * p.c) AS BIGINT) AS s
      FROM per p
      JOIN bg b ON b.w1 = p.w1 AND b.w2 = p.w2
      JOIN hd h ON h.w1 = p.w1
      GROUP BY p.doc_id
    )
    SELECT n.doc_id, n.n_bigrams, ds.s // n.n_bigrams AS mean_surprisal
    FROM nb n JOIN ds USING (doc_id)
    """,
)
def text_bigram_surprisal(t):
    """Bigram-LM mean CONDITIONAL surprisal per document — the next
    step up from `text_unigram_surprisal`'s frequency prior: a bigram
    occurrence (w1, w2) scores the integer-scaled inverse conditional
    probability ``(count(w1 ·) * 1e6) div count(w1 w2)`` (monotone in
    -log p(w2|w1), bit-exact across engines), and a document reports
    the mean over its bigram occurrences. Predictable continuations
    (boilerplate, templated text) score LOW even when their unigrams
    are rare; incoherent token soup scores HIGH even over common words
    — exactly the two failure modes the unigram filter can't separate.
    Documents with fewer than two tokens have no bigram distribution
    and are excluded.

    Scale: per-doc bigram counts aggregate map-side before the
    bigram-keyed shuffle; the model joins are bigram-/head-keyed (the
    collocations cost class); no driver state, no Python.
    """
    d = t.documents.filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("tk")).filter(
        F.size("tk") >= 2
    )
    nb = toks.select(
        "doc_id", (F.size("tk") - 1).cast("long").alias("n_bigrams")
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tk"), i).alias("w1"),
                    F.element_at(F.col("tk"), i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    per = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bg = per.groupBy("w1", "w2").agg(F.sum("c").cast("long").alias("cnt"))
    hd = bg.groupBy("w1").agg(F.sum("cnt").cast("long").alias("hc"))
    ds = (
        per.join(bg, ["w1", "w2"])
        .join(hd, "w1")
        .select(
            "doc_id",
            F.expr(f"((hc * {_SURP_SCALE}) div cnt) * c").alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    return nb.join(ds, "doc_id").select(
        "doc_id",
        "n_bigrams",
        F.expr("s div n_bigrams").alias("mean_surprisal"),
    )


@register(
    "text_collocations_lift",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE text IS NOT NULL
    ),
    big AS (
      SELECT p[1] AS w1, p[2] AS w2 FROM (
        SELECT unnest(list_transform(
                 generate_series(1, len(tk) - 1),
                 i -> [tk[i], tk[i + 1]])) AS p
        FROM docs WHERE len(tk) >= 2
      ) WHERE p[1] <> '' AND p[2] <> ''
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY w1, w2
    ),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(tk) AS tok FROM docs)
      WHERE tok <> '' GROUP BY tok
    )
    SELECT b.w1, b.w2, b.c12,
           CAST(CAST(b.c12 * 1000000000 AS BIGINT)
                // (u1.c * u2.c) AS BIGINT) AS lift_scaled
    FROM c12 b
    JOIN uni u1 ON b.w1 = u1.tok
    JOIN uni u2 ON b.w2 = u2.tok
    WHERE b.c12 >= 5
    ORDER BY lift_scaled DESC, w1, w2 LIMIT 30
    """,
)
def text_collocations_lift(t):
    """Collocation mining by lift (PMI's ratio without the log): for
    each adjacent token bigram seen >= 5 times, score how much more
    often the pair occurs than its unigram frequencies predict —
    ``lift_scaled = c12 * 1e9 div (c1 * c2)``, proportional to
    P(w1,w2)/(P(w1)P(w2)) within a fixed corpus. Integer-exact (the
    engine's log-free convention, like `text_unigram_surprisal`), so
    the ranking hash-matches across engines; top 30 with a total-order
    tie-break.

    Scale: one pass builds bigrams as an array transform (no Python),
    one hash aggregate each for bigram and unigram counts; the two
    dictionary joins shuffle only (token, count) pairs — corpus text
    never shuffles.
    """
    from stream_processor_spark.operators import text as tx

    d = t.documents.filter(F.col("text").isNotNull()).select(
        tx.tokens(F.col("text")).alias("tk")
    )
    pairs = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.struct(
                F.element_at(F.col("tk"), i).alias("w1"),
                F.element_at(F.col("tk"), i + 1).alias("w2"),
            ),
        ),
        lambda s: (s["w1"] != "") & (s["w2"] != ""),
    )
    big = (
        d.filter(F.size("tk") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        d.select(F.explode("tk").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        c12.filter(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "c12",
            F.expr("CAST(c12 * 1000000000 AS BIGINT) div (c1 * c2)").alias(
                "lift_scaled"
            ),
        )
        .orderBy(F.col("lift_scaled").desc(), "w1", "w2")
        .limit(30)
    )


@register(
    "dq_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.l_returnflag, m.med,
             abs(l.l_quantity - m.med) AS adev
      FROM lineitem l JOIN med m USING (l_returnflag)
    ),
    madt AS (
      SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           MIN(d.med) AS med,
           MIN(t.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3.0 * t.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n_rows
    FROM dev d JOIN madt t USING (l_returnflag)
    GROUP BY d.l_returnflag
    """,
)
def dq_anomaly_mad(t):
    """Robust outlier detection: median + MAD (median absolute
    deviation), the z-score's heavy-tail-safe sibling — `ts_anomaly_
    zscore` breaks when the contamination inflates the stddev; MAD
    doesn't. Rows whose |x − median| exceeds 3·MAD are flagged, per
    group. Exact across engines: l_quantity is integral, so the
    interpolated medians and deviations are dyadic (the
    `agg_percentile_exact` argument), and 3·MAD is exact binary
    arithmetic.

    Scale (the value-histogram formulation): l_quantity is
    low-cardinality (~50 distinct values), so the ONLY data-sized work
    is one (group, value) counting aggregate — ONE scan, map-side
    combined. Medians interpolate from the histogram's running counts,
    the deviation histogram derives from the value histogram WITHOUT
    rescanning (|v − med| weighted by count), and the outlier count is
    a filtered sum over histogram rows. Identical results to the
    naive `percentile()` form — which buffers every group's values in
    one aggregation buffer (20M doubles per group at sf10, measured
    3.3× DuckDB) — with per-group state bounded by |distinct values|
    at any row count.
    """
    from pyspark.sql import Window

    l = t.lineitem.select("l_returnflag", "l_quantity")
    hist = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def interp_median(h, grp: str, val: str):
        """quantile_cont(0.5) from a (grp, val, cnt) histogram: rank
        h = (n−1)/2 over the sorted values, x_lo/x_hi at floor/ceil of
        h via running counts, linear interpolation (f ∈ {0, .5} —
        dyadic-exact over integral/half-integral values)."""
        w = Window.partitionBy(grp).orderBy(val).rowsBetween(
            Window.unboundedPreceding, 0
        )
        n = Window.partitionBy(grp)
        e = (
            h.withColumn("cum", F.sum("cnt").over(w))
            .withColumn("n", F.sum("cnt").over(n))
            .withColumn("h", (F.col("n") - 1).cast("double") / 2.0)
            .withColumn("pos_lo", F.floor("h"))
            .withColumn("pos_hi", F.ceil("h"))
        )
        return e.groupBy(grp).agg(
            F.min(F.when(F.col("cum") >= F.col("pos_lo") + 1, F.col(val))).alias(
                "x_lo"
            ),
            F.min(F.when(F.col("cum") >= F.col("pos_hi") + 1, F.col(val))).alias(
                "x_hi"
            ),
            F.min("h").alias("hh"),
            F.min("pos_lo").alias("pl"),
            F.min("n").alias("n"),
        ).select(
            grp,
            (
                F.col("x_lo")
                + (F.col("hh") - F.col("pl")) * (F.col("x_hi") - F.col("x_lo"))
            ).alias("med"),
            "n",
        )

    med = interp_median(hist, "l_returnflag", "l_quantity")
    # deviation histogram DERIVED from the value histogram — no rescan;
    # re-aggregate because v = med±d collide on the same adev
    dev_hist = (
        hist.join(F.broadcast(med.select("l_returnflag", "med")), "l_returnflag")
        .select(
            "l_returnflag",
            F.abs(F.col("l_quantity") - F.col("med")).alias("adev"),
            "cnt",
        )
        .groupBy("l_returnflag", "adev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = interp_median(dev_hist, "l_returnflag", "adev").select(
        "l_returnflag", F.col("med").alias("mad")
    )
    out = (
        dev_hist.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3.0 * F.col("mad"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("n_outliers"),
        )
    )
    return (
        med.join(out, "l_returnflag")
        .select(
            "l_returnflag",
            "med",
            "mad",
            "n_outliers",
            F.col("n").alias("n_rows"),
        )
    )


@register(
    "dq_drift_chi2",
    oracle="""
    WITH ref AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS rc FROM documents
      WHERE doc_id % 2 = 0 GROUP BY source
    ),
    cur AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS oc FROM documents
      WHERE doc_id % 2 = 1 GROUP BY source
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(rc) AS BIGINT) FROM ref) AS nr,
             (SELECT CAST(SUM(oc) AS BIGINT) FROM cur) AS nc
    )
    SELECT r.source,
           r.rc AS ref_count,
           COALESCE(c.oc, 0) AS cur_count,
           CAST(floor(
             (CAST((COALESCE(c.oc, 0) * t.nr - t.nc * r.rc) AS DOUBLE)
              * CAST((COALESCE(c.oc, 0) * t.nr - t.nc * r.rc) AS DOUBLE)
              / CAST(t.nr * t.nc * r.rc AS DOUBLE)) * 1000000.0 + 0.5)
             AS BIGINT) AS chi2_ppm
    FROM ref r LEFT JOIN cur c ON r.source = c.source CROSS JOIN tot t
    """,
)
def dq_drift_chi2(t):
    """Distribution-drift detection between two corpus slices: the
    per-category chi-square contribution of the CURRENT slice's
    `source` mix against the REFERENCE slice's (the monitoring check a
    production ingest runs before accepting a new data drop). The
    statistic is computed over exact integer counts —
    d = o·n_ref − n_cur·ref_c is int64-exact, and the one double
    division is scaled to ppm with the engine's fixed-point rounding —
    so the hash matches across engines (only +,−,×,÷ — no libm).

    Scale: two grouped counts and a category-sized join; nothing
    row-sized shuffles. Categories are the drift unit, so the result
    is dashboard-sized at any corpus size.
    """
    d = t.documents
    ref = (
        d.filter(F.col("doc_id") % 2 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    cur = (
        d.filter(F.col("doc_id") % 2 == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("oc"))
    )
    tot_ref = ref.agg(F.sum("rc").alias("nr"))
    tot_cur = cur.agg(F.sum("oc").alias("nc"))
    joined = (
        ref.join(cur, "source", "left_outer")
        .crossJoin(F.broadcast(tot_ref))
        .crossJoin(F.broadcast(tot_cur))
        .withColumn("oc", F.coalesce(F.col("oc"), F.lit(0)))
    )
    diff = (F.col("oc") * F.col("nr") - F.col("nc") * F.col("rc")).cast("long")
    chi2 = F.floor(
        (
            diff.cast("double")
            * diff.cast("double")
            / (F.col("nr") * F.col("nc") * F.col("rc")).cast("double")
        )
        * 1000000.0
        + 0.5
    ).cast("long")
    return joined.select(
        "source",
        F.col("rc").alias("ref_count"),
        F.col("oc").alias("cur_count"),
        chi2.alias("chi2_ppm"),
    )


@register(
    "corpus_vocab_growth",
    oracle="""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    toks AS (
      SELECT CAST(doc_id * 10 // m AS BIGINT) AS bucket, tok
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
      ) CROSS JOIN mx
      WHERE tok <> ''
    ),
    firsts AS (SELECT tok, MIN(bucket) AS fb FROM toks GROUP BY tok),
    new_per AS (
      SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS new_types
      FROM firsts GROUP BY fb
    ),
    tok_per AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY bucket
    )
    SELECT t.bucket, t.n_tokens,
           COALESCE(n.new_types, 0) AS new_types,
           CAST(SUM(COALESCE(n.new_types, 0))
                OVER (ORDER BY t.bucket) AS BIGINT) AS vocab_cum
    FROM tok_per t LEFT JOIN new_per n ON t.bucket = n.bucket
    """,
)
def corpus_vocab_growth(t):
    """Vocabulary-growth audit (the Heaps-law curve): split the corpus
    into 10 ordered slices and report, per slice, total tokens, NEW
    distinct token types (first occurrence), and the cumulative
    vocabulary — the curve a data-mixing team reads to see whether a
    source still contributes novel vocabulary or has saturated.

    Exact everywhere: slice = ``doc_id*10 div (max_id+1)``, first
    occurrence = MIN(slice) per type, growth = an integer running sum
    over the 10 slice rows.

    Scale: one token explode feeding two hash aggregates (per-type MIN
    and per-slice COUNT) — both shuffle (token, small-int) pairs with
    map-side combine; the cumulative window runs over 10 rows. No
    corpus-sized window, no distinct-over-window.
    """
    from stream_processor_spark.operators import text as tx
    from pyspark.sql import Window

    d = t.documents.filter(F.col("text").isNotNull())
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    toks = (
        d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .crossJoin(F.broadcast(mx))
        .select(F.expr("CAST(doc_id * 10 div m AS BIGINT)").alias("bucket"), "tok")
    )
    firsts = toks.groupBy("tok").agg(F.min("bucket").alias("fb"))
    new_per = firsts.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    tok_per = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_per.join(new_per, "bucket", "left_outer")
        .withColumn("new_types", F.coalesce(F.col("new_types"), F.lit(0)))
        .withColumn("vocab_cum", F.sum("new_types").over(w).cast("long"))
        .select("bucket", "n_tokens", "new_types", "vocab_cum")
    )


def _lcg_px(c: int) -> str:
    """DuckDB expression for fixture pixel channel ``c`` at (y, x) —
    mirrors operators/multimodal.fixture_pixels exactly."""
    return (
        "((1103515245 * ((d.doc_id % 100000) * 4096 + (y.y * d.w + x.x) * 3 "
        f"+ {c}) + 12345) % 2147483648) % 256"
    )


@register(
    "multimodal_ahash_dedup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 5 AS h, 5 + doc_id % 4 AS w
      FROM documents
    ),
    g AS (
      SELECT d.doc_id, d.h, d.w, y.y * d.w + x.x AS i,
             CAST(({_lcg_px(0)}) + ({_lcg_px(1)}) + ({_lcg_px(2)})
                  AS BIGINT) // 3 AS gray
      FROM d, range(0, 8) y(y), range(0, 8) x(x)
      WHERE y.y < d.h AND x.x < d.w
    ),
    m AS (
      SELECT doc_id, CAST(SUM(gray) AS BIGINT) // COUNT(*) AS mean_g
      FROM g GROUP BY doc_id
    ),
    bits AS (
      SELECT g.doc_id, g.h, g.w, g.i,
             CASE WHEN g.gray > m.mean_g THEN 1 ELSE 0 END AS b
      FROM g JOIN m USING (doc_id)
    ),
    hashes AS (
      SELECT doc_id,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(SUM(b) AS BIGINT) AS bits_set,
             CAST(SUM(CASE WHEN i < 32
                  THEN b * (CAST(1 AS BIGINT) << i) ELSE 0 END)
                  AS BIGINT) AS hash_lo,
             CAST(SUM(CASE WHEN i >= 32
                  THEN b * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)
                  AS BIGINT) AS hash_hi
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id, height, width, bits_set, hash_lo, hash_hi,
           CAST(COUNT(*) OVER (
             PARTITION BY height, width, hash_hi, hash_lo
           ) AS BIGINT) AS n_same_hash
    FROM hashes
    """,
)
def multimodal_ahash_dedup(t):
    """Near-duplicate IMAGE detection by perceptual average-hash: every
    document's BMP payload is DECODED FROM REAL BYTES (the
    `multimodal_decode_stats` path), aHashed (grayscale → mean
    threshold → 64-bit fingerprint, all integer-exact —
    operators/multimodal.ahash_image), and grouped by fingerprint to
    count hash-identical images — the first stage of an image dedup
    funnel (a production pass then verifies candidates by hamming
    distance ≤ τ within each bucket). The oracle computes the same
    fingerprints from the fixture's closed-form pixel formula without
    parsing bytes, so the hash match proves decode + hash end to end.

    Scale: one Arrow map pass to fingerprint, one (16-byte key) hash
    shuffle to bucket — image bytes never shuffle; identical shape at
    any corpus size.
    """
    from pyspark.sql import Window

    from stream_processor_spark.operators import multimodal as mm

    hashes = mm.ahash_image(
        t.documents.select("doc_id"),
        payload_from=mm.image_payload_series("bmp"),
    )
    w = Window.partitionBy("height", "width", "hash_hi", "hash_lo")
    return hashes.withColumn(
        "n_same_hash", F.count(F.lit(1)).over(w).cast("long")
    )


@register(
    "corpus_train_val_test_split",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             (('0x' || substr(md5('split1|' || CAST(doc_id AS VARCHAR)), 1, 15))
              ::UBIGINT)::BIGINT % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def corpus_train_val_test_split(t):
    """Deterministic train/val/test assignment (80/10/10): split =
    salted-md5(doc_id) mod 100 banded — the standard leakage-safe
    split rule (membership is a pure function of the id, so re-runs,
    backfills, and different machines agree forever; adding documents
    never reshuffles existing assignments — the failure mode of
    `ORDER BY rand()` splits). The salt pins this split's hash stream
    apart from every other md5 use in the engine.

    Scale: one map pass, no shuffle; pairs with `split_leakage_audit`
    (verifies no near-dup text crosses the boundary) as the gate a
    pretraining pipeline runs before materializing the splits.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("split1"), F.col("doc_id").cast("string")
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
    return t.documents.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "feature_hashing_vectorizer",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
      ) WHERE tok <> ''
    )
    SELECT doc_id,
           (('0x' || substr(md5(tok), 1, 15))::UBIGINT)::BIGINT % 64 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY doc_id, bucket
    """,
)
def feature_hashing_vectorizer(t):
    """The hashing trick (feature hashing): tokens map to a fixed
    64-bucket feature space via salt-free md5 — the constant-memory
    vectorizer batch ML pipelines use when the vocabulary is unbounded
    (no dictionary to build, ship, or keep consistent across runs).
    Emits the sparse (doc, bucket, count) triplets; identical bucket
    arithmetic on both engines (60-bit md5 prefix mod 64).

    Scale: explode → one hash aggregate on (doc_id, int) keys with
    map-side combine; no vocabulary-sized state anywhere — the whole
    point of the trick.
    """
    from stream_processor_spark.operators import text as tx

    toks = (
        t.documents.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long") % 64
    )
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "feature_minmax_scale",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS xc
      FROM lineitem
    ),
    mm AS (
      SELECT l_returnflag,
             CAST(MIN(xc) AS BIGINT) AS mn, CAST(MAX(xc) AS BIGINT) AS mx
      FROM c GROUP BY l_returnflag
    )
    SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag,
           CAST((c.xc - m.mn) * 1000000 // greatest(m.mx - m.mn, 1)
                AS BIGINT) AS scaled_ppm
    FROM c JOIN mm m USING (l_returnflag)
    """,
)
def feature_minmax_scale(t):
    """Per-group min-max feature scaling to ppm — the normalization
    step feature pipelines run before gradient methods, kept exact by
    the engine's fixed-point convention: money → cents int64, then
    ``(x−min)·1e6 div (max−min)``. No float division anywhere, so the
    hash matches across engines at any scale.

    Scale: one grouped min/max (tiny), broadcast back, map-only scale —
    a single fact-table scan plus a |groups|-row join.
    """
    l = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("xc"),
    )
    mm_ = l.groupBy("l_returnflag").agg(
        F.min("xc").alias("mn"), F.max("xc").alias("mx")
    )
    return l.join(F.broadcast(mm_), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.expr(
            "CAST((xc - mn) * 1000000 div greatest(mx - mn, 1L) AS BIGINT)"
        ).alias("scaled_ppm"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders->customer' AS fk,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders' AS fk,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def dq_referential_integrity(t):
    """Foreign-key orphan audit across the star schema — the
    referential-integrity check a warehouse DQ suite runs after every
    load (orders→customer and lineitem→orders here). One row per FK
    edge with total and orphan counts; zero orphans is the contract the
    generators promise, and this query is what proves it stays true
    after any ingest/merge/delete path.

    Scale: each edge is one left join aggregated to a single row —
    broadcast when the parent is dim-sized, shuffled-hash otherwise
    (hinted: Spark's size estimate of the single-column orders
    projection otherwise tempts AQE into a driver-built broadcast of
    ~15M keys — the round-6 q21 trap, measured 9.4 s vs 3.2 s at sf10 —
    and SMJ would add two sorts a unique-key build never needs); output
    is edge-count-sized regardless of table size. The co-bucketed twin
    (`dq_referential_integrity_bucketed`) remains the zero-Exchange
    serve when the layout exists.

    Round 9 implemented and MEASURED the round-8 VERDICT's key-count
    reformulation (pre-aggregate lineitem to (orderkey, cnt) pairs,
    join the count table to orders keys): ~2x SLOWER at sf10 (6.35 vs
    3.18 s warm, docs/SF10_FK_AUDIT_r9.json) — the 60M-row hash
    aggregate costs more than the streaming probe it replaces, because
    map-side combine only collapses ~4:1 and the per-partition 15M-key
    hash tables dominate. The fact-fact left join stays.
    """
    o_c = (
        t.orders.select("o_custkey")
        .join(
            F.broadcast(t.customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_outer",
        )
        .agg(
            F.lit("orders->customer").alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_orphans"),
        )
        .select("fk", "n_rows", "n_orphans")
    )
    l_o = (
        t.lineitem.select("l_orderkey")
        .join(
            t.orders.select("o_orderkey").hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_outer",
        )
        .agg(
            F.lit("lineitem->orders").alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_orphans"),
        )
        .select("fk", "n_rows", "n_orphans")
    )
    return o_c.unionByName(l_o)


@register(
    "dq_referential_integrity_bucketed",
    # same oracle as the scratch twin: the layout changes the plan only
    oracle="""
    SELECT 'orders->customer' AS fk,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders' AS fk,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def dq_referential_integrity_bucketed(t):
    """`dq_referential_integrity` with the fact-fact edge served from
    the persisted co-bucketed (lineitem, orders) layout: the 60M⋈15M
    lineitem→orders probe is the one FK edge broadcast can't save, and
    on the bucketed pair it plans with ZERO Exchange (bucket i zips
    bucket i) — the sf10 rehearsal measured the shuffle-era twin at
    ~12× DuckDB, dominated entirely by that edge. Same oracle as the
    scratch twin: the layout can only change the plan, never answers.
    """
    from stream_processor_spark.operators.storage import bucketed_pair

    li, o = bucketed_pair(t._spark, t._dir)
    o_c = (
        t.orders.select("o_custkey")
        .join(
            F.broadcast(t.customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_outer",
        )
        .agg(
            F.lit("orders->customer").alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_orphans"),
        )
        .select("fk", "n_rows", "n_orphans")
    )
    # hint("merge"): Spark's size estimate of the single-column orders
    # projection tempts it into broadcasting ~15M keys (the round-6 q21
    # AQE trap — a driver-built 100MB+ hashed relation); the co-bucketed
    # merge join is exchange-free on both sides
    l_o = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_outer",
        )
        .agg(
            F.lit("lineitem->orders").alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_orphans"),
        )
        .select("fk", "n_rows", "n_orphans")
    )
    return o_c.unionByName(l_o)


@register(
    "feature_robust_scale",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS xc
      FROM lineitem
    ),
    st AS (
      SELECT l_returnflag,
             quantile_cont(xc, 0.5) AS med,
             quantile_cont(xc, 0.75) - quantile_cont(xc, 0.25) AS iqr
      FROM c GROUP BY l_returnflag
    )
    SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag,
           round((c.xc - s.med) / greatest(s.iqr, 1.0), 6) AS robust
    FROM c JOIN st s USING (l_returnflag)
    """,
)
def feature_robust_scale(t):
    """Per-group ROBUST feature scaling ((x − median) / IQR) — the
    outlier-resistant companion to `feature_minmax_scale` (a single
    extreme value shifts min/max arbitrarily but moves median/IQR not
    at all), which is why it's the default scaler for long-tailed
    training features. Money is first fixed to cents int64 (the engine
    convention), the quantiles are the exact continuous-interpolation
    definition Spark `percentile` and DuckDB `quantile_cont` share
    (the `agg_percentile_exact` parity argument: dyadic q over integer
    values interpolates exactly), and the one float division is rounded
    at the output boundary only.

    Scale: one grouped exact-quantile aggregate (per-group value
    buffers — same caveat as `agg_percentile_exact`: prefer
    approx_percentile when groups are few and huge), broadcast back,
    map-only scale."""
    l = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("xc"),
    )
    st = l.groupBy("l_returnflag").agg(
        F.percentile("xc", 0.5).alias("med"),
        (F.percentile("xc", 0.75) - F.percentile("xc", 0.25)).alias("iqr"),
    )
    return l.join(F.broadcast(st), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(
            (F.col("xc") - F.col("med"))
            / F.greatest(F.col("iqr"), F.lit(1.0)),
            6,
        ).alias("robust"),
    )


@register(
    "sample_balanced_classes",
    oracle="""
    WITH cnt AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    k AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM cnt),
    r AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                         ::UBIGINT)::BIGINT, vec_id
             ) AS rn
      FROM embeddings
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label
    FROM r CROSS JOIN k WHERE rn <= k.k
    """,
)
def sample_balanced_classes(t):
    """Class-balanced downsampling: keep exactly min-class-count rows
    per label, chosen by the deterministic md5-order shuffle (the
    engine's salted-hash sampling convention — pseudo-random but
    replayable in any engine, no RNG seed). The classifier-training
    counterpart of `sample_stratified` (which PRESERVES proportions;
    this EQUALIZES them).

    Scale: one tiny per-class count aggregate + a broadcast scalar +
    one row_number window partitioned by label. The window shuffles the
    id/label pairs once; a pathologically dominant class serializes its
    own partition — at that skew swap the exact head-of-order cut for
    `df.sampleBy` fractions (approximate counts, no window)."""
    from pyspark.sql.window import Window

    e = t.embeddings
    k = e.groupBy("label").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").cast("long").alias("k")
    )
    w = Window.partitionBy("label").orderBy(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        "vec_id",
    )
    r = (
        e.select("vec_id", "label")
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        r.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .select("vec_id", F.col("label").cast("long").alias("label"))
    )


@register(
    "dq_dup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS dup_docs,
           CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
    """,
)
def dq_dup_rate_by_source(t):
    """Per-source exact-duplicate profile: how much of each ingest
    source is verbatim-repeated text — the triage number that decides
    WHERE to point the dedup pass (a crawler with 40% dup_ppm gets
    fixed at the source; a clean corpus skips the pass entirely).
    Exact-integer output (counts + ppm integer division).

    Scale: text never shuffles — the distinct runs on the md5
    fingerprint (the `dedup_exact` convention), one grouped aggregate
    keyed by (source, fingerprint) then by source."""
    d = t.documents.filter(F.col("text").isNotNull())
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("dup_docs"),
        F.expr(
            "CAST((count(1) - count(DISTINCT md5(text))) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("dup_ppm"),
    )


@register(
    "agg_benford_profile",
    oracle="""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS xc
      FROM orders
    ),
    dig AS (
      SELECT CAST(substr(CAST(xc AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents WHERE xc > 0
    )
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
             AS obs_ppm,
           CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
             AS benford_ppm
    FROM dig GROUP BY digit
    """,
)
def agg_benford_profile(t):
    """First-digit (Benford) profile of order totals — the classic DQ
    screen for fabricated or truncated numeric columns: natural
    multi-scale amounts follow P(d) = log10(1 + 1/d); a synthetic or
    clipped column shows up as a flat or spiked digit histogram next to
    the printed Benford expectation. (TPC-H totals are uniform-ish, so
    THIS corpus visibly deviates — which is exactly what the gauge is
    for.) Exact-integer observed ppm (integer division against the
    window total); the expected ppm is the same constant-folded
    round(log10·1e6) on both engines.

    Scale: money fixed to cents int64 first (engine convention), one
    9-group aggregate — a map-side-combined scan, nothing else."""
    cents = t.orders.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("xc")
    ).filter(F.col("xc") > 0)
    dig = cents.select(
        F.substring(F.col("xc").cast("string"), 1, 1).cast("long").alias("digit")
    )
    from pyspark.sql.window import Window

    counts = dig.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return counts.select(
        "digit",
        "n",
        F.expr(
            "CAST(n * 1000000 div SUM(n) OVER () AS BIGINT)"
        ).alias("obs_ppm"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")) * 1000000)
        .cast("long")
        .alias("benford_ppm"),
    )
