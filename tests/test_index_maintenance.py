"""Incremental maintenance of the round-6 persisted indexes.

Contracts under test:
- postings: append(B) onto an index built from A ≡ build from A∪B —
  postings rows are per-document and stats/df recompute from the full
  table, so the query results must match EXACTLY.
- IVF: append(B) assigns new vectors against the FROZEN model (the
  layout's contract — queries keep probing the same lists); the result
  equals a driver-side replay of assign+probe+rerank over A∪B with
  model(A).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from tests.conftest import SF_SMALL


def _docs_dirs(tmp_path, spark):
    """Two sf-dirs: A (doc_id < 300 of the sf0.001 documents) and FULL."""
    full_dir, a_dir = tmp_path / "full", tmp_path / "a"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "documents.parquet")
    shutil.copy(src, full_dir / "documents.parquet")
    docs = spark.read.parquet(src)
    docs.filter("doc_id < 300").write.mode("overwrite").parquet(
        str(a_dir / "documents.parquet")
    )
    return str(a_dir), str(full_dir)


@pytest.mark.slow
def test_postings_append_equals_full_rebuild(spark, tmp_path):
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.postings import (
        append_postings,
        bm25_from_postings,
        ensure_postings,
    )

    a_dir, full_dir = _docs_dirs(tmp_path, spark)
    qtokens = ["the", "data", "pipeline"]

    post_a, stats_a = ensure_postings(spark, a_dir, num_buckets=8)
    new_docs = spark.read.parquet(
        os.path.join(full_dir, "documents.parquet")
    ).filter("doc_id >= 300")
    append_postings(spark, post_a, stats_a, new_docs)

    post_f, stats_f = ensure_postings(spark, full_dir, num_buckets=8)

    got = sorted(
        tuple(r)
        for r in bm25_from_postings(spark, post_a, stats_a, qtokens).collect()
    )
    want = sorted(
        tuple(r)
        for r in bm25_from_postings(spark, post_f, stats_f, qtokens).collect()
    )
    assert got == want and len(got) > 0

    # bucket pruning stays sound after the append: rows for one token
    # are still found via the pruned scan (file-per-bucket may be >1 now)
    one = bm25_from_postings(spark, post_a, stats_a, ["the"])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount: 1 out of 8" in plan


def test_streaming_postings_updates_and_replay_healing(spark, tmp_path):
    """Streaming index maintenance end-to-end: documents arrive as a
    file stream, each micro-batch appends its postings; a REPLAYED
    append (the foreachBatch retry case — identical rows re-inserted)
    must not change any score when serving with dedup_replays=True.
    Final state == a batch-built index over the full corpus."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.postings import (
        append_postings,
        bm25_from_postings,
        ensure_postings,
        stream_postings_updates,
    )

    a_dir, full_dir = _docs_dirs(tmp_path, spark)
    qtokens = ["the", "data", "pipeline"]
    post, stats = ensure_postings(spark, a_dir, num_buckets=8)

    # stream the remaining docs in: one file == one micro-batch
    stream_src = tmp_path / "incoming"
    docs = spark.read.parquet(os.path.join(full_dir, "documents.parquet"))
    docs.filter("doc_id >= 300 AND doc_id < 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    docs.filter("doc_id >= 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    doc_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = stream_postings_updates(
        spark, doc_stream, post, stats, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    # simulate a foreachBatch retry: re-append one slice verbatim
    append_postings(
        spark, post, stats, docs.filter("doc_id >= 400")
    )

    post_f, stats_f = ensure_postings(spark, full_dir, num_buckets=8)
    got = sorted(
        tuple(r)
        for r in bm25_from_postings(
            spark, post, stats, qtokens, dedup_replays=True
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in bm25_from_postings(spark, post_f, stats_f, qtokens).collect()
    )
    assert got == want and len(got) > 0


def test_ivf_append_assigns_against_frozen_model(spark, tmp_path):
    from stream_processor_spark.operators import npkernel as npk
    from stream_processor_spark.operators.annindex import (
        append_ivf_index,
        ensure_ivf_index,
        ivf_query_indexed,
    )

    # A = vec_id < 300; B = rest. Model comes from A only.
    full_dir, a_dir = tmp_path / "efull", tmp_path / "ea"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    shutil.copy(src, full_dir / "embeddings.parquet")

    lists_name, cent_name = ensure_ivf_index(spark, str(a_dir))
    new_vecs = spark.read.parquet(src).filter("vec_id >= 300")
    append_ivf_index(spark, lists_name, cent_name, new_vecs)

    qvec = np.asarray(
        emb.filter("vec_id = 0").head()[1], dtype=np.float64
    )
    got = [
        (r.vec_id, round(r.cosine, 12))
        for r in ivf_query_indexed(
            spark, lists_name, cent_name, qvec, nprobe=2, topk=10
        ).collect()
    ]

    # expected: driver-side replay over A∪B with model(A)
    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    rows = emb.select("vec_id", "embedding").collect()
    E = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    ids = np.asarray([r[0] for r in rows])
    assigned, sxx = npk.assign_labels(E, labels, C, scc)
    sqq = npk.self_norms_scaled(qvec[None, :])[0]
    qp = npk.dot_scaled(qvec[None, :], C)[0]
    qcos = qp.astype("float64") / (
        np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq))
    )
    order = np.lexsort((-labels, -qcos))
    probe = set(int(x) for x in labels[order[:2]])
    keep = np.isin(assigned, list(probe))
    p = npk.dot_scaled(E[keep], qvec)
    cos = p.astype("float64") / (
        np.sqrt(sxx[keep].astype("float64")) * np.sqrt(float(sqq))
    )
    pairs = sorted(
        zip(-cos, ids[keep])
    )[:10]
    want = [(int(v), round(-c, 12)) for c, v in pairs]
    assert got == want

def test_append_postings_stats_incremental_and_replay_safe(spark, tmp_path):
    """Round-7 verdict item 1: the per-append stats refresh must be
    O(batch), not O(corpus) —
    - the append path never READS the postings table (its only table
      read is the tiny per-batch stats table);
    - each distinct batch appends exactly one stats row; a replayed
      batch (identical content — the foreachBatch retry) appends none;
    - the folded (n, avgdl) equals the from-scratch distinct-(doc,len)
      aggregate for disjoint batches, and `repair_stats` restores that
      exactness after an out-of-contract overlapping ingest."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.postings import (
        append_postings,
        ensure_postings,
        read_stats,
        repair_stats,
    )

    a_dir, full_dir = _docs_dirs(tmp_path, spark)
    post, stats = ensure_postings(spark, a_dir, num_buckets=8)
    assert spark.table(stats).count() == 1  # __base__ row

    docs = spark.read.parquet(os.path.join(full_dir, "documents.parquet"))
    batch = docs.filter("doc_id >= 300 AND doc_id < 400")

    # record every table READ the append path performs
    accessed: list[str] = []
    orig_table = spark.table

    def spying_table(name):
        accessed.append(name)
        return orig_table(name)

    spark.table = spying_table
    try:
        assert append_postings(spark, post, stats, batch) is True
    finally:
        spark.table = orig_table
    assert post not in accessed, (
        "append_postings read the postings TABLE — the stats fold must "
        "aggregate only the batch frame"
    )
    assert spark.table(stats).count() == 2

    # replay: identical content → same fingerprint → no stats row
    assert append_postings(spark, post, stats, batch) is False
    assert spark.table(stats).count() == 2

    def exact(table_name):
        r = (
            spark.table(table_name)
            .select("doc_id", "len")
            .distinct()
            .agg(
                F.count(F.lit(1)).cast("double").alias("n"),
                (
                    F.sum("len").cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("avgdl"),
            )
            .collect()[0]
        )
        return (r["n"], r["avgdl"])

    # disjoint-batch fold == from-scratch distinct aggregate, exactly
    # (the replayed postings rows don't perturb distinct (doc, len))
    got = read_stats(spark, stats).collect()[0]
    assert (got["n"], got["avgdl"]) == exact(post)

    # out-of-contract: an OVERLAPPING batch (docs 350-450) double-counts
    # docs 350-399 in the incremental fold ...
    append_postings(
        spark, post, stats, docs.filter("doc_id >= 350 AND doc_id < 450")
    )
    drifted = read_stats(spark, stats).collect()[0]
    assert drifted["n"] > exact(post)[0]
    # ... and repair_stats (the explicit full-recompute path) heals it
    repair_stats(spark, post, stats)
    healed = read_stats(spark, stats).collect()[0]
    assert (healed["n"], healed["avgdl"]) == exact(post)
    assert spark.table(stats).count() == 1  # single repaired base row


def test_pq_append_encodes_against_frozen_codebooks(spark, tmp_path):
    """Round-7: append(B) onto a PQ index built from A must equal a
    rebuild over A∪B with codebooks(A) — the frozen-model contract
    (`append_pq_codes` encodes new vectors with the stored books)."""
    import numpy as np

    from stream_processor_spark.operators import npkernel as npk
    from stream_processor_spark.operators.annindex import (
        append_pq_codes,
        ensure_pq_index,
        pq_query_indexed,
    )

    full_dir, a_dir = tmp_path / "pfull", tmp_path / "pa"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    shutil.copy(src, full_dir / "embeddings.parquet")

    codes_name, books_name = ensure_pq_index(spark, str(a_dir))
    append_pq_codes(
        spark, codes_name, books_name, emb.filter("vec_id >= 300")
    )

    qvec = np.asarray(emb.filter("vec_id = 0").head()[1], dtype=np.float64)
    got = [
        (r.vec_id, round(r.cosine, 12))
        for r in pq_query_indexed(
            spark, codes_name, books_name, emb, qvec
        ).collect()
    ]

    # expected: driver-side replay over A∪B with books(A)
    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]
    rows = emb.select("vec_id", "embedding").collect()
    E = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    ids = np.asarray([r[0] for r in rows])
    s = npk.pq_adc_scores(E, books, sub_dim, qvec)
    short = sorted(zip(-s, ids))[:50]
    keep = np.isin(ids, [v for _, v in short])
    sqq = npk.self_norms_scaled(qvec[None, :])[0]
    p = npk.dot_scaled(E[keep], qvec)
    sxx = npk.self_norms_scaled(E[keep])
    cos = p.astype("float64") / (
        np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqq))
    )
    want = [
        (int(v), round(-c, 12)) for c, v in sorted(zip(-cos, ids[keep]))[:10]
    ]
    assert got == want


def test_compact_postings_restores_one_file_per_bucket(spark, tmp_path):
    """Round-7: after appends (and a replayed append), compaction must
    (a) bring the table back to one sorted file per bucket, (b) heal
    the duplicate rows permanently so serving needs NO per-query dedup,
    and (c) preserve bucket pruning and exact scores."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.postings import (
        append_postings,
        bm25_from_postings,
        compact_postings,
        ensure_postings,
    )

    a_dir, full_dir = _docs_dirs(tmp_path, spark)
    qtokens = ["the", "data", "pipeline"]
    post, stats = ensure_postings(spark, a_dir, num_buckets=8)
    docs = spark.read.parquet(os.path.join(full_dir, "documents.parquet"))
    batch = docs.filter("doc_id >= 300")
    append_postings(spark, post, stats, batch)
    append_postings(spark, post, stats, batch)  # replay: duplicate rows

    def file_count():
        loc = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(loc + "/" + post)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return sum(
            1
            for st in fs.listStatus(jpath)
            if st.getPath().getName().endswith(".parquet")
        )

    assert file_count() > 8  # appends fragmented the buckets
    dup = spark.table(post).groupBy("tok", "doc_id").count().filter(
        F.col("count") > 1
    )
    assert dup.count() > 0

    want = sorted(
        tuple(r)
        for r in bm25_from_postings(
            spark, post, stats, qtokens, dedup_replays=True
        ).collect()
    )
    assert compact_postings(spark, post) == 8
    assert file_count() == 8  # one file per bucket again
    assert (
        spark.table(post)
        .groupBy("tok", "doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # no per-query dedup needed anymore; scores unchanged
    got = sorted(
        tuple(r)
        for r in bm25_from_postings(spark, post, stats, qtokens).collect()
    )
    assert got == want and len(got) > 0
    plan = (
        bm25_from_postings(spark, post, stats, ["the"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount: 1 out of 8" in plan


def test_ivfpq_append_assigns_and_encodes_against_frozen_models(spark, tmp_path):
    """Combined-layout maintenance (round 7): append(B) onto an IVF+PQ
    index built from A must assign AND encode the new vectors with the
    FROZEN coarse model and codebooks; the served result equals a
    driver-side replay of assign+encode+probe+ADC-shortlist+rerank over
    A∪B with models(A)."""
    from stream_processor_spark.operators import npkernel as npk
    from stream_processor_spark.operators.annindex import (
        append_ivfpq_index,
        ensure_ivfpq_index,
        ivfpq_query_indexed,
    )

    full_dir, a_dir = tmp_path / "pqfull", tmp_path / "pqa"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    shutil.copy(src, full_dir / "embeddings.parquet")

    codes_name, cent_name, books_name = ensure_ivfpq_index(spark, str(a_dir))
    new_vecs = spark.read.parquet(src).filter("vec_id >= 300")
    append_ivfpq_index(
        spark, codes_name, cent_name, books_name, new_vecs, sub_dim=8
    )

    qvec = np.asarray(emb.filter("vec_id = 0").head()[1], dtype=np.float64)
    got = [
        (r.vec_id, round(r.cosine, 12))
        for r in ivfpq_query_indexed(
            spark,
            codes_name,
            cent_name,
            books_name,
            emb,
            qvec,
            nprobe=3,
            shortlist=50,
            topk=10,
        ).collect()
    ]

    # driver-side replay over A∪B with models(A)
    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    books = npk.hydrate_codebooks(spark.table(books_name))
    rows = emb.select("vec_id", "embedding").collect()
    E = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    ids = np.asarray([r[0] for r in rows])
    assigned, sxx = npk.assign_labels(E, labels, C, scc)
    # round-8 residual encoding: codes quantize v - c_list, and the
    # serve score adds the per-list base term <q, c_list>
    R = E - C[np.searchsorted(labels, assigned)]
    codes = npk.pq_code_cids(R, books, 8)
    sqq = npk.self_norms_scaled(qvec[None, :])[0]
    qp = npk.dot_scaled(qvec[None, :], C)[0]
    qcos = qp.astype("float64") / (
        np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq))
    )
    order = np.lexsort((-labels, -qcos))
    probe = set(int(x) for x in labels[order[:3]])
    keep = np.isin(assigned, list(probe))
    tables = npk.pq_adc_tables(books, 8, qvec)
    base_by_label = {int(l): int(b) for l, b in zip(labels, qp)}
    s = np.array(
        [
            base_by_label[int(assigned[i])]
            + sum(tables[m][int(codes[i, m])] for m in range(codes.shape[1]))
            for i in range(len(ids))
        ],
        dtype=np.int64,
    )
    cand = sorted(zip(-s[keep], ids[keep]))[:50]
    short = np.asarray([v for _, v in cand])
    mask = np.isin(ids, short)
    p = npk.dot_scaled(E[mask], qvec)
    cos = p.astype("float64") / (
        np.sqrt(sxx[mask].astype("float64")) * np.sqrt(float(sqq))
    )
    pairs = sorted(zip(-cos, ids[mask]))[:10]
    want = [(int(v), round(-c, 12)) for c, v in pairs]
    assert got == want


def test_minhash_append_equals_full_rebuild(spark, tmp_path):
    """Round-9: append(B) onto a MinHash layout built from A must equal
    the layout built from A∪B EXACTLY — every persisted row is a pure
    per-document function (pinned hashes), no corpus model or cap in
    the layout. A replayed append (byte-identical rows) must not change
    served pairs with dedup_replays=True."""
    from stream_processor_spark.operators.dedup import (
        append_minhash_index,
        ensure_minhash_index,
        minhash_pairs_from_index,
    )

    a_dir, full_dir = _docs_dirs(tmp_path, spark)
    bands_a, hset_a = ensure_minhash_index(spark, a_dir)
    new_docs = spark.read.parquet(
        os.path.join(full_dir, "documents.parquet")
    ).filter("doc_id >= 300")
    append_minhash_index(spark, bands_a, hset_a, new_docs)

    bands_f, hset_f = ensure_minhash_index(spark, full_dir)

    def pairs(b, h):
        return sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in minhash_pairs_from_index(spark, b, h).collect()
        )

    got, want = pairs(bands_a, hset_a), pairs(bands_f, hset_f)
    assert got == want and len(want) > 0

    # foreachBatch retry: identical rows re-inserted, serve heals them
    append_minhash_index(spark, bands_a, hset_a, new_docs)
    assert pairs(bands_a, hset_a) == want


def test_semantic_append_assigns_against_frozen_model(spark, tmp_path):
    """Round-9: append(B) onto the semantic layout assigns new vectors
    against the FROZEN persisted Lloyd model (no retraining) and
    maintains the band cap's smallest-vec_id semantics — final tables
    equal a from-scratch derivation over A∪B under model(A)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators import similarity as sim
    from stream_processor_spark.operators.semindex import (
        append_semantic_index,
        ensure_semantic_index,
    )

    full_dir, a_dir = tmp_path / "sfull", tmp_path / "sa"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    shutil.copy(src, full_dir / "embeddings.parquet")

    # small cap so the capacity arithmetic actually binds on sf0.001
    asn, band, cent = ensure_semantic_index(spark, str(a_dir), max_bucket=4)
    new_vecs = emb.filter("vec_id >= 300")
    append_semantic_index(
        spark, asn, band, cent, new_vecs, max_bucket=4
    )

    # expected assignment: FULL corpus against the frozen model(A)
    want_asn = sorted(
        tuple(r)
        for r in kmeans.assign_cosine(
            emb.select("vec_id", "embedding"),
            kmeans.pack_centroids(spark.table(cent)),
            out_col="cluster_id",
        )
        .select("vec_id", "cluster_id")
        .collect()
    )
    got_asn = sorted(tuple(r) for r in spark.table(asn).collect())
    assert got_asn == want_asn and len(got_asn) == emb.count()

    # expected bands: full-corpus band keys, cap keeps 4 smallest ids
    bands_full = emb.select(
        F.col("vec_id"),
        F.explode(sim.sign_bands(F.col("embedding"), 4, 4)).alias("b"),
    ).select("vec_id", "b.band_idx", "b.band_key")
    w = Window.partitionBy("band_idx", "band_key").orderBy("vec_id")
    want_band = sorted(
        tuple(r)
        for r in bands_full.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 4)
        .select("vec_id", "band_idx", "band_key")
        .collect()
    )
    got_band = sorted(tuple(r) for r in spark.table(band).collect())
    assert got_band == want_band and len(got_band) > 0


def test_ivf_build_writes_one_file_per_list(spark, tmp_path):
    """Round-10 layout invariant: the IVF/IVFPQ builders cluster rows on
    list_id AFTER the build-parallelism repartition, so each list
    partition is written by exactly one task as ONE file. Round 9's
    blanket source repartition made every writer hold rows of every
    list (32 files/list at sf0.1) — measured as a 1.6x serve regression
    on the pruned nprobe read (docs/IVF_LAYOUT_AB_r10.json)."""
    from stream_processor_spark.operators.annindex import (
        ensure_ivf_index,
        ensure_ivfpq_index,
    )

    e_dir = tmp_path / "e1f"
    e_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    shutil.copy(src, e_dir / "embeddings.parquet")

    lists_name, _cent = ensure_ivf_index(spark, str(e_dir))
    codes_name, _c2, _b2 = ensure_ivfpq_index(spark, str(e_dir))

    loc = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for table in (lists_name, codes_name):
        base = os.path.join(loc, table)
        for part in os.listdir(base):
            if not part.startswith("list_id="):
                continue
            files = [
                f
                for f in os.listdir(os.path.join(base, part))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (table, part, files)


@pytest.mark.slow
def test_minhash_replay_does_not_inflate_hot_bucket_guard(spark, tmp_path):
    """Round-10 ADVICE: the hot-bucket guard must size buckets on
    DISTINCT docs when healing replays — raw band-row counts let a
    replayed append double a bucket's apparent size past
    max_bucket_size and silently drop its pairs vs a full rebuild.
    Construct a bucket exactly AT the cap (identical texts share every
    band), replay the append, and require the served pairs to still
    equal the fresh rebuild's."""
    from stream_processor_spark.operators.dedup import (
        append_minhash_index,
        ensure_minhash_index,
        minhash_pairs_from_index,
    )

    n = 10  # bucket size == cap: any replay inflation would drop it
    text = "alpha beta gamma delta epsilon zeta eta theta"
    a_dir = tmp_path / "hot_a"
    full_dir = tmp_path / "hot_full"
    a_dir.mkdir(), full_dir.mkdir()
    rows = [(i, text) for i in range(n)]
    spark.createDataFrame(rows[: n // 2], "doc_id long, text string").write.parquet(
        str(a_dir / "documents.parquet")
    )
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(full_dir / "documents.parquet")
    )

    bands_a, hset_a = ensure_minhash_index(spark, str(a_dir))
    new_docs = spark.createDataFrame(
        rows[n // 2 :], "doc_id long, text string"
    )
    append_minhash_index(spark, bands_a, hset_a, new_docs)
    # foreachBatch retry: the SAME batch lands twice (byte-identical)
    append_minhash_index(spark, bands_a, hset_a, new_docs)

    bands_f, hset_f = ensure_minhash_index(spark, str(full_dir))

    def pairs(b, h):
        return sorted(
            (r.doc_a, r.doc_b)
            for r in minhash_pairs_from_index(
                spark, b, h, max_bucket_size=n
            ).collect()
        )

    want = pairs(bands_f, hset_f)
    assert len(want) == n * (n - 1) // 2  # identical docs: all pairs
    assert pairs(bands_a, hset_a) == want


@pytest.mark.slow
def test_sign_index_append_equals_full_rebuild(spark, tmp_path):
    """Round-10: append(B) onto a sign-signature layout built from A
    must equal the layout built from A∪B EXACTLY (per-row pure packing,
    no corpus model), and the indexed Hamming shortlist must match the
    from-scratch computation row for row."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators import similarity as sim
    from stream_processor_spark.operators.annindex import (
        append_sign_index,
        ensure_sign_index,
        hamming_query_indexed,
    )

    full_dir, a_dir = tmp_path / "sfull", tmp_path / "sa"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    shutil.copy(src, full_dir / "embeddings.parquet")

    (sig_a,) = ensure_sign_index(spark, str(a_dir))
    append_sign_index(
        spark, sig_a, spark.read.parquet(src).filter("vec_id >= 300")
    )
    (sig_f,) = ensure_sign_index(spark, str(full_dir))

    rows_a = sorted(tuple(r) for r in spark.table(sig_a).collect())
    rows_f = sorted(tuple(r) for r in spark.table(sig_f).collect())
    assert rows_a == rows_f and len(rows_a) == emb.count()

    got = [
        tuple(r) for r in hamming_query_indexed(spark, sig_a, 0, k=20).collect()
    ]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    want = [tuple(r) for r in sim.hamming_topk(emb, q, k=20).collect()]
    assert got == want and got[0] == (0, 0)


def test_streaming_ivf_updates_and_replay_healing(spark, tmp_path):
    """Streaming ANN index maintenance end-to-end (round-11
    continuation): vectors arrive as a file stream, each micro-batch
    assigns against the FROZEN model and appends one file per touched
    list; a REPLAYED append (the foreachBatch retry case) is healed at
    serve time by dedup_replays and permanently by compact_ivf_lists,
    which also restores the one-file-per-list profile."""
    import numpy as np

    from stream_processor_spark.operators.annindex import (
        _partition_file_counts,
        append_ivf_index,
        compact_ivf_lists,
        ensure_ivf_index,
        ivf_query_indexed,
        stream_ivf_updates,
    )

    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    a_dir = tmp_path / "siva"
    a_dir.mkdir()
    emb.filter("vec_id < 300").write.parquet(
        str(a_dir / "embeddings.parquet")
    )
    lists_name, cent_name = ensure_ivf_index(spark, str(a_dir))

    stream_src = tmp_path / "vec_in"
    emb.filter("vec_id >= 300 AND vec_id < 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    emb.filter("vec_id >= 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    vec_stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = stream_ivf_updates(
        spark, vec_stream, lists_name, cent_name, str(tmp_path / "ivf_ckpt")
    )
    q.awaitTermination(120)

    qvec = np.asarray(emb.filter("vec_id = 0").head()[1], dtype=np.float64)

    def serve(**kw):
        return [
            (r.vec_id, round(r.cosine, 12))
            for r in ivf_query_indexed(
                spark, lists_name, cent_name, qvec, nprobe=2, topk=10, **kw
            ).collect()
        ]

    baseline = serve()
    assert len(baseline) == 10

    # simulate a foreachBatch retry: identical rows re-appended
    append_ivf_index(
        spark, lists_name, cent_name, emb.filter("vec_id >= 400")
    )
    dup_ids = (
        spark.table(lists_name)
        .groupBy("vec_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup_ids > 0  # the replay really did corrupt the table
    assert serve(dedup_replays=True) == baseline  # serve-time healing

    # LSM repair: compaction removes the duplicates permanently and
    # restores the one-file-per-list read profile
    compact_ivf_lists(spark, lists_name)
    assert (
        spark.table(lists_name)
        .groupBy("vec_id")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    assert serve() == baseline
    assert max(_partition_file_counts(spark, lists_name).values()) == 1


def test_streaming_ivf_compact_every(spark, tmp_path):
    """compact_every batches, the stream's own LSM repair runs inside
    foreachBatch: after the stream drains, the layout is already at one
    file per list with no replay duplicates."""
    import numpy as np

    from stream_processor_spark.operators.annindex import (
        _partition_file_counts,
        ensure_ivf_index,
        ivf_query_indexed,
        stream_ivf_updates,
    )

    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    a_dir = tmp_path / "sivc"
    a_dir.mkdir()
    emb.filter("vec_id < 400").write.parquet(
        str(a_dir / "embeddings.parquet")
    )
    lists_name, cent_name = ensure_ivf_index(spark, str(a_dir))

    stream_src = tmp_path / "vec_in_c"
    for lo, hi in ((400, 450), (450, 500)):
        emb.filter(f"vec_id >= {lo} AND vec_id < {hi}").coalesce(
            1
        ).write.parquet(str(stream_src), mode="append")
    vec_stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = stream_ivf_updates(
        spark,
        vec_stream,
        lists_name,
        cent_name,
        str(tmp_path / "ivfc_ckpt"),
        compact_every=1,
    )
    q.awaitTermination(120)

    assert max(_partition_file_counts(spark, lists_name).values()) == 1
    qvec = np.asarray(emb.filter("vec_id = 3").head()[1], dtype=np.float64)
    got = ivf_query_indexed(
        spark, lists_name, cent_name, qvec, nprobe=2, topk=5
    ).collect()
    assert len(got) == 5 and got[0].vec_id == 3


@pytest.mark.slow
def test_streaming_minhash_updates_and_replay_healing(spark, tmp_path):
    """Round-12 (verdict item 5): the `stream_ivf_updates` discipline on
    the MinHash layout — documents arrive as a file stream, each batch
    appends via foreachBatch; streamed append ≡ full rebuild for the
    served pairs; a replayed append is healed at serve time and
    PERMANENTLY by compact_minhash_index, which also restores the
    one-file-per-bucket profile."""
    from stream_processor_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
        ensure_minhash_index,
        minhash_pairs_from_index,
        stream_minhash_updates,
    )

    a_dir, full_dir = _docs_dirs(tmp_path, spark)
    bands_a, hset_a = ensure_minhash_index(spark, a_dir)

    docs = spark.read.parquet(os.path.join(full_dir, "documents.parquet"))
    stream_src = tmp_path / "docs_in"
    docs.filter("doc_id >= 300 AND doc_id < 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    docs.filter("doc_id >= 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    doc_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = stream_minhash_updates(
        spark, doc_stream, bands_a, hset_a, str(tmp_path / "mh_ckpt")
    )
    q.awaitTermination(120)

    def pairs(b, h, **kw):
        return sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in minhash_pairs_from_index(spark, b, h, **kw).collect()
        )

    bands_f, hset_f = ensure_minhash_index(spark, full_dir)
    want = pairs(bands_f, hset_f)
    assert pairs(bands_a, hset_a) == want and len(want) > 0

    # foreachBatch retry: identical rows re-inserted
    append_minhash_index(
        spark, bands_a, hset_a, docs.filter("doc_id >= 400")
    )
    dup = (
        spark.table(bands_a)
        .groupBy("doc_id", "band_idx")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup > 0  # the replay really did land twice
    assert pairs(bands_a, hset_a) == want  # dedup_replays default heals

    compact_minhash_index(spark, bands_a, hset_a)
    assert (
        spark.table(bands_a)
        .groupBy("doc_id", "band_idx")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    # healed permanently: serving with healing OFF is now also correct
    assert pairs(bands_a, hset_a, dedup_replays=False) == want


@pytest.mark.slow
def test_streaming_sign_updates_and_replay_healing(spark, tmp_path):
    """Round-12 (verdict item 5): streaming maintenance of the sign
    layout — streamed append ≡ full rebuild byte-for-byte, replay
    healed at serve by dedup_replays and permanently by
    compact_flat_index."""
    from stream_processor_spark.operators.annindex import (
        append_sign_index,
        compact_flat_index,
        ensure_sign_index,
        hamming_query_indexed,
        stream_sign_updates,
    )

    full_dir, a_dir = tmp_path / "sfull", tmp_path / "sa"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    shutil.copy(src, full_dir / "embeddings.parquet")
    (sig_a,) = ensure_sign_index(spark, str(a_dir))

    stream_src = tmp_path / "vec_in"
    emb.filter("vec_id >= 300 AND vec_id < 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    emb.filter("vec_id >= 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    vec_stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = stream_sign_updates(
        spark, vec_stream, sig_a, str(tmp_path / "sig_ckpt")
    )
    q.awaitTermination(120)

    (sig_f,) = ensure_sign_index(spark, str(full_dir))
    rows_a = sorted(tuple(r) for r in spark.table(sig_a).collect())
    rows_f = sorted(tuple(r) for r in spark.table(sig_f).collect())
    assert rows_a == rows_f and len(rows_a) == emb.count()

    def serve(**kw):
        return [
            tuple(r)
            for r in hamming_query_indexed(
                spark, sig_a, 0, k=20, **kw
            ).collect()
        ]

    baseline = serve()
    assert baseline[0] == (0, 0)

    # foreachBatch retry: identical rows re-inserted
    append_sign_index(spark, sig_a, emb.filter("vec_id >= 400"))
    assert (
        spark.table(sig_a).groupBy("vec_id").count().filter("count > 1").count()
        > 0
    )
    assert serve(dedup_replays=True) == baseline

    compact_flat_index(spark, sig_a)
    assert (
        spark.table(sig_a).groupBy("vec_id").count().filter("count > 1").count()
        == 0
    )
    assert serve() == baseline


@pytest.mark.slow
def test_streaming_semantic_updates_and_replay_healing(spark, tmp_path):
    """Round-12: streaming maintenance of the semantic-dedup layout —
    streamed micro-batches ≡ the same rows appended directly (batch
    boundaries don't change the layout), and a replayed append never
    loosens the band cap: re-inserted duplicates are byte-identical and
    the serve's distinct heals them to the same candidate-pair set."""
    from stream_processor_spark.operators.semindex import (
        append_semantic_index,
        candidate_pairs_from_index,
        ensure_semantic_index,
        stream_semantic_updates,
    )

    full_dir, a_dir = tmp_path / "sfull", tmp_path / "sa"
    full_dir.mkdir(), a_dir.mkdir()
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    emb = spark.read.parquet(src)
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    asn, band, cent = ensure_semantic_index(spark, str(a_dir), max_bucket=4)

    stream_src = tmp_path / "vec_in"
    emb.filter("vec_id >= 300 AND vec_id < 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    emb.filter("vec_id >= 400").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    vec_stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = stream_semantic_updates(
        spark, vec_stream, asn, band, cent, str(tmp_path / "sem_ckpt"),
        max_bucket=4,
    )
    q.awaitTermination(120)

    # direct-append twin over the SAME initial layout and model
    emb.filter("vec_id < 300").write.parquet(
        str(full_dir / "embeddings.parquet")
    )
    asn2, band2, cent2 = ensure_semantic_index(
        spark, str(full_dir), max_bucket=4
    )
    append_semantic_index(
        spark, asn2, band2, cent2, emb.filter("vec_id >= 300 AND vec_id < 400"),
        max_bucket=4,
    )
    append_semantic_index(
        spark, asn2, band2, cent2, emb.filter("vec_id >= 400"), max_bucket=4
    )
    rows = lambda n: sorted(tuple(r) for r in spark.table(n).collect())  # noqa: E731
    assert rows(asn) == rows(asn2)
    assert rows(band) == rows(band2)

    def pairs():
        return sorted(
            tuple(r) for r in candidate_pairs_from_index(spark, band).collect()
        )

    baseline = pairs()
    assert baseline
    # foreachBatch retry: same batch re-appended; the capacity read
    # already counts the first attempt, so the cap cannot loosen, and
    # the serve's distinct heals any re-inserted duplicates
    append_semantic_index(
        spark, asn, band, cent, emb.filter("vec_id >= 400"), max_bucket=4
    )
    assert pairs() == baseline


# ------------------------------------------------- round-13: graph ANN ----


def _graph_emb_dirs(spark, tmp_path):
    a_dir = tmp_path / "ga"
    a_dir.mkdir()
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    emb.filter("vec_id < 400").write.parquet(
        str(a_dir / "embeddings.parquet")
    )
    return str(a_dir), emb


def _expected_graph_append_rows(spark, edges_before, new_rows, bits, m):
    """Independent numpy replica of the documented append pure function:
    pool = distinct dst of the PRE-append layout ∪ the batch; per new
    node the exact top-m (scaled-int64 cosine, ties to smaller id) over
    its home + Hamming-1 buckets; both edge directions; (src,dst)
    dedup."""
    from stream_processor_spark.operators import npkernel as npk

    pool: dict[int, np.ndarray] = {}
    for r in edges_before:
        pool.setdefault(int(r["dst"]), np.asarray(r["dst_emb"], np.float64))
    for r in new_rows:
        pool.setdefault(int(r["vec_id"]), np.asarray(r["embedding"], np.float64))

    def bucket(e):
        return sum((1 << j) for j in range(bits) if e[j] > 0)

    by_b: dict[int, list[int]] = {}
    for vid, e in pool.items():
        by_b.setdefault(bucket(e), []).append(vid)

    expect = set()
    for r in new_rows:
        n = int(r["vec_id"])
        e = np.asarray(r["embedding"], np.float64)
        b = bucket(e)
        cand = []
        for p in [b] + [b ^ (1 << j) for j in range(bits)]:
            cand.extend(by_b.get(p, ()))
        cand = [c for c in cand if c != n]
        if not cand:
            continue
        C = np.stack([pool[c] for c in cand])
        ids = np.asarray(cand, dtype=np.int64)
        p_ = npk.dot_scaled(e[None, :], C)[0].astype(np.float64)
        cos = p_ / (
            np.sqrt(npk.self_norms_scaled(C).astype(np.float64))
            * np.sqrt(float(npk.self_norms_scaled(e[None, :])[0]))
        )
        order = np.lexsort((ids, -cos))[:m]
        for j in order:
            d = int(ids[j])
            expect.add((n, d))
            expect.add((d, n))
    return expect


@pytest.mark.slow
def test_graph_append_matches_frozen_model_derivation(spark, tmp_path):
    """Round-13 (verdict lead item): append(B) onto the graph layout is
    the documented PURE FUNCTION of (layout's dst view, batch) — new
    nodes connect bidirectionally to their exact top-m under the frozen
    sign schedule. The appended row set must equal an independent numpy
    derivation, and each appended row's src_b must be the src's own
    sign bucket (partition correctness)."""
    from stream_processor_spark.operators import graphann as ga

    a_dir, emb = _graph_emb_dirs(spark, tmp_path)
    (name,) = ga.ensure_graph_index(spark, a_dir)
    before = spark.table(name).collect()
    before_set = {(int(r["src"]), int(r["dst"])) for r in before}

    new_rows = [r.asDict() for r in emb.filter("vec_id >= 400").collect()]
    ga.append_graph_index(spark, name, emb.filter("vec_id >= 400"))

    after = spark.table(name).collect()
    got = {(int(r["src"]), int(r["dst"])) for r in after} - before_set
    want = _expected_graph_append_rows(
        spark, before, new_rows, ga.GRAPH_BITS, ga.GRAPH_M
    )
    assert got == want and len(want) > 0

    # src_b partition correctness on the appended rows
    pool = {int(r["dst"]): np.asarray(r["dst_emb"], np.float64) for r in after}
    for r in after:
        key = (int(r["src"]), int(r["dst"]))
        if key in want:
            e = pool[int(r["src"])]
            b = sum((1 << j) for j in range(ga.GRAPH_BITS) if e[j] > 0)
            assert int(r["src_b"]) == b


@pytest.mark.slow
def test_graph_append_reachability_and_recall_floor(spark, tmp_path):
    """Appended vectors must be REACHABLE (their own embedding as the
    query returns them at rank 1 — the bidirectional-connect contract)
    and the post-append serve quality stays above a pinned floor:
    recall@10 >= 0.7 vs exact brute force over A∪B (the full-rebuild
    fixture floor is 0.84; appended nodes carry frozen-model edges
    only, so parity-of-structure is not expected, quality is)."""
    from stream_processor_spark.operators import graphann as ga
    from stream_processor_spark.operators import npkernel as npk

    a_dir, emb = _graph_emb_dirs(spark, tmp_path)
    (name,) = ga.ensure_graph_index(spark, a_dir)
    ga.append_graph_index(spark, name, emb.filter("vec_id >= 400"))

    all_rows = emb.collect()
    E = np.stack([np.asarray(r[1], np.float64) for r in all_rows])
    ids = np.asarray([int(r[0]) for r in all_rows])
    see = npk.self_norms_scaled(E).astype(np.float64)

    def brute(q):
        p = npk.dot_scaled(q[None, :], E)[0].astype(np.float64)
        cos = p / (
            np.sqrt(see)
            * np.sqrt(float(npk.self_norms_scaled(q[None, :])[0]))
        )
        return set(ids[np.lexsort((ids, -cos))[:10]].tolist())

    new = [r for r in all_rows if int(r[0]) >= 400]
    for r in new[:8]:
        q = np.asarray(r[1], np.float64)
        top = ga.graph_query_indexed(spark, name, q, topk=3).collect()
        assert int(top[0][0]) == int(r[0]), f"new node {r[0]} unreachable"

    recalls = []
    for r in all_rows[::60][:8]:
        q = np.asarray(r[1], np.float64)
        got = {
            int(x[0])
            for x in ga.graph_query_indexed(spark, name, q, topk=10).collect()
        }
        recalls.append(len(got & brute(q)) / 10)
    assert sum(recalls) / len(recalls) >= 0.7


@pytest.mark.slow
def test_graph_append_replay_and_compaction(spark, tmp_path):
    """foreachBatch retry contract: a replayed append re-inserts
    byte-identical rows (the frozen pool is UNCHANGED by the first
    append's own rows), the serve is unaffected (the beam walk dedups
    visited nodes by construction), and compact_graph_edges removes the
    duplicates permanently and restores one file per bucket."""
    from stream_processor_spark.operators import graphann as ga
    from stream_processor_spark.operators.annindex import (
        _partition_file_counts,
    )

    a_dir, emb = _graph_emb_dirs(spark, tmp_path)
    (name,) = ga.ensure_graph_index(spark, a_dir)
    batch = emb.filter("vec_id >= 400")
    ga.append_graph_index(spark, name, batch)
    once = sorted(
        tuple(r) for r in spark.table(name).select("src", "dst").collect()
    )

    q = np.asarray(emb.filter("vec_id = 5").head()[1], np.float64)
    baseline = sorted(
        map(tuple, ga.graph_query_indexed(spark, name, q).collect())
    )

    ga.append_graph_index(spark, name, batch)  # the retry
    dup = (
        spark.table(name)
        .groupBy("src", "dst")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup > 0  # replay rows present...
    # ...but every one byte-identical: distinct (src,dst) unchanged
    assert (
        sorted(
            tuple(r)
            for r in spark.table(name)
            .select("src", "dst")
            .dropDuplicates()
            .collect()
        )
        == sorted(set(once))
    )
    assert (
        sorted(map(tuple, ga.graph_query_indexed(spark, name, q).collect()))
        == baseline
    )

    ga.compact_graph_edges(spark, name)
    assert (
        spark.table(name)
        .groupBy("src", "dst")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    counts = _partition_file_counts(spark, name, part_col="src_b")
    assert counts and all(v == 1 for v in counts.values())
    assert (
        sorted(map(tuple, ga.graph_query_indexed(spark, name, q).collect()))
        == baseline
    )


@pytest.mark.slow
def test_streaming_graph_updates_and_replay_healing(spark, tmp_path):
    """Round-13: streaming maintenance of the graph layout — streamed
    micro-batches ≡ the same batches appended directly in order
    (sequential NSW insertion: each batch's pool includes earlier
    batches' nodes), replay healed at serve by the walk's visited-set
    and permanently by compaction."""
    from stream_processor_spark.operators import graphann as ga

    a_dir, emb = _graph_emb_dirs(spark, tmp_path)
    (name,) = ga.ensure_graph_index(spark, a_dir)

    stream_src = tmp_path / "vec_in"
    emb.filter("vec_id >= 400 AND vec_id < 450").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    emb.filter("vec_id >= 450").coalesce(1).write.parquet(
        str(stream_src), mode="append"
    )
    vec_stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = ga.stream_graph_updates(
        spark, vec_stream, name, str(tmp_path / "gr_ckpt")
    )
    q.awaitTermination(120)

    # direct-append twin over a second copy of the same initial layout
    b_dir = tmp_path / "gb"
    b_dir.mkdir()
    emb.filter("vec_id < 400").write.parquet(
        str(b_dir / "embeddings.parquet")
    )
    (name2,) = ga.ensure_graph_index(spark, str(b_dir))
    ga.append_graph_index(
        spark, name2, emb.filter("vec_id >= 400 AND vec_id < 450")
    )
    ga.append_graph_index(spark, name2, emb.filter("vec_id >= 450"))

    rows = lambda n: sorted(  # noqa: E731
        (int(r["src"]), int(r["dst"])) for r in spark.table(n).collect()
    )
    assert rows(name) == rows(name2)

    # appended node reachable through the streamed layout
    r = emb.filter("vec_id = 470").head()
    top = ga.graph_query_indexed(
        spark, name, np.asarray(r[1], np.float64), topk=3
    ).collect()
    assert int(top[0][0]) == 470


@pytest.mark.slow
def test_graph_append_pool_memo_equals_cold_derivation(spark, tmp_path):
    """The incrementally-maintained candidate pool (steady-state
    appends pay no index scan) must be INVISIBLE: two sequential
    appends with the warm memo produce exactly the edge rows of the
    same appends with the memo cleared between (cold from-table
    derivation) — the cap's smallest-k composability contract."""
    from stream_processor_spark.operators import graphann as ga

    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    b1 = emb.filter("vec_id >= 400 AND vec_id < 450")
    b2 = emb.filter("vec_id >= 450")

    def run(clear_between):
        d = tmp_path / ("cold" if clear_between else "warm")
        d.mkdir()
        emb.filter("vec_id < 400").write.parquet(
            str(d / "embeddings.parquet")
        )
        (name,) = ga.ensure_graph_index(spark, str(d))
        ga._POOL_CACHE.pop(name, None)
        ga.append_graph_index(spark, name, b1)
        if clear_between:
            ga._POOL_CACHE.pop(name, None)
        else:
            assert name in ga._POOL_CACHE  # memo actually exercised
        ga.append_graph_index(spark, name, b2)
        return sorted(
            (int(r["src"]), int(r["dst"]), int(r["src_b"]))
            for r in spark.table(name).collect()
        )

    assert run(False) == run(True)


@pytest.mark.slow
def test_streamed_appends_visible_to_prior_reader_session(spark, tmp_path):
    """Round-13 regression (found via the graph path, latent in EVERY
    append): foreachBatch writes run through the micro-batch CLONE
    session and do not invalidate the serving session's cached file
    listing — a session that read the table BEFORE the stream would
    serve the pre-append snapshot forever. Every append_* now refreshes
    the table in the caller's session; this pins the production pattern
    (serve, stream appends, serve again) for the sign and postings
    layouts."""
    from stream_processor_spark.operators.annindex import (
        ensure_sign_index,
        stream_sign_updates,
    )
    from stream_processor_spark.operators.postings import (
        bm25_from_postings,
        ensure_postings,
        stream_postings_updates,
    )

    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    a_dir = tmp_path / "sa"
    a_dir.mkdir()
    emb.filter("vec_id < 300").write.parquet(str(a_dir / "embeddings.parquet"))
    (sig,) = ensure_sign_index(spark, str(a_dir))
    assert spark.table(sig).count() == 300  # the pre-stream read

    ssrc = tmp_path / "sig_in"
    emb.filter("vec_id >= 300").coalesce(1).write.parquet(
        str(ssrc), mode="append"
    )
    vs = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ssrc))
    )
    q = stream_sign_updates(spark, vs, sig, str(tmp_path / "sig_ck"))
    q.awaitTermination(120)
    assert spark.table(sig).count() == emb.count()  # NOT the snapshot

    a_docs, _full = _docs_dirs(tmp_path, spark)
    post, stats = ensure_postings(spark, a_docs)
    docs = spark.read.parquet(
        os.path.join(SF_SMALL, "documents.parquet")
    )
    qrow = docs.filter("doc_id = 0").select("text").head()
    qtokens = sorted({t for t in qrow[0].split(" ") if t})
    pre = bm25_from_postings(spark, post, stats, qtokens).count()

    dsrc = tmp_path / "doc_in"
    docs.filter("doc_id >= 300").coalesce(1).write.parquet(
        str(dsrc), mode="append"
    )
    ds = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(dsrc))
    )
    q = stream_postings_updates(spark, ds, post, stats, str(tmp_path / "p_ck"))
    q.awaitTermination(120)
    post_count = bm25_from_postings(spark, post, stats, qtokens).count()
    assert post_count > pre  # new docs scored by the prior serving session


@pytest.mark.slow
def test_graph_append_capped_layout(spark, tmp_path):
    """The PRODUCTION append profile (per-bucket candidate cap): warm
    memo ≡ cold derivation under the cap, every appended out-edge's dst
    lies in the capped candidate domain (its bucket's cap smallest pool
    ids), and appended nodes stay reachable."""
    from stream_processor_spark.operators import graphann as ga

    cap = 6
    a_dir, emb = _graph_emb_dirs(spark, tmp_path)
    b1 = emb.filter("vec_id >= 400 AND vec_id < 450")
    b2 = emb.filter("vec_id >= 450")

    def run(clear_between):
        d = tmp_path / ("capcold" if clear_between else "capwarm")
        d.mkdir()
        emb.filter("vec_id < 400").write.parquet(
            str(d / "embeddings.parquet")
        )
        (name,) = ga.ensure_graph_index(spark, str(d), max_bucket=cap)
        ga._POOL_CACHE.pop(name, None)
        ga.append_graph_index(spark, name, b1, max_bucket=cap)
        if clear_between:
            ga._POOL_CACHE.pop(name, None)
        ga.append_graph_index(spark, name, b2, max_bucket=cap)
        return name, sorted(
            (int(r["src"]), int(r["dst"]), int(r["src_b"]))
            for r in spark.table(name).collect()
        )

    name_w, warm = run(False)
    _, cold = run(True)
    assert warm == cold

    # capped-domain check: every edge dst introduced by the appends is
    # among its own bucket's `cap` smallest vec_ids of the full pool
    # (dst view ∪ batches) — the smallest-k composability contract
    rows = spark.table(name_w).collect()
    bucket_ids: dict[int, set] = {}
    emb_of = {}
    for r in rows:
        emb_of[int(r["dst"])] = np.asarray(r["dst_emb"], np.float64)
    for vid, e in emb_of.items():
        b = sum((1 << j) for j in range(ga.GRAPH_BITS) if e[j] > 0)
        bucket_ids.setdefault(b, set()).add(vid)
    capped_domain = {
        b: set(sorted(ids)[:cap]) for b, ids in bucket_ids.items()
    }
    new_edges = [
        r for r in rows if int(r["src"]) >= 400 and int(r["dst"]) < 400
    ]
    assert new_edges  # appended out-edges into the base corpus exist
    for r in new_edges:
        d = int(r["dst"])
        e = emb_of[d]
        b = sum((1 << j) for j in range(ga.GRAPH_BITS) if e[j] > 0)
        assert d in capped_domain[b], f"dst {d} outside bucket {b} cap"

    # reachability survives the cap
    r = emb.filter("vec_id = 470").head()
    top = ga.graph_query_indexed(
        spark, name_w, np.asarray(r[1], np.float64), topk=3
    ).collect()
    assert int(top[0][0]) == 470
