from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from splade_spark.bm25 import bm25_topk, bm25_weights, quantization_scale, quantize
from splade_spark.fixtures import queries_df
from splade_spark.index.build import (
    build_index,
    index_dist_from_postings,
    load_postings,
    read_index_meta,
    read_ledger,
)
from splade_spark.query.wand import retrieve
from splade_spark.stats import corpus_stats, index_dist
from splade_spark.tokenize import query_term_freqs, term_freqs


@pytest.fixture(scope="module")
def corpus(spark, tiny_documents):
    tf = term_freqs(tiny_documents).cache()
    n, avgdl = corpus_stats(tf)
    w = bm25_weights(tf, n, avgdl).cache()
    scale = quantization_scale(w)
    return tf, w, scale


def test_local_sort_equals_jvm_sort(spark, corpus, arrow_batch_rows):
    """The python-lexsort encoder (default) and the JVM-sort streaming
    encoder must emit block-identical postings, for every codec × width,
    also when tiny Arrow batches split (shard, term) groups across
    batches (the streaming encoder's carry)."""
    from splade_spark.index.build import build_postings

    _, w, _ = corpus
    for codec in ("varint", "for"):
        for bits in (8, 16):
            scale = quantization_scale(w, bits)
            a = build_postings(
                w, scale, num_shards=8, bits=bits, codec=codec
            ).cache()
            a.count()
            for rows in (None, 3, 7):
                with arrow_batch_rows(rows):
                    b = build_postings(
                        w, scale, num_shards=8, bits=bits, codec=codec,
                        local_sort=False,
                    ).cache()
                    assert a.exceptAll(b).count() == 0, (codec, bits, rows)
                    assert b.exceptAll(a).count() == 0, (codec, bits, rows)
                    b.unpersist()
            a.unpersist()


def test_resume_repairs_missing_meta(spark, corpus, tmp_path):
    """A build killed between the last ledger write and the meta write
    leaves an index the query path can't open; re-running with resume=True
    (pending empty) must re-emit _index_meta.json."""
    import os

    _, w, scale = corpus
    path = str(tmp_path / "idx")
    build_index(w, path, scale, num_shards=4)
    os.remove(os.path.join(path, "_index_meta.json"))
    m = build_index(w, path, scale, num_shards=4, resume=True)
    assert m["built_shards"] == 0  # nothing rebuilt — repair only
    assert read_index_meta(path)["scale"] == scale


def test_resume_rejects_mismatched_codec(spark, corpus, tmp_path):
    """Continuing a killed --codec for build with default flags would
    produce a silently mixed-codec index; the resume path must refuse."""
    import os

    _, w, scale = corpus
    path = str(tmp_path / "idx")
    build_index(w, path, scale, num_shards=4, codec="for")
    # drop one ledger entry to simulate a kill mid-build
    ledger = sorted(
        f for f in os.listdir(os.path.join(path, "_ledger"))
        if f.endswith(".json")
    )
    os.remove(os.path.join(path, "_ledger", ledger[0]))
    with pytest.raises(ValueError, match="resume parameter mismatch"):
        build_index(w, path, scale, num_shards=4)  # codec defaults to varint
    # matching flags resume fine
    m = build_index(w, path, scale, num_shards=4, codec="for")
    assert m["built_shards"] == 1 and m["skipped_shards"] == 3


def test_for_codec_build_query_identity(spark, corpus, tmp_path):
    """FOR-bitpacked index answers rank- and score-identically to the
    varint index (same quantized domain, different delta encoding)."""
    _, w, scale = corpus
    pv, pf = str(tmp_path / "v"), str(tmp_path / "f")
    build_index(w, pv, scale, num_shards=4, codec="varint")
    build_index(w, pf, scale, num_shards=4, codec="for")
    assert read_index_meta(pf)["codec"] == "for"
    qt = query_term_freqs(queries_df(spark))
    rv = retrieve(load_postings(spark, pv), qt, scale, k=20, num_shards=4,
                  codec="varint")
    rf = retrieve(load_postings(spark, pf), qt, scale, k=20, num_shards=4,
                  codec="for")
    assert sorted(map(tuple, rv.collect())) == sorted(map(tuple, rf.collect()))


def test_build_and_ledger(spark, corpus, tmp_path):
    tf, w, scale = corpus
    path = str(tmp_path / "idx")
    m = build_index(w, path, scale, num_shards=8, lineage={"src": "tiny"})
    assert m["built_shards"] == 8 and m["skipped_shards"] == 0
    assert m["postings"] == w.count()
    ledger = read_ledger(path)
    assert set(ledger) == set(range(8))
    assert all(e["lineage"]["src"] == "tiny" for e in ledger.values())
    assert read_index_meta(path)["scale"] == scale

    # resume: no work left
    m2 = build_index(w, path, scale, num_shards=8)
    assert m2["built_shards"] == 0 and m2["skipped_shards"] == 8

    # kill/resume: drop 3 shards' ledger entries + data, rebuild only those
    import os

    for s in [1, 4, 6]:
        os.remove(os.path.join(path, "_ledger", f"shard-{s:05d}.json"))
        shutil.rmtree(os.path.join(path, f"shard_id={s}"))
    m3 = build_index(w, path, scale, num_shards=8)
    assert m3["built_shards"] == 3 and m3["skipped_shards"] == 5
    postings = load_postings(spark, path)
    assert postings.groupBy().agg(F.sum("n")).collect()[0][0] == w.count()

    # index_dist parity: postings-derived == term_freqs-derived
    a = {r.term_id: r.posting_len for r in index_dist_from_postings(postings).collect()}
    b = {r.term_id: r.posting_len for r in index_dist(tf).collect()}
    assert a == b

    # docID-sorted within term: blocks non-overlapping ascending
    bad = (
        postings.groupBy("shard_id", "term_id")
        .agg(
            F.count("*").alias("nb"),
            F.expr(
                "sum(case when last_doc < first_doc then 1 else 0 end)"
            ).alias("inverted"),
        )
        .filter(F.col("inverted") > 0)
        .count()
    )
    assert bad == 0


def test_engine_rank_identical_to_oracle(spark, corpus, tmp_path):
    """The core invariant: block-compressed BMW engine == quantized
    DataFrame oracle, exactly (ranks and scores), on the fixture query set."""
    tf, w, scale = corpus
    path = str(tmp_path / "idx2")
    build_index(w, path, scale, num_shards=8)
    postings = load_postings(spark, path).cache()
    qt = query_term_freqs(queries_df(spark)).cache()

    for k, threshold in [(10, 0.0), (100, 0.0), (5, 2.0)]:
        oracle = bm25_topk(quantize(w, scale), qt, k=k, threshold=threshold, scale=scale)
        engine = retrieve(postings, qt, scale, k=k, threshold=threshold)
        o = [
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in oracle.orderBy("query_id", "rank").collect()
        ]
        e = [
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in engine.orderBy("query_id", "rank").collect()
        ]
        assert o == e, f"mismatch at k={k} threshold={threshold}"


def test_empty_corpus_build_and_query(spark, tmp_path):
    """Empty input: build succeeds (0-posting index + full ledger), resume
    is a no-op, and retrieval returns no rows without error."""
    import pandas as pd

    empty_w = spark.createDataFrame([], "doc_id long, term_id long, weight double")
    path = str(tmp_path / "empty_idx")
    m = build_index(empty_w, path, scale=10.0, num_shards=4)
    assert m["built_shards"] == 4 and m["postings"] == 0
    postings = load_postings(spark, path)
    assert postings.count() == 0
    qt = pd.DataFrame({"query_id": ["q1"], "term_id": [123], "qtf": [1]})
    assert retrieve(postings, qt, 10.0, k=5, num_shards=4).count() == 0
    m2 = build_index(empty_w, path, scale=10.0, num_shards=4)
    assert m2["skipped_shards"] == 4


def test_engine_pruned_equals_exact(spark, corpus, tmp_path):
    tf, w, scale = corpus
    path = str(tmp_path / "idx3")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    qt = query_term_freqs(queries_df(spark))
    pruned = retrieve(postings, qt, scale, k=20, prune=True)
    exact = retrieve(postings, qt, scale, k=20, prune=False)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, exact.collect()))


def test_driver_merge_equals_window_merge(spark, corpus, tmp_path):
    """The serving path (per-shard top-k collected + merged on the driver)
    must be result-identical to the distributed window merge — both order
    by (score_int desc, doc_id asc) over the same shard-local scores."""
    _, w, scale = corpus
    path = str(tmp_path / "idx_dm")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    qt = query_term_freqs(queries_df(spark))
    win = retrieve(postings, qt, scale, k=15, num_shards=4)
    drv = retrieve(postings, qt, scale, k=15, num_shards=4, merge="driver")
    key = lambda r: (r.query_id, r.rank, r.doc_id, round(r.score, 9))  # noqa: E731
    assert sorted(map(key, win.collect())) == sorted(map(key, drv.collect()))
    # warm-serving variant: pre-shuffled postings, no per-query shuffle
    from splade_spark.query.wand import prepare_serving

    serving = prepare_serving(postings, 4).cache()
    srv = retrieve(
        serving, qt, scale, k=15, num_shards=4,
        merge="driver", prepartitioned=True,
    )
    assert sorted(map(key, win.collect())) == sorted(map(key, srv.collect()))
    # serving is ONE task wave of whole shards (test_shard_placement_one_wave)
    par = spark.sparkContext.defaultParallelism
    assert serving.rdd.getNumPartitions() == min(4, par)
    serving.unpersist()
    # same column names and types (nullability differs: createDataFrame
    # marks driver-built columns nullable)
    assert [(f.name, f.dataType) for f in win.schema] == [
        (f.name, f.dataType) for f in drv.schema
    ]
    # merge='auto': small batch resolves to the driver path (results
    # identical either way; the plan check is that it doesn't throw and
    # matches), and an over-bound k×shards product falls back to window
    aut = retrieve(postings, qt, scale, k=15, num_shards=4, merge="auto")
    assert sorted(map(key, win.collect())) == sorted(map(key, aut.collect()))
    from splade_spark.query import wand as _wand

    old = _wand.DRIVER_MERGE_MAX_ROWS
    try:
        _wand.DRIVER_MERGE_MAX_ROWS = 1  # force the window fallback
        big = retrieve(postings, qt, scale, k=15, num_shards=4, merge="auto")
        assert sorted(map(key, win.collect())) == sorted(map(key, big.collect()))
    finally:
        _wand.DRIVER_MERGE_MAX_ROWS = old


def test_explicit_driver_merge_guarded(spark, corpus, tmp_path):
    """merge='driver' honors the auto-mode collect bound: a batch whose
    n_queries x k x num_shards exceeds DRIVER_MERGE_MAX_ROWS raises unless
    force_driver_merge=True (VERDICT r05 #3); auto behavior unchanged."""
    import pandas as pd
    import pytest as _pytest

    from splade_spark.query import wand as wand_mod

    _, w, scale = corpus
    path = str(tmp_path / "idx_guard")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    qt = pd.DataFrame(
        {"query_id": ["q1", "q2"], "term_id": [1, 2], "qtf": [1, 1]}
    )
    old = wand_mod.DRIVER_MERGE_MAX_ROWS
    wand_mod.DRIVER_MERGE_MAX_ROWS = 10  # 2 queries x 5 x 4 shards = 40 > 10
    try:
        with _pytest.raises(ValueError, match="DRIVER_MERGE_MAX_ROWS"):
            retrieve(postings, qt, scale, k=5, num_shards=4, merge="driver")
        # forced: allowed; auto: silently falls back to the window merge
        retrieve(
            postings, qt, scale, k=5, num_shards=4, merge="driver",
            force_driver_merge=True,
        ).count()
        retrieve(postings, qt, scale, k=5, num_shards=4, merge="auto").count()
    finally:
        wand_mod.DRIVER_MERGE_MAX_ROWS = old


def test_driver_merge_guard_discovers_num_shards(spark, corpus, tmp_path):
    """An omitted num_shards is discovered BEFORE the explicit driver-merge
    collect bound, so the guard cannot be skipped by leaving it out."""
    import pandas as pd

    from splade_spark.query import wand as wand_mod

    _, w, scale = corpus
    path = str(tmp_path / "idx_guard_none")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path)
    qt = pd.DataFrame({"query_id": ["q1", "q2"], "term_id": [1, 2], "qtf": [1, 1]})
    old = wand_mod.DRIVER_MERGE_MAX_ROWS
    wand_mod.DRIVER_MERGE_MAX_ROWS = 1  # 2 queries x 5 x (>= 1 shard) > 1
    try:
        with pytest.raises(ValueError, match="DRIVER_MERGE_MAX_ROWS"):
            retrieve(postings, qt, scale, k=5, merge="driver")
    finally:
        wand_mod.DRIVER_MERGE_MAX_ROWS = old


def test_empty_query_batch_short_circuit(spark, corpus, tmp_path):
    """All-OOV and empty queries return the empty result with the normal
    result's column names and types; a batch with no term rows at all runs
    no Spark job."""
    import pandas as pd

    _, w, scale = corpus
    path = str(tmp_path / "idx_empty_q")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path)
    normal = retrieve(postings, query_term_freqs(queries_df(spark)), scale, k=5)
    cols = [(f.name, f.dataType) for f in normal.schema]
    # OOV terms still hash to term ids (the kernel finds no postings); the
    # empty text tokenizes to no row
    oov = query_term_freqs(
        spark.createDataFrame(
            [("q1", "zzqxv qqzzx"), ("q2", "")], "query_id string, text string"
        )
    )
    empty_pd = pd.DataFrame(
        {"query_id": pd.Series([], dtype=object), "term_id": pd.Series([], dtype="int64"),
         "qtf": pd.Series([], dtype="int64")}
    )
    sc = spark.sparkContext
    for merge in ("window", "driver", "auto"):
        got = retrieve(postings, oov, scale, k=5, merge=merge)
        assert got.count() == 0
        assert [(f.name, f.dataType) for f in got.schema] == cols
        sc.setJobGroup("empty_query_batch", "empty query batch")
        try:
            got = retrieve(postings, empty_pd, scale, k=5, num_shards=4, merge=merge)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("empty_query_batch") == []
        assert [(f.name, f.dataType) for f in got.schema] == cols
        assert got.count() == 0


def test_shard_placement_one_wave(spark, corpus, tiny_transcripts, tiny_documents,
                                  tmp_path, monkeypatch):
    """The kernel input and the prepare_serving frame hold whole shards in
    min(num_shards, parallelism) partitions — shard s in partition s mod P —
    for single indexes and a base ∪ segment union, and retrieval stays
    rank- and score-identical to the quantized oracle under every merge."""
    from splade_spark.query import wand as wand_mod
    from splade_spark.query.wand import prepare_serving
    from splade_spark.streaming.incremental import (
        FrozenStats,
        build_segment_from_batch,
        load_all_postings,
        set_doc_watermark,
    )

    tf, w, scale = corpus
    par = spark.sparkContext.defaultParallelism
    qt = query_term_freqs(queries_df(spark)).cache()
    qt_pd = qt.toPandas()
    placed = []
    real_place = wand_mod.place_shards

    def spy(df, num_shards):
        placed.append((real_place(df, num_shards), num_shards))
        return placed[-1][0]

    monkeypatch.setattr(wand_mod, "place_shards", spy)

    def assert_whole_shards(df, num_shards):
        p = min(num_shards, par)
        assert df.rdd.getNumPartitions() == p
        owners = {}
        for r in df.select("shard_id", F.spark_partition_id().alias("pid")).distinct().collect():
            owners.setdefault(r.shard_id, set()).add(r.pid)
        assert owners and all(pids == {s % p} for s, pids in owners.items()), owners

    def rows(df):
        return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in df.collect())

    def check(postings, num_shards, weights):
        expected = rows(bm25_topk(weights, qt, k=10, scale=scale))
        assert expected
        serving = prepare_serving(postings, num_shards).cache()
        assert_whole_shards(serving, num_shards)
        for merge in ("window", "driver", "auto"):
            placed.clear()
            got = retrieve(postings, qt_pd, scale, k=10, num_shards=num_shards, merge=merge)
            assert rows(got) == expected, (num_shards, merge)
            assert len(placed) == 1 and placed[0][1] == num_shards
            assert_whole_shards(placed[0][0], num_shards)
        srv = retrieve(serving, qt_pd, scale, k=10, num_shards=num_shards,
                       merge="driver", prepartitioned=True)
        assert rows(srv) == expected
        serving.unpersist()

    qw = quantize(w, scale)
    for num_shards in (1, 3, 4, 16):
        path = str(tmp_path / f"idx_place_{num_shards}")
        build_index(w, path, scale, num_shards=num_shards)
        check(load_postings(spark, path), num_shards, qw)

    # base ∪ segment: the segment re-indexes 30 base conversations above the
    # base id range under the base's frozen stats, so each segment doc
    # carries its base twin's quantized weights under a new doc_id
    base_dir = str(tmp_path / "incr_place")
    df_path = str(tmp_path / "frozen_df_place")
    tf.groupBy("term_id").agg(F.count("*").alias("df")).write.parquet(df_path)
    n_docs, avgdl = corpus_stats(tf)
    set_doc_watermark(base_dir, n_docs)
    batch = tiny_transcripts.filter(F.col("conv_id") < "conv-00000030")
    seg = build_segment_from_batch(
        batch, base_dir, FrozenStats(n_docs, avgdl, scale, df_path), 4, 0
    )
    seg_map = spark.read.parquet(seg + "_docmap").withColumnRenamed("doc_id", "seg_doc")
    seg_qw = (
        qw.join(tiny_documents.select("doc_id", "conv_id"), "doc_id")
        .join(seg_map, "conv_id")
        .select(F.col("seg_doc").alias("doc_id"), "term", "term_id", "weight")
    )
    assert seg_qw.select("doc_id").distinct().count() == 30
    union = load_all_postings(spark, base_dir, base_index=str(tmp_path / "idx_place_4"))
    check(union, 4, qw.unionByName(seg_qw))
