"""Serving tier vs Spark query parity + latency sanity."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.operators.topk import filtered_vector_topk
from external_benchmarks_spark.serving import VectorServingIndex


@pytest.fixture(scope="module")
def layout(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("serving") / "layout")
    (
        Catalog(spark, sf_dir).embeddings.repartition("label")
        .sortWithinPartitions("vec_id")
        .write.partitionBy("label")
        .parquet(out)
    )
    return out


TEMPLATES = [  # (label filter, key_mod) — the four reference templates
    (0, None),
    (0, 10),
    (0, 100),
    (0, 1000),
]


def test_serving_matches_spark_query_exactly(spark, sf_dir, layout):
    """Same parquet, same float64 math, same (-score, key) order — the
    serving read must be bit-identical to the Spark query."""
    idx = VectorServingIndex(layout)
    for label, mod in TEMPLATES:
        pred = F.col("label") == label
        if mod is not None:
            pred = pred & (F.col("vec_id") % mod == 0)
        want = [
            (r.vec_id, r.score)
            for r in filtered_vector_topk(
                Catalog(spark, sf_dir).embeddings,
                entry_mod.QVEC,
                pred,
                k=100,
                use_arrow_fast_path=True,
            ).collect()
        ]
        got = idx.topk(entry_mod.QVEC, k=100, label=label, key_mod=mod)
        assert [g[0] for g in got] == [w[0] for w in want]
        assert all(g[1] == w[1] for g, w in zip(got, want)), "scores must be exact"


def test_serving_all_partitions(spark, sf_dir, layout):
    """label=None scans every in-memory partition — equals the
    unfiltered Spark top-k."""
    idx = VectorServingIndex(layout)
    want = [
        r.vec_id
        for r in filtered_vector_topk(
            Catalog(spark, sf_dir).embeddings, entry_mod.QVEC, None, k=50
        ).collect()
    ]
    got = [g[0] for g in idx.topk(entry_mod.QVEC, k=50)]
    assert got == want


def test_serving_latency_under_sla(layout):
    """Warm serving reads must clear the reference's 100 ms p95 — this is
    the read path the SLA describes, not a Spark job per query."""
    idx = VectorServingIndex(layout)
    times = []
    for _ in range(50):
        t0 = time.perf_counter()
        idx.topk(entry_mod.QVEC, k=100, label=0, key_mod=10)
        times.append(time.perf_counter() - t0)
    times.sort()
    p95 = times[int(round(0.95 * len(times))) - 1]
    assert p95 < 0.1, f"serving p95 {p95*1000:.1f} ms"


def test_serving_empty_selection(layout):
    idx = VectorServingIndex(layout)
    assert idx.topk(entry_mod.QVEC, k=10, label=10**9) == []


def test_serving_tie_break_at_k_boundary(tmp_path):
    """Exact score ties at the k-th boundary must resolve by smallest id —
    the full (-score, id) order of the Spark query (parity contract)."""
    import pandas as pd

    # 30 identical vectors (all tie on any query) with shuffled ids
    ids = [17, 3, 25, 8, 1, 29, 12, 6, 22, 4, 19, 2, 27, 9, 5,
           13, 28, 7, 21, 10, 15, 26, 11, 23, 0, 18, 14, 24, 16, 20]
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [[1.0, 2.0]] * 30, "label": [0] * 30}
    )
    out = tmp_path / "layout" / "label=0"
    out.mkdir(parents=True)
    pdf[["vec_id", "embedding"]].to_parquet(out / "part.parquet")
    from external_benchmarks_spark.serving import VectorServingIndex

    idx = VectorServingIndex(str(tmp_path / "layout"))
    got = [g[0] for g in idx.topk([1.0, 0.0], k=10, label=0)]
    assert got == sorted(ids)[:10]


def test_serving_incremental_refresh_only_dirty_cells(spark, sf_dir, tmp_path):
    """After a delta append to ONE partition, refresh() must reload only
    that partition (signature-diff), and answers must match a fresh
    index built over the full layout."""
    from external_benchmarks_spark.pipeline.index import (
        append_to_index_layout,
        build_index_layout,
    )

    emb = Catalog(spark, sf_dir).embeddings
    layout = str(tmp_path / "srv_layout")
    build_index_layout(emb, layout, partition_col="label")
    idx = VectorServingIndex(layout)
    assert idx.refresh() == []  # clean layout: nothing to do

    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    delta = (
        emb.filter(F.col("label") == 3)
        .limit(5)
        .select(
            (F.col("vec_id") + mx + 1).alias("vec_id"),
            "embedding",
            F.lit(3).alias("label"),
        )
    )
    append_to_index_layout(delta, layout, partition_col="label")
    refreshed = idx.refresh()
    assert refreshed == [3]  # only the appended partition reloaded

    fresh = VectorServingIndex(layout)
    q = entry_mod.QVEC
    assert idx.topk(q, k=50, label=3) == fresh.topk(q, k=50, label=3)
    assert idx.topk(q, k=50) == fresh.topk(q, k=50)
    # forced refresh of an untouched partition is also exact
    assert idx.refresh(labels=[0]) == [0]
    assert idx.topk(q, k=20, label=0) == fresh.topk(q, k=20, label=0)


def _write_part(d, ids, list_col, row):
    import pandas as pd

    d.mkdir(parents=True, exist_ok=True)
    pd.DataFrame({"vec_id": ids, list_col: [row(i) for i in ids]}).to_parquet(
        d / f"part-{len(os.listdir(d))}.parquet"
    )


def _exact_layout(root):
    """(write(key, ids), partition dir of key, open()) for a
    label-partitioned exact layout."""
    part = lambda key: root / f"label={key}"
    write = lambda key, ids: _write_part(
        part(key), ids, "embedding", lambda i: [float(i), 1.0]
    )
    return write, part, lambda: VectorServingIndex(str(root))


def _pq_layout(root):
    """(write(key, ids), partition dir of key, open()) for a
    hand-written one-subspace, two-code PQ index."""
    import json

    from external_benchmarks_spark.serving import PQServingIndex

    root.mkdir(parents=True)
    (root / "_pq_meta.json").write_text(json.dumps({
        "metric": "cosine", "key_col": "vec_id", "payload_cols": [],
        "centroids": [[1.0, 0.0], [0.0, 1.0]],
        "codebooks": [[[1.0, 0.0], [0.0, 1.0]]],
    }))
    part = lambda key: root / "codes" / f"centroid_id={key}"
    write = lambda key, ids: _write_part(
        part(key), ids, "pq_codes", lambda i: [i % 2]
    )
    return write, part, lambda: PQServingIndex(str(root))


@pytest.mark.parametrize("make", [_exact_layout, _pq_layout], ids=["exact", "pq"])
def test_serving_refresh_drops_adds_and_forces(tmp_path, make):
    """Both serving indexes share one refresh: a deleted partition
    directory is dropped, a new one is picked up, an unchanged one is
    left alone, and a forced refresh([key]) reloads exactly that key."""
    import shutil

    write, part, open_index = make(tmp_path / "idx")
    for key, ids in ((0, [1, 2]), (1, [3]), (2, [4, 5])):
        write(key, ids)
    idx = open_index()
    arrays = idx.partitions if isinstance(idx, VectorServingIndex) else idx.cells
    held = lambda: {k: sorted(ids.tolist()) for k, (ids, _) in arrays.items()}
    assert held() == {0: [1, 2], 1: [3], 2: [4, 5]}

    shutil.rmtree(part(1))
    write(3, [6, 7])
    assert idx.refresh() == [3]
    assert held() == {0: [1, 2], 2: [4, 5], 3: [6, 7]}
    assert sorted(key for key, _ in idx.topk([1.0, 0.5], k=10)) == [
        1, 2, 4, 5, 6, 7
    ]

    before = dict(arrays)
    assert idx.refresh([2]) == [2]
    assert arrays[2] is not before[2]
    assert all(arrays[k] is before[k] for k in (0, 3))
    assert held() == {0: [1, 2], 2: [4, 5], 3: [6, 7]}
    assert idx.refresh() == []


def test_file_stream_query_server_bit_parity(spark, layout, tmp_path):
    """The streaming query server (rate/file readStream -> foreachBatch
    -> serving index) must answer every request bit-identically to a
    direct serving call — Spark only delivers requests, the serving
    tier computes."""
    from external_benchmarks_spark.streaming.query_server import (
        KEY_MODS,
        run_file_server,
    )

    reqs = [(i, i % 4, i % len(KEY_MODS)) for i in range(24)]
    req_dir = str(tmp_path / "requests")
    spark.createDataFrame(
        reqs, "req_id bigint, label int, key_mod_code int"
    ).repartition(3).write.parquet(req_dir)

    got = run_file_server(spark, layout, req_dir, entry_mod.QVEC, k=50)
    assert sorted(got) == [r[0] for r in reqs]
    idx = VectorServingIndex(layout)
    for req_id, label, code in reqs:
        want = idx.topk(entry_mod.QVEC, k=50, label=label, key_mod=KEY_MODS[code])
        assert got[req_id] == want, req_id


def test_ann_file_stream_server_bit_parity(spark, sf_dir, tmp_path):
    """The ANN form of the replayable query server: every request —
    pure-ADC and rerank alike — answers bit-identically to a direct
    PQServingIndex call over the same persisted index (which is itself
    parity-tested against the Catalyst plans in tests/test_pqindex.py).
    """
    import os

    from external_benchmarks_spark.catalog import Catalog
    from external_benchmarks_spark.pipeline.pqindex import build_pq_index
    from external_benchmarks_spark.serving import PQServingIndex
    from external_benchmarks_spark.streaming.query_server import (
        run_ann_file_server,
    )

    emb = Catalog(spark, sf_dir).embeddings
    root = str(tmp_path / "pq")
    build_pq_index(
        spark, emb, root, n_codes=16, m_subspaces=8, n_centroids=8,
        store_vectors=True,
    )
    # rerank NULL -> ADC ranking; non-NULL -> the refine tier
    reqs = [(0, 10, None), (1, 5, 40), (2, 20, None), (3, 15, 60)]
    req_dir = str(tmp_path / "ann_requests")
    spark.createDataFrame(
        reqs, "req_id bigint, k int, rerank int"
    ).repartition(2).write.parquet(req_dir)

    got = run_ann_file_server(spark, root, req_dir, entry_mod.QVEC, nprobe=3)
    assert sorted(got) == [r[0] for r in reqs]
    srv = PQServingIndex(root)
    for req_id, k, rerank in reqs:
        if rerank is None:
            want = srv.topk(entry_mod.QVEC, k=k, nprobe=3)
        else:
            want = srv.topk_rerank(entry_mod.QVEC, k=k, rerank=rerank, nprobe=3)
        assert got[req_id] == want, req_id


def test_ann_server_refresh_tracks_append_mid_stream(spark, sf_dir, tmp_path):
    """The LIVE form (r13 verdict #5/#6): an index append lands BETWEEN
    two micro-batches of one server run, and the post-append batch must
    answer from the maintained index (== a fresh post-append load),
    while the pre-append batch answered the original snapshot. The
    per-batch signature-gated refresh is what makes this pass — without
    it the server serves the load-time snapshot forever."""
    from external_benchmarks_spark.catalog import Catalog
    from external_benchmarks_spark.pipeline.pqindex import (
        append_pq_index,
        build_pq_index,
    )
    from external_benchmarks_spark.serving import PQServingIndex
    from external_benchmarks_spark.streaming.query_server import (
        run_ann_file_server,
    )

    emb = Catalog(spark, sf_dir).embeddings
    root = str(tmp_path / "pq")
    src = [str(tmp_path / "unused_src")]
    idx = build_pq_index(
        spark, emb.filter(F.col("vec_id") % 10 != 0), root,
        n_codes=16, m_subspaces=8, n_centroids=8, store_vectors=True,
        source_paths=src,
    )
    # pre-append snapshot answers, computed eagerly before anything moves
    pre = PQServingIndex(root)
    REQS = [(0, 10, None), (1, 8, 60), (2, 10, None), (3, 8, 60)]
    pre_ans = {
        rid: (
            pre.topk(entry_mod.QVEC, k=k, nprobe=3)
            if rr is None
            else pre.topk_rerank(entry_mod.QVEC, k=k, rerank=rr, nprobe=3)
        )
        for rid, k, rr in REQS
    }

    req_dir = str(tmp_path / "ann_requests")
    for pair in (REQS[:2], REQS[2:]):  # two part files -> two batches
        spark.createDataFrame(pair, "req_id bigint, k int, rerank int") \
            .coalesce(1).write.mode("append").parquet(req_dir)

    batches: list[tuple[int, list[int]]] = []

    def on_batch_done(batch_id, req_ids):
        batches.append((batch_id, req_ids))
        if len(batches) == 1:  # append lands between batch 0 and batch 1
            append_pq_index(
                spark, idx, emb.filter(F.col("vec_id") % 10 == 0),
                batch_id="delta0", source_paths=src,
            )

    got = run_ann_file_server(
        spark, root, req_dir, entry_mod.QVEC, nprobe=3,
        max_files_per_trigger=1, on_batch_done=on_batch_done,
    )
    assert len(batches) == 2, batches
    assert sorted(got) == [r[0] for r in REQS]
    post = PQServingIndex(root)  # fresh load of the appended index
    first_batch, second_batch = batches[0][1], batches[1][1]
    by_id = {rid: (k, rr) for rid, k, rr in REQS}
    for rid in first_batch:
        assert got[rid] == pre_ans[rid], f"req {rid}: pre-append mismatch"
    for rid in second_batch:
        k, rr = by_id[rid]
        want = (
            post.topk(entry_mod.QVEC, k=k, nprobe=3)
            if rr is None
            else post.topk_rerank(entry_mod.QVEC, k=k, rerank=rr, nprobe=3)
        )
        assert got[rid] == want, f"req {rid}: post-append mismatch"
        # the append must actually change at least one answer, or this
        # test proves nothing about refresh
    assert any(got[rid] != pre_ans[rid] for rid in second_batch), (
        "append did not change any served answer — test is vacuous"
    )


def test_ann_rate_server_sustains_load(spark, sf_dir, tmp_path):
    """Short live run of the rate-driven ANN server: requests flow to
    both tiers, and each tier's service p95 stays far under the 100 ms
    SLA even inside a busy test session."""
    from external_benchmarks_spark.catalog import Catalog
    from external_benchmarks_spark.pipeline.pqindex import build_pq_index
    from external_benchmarks_spark.streaming.query_server import (
        run_ann_rate_server,
    )

    emb = Catalog(spark, sf_dir).embeddings
    root = str(tmp_path / "pq")
    build_pq_index(
        spark, emb, root, n_codes=16, m_subspaces=8, n_centroids=8,
        store_vectors=True,
    )
    out = run_ann_rate_server(
        spark, root, entry_mod.QVEC, qps=10, duration_s=4.0,
        k=10, rerank=40, nprobe=3,
    )
    assert out["adc"]["n"] + out["rerank"]["n"] >= 10  # stream flowed
    assert out["adc"]["n"] >= 1 and out["rerank"]["n"] >= 1  # both tiers
    assert out["adc"]["p95_ms"] < 100
    assert out["rerank"]["p95_ms"] < 100
    # r15 backlog telemetry: half-split e2e populations cover every
    # served request, throughput is reported, and the saturation flag
    # is a bool (its VALUE is window-dependent in a busy test session;
    # the flat-halves claim is made by the bench record, not here)
    assert out["e2e_half1"]["n"] + out["e2e_half2"]["n"] == out["e2e"]["n"]
    assert out["served_per_s"] > 0
    assert isinstance(out["saturated"], bool)


def test_ann_rate_server_filtered(spark, sf_dir, tmp_path):
    """The rate stream in the reference's SLA shape (r15): every
    request pre-filters through the serving payload arrays; both tiers
    flow and stay under the 100 ms service bar."""
    from external_benchmarks_spark.catalog import Catalog
    from external_benchmarks_spark.pipeline.pqindex import build_pq_index
    from external_benchmarks_spark.streaming.query_server import (
        run_ann_rate_server,
    )

    emb = Catalog(spark, sf_dir).embeddings
    root = str(tmp_path / "pqf")
    build_pq_index(
        spark, emb, root, n_codes=16, m_subspaces=8, n_centroids=8,
        store_vectors=True, payload_cols=("label",),
    )
    out = run_ann_rate_server(
        spark, root, entry_mod.QVEC, qps=10, duration_s=4.0,
        k=10, rerank=40, nprobe=3, where={"label": [1, 3]},
    )
    assert out["adc"]["n"] >= 1 and out["rerank"]["n"] >= 1
    assert out["adc"]["p95_ms"] < 100
    assert out["rerank"]["p95_ms"] < 100


def test_rate_stream_query_server_sustains_load(spark, layout):
    """Short live run of the rate-stream server: requests flow, every
    one is answered, and the serving-side p95 stays far under the
    100 ms SLA even inside a busy test session."""
    from external_benchmarks_spark.streaming.query_server import run_rate_server

    out = run_rate_server(
        spark, layout, entry_mod.QVEC, qps=10, duration_s=4.0, k=50
    )
    assert out["service"]["n"] >= 10  # stream actually flowed
    assert out["service"]["p95_ms"] < 100
    assert out["e2e"]["n"] == out["service"]["n"]
