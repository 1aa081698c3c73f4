"""Long-lived streaming query server over the serving-tier index.

Closes the reference's serving promise (reference README.md:62-70: 100 ms
read p95 under a sustained 20 QPS stream) at the architecture the SLA
describes: query REQUESTS arrive as a Structured Streaming source (rate
stream for load generation, file stream for replayable request logs), a
``foreachBatch`` loop drains each micro-batch on the driver, and every
request is answered by ``serving.VectorServingIndex`` — the memory-mapped
copy of the Spark-built layout — WITHOUT launching a Spark job per query.
Spark's role per query is only request delivery; the per-query work is
one BLAS matvec over the pruned partition, so the p95 is bounded by the
serving tier, not the ~0.2-0.3 s job-scheduling floor (BASELINE.md:50-68).

Two latency views are reported, both honest:

- ``service_*``: time inside ``topk`` per request — the serving tier's
  own latency (what a real fleet's p95 is built from).
- ``e2e_*``: request-timestamp -> answer, which additionally pays the
  micro-batch trigger cadence. This is the end-to-end number a client
  of THIS loop sees; a production server would take requests off a
  socket instead and see only ``service_*`` plus network.

Scale shape: the stream is unbounded and state is O(1) per request
(latency scalars); the serving index shards by partition key across a
fleet exactly like the directory layout (serving.py module docstring).
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from external_benchmarks_spark.serving import VectorServingIndex

# The four bench selectivity templates (README.md:78-83 analogs):
# label == L alone (10%), then key % {10, 100, 1000} refinements.
KEY_MODS = (None, 10, 100, 1000)


def _percentiles(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    s = sorted(xs)
    at = lambda p: s[min(len(s) - 1, max(0, int(round(p * len(s))) - 1))]
    return {
        "n": len(s),
        "p50_ms": round(at(0.50) * 1000, 3),
        "p95_ms": round(at(0.95) * 1000, 3),
        "max_ms": round(s[-1] * 1000, 3),
    }


def _rate(spark, qps: int):
    """A ``rate`` readStream: ``qps`` rows/sec of (timestamp, value)."""
    return spark.readStream.format("rate").option("rowsPerSecond", qps).load()


def _every(ms: int) -> dict:
    return {"processingTime": f"{ms} milliseconds"}


def _run(stream_df, handle, trigger: dict, duration_s: float | None) -> None:
    """The one server loop of this module: start ``stream_df`` into
    ``foreachBatch(handle)`` under a fresh temp checkpoint, poll for
    ``duration_s`` (or await an availableNow drain when None), then
    ALWAYS stop the query and remove its checkpoint. The rmtree sits in
    its own finally, so a failed query (awaitTermination re-raises the
    streaming exception) cannot leak the checkpoint dir."""
    ckpt = os.path.join(
        tempfile.gettempdir(), f"ebs_qserver_ckpt_{uuid.uuid4().hex[:8]}"
    )
    q = (
        stream_df.writeStream.foreachBatch(handle)
        .trigger(**trigger)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        if duration_s is None:
            q.awaitTermination()  # availableNow: stops when drained
        else:
            deadline = time.time() + duration_s
            while time.time() < deadline and q.isActive:
                time.sleep(0.1)
    finally:
        try:
            if q.isActive:
                q.stop()
            q.awaitTermination()
        finally:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)


def _serve_stream(
    stream_df,
    sidx: VectorServingIndex,
    qvec,
    k: int,
    n_labels: int,
    trigger: dict,
    duration_s: float | None,
    results: dict | None = None,
):
    """Drain ``stream_df`` rows (cols: ``value`` request seq, optional
    ``timestamp``/``req_id``/``label``/``key_mod_code``) through the
    serving index. Returns (service_times, e2e_times)."""
    service: list[float] = []
    e2e: list[float] = []

    def handle(batch_df, _batch_id):
        rows = batch_df.collect()  # <= qps x trigger-interval rows
        for r in rows:
            d = r.asDict()
            seq = int(d.get("req_id", d.get("value", 0)) or 0)
            label = int(d["label"]) if d.get("label") is not None else seq % n_labels
            code = d.get("key_mod_code")
            key_mod = KEY_MODS[
                int(code) if code is not None else seq % len(KEY_MODS)
            ]
            t0 = time.perf_counter()
            out = sidx.topk(qvec, k=k, label=label, key_mod=key_mod)
            service.append(time.perf_counter() - t0)
            ts = d.get("timestamp")
            if ts is not None:
                e2e.append(max(0.0, time.time() - ts.timestamp()))
            if results is not None and "req_id" in d:
                results[seq] = out

    _run(stream_df, handle, trigger, duration_s)
    return service, e2e


def run_rate_server(
    spark,
    layout_dir: str,
    qvec,
    qps: int = 20,
    duration_s: float = 60.0,
    k: int = 100,
    n_labels: int = 4,
    trigger_ms: int = 200,
) -> dict:
    """Load-generating form: a ``rate`` readStream at ``qps`` rows/sec
    feeds the serving loop for ``duration_s``. Requests cycle through
    the four selectivity templates x ``n_labels`` partitions."""
    service, e2e = _serve_stream(
        _rate(spark, qps),
        VectorServingIndex(layout_dir),
        qvec,
        k,
        n_labels,
        _every(trigger_ms),
        duration_s,
    )
    return {
        "qps": qps,
        "duration_s": duration_s,
        "service": _percentiles(service),
        "e2e": _percentiles(e2e),
    }


def rate_delivery_floor(
    spark,
    qps: int = 20,
    duration_s: float = 20.0,
    trigger_ms: int = 50,
) -> dict:
    """EMPTY-BATCH CONTROL for the e2e numbers: the identical rate
    stream + foreachBatch loop with ZERO per-request work — what it
    measures is purely Spark's micro-batch delivery latency (offset
    planning + the per-batch collect job, which pays the local job
    floor documented in BASELINE.md:50-68). Measured on this box:
    p50 ~0.8 s, p95 ~1.25 s, single-cycle min ~0.25 s — bit-for-bit
    the same distribution as the with-work e2e (service work is ~2.5 ms
    against an ~800 ms delivery floor), which is the evidence that the
    stream server's e2e latency is micro-batch delivery, not serving.
    A production deployment takes requests off a socket and sees
    ``service_*`` plus network; THIS loop's e2e is bounded below by
    ~2x the per-batch job time regardless of trigger interval
    (measured: trigger 200 ms -> e2e p50 864 ms; trigger 50 ms ->
    698 ms — the floor does not follow the trigger)."""
    lat: list[float] = []

    def handle(batch_df, _batch_id):
        rows = batch_df.collect()
        now = time.time()
        for r in rows:
            lat.append(max(0.0, now - r["timestamp"].timestamp()))

    _run(_rate(spark, qps), handle, _every(trigger_ms), duration_s)
    return _percentiles(lat)


def run_ann_rate_server(
    spark,
    index_root: str,
    qvec,
    qps: int = 20,
    duration_s: float = 20.0,
    k: int = 50,
    rerank: int = 250,
    nprobe: int | None = None,
    trigger_ms: int = 200,
    where: dict | None = None,
) -> dict:
    """Load-generating LIVE form of the ANN server (r14): a ``rate``
    readStream at ``qps`` feeds the PQ serving index for
    ``duration_s``; requests alternate between the pure-ADC tier and
    the recall-passing rerank tier, the index refreshes per micro-batch
    (signature-gated), and the report carries each tier's own service
    percentiles — the reference's ANN read SLA (README.md:73-76)
    measured as a sustained stream, not a drain. ``e2e`` additionally
    pays the micro-batch delivery floor (see rate_delivery_floor).

    Backlog evidence (r15, for the 100/200 QPS tiers): ``e2e_half1`` /
    ``e2e_half2`` split the e2e population at the run's midpoint by
    request timestamp — a server falling behind shows half2 ≫ half1
    (arrival-to-service lag compounds monotonically once batches
    outpace the trigger); flat halves + ``served_per_s`` ≈ qps is the
    no-backlog signature. ``saturated`` flags half2's p50 exceeding
    half1's by more than one trigger interval.

    ``where`` (r15) runs the whole stream in the FILTERED read shape —
    the reference's actual SLA row is filter + dot-product + LIMIT at
    20 QPS (README.md:78-83) — both tiers pre-filtering through the
    serving payload arrays (see PQServingIndex.topk(where=))."""
    from external_benchmarks_spark.serving import PQServingIndex

    srv = PQServingIndex(index_root)
    adc_t: list[float] = []
    rr_t: list[float] = []
    e2e: list[tuple[float, float]] = []  # (arrival ts, lag)
    t_start = time.time()

    def handle(batch_df, _batch_id):
        srv.refresh()
        for r in batch_df.collect():
            seq = int(r["value"])
            t0 = time.perf_counter()
            if seq % 2 == 0:
                srv.topk(qvec, k=k, nprobe=nprobe, where=where)
                adc_t.append(time.perf_counter() - t0)
            else:
                srv.topk_rerank(
                    qvec, k=k, rerank=rerank, nprobe=nprobe, where=where
                )
                rr_t.append(time.perf_counter() - t0)
            ts = r["timestamp"].timestamp()
            e2e.append((ts, max(0.0, time.time() - ts)))

    _run(_rate(spark, qps), handle, _every(trigger_ms), duration_s)
    wall = max(time.time() - t_start, 1e-9)
    mid = min((ts for ts, _ in e2e), default=0.0) + (
        (max((ts for ts, _ in e2e), default=0.0)
         - min((ts for ts, _ in e2e), default=0.0)) / 2
    )
    h1 = _percentiles([lag for ts, lag in e2e if ts <= mid])
    h2 = _percentiles([lag for ts, lag in e2e if ts > mid])
    return {
        "qps": qps,
        "duration_s": duration_s,
        "served_per_s": round(len(e2e) / wall, 1),
        "adc": _percentiles(adc_t),
        "rerank": _percentiles(rr_t),
        "e2e": _percentiles([lag for _, lag in e2e]),
        "e2e_half1": h1,
        "e2e_half2": h2,
        "saturated": bool(
            h1.get("n") and h2.get("n")
            and h2["p50_ms"] - h1["p50_ms"] > trigger_ms
        ),
    }


def run_ann_file_server(
    spark,
    index_root: str,
    request_dir: str,
    qvec,
    nprobe: int | None = None,
    max_files_per_trigger: int | None = None,
    on_batch_done=None,
) -> dict[int, list]:
    """ANN form of the replayable query server (r13): drain a directory
    of parquet request files (schema ``req_id bigint, k int, rerank
    int`` — ``rerank`` NULL answers pure-ADC ranking, non-NULL answers
    the recall-passing refine tier) against ``serving.PQServingIndex``
    over a persisted PQ index. Per request the work is the in-process
    LUT/mmap path — no Spark job; Spark only delivers requests. Returns
    {req_id: topk result}, the form the live test uses to assert
    bit-parity with direct serving calls (which are themselves
    parity-tested against the Catalyst plans). This is the reference's
    ANN read SLA (README.md:73-76) served from a stream: ~0.5 ms ADC /
    ~2-3 ms rerank per request against a 1 s micro-batch cadence.

    The serving index refreshes per micro-batch (signature-gated), so
    the server is the LIVE form: an append/compaction landing between
    batches is served from the next batch on. ``max_files_per_trigger``
    splits the availableNow drain into multiple micro-batches;
    ``on_batch_done(batch_id, req_ids)`` fires after each batch — the
    refresh-under-maintenance test uses both to land an index append
    between two batches of one run."""
    from external_benchmarks_spark.serving import PQServingIndex

    srv = PQServingIndex(index_root)
    results: dict[int, list] = {}

    def handle(batch_df, _batch_id):
        # refresh per micro-batch so a long-running server tracks the
        # maintained index across append/compaction swaps instead of
        # serving the load-time snapshot forever: signature-gated, so
        # an unchanged index costs one stat pass and a dirty one
        # reloads only its dirty cells (0.04-0.11 s in the soak)
        srv.refresh()
        batch_reqs = []
        for r in batch_df.collect():
            if r["rerank"] is None:
                out = srv.topk(qvec, k=int(r["k"]), nprobe=nprobe)
            else:
                out = srv.topk_rerank(
                    qvec, k=int(r["k"]), rerank=int(r["rerank"]), nprobe=nprobe
                )
            results[int(r["req_id"])] = out
            batch_reqs.append(int(r["req_id"]))
        if on_batch_done is not None:
            on_batch_done(int(_batch_id), batch_reqs)

    reader = spark.readStream.schema("req_id bigint, k int, rerank int")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    _run(reader.parquet(request_dir), handle, {"availableNow": True}, None)
    return results


def run_file_server(
    spark,
    layout_dir: str,
    request_dir: str,
    qvec,
    k: int = 100,
) -> dict[int, list]:
    """Replayable form: drain a directory of parquet request files
    (schema ``req_id bigint, label int, key_mod_code int``) with an
    availableNow trigger and return {req_id: topk result} — the form
    the live test uses to assert bit-parity with direct serving calls.
    """
    stream = spark.readStream.schema(
        "req_id bigint, label int, key_mod_code int"
    ).parquet(request_dir)
    results: dict[int, list] = {}
    _serve_stream(
        stream,
        VectorServingIndex(layout_dir),
        qvec,
        k,
        n_labels=1,
        trigger={"availableNow": True},
        duration_s=None,
        results=results,
    )
    return results
