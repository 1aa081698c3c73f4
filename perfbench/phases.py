"""The phases of one benchmark run, in the order they run, each
timed from outside the library through its public functions:

- curate warm-up: the first pass over the curate entries (set-up)
- build:  make_products_fixture -> embed_fields -> build_index_layout
          -> build_pq_index -> dataset_report
- rw:     ANN reads beside a writer that re-embeds and upserts, for a
          fixed RW_SECONDS of arrivals
- curate: registry entries, each forced by a full-output noop write
- read:   the serving tier alone, with the Spark session stopped, for
          ``--seconds``

Every phase appends its output checks to ``run.checks`` and its
operation counts to ``run.attempted`` / ``run.failed``.
"""

from __future__ import annotations

import gc
import os
import threading
import time

import numpy as np

from perfbench import inputs as I
from perfbench.stats import mean_recall, open_loop, recall, summarize

# Registry entries of the curate phase: one per operator family that
# fits the run's time budget (dedup, quality filters, language id, LSH,
# sessionization, TPC-H aggregate and join).
CURATE_ENTRIES = (
    "exact_dedup", "gopher_rules", "lang_id", "minhash_lsh_pairs",
    "sessionize", "tpch_q1", "tpch_q9",
)
PAYLOAD = ["cat", "tier", "vol"]
SERVING_LOADS = 3  # serving-index loads in the read phase's set-up; the median counts


def _rss_mb() -> float:
    """Resident set size of this process, after returning freed heap and
    Arrow pool pages to the OS, so that only memory in use is counted."""
    import ctypes

    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmRSS in /proc/self/status")


def resident_main(layout: str, pq_root: str) -> None:
    """Print the RSS that loading each serving index adds to a fresh
    process, as JSON. Run in a child so that the figure does not depend
    on what the benchmark's own process allocated and freed before."""
    import json

    import pyarrow.parquet  # noqa: F401  (imports the loads make, kept out of the figure)

    import external_benchmarks_spark.pipeline.pqindex  # noqa: F401
    from external_benchmarks_spark.serving import PQServingIndex, VectorServingIndex

    import pyarrow as pa

    pa.jemalloc_set_decay_ms(0)  # freed Arrow pages leave at once, not after a delay
    m0 = _rss_mb()
    exact = VectorServingIndex(layout, key_col="vec_id", partition_col="label")
    m1 = _rss_mb()
    ann = PQServingIndex(pq_root)
    m2 = _rss_mb()
    print(json.dumps({"exact_mb": m1 - m0, "pq_mb": m2 - m1}))
    del exact, ann


def resident(layout: str, pq_root: str) -> dict:
    import json
    import subprocess
    import sys

    code = "import sys; from perfbench.phases import resident_main; resident_main(*sys.argv[1:])"
    out = subprocess.run([sys.executable, "-c", code, layout, pq_root], check=True,
                         capture_output=True, text=True, timeout=120,
                         cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return json.loads(out.stdout.strip().splitlines()[-1])


def quiesce() -> None:
    """Collect, then freeze every object alive now out of the cyclic
    garbage collector. Called before the serving indexes are loaded:
    what the benchmark holds by then (Spark's Python side, pandas, the
    generated inputs) is not the serving tier's state, and a full
    collection walking it would charge its cost to whichever timed
    request happened to trigger it. The serving tier's own objects, and
    garbage made while timing, are collected as usual."""
    gc.collect()
    gc.freeze()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


class Run:
    def __init__(self, spark, tracer, work: str, seed: int, workload: str, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.n_corpus = I.WORKLOADS[workload]
        self.seconds = seconds
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.context: dict = {}
        self.checks: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.paths = {
            name: os.path.join(work, name)
            for name in ("fixture", "products", "layout", "pq", "table")
        }

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"# check failed: {name} {detail}", flush=True)

    def timed(self, name: str, fn, spark: bool = True, parent: int | None = None):
        """Call ``fn`` inside a span; return (result, seconds)."""
        t0 = time.perf_counter()
        with self.tracer.span(name, parent=parent, spark=spark):
            out = fn()
        return out, time.perf_counter() - t0

    # ------------------------------------------------------------------ build
    def build(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from external_benchmarks_spark.pipeline.dataset import make_products_fixture
        from external_benchmarks_spark.pipeline.embedding import embed_fields
        from external_benchmarks_spark.pipeline.index import build_index_layout
        from external_benchmarks_spark.pipeline.pqindex import build_pq_index
        from external_benchmarks_spark.pipeline.report import dataset_report

        spark, p = self.spark, self.paths
        n_all = self.n_corpus + I.N_QUERIES
        cat_map = F.create_map(*[x for name, c in I.CAT.items() for x in (F.lit(name), F.lit(c))])

        def code(col, names):
            expr = F.lit(-1)
            for i, name in enumerate(names):
                expr = F.when(F.col(col) == name, F.lit(i)).otherwise(expr)
            return expr.cast("int")

        def fixture():
            fx = make_products_fixture(spark, n=n_all, seed=self.seed).drop("embedding")
            # a unique key in generator order (parent_asin is not unique)
            order = Window.orderBy(F.monotonically_increasing_id())
            fx.select(
                (F.row_number().over(order) - 1).cast("long").alias("key"),
                *fx.columns,
                F.coalesce(cat_map[F.col("main_category")], F.lit(I.NO_CATEGORY)).alias("cat"),
                code("rating_tier", I.TIERS).alias("tier"),
                code("review_volume", I.VOLUMES).alias("vol"),
            ).write.mode("overwrite").parquet(p["fixture"])

        def embed():
            embed_fields(spark.read.parquet(p["fixture"])).write.mode("overwrite").parquet(
                p["products"])

        corpus = lambda: spark.read.parquet(p["products"]).where(F.col("key") < self.n_corpus)

        def layout():
            build_index_layout(
                corpus().select(F.col("key").alias("vec_id"), "embedding",
                                F.col("cat").alias("label")),
                p["layout"], partition_col="label", sort_cols=["vec_id"],
            )

        def pqindex():
            build_pq_index(
                spark, corpus().select(F.col("key").alias("vec_id"), "embedding", *PAYLOAD),
                p["pq"], store_vectors=True, payload_cols=PAYLOAD,
            )

        def report():
            return dataset_report(
                corpus(), numeric_cols=["average_rating", "rating_number", "price"],
                cat_cols=["main_category", "rating_tier", "review_volume"],
                text_cols=["title"], emb_col="embedding", path=p["products"],
            )

        with self.tracer.span("build", spark=True):
            steps = {}
            _, steps["fixture"] = self.timed("dataset.make_products_fixture", fixture)
            _, steps["embed"] = self.timed("embedding.embed_fields", embed)
            _, steps["layout"] = self.timed("index.build_index_layout", layout)
            _, steps["pq"] = self.timed("pqindex.build_pq_index", pqindex)
            rep, steps["report"] = self.timed("report.dataset_report", report)
        self.attempted += len(steps)
        wall = sum(steps.values())
        self.metrics["build_rows_per_s"] = (self.n_corpus / wall, "1/s")
        self.layer.update({
            "dataset.fixture_s": (steps["fixture"], "s"),
            "embedding.embed_s": (steps["embed"], "s"),
            "embedding.rows_per_s": (n_all / steps["embed"], "1/s"),
            "index.layout_s": (steps["layout"], "s"),
            "index.layout_bytes": (dir_bytes(p["layout"]), "B"),
            "pqindex.build_s": (steps["pq"], "s"),
            "pqindex.bytes": (dir_bytes(p["pq"]), "B"),
            "report.report_s": (steps["report"], "s"),
        })
        import pyarrow.dataset as ds

        n_layout = ds.dataset(p["layout"], format="parquet", partitioning="hive").count_rows()
        self.check("build.layout_rows", n_layout == self.n_corpus, f"{n_layout}")
        self.check("build.report_rows", rep["total_records"] == self.n_corpus,
                   f"{rep['total_records']}")
        self._load_generated()

    def _load_generated(self) -> None:
        """The benchmark's own copy of what it generated: payload codes,
        float32 embeddings and text rows by key, for the oracle, the
        output checks and the update rows."""
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.paths["products"]).sort_by("key")
        keys = tbl.column("key").to_numpy()
        if not np.array_equal(keys, np.arange(len(keys))):
            raise RuntimeError("product keys are not 0..n-1")
        emb = tbl.column("embedding").combine_chunks()
        mat = emb.values.to_numpy(zero_copy_only=False).reshape(len(keys), -1)
        n = self.n_corpus
        self.corpus = mat[:n].astype(np.float64)
        self.queries = mat[n:].astype(np.float64)
        self.codes = {c: tbl.column(c).to_numpy()[:n] for c in PAYLOAD}
        self.text_rows = tbl.drop(["embedding"]).slice(0, n).to_pandas()
        from pyspark.sql.types import LongType, StructField, StructType

        fixture = self.spark.read.parquet(self.paths["fixture"]).schema
        self.update_schema = StructType([*fixture.fields, StructField("op_ts", LongType())])
        self.context["dim"] = int(mat.shape[1])

    def template_mask(self, tpl: dict) -> np.ndarray:
        mask = np.ones(self.n_corpus, dtype=bool)
        for col, vals in tpl.items():
            mask &= np.isin(self.codes[col], vals)
        return mask

    def oracle(self, q: int, mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Brute-force filtered top-K: (ids, scores) in (-score, id) order."""
        ids = np.nonzero(mask)[0]
        scores = self.corpus[ids] @ self.queries[q]
        order = np.lexsort((ids, -scores))[: I.K]
        return ids[order], scores[order]

    # ----------------------------------------------------------------- curate
    def curate_warmup(self, data_dir: str, expected_rows: dict) -> None:
        """The first pass over the entries, timed as set-up. The first
        execution of an entry in a fresh JVM is mostly plan compilation
        and JIT warm-up, whose cost swings with the host; counting it in
        set-up keeps work moved into it visible. The entries run four at
        a time, which overlaps their compilation."""
        t0 = time.perf_counter()
        with self.tracer.span("curate.warmup", spark=True) as warmup:
            rows, _ = self._curate_pass(data_dir, "curate.warmup.", threads=4, parent=warmup)
        self.setup_s += time.perf_counter() - t0
        self.attempted += len(CURATE_ENTRIES)
        self._check_curate_rows("curate.warmup_rows", rows, expected_rows)

    def curate(self, data_dir: str, expected_rows: dict) -> None:
        """The timed pass, one entry at a time."""
        with self.tracer.span("curate", spark=True):
            rows, times = self._curate_pass(data_dir, "curate.")
        self.attempted += len(CURATE_ENTRIES)
        self.metrics["curate_s"] = (sum(times.values()), "s")
        for name, dt in times.items():
            self.layer[f"curate.{name}_s"] = (dt, "s")
        self._check_curate_rows("curate.row_counts", rows, expected_rows)
        self.context["curate_rows"] = rows

    def _check_curate_rows(self, check: str, rows: dict, expected_rows: dict) -> None:
        bad = {n: (r, expected_rows.get(n)) for n, r in rows.items() if r != expected_rows.get(n)}
        self.check(check, not bad, f"{bad}")

    def _curate_pass(self, data_dir: str, span_prefix: str, threads: int = 1,
                     parent: int | None = None) -> tuple[dict, dict]:
        """Force each entry once, ``threads`` at a time (one: in this
        thread); return each entry's output rows and seconds. ``parent``
        links spans made on pool threads to the caller's span."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        registry = __spark_entry__.queries()

        def one(name):
            obs = Observation(name)

            def force():
                df = registry[name](self.spark, data_dir)
                (df.observe(obs, F.count(F.lit(1)).alias("rows"))
                 .write.format("noop").mode("overwrite").save())

            _, dt = self.timed(span_prefix + name, force, parent=parent)
            return name, obs.get["rows"], dt

        if threads == 1:
            done = [one(name) for name in CURATE_ENTRIES]
        else:
            with ThreadPoolExecutor(threads) as pool:
                done = list(pool.map(one, CURATE_ENTRIES))
        return {n: r for n, r, _ in done}, {n: dt for n, _, dt in done}

    # --------------------------------------------------------------------- rw
    def rw(self) -> None:
        from pyspark.sql import functions as F

        from external_benchmarks_spark.pipeline.embedding import embed_fields
        from external_benchmarks_spark.serving import PQServingIndex
        from external_benchmarks_spark.streaming.upsert import UpsertTable

        spark, p, tr = self.spark, self.paths, self.tracer
        t0 = time.perf_counter()
        table = UpsertTable(spark, p["table"], key_col="key")
        base = spark.read.parquet(p["products"]).where(F.col("key") < self.n_corpus)
        with tr.span("upsert.init", spark=True):
            table.init(base.withColumn("op_ts", F.lit(0).cast("long")))
        quiesce()
        with tr.span("serving.pq.load"):
            pq_index = PQServingIndex(p["pq"])
        tpl = I.TEMPLATES[I.RW_TEMPLATE]
        pq_index.topk_rerank(self.queries[0], k=I.K, where=tpl)  # first touch of the mmaps
        table_cols = base.columns + ["op_ts"]
        # a long-lived writer is warm: one unchanged row through the whole
        # write path before timing, so the first timed commit is not the
        # one that compiles its plans
        row = self.text_rows.iloc[0]
        self._commit(table, [I.Update(0.0, int(row["key"]), row["title"], 0)], table_cols,
                     embed_fields, span="upsert.warmup")
        self.setup_s += time.perf_counter() - t0

        updates = I.update_schedule(self.seed, I.RW_SECONDS, self.n_corpus)
        reads = I.rw_reads(self.seed, int(I.RW_SECONDS * I.RW_READ_QPS))
        commits: list[dict] = []
        acked: dict[int, int] = {}
        done_at: dict[int, float] = {}
        write_errors: list[str] = []

        def writer(t_start: float) -> None:
            j = 0
            while j < len(updates):
                now = time.perf_counter()
                due = t_start + updates[j].due
                if due > now:
                    time.sleep(due - now)
                    continue
                batch = []
                while j < len(updates) and t_start + updates[j].due <= now:
                    batch.append(updates[j])
                    j += 1
                try:
                    commits.append(self._commit(table, batch, table_cols, embed_fields))
                except Exception as exc:  # counted as failed updates
                    write_errors.append(repr(exc))
                    continue
                end = time.perf_counter()
                for u in batch:
                    done_at[u.op_ts] = end
                    acked[u.key] = u.op_ts
                    tr.record("upsert.update", t_start + u.due, end, ref=u.op_ts,
                              parent=commits[-1]["span"])

        def read(i: int):
            r = reads[i]
            return pq_index.topk_rerank(self.queries[r.query], k=I.K, where=tpl)

        t_start = time.perf_counter() + 0.05
        wt = threading.Thread(target=writer, args=(t_start,), name="perfbench-writer")
        with tr.span("rw"):
            wt.start()
            shots = open_loop(read, I.RW_READ_QPS, I.RW_SECONDS, t0=t_start)
            wt.join()

        lat_w = [done_at[u.op_ts] - (t_start + u.due) if u.op_ts in done_at else float("inf")
                 for u in updates]
        w = summarize(lat_w)
        r = summarize([s.latency for s in shots])
        self.metrics["write_p50_s"] = (w["p50"], "s")
        self.metrics["write_p99_s"] = (w["tail"], "s")
        self.metrics["rw_read_p50_ms"] = (1e3 * r["p50"], "ms")
        self.metrics["rw_read_p99_ms"] = (1e3 * r["tail"], "ms")
        self.context["rw"] = {"writes": w, "reads": r, "commits": len(commits),
                              "errors": write_errors[:3]}
        self.attempted += len(updates) + len(shots)
        self.failed += sum(1 for x in lat_w if x == float("inf")) + sum(not s.ok for s in shots)
        for s in shots:
            tr.record("serving.pq.topk_rerank", s.start, s.end, ref=f"rw-{s.i}")
        self._check_ann(shots, reads, "rw")
        self.check("rw.reads_ok", all(s.ok for s in shots),
                   f"{sum(not s.ok for s in shots)} reads failed")
        self.check("rw.writes_ok", not write_errors and len(done_at) == len(updates),
                   f"{len(updates) - len(done_at)} updates not acknowledged; {write_errors[:1]}")

        late = sorted(s.late for s in shots)
        live = self._live_bytes(table)
        total = dir_bytes(p["table"])
        row_bytes = live / self.n_corpus
        self.layer.update({
            "rw.read_late_ms": (1e3 * late[len(late) // 2], "ms"),
            "upsert.prepare_s": (_median([c["prepare_s"] for c in commits]), "s"),
            "upsert.commit_s": (_median([c["commit_s"] for c in commits]), "s"),
            "upsert.rows_per_commit": (len(done_at) / max(1, len(commits)), "count"),
            "upsert.buckets_touched": (_median([c["buckets"] for c in commits]), "count"),
            "upsert.write_amp": (
                sum(c["bytes"] for c in commits) / (row_bytes * max(1, len(done_at))), "ratio"),
            "upsert.space_amp": (total / live, "ratio"),
        })

        # acknowledged writes are durable: a fresh table over the same root
        # returns each acknowledged key's last op_ts
        fresh = UpsertTable(spark, p["table"], key_col="key")
        got = {
            r["key"]: r["op_ts"]
            for r in fresh.read().where(F.col("key").isin(list(acked)))
            .select("key", "op_ts").collect()
        }
        self.check("rw.acked_durable", got == acked,
                   f"{len(set(got.items()) ^ set(acked.items()))} keys differ")
        table.vacuum()  # bounded disk; outside every timing

    def _commit(self, table, batch, table_cols, embed_fields, span="upsert.batch") -> dict:
        import pandas as pd

        rows = self.text_rows.iloc[[u.key for u in batch]].copy()
        rows["title"] = [u.title for u in batch]
        rows["combined_text"] = [
            " ".join(x for x in (t, d, f) if x is not None)
            for t, d, f in zip(rows["title"], rows["description"], rows["features"])
        ]
        rows["op_ts"] = [u.op_ts for u in batch]
        tr = self.tracer
        before = set(os.listdir(table.root))
        with tr.span(span, ref=len(batch), spark=True) as bid:
            t0 = time.perf_counter()
            with tr.span("embedding.embed_fields", spark=True):
                schema = self.update_schema
                sdf = self.spark.createDataFrame(
                    pd.DataFrame(rows[schema.fieldNames()]), schema=schema)
                upd = embed_fields(sdf).select(*table_cols)
            with tr.span("upsert.prepare", spark=True):
                prepared = table.prepare(upd)
            t1 = time.perf_counter()
            with tr.span("upsert.upsert_prepared", spark=True):
                table.upsert_prepared(prepared)
            t2 = time.perf_counter()
        new = sorted(set(os.listdir(table.root)) - before)
        small = prepared.get("small")
        return {
            "span": bid,
            "prepare_s": t1 - t0,
            "commit_s": t2 - t1,
            "buckets": len(small[1]) if small else float("nan"),
            "bytes": sum(dir_bytes(os.path.join(table.root, d)) for d in new),
        }

    def _live_bytes(self, table) -> int:
        """Bytes of the bucket versions the table's manifest points at
        (the layout its module docstring documents)."""
        import json

        with open(os.path.join(table.root, "_manifest.json")) as fh:
            manifest = json.load(fh)
        return sum(dir_bytes(os.path.join(table.root, f"v={v}", f"bucket={b}"))
                   for b, v in manifest.items())

    def _check_ann(self, shots, reads, phase: str) -> list[float]:
        """Every ANN hit satisfies its template; returns recall per read,
        0 for a failed read."""
        bad, recalls = 0, []
        for s in shots:
            if not s.ok:
                recalls.append(0.0)
                continue
            r = reads[s.i]
            mask = self.template_mask(I.TEMPLATES[r.template])
            hits = [k for k, _ in s.result]
            bad += sum(1 for k in hits if not mask[k])
            rc = recall(hits, self.oracle(r.query, mask)[0].tolist())
            if rc is not None:
                recalls.append(rc)
        self.check(f"{phase}.ann_where", bad == 0, f"{bad} hits outside their filter")
        return recalls

    # ------------------------------------------------------------------- read
    def read(self) -> None:
        from external_benchmarks_spark.serving import PQServingIndex, VectorServingIndex

        tr, p = self.tracer, self.paths
        labels = sorted({I.CAT[name] for name in I.EXACT_LABELS})
        quiesce()
        # set-up, repeated: its median is the figure, the last indexes serve
        loads = []
        for _ in range(SERVING_LOADS):
            exact = ann = None
            t0 = time.perf_counter()
            with tr.span("serving.exact.load"):
                exact = VectorServingIndex(p["layout"], key_col="vec_id", partition_col="label")
            t1 = time.perf_counter()
            with tr.span("serving.pq.load"):
                ann = PQServingIndex(p["pq"])
            t2 = time.perf_counter()
            for name in I.ANN_TEMPLATES:  # first touch of the mmaps
                ann.topk_rerank(self.queries[0], k=I.K, where=I.TEMPLATES[name])
            for label in labels:
                exact.topk(self.queries[0], k=I.K, label=label)
            loads.append((time.perf_counter() - t0, t1 - t0, t2 - t1))
        total, exact_load, pq_load = sorted(loads)[len(loads) // 2]
        self.setup_s += total
        mem = resident(p["layout"], p["pq"])
        self.metrics["serve_rss_mb"] = (mem["exact_mb"] + mem["pq_mb"], "MB")

        reads = I.read_mix(self.seed, int(self.seconds * I.READ_QPS))
        adc: list[float] = []
        rerank_cost: list[float] = []

        def request(i: int):
            r = reads[i]
            q = self.queries[r.query]
            if r.kind == "exact":
                return exact.topk(q, k=I.K, label=I.CAT[r.template])
            return ann.topk_rerank(q, k=I.K, where=I.TEMPLATES[r.template])

        shots = open_loop(request, I.READ_QPS, self.seconds, t0=time.perf_counter() + 0.05)
        if tr.enabled:
            # the candidate stage on its own, after the timed loop so it
            # does not delay the schedule
            for s in shots:
                r = reads[s.i]
                if r.kind == "ann" and s.ok:
                    q = self.queries[r.query]
                    a = time.perf_counter()
                    ann.topk(q, k=I.RERANK, where=I.TEMPLATES[r.template])
                    adc.append(time.perf_counter() - a)
                    rerank_cost.append((s.end - s.start) - adc[-1])
        kinds = {"ann": [], "exact": []}
        for s in shots:
            kinds[reads[s.i].kind].append(s)
            tr.record("serving." + ("pq.topk_rerank" if reads[s.i].kind == "ann"
                                    else "exact.topk"), s.start, s.end, ref=f"read-{s.i}")
        a = summarize([s.latency for s in kinds["ann"]])
        e = summarize([s.latency for s in kinds["exact"]])
        self.metrics.update({
            "ann_p50_ms": (1e3 * a["p50"], "ms"),
            "ann_p99_ms": (1e3 * a["tail"], "ms"),
            "exact_p50_ms": (1e3 * e["p50"], "ms"),
            "exact_p99_ms": (1e3 * e["tail"], "ms"),
        })
        self.context["read"] = {"ann": a, "exact": e}
        self.attempted += len(shots)
        self.failed += sum(not s.ok for s in shots)
        self.check("read.ops_ok", all(s.ok for s in shots),
                   f"{sum(not s.ok for s in shots)} reads failed")

        recalls = self._check_ann(kinds["ann"], reads, "read")
        self.metrics["recall_at_100"] = (mean_recall(recalls), "ratio")
        self._check_exact(kinds["exact"], reads)

        mask_rows = {n: int(self.template_mask(I.TEMPLATES[n]).sum()) for n in I.TEMPLATES}
        self.context["template_rows"] = mask_rows
        ann_rows = [mask_rows[reads[s.i].template] for s in kinds["ann"]]
        exact_ms = {name: [] for name in I.EXACT_LABELS}
        for s in kinds["exact"]:
            exact_ms[reads[s.i].template].append(1e3 * (s.end - s.start))
        late = sorted(s.late for s in shots)
        kept = sum(len(s.result) for s in kinds["ann"] if s.ok)
        fetched = sum(min(I.RERANK, mask_rows[reads[s.i].template]) for s in kinds["ann"] if s.ok)
        self.layer.update({
            "serving.exact.load_s": (exact_load, "s"),
            "serving.pq.load_s": (pq_load, "s"),
            "serving.exact.resident_mb": (mem["exact_mb"], "MB"),
            "serving.pq.resident_mb": (mem["pq_mb"], "MB"),
            "serving.exact.topk_ms": (_median(sum(exact_ms.values(), [])), "ms"),
            "serving.exact.books_ms": (_median(exact_ms["Books"]), "ms"),
            "serving.exact.computers_ms": (_median(exact_ms["Computers"]), "ms"),
            "serving.exact.rows_scored": (_median(
                [int((self.codes["cat"] == I.CAT[reads[s.i].template]).sum())
                 for s in kinds["exact"]]), "count"),
            "serving.pq.adc_ms": (1e3 * _median(adc), "ms"),
            "serving.pq.rerank_ms": (1e3 * _median(rerank_cost), "ms"),
            "serving.pq.rows_scored": (_median(ann_rows), "count"),
            "serving.pq.rerank_yield": (kept / max(1, fetched), "ratio"),
            "read.late_ms": (1e3 * late[len(late) // 2], "ms"),
        })

    def _check_exact(self, shots, reads) -> None:
        """Exact reads equal the oracle's ids in (-score, id) order. Two
        ids may swap only where their scores tie to within float64
        rounding of the matrix-vector product."""
        bad = 0
        for s in shots:
            if not s.ok:
                continue
            mask = self.codes["cat"] == I.CAT[reads[s.i].template]
            ids, scores = self.oracle(reads[s.i].query, mask)
            got = np.asarray([k for k, _ in s.result], dtype=np.int64)
            if len(got) != len(ids):
                bad += 1
            elif not np.array_equal(got, ids):
                tol = 1e-9 * max(1.0, float(np.abs(scores).max()))
                ref = dict(zip(ids.tolist(), scores.tolist()))
                full = self.corpus[got] @ self.queries[reads[s.i].query]
                same_scores = np.all(np.abs(np.sort(full)[::-1] - scores) <= tol)
                near_ties = all(abs(ref.get(int(k), -np.inf) - v) <= tol or
                                abs(scores[-1] - v) <= tol for k, v in zip(got, full))
                bad += not (same_scores and near_ties)
        self.check("read.exact_oracle", bad == 0, f"{bad} exact reads differ from the oracle")


def _median(xs) -> float:
    xs = sorted(x for x in xs if x == x)  # drop NaN
    return xs[len(xs) // 2] if xs else float("nan")
