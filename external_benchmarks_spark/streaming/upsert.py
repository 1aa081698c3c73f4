"""Micro-batch upsert path — the reference's mixed read/write workload
(README.md:69-70: 20/200 QPS single-object upserts incl. re-embedding,
2 s p95 writes with concurrent reads).

Spark shape: updates arrive as a stream (rate/file/kafka source),
``foreachBatch`` applies a keyed MERGE into the base table, and changed
text re-embeds inside the batch via the same pandas UDF as the batch
pipeline. Without a Delta dependency in this container, the MERGE is
implemented with **bucket-level versioning**: rows are hash-bucketed by
key, each micro-batch writes NEW version directories for only the
touched buckets (read old version ∖ keys ∪ new rows → write v+1), and a
tiny manifest file maps bucket → current version, swapped atomically
(write-temp + rename). Readers resolve the manifest once and see a
consistent snapshot — never a half-rewritten directory — and the writer
never materializes data in memory (old and new versions are different
directories, so no checkpoint barrier is needed). On a Delta/Iceberg
deployment ``upsert_batch`` collapses to a single ``MERGE INTO``; the
API and semantics here are identical, single-writer — ENFORCED by an
exclusive writer lease (``_lock``, O_CREAT|O_EXCL with a TTL for
crashed writers): a concurrent writer raises ConcurrentWriteError
loudly rather than interleaving manifest swaps.

Layout:  <root>/v=<j>/bucket=<i>/*.parquet  +  <root>/_manifest.json
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16
MANIFEST = "_manifest.json"
LOCKFILE = "_lock"


class ConcurrentWriteError(RuntimeError):
    """Another writer holds this table's lease — the single-writer
    contract would be violated. Loud by design: the caller must retry,
    route through one writer, or investigate the stale holder."""


def _bucket(col, n: int):
    return F.pmod(F.hash(col), F.lit(n))


class UpsertTable:
    """Hash-bucketed, bucket-versioned parquet table with keyed MERGE.

    The bucket count bounds rewrite amplification: a micro-batch touching
    b buckets rewrites b/n of the table into fresh version directories
    (file-level rewrite, like Delta without the transaction log's history).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str,
        n_buckets: int = DEFAULT_BUCKETS,
        lease_ttl_s: float = 300.0,
    ):
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.lease_ttl_s = lease_ttl_s
        # Lazily-learned schema of the bucket files; lets steady-state
        # MERGEs read base buckets without a footer-inference job.
        self._base_schema = None
        self._lease_token: str | None = None

    # -- writer lease ------------------------------------------------------
    @contextlib.contextmanager
    def _writer_lease(self, op: str):
        """Exclusive writer lease via O_CREAT|O_EXCL on <root>/_lock.

        Every mutating op (init/upsert/compact/vacuum) runs inside the
        lease; a second writer fails LOUDLY with ConcurrentWriteError
        instead of silently interleaving manifest swaps (the corruption
        mode the single-writer contract forbids). A lease older than
        ``lease_ttl_s`` is presumed orphaned (crashed writer) and is
        broken — mutating ops are idempotent-at-rest (version dirs are
        only referenced once the manifest swap lands), so breaking a
        dead writer's lease never exposes partial state. Reentrant
        within one instance (compact -> vacuum). On shared/object
        storage without O_EXCL semantics, point ``root`` at a posix
        scratch or replace this with the store's conditional-put."""
        if self._lease_token is not None:  # reentrant (compact->vacuum)
            yield
            return
        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, LOCKFILE)
        token = uuid.uuid4().hex
        payload = json.dumps(
            {"token": token, "pid": os.getpid(), "op": op, "ts": time.time()}
        ).encode()
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, payload)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    with open(path) as f:
                        holder = json.load(f)
                except (OSError, ValueError):
                    holder = {}
                age = time.time() - float(holder.get("ts", 0))
                if age > self.lease_ttl_s:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(path)  # break the orphaned lease, retry
                    continue
                raise ConcurrentWriteError(
                    f"writer lease on {self.root} held by "
                    f"pid={holder.get('pid')} op={holder.get('op')} "
                    f"(age {age:.1f}s < ttl {self.lease_ttl_s}s); "
                    f"refusing concurrent {op}"
                ) from None
        self._lease_token = token
        try:
            yield
        finally:
            self._lease_token = None
            try:
                with open(path) as f:
                    cur = json.load(f)
                if cur.get("token") == token:  # release only our own lease
                    os.unlink(path)
            except (OSError, ValueError):
                pass

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _read_manifest(self) -> dict[str, int]:
        with open(self._manifest_path()) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_manifest(self, m: dict[str, int]) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path())  # atomic swap
        # Commit log for time travel: each write also snapshots the
        # manifest under _commits/<k>.json (Delta-transaction-log analog;
        # a JSON map per commit, never rewritten).
        cdir = os.path.join(self.root, "_commits")
        os.makedirs(cdir, exist_ok=True)
        existing = [int(e.split(".")[0]) for e in os.listdir(cdir)]
        k = max(existing, default=-1) + 1  # monotonic even after vacuum pruning
        with open(os.path.join(cdir, f"{k}.json"), "w") as f:
            json.dump(m, f)

    def _commit_manifest(self, commit: int) -> dict[str, int]:
        path = os.path.join(self.root, "_commits", f"{commit}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"commit {commit} not found (vacuumed or never written)"
            )
        with open(path) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def history(self) -> list[int]:
        """Commit ids still readable (ascending)."""
        cdir = os.path.join(self.root, "_commits")
        if not os.path.isdir(cdir):
            return []
        return sorted(int(e.split(".")[0]) for e in os.listdir(cdir))

    def _bucket_paths(self, manifest: dict[str, int], buckets=None) -> list[str]:
        items = manifest.items() if buckets is None else (
            (b, manifest[b]) for b in (str(x) for x in buckets) if b in manifest
        )
        return [
            os.path.join(self.root, f"v={v}", f"bucket={b}") for b, v in items
        ]

    # -- table API ---------------------------------------------------------
    def init(self, df: DataFrame) -> None:
        with self._writer_lease("init"):
            self._init_impl(df)

    def _init_impl(self, df: DataFrame) -> None:
        (
            df.withColumn("bucket", _bucket(F.col(self.key_col), self.n_buckets))
            .repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(self.root, "v=0"))
        )
        present = [
            e.split("=", 1)[1]
            for e in os.listdir(os.path.join(self.root, "v=0"))
            if e.startswith("bucket=")
        ]
        self._write_manifest({b: 0 for b in present})

    def read(self, at_commit: int | None = None) -> DataFrame:
        """Snapshot read: resolve the manifest once; the returned frame is
        pinned to those version directories. ``at_commit`` time-travels to
        an earlier commit (valid until vacuum() drops its versions)."""
        manifest = (
            self._read_manifest()
            if at_commit is None
            else self._commit_manifest(at_commit)
        )
        paths = self._bucket_paths(manifest)
        if not paths:
            raise ValueError(f"empty table at {self.root}")
        # Schema resolution: the cached post-MERGE schema (when this
        # instance has written) skips footer inference entirely — files
        # missing evolved columns read as null under an explicit schema.
        # Otherwise mergeSchema: buckets written before a schema evolution
        # lack the new columns; merging footers fills them with nulls.
        # Footer-only cost, bounded by bucket count (not data size).
        if self._base_schema is not None and at_commit is None:
            reader = self.spark.read.schema(self._base_schema)
        else:
            reader = self.spark.read.option("mergeSchema", "true")
        return (
            reader.option("basePath", self.root)
            .parquet(*paths)
            .drop("v", "bucket")
        )

    @staticmethod
    def _with_v(schema):
        """Copy of `schema` with the version-dir partition column appended
        (fresh StructType — StructType.add would mutate the DataFrame's
        cached schema in place)."""
        from pyspark.sql.types import IntegerType, StructField, StructType

        return StructType(list(schema.fields) + [StructField("v", IntegerType())])

    # Micro-batches up to this size are deduped driver-side in ONE job;
    # larger batches take the distributed window + broadcast-anti-join
    # path. 10k rows of keyed updates is far above the reference's
    # 100-row batches and still trivially driver-sized.
    SMALL_BATCH_MAX = 10_000

    def _small_batch(self, updates: DataFrame):
        """Try the one-job micro-batch path: pull `limit(MAX+1)` rows with
        their bucket (and dedup-order hash when op_ts is absent) attached,
        so ONE collect serves dedup, the touched-bucket probe, and the
        delete-key set. Returns (upd_df, touched, key_vals) or None when
        the batch exceeds the threshold."""
        has_ts = "op_ts" in updates.columns
        probe = updates.withColumn(
            "bucket", _bucket(F.col(self.key_col), self.n_buckets)
        )
        if not has_ts:
            probe = probe.withColumn(
                "_h", F.xxhash64(*[F.col(c) for c in updates.columns])
            )
        rows = probe.limit(self.SMALL_BATCH_MAX + 1).collect()
        if len(rows) > self.SMALL_BATCH_MAX:
            return None
        # Last-writer-wins per key: highest op_ts, else lowest whole-row
        # hash — the same winner the distributed window path picks.
        best: dict = {}

        def ts_key(r):
            v = r["op_ts"]
            # NULL op_ts sorts below every real value (the window's
            # `desc()` puts nulls last), without assuming numeric op_ts.
            return (v is not None, v)

        for r in rows:
            k = r[self.key_col]
            if k not in best:
                best[k] = r
            elif has_ts:
                if ts_key(r) > ts_key(best[k]):
                    best[k] = r
            elif r["_h"] < best[k]["_h"]:
                best[k] = r
        cols = [*updates.columns, "bucket"]
        schema = probe.select(*cols).schema
        data = [tuple(r[c] for c in cols) for r in best.values()]
        # Arrow path: a pandas-backed createDataFrame plans as a JVM-local
        # LocalTableScan — the write job then touches NO Python workers for
        # the batch side. (A plain createDataFrame parallelizes into
        # defaultParallelism pickled slices, each paying a Python-worker
        # round-trip when evaluated — measured 6 s vs 0.2 s on a loaded
        # session for a 100-row batch.)
        try:
            import pandas as pd

            upd = self.spark.createDataFrame(
                pd.DataFrame(data, columns=cols), schema=schema
            )
        except Exception:
            # Exotic types that Arrow can't convert: single-slice RDD path.
            upd = self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(data, 1), schema=schema
            )
        touched = sorted({r["bucket"] for r in best.values()})
        key_vals = [k for k in best if k is not None]
        return upd, touched, key_vals

    def upsert(self, updates: DataFrame, evolve_schema: bool = False) -> None:
        self.upsert_prepared(self.prepare(updates, evolve_schema))

    def prepare(self, updates: DataFrame, evolve_schema: bool = False) -> dict:
        """Run the batch-side work of a MERGE — evaluating ``updates``
        (any embedding/scoring UDFs in its lineage), driver-side dedup,
        the touched-bucket probe, the delete-key set — WITHOUT the
        writer lease and without touching the table. The returned
        payload feeds :meth:`upsert_prepared`.

        This is the double-buffered-writer seam: at a paced write tier
        (reference README.md:69-70) re-embedding is per-update work
        done as updates ARRIVE during the interval, so a pipelined
        deployment prepares batch j+1 while batch j's MERGE commits —
        only the commit belongs in the batch critical path. prepare()
        reads nothing from the table, so preparing ahead cannot
        observe — or race — the concurrent MERGE."""
        return {
            "small": self._small_batch(updates),
            "updates": updates,
            "evolve": evolve_schema,
        }

    def upsert_prepared(self, prepared: dict) -> None:
        """Commit a :meth:`prepare`d batch under the writer lease."""
        with self._writer_lease("upsert"):
            self._upsert_impl(
                prepared["updates"], prepared["evolve"], prepared["small"]
            )

    def _upsert_impl(
        self, updates: DataFrame, evolve_schema: bool, small
    ) -> None:
        """MERGE semantics: delete matching keys, insert all update rows.
        Last-writer-wins within a batch by highest ``op_ts`` if present.

        ``evolve_schema=True`` is the Delta mergeSchema analog: columns
        new in `updates` are added (null for untouched rows of rewritten
        buckets and for rows in buckets this batch doesn't touch — parquet
        schema merging fills them on read); columns missing from
        `updates` read as null for the new rows.

        Write-latency shape (the reference's 2 s p95 target): a micro-batch
        MERGE is two Spark jobs — one bounded collect of the batch, one
        rewrite of the touched buckets. The batch dedup, bucket probe, and
        delete-key set all come out of the single collect; the base-bucket
        schema is cached on the instance after the first MERGE so later
        MERGEs skip parquet footer inference (a per-job driver cost that
        dominated the 100-row-batch latency).

        ``small`` is :meth:`prepare`'s ``_small_batch`` result: the
        collected batch, or None when it exceeds the threshold."""
        if small is not None:
            upd, touched, key_vals = small
            inline_keys = True
        else:
            # One row per key via a single window pass — one shuffle on the
            # key. Without op_ts there is no user-defined order; break ties
            # by a stable hash of the whole row so reruns pick the SAME
            # winner (F.lit(1) would leave it to partition arrival order).
            from pyspark.sql.window import Window

            order = (
                [F.col("op_ts").desc()]
                if "op_ts" in updates.columns
                else [F.xxhash64(*[F.col(c) for c in updates.columns]).asc()]
            )
            w = Window.partitionBy(self.key_col).orderBy(*order)
            upd = (
                updates.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .withColumn("bucket", _bucket(F.col(self.key_col), self.n_buckets))
                # Materialize ONCE: the bucket probe and the write below
                # would otherwise recompute the scan + window shuffle.
                .localCheckpoint()
            )
            touched = sorted(
                r["bucket"] for r in upd.select("bucket").distinct().collect()
            )
            key_vals = []
            inline_keys = False
        if not touched:
            return
        manifest = self._read_manifest()
        new_version = max(manifest.values(), default=-1) + 1
        base_paths = self._bucket_paths(manifest, touched)
        merged = upd
        if base_paths:
            if self._base_schema is not None and not evolve_schema:
                # Explicit schema: no footer-inference job. Discovered
                # partition values (bucket, v) still come from the dirs.
                reader = self.spark.read.schema(self._base_schema)
            else:
                reader = self.spark.read.option("mergeSchema", "true")
            base = (
                reader.option("basePath", self.root).parquet(*base_paths).drop("v")
            )
            if inline_keys:
                # NULL-keyed base rows survive (an anti-join would never
                # match them); NULL update keys delete nothing.
                if not key_vals:
                    survivors = base
                else:
                    survivors = base.filter(
                        F.col(self.key_col).isNull()
                        | ~F.col(self.key_col).isin(key_vals)
                    )
            else:
                keys = upd.select(self.key_col).distinct()
                survivors = base.join(F.broadcast(keys), self.key_col, "left_anti")
            if evolve_schema:
                merged = survivors.unionByName(upd, allowMissingColumns=True)
            else:
                merged = survivors.unionByName(upd.select(*survivors.columns))
        # Old versions are read, the NEW version directory is written: no
        # in-place overwrite, no memory barrier, readers keep their snapshot.
        # The pre-write repartition keeps every version at ONE file per
        # bucket. Skipping it looks cheaper per-MERGE but compounds: the
        # batch partition writes a file into EVERY touched bucket, base
        # files map 1:1 into output files, so file count grows by
        # n_buckets per MERGE until scans fragment across 32 partitions
        # (measured: 95-file versions and 2x slower MERGEs). Against a
        # compacted base the shuffle is one tiny AQE-coalesced stage.
        (
            merged.repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(self.root, f"v={new_version}"))
        )
        for b in touched:
            manifest[str(b)] = new_version
        self._write_manifest(manifest)
        # Cache the merged-bucket schema (incl. the bucket partition column
        # and the v dir column Spark discovers) for the next MERGE's base
        # read; evolution invalidates any stale cache naturally because the
        # new schema is recorded here after the write.
        self._base_schema = self._with_v(merged.schema)

    def compact(self) -> None:
        """Rewrite every bucket at one fresh version (small files from
        many micro-batches merge back to one file per bucket), then drop
        the stale versions. The Delta OPTIMIZE analog; single-writer
        (enforced by the writer lease)."""
        with self._writer_lease("compact"):
            self._compact_impl()

    def _compact_impl(self) -> None:
        manifest = self._read_manifest()
        new_version = max(manifest.values(), default=-1) + 1
        current = (
            self.spark.read.option("basePath", self.root)
            .option("mergeSchema", "true")
            .parquet(*self._bucket_paths(manifest))
            .drop("v")
        )
        (
            current.repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(self.root, f"v={new_version}"))
        )
        self._write_manifest({b: new_version for b in manifest})
        self._base_schema = self._with_v(current.schema)
        self.vacuum()

    def vacuum(self, keep_latest: bool = True) -> None:
        """Drop version directories no longer referenced by the manifest
        (lease-guarded; call when no readers hold older snapshots).
        Commits whose versions are dropped become unreadable — their log
        entries are removed too (Delta VACUUM retention analog)."""
        with self._writer_lease("vacuum"):
            self._vacuum_impl(keep_latest)

    def _vacuum_impl(self, keep_latest: bool = True) -> None:
        current = self._read_manifest()
        live = {
            os.path.join(self.root, f"v={v}", f"bucket={b}")
            for b, v in current.items()
        }
        for entry in os.listdir(self.root):
            if not entry.startswith("v="):
                continue
            vdir = os.path.join(self.root, entry)
            for bdir in os.listdir(vdir):
                p = os.path.join(vdir, bdir)
                if bdir.startswith("bucket=") and p not in live:
                    shutil.rmtree(p, ignore_errors=True)
            if not any(e.startswith("bucket=") for e in os.listdir(vdir)):
                shutil.rmtree(vdir, ignore_errors=True)
        # prune commit-log entries that reference vacuumed bucket versions
        cdir = os.path.join(self.root, "_commits")
        if os.path.isdir(cdir):
            for entry in os.listdir(cdir):
                path = os.path.join(cdir, entry)
                with open(path) as f:
                    m = {k: int(v) for k, v in json.load(f).items()}
                refs = {
                    os.path.join(self.root, f"v={v}", f"bucket={b}")
                    for b, v in m.items()
                }
                if not refs <= live and m != current:
                    os.remove(path)


def upsert_batch(table: UpsertTable, batch_df: DataFrame, batch_id: int) -> None:
    """foreachBatch sink body: stream.writeStream.foreachBatch(
    lambda df, i: upsert_batch(table, df, i))."""
    table.upsert(batch_df)


def run_upsert_stream(
    table: UpsertTable,
    updates_stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int = 1,
):
    """Wire a streaming updates source into the upsert table. Returns the
    StreamingQuery (caller awaits/stops). Micro-batch latency == write p95
    analog in BASELINE.md."""
    return (
        updates_stream.writeStream.foreachBatch(
            lambda df, i: upsert_batch(table, df, i)
        )
        .option("checkpointLocation", os.path.join(checkpoint_dir, "upsert"))
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
