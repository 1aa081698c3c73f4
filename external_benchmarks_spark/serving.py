"""Low-latency serving tier over the Spark-built index layout.

The reference's read SLA (100 ms p95 @ 20 QPS, reference README.md:62-70)
describes SERVING reads, and Spark's ~0.2-0.3 s per-job floor (scheduler +
Py4J round-trip) can never meet it no matter how good the plan is —
BASELINE.md documents that floor. The architecture answer is the standard
lakehouse split: Spark BUILDS the query-optimized layout (partitioned,
sorted, pruned — `pipeline/index.build_index_layout`), and a serving
process memory-maps that SAME parquet layout and answers point reads
without a cluster job. This module is that serving tier: pyarrow reads
the label-partitioned directories once, keeps per-label (ids, matrix)
arrays, and answers filtered top-k in one BLAS call.

Parity contract: scores are computed exactly like the Spark fast path
(`functions/vector.score_batch_udf`) — float64 matmul over the float32
embeddings, ties broken by ascending key — so serving results are
bit-identical to the Spark query's (asserted in tests/test_serving.py).

Scale shape: one serving node holds the HOT partitions (a label's matrix
at dim=64 x 1M rows is ~512 MB float64, or half that served as float32);
a fleet shards by partition key exactly like the directory layout. Cold
partitions fall back to the Spark path, which keeps directory pruning.
"""

from __future__ import annotations

import json
import os

import numpy as np


def _file_sig(d: str) -> tuple:
    """(name, size) of every data file in directory ``d``; markers and
    checksums (``_``/``.`` prefixes) are skipped. A changed signature is
    how a reader sees a delta append or a compaction."""
    return tuple(
        sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )
    )


def _read_arrays(d: str, key_col: str, list_col: str, extra=()):
    """Read one partition directory as (table, ids, matrix): the
    fixed-width ``list_col`` arrays flattened once and reshaped to
    [rows, width] in their stored dtype (no re-encode)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(d, columns=[key_col, list_col, *extra])
    ids = np.asarray(tbl.column(key_col).to_numpy())
    flat = tbl.column(list_col).combine_chunks().values.to_numpy(
        zero_copy_only=False
    )
    n = len(tbl)
    return tbl, ids, flat.reshape(n, len(flat) // max(n, 1))


def _top_k(k: int, ids: list, scores: list, *extra: list) -> list:
    """Merge per-partition candidates: concatenate each column and keep
    the first ``k`` rows in (-score, id) order, the Spark query's exact
    output order. Returns [ids, scores, *extra], reordered."""
    if not ids:
        return [np.empty(0, dtype=np.int64) for _ in (ids, scores, *extra)]
    cols = [np.concatenate(c) for c in (ids, scores, *extra)]
    order = np.lexsort((cols[0], -cols[1]))[:k]
    return [c[order] for c in cols]


class _PartitionedLayout:
    """The ``{col}=<int>`` partition directories under ``root``, each
    held in memory as ``_arrays[key] = (ids, matrix)``. Owns the
    directory scan and the signature-gated refresh both serving indexes
    share; a subclass supplies ``_read(key)``."""

    def __init__(self, root: str, col: str):
        self._root = root
        self._col = col
        self._arrays: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        # per-partition file signature: lets refresh() reload only the
        # partitions a delta append / compaction touched
        self._sigs: dict[int, tuple] = {}
        for key in self._scan():
            self._load(key)
        if not self._arrays:
            raise ValueError(f"no {col}=* directories under {root}")

    def _scan(self) -> list[int]:
        prefix = f"{self._col}="
        return [
            int(e.split("=", 1)[1])
            for e in sorted(os.listdir(self._root))
            if e.startswith(prefix)
        ]

    def _dir(self, key: int) -> str:
        return os.path.join(self._root, f"{self._col}={key}")

    def _read(self, key: int) -> tuple[np.ndarray, np.ndarray]:
        raise NotImplementedError

    def _load(self, key: int) -> None:
        # Signature BEFORE the read: if a writer appends between the
        # snapshot and the read, the stored signature is stale and the
        # next refresh() reloads — at worst one redundant reload, never
        # a permanently missed update (the TOCTOU otherwise possible
        # under a concurrent appender).
        sig = _file_sig(self._dir(key))
        self._arrays[key] = self._read(key)
        self._sigs[key] = sig

    def _drop(self, key: int) -> None:
        del self._arrays[key]
        del self._sigs[key]

    def _refresh(self, keys) -> list[int]:
        """Reload ONLY the partitions whose on-disk file set changed,
        plus new ones; drop removed ones. ``keys`` forces a reload of
        those partitions. Returns the reloaded keys, ascending."""
        on_disk = set(self._scan())
        for gone in set(self._arrays) - on_disk:
            self._drop(gone)
        todo = set(keys) if keys is not None else on_disk
        refreshed = []
        for key in sorted(todo & on_disk):
            if keys is None and self._sigs.get(key) == _file_sig(self._dir(key)):
                continue
            self._load(key)
            refreshed.append(key)
        return refreshed


class VectorServingIndex(_PartitionedLayout):
    """In-memory filtered top-k over a ``partitionBy(label)`` parquet
    layout (the output of ``pipeline/index.build_index_layout`` or the
    bench's vtopk layout)."""

    def __init__(
        self,
        layout_dir: str,
        key_col: str = "vec_id",
        emb_col: str = "embedding",
        partition_col: str = "label",
    ):
        self.layout_dir = layout_dir
        self.key_col = key_col
        self.emb_col = emb_col
        self.partition_col = partition_col
        super().__init__(layout_dir, partition_col)

    @property
    def partitions(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        return self._arrays

    def _read(self, label: int) -> tuple[np.ndarray, np.ndarray]:
        _, ids, mat = _read_arrays(self._dir(label), self.key_col, self.emb_col)
        # float64 scoring matrix — same dtype promotion as the Spark
        # fast path (score_batch_udf does astype(float64) per batch)
        return ids, mat.astype(np.float64)

    def refresh(self, labels=None) -> list[int]:
        """Incremental layout refresh: reload ONLY partitions whose
        on-disk file set changed (delta append, compaction), plus any
        new partitions; drop removed ones. O(dirty cells), never
        O(layout) — the serving-side completion of
        pipeline/index.append_to_index_layout. Pass ``labels`` to force
        specific partitions. Returns the reloaded labels."""
        return self._refresh(labels)

    def topk(
        self,
        qvec,
        k: int = 100,
        label: int | None = None,
        key_mod: int | None = None,
    ) -> list[tuple[int, float]]:
        """Filtered dot-product top-k: ``label == L`` prunes to one
        in-memory partition (the serving analog of directory pruning);
        ``key_mod = m`` adds the bench templates' ``key % m == 0``
        refinement. Returns [(key, score)] ordered by (-score, key) —
        the Spark query's exact output order."""
        q = np.asarray(qvec, dtype=np.float64)
        if label is not None:
            parts = [self.partitions[label]] if label in self.partitions else []
        else:
            parts = list(self.partitions.values())
        best_ids: list[np.ndarray] = []
        best_scores: list[np.ndarray] = []
        for ids, mat in parts:
            if key_mod is not None:
                mask = ids % key_mod == 0
                ids, mat = ids[mask], mat[mask]
            if len(ids) == 0:
                continue
            scores = mat @ q
            if len(ids) > k:
                # partial-select the partition's own top-k before the merge
                # (per-partition heap, exactly TakeOrderedAndProject's shape).
                # Ties at the k-th score are resolved by id — the full
                # (-score, id) order — so the pruned set is exactly what the
                # Spark query would keep (bit-identical parity contract).
                idx = np.argpartition(-scores, k - 1)[:k]
                thresh = scores[idx].min()
                above = np.nonzero(scores > thresh)[0]
                at = np.nonzero(scores == thresh)[0]
                at = at[np.argsort(ids[at])[: k - len(above)]]
                sel = np.concatenate([above, at])
                ids, scores = ids[sel], scores[sel]
            best_ids.append(ids)
            best_scores.append(scores)
        ids, scores = _top_k(k, best_ids, best_scores)
        return [(int(i), float(s)) for i, s in zip(ids, scores)]


class PQServingIndex(_PartitionedLayout):
    """ADC serving over a persisted PQ index (`pipeline/pqindex.py`):
    the compressed twin of :class:`VectorServingIndex`. Loads the
    cell-partitioned codes (``centroid_id=N`` directories) plus the
    frozen-quantizer sidecar once; answers probed top-k with integer
    LUT arithmetic — per-subspace ``lut[j][c] = sum_i FLOOR(q_i *
    cb[j,c,i] * 1e6)`` gathered over the m-byte codes — so results are
    bit-identical to ``pq_index_topk``'s Catalyst plan (asserted in
    tests/test_pqindex.py) at in-process latency instead of a Spark
    job.

    Scale shape: the resident state is m BYTES per vector plus the
    O(n_centroids x dim) sidecar — ~1300x smaller than the raw float64
    matrix at dim 2688, so one serving node holds ~1300x more corpus
    than the exact tier for the same memory. Cell signature-based
    ``refresh()`` picks up ledgered appends and layout compactions
    O(dirty cells), same contract as the exact tier's.

    Recall: ``topk`` ships PURE-ADC ranking (0.18-0.42 recall@50 on
    flat-similarity data — honest but below the reference's >90% bar);
    ``topk_rerank`` ships the refine architecture (ADC top-R + exact
    re-score from the cell-partitioned raw-vector sidecar) at >=0.9
    recall, test-gated, for ~1-3 ms instead of ~0.5 ms. Serve
    ``topk_rerank`` wherever the reference's ANN SLA row applies.
    """

    def __init__(self, root: str):
        from external_benchmarks_spark.pipeline.pqindex import load_pq_index

        self.index = load_pq_index(root)
        self.codes_dir = self.index.codes_path
        # payload columns (filtered-ANN metadata riding inside the
        # codes layout): cell -> {col: np.ndarray}, loaded with the
        # cell iff the index declares payload_cols
        self._payload: dict[int, dict] = {}
        # rerank-path mmap cache: cell -> (sidecar signature, ids mmap,
        # float32 matrix mmap); signature-checked per touch, so sidecar
        # appends/compactions invalidate lazily without an explicit call
        self._vec_mm: dict[int, tuple] = {}
        super().__init__(self.codes_dir, "centroid_id")

    @property
    def cells(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        return self._arrays

    def _read(self, cell: int) -> tuple[np.ndarray, np.ndarray]:
        pcols = list(self.index.payload_cols)
        tbl, ids, codes = _read_arrays(
            self._dir(cell), self.index.key_col, "pq_codes", pcols
        )
        if pcols:
            self._payload[cell] = {
                c: np.asarray(tbl.column(c).to_numpy(zero_copy_only=False))
                for c in pcols
            }
        return ids, codes.astype(np.int64)

    def _drop(self, cell: int) -> None:
        super()._drop(cell)
        self._payload.pop(cell, None)

    def refresh(self, cells=None) -> list[int]:
        """Reload ONLY cells whose on-disk file set changed (ledgered
        append, compaction); drop removed, pick up new. O(dirty cells)."""
        return self._refresh(cells)

    def _filter_mask(self, cell: int, where: dict, n: int):
        """Conjunctive IN-list mask over the cell's payload columns —
        the serving twin of ``F.col(c).isin(vals) & ...`` on the codes
        scan. Returns None for an all-true mask."""
        if not where:
            return None
        bad = set(where) - set(self.index.payload_cols)
        if bad:
            raise ValueError(
                f"where references non-payload columns {sorted(bad)}; "
                f"index carries payload_cols={list(self.index.payload_cols)}"
            )
        pay = self._payload.get(cell)
        mask = np.ones(n, dtype=bool)
        for col, vals in where.items():
            mask &= np.isin(pay[col], np.asarray(list(vals)))
        return mask

    def _candidates(self, qvec, k: int, nprobe: int | None, where: dict | None):
        """The prune stage both reads share: the probed, pre-filtered
        ADC top-``k`` as (ids, pq_scores, cells) arrays in
        (-pq_score, key) order."""
        from external_benchmarks_spark.pipeline.pqindex import _probe_cells

        cb = self.index.codebooks
        m, n_codes, dsub = cb.shape
        # Vectorized per-term floor — the same float64 op ORDER as
        # quantize.pq_adc_topk's python-loop LUT ((q_i * c_i) * 1e6,
        # then floor, then exact int64 sum), so every entry is
        # bit-identical to the Spark plan's literal LUT (parity test
        # covers it). ~1 ms/query of math.floor calls drops to ~us.
        q = np.asarray([float(v) for v in qvec], dtype=np.float64)
        qsub = q.reshape(m, 1, dsub)  # [m, 1, dsub] vs cb [m, n_codes, dsub]
        lut = (
            np.floor((qsub * cb) * 1e6).astype(np.int64).sum(axis=2)
        )  # [m, n_codes]
        probe = _probe_cells(self.index, qvec, nprobe)
        if probe is None:
            probe = sorted(self.cells)
        else:
            probe = [c for c in probe if c in self.cells]
        best_ids: list[np.ndarray] = []
        best_scores: list[np.ndarray] = []
        best_cells: list[np.ndarray] = []
        for cell in probe:
            ids, codes = self.cells[cell]
            mask = self._filter_mask(cell, where, len(ids))
            if mask is not None:
                ids, codes = ids[mask], codes[mask]
            if len(ids) == 0:
                continue
            best_ids.append(ids)
            best_scores.append(lut[np.arange(m), codes].sum(axis=1))
            best_cells.append(np.full(len(ids), cell, dtype=np.int64))
        return _top_k(k, best_ids, best_scores, best_cells)

    def topk(
        self,
        qvec,
        k: int = 20,
        nprobe: int | None = None,
        where: dict | None = None,
    ) -> list[tuple[int, int]]:
        """Probed ADC top-k: nprobe cells resolve against the sidecar
        centroids (same rule as operators/similarity.ivf_probe_cells),
        scores are exact integer LUT sums, order (-pq_score, key) —
        the Spark plan's exact output. Returns [(key, pq_score)].

        ``where`` (r15) is the PRE-filter form of the filtered-ANN SLA
        at serving: {payload_col: allowed values} conjunctive IN-lists
        evaluated against the in-memory payload arrays BEFORE candidate
        selection, so the top-k is the top-k of the (probed AND
        filtered) set — the serving twin of the codes-scan
        ``predicate`` of pipeline/pqindex.pq_index_rerank_topk,
        bit-parity-tested. Post-filtering the unfiltered top-k would
        return << k rows under selective predicates.

        RECALL CONTRACT: this ranks by pure ADC — 0.18-0.42 recall@50
        on flat-similarity data (measured, pq_recall entry). Use
        :meth:`topk_rerank` where the reference's >90% recall bar
        applies (README.md:76); this form is the compressed-ranking /
        candidate-generation tier."""
        ids, scores, _ = self._candidates(qvec, k, nprobe, where)
        return [(int(i), int(s)) for i, s in zip(ids, scores)]

    def _vec_cell(self, cell: int):
        """Memory-mapped (sorted ids, float32 matrix) for one sidecar
        cell, derived from the cell's parquet files on first touch (or
        when their file signature changes) into an ``_serving_vec_cache``
        npy pair next to the sidecar. Parquet decodes a whole row group
        to serve one row — O(cell) per query, which dies at scale — so
        the serving node converts each touched cell ONCE per refresh
        into a raw float32 mmap, and a query then touches O(R) pages:
        searchsorted on the id mmap + a gather of the R candidate rows.
        Values are the sidecar's exact float32 bytes (no re-encode), so
        the parity contract survives the cache. The conversion is
        crash-safe (tmp + atomic rename, signature recorded after)."""
        d = os.path.join(self.index.vectors_path, f"centroid_id={cell}")
        if not os.path.isdir(d):
            # A cell present under codes/ but absent under vectors/ —
            # a pre-r14 append crashed between the two layouts, or a
            # refresh raced a writer. Serve what the batch plan would:
            # the broadcast join drops candidates with no sidecar row,
            # so an empty cell (not a crash) is the parity-preserving
            # answer. Appends now write vectors FIRST, so this is a
            # backstop, not a steady state (r13 ADVICE).
            return (
                np.empty(0, dtype=np.int64),
                np.empty((0, 0), dtype=np.float32),
            )
        sig = _file_sig(d)
        cached = self._vec_mm.get(cell)
        if cached is not None and cached[0] == sig:
            return cached[1], cached[2]
        cache_dir = os.path.join(self.index.root, "_serving_vec_cache")
        os.makedirs(cache_dir, exist_ok=True)
        base = os.path.join(cache_dir, f"cell_{cell}")
        meta_p, ids_p, mat_p = base + ".json", base + ".ids.npy", base + ".mat.npy"
        on_disk_sig = None
        try:
            with open(meta_p) as fh:
                on_disk_sig = [tuple(e) for e in json.load(fh)["sig"]]
        except (OSError, ValueError, KeyError):
            pass
        if on_disk_sig != list(sig):
            _, ids, mat = _read_arrays(d, self.index.key_col, "embedding")
            order = np.argsort(ids, kind="stable")
            for path, arr in ((ids_p, ids[order]), (mat_p, mat[order])):
                tmp = path + ".tmp.npy"
                np.save(tmp, np.ascontiguousarray(arr))
                os.replace(tmp, path)
            tmp = meta_p + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"sig": list(sig)}, fh)
            os.replace(tmp, meta_p)
        ids_mm = np.load(ids_p, mmap_mode="r")
        mat_mm = np.load(mat_p, mmap_mode="r")
        self._vec_mm[cell] = (sig, ids_mm, mat_mm)
        return ids_mm, mat_mm

    def topk_rerank(
        self,
        qvec,
        k: int = 50,
        rerank: int = 250,
        nprobe: int | None = None,
        where: dict | None = None,
    ) -> list[tuple[int, float]]:
        """ADC top-``rerank`` -> EXACT re-score of those R rows -> top-k
        by exact score: the serving twin of
        pipeline/pqindex.pq_index_rerank_topk's Spark plan, bit-for-bit
        (parity-tested in tests/test_pqindex.py). ``where`` (r15) is the
        twin of that function's ``predicate``: the pre-filter applies to
        the ADC candidate stage, so the exact top-k is the top-k WITHIN
        the filter — the reference's read-SLA shape (filter +
        dot-product + LIMIT) served without a Spark job. This is the
        tier that meets the reference's >90% recall bar (README.md:76):
        pure ADC ranking reads 0.18-0.42 recall@50 on flat-similarity
        data, but the ADC top-R CONTAINS the true top-k, and the exact
        rerank recovers it (recall >= 0.9 test-gated at serving).

        The raw vectors for the R candidates come from the index's
        cell-partitioned ``vectors`` sidecar (store_vectors=True at
        build) via a per-cell mmap cache (see _vec_cell) — a query
        touches O(R) pages, never a corpus-resident matrix, so the
        node's resident memory stays m bytes/vector + R-row gathers.
        Exact scores replay dot_product_literal's float64 op order
        (per-element product, LEFT-TO-RIGHT sequential sum — cumsum,
        not pairwise), so every score is bit-identical to the Catalyst
        expression's. Returns [(key, exact_score)] ordered by
        (-score, key)."""
        from external_benchmarks_spark.pipeline.pqindex import _require_vectors

        _require_vectors(self.index)
        cand_ids, _, cand_cells = self._candidates(qvec, rerank, nprobe, where)
        q = np.asarray([float(v) for v in qvec], dtype=np.float64)
        all_ids: list[np.ndarray] = []
        all_scores: list[np.ndarray] = []
        for cell in np.unique(cand_cells):
            ids_mm, mat_mm = self._vec_cell(int(cell))
            cand = cand_ids[cand_cells == cell]
            pos = np.searchsorted(ids_mm, cand)
            ok = pos < len(ids_mm)
            pos, cand = pos[ok], cand[ok]
            ok = ids_mm[pos] == cand
            pos, cand = pos[ok], cand[ok]
            if len(pos) == 0:
                continue
            rows = np.asarray(mat_mm[pos], dtype=np.float64)
            # per-element products then SEQUENTIAL left-to-right sum:
            # cumsum materializes every prefix, forcing the exact
            # ((t0+t1)+t2)+... float64 order dot_product_literal emits
            all_ids.append(cand)
            all_scores.append(np.cumsum(rows * q[None, :], axis=1)[:, -1])
        ids, scores = _top_k(k, all_ids, all_scores)
        return [(int(i), float(s)) for i, s in zip(ids, scores)]
