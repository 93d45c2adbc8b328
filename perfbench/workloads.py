"""The benchmark's workloads.  Each drives the engine only through its public
functions, checks every answer against ``check``, and reports its
per-iteration records to ``run.py``.

Every workload has the same shape:

* ``generate(directory, seed)`` writes the seeded input files (benchmark
  code, no engine call) and returns their paths;
* ``prepare(h)`` does the engine-side set-up that must precede queries,
  and ``check_setup()`` checks what it stored;
* ``step(h, traced)`` runs one closed-loop iteration through ``h.op``
  and returns its record: operation kind → seconds;
* ``metrics(records)`` turns the measured records into the workload's
  own figures, and ``layer_counts`` holds the per-layer counts the
  traced iterations observed.

Traced steps cache and materialise the frame at each layer boundary so
that each span holds one layer's work.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

import check
import gen
from atlas_upscaling_dask_spark.extensions.dedup import exact_dedup, minhash_lsh_pairs
from atlas_upscaling_dask_spark.extensions.similarity import brute_force_topk_blas
from atlas_upscaling_dask_spark.operators.relational import (
    decode_labels,
    load_regions_csv,
    point_lookup_chunks,
)
from atlas_upscaling_dask_spark.operators.upscale import upscale_chunks
from atlas_upscaling_dask_spark.operators.verify import histogram_chunks
from atlas_upscaling_dask_spark.sinks.writer import write_volume
from atlas_upscaling_dask_spark.sinks.zarr3 import scan_zarr3, write_zarr3
from atlas_upscaling_dask_spark.sources.mhd import read_mhd_chunks
from atlas_upscaling_dask_spark.volume import VolumeMeta
from pyspark.sql import functions as F

#: percentiles tried for a tail latency, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``TAIL_LADDER``
    with at least ten samples beyond it, by the nearest-rank rule."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = int(np.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, xs[max(rank - 1, 0)]
    return 0.0, 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _store_counts(counts: dict, receipts: dict) -> None:
    r = receipts[0]
    counts["zarr3.bytes_written"] = r["n_bytes"]
    counts["zarr3.objects_written"] = r["n_objects"]
    counts["zarr3.chunks_skipped"] = r["n_skipped"]


class VolumeQuery:
    """The paper's pipeline on one label volume.

    Set-up runs the reference's upscale job — ``read_mhd_chunks`` →
    ``upscale_chunks(×2)`` → ``write_zarr3`` (sharded, zstd-1) — and
    stores the same upscaled chunks with ``write_volume`` (parquet, raw
    payloads).  Each iteration is then one operation on the stored
    volume: ``point_lookup_chunks`` + ``decode_labels`` at a seeded voxel
    or, every ``SCAN_EVERY``-th operation, ``scan_zarr3`` +
    ``histogram_chunks``.
    """

    name = "volume_query"
    SHAPE = (48, 64, 80)  # generated input; the stored volume is ×SCALE
    SCALE = 2
    CHUNK = (16, 32, 40)  # input chunks; stored chunks are ×SCALE
    SHARD = (1, 2, 1)
    N_REGIONS = 150
    N_UNKNOWN = 8
    N_BOXES = 160
    BOX_FRAC = (0.05, 0.45)
    HOT_SHARE = 0.5
    SCAN_EVERY = 10
    WARMUP = 3  # two lookups, then one scan (see n_ops)
    KINDS = ("lookup", "scan")

    def __init__(self):
        self.layer_counts: dict = {}
        self.n_ops = self.SCAN_EVERY - self.WARMUP
        self.job_s: list[float] = []
        self.stored_bytes = 0

    def generate(self, directory: str, seed: int) -> list[str]:
        rng = np.random.default_rng(seed)
        ids = gen.region_ids(rng, self.N_REGIONS + self.N_UNKNOWN)
        known = ids[: self.N_REGIONS]  # the last N_UNKNOWN decode to "Unknown"
        self.vol = gen.label_volume(rng, self.SHAPE, ids, self.N_BOXES, self.BOX_FRAC)
        self.up = check.upscaled(self.vol, self.SCALE)
        files = gen.write_mhd(directory, "labels", self.vol)
        csv, self.names = gen.write_regions_csv(directory, known)
        self.mhd = files[0]
        self.csv = csv
        self.parquet = os.path.join(directory, "chunks.parquet")
        self.zarr = os.path.join(directory, "labels.zarr")
        # hot region: one octant-sized box of the stored volume at a seeded origin
        dims = np.array(self.up.shape)
        self.hot_lo = rng.integers(0, dims // 2 + 1)
        self.hot_hi = self.hot_lo + dims // 2
        self.ops_rng = np.random.default_rng([seed, 1])
        return files + [csv]

    def prepare(self, h) -> None:
        s = self.SCALE
        traced = h.tracer.enabled
        chunks, hdr = read_mhd_chunks(h.spark, self.mhd, chunk=self.CHUNK)
        m = hdr.meta
        meta = VolumeMeta(
            m.dim_z * s, m.dim_y * s, m.dim_x * s,
            m.spacing_z / s, m.spacing_y / s, m.spacing_x / s,
        )
        if traced:
            with h.tracer.span("mhd.read"):
                chunks = chunks.cache()
                r = chunks.agg(F.count("*"), F.sum(F.length("payload"))).first()
            self.layer_counts["volume.chunks"] = r[0]
            self.layer_counts["volume.in_bytes"] = r[1]
        up = upscale_chunks(chunks, s)
        if traced:
            with h.tracer.span("upscale.kernel"):
                up = up.cache()
                r = up.agg(F.sum(F.col("dz") * F.col("dy") * F.col("dx") * 4)).first()
            self.layer_counts["upscale.out_logical_bytes"] = r[0]

        def job():
            with h.tracer.span("zarr3.write"):
                return write_zarr3(up, self.zarr, meta, "zstd", 1, shard=self.SHARD)

        t = h.op("upscale_write", job, lambda receipts: _store_counts(self.layer_counts, receipts))
        if t is not None:
            self.job_s.append(t)
        with h.tracer.span("writer.write"):
            write_volume(up, self.parquet, meta)
        if traced:
            up.unpersist()
            chunks.unpersist()
        self.stored = h.spark.read.parquet(self.parquet)
        self.regions = load_regions_csv(h.spark, self.csv)

    def check_setup(self) -> None:
        """The stored array must equal the ×SCALE repeat of the input."""
        check.check_upscaled_store(self.zarr, self.vol, self.SCALE)
        self.stored_bytes = check.store_bytes(self.zarr)

    @property
    def logical_bytes(self) -> int:
        return int(self.up.size) * 4

    def _voxel(self) -> tuple[int, int, int]:
        r = self.ops_rng
        if r.random() < self.HOT_SHARE:
            return tuple(int(v) for v in r.integers(self.hot_lo, self.hot_hi))
        return tuple(int(v) for v in r.integers(0, np.array(self.up.shape)))

    def _lookup(self, h, traced: bool, z: int, y: int, x: int):
        with h.tracer.span("relational.lookup"):
            q = decode_labels(point_lookup_chunks(self.stored, z, y, x), self.regions)
            rows = q.collect()
        if traced:
            self._scan_stats(q)
        return rows

    def _scan_stats(self, q) -> None:
        """Files and partitions the lookup's parquet scan read, from the
        executed plan's scan metrics (row groups are not exposed)."""
        todo = [q._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls == "FileSourceScanExec" and "parquet" in node.nodeName().lower():
                m = node.metrics()
                for key, name in (("numFiles", "files_read"), ("numPartitions", "partitions_read")):
                    self.layer_counts.setdefault(f"relational.{name}", []).append(
                        m.apply(key).value()
                    )
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))

    def _scan(self, h, traced: bool):
        if not traced:
            return histogram_chunks(scan_zarr3(h.spark, self.zarr)).collect()
        with h.tracer.span("zarr3.scan"):
            scanned = scan_zarr3(h.spark, self.zarr).cache()
            scanned.count()
        with h.tracer.span("verify.histogram"):
            rows = histogram_chunks(scanned).collect()
        scanned.unpersist()
        return rows

    def step(self, h, traced: bool) -> dict:
        self.n_ops += 1
        if self.n_ops % self.SCAN_EVERY == 0:
            t = h.op("scan", lambda: self._scan(h, traced),
                     lambda rows: check.check_histogram(rows, self.up))
            return {"scan": t}
        z, y, x = self._voxel()
        t = h.op("lookup", lambda: self._lookup(h, traced, z, y, x),
                 lambda rows: check.check_lookup(rows, self.up, self.names, z, y, x))
        return {"lookup": t}

    def metrics(self, records: list[dict]) -> dict:
        lookups = [r["lookup"] for r in records if r.get("lookup")]
        scans = [r["scan"] for r in records if r.get("scan")]
        pct, tail_s = tail(lookups)
        return {
            "lookup_p50_ms": _median(lookups) * 1e3,
            "lookup_tail_ms": tail_s * 1e3,
            "lookup_tail_pct": pct,
            "lookup_samples": len(lookups),
            "scan_s": _median(scans),
            "scan_samples": len(scans),
            "out_gb_per_s": self.logical_bytes / _median(self.job_s) / 1e9 if self.job_s else 0.0,
            "stored_bytes_per_logical_byte": self.stored_bytes / self.logical_bytes,
        }


class LlmDedupSearch:
    """exact_dedup → minhash_lsh_pairs (xxhash backend) over the exact
    survivors → brute_force_topk_blas for a batch of queries."""

    name = "llm_dedup_search"
    N_BASE = 1000
    EXACT_SHARE = 0.10
    NEAR_SHARE = 0.10
    EDITS = 3
    VOCAB = 5000
    WORDS = (40, 80)
    ZIPF_A = 1.1
    N_VECTORS = 8_000
    N_QUERIES = 128
    DIM = 128
    CLUSTERS = 32
    K = 10
    QUERY_ID0 = 1 << 40  # query ids never collide with corpus ids
    # the first iteration of a fresh JVM takes as long as 5-6 warm ones;
    # after it the MinHash pass speeds up by ~3 % an iteration for a
    # minute, too slowly to wait out within one run
    WARMUP = 2
    KINDS = ("exact_dedup", "near_dedup", "topk")

    def __init__(self):
        self.layer_counts: dict = {}
        self.quality: list[tuple[float, float, int]] = []
        self.recalls: list[float] = []

    def generate(self, directory: str, seed: int) -> list[str]:
        rng = np.random.default_rng(seed)
        rows, self.truth = gen.corpus(
            rng, self.N_BASE, self.EXACT_SHARE, self.NEAR_SHARE, self.EDITS,
            self.VOCAB, self.WORDS, self.ZIPF_A,
        )
        self.docs_path = gen.write_docs(os.path.join(directory, "docs.parquet"), rows)
        corpus, queries = gen.embeddings(
            rng, self.N_VECTORS, self.N_QUERIES, self.DIM, self.CLUSTERS
        )
        self.c_ids = np.arange(self.N_VECTORS, dtype=np.int64)
        self.q_ids = self.QUERY_ID0 + np.arange(self.N_QUERIES, dtype=np.int64)
        self.corpus, self.queries = corpus, queries
        self.vec_path = gen.write_vectors(
            os.path.join(directory, "vectors.parquet"), self.c_ids, corpus
        )
        self.q_path = gen.write_vectors(
            os.path.join(directory, "queries.parquet"), self.q_ids, queries
        )
        return [self.docs_path, self.vec_path, self.q_path]

    def check_setup(self) -> None:
        pass

    def prepare(self, h) -> None:
        self.docs = h.spark.read.parquet(self.docs_path)
        self.vectors = h.spark.read.parquet(self.vec_path)
        self.query_vectors = h.spark.read.parquet(self.q_path)

    def _check_exact(self, rows) -> None:
        check.check_exact_groups(rows, self.truth)
        self.layer_counts["dedup.exact_groups"] = sum(1 for r in rows if r["n_copies"] > 1)

    def _check_near(self, rows) -> None:
        self.quality.append(check.near_dup_quality(rows, self.truth))

    def _check_topk(self, rows) -> None:
        self.recalls.append(
            check.check_topk(rows, self.q_ids, self.queries, self.c_ids, self.corpus, self.K)
        )

    def step(self, h, traced: bool) -> dict:
        ex = exact_dedup(self.docs)
        if traced:
            ex = ex.cache()  # minhash then reads the materialised survivors

        def exact():
            with h.tracer.span("dedup.exact"):
                return ex.select("keep_id", "n_copies").collect()

        def near():
            survivors = ex.select(F.col("keep_id").alias("doc_id"), "text")
            with h.tracer.span("dedup.minhash"):
                return minhash_lsh_pairs(survivors).collect()

        def topk():
            with h.tracer.span("similarity.topk"):
                q = brute_force_topk_blas(self.query_vectors, self.vectors, k=self.K)
                return q.collect()

        rec = {
            "exact_dedup": h.op("exact_dedup", exact, self._check_exact),
            "near_dedup": h.op("near_dedup", near, self._check_near),
            "topk": h.op("topk", topk, self._check_topk),
        }
        if traced:
            ex.unpersist()
        return rec

    def metrics(self, records: list[dict]) -> dict:
        near = _median([r["near_dedup"] for r in records if r.get("near_dedup")])
        topk = _median([r["topk"] for r in records if r.get("topk")])
        recall, precision, pairs = self.quality[-1] if self.quality else (0.0, 0.0, 0)
        return {
            "dedup_docs_per_s": self.truth["docs"] / near if near else 0.0,
            "topk_queries_per_s": self.N_QUERIES / topk if topk else 0.0,
            "dedup.planted_recall": recall,
            "dedup.pair_precision": precision,
            "dedup.pairs_out": pairs,
            "similarity.recall_at_k": _median(self.recalls),
        }


WORKLOADS = {w.name: w for w in (VolumeQuery, LlmDedupSearch)}
