"""Correctness checks that share no code with the program under test.

They read what the program wrote (or returned) and compare it with a
NumPy or plain-Python reference computed from the generated inputs.
Each check raises ``Mismatch`` with a message naming the first
difference.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa

MISSING = (1 << 64) - 1


class Mismatch(Exception):
    """The program's output differs from the reference."""


def _crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def read_sharded_zarr3(store: str, level: int = 0) -> np.ndarray:
    """Decode a sharded, zstd-compressed uint32 Zarr v3 array.

    Reads ``zarr.json`` for the shard and inner-chunk shapes, checks each
    shard index's crc32c, decodes every present inner chunk with
    pyarrow's zstd, and fills absent chunks and shards with 0.
    """
    with open(os.path.join(store, str(level), "zarr.json")) as fh:
        meta = json.load(fh)
    shape = tuple(meta["shape"])
    shard = tuple(meta["chunk_grid"]["configuration"]["chunk_shape"])
    (codec,) = meta["codecs"]
    if codec["name"] != "sharding_indexed" or meta["data_type"] != "uint32":
        raise Mismatch(f"unexpected array metadata: {meta['codecs']}")
    inner = tuple(codec["configuration"]["chunk_shape"])
    names = [c["name"] for c in codec["configuration"]["codecs"]]
    if names != ["bytes", "zstd"]:
        raise Mismatch(f"unexpected inner codec chain {names}")
    per = tuple(s // k for s, k in zip(shard, inner))
    n_inner = per[0] * per[1] * per[2]
    nbytes = inner[0] * inner[1] * inner[2] * 4
    grid = tuple(-(-d // s) for d, s in zip(shape, shard))
    padded = np.zeros(tuple(g * s for g, s in zip(grid, shard)), dtype="<u4")
    for g0 in range(grid[0]):
        for g1 in range(grid[1]):
            for g2 in range(grid[2]):
                path = os.path.join(store, str(level), "c", str(g0), str(g1), str(g2))
                if not os.path.exists(path):
                    continue
                with open(path, "rb") as fh:
                    data = fh.read()
                tail = n_inner * 16
                raw_idx = data[-tail - 4 : -4]
                (crc,) = struct.unpack("<I", data[-4:])
                if crc32c(raw_idx) != crc:
                    raise Mismatch(f"shard {path}: index crc32c mismatch")
                idx = np.frombuffer(raw_idx, dtype="<u8").reshape(n_inner, 2)
                for pos in range(n_inner):
                    off, n = int(idx[pos, 0]), int(idx[pos, 1])
                    if off == MISSING:
                        continue
                    block = np.frombuffer(
                        pa.decompress(
                            data[off : off + n],
                            decompressed_size=nbytes,
                            codec="zstd",
                            asbytes=True,
                        ),
                        dtype="<u4",
                    ).reshape(inner)
                    iz, r = divmod(pos, per[1] * per[2])
                    iy, ix = divmod(r, per[2])
                    z = g0 * shard[0] + iz * inner[0]
                    y = g1 * shard[1] + iy * inner[1]
                    x = g2 * shard[2] + ix * inner[2]
                    padded[z : z + inner[0], y : y + inner[1], x : x + inner[2]] = block
    return padded[: shape[0], : shape[1], : shape[2]]


def store_bytes(store: str) -> int:
    """Bytes on disk under ``store``: every object plus the metadata."""
    total = 0
    for dirpath, _, files in os.walk(store):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def upscaled(vol: np.ndarray, s: int) -> np.ndarray:
    """Nearest-neighbour ×s reference: repeat every axis ``s`` times."""
    return vol.repeat(s, axis=0).repeat(s, axis=1).repeat(s, axis=2)


def check_upscaled_store(store: str, vol: np.ndarray, s: int) -> None:
    got = read_sharded_zarr3(store)
    want = upscaled(vol, s)
    if got.shape != want.shape:
        raise Mismatch(f"stored shape {got.shape} != expected {want.shape}")
    bad = np.argwhere(got != want)
    if len(bad):
        z, y, x = bad[0]
        raise Mismatch(
            f"{len(bad)} voxels differ; first at ({z},{y},{x}): "
            f"{got[z, y, x]} != {want[z, y, x]}"
        )


def check_lookup(rows, vol: np.ndarray, names: dict[int, str], z: int, y: int, x: int):
    if len(rows) != 1:
        raise Mismatch(f"lookup ({z},{y},{x}) returned {len(rows)} rows")
    r = rows[0]
    label = int(vol[z, y, x])
    want = names.get(label, "Unknown")
    if int(r["label"]) != label or r["region_name"] != want:
        raise Mismatch(
            f"lookup ({z},{y},{x}) = ({r['label']}, {r['region_name']!r}), "
            f"expected ({label}, {want!r})"
        )


def check_histogram(rows, vol: np.ndarray) -> None:
    got = {int(r["label"]): int(r["n_voxels"]) for r in rows}
    u, c = np.unique(vol, return_counts=True)
    want = dict(zip(u.tolist(), c.tolist()))
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        raise Mismatch(f"histogram differs from np.unique counts, e.g. {diff}")


def check_exact_groups(rows, truth: dict) -> None:
    groups = len(rows)
    dups = sum(1 for r in rows if int(r["n_copies"]) > 1)
    copies = sum(int(r["n_copies"]) for r in rows)
    if (groups, dups, copies) != (truth["distinct"], truth["exact_groups"], truth["docs"]):
        raise Mismatch(
            f"exact_dedup: {groups} groups / {dups} duplicate groups / {copies} docs, "
            f"expected {truth['distinct']} / {truth['exact_groups']} / {truth['docs']}"
        )


def near_dup_quality(rows, truth: dict) -> tuple[float, float, int]:
    """(planted recall, pair precision, pairs out) of MinHash-LSH pairs.

    A returned pair is correct when both documents descend from the
    same base document; recall counts the planted (base, copy) pairs
    found.  Malformed pairs raise."""
    family = truth["family"]
    found = set()
    correct = 0
    for r in rows:
        a, b, sim = int(r["d1"]), int(r["d2"]), float(r["est_sim"])
        if not (a < b and a in family and b in family and 0.0 <= sim <= 1.0):
            raise Mismatch(f"malformed near-dup pair {(a, b, sim)}")
        found.add((a, b))
        correct += family[a] == family[b]
    planted = truth["planted_pairs"]
    recall = len(planted & found) / len(planted) if planted else 1.0
    precision = correct / len(rows) if rows else 1.0
    return recall, precision, len(rows)


def reference_topk(
    q_ids: np.ndarray, q: np.ndarray, c_ids: np.ndarray, c: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k; ties broken by the smaller id."""
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    sims = qn @ cn.T
    order = np.lexsort((np.broadcast_to(c_ids, sims.shape), -sims), axis=1)[:, :k]
    return c_ids[order], sims


def check_topk(rows, q_ids, q, c_ids, c, k: int, tol: float = 1e-9) -> float:
    """Compare top-k rows with the NumPy reference; returns recall@k.

    Ranks must match the reference exactly, except that two neighbours
    whose reference cosines differ by less than ``tol`` may swap (the
    program sums the dot products in another order)."""
    want, sims = reference_topk(q_ids, q, c_ids, c, k)
    pos = {int(v): i for i, v in enumerate(c_ids)}
    got: dict[int, list] = {int(qid): [None] * k for qid in q_ids}
    for r in rows:
        rk = int(r["rk"])
        if not 1 <= rk <= k or int(r["query_id"]) not in got:
            raise Mismatch(f"top-k row out of range: {r}")
        got[int(r["query_id"])][rk - 1] = int(r["neighbor_id"])
    hits = 0
    for qi, qid in enumerate(q_ids):
        g = got[int(qid)]
        if None in g:
            raise Mismatch(f"query {qid}: only {k - g.count(None)} of {k} neighbours")
        if any(gi not in pos for gi in g):
            raise Mismatch(f"query {qid}: neighbour ids {g} not all in the corpus")
        for rank, (gi, wi) in enumerate(zip(g, want[qi])):
            if gi != wi and abs(sims[qi, pos[gi]] - sims[qi, pos[int(wi)]]) > tol:
                raise Mismatch(
                    f"query {qid} rank {rank + 1}: neighbour {gi}, expected {int(wi)}"
                )
        hits += len(set(g) & set(int(w) for w in want[qi]))
    return hits / (k * len(q_ids))
