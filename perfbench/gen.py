"""Seeded input generators.

Every generator is a pure function of its seed and its size arguments:
it writes files into a directory and returns the ground truth the
correctness checks compare against.  The program under test only ever
sees the files.  ``files_digest`` hashes what was written, so a run can
prove that the same seed produced byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def files_digest(paths: list[str]) -> str:
    """sha256 over the names and bytes of ``paths`` (in the given order)."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# label volumes (MHD header + raw payload) and the region ontology CSV
# ---------------------------------------------------------------------------


def region_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct region ids in the Allen-atlas id range."""
    return np.sort(rng.choice(np.arange(10_000, 40_000), size=n, replace=False))


def label_volume(
    rng: np.random.Generator,
    shape: tuple[int, int, int],
    labels: np.ndarray,
    n_boxes: int,
    box_frac: tuple[float, float],
) -> np.ndarray:
    """Background 0 painted with ``n_boxes`` axis-aligned boxes.

    Each box edge is a seeded fraction ``box_frac`` of the axis length
    and each box takes a label drawn from ``labels``; later boxes paint
    over earlier ones.  Box placement sets how many chunks stay empty
    and how well each chunk compresses, so both vary with the seed.
    """
    vol = np.zeros(shape, dtype="<u4")
    dims = np.array(shape)
    lo, hi = (np.maximum(1, (dims * f).astype(int)) for f in box_frac)
    for _ in range(n_boxes):
        size = rng.integers(lo, hi + 1)
        start = rng.integers(0, dims - size + 1)
        z0, y0, x0 = start
        dz, dy, dx = size
        vol[z0 : z0 + dz, y0 : y0 + dy, x0 : x0 + dx] = rng.choice(labels)
    return vol


def write_mhd(directory: str, name: str, vol: np.ndarray) -> list[str]:
    """MetaImage header + little-endian uint32 raw file; DimSize is X Y Z."""
    z, y, x = vol.shape
    raw = os.path.join(directory, f"{name}.raw")
    mhd = os.path.join(directory, f"{name}.mhd")
    with open(raw, "wb") as fh:
        fh.write(np.ascontiguousarray(vol, dtype="<u4").tobytes())
    header = (
        "ObjectType = Image\n"
        "NDims = 3\n"
        f"DimSize = {x} {y} {z}\n"
        "ElementSpacing = 25 25 25\n"
        "ElementType = MET_UINT\n"
        "ByteOrderMSB = False\n"
        f"ElementDataFile = {name}.raw\n"
    )
    with open(mhd, "w") as fh:
        fh.write(header)
    return [mhd, raw]


def write_regions_csv(directory: str, ids: np.ndarray) -> tuple[str, dict[int, str]]:
    """Ontology CSV (region, region_abbr, region_name, level, parent).

    Returns the path and the id → name map the lookup check expects."""
    path = os.path.join(directory, "regions.csv")
    names = {}
    with open(path, "w") as fh:
        fh.write("region,region_abbr,region_name,level,parent\n")
        root = int(ids[0])
        for i, rid in enumerate(ids):
            rid = int(rid)
            names[rid] = f"region {rid}"
            parent = 0 if i == 0 else root
            fh.write(f"{rid},R{rid},{names[rid]},{0 if i == 0 else 1},{parent}\n")
    return path, names


# ---------------------------------------------------------------------------
# text corpus with planted exact and near duplicates
# ---------------------------------------------------------------------------


def corpus(
    rng: np.random.Generator,
    n_base: int,
    exact_share: float,
    near_share: float,
    edits: int,
    vocab: int,
    words: tuple[int, int],
    zipf_a: float,
) -> tuple[list[tuple[int, str]], dict]:
    """Documents of Zipf-distributed words with planted duplicates.

    ``n_base`` distinct base documents; ``exact_share·n_base`` verbatim
    copies of distinct bases and ``near_share·n_base`` near copies of
    other, distinct bases, each made by ``edits`` word substitutions.
    Ids are a seeded permutation, so copies interleave with bases.

    Returns the (doc_id, text) rows and the ground truth: the number of
    distinct texts, the number of exact-duplicate groups, and the
    planted near-duplicate pairs as (smaller id, larger id).
    """
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_a
    p /= p.sum()
    seen: set[str] = set()
    bases: list[list[str]] = []
    while len(bases) < n_base:
        n = int(rng.integers(words[0], words[1] + 1))
        toks = [f"w{t}" for t in rng.choice(vocab, size=n, p=p)]
        text = " ".join(toks)
        if text not in seen:
            seen.add(text)
            bases.append(toks)
    n_exact = int(round(exact_share * n_base))
    n_near = int(round(near_share * n_base))
    sources = rng.permutation(n_base)
    exact_src = sources[:n_exact]
    near_src = sources[n_exact : n_exact + n_near]

    texts = [" ".join(t) for t in bases]
    origin = list(range(n_base))  # base index each text descends from
    for b in exact_src:
        texts.append(texts[b])
        origin.append(int(b))
    for b in near_src:
        toks = list(bases[b])
        for pos in rng.choice(len(toks), size=edits, replace=False):
            new = toks[pos]
            while new == toks[pos]:
                new = f"w{rng.choice(vocab, p=p)}"
            toks[pos] = new
        texts.append(" ".join(toks))
        origin.append(int(b))
    if len(set(texts)) != n_base + n_near:
        raise RuntimeError("generator produced colliding documents; change sizes")

    ids = rng.permutation(len(texts)).astype(np.int64)
    rows = [(int(ids[i]), texts[i]) for i in range(len(texts))]
    base_id = ids[:n_base]
    planted = set()
    for j, b in enumerate(near_src):
        a, c = int(base_id[b]), int(ids[n_base + n_exact + j])
        planted.add((min(a, c), max(a, c)))
    truth = {
        "docs": len(rows),
        "distinct": n_base + n_near,
        "exact_groups": n_exact,
        "planted_pairs": planted,
        # near-dup family of every id that survives exact dedup: a pair
        # is correct when both ends descend from the same base document
        "family": {int(ids[i]): origin[i] for i in range(len(texts))},
    }
    return rows, truth


def write_docs(path: str, rows: list[tuple[int, str]]) -> str:
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows], type=pa.string()),
        }
    )
    pq.write_table(table, path, compression="zstd")
    return path


# ---------------------------------------------------------------------------
# clustered embeddings
# ---------------------------------------------------------------------------


def embeddings(
    rng: np.random.Generator, n: int, n_queries: int, dim: int, clusters: int
) -> tuple[np.ndarray, np.ndarray]:
    """Corpus and query vectors drawn around ``clusters`` shared centres."""
    centres = rng.standard_normal((clusters, dim))
    corpus = centres[rng.integers(0, clusters, n)] + 0.35 * rng.standard_normal((n, dim))
    queries = centres[rng.integers(0, clusters, n_queries)] + 0.35 * rng.standard_normal(
        (n_queries, dim)
    )
    return corpus, queries


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray) -> str:
    flat = pa.array(np.ascontiguousarray(mat, dtype=np.float64).reshape(-1))
    emb = pa.FixedSizeListArray.from_arrays(flat, mat.shape[1]).cast(
        pa.list_(pa.float64())
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(ids, type=pa.int64()), "embedding": emb}),
        path,
        compression="none",
    )
    return path
