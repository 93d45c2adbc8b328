"""Q1–Q8 — the reference's relational query surface, Spark-native.

The reference's only true relational table is the 2,692-row region
ontology CSV (``lookup_test.py:11``; schema in Screenshots/
lookup_test.png: Region, RegionAbbr, RegionName, Level, Parent).
Queries over it: point lookup (``load_test.py:9``), equality filter
(``lookup_by_id.py:31``), voxel→region dimension join with explicit
missing-key handling (``lookup_test2.py:21-29`` — "Unknown region ID"),
projection, hierarchy access via the Parent self-FK, head/count
(``lookup_test.py:13-14``).

Design: the dim table is always broadcast (it is tiny); the voxel→region
join is therefore a broadcast hash join with zero shuffle on the fact
side — the property that keeps Q4 viable when the fact side is 100 TB.
Missing keys make it a LEFT OUTER join with ``coalesce(name,
'Unknown')`` (lookup_by_id.py:32-33).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

REGION_SCHEMA = T.StructType(
    [
        T.StructField("region", T.LongType(), False),
        T.StructField("region_abbr", T.StringType(), True),
        T.StructField("region_name", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("parent", T.LongType(), True),
    ]
)


def load_regions_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5 — region-ontology CSV scan with an explicit schema.

    ``pd.read_csv`` + header inference in the reference
    (lookup_test.py:11); here an explicit schema (no inference in prod)
    and the frame is small enough that every join marks it broadcast.
    """
    return spark.read.csv(path, header=True, schema=REGION_SCHEMA)


def synthetic_regions(spark: SparkSession) -> DataFrame:
    """Deterministic ontology fixture (FIXTURES.md §2).

    1 root (15500, level -1, parent 0), 4 mid nodes (156xx, level 0),
    64 leaves matching the voxel cube's labels (level 1, parent by
    ``region mod 4``), plus 10 extra leaves absent from the volume —
    the adjacency-list hierarchy shape of the real CSV
    (Screenshots/lookup_test.png; e.g. 15564 mouse → neural plate →
    forebrain chain with Level -1,0,1,...).
    """
    root = spark.createDataFrame(
        [(15500, "ROOT", "mouse", -1, 0)], schema=REGION_SCHEMA
    )
    mids = spark.createDataFrame(
        [(15540 + i, f"M{i}", f"mid node {i}", 0, 15500) for i in range(4)],
        schema=REGION_SCHEMA,
    )
    leaves = spark.range(15564, 15564 + 64 + 10).select(
        F.col("id").alias("region"),
        F.concat(F.lit("R"), F.col("id")).alias("region_abbr"),
        F.concat(F.lit("region "), F.col("id")).alias("region_name"),
        F.lit(1).alias("level"),
        (F.lit(15540) + F.pmod(F.col("id"), F.lit(4))).alias("parent"),
    )
    return root.unionByName(mids).unionByName(leaves.select(*REGION_SCHEMA.names))


def _coords(*coords) -> tuple[int, ...]:
    """Voxel coordinates as Python ints, safe to inline into SQL text.

    ``operator.index`` accepts ints and NumPy integers and raises
    ``TypeError`` for floats, strings and everything else, so no other
    value ever reaches the expression strings below."""
    return tuple(operator.index(c) for c in coords)


def point_lookup(voxels: DataFrame, z: int, y: int, x: int) -> DataFrame:
    """Q1 — ``arr[z,y,x] -> label`` (load_test.py:9).

    A conjunctive equality filter; on a parquet-backed voxel table it
    reaches the scan as PushedFilters, so row-group min/max stats skip
    I/O.  The predicate is SQL text: one py4j round trip for all of it.
    """
    z, y, x = _coords(z, y, x)
    return voxels.filter(f"z = {z} AND y = {y} AND x = {x}")


def point_lookup_chunks(chunks: DataFrame, z: int, y: int, x: int) -> DataFrame:
    """Q1 directly on the chunk-packed store — ZERO payload decode,
    zero Python: the containing chunk is found by range predicates on
    the metadata columns, and the single voxel is extracted from the
    raw C-order payload with SQL byte arithmetic.

    Pruning: ``z0 <= z``, ``y0 <= y`` and ``x0 <= x`` reach the parquet
    scan as PushedFilters, so row groups whose ``z0/y0/x0`` min/max
    stats exclude the voxel are skipped.  There is no ``cz`` predicate,
    so every ``cz=`` partition directory and file is still opened; the
    upper bounds (``z < z0 + dz``) are evaluated after the scan.

    The label is the little-endian uint32 at byte offset
    ``((z−z0)·dy·dx + (y−y0)·dx + (x−x0))·4``: ``hex`` of those four
    bytes, byte-swapped by one ``regexp_replace``, then one ``conv``
    base 16 → 10.  (``reverse`` is NOT a byte swap: on binary it casts
    to a UTF-8 string first and mangles bytes ≥ 0x80.)

    The plan is built from SQL text (``filter(str)``, ``selectExpr``)
    because PySpark wraps every Column/functions call in several py4j
    round trips; text keeps building one lookup to a few dozen.
    Requires ``codec='raw'`` rows (compressed chunks must decode; use
    the COO path for those).
    """
    z, y, x = _coords(z, y, x)
    off = f"CAST((({z} - z0) * dy * dx + ({y} - y0) * dx + ({x} - x0)) * 4 + 1 AS INT)"
    return chunks.filter(
        f"z0 <= {z} AND {z} < z0 + dz"
        f" AND y0 <= {y} AND {y} < y0 + dy"
        f" AND x0 <= {x} AND {x} < x0 + dx"
        " AND codec = 'raw'"
    ).selectExpr(
        f"{z}L AS z",
        f"{y}L AS y",
        f"{x}L AS x",
        "CAST(conv(regexp_replace(hex(substring(payload, "
        f"{off}, 4)), '(..)(..)(..)(..)', '$4$3$2$1'), 16, 10) AS BIGINT) AS label",
    )


def region_filter(regions: DataFrame, region_id: int) -> DataFrame:
    """Q2 — equality filter on the dim table (lookup_by_id.py:31)."""
    return regions.filter(F.col("region") == region_id)


def decode_labels(voxels: DataFrame, regions: DataFrame) -> DataFrame:
    """Q4+Q3+Q5 — voxel→region dimension join (label decode).

    ``lookup_test2.py:21-29``: voxel value is the join key; missing keys
    yield "Unknown region ID" (lookup_by_id.py:32-33) → LEFT OUTER +
    coalesce.  Broadcast hash join: the dim is 2,692 rows in the
    reference; the fact side never shuffles.  Built from SQL text like
    ``point_lookup_chunks``: the dim's ``region`` is renamed to
    ``label`` so the join is a USING join on one column name.
    """
    dim = regions.selectExpr("region AS label", "region_name", "region_abbr", "level")
    return voxels.join(dim.hint("broadcast"), "label", "left").selectExpr(
        "z",
        "y",
        "x",
        "label",
        "coalesce(region_name, 'Unknown') AS region_name",
        "coalesce(region_abbr, '?') AS region_abbr",
        "level",
    )


def lookup_region_at(
    voxels: DataFrame, regions: DataFrame, z: int, y: int, x: int
) -> DataFrame:
    """The composed interactive query of ``lookup_test2.py:21-29``:
    point lookup, then label decode (golden: (100,200,200) → 15857 →
    'putamen')."""
    return decode_labels(point_lookup(voxels, z, y, x), regions)


def parent_join(regions: DataFrame) -> DataFrame:
    """Q6 — one-level hierarchy access: child joined to its parent row.

    ``regions r JOIN regions p ON r.parent = p.region`` (the adjacency
    list exposed by the Parent column, Screenshots/lookup_test.png).
    """
    p = regions.select(
        F.col("region").alias("p_region"),
        F.col("region_name").alias("parent_name"),
        F.col("level").alias("parent_level"),
    )
    return regions.join(
        F.broadcast(p), regions["parent"] == p["p_region"], "left"
    ).select("region", "region_name", "level", "parent", "parent_name", "parent_level")


def ancestor_closure(regions: DataFrame, max_depth: int = 16) -> DataFrame:
    """Q6 — transitive ancestor closure by iterative self-join.

    Spark has no recursive CTE; the ontology is shallow (Level ≤ ~13 in
    the real CSV), so a bounded driver loop of broadcast self-joins is
    both correct and cheap (SURVEY.md §7.3).  Returns
    (region, ancestor, depth) with depth ≥ 1.
    """
    edges = regions.select(
        F.col("region"), F.col("parent").alias("ancestor"), F.lit(1).alias("depth")
    ).filter(F.col("ancestor").isNotNull() & (F.col("ancestor") != 0))
    frontier = edges
    closure = edges
    parent_edge = regions.select(
        F.col("region").alias("e_child"), F.col("parent").alias("e_parent")
    ).filter(F.col("e_parent").isNotNull() & (F.col("e_parent") != 0))
    for _ in range(max_depth):
        nxt = (
            frontier.join(
                F.broadcast(parent_edge),
                frontier["ancestor"] == parent_edge["e_child"],
                "inner",
            )
            .select(
                F.col("region"),
                F.col("e_parent").alias("ancestor"),
                (F.col("depth") + 1).alias("depth"),
            )
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure


def head_and_count(df: DataFrame, n: int = 5) -> tuple[list, int]:
    """Q7 — ``df.head()`` + ``len(df)`` (lookup_test.py:13-14)."""
    return df.limit(n).collect(), df.count()
