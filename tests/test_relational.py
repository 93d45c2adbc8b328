"""Relational surface tests (Q1-Q8 semantics from the reference scripts)."""

import pytest
from pyspark.sql import functions as F

from atlas_upscaling_dask_spark.operators.relational import (
    ancestor_closure,
    decode_labels,
    head_and_count,
    lookup_region_at,
    parent_join,
    point_lookup,
    region_filter,
    synthetic_regions,
)
from atlas_upscaling_dask_spark.volume import synthetic_voxels


@pytest.fixture(scope="module")
def vox(spark):
    return synthetic_voxels(spark).cache()


@pytest.fixture(scope="module")
def regions(spark):
    return synthetic_regions(spark).cache()


def test_point_lookup_single_row(vox):
    # Q1 — arr[z,y,x] (load_test.py:9)
    rows = point_lookup(vox, 4, 4, 4).collect()
    assert len(rows) == 1 and rows[0]["label"] == 15585


def test_point_lookup_out_of_volume(vox):
    assert point_lookup(vox, 99, 0, 0).isEmpty()


def test_region_filter(regions):
    # Q2 — equality filter (lookup_by_id.py:31)
    rows = region_filter(regions, 15564).collect()
    assert len(rows) == 1 and rows[0]["region_name"] == "region 15564"


def test_region_filter_missing(regions):
    # Q3 — missing-key handling (lookup_by_id.py:32-33)
    assert region_filter(regions, 99999).isEmpty()


def test_decode_labels_left_join(vox, regions, spark):
    # Q4 — every voxel row survives; labels missing from regions decode
    # to 'Unknown' (lookup_test2.py:25-26 semantics)
    decoded = decode_labels(vox, regions)
    assert decoded.count() == 4096
    # inject a voxel whose label is not in the ontology
    alien = spark.createDataFrame([(0, 0, 0, 424242)], "z long, y long, x long, label long")
    d = decode_labels(alien, regions).first()
    assert d["region_name"] == "Unknown" and d["region_abbr"] == "?"


def test_lookup_region_at_golden(vox, regions):
    # golden chain mirroring (100,200,200)→15857→'putamen'
    # (lookup_test2.py:31-32) on the fixture: (4,4,4)→15585→'region 15585'
    row = lookup_region_at(vox, regions, 4, 4, 4).first()
    assert row["label"] == 15585 and row["region_name"] == "region 15585"


def test_parent_join(regions):
    # Q6 — one-level hierarchy
    rows = {r["region"]: r for r in parent_join(regions).collect()}
    assert rows[15564]["parent_name"] == "mid node 0"
    assert rows[15540]["parent_name"] == "mouse"
    assert rows[15500]["parent_name"] is None  # root's parent (0) not a row


def test_ancestor_closure_depths(regions):
    # leaf → mid → root resolves within depth 2; level strictly decreases
    clo = ancestor_closure(regions)
    leaf = clo.filter(F.col("region") == 15564).orderBy("depth").collect()
    assert [(r["ancestor"], r["depth"]) for r in leaf] == [(15540, 1), (15500, 2)]
    assert clo.agg(F.max("depth")).first()[0] == 2


def test_head_and_count(regions):
    # Q7 — head + count (lookup_test.py:13-14; golden count analog)
    head, n = head_and_count(regions)
    assert len(head) == 5 and n == 79


# ----------------------------------------------- changelog apply (MERGE)


def test_apply_changelog_semantics(spark):
    from atlas_upscaling_dask_spark.operators.merge import apply_changelog

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            (2, 5, "upsert", "b2", 25.0),   # update key 2
            (2, 9, "upsert", "b3", 29.0),   # later update wins
            (3, 4, "delete", None, None),   # delete key 3
            (4, 6, "upsert", "d", 40.0),    # insert new key 4
            (5, 2, "upsert", "e", 50.0),    # insert then delete → gone
            (5, 8, "delete", None, None),
        ],
        "k long, seq long, op string, name string, bal double",
    )
    out = {r["k"]: r for r in apply_changelog(base, changes, "k").collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["name"] == "a" and out[1]["bal"] == 10.0
    assert out[2]["name"] == "b3" and out[2]["bal"] == 29.0
    assert out[4]["name"] == "d"


def test_apply_changelog_missing_payload_raises(spark):
    from atlas_upscaling_dask_spark.operators.merge import apply_changelog

    base = spark.createDataFrame([(1, "a")], "k long, name string")
    changes = spark.createDataFrame([(1, 1, "upsert")], "k long, seq long, op string")
    with pytest.raises(ValueError):
        apply_changelog(base, changes, "k")


# ----------------------------------------------- z-order clustering


def test_morton_bijective_and_monotone(spark):
    from atlas_upscaling_dask_spark.operators.zorder import morton_expr

    vox = synthetic_voxels(spark)
    codes = vox.select(morton_expr(["z", "y", "x"], 4).alias("m"))
    n = vox.count()
    assert codes.distinct().count() == n  # bijection on the 16^3 cube
    lo, hi = codes.agg(F.min("m"), F.max("m")).collect()[0]
    assert lo == 0 and hi == 16**3 - 1  # dense cube → dense code range


def test_morton_bits_overflow_guard():
    from atlas_upscaling_dask_spark.operators.zorder import morton_expr

    with pytest.raises(ValueError):
        morton_expr(["a", "b", "c"], 21)


def test_zorder_by_preserves_rows_and_clusters(spark, tmp_path):
    from atlas_upscaling_dask_spark.operators.zorder import morton_expr, zorder_by

    vox = synthetic_voxels(spark)
    zo = zorder_by(vox, ["z", "y", "x"], bits=4, num_partitions=4)
    assert zo.columns == vox.columns
    assert zo.count() == vox.count()
    out = str(tmp_path / "zo")
    zo.write.parquet(out)
    back = spark.read.parquet(out)
    assert back.exceptAll(vox).isEmpty() and vox.exceptAll(back).isEmpty()
    # each written file covers a narrow, near-disjoint morton range
    import pyarrow.parquet as pq
    import glob

    spans = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        t = pq.read_table(f, columns=["z", "y", "x"]).to_pandas()
        m = (t["z"].astype(int), t["y"].astype(int), t["x"].astype(int))
        enc = [int(_interleave(z, y, x, 4)) for z, y, x in zip(*m)]
        spans.append((min(enc), max(enc)))
    spans.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo  # range partitioning → non-overlapping curve spans


def _interleave(z: int, y: int, x: int, bits: int) -> int:
    code = 0
    for b in range(bits):
        code |= ((z >> b) & 1) << (3 * b + 2)
        code |= ((y >> b) & 1) << (3 * b + 1)
        code |= ((x >> b) & 1) << (3 * b + 0)
    return code


def test_point_lookup_chunks_binary_extraction(spark, tmp_path):
    # JVM-side byte extraction from a STORED volume: pruned scan, no
    # decode, answer equals the COO path at several probe points.
    from atlas_upscaling_dask_spark.operators.relational import point_lookup_chunks
    from atlas_upscaling_dask_spark.sinks.writer import write_volume
    from atlas_upscaling_dask_spark.volume import (
        VolumeMeta,
        synthetic_chunks,
        synthetic_voxels,
    )

    meta = VolumeMeta(16, 16, 16)
    path = str(tmp_path / "vol")
    write_volume(synthetic_chunks(spark, meta, chunk=(4, 8, 8)), path, meta,
                 compressor="none")
    stored = spark.read.parquet(path)
    vox = synthetic_voxels(spark, meta)
    for z, y, x in [(0, 0, 0), (4, 4, 4), (15, 15, 15), (7, 9, 3)]:
        got = point_lookup_chunks(stored, z, y, x).collect()
        exp = vox.filter((F.col("z") == z) & (F.col("y") == y) & (F.col("x") == x)).collect()
        assert len(got) == 1
        assert got[0]["label"] == exp[0]["label"]
    # the metadata range predicates reach the parquet scan
    from atlas_upscaling_dask_spark.plans.estimate import explain

    plan = explain(point_lookup_chunks(stored, 4, 4, 4))
    assert "PushedFilters" in plan and "LessThanOrEqual(z0,4)" in plan


def test_point_lookup_chunks_skips_compressed(spark):
    from atlas_upscaling_dask_spark.operators.outline import outline_chunks
    from atlas_upscaling_dask_spark.operators.relational import point_lookup_chunks
    from atlas_upscaling_dask_spark.volume import VolumeMeta, synthetic_chunks

    meta = VolumeMeta(8, 8, 8)
    compressed = outline_chunks(
        synthetic_chunks(spark, meta, chunk=(4, 8, 8)), codec="zstd"
    )
    assert point_lookup_chunks(compressed, 1, 1, 1).isEmpty()


# raw uint32 labels whose little-endian bytes exercise every byte lane:
# 0xFFFFFFF0 is the `reverse()` trap (reverse(binary) goes through a
# UTF-8 string and returns 4043309055 instead of 4294967280)
_EDGE_LABELS = {
    (0, 0, 0): 0xFFFFFFF0,  # first voxel of the first chunk
    (3, 3, 7): 2**31,  # last voxel of the first chunk
    (4, 4, 8): 65535,  # first voxel of chunk (1,1,1)
    (7, 7, 15): 256,  # last voxel of the volume
    (1, 2, 5): 255,  # interiors
    (5, 1, 12): 0,
    (2, 6, 3): 0xFFFFFFF0,
    (6, 5, 9): 2**31,
}


@pytest.fixture(scope="module")
def edge_store(spark, tmp_path_factory):
    """An 8×8×16 uint32 volume in 4×4×8 raw chunks, written with
    ``write_volume`` and read back; random labels everywhere except the
    ``_EDGE_LABELS`` voxels.  Returns (stored frame, NumPy volume)."""
    import numpy as np

    from atlas_upscaling_dask_spark.sinks.writer import write_volume
    from atlas_upscaling_dask_spark.volume import CHUNK_SCHEMA, VolumeMeta

    vol = np.random.default_rng(7).integers(0, 2**32, (8, 8, 16), dtype=np.uint32)
    for zyx, label in _EDGE_LABELS.items():
        vol[zyx] = label
    rows = []
    for cz, z0 in enumerate(range(0, 8, 4)):
        for cy, y0 in enumerate(range(0, 8, 4)):
            for cx, x0 in enumerate(range(0, 16, 8)):
                block = vol[z0 : z0 + 4, y0 : y0 + 4, x0 : x0 + 8]
                rows.append(("vol", cz, cy, cx, z0, y0, x0, 4, 4, 8, "raw",
                             block.astype("<u4").tobytes()))
    meta = VolumeMeta(8, 8, 16)
    path = str(tmp_path_factory.mktemp("edge") / "vol")
    write_volume(spark.createDataFrame(rows, CHUNK_SCHEMA), path, meta,
                 compressor="none")
    return spark.read.parquet(path), vol


def test_point_lookup_chunks_decodes_uint32_edge_labels(spark, edge_store):
    from atlas_upscaling_dask_spark.operators.relational import (
        REGION_SCHEMA,
        point_lookup_chunks,
    )
    from atlas_upscaling_dask_spark.plans.estimate import explain

    stored, vol = edge_store
    for (z, y, x), label in _EDGE_LABELS.items():
        rows = point_lookup_chunks(stored, z, y, x).collect()
        assert [tuple(r) for r in rows] == [(z, y, x, int(vol[z, y, x]))]
        assert rows[0]["label"] == label
    # the decoded label joins the dim as an unsigned 64-bit key
    regions = spark.createDataFrame(
        [(2**31, "A", "big", 1, 0), (0xFFFFFFF0, "B", "max", 2, 0)], REGION_SCHEMA
    )
    q = decode_labels(point_lookup_chunks(stored, 6, 5, 9), regions)
    assert [tuple(r) for r in q.collect()] == [(6, 5, 9, 2**31, "big", "A", 1)]
    assert q.schema.simpleString() == (
        "struct<z:bigint,y:bigint,x:bigint,label:bigint,region_name:string,"
        "region_abbr:string,level:int>"
    )
    q = decode_labels(point_lookup_chunks(stored, 1, 2, 5), regions)
    assert [tuple(r) for r in q.collect()] == [(1, 2, 5, 255, "Unknown", "?", None)]
    plan = explain(q)
    assert "LessThanOrEqual(z0,1)" in plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_lookup_coordinate_types(spark, edge_store):
    import numpy as np

    from atlas_upscaling_dask_spark.operators.relational import point_lookup_chunks

    stored, vol = edge_store
    z, y, x = np.int64(3), np.int32(3), np.uint16(7)
    rows = point_lookup_chunks(stored, z, y, x).collect()
    assert [tuple(r) for r in rows] == [(3, 3, 7, 2**31)]
    assert point_lookup(spark.range(1).selectExpr("id AS z", "id AS y", "id AS x"),
                        np.int8(0), 0, np.uint64(0)).count() == 1
    # a frame that fails on any method call: the TypeError must come
    # from the coordinate check, before any SQL text reaches Spark
    no_frame = object()
    for bad in (4.0, np.float32(4), "4", "4 OR 1=1", None):
        with pytest.raises(TypeError):
            point_lookup_chunks(no_frame, 1, bad, 1)
        with pytest.raises(TypeError):
            point_lookup(no_frame, bad, 1, 1)


def test_decoded_lookup_py4j_budget(spark, edge_store, monkeypatch):
    # PySpark wraps every Column/functions call in several py4j round
    # trips; the SQL-text lookup must stay a few dozen per query
    import threading

    from py4j.clientserver import ClientServerConnection

    from atlas_upscaling_dask_spark.operators.relational import point_lookup_chunks

    stored, _ = edge_store
    regions = synthetic_regions(spark)
    calls = []
    send = ClientServerConnection.send_command

    building_thread = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        # py4j's finalizer thread sends a delete command for every freed
        # JavaObject whenever it runs; those are not this build's
        if threading.get_ident() == building_thread:
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    q = decode_labels(point_lookup_chunks(stored, 4, 4, 8), regions)
    monkeypatch.undo()
    assert 0 < len(calls) <= 80, f"{len(calls)} py4j round trips to build one lookup"
    assert q.first()["label"] == 65535


def test_profile_columns_stats_and_rejection(spark):
    import pytest
    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, None, "b"), (3, 7.5, "b"), (None, 1.0, None)],
        "k long, v double, s string",
    )
    out = {r["column"]: r for r in profile_columns(df).collect()}
    assert set(out) == {"k", "v", "s"}
    k = out["k"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 1, 3)
    assert (k["min_numeric"], k["max_numeric"]) == (1.0, 3.0)
    assert k["min_string"] is None and k["max_string"] is None
    v = out["v"]
    assert (v["n_nulls"], v["n_distinct"], v["min_numeric"], v["max_numeric"]) == (
        1, 3, 1.0, 7.5,
    )
    s = out["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 2)
    assert (s["min_string"], s["max_string"]) == ("a", "b")
    assert s["min_numeric"] is None
    # column subset + unsupported type rejection
    arr = df.withColumn("a", F.array(F.lit(1)))
    assert {r["column"] for r in profile_columns(arr, ["k", "s"]).collect()} == {"k", "s"}
    with pytest.raises(ValueError, match="unsupported type"):
        profile_columns(arr)


def test_profile_columns_approx_mode(spark):
    # HLL mode: single pass without the per-column Expand; NDV within
    # the sketch's tolerance of exact, everything else identical
    from atlas_upscaling_dask_spark.operators.profile import profile_columns
    from atlas_upscaling_dask_spark.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_returnflag"]
    exact = {r["column"]: r for r in profile_columns(li, cols).collect()}
    approx = {r["column"]: r for r in profile_columns(li, cols, approx=True).collect()}
    for c in cols:
        e, a = exact[c], approx[c]
        assert (a["n_rows"], a["n_nulls"]) == (e["n_rows"], e["n_nulls"])
        assert (a["min_numeric"], a["max_numeric"], a["min_string"], a["max_string"]) == (
            e["min_numeric"], e["max_numeric"], e["min_string"], e["max_string"],
        )
        assert abs(a["n_distinct"] - e["n_distinct"]) <= max(3, 0.1 * e["n_distinct"])
    # the exact plan pays an Expand per distinct column; approx must not
    exact_plan = profile_columns(li, cols)._jdf.queryExecution().executedPlan().toString()
    approx_plan = profile_columns(li, cols, approx=True)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan and "Expand" not in approx_plan


def test_scd2_build_intervals(spark):
    from atlas_upscaling_dask_spark.operators.merge import scd2_build

    df = spark.createDataFrame(
        [
            # user 1: A, A, B, A  -> three intervals (A, B, A)
            (1, 100, "A", 1),
            (1, 200, "A", 2),
            (1, 300, "B", 3),
            (1, 400, "A", 4),
            # user 2: one row, NULL attribute -> one current interval
            (2, 150, None, 5),
        ],
        "user_id long, t long, seg string, eid long",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
        "seg",
        "eid",
    )
    rows = sorted(
        scd2_build(df, "user_id", ["seg"], "ts", ["eid"]).collect(),
        key=lambda r: (r["user_id"], r["version"]),
    )
    u1 = [r for r in rows if r["user_id"] == 1]
    assert [(r["seg"], r["version"]) for r in u1] == [("A", 1), ("B", 2), ("A", 3)]
    assert [r["valid_from_us"] for r in u1] == [100e6, 300e6, 400e6]
    assert [r["valid_to_us"] for r in u1] == [300e6, 400e6, None]
    assert [r["is_current"] for r in u1] == [False, False, True]
    (u2,) = [r for r in rows if r["user_id"] == 2]
    assert u2["seg"] is None and u2["is_current"] and u2["version"] == 1


def test_scd2_same_timestamp_changes_are_ordered(spark):
    from atlas_upscaling_dask_spark.operators.merge import scd2_build

    # two changes at the SAME timestamp: the tiebreak column orders the
    # islands deterministically and valid_to chains by change order
    df = spark.createDataFrame(
        [(1, 100, "A", 1), (1, 100, "B", 2), (1, 200, "B", 3)],
        "user_id long, t long, seg string, eid long",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
        "seg",
        "eid",
    )
    rows = sorted(
        scd2_build(df, "user_id", ["seg"], "ts", ["eid"]).collect(),
        key=lambda r: r["version"],
    )
    assert [(r["seg"], r["valid_from_us"], r["valid_to_us"]) for r in rows] == [
        ("A", 100e6, 100e6),
        ("B", 100e6, None),
    ]


def test_check_constraints_kinds(spark):
    from atlas_upscaling_dask_spark.operators.profile import check_constraints

    df = spark.createDataFrame(
        [(1, 10.0, "A", None), (2, -5.0, "B", "x"), (2, 200.0, "Z", "y")],
        "k long, v double, flag string, s string",
    )
    out = {
        r["constraint"]: r
        for r in check_constraints(
            df,
            [
                {"kind": "not_null", "col": "s"},
                {"kind": "unique", "cols": ["k"]},
                {"kind": "in_range", "col": "v", "lo": 0, "hi": 100},
                {"kind": "in_set", "col": "flag", "values": ["A", "B"]},
                {"kind": "expr", "name": "pos", "predicate": "v > 0"},
            ],
        ).collect()
    }
    assert len(out) == 5 and all(r["n_rows"] == 3 for r in out.values())
    assert out["not_null(s)"]["n_violations"] == 1
    assert out["unique(k)"]["n_violations"] == 1  # k=2 twice
    assert out["in_range(v, 0, 100)"]["n_violations"] == 2  # -5 and 200
    assert out["in_set(flag)"]["n_violations"] == 1  # Z
    assert out["pos"]["n_violations"] == 1 and not out["pos"]["passed"]
    assert out["not_null(s)"]["passed"] is False
    # single scan: exactly one aggregation source; no join in the plan
    plan = check_constraints(df, [{"kind": "not_null", "col": "s"}])
    assert "Join" not in plan._jdf.queryExecution().optimizedPlan().toString()


def test_check_constraints_null_predicate_is_violation(spark):
    from atlas_upscaling_dask_spark.operators.profile import check_constraints

    df = spark.createDataFrame([(None,), (5,)], "v int")
    (row,) = check_constraints(
        df, [{"kind": "expr", "name": "p", "predicate": "v > 0"}]
    ).collect()
    assert row["n_violations"] == 1  # NULL > 0 is not TRUE -> violation


def test_check_constraints_unknown_kind_raises(spark):
    import pytest as _pytest

    from atlas_upscaling_dask_spark.operators.profile import check_constraints

    df = spark.createDataFrame([(1,)], "v int")
    with _pytest.raises(ValueError, match="unknown constraint kind"):
        check_constraints(df, [{"kind": "bogus"}])


def test_prefix_filter_join_threshold_validation(spark):
    import pytest as _pytest

    from atlas_upscaling_dask_spark.extensions.dedup import prefix_filter_join

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="threshold"):
        prefix_filter_join(df, threshold=0.0)


def test_scd2_lookup_asof_semantics(spark):
    from atlas_upscaling_dask_spark.operators.merge import scd2_build, scd2_lookup

    dim_src = spark.createDataFrame(
        # key 1: A@100, B@200 and a same-instant chain B->C@200 (eid order)
        [(1, 100, "A", 1), (1, 200, "B", 2), (1, 200, "C", 3)],
        "k long, t long, seg string, eid long",
    ).select(
        "k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "seg", "eid"
    )
    dim = scd2_build(dim_src, "k", ["seg"], "ts", ["eid"])
    facts = spark.createDataFrame(
        [(10, 1, 50), (11, 1, 150), (12, 1, 200), (13, 1, 999), (14, 2, 100)],
        "fid long, k long, at_s long",
    ).select("fid", "k", (F.col("at_s") * 1_000_000).alias("at_us"))
    out = {
        r["fid"]: (r["seg"], r["version"])
        for r in scd2_lookup(facts, dim, "k", "at_us", ["seg"]).collect()
    }
    assert out[10] == (None, None)  # before first interval
    assert out[11] == ("A", 1)
    assert out[12] == ("C", 3)  # same-instant chain: highest version wins
    assert out[13] == ("C", 3)
    assert out[14] == (None, None)  # unknown key


def test_scd2_lookup_null_attribute_comes_through(spark):
    # a legitimately-NULL attribute must NOT be replaced by the previous
    # interval's value (the as-of carry moves one struct, not bare cols)
    from atlas_upscaling_dask_spark.operators.merge import scd2_build, scd2_lookup

    dim_src = spark.createDataFrame(
        [(1, 100, "A", 1), (1, 200, None, 2)],
        "k long, t long, seg string, eid long",
    ).select(
        "k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "seg", "eid"
    )
    dim = scd2_build(dim_src, "k", ["seg"], "ts", ["eid"])
    facts = spark.createDataFrame([(10, 1, 300)], "fid long, k long, at_s long").select(
        "fid", "k", (F.col("at_s") * 1_000_000).alias("at_us")
    )
    (row,) = scd2_lookup(facts, dim, "k", "at_us", ["seg"]).collect()
    assert row["seg"] is None and row["version"] == 2


def test_check_constraints_empty_table_passes(spark):
    from atlas_upscaling_dask_spark.operators.profile import check_constraints

    df = spark.createDataFrame([], "k long, v double")
    rows = check_constraints(
        df,
        [
            {"kind": "not_null", "col": "v"},
            {"kind": "unique", "cols": ["k"]},
            {"kind": "in_range", "col": "v", "lo": 0, "hi": 1},
            {"kind": "in_set", "col": "k", "values": [1]},
            {"kind": "expr", "name": "p", "predicate": "v > 0"},
        ],
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_rows"] == 0
        assert r["n_violations"] == 0, r["constraint"]
        assert r["passed"] is True, r["constraint"]


def test_profile_drift_semantics(spark):
    from atlas_upscaling_dask_spark.operators.profile import profile_drift

    old = spark.createDataFrame(
        [(float(i % 10), "A" if i % 2 else "B") for i in range(100)],
        "v double, flag string",
    )
    # identical distribution -> zero drift on both column kinds
    same = {r["column"]: r["tv"] for r in profile_drift(old, old, ["v"], ["flag"]).collect()}
    assert same == {"v": 0.0, "flag": 0.0}

    # shifted numeric + skewed categorical -> positive, bounded drift
    new = spark.createDataFrame(
        [(float(9), "A")] * 100, "v double, flag string"
    )
    moved = {r["column"]: r["tv"] for r in profile_drift(old, new, ["v"], ["flag"]).collect()}
    assert 0.8 <= moved["v"] <= 1.0   # all mass moved to one bin
    assert abs(moved["flag"] - 0.5) < 1e-9  # A: 0.5 -> 1.0

    # an empty side is "no data", not "no drift"
    empty = old.limit(0)
    nulls = {r["column"]: r["tv"] for r in profile_drift(old, empty, ["v"], ["flag"]).collect()}
    assert all(v is None for v in nulls.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one column"):
        profile_drift(old, new, [], [])


def test_mad_outliers_robustness(spark):
    from atlas_upscaling_dask_spark.operators.resample import mad_outliers

    # group A: tight cluster + one wild point; the wild point must not
    # mask itself (it would under stddev with a small group)
    rows = [(i, "A", 10.0 + (i % 3) * 0.1) for i in range(20)] + [(99, "A", 1000.0)]
    # group B: >50% identical values -> mad 0; the deviant is flagged with NULL mz
    rows += [(200 + i, "B", 5.0) for i in range(6)] + [(299, "B", 7.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r["event_id"]: r for r in mad_outliers(df).collect()}
    assert 99 in out and out[99]["mz"] is not None and abs(out[99]["mz"]) > 3.5
    assert 299 in out and out[299]["mz"] is None and out[299]["mad"] == 0.0
    assert set(out) == {99, 299}


def test_rolling_median_window_semantics(spark):
    from atlas_upscaling_dask_spark.operators.resample import rolling_median

    rows = [(i, 1, i, float(v)) for i, v in enumerate([5, 1, 9, 3])]
    df = spark.createDataFrame(rows, "event_id long, user_id long, t long, value double").select(
        "event_id", "user_id", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "value"
    )
    out = {r["event_id"]: r["rolling_med"] for r in rolling_median(df, window_rows=3).collect()}
    # frames: [5], [5,1], [5,1,9], [1,9,3]
    assert out == {0: 5.0, 1: 3.0, 2: 5.0, 3: 3.0}


def test_rolling_median_null_values(spark):
    # collect_list drops NULLs; an all-NULL frame must yield NULL, not
    # an INVALID_INDEX_OF_ZERO crash (oracle semantics: median ignores
    # NULLs, returns NULL when nothing remains)
    from atlas_upscaling_dask_spark.operators.resample import rolling_median

    rows = [(0, 1, 0, None), (1, 1, 1, 4.0), (2, 1, 2, None), (3, 1, 3, 8.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, t long, value double"
    ).select(
        "event_id", "user_id",
        F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "value",
    )
    out = {r["event_id"]: r["rolling_med"] for r in rolling_median(df, window_rows=2).collect()}
    # frames (non-null values): [], [4], [4], [8]
    assert out == {0: None, 1: 4.0, 2: 4.0, 3: 8.0}


def test_scd2_incremental_apply_equals_full_build(spark, tmp_path):
    import os

    from atlas_upscaling_dask_spark.operators.merge import (
        apply_scd2_changes,
        read_scd2_table,
        scd2_build,
        write_scd2_table,
    )

    def feed(rows):
        return spark.createDataFrame(
            rows, "k long, t long, seg string, eid long"
        ).select(
            "k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
            "seg", "eid",
        )

    batch1 = [(1, 100, "A", 1), (1, 200, "B", 2), (2, 100, "X", 3), (7, 50, "Q", 4)]
    batch2 = [
        (1, 300, "A", 5),          # key 1 flips back
        (2, 200, "X", 6),          # same attrs -> collapses into interval
        (3, 150, "N", 7),          # brand-new key
        (1, 300, "C", 8),          # same-instant chain after eid 5
    ]
    path = str(tmp_path / "scd2")
    write_scd2_table(feed(batch1), path, "k", ["seg"], "ts", ["eid"], n_buckets=8)

    # untouched-bucket files must survive the incremental rewrite
    def files():
        out = {}
        for root, _d, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet"):
                    out[os.path.join(root, f)] = os.path.getsize(f"{root}/{f}")
        return out

    before = files()
    apply_scd2_changes(spark, path, feed(batch2), "ts", ["eid"])
    after = files()

    got = sorted(
        map(tuple, read_scd2_table(spark, path).collect())
    )
    want = sorted(
        map(tuple, scd2_build(feed(batch1 + batch2), "k", ["seg"], "ts", ["eid"]).collect())
    )
    assert got == want

    # key 7's bucket had no batch keys -> its files pass through intact
    from pyspark.sql import functions as _F

    b7 = spark.createDataFrame([(7,)], "k long").select(
        _F.pmod(_F.xxhash64("k"), _F.lit(8)).alias("b")
    ).first()["b"]
    touched = {
        spark.createDataFrame([(k,)], "k long")
        .select(_F.pmod(_F.xxhash64("k"), _F.lit(8)).alias("b"))
        .first()["b"]
        for k in (1, 2, 3)
    }
    if b7 not in touched:  # hash collision would legitimately rewrite it
        kept = [f for f in before if f"bucket={b7}" in f]
        assert kept and all(f in after and after[f] == before[f] for f in kept)


def test_scd2_apply_is_replay_idempotent(spark, tmp_path):
    from atlas_upscaling_dask_spark.operators.merge import (
        apply_scd2_changes,
        read_scd2_table,
        write_scd2_table,
    )

    def feed(rows):
        return spark.createDataFrame(
            rows, "k long, t long, seg string, eid long"
        ).select(
            "k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
            "seg", "eid",
        )

    path = str(tmp_path / "scd2r")
    write_scd2_table(
        feed([(1, 100, "A", 1), (1, 200, None, 2)]), path, "k", ["seg"],
        "ts", ["eid"], n_buckets=4,
    )
    batch = feed([(1, 300, "A", 3), (1, 300, "C", 4), (2, 50, "Z", 5)])
    apply_scd2_changes(spark, path, batch, "ts", ["eid"])
    once = sorted(map(tuple, read_scd2_table(spark, path).collect()), key=lambda t: (t[0], t[5]))
    # crash-recovery replay: the SAME batch applies again
    apply_scd2_changes(spark, path, batch, "ts", ["eid"])
    twice = sorted(map(tuple, read_scd2_table(spark, path).collect()), key=lambda t: (t[0], t[5]))
    assert twice == once
    segs = [(r[0], r[1], r[5]) for r in once]  # (k, seg, version)
    assert (1, "A", 3) in segs and (1, "C", 4) in segs and (2, "Z", 1) in segs


def test_scd2_apply_multi_and_string_tiebreaks(spark, tmp_path):
    # tiebreak columns must survive the incremental apply NATIVELY —
    # collapsing to one long-cast column scrambled same-ts batches
    from atlas_upscaling_dask_spark.operators.merge import (
        apply_scd2_changes,
        read_scd2_table,
        scd2_build,
        write_scd2_table,
    )

    schema = "k long, t long, seg string, src string, eid long"

    def feed(rows):
        return spark.createDataFrame(rows, schema).select(
            "k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
            "seg", "src", "eid",
        )

    b1 = [(1, 100, "A", "m", 1)]
    # same ts, same first tiebreak (src) — only eid orders them
    b2 = [(1, 200, "B", "m", 7), (1, 200, "C", "m", 6), (1, 200, "D", "n", 5)]
    path = str(tmp_path / "scd2tb")
    write_scd2_table(feed(b1), path, "k", ["seg"], "ts", ["src", "eid"], n_buckets=4)
    apply_scd2_changes(spark, path, feed(b2), "ts", ["src", "eid"])
    got = sorted(map(tuple, read_scd2_table(spark, path).collect()),
                 key=lambda t: (t[0], t[5]))
    want = sorted(
        map(tuple, scd2_build(feed(b1 + b2), "k", ["seg"], "ts", ["src", "eid"]).collect()),
        key=lambda t: (t[0], t[5]),
    )
    assert got == want
    # order within ts=200: (m,6)->C, (m,7)->B, (n,5)->D
    segs = [t[1] for t in got]
    assert segs == ["A", "C", "B", "D"]


def test_scd2_apply_refuses_type_drift(spark, tmp_path):
    import pytest as _pytest

    from atlas_upscaling_dask_spark.operators.merge import (
        apply_scd2_changes,
        write_scd2_table,
    )

    path = str(tmp_path / "scd2t")
    base = spark.createDataFrame(
        [(1, 100, "A", 1)], "k long, t long, seg string, eid long"
    ).select("k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "seg", "eid")
    write_scd2_table(base, path, "k", ["seg"], "ts", ["eid"])
    drifted = spark.createDataFrame(
        [(2, 200, "B", 2)], "k int, t long, seg string, eid long"
    ).select(
        F.col("k").cast("int").alias("k"),
        F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "seg", "eid",
    )
    with _pytest.raises(ValueError, match="pinned"):
        apply_scd2_changes(spark, path, drifted, "ts", ["eid"])


def test_join_strategy_hints_respected(spark, sf_dir):
    # Spark-surface coverage: explicit join-strategy hints must override
    # the optimizer's default pick (the escape hatch when statistics
    # mislead at scale)
    from atlas_upscaling_dask_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merged = orders.join(
        cust.hint("merge"), orders.o_custkey == cust.c_custkey
    )
    assert "SortMergeJoin" in plan_of(merged)

    shuffled = orders.join(
        cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey
    )
    p = plan_of(shuffled)
    assert "ShuffledHashJoin" in p and "SortMergeJoin" not in p

    bcast = orders.join(
        cust.hint("broadcast"), orders.o_custkey == cust.c_custkey
    )
    assert "BroadcastHashJoin" in plan_of(bcast)


def test_incremental_join_view_matches_full_recompute(spark):
    # The IVM delta rule folded over THREE delta batches per side must
    # equal the from-scratch join — multiset semantics included
    # (duplicate keys multiply).
    import numpy as np

    from atlas_upscaling_dask_spark.operators.incremental import (
        incremental_join_update,
    )

    rng = np.random.default_rng(11)
    lbatches = [
        [(int(k), i * 100 + j) for j, k in enumerate(rng.integers(0, 12, 15))]
        for i in range(3)
    ]
    rbatches = [
        [(int(k), i * 1000 + j) for j, k in enumerate(rng.integers(0, 12, 10))]
        for i in range(3)
    ]
    mk = lambda rows, c: spark.createDataFrame(rows, f"k long, {c} long")
    view = None
    pl = pr = None
    for lb, rb in zip(lbatches, rbatches):
        dl, dr = mk(lb, "lv"), mk(rb, "rv")
        view = incremental_join_update(view, pl, pr, dl, dr, "k")
        pl = dl if pl is None else pl.unionByName(dl)
        pr = dr if pr is None else pr.unionByName(dr)
    full = pl.join(pr, "k")
    assert view.exceptAll(full).isEmpty() and full.exceptAll(view).isEmpty()
