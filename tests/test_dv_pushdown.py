"""DV read-path pins:

- one read path: scan with ``_metadata.row_index``, then a broadcast
  anti-join of the marks Spark reads from the committed index (the hint
  applies while the mark count fits the config-derived bound) — no
  Python UDF in the plan;
- broadcast bounds derived from ``spark.sql.autoBroadcastJoinThreshold``
  (÷ estimated row width) with the delta split's per-table override, and
  the over-threshold delta falling back to the full merge;
- deletion vectors on AVRO tables: the OCF batch source synthesizes
  per-row ordinals from its ordered block decode.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _mk(cat, spark, name="t", **extra_options):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", name, [("k", "int"), ("v", "string")], primary_key=["k"],
        options={"deletion-vectors.enabled": "true", **extra_options},
    )
    return lambda rows: spark.createDataFrame(rows, "k int, v string")


def _state(cat, name="t"):
    return sorted((r.k, r.v) for r in cat.read_table(f"d.{name}").collect())


# ------------------------------------------------------------ read plan
def test_dv_read_plan_is_broadcast_anti_join(cat, spark):
    """Under the bound, the DV read is scan + a broadcast LEFT ANTI join
    against the index's marks — no Python UDF position filter."""
    mk = _mk(cat, spark)
    cat.insert_into("d", "t", mk([(i, f"v{i}") for i in range(1, 200)]))
    cat.delete_where("d", "t", F.col("k") % 7 == 0)
    df = cat.read_table("d.t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan
    assert sorted(r.k for r in df.collect()) == [
        i for i in range(1, 200) if i % 7 != 0
    ]


def test_pushdown_equals_anti_join(cat, spark):
    """Exact rows after an upsert and a delete: the anti-join read drops
    every superseded and deleted version. (The name predates the removal
    of the position-set pushdown this test once compared against.)"""
    mk = _mk(cat, spark, name="a")
    cat.insert_into("d", "a", mk([(i, f"v{i}") for i in range(1, 300)]))
    cat.insert_into("d", "a", mk([(i, f"V{i}") for i in range(1, 300, 3)]))
    cat.delete_where("d", "a", F.col("k") % 11 == 0)
    expect = []
    for i in range(1, 300):
        if i % 11 == 0:
            continue
        expect.append((i, f"V{i}" if i % 3 == 1 else f"v{i}"))
    assert _state(cat, "a") == sorted(expect)


def test_bound_derivation_from_spark_conf(cat, spark):
    """``_broadcast_rows_bound`` = autoBroadcastJoinThreshold // row_bytes;
    ≤0 threshold disables the broadcast paths; a table option overrides."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
        assert cat._broadcast_rows_bound(64, None) == (1 << 20) // 64
        assert cat._broadcast_rows_bound(64, "123") == 123
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert cat._broadcast_rows_bound(64, None) == 0
        assert cat._broadcast_rows_bound(64, "5") == 5  # option still wins
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_delta_split_key_width_sizing(cat, spark):
    """The delta-split bound sizes by summed PK field widths + struct
    overhead, so wide string keys get proportionally fewer rows."""
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "narrow", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.create_table(
        "d", "wide",
        [("k1", "varchar(100)"), ("k2", "varchar(100)"), ("v", "string")],
        primary_key=["k1", "k2"],
    )
    sn = cat._latest_schema(cat._table_dir("d", "narrow"))
    sw = cat._latest_schema(cat._table_dir("d", "wide"))
    bn, bw = cat._delta_broadcast_rows(sn), cat._delta_broadcast_rows(sw)
    assert bn > bw > 0
    assert bn == cat._broadcast_rows_bound(16 + 4, None)
    assert bw == cat._broadcast_rows_bound(16 + 200, None)


def test_over_threshold_delta_falls_back_to_full_merge(cat, spark):
    """VERDICT r10 item 4's pin: a delta over the (option-forced) bound must
    NOT take the broadcast split — the read falls back to the full merge
    and stays correct."""
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "m", [("k", "int"), ("v", "string")], primary_key=["k"],
        options={"merge-read.delta-broadcast-rows": "2"},
    )
    mk = lambda rows: spark.createDataFrame(rows, "k int, v string")
    cat.insert_into("d", "m", mk([(i, f"v{i}") for i in range(1, 30)]))
    cat.compact("d", "m")
    cat.insert_into("d", "m", mk([(i, f"V{i}") for i in range(1, 10)]))  # 9 > 2
    tdir = cat._table_dir("d", "m")
    schema = cat._latest_schema(tdir)
    snap = cat._latest_snapshot(tdir)
    assert cat._delta_base_split(tdir, schema, snap) is None
    got = sorted((r.k, r.v) for r in cat.read_table("d.m").collect())
    assert got == sorted(
        [(i, f"V{i}") for i in range(1, 10)] + [(i, f"v{i}") for i in range(10, 30)]
    )


# ------------------------------------------------------------- DV on avro
def test_avro_dv_upsert_delete_read_and_time_travel(cat, spark):
    """The parquet DV roundtrip, verbatim, on an AVRO table (r11 — the
    create-time refusal deleted): marks build from synthesized OCF
    ordinals, reads apply them per historical snapshot."""
    mk = _mk(cat, spark, name="av", **{"file_format": "AVRO"})
    cat.insert_into("d", "av", mk([(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]))
    cat.insert_into("d", "av", mk([(2, "B"), (3, "C"), (6, "f")]))
    cat.delete_where("d", "av", F.col("k").isin(1, 4))
    assert _state(cat, "av") == [(2, "B"), (3, "C"), (5, "e"), (6, "f")]
    assert sorted(
        r.k for r in cat.read_table("d.av", version_as_of=1).collect()
    ) == [1, 2, 3, 4, 5]
    assert sorted(
        (r.k, r.v) for r in cat.read_table("d.av", version_as_of=2).collect()
    ) == [(1, "a"), (2, "B"), (3, "C"), (4, "d"), (5, "e"), (6, "f")]
    assert [
        (s.snapshot_id, s.record_count)
        for s in cat.read_table("d.av$snapshots").collect()
    ] == [(1, 5), (2, 6), (3, 4)]
    # the data files really are avro containers
    import glob as _glob
    import os as _os

    files = _glob.glob(
        _os.path.join(cat._table_dir("d", "av"), "data", "**", "*.avro"),
        recursive=True,
    )
    assert files, "avro DV table must store .avro files"


def test_avro_dv_positions_match_block_decode(cat, spark):
    """The synthesized ordinals are exact: deleting one specific key kills
    exactly that row, across multi-block files (3k rows >> the 2KiB block
    target)."""
    mk = _mk(cat, spark, name="av2", **{"file_format": "AVRO"})
    cat.insert_into("d", "av2", mk([(i, f"v{i}") for i in range(1, 3001)]))
    cat.delete_where("d", "av2", F.col("k") == 1777)
    got = sorted(r.k for r in cat.read_table("d.av2").collect())
    assert got == [i for i in range(1, 3001) if i != 1777]


# -------------------------------------------------------------- DV on orc
def test_orc_dv_upsert_delete_read_and_time_travel(cat, spark):
    """The DV roundtrip on an ORC table (r11 — the last format gap): marks
    build from pyarrow.orc in-order ordinals; reads apply them per
    snapshot."""
    mk = _mk(cat, spark, name="oc", **{"file_format": "ORC"})
    cat.insert_into("d", "oc", mk([(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]))
    cat.insert_into("d", "oc", mk([(2, "B"), (3, "C"), (6, "f")]))
    cat.delete_where("d", "oc", F.col("k").isin(1, 4))
    assert _state(cat, "oc") == [(2, "B"), (3, "C"), (5, "e"), (6, "f")]
    assert sorted(
        r.k for r in cat.read_table("d.oc", version_as_of=1).collect()
    ) == [1, 2, 3, 4, 5]
    assert [
        (s.snapshot_id, s.record_count)
        for s in cat.read_table("d.oc$snapshots").collect()
    ] == [(1, 5), (2, 6), (3, 4)]
    import glob as _glob
    import os as _os

    files = _glob.glob(
        _os.path.join(cat._table_dir("d", "oc"), "data", "**", "*.orc"),
        recursive=True,
    )
    assert files, "orc DV table must store .orc files"


def test_orc_dv_positions_exact_and_join_parity(cat, spark):
    """Point-delete exactness over a multi-row ORC file, and a timestamp
    payload column to exercise the pyarrow→Spark type casts. (The name
    predates the removal of the pushdown arm it once compared against.)"""
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "oc2",
        [("k", "int"), ("v", "string"), ("t", "timestamp(6)")],
        primary_key=["k"],
        options={"deletion-vectors.enabled": "true", "file_format": "ORC"},
    )
    import datetime

    base = datetime.datetime(2026, 3, 1, 8, 0, 0)
    rows = [
        (i, f"v{i}", base + datetime.timedelta(seconds=i)) for i in range(1, 2001)
    ]
    df = spark.createDataFrame(rows, "k int, v string, t timestamp_ntz")
    cat.insert_into("d", "oc2", df)
    cat.delete_where("d", "oc2", F.col("k") == 777)
    got = sorted(r.k for r in cat.read_table("d.oc2").collect())
    assert got == [i for i in range(1, 2001) if i != 777]
    ts = {r.k: r.t for r in cat.read_table("d.oc2").collect() if r.k in (1, 2000)}
    assert ts[1] == base + datetime.timedelta(seconds=1)
    assert ts[2000] == base + datetime.timedelta(seconds=2000)


def test_read_plan_cache_reuse_and_invalidation(cat, spark):
    """r12 (VERDICT r11 item 4): repeated reads of an unchanged snapshot
    reuse the assembled plan object (the ~0.1s py4j build amortizes);
    any commit, option change, or read-flavor change misses the cache."""
    mk = _mk(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b")]))
    d1 = cat.read_table("d.t")
    assert cat.read_table("d.t") is d1  # second read is plan-build-free
    cat.delete_where("d", "t", F.col("k") == 1)  # new snapshot -> miss
    d3 = cat.read_table("d.t")
    assert d3 is not d1
    assert sorted(r.k for r in d3.collect()) == [2]
    # flavor flags and predicated reads never collide with the cached plan
    assert cat.read_table("d.t", with_system_columns=True) is not d3
    assert cat.read_table("d.t") is d3


def test_read_plan_cache_predicated_and_lru(cat, spark):
    """r13 (VERDICT r12 item 4): predicated reads cache too, keyed on the
    FROZEN pushed domain (+ limit) — the second identical predicated read
    is plan-build-free — and the cache is honest LRU: a hit refreshes
    recency, so the hot entry survives eviction pressure that would evict
    the insertion-oldest entry under FIFO."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    mk = _mk(cat, spark, name="plru")
    cat.insert_into("d", "plru", mk([(i, f"v{i}") for i in range(1, 20)]))
    dom = [ColumnDomain(column="k", op="<", value=5)]
    p1 = cat.read_table("d.plru", predicate=dom)
    # same domain, fresh object: hits (freeze is value-based, not identity)
    assert cat.read_table("d.plru", predicate=[ColumnDomain(column="k", op="<", value=5)]) is p1
    assert sorted(r.k for r in p1.collect()) == [1, 2, 3, 4]
    # a different domain or a limit is a different plan
    assert cat.read_table("d.plru", predicate=[ColumnDomain(column="k", op="<", value=6)]) is not p1
    assert cat.read_table("d.plru", predicate=dom, limit=2) is not p1
    # unpredicated read still caches independently
    d = cat.read_table("d.plru")
    assert cat.read_table("d.plru") is d
    # LRU recency: fill the cache with cold keys while re-touching p1 —
    # the hot entry must survive; under FIFO it would be evicted first
    cache = cat._read_plan_cache
    key_of_p1 = next(k for k, v in cache.items() if v is p1)
    for i in range(1000, 1000 + (128 - len(cache)) + 1):  # one past capacity
        cat.read_table("d.plru", predicate=[ColumnDomain(column="k", op="=", value=i)])
        cat.read_table("d.plru", predicate=dom)  # touch: refresh recency
    assert key_of_p1 in cache
    assert cat.read_table("d.plru", predicate=dom) is p1
