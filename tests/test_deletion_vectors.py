"""Deletion-vector mode (Paimon's ``deletion-vectors.enabled``): commits
MARK superseded row positions instead of relying on read-time merging, so a
read is scan − DV — merge-free, no shuffle. The reference connector gets DV
handling from Paimon core; here write (mark), read (apply), time travel,
maintenance, and branch composition are all executable and pinned.
"""

from __future__ import annotations

import glob
import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _mk_dv(cat, spark, **extra_options):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "t", [("k", "int"), ("v", "string")], primary_key=["k"],
        options={"deletion-vectors.enabled": "true", **extra_options},
    )
    return lambda rows: spark.createDataFrame(rows, "k int, v string")


def test_dv_upsert_delete_read_and_time_travel(cat, spark):
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]))
    cat.insert_into("d", "t", mk([(2, "B"), (3, "C"), (6, "f")]))
    cat.delete_where("d", "t", F.col("k").isin(1, 4))
    assert sorted((r.k, r.v) for r in cat.read_table("d.t").collect()) == [
        (2, "B"), (3, "C"), (5, "e"), (6, "f"),
    ]
    # every historical version reads through ITS snapshot's vectors
    assert sorted(r.k for r in cat.read_table("d.t", version_as_of=1).collect()) == [1, 2, 3, 4, 5]
    assert sorted((r.k, r.v) for r in cat.read_table("d.t", version_as_of=2).collect()) == [
        (1, "a"), (2, "B"), (3, "C"), (4, "d"), (5, "e"), (6, "f"),
    ]
    # record_count tracks live rows across upserts and deletes
    assert [
        (s.snapshot_id, s.record_count)
        for s in cat.read_table("d.t$snapshots").collect()
    ] == [(1, 5), (2, 6), (3, 4)]


def test_dv_read_plan_is_merge_free_and_delete_writes_no_data(cat, spark):
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(i, f"v{i}") for i in range(1, 50)]))
    files_before = glob.glob(os.path.join(cat._table_dir("d", "t"), "data", "**", "*.parquet"), recursive=True)
    cat.delete_where("d", "t", F.col("k") % 2 == 0)
    files_after = glob.glob(os.path.join(cat._table_dir("d", "t"), "data", "**", "*.parquet"), recursive=True)
    # DELETE is pure metadata: zero data files written, zero rewritten
    assert sorted(files_before) == sorted(files_after)
    df = cat.read_table("d.t")
    assert sorted(r.k for r in df.collect()) == list(range(1, 50, 2))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # merge-free: no hash exchange, no merge aggregate anywhere in the read
    assert "hashpartitioning" not in plan
    assert "Aggregate" not in plan
    # filter pushdown reaches the scan like an append table
    filtered = cat.read_table("d.t").filter(F.col("k") > 40)
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,40)" in fplan


def test_dv_option_validation(cat, spark):
    cat.create_database("d", ignore_if_exists=True)
    with pytest.raises(ValueError, match="primary-key"):
        cat.create_table("d", "x1", [("k", "int")], options={"deletion-vectors.enabled": "true"})
    with pytest.raises(ValueError, match="merge_engine"):
        cat.create_table(
            "d", "x2", [("k", "int"), ("v", "int")], primary_key=["k"],
            options={"deletion-vectors.enabled": "true", "merge_engine": "aggregation",
                     "fields.v.aggregate-function": "sum"},
        )
    with pytest.raises(ValueError, match="sequence_field"):
        cat.create_table(
            "d", "x3", [("k", "int"), ("ts", "bigint")], primary_key=["k"],
            options={"deletion-vectors.enabled": "true", "sequence_field": "ts"},
        )
    # flipping DV on for a table with history would leave it unmarked
    cat.create_table("d", "x4", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("d", "x4", spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(ValueError, match="existing snapshots"):
        cat.set_options("d", "x4", {"deletion-vectors.enabled": "true"})


def test_dv_rejects_duplicate_key_batches(cat, spark):
    mk = _mk_dv(cat, spark)
    with pytest.raises(ValueError, match="multiple insert"):
        cat.insert_into("d", "t", mk([(1, "a"), (1, "b")]))


def test_dv_same_commit_insert_delete_tiebreak(cat, spark):
    """F1 contract: +I and -D of one key in ONE commit leaves the key
    deleted — the delete cancels the batch's own insert too."""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b")]))
    batch = mk([(1, "a2"), (3, "c")]).withColumn(
        "_row_kind", F.when(F.col("k") == 1, "D").otherwise("I")
    )
    cat.insert_into("d", "t", batch)
    assert sorted((r.k, r.v) for r in cat.read_table("d.t").collect()) == [(2, "b"), (3, "c")]


def test_dv_compact_resets_vectors_and_expire_reaps_indexes(cat, spark):
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(i, f"v{i}") for i in range(1, 20)]))
    cat.insert_into("d", "t", mk([(i, f"V{i}") for i in range(1, 10)]))
    cat.delete_where("d", "t", F.col("k") > 15)
    before = sorted((r.k, r.v) for r in cat.read_table("d.t").collect())
    cat.compact("d", "t")
    assert sorted((r.k, r.v) for r in cat.read_table("d.t").collect()) == before
    # compacted snapshot carries no vectors (live set was rewritten clean)
    assert cat._latest_snapshot(cat._table_dir("d", "t")).dv is None
    idx = os.path.join(cat._table_dir("d", "t"), "index")
    n_idx_before = len(glob.glob(os.path.join(idx, "dv-*.parquet")))
    assert n_idx_before == 2  # one delta per marking commit (upsert, delete)
    cat.expire_snapshots("d", "t", keep_last=1)
    # expired snapshots' DV index files are reaped with them
    assert len(glob.glob(os.path.join(idx, "dv-*.parquet"))) < n_idx_before
    assert sorted((r.k, r.v) for r in cat.read_table("d.t").collect()) == before


def test_dv_sql_dml_and_overwrite(cat, spark):
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b"), (3, "c")]))
    cat.sql("UPDATE d.t SET v = 'X' WHERE k = 2")
    cat.sql("DELETE FROM d.t WHERE k = 3")
    assert sorted((r.k, r.v) for r in cat.read_table("d.t").collect()) == [(1, "a"), (2, "X")]
    cat.sql("INSERT OVERWRITE d.t VALUES (9, 'z')")
    assert [(r.k, r.v) for r in cat.read_table("d.t").collect()] == [(9, "z")]


def test_dv_on_branch_and_fast_forward(cat, spark):
    """DV composition with branches: the seeded snapshot's vectors travel to
    the branch, branch-side DV commits stay isolated, and fast_forward
    grafts the branch's vectors back into main."""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b"), (3, "c")]))
    cat.delete_where("d", "t", F.col("k") == 1)  # snapshot 2 with a DV
    cat.create_tag("d", "t", "v2")
    cat.create_branch("d", "t", "dev", from_tag="v2")
    assert sorted(r.k for r in cat.read_table("d.t$branch_dev").collect()) == [2, 3]
    cat.delete_where("d", "t$branch_dev", F.col("k") == 2)
    assert sorted(r.k for r in cat.read_table("d.t$branch_dev").collect()) == [3]
    assert sorted(r.k for r in cat.read_table("d.t").collect()) == [2, 3]  # main untouched
    cat.fast_forward("d", "t", "dev")
    assert sorted(r.k for r in cat.read_table("d.t").collect()) == [3]


def test_dv_cannot_be_disabled_with_history(cat, spark):
    """Disabling DV on a table with history would hand DV-written files to
    merge-on-read, which knows nothing about the index — every
    vector-deleted row (pure-metadata deletes!) would resurrect. (r11: the
    format refusal is gone — positional reads exist for parquet, avro AND
    orc; roundtrips pinned in tests/test_dv_pushdown.py.)"""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b")]))
    cat.delete_where("d", "t", F.col("k") == 1)
    with pytest.raises(ValueError, match="toggled"):
        cat.set_options("d", "t", {"deletion-vectors.enabled": "false"})


def test_remove_orphan_files_reaps_lost_dv_indexes(cat, spark):
    """A DV index linked by a writer that lost its race/crashed before
    publishing is debris at/below the snapshot horizon; one referenced by a
    snapshot, or above the horizon (possibly a live writer's), survives."""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a")]))
    cat.insert_into("d", "t", mk([(1, "A")]))  # snapshot 2 with a live DV
    idx = os.path.join(cat._table_dir("d", "t"), "index")
    orphan = os.path.join(idx, "dv-2-deadbeef-0.parquet")  # loser at horizon
    inflight = os.path.join(idx, "dv-3-cafebabe-0.parquet")  # above horizon
    for p in (orphan, inflight):
        with open(p, "wb") as fh:
            fh.write(b"PAR1")
    old = 0
    os.utime(orphan, (old, old))
    os.utime(inflight, (old, old))
    out = cat.remove_orphan_files("d", "t", older_than_ms=int(1e18))
    assert out["deleted_dv_indexes"] == 1
    assert not os.path.exists(orphan)
    assert os.path.exists(inflight)  # horizon guard: may be a live writer
    live = cat._latest_snapshot(cat._table_dir("d", "t")).dv
    assert os.path.exists(os.path.join(idx, live))
    from incubator_paimon_trino_spark.catalog.dv_index import mark_file_names

    deltas = mark_file_names(cat._table_dir("d", "t"), live)
    assert deltas and all(os.path.exists(os.path.join(idx, n)) for n in deltas)
    assert [(r.k, r.v) for r in cat.read_table("d.t").collect()] == [(1, "A")]


def test_metadata_row_count_eligibility(cat, spark):
    """Manifest counts answer append/partition-exact/DV cases; merge-on-read
    PK tables without DV must return None (merging changes the count)."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "ap", [("k", "int"), ("y", "int")], partitioned_by=["y"])
    cat.insert_into("d", "ap", spark.createDataFrame(
        [(1, 2020), (2, 2020), (3, 2021)], "k int, y int"))
    assert cat.metadata_row_count("d.ap") == 3
    assert cat.metadata_row_count(
        "d.ap", predicate=[ColumnDomain("y", op="=", value=2020)]) == 2
    # non-partition predicate: stats pruning is conservative → scan only
    assert cat.metadata_row_count(
        "d.ap", predicate=[ColumnDomain("k", op="=", value=1)]) is None
    # plain PK table: merge-on-read → None. Two commits of the same key make
    # the manifest sum (2) diverge from the live count (1) — the exact case
    # a loosened guard would get wrong.
    cat.create_table("d", "pk", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("d", "pk", spark.createDataFrame([(1, "a")], "k int, v string"))
    cat.insert_into("d", "pk", spark.createDataFrame([(1, "b")], "k int, v string"))
    assert cat.metadata_row_count("d.pk") is None
    assert cat.count_star("d.pk").collect()[0].cnt == 1  # falls back to the merged scan
    # CHAR(n) partition predicate: padded literal must count the rtrimmed
    # stored form (same normalization as read_table), never a silent 0
    cat.create_table("d", "cc", [("k", "int"), ("c", "char(4)")], partitioned_by=["c"])
    cat.insert_into("d", "cc", spark.createDataFrame(
        [(1, "US"), (2, "US"), (3, "EU")], "k int, c string"))
    got = cat.metadata_row_count("d.cc", predicate=[ColumnDomain("c", op="=", value="US  ")])
    assert got in (2, None)  # exact metadata answer or honest fallback — never 0
    assert cat.count_star(
        "d.cc", predicate=[ColumnDomain("c", op="=", value="US  ")]
    ).collect()[0].cnt == 2
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b"), (3, "c")]))
    cat.insert_into("d", "t", mk([(2, "B"), (4, "d")]))
    cat.delete_where("d", "t", F.col("k") == 1)
    assert cat.metadata_row_count("d.t") == 3
    assert cat.count_star("d.t").collect()[0].cnt == 3


def test_dv_changelog_guards(cat, spark, tmp_path):
    """'input' changelog cannot represent DV deletes (pure metadata, no -D
    rows) — refuse loudly; the diff producer works since it reads DV-applied
    merged states, and the streaming tail (r7) unions the DV retraction
    stream rather than refusing (full coverage in test_dv_stream.py)."""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b")]))
    cat.delete_where("d", "t", F.col("k") == 1)
    with pytest.raises(ValueError, match="deletion-vectors"):
        cat.table_changelog("d.t", producer="input")
    from incubator_paimon_trino_spark.streaming import read_changelog_stream

    assert read_changelog_stream(cat, "d.t").isStreaming
    # the lookup diff sees the delete as a -D retraction
    rows = cat.table_changelog("d.t", producer="lookup").collect()
    changes = {(r.k, r._change) for r in rows}
    assert (1, "-D") in changes


def test_dv_on_partitioned_table(cat, spark):
    """DV marks and applies correctly across hive partition directories
    (the position join matches on file basenames, so partition-dir paths
    in _metadata.file_path never need decoding), and partition pruning
    composes with the DV anti-join."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "p", [("k", "int"), ("y", "int"), ("v", "string")],
        primary_key=["k"], partitioned_by=["y"],
        options={"deletion-vectors.enabled": "true"},
    )
    mk = lambda rows: spark.createDataFrame(rows, "k int, y int, v string")  # noqa: E731
    cat.insert_into("d", "p", mk([(1, 2020, "a"), (2, 2020, "b"), (3, 2021, "c"), (4, 2021, "d")]))
    cat.insert_into("d", "p", mk([(2, 2020, "B")]))   # upsert inside y=2020
    cat.delete_where("d", "p", F.col("k") == 3)        # delete inside y=2021
    assert sorted((r.k, r.y, r.v) for r in cat.read_table("d.p").collect()) == [
        (1, 2020, "a"), (2, 2020, "B"), (4, 2021, "d"),
    ]
    pruned = cat.read_table("d.p", predicate=[ColumnDomain("y", op="=", value=2021)])
    assert sorted((r.k, r.v) for r in pruned.collect()) == [(4, "d")]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan  # still merge-free under pruning


def test_dv_on_bucketed_table(cat, spark):
    """DV composes with bucketed layout: bucket files keep their vectors
    and bucket pruning still applies on top of the merge-free read."""
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "b", [("k", "int"), ("v", "string")], primary_key=["k"],
        options={"deletion-vectors.enabled": "true", "bucket": "4"},
    )
    mk = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
    cat.insert_into("d", "b", mk([(i, f"v{i}") for i in range(1, 30)]))
    cat.insert_into("d", "b", mk([(5, "V5"), (6, "V6")]))
    cat.delete_where("d", "b", F.col("k") > 25)
    got = {(r.k, r.v) for r in cat.read_table("d.b").collect()}
    exp = {(i, f"v{i}") for i in range(1, 26)} - {(5, "v5"), (6, "v6")}
    exp |= {(5, "V5"), (6, "V6")}
    assert got == exp


def test_dv_read_incremental_refused(cat, spark):
    """read_incremental has the same delete-dropping hazard as the 'input'
    changelog — refused; read_cdc emits the -D correctly."""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(1, "a"), (2, "b")]))
    cat.delete_where("d", "t", F.col("k") == 2)
    with pytest.raises(ValueError, match="deletion-"):
        cat.read_incremental("d.t", 1, 2)
    changes = {(r.k, r._change) for r in cat.read_cdc("d.t", 1, 2).collect()}
    assert (2, "-D") in changes


def test_dv_read_marks_never_transit_driver(cat, spark, monkeypatch):
    """Scale pin (r8): the batch DV read's anti-join side is a Spark read
    of the committed index — _dv_vectors (the driver-side dict) must be
    unreachable from read_table, and the merged result unchanged. The
    write path legitimately keeps the dict (commit-time mark merging)."""
    mk = _mk_dv(cat, spark)
    cat.insert_into("d", "t", mk([(i, f"v{i}") for i in range(8)]))
    cat.delete_where("d", "t", F.col("k") % 2 == 0)
    expect = {(r.k, r.v) for r in cat.read_table("d.t").collect()}
    assert expect == {(i, f"v{i}") for i in range(8) if i % 2}

    def boom(*a, **kw):  # noqa: ANN002, ANN003
        raise AssertionError("driver-side _dv_vectors materialization on the read path")

    monkeypatch.setattr(WarehouseCatalog, "_dv_vectors", boom)
    got = {(r.k, r.v) for r in cat.read_table("d.t").collect()}
    assert got == expect


def test_clean_dirty_split_equals_all_files_join(cat, spark):
    """Marks in 2 of 3 files of an inline-index DV table: the read drops
    exactly the two marked rows and keeps every row of the unmarked file.
    (The name predates the removal of the clean/dirty file split this test
    once compared against the all-files join.)"""
    cat.create_database("s")
    cat.create_table(
        "s", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"],
        options={"deletion-vectors.enabled": "true"},
    )
    for base in (0, 100, 200):
        cat.insert_into(
            "s", "t",
            spark.createDataFrame(
                [(base + i, f"v{base+i}") for i in range(30)], "k bigint, v string"
            ).coalesce(1),
        )
    cat.sql("DELETE FROM s.t WHERE k IN (5, 105)")  # marks in 2 of 3 files
    got = sorted((r.k, r.v) for r in cat.read_table("s.t").collect())
    assert got == sorted(
        (base + i, f"v{base + i}")
        for base in (0, 100, 200)
        for i in range(30)
        if base + i not in (5, 105)
    )
