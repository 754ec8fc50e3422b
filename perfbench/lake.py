"""``lake_write_mix``: a seeded sequence of commits on three lake tables —
a merge-on-read primary-key table, a deletion-vector primary-key table
and a bloom-indexed append table — checked against a DuckDB model of each
table's live state built from the same generated rows.

Every commit is followed by a checked read-after-write and by a
manifest-mode changelog stream that picks up exactly that commit. Once per
pass every table is compacted, the read-path ops run (``$ro``, an
incremental read, ``FOR VERSION AS OF`` and system tables through
``WarehouseCatalog.sql``, predicate scan plans on the file index), and old
snapshots expire.

Why: the catalog's write, commit and maintenance paths and ``streaming``
dominate. Every row read sees a new snapshot, so the read-plan cache always
misses. A write-side gain paid for in reads, stream lag or storage shows in
the same run.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

from perfbench import checks, datagen

DB = "w"
TABLES = ("mor", "dv", "ap")
PK = ["l_orderkey", "l_linenumber"]
OPTIONS = {
    "mor": {},
    "dv": {"deletion-vectors.enabled": "true"},
    "ap": {"file-index.bloom-filter.columns": "l_partkey",
           "file-index.bloom-filter.items": "200000"},
}
CS = ", ".join(checks.CHECKSUM)

ROWS = 20_000  # rows in each table after set-up
# A batch or a delete hits 1-5% of the rows. Each pass deals these shares
# out to its commits in seeded order, so every pass and every seed writes
# the same total.
BATCH_SHARES = (0.01, 0.015, 0.025, 0.035, 0.045, 0.05)
# One pass: these commits in seeded order, then maintenance and reads.
# Each of insert_into (upsert, append), delete_where, update_where and
# merge_into runs at least once; the deletion-vector table gets the two
# commits whose job counts the engine's roadmap tracks.
WRITE_PASS = (
    ("mor", "upsert"), ("mor", "update"), ("mor", "merge"),
    ("dv", "upsert"), ("dv", "delete"), ("ap", "append"),
)
# Commits whose changelog a stream picks up: the merge-on-read rows of an
# upsert, and a deletion-vector upsert's new rows plus the retractions of
# the images it replaces. A pick-up costs about three seconds whatever the
# commit, which is what keeps the other commits without one inside the
# run's time budget.
STREAMED = {("mor", "upsert"), ("dv", "upsert")}
COMPACTED = ("mor", "dv")  # the append table keeps its files for the plan lookups
BATCH_OPS = ("upsert", "merge", "append")  # commits that carry a batch of rows
READ_OPS = ("scan_ro", "incremental", "sql_time_travel", "sql_snapshots") + ("plan_lookup",) * 4
KEEP_SNAPSHOTS = 3


def _has_key(batch: str, table: str) -> str:
    """DuckDB condition: ``table``'s row has a primary key in ``batch``."""
    return (f"EXISTS (SELECT 1 FROM {batch} k WHERE k.l_orderkey = {table}.l_orderkey "
            f"AND k.l_linenumber = {table}.l_linenumber)")


class LakeWriteMix:
    name = "lake_write_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = os.path.join(ctx.run_dir, "in")
        os.makedirs(self.inputs, exist_ok=True)
        self.con = duckdb.connect()
        self.plan_seen: dict = {}
        self.snap_cs: dict[tuple[str, int], tuple] = {}  # model checksum per snapshot
        self.changelogs: dict[tuple[str, int], dict] = {}
        self.snapshots: dict[str, list[int]] = {t: [] for t in TABLES}  # live snapshot ids
        self.n_batch = 0

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        from incubator_paimon_trino_spark.catalog import WarehouseCatalog

        ctx, con = self.ctx, self.con
        with ctx.bench_work():
            base = datagen.lake_rows(ROWS, ctx.seed)
            self.slots = ROWS * 7 // 4
            self.n_parts = max(ROWS // 30, 1)
            path = os.path.join(self.inputs, "base.parquet")
            pq.write_table(base, path)
            con.register("base", base)
            for t in TABLES:
                con.execute(f"CREATE TABLE {t} AS SELECT * FROM base")
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        self.cat = cat = WarehouseCatalog(self.wh, ctx.spark)
        cat.create_database(DB)
        df = ctx.spark.read.parquet(path)
        cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        for t in TABLES:
            cat.create_table(DB, t, cols, primary_key=PK if t != "ap" else None, options=OPTIONS[t])
            self.snapshots[t].append(cat.insert_into(DB, t, df))
        # Warm-up, not recorded: the first stream start pays the Python
        # worker start-up. Snapshot 1 of the merge-on-read table is the base.
        self._pickup("mor", 1, {"I": self.model_cs("base")}, record=False)

    # -- model ---------------------------------------------------------------
    def model_cs(self, sql_from: str) -> tuple:
        with self.ctx.bench_work():
            return checks.as_ints(self.con.execute(f"SELECT {CS} FROM {sql_from}").fetchone())

    def _batch(self, share: float) -> str:
        ctx = self.ctx
        with ctx.bench_work():
            tbl = datagen.lake_batch(ctx.rng, int(ROWS * share), self.slots, self.n_parts)
            self.n_batch += 1
            path = os.path.join(self.inputs, f"batch{self.n_batch}.parquet")
            pq.write_table(tbl, path)
            self.con.register("batch", tbl)
            return path

    def _cond(self, share: float) -> str:
        m = round(1 / share)
        return f"l_orderkey % {m} = {int(self.ctx.rng.integers(m))}"

    def _changelog(self, table: str, op: str, arg) -> dict[str, tuple]:
        """Expected changelog rows of the commit, as checksums by row kind,
        from the model before the commit is applied to it."""
        if op in BATCH_OPS:
            want = {"I": self.model_cs("batch")}
            if table == "dv":  # a DV upsert retracts the old images
                old = self.model_cs(f"{table} WHERE {_has_key('batch', table)}")
                if old[0]:
                    want["D"] = old
            return want
        if op == "delete":
            return {"D": self.model_cs(f"{table} WHERE {arg}")}
        cond, tax = arg  # update
        want = {"I": self.model_cs(f"(SELECT * REPLACE ({tax} AS l_tax) FROM {table} WHERE {cond})")}
        if table == "dv":
            want["D"] = self.model_cs(f"{table} WHERE {cond}")
        return want

    def _apply(self, table: str, op: str, arg) -> None:
        with self.ctx.bench_work():
            if op in ("upsert", "merge"):
                self.con.execute(f"DELETE FROM {table} WHERE {_has_key('batch', table)}")
            if op in BATCH_OPS:
                self.con.execute(f"INSERT INTO {table} SELECT * FROM batch")
            elif op == "delete":
                self.con.execute(f"DELETE FROM {table} WHERE {arg}")
            elif op == "update":
                cond, tax = arg
                self.con.execute(f"UPDATE {table} SET l_tax = {tax} WHERE {cond}")

    # -- checked reads -------------------------------------------------------
    def read_table(self, name: str, **kw):
        """``catalog.read_table`` under a span; notes whether the catalog
        returned the identical DataFrame for a repeated read (plan cache)."""
        df = self.ctx.rec.timed("catalog.read_table", lambda: self.cat.read_table(name, **kw))
        key = (name, tuple(sorted((k, repr(v)) for k, v in kw.items())))
        self.ctx.note("read_plan_cache_hit", 1.0 if self.plan_seen.get(key) is df else 0.0)
        self.plan_seen[key] = df
        return df

    def _run_read(self, name: str, kind: str, build, want, shape: str = "checksum") -> None:
        """One checked read: ``build()`` returns the DataFrame. ``shape``:
        aggregate it to ``checks.CHECKSUM`` (``"checksum"``), to one checksum
        per ``_row_kind`` (``"by_kind"``), or take its one row (``"row"``).
        ``want`` is the expected value, or a callable giving it, looked up
        inside the check so that a missing expectation (its commit failed)
        counts as one failed op."""
        from pyspark.sql.functions import expr

        rec = self.ctx.rec

        def fn():
            df = build()
            if shape == "by_kind":
                df = df.groupBy("_row_kind").agg(*[expr(e) for e in checks.CHECKSUM])
            elif shape == "checksum":
                df = df.selectExpr(*checks.CHECKSUM)
            rec.timed("spark.plan", lambda: df._jdf.queryExecution().executedPlan())
            rows = rec.timed("spark.execute", df.collect)
            if shape == "by_kind":
                return {r[0]: checks.as_ints(r[1:]) for r in rows}, df, len(rows)
            return checks.as_ints(rows[0]), df, 1

        def check(r):
            return checks.compare(name, r[0], want() if callable(want) else want)

        res = rec.run_op(name, kind, fn, check)
        if res is not None:
            self.ctx.plan_counts(kind, res[1], res[2])

    def _sql(self, name: str, sql: str, want: tuple) -> None:
        rec = self.ctx.rec
        self._run_read(name, "read_path", lambda: rec.timed("catalog.sql", lambda: self.cat.sql(sql)),
                       want, shape="row")

    # -- ops -----------------------------------------------------------------
    def _commit_fn(self, table: str, op: str, arg):
        """The commit as a call; a batch is read into a DataFrame first, as
        a caller holds its DataFrame before it commits it."""
        from pyspark.sql import functions as F

        cat = self.cat
        if op in BATCH_OPS:
            with self.ctx.bench_work():
                df = self.ctx.spark.read.parquet(arg)
        if op in ("upsert", "append"):
            return lambda: cat.insert_into(DB, table, df)
        if op == "merge":
            return lambda: cat.merge_into(DB, table, df, on=PK)
        if op == "delete":
            return lambda: cat.delete_where(DB, table, F.expr(arg))
        cond, tax = arg
        return lambda: cat.update_where(DB, table, F.expr(cond), {"l_tax": F.lit(tax)})

    def commit_cycle(self, table: str, op: str, share: float) -> None:
        """Commit, checked read-after-write, checked changelog pick-up."""
        ctx, rec = self.ctx, self.ctx.rec
        if op in BATCH_OPS:
            arg = self._batch(share)
        elif op == "delete":
            arg = self._cond(share)
        else:
            arg = (self._cond(share), int(ctx.rng.integers(0, 9)) / 100.0)
        with ctx.bench_work():
            prev = self.cat.latest_snapshot_id(DB, table)
            changelog = self._changelog(table, op, arg)
            before = ctx.list_table(self.wh, DB, table)
        name = f"{table}_{op}"
        commit = self._commit_fn(table, op, arg)
        snap = rec.run_op(name, "commit",
                          lambda: rec.timed(f"catalog.commit.{name}", commit),
                          lambda s: checks.compare(f"{name} snapshot id", s, prev + 1))
        self._apply(table, op, arg)
        ctx.note_storage(before, ctx.list_table(self.wh, DB, table),
                         os.path.getsize(arg) if op in BATCH_OPS else None)
        if rec.trace:
            with ctx.bench_work():
                ctx.note("live_files", len(self.cat.scan_plan(f"{DB}.{table}")))
        want = self.model_cs(table)
        self._run_read("read_after_write", "query", lambda: self.read_table(f"{DB}.{table}"), want)
        if snap is not None:
            self.snapshots[table].append(snap)
            self.snap_cs[(table, snap)] = want
            self.changelogs[(table, snap)] = changelog
            if (table, op) in STREAMED:
                self._pickup(table, snap, changelog)

    def _pickup(self, table: str, snap: int, want: dict, record: bool = True) -> None:
        from pyspark.sql.functions import expr

        from incubator_paimon_trino_spark.streaming import read_changelog_stream, run_to_completion

        ctx, rec = self.ctx, self.ctx.rec
        qname = f"perfbench_{table}_{snap}"

        def fn():
            stream = rec.timed("streaming.read_changelog_stream", lambda: read_changelog_stream(
                self.cat, f"{DB}.{table}", startup_mode="from-snapshot", scan_snapshot_id=snap,
                source_mode="manifest"))
            return rec.timed("streaming.run_to_completion", lambda: run_to_completion(stream, qname))

        def check(out):
            with ctx.bench_work():
                rows = out.groupBy("_row_kind").agg(*[expr(e) for e in checks.CHECKSUM]).collect()
                got = {r[0]: checks.as_ints(r[1:]) for r in rows}
                ctx.note("stream_rows", sum(v[0] for v in got.values()))
                return checks.compare(f"changelog of snapshot {snap}", got, want)

        rec.run_op("stream_pickup", "stream" if record else "warmup", fn, check)
        ctx.spark.catalog.dropTempView(qname)

    def _compact(self, table: str) -> None:
        ctx, rec, cat = self.ctx, self.ctx.rec, self.cat
        before = ctx.list_table(self.wh, DB, table)
        prev = cat.latest_snapshot_id(DB, table)
        snap = rec.run_op(f"{table}_compact", "maintenance",
                          lambda: rec.timed("catalog.compact", lambda: cat.compact(DB, table)),
                          lambda s: checks.compare(f"{table} compact snapshot", s, prev + 1))
        if snap is not None:
            self.snapshots[table].append(snap)
        ctx.note_compaction(before, ctx.list_table(self.wh, DB, table))
        self._run_read("read_after_write", "query", lambda: self.read_table(f"{DB}.{table}"),
                       self.model_cs(table))

    def _expire(self, table: str) -> None:
        ctx, rec, cat = self.ctx, self.ctx.rec, self.cat
        before = ctx.list_table(self.wh, DB, table)
        rec.run_op(f"{table}_expire", "maintenance",
                   lambda: rec.timed("catalog.expire_snapshots",
                                     lambda: cat.expire_snapshots(DB, table, keep_last=KEEP_SNAPSHOTS)),
                   lambda r: None if isinstance(r, dict) else f"expire returned {r!r}")
        del self.snapshots[table][:-KEEP_SNAPSHOTS]
        ctx.note_reclaimed(before, ctx.list_table(self.wh, DB, table))

    def _read_op(self, op: str, snaps: dict[str, int]) -> None:
        """A read-path op between compaction and expiry of this pass. These
        are not read-after-writes, so they count in ``pass_s`` and their own
        per-op latency but not in ``query_p50_s``."""
        from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

        ctx, rec, cat = self.ctx, self.ctx.rec, self.cat
        if op == "scan_ro":  # after compaction the read-optimized view is the live state
            self._run_read(op, "read_path", lambda: self.read_table(f"{DB}.mor$ro"), self.model_cs("mor"))
        elif op == "incremental":  # the rows of this pass's merge-on-read upsert
            s = snaps["mor_upsert"]
            self._run_read(op, "read_path", lambda: rec.timed(
                "catalog.read_incremental", lambda: cat.read_incremental(f"{DB}.mor", s - 1, s)),
                lambda: self.changelogs[("mor", s)], shape="by_kind")
        elif op == "sql_time_travel":  # the DV table as of this pass's DV upsert
            s = snaps["dv_upsert"]
            self._sql(op, f"SELECT {CS} FROM {DB}.dv FOR VERSION AS OF {s}",
                      lambda: self.snap_cs[("dv", s)])
        elif op == "sql_snapshots":  # snapshot count and newest id
            ids = self.snapshots["mor"]
            self._sql(op, f"SELECT count(*) AS n, max(snapshot_id) AS m FROM {DB}.mor$snapshots",
                      (len(ids), ids[-1]))
        else:  # plan_lookup: predicate scan plan probing the append table's bloom index
            with ctx.bench_work():
                key, n_rows = self.con.execute(
                    "SELECT l_partkey, count(*) OVER (PARTITION BY l_partkey) FROM ap "
                    "ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice "
                    f"LIMIT 1 OFFSET {int(ctx.rng.integers(ROWS))}").fetchone()
                live = len(cat.scan_plan(f"{DB}.ap"))
            dom = [ColumnDomain("l_partkey", op="=", value=int(key))]

            def check(files):
                rows = sum(f.get("record_count", 0) for f in files)
                return None if rows >= n_rows else f"plan for l_partkey={key}: {rows} rows < {n_rows}"

            files = rec.run_op(op, "plan", lambda: rec.timed(
                "catalog.scan_plan", lambda: cat.scan_plan(f"{DB}.ap", predicate=dom)), check)
            if files is not None:
                ctx.note("file_skip", 1.0 - len(files) / live)

    def one_pass(self) -> None:
        rng = self.ctx.rng
        snaps = {}
        for i, share in zip(rng.permutation(len(WRITE_PASS)), rng.permutation(BATCH_SHARES), strict=True):
            table, op = WRITE_PASS[i]
            self.commit_cycle(table, op, float(share))
            snaps[f"{table}_{op}"] = self.cat.latest_snapshot_id(DB, table)
        for table in COMPACTED:
            self._compact(table)
        for i in rng.permutation(len(READ_OPS)):
            self._read_op(READ_OPS[i], snaps)
        for table in TABLES:
            self._expire(table)

    def finish(self) -> None:
        """Storage: warehouse bytes ÷ bytes of the live rows (from the model)
        written once as one snappy parquet file per table."""
        from perfbench.probe import list_files

        with self.ctx.bench_work():
            stored = plain = 0
            for t in TABLES:
                stored += sum(list_files(os.path.join(self.wh, f"{DB}.db", t)).values())
                path = os.path.join(self.inputs, f"live_{t}.parquet")
                pq.write_table(self.con.execute(f"SELECT * FROM {t}").arrow(), path, compression="snappy")
                plain += os.path.getsize(path)
        self.ctx.note_value("bytes_stored_per_live_byte", stored / plain)
