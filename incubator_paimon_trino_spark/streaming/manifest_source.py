"""Manifest-driven Structured Streaming source — Paimon's own source shape.

The file-tail source (``streaming/changelog.py``) discovers work by LISTING
DATA FILES, which leaves three documented gaps: a trigger can list a commit
race loser's files (at-least-once duplicates), a COMPACT commit's rewrites
are indistinguishable from writer input (re-emission), and the DV
retraction side's static join is resolved at stream build time (marks
committed later against unseen files join to nothing). Paimon's production
source avoids all three by planning each increment FROM THE SNAPSHOT
MANIFESTS — the reference stores that machinery's DDL options without
executing them (``common/TrinoTableOptionUtils.java:94-107``); this module
executes them on Spark's public Python DataSource API
(``pyspark.sql.datasource``, SPARK-45525):

- ``latestOffset()`` re-lists the snapshot directory ON EVERY TRIGGER, so
  commits landing after stream start — including pure-metadata DV deletes
  against files the start never saw — surface in the next micro-batch.
- An offset is a committed snapshot id; partitions for ``(start, end]`` are
  planned fresh per batch: one partition per added data file (+I rows) and
  one per (commit, marked data file) for DV retractions (-D rows with the
  old image recovered executor-side by positional take). The atomic
  snapshot publish is the visibility point, so a racing loser's files are
  never planned; COMPACT commits plan no file additions (rewrites are not
  writer input — Paimon's changelog contract), so compaction never
  re-emits; a DV commit's marks are its own delta file (``dv_index.py``),
  so each mark is emitted exactly once with NO streaming dedup state.
- Rows are produced as Arrow record batches; columns are mapped by FIELD
  ID per file schema (renames never orphan pre-rename files — the batch
  reader's A18 contract, which the name-matching file tail must refuse).

Driver-side planning is metadata-only: snapshot JSONs, one schema JSON per
distinct file schema, and — for DV commits — the commit's index manifest
and its predecessor's, whose difference names the commit's new delta
files and the data files they mark (the stream retains NO cumulative
state between triggers). Executors read the delta's marks themselves.

Scale shape: executors read only the planned delta files (Arrow parquet,
one file per task); a k-row DELETE plans partitions for exactly the files
holding those k rows. The trade vs the file tail is Python-worker parquet
decode instead of the JVM vectorized reader — the price of a Python-API
custom source; delta tails are small relative to the table by definition.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from incubator_paimon_trino_spark.catalog.metadata import (
    COMMIT_COMPACT,
    KIND_COL,
    SEQ_COL,
    TableSchema,
    latest_snapshot_id,
    load_snapshots,
    read_json,
)

#: DV commit-version rider column (see ``read_changelog_stream``).
DV_VER_COL = "_dv_ver"


def _storage_ddl(ddl: str) -> str:
    """A declared field type's STORAGE form, session-free: the two
    declared-metadata types (TIMESTAMP(p) precision ladder, CHAR/VARCHAR
    length) normalize to their storage types — Spark's streaming schema
    parser refuses precision suffixes, and char/varchar may not appear in a
    plan's output schema. Everything else passes through unchanged (nested
    char is already rejected at DDL time by ``metadata._parse_type``)."""
    import re as _re

    s = ddl.strip().lower()
    if _re.fullmatch(r"timestamp(_ntz)?\s*\(\s*\d\s*\)", s):
        return "timestamp_ntz"
    if _re.fullmatch(r"(char|varchar)\s*(\(\s*\d+\s*\))?", s):
        return "string"
    return ddl


# --------------------------------------------------------------- arrow types
def _arrow_type(ddl: str):
    """Spark simpleString DDL → pyarrow type, session-free (the executor
    read path has no SparkSession to parse DDL with). Covers every type the
    catalog's DDL layer admits (functions/types.py)."""
    import pyarrow as pa

    s = ddl.strip().lower()
    scalars = {
        "boolean": pa.bool_(),
        "tinyint": pa.int8(),
        "byte": pa.int8(),
        "smallint": pa.int16(),
        "short": pa.int16(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "float": pa.float32(),
        "real": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ltz": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in scalars:
        return scalars[s]
    if s.startswith("char") or s.startswith("varchar"):
        return pa.string()  # length is metadata (functions/types.py)
    if s.startswith("timestamp"):
        # declared-precision TIMESTAMP(p)/TIMESTAMP_NTZ(p): storage is
        # micros NTZ, values already write-canonicalized to the precision
        return pa.timestamp("us")
    if s.startswith("time"):
        return pa.time64("us")  # Spark 4 TimeType(p): micros storage
    if s.startswith("decimal"):
        inner = s[s.index("(") + 1 : s.rindex(")")] if "(" in s else "10,0"
        p, _, sc = inner.partition(",")
        return pa.decimal128(int(p), int(sc or 0))
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(_arrow_type(ddl.strip()[6:-1]))
    if s.startswith("map<") and s.endswith(">"):
        k, v = _split_top(ddl.strip()[4:-1])
        return pa.map_(_arrow_type(k), _arrow_type(v))
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _split_commas(ddl.strip()[7:-1]):
            name, _, t = part.partition(":")
            fields.append((name.strip().strip("`"), _arrow_type(t)))
        return pa.struct(fields)
    raise ValueError(f"unsupported type in manifest stream source: {ddl!r}")


def _split_top(s: str) -> tuple[str, str]:
    parts = _split_commas(s)
    if len(parts) != 2:
        raise ValueError(f"expected key,value in {s!r}")
    return parts[0], parts[1]


def _split_commas(s: str) -> list[str]:
    from incubator_paimon_trino_spark.functions.types import split_top_commas

    return split_top_commas(s)


def _typed_partition_value(raw: str | None, ddl: str):
    """Hive path partition value (already unquoted; None = hive null) →
    Python value matching ``_arrow_type(ddl)``."""
    if raw is None:
        return None
    import datetime as _dt
    import decimal as _decimal

    s = ddl.strip().lower()
    if s in ("tinyint", "byte", "smallint", "short", "int", "integer", "bigint", "long"):
        return int(raw)
    if s in ("float", "real", "double"):
        return float(raw)
    if s == "boolean":
        return raw.lower() == "true"
    if s == "date":
        return _dt.date.fromisoformat(raw)
    if s.startswith("decimal"):
        return _decimal.Decimal(raw)
    if s in ("string",) or s.startswith(("char", "varchar")):
        return raw
    if s.startswith("timestamp"):
        return _dt.datetime.fromisoformat(raw.replace(" ", "T"))
    if s.startswith("time"):
        return _dt.time.fromisoformat(raw)
    if s == "binary":
        # Spark spells binary partition dir values as the raw bytes decoded
        # (its own writer refuses path-hostile bytes); surrogateescape
        # round-trips whatever byte sequence the filesystem accepted
        return raw.encode("utf-8", "surrogateescape")
    raise ValueError(f"unsupported partition column type {ddl!r}")


def _partition_type_supported(ddl: str) -> bool:
    """Exactly the dispatch of ``_typed_partition_value`` — the two must
    agree or the build-time guard lies."""
    s = ddl.strip().lower()
    return s in (
        "tinyint", "byte", "smallint", "short", "int", "integer", "bigint",
        "long", "float", "real", "double", "boolean", "date", "string",
        "binary",
    ) or s.startswith(("decimal", "char", "varchar", "timestamp", "time"))


def validate_partition_types(schema: TableSchema) -> None:
    """Driver-side, stream-build-time guard: every partition column's type
    must be one ``_typed_partition_value`` can revive from a hive path
    value, so an unsupported partition schema fails the ``readStream``
    build loudly instead of surfacing as an executor-side ValueError on
    the first batch. As of r12 this is defense-in-depth: complex-typed
    partition columns already refuse at CREATE TABLE
    (``wh_helpers._validate_table_options``), so no catalog table can
    reach here with a type this module can't revive."""
    for k in schema.partition_keys:
        t = _storage_ddl(schema.field_by_name(k).type)
        if not _partition_type_supported(t):
            raise ValueError(
                f"manifest stream source: partition column {k!r} has type "
                f"{t!r}, which cannot be revived from a hive path value — "
                "use source_mode='files' for this table"
            )


# ------------------------------------------------------------------ planning
def _latest_schema(tdir: str) -> TableSchema:
    import glob as _glob

    ids = [
        int(os.path.basename(p)[len("schema-") : -len(".json")])
        for p in _glob.glob(os.path.join(tdir, "schema", "schema-*.json"))
    ]
    if not ids:
        raise ValueError(f"not a table directory: {tdir}")
    return _schema_of(tdir, max(ids))


def _schema_of(tdir: str, sid: int) -> TableSchema:
    return TableSchema.from_json(
        read_json(os.path.join(tdir, "schema", f"schema-{sid}.json"))
    )


def stream_output_columns(schema: TableSchema, dv: bool) -> list[tuple[str, str]]:
    """(name, storage ddl) of the changelog stream's output — table columns
    in declared order, then the PK system columns, then the DV commit
    rider. Shared with ``read_changelog_stream`` so both source modes
    agree. Types are the STORAGE forms (``_storage_ddl``): declared
    TIMESTAMP(p)/CHAR(n) metadata lives in the catalog, not in a stream's
    physical schema."""
    cols = [(f.name, _storage_ddl(f.type)) for f in schema.fields]
    if schema.primary_key:
        cols += [(SEQ_COL, "bigint"), (KIND_COL, "string")]
    if dv:
        cols += [(DV_VER_COL, "bigint")]
    return cols


def transport_ddl(ddl: str) -> str:
    """The type a column crosses the Python DataSource Arrow bridge as:
    TIME travels as bigint MICROS (the bridge rejects arrow time64 with
    UNSUPPORTED_ARROWTYPE); ``changelog._manifest_stream`` restores the
    declared type with a make_time projection Spark-side. Everything else
    is bridge-safe as-is."""
    s = ddl.strip().lower()
    return "bigint" if s == "time" or s.startswith("time(") else ddl


class _ManifestStreamReader(DataSourceStreamReader):
    """Offsets = committed snapshot ids; partitions planned per micro-batch
    from the manifests. Runs in Spark's driver-side Python worker (planning,
    filesystem metadata only) and executor workers (``read``, Arrow)."""

    def __init__(self, opts) -> None:
        self.tdir = opts["tdir"]
        self.from_version = int(opts.get("from_version") or 0)
        self.dv = opts.get("dv") == "1"
        # rate limit: at most N commits per micro-batch (0 = unbounded) —
        # the manifest-mode analog of maxFilesPerTrigger
        self.max_commits = int(opts.get("max_commits_per_trigger") or 0)
        # split packing: small same-commit files bin-pack into one read
        # task up to this many bytes (the reference sizes splits the same
        # way — A2 split weighting; Python task startup would otherwise
        # dominate a many-small-files commit)
        self.split_bytes = int(opts.get("split_target_bytes") or 64 * 1024 * 1024)
        self._schema_cache: dict[int, TableSchema] = {}
        self._planned = None  # last offset returned by latestOffset

    # ---- offsets
    def initialOffset(self) -> dict:
        off = max(self.from_version - 1, 0)
        # Raise the limiter base to the stream's declared start. NOTE this
        # cannot bound the cold-start batch: the engine's measured call
        # order is latestOffset -> initialOffset -> partitions on BOTH
        # processingTime and availableNow triggers (probed on the public
        # Python DataSource API, whose latestOffset takes no start offset
        # and whose runner forwards no setLatestSeenOffset), so the first
        # latestOffset always runs with an unknown base — see latestOffset
        # for why guessing the base from from_version is unsafe.
        self._planned = off if self._planned is None else max(self._planned, off)
        return {"version": off}

    def latestOffset(self) -> dict:
        # max committed id only — never resolve manifests here (this runs
        # every trigger, table idle or not; full resolution is O(history)
        # and belongs to partitions(), which runs only when work exists).
        #
        # The limiter bounds STEADY-STATE batches only: on a run's FIRST
        # trigger the base is unknown (measured call order is latestOffset
        # -> initialOffset -> partitions, and the API hands latestOffset no
        # start offset), so the backlog arrives in one unlimited batch. A
        # from_version-derived base is NOT a safe substitute: a restarted
        # stream's checkpointed position P can exceed from_version-1+max,
        # the capped tip T < P would make the engine construct batch (P, T]
        # and then advance the NEXT batch from T — replaying (T, P] into
        # the sink as duplicates (WAL rewind). Bound a cold start by
        # STARTING from a consumer/snapshot position instead; restarts are
        # bounded from their second trigger on (partitions() latches the
        # checkpointed base).
        tip = latest_snapshot_id(self.tdir)
        if self.max_commits and self._planned is not None:
            tip = min(tip, self._planned + self.max_commits)
        self._planned = max(tip, self._planned or 0)
        return {"version": tip}

    def commit(self, end: dict) -> None:
        pass  # checkpoint-managed; consumer advancement stays explicit

    # ---- planning
    def _schema(self, sid: int) -> TableSchema:
        if sid not in self._schema_cache:
            self._schema_cache[sid] = _schema_of(self.tdir, sid)
        return self._schema_cache[sid]

    def _column_spec(self, file_sid: int, current: TableSchema):
        """Field-id column mapping for files written under ``file_sid``:
        (physical columns to read, renames old→current, current fields with
        no physical column → nulls). Types are storage forms."""
        old = self._schema(file_sid)
        old_by_id = {f.id: f for f in old.fields}
        part = set(current.partition_keys)
        renames, missing = [], []
        for f in current.fields:
            if f.name in part:
                continue  # injected from the path, never read from the file
            of = old_by_id.get(f.id)
            if of is None:
                missing.append((f.name, _storage_ddl(f.type)))
            else:
                renames.append((of.name, f.name, _storage_ddl(f.type)))
        return renames, missing

    def _partition_spec(self, e: dict, current: TableSchema) -> list[tuple]:
        """(name, storage ddl, raw path value) per partition key for one
        manifest entry. The hive path spells each key under the name it had
        WHEN THE FILE WAS WRITTEN — look it up by FIELD ID through the
        file's schema, so a renamed partition column revives its pre-rename
        files' values instead of silently streaming NULLs."""
        from incubator_paimon_trino_spark.catalog.scan import partition_values

        pv = partition_values(e["path"])
        old_names = {f.id: f.name for f in self._schema(e["schema_id"]).fields}
        out = []
        for k in current.partition_keys:
            f = current.field_by_name(k)
            out.append((k, _storage_ddl(f.type), pv.get(old_names.get(f.id, k))))
        return out

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["version"], end["version"]
        # keep the rate limiter's base at or ahead of the checkpointed
        # position across restarts (a resumed stream re-plans its last
        # uncommitted batch before latestOffset is consulted again); with
        # the limiter on, a restart may still replay up to one limiter
        # window — at-least-once, absorbed by the PK-upsert/no-op-advance
        # sink discipline like every other replay
        self._planned = max(self._planned or 0, lo, hi)
        snaps = load_snapshots(self.tdir)
        current = _latest_schema(self.tdir)
        is_pk = bool(current.primary_key)
        out_cols = [
            (n, transport_ddl(t)) for n, t in stream_output_columns(current, self.dv)
        ]
        by_id = {s.snapshot_id: s for s in snaps}
        ids = [s.snapshot_id for s in snaps if lo < s.snapshot_id <= hi]
        prev_id = max((s.snapshot_id for s in snaps if s.snapshot_id <= lo), default=0)
        if prev_id == 0 and ids and lo > max(self.from_version - 1, 0):
            # The planned-from position lo is PAST the stream's own start,
            # so it came from a checkpoint — and no snapshot <= lo survives:
            # retention expired the consumed window, and the per-commit
            # delta from lo is unreconstructable (a cumulative file list
            # diffed against nothing re-emits the entire live set as +I —
            # duplicates into every append sink). Fail loudly (Kafka's
            # failOnDataLoss shape); keep a consumer_id so retention
            # protects the stream's window. A true COLD start (lo at the
            # from_version base) into expired history is different: there
            # the live-set baseline IS the correct first batch.
            raise ValueError(
                f"manifest stream: checkpointed position {lo} predates the "
                f"earliest surviving snapshot {min(ids)} — retention expired "
                "the consumed window; restart the stream from scratch, and "
                "register a consumer_id so expire_snapshots pins its window"
            )
        prev_paths = {f["path"] for f in by_id[prev_id].files} if prev_id else set()
        prev_dv = by_id[prev_id].dv if prev_id else None
        bootstrap = prev_id == 0
        parts: list[InputPartition] = []
        for sid in ids:
            s = by_id[sid]
            added = [f for f in s.files if f["path"] not in prev_paths]
            prev_paths = {f["path"] for f in s.files}
            # COMPACT rewrites are not writer input (Paimon's changelog
            # contract; mirrors table_changelog's input producer) — except
            # as the +I baseline when bootstrapping from expired history
            # whose earliest survivor is a COMPACT commit
            emit_baseline = bootstrap and s.commit_kind == COMMIT_COMPACT
            bootstrap = False
            if s.commit_kind != COMMIT_COMPACT or emit_baseline:
                for (fsid, fmt), pack in _pack_splits(added, self.split_bytes):
                    renames, missing = self._column_spec(fsid, current)
                    parts.append(InputPartition({
                        "kind": "data",
                        "files": [
                            {
                                "path": os.path.normpath(
                                    os.path.join(self.tdir, e["path"])
                                ),
                                "parts": self._partition_spec(e, current),
                            }
                            for e in pack
                        ],
                        "fmt": fmt,
                        "commit": sid,
                        "pk": is_pk,
                        "renames": renames,
                        "missing": missing,
                        "out_cols": out_cols,
                    }))
            if self.dv and s.dv != prev_dv:
                # this commit's marks = the deltas its manifest lists and
                # the prior one does not: exact per-commit retractions, no
                # dedup state. A compaction RESET (no index) plans nothing.
                parts.extend(
                    self._plan_dv_partitions(s, prev_dv, current, is_pk, out_cols)
                )
                prev_dv = s.dv
        return parts

    def _plan_dv_partitions(self, s, prev_dv, current, is_pk, out_cols):
        """Partitions retracting the marks of ``s``'s new deltas: the
        data files each delta marks, packed like data files, every pack
        reading the delta's part files for its own files' positions."""
        from incubator_paimon_trino_spark.catalog.dv_index import load_manifest

        seen = {tuple(d["files"]) for d in load_manifest(self.tdir, prev_dv)}
        entries = {
            os.path.basename(f["path"].replace("\\", "/")): f for f in s.files
        }
        idx = os.path.join(self.tdir, "index")
        parts: list[InputPartition] = []
        for delta in load_manifest(self.tdir, s.dv):
            if tuple(delta["files"]) in seen:
                continue  # carried forward: retracted by an earlier commit
            marked = []
            for fbase in delta["marked"]:
                e = entries.get(fbase)
                if e is None:
                    # a mark against a file this snapshot does not list is a
                    # corrupt index — failing loudly beats silently
                    # dropping a delete
                    raise ValueError(
                        f"DV index of snapshot {s.snapshot_id} marks unknown file {fbase}"
                    )
                marked.append(e)
            for (fsid, fmt), pack in _pack_splits(marked, self.split_bytes):
                renames, missing = self._column_spec(fsid, current)
                parts.append(InputPartition({
                    "kind": "dv",
                    "marks": [os.path.join(idx, n) for n in delta["files"]],
                    "files": [
                        {
                            "path": os.path.normpath(
                                os.path.join(self.tdir, e["path"])
                            ),
                            "parts": self._partition_spec(e, current),
                        }
                        for e in pack
                    ],
                    "fmt": fmt,
                    "commit": s.snapshot_id,
                    "pk": is_pk,
                    "renames": renames,
                    "missing": missing,
                    "out_cols": out_cols,
                }))
        return parts

    # ---- executor read
    def read(self, partition: InputPartition) -> Iterator:
        spec = partition.value
        renames, missing = spec["renames"], spec["missing"]
        if spec["kind"] == "dv":
            positions = _read_marks(
                spec["marks"], [os.path.basename(f["path"]) for f in spec["files"]]
            )
        for f in spec["files"]:
            table = _read_file(f["path"], spec["fmt"], renames, spec["pk"])
            if spec["kind"] == "dv":
                table = table.take(positions[os.path.basename(f["path"])])
            yield from _output_batches(
                table,
                spec["out_cols"],
                renames,
                missing,
                f["parts"],
                dv_commit=spec["commit"] if spec["kind"] == "dv" else None,
            )


def _read_marks(paths: list[str], bases: list[str]) -> dict[str, list[int]]:
    """{data-file basename: sorted positions} of one delta's marks on
    ``bases``, read in the executor from the delta's part files. A part
    file reaped between planning and read raises (Spark retries the
    task): losing it mid-batch would drop deletes."""
    import pyarrow.parquet as pq

    from incubator_paimon_trino_spark.catalog.wh_helpers import _DV_FILE, _DV_POS

    out: dict[str, list[int]] = {b: [] for b in bases}
    for p in paths:
        t = pq.read_table(p, columns=[_DV_FILE, _DV_POS], filters=[(_DV_FILE, "in", bases)])
        for fb, pos in zip(t.column(_DV_FILE).to_pylist(), t.column(_DV_POS).to_pylist()):
            out[fb].append(pos)
    return {b: sorted(ps) for b, ps in out.items()}


def _read_file(path: str, fmt: str, renames: list, pk: bool):
    """Arrow-read one data file's physical columns (old names + the PK
    system columns)."""
    phys_cols = [old for old, _, _ in renames]
    if pk:
        phys_cols += [SEQ_COL, KIND_COL]
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=phys_cols)
    if fmt == "orc":
        import pyarrow.orc as orc

        return orc.ORCFile(path).read(columns=phys_cols)
    if fmt == "avro":
        # pyarrow has no avro reader: decode through the pure-Python OCF
        # codec (formats/avro_ocf — r9, closes the r8 'What's missing #2'
        # gap). Per-row Python decode, but delta tails are small relative
        # to the table by definition — same trade as this source's parquet
        # path being Python-worker-side.
        from incubator_paimon_trino_spark.formats.avro_ocf import read_ocf_arrow

        types = {old: ddl for old, _new, ddl in renames}
        fields = [(c, types.get(c, "bigint" if c == SEQ_COL else "string")) for c in phys_cols]
        return read_ocf_arrow(path, fields)
    raise NotImplementedError(
        f"manifest stream source reads parquet/orc/avro; table file is {fmt!r}"
    )


def _output_batches(table, out_cols, renames, missing_cols, parts, dv_commit):
    """Arrow batches in the stream's output schema, from one file's read:
    renamed columns cast by field id, partition values injected from the
    path, absent-in-file columns as nulls; DV retractions override
    ``_row_kind`` to 'D' and ride the retracting commit id in ``_dv_ver``.
    Shared by the data and dv partition reads."""
    import pyarrow as pa

    n = len(table)
    if n == 0:
        return
    renamed = {new: (old, ddl) for old, new, ddl in renames}
    missing = dict(missing_cols)
    part_vals = {k: (ddl, raw) for k, ddl, raw in parts}
    arrays, names = [], []
    for name, ddl in out_cols:
        at = _arrow_type(ddl)
        if name == DV_VER_COL:
            arr = pa.array([dv_commit] * n, type=at)
        elif name == KIND_COL and dv_commit is not None:
            arr = pa.array(["D"] * n, type=at)
        elif name in part_vals:
            pddl, raw = part_vals[name]
            v = _typed_partition_value(raw, pddl)
            if at == pa.int64() and v is not None and not isinstance(v, int):
                # TIME transported as bigint micros (the Arrow bridge
                # rejects time64 — see changelog._manifest_stream)
                v = ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 + v.microsecond
            arr = pa.array([v] * n, type=at)
        elif name in renamed:
            old, _ = renamed[name]
            arr = table.column(old).cast(at)
        elif name in missing:
            arr = pa.nulls(n, type=at)
        else:  # _seq / _row_kind straight from the file
            arr = table.column(name).cast(at)
        arrays.append(arr)
        names.append(name)
    yield from pa.table(dict(zip(names, arrays))).to_batches()


def _pack_splits(entries: list[dict], target_bytes: int):
    """Bin-pack one commit's added files into read splits: group by
    (schema_id, format) — a split shares one column-mapping spec — then
    first-fit by ``size_bytes`` up to ``target_bytes`` (always at least one
    file per split). ``target_bytes <= 0`` DISABLES packing (one file per
    split, the pre-packing behavior); an entry with no recorded size
    (foreign manifests — this warehouse always records one) is weighted a
    full target so it isolates. The manifest-mode analog of the
    reference's split sizing (``TrinoSplitManagerBase.java:50-63``):
    without it, a commit of many small files costs one Python task EACH,
    and task startup dominates the read. Yields
    ((schema_id, format), [entries])."""
    groups: dict[tuple, list[dict]] = {}
    for e in sorted(entries, key=lambda e: e["path"]):
        groups.setdefault((e["schema_id"], e.get("format", "parquet")), []).append(e)
    for key, group in sorted(groups.items()):
        if target_bytes <= 0:
            for e in group:
                yield key, [e]
            continue
        pack: list[dict] = []
        size = 0
        for e in group:
            raw = e.get("size_bytes")
            sz = target_bytes if raw is None else int(raw)
            if pack and size + sz > target_bytes:
                yield key, pack
                pack, size = [], 0
            pack.append(e)
            size += sz
        if pack:
            yield key, pack


class PaimonManifestSource(DataSource):
    """``spark.readStream.format("paimon_manifest")`` — options: ``tdir``
    (table directory), ``from_version`` (first snapshot id to emit; 0 =
    everything), ``dv`` ("1" on deletion-vectors tables), ``schema_ddl``
    (output schema, computed by ``read_changelog_stream``),
    ``max_commits_per_trigger`` (rate limit, 0 = unbounded),
    ``split_target_bytes`` (read-split packing target, default 64 MiB;
    <= 0 disables packing — one file per split)."""

    @classmethod
    def name(cls) -> str:
        return "paimon_manifest"

    def schema(self) -> str:
        return self.options["schema_ddl"]

    def streamReader(self, schema) -> _ManifestStreamReader:
        return _ManifestStreamReader(self.options)
