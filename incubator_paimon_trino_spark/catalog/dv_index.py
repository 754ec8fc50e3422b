"""Deletion-vector index: per-commit delta mark files.

Paimon stores deletion vectors as index files maintained by the writers
and listed from the snapshot (the scan layer the reference inherits them
through is ``common/TrinoPageSourceProvider.java:85-94``). This module is
that layout for this warehouse, in one format:

- A DV commit writes only its NEW marks — the (data-file basename, row
  position) of each row it supersedes — as Spark-written parquet delta
  files ``index/dv-<ver>-<nonce>-<i>.parquet`` with columns ``__dv_file``
  and ``__dv_pos``. Earlier marks are never rewritten.
- The snapshot's ``dv`` names a small manifest
  ``index/dvm-<ver>-<nonce>.json``: ``{"deltas": [{"files": [...],
  "marked": [...]}, ...]}``, every delta since the last reset, oldest
  first, carried forward by name. ``files`` are the delta's part files,
  ``marked`` the distinct data-file basenames its marks hit.
- A commit that marks nothing reuses the prior ``dv``; a table's first
  commit, an overwrite and a compaction publish no index (``dv = None``).

Readers: the batch read and the commit's mark scan anti-join the marks
Spark reads from every listed delta (``_dv_anti_join``); the manifest
stream plans one commit's new delta; the file-tail stream tails
``dv-*.parquet`` directly, each file holding one commit's retractions, so
a resume is a plain version filter and no mark is ever seen twice. The
marked-file lists give both streams their static read sets without a job.

Trade: the marks side of a read opens one small file per marking DV
commit since the last reset. ``full-compaction.delta-commits`` bounds that
fan-in, as it bounds the data-file count.

Measured with the ``lake_write_mix`` benchmark on 4 cores, interleaved
parent/change pairs, against the two formats this one replaced (an inline
JSON document holding every live mark up to a per-table threshold, then
executor-written per-bucket JSON shards above it):

- sharded everywhere (threshold 0), 6 pairs: ``pass_s`` 20.99 → 22.71 s
  (+8.2%), ``cpu_s`` 52.29 → 58.53 s (+11.9%); a DV upsert ran 18 → 25
  Spark jobs, a DV delete 15 → 20;
- delta files vs inline, 8 pairs: ``pass_s`` 20.18 → 19.05 s (−5.6%),
  ``cpu_s`` 51.40 → 47.81 s (−7.0%), retained heap 91.95 → 90.00 MiB,
  the same job counts per commit (18 upsert, 15 delete).
"""

from __future__ import annotations

import os
import shutil

from incubator_paimon_trino_spark.catalog.metadata import read_json, write_json_atomic
from incubator_paimon_trino_spark.catalog.wh_helpers import _DV_FILE, _DV_POS

#: Schema of a delta mark file.
DELTA_SCHEMA = f"{_DV_FILE} string, {_DV_POS} bigint"


def load_manifest(tdir: str, dv_name: str | None) -> list[dict]:
    """The deltas (oldest first) of an index manifest; [] for no index.
    A named manifest that is missing or not in this format raises: losing
    it would silently resurrect deleted rows."""
    if not dv_name:
        return []
    doc = read_json(os.path.join(tdir, "index", dv_name))
    if not dv_name.startswith("dvm-") or "deltas" not in doc:
        raise ValueError(f"unreadable DV index manifest: {dv_name}")
    return doc["deltas"]


def write_manifest(
    tdir: str, version: int, nonce: str, prev_dv: str | None, delta: dict
) -> str:
    """Publish ``prev_dv``'s deltas plus ``delta`` as this commit's
    manifest. Nonce-named so racing committers at one version never share
    a file."""
    name = f"dvm-{version}-{nonce}.json"
    write_json_atomic(
        os.path.join(tdir, "index", name),
        {"deltas": load_manifest(tdir, prev_dv) + [delta]},
    )
    return name


def mark_file_names(tdir: str, dv_name: str | None) -> list[str]:
    """Names (under ``index/``) of the delta files carrying this index's
    marks, oldest first."""
    return [n for d in load_manifest(tdir, dv_name) for n in d["files"]]


def marked_data_files(tdir: str, dv_name: str | None) -> set[str]:
    """Basenames of the data files this index marks."""
    return {f for d in load_manifest(tdir, dv_name) for f in d["marked"]}


def index_file_names(tdir: str, dv_name: str | None) -> list[str]:
    """Every file of this index reference (manifest + deltas): the unit
    branch copies and GC liveness track. A manifest already reaped
    resolves to itself alone."""
    if not dv_name:
        return []
    try:
        return [dv_name] + mark_file_names(tdir, dv_name)
    except FileNotFoundError:
        return [dv_name]


def copy_index_files(src_tdir: str, dst_tdir: str, dv_name: str) -> None:
    """Copy one snapshot's DV index (manifest + deltas) between table
    namespaces — branch seeding and fast-forward grafts. Names are kept
    (marks key on data-file basenames); files already at the destination
    are kept, so deltas shared by grafted snapshots copy once."""
    os.makedirs(os.path.join(dst_tdir, "index"), exist_ok=True)
    for n in index_file_names(src_tdir, dv_name):
        dst = os.path.join(dst_tdir, "index", n)
        if not os.path.exists(dst):
            shutil.copy2(os.path.join(src_tdir, "index", n), dst)
