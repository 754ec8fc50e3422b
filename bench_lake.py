"""Lake read-path benchmark (r10): times the engine's OWN table machinery.

The frozen 13-query headline set in ``bench.py`` reads the driver parquet
through ``sources/`` and never enters ``read_table`` — so merge-on-read,
the DV position filter, ``$ro``, the file-index probe, and the incremental
scan had correctness proofs but no timing evidence. This second bench
materializes lake tables from ``$SPARK_GRAFT_SF_DIR``'s ``lineitem``
(~600k rows at sf0.1) and times each read surface against the plain
parquet scan of the same rows. Reference anchor: the scan seam this
design replaces, ``common/TrinoPageSourceProvider.java:85-94``.

Prints ONE JSON line:
  {"metric": "lake_read_path", "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "ratios": {name: x_vs_parquet}, "sf": ...}

Setup (table writes, compaction, the DELETE) is NOT timed — this measures
read-path steady state, warm + best-of-2, like bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark import get_spark
    from incubator_paimon_trino_spark.catalog import WarehouseCatalog
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    spark = get_spark("bench_lake")
    pk = ["l_orderkey", "l_linenumber"]

    wh = tempfile.mkdtemp(prefix="bench_lake_wh_")
    # the driver's synthetic lineitem carries duplicate (orderkey,
    # linenumber) pairs — dedup once and use the SAME rows as both the
    # plain-parquet baseline and every lake table's payload, so each ratio
    # compares identical stored data
    li_path = os.path.join(wh, "baseline.parquet")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).dropDuplicates(
        pk
    ).write.parquet(li_path)
    li = spark.read.parquet(li_path)
    cols = [(f.name, f.dataType.simpleString()) for f in li.schema.fields]

    cat = WarehouseCatalog(os.path.join(wh, "wh"), spark)
    cat.create_database("b")

    # --- setup (untimed) -------------------------------------------------
    # PK table: base commit + a 5% re-insert so merge-on-read has versions
    # to collapse. NOT compacted — a fully-compacted live set takes the
    # r10 merge-free fast path, which is what "pkc" times separately.
    cat.create_table("b", "pk", cols, primary_key=pk)
    cat.insert_into("b", "pk", li)
    upd = li.filter(F.col("l_orderkey") % 20 == 0).withColumn(
        "l_quantity", F.col("l_quantity") + 1
    )
    cat.insert_into("b", "pk", upd)
    inc_from = 1  # snapshot 1 = base; (1, 2] = the update delta
    inc_to = 2

    # Compacted twin: same history + compact() → the main read is provably
    # merge-free (r10 fast path) and $ro serves the same state.
    cat.create_table("b", "pkc", cols, primary_key=pk)
    cat.insert_into("b", "pkc", li)
    cat.insert_into("b", "pkc", upd)
    cat.compact("b", "pkc")

    # Compacted + a small post-compaction delta (~1%): the steady state of
    # a maintained PK table — the r10 delta-vs-base split broadcasts the
    # delta's keys, so only touched keys enter the merge shuffle.
    cat.create_table("b", "pkd", cols, primary_key=pk)
    cat.insert_into("b", "pkd", li)
    cat.compact("b", "pkd")
    cat.insert_into(
        "b", "pkd",
        li.filter(F.col("l_orderkey") % 100 == 0).withColumn(
            "l_quantity", F.col("l_quantity") + 2
        ),
    )

    # DV table: base commit, then DELETE 5% → position marks, no -D rows.
    cat.create_table(
        "b", "dv", cols, primary_key=pk,
        options={"deletion-vectors.enabled": "true"},
    )
    cat.insert_into("b", "dv", li)
    cat.delete_where("b", "dv", F.col("l_orderkey") % 20 == 0)

    # DV point-delete twin: one deleted key → one mark; the read still
    # scans every file with row_index and broadcast-anti-joins that mark.
    cat.create_table(
        "b", "dvp", cols, primary_key=pk,
        options={"deletion-vectors.enabled": "true"},
    )
    cat.insert_into("b", "dvp", li)
    one_key = li.select("l_orderkey").first()[0]
    cat.delete_where("b", "dvp", F.col("l_orderkey") == int(one_key))

    # Indexed append table: bloom sidecar on l_partkey, three commits so
    # the probe has a multi-file live set to prune.
    cat.create_table(
        "b", "ap", cols,
        options={
            "file-index.bloom-filter.columns": "l_partkey",
            "file-index.bloom-filter.items": "200000",
        },
    )
    for i in range(3):
        cat.insert_into("b", "ap", li.filter(F.col("l_orderkey") % 3 == i))

    target = li.select("l_partkey").first()[0]
    point_dom = [ColumnDomain("l_partkey", op="=", value=int(target))]

    # --- timed read surfaces --------------------------------------------
    def agg(df):
        return df.agg(
            F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("c")
        )

    queries = {
        # the baseline every ratio divides by
        "parquet_scan_agg": lambda: agg(spark.read.parquet(li_path)).collect(),
        "pk_merge_read": lambda: agg(cat.read_table("b.pk")).collect(),
        "pk_compacted_read": lambda: agg(cat.read_table("b.pkc")).collect(),
        "pk_delta_split_read": lambda: agg(cat.read_table("b.pkd")).collect(),
        "pk_ro_read": lambda: agg(cat.read_table("b.pkc$ro")).collect(),
        "dv_read": lambda: agg(cat.read_table("b.dv")).collect(),
        "dv_point_delete_read": lambda: agg(cat.read_table("b.dvp")).collect(),
        "incremental_read": lambda: cat.read_incremental(
            "b.pk", inc_from, inc_to
        ).count(),
        "parquet_point_lookup": lambda: spark.read.parquet(li_path)
        .filter(F.col("l_partkey") == int(target))
        .count(),
        "indexed_point_lookup": lambda: cat.read_table(
            "b.ap", predicate=point_dom
        ).count(),
    }

    timings: dict[str, float] = {}
    for name, fn in queries.items():
        fn()  # warm: codegen + JIT + footer caches, not counted
        best = None
        for _ in range(2):
            t0 = time.time()
            fn()
            el = time.time() - t0
            best = el if best is None or el < best else best
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    base_scan = timings["parquet_scan_agg"]
    base_point = timings["parquet_point_lookup"]
    ratios = {
        "pk_merge_read": round(timings["pk_merge_read"] / base_scan, 2),
        "pk_compacted_read": round(timings["pk_compacted_read"] / base_scan, 2),
        "pk_delta_split_read": round(timings["pk_delta_split_read"] / base_scan, 2),
        "pk_ro_read": round(timings["pk_ro_read"] / base_scan, 2),
        "dv_read": round(timings["dv_read"] / base_scan, 2),
        "dv_point_delete_read": round(timings["dv_point_delete_read"] / base_scan, 2),
        "incremental_read": round(timings["incremental_read"] / base_scan, 2),
        "indexed_point_lookup": round(
            timings["indexed_point_lookup"] / base_point, 2
        ),
    }
    print(
        json.dumps(
            {
                "metric": "lake_read_path",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "ratios": ratios,
                "sf": sf,
            }
        )
    )
    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
