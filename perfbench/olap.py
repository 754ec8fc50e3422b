"""``olap_mix``: the 13 headline queries of the ``operators`` registry over
seeded star-schema parquet.

Why: registry builders and Spark planning and execution do all the work;
``catalog`` and ``streaming`` do none, so a catalog change must read as "no
change" here. The query list and the action per query are pinned below
(the same list and actions as the repository's headline bench at the time
this benchmark was written), so editing that bench does not change what
this one measures.
"""

from __future__ import annotations

import os

import duckdb

from perfbench import checks, datagen

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q10_returned_items",
    "q18_large_volume_customers",
    "q21_suppliers_kept_waiting",
    "window_topn_per_group",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "embedding_kmeans_assign",
    "dedup_chunk_repetition",
)
# Large-output ops are counted, not collected, so the op measures compute
# rather than result transfer to Python.
COUNTED = ("dedup", "ann", "embedding")
# Input size: 1/10 of TPC-H scale factor 1 (600k lineitem rows), the size of the
# repository's headline bench.
SF = 0.1
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class OlapMix:
    name = "olap_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.run_dir, "data")
        self.expected_rows: dict[str, int] = {}

    def setup(self) -> None:
        import incubator_paimon_trino_spark.operators as ops
        from incubator_paimon_trino_spark.operators.registry import ORACLES, QUERIES

        ops.load_all()
        ctx, rec = self.ctx, self.ctx.rec
        with ctx.bench_work():
            datagen.write_star(self.data, SF, ctx.seed)
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            oracle = {}
            for name in HEADLINE:
                if name in ORACLES:
                    res = con.execute(ORACLES[name])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    oracle[name] = checks.digest(cols, rows)
                    self.expected_rows[name] = len(rows)
            con.close()
        self.queries = QUERIES
        # Oracle check, which is also the warm-up: every query's full result once.
        for name in map(str, ctx.rng.permutation(HEADLINE)):
            def run(name=name):
                df = QUERIES[name](ctx.spark, self.data)
                return df.columns, [tuple(r) for r in df.collect()]

            def check(res, name=name):
                cols, rows = res
                if name not in oracle:
                    self.expected_rows[name] = len(rows)
                    return None if rows else "no rows (query has no oracle)"
                with ctx.bench_work():
                    return checks.compare(f"{name} digest", checks.digest(cols, rows), oracle[name])

            rec.run_op(name, "setup_check", run, check, record=False)
        # The counted queries' plans differ from their collect plans: warm
        # them with the measured action too, so a pass runs compiled code.
        for name in HEADLINE:
            if name.startswith(COUNTED) and name in self.expected_rows:
                rec.run_op(name, "warmup", lambda name=name: self._query(name), self._check(name),
                           record=False)

    def _query(self, name: str):
        rec = self.ctx.rec
        df = rec.timed("operators.build", lambda: self.queries[name](self.ctx.spark, self.data))
        counted = name.startswith(COUNTED)
        if counted:
            df = df.groupBy().count()
        rec.timed("spark.plan", lambda: df._jdf.queryExecution().executedPlan())
        rows = rec.timed("spark.execute", df.collect)
        return (rows[0][0] if counted else len(rows)), df

    def _check(self, name: str):
        want = self.expected_rows[name]
        return lambda res: checks.compare(f"{name} rows", res[0], want)

    def one_pass(self) -> None:
        ctx = self.ctx
        for name in map(str, ctx.rng.permutation(HEADLINE)):
            if name not in self.expected_rows:  # its set-up run failed
                continue
            res = ctx.rec.run_op(name, "query", lambda name=name: self._query(name), self._check(name))
            if res is not None:
                ctx.plan_counts("query", res[1], res[0])
