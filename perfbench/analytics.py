"""The query half of workload ``analytics_dedup``: registry queries over a
generated star schema, each checked against its DuckDB oracle.

Why: at this scale a query's fixed driver-side cost (analysis, AQE
re-planning between stages, py4j, eager actions inside the build
function, streaming drain set-up) outweighs its executor work, so these
ops expose the no-stage layer, the sizing helpers and the streaming
drain.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.common import Op, results_match

# A few query families, so that a warm-up pass and a timed one fit in a
# run.
QUERIES = (
    # TPC-H
    "q1_pricing_summary", "q3_shipping_priority",
    # snapshot / CDC diffs
    "q_snapshot_diff", "q_cdc_apply_latest",
    # sessions
    "q_events_sessionize",
    # a streaming drain (availableNow into a memory sink) with a stateful
    # windowed aggregation
    "q_stream_tumbling_window",
)

SF = 0.01


class Analytics:
    name = "analytics"
    groups = QUERIES

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.data_dir = ""
        self.oracle: dict[str, tuple[list[tuple], list[str]]] = {}
        from datalake_project_spark.queries import load_all
        registry = load_all()
        self.specs = {q: registry[q] for q in QUERIES}

    def describe(self) -> str:
        return (f"{len(QUERIES)} registry queries per pass over a generated "
                f"star schema at sf{SF} (lineitem {int(6_000_000 * SF)} rows)")

    def setup(self, root: str) -> None:
        """Generate and write the tables, then let the engine register
        them as views (a footer read per table)."""
        from datalake_project_spark.catalog import Catalog

        self.data_dir = os.path.join(root, "sf")
        gen.write_tables(gen.star_schema(self.seed, SF), self.data_dir)
        Catalog(self.spark, self.data_dir).register_views(gen.STAR_TABLES)

    def prepare_checks(self) -> None:
        """Run every query's DuckDB oracle over the same files (untimed)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in gen.STAR_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')")
            for q, spec in self.specs.items():
                res = con.sql(spec.oracle)
                self.oracle[q] = (res.fetchall(), [d[0] for d in res.description])
        finally:
            con.close()

    def pass_ops(self) -> list[Op]:
        return [self._op(q) for q in QUERIES]

    def _op(self, q: str) -> Op:
        spec = self.specs[q]

        def run(ctx):
            t0 = time.time()
            with ctx.spans.span("queries.build"):
                df = spec.fn(self.spark, self.data_dir)
            ctx.build = (t0, time.time())
            return [tuple(r) for r in df.collect()], df.columns

        def check(out):
            rows, cols = out
            return results_match(rows, cols, *self.oracle[q])

        return Op(q, run, check)
