"""Workload ``lake_hourly``: the reference's own workload, hourly
medallion ingest into an empty lake.

A run starts one new, empty ``Lake`` and ``ManifestLake`` and feeds
them consecutive hourly runs; a pass is one hourly run. Every run is one
``run_pipeline`` over all accounts (ingest, gender enrichment, formatted
and usage writes, per-account and global diffs against the previous
run), followed by the read-backs a consumer makes: ``final_aggregated``,
every ``comparatif_*`` table and the global diff. The run's aggregate is
then MERGEd into a ``ManifestLake`` table and read back through
``scan_usage``. The first two runs (the first has nothing to diff
against) are the warm-up.

Why: it is the only workload that writes, and its reads interleave with
the writes; the partition history deepens run by run, so later runs
list and prune more partitions.

Checks: row counts and added/deleted counts equal what the generator
planted, with the reference's diff semantics (a record whose
``full_name`` is missing matches nothing, so it shows up as both added
and deleted).
"""

from __future__ import annotations

import json
import os
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import Op

ACCOUNTS = 3
RECORDS = 1_000
CHURN = 0.05
MAX_RUNS = 24  # one day of hourly runs; run_ts is the hour
INGEST_DATE = "2024-01-01"
MERGED = "followers"
SCAN_LO, SCAN_HI = "c", "m"


def _keys(records: list[dict]) -> list[tuple]:
    return [(r["username"], r["full_name"]) for r in records]


def expected_diff(cur: list[tuple], prev: list[tuple]) -> tuple[int, int]:
    """(added, deleted) of an anti-join diff on (username, full_name):
    a key with a NULL part never matches."""
    cur_set = {k for k in cur if k[1] is not None}
    prev_set = {k for k in prev if k[1] is not None}
    added = sum(1 for k in cur if k[1] is None or k not in prev_set)
    deleted = sum(1 for k in prev if k[1] is None or k not in cur_set)
    return added, deleted


def _counts(rows) -> dict[str, int]:
    return {r[0]: r[1] for r in rows}


def _want(added: int, deleted: int, suffix: str = "") -> dict[str, int]:
    return {k: v for k, v in ((f"added{suffix}", added),
                              (f"deleted{suffix}", deleted)) if v}


class LakeHourly:
    name = "lake_hourly"
    warmup = 2
    groups = ("hourly run",)

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.root = ""
        self.scan_fracs: list[float] = []

    def describe(self) -> str:
        return (f"consecutive hourly runs into one lake, one per pass, "
                f"{ACCOUNTS} accounts x {RECORDS} records, {CHURN:.0%} churn per run")

    def setup(self, root: str) -> None:
        """Generate the hourly payloads and hand the engine the gender
        lookup as a parquet file."""
        os.makedirs(root, exist_ok=True)
        self.root = root
        self.runs = gen.hourly_runs(self.seed, ACCOUNTS, RECORDS, CHURN, MAX_RUNS)
        pq.write_table(gen.gender_lookup(), f"{root}/lookup.parquet")
        self.lookup = self.spark.read.parquet(f"{root}/lookup.parquet")

    def prepare_checks(self) -> None:
        self.want = []
        merged: set[tuple[str, str]] = set()
        prev = None
        for run in self.runs:
            w = {"rows": sum(len(p) for p in run.payloads.values())}
            if prev is not None:
                for acct, recs in run.payloads.items():
                    w[acct] = _want(*expected_diff(_keys(recs),
                                                   _keys(prev.payloads[acct])))
                w["global"] = _want(*expected_diff(
                    [k for p in run.payloads.values() for k in _keys(p)],
                    [k for p in prev.payloads.values() for k in _keys(p)]),
                    suffix="_global")
            merged |= {(r["username"], acct) for acct, p in run.payloads.items()
                       for r in p}
            w["scan"] = sum(1 for u, _ in merged if SCAN_LO <= u <= SCAN_HI)
            w["version"] = len(self.want) + 1
            self.want.append(w)
            prev = run

    def ops(self):
        """One op per hourly run, all into the same lakes."""
        from datalake_project_spark import pipeline
        from datalake_project_spark.lake import Lake
        from datalake_project_spark.manifest_lake import ManifestLake

        spark, d = self.spark, INGEST_DATE
        lake = Lake(spark, f"{self.root}/lake")
        mlake = ManifestLake(spark, f"{self.root}/manifest")

        def hourly(ctx, run: gen.HourlyRun, prev_ts: str | None) -> dict:
            ts = run.run_ts
            old = (lake.read_usage("final_aggregated", d, prev_ts)
                   .drop("ingest_date", "run_ts") if prev_ts else None)
            # looked up per call, so a tracing wrapper installed after
            # the warm-up is reached
            pipeline.run_pipeline(spark, lake, run.payloads, self.lookup, d, ts,
                                  old_snapshot=old)
            got: dict = {}
            with ctx.spans.span("lake.read"):
                got["rows"] = lake.read_usage("final_aggregated", d, ts).count()
                if prev_ts:
                    for acct in run.payloads:
                        got[acct] = _counts(lake.read_usage(
                            f"comparatif_apify_instagram_data_{acct}", d, ts)
                            .groupBy("change").count().collect())
                    got["global"] = _counts(
                        lake.read_usage("final_global_comparatif", d, ts)
                        .groupBy("change").count().collect())
            agg = (lake.read_usage("final_aggregated", d, ts)
                   .drop("ingest_date", "run_ts"))
            got["version"] = mlake.upsert(agg, MERGED, d, "0000",
                                          keys=["username", "username_scraped"])
            with ctx.spans.span("manifest_lake.scan_usage"):
                scan = mlake.scan_usage(MERGED, "username", SCAN_LO, SCAN_HI)
                got["scan"] = scan.count()
            if ctx.spans.enabled:
                self.scan_fracs.append(len(scan.inputFiles())
                                       / len(mlake.referenced_files(MERGED)))
            return got

        def check(got: dict, want: dict) -> str | None:
            bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
            return None if not bad else f"got != want: {bad}"

        for r, run in enumerate(self.runs):
            if r == self.warmup:
                # runs from here on are timed; what the warm-up wrote is
                # left out of the per-run write figures
                self.written_before = self._written()
                self.first_timed = r
            prev_ts = self.runs[r - 1].run_ts if r else None
            yield Op(f"hourly run {run.run_ts}",
                     lambda ctx, run=run, prev_ts=prev_ts: hourly(ctx, run, prev_ts),
                     lambda got, want=self.want[r]: check(got, want),
                     group="hourly run")

    def _written(self) -> tuple[int, int]:
        """(files, bytes) of the data files in the lake."""
        files = size = 0
        for dirpath, _, names in os.walk(f"{self.root}/lake"):
            for name in names:
                if name.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        return files, size

    def layer_metrics(self, n_runs: float) -> dict:
        files, size = (now - before for now, before
                       in zip(self._written(), self.written_before))
        timed = self.runs[self.first_timed:self.first_timed + round(n_runs)]
        input_bytes = sum(len(json.dumps(r.payloads).encode()) for r in timed)
        fracs = self.scan_fracs
        return {
            "lake.files_written": (files / n_runs, "count"),
            "lake.bytes_written_mb": (size / n_runs / 2**20, "MB"),
            "lake_files_per_run": (files / n_runs, "count"),
            "lake_bytes_per_input_byte": (size / input_bytes, "ratio"),
            "manifest_lake.files_scanned_frac":
                (sum(fracs) / len(fracs) if fracs else 0.0, "ratio"),
        }
