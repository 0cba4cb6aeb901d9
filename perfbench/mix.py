"""Workload ``analytics_dedup``: the registry queries of
``perfbench.analytics`` and the dedup operators of ``perfbench.dedup``
in one session, each pass over all of them in its own seeded order.

The two halves share a run because what dominates a run on a small host
is its fixed part (the session start and the warm-up pass), not the ops
it times; one session for both keeps the benchmark's total run time in
bounds. The traced run still splits the no-stage share by half
(``queries.no_stage_frac``, ``operators.no_stage_frac``).
"""

from __future__ import annotations

import os
import random

from perfbench.analytics import Analytics
from perfbench.dedup import DedupCorpus


class AnalyticsDedup:
    name = "analytics_dedup"

    def __init__(self, spark, seed: int):
        self.seed = seed
        self.parts = (Analytics(spark, seed), DedupCorpus(spark, seed))
        self.groups = tuple(g for p in self.parts for g in p.groups)
        self.warmup = len(self.groups)  # one pass
        self.families = {"queries": Analytics.groups,
                         "operators": DedupCorpus.groups}

    def describe(self) -> str:
        return "; ".join(p.describe() for p in self.parts)

    def setup(self, root: str) -> None:
        for p in self.parts:
            p.setup(os.path.join(root, p.name))

    def prepare_checks(self) -> None:
        for p in self.parts:
            p.prepare_checks()

    def ops(self):
        """Endless passes, each in its own seeded order."""
        index = 0
        while True:
            ops = [op for p in self.parts for op in p.pass_ops()]
            yield from random.Random(f"{self.seed}/{index}").sample(ops, len(ops))
            index += 1
