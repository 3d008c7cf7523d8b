"""query_mix: the read side in one closed loop — mine_query's adduct mass
search followed by a registry subset, against inputs generated from one
seed.

It is the read workload the benchmark's time budget can afford on every
seed: each run pays a JVM start and a cold warm-up (about 35 s on a 4-core
host), and mine_query plus registry_mix next to pickaxe_expand did not fit.
It keeps the read-side layers that pickaxe_expand bypasses measured:
metabolomics and queries.registry. MS2, provenance and pathway requests run
in mine_query.
"""

from __future__ import annotations

from perfbench.mine_query import MineQuery
from perfbench.registry_mix import RegistryMix

# posting-list pair generation with most of its jobs inside plan build,
# and the zero-shuffle control
REGISTRY_SUBSET = ("dup_clusters", "pii_scan")


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, seed: int, workdir: str):
        self.parts = (MineQuery(spark, seed, workdir, ("mass",)),
                      RegistryMix(spark, seed, workdir, REGISTRY_SUBSET))

    def setup(self) -> dict:
        return {p.name: p.setup() for p in self.parts}

    def warmup(self, off) -> None:
        for p in self.parts:
            p.warmup(off)

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def run_pass(self, tr) -> list:
        return [op for p in self.parts for op in p.run_pass(tr)]

    def finish(self, ops) -> list[str]:
        return [msg for p in self.parts for msg in p.finish(ops)]

    def extra_metrics(self, run_s: float, ops) -> dict:
        return self.parts[0].extra_metrics(run_s, ops)
