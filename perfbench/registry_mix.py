"""registry_mix: nine registry queries over a seeded row sample.

One pass builds each query's DataFrame (plan build, including any eager
jobs the query runs while building) and sinks it to the `noop` format. The
warm-up is two such passes. After the measured passes one more pass collects
the rows, untimed, and each query's answer is checked against its DuckDB
oracle evaluated on the same sampled tables.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.common import Op, Timer, clear_caches, record_failure, row_set
from perfbench.trace import Tracer

# (query, why it is in the mix)
REGISTRY_QUERIES = {
    "ngram_jaccard": "compute-bound",
    "triangle_count_deg": "compute-bound",
    "pagerank": "stage-heavy",
    "ann_ivf_pq": "driver-bound",
    "label_propagation": "all work inside plan build",
    "k_core": "all work inside plan build",
    "binary_neardup": "posting-list vs broadcast shape",
    "dup_clusters": "posting-list vs broadcast shape",
    "pii_scan": "zero-shuffle control",
}
SAMPLE_FRACTION = 0.02
WARMUP_PASSES = 2
ORACLE_TABLES = ("documents", "lineitem", "embeddings", "events")


class RegistryMix:
    name = "registry_mix"

    def __init__(self, spark, seed: int, workdir: str, queries=tuple(REGISTRY_QUERIES)):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.queries = queries
        self.answers: dict[str, tuple[list, list]] = {}
        self.failures: list[str] = []
        self.n_pass = 0

    def setup(self) -> dict:
        self.sf_dir = os.path.join(self.workdir, "sample")
        rows = gen.write_registry_tables(self.sf_dir, gen.rng_for(self.seed, 3), SAMPLE_FRACTION)
        return {"sample_fraction": SAMPLE_FRACTION, "rows": rows, "queries": list(self.queries)}

    def _run(self, tr, sink) -> list[Op]:
        from mine_database_spark.queries.registry import QUERIES

        ops = []
        for q in self.queries:
            tr.rid = f"{q}#{self.n_pass}"
            clock = Timer()
            try:
                with tr.span(f"registry.{q}"):
                    with tr.span(f"registry.{q}.build"):
                        df = QUERIES[q](self.spark, self.sf_dir)
                    with tr.span(f"registry.{q}.exec"):
                        sink(q, df)
                ops.append(Op(q, *clock.stop()))
            except Exception as e:  # noqa: BLE001
                record_failure(self.failures, q, e)
                ops.append(Op(q, *clock.stop(), ok=False))
            clear_caches(self.spark)
        self.n_pass += 1
        return ops

    def warmup(self, off) -> None:
        # after one warm-up pass the JIT is still at work: dup_clusters'
        # CPU time fell by a third from the first measured pass to the
        # second, so a run's median depended on how many passes fitted
        for _ in range(WARMUP_PASSES):
            self.run_pass(off)

    def run_pass(self, tr) -> list[Op]:
        return self._run(tr, lambda q, df: df.write.format("noop").mode("overwrite").save())

    def reset(self) -> None:
        self.failures = []

    def finish(self, ops) -> list[str]:
        """Oracle check, untimed: one more pass collects each query's rows,
        compared with its DuckDB SQL on the same sampled tables; every op of
        a failing query fails."""
        import duckdb

        from mine_database_spark.queries.registry import ORACLES

        def keep(q, df):
            self.answers[q] = (df.columns, df.collect())

        self._run(Tracer(self.spark, enabled=False), keep)

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        bad = set()
        for q in self.queries:
            if q not in self.answers:
                bad.add(q)
                self.failures.append(f"{q}: no answer from the check pass")
                continue
            cols, rows = self.answers[q]
            try:
                cur = con.execute(ORACLES[q])
                want_cols = [d[0] for d in cur.description]
                want = row_set(want_cols, cur.fetchall())
            except duckdb.Error as e:
                bad.add(q)
                record_failure(self.failures, f"{q} oracle", e)
                continue
            if sorted(want_cols) != sorted(cols) or row_set(cols, rows) != want:
                bad.add(q)
                self.failures.append(f"{q}: {len(rows)} rows differ from its DuckDB oracle ({len(want)} rows)")
        con.close()
        for o in ops:
            if o.kind in bad:
                o.ok = False
        return self.failures

    def extra_metrics(self, run_s: float, ops) -> dict:
        return {}
