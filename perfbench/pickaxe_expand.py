"""pickaxe_expand: the write path as a batch.

One operation reads the generated rules, coreactants and seeds, builds the
starting set, runs 2 generations of the program's transform_all with
MWFilter then ThermoFilter, numbers the network with assign_ids and writes
the parquet warehouse. Traced batches call the same transform_all, with the
filter list wrapped as one filter and expand_generation wrapped on the
engine, so each generation's filter and expansion steps are sibling spans.
Checks run untimed on the written warehouse: on the first measured batch,
references resolve, no Predicted compound is an orphan, reaction ids equal
their recomputed hash and assign_ids numbering is dense; on every batch
(traced ones included) the sorted id-set digest equals the first batch's,
and at the end of a run it must equal the digest of any earlier report of
the same seed and inputs in the reports directory (traced or not).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import (
    REPORT_NAME, Op, Timer, clear_caches, digest, dir_bytes, record_failure)

MW_MAX = 190.0   # drops about a third of the generation-1 products
DG_MAX = 25.0    # FakeDGScorer is uniform on [-50, 50): keeps 3 in 4 reactions


def filters():
    """MWFilter, then ThermoFilter. MWFilter's cascade returns an
    uncheckpointed plan and ThermoFilter's jobs re-run it, so this order
    costs 1.3-1.5x the reverse one (38-43 s against 29 s per warm batch of
    160 seeds on a 4-core host; traced, filters.g2 runs 155 jobs in ~42 s
    against 116 jobs in ~10 s). The cost is per-job planning, not data: a
    warm batch of 40 seeds takes as long as one of 160."""
    from mine_database_spark.operators.filters import MWFilter
    from mine_database_spark.operators.heavy_filters import FakeDGScorer, ThermoFilter

    return [MWFilter(0.0, MW_MAX), ThermoFilter(dg_max=DG_MAX, scorer=FakeDGScorer())]


def _prev_predicted(g: int):
    return (F.col("generation") == g - 1) & (F.col("type") == "Predicted")


class _TracedFilters:
    """The filter list as one filter for transform_all: each generation's
    filters run in a filters.g<g> span, materialized at its end. The counts
    behind filters.kept_ratio run outside the span."""

    def __init__(self, tr, fs):
        self.tr, self.fs = tr, fs

    def apply(self, compounds, reactions, generation: int):
        g = generation + 1
        cand = compounds.where(_prev_predicted(g)).count()
        with self.tr.span(f"filters.g{g}") as sp:
            for f in self.fs:
                compounds, reactions = f.apply(compounds, reactions, generation)
            compounds, reactions = self.tr.materialize(compounds), self.tr.materialize(reactions)
        sp.counts.update(candidates=cand, kept=compounds.where(_prev_predicted(g)).count())
        return compounds, reactions


def _traced_expansion(tr, expand_generation):
    """expand_generation in an expansion.g<g> span (it returns checkpointed
    frames); the counts behind the expansion ratios run outside the span."""

    def run(compounds, reactions, g: int):
        frontier = compounds.where(
            (F.col("generation") == g - 1) & F.col("expand")
            & ~F.col("type").isin("Coreactant", "Target Compound")).count()
        rxn_in = reactions.count()
        with tr.span(f"expansion.g{g}") as sp:
            compounds, reactions = expand_generation(compounds, reactions, g)
        sp.counts.update(frontier_rows=frontier, rxn_out=reactions.count() - rxn_in,
                         new_cpd=compounds.where(F.col("generation") == g).count())
        return compounds, reactions

    return run


def expand(spark, tr, paths: dict, out_dir: str, generations: int) -> None:
    """read → starting set → filtered generations → assign_ids → warehouse,
    one top-level span per layer call."""
    from mine_database_spark.operators.expansion import NetworkExpansion
    from mine_database_spark.operators.network import assign_ids
    from mine_database_spark.sources.readers import (
        read_compound_list, read_coreactants_tsv, read_rules_tsv)
    from mine_database_spark.sources.writers import save_warehouse

    with tr.span("readers"):
        _, rules = read_rules_tsv(spark, paths["rules"])
        coreactants = read_coreactants_tsv(spark, paths["coreactants"])
        seeds = tr.materialize(read_compound_list(spark, paths["seeds"]))
    engine = NetworkExpansion(spark, rules, coreactants)
    with tr.span("expansion.start"):
        compounds = tr.materialize(engine.starting_compounds_df(seeds))
    fs = filters()
    if tr.enabled:
        fs = [_TracedFilters(tr, fs)]
        engine.expand_generation = _traced_expansion(tr, engine.expand_generation)
    compounds, reactions = engine.transform_all(compounds, generations, fs)
    with tr.span("network.assign_ids"):
        compounds, reactions = assign_ids(compounds, reactions)
        compounds, reactions = tr.materialize(compounds), tr.materialize(reactions)
    with tr.span("writers") as sp:
        save_warehouse(compounds, reactions, out_dir)
    if sp is not None:
        sp.counts["bytes_written"] = dir_bytes(out_dir)


def check(spark, out_dir: str, full: bool) -> tuple[list[str], str, dict]:
    """Answer checks on the written warehouse (the id-set digest always, the
    structural checks when `full`); returns (failures, digest, row counts).
    DuckDB reads the files; only the reaction-hash check needs Spark, to
    recompute canonical_rxn_hash_col itself."""
    import duckdb

    from mine_database_spark.operators.expansion import canonical_rxn_hash_col

    con = duckdb.connect()
    for t, glob in (("compounds", "*/*"), ("reactions", "*"), ("edges", "*")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out_dir}/{t}/{glob}.parquet')")

    def one(sql):
        return con.execute(sql).fetchone()

    cids = [r[0] for r in con.execute("SELECT _id FROM compounds").fetchall()]
    rids = [r[0] for r in con.execute("SELECT _id FROM reactions").fetchall()]
    rows = {"compounds": len(cids), "reactions": len(rids), "edges": one("SELECT count(*) FROM edges")[0]}
    bad = []
    if full:
        if one("SELECT count(*) FROM edges WHERE c_id NOT IN (SELECT _id FROM compounds)")[0]:
            bad.append("reaction references a compound missing from the compound table")
        if one("""SELECT count(*) FROM compounds WHERE type = 'Predicted'
                  AND _id NOT IN (SELECT c_id FROM edges WHERE role = 'product')""")[0]:
            bad.append("orphan Predicted compound")
        for t, prefix, n in (("compounds", "pkc", len(cids)), ("reactions", "pkr", len(rids))):
            lo, hi, distinct = one(f"""SELECT min(k), max(k), count(DISTINCT k) FROM
                (SELECT CAST(substr(id, 4) AS BIGINT) AS k FROM {t} WHERE id LIKE '{prefix}%')""")
            if n and not (lo == 1 and hi == n == distinct):
                bad.append(f"assign_ids numbering of {prefix} ids is not dense 1..N")
        rxns = spark.read.parquet(f"{out_dir}/reactions")
        if rxns.where(F.col("_id") != canonical_rxn_hash_col(F.col("reactants"), F.col("products"))).count():
            bad.append("reaction _id differs from canonical_rxn_hash_col")
    con.close()
    return bad, digest(cids + rids), rows


class PickaxeExpand:
    name = "pickaxe_expand"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.digests: list[str] = []
        self.failures: list[str] = []
        self.last: dict = {}
        self.notes: dict = {}
        self.n_batch = 0

    def setup(self) -> dict:
        sz = gen.PICKAXE_SIZES
        rng = gen.rng_for(self.seed, 1)
        rules, cor, seeds = gen.chemistry(rng, sz["seeds"], sz["rules"], sz["seed_len"])
        self.paths = gen.write_chemistry(os.path.join(self.workdir, "in"), rules, cor, seeds)
        self.out_dir = os.path.join(self.workdir, "warehouse")
        self.sizes = {"seeds": len(seeds), "rules": len(rules), "generations": sz["generations"],
                      "dup_product_share": round(gen.mine_network(rules, cor, seeds, sz["generations"])[2], 4)}
        return self.sizes

    def run_pass(self, tr) -> list[Op]:
        tr.rid = f"batch{self.n_batch}"
        self.n_batch += 1
        clock = Timer()
        try:
            expand(self.spark, tr, self.paths, self.out_dir, gen.PICKAXE_SIZES["generations"])
            op = Op("batch", *clock.stop())
        except Exception as e:  # noqa: BLE001
            op = Op("batch", *clock.stop(), ok=False)
            record_failure(self.failures, "batch", e)
            clear_caches(self.spark)
            return [op]
        bad, dg, rows = check(self.spark, self.out_dir, full=not self.digests)
        if self.digests and dg != self.digests[0]:
            bad.append("id-set digest differs from the first batch")
        self.digests.append(dg)
        self.notes["id_digest"] = self.digests[0]
        self.failures += bad
        op.ok, op.rows = not bad, rows["reactions"]
        self.last = {"reactions": rows["reactions"], "stored_rows": sum(rows.values()),
                     "bytes": dir_bytes(self.out_dir)}
        clear_caches(self.spark)
        return [op]

    def warmup(self, off) -> None:
        """Start the Python workers and read the inputs into the page cache.
        JIT warm-up would take a whole batch (a cold batch costs ~1.8x a warm
        one on a 4-core host), more than the benchmark's time budget allows,
        so the measured batch pays it, as a fresh batch process does."""
        from mine_database_spark.operators.expansion import NetworkExpansion
        from mine_database_spark.sources.readers import (
            read_compound_list, read_coreactants_tsv, read_rules_tsv)

        _, rules = read_rules_tsv(self.spark, self.paths["rules"])
        engine = NetworkExpansion(self.spark, rules, read_coreactants_tsv(self.spark, self.paths["coreactants"]))
        engine.starting_compounds_df(read_compound_list(self.spark, self.paths["seeds"])).count()
        clear_caches(self.spark)

    def reset(self) -> None:
        self.digests, self.failures = [], []

    def finish(self, ops) -> list[str]:
        """The id-set digest against earlier reports of this seed and these
        inputs (the reports sit beside the run's work directory); a
        mismatch fails every batch of the run."""
        if "id_digest" not in self.notes:
            return self.failures
        pattern = REPORT_NAME.format(workload=self.name, seed=self.seed, kind="*")
        for path in sorted(glob.glob(os.path.join(os.path.dirname(self.workdir), pattern))):
            try:
                with open(path) as f:
                    earlier = json.load(f)
            except (OSError, ValueError):
                continue
            theirs = earlier.get("notes", {}).get("id_digest")
            if earlier.get("inputs") == self.sizes and theirs not in (None, self.notes["id_digest"]):
                self.failures.append(f"id-set digest differs from {os.path.basename(path)}")
                for op in ops:
                    op.ok = False
        return self.failures

    def extra_metrics(self, run_s: float, ops) -> dict:
        return {
            "rxn_per_s": (self.last.get("reactions", 0) / run_s, "1/s"),
            "stored_bytes_per_row": (self.last.get("bytes", 0) / max(1, self.last.get("stored_rows", 0)), "B"),
        }
