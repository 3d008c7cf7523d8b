"""mine_query: the read path, a closed loop with one client.

Setup replays the fake chemistry for a seeded MINE, writes its core-compound
table (mass, formula and stored MS2 spectra in attach_spectra's nested-map
layout) as a parquet file and, when the cycle holds provenance or pathway
requests, the network through the program's own save_warehouse. One pass is
a fixed-order cycle of requests, each sent when the previous answer has
been collected:

  mass  adduct mass search of a 10-peak list      find_db_hits_bucketed
  ms2   one precursor's isomers scored by MS2     + score_stored_spectra
  prov  reactions producing one compound          load_warehouse edges ⋈ reactions
  path  pathways from a seed to a product         pathway_bfs (depth 2)

Every mass-search and provenance answer is checked, untimed, against DuckDB
evaluating the same query over the same files.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import Op, Timer, clear_caches, record_failure, row_set

CYCLE = ("mass", "ms2", "prov", "path")
N_PEAKS = 10
POOL = 16  # distinct parameter sets per request type, used round-robin
PATH_DEPTH = 2


class MineQuery:
    name = "mine_query"

    def __init__(self, spark, seed: int, workdir: str, cycle=CYCLE):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.cycle = cycle
        self.failures: list[str] = []
        self.answers: list[tuple] = []
        self.n_req = 0

    # -- setup -----------------------------------------------------------
    def setup(self) -> dict:
        from mine_database_spark.schemas import ADDUCT_SCHEMA, COMPOUND_SCHEMA, REACTION_SCHEMA
        from mine_database_spark.sources.writers import save_warehouse

        sz = gen.MINE_SIZES
        rng = gen.rng_for(self.seed, 2)
        rules, cor, seeds = gen.chemistry(rng, sz["seeds"], sz["rules"], sz["seed_len"])
        cpds, rxns, dup = gen.mine_network(rules, cor, seeds, sz["generations"])
        core = [c for c in cpds if c[4] != "Coreactant"]
        masses = np.array([gen.mass(c[2]) for c in core])
        self.core_path = os.path.join(self.workdir, "core.parquet")
        gen.write_core(self.core_path, core, masses, rng)
        self.core = self.spark.read.parquet(self.core_path)
        self.adducts = self.spark.createDataFrame(
            [(n, m, i, "+") for n, m, i in gen.ADDUCTS], ADDUCT_SCHEMA)
        self.mine = os.path.join(self.workdir, "mine")
        if {"prov", "path"} & set(self.cycle):
            save_warehouse(self.spark.createDataFrame(cpds, COMPOUND_SCHEMA),
                           self.spark.createDataFrame(rxns, REACTION_SCHEMA), self.mine)

        # request parameters, drawn once from the seed
        self.peak_sets = gen.peak_sets(rng, masses, POOL, N_PEAKS)
        self.ms2 = [(gen.peak_sets(rng, masses, 1, 1)[0][0], gen.spectrum(rng)) for _ in range(POOL)]
        last = [c[0] for c in core if c[5] == sz["generations"]]
        self.prov_ids = [str(x) for x in rng.choice(last, size=POOL, replace=False)]
        made_from = {}
        for _, left, right, _, _ in rxns:
            made_from.setdefault(right[0][1], left[0][1])
        starts = {c[0] for c in core if c[5] == 0}
        pairs = sorted({(made_from[made_from[t]], t) for t in last
                        if made_from.get(t) in made_from and made_from[made_from[t]] in starts})
        self.path_pairs = [pairs[i] for i in rng.choice(len(pairs), size=POOL, replace=False)]
        clear_caches(self.spark)
        return {"seeds": len(seeds), "rules": len(rules), "generations": sz["generations"],
                "mine_compounds": len(cpds), "mine_reactions": len(rxns),
                "dup_product_share": round(dup, 4), "cycle": list(self.cycle),
                "peaks_per_mass_request": N_PEAKS, "adducts": len(gen.ADDUCTS)}

    def warmup(self, off) -> None:
        self.run_pass(off)

    # -- requests --------------------------------------------------------
    def _peaks(self, peaks):
        from mine_database_spark.schemas import PEAK_SCHEMA

        return self.spark.createDataFrame([(n, None, mz, "+", None, None) for n, mz in peaks], PEAK_SCHEMA)

    def _mass(self, tr, k):
        from mine_database_spark.operators.metabolomics import find_db_hits_bucketed

        peaks = self.peak_sets[k % POOL]
        with tr.span("metabolomics.find_db_hits") as sp:
            hits = find_db_hits_bucketed(self._peaks(peaks), self.adducts, self.core, tolerance=gen.MASS_TOL)
            rows = hits.select("peak_id", "adduct_name", "_id").collect()
        if sp is not None:
            sp.counts.update(hits=len(rows), windows=len(peaks) * len(gen.ADDUCTS))
        return rows

    def _ms2(self, tr, k):
        from mine_database_spark.operators.metabolomics import find_db_hits_bucketed, score_stored_spectra

        peak, query = self.ms2[k % POOL]
        with tr.span("metabolomics.find_db_hits") as sp:
            hits = tr.materialize(find_db_hits_bucketed(
                self._peaks([peak]), self.adducts, self.core, tolerance=gen.MASS_TOL))
        if sp is not None:
            sp.counts.update(hits=hits.count(), windows=len(gen.ADDUCTS))
        with tr.span("metabolomics.score_stored_spectra"):
            isomers = hits.join(self.core.select("_id", "spectra"), "_id", "left")
            scored = score_stored_spectra(isomers, query, charge="+", energy_level=20)
            return scored.where(F.col("rank") <= 5).select("peak_id", "_id", "spectral_score", "rank").collect()

    def _prov(self, tr, k):
        from mine_database_spark.sources.writers import load_warehouse

        cid = self.prov_ids[k % POOL]
        with tr.span("writers"):
            _, rxns, edges = load_warehouse(self.spark, self.mine)
            made = edges.where((F.col("c_id") == cid) & (F.col("role") == "product"))
            return (made.join(rxns, made["rxn_id"] == rxns["_id"])
                    .select("rxn_id", "operators", "smiles_rxn", F.size("reactants").alias("n_reactants"))
                    .collect())

    def _path(self, tr, k):
        from mine_database_spark.operators.network import pathway_bfs

        s, t = self.path_pairs[k % POOL]
        with tr.span("network.pathway_bfs"):
            rxns = self.spark.read.parquet(os.path.join(self.mine, "reactions"))
            return pathway_bfs(rxns, [s], [t], max_depth=PATH_DEPTH).collect()

    def run_pass(self, tr) -> list[Op]:
        ops = []
        for kind in self.cycle:
            k = self.n_req  # parameter sets rotate with the request number
            tr.rid = f"req{self.n_req}"
            clock = Timer()
            try:
                with tr.span(f"request.{kind}"):
                    rows = getattr(self, "_" + kind)(tr, k)
                op = Op(kind, *clock.stop(), rows=len(rows))
                if not rows:
                    op.ok = False
                    self.failures.append(f"{kind} request {self.n_req} returned no rows")
                elif kind in ("mass", "prov"):
                    self.answers.append((kind, k, rows, op))
            except Exception as e:  # noqa: BLE001
                op = Op(kind, *clock.stop(), ok=False)
                record_failure(self.failures, f"{kind} request {self.n_req}", e)
            ops.append(op)
            self.n_req += 1
        clear_caches(self.spark)
        return ops

    def reset(self) -> None:
        self.failures, self.answers = [], []

    def finish(self, ops) -> list[str]:
        """Untimed answer checks: every mass search and provenance lookup
        against DuckDB over the same files."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW core AS SELECT * FROM read_parquet('{self.core_path}')")
        if "prov" in self.cycle:
            for t in ("edges", "reactions"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.mine}/{t}/*.parquet')")
        # every number as DOUBLE: a bare decimal literal is DECIMAL in DuckDB,
        # and the windows must round exactly as Spark's double arithmetic does
        adducts = "VALUES " + ", ".join(f"('{n}', {m}::DOUBLE, {i}::DOUBLE)" for n, m, i in gen.ADDUCTS)
        want_cache = {}
        for kind, k, rows, op in self.answers:
            key = (kind, k % POOL)
            if key not in want_cache:
                if kind == "mass":
                    peaks = "VALUES " + ", ".join(f"('{n}', {mz}::DOUBLE)" for n, mz in self.peak_sets[k % POOL])
                    sql = f"""
                        WITH p(name, mz) AS ({peaks}), a(adduct_name, mass_mult, ion_mass) AS ({adducts}),
                        w AS (SELECT name AS peak_id, adduct_name,
                                     (mz - ion_mass) / mass_mult - {gen.MASS_TOL}::DOUBLE AS lo,
                                     (mz - ion_mass) / mass_mult + {gen.MASS_TOL}::DOUBLE AS hi FROM p, a)
                        SELECT peak_id, adduct_name, _id FROM w JOIN core ON mass >= lo AND mass <= hi"""
                    cols = ["peak_id", "adduct_name", "_id"]
                else:
                    sql = f"""
                        SELECT e.rxn_id, r.operators, r.smiles_rxn, len(r.reactants) AS n_reactants
                        FROM edges e JOIN reactions r ON e.rxn_id = r._id
                        WHERE e.c_id = '{self.prov_ids[k % POOL]}' AND e.role = 'product'"""
                    cols = ["rxn_id", "operators", "smiles_rxn", "n_reactants"]
                want_cache[key] = row_set(cols, con.execute(sql).fetchall())
            cols = list(rows[0].asDict()) if rows else []
            if row_set(cols, rows) != want_cache[key]:
                op.ok = False
                self.failures.append(f"{kind} answer for parameter set {k % POOL} differs from DuckDB")
        con.close()
        return self.failures

    def extra_metrics(self, run_s: float, ops) -> dict:
        out = {}
        for kind in self.cycle:
            lat = [o.seconds for o in ops if o.kind == kind]
            out[f"{kind}_p50_s"] = (statistics.median(lat) if lat else 0.0, "s")
        return out
