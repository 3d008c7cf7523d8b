"""Direct unit tests for filters previously covered only indirectly:
F2 AtomicCompositionFilter (per-element count ranges) and F11
TargetReactivityGuard (stop expanding target-matching compounds without
removing them), plus the shared cascade's orphan fixpoint and the filters'
materialization contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from mine_database_spark.schemas import COMPOUND_SCHEMA


def _cpd(cid, smiles, atom_count, gen=1, ctype="Predicted", expand=True):
    return (cid, None, smiles, None, ctype, gen, None, atom_count, expand, None)


def test_atomic_composition_filter(spark):
    """F2 (filters/property.py:123-189), reference semantics: a constraint
    binds only elements PRESENT in the compound (missing element = that
    constraint passes), and falsy endpoints default to 0 / 10^5."""
    from mine_database_spark.operators.filters import AtomicCompositionFilter

    cands = spark.createDataFrame(
        [
            _cpd("C1aa", "cc", {"C": 2, "O": 1}),
            _cpd("C2aa", "ccc", {"C": 9}),          # C out of range
            _cpd("C3aa", "c", {"O": 1}),            # C missing -> C constraint passes
            _cpd("C4aa", "co3", {"C": 1, "O": 3}),  # O out of range
            _cpd("C5aa", "n", {"N": 4}),            # no constrained element present
        ],
        COMPOUND_SCHEMA,
    )
    f = AtomicCompositionFilter({"C": (1, 5), "O": (0, 2)})
    got = {r["_id"]: r["keep"] for r in f.choose(cands, generation=1).collect()}
    assert got == {"C1aa": True, "C2aa": False, "C3aa": True, "C4aa": False, "C5aa": True}

    # falsy endpoints: None lower -> 0, None/0 upper -> 10^5 (the
    # reference's `or` defaults, including 0-means-unbounded on the max)
    f2 = AtomicCompositionFilter({"C": (None, None), "O": (2, 0)})
    got2 = {r["_id"]: r["keep"] for r in f2.choose(cands, generation=1).collect()}
    assert got2["C1aa"] is False  # O=1 < min 2
    assert got2["C4aa"] is True   # O=3 <= 10^5 (0 upper treated as unset)


def test_target_reactivity_guard(spark):
    """F11 (similarity.py:179-191): compounds whose hash suffix matches a
    target get expand=False but are NOT removed; others untouched."""
    from mine_database_spark.operators.filters import TargetReactivityGuard
    from mine_database_spark.schemas import REACTION_SCHEMA

    compounds = spark.createDataFrame(
        [_cpd("Cabc1", "aa", None), _cpd("Cdef2", "bb", None)], COMPOUND_SCHEMA
    )
    reactions = spark.createDataFrame([], REACTION_SCHEMA)
    guard = TargetReactivityGuard(["Tabc1"])  # target shares the 'abc1' suffix
    cpds_out, rxns_out = guard.apply(compounds, reactions, generation=1)
    rows = {r["_id"]: r["expand"] for r in cpds_out.collect()}
    assert rows == {"Cabc1": False, "Cdef2": True}  # guarded, not removed
    assert rxns_out.count() == 0


def _rxn(rid, reactants, products, smiles_rxn=""):
    return (
        rid,
        [{"stoich": 1, "c_id": c} for c in reactants],
        [{"stoich": 1, "c_id": c} for c in products],
        ["rule1"],
        smiles_rxn,
    )


def _ids(df):
    return {r["_id"] for r in df.select("_id").collect()}


def test_orphan_gc_runs_to_fixpoint(spark):
    """The orphan cascade loops until nothing changes, like the reference
    (base_filter.py:222-238): an 11-link chain whose head has no producing
    reaction loses one link per round, so its tail needs an 11th round."""
    from mine_database_spark.operators.filters import orphan_gc
    from mine_database_spark.schemas import REACTION_SCHEMA

    chain = [f"C{i:02d}" for i in range(1, 12)]
    compounds = spark.createDataFrame(
        [_cpd("C0ss", "C", None, gen=0, ctype="Starting Compound"), _cpd("Cok", "CC", None)]
        + [_cpd(c, "CO", None, gen=i + 1) for i, c in enumerate(chain)],
        COMPOUND_SCHEMA,
    )
    # chain[0] has no producer; chain[i] is made only from chain[i-1]
    reactions = spark.createDataFrame(
        [_rxn("Rok", ["C0ss"], ["Cok"])]
        + [_rxn(f"R{i:02d}", [chain[i - 1]], [chain[i]]) for i in range(1, len(chain))],
        REACTION_SCHEMA,
    )
    cpds_out, rxns_out = orphan_gc(compounds, reactions)
    assert _ids(cpds_out) == {"C0ss", "Cok"}
    assert _ids(rxns_out) == {"Rok"}


def test_filter_chain_returns_materialized_frames(spark):
    """MWFilter then ThermoFilter on a two-generation network. MWFilter's
    cascade leaves no orphans, so orphan_gc stops after its first probe;
    even then every frame apply returns must be materialized (no
    ArrowEvalPython, i.e. no scoring UDF left in its optimized plan), so
    the next filter cannot re-run an earlier filter's UDF. The survivors
    are the hand-derived sets."""
    from mine_database_spark.operators.filters import MWFilter
    from mine_database_spark.operators.heavy_filters import ThermoFilter
    from mine_database_spark.schemas import REACTION_SCHEMA

    compounds = spark.createDataFrame(
        [
            _cpd("C0ss", "C", None, gen=0, ctype="Starting Compound"),
            _cpd("C1aa", "CC", None, gen=1),
            _cpd("C2aa", "CO", None, gen=1),
            _cpd("C3aa", "CCC", None, gen=2),
            _cpd("C4aa", "CCCCCCCCCCCC", None, gen=2),  # over the MW cap
            _cpd("C5aa", "CCO", None, gen=2),
        ],
        COMPOUND_SCHEMA,
    )
    reactions = spark.createDataFrame(
        [
            _rxn("R1", ["C0ss"], ["C1aa"], "C>>CC"),
            _rxn("R2", ["C0ss"], ["C2aa"], "C>>CO"),
            _rxn("R3", ["C1aa"], ["C3aa"], "CC>>CCC"),
            _rxn("R4", ["C1aa"], ["C4aa"], "CC>>CCCCCCCCCCCC"),
            _rxn("R5", ["C2aa"], ["C5aa"], "CO>>CCO"),
        ],
        REACTION_SCHEMA,
    )

    def udf_free(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "ArrowEvalPython" not in plan

    dgs = {"C>>CC": -1.0, "C>>CO": -1.0, "CC>>CCC": -1.0, "CC>>CCCCCCCCCCCC": -1.0, "CO>>CCO": 9.0}
    mw, thermo = MWFilter(0.0, 100.0), ThermoFilter(dg_max=0.0, scorer=dgs.get)

    c1, r1 = mw.apply(compounds, reactions, generation=2)
    assert udf_free(c1) and udf_free(r1)
    # R4 goes with its only product C4aa; nothing is orphaned
    assert _ids(c1) == {"C0ss", "C1aa", "C2aa", "C3aa", "C5aa"}
    assert _ids(r1) == {"R1", "R2", "R3", "R5"}

    c2, r2 = thermo.apply(c1, r1, generation=2)
    assert udf_free(c2) and udf_free(r2)
    # ΔG' of R5 is over dg_max: R5 goes and orphans C5aa; C2aa keeps R2
    assert _ids(c2) == {"C0ss", "C1aa", "C2aa", "C3aa"}
    assert _ids(r2) == {"R1", "R2", "R3"}
