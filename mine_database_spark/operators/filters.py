"""Filter subsystem — SURVEY §2.3 (reference filters/base_filter.py ABC +
property/similarity/metabolomics filters), rebuilt relationally.

Contract (mirrors base_filter.py:163-286 semantics):
  * a filter CHOOSES: per current-generation candidate compound, keep or not;
    not-kept compounds get expand=False (plus filter-specific annotations);
  * the shared CASCADE then removes: predicted ('C') compounds with
    expand=False, reactions all of whose predicted products are removable
    (compounds referenced by surviving reactions are rescued), and finally
    orphaned predicted compounds, to fixpoint.

Everything is joins/aggregations — no driver-side worklists. The orphan
loop runs to fixpoint like the reference's; it terminates because every
round removes at least one compound. Chemistry-valued predicates (MW,
fingerprints) run as pandas UDFs; the decision logic stays in Catalyst.

Materialization contract: each scoring UDF runs once per filter step, and
the `apply` of every scoring filter returns checkpointed frames (or its
inputs unchanged when it has nothing to decide). The decisions (for
reaction-scoped filters, the dead-reaction set) are checkpointed before
any emptiness probe, and orphan_gc checkpoints its inputs and each round's
orphan set. Otherwise the lazy cascade would be replanned, UDF included,
by every probe here and by every job of the next filter in the chain.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mine_database_spark.functions.text import hex_uniform
from mine_database_spark.operators.expansion import edge_table


# ---------------------------------------------------------------------------
# shared cascade (F10)

def cascade_remove(compounds: DataFrame, reactions: DataFrame, checked_ids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Relational version of _apply_filter_results (base_filter.py:163-286).

    checked_ids: single-column DF of compound _ids the filter examined.
    """
    removable = (
        compounds.join(checked_ids.select(F.col(checked_ids.columns[0]).alias("_id")), "_id", "left_semi")
        .where((~F.col("expand")) & F.col("_id").startswith("C"))
        .select("_id")
    )

    edges = edge_table(reactions)
    # reactions touching a removable compound
    rxns_to_check = edges.join(removable, edges["c_id"] == removable["_id"], "left_semi").select("rxn_id").distinct()

    # deletable iff every 'C' product is removable
    prod_status = (
        edges.where((F.col("role") == "product") & F.col("c_id").startswith("C"))
        .join(rxns_to_check, "rxn_id", "left_semi")
        .join(removable.withColumn("is_rm", F.lit(True)), edges["c_id"] == removable["_id"], "left")
        .groupBy("rxn_id")
        .agg(F.min(F.coalesce(F.col("is_rm"), F.lit(False))).alias("all_removable"))
    )
    deletable_rxns = prod_status.where(F.col("all_removable")).select("rxn_id")
    surviving_checked = rxns_to_check.join(deletable_rxns, "rxn_id", "left_anti")

    # rescue: products of surviving checked reactions stay
    rescued = (
        edges.where(F.col("role") == "product")
        .join(surviving_checked, "rxn_id", "left_semi")
        .select(F.col("c_id").alias("_id"))
        .distinct()
    )
    removable_final = removable.join(rescued, "_id", "left_anti")

    reactions_out = reactions.join(deletable_rxns, reactions["_id"] == deletable_rxns["rxn_id"], "left_anti")
    compounds_out = compounds.join(removable_final, "_id", "left_anti")
    return orphan_gc(compounds_out, reactions_out)


def orphan_gc(compounds: DataFrame, reactions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Iterative orphan removal to fixpoint: a predicted compound with no
    producing reaction is deleted, along with reactions it was a reactant
    of — which can orphan more compounds. Returns checkpointed frames."""
    compounds, reactions = compounds.localCheckpoint(eager=True), reactions.localCheckpoint(eager=True)
    while True:
        edges = edge_table(reactions)
        produced = edges.where(F.col("role") == "product").select(F.col("c_id").alias("_id")).distinct()
        orphans = (
            compounds.where(F.col("type") == "Predicted")
            .join(produced, "_id", "left_anti")
            .select("_id")
            .localCheckpoint(eager=True)
        )
        if orphans.isEmpty():
            return compounds, reactions
        dead_rxns = (
            edges.where(F.col("role") == "reactant")
            .join(orphans, edges["c_id"] == orphans["_id"], "left_semi")
            .select("rxn_id")
            .distinct()
        )
        compounds = compounds.join(orphans, "_id", "left_anti").localCheckpoint(eager=True)
        reactions = reactions.join(dead_rxns, reactions["_id"] == dead_rxns["rxn_id"], "left_anti").localCheckpoint(
            eager=True
        )


# ---------------------------------------------------------------------------
# framework

class BaseFilter:
    """Spark equivalent of the reference Filter ABC (base_filter.py:17-86)."""

    filter_name = "base"

    def candidates(self, compounds: DataFrame, generation: int) -> DataFrame:
        return compounds.where(
            (F.col("generation") == generation) & (F.col("type") == "Predicted")
        )

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        """Return (_id, keep:boolean [, extra annotation cols])."""
        raise NotImplementedError

    def apply(self, compounds: DataFrame, reactions: DataFrame, generation: int):
        cands = self.candidates(compounds, generation)
        if cands.isEmpty():
            return compounds, reactions
        decisions = self.choose(cands, generation).localCheckpoint(eager=True)
        ann_cols = [c for c in decisions.columns if c not in ("_id", "keep")]
        dec = decisions.select("_id", "keep", *ann_cols)
        compounds = (
            compounds.join(dec.withColumnRenamed("keep", "__keep"), "_id", "left")
            .withColumn("expand", F.when(F.col("__keep") == False, F.lit(False)).otherwise(F.col("expand")))  # noqa: E712
            .drop("__keep")
        )
        # annotation columns: __set_<col> overwrites an existing column
        # (e.g. last_similarity); __ann_<col> upserts — overwrites when the
        # column exists, otherwise joins in as a new annotation column
        # (e.g. predicted_rt, the reference's Predicted_RT cpd_dict entry)
        for c in ann_cols:
            if c.startswith("__set_"):
                target = c[len("__set_"):]
                compounds = compounds.withColumn(target, F.coalesce(F.col(c), F.col(target))).drop(c)
            elif c.startswith("__ann_"):
                target = c[len("__ann_"):]
                if target in compounds.columns:
                    compounds = compounds.withColumn(target, F.coalesce(F.col(c), F.col(target))).drop(c)
                else:
                    compounds = compounds.withColumnRenamed(c, target)
        return cascade_remove(compounds, reactions, decisions.select("_id"))


# ---------------------------------------------------------------------------
# F1: molecular weight window (filters/property.py:17-99)

class MWFilter(BaseFilter):
    """F1 (filters/property.py:41-58). Reference bound coercion, exactly:
    `min_MW or 0` / `max_MW or 100000` — None (or a falsy 0) becomes the
    0 / 10^5 default, including the quirk that an explicit max of 0 means
    the 10^5 cap, matching the sibling AtomicCompositionFilter."""

    filter_name = "MW"

    def __init__(self, min_mw: float | None = None, max_mw: float | None = None):
        self.min_mw, self.max_mw = (min_mw or 0), (max_mw or 100000)

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        @F.pandas_udf("double")
        def mw(smiles: pd.Series) -> pd.Series:
            from mine_database_spark.chem import get_backend

            b = get_backend()
            return smiles.map(b.exact_mol_wt)

        m = mw(F.col("smiles"))
        return cands.select("_id", ((m >= self.min_mw) & (m <= self.max_mw)).alias("keep"))


# ---------------------------------------------------------------------------
# F2: per-element atom-count ranges (filters/property.py:102-189)

class AtomicCompositionFilter(BaseFilter):
    """F2 (filters/property.py:123-189). Reference semantics, exactly:
    a constraint applies only to elements PRESENT in the compound (a
    compound lacking a constrained element passes that constraint — the
    reference iterates the compound's own atom_count), and falsy range
    endpoints default to 0 / 10^5 (`range[0] or 0`, `range[1] or 10**5`,
    including the quirk that an explicit 0 upper bound means unbounded)."""

    filter_name = "AtomicComposition"

    def __init__(self, ranges: dict[str, tuple[int | None, int | None]]):
        self.ranges = ranges

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        cond = F.lit(True)
        for el, (lo, hi) in self.ranges.items():
            cnt = F.col("atom_count").getItem(el)
            lo_v, hi_v = (lo or 0), (hi or 10**5)
            cond = cond & F.when(cnt.isNull(), F.lit(True)).otherwise(
                cnt.between(lo_v, hi_v)
            )
        return cands.select("_id", cond.alias("keep"))


# ---------------------------------------------------------------------------
# F3: fingerprint similarity vs targets (filters/similarity.py:515-797)

class SimilarityFilter(BaseFilter):
    """F3 + W4. With increasing_similarity (similarity.py:661-668), a
    candidate whose similarity DROPPED versus its stored last_similarity is
    cut regardless of the threshold; otherwise last_similarity is updated
    and the per-generation threshold applies."""

    filter_name = "Similarity"

    def __init__(self, target_smiles: list[str], threshold: float | list[float],
                 increasing_similarity: bool = False):
        self.target_smiles = target_smiles
        self.threshold = threshold
        self.increasing_similarity = increasing_similarity

    def _thr(self, generation: int) -> float:
        if isinstance(self.threshold, (int, float)):
            return float(self.threshold)
        return float(self.threshold[min(generation, len(self.threshold) - 1)])

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        targets = list(self.target_smiles)
        thr = self._thr(generation)

        @F.pandas_udf("double")
        def max_tanimoto(smiles: pd.Series) -> pd.Series:
            from mine_database_spark.chem import get_backend

            b = get_backend()
            tfps = [set(b.fingerprint(t)) for t in targets]

            def score(s):
                fp = set(b.fingerprint(s))
                best = 0.0
                for t in tfps:
                    if not fp and not t:
                        continue
                    sim = len(fp & t) / len(fp | t)
                    if sim > best:
                        best = sim
                        if best >= 1.0:
                            break  # early exit (similarity.py:760-766)
                return best

            return smiles.map(score)

        scored = cands.select(
            "_id",
            F.col("last_similarity").alias("__prev"),
            max_tanimoto(F.col("smiles")).alias("__sim"),
        )
        if self.increasing_similarity:
            # reference :661-668: non-increasing => drop and do NOT update the
            # stored similarity (NULL here keeps the old value via the
            # __set_ coalesce in apply); unseen compounds (__prev NULL)
            # always count as increasing
            inc = F.col("__sim") >= F.coalesce(F.col("__prev"), F.lit(-1.0))
            return scored.select(
                "_id",
                (inc & (F.col("__sim") >= thr)).alias("keep"),
                F.when(inc, F.col("__sim")).alias("__set_last_similarity"),
            )
        return scored.select(
            "_id",
            (F.col("__sim") >= thr).alias("keep"),
            F.col("__sim").alias("__set_last_similarity"),
        )


# ---------------------------------------------------------------------------
# F4: weighted similarity sampling (filters/similarity.py:44-505), one-pass
# Efraimidis–Spirakis instead of the reference's CDF-rebuild loop (O6)

class SimilaritySamplingFilter(SimilarityFilter):
    filter_name = "SimilaritySampling"

    def __init__(self, target_smiles: list[str], sample_size: int, weight_power: float = 4.0, min_sim: float = 0.15):
        super().__init__(target_smiles, 0.0)
        self.sample_size = sample_size
        self.weight_power = weight_power
        self.min_sim = min_sim

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        scored = super().choose(cands, generation).select(
            "_id", F.col("__set_last_similarity").alias("sim")
        )
        # weight = sim**power (reference default T**4, similarity.py:336-339);
        # deterministic u from the content hash → reproducible sampling
        w = F.pow(F.greatest(F.col("sim"), F.lit(1e-9)), F.lit(self.weight_power))
        key = F.log(hex_uniform(F.col("_id"))) / w
        ranked = (
            scored.where(F.col("sim") >= self.min_sim)
            .withColumn("__key", key)
            .orderBy(F.col("__key").desc(), F.col("_id"))
            .limit(self.sample_size)
            .select("_id")
            .withColumn("__sampled", F.lit(True))
        )
        return (
            scored.join(ranked, "_id", "left")
            .select(
                "_id",
                F.coalesce(F.col("__sampled"), F.lit(False)).alias("keep"),
                F.col("sim").alias("__set_last_similarity"),
            )
        )


# ---------------------------------------------------------------------------
# F11: target-reactivity guard (similarity.py:179-191 etc.)

class TargetReactivityGuard(BaseFilter):
    """If react_targets is off, compounds whose hash suffix matches a target
    stop expanding (expand=False) but are never removed."""

    filter_name = "TargetGuard"

    def __init__(self, target_ids: list[str]):
        self.suffixes = [t[1:] for t in target_ids]

    def apply(self, compounds: DataFrame, reactions: DataFrame, generation: int):
        sfx = F.expr("substring(_id, 2)")
        hit = sfx.isin(self.suffixes)
        return (
            compounds.withColumn("expand", F.when(hit, F.lit(False)).otherwise(F.col("expand"))),
            reactions,
        )


# ---------------------------------------------------------------------------
# F6: metabolomics mass-window filter (filters/metabolomics.py:28-395) —
# the range join J2/J6; ranges side is tiny → broadcast

class DeterministicRTPredictor:
    """Deterministic fake RT model (md5-derived seconds in [0, 1000)) — the
    stand-in for the reference's mordred→RandomForest pipeline
    (filters/metabolomics.py:335-381). Any picklable callable
    smiles → Optional[float] plugs in the same way;
    DescriptorRidgeRTPredictor is the shipped trainable dependency-free
    choice, and a broadcast sklearn regressor wrapper is the production
    drop-in."""

    def __call__(self, smiles: str) -> float | None:
        import hashlib

        if not smiles:
            return None
        return (int(hashlib.md5(smiles.encode()).hexdigest()[:8], 16) % 10000) / 10.0


class DescriptorRidgeRTPredictor:
    """Trainable pure-python RT model — the middle path between
    DeterministicRTPredictor (hash fake) and the reference's
    mordred→RandomForest stack (filters/metabolomics.py:335-381), which
    needs mordred+sklearn, absent here.

    fit() solves the closed-form ridge system (XᵀX + λI)w = Xᵀy with numpy
    (public textbook math); the fitted object is a picklable
    smiles → float callable, so it plugs into
    MetabolomicsFilter(rt_predictor=...) unchanged. Descriptors are cheap
    deterministic SMILES-text features (length, element/branch/ring/charge
    token counts); swap `featurize` for real descriptors under RDKit.
    """

    _PATTERNS = ("C", "c", "O", "o", "N", "n", "S", "P", r"\(", r"\[", r"[0-9]", r"\+", "-", "=")

    def __init__(self, alpha: float = 1.0):
        self.alpha = alpha
        self.w = None

    def featurize(self, smiles: str) -> list[float]:
        import re

        s = smiles or ""
        return [float(len(s))] + [float(len(re.findall(p, s))) for p in self._PATTERNS] + [1.0]

    def fit(self, smiles_list, rts) -> "DescriptorRidgeRTPredictor":
        import numpy as np

        x = np.array([self.featurize(s) for s in smiles_list], dtype=float)
        y = np.array(rts, dtype=float)
        lam = self.alpha * np.eye(x.shape[1])
        lam[-1, -1] = 0.0  # never shrink the bias
        self.w = np.linalg.solve(x.T @ x + lam, x.T @ y)
        return self

    def __call__(self, smiles: str) -> float | None:
        if self.w is None:
            raise ValueError("DescriptorRidgeRTPredictor is unfitted: call fit() first")
        if not smiles:
            return None
        import numpy as np

        return float(np.dot(np.array(self.featurize(smiles)), self.w))


class MetabolomicsFilter(BaseFilter):
    """F6 (filters/metabolomics.py:28-395): mass-window match, optionally
    gated by predicted retention time.

    RT half (reference :300-381): when both rt_predictor and rt_threshold
    are given, each candidate's RT is predicted once (vectorized UDF); a
    mass-window hit survives only if |peak r_time − predicted| ≤ threshold,
    and the prediction is stored on the compound as `predicted_rt`
    (the reference's Predicted_RT annotation). Peaks without an r_time fail
    fast, as the reference raises.
    """

    filter_name = "Metabolomics"

    def __init__(self, peaks: DataFrame, adducts: DataFrame, tolerance: float = 0.001,
                 rt_predictor=None, rt_threshold: float | None = None):
        self.peaks = peaks
        self.adducts = adducts
        self.tolerance = tolerance
        self.rt_predictor = rt_predictor
        self.rt_threshold = rt_threshold
        # reference semantics: RT filtering only when both are provided
        self.filter_by_rt = bool(rt_predictor and rt_threshold)

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        p = self.peaks.select("name", "mz", "r_time", F.col("charge").alias("p_charge"))
        a = self.adducts.select("adduct_name", "mass_mult", "ion_mass", F.col("charge").alias("a_charge"))
        windows = (
            p.crossJoin(F.broadcast(a))
            .where(F.col("p_charge") == F.col("a_charge"))
            .select(
                F.col("name").alias("peak_id"),
                F.col("adduct_name"),
                F.col("r_time").alias("expt_rt"),
                (((F.col("mz") - F.col("ion_mass")) / F.col("mass_mult")) - self.tolerance).alias("lo"),
                (((F.col("mz") - F.col("ion_mass")) / F.col("mass_mult")) + self.tolerance).alias("hi"),
            )
        )

        @F.pandas_udf("double")
        def mw(smiles: pd.Series) -> pd.Series:
            from mine_database_spark.chem import get_backend

            b = get_backend()
            return smiles.map(b.exact_mol_wt)

        with_mass = cands.select("_id", "smiles", mw(F.col("smiles")).alias("mass"))
        if self.filter_by_rt:
            predictor = self.rt_predictor

            @F.pandas_udf("double")
            def rt(smiles: pd.Series) -> pd.Series:
                return smiles.map(predictor)

            with_mass = with_mass.withColumn("predicted_rt", rt(F.col("smiles")))
            # reference raises when a matched peak has no retention time
            windows = windows.withColumn(
                "expt_rt",
                F.when(
                    F.col("expt_rt").isNull(),
                    F.raise_error(F.lit("No retention time found for peak")),
                ).otherwise(F.col("expt_rt")),
            )
        with_mass = with_mass.drop("smiles")

        joined = with_mass.join(
            F.broadcast(windows),
            (F.col("mass") >= F.col("lo")) & (F.col("mass") <= F.col("hi")),
        )
        if self.filter_by_rt:
            # a compound whose RT could not be predicted never matches
            # (reference :317-319 'continue'), and out-of-window RT drops
            # the peak match (:325-326)
            joined = joined.where(
                F.col("predicted_rt").isNotNull()
                & (F.abs(F.col("expt_rt") - F.col("predicted_rt")) <= F.lit(self.rt_threshold))
            )
        hits = joined.groupBy("_id").agg(
            F.array_sort(F.collect_set("peak_id")).alias("matched_peak_ids"),
            F.array_sort(F.collect_set("adduct_name")).alias("matched_adducts"),
        )
        out = with_mass.join(hits, "_id", "left")
        # the reference grafts Matched_Peak_IDs / Matched_Adducts onto the
        # compound dict and persists them (filters/metabolomics.py:198-259,
        # databases.py:344-358); carry both via the __ann_ upsert so
        # BaseFilter.apply lands them on kept compounds, like predicted_rt.
        # CONTRACT DIVERGENCE (deliberate): the reference appends one entry
        # per (peak, adduct) hit, so a compound matching a peak under two
        # adducts stores the peak id TWICE, in nondeterministic worker-pool
        # order (filters/metabolomics.py:253-257). We store the SORTED
        # DISTINCT sets (array_sort ∘ collect_set): multiplicity is
        # recoverable by re-running the range join, and a set in canonical
        # order is what makes the column comparable across runs/engines —
        # duplicate entries in arbitrary order would break every equality
        # the oracle gate and downstream exact dedup rely on.
        ann = [
            F.col("matched_peak_ids").alias("__ann_matched_peak_ids"),
            F.col("matched_adducts").alias("__ann_matched_adducts"),
        ]
        if self.filter_by_rt:
            return out.select(
                "_id",
                F.col("matched_peak_ids").isNotNull().alias("keep"),
                F.col("predicted_rt").alias("__ann_predicted_rt"),
                *ann,
            )
        return out.select(
            "_id", F.col("matched_peak_ids").isNotNull().alias("keep"), *ann
        )
