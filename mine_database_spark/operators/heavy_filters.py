"""Heavyweight optional filters (SURVEY §2.3 F5/F7/F8) — same plugin
surface as the reference, dependencies gated exactly like the reference
gates them (pickaxe_run_template.py:33-35 imports them lazily).

  * MCSFilter runs everywhere (fake backend ⇒ longest-common-substring
    overlap; RDKit backend ⇒ rdFMCS).
  * ThermoFilter / ReactionFeasibilityFilter score REACTIONS (the reference
    returns a rxns_remove_set). The scoring model is pluggable: pass any
    picklable scorer callable (deterministic fakes ship for both, mirroring
    FakeChemBackend) and the full keep/drop cascade runs end-to-end; without
    a scorer, construction requires the equilibrator / torch stacks and
    raises ImportError exactly like the reference gates them
    (pickaxe_run_template.py:33-35).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mine_database_spark.operators.expansion import edge_table
from mine_database_spark.operators.filters import BaseFilter, orphan_gc


class MCSFilter(BaseFilter):
    """F5 (filters/similarity.py:800-1022): keep compounds whose maximum
    common substructure with any target covers >= crit of the target.

    With RDKit on the executors the UDF uses rdFMCS.FindMCS exactly as the
    reference does (similarity.py:959-973: overlap = (mcs atoms + mcs bonds)
    / (target atoms + target bonds), canceled search scores 0); without it,
    molecules are strings under the fake backend and MCS degrades to the
    longest common substring over the target length. Either way the Spark
    plan is identical: targets broadcast into the UDF, decision relational.
    """

    filter_name = "MCS"

    def __init__(self, target_smiles: list[str], crit_mcs: float = 0.5):
        self.target_smiles = list(target_smiles)
        self.crit = crit_mcs

    def choose(self, cands: DataFrame, generation: int) -> DataFrame:
        targets = self.target_smiles
        crit = self.crit

        @F.pandas_udf("double")
        def mcs_overlap(smiles: pd.Series) -> pd.Series:
            try:
                from rdkit.Chem import AllChem
                from rdkit.Chem import rdFMCS as mcs

                t_mols = [m for m in (AllChem.MolFromSmiles(t) for t in targets) if m]

                def best(s: str) -> float:
                    mol = AllChem.MolFromSmiles(s or "")
                    if mol is None:
                        return 0.0
                    out = 0.0
                    for t_mol in t_mols:
                        r = mcs.FindMCS([mol, t_mol], matchValences=False, ringMatchesRingOnly=False)
                        if r.canceled:
                            continue
                        denom = t_mol.GetNumAtoms() + t_mol.GetNumBonds()
                        if denom:
                            out = max(out, (r.numAtoms + r.numBonds) / denom)
                    return out

            except ImportError:
                from difflib import SequenceMatcher

                def best(s: str) -> float:
                    out = 0.0
                    for t in targets:
                        m = SequenceMatcher(None, s or "", t, autojunk=False)
                        blk = m.find_longest_match(0, len(s or ""), 0, len(t))
                        if t:
                            out = max(out, blk.size / len(t))
                    return out

            return smiles.map(best)

        return cands.select("_id", (mcs_overlap(F.col("smiles")) >= crit).alias("keep"))


class ReactionScopedFilter(BaseFilter):
    """Base for filters that remove REACTIONS rather than compounds.

    The reference's thermo/feasibility filters return a `rxns_remove_set`
    from _choose_items_to_filter; _apply_filter_results then deletes those
    reactions and loops deleting any compound left with no producing
    reaction, plus the reactions it fed (base_filter.py:215-240).
    Relationally: scope to the reactions producing this generation's
    non-coreactant/non-target compounds (thermodynamics.py:133-143,
    feasibility.py:242-252), anti-join the rejected ones, orphan-GC to
    fixpoint. The scoring UDF is the only per-filter piece.
    """

    def reactions_to_check(self, compounds: DataFrame, reactions: DataFrame, generation: int) -> DataFrame:
        gen_cpds = compounds.where(
            (F.col("generation") == generation)
            & ~F.col("type").isin("Coreactant", "Target Compound")
        ).select("_id")
        edges = edge_table(reactions)
        rxn_ids = (
            edges.where(F.col("role") == "product")
            .join(gen_cpds, edges["c_id"] == gen_cpds["_id"], "left_semi")
            .select("rxn_id")
            .distinct()
        )
        return reactions.join(rxn_ids, reactions["_id"] == rxn_ids["rxn_id"], "left_semi")

    def choose_reactions(self, rxns: DataFrame, compounds: DataFrame) -> DataFrame:
        """Return (rxn_id, keep:boolean)."""
        raise NotImplementedError

    def apply(self, compounds: DataFrame, reactions: DataFrame, generation: int):
        scoped = self.reactions_to_check(compounds, reactions, generation)
        dead = (
            self.choose_reactions(scoped, compounds)
            .where(~F.col("keep"))
            .select("rxn_id")
            .localCheckpoint(eager=True)
        )
        if dead.isEmpty():
            return compounds, reactions
        reactions = reactions.join(dead, reactions["_id"] == dead["rxn_id"], "left_anti")
        return orphan_gc(compounds, reactions)


class FakeDGScorer:
    """Deterministic ΔG′ stand-in: md5-uniform in [lo, hi) kJ/mol keyed on
    the reaction SMILES — lets the ThermoFilter keep/drop cascade run
    end-to-end without the eQuilibrator stack, exactly like FakeChemBackend
    stands in for RDKit. Any picklable callable smiles_rxn → float (kJ/mol)
    plugs in the same way."""

    def __init__(self, lo: float = -50.0, hi: float = 50.0):
        self.lo, self.hi = lo, hi

    def __call__(self, smiles_rxn: str) -> float:
        import hashlib

        u = int(hashlib.md5((smiles_rxn or "").encode()).hexdigest()[:8], 16) / 2**32
        return self.lo + u * (self.hi - self.lo)


class GroupContributionDGScorer:
    """Pure-python ΔG′ scorer — no eQuilibrator dependency. Sits between
    FakeDGScorer (hash noise) and the real ComponentContribution stack the
    reference gates on (thermodynamics.py:178-357): the thermodynamic
    MACHINERY is exact, the default formation energies are coarse.

    Model (Alberty, "Thermodynamics of Biochemical Reactions", 2003 — public
    constants; eQuilibrator applies the same Legendre transform):

        ΔGf′(pH, I) = ΔGf° + N_H·RTln10·pH − 2.91482·(z²−N_H)·√I/(1+1.6·√I)
        ΔG′rxn      = Σ_products ΔGf′ − Σ_reactants ΔGf′      [kJ/mol, 298.15 K]

    `table` maps SMILES → (dgf0_kj_per_mol, n_h, z); compounds found there
    get curated answers. Anything else falls back to an atom-additive
    zeroth-order estimate: element tokens parsed from the SMILES text times
    `atom_contributions` (coarse, clearly-approximate defaults; implicit
    hydrogens are NOT inferred — bracket [NH4+]-style explicit H and charge
    tokens are honored). Callable on the engine's rxn_smiles rendering
    ('A + B => C'; occurrences repeat per stoichiometry), picklable, so it
    plugs straight into ThermoFilter(scorer=...).
    """

    RT_LN10 = 5.708039  # kJ/mol at 298.15 K
    _DH_A = 2.91482     # extended Debye–Hückel numerator constant, kJ/mol·M^-1/2
    _DH_B = 1.6         # M^-1/2

    #: coarse per-atom ΔGf° contributions (kJ/mol) — order-of-magnitude
    #: defaults for ranking chemistry when no curated table entry exists;
    #: NOT literature group values. Override via atom_contributions=.
    DEFAULT_ATOM_CONTRIBUTIONS = {
        "C": -30.0, "O": -130.0, "N": 50.0, "S": 40.0, "P": -280.0,
        "H": -5.0, "Cl": -100.0, "Br": -90.0, "F": -250.0, "I": -50.0,
    }

    def __init__(self, table: dict | None = None, p_h: float = 7.0,
                 ionic_strength: float = 0.25,
                 atom_contributions: dict | None = None):
        self.table = dict(table or {})
        self.p_h = p_h
        self.ionic_strength = ionic_strength
        self.atom_contributions = dict(atom_contributions or self.DEFAULT_ATOM_CONTRIBUTIONS)

    # -- per-compound ------------------------------------------------------
    def _parse_atoms(self, smiles: str) -> tuple[dict, int, int]:
        """(element counts incl. explicit H, n_explicit_H, formal charge)
        from SMILES text — bracket atoms carry their H count and charge."""
        import re
        from collections import Counter

        atoms: Counter = Counter()
        n_h = 0
        charge = 0
        for m in re.finditer(r"\[([^\]]+)\]|(Br|Cl)|([A-Z])|([bcnops])", smiles):
            bracket, two, one, arom = m.groups()
            if bracket is not None:
                em = re.match(r"([A-Z][a-z]?|[bcnops])", bracket)
                if not em:
                    continue
                atoms[em.group(1).capitalize()] += 1
                hm = re.search(r"H(\d*)", bracket[em.end():])
                if hm:
                    h = int(hm.group(1) or 1)
                    n_h += h
                    atoms["H"] += h
                cm = re.search(r"([+-])(\d*)$", bracket)
                if cm:
                    charge += (1 if cm.group(1) == "+" else -1) * int(cm.group(2) or 1)
            elif two:
                atoms[two] += 1
            elif one:
                atoms[one] += 1
            elif arom:
                atoms[arom.upper()] += 1
        return dict(atoms), n_h, charge

    def dgf_prime(self, smiles: str) -> float:
        """ΔGf′ of one compound under (p_h, ionic_strength)."""
        import math

        if smiles in self.table:
            dgf0, n_h, z = self.table[smiles]
        else:
            atoms, n_h, z = self._parse_atoms(smiles)
            dgf0 = sum(self.atom_contributions.get(el, 0.0) * n for el, n in atoms.items())
        sqrt_i = math.sqrt(max(self.ionic_strength, 0.0))
        debye = self._DH_A * sqrt_i / (1.0 + self._DH_B * sqrt_i)
        return dgf0 + n_h * self.RT_LN10 * self.p_h - (z * z - n_h) * debye

    # -- per-reaction ------------------------------------------------------
    def __call__(self, smiles_rxn: str) -> float:
        if not smiles_rxn or "=>" not in smiles_rxn:
            return 0.0
        lhs, _, rhs = smiles_rxn.partition("=>")
        # ' + ' with surrounding spaces never collides with bracket charges
        reactants = [s for s in (t.strip() for t in lhs.split(" + ")) if s]
        products = [s for s in (t.strip() for t in rhs.split(" + ")) if s]
        return sum(self.dgf_prime(s) for s in products) - sum(
            self.dgf_prime(s) for s in reactants
        )


class ThermoFilter(ReactionScopedFilter):
    """F7 (filters/thermodynamics.py:17-160): drop reactions with
    ΔG′ >= dg_max (":157-158 keep iff rxn_dg < dg_max").

    `scorer` is any picklable callable smiles_rxn → ΔG′ in kJ/mol —
    GroupContributionDGScorer is the shipped dependency-free choice
    (FakeDGScorer for tests). Without one, constructing requires the
    eQuilibrator stack — the same dependency gate as the reference
    (thermodynamics.py:5, pickaxe_run_template.py:33).
    The pH/I/pMg knobs parameterize the real scorer; they ride along so an
    equilibrator-backed scorer sees the same signature as the reference.
    """

    filter_name = "Thermo"

    def __init__(self, dg_max: float = 0.0, scorer=None, p_h: float = 7.0,
                 ionic_strength: float = 0.0, p_mg: float = 3.0, physiological: bool = False):
        if scorer is None:
            try:
                import equilibrator_api  # noqa: F401
            except ImportError as e:
                raise ImportError(
                    "ThermoFilter requires equilibrator_api (reference: thermodynamics.py:25-357) "
                    "or an explicit scorer=; neither available"
                ) from e
        self.dg_max = dg_max
        self.scorer = scorer
        self.p_h, self.ionic_strength, self.p_mg = p_h, ionic_strength, p_mg
        self.physiological = physiological

    def choose_reactions(self, rxns: DataFrame, compounds: DataFrame) -> DataFrame:
        scorer = self.scorer
        dg_max = self.dg_max

        @F.pandas_udf("double")
        def dg(smiles_rxn: pd.Series) -> pd.Series:
            return smiles_rxn.map(scorer)

        return rxns.select(
            F.col("_id").alias("rxn_id"),
            (dg(F.col("smiles_rxn")) < F.lit(dg_max)).alias("keep"),
        )


class FakePairFeasibilityScorer:
    """Deterministic feasibility score stand-in: md5-uniform in [0, 1) keyed
    on 'reactant>>product' — the drop-in for the reference's VAE+DNN pair
    model (feasibility.py:298-349, score = mean − 0.5·std). Any picklable
    callable (reactant_smiles, product_smiles) → float plugs in."""

    def __call__(self, reactant_smiles: str, product_smiles: str) -> float:
        import hashlib

        key = f"{reactant_smiles}>>{product_smiles}".encode()
        return int(hashlib.md5(key).hexdigest()[:8], 16) / 2**32


class LogisticPairFeasibilityScorer:
    """Trainable pure-python feasibility model — the middle path between
    FakePairFeasibilityScorer (hash noise) and the reference's VAE+DNN pair
    model (feasibility.py:298-349), which needs torch/keras, absent here.

    Features: hashing-trick character-trigram fingerprints (md5 % n_bits)
    of reactant and product, paired as [fp(product) − fp(reactant), bias] —
    the public difference-fingerprint idea. fit() runs full-batch logistic
    gradient descent in numpy. The fitted object is a picklable
    (reactant_smiles, product_smiles) → [0,1] callable, drop-in for
    ReactionFeasibilityFilter(scorer=...).
    """

    def __init__(self, n_bits: int = 128, lr: float = 0.5, n_iter: int = 400, l2: float = 1e-3):
        self.n_bits = n_bits
        self.lr = lr
        self.n_iter = n_iter
        self.l2 = l2
        self.w = None

    def _fp(self, smiles: str):
        import hashlib

        import numpy as np

        v = np.zeros(self.n_bits)
        s = smiles or ""
        for i in range(max(len(s) - 2, 0) + (1 if s else 0)):
            g = s[i : i + 3]
            v[int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % self.n_bits] += 1.0
        return v

    def _x(self, reactant: str, product: str):
        import numpy as np

        return np.append(self._fp(product) - self._fp(reactant), 1.0)

    def fit(self, pairs, labels) -> "LogisticPairFeasibilityScorer":
        """pairs: [(reactant_smiles, product_smiles)], labels: 0/1."""
        import numpy as np

        x = np.array([self._x(r, p) for r, p in pairs])
        y = np.array(labels, dtype=float)
        w = np.zeros(x.shape[1])
        for _ in range(self.n_iter):
            z = 1.0 / (1.0 + np.exp(-(x @ w)))
            grad = x.T @ (z - y) / len(y) + self.l2 * w
            w -= self.lr * grad
        self.w = w
        return self

    def __call__(self, reactant_smiles: str, product_smiles: str) -> float:
        if self.w is None:
            raise ValueError("LogisticPairFeasibilityScorer is unfitted: call fit() first")
        import numpy as np

        return float(1.0 / (1.0 + np.exp(-np.dot(self._x(reactant_smiles, product_smiles), self.w))))


class ReactionFeasibilityFilter(ReactionScopedFilter):
    """F8 (filters/feasibility.py:102-502): per reactant×product pair
    feasibility; a reaction survives iff ANY pair scores >= threshold
    (feasibility.py:258-264 'feasible if any'), pairs = cartesian product of
    its C-prefixed reactant and product SMILES (:165-181). Pairs whose
    SMILES exceed 120 chars are unpredictable (:192-212); a reaction with
    no predictable pair keeps iff use_unpredicted, or if use_wildcards and
    a '*' appears in any of its compounds (:269-289).

    `scorer`: picklable (reactant_smiles, product_smiles) → score in [0,1] —
    LogisticPairFeasibilityScorer is the shipped trainable dependency-free
    choice. Without one, constructing requires torch/keras — the
    reference's gate.
    """

    filter_name = "Feasibility"
    MAX_SMILES_LEN = 120  # feasibility.py:60 padlength / :192 length gate

    def __init__(self, threshold: float = 0.32, scorer=None,
                 use_unpredicted: bool = False, use_wildcards: bool = True):
        if scorer is None:
            try:
                import torch  # noqa: F401
            except ImportError as e:
                raise ImportError(
                    "ReactionFeasibilityFilter requires torch/keras (reference: "
                    "feasibility.py:406-502) or an explicit scorer=; neither available"
                ) from e
        self.threshold = threshold
        self.scorer = scorer
        self.use_unpredicted = use_unpredicted
        self.use_wildcards = use_wildcards

    def choose_reactions(self, rxns: DataFrame, compounds: DataFrame) -> DataFrame:
        scorer = self.scorer
        thr = self.threshold
        max_len = self.MAX_SMILES_LEN

        edges = edge_table(rxns).where(F.col("c_id").startswith("C"))
        smi = compounds.select(F.col("_id").alias("c_id"), "smiles")
        sided = edges.join(smi, "c_id").select("rxn_id", "role", "smiles")
        r_side = sided.where(F.col("role") == "reactant").select(
            "rxn_id", F.col("smiles").alias("r_smiles")
        )
        p_side = sided.where(F.col("role") == "product").select(
            "rxn_id", F.col("smiles").alias("p_smiles")
        )
        pairs = r_side.join(p_side, "rxn_id").where(
            (F.length("r_smiles") <= max_len) & (F.length("p_smiles") <= max_len)
        )

        @F.pandas_udf("double")
        def feas(r: pd.Series, p: pd.Series) -> pd.Series:
            return pd.Series([scorer(a, b) for a, b in zip(r, p)])

        pair_verdict = pairs.groupBy("rxn_id").agg(
            F.max(feas(F.col("r_smiles"), F.col("p_smiles")) >= F.lit(thr)).alias("any_feasible")
        )
        # unpredicted fallback: reactions with zero predictable pairs
        has_wild = sided.groupBy("rxn_id").agg(
            F.max(F.col("smiles").contains("*")).alias("wild")
        )
        fallback = F.lit(self.use_unpredicted) | (
            F.lit(self.use_wildcards) & F.coalesce(F.col("wild"), F.lit(False))
        )
        return (
            rxns.select(F.col("_id").alias("rxn_id"))
            .join(pair_verdict, "rxn_id", "left")
            .join(has_wild, "rxn_id", "left")
            .select("rxn_id", F.coalesce(F.col("any_feasible"), fallback).alias("keep"))
        )


def np_likeness_score(compounds: DataFrame, model: dict[str, float] | None = None) -> DataFrame:
    """X8 (NP_Score/npscorer.py:30-55): natural-product-likeness — sum of
    fragment scores / atom count, log-damped outside [-4, 4]. The fragment
    model dict is broadcast; fake backend uses character bigrams as
    'fragments' so the pipeline is runnable without RDKit."""
    frag_model = model or {}

    @F.pandas_udf("double")
    def np_score(smiles: pd.Series) -> pd.Series:
        import math

        def score(s: str) -> float:
            s = s or ""
            frags = [s[i : i + 2] for i in range(len(s) - 1)]
            if not frags:
                return 0.0
            raw = sum(frag_model.get(f, 0.0) for f in frags) / max(len(s), 1)
            if raw > 4:
                raw = 4 + math.log10(raw - 3)
            elif raw < -4:
                raw = -4 - math.log10(-raw - 3)
            return raw

        return smiles.map(score)

    return compounds.withColumn("np_score", np_score(F.col("smiles")))
