"""Seeded input generators for the workloads.

Each workload draws its inputs from `rng_for(seed, stream)`; the same seed
gives the same inputs. The program under test only ever sees the generated
files (or, for the MINE, rows handed to its own writer).

* fake chemistry (pickaxe_expand): molecules are strings over a small
  alphabet and rules are 'pat>>repl' substring rewrites, the shape the fake
  chemistry backend executes. The alphabet size sets how often two
  (compound, rule, position) triples yield the same product.
* a MINE (mine_query): the same chemistry replayed in plain Python for two
  generations, as compound and reaction rows for the program's writer, its
  core-compound table with stored MS2 spectra, plus adducts and peak lists
  whose masses come from the MINE's own compounds (so searches hit).
* registry tables (registry_mix): documents / lineitem / embeddings / events
  with the sf0.1 test tables' schema and distributions, at a fixed row sample
  of the sf0.1 sizes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHABET = "abcde"
# coreactant molecules use letters outside ALPHABET, so no rule pattern can
# match inside a coreactant and the wildcard slot always binds the substrate
COREACTANTS = [
    ("ATP", "wxyzw"), ("ADP", "wxyz"), ("NADH", "xxwz"), ("NAD", "xxw"),
    ("H2O", "zy"), ("O2", "yy"),
]
ROLE_TEMPLATES = [
    (["Any"], ["Any"]),
    (["ATP", "Any"], ["Any", "ADP"]),
    (["Any", "NADH"], ["Any", "NAD"]),
    (["Any", "O2"], ["Any", "H2O"]),
]

PICKAXE_SIZES = {"seeds": 160, "rules": 24, "generations": 2, "seed_len": (6, 9)}
MINE_SIZES = {"seeds": 80, "rules": 24, "generations": 2, "seed_len": (6, 9)}


def rng_for(seed: int, stream: int):
    """The generator of one input stream of a workload (any integer seed)."""
    return np.random.default_rng([seed % 2**63, stream])


def _word(rng, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(rng.choice(list(ALPHABET), size=n))


def chemistry(rng, n_seeds: int, n_rules: int, seed_len: tuple[int, int]):
    """(rules rows, coreactant rows, seed rows) for a fake-chemistry run.
    Rule patterns are distinct bigrams; a third of the replacements grow
    the molecule by one letter, so the MW filter has heavy products to cut."""
    bigrams = [a + b for a in ALPHABET for b in ALPHABET]
    pats = rng.choice(bigrams, size=n_rules, replace=False)
    rules = []
    for i, pat in enumerate(pats):
        repl = _word(rng, 2, 3) if i % 3 == 0 else _word(rng, 2, 2)
        if repl == pat:
            repl = pat[::-1] + ALPHABET[i % len(ALPHABET)]
        reac, prod = ROLE_TEMPLATES[i % len(ROLE_TEMPLATES)]
        rules.append((f"rule{i:04d}", ";".join(reac), f"{pat}>>{repl}", ";".join(prod)))
    seeds, seen = [], set()
    while len(seeds) < n_seeds:
        w = _word(rng, *seed_len)
        if w not in seen:
            seen.add(w)
            seeds.append((f"seed{len(seeds):05d}", w))
    return rules, COREACTANTS, seeds


def write_chemistry(d: str, rules, coreactants, seeds) -> dict[str, str]:
    os.makedirs(d, exist_ok=True)
    paths = {k: os.path.join(d, f) for k, f in
             (("rules", "rules.tsv"), ("coreactants", "coreactants.tsv"), ("seeds", "seeds.csv"))}
    with open(paths["rules"], "w") as f:
        f.write("Name\tReactants\tSMARTS\tProducts\tComments\tCounts\n")
        for name, reac, smarts, prod in rules:
            f.write(f"{name}\t{reac}\t{smarts}\t{prod}\t\t1\n")
    with open(paths["coreactants"], "w") as f:
        f.write("# name\tabbrev\tsmiles\n")
        for name, smi in coreactants:
            f.write(f"{name}\t{name.lower()}\t{smi}\n")
    with open(paths["seeds"], "w") as f:
        f.write("id,smiles\n")
        for sid, smi in seeds:
            f.write(f"{sid},{smi}\n")
    return paths


# ---------------------------------------------------------------------------
# a MINE, replayed in plain Python


def mass(smiles: str) -> float:
    """Neutral mass of a fake molecule: a fixed weight per letter."""
    return round(sum(((ord(c) % 26) + 1) * 1.008 for c in smiles if c.isalpha()), 6)


def _cid(prefix: str, smiles: str) -> str:
    return prefix + hashlib.sha1(smiles.encode()).hexdigest()


def mine_network(rules, coreactants, seeds, generations: int):
    """Expand `seeds` by `rules` for `generations` (first generation wins,
    reactions merge their operator sets on identical equations). Returns
    (compound rows, reaction rows) in the engine's compound/reaction column
    order."""
    co_id = {name: _cid("X", smi) for name, smi in coreactants}
    cpds = {smi: (_cid("X", smi), name, "Coreactant", 0) for name, smi in coreactants}
    for sid, smi in seeds:
        cpds.setdefault(smi, (_cid("C", smi), sid, "Starting Compound", 0))
    rxns: dict[str, list] = {}
    emitted = 0
    frontier = [smi for _, smi in seeds]
    for g in range(1, generations + 1):
        new = []
        for s in frontier:
            for name, reac, smarts, prod in rules:
                pat, repl = smarts.split(">>")
                i = s.find(pat)
                while i >= 0:
                    p = s[:i] + repl + s[i + len(pat):]
                    emitted += 1
                    if p not in cpds:
                        cpds[p] = (_cid("C", p), None, "Predicted", g)
                        new.append(p)
                    left = [(1, cpds[s][0])] + [(1, co_id[r]) for r in reac.split(";") if r != "Any"]
                    right = [(1, cpds[p][0])] + [(1, co_id[r]) for r in prod.split(";") if r != "Any"]
                    eq = "+".join(sorted(f"{n}:{c}" for n, c in left)) + "=>" + "+".join(
                        sorted(f"{n}:{c}" for n, c in right))
                    rid = "R" + hashlib.sha256(eq.encode()).hexdigest()
                    if rid in rxns:
                        rxns[rid][3].add(name)
                    else:
                        rxns[rid] = [rid, left, right, {name}, f"{s}>>{p}"]
                    i = s.find(pat, i + 1)
        frontier = new
    compounds = [
        (cid, name or cid, smi, cid[1:15].upper(), ctype, gen_, _formula(smi), None, True, None)
        for smi, (cid, name, ctype, gen_) in cpds.items()
    ]
    reactions = [(rid, left, right, sorted(ops), srxn) for rid, left, right, ops, srxn in rxns.values()]
    n_new = sum(1 for _, _, ctype, _ in cpds.values() if ctype == "Predicted")
    return compounds, reactions, (1.0 - n_new / emitted if emitted else 0.0)


def _formula(smiles: str) -> str:
    counts: dict[str, int] = {}
    for c in smiles.upper():
        counts[c] = counts.get(c, 0) + 1
    return "".join(f"{el}{n if n > 1 else ''}" for el, n in sorted(counts.items()))


# ---------------------------------------------------------------------------
# metabolomics

ADDUCTS = [("[M+H]+", 1.0, 1.007276), ("[M+Na]+", 1.0, 22.989218),
           ("[M+K]+", 1.0, 38.963158), ("[2M+H]+", 2.0, 1.007276)]
MASS_TOL = 0.002


def peak_sets(rng, masses: np.ndarray, n_sets: int, n_peaks: int) -> list[list[tuple[str, float]]]:
    """n_sets peak lists of n_peaks (name, mz). Three peaks in four are a
    MINE compound's mass ionised by a random adduct (they hit); the rest
    are drawn uniformly over the mass range (most miss)."""
    lo, hi = float(masses.min()), float(masses.max())
    out = []
    for s in range(n_sets):
        peaks = []
        for p in range(n_peaks):
            if p % 4 != 3:
                _, mult, ion = ADDUCTS[int(rng.integers(len(ADDUCTS)))]
                mz = float(rng.choice(masses)) * mult + ion
            else:
                mz = float(rng.uniform(lo, hi))
            peaks.append((f"s{s:03d}p{p:02d}", round(mz, 6)))
        out.append(peaks)
    return out


def spectrum(rng, n: int = 8) -> list[tuple[float, float]]:
    mz = np.sort(rng.uniform(40.0, 400.0, size=n)).round(3)
    return [(float(m), float(i)) for m, i in zip(mz, rng.uniform(0.05, 1.0, size=n).round(4))]


_PEAKS = pa.list_(pa.struct([("mz", pa.float64()), ("intensity", pa.float64())]))
CORE_SCHEMA = pa.schema([
    ("_id", pa.string()), ("smiles", pa.string()), ("inchi_key", pa.string()),
    ("mass", pa.float64()), ("charge", pa.int32()), ("formula", pa.string()),
    # attach_spectra's layout: {ion mode: {collision energy: peaks}}
    ("spectra", pa.map_(pa.string(), pa.map_(pa.string(), _PEAKS))),
])


def write_core(path: str, core, masses, rng) -> None:
    """Core-compound table of a MINE: one row per non-coreactant compound,
    with seeded 20V and 40V positive-mode MS2 spectra."""
    spectra = [[("Positive", [(e, [{"mz": m, "intensity": i} for m, i in spectrum(rng)])
                              for e in ("20V", "40V")])] for _ in core]
    pq.write_table(pa.table({
        "_id": [c[0] for c in core], "smiles": [c[2] for c in core], "inchi_key": [c[3] for c in core],
        "mass": [float(m) for m in masses], "charge": [0] * len(core), "formula": [c[6] for c in core],
        "spectra": spectra,
    }, schema=CORE_SCHEMA), path)


# ---------------------------------------------------------------------------
# registry tables (schemas and distributions of the sf0.1 test tables)

SF01_ROWS = {"documents": 5000, "lineitem": 600000, "embeddings": 2000, "events": 100000}
_WORDS = ("batch part spark line column order small sort fast value scan a hash slow group "
          "agg filter query big key window row table stream merge data vector join node").split()


def _documents(rng, n: int) -> pa.Table:
    doc_id = np.arange(n, dtype=np.int64)
    texts, originals = [], []
    for i in range(n):
        if i >= 20 and i % 25 == 0:
            # near copy of an earlier original with one word changed: the
            # dedup queries' signal. Every seed gets the same number of
            # copies, each of a document long enough (60+ words) that the
            # LSH bands find nearly every pair, so the dedup work does not
            # swing from seed to seed.
            long_ = [k for k in originals if len(texts[k].split()) >= 60] or originals
            src = texts[int(rng.choice(long_))].split()
            j = int(rng.integers(0, len(src)))
            src[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(src))
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(_WORDS, size=int(rng.integers(8, 90)))))
    langs = rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], size=n)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _lineitem(rng, n: int, n_orders: int, n_parts: int) -> pa.Table:
    orderkey = np.sort(rng.integers(0, n_orders, size=n)).astype(np.int64)
    linenumber = np.zeros(n, dtype=np.int32)
    if n:
        starts = np.r_[True, orderkey[1:] != orderkey[:-1]]
        idx = np.arange(n)
        linenumber = (idx - np.maximum.accumulate(np.where(starts, idx, 0)) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 3650, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_parts, size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, n_parts // 20), size=n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(900, 2100, size=n)).round(2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n),
        "l_linestatus": rng.choice(["F", "O"], size=n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    v = centers[labels] * 0.5 + rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, size=n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "cart", "purchase", "error"], size=n),
        "value": rng.uniform(0, 200, size=n).round(2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def write_registry_tables(d: str, rng, fraction: float) -> dict[str, int]:
    """The four tables the registry mix reads, at `fraction` of the sf0.1
    row counts (key ranges scale with it, so joins keep their fan-out)."""
    os.makedirs(d, exist_ok=True)
    n = {t: max(1, int(round(r * fraction))) for t, r in SF01_ROWS.items()}
    n["embeddings"] = max(n["embeddings"], 400)  # IVF-PQ needs rows per list
    tables = {
        "documents": _documents(rng, n["documents"]),
        "lineitem": _lineitem(rng, n["lineitem"], int(150000 * fraction), int(20000 * fraction)),
        "embeddings": _embeddings(rng, n["embeddings"]),
        "events": _events(rng, n["events"], 1500),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
