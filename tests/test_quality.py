"""Tests for the model-based quality classifier (operators/quality.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mine_database_spark.operators.quality import (
    DEFAULT_WEIGHTS,
    LogisticQualityClassifier,
    _features_py,
)

TEXTS = [
    "",
    "   ",
    "the cat sat on the mat and it is a fine day for all of us to be in",
    "ERROR 4042 ERROR 9913 ERROR 0007 ERROR 1234567890",
    "A" * 50,
    "mixed CASE with 123 numbers and the usual stopwords of a text",
    "word",
    "\tthe   of\nand  ",
    # Unicode whitespace: NBSP is a token CHARACTER under Java's ASCII \\s
    # (and under the twin's re.ASCII) — 'foo bar' is ONE 7-char token
    "foo bar and the 123",
    "  ",  # only Unicode spaces -> one "token" of them, 0 stopwords
]


def test_score_col_matches_python_twin(spark):
    """The JVM expression and the pure-python twin must produce the same
    probabilities (to float noise) on every edge case — empty docs,
    whitespace-only, all-caps, digit spam."""
    clf = LogisticQualityClassifier()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string")
    got = {r.doc_id: r.p for r in df.select("doc_id", clf.score_col(F.col("text")).alias("p")).collect()}
    for i, t in enumerate(TEXTS):
        assert got[i] == pytest.approx(clf.score_py(t), abs=1e-12), (i, t)


def test_fit_separates_and_transfers(spark):
    """fit() on a labeled clean-vs-spam sample must (a) separate the two
    classes in python and (b) transfer to the distributed scorer: the same
    fitted object scores the same documents identically via Spark."""
    clean = [
        f"the quick brown fox number {i} jumps over the lazy dog and it is a fine day in the park for all of us"
        for i in range(30)
    ]
    spam = [f"BUY {i}000 NOW!!! 555-{i:04d} CLICK 9999 WIN {i}$$$ 000 111 222" for i in range(30)]
    clf = LogisticQualityClassifier().fit(clean + spam, [1] * 30 + [0] * 30)
    assert min(clf.score_py(t) for t in clean) > max(clf.score_py(t) for t in spam)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(clean + spam)], "doc_id int, text string"
    )
    got = {r.doc_id: r.quality_prob for r in clf.transform(df).collect()}
    for i, t in enumerate(clean + spam):
        assert got[i] == pytest.approx(round(clf.score_py(t), 6), abs=1e-9)


def test_features_empty_and_ratio_bounds():
    for t in TEXTS:
        f = _features_py(t)
        assert set(f) == {n for n, _ in DEFAULT_WEIGHTS}
        for v in f.values():
            assert 0.0 <= v or f["avg_token_len"] == v  # ratios in [0,1]; avg len unbounded
    assert _features_py("")["stopword_ratio"] == 0.0
    assert _features_py("A1")["upper_ratio"] == 0.5
    assert _features_py("A1")["digit_ratio"] == 0.5


def test_fit_validation():
    with pytest.raises(ValueError):
        LogisticQualityClassifier().fit([], [])
    with pytest.raises(ValueError):
        LogisticQualityClassifier().fit(["a"], [1, 0])


def test_transform_plan_is_pure_scan(spark):
    """Scoring must stay a zero-shuffle, zero-Python scan."""
    from tests.test_plans import plan_str

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_str(LogisticQualityClassifier().transform(d))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_logprob_hand_computed(spark):
    """Tiny corpus with a hand-derived add-1 bigram LM: c(a,b)=3, c(b,a)=1,
    heads c(a.)=3, c(b.)=1, V={a,b,x}=3. P(b|a)=4/6, P(a|b)=2/4; quantized
    ln terms -405465 and -693147. Docs with <2 tokens emit no row."""
    from mine_database_spark.operators.quality import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob(docs).collect()}
    # doc1: mean(-405465, -693147, -405465) = -501359 (exact integer mean)
    assert got == {1: -0.501359, 2: -0.405465}, got


def test_bigram_logprob_matches_python_twin(spark):
    """Randomized equivalence against a straight-line python LM twin: tiny
    vocabulary (dense bigram collisions), seeded docs, identical add-1
    smoothing and x1e6 ln quantization. Pins counting, head folding,
    vocabulary size, and the per-doc integer mean in one sweep."""
    import math

    import numpy as np

    from mine_database_spark.operators.quality import bigram_logprob

    rng = np.random.default_rng(23)
    vocab = ["a", "b", "c", "d", "e"]
    rows = []
    for d in range(50):
        n = int(rng.integers(1, 12))
        rows.append((d, [vocab[int(k)] for k in rng.integers(0, len(vocab), n)]))

    c2, c1, toks = {}, {}, set()
    for _, t in rows:
        toks.update(t)
        for x, y in zip(t, t[1:]):
            c2[(x, y)] = c2.get((x, y), 0) + 1
            c1[x] = c1.get(x, 0) + 1
    V = len(toks)

    def round_half_up6(x: float) -> float:
        # Spark's round() (and DuckDB's) is half-AWAY-FROM-ZERO on the
        # decimal value; python's builtin is banker's. sum(q)/count is an
        # exact rational, so .5 ties at the 6th decimal actually occur
        # (count=2) and the twin must round the engines' way.
        s = -1.0 if x < 0 else 1.0
        return s * math.floor(abs(x) * 1e6 + 0.5) / 1e6

    want = {}
    for d, t in rows:
        qs = [
            round(math.log((c2[(x, y)] + 1) / (c1[x] + V)) * 1e6)
            for x, y in zip(t, t[1:])
        ]
        if qs:
            want[d] = round_half_up6(sum(qs) / len(qs) / 1e6)

    docs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in rows], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob(docs).collect()}
    assert got == want


def test_char_bigram_langid_twins_and_edges(spark):
    """The distributed NB fit equals the pure-python twin EXACTLY (langs,
    quantized priors, full LANGID_V-wide conditional matrix), and every scored
    row equals score_py — the integer-quantization contract that makes
    the oracle replay bit-exact. Edge rows: NULL text and sub-2-char text
    score on priors alone; NULL labels are excluded from training."""
    from mine_database_spark.operators.quality import (
        fit_char_bigram_langid,
        fit_char_bigram_langid_py,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "der schnelle braune fuchs springt!", "de"),
        (3, "le renard brun rapide saute", "fr"),
        (4, "THE LAZY DOG barks 123 times", "en"),
        (5, None, "en"),
        (6, "xq", None),  # unlabeled: scored, never trained on
        (7, "", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    m = fit_char_bigram_langid(docs)
    mp = fit_char_bigram_langid_py([(lg, t) for _, t, lg in rows])
    assert m.langs == mp.langs == ["de", "en", "fr"]
    assert m.prior_q == mp.prior_q
    assert m.mat == mp.mat
    # BOTH plan shapes equal the python twin row-for-row (the agg shape's
    # codegen aggregate and the fold shape's HOF scan are bit-identical)
    for shape in ("agg", "fold"):
        got = {
            r["doc_id"]: (r["pred_lang"], r["score_q"])
            for r in m.transform(docs, shape=shape).collect()
        }
        for _id, t, _lg in rows:
            assert got[_id] == m.score_py(t), (shape, _id, got[_id])
        # prior-only rows agree on the majority class (en: 3 of 7 labeled)
        assert got[5][0] == "en" and got[7][0] == "en"

    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    with _pytest.raises(ValueError):
        fit_char_bigram_langid(empty)
    with _pytest.raises(ValueError):
        fit_char_bigram_langid_py([])


def test_char_bigram_langid_scoring_is_pure_scan(spark):
    """shape='fold' is the zero-shuffle literal scan: no Exchange, no
    join, no Python eval — the model rides as array literals. The default
    'agg' shape trades one doc-keyed Exchange for whole-stage-codegen
    aggregation (measured faster, registry q_lang_id_model) but must stay
    join-free and Python-free too."""
    from mine_database_spark.operators.quality import fit_char_bigram_langid

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma delta", "de")],
        "doc_id long, text string, lang string",
    )
    m = fit_char_bigram_langid(docs)
    plan = (
        m.transform(docs, extra_cols=("lang",), shape="fold")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    agg_plan = (
        m.transform(docs, extra_cols=("lang",), shape="agg")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in agg_plan, agg_plan
    assert "HashAggregate" in agg_plan, agg_plan
    assert (
        "BatchEvalPython" not in agg_plan and "ArrowEvalPython" not in agg_plan
    ), agg_plan


def test_char_bigram_langid_shared_gram_table(spark):
    """r15: q_lang_id_model shares ONE exploded gram table between fit
    and scoring (the extraction is the dominant per-row cost and ran
    twice). Pin the refactor: explode_gram_table's rows equal the plain
    explode of _langid_gram_idx (with explode_outer's NULL rows standing
    in for the zero-gram docs the plain form drops), fit(exploded=)
    equals fit(), and transform(exploded=) equals transform() row-for-row
    — including the NULL-text / sub-2-char / NULL-label edge rows."""
    from mine_database_spark.operators.quality import (
        _langid_gram_idx,
        explode_gram_table,
        fit_char_bigram_langid,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "der schnelle braune fuchs springt!", "de"),
        (3, "le renard brun rapide saute", "fr"),
        (4, "THE LAZY DOG barks 123 times", "en"),
        (5, None, "en"),
        (6, "xq", None),
        (7, "", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ex = explode_gram_table(docs, "doc_id", "text", ("lang",))

    got_grams = sorted(
        (r["doc_id"], r["__g"]) for r in ex.where(F.col("__g").isNotNull()).collect()
    )
    want_grams = sorted(
        (r["doc_id"], r["g"])
        for r in docs.select(
            "doc_id", F.explode(_langid_gram_idx("text")).alias("g")
        ).collect()
    )
    assert got_grams == want_grams
    # explode_outer keeps exactly the zero-gram docs (NULL text, <2-char
    # text) as single NULL rows; doc 6 ("xq") has one gram and is absent
    assert sorted(
        r["doc_id"] for r in ex.where(F.col("__g").isNull()).collect()
    ) == [5, 7]

    m_plain = fit_char_bigram_langid(docs)
    m_shared = fit_char_bigram_langid(docs, exploded=ex)
    assert m_shared.langs == m_plain.langs
    assert m_shared.prior_q == m_plain.prior_q
    assert m_shared.mat == m_plain.mat

    got = {
        r["doc_id"]: (r["lang"], r["pred_lang"], r["score_q"])
        for r in m_shared.transform(
            docs, extra_cols=("lang",), exploded=ex
        ).collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["pred_lang"], r["score_q"])
        for r in m_plain.transform(docs, extra_cols=("lang",)).collect()
    }
    assert got == want and len(got) == len(rows)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        m_plain.transform(docs, shape="fold", exploded=ex)


def test_char_bigram_langid_separates_scripts(spark):
    """r14 advice: under the old 27-class Latin alphabet every non-Latin
    char fell into one bucket, so Russian and Greek produced IDENTICAL
    gram streams and could never be told apart. The script-aware class
    map gives each major Unicode block its own class; a model fit on
    labeled ru/el rows must now classify held-out ru/el text correctly
    (and the gram streams themselves must differ)."""
    from mine_database_spark.operators.quality import (
        _gram_idx_py,
        fit_char_bigram_langid,
    )

    ru = [
        "теперь они читают книги в библиотеке каждый день",
        "хорошая погода стоит уже неделю в городе",
        "мы пишем письма друзьям по вечерам дома",
    ]
    el = [
        "τώρα διαβάζουν βιβλία στη βιβλιοθήκη κάθε μέρα",
        "ο καιρός είναι καλός εδώ και μια εβδομάδα",
        "γράφουμε γράμματα στους φίλους τα βράδια",
    ]
    # the regression the class map fixes: distinct scripts, distinct grams
    assert _gram_idx_py(ru[0]) != _gram_idx_py(el[0])

    rows = [(i, t, "ru") for i, t in enumerate(ru)]
    rows += [(100 + i, t, "el") for i, t in enumerate(el)]
    train = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    m = fit_char_bigram_langid(train)

    held = spark.createDataFrame(
        [
            (1, "они читают письма в городе"),
            (2, "διαβάζουν γράμματα κάθε βράδυ"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in m.transform(held).collect()}
    assert got == {1: "ru", 2: "el"}, got


def test_explode_gram_table_arrow_equals_hof_form(spark):
    """r16 (VERDICT #5): the mapInArrow numpy gram extractor must emit
    EXACTLY the interpreted HOF chain's rows — same (id, extras, __g)
    multiset, same NULL-__g rows for zero-gram docs — across every edge
    the classer has: case mapping, the 512-char truncation boundary,
    every script block including the ones adjacent in code-point space
    (the lo-sorted searchsorted regression: Hangul Jamo is DECLARED after
    CJK in _LANGID_BLOCKS but sits below it), digits, supplementary-plane
    code points (emoji, U+20000, and an astral text crossing the
    truncation), and NULL/empty/1-char texts."""
    from mine_database_spark.operators.quality import (
        explode_gram_table,
        explode_gram_table_arrow,
    )

    rows = [
        (1, None, "x"),
        (2, "", "x"),
        (3, "a", "x"),
        (4, "Ab ÇŽ Ω д ع क য ไ ひ カ 中 한", "y"),     # one char per block
        (5, "a" * 600, "z"),                            # truncation boundary
        (6, "naïve Straße İstanbul ß", "y"),            # case-mapping edges
        (7, "mixed123 DIGITS 456", "w"),
        (8, "ᄀᇿ가힣㐀䶿", "k"),  # block boundaries
        (9, "ݐݿऀॿ", "m"),
        (10, "the quick brown fox jumps over the lazy dog", "en"),
        (11, "😀👍🏽 ok", "e"),  # supplementary plane
        (12, "𠀀", "c"),  # U+20000, CJK Ext B
        (13, "x😀𠀀" * 200, "a"),  # astral across 512
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = sorted(
        map(tuple, explode_gram_table(docs, "doc_id", "text", ("lang",)).collect())
    )
    b = sorted(
        map(
            tuple,
            explode_gram_table_arrow(docs, "doc_id", "text", ("lang",)).collect(),
        )
    )
    assert a == b and len(a) > 600
