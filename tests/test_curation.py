"""Curation quality rules (queries/curation.py): pin the signal
semantics on hand-built documents — including the short/degenerate
texts the fixture corpus never produces (the ADVICE r01 failure mode)
— and the boilerplate df-threshold boundary."""

from __future__ import annotations

import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest

from dynamic_etl_pipeline_spark.queries.curation import (
    _DUP3_MAX,
    _MAX_MWL,
    _MAX_WORDS,
    _MIN_MWL,
    _MIN_WORDS,
    _TOP2_MAX,
    boilerplate_ngrams,
    gopher_signals,
)


def _signals(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    return {r["doc_id"]: r.asDict() for r in gopher_signals(df).collect()}


def test_gopher_repetition_signals(spark):
    rows = _signals(spark, [
        "a a a a a a a a a a",                        # pure repetition
        "the quick brown fox jumps over the lazy dog today now",
    ])
    rep = rows[0]
    # "a a" occurs 9 times among 10 tokens -> overlapping-token frac 1.8
    assert rep["n_words"] == 10
    assert rep["top2gram_frac"] == pytest.approx(1.8)
    # 8 3-gram positions, 1 distinct -> 7/8 duplicated
    assert rep["dup3gram_frac"] == pytest.approx(0.875)
    assert rep["keep"] is False
    clean = rows[1]
    # 11 words, every 2-gram distinct -> max multiplicity 1 -> 2/11
    assert clean["top2gram_frac"] == pytest.approx(2 / 11, abs=1e-6)
    assert clean["dup3gram_frac"] == 0.0
    assert clean["keep"] is True


def test_gopher_short_and_empty_docs_no_crash(spark):
    rows = _signals(spark, ["", "one", "two words", "a b c"])
    # empty string splits to [''] -> 1 "word" of length 0
    assert rows[0]["n_words"] == 1 and rows[0]["mean_word_len"] == 0.0
    assert rows[1]["top2gram_frac"] == 0.0 and rows[1]["dup3gram_frac"] == 0.0
    assert rows[2]["top2gram_frac"] == pytest.approx(1.0)  # one 2-gram, 2/2
    assert rows[3]["dup3gram_frac"] == 0.0
    for r in rows.values():
        assert r["keep"] is False  # all below the 10-word floor


def test_gopher_keep_gate(spark):
    good = " ".join(f"w{i}" for i in range(30))  # 30 distinct 2-char+ words
    rows = _signals(spark, [good])
    assert rows[0]["keep"] is True


def test_boilerplate_threshold_boundary(spark):
    # shared 5-gram in exactly `df_threshold` docs -> flagged; a 5-gram
    # in threshold-1 docs -> not flagged
    shared = "alpha beta gamma delta epsilon"
    near = "one two three four five"
    docs = [(i, f"{shared} filler{i} x{i} y{i} z{i} w{i}") for i in range(3)]
    docs += [(100 + i, f"{near} pad{i} q{i} r{i} s{i} t{i}") for i in range(2)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict()
           for r in boilerplate_ngrams(df, n=5, df_threshold=3).collect()}
    for i in range(3):
        assert out[i]["n_boiler"] == 1 and out[i]["boiler_frac"] > 0
    for i in range(2):
        assert out[100 + i]["n_boiler"] == 0 and out[100 + i]["boiler_frac"] == 0.0


def test_boilerplate_short_docs_dropped_not_crashed(spark):
    df = spark.createDataFrame(
        [(0, "a b"), (1, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    out = boilerplate_ngrams(df, n=5, df_threshold=2).collect()
    assert {r["doc_id"] for r in out} == {1}  # <n tokens: no positions


def _py_round6(x: float) -> float:
    # Spark's round(): HALF_UP on the double's shortest decimal repr
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _py_gopher(text: str) -> dict:
    """Pure-Python restatement of gopher_signals for one document."""
    toks = text.split(" ")
    n = len(toks)
    g2 = [" ".join(toks[i:i + 2]) for i in range(n - 1)]
    g3 = [" ".join(toks[i:i + 3]) for i in range(n - 2)]
    mwl = _py_round6(sum(map(len, toks)) / n)
    top2 = _py_round6(2 * max(Counter(g2).values()) / n) if g2 else 0.0
    dup3 = _py_round6(1.0 - len(set(g3)) / len(g3)) if g3 else 0.0
    keep = (_MIN_WORDS <= n <= _MAX_WORDS and _MIN_MWL <= mwl <= _MAX_MWL
            and top2 < _TOP2_MAX and dup3 < _DUP3_MAX)
    return {"n_words": n, "mean_word_len": mwl, "top2gram_frac": top2,
            "dup3gram_frac": dup3, "keep": keep}


def _parity_docs() -> list[str]:
    rng = random.Random(20240917)
    vocab = [f"w{i}" for i in range(150)] + ["alpha", "beta", "gamma"]
    docs = ["a a a a a a a a a a a a", "x y x y p q p q r s t u v w",
            "k l m k l m k l m n o p", "one two", "solo"]
    for _ in range(30):  # heavy repetition: a 2-4 word vocabulary
        words = rng.sample(vocab, rng.randint(2, 4))
        docs.append(" ".join(rng.choice(words) for _ in range(rng.randint(8, 60))))
    for _ in range(15):  # tied top 2-grams: two bigrams repeated equally
        a, b = rng.sample(vocab, 2), rng.sample(vocab, 2)
        reps = rng.randint(2, 5)
        filler = rng.sample(vocab, rng.randint(5, 30))
        docs.append(" ".join(a + filler[:3] + (a + b) * reps + filler[3:] + b))
    for _ in range(20):  # mostly clean text, 10-80 words
        docs.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(10, 80))))
    for n, width in ((200, 150), (300, 150), (400, 150), (250, 12), (350, 40)):
        docs.append(" ".join(rng.choice(vocab[:width]) for _ in range(n)))
    return docs


def test_gopher_signals_match_python_restatement(spark):
    docs = _parity_docs()
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    want = {i: _py_gopher(t) for i, t in enumerate(docs)}
    got = {r["doc_id"]: {k: v for k, v in r.asDict().items() if k != "doc_id"}
           for r in gopher_signals(df).collect()}
    assert got == want
    kept = {i for i, w in want.items() if w["keep"]}
    assert kept and len(kept) < len(docs)  # the gate cuts both ways here
    filtered = {r["doc_id"] for r in
                gopher_signals(df).filter("keep").select("doc_id").collect()}
    assert filtered == kept


def test_gopher_plan_is_map_only(spark):
    df = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    plan = gopher_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # The optimizer pushes `keep` below the signal projection by inlining
    # every alias: the pushed filter must still build each gram array
    # once (one sequence() each for g2 and g3), not once per reference.
    kept = gopher_signals(df).filter("keep")
    optimized = kept._jdf.queryExecution().optimizedPlan().toString()
    filters = [ln for ln in optimized.splitlines() if "Filter " in ln]
    assert len(filters) == 1
    assert filters[0].count("sequence(") == 2


def test_boilerplate_strip_removes_footer_only(spark, sf_dir):
    """Even docs lose exactly the 7 synthetic footer tokens (interior
    footer 5-grams are corpus-wide boilerplate; boundary grams contain
    unique original tokens and must survive); odd docs are untouched."""
    from dynamic_etl_pipeline_spark.queries import QUERIES

    out = QUERIES["corpus_boilerplate_strip"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    j = out.join(docs, "doc_id").collect()
    for r in j:
        if r["doc_id"] % 2 == 0:
            assert r["n_removed"] == 7
            assert r["text_clean"] == r["text"]  # original restored
        else:
            assert r["n_removed"] == 0
            assert r["text_clean"] == r["text"]


def test_new_text_queries_survive_degenerate_docs(spark, tmp_path):
    """Run the round-2 text/sampling queries end-to-end on a corpus of
    edge-case documents (empty, 1-token, 2-token, NULL text) — the
    descending-sequence / null-kernel advice class from round 1 must
    not fire anywhere."""
    import pandas as pd

    from dynamic_etl_pipeline_spark.queries import QUERIES

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["", "one", "two tokens", None,
                 "a b c d e f g h i j k l m n o p"],
        "lang": ["en", "en", "fr", "de", "en"],
        "source": ["s1", "s1", "s2", "s2", "s1"],
        "n_chars": [0, 3, 10, 0, 31],
    })
    sf = tmp_path / "edge_sf"
    sf.mkdir()
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(
        str(sf / "documents.parquet")
    )
    for name in ("corpus_dsir_weights", "corpus_weighted_sample",
                 "bpe_merge_pairs", "word_count_min_sketch",
                 "corpus_boilerplate_strip", "doc_gopher_quality"):
        rows = QUERIES[name](spark, str(sf)).collect()  # must not raise
        assert rows is not None, name
    # semantics spot-checks: doc 4 (NULL text) and doc 1 (empty) have
    # no bigram features and drop out of DSIR; the 2-token doc stays
    dsir_ids = {r["doc_id"] for r in
                QUERIES["corpus_dsir_weights"](spark, str(sf)).collect()}
    assert 3 in dsir_ids and 5 in dsir_ids
    assert 1 not in dsir_ids and 4 not in dsir_ids


def test_bigram_lm_survives_degenerate_docs(spark, tmp_path):
    """doc_bigram_lm_score on empty / 1-token / NULL-text docs: the
    slice guard must yield no bigrams (not a descending-sequence crash),
    and scoreable docs still come out."""
    import math

    import pandas as pd

    from dynamic_etl_pipeline_spark.queries import QUERIES

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["", "single", None, "a b a b a"],
        "lang": ["en"] * 4,
        "source": ["s1"] * 4,
        "n_chars": [0, 6, 0, 9],
    })
    sf = tmp_path / "lm_sf"
    sf.mkdir()
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(
        str(sf / "documents.parquet")
    )
    rows = {r["doc_id"]: r for r in
            QUERIES["doc_bigram_lm_score"](spark, str(sf)).collect()}
    # only the 5-token doc has bigrams; empty/1-token/NULL drop out
    assert set(rows) == {4}
    assert rows[4]["n_bigrams"] == 4
    assert math.isfinite(rows[4]["avg_neg_logp"])
    assert rows[4]["avg_neg_logp"] > 0
