"""Corpus statistics over a text column (operators/textstats.py):
collocation PMI, chi-squared keywords, the vocabulary growth curve and the
diversity indices, each checked on a hand-computed corpus."""

from __future__ import annotations

import pytest


# --- corpus statistics: collocations / χ² keywords / Heaps curve -----------
def test_phrase_pmi_finds_collocation(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import phrase_pmi

    # "new york" always together; "the" everywhere (high freq -> low score)
    rows = [("new york is big the end",)] * 10 + [("the cat sat on the mat",)] * 10
    df = spark.createDataFrame(rows, "text string")
    out = phrase_pmi(df, min_count=5, top_k=20).collect()
    scores = {(r["a"], r["b"]): r["score"] for r in out}
    # score = (10-5) * N / (10*10); N = 120 tokens -> 5*120/100 = 6.0
    assert scores[("new", "york")] == 6.0
    # pairs involving the 30-count "the" score 3x lower: 5*120/(10*30)
    assert scores[("on", "the")] == pytest.approx(5 * 120 / 300, abs=1e-6)
    assert scores[("new", "york")] > scores[("on", "the")]


def test_chi2_keywords_distinctive_terms(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import chi2_keywords

    rows = [("en", "hello world common")] * 20 + [("de", "hallo welt common")] * 20
    df = spark.createDataFrame(rows, "lang string, text string")
    out = chi2_keywords(df, "lang", top_k=2, min_df=3).collect()
    per = {(r["cls"], r["term"]) for r in out}
    assert ("en", "hello") in per and ("en", "world") in per
    assert ("de", "hallo") in per and ("de", "welt") in per
    # 'common' appears in every doc of both classes -> not enriched anywhere
    assert not any(t == "common" for _, t in per)


def test_vocab_growth_monotone_and_exact(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import vocab_growth

    # 20 docs; doc i introduces token f"w{i}" plus the shared token "x"
    rows = [(f"d{i:02d}", f"x w{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = sorted(vocab_growth(df, checkpoints=4).collect(), key=lambda r: r["checkpoint"])
    assert [r["n_docs"] for r in out] == [5, 10, 15, 20]
    assert [r["n_tokens"] for r in out] == [10, 20, 30, 40]
    # vocab: 5 new words + 'x' at cp1, then +5 per checkpoint
    assert [r["vocab"] for r in out] == [6, 11, 16, 21]


def test_diversity_indices_hand_case(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import diversity_indices

    # source A: 4 tokens all distinct -> simpson 0, TTR 1
    # source B: "x x x x" -> simpson 1 (every pair identical), eff vocab 1
    df = spark.createDataFrame(
        [("A", "a b c d"), ("B", "x x x x")], "source string, text string"
    )
    rows = {r["source"]: r for r in diversity_indices(df, "source").collect()}
    assert rows["A"]["vocab"] == 4 and rows["A"]["type_token_ratio"] == 1.0
    assert rows["A"]["simpson"] == 0.0
    assert rows["A"]["effective_vocab"] is None  # no repeated pair: unbounded
    assert rows["B"]["simpson"] == 1.0 and rows["B"]["effective_vocab"] == 1.0
