from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.functions.text import (
    fingerprint,
    lang_id,
    normalize_text,
    punct_ratio,
    quality_score,
    stopword_hits,
    token_count,
    token_ngrams,
)


def _vals(spark, text, *cols):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]).collect()[0]


def test_token_and_char_helpers(spark):
    r = _vals(
        spark,
        "The cat and the dog",
        token_count(F.col("text")),
        stopword_hits(F.col("text")),
        normalize_text(F.lit("  A   B  ")),
    )
    assert r["c0"] == 5
    assert r["c1"] == 3  # 'the' twice (case-folded) + 'and'
    assert r["c2"] == "a b"


def test_stopword_hits_counts_all_occurrences(spark):
    r = _vals(spark, "the the the", stopword_hits(F.col("text")))
    assert r["c0"] == 3


def test_ngrams(spark):
    r = _vals(spark, "a b c d", token_ngrams(F.col("text"), 3))
    assert r["c0"] == ["a b c", "b c d"]


def test_ngrams_short_input_empty(spark):
    r = _vals(spark, "a b", token_ngrams(F.col("text"), 3))
    assert r["c0"] == []


def test_unigram_hashes_blank_doc_empty(spark):
    """n=1 must not hash split('') == [''] into a phantom shingle — blank
    docs would otherwise pair with each other in unigram dedup paths
    (ADVICE r1)."""
    from ambient_sound_analysis_api_spark.functions.text import (
        token_ngram_hashes,
    )

    for blank in ("", "   "):
        r = _vals(spark, blank, token_ngram_hashes(F.col("text"), 1))
        assert r["c0"] == []
    r = _vals(spark, "one two", token_ngram_hashes(F.col("text"), 1))
    assert len(r["c0"]) == 2


def test_repetition_signals_detect_stuffing(spark):
    """A synthetic keyword-stuffed doc must out-score a varied doc on both
    repetition signals."""
    from ambient_sound_analysis_api_spark.functions.text import (
        array_ngrams,
        letter_tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "buy cheap pills buy cheap pills buy cheap pills buy cheap"),
            (2, "the quick brown fox jumps over one lazy dog near a river"),
        ],
        "doc_id long, text string",
    )
    toks = docs.select("doc_id", letter_tokens(F.col("text")).alias("toks"))
    tri = toks.select(
        "doc_id", F.explode(array_ngrams(F.col("toks"), 3)).alias("g")
    )
    frac = {
        r["doc_id"]: r["dup"]
        for r in tri.groupBy("doc_id")
        .agg(
            (1.0 - F.countDistinct("g") / F.count("*").cast("double")).alias("dup")
        )
        .collect()
    }
    assert frac[1] > 0.6 > frac[2] == 0.0


def test_lang_and_quality(spark):
    r = _vals(
        spark,
        "the house is big and the cat is small",
        lang_id(F.col("text")),
        quality_score(F.col("text")),
        punct_ratio(F.col("text")),
    )
    assert r["c0"] == "en"
    assert 0.0 <= r["c1"] <= 1.0
    assert r["c2"] == 0.0
    r2 = _vals(spark, "el perro y la casa de que", lang_id(F.col("text")))
    assert r2["c0"] == "es"


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",)], "text string"
    )
    fps = [r["fp"] for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_registry_contract():
    from ambient_sound_analysis_api_spark import registry

    qs = registry.queries()
    oracles = registry.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)
    # since round 7 the hash-family ops run on the portable md5 family and
    # carry exact SQL oracles like everything else in the driver window
    assert "dedup_minhash_lsh" in qs and "dedup_minhash_lsh" in oracles


def test_mean_token_length(spark):
    from ambient_sound_analysis_api_spark.functions.text import (
        letter_tokens,
        mean_token_length,
    )

    cases = {
        "ab cd ef": 2.0,
        "a bcd": 2.0,       # (1+3)/2
        "": 0.0,
    }
    for text, want in cases.items():
        r = _vals(spark, text, mean_token_length(letter_tokens(F.col("text"))))
        assert r["c0"] == pytest.approx(want), text


def test_quality_filter_rule_order_and_reasons(spark, sf_dir):
    """First-failing-rule semantics: a doc that is BOTH too short and
    repetition-heavy reports 'too_short'; keep ⟺ reject_reason is NULL."""
    from ambient_sound_analysis_api_spark.registry import q_pipeline_quality_filter

    out = q_pipeline_quality_filter(spark, sf_dir).collect()
    assert len(out) > 0
    reasons = {r["reject_reason"] for r in out}
    assert None in reasons and "too_short" in reasons  # filter really splits
    for r in out:
        assert r["keep"] == (r["reject_reason"] is None)
        if r["n_tok"] < 25:
            assert r["reject_reason"] == "too_short"
