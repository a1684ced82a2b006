"""Unicode normalization + mojibake detection (functions/normalize):
hand-verified outputs for every NORM_STEPS family, NULL semantics, the
normalize→exact-dedup collapse property, and the shuffle-free plan shape
of the normalization projection."""

from __future__ import annotations

import pyspark.sql.functions as F

from ganda_spark.functions.normalize import normalize_text
from ganda_spark.operators.dedup import exact_dup_groups


def _norm(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {
        r.doc_id: (r.text_norm, r.mojibake_hits)
        for r in normalize_text(df).collect()
    }


def test_typographic_punctuation(spark):
    out = _norm(spark, ["curly ‘quotes’ and “double” — dash … end"])
    assert out[0] == ("curly 'quotes' and \"double\" - dash ... end", 0)


def test_zero_width_and_exotic_spaces(spark):
    out = _norm(spark, ["zero​width‌joi‍n﻿er", "em thin ideo　nb x"])
    assert out[0] == ("zerowidthjoiner", 0)
    assert out[1] == ("em thin ideo nb x", 0)


def test_line_endings_and_control_bytes(spark):
    out = _norm(spark, ["a\r\nb\rc", "ctl\x00a\x07b\x7fc\ttab kept"])
    assert out[0] == ("a\nb\nc", 0)
    # controls → space, then runs collapse; \t survives only as a space
    assert out[1] == ("ctl a b c tab kept", 0)


def test_whitespace_collapse_trim_and_paragraphs(spark):
    out = _norm(spark, ["  lead   multi\t\truns  \n\n\n\n\n  para tail   "])
    assert out[0] == ("lead multi runs\n\npara tail", 0)


def test_mojibake_counted_not_repaired(spark):
    out = _norm(spark, ["caf Ã© then â€™ then � done", "clean Â½ pair"])
    txt, hits = out[0]
    assert hits == 3
    assert "Ã©" in txt  # normalization must NOT attempt repair
    assert out[1][1] == 1


def test_null_and_empty(spark):
    out = _norm(spark, [None, ""])
    assert out[0] == (None, None)  # a missing doc stays missing
    assert out[1] == ("", 0)


def test_normalize_then_exact_dedup_collapses_style_variants(spark):
    """The composition property the dedup_exact_normalized entry pins:
    ascii vs typographic renditions of the same content hash together
    after normalization (and would NOT without it)."""
    pairs = [
        (0, 'he said "stop" - really... done'),
        (1, "he said “stop” — really… done \r\n"),
        (2, "unrelated other text"),
    ]
    df = spark.createDataFrame(pairs, "doc_id long, text string")
    raw_groups = exact_dup_groups(df).where(F.col("n_docs") > 1).count()
    assert raw_groups == 0
    norm_groups = {
        r.keep_id: r.n_docs
        for r in exact_dup_groups(
            normalize_text(df), text_col="text_norm"
        ).collect()
    }
    assert norm_groups == {0: 2, 2: 1}


def test_normalize_plan_is_projection(spark):
    """Normalization must stay a shuffle-free projection over the scan."""
    df = spark.range(10).withColumn("text", F.lit("a  b’s — c"))
    plan = (
        normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final

