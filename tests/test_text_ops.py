"""Text operators: line- and token-level repetition removal."""

import pytest


def test_remove_repeated_units_line_default(spark):
    from onehouse_demos_spark.operators.text import remove_repeated_units

    docs = spark.createDataFrame(
        [
            ("d1", "the cat\nsat down\nthe cat\nslept"),
            ("d2", "a b\na b\na b"),
            ("d3", "unique line"),
        ],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_units, r.n_kept)
        for r in remove_repeated_units(docs).collect()
    }
    # duplicate LINES removed, first occurrence kept, words untouched
    assert got["d1"] == ("the cat\nsat down\nslept", 4, 3)
    assert got["d2"] == ("a b", 3, 1)
    assert got["d3"] == ("unique line", 1, 1)
    # the token unit stays available, opt-in
    tok = {
        r.doc_id: r.text
        for r in remove_repeated_units(docs, unit="token").collect()
    }
    # split on ' ' only: tokens are ["a","b\na","b\na","b"] → dedup
    assert tok["d2"] == "a b\na b"
    with pytest.raises(ValueError, match="unknown repetition unit"):
        remove_repeated_units(docs, unit="sentence")
