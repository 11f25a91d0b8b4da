"""corpus_line_survivors: CCNet-style cross-document line dedup —
first-occurrence-wins semantics against a pure-Python oracle."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from q_digest_spark.operators.dedup import corpus_line_survivors

DOCS = [
    (1, "alpha beta\nshared line\ngamma"),
    (2, "shared line\ndelta\n\n  shared line  "),
    (3, "delta\nepsilon\nalpha beta"),
    (4, "\n\n"),  # only empty lines -> contributes nothing
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def python_oracle():
    """First occurrence of each trimmed non-empty line in (doc_id,
    line_no) order keeps; every later occurrence drops."""
    seen = set()
    out = {}
    for doc_id, text in sorted(DOCS):
        for line_no, raw in enumerate(text.split("\n")):
            line = raw.strip()
            if not line:
                continue
            out[(doc_id, line_no)] = line not in seen
            seen.add(line)
    return out


def test_first_occurrence_wins(spark, docs_df):
    got = {
        (r["id"], r["line_no"]): r["keep"]
        for r in corpus_line_survivors(docs_df, "text", "doc_id").collect()
    }
    assert got == python_oracle()


def test_narrow_shuffle_schema(spark, docs_df):
    # the stats path must not carry line text through the shuffle
    surv = corpus_line_survivors(docs_df, "text", "doc_id")
    assert "line" not in surv.columns
    assert set(surv.columns) == {"id", "line_no", "line_hash", "n_chars", "keep"}


def test_chars_removed_accounting(spark, docs_df):
    surv = corpus_line_survivors(docs_df, "text", "doc_id")
    removed = (
        surv.where(~F.col("keep"))
        .agg(F.sum("n_chars").alias("c"))
        .collect()[0]["c"]
    )
    # dropped occurrences: 'shared line' x2 (doc 2), 'delta', 'alpha beta'
    assert removed == len("shared line") * 2 + len("delta") + len("alpha beta")
