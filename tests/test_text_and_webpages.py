"""extract_text determinism (golden SHA-256), text functions, and the
deterministic web-pages generator."""

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from q_digest_spark.functions.text import (
    content_fingerprint,
    domain_of,
    extract_text,
    extract_text_series,
    lang_id,
    quality_flags,
    token_count,
)
from q_digest_spark.sources.webpages import generate_pdf, generate_webpages


def test_extract_text_basics():
    html = pd.Series(
        [
            b"<html><head><script>var x=1;</script><style>a{}</style></head>"
            b"<body><h1>Title</h1><p>Hello &amp; world</p><!-- hidden --></body></html>",
            b"<p>line one</p><p>line two</p>",
            None,
        ],
        dtype=object,
    )
    out = extract_text_series(html)
    assert out[0] == "Title\nHello & world"
    assert out[1] == "line one\nline two"
    assert pd.isna(out[2])


# LITERAL pinned constants (not a same-code regeneration compare —
# that would detect nothing): any extractor behavior change breaks
# these. Recorded 2026-08-17 from the then-approved extractor,
# including the single-pass (non-recursive) entity decode: '&amp;lt;'
# -> '&lt;', never '<'. Changing extractor semantics requires
# re-approving these constants explicitly.
_GOLDEN_SHA_4 = "3fa87c9bb36ff68dcb9f11f47ef53cecf6f67b1672568fcaa052200bfac6a44a"
_GOLDEN_SHA_64 = "80734855b036460fb5b5c0a56b33356ddf0cfafb2635e71c4df410fb73111f38"


def test_extract_text_golden_hashes():
    """Byte-identical extracted text per url (BASELINE.md invariant):
    SHA-256 over the deterministic corpus pinned as literal constants.
    If this test ever fails, the extractor changed behavior."""
    pdf = generate_pdf(np.arange(64))
    digest4 = hashlib.sha256(
        "\x00".join(pdf["text"].tolist()[:4]).encode("utf-8")
    ).hexdigest()
    digest64 = hashlib.sha256(
        "\x00".join(pdf["text"].tolist()).encode("utf-8")
    ).hexdigest()
    assert digest4 == _GOLDEN_SHA_4
    assert digest64 == _GOLDEN_SHA_64
    # text is nonempty and boilerplate-free
    assert all("script" not in t and "nav" not in t.split("\n")[0] for t in pdf["text"][:4])
    assert all(len(t) > 50 for t in pdf["text"][:4])


def test_extract_text_entity_decode_is_single_pass():
    """Pinned semantics: entity decode is single-pass/non-recursive
    (the HTML-correct reading) — '&amp;lt;' yields '&lt;', NOT '<'.
    Guards against regressions to a sequential per-entity replace."""
    out = extract_text_series(pd.Series([b"<p>a &amp;lt; b &amp;amp; c</p>"], dtype=object))
    assert out[0] == "a &lt; b &amp; c"


def test_generator_duplicates_and_determinism():
    pdf = generate_pdf(np.arange(200))
    # id 49 reuses id 48's identity, etc.
    assert pdf.loc[49, "url"] == pdf.loc[48, "url"]
    assert pdf.loc[49, "text"] == pdf.loc[48, "text"]
    assert pdf["url"].nunique() == 200 - 4  # 4 dup rows in 200
    # order-independence: generating a scattered subset matches
    sub = generate_pdf(np.array([7, 99, 150]))
    assert sub.loc[0, "url"] == pdf.loc[7, "url"]
    assert sub.loc[2, "text"] == pdf.loc[150, "text"]


def test_generator_distributed_matches_local(spark):
    df = generate_webpages(spark, 300, n_partitions=7)
    rows = {r["url"]: r["text"] for r in df.collect()}
    pdf = generate_pdf(np.arange(300))
    assert len(rows) == pdf["url"].nunique()
    for i in [0, 13, 299]:
        assert rows[pdf.loc[i, "url"]] == pdf.loc[i, "text"]


def test_spark_side_text_functions(spark):
    df = generate_webpages(spark, 120, n_partitions=3).withColumn(
        "domain", domain_of("url")
    )
    row = df.select(
        F.min(F.length("text")).alias("minlen"),
        F.countDistinct("domain").alias("nd"),
    ).collect()[0]
    assert row["minlen"] > 0 and row["nd"] > 5
    tk = df.select(token_count("text").alias("tc")).agg(F.min("tc")).collect()[0][0]
    assert tk > 5
    fp = df.select(content_fingerprint("text").alias("fp")).collect()
    assert all(len(r["fp"]) == 32 for r in fp)
    q = df.select(quality_flags("text").alias("ok")).agg(
        F.sum(F.col("ok").cast("int"))
    ).collect()[0][0]
    assert q > 60  # most synthetic pages pass the quality gate


def test_lang_id_accuracy_on_generated_corpus(spark):
    df = generate_webpages(spark, 400, n_partitions=4)
    scored = df.where(F.col("lang").isin(list("en de it fr es pt".split()))).select(
        "lang", lang_id(F.col("text")).alias("pred")
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lang") == F.col("pred")).cast("int")).alias("hit"),
    ).collect()[0]
    assert agg["n"] > 100
    assert agg["hit"] / agg["n"] >= 0.95  # stopword-injected corpus is easy


def test_lang_id_punctuation_adjacent_stopwords():
    """Stopwords glued to punctuation — 'the,' '(the' '«le»' — must
    still score: leading/trailing _PUNCT_CHARS are stripped before
    membership (the real-corpus robustness the synthetic fixture
    never exercises)."""
    import pandas as pd

    from q_digest_spark.functions.text import _LANGS, _lang_scores

    texts = pd.Series(
        [
            "The, cat (the) dog 'the' end.",  # en: 3 punctuated hits
            "«le» chat; la-  pour: que!",     # fr: le la pour que = 4
            "nothe the.x -thee- x'the",       # en: only none qualify
            "el\tque,\nlos... [una]",          # es: 4 across ws kinds
        ]
    )
    s = _lang_scores(texts)
    en, fr, es = _LANGS.index("en"), _LANGS.index("fr"), _LANGS.index("es")
    assert s[0, en] == 3
    assert s[1, fr] == 4
    assert s[2, en] == 0  # interior punct / embedded words never match
    assert s[3, es] == 4


def test_lang_id_duckdb_oracle_parity_on_punctuated_text(spark):
    """The generated DuckDB oracle (trim-based) and the Python regex
    scorer must agree doc-by-doc on adversarial punctuated text, not
    just on the synthetic fixture."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import _lang_id_oracle_sql

    docs = [
        "The, quick (the) fox is... with the! end",
        "«le» chat est- dans; la maison, pour que",
        "el que, los... [una] por 'con' para",
        "der die und das-ist «nicht» mit,",
        "o de que uma- para, com;",
        "!!! ??? ,,, --- no stopwords here",
        "the",
        "'the'",
        "x-the the-x thee (the",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = dict(con.execute(_lang_id_oracle_sql()).fetchall())
    from q_digest_spark.functions.text import lang_id

    sdf = spark.createDataFrame(pdf)
    got = dict(
        sdf.select(lang_id(F.col("text")).alias("pred"))
        .groupBy("pred")
        .count()
        .collect()
    )
    assert {k: int(v) for k, v in got.items()} == {
        k: int(v) for k, v in duck.items()
    }
