"""Ingestion readers: WARC and JSONL -> the canonical pages table
``(url, warc_ts, html, text, lang)``.

Common Crawl ships as WARC (ISO 28500): records framed by a
``WARC/1.0`` version line, colon-separated headers, blank line,
payload. Spark's text source splits on an arbitrary record separator
(``lineSep``), so a WARC file parallelizes like any text file: one
DataFrame row per record, headers parsed vectorized in mapInPandas —
no custom InputFormat, no driver-side parsing. At 100 TB each .warc
file maps to line-split tasks exactly like the real crawl pipelines.

Only ``response``-type records with a target URI are emitted; the
payload is carried as raw bytes (the opaque-binary pattern from
operators/multimodal.py), text is re-extracted with the golden-hashed
extractor, lang defaults to the stopword lang_id unless a
``WARC-Identified-Content-Language`` header is present.

The reference repo has no I/O at all (SURVEY.md §2.3); this module is
the input_hint's "Common-Crawl-style pages" made literal.

Known simplifications (documented, not silent): payloads are assumed
UTF-8 text (HTML) because the text source decodes JVM-side — carry
non-text payloads via binary files + the multimodal path instead; a
payload containing the literal record separator would split early —
production WARC readers resync on Content-Length, which this reader
honors for truncation but not resync.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import extract_text, lang_id

RECORD_SEP = "WARC/1.0"
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
_RAW_SCHEMA = "url string, warc_ts timestamp, html binary, hdr_lang string"


def pages_to_warc(pdf: pd.DataFrame) -> bytes:
    """Serialize pages rows (url, warc_ts, html[, lang]) into WARC
    bytes — the writer side, used for round-trip tests and to emit
    crawl-shaped fixtures."""
    out = []
    for r in pdf.itertuples(index=False):
        payload = bytes(r.html)
        ts = pd.Timestamp(r.warc_ts).strftime("%Y-%m-%dT%H:%M:%SZ")
        hdrs = [
            "WARC/1.0",
            "WARC-Type: response",
            f"WARC-Target-URI: {r.url}",
            f"WARC-Date: {ts}",
            f"Content-Length: {len(payload)}",
        ]
        if hasattr(r, "lang") and r.lang:
            hdrs.append(f"WARC-Identified-Content-Language: {r.lang}")
        out.append("\r\n".join(hdrs).encode() + b"\r\n\r\n" + payload + b"\r\n\r\n")
    return b"".join(out)


def _parse_records(batches: Iterable[pd.DataFrame]):
    """Vectorized record parse: one pandas .str pass per header field
    over the whole Arrow batch (no per-record Python header loop) —
    only the payload slice (variable truncation lengths) touches rows
    individually, and that is a cheap C-level bytes slice. First
    occurrence wins for a (malformed) duplicated header."""
    for pdf in batches:
        if not len(pdf):
            continue
        s = pdf["value"].astype("string")
        parts = s.str.partition("\r\n\r\n")
        head, sep, payload = parts[0], parts[1], parts[2]
        uri = head.str.extract(r"(?im)^WARC-Target-URI:[ \t]*(.*?)[ \t\r]*$")[0]
        rtype = head.str.extract(r"(?im)^WARC-Type:[ \t]*(.*?)[ \t\r]*$")[0]
        date = head.str.extract(r"(?im)^WARC-Date:[ \t]*(.*?)[ \t\r]*$")[0]
        clen = head.str.extract(r"(?im)^Content-Length:[ \t]*([0-9]+)[ \t\r]*$")[0]
        lang = head.str.extract(
            r"(?im)^WARC-Identified-Content-Language:[ \t]*(.*?)[ \t\r]*$"
        )[0]
        keep = (
            (sep == "\r\n\r\n") & uri.notna() & (rtype.fillna("response") == "response")
        ).to_numpy(dtype=bool)
        if not keep.any():
            continue
        bodies = payload[keep].str.encode("utf-8", "surrogateescape")
        lens = pd.to_numeric(clen[keep], errors="coerce")
        bodies = [
            b if pd.isna(n) else b[: int(n)]
            for b, n in zip(bodies.to_numpy(), lens.to_numpy())
        ]
        tss = pd.to_datetime(date[keep], errors="coerce", utc=True).dt.tz_localize(None)
        yield pd.DataFrame(
            {
                "url": uri[keep].astype(object),
                "warc_ts": tss,
                "html": bodies,
                "hdr_lang": lang[keep].astype(object).where(lang[keep].notna(), None),
            }
        )


def _finish_pages(parsed: DataFrame) -> DataFrame:
    with_text = parsed.withColumn("text", extract_text("html"))
    return with_text.select(
        "url",
        "warc_ts",
        "html",
        "text",
        F.coalesce(F.col("hdr_lang"), lang_id("text")).alias("lang"),
    )


def read_pages_warc(spark: SparkSession, path: str) -> DataFrame:
    """Uncompressed WARC file(s) -> canonical pages DataFrame.
    Distributed: the text source splits records on the WARC version
    line; header parsing and payload slicing run per Arrow batch."""
    raw = spark.read.option("lineSep", RECORD_SEP).text(path)
    return _finish_pages(raw.mapInPandas(_parse_records, _RAW_SCHEMA))


def read_pages_warc_gz(spark: SparkSession, path: str) -> DataFrame:
    """Gzipped WARC (.warc.gz) — the shape real Common Crawl segments
    ship in. Gzip is not splittable, so parallelism is ACROSS files
    (one binaryFile row per file; Common Crawl's ~1 GB segment files
    give natural task granularity): each task decompresses its file
    (gzip.decompress handles the concatenated per-record members CC
    uses), splits records on the version line, and reuses the same
    vectorized header parse as the uncompressed reader."""
    raw = spark.read.format("binaryFile").load(path).select("content")

    def decode(batches: Iterable[pd.DataFrame]):
        import gzip

        for pdf in batches:
            for content in pdf["content"]:
                text = gzip.decompress(bytes(content)).decode("utf-8", "surrogateescape")
                yield pd.DataFrame({"value": text.split(RECORD_SEP)})

    chunks = raw.mapInPandas(decode, "value string")
    return _finish_pages(chunks.mapInPandas(_parse_records, _RAW_SCHEMA))


def read_pages_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL ingestion: one page object per line with url / warc_ts /
    html_b64 (+ optional lang). Corrupt lines are dropped, not fatal
    (mode=DROPMALFORMED — at crawl scale a poison line must never
    kill the job). html is carried base64 so the JSON stays text."""
    schema = "url string, warc_ts timestamp, html_b64 string, lang string"
    raw = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .json(path)
    )
    html = F.unbase64("html_b64")
    txt = extract_text(html)
    return raw.select(
        "url",
        "warc_ts",
        html.alias("html"),
        txt.alias("text"),
        F.coalesce(F.col("lang"), lang_id(txt)).alias("lang"),
    ).where(F.col("url").isNotNull())
