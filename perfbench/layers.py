"""Per-layer probes for the traced run: the ``sketches`` kernels on a
workload-shaped 65,536-row batch, the ``functions`` text extractor on a
batch of seeded pages, a sweep over the public ``operators`` calls and a
short ``streaming`` fold."""

from __future__ import annotations

import time
from functools import partial

import numpy as np

BATCH = 65_536
REPS = 5
TEXT_DOCS = 512  # seeded pages per text-extractor probe
PROBE_FILES = 3  # micro-batches of the streaming probe


def _median_time(fn) -> float:
    """Median seconds of ``fn()``; an ``fn`` that returns a number
    reports its own timed section."""
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        own = fn()
        ts.append(own if isinstance(own, float) else time.perf_counter() - t0)
    return float(np.median(ts))


def _families(ints: np.ndarray, universe_bits: int):
    from q_digest_spark.operators.quantiles import HashedBloom, HashedCMS, HashedHLL
    from q_digest_spark.sketches import KLL, QDigest, TDigest
    from q_digest_spark.sketches.hashing import splitmix64

    hashes = splitmix64(ints.view(np.uint64)).view(np.int64)
    doubles = ints.astype(np.float64)
    return {
        "qdigest": (partial(QDigest, 256, universe_bits), ints),
        "kll": (partial(KLL, 200), doubles),
        "tdigest": (partial(TDigest, 200), doubles),
        "hll": (partial(HashedHLL, 14), hashes),
        "cms": (partial(HashedCMS, 5, 16384), hashes),
        "bloom": (partial(HashedBloom, 1 << 20, 7), hashes),
    }


def sketch_metrics(ints: np.ndarray, universe_bits: int) -> dict[str, float]:
    """``sketches.<family>.{update_ns_per_row, merge_us, serde_us, bytes}``
    plus ``sketches.qdigest.{nodes, compress_us}``. ``ints`` is a
    workload-shaped batch of non-negative ints below 2**universe_bits;
    the hash families get its 64-bit mix, the float families its
    values as doubles."""
    from q_digest_spark.sketches import QDigest

    ints = np.resize(np.asarray(ints, dtype=np.int64), BATCH)
    out: dict[str, float] = {}
    for fam, (factory, batch) in _families(ints, universe_bits).items():

        def build(values=batch, factory=factory):
            sk = factory()
            sk.update_batch(values)
            return sk

        out[f"sketches.{fam}.update_ns_per_row"] = _median_time(build) / len(batch) * 1e9
        half = len(batch) // 2
        buf_a, buf_b = build(batch[:half]).to_bytes(), build(batch[half:]).to_bytes()
        de = type(factory()).from_bytes

        def merge(de=de, buf_a=buf_a, buf_b=buf_b):
            x, y = de(buf_a), de(buf_b)
            t0 = time.perf_counter()
            x.merge(y)
            return time.perf_counter() - t0

        out[f"sketches.{fam}.merge_us"] = _median_time(merge) * 1e6
        out[f"sketches.{fam}.serde_us"] = _median_time(lambda: de(buf_a).to_bytes()) * 1e6
        full = build()
        out[f"sketches.{fam}.bytes"] = float(len(full.to_bytes()))
        if fam == "qdigest":
            out["sketches.qdigest.nodes"] = float(full.num_nodes)

            def compress():
                sk = QDigest(0, universe_bits)  # k=0: exact, never compresses
                sk.update_batch(batch)
                sk.k = 256
                t0 = time.perf_counter()
                sk.compress()
                return time.perf_counter() - t0

            out["sketches.qdigest.compress_us"] = _median_time(compress) * 1e6
    return out


def extract_text_ns_per_doc(seed_offset: int) -> float:
    """Driver-timed ``functions.text.extract_text_series`` over the html
    of ``TEXT_DOCS`` seeded pages."""
    import pandas as pd

    from q_digest_spark.functions.text import extract_text_series
    from q_digest_spark.sources.webpages import generate_pdf

    html = pd.Series(list(generate_pdf(np.arange(TEXT_DOCS) + seed_offset)["html"]), dtype=object)
    return _median_time(lambda: extract_text_series(html)) / TEXT_DOCS * 1e9


def operator_sweep(spark, tr, ints: np.ndarray, bits: int, cores: int, done: set) -> None:
    """Calls, once each under its span, the public operators the
    workload's own job did not call, on a DataFrame of the workload's
    ``ints`` keyed by ``ints % 8`` (and ``ints % 64`` as the rollup's
    finer key), so every operator span is measured in every traced run."""
    import pandas as pd
    from pyspark.sql import functions as F

    from q_digest_spark.operators.aggregate import grouped_estimates, grouped_quantiles, rollup_sketch_rows
    from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys
    from q_digest_spark.operators.multi import SketchSpec, multi_sketch_aggregate
    from q_digest_spark.operators.quantiles import kll_of, qdigest_of, tdigest_of
    from q_digest_spark.sketches import QDigest, qdigest_from_bytes

    ints = np.asarray(ints, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame({"k": ints % 8, "j": ints % 64, "v": ints}))
    qd = partial(QDigest, 256, bits)
    rolled = []
    calls = {
        "rollup_sketch_rows": lambda: rolled.append(
            rollup_sketch_rows(df, ["k", "j"], F.col("v"), qd, qdigest_from_bytes)),
        "grouped_estimates": lambda: grouped_estimates(
            rolled[0].where(F.col("level") == 2), ["k", "j"], qdigest_from_bytes,
            lambda sk: float(sk.percentile(0.5))).collect(),
        "multi_sketch_aggregate": lambda: multi_sketch_aggregate(
            df, {"q": SketchSpec(F.col("v"), qd, qdigest_from_bytes)}, fanout=cores),
        "grouped_quantiles": lambda: grouped_quantiles(
            df, ["k"], F.col("v"), qd, qdigest_from_bytes, [0.5]).collect(),
        "cms_topk_with_keys": lambda: cms_topk_with_keys(df, F.col("k"), k=4, fanout=cores).collect(),
        "qdigest_of": lambda: qdigest_of(df, "v", fanout=cores),
        "kll_of": lambda: kll_of(df, "v", fanout=cores),
        "tdigest_of": lambda: tdigest_of(df, "v", fanout=cores),
    }
    for name, fn in calls.items():
        if f"operators.{name}" not in done:
            tr.call(f"operators.{name}", fn)


def stream_probe(spark, path: str, ints: np.ndarray) -> list[dict]:
    """Folds ``PROBE_FILES`` parquet files of ``ints`` through StreamingSketch,
    one file per micro-batch; returns the progress reports."""
    import pandas as pd

    from q_digest_spark.sketches import QDigest, qdigest_from_bytes
    from q_digest_spark.streaming.sketch_stream import StreamingSketch

    ints = np.asarray(ints, dtype=np.int64)
    bits = max(1, int(ints.max()).bit_length())
    spark.createDataFrame(pd.DataFrame({"v": ints})).repartition(PROBE_FILES).write.parquet(path)
    stream = spark.readStream.schema("v long").option("maxFilesPerTrigger", 1).parquet(path)
    acc = StreamingSketch(partial(QDigest, 256, bits), qdigest_from_bytes)
    q = acc.attach(stream, "v")
    try:
        q.processAllAvailable()
        return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    finally:
        q.stop()
