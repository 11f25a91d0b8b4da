"""The benchmark workloads. Each generates its input from the seed,
computes exact reference answers with Spark SQL outside any timing,
runs its job through the package's public API, and checks every answer.

Load shape: both workloads are closed loops with one client (the next
job starts when the previous one returns). Why each workload exists is
recorded in BENCHMARK.json and perfbench/README.md.
"""

from __future__ import annotations

import math
import time
import traceback
from functools import partial

import numpy as np
from pyspark.sql import functions as F

from q_digest_spark.functions.text import domain_of, token_count
from q_digest_spark.operators.aggregate import grouped_quantiles
from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys
from q_digest_spark.operators.multi import SketchSpec, multi_sketch_aggregate
from q_digest_spark.operators.quantiles import (
    HashedBloom,
    HashedCMS,
    HashedHLL,
    hashed_bloom_from_bytes,
    hashed_cms_from_bytes,
    hashed_hll_from_bytes,
    kll_of,
    qdigest_of,
    tdigest_of,
)
from q_digest_spark.sketches import QDigest, qdigest_from_bytes
from q_digest_spark.sources.webpages import SCHEMA as PAGES_SCHEMA
from q_digest_spark.sources.webpages import generate_pdf

# Row-id offset between seeds for the pages table: seed s draws pages
# [s * PAGE_ID_STRIDE, s * PAGE_ID_STRIDE + n).
PAGE_ID_STRIDE = 1_000_000_000
# 999 percentiles per digest: the mean rank error over them varies ~10%
# from seed to seed on uniform data, 99 percentiles ~20% more.
QUANTILE_PS = [i / 1000 for i in range(1, 1000)]
TDIGEST_RANK_BOUND = 0.015  # normalized rank error of TDigest(200) after merges
HLL_SIGMAS = 3.0
# Crawl times span 30 days of seconds from CRAWL_T0, below 2**22. Page
# text lengths take a few hundred distinct values in six clusters, so
# the length digest is exact at k=256; the crawl-time digest is the one
# that compresses (a compressed length digest's rank error moves by half
# from seed to seed with where the clusters fall).
CRAWL_T0 = 1_735_689_600  # 2025-01-01T00:00:00Z
CRAWL_BITS = 22
MIN_JOBS = 3  # timed jobs per closed-loop window, at least


def seeded_hash(seed: int, salt: int):
    """64-bit JVM hash of (row id, seed, salt)."""
    return F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))


def seeded_ints(seed: int, salt: int, bits: int):
    return F.pmod(seeded_hash(seed, salt), F.lit(1 << bits))


def seeded_unit(seed: int, salt: int):
    """Uniform double in [0, 1)."""
    return F.pmod(seeded_hash(seed, salt), F.lit(1 << 53)).cast("double") / float(1 << 53)


# --------------------------------------------------------------- checking
class Checks:
    """Counts attempted and failed operations. An operation fails on an
    exception or an answer outside its documented bound."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.rank_ratios: list[float] = []

    @property
    def rank_error_ratio(self) -> float:
        """Mean over every Q-Digest answer of rank error / (eps*n)."""
        return float(np.mean(self.rank_ratios)) if self.rank_ratios else 0.0

    @property
    def rank_error_ratio_max(self) -> float:
        return max(self.rank_ratios, default=0.0)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)

    def error(self, what: str) -> None:
        self.expect(False, f"{what}: {traceback.format_exc(limit=3)}")

    def qdigest(self, exact_sorted: np.ndarray, answers, ps, eps: float, what: str) -> None:
        """Q-Digest answers: absolute rank error <= eps * n."""
        n = len(exact_sorted)
        for a, p in zip(answers, ps):
            err = rank_error(exact_sorted, a, p)
            ratio = err / (eps * n)
            self.rank_ratios.append(ratio)
            self.expect(ratio <= 1.0, f"{what} p={p}: rank error {err} > eps*n={eps * n:.1f}")

    def normalized(self, exact_sorted: np.ndarray, answers, ps, bound: float, what: str) -> None:
        n = len(exact_sorted)
        for a, p in zip(answers, ps):
            err = rank_error(exact_sorted, a, p) / n
            self.expect(err <= bound, f"{what} p={p}: normalized rank error {err:.4f} > {bound:.4f}")


def rank_error(exact_sorted: np.ndarray, answer, p: float) -> int:
    """Distance from the target rank ceil(p*n) to the rank interval the
    answer occupies in the exact data: [lt + 1, le] for a value present
    in the data, the single rank le (values <= answer) for an absent one."""
    n = len(exact_sorted)
    r = min(max(1, math.ceil(p * n)), n)
    lt = int(np.searchsorted(exact_sorted, answer, side="left"))
    le = int(np.searchsorted(exact_sorted, answer, side="right"))
    return max(0, r - le, min(lt + 1, le) - r)


def _crawl_s():
    """Seconds since CRAWL_T0 of a page's crawl time."""
    return F.unix_timestamp("warc_ts") - F.lit(CRAWL_T0)


def _collect_np(df, col: str) -> np.ndarray:
    return df.select(col).toPandas()[col].to_numpy()


class Workload:
    """Closed-loop workload; subclasses fill in the hooks."""

    name = ""
    sizes: dict = {}
    smoke_sizes: dict = {}

    def __init__(self, env, seed: int, smoke: bool):
        self.env = env
        self.seed = seed
        self.n = dict(self.smoke_sizes if smoke else self.sizes)
        self.sketch_bytes = 0
        self.rows = 0

    # hooks ---------------------------------------------------------------
    def generate(self, spark, tr) -> None:
        """Make the input ready (timed as part of setup)."""

    def bind(self, spark) -> None:
        """Re-attach the generated input to a new session."""

    def reference(self, spark) -> None:
        """Exact answers with Spark SQL (untimed)."""

    def iterate(self, spark, tr):
        """One job through the public API; returns its answers."""
        raise NotImplementedError

    def check(self, answers, checks: Checks) -> None:
        raise NotImplementedError

    def input_digest(self, spark) -> str:
        """Order-independent digest of the generated input."""
        raise NotImplementedError

    def sample_ints(self, spark) -> tuple[np.ndarray, int]:
        """A workload-shaped batch of ints and their universe bits, for
        the sketch-kernel probes."""
        raise NotImplementedError

    # closed loop ---------------------------------------------------------
    def measure(self, spark, seconds: float, tr, checks: Checks) -> dict:
        """Run one untimed job, then jobs back to back until ``seconds``
        of job time and at least ``MIN_JOBS`` jobs have passed. Each
        timed job is one latency and one throughput sample. The untimed
        job is there because a session's first run of a plan is 40-50%
        slower than the next ones at local[4], even after the set-up's first
        job imported the package; its answers are checked too."""
        try:
            with tr.span("bench.warmup"):
                answers = self.iterate(spark, tr)
            self.check(answers, checks)
        except Exception:
            checks.error(f"{self.name} warm-up iteration")
        lat: list[float] = []
        rates: list[float] = []
        while sum(lat) < seconds or len(lat) < MIN_JOBS:
            t0 = time.perf_counter()
            answers = None
            with tr.span("bench.iteration"):
                try:
                    answers = self.iterate(spark, tr)
                except Exception:
                    checks.error(f"{self.name} iteration")
            dt = time.perf_counter() - t0
            lat.append(dt)
            rates.append(self.rows / dt)
            if answers is not None:
                self.check(answers, checks)
        return {"latency_s": lat, "rows_per_s": rates, "iterations": len(lat)}


def _digest(df) -> str:
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*df.columns) % (1 << 31)).alias("h")).collect()[0]
    return f"{row['n']}:{row['h']}"


# ----------------------------------------------------------- pages_report
class PagesReport(Workload):
    name = "pages_report"
    sizes = {"pages": 16_000}
    smoke_sizes = {"pages": 1_500}

    def generate(self, spark, tr) -> None:
        n = self.n["pages"]
        off = self.seed * PAGE_ID_STRIDE
        path = self.env.path("pages")

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield generate_pdf(pdf["id"].to_numpy())

        with tr.span("sources.generate_pdf"):
            spark.range(off, off + n, 1, 2 * self.env.cores).mapInPandas(gen, PAGES_SCHEMA).write.mode(
                "overwrite"
            ).parquet(path)
        self.bind(spark)
        self.rows = n

    def bind(self, spark) -> None:
        self.pages = spark.read.parquet(self.env.path("pages"))

    def input_digest(self, spark) -> str:
        return _digest(self.pages.select("url", "text", "lang"))

    def reference(self, spark) -> None:
        d = domain_of("url")
        cols = self.pages.select(
            F.length("text").alias("L"), "lang", token_count("text").alias("t"), _crawl_s().alias("ts"),
            F.xxhash64("url").alias("h"), d.alias("d"), F.xxhash64(d).alias("dh"),
        ).toPandas()
        self.len_sorted = np.sort(cols["L"].to_numpy())
        self.ts_sorted = np.sort(cols["ts"].to_numpy())
        self.tokens_by_lang = {k: np.sort(g["t"].to_numpy()) for k, g in cols.groupby("lang")}
        self.url_hashes = cols["h"].to_numpy()[:2048]
        self.distinct_urls = cols["h"].nunique()  # 64-bit url hashes: no collision at this size
        dom = cols.groupby("d").agg(count=("dh", "size"), h=("dh", "first")).reset_index()
        self.domains = dom.sort_values(["count", "d"], ascending=[False, True]).reset_index(drop=True)

    def iterate(self, spark, tr):
        p = self.pages
        cores = self.env.cores
        specs = {
            "len_q": SketchSpec(F.length("text").cast("long"), partial(QDigest, 256, 16), qdigest_from_bytes),
            "ts_q": SketchSpec(_crawl_s(), partial(QDigest, 256, CRAWL_BITS), qdigest_from_bytes),
            "urls": SketchSpec(F.xxhash64("url"), partial(HashedHLL, 14), hashed_hll_from_bytes),
            "seen": SketchSpec(F.xxhash64("url"), partial(HashedBloom, 1 << 20, 7), hashed_bloom_from_bytes),
            "domains": SketchSpec(
                F.xxhash64(domain_of("url")), partial(HashedCMS, 5, 16384), hashed_cms_from_bytes
            ),
        }
        out = tr.call("operators.multi_sketch_aggregate", multi_sketch_aggregate, p, specs, fanout=cores)
        per_lang = tr.call(
            "operators.grouped_quantiles",
            lambda: grouped_quantiles(
                p, ["lang"], token_count("text"), partial(QDigest, 256, 14), qdigest_from_bytes, [0.5], ["p50"]
            ).collect(),
        )
        top = tr.call(
            "operators.cms_topk_with_keys",
            lambda: cms_topk_with_keys(p, domain_of("url"), k=10, fanout=cores).collect(),
        )
        self.sketch_bytes = sum(len(sk.to_bytes()) for sk in out.values())
        return out, per_lang, top

    def check(self, answers, checks: Checks) -> None:
        out, per_lang, top = answers
        n = self.rows
        for name, exact in (("len_q", self.len_sorted), ("ts_q", self.ts_sorted)):
            sk = out[name]
            checks.expect(sk.n == n, f"{name} rows {sk.n} != {n}")
            checks.qdigest(exact, sk.quantiles(QUANTILE_PS), QUANTILE_PS, sk.error_bound(), name)
        hll = out["urls"].sketch
        sigma = hll.rel_error() * self.distinct_urls
        est = hll.estimate()
        checks.expect(
            abs(est - self.distinct_urls) <= HLL_SIGMAS * sigma,
            f"hll {est:.0f} vs exact {self.distinct_urls}",
        )
        bloom = out["seen"].sketch
        checks.expect(bool(bloom.contains_hashes(self.url_hashes.view(np.uint64)).all()), "bloom false negative")
        cms = out["domains"].sketch
        est = cms.estimate_hashes(self.domains["h"].to_numpy().view(np.uint64))
        exact = self.domains["count"].to_numpy()
        slack = cms.eps() * n
        checks.expect(bool((est >= exact).all()), "cms under-count")
        checks.expect(bool((est - exact <= slack).all()), f"cms overshoot > eps*N={slack:.1f}")
        for r in per_lang:
            ex = self.tokens_by_lang.get(r["lang"])
            checks.expect(ex is not None, f"unknown lang {r['lang']}")
            if ex is not None:
                checks.qdigest(ex, [r["p50"]], [0.5], 14 / 256, f"p50 tokens lang={r['lang']}")
        checks.expect(len(per_lang) == len(self.tokens_by_lang), "grouped_quantiles lost a group")
        # heavy hitters: the top-10 by exact count, up to ties the CMS
        # cannot separate (exact counts within eps*N of the 10th)
        counts = dict(zip(self.domains["d"], self.domains["count"]))
        kth = int(self.domains["count"].iloc[min(9, len(self.domains) - 1)])
        got = [r["key"] for r in top]
        checks.expect(len(set(got)) == min(10, len(counts)), f"top-k returned {len(set(got))} keys")
        exact_top = set(self.domains["d"].iloc[:10])
        for k in got:
            checks.expect(
                k in exact_top or counts.get(k, 0) >= kth - slack, f"top-k key {k} not a top-10 domain"
            )

    def sample_ints(self, spark):
        return _collect_np(self.pages.select(F.length("text").alias("L")).limit(65_536), "L"), 16


# -------------------------------------------------------- quantile_ingest
class QuantileIngest(Workload):
    name = "quantile_ingest"
    sizes = {"rows": 500_000}
    smoke_sizes = {"rows": 20_000}

    def generate(self, spark, tr) -> None:
        n = self.n["rows"]
        with tr.span("sources.generate_range"):
            self.bind(spark)
            self.df.agg(F.max("v20")).collect()
        self.rows = 4 * n

    def bind(self, spark) -> None:
        s = self.seed
        self.df = spark.range(0, self.n["rows"], 1, 2 * self.env.cores).select(
            seeded_ints(s, 1, 20).alias("v20"),
            seeded_ints(s, 2, 32).alias("v32"),
            (F.pow(seeded_unit(s, 3), 3.0) * 1e6).alias("x"),
        )

    def input_digest(self, spark) -> str:
        return _digest(self.df)

    def reference(self, spark) -> None:
        pdf = self.df.toPandas()
        self.exact = {c: np.sort(pdf[c].to_numpy()) for c in ("v20", "v32", "x")}

    def iterate(self, spark, tr):
        df, cores = self.df, self.env.cores
        q20 = tr.call("operators.qdigest_of", qdigest_of, df, "v20", fanout=cores)
        q32 = tr.call("operators.qdigest_of", qdigest_of, df, "v32", fanout=cores)
        kll = tr.call("operators.kll_of", kll_of, df, "x", fanout=cores)
        td = tr.call("operators.tdigest_of", tdigest_of, df, "x", fanout=cores)
        self.sketch_bytes = sum(len(sk.to_bytes()) for sk in (q20, q32, kll, td))
        return q20, q32, kll, td

    def check(self, answers, checks: Checks) -> None:
        q20, q32, kll, td = answers
        n = self.n["rows"]
        for name, sk, exact in (("v20", q20, self.exact["v20"]), ("v32", q32, self.exact["v32"])):
            checks.expect(sk.n == n, f"{name} rows {sk.n} != {n}")
            checks.qdigest(exact, sk.quantiles(QUANTILE_PS), QUANTILE_PS, sk.error_bound(), f"qdigest {name}")
        checks.expect(kll.n == n, f"kll rows {kll.n} != {n}")
        checks.normalized(self.exact["x"], kll.quantiles(QUANTILE_PS), QUANTILE_PS, kll.error_bound(), "kll")
        checks.expect(td.n == n, f"tdigest rows {td.n} != {n}")
        checks.normalized(self.exact["x"], td.quantiles(QUANTILE_PS), QUANTILE_PS, TDIGEST_RANK_BOUND, "tdigest")

    def sample_ints(self, spark):
        return _collect_np(self.df.select("v20").limit(65_536), "v20"), 20


WORKLOADS = {w.name: w for w in (PagesReport, QuantileIngest)}
