#!/usr/bin/env python
"""The complete production run, launched via spark-submit --py-files
(BASELINE.json north_star: "A complete run is launched via
spark-submit --py-files at N and 4N executors").

    python scripts/package_pyfiles.py
    spark-submit --master local[8] \
        --py-files dist/q_digest_spark.zip \
        scripts/submit_pipeline.py \
        --pages /path/to/pages_parquet \
        --out /path/to/run_out \
        [--state-dir /path/to/state --job-id myjob]   # resumable
        [--generate 200000]                           # synthesize pages

On a real cluster the same command with --master yarn/k8s and N or 4N
executors runs unchanged: the job never collects row data to the
driver — only merged sketch states (KBs).

Pipeline (the north_star workload):
  pages(url, warc_ts, html, text, lang)
    -> Q-Digest  p50/p95/p99 of length(text)   [checkpointed+resumable
                                                when --state-dir given]
    -> per-lang  Q-Digest median token count
    -> HLL       distinct urls
    -> CMS+topk  heavy-hitter domains (per-partition candidates,
                 no exact global group-by)
    -> Bloom     url membership filter written for downstream joins

Outputs under --out: sketches/ (name, bytes), metrics/ (one row per
stage: rows, seconds, docs/sec), heavy_domains/ (top-k table), and one
JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from functools import partial

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--state-dir", default=None, help="checkpoint state dir (enables resume)")
    ap.add_argument("--job-id", default=None, help="job id for the state table")
    ap.add_argument("--generate", type=int, default=0,
                    help="rows: synthesize the pages table first if missing")
    ap.add_argument("--format", default="parquet", choices=["parquet", "warc", "jsonl"],
                    help="pages input format (warc/jsonl go through sources/warc.py)")
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--dedup", action="store_true",
                    help="run the exact-dedup stage (survivor urls written to "
                         "<out>/dedup_survivors; off by default so scaling "
                         "measurements stay comparable across rounds)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("q_digest_spark-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cores = spark.sparkContext.defaultParallelism

    from q_digest_spark.functions.text import domain_of, token_count
    from q_digest_spark.operators.aggregate import grouped_quantiles
    from q_digest_spark.operators.checkpoint import checkpointed_sketch_aggregate
    from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys
    from q_digest_spark.operators.multi import SketchSpec, multi_sketch_aggregate
    from q_digest_spark.operators.quantiles import HashedBloom, HashedHLL
    from q_digest_spark.sketches import QDigest, from_bytes
    from q_digest_spark.sources.webpages import generate_webpages

    if args.generate and not os.path.exists(args.pages):
        generate_webpages(spark, args.generate, n_partitions=4 * cores).write.parquet(
            args.pages
        )

    if args.format == "warc":
        from q_digest_spark.sources.warc import read_pages_warc

        pages = read_pages_warc(spark, args.pages)
    elif args.format == "jsonl":
        from q_digest_spark.sources.warc import read_pages_jsonl

        pages = read_pages_jsonl(spark, args.pages)
    else:
        pages = spark.read.parquet(args.pages)
    # warmup (excluded from stage timings): touch the
    # input footer and spin up the Python worker pool once, so stage 1
    # is not charged JVM scan init + worker startup
    pages.select(F.lit(1)).limit(1).count()
    spark.range(0, cores * 4, 1, cores).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()
    metrics: list[dict] = []
    report: dict = {"pages": args.pages, "cores": cores}

    def stage(name, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        metrics.append({"stage": name, "sec": round(dt, 3), "ts": time.time()})
        return out

    # 1. text-length quantiles — resumable when a state dir is given
    if args.state_dir:
        qd, ck_metrics = stage(
            "qdigest_text_len",
            lambda: checkpointed_sketch_aggregate(
                spark,
                pages,
                F.length("text").cast("long"),
                partial(QDigest, 256, 20),
                args.state_dir,
                job_id=args.job_id,
            ),
        )
        report["checkpoint"] = ck_metrics
        n_docs = ck_metrics["rows_aggregated"]
    else:
        out = stage(
            "fused_singlepass",
            lambda: multi_sketch_aggregate(
                pages,
                {
                    "len_q": SketchSpec(F.length("text").cast("long"), partial(QDigest, 256, 20)),
                    "urls": SketchSpec(F.xxhash64("url"), partial(HashedHLL, 14)),
                    "url_bloom": SketchSpec(F.xxhash64("url"), partial(HashedBloom, 1 << 22, 7)),
                },
                fanout=cores,
            ),
        )
        qd = out["len_q"]
        n_docs = qd.n
    report["len_quantiles"] = dict(
        zip(["p50", "p95", "p99"], [int(v) for v in qd.quantiles([0.5, 0.95, 0.99])])
    )
    report["n_docs"] = int(n_docs)

    # 2. distinct urls + url bloom (already fused above unless resuming)
    if args.state_dir:
        out = stage(
            "fused_url_sketches",
            lambda: multi_sketch_aggregate(
                pages,
                {
                    "urls": SketchSpec(F.xxhash64("url"), partial(HashedHLL, 14)),
                    "url_bloom": SketchSpec(F.xxhash64("url"), partial(HashedBloom, 1 << 22, 7)),
                },
                fanout=cores,
            ),
        )
    report["distinct_urls"] = int(round(out["urls"].estimate()))

    # 3. per-lang token-count medians (grouped, map-side partials)
    per_lang = stage(
        "per_lang_token_p50",
        lambda: grouped_quantiles(
            pages,
            ["lang"],
            token_count("text"),
            partial(QDigest, 256, 14),
            from_bytes,
            [0.5],
            ["p50_tokens"],
        ).collect(),
    )
    report["per_lang_token_p50"] = {r["lang"]: int(r["p50_tokens"]) for r in per_lang}

    # 4. heavy-hitter domains, sketch-side top-k
    # collect once (tiny top-k) — each further action on the lazy plan
    # would re-scan the whole pages table for the distinct-keys join
    top_rows = stage(
        "heavy_domains",
        lambda: cms_topk_with_keys(pages, domain_of("url"), k=args.topk).collect(),
    )
    spark.createDataFrame(
        [(r["key"], int(r["est_cnt"])) for r in top_rows], "key string, est_cnt long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "heavy_domains"))
    report["heavy_domains"] = {r["key"]: int(r["est_cnt"]) for r in top_rows}

    # 4b. optional exact-dedup stage: min-url survivor per content
    # fingerprint; shuffles only (md5, url) pairs, survivors written
    # for the downstream training pipeline
    if args.dedup:
        from q_digest_spark.operators.dedup import exact_dedup

        surv_path = os.path.join(args.out, "dedup_survivors")

        def run_dedup():
            # distinct: a re-crawled url carries its url as its own
            # min-id winner, so the semi-join keeps every copy of the
            # winning url — the survivor LIST is the distinct urls
            exact_dedup(pages, "text", "url").select("url").distinct().write.mode(
                "overwrite"
            ).parquet(surv_path)
            return spark.read.parquet(surv_path).count()

        report["dedup_survivors"] = int(stage("exact_dedup", run_dedup))

    # 5. persist sketch states + metrics
    sketch_rows = [
        ("qdigest_text_len", bytearray(qd.to_bytes())),
        ("hll_urls", bytearray(out["urls"].to_bytes())),
        ("bloom_urls", bytearray(out["url_bloom"].to_bytes())),
    ]
    spark.createDataFrame(sketch_rows, "name string, sketch binary").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(args.out, "sketches"))
    total_sec = sum(m["sec"] for m in metrics)
    metrics.append(
        {
            "stage": "TOTAL",
            "sec": round(total_sec, 3),
            "ts": time.time(),
        }
    )
    spark.createDataFrame(
        [(m["stage"], float(m["sec"]), float(m["ts"])) for m in metrics],
        "stage string, sec double, ts double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "metrics"))
    report["docs_per_sec"] = round(n_docs / total_sec) if total_sec > 0 else None
    report["total_sec"] = round(total_sec, 3)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
