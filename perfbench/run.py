#!/usr/bin/env python3
"""q_digest_spark benchmark: two seeded workloads on local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload pages_report --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 14       # every workload
    python3 perfbench/run.py --workload all --smoke                    # tiny inputs

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints the per-layer metrics instead, from a run whose first half is
untraced and whose second half runs in a session with an uncompressed
Spark event log and spans around every call into the package. Human-readable
lines come first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

import numpy as np

SETUPS = 3
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "rank_error_ratio": "ratio",
    "sketch_bytes": "bytes",
}
OPERATOR_CALLS = (
    "multi_sketch_aggregate", "grouped_quantiles", "cms_topk_with_keys", "qdigest_of",
    "kll_of", "tdigest_of", "rollup_sketch_rows", "grouped_estimates",
)


def _import_package(batches):
    import q_digest_spark.functions.text  # noqa: F401
    import q_digest_spark.operators.aggregate  # noqa: F401
    import q_digest_spark.operators.heavy_hitters  # noqa: F401
    import q_digest_spark.operators.multi  # noqa: F401
    import q_digest_spark.operators.quantiles  # noqa: F401

    yield from batches


def _warm_job(spark, cores: int) -> None:
    """The session's first job: starts one Python worker per core and
    imports the package there, as any first job of a session would."""
    spark.range(0, cores * 1000, 1, cores).mapInPandas(_import_package, "id long").count()


def _failed_tasks(spark) -> int:
    st = spark.sparkContext.statusTracker()
    total = 0
    for jid in st.getJobIdsForGroup(None):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else []:
            info = st.getStageInfo(sid)
            total += info.numFailedTasks if info else 0
    return total


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _quartiles(xs) -> list[float]:
    return np.percentile(xs, [25, 50, 75]).tolist()


def run_one(args) -> dict:
    from perfbench.harness import Env, RssSampler, host_sample, tree_cpu_s
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Checks

    trace = bool(args.trace)
    env = Env(os.getcwd())
    wl = WORKLOADS[args.workload](env, args.seed, args.smoke)
    checks = Checks()
    host0 = host_sample()
    setup_tr = Tracer(trace)
    try:
        setups = []
        for i in range(1 if (trace or args.smoke) else SETUPS):
            env.stop()
            t0 = time.perf_counter()
            spark = env.start()
            _warm_job(spark, env.cores)
            wl.generate(spark, setup_tr)
            setups.append(time.perf_counter() - t0)
        t_ref = time.perf_counter()
        wl.reference(spark)
        digest = wl.input_digest(spark)
        phases = {"reference_s": time.perf_counter() - t_ref}
        window = args.seconds / 2 if trace else args.seconds
        t_meas, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        with RssSampler() as rss:
            m = wl.measure(spark, window, Tracer(False), checks)
        phases["measure_s"] = time.perf_counter() - t_meas
        phases["measure_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        for _ in range(_failed_tasks(spark)):
            checks.expect(False, "failed Spark task")
        out = {
            "workload": wl.name, "seed": args.seed, "cores": env.cores, "seconds": args.seconds,
            "input_digest": digest, "samples": m["iterations"],
            "setup_s_runs": setups, "phases": phases,
        }
        if not trace:
            lat = [x * 1e3 for x in m["latency_s"]]
            metrics = {
                "setup_s": np.median(setups),
                "rows_per_s": np.median(m["rows_per_s"]),
                "rank_error_ratio": checks.rank_error_ratio,
                "sketch_bytes": wl.sketch_bytes,
            }
            metrics = {k: _metric(v, E2E_UNITS[k]) for k, v in metrics.items()}
            out["latency_ms_quartiles"] = _quartiles(lat)
            out["rows_per_s_quartiles"] = _quartiles(m["rows_per_s"])
            out["peak_rss_mb"] = rss.peak / 2**20
        else:
            metrics, out["stages_by_span"] = traced_half(env, wl, m, setup_tr, checks, args)
        out["rank_error_ratio_max"] = checks.rank_error_ratio_max
    finally:
        host1 = host_sample()
        env.shutdown()
    out["provenance"] = {
        "steal_ticks": host1["steal_ticks"] - host0["steal_ticks"],
        "loadavg_1m": [host0["loadavg_1m"], host1["loadavg_1m"]],
    }
    out["error_rate"] = checks.failed / max(checks.attempted, 1)
    out["violations"] = checks.notes
    out["result"] = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }
    return out


def traced_half(env, wl, untraced, setup_tr, checks, args) -> dict:
    """Second half of a traced run: a fresh session with an event log,
    spans around every call, then per-layer metrics."""
    from perfbench import layers
    from perfbench.tracing import Tracer, attribute_stages, covered, parse_event_log
    from perfbench.workloads import PAGE_ID_STRIDE

    env.stop()
    spark = env.start(event_log=True)
    _warm_job(spark, env.cores)
    wl.bind(spark)
    tr = Tracer(True)
    with tr.span("bench.window"):
        m = wl.measure(spark, args.seconds / 2, tr, checks)
    ints, bits = wl.sample_ints(spark)
    layers.operator_sweep(spark, tr, ints, bits, env.cores, {s["name"] for s in tr.spans})
    prog = layers.stream_probe(spark, env.path("stream_probe"), ints)
    env.stop()
    stages, jobs = parse_event_log(env.last_event_log())
    # the timed window: from the end of the untimed warm-up job, if any
    win = tr.spans[0]
    lo = max([s["end"] for s in tr.spans if s["name"] == "bench.warmup"], default=win["start"])
    hi = win["end"]
    stages = [s for s in stages if s["submit"] and lo <= s["submit"] <= hi]
    jobs = [j for j in jobs if lo <= j[0] <= hi]
    for s in stages:
        for _ in range(s["failed_tasks"]):
            checks.expect(False, "failed Spark task")
    it = max(m["iterations"], 1)

    def tot(key):
        return sum(s[key] for s in stages)

    def py(side, key):
        return sum(s["py"][side].get(key, 0.0) for s in stages)

    in_window = tr.self_times(lambda s: lo <= s["start"] and s["end"] <= hi)
    swept = tr.self_times(lambda s: s["start"] > hi)
    op_spans = [s for s in tr.spans if s["name"].startswith("operators.") and lo <= s["start"] and s["end"] <= hi]
    driver = sum(s["end"] - s["start"] - covered(jobs, s["start"], s["end"]) for s in op_spans)
    gen = [s for s in setup_tr.spans if s["name"].startswith("sources.")]
    out = {
        "sources.scan_bytes": (tot("input_bytes") / max(len(jobs), 1), "bytes"),
        "sources.generate_s": (sum(s["end"] - s["start"] for s in gen), "s"),
        "functions.extract_text_ns_per_doc": (
            layers.extract_text_ns_per_doc(args.seed * PAGE_ID_STRIDE), "ns"),
        "plans.jobs": (len(jobs) / it, "count"),
        "plans.stages": (len(stages) / it, "count"),
        "plans.tasks": (tot("tasks") / it, "count"),
        "plans.executor_run_s": (tot("run_s") / it, "s"),
        "plans.executor_cpu_s": (tot("cpu_s") / it, "s"),
        "plans.gc_s": (tot("gc_s") / it, "s"),
        "plans.shuffle_write_bytes": (tot("shuffle_write_bytes") / it, "bytes"),
        "plans.shuffle_read_bytes": (tot("shuffle_read_bytes") / it, "bytes"),
        "plans.spill_bytes": (tot("spill_bytes") / it, "bytes"),
        "plans.python_start_s": (sum(py(side, key) for side in ("partial", "merge")
                                     for key in ("py_start", "py_init")) / it, "s"),
        "plans.failed_tasks": (tot("failed_tasks"), "count"),
        "operators.arrow_bytes_to_python": (
            (py("partial", "py_bytes_to") + py("merge", "py_bytes_to")) / it, "bytes"),
        "operators.arrow_bytes_from_python": (
            (py("partial", "py_bytes_from") + py("merge", "py_bytes_from")) / it, "bytes"),
        "operators.partial_python_s": (py("partial", "py_run") / it, "s"),
        "operators.merge_python_s": (py("merge", "py_run") / it, "s"),
        "operators.partial_rows": (py("partial", "rows_out") / it, "count"),
        "operators.driver_fold_s": (driver / it, "s"),
    }
    # self time per timed job, summed over the job's calls (both qdigest_of
    # arms of quantile_ingest); a call the job does not make is timed once
    # in the sweep after the window
    for call in OPERATOR_CALLS:
        name = f"operators.{call}"
        xs = in_window.get(name)
        out[f"{name}_s"] = (sum(xs) / it if xs else sum(swept.get(name, [])), "s")
    for k, v in layers.sketch_metrics(np.asarray(ints), bits).items():
        unit = "ns" if k.endswith("_ns_per_row") else "us" if k.endswith("_us") else (
            "bytes" if k.endswith(".bytes") else "count")
        out[k] = (v, unit)

    def dur(key):
        xs = [p["durationMs"].get(key, 0) for p in prog]
        return float(np.mean(xs)) if xs else 0.0

    out["streaming.add_batch_ms"] = (dur("addBatch"), "ms")
    out["streaming.planning_ms"] = (dur("queryPlanning"), "ms")
    out["streaming.wal_commit_ms"] = (dur("walCommit"), "ms")
    out["streaming.rows_per_batch"] = (
        float(np.mean([p["numInputRows"] for p in prog])) if prog else 0.0, "count")
    r_untraced = float(np.median(untraced["rows_per_s"]))
    r_traced = float(np.median(m["rows_per_s"]))
    out["trace.rows_per_s_untraced"] = (r_untraced, "rows/s")
    out["trace.rows_per_s_traced"] = (r_traced, "rows/s")
    out["trace.overhead_ratio"] = (r_untraced / r_traced, "ratio")
    stage_map = {k: len(v) for k, v in attribute_stages(stages, tr).items()}
    return {k: _metric(v, u) for k, (v, u) in out.items()}, stage_map


def input_digests(seeds) -> dict[int, dict[str, str]]:
    """{seed: {workload: digest of its smoke-sized generated input}}, all
    workloads generated in one session."""
    from perfbench.harness import Env
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    env = Env(os.getcwd())
    out: dict[int, dict[str, str]] = {}
    try:
        spark = env.start()
        for seed in seeds:
            for name, cls in WORKLOADS.items():
                wl = cls(env, seed, True)
                wl.generate(spark, Tracer(False))
                out.setdefault(seed, {})[name] = wl.input_digest(spark)
    finally:
        env.shutdown()
    return out


def _print_report(out: dict) -> None:
    res = out["result"]
    print(f"# {out['workload']} seed={out['seed']} cores={out['cores']} samples={out['samples']}")
    for k, m in res["metrics"].items():
        print(f"{k:42s} {m['value']:.6g} {m['unit']}")
    print(f"{'error_rate':42s} {out['error_rate']:.6g} ratio ({res['failed']}/{res['attempted']})")
    for v in out["violations"]:
        print(f"VIOLATION {v}")
    prov = {k: v for k, v in out.items() if k not in ("result", "violations")}
    print("provenance " + json.dumps(prov))


def run_all(args) -> int:
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"workload {name} exited with {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "q_digest_spark", "__init__.py")):
        print("perfbench: q_digest_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    # import the benchmark as the package ``perfbench`` so Python workers
    # (whose path holds the repository root) can import what they unpickle
    sys.path[0] = root
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        out = run_one(args)
    except Exception:
        traceback.print_exc()
        return 1
    _print_report(out)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
