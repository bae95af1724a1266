"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the spans are written to ``.perfbench_out/``. The line before it is a JSON
object with the session settings and the workload's own named timings.
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("graph_requests", "corpus_pipeline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_workload(name: str):
    from graftbench.corpus_pipeline import CorpusPipeline
    from graftbench.graph_requests import GraphRequests

    return {"graph_requests": GraphRequests, "corpus_pipeline": CorpusPipeline}[name]


def run_phases(wl, seconds: float, tracer) -> list:
    """The measured work of one run: the request phase, then the warm
    repetitions of the batch phase."""
    return wl.interactive(seconds, tracer) + wl.batch(tracer)


def end_to_end(ops, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """The metrics every workload reports, plus the tail's percentile and
    sample count, which are printed next to it."""
    from graftbench.stats import median, median_of_sums, tail

    lat = [o.seconds for o in ops if not o.batch]
    tail_s, pct, beyond = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "request_p50_s": median(lat),
        "request_tail_s": tail_s,
        "requests_per_s": len(lat) / sum(lat),
        "batch_s": median_of_sums([(o.rep, o.seconds) for o in ops if o.batch]),
    }
    return metrics, {"request_tail_percentile": pct, "request_tail_samples_beyond": beyond,
                     "requests": len(lat), "peak_rss_mb": rss_mb}


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from graftbench import harness

    if not os.path.isdir(os.path.join(ROOT, harness.PACKAGE)):
        print(f"error: package {harness.PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_environment(work)
    try:
        return run(args, spec, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str, t0: float) -> int:
    from graftbench import harness
    from graftbench.spans import Tracer

    workload_cls = load_workload(args.workload)
    session = harness.Session(f"graftbench-{args.workload}")
    try:
        spark = session.spark
        tracer = Tracer(spark) if args.trace else Tracer()
        wl = workload_cls(spark, args.seed, work)
        warmup_s = wl.setup(tracer)
        setup_s = time.perf_counter() - t0
        first_measured, overhead_before = tracer.next_id, tracer.overhead_s
        steal0, total0 = harness.cpu_times()
        t = time.perf_counter()
        ops = run_phases(wl, args.seconds, tracer)
        measured_s = time.perf_counter() - t
        steal1, total1 = harness.cpu_times()
        if args.trace:
            tracer.attach_spark_counts()
            layer = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            layer.update(wl.layer_metrics(tracer))
            measured = [s for s in tracer.spans if s.id >= first_measured]
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                layer[f"spark.{k}"] = float(sum(getattr(s, k) for s in measured))
            layer["session.get_spark_s"] = session.get_spark_s
            layer["session.warmup_s"] = warmup_s
            layer["process.peak_rss_mb"] = session.peak_rss_mb()
            layer["trace.overhead_ratio"] = (tracer.overhead_s - overhead_before) / measured_s
            metrics, units = layer, {m["name"]: m["unit"] for m in spec["per_layer"]}
            write_trace(args, tracer)
            detail = {}
        else:
            metrics, detail = end_to_end(ops, setup_s, session.peak_rss_mb())
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        detail.update(wl.detail(ops))
        settings = session.settings()
    finally:
        session.stop()
    missing = set(units) - set(metrics)
    extra = set(metrics) - set(units)
    if missing or extra:
        print(f"error: metrics do not match BENCHMARK.json: missing {sorted(missing)}, "
              f"unexpected {sorted(extra)}", file=sys.stderr)
        return 3
    failed = sum(not o.ok for o in ops)
    detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "failed_ratio": failed / len(ops), "settings": settings,
                   "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1)})
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def write_trace(args, tracer) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(tracer.to_json(), f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
