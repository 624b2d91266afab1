#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, against the engine's
public API on a ``local[4]`` Spark session.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 8 --trace 0

The run generates its inputs from ``--seed``, sets up (session, inputs,
warm-up), measures operations for ``--seconds`` seconds, checks the
outputs, and prints every metric by name with its unit. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run also writes its span
tree to ``.perfbench/traces/``. See README.md in this directory.

``--record-golden`` rewrites ``golden.json``, the crawl's expected table
digests, from epochs 0 and 1 of every corpus variant.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The measured environment. Python workers import the engine, so the
# repository root must be on their PYTHONPATH, not only on sys.path.
ENV = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_DRIVER_MEM": "2g",
    "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
}

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "cpu_per_op_s": "s",
    "rss_median_mb": "MB",
}
PER_LAYER = {
    "setup.gen_s": "s", "engine.init_s": "s", "trace.op_geomean_s": "s",
    "epoch.jobs": "count", "epoch.stages": "count", "epoch.tasks": "count",
    "epoch.exec_cpu_s": "s", "epoch.materialize_fetched_s": "s",
    "epoch.extract_s": "s", "epoch.commits_s": "s",
    "urltools.rows": "count", "urltools.wall_s": "s",
    "dedup.rows_in": "count", "dedup.wave_dropped": "count",
    "dedup.seen_dropped": "count", "dedup.exact_probe_ratio": "ratio",
    "dedup.wall_s": "s", "dedup.shuffle_bytes": "bytes",
    "politeness.rows": "count", "politeness.wall_s": "s",
    "politeness.task_skew": "ratio",
    "cuckoo.build_s": "s", "cuckoo.probe_s": "s", "cuckoo.exact_probe_ratio": "ratio",
    "robots.denied_rows": "count", "robots.wall_s": "s",
    "fetch.rows": "count", "fetch.ok_ratio": "ratio", "fetch.shuffle_bytes": "bytes",
    "extract.pages": "count", "extract.rows_out": "count", "extract.links_out": "count",
    "extract.wall_s": "s", "extract.cpu_s": "s", "extract.pages_per_s": "1/s",
    "catalog.commit_s": "s", "catalog.seen_commit_s": "s", "catalog.read_s": "s",
    "catalog.files_written": "count", "catalog.bytes_written": "bytes",
    "catalog.compact_s": "s", "catalog.bytes_rewritten": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.jvm_gc_s": "s",
}
_LEG_METRICS = {"wall_s": "s", "exec_cpu_s": "s", "shuffle_bytes": "bytes", "count_s": "s"}


def per_layer_units() -> dict[str, str]:
    from suite import LEGS

    units = dict(PER_LAYER)
    for leg in LEGS:
        for k, u in _LEG_METRICS.items():
            units[f"leg.{leg}.{k}"] = u
    return units


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl_deep", "curation_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-golden", action="store_true")
    return p.parse_args(argv)


# The driver JVM's flags. A run lives for about a minute, so the C2
# compiler's background compiles would cost more CPU than they return:
# compile with C1 only (its code cache, sized for that, would fill up
# under Spark's generated classes), and collect garbage on one thread in
# a heap that starts at its 2g maximum, so it is not grown through
# collections. ``-XX:-UsePerfData`` stops the JVM's /tmp/hsperfdata file.
JVM_OPTS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC -Xms2g -XX:-UsePerfData"
)


def start_spark(work_dir: str):
    """The engine's session with the benchmark's settings; every file Spark
    and the JVM write goes under ``work_dir``."""
    from web_crawler_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM ends when its standard input closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def make_workload(name: str, spark, work_dir: str, seed: int):
    if name == "crawl_deep":
        from crawl import DeepCrawl

        return DeepCrawl(spark, work_dir, seed)
    from suite import CurationSuite

    return CurationSuite(spark, work_dir, seed)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ.update(ENV)
    os.environ["TMPDIR"] = os.path.join(ROOT, ".perfbench", "tmp")
    sys.path.insert(0, ROOT)
    # fails, before any output, where the engine is not present
    import web_crawler_spark  # noqa: F401

    from bench_stats import geomean, median
    from proctree import RssSampler, tree_cpu_seconds
    from spans import Tracer

    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = start_spark(work_dir)
    try:
        if args.record_golden:
            return record_golden(spark, work_dir)
        session_s = time.perf_counter() - T_START
        wl = make_workload(args.workload, spark, work_dir, args.seed)

        # set-up: session, inputs (generated setup_repeats times; the
        # median counts), engine construction and warm-up
        gen_s = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        init_s = wl.build()
        warm_s = wl.warm_up()
        setup_s = session_s + median(gen_s) + init_s + warm_s

        tracer = Tracer(spark.sparkContext) if args.trace else None
        if tracer is not None:
            wl.instrument(tracer)
        units, pid = [], os.getpid()
        cpu0 = tree_cpu_seconds(pid)
        t_measure = time.perf_counter()
        with RssSampler(pid) as rss:
            while not wl.exhausted:
                first_span = len(tracer.spans) if tracer else 0
                u = wl.run_unit(tracer)
                u["spans"] = tracer.spans[first_span:] if tracer else []
                units.append(u)
                if len(units) >= wl.min_units and time.perf_counter() - t_measure >= args.seconds:
                    break
        cpu_s = tree_cpu_seconds(pid) - cpu0
        measured_s = time.perf_counter() - t_measure

        walls, rows = wl.summarize(units)
        ops_run = sum(len(u["op_walls"]) for u in units)
        attempted = sum(u["attempted"] for u in units)
        raised = sum(u["failed"] for u in units)
        t0 = time.perf_counter()
        failures, failed_checks = wl.check(units)
        check_s = time.perf_counter() - t0
        for f in failures:
            print(f"CHECK FAILED {f}", flush=True)
        failed = raised + failed_checks
        correct = not failures and raised == 0 and bool(walls)

        e2e = {
            "setup_s": setup_s,
            "op_geomean_s": geomean(walls) if walls else 0.0,
            "cpu_per_op_s": cpu_s / ops_run if ops_run else 0.0,
            "rss_median_mb": median(rss.samples) / 2**20,
        }
        for k, v in e2e.items():
            print(f"{k:<44} {v:>16.6f} {END_TO_END[k]}")
        if tracer is None:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        else:
            layer = trace_metrics(wl, tracer, units, walls, args)
            layer.update({"setup.gen_s": median(gen_s), "engine.init_s": init_s})
            metrics = {
                k: {"value": layer.get(k, 0), "unit": u} for k, u in per_layer_units().items()
            }
            for k, m in metrics.items():
                print(f"{k:<44} {m['value']:>16.6f} {m['unit']}")
            tracer.unwrap_all()
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "ops": len(walls),
            "measured_s": measured_s, "ops_failed_ratio": failed / max(1, attempted),
            "throughput_per_s": rows / sum(walls) if walls else 0.0,
            "setup": {"session_s": session_s, "gen_s": gen_s, "init_s": init_s, "warm_s": warm_s},
            "check_s": check_s, "op_walls": walls, "unit_walls": [u["op_walls"] for u in units],
            "rss_mb": {"peak": rss.peak_bytes / 2**20,
                       "largest_process_peak": rss.largest_process_bytes / 2**20},
            "env": ENV, "master": spark.sparkContext.master,
        }))
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def trace_metrics(wl, tracer, units, walls, args) -> dict:
    """Per-layer metrics of the traced run; the span tree with each span's
    Spark metrics goes to a JSON file beside them."""
    from bench_stats import geomean

    replays = wl.replay(tracer)
    groups = tracer.harvest()
    out = wl.layer_metrics(tracer, groups, units, replays)
    out["trace.op_geomean_s"] = geomean(walls) if walls else 0.0
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({
            "spans": [
                {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start - T_START,
                 "end": s.end - T_START, "attrs": s.attrs, "spark": groups.get(s.group)}
                for s in tracer.spans
            ],
            "metrics": out,
        }, f, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path, ROOT)}")
    return out


def record_golden(spark, work_dir: str) -> int:
    from crawl import GOLDEN, VARIANTS, DeepCrawl

    variants = {}
    for v in range(VARIANTS):
        wl = DeepCrawl(spark, work_dir, v)
        wl.generate()
        wl.build()
        variants[str(v)] = wl.record_golden()
        print(f"variant {v}: {json.dumps(variants[str(v)]['fetched'])}", flush=True)
    with open(GOLDEN, "w") as f:
        json.dump({"variants": variants}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
