"""Pipeline benchmark: the C-MAPSS ETL -> train -> score path with the
dashboard reads over its tables, and the LLM-data path (corpus curation
and media dedup), timed end to end and per layer.

Run from the repository root:

    python3 pipebench/run.py --workload cmapss_rul_fleet --seed 1 --seconds 10 --trace 0

A run starts one Spark session with settings fitted to the host,
generates the seeded inputs (untimed), then makes passes in a closed
loop (one client, one pass at a time) until ``--seconds`` have been
spent measuring. There is no warm-up pass: each CLI invocation of these
paths is a fresh JVM, so the cold pass is what a user waits for. Every
pass's outputs are checked. The metric table goes to standard output;
its last line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones.
With ``--trace 1`` every pass is traced and the metrics are
``<span>.<counter>`` for every span of every workload (0 for a span the
workload does not call); the spans are also written, as one JSON file,
to ``.pipebench_out/``. Scratch files live under ``.pipebench_work/``
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "turbine_maintenance_etl_spark"

END_TO_END_UNITS = {"setup_s": "s", "items_per_cpu_s": "items/cpu_s", "peak_rss_mb": "MB"}
LAYER_UNITS = {"jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB"}


def host_settings(work: str) -> tuple[dict[str, str], int]:
    """Session settings fitted to this host, passed through the
    environment variables ``get_spark`` reads: every core the process
    may use, a driver heap of a sixteenth of MemTotal (1 to 4 GB), and
    scratch space under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 16))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
    }, mem_kb


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM:")) / 1024


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[str, float]:
    """The highest of p99/p95/p90/p50 with at least ten samples beyond
    it, or the maximum when there are too few samples for any."""
    for q in (0.99, 0.95, 0.90, 0.50):
        if len(values) * (1 - q) >= 10:
            return f"p{round(q * 100)}", percentile(values, q)
    return "max", max(values)


class Session:
    """The Spark session and the JVM behind it, owned by the run."""

    def __init__(self, work: str):
        from turbine_maintenance_etl_spark import get_spark

        tmp = os.path.join(work, "tmp")
        # the whole heap is committed and touched at start, so the peak
        # resident size does not depend on when the collector ran
        java_opts = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        )
        self.spark = get_spark(
            app_name="pipebench",
            extra_conf={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident memory of this process and of the driver JVM."""
        return {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(self.jvm_pid)}

    def close(self) -> None:
        """Stop Spark, then end the gateway JVM and wait for it."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_pass(workload, tracer):
    """One pass; a pass that raises is returned as its exception."""
    try:
        return workload.run(tracer)
    except Exception as e:  # the run goes on; the pass counts as failed
        traceback.print_exc(file=sys.stderr)
        return e


def measure(workload, tracer, seconds: float) -> list:
    """Closed loop: start another pass while fewer than ``seconds`` have
    been spent measuring."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        tracer.begin_run(f"pass-{len(passes)}")
        passes.append(run_pass(workload, tracer))
    return passes


def summarize(passes: list) -> dict:
    done = [p for p in passes if not isinstance(p, Exception)]
    ops = [op for p in done for op in p.ops]
    raised = len(passes) - len(done)
    lat_ms = [op.latency_s * 1e3 for op in ops]
    tiles = [op.latency_s * 1e3 for op in ops if op.name.startswith("metrics.dashboard.")]
    return {
        "passes": len(done),
        "raised": raised,
        "attempted": len(ops) + raised,  # a pass that raised is one failed op
        "failed": sum(1 for op in ops if op.problems) + raised,
        "problems": sorted(
            {f"{op.name}: {p}" for op in ops for p in op.problems}
            | {f"pass raised {type(p).__name__}: {p}" for p in passes if isinstance(p, Exception)}
        )[:10],
        "items": done[0].items if done else 0,
        "items_per_s": statistics.median(p.items / p.wall_s for p in done) if done else 0.0,
        "items_per_cpu_s": statistics.median(p.items / p.cpu_s for p in done) if done else 0.0,
        "pass_s": [p.wall_s for p in done],
        "glue_s": statistics.median(p.wall_s - sum(o.latency_s for o in p.ops) for p in done)
        if done else 0.0,
        "calls": len(lat_ms),
        "call_p50_ms": statistics.median(lat_ms) if lat_ms else 0.0,
        "call_p95_ms": percentile(lat_ms, 0.95) if lat_ms else 0.0,
        "tiles": len(tiles),
        "tile_p50_ms": statistics.median(tiles) if tiles else None,
        "tile_tail_ms": tail(tiles) if tiles else None,
    }


def layer_metrics(spans: list[dict], all_spans, counters) -> dict[str, float]:
    """Per span name and counter: the median over traced passes of the
    pass's sum (a tile queried several times in a render is summed)."""
    by_pass: dict[str, dict] = {}
    for s in spans:
        acc = by_pass.setdefault(s["run_id"], {}).setdefault(
            s["name"], dict.fromkeys(counters, 0.0)
        )
        for c in counters:
            acc[c] += s[c]
    return {
        f"{name}.{c}": statistics.median(vals) if vals else 0.0
        for name in all_spans
        for c in counters
        for vals in [[p[name][c] for p in by_pass.values() if name in p]]
    }


def print_table(args, s: dict, e2e: dict, report: dict, rmse: dict) -> None:
    n_pass = f"{s['passes']} passes"
    rows = [
        ("setup_s", e2e["setup_s"], "s", "1 session start, CPU time"),
        ("items_per_cpu_s", e2e["items_per_cpu_s"], "items/cpu_s", f"{n_pass} x {s['items']} items"),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB", "1 process"),
        ("setup_wall_s", e2e["setup_wall_s"], "s", "1 session start, wall time"),
        ("items_per_s", s["items_per_s"], "items/s", f"{n_pass}, wall time"),
        ("call_p50_ms", s["call_p50_ms"], "ms", f"{s['calls']} calls"),
        ("call_p95_ms", s["call_p95_ms"], "ms", f"{s['calls']} calls"),
        ("ops_failed", s["failed"] / max(1, s["attempted"]), "fraction", f"{s['attempted']} ops"),
        ("glue_s", s["glue_s"], "s", f"{n_pass}, pass wall minus span walls"),
    ]
    if s["tiles"]:
        label, value = s["tile_tail_ms"]
        rows += [
            ("query_p50_ms", s["tile_p50_ms"], "ms", f"{s['tiles']} tile queries"),
            (f"query_{label}_ms", value, "ms", f"{s['tiles']} tile queries"),
        ]
    rows += [(f"rmse_{m}", v, "cycles", "last pass") for m, v in sorted(rmse.items())]
    print(
        f"pipebench {args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} nproc={report['host']['nproc']} "
        f"mem_total_kb={report['host']['mem_total_kb']} "
        f"driver_mem={report['settings']['SPARK_DRIVER_MEM']}"
    )
    for name, value, unit, n in rows:
        print(f"  {name:<16} {value:>14.4f} {unit:<9} {n}")
    for p in s["problems"]:
        print(f"  FAILED {p}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"pipebench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import COUNTERS, Tracer, cpu_seconds

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    scratch = os.path.join(ROOT, ".pipebench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    settings, mem_kb = host_settings(work)
    for d in ("spark-local", "scratch", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(settings)
    session = None
    try:
        session = Session(work)
        # process start -> session ready, in CPU time (which leaves out
        # time the host gives other tenants) and in wall time
        setup_s, setup_wall_s = cpu_seconds(), time.perf_counter() - T_START
        workload = workloads.WORKLOADS[args.workload](session.spark, work, args.seed)
        t_session = time.perf_counter()
        workload.prepare()
        generate_s = time.perf_counter() - t_session
        tracer = Tracer(session.spark, traced=bool(args.trace))
        passes = measure(workload, tracer, args.seconds)
        peak_rss = session.peak_rss_mb()
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)

    s = summarize(passes)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "host": {"nproc": int(settings["SPARK_GRAFT_CPUS"]), "mem_total_kb": mem_kb},
        "settings": {k: settings[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
        "generate_s": generate_s,
        "peak_rss_mb": peak_rss,
        "summary": s,
    }
    e2e = {
        "setup_s": setup_s,
        "items_per_cpu_s": s["items_per_cpu_s"],
        "peak_rss_mb": sum(peak_rss.values()),
    }
    print(json.dumps(report), file=sys.stderr)
    print_table(args, s, {**e2e, "setup_wall_s": setup_wall_s}, report, getattr(workload, "rmse", {}))
    if args.trace:
        metrics = {
            k: {"value": v, "unit": LAYER_UNITS.get(k.rsplit(".", 1)[1], "s")}
            for k, v in layer_metrics(tracer.spans, workloads.ALL_SPANS, COUNTERS).items()
        }
        out_dir = os.path.join(ROOT, ".pipebench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({**report, "end_to_end": e2e, "spans": tracer.spans}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": s["failed"] == 0,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
