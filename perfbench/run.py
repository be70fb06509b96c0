"""The ETL engine's benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. A child process generates the inputs from
``--seed`` under ``.perfbench/`` in the checkout and computes the expected
outputs; then one Spark session on ``local[nproc]`` runs one untimed warm
pass and timed passes until ``--seconds`` have gone by (at least two).
Every output is checked against DuckDB outside the timed interval and
deleted. The run prints every metric by name with its unit, then, as the
last line, one JSON object: the end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the per-layer metrics of a traced run (Spark event log
plus spans around every layer call), which alternates traced and untraced
passes to measure its own overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the metrics of an untraced run's JSON line: those every workload has,
#: that are never 0 and that stay steady from run to run on a shared host
#: (pass_s and the rest are printed above the line)
END_TO_END = [
    ("setup_s", "s"),
    ("cpu_s_per_pass", "s"),
    ("space_amp", "ratio"),
]

#: timed passes an untraced run makes at least, whatever ``--seconds``:
#: the CPU a pass takes moves with the other tenants of a shared host, and
#: a median of one pass carries all of that
MIN_PASSES = 2

#: the JVM heap; the engine's own default (48g) exceeds a 16 GB host
DRIVER_MEMORY = "3g"
#: what ``nproc`` reports: the cores this process may run on
CORES = len(os.sched_getaffinity(0))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@dataclass
class Pass:
    id: str
    seconds: float
    cpu_s: float
    ops: list
    outputs: dict


def _args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: generate the inputs under DATA, pickle the workload's
    # expected outputs to OUT and exit (see ``_prepare_in_child``)
    ap.add_argument("--prepare", nargs=2, metavar=("DATA", "OUT"), help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _prepare_in_child(args, data: str) -> dict:
    """Run ``workloads.prepared`` in a child process, waited for: the
    generator's and the oracles' memory never counts in the measured tree."""
    out = os.path.join(os.path.dirname(data), "prepared.pickle")
    argv = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", "0", "--prepare", data, out]
    subprocess.run(argv, check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


def high_percentile(n: int) -> str:
    """The highest of p50/p90/p99/p99.9 with at least ten of ``n``
    samples beyond it, or "" when not even p50 has."""
    best = ""
    for tenths in (500, 900, 990, 999):  # exact: no float rounding at the edge
        if n * (1000 - tenths) >= 10 * 1000:
            best = f"p{tenths / 10:g}"
    return best


def _percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(len(xs) * p / 100))]


def _timing(name: str, xs: list[float]) -> list[tuple[str, object, str]]:
    """Median, sample count and the highest supported percentile."""
    rows = [(f"{name}.median", statistics.median(xs), "s"), (f"{name}.n", len(xs), "count")]
    hp = high_percentile(len(xs))
    if hp:
        rows.append((f"{name}.{hp}", _percentile(xs, float(hp[1:])), "s"))
    return rows


def _one_pass(wl, tally, pass_id: str, traced: bool) -> Pass:
    from procstat import tree_cpu

    ctx, tracer = wl.ctx, wl.ctx.tracer
    ctx.traced = traced
    tracer.cpu = tree_cpu if traced else None
    tracer.pass_id = pass_id
    out = fresh_dir(os.path.join(ctx.out, pass_id))
    cpu0 = tree_cpu()
    t0 = time.perf_counter()
    with tracer.span("pass"):
        ops = wl.run_pass(out)
    seconds = time.perf_counter() - t0
    cpu = tree_cpu().total_s - cpu0.total_s
    with tracer.span("check"):
        outputs = wl.check(ops, out, tally)
    with tracer.span("cleanup"):
        shutil.rmtree(out)
    return Pass(pass_id, seconds, cpu, ops, outputs)


def measure(args, work: str) -> tuple[dict, list[tuple[str, object, str]], object]:
    """Run the workload; returns (metrics, report rows, tally)."""
    import duckdb

    from procstat import tree_peak_rss_mb
    from spans import Tracer
    from workloads import WORKLOADS, Context, Tally

    traced = bool(args.trace)
    ctx = Context(
        spark=None,
        data=fresh_dir(os.path.join(work, "data")),
        out=fresh_dir(os.path.join(work, "out")),
        tracer=Tracer(),
        traced=traced,
        con=duckdb.connect(),
    )
    wl = WORKLOADS[args.workload](ctx)
    vars(wl).update(_prepare_in_child(args, ctx.data))

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = fresh_dir(os.path.join(work, "spark-local"))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    if traced:
        conf = fresh_dir(os.path.join(work, "conf"))
        events = fresh_dir(os.path.join(work, "events"))
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
            f.write(
                "spark.eventLog.enabled true\n"
                f"spark.eventLog.dir file://{events}\n"
                "spark.eventLog.compress false\n"
                "spark.eventLog.rolling.enabled false\n"
            )
        os.environ["SPARK_CONF_DIR"] = conf

    tally = Tally()
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        from as_etl_storage_spark import get_spark

        ctx.spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        warm = _one_pass(wl, tally, "warm", traced)
        # a traced run alternates traced (t) and untraced (u) passes, at
        # least t u t, so its overhead is measured in the same process and
        # time window and a warm-up trend weighs on both kinds alike
        passes: list[Pass] = []
        start = time.perf_counter()
        while (
            len(passes) < (3 if traced else MIN_PASSES)
            or time.perf_counter() - start < args.seconds
        ):
            n = len(passes)
            kind = "tu"[n % 2] if traced else "p"
            passes.append(_one_pass(wl, tally, f"{kind}{n}", kind == "t"))
        rss_mb = tree_peak_rss_mb()
    finally:
        gateway = ctx.spark.sparkContext._gateway
        ctx.spark.stop()  # also closes the event log
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)

    untraced = [p for p in passes if p.id[0] != "t"]
    times = [p.seconds for p in untraced]
    metrics = {
        "setup_s": session_s + warm.seconds,
        "cpu_s_per_pass": statistics.median(p.cpu_s for p in untraced),
        "space_amp": statistics.median(p.outputs["space_amp"] for p in untraced),
    }
    report = [
        ("workload", args.workload, ""),
        ("seed", args.seed, ""),
        ("cores", CORES, "count"),
        ("loadavg_1m", os.getloadavg()[0], ""),
        ("input_rows_per_pass", wl.input_rows, "count"),
        ("session_start_s", session_s, "s"),
        ("warm_pass_s", warm.seconds, "s"),
        *_timing("pass_s", times),
        ("pass_s.each", " ".join(f"{t:.3f}" for t in times), "s"),
        *[(k, v, dict(END_TO_END)[k]) for k, v in metrics.items()],
        ("rows_per_s", wl.input_rows * len(times) / sum(times), "1/s"),
        ("rss_peak_mb", rss_mb, "MB"),
        ("failed_share", tally.failed_share, "ratio"),
    ]
    by_kind: dict[str, list[float]] = {}
    for p in untraced:
        for op in p.ops:
            span = ctx.tracer.spans[op.span]
            by_kind.setdefault(op.kind, []).append(span.duration)
    for kind, xs in by_kind.items():
        report.extend(_timing(f"{kind}_s", xs))

    if traced:
        t_pass = statistics.median(p.seconds for p in passes if p.id[0] == "t")
        metrics = trace_metrics(wl, passes, events, session_s)
        metrics["trace.overhead"] = t_pass / statistics.median(times) - 1
        report.append(("traced_pass_s", t_pass, "s"))
    return metrics, report, tally


def trace_metrics(wl, passes, events: str, session_s: float) -> dict:
    import eventlog
    import layers

    tracer = wl.ctx.tracer
    (name,) = os.listdir(events)
    with open(os.path.join(events, name)) as f:
        jobs = eventlog.parse(f)
    by_span, lost = eventlog.attribute(jobs, tracer.spans)
    traced = [p for p in passes if p.id[0] == "t"]
    view = layers.View(tracer, jobs, by_span, [p.id for p in traced])
    ops_by_span = {op.span: op for p in traced for op in p.ops}
    m = {"session.start_s": session_s}
    m.update(layers.compute(view, ops_by_span, [p.outputs for p in traced]))
    m["trace.unattributed_jobs"] = len(lost)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    tracer.dump(
        os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-{os.getpid()}.json"),
        {
            "jobs": {
                j.id: {"submit_s": j.submit_s, "end_s": j.end_s,
                       **vars(j.counters)}
                for j in jobs.values()
            },
            "by_span": by_span,
            "unattributed": lost,
        },
    )
    return m


def main(argv=None) -> int:
    # a terminated run still stops the JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "as_etl_storage_spark")):
        print(f"perfbench: no as_etl_storage_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.prepare:
        from workloads import prepared

        data, out = args.prepare
        with open(out, "wb") as f:
            pickle.dump(prepared(args.workload, args.seed, data), f)
        return 0

    from procstat import adopt_orphans, stop_tree

    # every process the run starts, and every process those start, has
    # ended before it returns: none is left to serve a later run
    adopt_orphans()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        metrics, report, tally = measure(args, work)
    finally:
        stop_tree()
        shutil.rmtree(work, ignore_errors=True)

    for problem in tally.problems:
        print(f"FAILED: {problem}")
    for name, value, unit in report:
        print(f"{name:32s} {value!s:>24s} {unit}")
    if args.trace:
        import layers

        units = {n: u for n, u, _b in layers.PER_LAYER}
        for n, u in units.items():
            print(f"{n:48s} {metrics[n]!s:>24s} {u}")
    else:
        units = dict(END_TO_END)
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
