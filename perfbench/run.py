"""EL benchmark of the sling_cli_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 10 --trace 0

prints progress and failed checks on stderr and, as the last line of
stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). ``--repeat N`` runs the workload N times back
to back, each in its own process with seeds seed..seed+N-1, and prints
the median, quartiles and min/max spread of every end-to-end metric.
See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# name -> (unit, better); every workload reports all of them
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "read_s": ("s", "lower"),
    "write_amp": ("ratio", "lower"),
    "stored_bytes_per_row": ("bytes", "lower"),
    "driver_rss_mb": ("MB", "lower"),
}

# About the seconds one round of either workload takes on the reference
# host (README): the load phase runs round(seconds / ROUND_S) whole rounds,
# a count fixed by --seconds alone, so every run of a workload at the same
# --seconds attempts exactly the same operations.
ROUND_S = 10.0
# Passes over the read-back set. The first warms the new tables' file
# listings and footers and is left out; read_s is the median of the rest.
READ_PASSES = 4


def _sizes(dirs: list[str]) -> dict[str, int]:
    from perfbench import oracle

    out = {}
    for d in dirs:
        out.update(oracle.file_sizes(d))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import oracle
    from perfbench.harness import Ops, RssSampler, Run
    from perfbench.trace import (Tracer, fetch_jobs, per_layer,
                                 per_layer_spec, self_time_table)
    from perfbench.workloads import WORKLOADS

    run = Run(ROOT, workload, trace)
    tracer = Tracer(trace)
    ops = Ops()
    try:
        with tracer.span("session.start"):
            run.start_spark()
        if trace:
            tracer.install()
        wl = WORKLOADS[workload](run, tracer, ops, seed,
                                 max(1, round(seconds / ROUND_S)))
        wl.setup()
        setup_s = time.time() - PROCESS_T0
        log(f"{workload}: ready after {setup_s:.2f} s, "
            f"{wl.rounds} rounds")

        rows = source_bytes = written = 0
        load_s = 0.0
        with RssSampler() as rss:
            for i in range(wl.rounds):
                before = _sizes(wl.targets)
                t = time.perf_counter()
                with tracer.span("bench.load"):
                    n, b = wl.load_round(i)
                load_s += time.perf_counter() - t
                written += oracle.bytes_written(before, _sizes(wl.targets))
                rows += n
                source_bytes += b
            reads = []
            for _ in range(READ_PASSES):
                t = time.perf_counter()
                with tracer.span("bench.read"):
                    wl.read()
                reads.append(time.perf_counter() - t)
        log(f"{workload}: load {load_s:.2f} s, {rows} rows; "
            f"reads {[round(r, 3) for r in reads]}")

        t = time.perf_counter()
        wl.check()
        live_b, live_rows = wl.live()
        log(f"{workload}: checks {time.perf_counter() - t:.2f} s")
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": rows / load_s,
            "read_s": statistics.median(reads[1:]),
            "write_amp": written / source_bytes,
            "stored_bytes_per_row": live_b / live_rows,
            "driver_rss_mb": rss.peak_mb,
        }
        if trace:
            jobs = fetch_jobs(run.spark)
            metrics = per_layer(tracer, jobs, rss, wl.storage())
            log(self_time_table(tracer, jobs))
            log("spans: " + json.dumps(tracer.dump()))
            spec = per_layer_spec()
        else:
            metrics = e2e
            spec = END_TO_END
        log("end-to-end: " + json.dumps(
            {k: round(v, 4) for k, v in e2e.items()}))
        return {
            "correct": not ops.unexpected,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": spec[k][0]}
                        for k in spec},
        }
    finally:
        t = time.perf_counter()
        run.close()
        log(f"{workload}: closed in {time.perf_counter() - t:.2f} s")


def log(msg: str):
    print(msg, file=sys.stderr, flush=True)


def repeat(args) -> dict:
    """Run the workload ``args.repeat`` times back to back, one process
    each, and summarise every end-to-end metric."""
    values: dict[str, list[float]] = {k: [] for k in END_TO_END}
    attempted = failed = 0
    correct = True
    for i in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(args.seed + i),
               "--seconds", str(args.seconds), "--trace", "0"]
        t = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            raise SystemExit(f"run {i} exited {p.returncode}")
        res = json.loads(lines[-1])
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        log(f"run {i} seed {args.seed + i}, {wall:.1f} s: " + json.dumps(
            {k: round(v[-1], 4) for k, v in values.items()}))
    print(f"{'metric':22} {'unit':6} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'iqr/med':>8} {'min':>12} {'max':>12} "
          f"{'range/med':>9}")
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 \
            else (v[0], 0, v[0])
        print(f"{k:22} {END_TO_END[k][0]:6} {med:12.4f} {q1:12.4f} "
              f"{q3:12.4f} {(q3 - q1) / med:8.4f} {min(v):12.4f} "
              f"{max(v):12.4f} {(max(v) - min(v)) / med:9.4f}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": statistics.median(v),
                            "unit": END_TO_END[k][0]}
                        for k, v in values.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_load", "cdc_stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness mode: N back-to-back untraced runs")
    args = ap.parse_args(argv)
    if args.repeat:
        res = repeat(args)
    else:
        res = run_once(args.workload, args.seed, args.seconds,
                       bool(args.trace))
    log(f"peak driver RSS over the whole process: "
        f"{resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024:.1f} MB")
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
