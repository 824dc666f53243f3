"""Benchmark entry point: one workload, one seed, one process.

    python3 kgbench/run.py --workload kg_inline --seed 1 --seconds 8 --trace 0

Run from the repository root. The run sets up (session, input writes,
warm-up), then runs build/rebuild iterations one at a time until
`--seconds` have passed, checks the outputs, and prints one JSON line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A detail line before it carries the warm-up curve, the timed samples,
input sizes, CPU steal and the check messages. `--curve N` instead runs
N untimed iterations after set-up and prints their times (used to choose
each workload's warm-up length).

The session is exactly what `delm_spark.session.get_spark` builds. The
run sets only the environment knobs it reads (SPARK_GRAFT_CPUS,
SPARK_DRIVER_MEM, SPARK_LOCAL_DIRS); a traced run adds the uncompressed
event log. Everything the run writes lives under `.bench_work/` in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()

#: driver heap. get_spark's 16g default exceeds a 15 GiB host; a 1g heap
#: fills to its cap in every run, which keeps peak_rss_mb steady
DRIVER_MEM = "1g"

def _metric(v, unit):
    return {"value": v, "unit": unit}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _trend(xs) -> float:
    """Second-half median over first-half median, minus one: negative
    when the timed window still speeds up."""
    if len(xs) < 2:
        return 0.0
    h = len(xs) // 2
    return _median(xs[len(xs) - h:]) / _median(xs[:h]) - 1.0


def _stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--curve", type=int, default=0)
    args = ap.parse_args()

    if not (ROOT / "delm_spark" / "__init__.py").is_file():
        print(f"no delm_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "local").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Python workers import delm_spark and the benchmark modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    extra_conf = None
    if args.trace:
        (work / "eventlog").mkdir()
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        }

    from delm_spark.session import get_spark

    clock = time.perf_counter
    spark = None
    try:
        t_setup = clock()
        # peak over the whole run: the JVM's committed heap only grows,
        # so the peak is set by the largest phase, cold or warm
        pss = tracing.PssSampler().start()
        spark = get_spark(f"kgbench-{args.workload}", extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        sizes = wl.setup()
        curve = []
        reference = None
        for _ in range(args.curve or wl.warmup):
            times, digests = wl.iteration(clock)
            curve.append(times)
            reference = reference or digests[0]
        if args.curve:
            pss.stop()
            print(json.dumps({"workload": args.workload, "seed": args.seed, "curve": curve}))
            return 0
        setup_s = clock() - t_setup

        # ---- timed window: closed loop, one iteration at a time
        samples: dict[str, list] = {"build": [], "rebuild": []}
        attempted = failed = 0
        messages: list[str] = []
        steal0 = tracing.cpu_times()
        w0_wall, w0 = time.time(), clock()
        while True:
            try:
                times, digests = wl.iteration(clock)
            except Exception:
                attempted += 2
                failed += 2
                messages.append(traceback.format_exc(limit=3))
            else:
                for k, v in times.items():
                    samples[k].append(v)
                attempted += len(digests)
                bad = sum(d != reference for d in digests)
                failed += bad
                if bad:
                    messages.append(f"{bad} output digest(s) differ from the warm-up build")
            if clock() - w0 >= args.seconds:
                break
        window = (w0_wall, time.time())
        peak_pss = pss.stop()
        steal = tracing.cpu_steal(steal0, tracing.cpu_times())

        # ---- output checks on the last iteration (untimed)
        if wl.last is not None:
            attempted += 1
            errs = wl.check()
            if errs:
                failed += 1
                messages += errs

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "input_rows": sizes,
            "warmup_curve": curve,
            "samples": samples,
            "trend": {k: _trend(v) for k, v in samples.items()},
            "cpu_steal": steal,
            "messages": messages[:20],
        }
        if hasattr(wl, "typo_links"):
            detail["typo_links"] = wl.typo_links

        if not args.trace:
            metrics = {
                "build_s": _metric(_median(samples["build"]), "s"),
                "rebuild_s": _metric(_median(samples["rebuild"]), "s"),
                "setup_s": _metric(setup_s, "s"),
                "peak_rss_mb": _metric(peak_pss, "MB"),
            }
        else:
            import layers

            spans = tracing.Spans()
            counts, digest = wl.traced(spans)
            attempted += 1
            if digest != reference:
                failed += 1
                messages.append("traced layer-by-layer output differs from the production build")
            # stopping flushes and closes the event log
            _stop_session(spark)
            spark = None
            metrics, extra = layers.traced_metrics(
                spans, counts, work / "eventlog", window, samples, cores
            )
            detail.update(extra)
            detail["messages"] = messages[:20]
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
