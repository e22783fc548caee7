#!/usr/bin/env python3
"""KG-construction benchmark.  Run from the repository root:

    python3 kgbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Workloads are listed in BENCHMARK.json and described in workloads.py.
One process runs one workload on ``local[N]`` (N = min(4, usable CPUs)).
Standard output ends with two lines: a readable summary of every metric
with its unit, then one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones.  Timings, spans, stage
ledgers and noise evidence go to a sidecar file under
``kgbench/results/``.

Scratch data lives in ``kgbench/_work`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

CPUS = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = max(2 * CPUS, 8)
HEAP = "4g"                # JVM heap; a 15 GB host keeps the rest for Python workers
CONTROL_ROWS = 1_000_000   # fixed md5 scan: the run's own noise floor


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _configure(work: Path) -> dict:
    """Environment for the session and its Python workers (set pre-import)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        # Python workers must import kgc, whose pandas UDFs they run
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _proc_stat() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _control(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, CONTROL_ROWS, 1, CPUS).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _summary(workload: str, run, metrics: dict, noise: dict, trace: bool, sidecar: Path) -> str:
    s, info = run.samples, run.info
    med = lambda k: statistics.median(s[k]) if s.get(k) else float("nan")  # noqa: E731
    parts = [
        f"{workload} seed={run.seed} local[{CPUS}] heap={HEAP}",
        f"setup_s={metrics['setup_s']:.3f} s",
    ]
    if workload == "build":
        n = info.get("distinct_triples", 0)
        parts += [
            f"cold_build_s={med('cold'):.3f} s (into a fresh store)",
            f"build_s={med('warm'):.3f} s (n={len(s.get('warm', []))})",
            f"triples_per_s={n / med('warm'):.1f} 1/s ({n} distinct triples, "
            f"{info.get('n_docs')} docs)",
        ]
        if not trace:
            parts.append(f"resume_s={med('resume'):.3f} s")
        else:
            parts.append(f"cc_s={med('cc'):.3f} s ({info.get('cc_nodes')} nodes)")
    else:
        warm = s.get("warm_query", [])
        p90 = statistics.quantiles(warm, n=10, method="inclusive")[-1] if len(warm) > 1 else float("nan")
        parts += [
            f"cold_round_s={med('cold'):.3f} s",
            f"round_s={med('warm'):.3f} s (n={len(s.get('warm', []))} rounds of 5 shapes)",
            f"query_p50_s={med('warm_query'):.3f} s",
            f"query_p90_s={p90:.3f} s (n={len(warm)} queries)",
        ]
    parts += [
        f"error_rate={len(run.failed_ops) / max(run.attempted, 1):.3f} "
        f"({len(run.failed_ops)}/{run.attempted})",
        f"peak_rss_mb={metrics['peak_rss_mb']:.0f} MB",
        f"steal={noise['steal_pct']:.2f}% control_s={noise['control_s'][0]:.3f}/"
        f"{noise['control_s'][1]:.3f} s",
    ]
    if trace:
        parts.append(f"trace_overhead_s={run.layers.get('trace_overhead_s', float('nan')):.3f} s")
    parts.append(f"sidecar={sidecar.relative_to(ROOT)}")
    return " | ".join(parts)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(names)}")
    if not (ROOT / "kgc" / "__init__.py").is_file():
        print(f"kgbench: no kgc package under {ROOT}", file=sys.stderr)
        return 2

    work = HERE / "_work"
    shutil.rmtree(work, ignore_errors=True)
    env = _configure(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        return _run(args, spec, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, work: Path, env: dict) -> int:
    from kgc.session import get_spark

    import workloads
    from ledger import Ledger

    t0 = time.perf_counter()
    spark = get_spark(
        "kgbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    try:
        session_s = time.perf_counter() - t0
        warmup_s = _control(spark)  # first job: compiles the control plan

        ledger = Ledger(spark) if args.trace else None
        run = workloads.Run(spark, args.seed, args.seconds, work, ledger)
        stat0 = _proc_stat()
        control = [_control(spark)]
        workloads.WORKLOADS[args.workload](run)
        control.append(_control(spark))
        stat1 = _proc_stat()
        totals = ledger.session_totals() if ledger else {}
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss_mb = (
            _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024
    finally:
        _stop(spark)

    noise = {
        "steal_pct": 100.0 * (stat1[1] - stat0[1]) / max(stat1[0] - stat0[0], 1),
        "control_s": control,
    }
    s = run.samples
    measured = {
        "setup_s": session_s + warmup_s + statistics.median(run.info["stage_s"]),
        "cold_s": s["cold"][0] if s.get("cold") else None,
        "warm_p50_s": statistics.median(s["warm"]) if s.get("warm") else None,
        "peak_rss_mb": peak_rss_mb,
    }
    if args.trace:
        layers = {m["name"]: 0 for m in spec["per_layer"]}
        layers.update({k: v for k, v in run.layers.items() if k in layers})
        layers["spark.jobs"] = totals["jobs"]
        layers["spark.tasks"] = totals["tasks"]
        wanted = spec["per_layer"]
        values = layers
    else:
        wanted = spec["end_to_end"]
        values = measured
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in wanted
        if values.get(m["name"]) is not None
    }

    results = HERE / "results"
    results.mkdir(exist_ok=True)
    sidecar = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    sidecar.write_text(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "config": {
            "master": f"local[{CPUS}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "spark.ui.showConsoleProgress": "false",
            **env,
        },
        "timings": {
            "session_s": session_s, "warmup_s": warmup_s, **run.info, "samples": s,
        },
        "measured": measured,
        "per_layer": run.layers,
        "session_totals": totals,
        "noise": noise,
        "errors": run.errors,
        "spans": ledger.spans if ledger else [],
    }, indent=1, default=str))

    for e in run.errors:
        print(e, file=sys.stderr)
    print(_summary(args.workload, run, measured, noise, bool(args.trace), sidecar))
    failed = len(run.failed_ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if len(metrics) == len(wanted) else 1


if __name__ == "__main__":
    sys.exit(main())
