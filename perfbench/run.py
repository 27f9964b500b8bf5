#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The engine runs at local[nproc] with
nproc shuffle partitions and an explicit driver heap. Every file the run
writes (Spark scratch, the index, the per-seed page cache, the trace)
stays under the checkout. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md for what each metric means and moves).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CACHE = ROOT / ".perfbench_cache"

#: a run stops starting new calls this long after process start, so that
#: it ends well inside the 180 s a run may take
HARD_STOP_S = 140


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_scratch() -> None:
    """Point every temp and scratch location at the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # every JVM started for the run, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData")


def driver_heap_mb() -> int:
    """An eighth of the box's RAM, capped at 1 GiB, in 256 MiB steps."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(512, min(1024, total_kb // 1024 // 8) // 256 * 256)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def start_spark(nproc: int, heap_mb: int):
    from colbert_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cpus=nproc, shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status store, which
            # the traced run reads at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def tail_ms(lat_s: list[float]) -> str:
    """Highest percentile with at least ten samples beyond it."""
    n = len(lat_s)
    if n < 11:
        return f"n/a (only {n} samples)"
    idx = n - 11
    return (f"{1000 * sorted(lat_s)[idx]:.1f} ms "
            f"(p{100 * (idx + 1) / n:.0f} of {n} samples)")


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    if not (ROOT / "colbert_spark" / "__init__.py").is_file():
        print(f"perfbench: no colbert_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    isolate_scratch()

    from perfbench import inputs
    from perfbench.oracle import BM25Oracle
    from perfbench.trace import Tracer
    from perfbench.workloads import N_PAGES, Run

    workload = WORKLOADS[args.workload]()
    # the traced run's updater probe adds pages beyond the corpus
    n_pages = max(workload.pages, WORKLOADS["update_mix"].pages) if args.trace \
        else workload.pages
    nproc = len(os.sched_getaffinity(0))
    heap_mb = driver_heap_mb()

    # untimed: inputs and the oracle's index
    pages_path = inputs.pages(CACHE, args.seed, n_pages)
    import pyarrow.parquet as pq

    tbl = pq.read_table(pages_path, filters=[("pid", "<", N_PAGES)])
    oracle = BM25Oracle(dict(zip(tbl.column("pid").to_pylist(),
                                 tbl.column("text").to_pylist())))
    del tbl

    wall = {"inputs": time.monotonic() - t_start}
    t0 = time.perf_counter()
    spark = start_spark(nproc, heap_mb)
    session_s = time.perf_counter() - t0

    import pyspark

    from colbert_spark import ColBERTConfig

    index_root = WORK / "indexes"
    shutil.rmtree(index_root, ignore_errors=True)
    config = ColBERTConfig(index_root=str(index_root), shuffle_partitions=nproc)
    tracer = Tracer(spark, enabled=bool(args.trace))
    run = Run(spark=spark, tracer=tracer, config=config, seed=args.seed,
              pages_path=str(pages_path), oracle=oracle)
    run.setup_phases["session.start"] = session_s
    workload.setup(run)
    t_loop = time.monotonic()
    wall["setup"] = t_loop - t_start - wall["inputs"]
    deadline = min(t_loop + args.seconds, t_start + HARD_STOP_S)
    workload.loop(run, deadline)
    wall["loop"] = time.monotonic() - t_loop

    extra = workload.metrics(run)
    if args.trace:
        from perfbench import layers

        metrics = layers.collect(run)
        tracer.dump(WORK / f"trace-{args.workload}-seed{args.seed}.json")
    else:
        metrics = {
            "setup_s": sum(run.setup_phases.values()),
            "build_docs_per_s": N_PAGES / run.build_s,
            "index_bytes_per_doc": run.index_bytes / N_PAGES,
            "query_p50_ms": extra.pop("query_p50_ms"),
        }
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        metrics["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    spark_version = pyspark.__version__
    t_end = time.monotonic()
    stop_spark(spark)
    shutil.rmtree(index_root, ignore_errors=True)
    wall["teardown"] = time.monotonic() - t_end
    wall["metrics"] = t_end - t_loop - wall["loop"]

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print(f"host: nproc={nproc} master=local[{nproc}] shuffle_partitions={nproc} "
          f"driver_heap={heap_mb}m spark={spark_version} "
          f"python={platform.python_version()}")
    print("wall: " + ", ".join(f"{k}={v:.2f}s" for k, v in wall.items()))
    print("setup phases: " + ", ".join(
        f"{k}={v:.2f}s" for k, v in run.setup_phases.items()))
    for kind in dict.fromkeys(o.kind for o in run.ops):
        lat = run.latencies(kind)
        print(f"calls {kind}: n={len(lat)} p50={1000 * statistics.median(lat):.1f} ms "
              f"tail={tail_ms(lat)} ms=[{', '.join(f'{1000 * v:.0f}' for v in lat[:30])}]")
    # BENCHMARK.json names every metric a run reports, with its unit
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]}")
    for name, value in extra.items():
        print(f"named {name} = {value:.6g}")
    print(f"failed_ops_ratio = {run.failed}/{run.attempted} = "
          f"{run.failed / max(run.attempted, 1):.4f}")
    for p in run.problems[:10]:
        print(f"problem: {p}")
    if len(run.problems) > 10:
        print(f"problem: ... {len(run.problems) - 10} more")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
