"""Repository benchmark: drives the engine from outside through
``server.serve``, ``plans.*`` and the ``queries`` registry.

    python3 loadbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json): ``serve`` runs the reference's service
under a closed loop of two clients; ``curate`` runs the registry's dedup and
similarity queries pass after pass. Inputs are generated from ``--seed``
under ``.bench_data/`` in the checkout. With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` a separate traced
run carries the per-layer metrics, and the spans are written to
``.bench_data/``. The line before it is the run record: host, pinned
configuration, input sizes and the check results.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
LOCAL_CORES = 4
DRIVER_MEMORY_MB = 1024


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float | None, float | None, int]:
    """(value, percentile, n) of the highest percentile that still has at
    least ten samples beyond it; (None, None, n) when n <= 10."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return None, None, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def host_info() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {
        "cores": os.cpu_count(),
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "loadavg": load,
        "cpu_jiffies": cpu,  # user nice system idle iowait irq softirq steal
    }


def pin_environment(data_dir: Path, host: dict) -> dict:
    """Fix the Spark sizing for every run and keep scratch files inside
    the checkout (``-XX:-UsePerfData`` stops the JVM writing under /tmp).
    The driver heap is pinned so it fits the host, unlike the
    engine's 48g default, and its initial size equals its maximum: the heap
    then never resizes, so the memory figure does not swing with the
    collector's resizing choices from run to run."""
    cores = min(LOCAL_CORES, host["cores"] or 1)
    driver_mb = min(DRIVER_MEMORY_MB, host["mem_total_mb"] // 4)
    tmp = data_dir / "tmp"
    for d in (tmp, data_dir / "spark-local", data_dir / "ckpt"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=str(data_dir / "spark-local"),
        SPARK_GRAFT_CKPT_DIR=str(data_dir / "ckpt"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -Xms{driver_mb}m -XX:-UsePerfData\""
            " pyspark-shell"
        ),
    )
    return {"local_cores": cores, "driver_memory_mb": driver_mb}


@dataclass
class Bench:
    """What a workload gets: its seed, run length, the session, tracer and
    status store, plus ``record`` for anything the run record should say."""

    seed: int
    seconds: float
    trace: bool
    data_dir: Path
    lake: Path | None = None
    spark: object = None
    tracer: object = None
    status: object = None
    sampler: object = None
    get_spark_s: float = 0.0
    record: dict = field(default_factory=dict)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    its Python workers have exited."""
    from pyspark import SparkContext

    from spans import process_tree

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        importlib.import_module("move_forecast_ind_spark")
    except ImportError as e:
        print(f"loadbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"loadbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = importlib.import_module(f"wl_{args.workload}")

    data_dir = ROOT / ".bench_data"
    host = host_info()
    pinned = pin_environment(data_dir, host)
    bench = Bench(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), data_dir=data_dir)
    bench.record["inputs"] = wl.generate(bench)  # outside the set-up clock

    from pyspark import SparkContext

    from move_forecast_ind_spark.session import get_spark
    from spans import PssSampler, StatusStore, Tracer

    t0 = time.perf_counter()
    spark = get_spark("loadbench")
    bench.get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    bench.spark = spark
    bench.tracer = Tracer(spark.sparkContext, bench.trace)
    bench.status = StatusStore(spark.sparkContext) if bench.trace else None
    bench.sampler = PssSampler(SparkContext._gateway.proc.pid).start()
    try:
        out = wl.run(bench)
        conf = spark.sparkContext.getConf()
        pinned["effective_conf"] = {
            k: conf.get(k, None) or spark.conf.get(k, None)
            for k in ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
        }
        pinned["jvm_max_heap_mb"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20
    finally:
        bench.sampler.stop()
        stop_spark(spark)
    if bench.trace:
        bench.tracer.dump(str(data_dir / f"spans-{args.workload}-{args.seed}.jsonl"))

    section = "per_layer" if bench.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        value = out["metrics"].get(m["name"])
        if value is None and section == "end_to_end":
            print(f"loadbench: end-to-end metric {m['name']} missing", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": float(value or 0.0), "unit": m["unit"]}
    end = host_info()
    host["loadavg_end"] = end["loadavg"]
    # CPU time the hypervisor gave to other guests during the run: a run
    # that reads slow with a high share here was slowed by the host.
    spent = [b - a for a, b in zip(host.pop("cpu_jiffies"), end["cpu_jiffies"])]
    host["steal_share"] = spent[7] / max(sum(spent), 1)
    pinned["peak_pss_mb"] = bench.sampler.peak
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": bench.trace, "host": host, "pinned": pinned, **bench.record}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
