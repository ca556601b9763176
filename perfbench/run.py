"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run pins its
environment (``local[nproc]``, ``SPARK_GRAFT_CPUS``, ``PYTHONPATH`` for
Python workers, Spark and temp dirs under ``.perfbench/``), generates
the workload's inputs from ``--seed``, starts one Spark session, runs
one untimed warm-up at the smallest input, then measures the closed
loop for ``--seconds`` (at least the workload's minimum count of
operations) and checks every output.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it records the
environment (nproc, start loadavg, CPU steal share, commit, seed,
versions). Both, plus
the spans of a traced run, are also written under
``.perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query_mix")
STATE = os.path.join(ROOT, ".perfbench")


def pin_env(nproc: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        path = os.path.join(STATE, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path


def source_commit() -> str | None:
    """HEAD of the checkout's git repository, if it is one."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        return open(path).read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.isfile(packed):
        for line in open(packed):
            if line.rstrip().endswith(ref[5:]):
                return line.split()[0]
    return None


def source_digest() -> str:
    """sha256 over the program's Python sources (the checkout may not be
    a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "alaska_etl_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                h.update(open(path, "rb").read())
    return h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat (0, 1
    where it is unreadable)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 1
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def declared(kind: str) -> tuple[set[str], list[str]]:
    """BENCHMARK.json's workload names and its metric names of ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {w["name"] for w in bench["workloads"]}, [m["name"] for m in bench[kind]]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "alaska_etl_spark")):
        print("perfbench: alaska_etl_spark/ not found next to perfbench/; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    loadavg = list(os.getloadavg())
    steal0, total0 = cpu_ticks()
    pin_env(nproc)

    from perfbench import layers
    from perfbench.trace import Recorder, SpanIndex

    mod = importlib.import_module(f"perfbench.{args.workload}")
    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    t_gen = time.perf_counter()
    inputs = mod.make_inputs(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t_gen

    # set-up: program import, session start and the warm-up iteration
    t0 = time.perf_counter()
    import pyspark

    from alaska_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(STATE, "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    mod.warm_up(spark, inputs)
    warmup_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0

    rec = Recorder(spark.sparkContext, enabled=bool(args.trace))
    try:
        res = mod.run(spark, rec, inputs, args.seconds)
        res["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    res["setup_s"] = setup_s
    res["session_s"] = session_s
    res["warmup_s"] = warmup_s
    if args.trace:
        from perfbench.query_mix import QUERIES

        metrics = layers.per_layer(SpanIndex(rec.spans), res, QUERIES)
        metrics.update(layers.trace_overhead(rec, res))
    else:
        metrics = layers.end_to_end(res)
    # a declared workload prints exactly the declared metrics of its kind
    workloads, names = declared("per_layer" if args.trace else "end_to_end")
    if args.workload in workloads:
        metrics = {k: metrics[k] for k in names}
    steal1, total1 = cpu_ticks()
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "start_loadavg": loadavg,
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "commit": source_commit(),
        "source_digest": source_digest(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "input_gen_s": gen_s,
        "session_s": session_s,
        "warmup_s": warmup_s,
        "jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
        "wall_s": time.perf_counter() - T_START,
        "info": res.get("info", {}),
    }
    result = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}-{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"env": env, "result": result}, f, indent=1, default=str)
    if args.trace:
        rec.dump(stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
