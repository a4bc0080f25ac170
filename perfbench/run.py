#!/usr/bin/env python3
"""Benchmark launcher: one workload, one process, one result line.

    python3 perfbench/run.py --workload build|mutate --seed N \
        --seconds S --trace 0|1

Run from the repository root.  It pins the environment (cores, driver
heap, PYTHONPATH, SPARK_LOCAL_DIRS), starts Spark on ``local[nproc]``,
runs the workload's closed loop for ``--seconds``, checks the outputs,
and prints a details line and then, last, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("build", "mutate")
# names, units and bounds of every metric
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 5             # set-ups per run; setup_s is their median
# C1 JIT only and serial GC on a fixed heap: with the JVM's defaults a
# run takes half as long again as the time budget allows, and the peak
# RSS wanders with G1's heap sizing (README: "JVM options").  The temp
# dir and no hsperfdata file keep the JVM's files inside the checkout
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{heap} "
            "-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
RUN_LIMIT_S = 170      # a run must end within 180 s
PREPARE_LIMIT_S = 600  # the first mutate run also builds the stored index


def pin_env(work: str) -> "dict[str, object]":
    """Pin what the engine reads from the environment, before Spark starts
    (the JVM and its Python workers inherit it)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(2048, mem_mb // 4)
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in (
                "GSEARCH_FS_JVM", "GSEARCH_TRACE_MUTATIONS",
                "PYSPARK_SUBMIT_ARGS"):
            del os.environ[k]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return {"cores": cores, "driver_heap": f"{heap_mb}m",
            "host_mem_mb": mem_mb, "master": f"local[{cores}]",
            "shuffle_partitions": cores,
            "jvm_opts": jvm_opts(),
            "PYTHONPATH": os.environ["PYTHONPATH"],
            "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
            "TMPDIR": os.environ["TMPDIR"],
            "python": sys.version.split()[0]}


def jvm_opts() -> str:
    return JVM_OPTS.format(heap=os.environ["SPARK_DRIVER_MEMORY"],
                           tmp=os.environ["TMPDIR"])


def code_hash() -> str:
    """Hash of the engine's and the benchmark's sources.  State kept
    across runs (the stored mutate build, fingerprints, untraced walls)
    lives under it, so each commit only meets its own."""
    h = hashlib.sha256()
    for pkg in ("gsearch_spark", "perfbench"):
        top = os.path.join(ROOT, pkg)
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode() + b"\0")
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def config(cores: int):
    """The engine's defaults, with shuffle partitions = cores and the
    bucket counts sized by the rule ``PipelineConfig`` documents for
    them: a few GB per bucket, which at a few MB of images gives one, so
    the floor of one bucket per core applies (README: "Configuration")."""
    from gsearch_spark.config import PipelineConfig
    return PipelineConfig(shuffle_partitions=cores, cluster_buckets=cores,
                          key_buckets=cores)


def start_spark(cores: int):
    from gsearch_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.ui.retainedJobs": "5000",
                                  "spark.ui.retainedStages": "5000",
                                  "spark.driver.extraJavaOptions":
                                  jvm_opts()})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def state_dir() -> str:
    return os.path.join(CACHE, code_hash())


def mutate_cache_dir(cores: int) -> str:
    from perfbench import inputs
    return os.path.join(state_dir(), f"mutate-n{inputs.MUTATE_N_BASE}"
                                     f"-s{inputs.MUTATE_CORPUS_SEED}"
                                     f"-{config(cores).config_hash()}")


def prepare_mutate_cache(target: str) -> None:
    """Child-process entry: generate the mutate corpus and build its
    index into ``target`` (renamed into place only when complete)."""
    from gsearch_spark.operators.pipeline import NearDupPipeline
    from perfbench import inputs
    work = os.path.join(WORK, f"prepare-{os.getpid()}")
    env = pin_env(work)
    tmp = f"{target}.tmp-{os.getpid()}"
    spark = start_spark(env["cores"])
    try:
        corpus = inputs.make_corpus(os.path.join(tmp, "corpus"),
                                    inputs.MUTATE_N_BASE,
                                    inputs.MUTATE_CORPUS_SEED)
        NearDupPipeline(spark, config(env["cores"]),
                        os.path.join(tmp, "index")).run(
            spark.read.parquet(corpus.images_path), resume=False)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.rename(tmp, target)


def ensure_mutate_cache(cores: int) -> float:
    """Build the stored index once per checkout, in a child process so
    this run's JVM starts as cold as every later run's.  Returns the
    seconds spent (0 when it was already there)."""
    target = mutate_cache_dir(cores)
    if os.path.isdir(target):
        return 0.0
    os.makedirs(state_dir(), exist_ok=True)
    t0 = time.time()
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    "--prepare", target], check=True, stdout=sys.stderr,
                   timeout=PREPARE_LIMIT_S)
    return time.time() - t0


def fingerprint_diff(name: str, fp: dict) -> "tuple[int, dict]":
    """Compare this run's exact counts with the first run of the same
    workload, seed and trace flag on the same code in this checkout
    (stored on first sight).  A difference is nondeterminism, not
    noise."""
    d = os.path.join(state_dir(), "fingerprints")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(fp, f, sort_keys=True)
        return 0, {}
    with open(path) as f:
        ref = json.load(f)
    diff = {k: [ref.get(k), fp.get(k)] for k in sorted(set(ref) | set(fp))
            if ref.get(k) != fp.get(k)}
    return len(diff), diff


def trace_overhead(workload: str, run) -> float:
    """(traced cycle latency - untraced) / untraced, against the median of
    the untraced runs of the same workload on the same code in this
    checkout, whatever their seed (the cycle latency hardly moves with the
    seed).  Each untraced run stores its latency.  0 when there is none
    yet."""
    d = os.path.join(state_dir(), "walls")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}.json")
    walls = []
    if os.path.exists(path):
        with open(path) as f:
            walls = json.load(f)
    wall = run.e2e.get("cycle_latency_p50_s", 0.0)
    if not run.trace:
        with open(path, "w") as f:
            json.dump(walls + [wall], f)
        return 0.0
    if not walls:
        return 0.0
    untraced = statistics.median(walls)
    return (wall - untraced) / untraced


class _Timeout(BaseException):
    """Not an ``Exception``, so the op ledger does not swallow it."""


def _on_alarm(signum, frame):
    raise _Timeout(f"run exceeded {RUN_LIMIT_S} s")


def make_inputs(args, cores: int, work: str, prep: dict) -> None:
    """The seeded inputs of one set-up, into ``prep`` (run on a second
    thread, beside the Spark start)."""
    from perfbench import inputs
    try:
        if args.workload == "build":
            prep["corpus"] = inputs.make_corpus(
                os.path.join(work, "corpus"), inputs.BUILD_N_BASE,
                args.seed)
        else:
            cache = mutate_cache_dir(cores)
            prep["corpus"] = inputs.load_corpus(
                os.path.join(cache, "corpus"), inputs.MUTATE_N_BASE,
                inputs.MUTATE_CORPUS_SEED)
            prep["pristine"] = os.path.join(cache, "index")
            prep["ckpt"] = os.path.join(work, "index")
            shutil.copytree(os.path.join(cache, "index"), prep["ckpt"])
        prep["draws"] = inputs.Draws(prep["corpus"], args.seed,
                                     os.path.join(work, "pools"))
    except BaseException as e:  # re-raised on the main thread
        prep["error"] = e


def set_up(args, cores: int, work: str, started: dict):
    """Start the Spark session ``SETUPS`` times, stopping it in between
    (the JVM stays).  The seeded inputs are made once, on a second
    thread beside the first start, which waits for them too.  Returns
    the inputs and the start walls."""
    prep: "dict[str, object]" = {}
    maker = threading.Thread(target=make_inputs,
                             args=(args, cores, work, prep))
    walls = []
    for i in range(SETUPS):
        if i:
            started.pop("spark").stop()
        t0 = time.perf_counter()
        if not i:
            maker.start()
        try:
            started["spark"] = start_spark(cores)
        finally:
            if not i:
                maker.join()
        if "error" in prep:
            raise prep["error"]
        walls.append(time.perf_counter() - t0)
    return prep, walls


def run_workload(args, env: dict, layer_names: "list[str]",
                 started: dict):
    """Set up, run the workload's loop and return its ``Run``.  The
    Spark session goes into ``started`` as soon as it exists, so the
    caller stops it whatever happens after."""
    from perfbench import probes, workloads
    cores = env["cores"]
    work = os.path.join(WORK, str(os.getpid()))
    prep, setups = set_up(args, cores, work, started)
    run = workloads.Run(started["spark"], config(cores), args.seed,
                        args.seconds, bool(args.trace), work, cores,
                        layer_names)
    run.e2e["setup_s"] = statistics.median(setups)
    run.info["setup_walls_s"] = setups
    t0 = time.perf_counter()
    if args.workload == "build":
        workloads.build_workload(run, prep["corpus"], prep["draws"])
    else:
        workloads.mutate_workload(run, prep["corpus"], prep["draws"],
                                  prep["ckpt"], prep["pristine"])
    run.info["loop_s"] = time.perf_counter() - t0
    run.e2e["peak_rss_mb"] = probes.vm_hwm_mb(run.jvm)
    run.name("setup_s", run.e2e["setup_s"], "s", SETUPS)
    run.name("peak_rss_mb", run.e2e["peak_rss_mb"], "MB")
    run.finish()
    return run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gsearch_spark",
                                       "__init__.py")):
        print("perfbench: gsearch_spark/ not found beside perfbench/; run "
              "from a full checkout", file=sys.stderr)
        return 2
    if args.prepare:
        prepare_mutate_cache(args.prepare)
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    from perfbench import probes, workloads
    with open(SPEC) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    work = os.path.join(WORK, str(os.getpid()))
    env = pin_env(work)
    gbps = probes.memcopy_gbps()
    t_cache = ensure_mutate_cache(env["cores"])
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    started: "dict[str, object]" = {}
    steal0, total0 = probes.cpu_ticks()
    try:
        run = run_workload(args, env,
                           [m["name"] for m in spec["per_layer"]], started)
        signal.alarm(0)
        steal1, total1 = probes.cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        run.layer["host.memcopy_gbps"] = gbps
        run.layer["host.steal_frac"] = steal
        n_diff, diff = fingerprint_diff(
            f"{args.workload}-s{args.seed}-t{args.trace}", run.fingerprint)
        run.layer["fingerprint.mismatches"] = float(n_diff)
        run.layer["trace.overhead_frac"] = trace_overhead(args.workload,
                                                          run)
        values = run.layer if args.trace else run.e2e
        names = {m["name"] for m in spec[kind]}
        if set(values) != names:
            raise RuntimeError(f"metrics not in {SPEC}: "
                               f"{sorted(set(values) ^ names)}")
        metrics = {m["name"]: {"value": float(values[m["name"]]),
                               "unit": m["unit"]} for m in spec[kind]}
        details = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "env": env,
            "host.memcopy_gbps": gbps, "host.steal_frac": steal,
            "mutate_cache_build_s": t_cache,
            "metrics": run.by_name, "info": run.info,
            "fingerprint": run.fingerprint, "fingerprint_diff": diff,
            "problems": run.problems[:20]}
        print(json.dumps({"perfbench": details}, default=str))
        print(json.dumps({"correct": run.failed == 0 and not run.problems,
                          "attempted": run.attempted, "failed": run.failed,
                          "metrics": metrics}), flush=True)
        return 0
    finally:
        signal.alarm(0)
        if "spark" in started:
            stop_spark(started["spark"])
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
