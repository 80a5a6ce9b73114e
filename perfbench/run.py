#!/usr/bin/env python3
"""Benchmark of the bpspark engine, driven from outside as a closed loop
with one client on ``local[<cores>]``.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 26 --trace 0

Workloads: ``analytics`` and ``ingest`` (see ``perfbench/workloads.py``).
After set-up and one cold unit, warm units repeat while the next one,
expected to take as long as the last, still ends within ``--seconds``; at
least the workload's ``MIN_WARM`` run (three analytics passes, whose
per-op medians make ``warm_s``; one ingest cycle). With ``--trace 0`` the
run reports the end-to-end metrics; with ``--trace 1`` it records spans
around every call into the program, reports the per-layer metrics
(``perfbench/metrics.py``) and writes its spans to ``.perfbench/traces/``.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed``, ``metrics``. Outside a bpspark checkout it
exits with status 2 and prints no result.

Every run works in a fresh directory under ``.perfbench/runs/`` (its
generated tables, temp files, Spark local dirs, the engine's scratch and
fixture dirs) and deletes it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("analytics", "ingest")


def _process_age() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate(run_dir: str) -> None:
    """Point every scratch location the engine and Spark use at ``run_dir``.

    The run reads and writes only inside the checkout, so its scratch sits
    on the checkout's disk, not on the ``/dev/shm`` tmpfs the engine picks
    by default (``bpspark.config.fast_scratch_dir``)."""
    dirs = {"TMPDIR": "tmp", "SPARK_LOCAL_DIRS": "local",
            "BPSPARK_SCRATCH_DIR": "scratch", "BPSPARK_FIXTURE_DIR": "fixtures"}
    for var, sub in dirs.items():
        path = os.path.join(run_dir, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path
    # the launcher JVM that spark-submit starts before the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    tempfile.tempdir = None  # re-read TMPDIR


def _leftovers(run_dir: str) -> dict[str, int]:
    """Files per directory (three levels deep, random name suffixes
    folded to ``_*``) that the run left in ``run_dir``: what the isolation
    undoes."""
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(run_dir):
        rel = os.path.relpath(dirpath, run_dir).split(os.sep)
        if rel == ["."] or rel[0] in ("work", "tables"):  # the benchmark's own inputs
            continue
        key = re.sub(r"(?<=_)[a-z0-9_]{8}$", "*", "/".join(rel[:3]))
        out[key] = out.get(key, 0) + len(files)
    return out


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the SparkContext and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def _setup(args, run_dir: str, tracer, t_top: float, age_top: float):
    """Session, op registry, worker imports; timed from process start."""
    from bpspark.session import build
    import bpspark

    cores = len(os.sched_getaffinity(0))
    tmp = os.environ["TMPDIR"]
    t = {}
    with tracer.span("session.build"):
        t0 = time.perf_counter()
        spark = build(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf={"spark.driver.extraJavaOptions":
                                  f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                                  "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")})
        t["session.build_s"] = time.perf_counter() - t0
    with tracer.span("all_ops"):
        t0 = time.perf_counter()
        registry = bpspark.all_ops()
        t["registry.all_ops_s"] = time.perf_counter() - t0
    with tracer.span("ensure_worker_imports"):
        t0 = time.perf_counter()
        bpspark.ensure_worker_imports(spark)
        t["init.ship_s"] = time.perf_counter() - t0
    t["setup_s"] = age_top + time.perf_counter() - t_top
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    return spark, registry, t, cores


def _run(args, run_dir: str, state: str, t_top: float, age_top: float, holder: dict) -> dict:
    from perfbench import datagen
    from perfbench import metrics as M
    from perfbench import workloads as W
    from perfbench.trace import StatusReader, Tracer

    tracer = Tracer(enabled=bool(args.trace))
    spark, registry, setup, cores = _setup(args, run_dir, tracer, t_top, age_top)
    holder["spark"] = spark
    if args.workload == "ingest":
        work = W.IngestWorkload(spark, os.path.join(run_dir, "work"), tracer, args.seed)
        sizes = f"{W.N_ZIPS} ZIPs"
    else:
        data = datagen.write(os.path.join(run_dir, "tables"), W.DATA_SEED, W.TABLE_SF,
                             W.N_DOCS, W.N_VECS)
        work = W.OpsWorkload(spark, registry, M.RELATIONAL_OPS + M.LLM_OPS, data, tracer, args.seed)
        sizes = f"tables sf{W.TABLE_SF}, {W.N_DOCS} docs, {W.N_VECS} vectors"

    tracer.enabled = False  # the cold pass is never traced
    cold_s, _ = work.unit(cold=True)
    t_check = time.perf_counter()
    if args.workload != "ingest":
        work.check()  # the cold pass's collected results against the oracles
    check_s = time.perf_counter() - t_check
    tracer.enabled = bool(args.trace)
    m = M.Metrics(trace=bool(args.trace))
    walls, layer_runs, shapes = [], [], {}
    reader = StatusReader(spark) if args.trace else None
    t_start = time.perf_counter()
    while True:
        wall, roots = work.unit()
        walls.append(wall)
        if args.trace:
            reader.settle()
            one = M.Metrics(trace=True)
            shapes = work.layer_metrics(reader, roots, one)
            layer_runs.append(one)
        # the next unit is expected to take as long as this one
        if len(walls) >= work.MIN_WARM and time.perf_counter() - t_start + wall > args.seconds:
            break

    measure_s = time.perf_counter() - t_start
    jvm_pid = spark.sparkContext._gateway.proc.pid
    if args.trace:
        for name in m.values:
            m[name] = statistics.median(r[name] for r in layer_runs)
        for k in ("session.build_s", "registry.all_ops_s", "init.ship_s"):
            m[k] = setup[k]
        if args.workload == "ingest":
            m["parse.records_per_s"] = work.records_per_s()
    else:
        m["setup_s"] = setup["setup_s"]
        m["cold_s"] = cold_s
        m["warm_s"] = work.warm_s() if args.workload != "ingest" else statistics.median(walls)
        m["peak_rss_mb"] = _peak_rss_mb(jvm_pid)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: local[{cores}], {sizes}; "
          f"cold unit {cold_s:.3f} s, check {check_s:.3f} s, {len(walls)} warm units "
          f"{[round(w, 3) for w in walls]} in {measure_s:.3f} s")
    err_rate = work.failed / max(work.attempted, 1)
    print(f"  {'error_rate':28s} {err_rate:.4f} ratio ({work.failed}/{work.attempted})")
    for name, v in m.values.items():
        if v or not args.trace:
            print(f"  {name:28s} {v:.4f} {m.spec[name][0]}")
    for e in work.errors[:20]:
        print(f"  ERROR {e}")
    if args.trace:
        flags = [f"{op} runs {s['joins']} with {s['exchanges']} shuffle Exchanges"
                 for op, s in shapes.items() if op == "join_shuffle_inner"
                 and "SortMergeJoin" not in s["joins"] and "ShuffledHashJoin" not in s["joins"]]
        for f in flags:
            print(f"  PLAN FLAG: {f} (no shuffle join)")
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        out = os.path.join(state, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        holder["trace"] = {"path": out, "record": {
            "workload": args.workload, "seed": args.seed, "sizes": sizes, "cores": cores,
            "spans": tracer.spans, "plan_shapes": shapes, "plan_flags": flags,
            "per_layer": m.values, "errors": work.errors}}
    return {"correct": work.failed == 0, "attempted": work.attempted,
            "failed": work.failed, "metrics": m.as_json()}


def main(argv: list[str] | None = None) -> int:
    t_top, age_top = time.perf_counter(), _process_age()
    ap = argparse.ArgumentParser(description="bpspark benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("bpspark/__init__.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a bpspark checkout",
                  file=sys.stderr)
            return 2
    sys.path[0] = ROOT  # import bpspark, tests and perfbench from the checkout
    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(state, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(state, "runs"))
    _isolate(run_dir)
    holder: dict = {}
    try:
        result = _run(args, run_dir, state, t_top, age_top, holder)
    finally:
        if "spark" in holder:
            _stop(holder["spark"])
        left = _leftovers(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"  isolation removed: {json.dumps(left, sort_keys=True)}")
    if "trace" in holder:
        holder["trace"]["record"]["isolation_removed"] = left
        with open(holder["trace"]["path"], "w") as fh:
            json.dump(holder["trace"]["record"], fh, indent=1, default=str)
        print(f"  trace written to {os.path.relpath(holder['trace']['path'], ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
