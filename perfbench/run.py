"""Engine benchmark: run one workload with one seed and print its metrics.

    python3 perfbench/run.py --workload sales_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run

1. writes its seeded inputs under ``.perfbench_work/`` in the checkout
   (removed at exit);
2. sets up ``SETUP_REPS`` times: a Spark session on ``local[nproc]``,
   the workload's engine imports and a warm-up (the first set-up starts
   the JVM; later ones stop the session, drop the engine's modules and
   start again in the same JVM);
3. runs the workload's operations as one closed-loop client, in whole
   passes, until ``--seconds`` have passed;
4. checks every output against a DuckDB oracle, outside the timed
   section; each operation with a mismatch counts as failed;
5. prints, as the last line of stdout, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: with
   ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
   per-layer metrics of a run recorded with spans (span file under
   ``.perfbench_traces/``).

The end-to-end metrics count CPU seconds of this process, the Spark
JVM and its Python workers, not wall time: on a host that lends its
cores to other machines, wall time moved 20-40% between identical runs;
CPU time moves less (10-20%), though it too grows with contention.

- ``setup_s``: median CPU time of the set-ups;
- ``ops_per_cpu_s``: operations completed per CPU second.

The line before the result (prefixed ``#``) gives what BENCHMARK.json
does not bound:
the wall-clock set-up, median and tail latency (the highest percentile
with ten samples beyond it) and operations per second, the median CPU
time of one operation, the peak resident memory of the Spark JVM plus
this process (the JVM's heap growth made it move 15-45% between runs),
and each operation's median wall and CPU time.
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

import workloads
from spans import Recorder, spark_counters

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")
SETUP_REPS = 2


def _host_env(work: str) -> int:
    """Size the Spark launch to this host and keep every file it writes
    inside ``work``; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal")) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=f"{min(4096, max(1024, total_mb // 4))}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # pandas-UDF workers import the engine by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return cores


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))


def _cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this process, the Spark JVM and every
    process under it (the Python workers). Unlike wall time, CPU time
    does not grow while the host lends this machine's cores to others."""
    own = os.times()
    if jvm_pid is None:
        return own.user + own.system
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime + stime, plus cutime + cstime of children already reaped
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total, stack = 0, [jvm_pid]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _purge_engine(engine: str) -> None:
    for name in [m for m in sys.modules if m == engine or m.startswith(engine + ".")]:
        del sys.modules[name]


def _setup(wl, work: str, first: bool) -> tuple[object, dict[str, float]]:
    """One set-up: session, engine imports, warm-up. Returns the session
    and the time of each step."""
    t0 = time.perf_counter()
    if not first:
        _purge_engine(workloads.ENGINE)
    session = __import__(f"{workloads.ENGINE}.session", fromlist=["get_spark"])
    spark = session.get_spark(
        app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl.mods = workloads.import_entry(wl)
    t2 = time.perf_counter()
    spark.range(1000, numPartitions=4).selectExpr("sum(id)").collect()
    wl.warm(spark)
    t3 = time.perf_counter()
    return spark, {"start": t1 - t0, "import": t2 - t1, "warmup": t3 - t2}


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # a later session in this process must launch a JVM of its own
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- any failure to exit: kill it
            proc.kill()
            proc.wait()


def _tail(latencies: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, or
    None when there are fewer than twenty samples."""
    n = len(latencies)
    for p in (99, 95, 90, 80, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(latencies, n=100, method="inclusive")[p - 1]
            return {"percentile": p, "value_s": q, "samples": n}
    return None


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        cores = _host_env(work)
        wl = workloads.WORKLOADS[workload](work, seed)
        wl.generate()
        rec = Recorder(trace)
        spark = jvm_pid = None
        setups = []
        for rep in range(SETUP_REPS):
            c0 = _cpu_s(jvm_pid)
            if spark is not None:
                spark.stop()
            spark, steps = _setup(wl, work, first=(rep == 0))
            jvm_pid = jvm_pid or spark._jvm.java.lang.ProcessHandle.current().pid()
            steps["cpu"] = _cpu_s(jvm_pid) - c0
            setups.append(steps)
        try:
            return _measure(wl, spark, rec, seed, seconds, cores, setups, jvm_pid)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def _measure(wl, spark, rec, seed, seconds, cores, setups, jvm_pid) -> dict:
    latencies: list[float] = []
    cpu: list[float] = []
    per_op: list[tuple[str, float]] = []
    failed = 0
    counters0 = spark_counters(spark) if rec.enabled else None
    loop_t0 = time.perf_counter()
    for ops in wl.passes():
        for op in ops:
            op_id = rec.next_op()
            c0 = _cpu_s(jvm_pid)
            t0 = time.perf_counter()
            try:
                result = wl.run(spark, op, rec, op_id)
            except Exception:  # noqa: BLE001 -- a failed op is counted, the run goes on
                traceback.print_exc()
                failed += 1
                continue
            dt = time.perf_counter() - t0
            cpu.append(_cpu_s(jvm_pid) - c0)
            latencies.append(dt)
            per_op.append((op, dt))
            wl.record(op, result)
        if time.perf_counter() - loop_t0 >= seconds:
            break
    loop_wall = time.perf_counter() - loop_t0
    counters1 = spark_counters(spark) if rec.enabled else None
    memo_live = len(wl.mods["cache"]._MEMO.get(spark, {}))
    peak_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024

    layer = {}
    if rec.enabled:
        layer = wl.probe(spark, rec, reps=3)
    wl.check()
    for i, found in sorted(wl.problems.items()):
        print(f"# check failed: op {i} ({per_op[i][0]}): {'; '.join(found)}", file=sys.stderr)
    attempted = len(per_op) + failed
    failed += len(wl.problems)

    info = {
        "workload": wl.name,
        "seed": seed,
        "ops": len(latencies),
        "loop_wall_s": loop_wall,
        "setup_reps": setups,
        "setup_wall_p50_s": statistics.median(s["start"] + s["import"] + s["warmup"] for s in setups),
        "op_wall_p50_s": statistics.median(latencies) if latencies else None,
        "ops_per_wall_s": len(latencies) / sum(latencies) if latencies else None,
        "op_wall_tail": _tail(latencies),
        "op_cpu_p50_s": statistics.median(cpu) if cpu else None,
        "peak_rss_mb": peak_mb,
    }
    if not rec.enabled:
        metrics = {
            "setup_s": (statistics.median(s["cpu"] for s in setups), "s"),
            "ops_per_cpu_s": (len(cpu) / sum(cpu), "1/s"),
        }
    else:
        metrics = _layer_metrics(wl, rec, setups, counters0, counters1, loop_wall, cores, layer, memo_live)
        metrics["memory.peak_rss_mb"] = (peak_mb, "MB")
        info["self_s"] = rec.self_times()
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"spans-{wl.name}-{seed}.json")
        rec.write(path)
        info["spans_file"] = os.path.relpath(path, ROOT)
    by_op: dict[str, list[tuple[float, float]]] = {}
    for (op, dt), c in zip(per_op, cpu):
        by_op.setdefault(op, []).append((dt, c))
    info["op_p50_by_name"] = {
        k: {"wall_s": statistics.median(w for w, _ in v), "cpu_s": statistics.median(c for _, c in v)}
        for k, v in sorted(by_op.items())
    }
    print("# " + json.dumps(info))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer_metrics(wl, rec, setups, c0, c1, loop_wall, cores, layer, memo_live) -> dict:
    """Per-layer metrics of a traced run; every workload reports each.

    - ``session.*``: wall time of the cold set-up's steps, and the median
      wall time of the in-JVM restarts;
    - ``sources.read_s``: median input read through ``sources`` into a
      noop sink (the CSV folder scan, or one ``load_table`` per table);
    - ``plans.build_s`` / ``plans.execute_s``: median time of a plan
      call (memo builds included) and of running it; for the sales
      pipeline, of each transform over the cached raw input;
    - ``cache.*``: session-memo growth over the ops, entries at the end;
    - ``spark.*``: executor- and stage-counter deltas over the timed
      ops (task time and task CPU time summed over tasks);
    - ``trace.overhead_s``: time the recorder spent on its own
      bookkeeping.
    """

    def med(name: str) -> float:
        d = rec.durations(name)
        return statistics.median(d) if d else 0.0

    delta = {k: c1[k] - c0[k] for k in c1}
    task_s = delta["task_run_ms"] / 1000.0
    return {
        "session.start_s": (setups[0]["start"], "s"),
        "session.registry_import_s": (setups[0]["import"], "s"),
        "session.warmup_s": (setups[0]["warmup"], "s"),
        "session.restart_s": (statistics.median(s["start"] + s["import"] + s["warmup"] for s in setups[1:]), "s"),
        "sources.read_s": (med("sources.read"), "s"),
        "sources.rows": (layer["sources.rows"], "count"),
        "plans.build_s": (med("plans.build"), "s"),
        "plans.execute_s": (med("plans.execute"), "s"),
        "sinks.bytes_written": (layer["sinks.bytes_written"], "bytes"),
        "cache.memo_builds": (float(sum(s.counts.get("memo_builds", 0) for s in rec.spans)), "count"),
        "cache.memo_entries_live": (float(memo_live), "count"),
        "spark.tasks": (float(delta["tasks"]), "count"),
        "spark.failed_tasks": (float(delta["failed_tasks"]), "count"),
        "spark.input_bytes": (float(delta["input_bytes"]), "bytes"),
        "spark.shuffle_read_bytes": (float(delta["shuffle_read_bytes"]), "bytes"),
        "spark.shuffle_write_bytes": (float(delta["shuffle_write_bytes"]), "bytes"),
        "spark.task_s": (task_s, "s"),
        "spark.task_cpu_s": (delta["task_cpu_ns"] / 1e9, "s"),
        "spark.core_busy_ratio": (task_s / (loop_wall * cores), "ratio"),
        "trace.overhead_s": (rec.overhead_s, "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, workloads.ENGINE)):
        print(f"perfbench: no {workloads.ENGINE}/ under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
