"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload documents --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` (untimed), starts the program from a cold JVM, runs the
workload's untimed warm-up iterations (the cold first one included;
all of this is ``setup_s``), then timed closed-loop iterations with one
client for ``--seconds`` (at least the workload's ``min_timed`` of
them), checks the outputs, and prints the metrics. ``--trace 1`` runs
the same loop with Spark's event log on, alternating traced and
untraced timed iterations, and prints the per-layer metrics instead.
Every file it writes lives under ``perfbench/.work`` and is removed at
exit, except the run record in ``perfbench/.work/results``."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "auraverse_etl_pipeline_spark"
REQUIRED = (
    os.path.join(PACKAGE, "__init__.py"),
    os.path.join("tests", "fixtures", "messy_doc_1.txt"),
    os.path.join("tests", "fixtures", "messy_doc_2.txt"),
)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark's task slots: half the machine's cores. The other half is
    left to the JVM's JIT and GC threads, the driver and the threads
    feeding the Python workers; with a slot on every core the timings
    followed the host's scheduler more than the program."""
    return max(1, cpu_count() // 2)


def load_avg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, command name, CPU seconds of the process and
    its reaped children) for every process in ``/proc``."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                head, rest = fh.read().rsplit(")", 1)
        except OSError:
            continue
        f = rest.split()
        out[int(d)] = (int(f[1]), head.split("(", 1)[1], sum(int(x) for x in f[11:15]) / tick)
    return out


def _descendants(pid: int, table) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c, (pp, _name, _cpu) in table.items():
            if pp == p:
                todo.append(c)
                out.append(c)
    return out


def python_descendants(pid: int) -> list[int]:
    """The Python processes below ``pid``: Spark's worker daemon and
    the workers it forks."""
    table = _proc_table()
    return [c for c in _descendants(pid, table) if table[c][1].startswith("python")]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the JVM and Spark's Python workers), exited ones included."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][2] for p in [me, *_descendants(me, table)] if p in table)


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's CPUs so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_mem_mb(spark) -> dict[str, float]:
    """Peak memory the program used, in parts: the driver's Python
    ``VmHWM``, the JVM's peak used heap and non-heap (each memory
    pool's peak usage), and the ``VmHWM`` of the Python workers still
    alive. ``total`` is their sum."""
    from pyspark import SparkContext

    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {"driver_python": vm_hwm_mb(os.getpid()), "jvm_heap": 0.0, "jvm_non_heap": 0.0}
    pools = {}
    for p in mf.getMemoryPoolMXBeans():
        key = "jvm_heap" if p.getType().toString() == "Heap memory" else "jvm_non_heap"
        pools[p.getName()] = p.getPeakUsage().getUsed() / 2**20
        out[key] += pools[p.getName()]
    workers = python_descendants(SparkContext._gateway.proc.pid)
    out["python_workers"] = sum(vm_hwm_mb(p) for p in workers)
    out["python_worker_processes"] = len(workers)
    out["total"] = sum(v for k, v in out.items() if k != "python_worker_processes")
    out["jvm_pools"] = pools
    return out


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def isolate_temp(work: str) -> str:
    """Point every temp-file user (Python, the JVM, Spark's local dirs)
    inside the run's work directory, and make the package importable
    by the Python workers Spark starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the short-lived launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    return tmp


def spark_conf(tmp: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no perf-data file: the JVM would write it to /tmp
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def warmup(spark) -> None:
    """One SQL job and one Python-worker job: what any first user call pays."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(lambda it: it, "id long").collect()


def stop_spark() -> None:
    """Stop any active SparkContext, shut the py4j gateway down and wait
    for the JVM (and with it Spark's Python workers) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def labelled(tracer):
    """Tag jobs with the program module that triggered them, while the
    tracer is on."""
    import spans as spans_mod

    return spans_mod.label_jobs_by_module() if tracer.enabled else contextlib.nullcontext()


def run(args) -> dict:
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> dict:
    import spans as spans_mod
    import spec
    from workloads import WORKLOADS

    cores = spark_cores()
    tmp = isolate_temp(work)
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpu_count(),
        "master": f"local[{cores}]",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_avg_1m_before": load_avg(),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "loop": "closed",
        "clients": 1,
    }
    t_run = time.perf_counter()
    phases = {}
    tracer = spans_mod.Tracer(enabled=False)
    wl = WORKLOADS[args.workload](ROOT, work, args.seed, args.tiny, tracer)
    wl.generate()
    phases["generate"] = time.perf_counter() - t_run

    sys.path.insert(0, ROOT)
    import pandas
    import pyarrow
    import pyspark

    from auraverse_etl_pipeline_spark.runtime import ship_package
    from auraverse_etl_pipeline_spark.session import get_spark

    meta.update(spark=pyspark.__version__, pandas=pandas.__version__, pyarrow=pyarrow.__version__)

    # One set-up from a cold JVM, as a cron-style run pays it.
    tracer.enabled = bool(args.trace)
    conf = spark_conf(tmp, event_dir)
    t0 = time.perf_counter()
    with labelled(tracer):
        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{cores}]",
                shuffle_partitions=2 * cores,
                extra_conf=conf,
            )
        tracer.bind(spark)
        with tracer.span("runtime.ship_package"):
            ship_package(spark)
        warmup(spark)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    attempted = failed = 0
    notes: list[str] = []
    iter_s: list[float] = []
    # traced runs only: warm iterations with the tracer off, in the
    # same session, for trace.overhead_s
    untraced_s: list[float] = []
    cpu_s: list[float] = []
    stolen_s: list[float] = []

    def one(i: int) -> float:
        nonlocal attempted, failed
        c0, st0 = tree_cpu_s(), steal_s()
        t0 = time.perf_counter()
        try:
            with labelled(tracer):
                a, f = wl.iterate(spark, i)
        except Exception as exc:  # a failed operation is counted, not fatal
            a, f = 1, 1
            notes.append(f"iteration {i}: {type(exc).__name__}: {str(exc)[:300]}")
        dt = time.perf_counter() - t0
        cpu_s.append(tree_cpu_s() - c0)
        stolen_s.append(steal_s() - st0)
        try:
            pa, pf, pn = wl.after_iteration(spark)
        except Exception as exc:  # a failed check is counted, not fatal
            pa, pf, pn = 1, 1, [f"check after iteration {i}: {type(exc).__name__}: {str(exc)[:300]}"]
        a, f = a + pa, f + pf
        notes.extend(pn)
        attempted += a
        failed += f
        return dt

    t_start = time.perf_counter()
    # Warm-up iterations, kept out of iter_s: the cold first one with the tracer
    # still on, then the rest untraced. They count toward set-up, so
    # work moved out of the timed iterations into them still shows.
    warmup_s = [one(0)]
    tracer.enabled = False
    while len(warmup_s) < wl.warmups:
        warmup_s.append(one(len(warmup_s)))
    setup_s = start_s + sum(warmup_s)
    t_timed = time.perf_counter()
    i = len(warmup_s)
    while (
        len(iter_s) < wl.min_timed
        or (args.trace and len(untraced_s) < wl.min_timed)
        or time.perf_counter() - t_timed < args.seconds
    ):
        # traced runs alternate: odd iterations traced, even ones not
        tracer.enabled = bool(args.trace) and i % 2 == 1
        (iter_s if tracer.enabled or not args.trace else untraced_s).append(one(i))
        i += 1
    tracer.enabled = False

    notes.extend(wl.notes)
    phases["measure"] = time.perf_counter() - t_start
    ca, cf, cn = wl.check_once(spark)
    attempted += ca
    failed += cf
    notes.extend(cn)

    phases["check"] = time.perf_counter() - t_start - phases["measure"]
    mem = peak_mem_mb(spark)
    spark.stop()

    phases["total"] = time.perf_counter() - t_run
    warm_total = sum(iter_s)
    e2e = {
        "setup_s": setup_s,
        "iter_s": statistics.median(iter_s),
        "items_per_s": wl.items_per_iter * len(iter_s) / warm_total,
        "peak_mem_mb": mem["total"],
    }
    record = {
        "meta": meta,
        "workload": spec.WORKLOADS[args.workload],
        "inputs": {"digest": wl.digest, "planted": wl.planted, "items_per_iter": wl.items_per_iter},
        "samples": {
            "start_s": start_s,
            "warmup_s": warmup_s,
            "first_iter_s": warmup_s[0],
            "timed_iterations": len(iter_s),
            "iter_s_all": iter_s,
            "cpu_s_all": cpu_s,
            "steal_s_all": stolen_s,
        },
        "phases_s": phases,
        "end_to_end": e2e,
        "workload_metrics": wl.extra,
        "workload_record": wl.record,
        "memory_mb": mem,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
    }
    if args.trace:
        log = spans_mod.parse_event_log(event_dir)
        layer = spans_mod.layer_metrics(tracer.spans, log, cores)
        layer["spark.failed_tasks"] = float(sum(j["failed_tasks"] for j in log["jobs"]))
        layer["trace.iter_s"] = e2e["iter_s"]
        layer["trace.overhead_s"] = e2e["iter_s"] - statistics.median(untraced_s)
        wl.finish(layer)
        record["samples"]["untraced_iter_s_all"] = untraced_s
        record["per_layer_all"] = layer
        record["module_split"] = spans_mod.module_split(log, tracer.spans)
        record["trigger_split"] = spans_mod.module_split(log, tracer.spans, "trigger")
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in spec.per_layer_units()}
    else:
        wl.finish(None)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in spec.end_to_end_units()}
    meta["load_avg_1m_after"] = load_avg()
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-{'traced' if args.trace else 'untraced'}-{args.seed}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return {
        "record": record,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def report(out: dict) -> None:
    import spec

    rec = out["record"]
    meta = rec["meta"]
    print(f"workload {meta['workload']} seed {meta['seed']} {meta['master']} "
          f"loop {meta['loop']} clients {meta['clients']} "
          f"load {meta['load_avg_1m_before']:.2f}->{meta['load_avg_1m_after']:.2f}")
    print(f"inputs digest {rec['inputs']['digest'][:16]} planted {json.dumps(rec['inputs']['planted'])}")
    units = dict(spec.end_to_end_units())
    sm = rec["samples"]
    for k, v in rec["end_to_end"].items():
        n = sm["timed_iterations"] if k in ("iter_s", "items_per_s") else 1
        print(f"  {k} = {v:.6g} {units[k]} (n={n})")
    print(f"  set-up parts: start_s = {sm['start_s']:.6g} s, first_iter_s = {sm['first_iter_s']:.6g} s, "
          f"warm-up iterations {[round(x, 3) for x in sm['warmup_s'][1:]]} s")
    for k, v in rec["workload_metrics"].items():
        print(f"  {k} = {v:.6g}")
    print(f"  memory_mb: {json.dumps({k: round(v, 1) for k, v in rec['memory_mb'].items() if k != 'jvm_pools'})}")
    for k, v in rec["workload_record"].items():
        print(f"  {k}: {json.dumps(v)}")
    print(f"  fail_ratio = {rec['fail_ratio']:.6g} ({rec['failed']}/{rec['attempted']})")
    if "module_split" in rec:
        for mod, row in sorted(rec["module_split"].items()):
            print(f"  module {mod}: jobs={row['jobs']} task_run_s={row['task_run_s']:.3f}")
        print(f"  untraced warm iterations (same session): {rec['samples']['untraced_iter_s_all']}")
        for k, v in out["result"]["metrics"].items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    for n in rec["notes"]:
        print(f"  note: {n}")
    print(json.dumps(out["result"]), flush=True)


def main(argv=None) -> int:
    import spec

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    report(run(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
