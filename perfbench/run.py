"""The engine's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_sliding_window --seed 1 \
        --seconds 25 --trace 0

Run from the root of a checkout. A closed loop with one client in one
process drives the engine on ``local[<usable cores>]``: set-up (Spark
start, seeded input generation, table preload), untimed warm-up ops, then a
fixed number of timed ops, ``round(seconds / nominal op length)``, so two
runs with the same arguments leave the same table state. Outputs are
checked after the timed phase; a failed check counts as a failed op.

``--trace 0`` prints the end-to-end metrics listed in BENCHMARK.json;
``--trace 1`` records a span around every layer call (see ``spans.py``) and
prints the per-layer metrics instead, then writes the spans to stderr.

Every run works in a private directory under ``.perfbench_work/`` in the
checkout (tables, TMPDIR, Spark local and warehouse dirs, Derby's cwd) and
deletes it at exit; a run that leaves anything else behind in the checkout
fails. Diagnostics go to stderr; the last stdout line is the result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_management_service_run_etl_imputations_spark"
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
# The driver JVM's heap is fixed and pre-touched: with a growable heap the
# peak resident size follows the garbage collector's sizing decisions and
# varied by 30-70 % between identical runs.
DRIVER_HEAP = "2g"

sys.dont_write_bytecode = True  # importing the engine must not leave __pycache__


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tree_snapshot() -> set[str]:
    """Every path in the checkout outside ``.git`` and the work dirs."""
    seen = set()
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if os.path.join(root, d) not in (WORK_PARENT, os.path.join(ROOT, ".git"))]
        rel = os.path.relpath(root, ROOT)
        seen.update(os.path.join(rel, n) for n in dirs + files)
    return seen


def isolate(work: str) -> dict[str, str]:
    """Point every temporary location of Python, Spark and Derby at ``work``
    and return the Spark confs that do the same for the JVM."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # JVMs keep a perf-data file under /tmp regardless of java.io.tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    os.chdir(work)  # Derby's metastore_db and derby.log land in the cwd
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work} "
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: the share of time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"engine package {PACKAGE}/ not found next to {HERE}: run from a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    import dml
    import etl

    workloads = {w.name: w for w in (etl.EtlSlidingWindow, dml.FactTableDml)}
    if args.workload not in workloads:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
        return 2
    cls = workloads[args.workload]
    n_ops = max(1, round(args.seconds / cls.nominal_op_s))

    ncpu = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    steal_start = cpu_steal()
    before = tree_snapshot()
    os.makedirs(WORK_PARENT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_PARENT)
    cwd = os.getcwd()
    spark = None
    try:
        conf = isolate(work)
        from data_management_service_run_etl_imputations_spark.session import get_session

        spark = get_session(
            app_name=f"perfbench-{args.workload}", master=f"local[{ncpu}]", extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - T_START
        result = run_workload(spark, cls, work, args, n_ops, spec, session_start_s)
    except Exception:  # noqa: BLE001 — a broken set-up prints no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_PARENT)  # only when no concurrent run still uses it
        except OSError:
            pass

    left = sorted(tree_snapshot() - before)
    if left:
        log(f"run left files in the checkout: {left[:10]}")
        result["correct"] = False
    steal_end = cpu_steal()
    log(json.dumps({
        "workload": args.workload, "seed": args.seed, "ops": n_ops, "cores": ncpu,
        "load_1m_start": load_start, "load_1m_end": os.getloadavg()[0],
        # a box whose 1-minute load already equals its core count was busy
        "started_loaded": load_start >= ncpu,
        "cpu_steal_share": (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1]),
    }))
    print(json.dumps(result))
    return 0


def run_workload(spark, cls, work, args, n_ops, spec, session_start_s) -> dict:
    import disk
    from spans import Tracer

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = cls(spark, work, args.seed, tracer, n_ops)
    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(wl.inputs, ignore_errors=True)
        t = time.perf_counter()
        wl.generate(wl.inputs)
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    wl.warm_up()
    # process start to first timed op, with input generation counted once
    # at its median over SETUP_REPEATS repeats
    setup_s = session_start_s + statistics.median(gen_s) + (time.perf_counter() - t)
    log(f"set-up {setup_s:.2f} s (session {session_start_s:.2f} s, inputs {gen_s})")

    spans_before = len(tracer.spans)
    bookkeeping_before = tracer.bookkeeping_s
    lat: list[float] = []
    failed_ops: set[int] = set()
    t_phase = time.perf_counter()
    for i in range(n_ops):
        t = time.perf_counter()
        try:
            with tracer.span(f"{wl.name}.op"):
                wl.op(i)
        except Exception:  # noqa: BLE001 — a raising op is a failed op
            traceback.print_exc()
            failed_ops.add(i)
        lat.append(time.perf_counter() - t)
    phase_s = time.perf_counter() - t_phase
    log(f"op seconds {[round(x, 3) for x in lat]}")
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    rss = (vm_hwm_mb("self"), vm_hwm_mb(proc.pid) if proc is not None else 0.0)
    log(f"peak rss python {rss[0]:.1f} MB, jvm {rss[1]:.1f} MB")

    problems = wl.check() if not failed_ops else [(None, "skipped: an op raised")]
    for i, msg in problems:
        log(f"check failed: {msg}")
    # a failed check counts as a failed op: its own op, or one more op
    failed = len(failed_ops | {i for i, _ in problems if i is not None})
    failed += sum(1 for i, _ in problems if i is None)
    failed = min(failed, n_ops)

    if args.trace:
        timed = tracer.spans[spans_before:]
        values = {"session.start_s": session_start_s}
        values.update(wl.layer_metrics(timed))
        values["trace.op_s.p50"] = statistics.median(lat)
        values["trace.bookkeeping_s"] = (tracer.bookkeeping_s - bookkeeping_before) / n_ops
        tracer.dump(sys.stderr)
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "ops_per_s": n_ops / phase_s,
            "op_s.p50": statistics.median(lat),
            "peak_rss_mb": sum(rss),
            "storage_amplification": disk.storage_amplification(
                wl.live_tables(), os.path.join(work, "compacted")
            ),
            "ops_ok_frac": 1 - failed / n_ops,
        }
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return {"correct": not problems and not failed_ops, "attempted": n_ops,
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
