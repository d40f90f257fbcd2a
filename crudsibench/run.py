#!/usr/bin/env python3
"""crudsibench: one workload of the linkml-store-spark benchmark, in one
fresh process with one closed-loop client (one request in flight).

    python3 crudsibench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` into a fresh directory under ``.crudsibench/`` in the checkout,
starts Spark as ``local[<cores>]``, builds or opens the workload's stores,
warms up, then sends requests for ``--seconds`` seconds. After the loop it
checks every answer (untimed) and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
from a run in which every other request is traced (see ``layertrace.py``).
``--corrupt 1`` spoils one kept answer before the check, which must then
report ``"correct": false``. See ``crudsibench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

READ_KINDS = ("find", "count", "facet", "agg", "knn")


def benchmark_spec():
    """BENCHMARK.json: the metric names and units every run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def process_age_s():
    """Seconds since this process started (kernel start time, 10 ms)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb():
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


class Context:
    """What every workload shares: the session, the seed and the run's
    fresh directories (all inside the checkout, removed at exit)."""

    def __init__(self, seed, run_dir):
        self.seed = seed
        self.root = ROOT
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.spark = None
        os.makedirs(self.tmp_dir)

    def fresh_dir(self, name):
        d = os.path.join(self.run_dir, "stores", name)
        os.makedirs(d)
        return d


def isolate(run_dir):
    """Point every scratch location of Python, the JVM and Spark into the
    run directory, before the JVM starts."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return cores, {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
    }


def start_session(cores, conf):
    from linkml_store_spark.session import get_spark

    spark = get_spark(app_name="crudsibench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — TimeoutExpired: force it
                proc.kill()
                proc.wait()
        for pid in children:
            _wait_gone(pid)


def _descendants(pid):
    kids = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _wait_gone(pid, timeout=30.0):
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}"):
        if time.monotonic() > deadline:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


# ---------------------------------------------------------------------- #
def run(args, ctx, cores, conf):
    import data
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    t = time.perf_counter()
    data.write_tables(ctx.data_dir, args.seed, wl_cls.tables)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    ctx.spark = start_session(cores, conf)
    session_s = time.perf_counter() - t
    wl = wl_cls(ctx)
    t = time.perf_counter()
    wl.open()
    open_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t

    tracer = None
    if args.trace:
        from layertrace import Tracer

        tracer = Tracer(ctx.spark)
        tracer.install()

    setup_s = process_age_s() - gen_s
    attempted = failed = 0
    untraced = []  # (shape, seconds) of requests run with tracing off
    start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        if elapsed >= args.seconds and (wl.enough() or elapsed >= 4 * args.seconds):
            break
        req = wl.next_request()
        traced = tracer is not None and attempted % 2 == 0
        attempted += 1
        if traced:
            tracer.begin(attempted, req.kind)
        t0 = time.perf_counter()
        try:
            answer = req.fn()
        except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
            failed += 1
            traceback.print_exc(file=sys.stderr)
            if traced:
                tracer.end(req.kind, req.shape, time.perf_counter() - t0)
            continue
        dt = time.perf_counter() - t0
        if traced:
            tracer.end(req.kind, req.shape, dt)
        elif tracer is not None:
            untraced.append((req.shape, dt))
        wl.answered(req, answer, dt)
    loop_s = time.perf_counter() - start
    rss_mb = peak_rss_mb()
    if tracer is not None:
        tracer.uninstall()

    t = time.perf_counter()
    if args.corrupt:
        wl.corrupt()
    failures = wl.check()
    check_s = time.perf_counter() - t
    for msg in failures[:20]:
        print(f"check failed: {msg}", file=sys.stderr)
    diagnostics = []
    if tracer is not None and hasattr(wl, "known_defect_probe"):
        diagnostics.append(wl.known_defect_probe())
    print(f"crudsibench: {args.workload} inputs {gen_s:.1f}s session {session_s:.1f}s "
          f"open {open_s:.1f}s warmup {warmup_s:.1f}s loop {loop_s:.1f}s "
          f"check {check_s:.1f}s", file=sys.stderr)

    spec = benchmark_spec()
    if tracer is None:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        kinds = wl.kind_p50_ms()
        metrics = {"setup_s": setup_s, "driver_rss_mb": rss_mb}
        metrics.update(headline(kinds))
        diagnostics.append({"kind_p50_ms": kinds})
    else:
        # every per-layer metric, 0 where the workload does not reach the layer
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(layer_metrics(wl, tracer, untraced))
        metrics.update({"session.start_s": session_s, "store.open_s": open_s,
                        "warmup_s": warmup_s})
        os.makedirs(os.path.join(ROOT, ".crudsibench"), exist_ok=True)
        tracer.write(os.path.join(
            ROOT, ".crudsibench", f"trace-{args.workload}-seed{args.seed}.json"))
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, diagnostics


def headline(kinds):
    """The two latency metrics every workload reports, from the median of
    each of its request kinds (never a percentile over mixed kinds):
    ``round_ms``, one request of each kind at its median, which the costly
    kinds dominate; and ``kind_geomean_ms``, their geometric mean, in which
    each kind's relative change counts the same."""
    vals = list(kinds.values())
    return {"round_ms": sum(vals), "kind_geomean_ms": statistics.geometric_mean(vals)}


def layer_metrics(wl, tracer, untraced):
    reqs = tracer.requests
    out = {}
    reads = [r for r in reqs if r["kind"] in READ_KINDS]
    if reads:
        n = len(reads)
        out["api.self_ms_per_read"] = sum(
            r["wall_s"] - r["localtier_s"] - r["job_ms"] / 1000 for r in reads) / n * 1000
        out["where.compile_ms_per_read"] = sum(r["where_s"] for r in reads) / n * 1000
        out["localtier.ms_per_read"] = sum(r["localtier_s"] for r in reads) / n * 1000
        out["localtier.read_frac"] = sum(
            1 for r in reads if r["localtier_s"] > 0 and r["jobs"] == 0) / n
    races = [r for r in reqs if r["calls"].get("ab.record_ab_winner")]
    out["ab.races"] = sum(r["calls"]["ab.record_ab_winner"] for r in races)
    if races:
        out["ab.race_ms"] = statistics.median(r["wall_s"] for r in races) * 1000
    out["ab.sidecar_writes"] = sum(r["sidecar_writes"] for r in reqs)
    if reqs:
        n = len(reqs)
        mb = 1024 * 1024
        for key, src, scale in (("spark.jobs_per_op", "jobs", 1),
                                ("spark.stages_per_op", "stages", 1),
                                ("spark.tasks_per_op", "tasks", 1),
                                ("spark.executor_run_ms_per_op", "executor_run_ms", 1),
                                ("spark.shuffle_read_mb", "shuffle_read_b", mb),
                                ("spark.shuffle_write_mb", "shuffle_write_b", mb),
                                ("spark.spill_mb", "spill_b", mb),
                                ("udf.rows_to_python", "udf_rows", 1),
                                ("udf.bytes_to_python", "udf_bytes", 1)):
            out[key] = sum(r[src] for r in reqs) / n / scale
        out["spark.zero_job_frac"] = sum(1 for r in reqs if r["jobs"] == 0) / n
    out["trace.overhead_ms_per_op"] = overhead_ms(reqs, untraced)
    if getattr(wl, "user_bytes", 0):
        out["store.bytes_written_per_user_byte"] = wl.bytes_written / wl.user_bytes
    out.update(wl.layer_extra(reqs))
    return out


def overhead_ms(reqs, untraced):
    """Traced minus untraced time per request, shape by shape (medians),
    weighted by each shape's share of the traced requests."""
    traced, plain = {}, {}
    for r in reqs:
        traced.setdefault(r["shape"], []).append(r["wall_s"])
    for shape, s in untraced:
        plain.setdefault(shape, []).append(s)
    both = [s for s in traced if s in plain]
    n = sum(len(traced[s]) for s in both)
    if not n:
        return 0.0
    return sum(len(traced[s]) * (statistics.median(traced[s]) - statistics.median(plain[s]))
               for s in both) / n * 1000


def main(argv=None):
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import linkml_store_spark  # noqa: F401
    except ImportError as exc:
        print(f"crudsibench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"crudsibench: no __spark_entry__.py in {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".crudsibench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    ctx = None
    try:
        cores, conf = isolate(run_dir)
        ctx = Context(args.seed, run_dir)
        result, diagnostics = run(args, ctx, cores, conf)
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        t = time.perf_counter()
        if ctx is not None and ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"crudsibench: stop {time.perf_counter() - t:.1f}s", file=sys.stderr)
    for d in diagnostics:
        print(json.dumps({"diagnostic": d}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
