"""perfbench: the repository's benchmark.

Runs one workload in a closed loop with one client (the next job starts only
after the previous one has finished) on a single-process Spark driver,
``local[<cores>]``, and prints every metric by name and unit. The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage (from any directory)::

    python3 perfbench/run.py --workload segment_image --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

``--trace 0`` reports the end-to-end metrics with tracing off. ``--trace 1``
turns the Spark event log on, records a span around every call into the
program, and reports the per-layer metrics; the spans and their counters are
written to ``.perfbench/trace/``. ``--workload all`` runs every workload
untraced and then traced, and prints the tracing overhead of each.

Everything the run writes (inputs, Spark scratch, event logs, results) stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import SIZES, WORKLOADS, Ctx, storage_mb  # noqa: E402

# name -> unit. Every workload reports every metric.
END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "jobs_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark.self_s": "s",
    "queries.load_all.self_s": "s",
    "chunked.map_overlap_tiles.self_s": "s",
    "chunked.map_overlap_tiles.python_run_s": "s",
    "chunked.map_overlap_tiles.python_mb": "MB",
    "chunked.map_overlap_tiles.shuffle_write_mb": "MB",
    "chunked.map_overlap_tiles.tasks": "count",
    "label_cc.label.self_s": "s",
    "label_cc.label.driver_s": "s",
    "label_cc.label.jobs": "count",
    "label_cc.label.python_run_s": "s",
    "caching.persist_tracked.stored_mb": "MB",
    "ndmeasure.measure.self_s": "s",
    "ndmeasure.measure.shuffle_write_mb": "MB",
    "caching.release_caches.self_s": "s",
    "sources.tables.load_table.self_s": "s",
    "textops.minhash_signatures.self_s": "s",
    "textops.minhash_signatures.executor_cpu_s": "s",
    "textops.minhash_signatures.input_mb": "MB",
    "textops.minhash_signatures.shuffle_write_mb": "MB",
    "textops.lsh_band_pairs.self_s": "s",
    "textops.lsh_band_pairs.shuffle_read_mb": "MB",
    "textops.lsh_band_pairs.fetch_wait_s": "s",
    "textops.lsh_band_pairs.spill_mb": "MB",
    "textops.lsh_band_pairs.precision": "ratio",
    "textops.lsh_keep_first.self_s": "s",
    "textops.lsh_keep_first.shuffle_write_mb": "MB",
    "similarity.ivf_topk.self_s": "s",
    "similarity.ivf_topk.driver_s": "s",
    "similarity.ivf_topk.jobs": "count",
    "similarity.ivf_topk.stages": "count",
    "similarity.ivf_topk.tasks": "count",
    "similarity.ivf_topk.rows_examined_per_result": "count",
}
# per-layer metrics computed from another: name -> (source, factor)
DERIVED = {
    "similarity.ivf_topk.rows_examined_per_result": (
        "similarity.ivf_topk.scan_rows", 1 / 10),
}
# A heap every run fills: G1's heap-growth timing otherwise moved
# peak_rss_mb by ~14% between runs of the same workload. It is ample for the
# inputs below.
DRIVER_MEMORY = "1g"


# --- processes --------------------------------------------------------------


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 1e6


class RssSampler:
    """Peak RSS of this process and all its descendants (driver, JVM and
    Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb([me, *descendants(me)]))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_children(timeout: float = 20.0) -> None:
    """Terminate every process this one started and wait until each has
    ended."""
    me = os.getpid()
    pids = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                    and _state(p) != "Z"]
            if not pids:
                return
            time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# --- session ----------------------------------------------------------------


def prepare_env() -> None:
    """Keep every file Spark and its workers write inside WORK, and let the
    Python workers import the program from the checkout."""
    for d in ("spark-local", "tmp", "io", "eventlog", "trace", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(path))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_IO_DIR"] = os.path.join(WORK, "io")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM, the launcher's too, would otherwise create /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tracer: trace.Tracer, traced: bool, app: str):
    """``session.get_spark`` on ``local[<cores>]``, then ``queries.load_all``,
    then a one-task job proving the Python workers can import the program."""
    from dask_image_spark import queries
    from dask_image_spark.session import get_spark

    confs = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        confs.update({
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with tracer.span("session.get_spark"):
        spark = get_spark(app, master=f"local[{cores()}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    with tracer.span("queries.load_all"):
        queries.load_all()
    try:
        spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("dask_image_spark").__name__).collect()
    except Exception as e:  # surfaces as a Py4J / Python worker error
        raise SystemExit(
            "perfbench: Spark's Python workers cannot import dask_image_spark "
            f"(PYTHONPATH={os.environ['PYTHONPATH']}): {e}") from e
    return spark


def stop_session() -> None:
    """Stop Spark, shut its JVM down, and end every process left behind."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    stop_children()


# --- one run ----------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than 11 samples."""
    n = len(latencies)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(latencies)[n - 11]


def measure(wl, spark, tracer: trace.Tracer, seconds: float, t_ready) -> dict:
    """Warm up, then run jobs back to back until ``seconds`` have passed
    (at least one job). ``t_ready()`` is called right before the first timed
    job and returns the set-up time."""
    ctx = Ctx(spark=spark, tracer=tracer)
    with tracer.span("bench.load_inputs"):
        wl.load(ctx)
    ctx.base_storage_mb = storage_mb(spark) if tracer.enabled else 0.0
    warm_errors = []
    for w in range(wl.warmup_jobs):
        tracer.job = -2
        err, _ = wl.check(-1 - w, wl.run(ctx, -1 - w), tracer)
        if err:
            warm_errors.append(err)
    setup_s = t_ready()
    latencies, errors, quality = [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        tracer.job = i
        t = time.perf_counter()
        try:
            out = wl.run(ctx, i)
            latencies.append(time.perf_counter() - t)
            err, q = wl.check(i, out, tracer)
        except Exception as e:  # a failing job is counted, not fatal
            latencies.append(time.perf_counter() - t)
            err, q = f"{type(e).__name__}: {e}", {}
        errors.append(err)
        quality.append(q)
        i += 1
        if time.perf_counter() >= deadline:
            break
    return {"setup_s": setup_s, "latencies": latencies, "errors": errors,
            "quality": quality, "warmup_errors": warm_errors,
            "loop_s": time.perf_counter() - (deadline - seconds)}


def run_one(name: str, seed: int, seconds: float, traced: bool, size: str) -> dict:
    prepare_env()
    try:
        import dask_image_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the program: {e}") from e

    wl = WORKLOADS[name](seed, size)
    wl.generate(os.path.join(WORK, "inputs", name))
    t = time.perf_counter()
    wl.reference()
    ref_s = time.perf_counter() - t

    tracer = trace.Tracer(enabled=traced)
    # a terminated run still stops the JVM and the Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with RssSampler() as rss:
        try:
            spark = start_session(tracer, traced, f"perfbench-{name}")
            app_id = spark.sparkContext.applicationId
            res = measure(wl, spark, tracer, seconds,
                          lambda: process_age() - ref_s)
        finally:
            stop_session()
    res["peak_rss_mb"] = rss.peak
    res["properties"] = wl.properties()
    res["workload"] = wl
    if traced:
        log = os.path.join(WORK, "eventlog", app_id)
        jobs, stages = trace.parse_event_log(log)
        trace.attribute(tracer.spans, jobs, stages)
        res["layers"] = trace.per_job_medians(tracer.spans)
        res["spans"] = trace.spans_json(tracer.spans)
        os.remove(log)
    return res


def counts(res: dict) -> tuple[int, int]:
    """(attempted, failed) jobs; a warm-up job counts only if it failed."""
    warm = len(res["warmup_errors"])
    return (len(res["latencies"]) + warm,
            sum(1 for e in res["errors"] if e) + warm)


def result_json(res: dict, traced: bool) -> dict:
    lat = res["latencies"]
    attempted, failed = counts(res)
    if traced:
        layers = res["layers"]
        metrics = {}
        for name, unit in PER_LAYER.items():
            src, factor = DERIVED.get(name, (name, 1.0))
            metrics[name] = {"value": layers.get(src, 0.0) * factor, "unit": unit}
    else:
        values = {
            "setup_s": res["setup_s"],
            "job_p50_s": statistics.median(lat),
            "jobs_per_s": len(lat) / res["loop_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def report(name: str, seed: int, traced: bool, res: dict, out: dict) -> list[str]:
    wl = res["workload"]
    lat = res["latencies"]
    lines = [f"perfbench {name} seed={seed} trace={int(traced)} "
             f"cores={cores()} jobs={len(lat)}"]
    for k, m in out["metrics"].items():
        lines.append(f"  {k:<48} {m['value']:.6g} {m['unit']}")
    if not traced:
        rate = len(lat) / res["loop_s"] * wl.work_per_job()
        lines.append(f"  {wl.unit.lower() + '_per_s':<48} {rate:.6g} {wl.unit}/s")
        lines.append(f"  {'error_rate':<48} "
                     f"{out['failed'] / out['attempted']:.6g} "
                     f"({out['failed']}/{out['attempted']})")
        for k in sorted({k for q in res["quality"] for k in q}):
            vals = [q.get(k, 0.0) for q in res["quality"]]
            lines.append(f"  {k:<48} {statistics.fmean(vals):.6g} ratio")
        t = tail(lat)
        lines.append(
            f"  {'job_tail_s':<48} "
            + (f"{t[1]:.6g} s (p{t[0]:.1f} of {len(lat)} jobs)" if t
               else f"n/a ({len(lat)} jobs; a tail needs at least 11)"))
    for e in [*res["warmup_errors"], *(e for e in res["errors"] if e)][:5]:
        lines.append(f"  FAILED: {e}")
    lines.append("  inputs: " + ", ".join(f"{k}={v}" for k, v in res["properties"].items()))
    return lines


def save(name: str, seed: int, traced: bool, res: dict, out: dict) -> dict:
    """Write the run to ``WORK``; a traced run also gets its tracing
    overhead against the untraced run of the same workload and seed, when
    there is one."""
    path = os.path.join(WORK, "trace" if traced else "results",
                        f"{name}-seed{seed}.json")
    doc = {"workload": name, "seed": seed, "trace": int(traced),
           "job_p50_s": statistics.median(res["latencies"]),
           "latencies_s": res["latencies"], "result": out,
           "inputs": res["properties"]}
    if traced:
        untraced = os.path.join(WORK, "results", f"{name}-seed{seed}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["job_p50_s"]
            doc["tracing_overhead"] = doc["job_p50_s"] / base
        doc["spans"] = res["spans"]
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    doc["path"] = path
    return doc


def run_all(args) -> int:
    """Every workload untraced, then traced, each in its own process."""
    summary = {}
    for name in WORKLOADS:
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(traced), "--size", args.size]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            if p.returncode != 0 or not lines:
                print(f"perfbench: {name} trace={traced} exited {p.returncode}")
                return 1
            summary[f"{name}/trace{traced}"] = json.loads(lines[-1])
        with open(os.path.join(WORK, "trace", f"{name}-seed{args.seed}.json")) as f:
            overhead = json.load(f).get("tracing_overhead")
        print(f"tracing overhead {name}: traced job_p50_s / untraced = {overhead:.4g}")
        summary[f"{name}/tracing_overhead"] = overhead
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(next(iter(SIZES.values()))),
                    default="full", help="input size; 'tiny' is for tests")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    traced = bool(args.trace)
    res = run_one(args.workload, args.seed, args.seconds, traced, args.size)
    out = result_json(res, traced)
    print("\n".join(report(args.workload, args.seed, traced, res, out)))
    doc = save(args.workload, args.seed, traced, res, out)
    if "tracing_overhead" in doc:
        print(f"  {'tracing_overhead':<48} {doc['tracing_overhead']:.6g} "
              "(traced job_p50_s / untraced job_p50_s)")
    print("  written: " + os.path.relpath(doc["path"], ROOT))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
