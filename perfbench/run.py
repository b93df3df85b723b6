"""Tiling benchmark: one workload, one process, one JSON result line.

Usage (from the repository root):

  python3 perfbench/run.py --workload pyramid_sf0.1 --seed 0 --seconds 1 --trace 0

``--trace 0`` times closed-loop reps of the workload (the first in a
fresh session, more while ``--seconds`` of rep time has not passed)
and prints the end-to-end metrics; ``--trace 1`` runs the workload once
layer by layer with Spark's event log and the Python UDF profiler on,
and prints the per-layer metrics. The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give the effective Spark confs, the host calibration burns and the
full per-rep (or per-layer) record.

``--pin-seeds 0,1,2`` records the output summaries of those seeds in
``pins.json`` instead of measuring.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS_PATH = os.path.join(HERE, "pins.json")
OUT_ROOT = os.path.join(ROOT, ".bench_out")
# every run must end well inside the 180 s a run is allowed
DEADLINE_S = 170.0
CALIB_LOOPS = 5_000_000
CALIB_DRIFT = 0.10
DRIVER_MEM = "4g"

END_TO_END = [("wall_s", "s"), ("cpu_s", "s"), ("setup_s", "s"),
              ("out_rows_per_s", "1/s")]


def per_layer_names() -> list:
    """The per-layer metrics a traced run reports, with their units."""
    std = [("plan_s", "s"), ("exec_s", "s"), ("rows_out", "count"), ("tasks", "count"),
           ("task_sum_s", "s"), ("max_task_s", "s"), ("skew", "ratio"),
           ("shuffle_write_mb", "MB"), ("gc_s", "s"), ("py_s", "s")]
    out = [("trace.wall_s", "s"), ("trace.plan_total_s", "s"), ("trace.jobs", "count"),
           ("trace.stages", "count"), ("trace.core_util", "ratio"),
           ("trace.sched_gap_s", "s"), ("trace.residual_s", "s"),
           ("trace.overhead_s", "s"), ("trace.peak_rss_mb", "MB"),
           ("session.start_s", "s"), ("session.exec_s", "s")]
    for layer in ("geocode", "classify", "assemble", "tileassign.cover",
                  "tileassign.rollup", "encode", "spatial.pip", "spatial.knn",
                  "textops.minhash"):
        out += [(f"{layer}.{m}", u) for m, u in std]
    out += [("tileassign.cover.fanout", "ratio"), ("tileassign.rollup.sentinel_share", "ratio"),
            ("encode.empty_tile_share", "ratio")]
    out += [(f"pipeline.checkpoint.{m}", u) for m, u in
            (("exec_s", "s"), ("tasks", "count"), ("task_sum_s", "s"),
             ("shuffle_write_mb", "MB"), ("output_mb", "MB"), ("write_jobs", "count"),
             ("lineage_jobs", "count"), ("lineage_s", "s"), ("resume_s", "s"))]
    out += [("pipeline.sink.exec_s", "s"), ("pipeline.sink.tiles_written", "count")]
    return out


# ------------------------------------------------------------ host

def burn() -> float:
    """1-process pure-CPU burn (host calibration), seconds."""
    t0 = time.perf_counter()
    x = 0
    for i in range(CALIB_LOOPS):
        x += i * i
    return time.perf_counter() - t0


def _proc_stats() -> dict:
    """{pid: fields of /proc/<pid>/stat after the command name}."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                out[int(pid)] = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(stats: dict, root_pid: int) -> list:
    kids: dict = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own and reaped children's) of
    ``root_pid`` and its descendants. Time the hypervisor steals from
    the VM is not in it, so it moves less with co-tenant load than
    wall time does."""
    stats = _proc_stats()
    ticks = sum(sum(int(x) for x in stats[pid][11:15])
                for pid in _tree(stats, root_pid) if pid in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_hwm_mb(root_pid: int) -> dict:
    """{pid: peak resident set (VmHWM), MB} of ``root_pid`` and its descendants."""
    out = {}
    for pid in _tree(_proc_stats(), root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return out


class RssSampler:
    """Background sampler of the driver process tree's memory: the
    largest sum, over the processes alive at one sample, of each one's
    own peak resident set (the kernel's high-water mark, so a peak
    between samples still counts)."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, sum(tree_hwm_mb(os.getpid()).values()))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ----------------------------------------------------------- session

def prepare_env(out_dir: str, trace: bool) -> None:
    """Environment for the Spark JVM and Python workers: the checkout on
    the workers' path, every scratch file inside ``out_dir``, a driver
    heap that fits a 16 GB host, and (traced) an uncompressed event log
    in one file."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        log_dir = os.path.join(out_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell"])


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from tilemaker_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Py4J gateway and wait for its JVM to exit (the JVM exits
    when its stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def effective_confs(spark) -> dict:
    confs = dict(spark.sparkContext.getConf().getAll())
    for k in ("spark.sql.shuffle.partitions", "spark.sql.pyspark.udf.profiler",
              "spark.python.sql.dataFrameDebugging.enabled"):
        confs[k] = spark.conf.get(k, None)
    return {k: confs[k] for k in sorted(confs)
            if not k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port",
                                 "spark.executor.id", "spark.sql.warehouse"))
            and not k.endswith("extraJavaOptions")}


def setup(seed: int):
    """Session start plus input load; -> (spark, docs, start_s, total_s)."""
    import workloads as W

    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    docs = W.load_docs(spark, seed)
    return spark, docs, t1 - t0, time.perf_counter() - t0


# --------------------------------------------------------------- reps

class Run:
    """Attempts, failures and the checked output of one benchmark run."""

    def __init__(self, workload: str, seed: int, t_start: float):
        self.pin = load_pins().get(workload, {}).get(str(seed))
        self.first: dict | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.cpu_s: list = []       # process-tree CPU seconds of each rep
        self.t_start = t_start

    def remaining(self) -> float:
        return DEADLINE_S - (time.perf_counter() - self.t_start)

    def expect(self, ok: bool, error: str) -> bool:
        """Count one attempted check; record ``error`` when it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(error)
        return ok

    def check(self, summary) -> bool:
        """Count one attempt; True when ``summary`` passes every check."""
        import workloads as W

        errs = (["no output"] if summary is None
                else W.check_summary(summary, self.pin, self.first))
        if not self.expect(not errs, "; ".join(errs)):
            return False
        if self.first is None:
            self.first = summary
        return True

    def attempt(self, spark, fn, *args):
        """``fn(*args)``, or None when it raised. Spark jobs still running
        at the run's deadline are cancelled, so ``fn`` raises."""
        timer = threading.Timer(max(1.0, self.remaining()), spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            return fn(*args)
        except Exception as exc:  # a failed attempt is a measured outcome
            traceback.print_exc()
            self.errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            return None
        finally:
            timer.cancel()

    def rep(self, spark, fn, *args):
        """One timed, checked rep; -> (seconds, summary or None)."""
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        summary = self.attempt(spark, fn, *args)
        dt = time.perf_counter() - t0
        self.cpu_s.append(tree_cpu_s(os.getpid()) - c0)
        self.check(summary)
        return dt, summary


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def result_line(run: Run, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def measure(workload: str, seed: int, seconds: float, run: Run) -> dict:
    """Untraced run: one set-up (JVM launch included), then reps until
    ``seconds`` of rep time (at least one; the first runs in the fresh
    session)."""
    import workloads as W

    rep_fn = W.WORKLOADS[workload]
    spark, docs, _, setup_s = setup(seed)
    print(json.dumps({"confs": effective_confs(spark)}), flush=True)
    walls = []
    while not walls or (sum(walls) < seconds and walls[-1] < run.remaining()):
        dt, _ = run.rep(spark, rep_fn, spark, docs)
        walls.append(dt)
    spark.stop()
    wall = statistics.median(walls)
    print(json.dumps({"reps": {"setup_s": setup_s, "wall_s": walls, "cpu_s": run.cpu_s},
                      "summary": run.first}), flush=True)
    return {"wall_s": wall, "cpu_s": statistics.median(run.cpu_s), "setup_s": setup_s,
            "out_rows_per_s": W.out_rows(run.first) / wall if run.first else 0.0}


def measure_traced(workload: str, seed: int, run: Run, out_dir: str) -> dict:
    """Traced run: a warm-up, the traced pass, then one untraced warm rep
    (the baseline of ``trace.overhead_s``). That rep comes after the
    traced pass because warm reps keep getting faster for a few reps;
    a rep before it would be slower and could make the overhead read
    below zero.

    The pyramid's warm-up is its checkpointed write path (so the write
    path's layers run cold, as a ``spark-submit`` of ``run_pyramid``
    would); the companions' is one untraced rep."""
    import eventlog
    import tracing
    import workloads as W

    t0 = time.time() * 1000.0
    spark, docs, start_s, total_s = setup(seed)
    tr = tracing.Tracer(spark)
    tr.set("session", start_s=start_s, exec_s=total_s - start_s,
           rows_in=0, rows_out=W.N_DOCS)
    tr.windows["session"] = [(t0, time.time() * 1000.0)]
    rep_fn = W.WORKLOADS[workload]
    if workload.startswith("pyramid"):
        ck = run.attempt(spark, tracing.checkpoint_sink, tr, spark, docs,
                         os.path.join(out_dir, "pyramid")) or {}
        # the write path and its resume must give the lazy path's bytes
        run.check(ck.get("summary"))
        run.check(ck.get("resumed"))
        run.expect(bool(ck) and ck["mbtiles_rows"] == ck["summary"]["tiles"],
                   f"mbtiles rows {ck.get('mbtiles_rows')} != tiles")
    else:
        run.rep(spark, rep_fn, spark, docs)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    print(json.dumps({"confs": effective_confs(spark)}), flush=True)
    t0 = time.time() * 1000.0
    summary = run.attempt(spark, tracing.PASSES[workload], tr, spark, docs, W.N_DOCS)
    pass_window = (t0, time.time() * 1000.0)
    run.check(summary)
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    untraced, _ = run.rep(spark, rep_fn, spark, docs)
    spark.stop()
    log = eventlog.parse(eventlog.read_events(
        eventlog.find_log(os.path.join(out_dir, "eventlog"))))
    trace = tracing.attach_eventlog(tr, log, pass_window, cores())
    trace["trace.overhead_s"] = trace["trace.wall_s"] - untraced
    print(json.dumps({"layers": tr.layers, "trace": trace, "untraced_wall_s": untraced,
                      "summary": summary}), flush=True)
    flat = dict(trace)
    for name, lay in tr.layers.items():
        flat.update({f"{name}.{k}": v for k, v in lay.items()})
    return {name: flat.get(name, 0) for name, _ in per_layer_names()}


def pin(workload: str, seeds: list) -> None:
    import workloads as W

    pins = load_pins()
    spark = start_session()
    for seed in seeds:
        docs = W.load_docs(spark, seed)
        pins.setdefault(workload, {})[str(seed)] = W.WORKLOADS[workload](spark, docs)
        docs.unpersist()
        print(workload, seed, pins[workload][str(seed)], flush=True)
    spark.stop()
    with open(PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-seeds", default=None)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tilemaker_spark", "__init__.py")):
        print(f"perfbench: no tilemaker_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(OUT_ROOT, f"{args.workload}-{os.getpid()}")
    prepare_env(out_dir, bool(args.trace))
    try:
        if args.pin_seeds is not None:
            pin(args.workload, [int(s) for s in args.pin_seeds.split(",")])
            return 0
        t_start = time.perf_counter()
        run = Run(args.workload, args.seed, t_start)
        calib_before = burn()
        if args.trace:
            with RssSampler() as rss:
                metrics = measure_traced(args.workload, args.seed, run, out_dir)
            metrics["trace.peak_rss_mb"] = rss.peak_mb
            units = dict(per_layer_names())
        else:
            metrics = measure(args.workload, args.seed, args.seconds, run)
            units = dict(END_TO_END)
        calib_after = burn()
        drift = abs(calib_after - calib_before) / calib_before
        print(json.dumps({"calib_s": [calib_before, calib_after], "calib_drift": drift,
                          "host_drift_flag": drift > CALIB_DRIFT,
                          "failed_share": run.failed / max(run.attempted, 1),
                          "errors": run.errors[:10],
                          "elapsed_s": time.perf_counter() - t_start}), flush=True)
        print(result_line(run, metrics, units), flush=True)
        return 0
    finally:
        stop_jvm()
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
