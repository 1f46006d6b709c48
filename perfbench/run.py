"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 1 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
before any timing. Set-up (``setup_s``) is the SparkSession start plus
one untimed warm-up iteration on inputs from a different seed; then
iterations on the seeded inputs repeat until ``--seconds`` have
passed, each checked, and each output deleted after its check.

``--trace 0`` reports the end-to-end metrics: ``rows_per_cpu_s``
(input rows per CPU second of the driver, its JVM and the JVM's Python
workers; the wall-clock ``rows_per_s`` is printed beside it),
``setup_s`` and ``peak_rss_mb``. ``--trace 1`` turns on
the Spark event log for this run only, records spans around the
workload's calls into each layer, and reports the per-layer metrics
(medians over the timed iterations); its ``trace.rows_per_s`` against
an untraced run's ``rows_per_s`` is the tracing overhead.

A table of every metric goes to stdout, and the last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
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
import uuid

ROOT = os.getcwd()
#: seed offset of the warm-up inputs, so set-up never sees the timed inputs
WARMUP_SEED_OFFSET = 1_000_003
DRIVER_MEMORY = "1g"
#: Spark task threads: at most 2, so the JVM's compiler and GC threads,
#: the Python workers and the driver keep spare CPUs on a shared host
SPARK_CORES = min(2, len(os.sched_getaffinity(0)))
#: JVM ergonomics that do not adapt to the host's load. Client JIT only:
#: with C2 the cold iteration took about three times the CPU, and the
#: later ones rode a compile curve whose slope the host's load sets.
#: Serial GC: G1 sizes the heap for its pause-time goal, so peak RSS
#: followed the host's speed.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every cache, scratch and temp directory of this run into
    ``work``, and let Spark's Python workers import the engine."""
    for sub in ("cache", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["MRIYA_SPARK_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # replaces get_spark's value, so it repeats the derby home
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'cache', 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTIONS}"
        ),
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


# ------------------------------------------------------------ memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    todo, out = list(kids.get(pid, [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process has exited
        return ""


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid``
    and every live descendant: the driver, its JVM and the JVM's Python
    workers. Time the hypervisor steals from the host's CPUs is not in
    it."""
    ticks = 0
    for p in [pid] + _descendants(pid):
        stat = _read(f"/proc/{p}/stat")
        if stat:
            ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(path: str, key: str) -> int:
    """The kB value of ``key`` in a /proc status-style file (0 if the
    process has exited)."""
    for line in _read(path).splitlines():
        if line.startswith(key):
            return int(line.split()[1])
    return 0


def _is_jvm(pid: int) -> bool:
    return _read(f"/proc/{pid}/comm").strip() == "java"


class PeakRss:
    """Peak memory of the benchmark's descendants: the driver JVM's
    resident high-water mark, which the kernel keeps exactly, plus the
    peak summed proportional set size of the Python workers, sampled
    every ``period_s`` (PSS, because the workers are forks that share
    most of their pages). Leave the block before the JVM exits."""

    def __init__(self, period_s: float = 0.25):
        self.jvm_hwm = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,), daemon=True)

    @property
    def peak(self) -> int:
        return self.jvm_hwm + self.workers_peak

    def _loop(self, period_s: float) -> None:
        me = os.getpid()
        while not self._stop.wait(period_s):
            total = sum(
                _status_kb(f"/proc/{p}/smaps_rollup", "Pss:")
                for p in _descendants(me)
                if not _is_jvm(p)
            )
            self.workers_peak = max(self.workers_peak, total * 1024)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        for p in _descendants(os.getpid()):
            if _is_jvm(p):
                self.jvm_hwm += _status_kb(f"/proc/{p}/status", "VmHWM:") * 1024


# ------------------------------------------------------------ main

def _shutdown(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit
    (it takes its Python workers with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _isolate(spark) -> None:
    from mriya_spark.caching import release_caches

    release_caches()
    spark.catalog.clearCache()


def _iterate(spark, wl, inputs, work: str, tracer, seconds: float):
    """Timed iterations until ``seconds`` have passed (at least one):
    wall and process-tree CPU seconds of each, and its outcome."""
    walls, cpus, outcomes = [], [], []
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        out_dir = os.path.join(work, f"iter-{len(walls)}")
        _isolate(spark)
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        outcomes.append(wl.run(spark, inputs, out_dir, tracer))
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(os.getpid()) - c0)
        shutil.rmtree(out_dir, ignore_errors=True)
    return walls, cpus, outcomes


def _per_layer(tracer, event_log: str, outcomes, walls, get_spark_s: float) -> dict:
    from perfbench import metrics, spans

    jobs = spans.parse_event_log(event_log)
    per_span = spans.span_metrics(tracer.spans, jobs)
    # one dict per iteration: spans are grouped under their root
    iters: list[dict[str, float]] = []
    for s in tracer.spans:
        if s.parent is None:
            iters.append({})
        iters[-1].update(metrics.span_values(s.name, per_span[s.span_id]))
    for vals, o in zip(iters, outcomes):
        vals.update(o.counts)
        if vals.get("streaming.batches"):
            vals["streaming.jobs_per_batch"] = (
                vals["streaming.drain.jobs"] / vals["streaming.batches"]
            )
    out = {"session.get_spark_s": get_spark_s}
    out["trace.rows_per_s"] = statistics.median(
        o.rows / w for o, w in zip(outcomes, walls)
    )
    for name, _, _ in metrics.per_layer():
        if name not in out:
            vals = [v[name] for v in iters if name in v]
            out[name] = statistics.median(vals) if vals else 0
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mriya_spark", "__init__.py")):
        _fail("run from the repository root: mriya_spark/ not found")
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    work = os.path.join(ROOT, ".perfbench", "runs", run_id)
    traces = os.path.join(ROOT, ".perfbench", "traces")
    configure_env(work)
    spark = None
    try:
        warm_inputs = wl.prepare(args.seed + WARMUP_SEED_OFFSET, os.path.join(work, "in-warm"))
        inputs = wl.prepare(args.seed, os.path.join(work, "in"))
        event_dir = os.path.join(work, "eventlog") if args.trace else None
        if event_dir:
            os.makedirs(event_dir)
        with PeakRss() as rss:
            t0 = time.perf_counter()
            from mriya_spark.session import get_spark

            spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, event_dir))
            spark.sparkContext.setLogLevel("ERROR")
            get_spark_s = time.perf_counter() - t0
            wl.run(spark, warm_inputs, os.path.join(work, "warm"), Tracer(False))
            shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)
            setup_s = time.perf_counter() - t0
            tracer = Tracer(bool(args.trace), spark.sparkContext)
            walls, cpus, outcomes = _iterate(spark, wl, inputs, work, tracer, args.seconds)
        app_id = spark.sparkContext.applicationId
        _shutdown(spark)  # also flushes the event log
        spark = None

        checks: dict[str, bool] = {}
        for o in outcomes:
            for k, v in o.checks.items():
                checks[k] = checks.get(k, True) and v
        checks["same_output_every_iteration"] = len({o.fingerprint for o in outcomes}) == 1
        attempted = sum(o.items for o in outcomes)
        failed = sum(o.failed for o in outcomes)
        rows_per_s = statistics.median(o.rows / w for o, w in zip(outcomes, walls))
        rows_per_cpu_s = statistics.median(o.rows / c for o, c in zip(outcomes, cpus))
        batch_ms = [b for o in outcomes for b in o.batch_ms]

        print(f"workload {args.workload} seed {args.seed}: {len(walls)} timed "
              f"iterations, {outcomes[0].rows} input rows each, "
              f"iteration s {[round(w, 3) for w in walls]}, "
              f"cpu s {[round(c, 2) for c in cpus]}")
        for name, ok in sorted(checks.items()):
            print(f"  check {name}: {'ok' if ok else 'FAILED'}")
        print(f"  items attempted {attempted}, failed {failed}, "
              f"failed_share {failed / max(1, attempted):.4f} share")
        print(f"  rows_per_s {rows_per_s:.1f} 1/s (wall clock); peak memory: "
              f"JVM {rss.jvm_hwm / 2**20:.0f} MB + Python workers "
              f"{rss.workers_peak / 2**20:.0f} MB")
        if batch_ms:
            print(f"  batch_p50_ms {statistics.median(batch_ms):.1f} ms "
                  f"({len(batch_ms)} micro-batches)")
        if args.trace:
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{run_id}.spans.jsonl"))
            values = _per_layer(
                tracer, os.path.join(event_dir, app_id), outcomes, walls, get_spark_s
            )
            units = {n: u for n, u, _ in metrics.per_layer()}
            print(f"  tracing overhead: compare trace.rows_per_s "
                  f"{values['trace.rows_per_s']:.1f} with an untraced run's rows_per_s")
        else:
            values = {
                "rows_per_cpu_s": rows_per_cpu_s,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = {n: u for n, u, _, _ in metrics.END_TO_END}
        for name, v in values.items():
            print(f"  {name:40s} {v:14.4f} {units[name]}")
        result = {
            "correct": all(checks.values()),
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
        }
        if args.trace:
            with open(os.path.join(traces, f"{run_id}.metrics.json"), "w") as f:
                json.dump(result, f)
        print(json.dumps(result))
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
