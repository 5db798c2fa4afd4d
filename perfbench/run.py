"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed (``datagen.py``), starts Spark on ``local[<nproc>]`` twice, each
time in a new process and JVM (``setup_s`` is the median), runs
the workload's timed laps, checks every output, stops every process it
started and prints, as the last line, ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run repeats its laps with
tracing on and reports the per-layer metrics instead. The line before
it is the full record of the run (host stamp, laps, operations,
failures), also written to ``.perfbench/record_<workload>_<trace>.json``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_PROCESS = time.perf_counter()

import pyarrow  # noqa: E402

import datagen  # noqa: E402 — the benchmark's own modules sit beside this file
from oracle import Oracle  # noqa: E402
from tracing import Tracer, check_fold, fold_event_logs, instrument_io  # noqa: E402
from workloads import WARMUP, WORKLOADS, Outcome  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: generated table size (row counts scale like the test data's sf)
SCALE = 0.01


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(pid: int) -> list[int]:
    children = _proc_children()
    out, stack = [], list(children.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds (user + system, own and reaped children's) of this
    process and all its descendants. Time the hypervisor steals from
    the host is not charged to any process, so this reads the same on
    a contended host."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_kb
            except (OSError, ValueError, IndexError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def host_fit() -> tuple[int, str]:
    """(cores, driver memory) for this host: every core, and a quarter
    of physical memory clamped to 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    mem_gb = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return cores, f"{mem_gb}g"


def source_stamp() -> str:
    """The git commit when the checkout is a repository, else a content
    hash of the package sources."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        import hashlib

        h = hashlib.sha256()
        pkg = os.path.join(ROOT, "baronbatch_etl_spark")
        for dirpath, dirs, files in sorted(os.walk(pkg)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
        return "src-" + h.hexdigest()[:16]


class Context:
    """One run's state: session, inputs, tracer and outcomes."""

    def __init__(self, args, work_dir: str, data_dir: str, cores: int) -> None:
        import numpy as np

        self.workload = args.workload
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.rng = np.random.default_rng(args.seed)
        self.work_dir, self.data_dir, self.cores = work_dir, data_dir, cores
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
        # records the set-ups, then only the traced laps (workloads._run_laps)
        self.tracer = Tracer(run_id, self.trace)
        self.outcome = Outcome()
        self.reference_outcome, self.traced_outcome = Outcome(), Outcome()
        #: (get_spark seconds, warm-up seconds, CPU seconds) per set-up
        self.setups: list[tuple[float, float, float]] = []
        self.event_dir = os.path.join(work_dir, "eventlog")
        self.spark = None
        self.cpu_clock = tree_cpu_seconds
        from baronbatch_etl_spark.queries import load_all

        self.registry = load_all()
        self.oracle = Oracle(ROOT, data_dir, self.registry)

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work_dir, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.work_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self) -> None:
        """One set-up: ``get_spark`` plus the fixed warm-up queries."""
        from baronbatch_etl_spark.session import get_spark

        tr = self.tracer
        c0, t0 = self.cpu_clock(), time.perf_counter()
        with tr.span("session", "session/start"):
            self.spark = get_spark("perfbench", extra_conf=self.conf())
        t1 = time.perf_counter()
        with tr.span("session", "session/warmup"):
            for q in WARMUP:
                self.registry[q].fn(self.spark, self.data_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
        self.setups.append((t1 - t0, time.perf_counter() - t1, self.cpu_clock() - c0))

    def restart_session(self) -> None:
        """A new Spark application in the running JVM."""
        self.spark.stop()
        self.start_session()
        self.setups.pop()  # only the run's initial set-ups are samples


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM and any process it left, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = [p for p in left if os.path.exists(f"/proc/{p}")]
            left = [p for p in left if _state(p) not in ("Z", None)]
        if not left:
            break
    # reap any exited children
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(ctx) -> dict[str, float]:
    """The bounded metrics are CPU seconds of the process tree: on a
    host whose hypervisor steals time, wall-clock readings of the same
    code spread past any usable bound, while stolen time is charged to
    no process. Wall-clock latency is reported by the traced run
    (``latency.*``) and kept in the record."""
    return {
        "cpu_s": statistics.median(ctx.outcome.lap_cpu),
        "setup_s": statistics.median(c for _, _, c in ctx.setups),
    }


def latency(out: Outcome) -> dict[str, float]:
    """Wall-clock latency of a set of laps: median lap, and the median
    operation (a lap holds 10 or 11 operations, too few for a higher
    percentile to have ten samples beyond it)."""
    ok = [op.seconds for op in out.ops if op.error is None] or [0.0]
    return {"latency.lap_s": statistics.median(out.laps), "latency.op_p50_s": quantile(ok, 0.5)}


def per_layer(ctx, fold: dict, peak_rss_mb: float) -> dict[str, float]:
    out = ctx.traced_outcome
    n = len(out.laps)
    self_s = ctx.tracer.self_seconds()
    spans = ctx.tracer.spans
    lay = out.layer
    wl = ctx.workload + "/"
    counters: dict[str, float] = {}
    build_jobs = 0.0
    for desc, c in fold["by_desc"].items():
        if desc.startswith(wl):
            for k, v in c.items():
                counters[k] = counters.get(k, 0.0) + v
            if desc.endswith("/build"):
                build_jobs += c.get("jobs", 0.0)

    def total(layer):
        return sum(s["end"] - s["start"] for s in spans if s["layer"] == layer)

    query_total = total("query")
    lap_total = sum(out.laps)
    untraced = statistics.median(ctx.reference_outcome.laps)
    per = lambda v: v / n  # noqa: E731 — every layer counter is per lap
    return {
        **latency(ctx.outcome),
        "session.setup_wall_s": statistics.median(a + b for a, b, _ in ctx.setups),
        "session.start_s": statistics.median(a for a, _, _ in ctx.setups),
        "session.warmup_s": statistics.median(b for _, b, _ in ctx.setups),
        "queries.build_s": per(self_s.get("queries.build", 0.0)),
        "queries.build_jobs": per(build_jobs),
        "queries.build_share": total("queries.build") / query_total if query_total else 0.0,
        "io.fixture_build_s": per(self_s.get("io.fixture", 0.0)),
        "io.fixtures_built": per(lay.get("io.fixtures_built", 0.0)),
        "io.input_mb": per(counters.get("input_mb", 0.0)),
        "io.load_s": per(self_s.get("io.load", 0.0)),
        "catalyst.plan_s": per(lay.get("catalyst.tracker_s", 0.0)),
        "catalyst.plan_wall_s": per(self_s.get("catalyst.plan", 0.0)),
        "exec.jobs": per(counters.get("jobs", 0.0)),
        "exec.stages": per(counters.get("stages", 0.0)),
        "exec.tasks": per(counters.get("tasks", 0.0)),
        "exec.run_s": per(counters.get("run_s", 0.0)),
        "exec.cpu_s": per(counters.get("cpu_s", 0.0)),
        "exec.gc_s": per(counters.get("gc_s", 0.0)),
        "exec.busy_frac": counters.get("run_s", 0.0) / (lap_total * ctx.cores),
        "exec.shuffle_write_mb": per(counters.get("shuffle_write_mb", 0.0)),
        "exec.shuffle_read_mb": per(counters.get("shuffle_read_mb", 0.0)),
        "exec.spill_mb": per(counters.get("spill_mb", 0.0)),
        "exec.failed_tasks": per(counters.get("failed_tasks", 0.0)),
        "operators.to_python_mb": per(counters.get("to_python_mb", 0.0)),
        "operators.from_python_mb": per(counters.get("from_python_mb", 0.0)),
        "streaming.batches": per(lay.get("streaming.batches", 0.0)),
        "streaming.batch_first_s": per(lay.get("streaming.batch_first_s", 0.0)),
        "streaming.add_batch_s": per(lay.get("streaming.add_batch_s", 0.0)),
        "streaming.batch_growth": per(lay.get("streaming.batch_growth", 0.0)),
        "streaming.docs_per_s": per(lay.get("streaming.docs_per_s", 0.0)),
        "streaming.written_mb": per(lay.get("streaming.written_mb", 0.0)),
        "streaming.files_written": per(lay.get("streaming.files_written", 0.0)),
        "streaming.write_amp": per(lay.get("streaming.write_amp", 0.0)),
        "process.peak_rss_mb": peak_rss_mb,
        "trace.overhead_frac": statistics.median(out.laps) / untraced - 1.0,
    }


def unit_of(name: str) -> str:
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_share", "_growth", "_amp")):
        return "ratio"
    return "count"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def note(msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(f"perfbench [{time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one set-up sample inside a parent run's directory
    ap.add_argument("--setup-sample", metavar="WORK_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and its processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "baronbatch_etl_spark")) or not os.path.exists(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print(f"perfbench: no baronbatch_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.setup_sample:
        return setup_sample(args, args.setup_sample)

    base = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    try:
        return run(args, base, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def cold_setup(args, work_dir: str) -> tuple[float, float, float]:
    """One set-up in a process of its own, so in a new JVM: its
    (get_spark, warm-up, CPU) seconds."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--setup-sample", work_dir,
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        # its JVM first: once the child is gone, the JVM is no descendant
        for pid in [*descendants(proc.pid), proc.pid]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up sample exited with {proc.returncode}")
    start, warmup, cpu = json.loads(out.strip().splitlines()[-1])
    return start, warmup, cpu


def setup_sample(args, work_dir: str) -> int:
    """``--setup-sample``: one set-up in this fresh process, inside the
    parent run's ``work_dir``; prints its (get_spark, warm-up, CPU)
    seconds as the last line."""
    ctx = Context(args, work_dir, os.path.join(work_dir, "data"), host_fit()[0])
    try:
        ctx.start_session()
    finally:
        stop_everything(ctx.spark)
        ctx.oracle.close()
    print(json.dumps(ctx.setups[0]))
    return 0


def run(args, base: str, work_dir: str) -> int:
    """One benchmark run inside ``work_dir``; see the module docstring."""
    cores, driver_mem = host_fit()
    # Spark, its Python workers and the package's staging all inherit
    # these: workers import the package from the checkout, fixtures and
    # shuffle files land in the run's directory.
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem,
            "SPARK_GRAFT_SCRATCH": os.path.join(work_dir, "fixtures"),
            "SPARK_LOCAL_DIRS": os.path.join(work_dir, "local"),
            "TMPDIR": os.path.join(work_dir, "tmp"),
            "PYTHONPATH": os.pathsep.join(
                [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)

    data_dir = os.path.join(work_dir, "data")
    datagen.write_tables(data_dir, args.seed, SCALE)
    note("inputs generated")

    sampler = RssSampler()
    sampler.start()
    ctx = Context(args, work_dir, data_dir, cores)
    errors: list[str] = []
    fold = None
    try:
        # two cold set-ups, each in a new JVM: one in a process of its
        # own, then this process's, in which the workload runs. A third
        # would add a set-up's time to every run.
        ctx.setups.append(cold_setup(args, work_dir))
        ctx.start_session()
        note(f"set-ups done: {[round(a + b, 2) for a, b, _ in ctx.setups]}")
        ctx.tracer.enabled = False  # the workload enables it for its traced laps
        steal0, total0 = cpu_ticks()
        with instrument_io(ctx.tracer, ctx.trace):
            WORKLOADS[args.workload](ctx)
        steal1, total1 = cpu_ticks()
        note(f"workload done: laps {[round(x, 2) for x in ctx.outcome.laps]}"
             f" traced {[round(x, 2) for x in ctx.traced_outcome.laps]}"
             f" reference {[round(x, 2) for x in ctx.reference_outcome.laps]}")
        sc = ctx.spark.sparkContext
        stamp = {
            "nproc": cores,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark": ctx.spark.version,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "scale": SCALE,
        }
    finally:
        spark = ctx.spark
        sampler.sample()
        stop_everything(spark)
        sampler.stop()
        ctx.oracle.close()
        note("all processes stopped")

    if ctx.trace:
        fold = fold_event_logs(ctx.event_dir)
        errors += [f"event-log fold: {p}" for p in check_fold(fold, args.workload + "/")]
        ctx.tracer.write(os.path.join(base, f"spans_{args.workload}.json"))

    outcomes = [ctx.outcome, ctx.reference_outcome, ctx.traced_outcome]
    op_errors = [f"{op.name}: {op.error}" for o in outcomes for op in o.ops if op.error]
    check_errors = [e for o in outcomes for e in o.check_failures]
    attempted = sum(len(o.ops) + o.checks for o in outcomes)
    failed = len(op_errors) + len(check_errors)
    if ctx.trace:
        values = per_layer(ctx, fold, sampler.peak_kb / 1024)
    else:
        values = end_to_end(ctx)
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": {**stamp, "source": source_stamp()},
        "setups": ctx.setups,
        "laps": ctx.outcome.laps,
        "lap_cpu": ctx.outcome.lap_cpu,
        "reference_laps": ctx.reference_outcome.laps,
        "traced_laps": ctx.traced_outcome.laps,
        "ops": [[op.name, op.lap, round(op.seconds, 4)] for op in ctx.outcome.ops],
        **latency(ctx.outcome),
        "op_p90_s": quantile([op.seconds for op in ctx.outcome.ops] or [0.0], 0.9),
        "peak_rss_mb": sampler.peak_kb / 1024,
        "failures": op_errors + check_errors + errors,
        "metrics": metrics,
        "process_s": time.perf_counter() - T_PROCESS,
        # share of CPU time the hypervisor took during the workload: a
        # diagnostic for readings taken on a contended host
        "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }
    with open(os.path.join(base, f"record_{args.workload}_{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for line in record["failures"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
