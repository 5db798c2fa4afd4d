"""Spans, instrumentation and the Spark event-log fold of a traced run.

Spans are recorded from the benchmark's own code, around its calls
into the package: ``session.get_spark``, ``QuerySpec.fn``
(construction), Catalyst planning, the noop write (execution), the
table loads and fixture builds the catalog modules make, and the
``streaming.ops`` micro-batches. Every span of one run carries the
run's id; spans stay in memory and are written out when the run ends.

Each query phase sets the Spark job description
``<workload>/<query>/<phase>``, so the event log's stages fold back
onto the span that launched them (:func:`fold_event_log`).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"

MB = 1024 * 1024


class Tracer:
    """In-memory span recorder for one run. While ``enabled`` is false
    it records nothing and sets no job descriptions."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, sc=None, **attrs):
        """Record ``[start, end)`` of the block as a child of the
        innermost open span. With ``sc`` given, jobs launched inside
        carry the description ``name``."""
        if not self.enabled:
            yield None
            return
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if sc is not None:
            sc.setJobDescription(name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setJobDescription(None)

    def add(self, layer: str, name: str, start: float, end: float, **attrs):
        """Record a span measured elsewhere (a streaming micro-batch),
        as a child of the innermost open span."""
        if self.enabled:
            self.spans.append(
                {
                    "run": self.run_id,
                    "id": len(self.spans),
                    "parent": self._stack[-1] if self._stack else None,
                    "layer": layer,
                    "name": name,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover (children of one span never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - child[s["id"]])
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


@contextlib.contextmanager
def instrument_io(tracer: Tracer, active: bool):
    """Trace the catalog modules' table loads and fixture builds while
    ``tracer`` is enabled (nothing is wrapped unless ``active``).

    The catalog modules import ``load_table`` and ``session_fixture``
    by name, so the wrappers replace those names in each module's
    namespace for the duration of the block, then put the originals
    back."""
    if not active:
        yield
        return
    from baronbatch_etl_spark import queries
    from baronbatch_etl_spark.queries import load_all

    load_all()
    patched = []

    def wrap(fn, layer):
        def traced(spark, sf_dir, name, *args, **kwargs):
            with tracer.span(layer, name):
                return fn(spark, sf_dir, name, *args, **kwargs)

        return traced

    for mod in vars(queries).values():
        if not getattr(mod, "__name__", "").startswith(queries.__name__ + "."):
            continue
        for attr, layer in (("load_table", "io.load"), ("session_fixture", "io.fixture")):
            fn = getattr(mod, attr, None)
            if fn is not None:
                patched.append((mod, attr, fn))
                setattr(mod, attr, wrap(fn, layer))
    try:
        yield
    finally:
        for mod, attr, fn in patched:
            setattr(mod, attr, fn)


def catalyst_seconds(df) -> float:
    """Sum of the Catalyst phase times (analysis, optimization,
    planning) recorded by the frame's ``QueryExecution`` tracker."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def _stream_key(desc: str) -> str | None:
    """Map a streaming micro-batch job description
    (``<queryName>\\nid = …\\nrunId = …\\nbatch = <n>``) to
    ``<queryName>/batch``."""
    lines = desc.splitlines()
    if len(lines) >= 2 and lines[-1].startswith("batch = "):
        return f"{lines[0]}/batch"
    return None


def fold_event_log(path: str) -> dict:
    """Fold one uncompressed, non-rolling Spark event log by job
    description.

    Every stage is attributed to the description of the job that
    submitted it (first submitter wins for a stage shared by jobs);
    jobs without a description fold under ``<none>``, streaming
    micro-batch jobs under ``<queryName>/batch``. Returns
    ``{"by_desc": {desc: counters}, "stages": n, "unmapped_stages": n}``."""
    stage_desc: dict[int, str | None] = {}
    by_desc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages_seen: set[int] = set()

    def bump(desc, key, val):
        by_desc[desc or "<none>"][key] += val

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description")
                if desc:
                    desc = _stream_key(desc) or desc
                bump(desc, "jobs", 1)
                for sid in e["Stage IDs"]:
                    stage_desc.setdefault(sid, desc)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                if sid not in stages_seen:
                    stages_seen.add(sid)
                    bump(stage_desc.get(sid), "stages", 1)
            elif ev == "SparkListenerTaskEnd":
                desc = stage_desc.get(e["Stage ID"])
                bump(desc, "tasks", 1)
                if e["Task End Reason"]["Reason"] != "Success":
                    bump(desc, "failed_tasks", 1)
                m = e.get("Task Metrics") or {}
                bump(desc, "run_s", m.get("Executor Run Time", 0) / 1e3)
                bump(desc, "cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                bump(desc, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                sw = m.get("Shuffle Write Metrics") or {}
                bump(desc, "shuffle_write_mb", sw.get("Shuffle Bytes Written", 0) / MB)
                sr = m.get("Shuffle Read Metrics") or {}
                bump(
                    desc,
                    "shuffle_read_mb",
                    (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) / MB,
                )
                bump(desc, "spill_mb", m.get("Disk Bytes Spilled", 0) / MB)
                bump(desc, "input_mb", (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB)
                for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == TO_PYTHON:
                        bump(desc, "to_python_mb", float(acc.get("Update", 0)) / MB)
                    elif acc.get("Name") == FROM_PYTHON:
                        bump(desc, "from_python_mb", float(acc.get("Update", 0)) / MB)
    return {
        "by_desc": {k: dict(v) for k, v in by_desc.items()},
        "stages": len(stages_seen),
        "unmapped_stages": sum(1 for s in stages_seen if s not in stage_desc),
    }


def check_fold(fold: dict, described_prefix: str) -> list[str]:
    """Invariants of a fold: every stage maps to exactly one job
    description, and every description under ``described_prefix``
    names ``<workload>/<query>/<phase>``. Returns the violations
    (empty when sound). ``selftest.py`` also checks the folded sums
    against a separate count of the raw log."""
    problems = []
    if fold["unmapped_stages"]:
        problems.append(f"{fold['unmapped_stages']} stages map to no job")
    for desc in fold["by_desc"]:
        if desc.startswith(described_prefix) and len(desc.split("/")) != 3:
            problems.append(f"description {desc!r} is not workload/query/phase")
    return problems


def fold_event_logs(log_dir: str) -> dict:
    """Fold every application log in ``log_dir`` (a run that restarts
    its session writes one per application) and merge the folds."""
    merged = {"by_desc": {}, "stages": 0, "unmapped_stages": 0}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        fold = fold_event_log(path)
        merged["stages"] += fold["stages"]
        merged["unmapped_stages"] += fold["unmapped_stages"]
        for desc, counters in fold["by_desc"].items():
            dst = merged["by_desc"].setdefault(desc, defaultdict(float))
            for k, v in counters.items():
                dst[k] += v
    merged["by_desc"] = {k: dict(v) for k, v in merged["by_desc"].items()}
    return merged
