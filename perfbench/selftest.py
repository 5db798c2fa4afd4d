"""Self-test of the event-log fold on a two-query run.

    python3 perfbench/selftest.py

Runs two catalog queries with tracing on (build / plan / run spans,
one job description each), stops Spark so the event log is complete,
then checks that

* every stage maps to exactly one ``selftest/<query>/<phase>``;
* the folded sums equal the log's own totals, counted here by a
  separate scan of the raw events;
* both queries show work in their run phase.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from tracing import check_fold, fold_event_logs

QUERIES = ("h_pricing_summary", "d_simhash")


def raw_totals(log_dir: str) -> dict[str, float]:
    """Stage, task and executor-time totals straight from the log."""
    stages = tasks = run_ms = 0
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        seen = set()
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                if e["Event"] == "SparkListenerStageCompleted":
                    seen.add(e["Stage Info"]["Stage ID"])
                elif e["Event"] == "SparkListenerTaskEnd":
                    tasks += 1
                    run_ms += (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
        stages += len(seen)
    return {"stages": stages, "tasks": tasks, "run_s": run_ms / 1e3}


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import datagen

    from baronbatch_etl_spark.queries import load_all
    from baronbatch_etl_spark.session import get_spark
    from tracing import Tracer

    cores, mem = run.host_fit()
    work = os.path.join(run.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": mem,
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "fixtures"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYTHONPATH": run.ROOT,
        }
    )
    data = os.path.join(work, "data")
    datagen.write_tables(data, 0, 0.001)
    registry = load_all()
    spark = get_spark(
        "perfbench-selftest",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    tracer = Tracer("selftest", True)
    sc = spark.sparkContext
    try:
        for q in QUERIES:
            with tracer.span("query", f"selftest/{q}"):
                with tracer.span("queries.build", f"selftest/{q}/build", sc):
                    df = registry[q].fn(spark, data)
                with tracer.span("catalyst.plan", f"selftest/{q}/plan", sc):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec.run", f"selftest/{q}/run", sc):
                    df.write.mode("overwrite").format("noop").save()
    finally:
        run.stop_everything(spark)

    fold = fold_event_logs(log_dir)
    problems = check_fold(fold, "selftest/")
    allowed = {f"selftest/{q}/{p}" for q in QUERIES for p in ("build", "plan", "run")}
    for desc, c in fold["by_desc"].items():
        if desc not in allowed and c.get("stages", 0):
            problems.append(f"{int(c['stages'])} stages under {desc!r}, outside the two queries")
    for key, want in raw_totals(log_dir).items():
        got = sum(c.get(key, 0.0) for c in fold["by_desc"].values())
        if abs(got - want) > 1e-6 * max(1.0, want):
            problems.append(f"{key}: folded {got} != log total {want}")
    for q in QUERIES:
        if not fold["by_desc"].get(f"selftest/{q}/run", {}).get("tasks"):
            problems.append(f"{q}: no tasks in its run phase")
    shutil.rmtree(work, ignore_errors=True)
    summary = {d: {k: round(v, 3) for k, v in c.items()} for d, c in sorted(fold["by_desc"].items())}
    print(json.dumps({"stages": fold["stages"], "by_desc": summary}, indent=1))
    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print("selftest:", "FAIL" if problems else "ok", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
