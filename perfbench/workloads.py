"""The benchmark's workloads.

Both are closed loops: one client in one process sends the next
operation when the previous one has finished. An operation is one
catalog query (construction + execution), or one streaming
micro-batch (one staged file through a ``foreachBatch`` body). A lap
is one pass over a workload's operations. The timed region runs a
fixed number of whole laps, ``--seconds`` divided by the workload's
nominal lap time on a 4-core host (at least one), so every run does the
same work however fast the host is at the moment.

* ``analytics_mix`` — an analyst session over the serve path: JVM-only
  queries (no session fixture, no Python boundary) re-run warm in a
  seeded order into the noop sink. Fixed per-query cost dominates.
* ``llm_curation`` — the LLM-data curation job, timed cold: each lap
  runs in a fresh Spark application. It runs the batch curation
  queries in a fixed order and fetches their results (fixture builds,
  Arrow UDFs, LSH shuffles, the connected-components and PageRank
  driver loops), then ingests the same corpus as a stream that writes:
  ``curate_ingest`` drains the documents in doc_id order, and
  ``incremental_gold`` drains the events.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time
from dataclasses import dataclass, field

#: The serve-path queries, frozen. A cross-family subset of the
#: registry queries that build no session fixture and run no Python
#: code (the traced run shows fixture and Python-boundary counters at
#: 0), sized so that a warm lap takes a few seconds.
ANALYTICS_MIX = (
    "flagship_player_stats",
    "h_pricing_summary",
    "h_shipping_priority",
    "j1_broadcast_dim_lookup",
    "j_asof_join",
    "w_sessionize",
    "w_funnel",
    "a2_grouped_rollup",
    "p2_filter_eq",
    "q_sql_grouping_sets",
    "st_tumbling_agg",
)

#: The batch curation queries, frozen in their run order: the
#: training-set pipeline first (MinHash-LSH near-dup pairs and
#: connected components; it builds the shared document-signature
#: fixture), then SimHash dedup, Arrow-UDF text and media features, IVF
#: search with its driver-side centroid training, and PageRank's rounds
#: over its own fixture. The
#: order is not seeded: it decides which query pays each fixture build
#: and each first use of a code path, and a seeded order moved that
#: cost between queries from run to run.
LLM_CURATION = (
    "t_training_set",
    "d_simhash",
    "t_fingerprint",
    "mm_features",
    "s_ivf_topk",
    "g_pagerank",
)

#: The fixed session warm-up, part of every set-up.
WARMUP = ("p1_projection", "f_norm_concat")

#: Micro-batches per stream (one staged file each).
STREAM_FILES = 2

#: Nominal lap seconds on a 4-core host, which turn ``--seconds`` into
#: a lap count. A time-boxed loop instead ran more laps on a fast host,
#: and the session warms from lap to lap, so the lap count moved the
#: median.
LAP_SECONDS = {"analytics_mix": 6.0, "llm_curation": 25.0}


@dataclass
class Op:
    """One timed operation."""

    name: str
    lap: int
    seconds: float
    error: str | None = None


@dataclass
class Outcome:
    """What a set of laps measured and checked."""

    laps: list[float] = field(default_factory=list)
    #: process-tree CPU seconds of each lap
    lap_cpu: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    checks: int = 0
    check_failures: list[str] = field(default_factory=list)
    #: per-layer counters of traced laps (summed; run.py divides by laps)
    layer: dict[str, float] = field(default_factory=dict)
    #: (query, columns, rows) fetched inside the laps, checked after
    results: list[tuple[str, list[str], list[tuple]]] = field(default_factory=list)


def _bump(d: dict, key: str, val: float) -> None:
    d[key] = d.get(key, 0.0) + val


def run_query(ctx, wl: str, name: str, lap: int, out: Outcome, collect: bool = False) -> None:
    """Construct one catalog query and force it into the noop sink, or
    with ``collect`` fetch its rows and keep them for the oracle check.
    While tracing, the phases are spans and Catalyst planning is forced
    (and timed) between construction and execution."""
    from baronbatch_etl_spark import io as bio
    from baronbatch_etl_spark.operators import ranking
    from tracing import catalyst_seconds

    spark, tr = ctx.spark, ctx.tracer
    traced = tr.enabled
    sc = spark.sparkContext if traced else None
    ranking.release_rank_caches()
    spark.catalog.clearCache()
    fx_before = dict(bio.FIXTURE_BUILD_SECONDS)
    t0 = time.perf_counter()
    try:
        with tr.span("query", f"{wl}/{name}"):
            with tr.span("queries.build", f"{wl}/{name}/build", sc):
                df = ctx.registry[name].fn(spark, ctx.data_dir)
            if traced:
                with tr.span("catalyst.plan", f"{wl}/{name}/plan", sc):
                    df._jdf.queryExecution().executedPlan()
                _bump(out.layer, "catalyst.tracker_s", catalyst_seconds(df))
            with tr.span("exec.run", f"{wl}/{name}/run", sc):
                if collect:
                    rows = df.collect()
                else:
                    df.write.mode("overwrite").format("noop").save()
        out.ops.append(Op(name, lap, time.perf_counter() - t0))
        if collect:
            out.results.append((name, df.columns, [tuple(r) for r in rows]))
    except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
        out.ops.append(Op(name, lap, time.perf_counter() - t0, f"{type(e).__name__}: {e}"))
    if traced:
        built = [k for k, v in bio.FIXTURE_BUILD_SECONDS.items() if fx_before.get(k) != v]
        _bump(out.layer, "io.fixtures_built", len(built))


def verify_results(ctx, out: Outcome) -> None:
    """Compare the rows fetched inside the laps with the oracle."""
    for name, cols, rows in out.results:
        out.checks += 1
        problem = ctx.oracle.compare(name, cols, rows)
        if problem:
            out.check_failures.append(f"{name}: {problem}")
    out.results.clear()


def verify_queries(ctx, names, out: Outcome) -> None:
    """Collect each query and compare it with its DuckDB oracle (row
    count, column names, order-insensitive value hash)."""
    for name in names:
        out.checks += 1
        try:
            df = ctx.registry[name].fn(ctx.spark, ctx.data_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 — counted as a failed check
            out.check_failures.append(f"{name}: spark {type(e).__name__}: {e}")
            continue
        problem = ctx.oracle.compare(name, cols, rows)
        if problem:
            out.check_failures.append(f"{name}: {problem}")


def _timed_laps(ctx, lap_fn, out: Outcome, first_lap: int, before=None) -> int:
    """Run the laps ``--seconds`` buys (at least one). ``before(lap)``
    runs ahead of each lap, off the lap clock. Returns the next lap
    number."""
    n = max(1, round(ctx.seconds / LAP_SECONDS[ctx.workload]))
    for lap in range(first_lap, first_lap + n):
        if before is not None:
            before(lap)
        c0, t0 = ctx.cpu_clock(), time.perf_counter()
        with ctx.tracer.span("lap", f"lap{lap}"):
            lap_fn(lap, out)
        out.laps.append(time.perf_counter() - t0)
        out.lap_cpu.append(ctx.cpu_clock() - c0)
    return first_lap + n


def _run_laps(ctx, lap_fn, before=None) -> None:
    """The timed region, then — in a traced run — traced laps and
    untraced reference laps, each set for ``--seconds``. The reference
    runs after the traced laps, on a session at least as warm, so the
    tracing overhead is not understated. The tracer records only during
    the traced laps."""
    plan = [(False, ctx.outcome)]
    if ctx.trace:
        plan += [(True, ctx.traced_outcome), (False, ctx.reference_outcome)]
    lap = 0
    for traced, out in plan:
        ctx.tracer.enabled = traced
        lap = _timed_laps(ctx, lap_fn, out, lap, before)
    ctx.tracer.enabled = False


def analytics_mix(ctx) -> None:
    names = list(ANALYTICS_MIX)
    # untimed verify pass in a seeded order; it also warms the session
    verify_queries(ctx, [names[i] for i in ctx.rng.permutation(len(names))], ctx.outcome)

    def one_lap(lap, out):
        for i in ctx.rng.permutation(len(names)):
            run_query(ctx, "analytics_mix", names[i], lap, out)

    _run_laps(ctx, one_lap)


def llm_curation(ctx) -> None:
    docs_dir, events_dir, staged_docs, staged_mb = _stage_stream_inputs(ctx)
    finished: list[tuple[Outcome, str, str, str]] = []

    def fresh_application(lap):
        # every lap is a job in its own Spark application; the first
        # runs in the application the set-up left
        if lap > 0:
            ctx.restart_session()

    def one_lap(lap, out):
        # a batch job's results are its product: fetch them, and check
        # them against the oracle once the clock has stopped
        for name in LLM_CURATION:
            run_query(ctx, "llm_curation", name, lap, out, collect=True)
        base = os.path.join(ctx.work_dir, f"stream_lap{lap}")
        _ingest(ctx, lap, out, base, docs_dir, events_dir, staged_docs, staged_mb)
        finished.append((out, *_stream_outputs(base), base))

    _run_laps(ctx, one_lap, fresh_application)
    for out in (ctx.outcome, ctx.traced_outcome, ctx.reference_outcome):
        verify_results(ctx, out)
    for out, acc, gold, base in finished:
        verify_stream(ctx, acc, gold, out)
        shutil.rmtree(base, ignore_errors=True)


def _stream_outputs(base: str) -> tuple[str, str]:
    return os.path.join(base, "accepted"), os.path.join(base, "gold")


def _stage_stream_inputs(ctx) -> tuple[str, str, int, float]:
    """Split documents and events into STREAM_FILES files each, in key
    order, at seeded cut points. Returns (docs_dir, events_dir,
    documents staged, MB staged)."""
    import pyarrow.parquet as pq
    from datagen import split_by_key

    root = os.path.join(ctx.work_dir, "stream_src")
    dirs = []
    staged_docs, staged_mb = 0, 0.0
    for table, key in (("documents", "doc_id"), ("events", "event_id")):
        t = pq.read_table(os.path.join(ctx.data_dir, f"{table}.parquet"))
        n = t.num_rows
        # seeded cuts, each within a quarter of a file's width of an
        # even split, so no seed makes a near-empty batch
        width = n // STREAM_FILES
        cuts = [0] + [
            i * width + int(ctx.rng.integers(-(width // 4), width // 4 + 1))
            for i in range(1, STREAM_FILES)
        ] + [n]
        src = os.path.join(root, table)
        paths = split_by_key(t, key, cuts, src, table[:3])
        staged_mb += sum(os.path.getsize(p) for p in paths) / 2**20
        if table == "documents":
            staged_docs = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        dirs.append(src)
    return dirs[0], dirs[1], staged_docs, staged_mb


def _progress_batches(query) -> list[tuple[float, float]]:
    """(start epoch seconds, triggerExecution seconds) per micro-batch
    that read input."""
    res = []
    for p in query.recentProgress:
        if p.numInputRows <= 0:
            continue
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        res.append((start, p.durationMs["triggerExecution"] / 1e3))
    return res


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, f))
                files += 1
    return size, files


def _ingest(ctx, lap, out, base, docs_dir, events_dir, staged_docs, staged_mb) -> None:
    """Drain the staged documents through ``curate_ingest``, then the
    staged events through ``incremental_gold``, each with
    ``availableNow``; one operation per micro-batch."""
    from baronbatch_etl_spark.streaming import ops

    tr = ctx.tracer
    acc, gold = _stream_outputs(base)
    streams = (
        (
            "curate_ingest",
            lambda name: ops.curate_ingest(
                ops.stream_corpus(ctx.spark, docs_dir), acc, query_name=name
            ),
        ),
        (
            "incremental_gold",
            lambda name: ops.incremental_gold(
                ops.stream_events(ctx.spark, events_dir, glob="*.parquet"), gold, name
            ),
        ),
    )
    for sname, make in streams:
        # only traced laps' micro-batches fold under the workload: Spark
        # describes a micro-batch's jobs by the query name
        qname = f"llm_curation/{sname}" if tr.enabled else f"untraced/{sname}"
        t0 = time.perf_counter()
        error, batches = None, []
        with tr.span("streaming", qname):
            q = None
            try:
                q = make(qname).option(
                    "checkpointLocation", os.path.join(base, f"ckpt_{sname}")
                ).start()
                q.awaitTermination()
            except Exception as e:  # noqa: BLE001 — a failed stream is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            finally:
                if q is not None:
                    q.stop()
            if q is not None:
                batches = _progress_batches(q)
            for i, (start, secs) in enumerate(batches):
                tr.add("streaming.batch", f"{qname}/batch", start, start + secs, batch=i)
        wall = time.perf_counter() - t0
        if error is not None:
            out.ops.append(Op(sname, lap, wall, error))
        durs = [s for _, s in batches]
        out.ops += [Op(f"{sname}/batch{i}", lap, s) for i, s in enumerate(durs)]
        if tr.enabled:
            _bump(out.layer, "streaming.batches", len(durs))
            if sname == "curate_ingest" and durs:
                _bump(out.layer, "streaming.batch_first_s", durs[0])
                _bump(out.layer, "streaming.add_batch_s", sum(durs[1:]) / max(1, len(durs) - 1))
                _bump(out.layer, "streaming.batch_growth", durs[-1] / durs[0])
                _bump(out.layer, "streaming.docs_per_s", staged_docs / wall)
    if tr.enabled:
        size, files = _dir_bytes_files(base)
        _bump(out.layer, "streaming.written_mb", size / 2**20)
        _bump(out.layer, "streaming.files_written", files)
        _bump(out.layer, "streaming.write_amp", size / 2**20 / staged_mb)


def verify_stream(ctx, acc: str, gold: str, out: Outcome) -> None:
    """The stream-built corpus's dataset card must equal the batch
    ``t_training_set`` (its DuckDB oracle), and the folded gold table
    must equal a batch fold of ``events``."""
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.queries import catalog_curation as C
    from baronbatch_etl_spark.streaming import ops

    spark = ctx.spark
    out.checks += 2
    try:
        docs = load_table(spark, ctx.data_dir, "documents")
        card = C.curate_stats(docs, ops.read_curated(spark, acc))
        problem = ctx.oracle.compare(
            "t_training_set", card.columns, [tuple(r) for r in card.collect()]
        )
    except Exception as e:  # noqa: BLE001 — counted as a failed check
        problem = f"spark {type(e).__name__}: {e}"
    if problem:
        out.check_failures.append(f"stream curate_stats: {problem}")
    try:
        got = {
            (r.user_id, r.event_type): (r.games, r.value_sum)
            for r in ops.read_gold(spark, gold).collect()
        }
        want = ctx.oracle.gold_fold()
        bad = [
            k
            for k in set(got) | set(want)
            if k not in got
            or k not in want
            or got[k][0] != want[k][0]
            or not math.isclose(got[k][1], want[k][1], rel_tol=1e-9, abs_tol=1e-6)
        ]
        problem = f"{len(bad)} of {len(want)} gold keys differ" if bad else None
    except Exception as e:  # noqa: BLE001 — counted as a failed check
        problem = f"spark {type(e).__name__}: {e}"
    if problem:
        out.check_failures.append(f"stream gold: {problem}")


WORKLOADS = {
    "analytics_mix": analytics_mix,
    "llm_curation": llm_curation,
}
