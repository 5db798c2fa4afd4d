"""Smoke tests: every registered query runs at sf0.001 and the
flagship produces a stable schema (the driver's t1 check)."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from baronbatch_etl_spark.queries import load_all

REGISTRY = load_all()


def test_flagship_runs_and_has_rows(spark, sf_dir):
    df = REGISTRY["flagship_player_stats"].fn(spark, sf_dir)
    assert df.columns == [
        "c_custkey",
        "c_name",
        "o_orderstatus",
        "games",
        "urgent",
        "total_spend",
        "avg_spend",
        "urgent_rate",
    ]
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    # schema resolves and the plan executes
    _ = df.schema
    _ = df.limit(5).collect()


def test_every_query_has_doc():
    for name, spec in REGISTRY.items():
        assert spec.doc, f"{name} lacks a docstring"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_output_is_scalar_only(spark, sf_dir, name):
    # value-hash canonicalizers sort every column with pandas and die
    # on array/map/struct cells — queries must serialize such columns
    # (cost round 1 a green row on a1_dup_finder)
    df = REGISTRY[name].fn(spark, sf_dir)
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        assert not any(k in t for k in ("array", "map", "struct")), (
            f"{name}.{f.name} is non-scalar ({t}); "
            "serialize it (array_join / posexplode)"
        )


#: Queries a front-to-back checker verifies per round.
WINDOW = 50

_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
_RED = {"rows_match": False, "schema_match": True, "hash_match": None}


def _check_window(order: list[str], records: list[dict], names) -> None:
    """The checker-order invariants, computed from ``records`` without
    calling :func:`checker_order`: every name exactly once, must-check
    names leading, every red or never-checked row inside the window,
    and no row left outside the window last green before a settled row
    inside it."""
    assert sorted(order) == sorted(names), "order must list every name once"
    must = [n for n in E.MUST_CHECK if n in names]
    assert order[: len(must)] == must, f"must-check names lead: {order[:3]}"
    last_green: dict[str, int] = {}
    red: set[str] = set()
    for rnd, record in enumerate(records, start=1):
        for name, row in record.items():
            ok = row.get("rows_match") and row.get("schema_match")
            if ok and row.get("hash_match", True):
                last_green[name] = rnd
                red.discard(name)
            else:
                red.add(name)
    window = order[:WINDOW]
    unsettled = {n for n in names if n not in last_green} | red
    slots = set(window[len(must):])
    assert unsettled <= set(window) or slots <= unsettled, (
        f"red or never-checked rows outside the window: "
        f"{sorted(unsettled - set(window))}"
    )
    inside = [last_green[n] for n in slots - unsettled]
    outside = [last_green[n] for n in order[WINDOW:] if n not in unsettled]
    if inside and outside:
        assert min(outside) >= max(inside), (
            f"a row last green in r{min(outside)} sits outside the window "
            f"while a row last green in r{max(inside)} holds a slot"
        )


def test_checker_window_holds_stalest_rows():
    # the live state: the records on disk and the real registry
    records = E.correctness_records()
    order = list(E.queries())
    _check_window(order, records, set(REGISTRY))
    oracle = list(E.oracle_sql())
    assert oracle == [n for n in order if n in set(oracle)], (
        "oracle_sql() must list its keys in the queries() order"
    )


def test_window_check_rejects_a_swapped_order():
    # mutation check: the live assertions must catch a hand-edited
    # order — a must-check name displaced, and a stale row swapped
    # with the freshest row outside the window
    records = E.correctness_records()
    order = list(E.queries())
    demoted = order[1:] + order[:1]
    with pytest.raises(AssertionError, match="must-check"):
        _check_window(demoted, records, set(REGISTRY))
    swapped = list(order)
    swapped[WINDOW - 1], swapped[-1] = swapped[-1], swapped[WINDOW - 1]
    with pytest.raises(AssertionError, match="outside the window"):
        _check_window(swapped, records, set(REGISTRY))


def test_must_check_exercises_the_arrow_worker(spark, sf_dir):
    # the must-check list exists to keep the Python-worker path in
    # every round's window: its plan must hold an Arrow-batched node
    plans = [
        REGISTRY[n].fn(spark, sf_dir)._jdf.queryExecution()
        .executedPlan().toString()
        for n in E.MUST_CHECK
    ]
    assert any(
        k in plan for plan in plans for k in ("MapInPandas", "ArrowEvalPython")
    ), "no must-check query runs through an Arrow Python worker"


def test_green_record_rotates_its_rows_out():
    names = list(REGISTRY)
    records = E.correctness_records()
    window = E.checker_order(records, names)[:WINDOW]
    nxt = records + [{n: dict(_GREEN) for n in window}]
    order = E.checker_order(nxt, names)
    _check_window(order, nxt, set(names))
    back = set(window) & set(order[:WINDOW]) - set(E.MUST_CHECK)
    assert not back, f"rows just checked green kept their slots: {back}"


def test_red_row_reenters_the_window():
    names = list(REGISTRY)
    records = E.correctness_records()
    tail = E.checker_order(records, names)[-1]
    nxt = records + [{tail: dict(_RED)}]
    order = E.checker_order(nxt, names)
    _check_window(order, nxt, set(names))
    assert tail in order[:WINDOW]


def test_new_name_enters_the_window():
    names = list(REGISTRY) + ["zz_never_checked"]
    records = E.correctness_records()
    order = E.checker_order(records, names)
    _check_window(order, records, set(names))
    assert "zz_never_checked" in order[:WINDOW]


def test_order_without_records_is_registration_order():
    names = list(REGISTRY)
    must = [n for n in E.MUST_CHECK if n in names]
    assert E.checker_order([], names) == must + [
        n for n in names if n not in must
    ]
