"""Driver-contract invariants — cheap checks that catch drift instantly,
without running the full oracle gate.

The external driver consumes ``__spark_entry__``: ``entry`` must run,
``queries()`` and ``oracle_sql()`` must stay key-aligned, and every oracle
must at least PLAN on DuckDB against the registered views (EXPLAIN —
syntax/binding errors surface here in milliseconds instead of failing a
full gate run later).
"""

from __future__ import annotations

import pathlib

import duckdb
import pytest

import __spark_entry__ as entry

ROOT = pathlib.Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


#: every catalog query has a SQL oracle since r10 closed the last two
#: (bpe_merges/bpe_encode — unrolled per-round CTE trainer, the
#: kmeans_cells precedent); iterative algorithms stay DOUBLY pinned by
#: pytest against independent Python references (tests/test_extensions.py)
ROWS_ONLY: set = set()


def test_queries_and_oracles_key_aligned():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert q - o == ROWS_ONLY, sorted((q - o) ^ ROWS_ONLY)
    assert not (o - q), sorted(o - q)
    assert len(q) >= 83


def test_every_query_is_callable():
    assert all(callable(f) for f in entry.queries().values())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def test_every_oracle_plans_on_duckdb(duck):
    failures = []
    for name, sql in entry.oracle_sql().items():
        try:
            duck.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures.append((name, str(e).splitlines()[0]))
    assert not failures, failures


def test_every_query_has_budget_and_catalog_row():
    """BUDGETS.json and QUERY_CATALOG.json stay in lockstep with
    queries() — a new operator cannot ship without a latency budget and
    a machine-readable catalog row."""
    import json

    import __spark_entry__ as entrymod

    q = set(entrymod.queries())
    budgets = json.load(open(ROOT / "BUDGETS.json"))
    assert q <= set(budgets), sorted(q - set(budgets))
    cat = json.load(open(ROOT / "QUERY_CATALOG.json"))
    names = {
        r["name"] if isinstance(r, dict) else r
        for r in (cat if isinstance(cat, list) else cat.get("queries", []))
    }
    if names:
        assert q <= names, sorted(q - names)


def test_gate_priority_rewrite_is_idempotent_and_parseable(tmp_path):
    """tools/gate_priority.py rewrites the GATE_PRIORITY block in the
    driver contract file: the generated block must be valid Python, the
    rewrite idempotent, and the window the first 50 stalest queries."""
    import importlib.util
    import re
    import sys

    spec = importlib.util.spec_from_file_location(
        "gate_priority", ROOT / "tools" / "gate_priority.py"
    )
    gp = importlib.util.module_from_spec(spec)
    sys.modules["gate_priority"] = gp
    spec.loader.exec_module(gp)

    priority, last = gp.build_priority()
    block = gp.render_block(priority, last)
    # the block compiles stand-alone and defines the full catalog order
    ns: dict = {}
    exec(compile(block, "<gate>", "exec"), ns)  # noqa: S102 — our own artifact
    assert ns["GATE_PRIORITY"] == priority
    assert len(set(priority)) == len(priority)
    # stalest-first: staleness keys are non-decreasing along the order
    keys = [last.get(n, 0) for n in priority]
    assert keys == sorted(keys)
    # rendering twice from the same history is byte-identical
    assert block == gp.render_block(priority, last)
    # the committed contract file holds exactly this block between markers
    src = open(ROOT / "__spark_entry__.py", encoding="utf-8").read()
    m = re.search(
        re.escape(gp.BEGIN) + r".*?" + re.escape(gp.END), src, re.DOTALL
    )
    assert m, "markers missing from __spark_entry__.py"
    committed = m.group(0)
    ns2: dict = {}
    exec(compile(committed.replace(gp.BEGIN, "#"), "<c>", "exec"), ns2)  # noqa: S102
    # SET equality, not order: the order is a function of CORRECTNESS
    # history, which the driver extends between the commit and this test
    # running — a reshuffled window is expected then, a missing or extra
    # query never is
    assert set(ns2["GATE_PRIORITY"]) == set(priority), (
        "committed GATE_PRIORITY no longer matches the catalog — rerun "
        "tools/gate_priority.py"
    )


def test_driver_history_freshness_bound():
    """Rotation-drift tripwire (r11 verdict #8): with a 50-row driver
    gate over an N-query catalog, the stalest-first rotation guarantees
    every query a hash-green driver row within ceil(N/50) rounds — so a
    query whose last green row is OLDER than that bound means the
    committed rotation drifted (or a query silently started failing at
    the driver). Never-gated queries are exempt: they are newly added,
    sit at the front of the next rotation by construction, and are
    covered by the committed full-catalog self-check meanwhile."""
    import importlib.util
    import math
    import sys

    spec = importlib.util.spec_from_file_location(
        "gate_priority", ROOT / "tools" / "gate_priority.py"
    )
    gp = importlib.util.module_from_spec(spec)
    sys.modules["gate_priority_fresh"] = gp
    spec.loader.exec_module(gp)

    priority, last = gp.build_priority()
    if not last:
        return  # no committed driver history yet (fresh clone)
    latest_round = max(last.values())
    bound = math.ceil(len(priority) / gp.WINDOW)
    stale = {
        name: rnd
        for name, rnd in ((n, last.get(n, 0)) for n in priority)
        if rnd != 0 and rnd < latest_round - bound + 1
    }
    assert not stale, (
        f"queries without a driver-green row in the last {bound} rounds "
        f"(latest r{latest_round}): {stale} — regenerate the rotation "
        "with tools/gate_priority.py and investigate driver failures"
    )
