"""Registry-order regression gate.

The driver's per-round correctness check covers roughly the FIRST 50
registry entries. ``registry.CORE_FIRST`` pins exactly which 50 those
are; these tests check its structure: 50 unique names, the canary
first, every name registered and oracle-backed, and the window leading
both ``queries()`` and ``oracle_sql()`` whatever the import order.
"""

from __future__ import annotations

import os

import __spark_entry__ as e
from pulsar_project_spark.registry import CORE_FIRST

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_core_fifty_lead_the_registry():
    assert len(CORE_FIRST) == len(set(CORE_FIRST)) == 50
    assert list(e.queries())[:50] == list(CORE_FIRST)
    assert list(e.oracle_sql())[:50] == list(CORE_FIRST)


def test_core_fifty_all_have_oracles():
    # every window entry gets the STRONG check (hash vs DuckDB)
    oracles = e.oracle_sql()
    missing = [n for n in CORE_FIRST if n not in oracles]
    assert not missing, f"core entries without oracles: {missing}"


def test_canary_leads():
    # slot 1 is the flagship, green every round — if it is ever
    # reported red, the harness (not the engine) changed
    assert CORE_FIRST[0] == "simple_rag_topk"


def test_all_declared_queries_still_registered():
    names = set(e.queries())
    vanished = [n for n in CORE_FIRST if n not in names]
    assert not vanished, f"core entries vanished from registry: {vanished}"


def test_entry_first_import_still_yields_core_order():
    """The driver smokes entry() before the gate reads queries(); in a
    single process that import order triggers the registry's circular-
    import path (queries package partially initialized when the
    registry's import-time reorder fires), which used to leave the
    dicts in REGISTRATION order. queries()/oracle_sql() now re-apply
    the CORE_FIRST ordering at read time — pinned here in a fresh
    subprocess replicating the driver's exact import sequence."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent("""
        import sys
        sys.path.insert(0, ".")
        # entry()'s import path, exactly: a query module first
        from pulsar_project_spark.queries.retrieval import q_simple_rag_topk
        import __spark_entry__ as e
        from pulsar_project_spark.registry import CORE_FIRST
        assert list(e.queries())[:50] == list(CORE_FIRST)
        assert list(e.oracle_sql())[:50] == list(CORE_FIRST)
        print("ORDER_OK")
    """)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, cwd=_REPO)
    assert out.returncode == 0 and "ORDER_OK" in out.stdout, (
        out.stdout + out.stderr)
