"""Registry invariants: the driver contract's structural guarantees.

``queries()`` / ``oracle_sql()`` list the registry in registration order —
the order of the ``@register`` calls across the ``queries_*`` modules, in
the order ``queries.py`` imports them — so every copy of the package
(checkout or the zip shipped to executors) sees the same order.
"""

from __future__ import annotations

import ast
from pathlib import Path

from time_series_spark_spark import queries as reg


def _register_call_order() -> list[str]:
    """Query names in source order of the ``register(...)`` calls."""
    pkg = Path(reg.__file__).resolve().parent
    modules = [
        alias.name
        for node in ast.parse((pkg / "queries.py").read_text()).body
        if isinstance(node, ast.ImportFrom)
        and node.module == "time_series_spark_spark"
        for alias in node.names
        if alias.name.startswith("queries_")
    ]
    names: list[str] = []
    for mod in modules:
        calls = [
            node
            for node in ast.walk(ast.parse((pkg / f"{mod}.py").read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
        ]
        calls.sort(key=lambda c: (c.lineno, c.col_offset))
        names += [ast.literal_eval(c.args[0]) for c in calls]
    return names


def test_every_entry_well_formed():
    assert len(reg.REGISTRY) == 472
    assert sum(q.oracle is not None for q in reg.REGISTRY.values()) == 398
    for name, q in reg.REGISTRY.items():
        assert callable(q.fn), name
        assert q.oracle is None or "SELECT" in q.oracle.upper(), name
    names = list(reg.REGISTRY)
    assert names[:3] == [
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "q5_nation_revenue",
    ]
    assert names == _register_call_order()
    assert list(reg.queries()) == names
