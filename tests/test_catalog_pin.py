"""The catalog's names, headline order and module boundaries are pinned.

No Spark session starts: ``catalog()`` only imports the domain modules
(each ``@register`` stores a function and its final oracle string), and
the module checks are a pure ``ast`` pass.  The catalog modules are
``creek_spark/queries_*.py`` plus ``creek_spark/query_parts.py``, the
module of shared pieces that registers nothing; ``creek_spark/queries.py``
is the registry they all import from.
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

from creek_spark.queries import catalog

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "creek_spark"
CATALOG_MODULES = sorted(PKG.glob("queries_*.py")) + [PKG / "query_parts.py"]

# perfbench/analytics.py and bench.py run the headline rows in catalog order
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "join_asof", "window_running_lag", "cdc_latest_state", "stream_windows",
    "dedup_exact", "dedup_minhash_lsh", "similarity_topk", "text_metrics",
    "q6_forecast_revenue", "q18_large_volume", "ts_gap_fill",
    "ts_anomaly_mad", "customer_rfm",
]


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def test_catalog_names_match_the_plan_audit():
    audited = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    names = set(catalog())
    assert len(names) == 168
    assert names == set(audited)


def test_headline_rows_keep_their_order():
    assert [q.name for q in catalog().values() if q.headline] == HEADLINE


def test_no_catalog_module_reads_the_registry():
    """Oracles are final at registration: no module subscripts or imports
    QUERIES, and no ``@register`` passes ``None`` for an oracle to fill
    in later."""
    for path in CATALOG_MODULES:
        for node in ast.walk(_tree(path)):
            if isinstance(node, ast.Subscript):
                assert not (
                    isinstance(node.value, ast.Name) and node.value.id == "QUERIES"
                ), f"{path.name}:{node.lineno} subscripts QUERIES"
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
                assert "QUERIES" not in names, f"{path.name}:{node.lineno} imports QUERIES"
            if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "register":
                oracle = node.args[1]
                assert not (isinstance(oracle, ast.Constant) and oracle.value is None), (
                    f"{path.name}:{node.lineno} registers without an oracle"
                )


def test_no_catalog_module_imports_private_names_of_another():
    """Shared pieces live in query_parts under public names; the registry's
    helpers (``_t``, ``_fan_out``) are the one exception."""
    for path in CATALOG_MODULES:
        for node in ast.walk(_tree(path)):
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            if node.module == "creek_spark.query_parts" or node.module.startswith(
                "creek_spark.queries_"
            ):
                private = [a.name for a in node.names if a.name.startswith("_")]
                assert not private, f"{path.name}:{node.lineno} imports {private}"


def test_catalog_modules_import_only_at_the_top():
    for path in CATALOG_MODULES:
        body = _tree(path).body
        first = next(
            i for i, n in enumerate(body)
            if not isinstance(n, (ast.Import, ast.ImportFrom))
            and not (i == 0 and isinstance(n, ast.Expr))
        )
        late = [n.lineno for n in body[first:] if isinstance(n, (ast.Import, ast.ImportFrom))]
        assert not late, f"{path.name} imports mid-file at lines {late}"
