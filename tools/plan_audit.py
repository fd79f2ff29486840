"""Whole-catalog physical-plan audit — the automated form of SURVEY §9's
shuffle inventory.  For every catalog query it records the scale-shape
facts the plan gates assert piecemeal:

  * exchanges:   hashpartitioning key-lists, each sorted by name
                 (corpus shuffles).
                 `n_exchanges` counts DISTINCT shuffle subtrees — cached
                 builds (InMemoryRelation) are de-duplicated across
                 reuse sites and identical self-join shuffles collapse
                 (exchange reuse), so the number models shuffles that
                 EXECUTE; `n_exchange_sites` keeps the raw textual count
  * windows:     windowspecdefinition partition prefixes — any entry
                 with an empty partition list is an ordered walk of a
                 summary (legitimate) or a scale bug (the gates decide;
                 this report makes them reviewable)
  * broadcasts:  BroadcastExchange / BroadcastHashJoin counts
  * python:      whether anything leaves the JVM
  * scans/imts:  parquet scans + InMemoryTableScans (cache reuse)

Writes PLAN_AUDIT.json at the repo root.  Run once per round:

    python tools/plan_audit.py [sf_dir]    # default /root/testdata/sf0.001
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dedupe_imr(plan: str) -> str:
    """Collapse InMemoryRelation re-expansions to ONE copy per distinct
    cached plan.

    `executedPlan().toString()` re-prints the cached relation's entire
    build plan under every InMemoryTableScan that reuses it, so an
    iterative query that scans its cache k times appears to have k× the
    cache-build's exchanges/scans — pure double-counting (the build runs
    once, the reuse sites read shuffle-free cached blocks).  Returns the
    plan with IMR subtrees removed from the reuse sites and each
    DISTINCT cached build plan (keyed on text with expr-ids stripped)
    appended exactly once, so every downstream count reflects work that
    actually executes."""
    def indent(ln: str) -> int:
        return len(re.match(r"^[\s:+|-]*", ln).group(0))

    seen: dict[str, str] = {}

    def process(lines: list[str]) -> list[str]:
        # recursive: iterative queries cache per round, and round k's
        # build plan re-prints round k-1's cached build — without
        # recursion the appendix itself stays quadratic in rounds
        out: list[str] = []
        i = 0
        while i < len(lines):
            ln = lines[i]
            if "InMemoryRelation" in ln:
                d = indent(ln)
                j = i + 1
                sub = []
                while j < len(lines) and indent(lines[j]) > d:
                    sub.append(lines[j])
                    j += 1
                body = "\n".join([ln.strip()] + process(sub))
                key = re.sub(r"#\d+|plan_id=\d+", "#", body)
                seen.setdefault(key, body)
                out.append(ln[:d] + "InMemoryRelation [deduped, see cached-build appendix]")
                i = j
            else:
                out.append(ln)
                i += 1
        return out

    main_lines = process(plan.splitlines())
    return "\n".join(main_lines) + "".join(f"\n{b}" for b in seen.values())


def count_unique_exchanges(plan: str) -> int:
    """Number of DISTINCT shuffle subtrees — what actually executes.

    A self-join query prints the shared side's scan→shuffle subtree once
    per join site, but Spark's exchange reuse (ReusedExchangeExec) runs
    one shuffle and serves every consumer from its output; the pre-AQE
    plan string shows no ReusedExchange nodes, so raw `Exchange` counts
    overstate by the reuse factor.  Two sites count once when their
    subtrees are identical after stripping expr-ids/plan-ids/tree
    prefixes."""

    def indent(ln: str) -> int:
        return len(re.match(r"^[\s:+|-]*", ln).group(0))

    lines = plan.splitlines()
    seen: set[str] = set()
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" not in ln and "Exchange SinglePartition" not in ln:
            continue
        d = indent(ln)
        sub = [ln]
        j = i + 1
        while j < len(lines) and indent(lines[j]) > d:
            sub.append(lines[j])
            j += 1
        key = re.sub(
            r"#\d+|plan_id=\d+",
            "#",
            "\n".join(re.sub(r"^[\s:+|-]*", "", s) for s in sub),
        )
        seen.add(key)
    return len(seen)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entrymod
    from creek_spark.operators.cachereg import release_caches
    from creek_spark.session import get_spark

    spark = get_spark()
    cat = entrymod._catalog()
    out = {}
    for name in sorted(cat):
        try:
            df = cat[name].fn(spark, sf_dir)
            jqe = df._jdf.queryExecution()
            plan = dedupe_imr(jqe.executedPlan().toString())
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            out[name] = {"err": f"{type(e).__name__}: {e}"[:300]}
            continue
        finally:
            # each plan is taken with no other query's cache present (as
            # bench.py runs them), so no dict depends on the build order
            release_caches()
            spark.catalog.clearCache()
        exchanges = [
            m.group(1).split(", ")
            for m in re.finditer(
                r"Exchange hashpartitioning\(([^)]*?), \d+\)", plan
            )
        ]
        # each key list sorted: the plan prints hash keys in an order
        # that follows what the session built before, and the order
        # does not change which rows land together
        ex_keys = sorted(
            {
                tuple(sorted(k.split("#")[0] for k in e if "#" in k))
                for e in exchanges
            }
        )
        windows = []
        for sp in re.finditer(r"windowspecdefinition\((.{0,200})", plan):
            txt = sp.group(1)
            head = txt.split(" ASC")[0].split(" DESC")[0]
            parts = [c.strip() for c in head.split(",")[:-1]]
            windows.append(
                tuple(p.split("#")[0] for p in parts if "#" in p)
            )
        out[name] = {
            "exchange_keys": [list(k) for k in ex_keys],
            # distinct shuffle subtrees (exchange reuse collapsed) —
            # the count that models executed shuffles; sites is the raw
            # textual occurrence count for reference
            "n_exchanges": count_unique_exchanges(plan),
            "n_exchange_sites": len(exchanges),
            "window_partitions": sorted({list(w).__repr__() for w in windows}),
            "n_broadcast": plan.count("BroadcastExchange"),
            "python_stage": ("BatchEvalPython" in plan)
            or ("ArrowEvalPython" in plan)
            or ("FlatMapGroupsInPandas" in plan)
            or ("MapInPandas" in plan),
            "n_scans": plan.count("FileScan parquet") or plan.count("Scan parquet"),
            "n_imts": plan.count("InMemoryTableScan"),
            # materialized inputs (localCheckpoint → Scan ExistingRDD):
            # the upstream work ran in EARLIER jobs this plan can't show,
            # so zero exchanges here means "audit-blind", not "free"
            "n_rdd_scans": plan.count("Scan ExistingRDD"),
        }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLAN_AUDIT.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    n_py = sum(1 for v in out.values() if v.get("python_stage"))
    n_err = sum(1 for v in out.values() if "err" in v)
    print(
        json.dumps(
            {
                "n_queries": len(out),
                "n_err": n_err,
                "n_python_stage": n_py,
                "total_exchanges": sum(
                    v.get("n_exchanges", 0) for v in out.values()
                ),
            }
        )
    )
    return 0 if n_err == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
