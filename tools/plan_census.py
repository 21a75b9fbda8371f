#!/usr/bin/env python
"""Round-12 plan census: physical-plan shape for EVERY registry entry.

For each ``queries()`` entry, plans the DataFrame (no execution) and
records the operator counts the optimization guide says to audit
(§7.2): Exchange nodes, join strategies, Python-boundary nodes
(BatchEvalPython[UDTF] / ArrowEvalPython[UDTF] / MapInArrow / MapInPandas /
FlatMapGroupsInPandas), cartesian products, single-partition windows /
sorts, and whether the parquet scans carry PushedFilters.

Usage:
    python tools/plan_census.py out.json [name-substring ...]

Planning only — cheap enough to sweep all 292 entries in one session.
Entries that drive jobs at build time (iterative loops: pagerank,
connected components, k-core) still execute those jobs; that is the
documented cost of planning them at all.
"""
from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def census(text: str) -> dict:
    c = {
        "exchange": len(re.findall(r"\bExchange\b", text)),
        "exchange_single": len(re.findall(
            r"Exchange SinglePartition", text)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", text)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", text)),
        "shj": len(re.findall(r"\bShuffledHashJoin\b", text)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", text)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", text)),
        "batch_eval_python": len(re.findall(
            r"\bBatchEvalPython(?:UDTF)?\b", text)),
        "arrow_eval_python": len(re.findall(
            r"\bArrowEvalPython(?:UDTF)?\b", text)),
        "map_in_arrow_pandas": len(re.findall(
            r"\bMapInArrow\b|\bMapInPandas\b|\bPythonMapInArrow\b", text)),
        "flatmap_groups_pandas": len(re.findall(
            r"\bFlatMapGroupsInPandas\b|\bFlatMapGroupsInArrow\b", text)),
        "window": len(re.findall(r"\bWindow(?:GroupLimit)? ", text)),
        "sort": len(re.findall(r"\bSort ", text)),
        "scans": len(re.findall(r"Scan parquet", text)),
        "pushed_filters": len(re.findall(
            r"PushedFilters: \[[^\]]", text)),
        "generate": len(re.findall(r"\bGenerate\b", text)),
        "aqe": ("AdaptiveSparkPlan" in text),
        "plan_chars": len(text),
    }
    return c


def main() -> int:
    out_path = sys.argv[1]
    filters = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from __spark_entry__ import queries
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.session import (
        get_spark,
    )

    spark = get_spark("plan-census")
    qs = queries()
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        try:
            df = fn(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            results[name] = census(text)
        except Exception as exc:  # noqa: BLE001 — census must finish
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        spark.catalog.clearCache()
        print(f"planned {name}", flush=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path} ({len(results)} entries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
