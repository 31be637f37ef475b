"""Plan-audit tool: prints shuffle/broadcast/scan metrics for the
headline queries — regenerates the PLANS.md evidence table.

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, bench_queries  # noqa: E402
from dataforge_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:] or [
        q for q in BENCH_QUERIES if not q.startswith("stream_")
    ]
    spark = get_spark("explain_audit")
    qs = bench_queries()
    print(f"{'query':28s} {'exch':>4s} {'bcast':>5s} {'smj':>4s} {'pyudf':>5s}  scans (ReadSchema, truncated)")
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        exch = plan.count("Exchange")
        bcast = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        smj = plan.count("SortMergeJoin")
        py = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") + plan.count("MapInPandas")
        scans = re.findall(r"ReadSchema: struct<([^\n>]{0,60})", plan)
        scan_s = "; ".join(s[:60] for s in scans[:2])
        print(f"{name:28s} {exch:4d} {bcast:5d} {smj:4d} {py:5d}  {scan_s}")


if __name__ == "__main__":
    main()
