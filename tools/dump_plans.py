"""Dump .explain("formatted") for every headline bench query to
plans/<tag>/<query>_<suffix>.txt (judge evidence for plan claims).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    python tools/dump_plans.py r13 before [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, bench_queries  # noqa: E402
from dataforge_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [
        q for q in BENCH_QUERIES if not q.startswith("stream_")
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = bench_queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
