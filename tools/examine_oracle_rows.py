"""Examine the oracle-only queries (the ~18 declared rows the headline
bench does not time): min-of-N wall through the noop sink plus the Spark
job count per invocation (jobs counted via a dedicated job group), with
the host's CPU steal% sampled around each row.

The benched rows get this scrutiny from bench.py; this closes the gap
for the rest of ``queries()`` so the per-operator optimization log can
cover EVERY declared row with a measured number and a job count.

Usage: python tools/examine_oracle_rows.py [-n RUNS] [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01 — the driver's
correctness scale for these rows), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dataforge_spark.session import get_spark  # noqa: E402

# queries() minus the 32 headline-benched rows (bench.py BENCH_QUERIES).
ORACLE_ONLY = [
    "boundary_scrub", "join_enrich", "llm_prep_pipeline", "mm_suite",
    "stream_dedup_profile", "dedup_simhash_verified",
    "dedup_embedding", "crawl_e2e", "y2_lsh_fuzzy_scale", "s1_io_roundtrip",
    "m1_m2_drop_rows", "m3_m4_drop_columns", "dedup_components",
    "m7_fill_mode", "o1_iqr_remove", "o2_o3_robust_remove",
    "t1_manual_cast", "e1_e3_encode", "y2_y3_difflib_fix", "y4_typo_stats",
    "n2_n3_n4_scale", "n6_scaling_stats",
]


def _stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return sum(vals), vals[7]


def main() -> None:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    names = args or ORACLE_ONLY
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("examine_oracle_rows")
    sc = spark.sparkContext
    qs = dict(entrymod.queries())
    out = {}
    for name in names:
        ts, jobs = [], []
        t_tot0, s0 = _stat()
        for i in range(runs):
            group = f"exam_{name}_{i}_{uuid.uuid4().hex[:6]}"
            sc.setJobGroup(group, f"examine:{name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            sc.setJobGroup(None, None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        t_tot1, s1 = _stat()
        steal_pct = 100.0 * (s1 - s0) / max(1, t_tot1 - t_tot0)
        out[name] = {
            "min": min(ts), "runs": ts, "jobs": jobs,
            "steal_pct": round(steal_pct, 2),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
