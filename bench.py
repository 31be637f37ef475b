"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced through the noop sink (``format("noop")``) so the
FULL projection executes — ``count()`` would let Catalyst prune away the
computed columns and measure nothing.

Besides the sf0.1 per-query timings, the line carries a ``crossover``
section: the SAME operator (IQR cap + standard scale, exact percentiles)
timed on generated data at $SPARK_GRAFT_XROWS rows (default 6M — the
measured Spark/pandas crossover scale from BASELINE.md) for both engines.
sf0.1 (~600 k rows) is far below a JVM engine's efficiency floor; the
crossover section is where the scaling argument is made with numbers
instead of prose. Disable with SPARK_GRAFT_XROWS=0.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from dataforge_spark.session import get_spark  # noqa: E402

# Each query runs RUNS_PER_QUERY times and reports the MIN: the first run
# of a novel plan shape pays one-time whole-stage-codegen compilation
# (measured 3-5 s per unique aggregate plan on this box — the entire
# r3 "s4_profile 25 s regression" was first-query compile + co-tenant
# noise; steady state is 1.2 s) plus shared-box scheduling noise. At
# 100 TB a plan compiles once and runs for minutes, so steady-state is
# the number that scales. wall_sec in the output keeps the honest total.
RUNS_PER_QUERY = 2

# Steady-state calibration ceilings for the contention-aware retries
# (shared by the sf0.1 headline loop and the sf1 paired block): the
# fixed reference job runs ~0.10-0.15 s Spark-side and the pandas numpy
# twin ~0.65 s on a quiet host; a phase whose [pre, post] calibrations
# exceed these re-runs once and the cleanest attempt is recorded.
#
# Every Spark-side reference below (this ceiling, STEADY_REF,
# SF1_STEADY_REF, XHUGE_LEG_REF) was measured at local[32]. The driver
# ALSO runs this bench at a lower core count to measure scaling; there
# the calibration job and the parallel rows slow down by up to
# 32/cpus, which is core scaling, not co-tenant contention — without
# the scale factor the guards would mass-trigger, re-measuring clean
# rows and filling contended_rows with junk. Scaling the trip points
# by the linear bound makes the guard deliberately conservative away
# from its 32-core measurement point (sub-linear rows sit below the
# scaled refs); the pandas twin is single-threaded and needs no
# scaling.
_REF_CPUS = 32


def _available_cpus() -> int:
    """CPUs actually available to this process: cgroup/affinity-aware
    (ADVICE r13 item 2 — os.cpu_count() reports HOST logical CPUs, so a
    driver lowering cores via cpuset/taskset instead of
    SPARK_GRAFT_CPUS would leave the guard scale at 1.0 while local[32]
    oversubscribes)."""
    try:
        return len(os.sched_getaffinity(0)) or _REF_CPUS
    except (AttributeError, OSError):
        return os.cpu_count() or _REF_CPUS


def _parse_cpus(raw: str | None) -> int:
    """SPARK_GRAFT_CPUS, tolerantly (ADVICE r13 item 1): session.py
    passes the value verbatim into local[{cpus}], where non-numeric
    forms like '*' are legal — the bench must not crash at import on
    what the session accepts. Non-numeric → the affinity count."""
    if raw is not None:
        try:
            return int(raw)
        except ValueError:
            pass
    return _available_cpus()


_BENCH_CPUS = _parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
# Sub-linear (sqrt) core scaling of the trip points (ADVICE r13 item 4):
# the r13 8-vs-32-core driver run measured every sf0.1 row FLAT to
# FASTER at 8 cores (ratios 0.49-1.36), so a LINEAR 32/cpus bound made
# every guard 4x and effectively inert at low core counts — real
# co-tenant contention would pass unflagged. sqrt keeps low-core
# headroom for the few rows that do lean on cores (x_text 1.36x at 8)
# while leaving the guards meaningful: at 8 cores thresholds are 2x,
# not 4x.
_CORE_SCALE = max(1.0, (_REF_CPUS / max(1, _BENCH_CPUS)) ** 0.5)
SPARK_CAL_STEADY = 0.35 * _CORE_SCALE
PANDAS_CAL_STEADY = 1.0

# Per-row steady-state references for the per-row contention guard
# (VERDICT r11 task 1; refreshed per VERDICT r12 task 8 — stale
# references under-trigger on rows that legitimately got faster).
# Values: max of the TWO end-of-r13 quiet-host runs (steal 0.00-0.01%,
# calibrations 0.10-0.13, contended_rows {}, totals 32.411 / 32.504 —
# 0.3% apart), rounded up to the next 0.05 s. Every r13-optimized row
# moved, so the whole table is re-baselined rather than patched
# rowwise. These are GUARD thresholds, not oracles — a genuinely
# regressed row still records its measured value after re-measures
# confirm the host was quiet.
STEADY_REF = {
    "s4_profile": 1.35, "s4_profile_approx": 0.85,
    # m5_m6/o6_o7/pipeline: r13 dropped exact_quantiles' small-input
    # percentile tier (f6db425)
    "m5_m6_fill_stats": 1.65, "m8_m9_ordered_fill": 0.65,
    "d1_dedup_keep_first": 0.40,
    "o6_o7_outlier_actions": 0.90,
    "t234_auto_convert": 2.00, "x_text_suite": 1.40,
    "dt1_datetime_features": 0.70,
    # e2: r13 domain-pairs checkpoint (3333668)
    "e2_onehot_encode": 0.60,
    "y1_common_typos": 0.50, "n1_n5_standard_roundtrip": 0.80,
    "dedup_exact_intercorpus": 0.45, "dedup_spans": 0.95,
    # minhash/jaccard: r13 candidate-pruned verify + no-job shingle
    # gate (056c223, 0fd780a)
    "dedup_minhash_verified": 2.70, "dedup_jaccard_pairs": 1.55,
    "sim_cosine_topk": 0.70, "sim_pq_topk": 1.70, "sim_ivf_topk": 0.40,
    # txt_metrics: struct-once projection + vocab checkpoint (3773ee9)
    # + single-pass Gopher codegen (e9a033d)
    "txt_metrics": 1.90, "stream_sessionize_native": 0.40,
    "stream_sessionize_stateful": 1.65,
    "pipeline_e2e": 1.15,
    "join_asof": 0.45, "join_range": 1.60,
    # curation_split: includes the dsir_w/dsir_sel legs (zero-shuffle
    # after c3483a1)
    "curation_split": 0.80,
    "curation_contamination": 0.95,
    # curation_pack: shared window exchange (4f2424a)
    "curation_pack": 0.45,
    "stream_window_agg": 1.25, "o4_isolation_forest": 1.35,
    "sim_ivf_disk_topk": 0.75, "stream_sjoin": 1.90,
}
# a row re-measures while it exceeds this multiple of its reference AND
# a calibration probe confirms the host is off steady state
ROW_GUARD_FACTOR = 3.0
ROW_GUARD_RETRIES = 2

# sf1 per-row references (VERDICT r12 task 3: the headline loop got the
# per-row guard in r12, but the sf1 rows still slipped contended values
# into the artifact — stream_sjoin 9.2 s vs the committed 3.3 s behind
# a 0.32 post-calibration). Values: the r12 committed sf1 block where
# it ran quiet, the builder's committed values for the two rows the
# driver re-run caught contended (stream_sjoin 3.3; m8_m9 — r13
# decomposition). The sf1 loop is already best-of-3 per row, so a 2x
# excess over steady is a stronger contention signal than the
# headline's single-shot 3x.
# Values (r14, ADVICE r13 item 3 — the r13 table left some refs BELOW
# honestly-measured quiet rows, e.g. m5_m6 ref 1.20 vs 1.95 measured):
# per-row MAX over the two committed quiet sf1 runs — the builder's
# end-of-r13 single pass (b97c69e bench_detail, calibrations
# [0.137, 0.134]) and the driver's r13 run (cd34d96 bench_detail,
# calibrations [0.137, 0.134], 13/13 fold checks) — rounded UP to the
# next 0.05 s. The two runs differ up to ~2x on some rows (different
# host weather/page-cache state); taking the max keeps these as
# re-measure trip points that honest quiet runs cannot trip.
SF1_STEADY_REF = {
    "s4_profile": 1.65, "s4_profile_approx": 0.75,
    "m5_m6_fill_stats": 1.95, "m8_m9_ordered_fill": 3.35,
    "d1_dedup_keep_first": 0.70, "o6_o7_outlier_actions": 1.70,
    "t234_auto_convert": 2.45, "x_text_suite": 1.50,
    "dt1_datetime_features": 0.60, "e2_onehot_encode": 0.75,
    "y1_common_typos": 0.55, "n1_n5_standard_roundtrip": 1.15,
    "dedup_exact_intercorpus": 0.80, "dedup_spans": 1.50,
    "dedup_minhash_verified": 3.95, "dedup_jaccard_pairs": 8.75,
    "sim_cosine_topk": 0.65, "sim_pq_topk": 2.90, "sim_ivf_topk": 0.60,
    "txt_metrics": 5.70, "stream_sessionize_native": 0.60,
    "stream_sessionize_stateful": 3.55, "pipeline_e2e": 2.80,
    "join_asof": 0.95, "join_range": 1.65, "curation_split": 1.85,
    "curation_contamination": 1.50, "curation_pack": 0.70,
    "stream_window_agg": 1.35, "o4_isolation_forest": 3.45,
    "sim_ivf_disk_topk": 0.70, "stream_sjoin": 4.35,
}
SF1_ROW_GUARD_FACTOR = 2.0

# Headline set: one per operator family + the scale-relevant extensions.
BENCH_QUERIES = [
    "s4_profile",
    "s4_profile_approx",
    "m5_m6_fill_stats",
    "m8_m9_ordered_fill",
    "d1_dedup_keep_first",
    "o6_o7_outlier_actions",
    "t234_auto_convert",
    "x_text_suite",
    "dt1_datetime_features",
    "e2_onehot_encode",
    "y1_common_typos",
    "n1_n5_standard_roundtrip",
    "dedup_exact_intercorpus",
    "dedup_spans",
    "dedup_minhash_verified",
    "dedup_jaccard_pairs",
    "sim_cosine_topk",
    "sim_pq_topk",
    "sim_ivf_topk",
    "txt_metrics",
    # round 10 (VERDICT r9 task 1): the r1-r9 "stream_sessionize" row
    # (union of both legs) is split — the pure-JVM session_window leg is
    # the sessionization HEADLINE (the 100 TB scale path), and the
    # applyInPandasWithState leg is its own row, floor-decomposed in
    # PLANS.md (a null state fn pays ~80% of it: per-group state
    # protocol, not session logic). r9's stream_sessionize ≈ the sum of
    # these two minus one stream-machinery constant.
    "stream_sessionize_native",
    "stream_sessionize_stateful",
    "pipeline_e2e",
    "join_asof",
    "join_range",
    "curation_split",
    "curation_contamination",
    "curation_pack",
    # round-4/5 driver rows. r10: the registry row widened into a
    # (wagg + sjoin) union, but the BENCH name keeps timing only the
    # wagg leg (r1-r9 1:1 comparability); the stream-stream join is its
    # own row below.
    "stream_window_agg",
    "o4_isolation_forest",
    "sim_ivf_disk_topk",
    # r10: watermarked stream-stream interval join (impressions×clicks),
    # drained through the production parquet sink
    "stream_sjoin",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _s4_profile_approx(spark, sf_dir):
    """The profiler's production path: HyperLogLog++ distinct sketches
    (fixed KB of aggregate state per column) instead of exact
    count_distinct (state proportional to column cardinality). The exact
    row stays in the set for oracle parity; this one is the number a
    100 TB profiling job would see."""
    from pyspark.sql import functions as F

    from dataforge_spark.profile import profile_df

    ev = entry._events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value")).alias("value"),
        F.when(F.col("event_id") % 11 == 0, F.lit("unknown")).otherwise(F.col("props")).alias("props"),
    )
    return profile_df(ev, columns=["value", "props"], approx=True)


def crossover_bench(spark, n_rows: int) -> dict:
    """Four operator classes on n_rows of generated data, Spark operators
    vs the pandas/numpy equivalent — the apples-to-apples compute
    comparison at the scale where engine design starts to matter:

    - iqr_cap / standard_scale: statistics + projection (o6/n1);
    - dedup: shuffle-bound keep-first over a 50%-duplicate key space (d1);
    - distinct_count: the profiler's per-column cardinality (s4).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from dataforge_spark.operators.outliers import handle_outliers
    from dataforge_spark.operators.normalization import normalize_data

    gen = spark.range(n_rows).select(
        "id", (F.sin(F.col("id").cast("double")) * 1000 + 5000).alias("price")
    )
    t0 = time.time()
    _noop(handle_outliers(gen, columns=["price"], method="iqr", action="cap"))
    spark_cap = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(normalize_data(gen, columns=["price"], method="standard")[0])
    spark_scale = round(time.time() - t0, 3)
    # 50%-duplicate bigint key: the d1 shuffle path
    dup = spark.range(n_rows).select((F.col("id") % (n_rows // 2)).alias("k"),
                                     (F.col("id") % 97).alias("v"))
    t0 = time.time()
    _noop(dup.groupBy("k").agg(F.min("v").alias("v")))
    spark_dedup = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(dup.agg(F.count_distinct("k").alias("n"),
                  F.count_distinct("v").alias("m")))
    spark_distinct = round(time.time() - t0, 3)

    ids = np.arange(n_rows, dtype=np.float64)
    price = np.sin(ids) * 1000 + 5000
    pdf = pd.DataFrame({"price": price})
    t0 = time.time()
    s = pdf["price"]
    q1, q3 = s.quantile(0.25), s.quantile(0.75)
    iqr = q3 - q1
    _ = s.clip(q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    pandas_cap = round(time.time() - t0, 3)
    t0 = time.time()
    _ = (s - s.mean()) / s.std(ddof=0)
    pandas_scale = round(time.time() - t0, 3)
    kd = pd.DataFrame({"k": np.arange(n_rows, dtype=np.int64) % (n_rows // 2),
                       "v": np.arange(n_rows, dtype=np.int64) % 97})
    t0 = time.time()
    _ = kd.groupby("k", as_index=False)["v"].min()
    pandas_dedup = round(time.time() - t0, 3)
    t0 = time.time()
    _ = (kd["k"].nunique(), kd["v"].nunique())
    pandas_distinct = round(time.time() - t0, 3)

    return {
        "rows": n_rows,
        "spark_sec": {"iqr_cap": spark_cap, "standard_scale": spark_scale,
                      "dedup": spark_dedup, "distinct_count": spark_distinct},
        "pandas_sec": {"iqr_cap": pandas_cap, "standard_scale": pandas_scale,
                       "dedup": pandas_dedup, "distinct_count": pandas_distinct},
    }


# Per-leg steady references for the 600M block's re-measure rule
# (VERDICT r12 task 3): a leg above XHUGE_GUARD_FACTOR x its reference
# triggers a calibration probe; off-steady probe => the number is
# weather, re-run the leg once and keep the min (attempts recorded).
# Re-baselined end-of-r13 to the standalone quiet-host block
# (steal 0.00%: iqr 19.1, scale 3.4, dedup 68.3, repart 24.8,
# distinct 36.6, approx 2.2, bucketed 10.4 — data-sized shuffle
# partitions + steal-free host; the old r12-era values sat 2-17x high
# and let a 3.4x-elevated distinct_count pass unflagged), with ~25%
# margin. Values are 32-core; the _CORE_SCALE bound above applies at
# lower core counts.
XHUGE_LEG_REF = {
    "iqr_cap": 24.0, "standard_scale": 4.5, "dedup": 85.0,
    "distinct_count": 46.0, "distinct_approx": 3.0,
    "dedup_repart": 31.0,
    # bucketed: the only disk-read leg (3.3 GB layout). 10-13 s with
    # the layout page-cached (just written), ~31 s cold at this box's
    # ~106 MB/s disk — the ref spans the band so an honest cold read
    # does not trip as weather.
    "dedup_bucketed": 16.0,
}
XHUGE_GUARD_FACTOR = 2.0

# Apply the core-count bound to every Spark-side reference table (see
# the _CORE_SCALE comment above SPARK_CAL_STEADY): trip points follow
# the measurement conditions, contended_rows["ref"] records the trip
# point actually used.
if _CORE_SCALE != 1.0:
    STEADY_REF = {k: round(v * _CORE_SCALE, 3) for k, v in STEADY_REF.items()}
    SF1_STEADY_REF = {
        k: round(v * _CORE_SCALE, 3) for k, v in SF1_STEADY_REF.items()
    }
    XHUGE_LEG_REF = {
        k: round(v * _CORE_SCALE, 3) for k, v in XHUGE_LEG_REF.items()
    }


def crossover_spark_only(spark, n_rows: int) -> dict:
    """Next-decade probe (VERDICT r11 task 9): the crossover block's
    operator classes Spark-only at ≥600 M rows — the 6M/60M paired
    blocks already bracket the pandas crossover; at this scale the
    single-core baseline is minutes of wall for no added signal, so the
    evidence is absolute throughput (rows/sec) holding up another 10×.

    Shuffle partitions are sized to the data (~2.5 M rows/partition,
    capped at 512): no cluster runs a 600 M-row wide aggregation on the
    sf0.1-tuned 32 reducers — measured at 150 M rows, 32 partitions
    spill-bound count_distinct to 114 s where 256 partitions run it in
    10.8 s. The conf is restored after the block.

    Round 13 (VERDICT r12 tasks 1/3/4) adds:

    - ``distinct_approx``: the profiler's documented production path
      (HyperLogLog++, fixed-KB state per column) next to the exact
      count_distinct leg, with its measured relative error vs the
      closed-form truth (k has exactly n_rows/2 distinct values, v 97).
    - ``dedup_repart``: repartition-by-key FIRST, then aggregate — the
      zero-layout mitigation for the plain leg's map-side partial-agg
      spill (each input partition holds ~all-distinct keys, so the
      partial pass builds a task-sized hash map, spills, and reduces
      nothing; shuffling rows unaggregated costs the same bytes and
      lets both agg passes run over ~n/partitions keys).
    - ``dedup_bucketed``: keep-first dedup reading a pre-bucketed
      layout (``partitioning.write_bucketed``, 512 buckets) — the
      recurring-dedup answer: NO exchange in the agg plan (bucketed
      scan satisfies the clustering) and per-task hash maps bounded by
      the bucket's key count. The one-time layout write is reported
      separately as ``bucket_layout_sec`` (0.0 = reused the on-disk
      table from an earlier run, like the IVF/PQ index builds).
    - a per-leg re-measure rule (XHUGE_LEG_REF): legs far above their
      steady reference re-run once when a calibration probe confirms
      the host was off steady state — the r12 artifact carried a 2.5×
      contended swing on the plain dedup leg."""
    import numpy as np  # noqa: F401
    from pyspark.sql import functions as F

    from dataforge_spark.operators.outliers import handle_outliers
    from dataforge_spark.operators.normalization import normalize_data
    from dataforge_spark.partitioning import register_bucketed, write_bucketed

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    target = min(512, max(int(prev_parts), n_rows // 2_500_000))
    spark.conf.set("spark.sql.shuffle.partitions", target)
    secs: dict[str, float] = {}
    contended: dict[str, dict] = {}

    def leg(name, fn):
        t0 = time.time()
        fn()
        best = round(time.time() - t0, 3)
        ref = XHUGE_LEG_REF.get(name)
        if ref and best > XHUGE_GUARD_FACTOR * ref:
            probe = _calibration_sec(spark)
            if probe > SPARK_CAL_STEADY:
                t0 = time.time()
                fn()
                best = min(best, round(time.time() - t0, 3))
            contended[name] = {"ref": ref, "best": best,
                               "probe": round(probe, 3)}
        secs[name] = best

    try:
        gen = spark.range(n_rows).select(
            "id",
            (F.sin(F.col("id").cast("double")) * 1000 + 5000).alias("price"),
        )
        leg("iqr_cap", lambda: _noop(
            handle_outliers(gen, columns=["price"], method="iqr",
                            action="cap")))
        leg("standard_scale", lambda: _noop(
            normalize_data(gen, columns=["price"], method="standard")[0]))
        dup = spark.range(n_rows).select(
            (F.col("id") % (n_rows // 2)).alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        leg("dedup", lambda: _noop(
            dup.groupBy("k").agg(F.min("v").alias("v"))))
        leg("dedup_repart", lambda: _noop(
            dup.repartition(target, F.col("k"))
            .groupBy("k").agg(F.min("v").alias("v"))))
        leg("distinct_count", lambda: _noop(
            dup.agg(F.count_distinct("k").alias("n"),
                    F.count_distinct("v").alias("m"))))
        # HLL++ leg + measured relative error vs the closed-form truth
        approx_row: dict = {}

        def _approx():
            approx_row.update(
                dup.agg(
                    F.approx_count_distinct("k").alias("n"),
                    F.approx_count_distinct("v").alias("m"),
                ).collect()[0].asDict()
            )

        leg("distinct_approx", _approx)
        # bucketed-layout leg: one-time write (disclosed), then the
        # exchange-free aggregation over the bucketed scan
        buckets = 512
        tbl = f"dedup_bucketed_{n_rows}"
        bpath = f"/tmp/dataforge_bucketed_{n_rows}_{buckets}"
        layout_sec = 0.0
        if not os.path.exists(os.path.join(bpath, "_SUCCESS")):
            t0 = time.time()
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            write_bucketed(dup, tbl, "k", buckets=buckets, path=bpath,
                           align=True)
            layout_sec = round(time.time() - t0, 3)
        register_bucketed(spark, tbl, bpath, "k", buckets,
                          "k BIGINT, v BIGINT")
        leg("dedup_bucketed", lambda: _noop(
            spark.table(tbl).groupBy("k").agg(F.min("v").alias("v"))))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = {
        "rows": n_rows,
        "spark_sec": secs,
        "shuffle_partitions": target,
        "bucket_layout_sec": layout_sec,
        "mrows_per_sec": {
            k: round(n_rows / v / 1e6, 1) for k, v in secs.items() if v > 0
        },
    }
    if approx_row:
        exact_k, exact_v = n_rows // 2, 97
        out["distinct_approx_rel_err"] = {
            "k": round(abs(int(approx_row["n"]) - exact_k) / exact_k, 4),
            "v": round(abs(int(approx_row["m"]) - exact_v) / exact_v, 4),
        }
    if contended:
        out["contended_legs"] = contended
    return out


def _gen_index_corpus(spark, n_rows: int):
    """Deterministic synthetic text corpus for the persisted-index
    block: 12 tokens/doc from a 1000-word vocabulary, each token an
    ``xxhash64(doc_id, j)`` draw (codegen, no Python) — tokens are
    decorrelated ACROSS docs (a linear-congruential draw shares shingle
    DIFFERENCES between docs and floods the buckets with false
    candidates — measured 1583 candidates/doc), and 10 shingles/doc
    keeps the 64-permutation signature pass affordable at 6 M docs."""
    from pyspark.sql import functions as F

    base = spark.range(n_rows).select(F.col("id").alias("doc_id"))
    words = [
        F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(j)), F.lit(1000))
            .cast("string"),
        )
        for j in range(12)
    ]
    return base.select("doc_id", F.concat_ws(" ", *words).alias("text"))


def index_match_block(spark, n_rows: int, batch_rows: int = 10_000) -> dict:
    """Persisted-MinHash-index scale evidence (VERDICT r11 task 8):
    build ``dedup.index.write_minhash_index`` over an ``n_rows``-doc
    generated corpus ONCE (cached on disk across rounds, like the
    IVF/PQ builds), then match a ``batch_rows`` incremental batch
    against it — the steady-state operation a persisted index exists
    for. The batch is exact copies of every (n_rows//batch_rows)-th
    corpus doc under fresh ids, so every batch doc has exactly one
    est_jaccard=1.0 true match. Also times the corpus signature+banding
    pass a NO-index pipeline would redo per batch (``rescan_sig_sec``)
    — the index-vs-rescan speedup is match_sec vs that. Fan-out =
    candidate pairs per batch doc at threshold 0 (bounded-probe
    evidence)."""
    from pyspark.sql import functions as F

    from dataforge_spark.dedup.index import (
        match_against_index,
        write_minhash_index,
    )
    from dataforge_spark.dedup.minhash import banded_keys, minhash_signatures

    corpus = _gen_index_corpus(spark, n_rows)
    path = f"/tmp/dataforge_mh_idx_{n_rows}"
    build_sec = 0.0
    if not os.path.exists(os.path.join(path, "_meta", "_SUCCESS")):
        t0 = time.time()
        write_minhash_index(corpus, path)
        build_sec = round(time.time() - t0, 3)

    stride = max(1, n_rows // batch_rows)
    # every stride-th corpus doc under a fresh id; the id shift happens
    # AFTER text generation, so the payload is the original's verbatim
    batch = _gen_index_corpus(spark, n_rows).where(
        F.col("doc_id") % stride == 0
    ).select((F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text")
    t0 = time.time()
    pairs = match_against_index(batch, path, threshold=0.0,
                                broadcast_probe=True)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("cands"),
        F.sum((F.col("est_jaccard") >= 0.9).cast("long")).alias("hits"),
        F.count_distinct("new_id").alias("docs_matched"),
    ).collect()[0]
    match_sec = round(time.time() - t0, 3)

    t0 = time.time()
    _noop(banded_keys(minhash_signatures(corpus), 16, 4))
    rescan_sig_sec = round(time.time() - t0, 3)

    n_batch = batch.count()
    return {
        "rows": n_rows,
        "batch_rows": n_batch,
        "build_sec": build_sec,  # 0.0 = reused the cached index
        "match_sec": match_sec,
        "rescan_sig_sec": rescan_sig_sec,
        "candidates": int(agg["cands"]),
        "candidates_per_doc": round(int(agg["cands"]) / max(n_batch, 1), 2),
        "matches_t0.9": int(agg["hits"] or 0),
        "docs_matched": int(agg["docs_matched"]),
    }


def jsonl_bench(spark, sf_dir: str) -> dict:
    """Crawl-ingest format perf (VERDICT r8 task 5): the documents
    corpus as gzip JSONL with 100 injected corrupt lines, read through
    the production ``read_jsonl`` PERMISSIVE+quarantine path and written
    back through ``write_jsonl``, vs the single-node equivalent (a
    json.loads line loop with try/except — pandas' ``read_json(lines=
    True)`` hard-fails on the first corrupt line, so the loop IS the
    fair PERMISSIVE twin) and ``to_json(lines=True)``. Best-of-2 per
    leg like every other number on this host; input prepared off the
    clock and keyed on the corpus fingerprint."""
    import glob
    import gzip
    import json as _json

    import pandas as pd
    from pyspark.sql import functions as F

    from dataforge_spark.io import read_jsonl, write_jsonl

    docs = entry._t(spark, sf_dir, "documents")
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in docs.schema.fields)
    src = f"/tmp/dataforge_jsonl_{entry._corpus_ident(sf_dir, 'documents')}"
    if not os.path.exists(os.path.join(src, "_BENCH_READY")):
        write_jsonl(docs, src, compression="gzip")
        with gzip.open(os.path.join(src, "part-corrupt.json.gz"), "wt") as fh:
            for i in range(100):
                fh.write('{"doc_id": %d, "text": broken\n' % i)
        open(os.path.join(src, "_BENCH_READY"), "w").close()

    def best2(fn):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 3)

    quarantined = read_jsonl(spark, src, schema=ddl, corrupt_col="_corrupt")
    spark_read = best2(lambda: _noop(quarantined))
    out_path = f"/tmp/dataforge_jsonl_out_{os.getpid()}"
    spark_write = best2(lambda: write_jsonl(docs, out_path, compression="gzip"))
    # quarantine correctness spot check, off the clock (cache: Spark
    # disallows filtering the internal corrupt column on the raw scan)
    cached = quarantined.cache()
    n_bad = cached.where(F.col("_corrupt").isNotNull()).count()
    n_all = cached.count()
    cached.unpersist()

    def pandas_read():
        rows, bad = [], 0
        for p in sorted(glob.glob(os.path.join(src, "part-*"))):
            opener = gzip.open if p.endswith(".gz") else open
            with opener(p, "rt") as fh:
                for line in fh:
                    try:
                        rows.append(_json.loads(line))
                    except ValueError:
                        bad += 1
        pandas_read.result = (pd.DataFrame(rows), bad)

    p_read = best2(pandas_read)
    pdf, p_bad = pandas_read.result
    p_write = best2(lambda: pdf.to_json(
        f"/tmp/dataforge_jsonl_pd_{os.getpid()}.json.gz",
        orient="records", lines=True, compression="gzip",
    ))
    return {
        "rows": n_all - n_bad,
        "corrupt_quarantined": [n_bad, p_bad],
        "spark_read_sec": spark_read,
        "spark_write_sec": spark_write,
        "pandas_read_sec": p_read,
        "pandas_write_sec": p_write,
    }


# sf1 correctness spot rows: one per operator family with a non-trivial
# plan. Results are compared as engine-side FOLDS (see _sf1_fold_check) —
# the full row-by-row gate runs at sf0.01 where fetch cost is trivial.
SF1_SPOT_QUERIES = [
    "m8_m9_ordered_fill",
    "o6_o7_outlier_actions",
    "dedup_minhash_verified",
    "pipeline_e2e",
    "stream_sessionize",
    "dedup_spans",
    "curation_split",
    "t234_auto_convert",
    # round-5 additions: the prefix-sum range aggregation, the unigram-LM
    # extended text row, the merged dedup legs, and a scaler roundtrip
    "join_range",
    "txt_metrics",
    "dedup_exact_intercorpus",
    "n1_n5_standard_roundtrip",
    # round-6: the text-cleaning row moved to the Arrow kernel — fold-
    # compare it at sf1 too, not only at the sf0.01 row-exact gate
    "x_text_suite",
]

_DUCK_NUM = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "FLOAT", "REAL", "DOUBLE", "DECIMAL"}
_SPARK_NUM = {"tinyint", "smallint", "int", "bigint", "long",
              "float", "double", "decimal"}


def _sf1_fold_check(spark, con, qfn, sql, sf1_dir) -> dict:
    """Order-independent engine-side reduction of a query result, computed
    by Spark on the DataFrame and by DuckDB on the oracle SQL: row count,
    per-numeric-column sum of CAST(round(c*1000) AS BIGINT) (exact integer
    arithmetic — no float-order drift), per-string-column length sum +
    distinct count, booleans as 0/1 sums, anything else as a distinct
    count. Catches wrong rows/values/cardinalities without fetching
    millions of rows through Python."""
    from pyspark.sql import functions as F

    df = qfn(spark, sf1_dir)
    # Numeric sums fold MODULO a prime: sum(round(c*1000)) overflows
    # int64 when |c| ~ 1e12 over 1e4+ rows (the interval id-sum column
    # did, under ANSI) — summing per-row residues in [0, P) keeps the
    # aggregate < 1e17 at 1e8 rows and stays an exact integer fingerprint
    # on both engines (identical residue on identical values).
    P = 1_000_000_007
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    duck_parts = ["CAST(count(*) AS BIGINT) AS n"]
    for c, t in df.dtypes:
        base = t.split("(")[0]
        qc = f'"{c}"'
        if base in _SPARK_NUM:
            aggs.append(
                F.pmod(
                    F.sum(
                        F.pmod(
                            F.round(F.col(c).cast("double") * 1000).cast("long"),
                            F.lit(P),
                        )
                    ),
                    F.lit(P),
                ).alias(f"s_{c}")
            )
            duck_parts.append(
                f"CAST(sum(((CAST(round(CAST({qc} AS DOUBLE)*1000) AS BIGINT)"
                f" % {P}) + {P}) % {P}) % {P} AS BIGINT) AS \"s_{c}\""
            )
        elif base == "string":
            aggs.append(F.sum(F.length(F.col(c)).cast("long")).alias(f"l_{c}"))
            aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"d_{c}"))
            duck_parts.append(f'sum(CAST(length({qc}) AS BIGINT)) AS "l_{c}"')
            duck_parts.append(f'CAST(count(DISTINCT {qc}) AS BIGINT) AS "d_{c}"')
        elif base == "boolean":
            aggs.append(
                F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long").alias(f"s_{c}")
            )
            duck_parts.append(
                f'sum(CASE WHEN {qc} THEN 1 ELSE 0 END) AS "s_{c}"'
            )
        else:
            aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"d_{c}"))
            duck_parts.append(f'CAST(count(DISTINCT {qc}) AS BIGINT) AS "d_{c}"')
    got = {k: (None if v is None else int(v))
           for k, v in df.agg(*aggs).collect()[0].asDict().items()}
    duck_sql = f"SELECT {', '.join(duck_parts)} FROM ({sql}) __q"
    row = con.execute(duck_sql).fetchone()
    cols = [d[0] for d in con.description]
    want = {k: (None if v is None else int(v)) for k, v in zip(cols, row)}
    return {
        "match": got == want,
        "spark": got,
        "oracle": want,
    }


def sf1_block(spark, sf1_dir: str, stream_overhead_sec: float | None = None) -> dict:
    """The sf1 (10x sf0.1) gate: full headline bench spark-vs-pandas at
    the scale where BASELINE.md's crossover shows engine design matters,
    plus fold-compared correctness spot rows."""
    import subprocess

    import duckdb

    qs = dict(entry.queries())
    qs["s4_profile_approx"] = _s4_profile_approx
    # bench-only row: folded into the sim_pq_topk registry union in r9,
    # kept standalone here so the per-round bench history stays 1:1
    qs["sim_cosine_topk"] = entry.q_sim_cosine_topk
    # bench-only rows (r10): the sessionize legs timed separately; the
    # registry union row stream_sessionize stays for the fold check
    qs["stream_sessionize_native"] = entry.q_stream_sessionize_native
    qs["stream_sessionize_stateful"] = entry.q_stream_sessionize_stateful
    # r10: wagg/sjoin legs timed separately (union row stays for folds)
    qs["stream_window_agg"] = entry.q_stream_wagg_only
    qs["stream_sjoin"] = entry.q_stream_sjoin_only
    # prewarm the sf1 read paths + stream input copies
    entry._events(spark, sf1_dir).write.format("noop").mode("overwrite").save()
    entry.prewarm_stream_inputs(spark, sf1_dir)
    _, ivf_build = entry.build_ivf_disk_index(spark, sf1_dir)
    _, pq_build = entry.build_pq_index(spark, sf1_dir)
    # r13: the SQ8 leg landed after this prewarm was written — without
    # this the sf1 sim_pq_topk row paid the once-per-corpus SQ build
    # inside the timed best-of-3 (measured 6.01 s vs 2.1-2.8 s warm)
    entry.build_sq_index(spark, sf1_dir)
    # once-per-corpus builds the r12 rows depend on — paid here, off the
    # timed loop, exactly like the index builds above
    entry.build_zorder_layout(spark, sf1_dir)
    entry._get_txt_classifier(spark, sf1_dir)

    # best-of-2 like the sf0.1 block: single-shot sf1 numbers swing 5-8x
    # with co-tenant load on this shared host (same query measured 12 s
    # steady and 99 s in one unlucky window); the min of two runs is the
    # honest steady-state proxy a long job would see.
    # same host-speed reference job as the sf0.1 block, PAIRED around
    # the Spark timing loop (contention starting mid-loop would
    # otherwise hide behind a clean pre-loop sample while poisoning the
    # very rows the headline ratio is computed from)
    # Contention-aware retries (r8, VERDICT r7 task 1): a phase whose
    # [pre, post] calibrations are far off steady state (Spark ~0.10-0.15,
    # pandas numpy twin ~0.65 on this host) measured a co-tenant burst,
    # not this tree — the r7 record shipped a 1.03x ratio whose pandas
    # phase was contended while clean runs measured 0.6-0.76x. Each phase
    # re-runs (once) while contended and the cleanest attempt is kept, so
    # the committed record is calibration-clean whenever ANY attempt ran
    # quiet; attempt counts are recorded for honesty.
    spark_sec: dict[str, float] = {}
    cal: list[float] = []
    spark_attempts = 0
    best_cal_max = float("inf")
    sf1_contended: dict[str, dict] = {}
    for _ in range(2):
        spark_attempts += 1
        cal_pre = _calibration_sec(spark)
        attempt_sec: dict[str, float] = {}
        for name in BENCH_QUERIES:

            def _row_best3() -> float:
                # best-of-3 at sf1 (r8): the edge calibrations can be
                # steady while a co-tenant burst lands mid-loop on one
                # query's both runs (observed: dedup_spans 3.45 in-loop
                # vs 1.3 isolated, sim_cosine_topk 5.3 vs ~1.3); a third
                # sample makes the recorded min a much better
                # steady-state proxy for ~2.5 min of extra wall.
                best = float("inf")
                for _ in range(3):
                    t0 = time.time()
                    _noop(qs[name](spark, sf1_dir))
                    best = min(best, time.time() - t0)
                return best

            best = _row_best3()
            # Per-row contention guard at sf1 (VERDICT r12 task 3 —
            # same protocol as the headline loop): a row far above its
            # steady reference probes the host; off-steady probe =>
            # weather, re-measure; steady probe => real, record it.
            ref = SF1_STEADY_REF.get(name)
            if ref and best > SF1_ROW_GUARD_FACTOR * ref:
                attempts = [round(best, 3)]
                probes = []
                for _r in range(ROW_GUARD_RETRIES):
                    probe = _calibration_sec(spark)
                    probes.append(round(probe, 3))
                    if probe <= SPARK_CAL_STEADY:
                        break  # quiet host: trust the measurement
                    best = min(best, _row_best3())
                    attempts.append(round(best, 3))
                    if best <= SF1_ROW_GUARD_FACTOR * ref:
                        break
                sf1_contended[name] = {
                    "ref": ref, "attempts": attempts, "probes": probes,
                }
            attempt_sec[name] = round(best, 3)
        attempt_cal = [cal_pre, _calibration_sec(spark)]
        if max(attempt_cal) < best_cal_max:
            best_cal_max = max(attempt_cal)
            spark_sec, cal = attempt_sec, attempt_cal
        if best_cal_max <= SPARK_CAL_STEADY:
            break

    pandas_sec: dict[str, float] = {}
    pandas_cal = None
    pandas_micro = None
    pandas_runs = None
    pandas_attempts = 0
    best_pcal_max = float("inf")
    for _ in range(2):
        pandas_attempts += 1
        try:
            # symmetric sampling (ADVICE r8): the Spark loop above is
            # best-of-3, so the baseline runs best-of-3 too — min-of-3
            # vs min-of-2 under the documented host noise would bias
            # the paired ratio toward the side with more samples
            proc = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__),
                                              "tools", "pandas_baseline.py"),
                 sf1_dir, "3"],
                capture_output=True, text=True, timeout=2400,
            )
            parsed = json.loads(proc.stdout.strip().splitlines()[-1])
            attempt_q = parsed["queries"]
            attempt_cal = parsed.get("calibration_sec")
            attempt_micro = parsed.get("micro_cal_sec")
            pandas_runs = parsed.get("runs_per_query")
        except Exception as e:  # baseline failure shouldn't kill the bench
            if not pandas_sec:
                pandas_sec = {"error": str(e)}  # type: ignore[assignment]
            continue
        pcal_max = max(attempt_cal) if attempt_cal else float("inf")
        if not pandas_sec or "error" in pandas_sec or pcal_max < best_pcal_max:
            best_pcal_max = pcal_max
            pandas_sec, pandas_cal = attempt_q, attempt_cal
            pandas_micro = attempt_micro
        if best_pcal_max <= PANDAS_CAL_STEADY:
            break

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf1_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracles = entry.oracle_sql()
    # txt_metrics' clf_prob/clf_keep come from a VALUES table the oracle
    # builder recomputes for the sf0.01 gate corpus (a sequential
    # training twin — O(corpus) driver-side, so re-deriving it for 50k
    # sf1 docs inside bench would cost minutes for no added signal).
    # The fold here checks every OTHER column at sf1; the clf columns'
    # verification scale is the row-exact sf0.01 gate.
    oracles["txt_metrics"] = (
        "SELECT * EXCLUDE (clf_prob, clf_keep) FROM ("
        + oracles["txt_metrics"] + ")"
    )
    _tm = qs["txt_metrics"]
    qs["txt_metrics"] = lambda s, d: _tm(s, d).drop("clf_prob", "clf_keep")
    # curation_split's DSIR legs likewise come from a VALUES twin
    # recomputed for the sf0.01 gate corpus (pure-Python xxh64 over
    # every gram — ~25M driver-side hashes at 50k sf1 docs for no added
    # signal); the fold checks the other legs at sf1, the DSIR legs'
    # verification scale is the row-exact sf0.01 gate.
    from pyspark.sql import functions as _F

    oracles["curation_split"] = (
        "SELECT * FROM (" + oracles["curation_split"]
        + ") WHERE op NOT IN ('dsir_w', 'dsir_sel')"
    )
    _cs = qs["curation_split"]
    qs["curation_split"] = lambda s, d: _cs(s, d).where(
        ~_F.col("op").isin("dsir_w", "dsir_sel")
    )
    correctness: dict[str, dict] = {}
    for name in SF1_SPOT_QUERIES:
        try:
            correctness[name] = _sf1_fold_check(
                spark, con, qs[name], oracles[name], sf1_dir
            )
        except Exception as e:
            correctness[name] = {"match": False, "error": str(e)}

    out = {
        "dir": sf1_dir,
        # per-side sample counts (ADVICE r8): `spark_runs_per_query` is
        # this block's best-of loop; `pandas_runs_per_query` is echoed
        # by the baseline subprocess so an asymmetry is visible in the
        # committed artifact instead of hiding behind one shared field
        "spark_runs_per_query": 3,
        "pandas_runs_per_query": pandas_runs,
        "spark_attempts": spark_attempts,
        "pandas_attempts": pandas_attempts,
        # rows that tripped the sf1 per-row contention guard (VERDICT
        # r12 task 3) — same record shape as the headline loop's
        "contended_rows": sf1_contended,
        "ivf_index_build_sec": ivf_build,
        "pq_index_build_sec": pq_build,
        "calibration_sec": cal,
        # [pre, post] single-threaded numpy reference times from inside
        # the baseline subprocess — contention DURING the pandas phase
        # (measured 28 s for a 0.16 s-steady query in one window) shows
        # up here instead of silently inflating the ratio
        "pandas_calibration_sec": pandas_cal,
        # per-query ~40ms host-speed trace from inside the baseline
        # (detail-only): localizes mid-phase bursts the edge
        # calibrations cannot see (r8 third-run lesson)
        "pandas_micro_cal_sec": pandas_micro,
        "spark_sec": spark_sec,
        "pandas_sec": pandas_sec,
        "correctness": correctness,
    }
    # streaming setup-vs-steady split at sf1 (VERDICT r8 task 6): the
    # flat per-query micro-batch overhead is measured on a 10-row
    # stream in main() and is scale-independent, so the sf1 steady
    # (data-proportional) part is the recorded row minus that constant
    if stream_overhead_sec is not None:
        out["stream_overhead_sec"] = stream_overhead_sec
        for row in ("stream_sessionize_stateful", "stream_window_agg",
                    "stream_sjoin"):
            if row in spark_sec:
                # raw SIGNED value (VERDICT r9 nit 7): a negative number
                # means the flat overhead estimate exceeded the measured
                # row — overhead-dominated, NOT free; clamping to 0.0
                # overstated the row
                out[f"{row}_steady_sec"] = round(
                    spark_sec[row] - stream_overhead_sec, 3
                )
    return out


def _release_session_state(spark) -> None:
    """Drop cross-block session state before a heavy evidence block:
    cached frames, localCheckpoint RDD blocks whose Python refs are
    gone, dead broadcasts. The 6M index block otherwise leaves GBs in
    the 48g single-JVM BlockManager and the 600M shuffle legs then
    measure spill/IO pressure inherited from the PREVIOUS block, not
    the operator — measured: dedup_repart 63.6 s / distinct_count
    122.8 s run directly after the index block vs 24.8 s / 36.6 s
    standalone, quiet calibrations both times. A driver-side GC lets
    the ContextCleaner actually release the blocks; the pause lets the
    async cleanup land. Measurement hygiene between independent
    sections — nothing here persists results or warms the next block's
    inputs."""
    import gc

    try:
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
    except Exception:
        pass  # hygiene, never a gate


def _calibration_sec(spark) -> float:
    """Host-speed calibration: a fixed CPU-bound reference job (no I/O,
    no shuffle — a 200M-row codegen'd aggregate) timed best-of-3, steady
    ~0.3 s on a quiet host. This box is co-tenant-noisy (documented
    ±2-3x swings on identical runs); recording this next to the
    per-query numbers lets a reader normalize rows across rounds — a
    calibration much above ~0.6 s means the surrounding numbers carry
    contention, not regression. Shared by the sf0.1 line and the sf1
    block so the two stay comparable."""
    from pyspark.sql import functions as F

    cal = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(200_000_000).agg(
            F.sum((F.col("id") % 97) * (F.col("id") % 89))
        ).collect()
        cal = min(cal, time.time() - t0)
    return round(cal, 3)


def recall_block(spark, sf_dir: str) -> dict:
    """Measured recall of the approximate paths against exact ground truth
    at bench scale (VERDICT r5 task 7). Two rows:

    - ``sim_ivf_topk`` at nprobe=4 and 8 of 16 centroids (the genuinely
      approximate settings — nprobe=16 equals n_centroids and is exact by
      construction, so it would measure nothing; the bench row itself runs
      full-probe): recall@5 = |approx ∩ exact top-k pairs| / |exact top-k
      pairs|.
    - ``dedup_minhash`` at the shipped (64 perm, 16 bands, t=0.9): pair
      recall vs the exact-Jaccard ≥ 0.9 pair set. The banding collision
      bound says ≥ 1−4e-8 per pair; this measures it instead of citing it.
    """
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from dataforge_spark.dedup.minhash import minhash_dedup_pairs
    from dataforge_spark.dedup.ngram_jaccard import jaccard_pairs
    from dataforge_spark.similarity.brute_force import cosine_topk
    from dataforge_spark.similarity.ivf import ivf_cosine_topk

    emb = e._t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 50)
    pair = lambda df: df.select("query_id", "neighbor_id")  # noqa: E731
    exact = pair(cosine_topk(corpus=emb, queries=q, k=5,
                             id_col="vec_id", vec_col="embedding"))
    n_exact = exact.count()
    ivf_recall = {}
    for nprobe in (4, 8):
        approx = pair(ivf_cosine_topk(corpus=emb, queries=q, k=5,
                                      id_col="vec_id", vec_col="embedding",
                                      n_centroids=16, nprobe=nprobe))
        n_hit = exact.join(approx, ["query_id", "neighbor_id"],
                           "left_semi").count()
        ivf_recall[nprobe] = round(n_hit / n_exact, 4) if n_exact else None

    # Same index settings on a CLUSTERED corpus of the same scale
    # (VERDICT r6 task 7): the uniform synthetic corpus has no cluster
    # structure for IVF to exploit, so its 0.55@nprobe4 under-sells the
    # index; real embedding corpora cluster. 32 tight planted clusters,
    # 64-dim, seeded → deterministic.
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    centers = rng.randn(32, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.repeat(centers, 100, axis=0) + 0.08 * rng.randn(3200, 64)
    cl = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(3200, dtype=np.int64),
        "embedding": list(vecs.tolist()),
    }))
    cq = cl.where(F.col("vec_id") % 64 == 0)
    cl_exact = pair(cosine_topk(corpus=cl, queries=cq, k=5,
                                id_col="vec_id", vec_col="embedding"))
    n_cl_exact = cl_exact.count()
    cl_recall = {}
    for nprobe in (4, 8):
        approx = pair(ivf_cosine_topk(corpus=cl, queries=cq, k=5,
                                      id_col="vec_id", vec_col="embedding",
                                      n_centroids=16, nprobe=nprobe))
        n_hit = cl_exact.join(approx, ["query_id", "neighbor_id"],
                              "left_semi").count()
        cl_recall[nprobe] = round(n_hit / n_cl_exact, 4) if n_cl_exact else None

    # PQ (r8): 8-byte codes + ADC + exact re-rank on the same clustered
    # corpus — the memory-compression scale path's measured recall rides
    # in the record beside IVF's
    from dataforge_spark.similarity.pq import ivfpq_cosine_topk, pq_cosine_topk

    pq_recall = {}
    # two refine levels: the pool must COVER the 100-member planted
    # clusters for ~full recall (ADC admits candidates, the exact
    # re-rank orders them) — the pair shows the knob's effect
    for label, fn in (
        ("r12", lambda: pq_cosine_topk(cl, cq, k=5, m=8, ks=64,
                                       refine=12)),
        ("r24", lambda: pq_cosine_topk(cl, cq, k=5, m=8, ks=64,
                                       refine=24)),
        ("ivfpq8_r12", lambda: ivfpq_cosine_topk(
            cl, cq, k=5, n_centroids=16, nprobe=8, m=8, ks=64, refine=12)),
    ):
        hits = cl_exact.join(pair(fn()), ["query_id", "neighbor_id"],
                             "left_semi").count()
        pq_recall[label] = round(hits / n_cl_exact, 4) if n_cl_exact else None

    docs = e._t(spark, sf_dir, "documents")
    ex_pairs = jaccard_pairs(docs, text_col="text", id_col="doc_id", n=3,
                             threshold=0.9).select("id_a", "id_b")
    mh_pairs = minhash_dedup_pairs(docs, text_col="text", id_col="doc_id",
                                   n=3, num_perm=64, bands=16,
                                   threshold=0.9).select("id_a", "id_b")
    n_ex_pairs = ex_pairs.count()
    n_mh_hit = ex_pairs.join(mh_pairs, ["id_a", "id_b"], "left_semi").count()
    return {
        "sim_ivf_topk_recall_at_5": {
            f"nprobe{np_}": r for np_, r in ivf_recall.items()
        },
        "sim_ivf_topk_exact_pairs": n_exact,
        "sim_ivf_clustered_recall_at_5": {
            f"nprobe{np_}": r for np_, r in cl_recall.items()
        },
        "sim_ivf_clustered_exact_pairs": n_cl_exact,
        "sim_pq_recall_at_5": pq_recall,
        "dedup_minhash_t0.9_pair_recall": (
            round(n_mh_hit / n_ex_pairs, 4) if n_ex_pairs else None
        ),
        "dedup_minhash_t0.9_pairs": [n_mh_hit, n_ex_pairs],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark("dataforge_bench")
    qs = entry.queries()

    # Warm-up: first job pays JVM/codegen/parquet-footer costs (~8 s);
    # keep it out of the per-query numbers. Touch both the lineitem and
    # the (nanos-timestamped) events read paths, and materialize the
    # streaming queries' file-source input copies (session-scoped, reused
    # by the timed runs).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    ev = entry._events(spark, sf_dir)
    ev.write.format("noop").mode("overwrite").save()
    # also compile the hash-aggregate/exchange codegen paths once
    ev.groupBy("event_type").count().write.format("noop").mode("overwrite").save()
    entry.prewarm_stream_inputs(spark, sf_dir)
    # The FIRST streaming query of a session pays one-time machinery costs
    # (microbatch executor, state store instances, Python worker pool for
    # applyInPandasWithState) — measured ~5-7 s on this box. Pay it here
    # on a 10-row stream so the timed stream query measures the operator,
    # not session setup.
    from dataforge_spark.streaming import (
        run_to_memory,
        run_to_parquet_df,
        sessionize_stream,
    )

    tiny = f"/tmp/dataforge_stream_warm_{os.getpid()}"
    ev.limit(10).coalesce(1).write.mode("overwrite").parquet(tiny)
    t0 = time.time()
    run_to_memory(
        sessionize_stream(
            spark.readStream.schema(ev.schema).parquet(tiny),
            user_col="user_id", ts_col="ts", gap_minutes=30,
        )
    ).count()
    # One-time session machinery cost (microbatch executor, state store,
    # Python worker pool) — paid once per Spark session, like a cluster
    # job pays it once per application.
    stream_setup_sec = round(time.time() - t0, 3)

    qs = dict(qs)
    qs["s4_profile_approx"] = _s4_profile_approx
    # bench-only (see sf1_block): registry slot now hosts sim_pq_topk
    qs["sim_cosine_topk"] = entry.q_sim_cosine_topk
    # bench-only (r10): sessionize legs timed separately (see
    # BENCH_QUERIES comment); registry union row stays for correctness
    qs["stream_sessionize_native"] = entry.q_stream_sessionize_native
    qs["stream_sessionize_stateful"] = entry.q_stream_sessionize_stateful
    # r10: wagg/sjoin legs timed separately (union row stays for the gate)
    qs["stream_window_agg"] = entry.q_stream_wagg_only
    qs["stream_sjoin"] = entry.q_stream_sjoin_only

    # JIT pre-compilation: run every headline query once at sf0.001 (tiny
    # data, the SAME plan shapes) before the clock starts. The text rows
    # generate codegen methods large enough that the JVM's C2 compiler
    # needs ~60-90 s of background work before they run compiled — until
    # then they execute interpreted at ~6-8x, and the backlog delays
    # OTHER queries' compiles too (measured fresh-JVM txt_metrics:
    # 81 s / 92 s / 12.7 s across three identical runs). A 100 TB job
    # compiles once and runs for hours; pre-compiling at toy scale makes
    # the timed runs measure the operator, not the compiler.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        entry.prewarm_stream_inputs(spark, warm_dir)
        entry.build_ivf_disk_index(spark, warm_dir)
        entry.build_pq_index(spark, warm_dir)
        entry.build_sq_index(spark, warm_dir)
        for name in BENCH_QUERIES:
            try:
                _noop(qs[name](spark, warm_dir))
            except Exception:
                pass

    # Per-query FLAT micro-batch overhead through the production parquet
    # sink (planning, state-store commit, sink commit log, read-back) on
    # a 10-row stream: data cost ~0, so this is the constant every
    # streaming row pays regardless of scale. Measured AFTER the sf0.001
    # pre-compile loop (which already drained parquet-sink streams), so
    # one-time sink-class setup isn't misattributed to the per-query
    # constant; best-of-2 like every other number on this noisy host.
    # steady(data-proportional) cost of a streaming row = row - this.
    stream_overhead_sec = float("inf")
    for _ in range(2):
        t0 = time.time()
        run_to_parquet_df(
            sessionize_stream(
                spark.readStream.schema(ev.schema).parquet(tiny),
                user_col="user_id", ts_col="ts", gap_minutes=30,
            )
        ).count()
        stream_overhead_sec = min(stream_overhead_sec, time.time() - t0)
    stream_overhead_sec = round(stream_overhead_sec, 3)

    # Build the on-disk IVF index up front and report its cost as a
    # separate number: an on-disk index is a once-per-corpus amortized
    # write, so the sim_ivf_disk_topk row below times the SEARCH only
    # (the amortized steady state), not a full corpus rewrite per query.
    _, ivf_build_sec = entry.build_ivf_disk_index(spark, sf_dir)
    # PQ index: same amortization — the sim_pq_topk row times the search
    _, pq_build_sec = entry.build_pq_index(spark, sf_dir)
    # SQ8 index (r13 sim_pq_topk 'sq' leg): same amortization
    _, sq_build_sec = entry.build_sq_index(spark, sf_dir)
    # Z-order layout: a once-per-corpus clustering WRITE (VERDICT r11
    # task 4) — the curation_split row now times the read side only
    _, zorder_write_sec = entry.build_zorder_layout(spark, sf_dir)
    # quality-classifier training (r12 txt_metrics columns): once per
    # corpus, like the index builds — the row times scoring, not the fit
    t0 = time.time()
    entry._get_txt_classifier(spark, sf_dir)
    clf_train_sec = round(time.time() - t0, 3)
    # DSIR importance model (r13 curation_split legs): fit once per
    # corpus fingerprint — the row times scoring + Gumbel top-k
    t0 = time.time()
    entry._dsir_model(spark, sf_dir)
    dsir_fit_sec = round(time.time() - t0, 3)

    # Contention-aware retry (r8, symmetric with sf1_block): if either
    # edge calibration of the headline loop lands far off steady state
    # (~0.10-0.15 s on this host), the whole loop re-runs once and the
    # cleanest attempt is recorded — the headline `value` is what every
    # round comparison reads, so it should measure the tree, not a
    # co-tenant burst.
    times: dict[str, float] = {}
    calibration_sec = calibration_post = None
    wall = 0.0
    headline_attempts = 0
    best_cal_max = float("inf")
    contended_rows: dict[str, dict] = {}
    for _ in range(2):
        headline_attempts += 1
        cal_pre = _calibration_sec(spark)
        attempt_times: dict[str, float] = {}
        t_all = time.time()
        for name in BENCH_QUERIES:

            def _row_best() -> float:
                best = float("inf")
                for _ in range(RUNS_PER_QUERY):
                    t0 = time.time()
                    df = qs[name](spark, sf_dir)
                    _noop(df)
                    best = min(best, time.time() - t0)
                return best

            best = _row_best()
            # Per-row contention guard (VERDICT r11 task 1): the r11
            # artifact burned a 35x co-tenant burst into sim_pq_topk
            # because the loop-level retry only samples calibration at
            # the edges. If THIS row is way above its steady reference,
            # probe the host immediately: off-steady probe => the number
            # is weather, re-measure (up to ROW_GUARD_RETRIES); steady
            # probe => it's a real regression, record it and move on.
            ref = STEADY_REF.get(name)
            if ref and best > ROW_GUARD_FACTOR * ref:
                attempts = [round(best, 3)]
                probes = []
                for _r in range(ROW_GUARD_RETRIES):
                    probe = _calibration_sec(spark)
                    probes.append(probe)
                    if probe <= SPARK_CAL_STEADY:
                        break  # quiet host: trust the measurement
                    best = min(best, _row_best())
                    attempts.append(round(best, 3))
                    if best <= ROW_GUARD_FACTOR * ref:
                        break
                contended_rows[name] = {
                    "ref": ref,
                    "attempts": attempts,
                    "probes": [round(p, 3) for p in probes],
                }
            attempt_times[name] = round(best, 3)
        attempt_wall = round(time.time() - t_all, 3)
        cal_post = _calibration_sec(spark)
        if max(cal_pre, cal_post) < best_cal_max:
            best_cal_max = max(cal_pre, cal_post)
            times, wall = attempt_times, attempt_wall
            calibration_sec, calibration_post = cal_pre, cal_post
        if best_cal_max <= SPARK_CAL_STEADY:
            break
    total = round(sum(times.values()), 3)

    out = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # r14 (VERDICT r13 task 6): the core count the run actually
        # used, so a low-core driver rerun is readable as such straight
        # from the line (the sf0.1 rows are machinery-bound and ≈flat in
        # cores; see scaling_600m for the core-sensitive signal)
        "cpus": _BENCH_CPUS,
        "runs_per_query": RUNS_PER_QUERY,
        "wall_sec": wall,
        "headline_attempts": headline_attempts,
        # once-per-corpus on-disk IVF build (0.0 = reused an existing
        # index for this testdata fingerprint); searches are timed in
        # the sim_ivf_disk_topk row
        "ivf_index_build_sec": ivf_build_sec,
        "pq_index_build_sec": pq_build_sec,
        "sq_index_build_sec": sq_build_sec,
        "zorder_write_sec": zorder_write_sec,
        "clf_train_sec": clf_train_sec,
        "dsir_fit_sec": dsir_fit_sec,
        # rows that tripped the per-row contention guard: reference,
        # best-so-far after each re-measure, calibration probes (see the
        # guard comment in the loop) — empty means no row was suspect
        "contended_rows": contended_rows,
        # fixed reference-job time [before, after] the timed loop (see
        # _calibration_sec): either element >> ~0.6 s ⇒ the rows above
        # carry co-tenant contention, not regression
        "calibration_sec": [calibration_sec, calibration_post],
        # streaming setup-vs-steady split (VERDICT r6 task 3): setup =
        # once-per-session machinery; overhead = flat per-query
        # micro-batch cost measured on a 10-row stream through the
        # production parquet sink; steady = recorded stream_sessionize
        # row minus that flat overhead (the data-proportional part).
        "stream_setup_sec": stream_setup_sec,
        "stream_overhead_sec": stream_overhead_sec,
        # raw SIGNED steady values (VERDICT r9 nit 7): negative means
        # the flat overhead estimate exceeded the measured row —
        # overhead-dominated, not free (the old max(0, ·) clamp read
        # as "free" and overstated the row). r10: the sessionize steady
        # split applies to the STATEFUL leg (the only one that runs a
        # streaming query; the native headline is a batch plan).
        "stream_sessionize_stateful_steady_sec": round(
            times.get("stream_sessionize_stateful", 0.0) - stream_overhead_sec, 3
        ),
        # same split for the other streaming rows (r8): their recorded
        # numbers are likewise ~flat micro-batch machinery + steady work
        "stream_window_agg_steady_sec": round(
            times.get("stream_window_agg", 0.0) - stream_overhead_sec, 3
        ),
    }
    # Measured recall of the approximate paths (off the timed clock).
    # The final line carries a compact summary only (it must stay well
    # under the driver's ~2 KB tail capture — it hit 2057 bytes in r9
    # with the full block); the full block rides in bench_detail.json.
    recall_full: dict = {}
    try:
        recall_full = recall_block(spark, sf_dir)
        out["recall"] = {
            "ivf@5": recall_full["sim_ivf_topk_recall_at_5"],
            "ivf_cl@5": recall_full["sim_ivf_clustered_recall_at_5"],
            "pq@5": recall_full["sim_pq_recall_at_5"],
            "mh_t.9": recall_full["dedup_minhash_t0.9_pair_recall"],
        }
    except Exception as exc:  # recall is reporting, not a gate
        out["recall"] = {"error": str(exc)[:120]}

    # ------------------------------------------------------------------
    # Output contract (VERDICT r5 task 1): the FINAL stdout line is a
    # compact (<2 KB) JSON object the driver can always capture whole.
    # Bulky sections (crossover pairs, the full sf1 block with per-query
    # spark/pandas pairs and fold-check dicts) go to bench_detail.json
    # next to this script AND to a labeled earlier stdout line. Round 5's
    # line embedded the whole sf1 block and outgrew the driver's tail
    # capture → "parsed": null.
    # ------------------------------------------------------------------
    detail: dict = {}
    if recall_full:
        detail["recall"] = recall_full
    # JSONL ingest/egress leg (VERDICT r8 task 5) — off the headline
    # clock; full split in the detail file, compact pair in the line
    try:
        detail["jsonl"] = jsonl_bench(spark, sf_dir)
        out["jsonl"] = {
            "spark_sec": round(detail["jsonl"]["spark_read_sec"]
                               + detail["jsonl"]["spark_write_sec"], 3),
            "pandas_sec": round(detail["jsonl"]["pandas_read_sec"]
                                + detail["jsonl"]["pandas_write_sec"], 3),
        }
    except Exception as exc:  # reporting, not a gate
        out["jsonl"] = {"error": str(exc)[:120]}
    xrows = int(os.environ.get("SPARK_GRAFT_XROWS", "6000000"))
    if xrows > 0:
        detail["crossover"] = crossover_bench(spark, xrows)
    # sf10-scale block (60 M rows ≈ lineitem at sf10): past the measured
    # crossover, where the engine-design argument is made with numbers —
    # Spark should beat the pandas baseline outright here.
    xbig = int(os.environ.get("SPARK_GRAFT_XROWS_BIG", "60000000"))
    if xbig > 0:
        detail["crossover_60m"] = crossover_bench(spark, xbig)
    # sf1 gate (10x sf0.1, generated+cached by tools/make_sf1.py):
    # the primary scale point — per-query spark-vs-pandas pairs and
    # fold-compared correctness spot rows. SPARK_GRAFT_SF1=0 to skip.
    # Runs BEFORE the heavy 600M/index evidence blocks so the headline
    # ratio is never the casualty of a run cut short.
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf == 0.1:
        from tools.make_sf1 import ensure_sf1

        detail["sf1"] = sf1_block(
            spark, ensure_sf1(spark, sf_dir),
            stream_overhead_sec=stream_overhead_sec,
        )
    # persisted-MinHash-index block (VERDICT r11 task 8): crossover-scale
    # corpus, incremental 10k batch matched against the on-disk index
    idx_rows = int(os.environ.get("SPARK_GRAFT_INDEX_ROWS", "6000000"))
    if idx_rows > 0:
        try:
            _release_session_state(spark)
            detail["index_match"] = index_match_block(spark, idx_rows)
            out["index_match"] = {
                k: detail["index_match"][k]
                for k in ("rows", "build_sec", "match_sec",
                          "rescan_sig_sec", "candidates_per_doc",
                          "matches_t0.9")
            }
        except Exception as exc:  # reporting, not a gate
            out["index_match"] = {"error": str(exc)[:120]}
    # sf100-scale block (VERDICT r11 task 9): 600 M rows ≈ lineitem at
    # sf100 — Spark-only throughput evidence for the decade past 60 M
    # (the 6M/60M paired blocks already bracket the pandas crossover).
    # Last on purpose: ~19 min of honest shuffle at this scale (the
    # r13 dedup-mitigation legs add ~4.5 min; the plain dedup leg is
    # ~10 min of it, retained for honesty next to its fixes).
    xhuge = int(os.environ.get("SPARK_GRAFT_XROWS_HUGE", "600000000"))
    if xhuge > 0:
        try:
            _release_session_state(spark)
            detail["crossover_600m"] = crossover_spark_only(spark, xhuge)
            out["crossover_600m"] = {
                "rows": detail["crossover_600m"]["rows"],
                "spark_total_sec": round(
                    sum(detail["crossover_600m"]["spark_sec"].values()), 3
                ),
                "mrows_per_sec": detail["crossover_600m"]["mrows_per_sec"],
                "bucket_layout_sec": detail["crossover_600m"][
                    "bucket_layout_sec"
                ],
            }
        except Exception as exc:  # reporting, not a gate
            out["crossover_600m"] = {"error": str(exc)[:120]}
    if "crossover_600m" in detail:
        # A COMPACT core-sensitive signal that survives the line's byte
        # budget even when the verbose crossover_600m block is trimmed —
        # the sf0.1 headline rows are machinery-bound (8↔32-core ratios
        # ≈ 1 by nature), so the 600M per-leg throughputs (which DO
        # scale with cores) plus the core count are the scaling
        # contract's carrier in the one-line artifact. Built in its own
        # try so that a failure here cannot overwrite a good
        # crossover_600m summary.
        try:
            out["scaling_600m"] = {
                "cpus": _BENCH_CPUS,
                "mrows": {
                    k: round(v, 1)
                    for k, v in detail["crossover_600m"][
                        "mrows_per_sec"
                    ].items()
                },
            }
        except Exception as exc:  # reporting, not a gate
            out["scaling_600m"] = {"error": str(exc)[:120]}

    # Compact summaries of the bulky sections ride in the final line.
    for key in ("crossover", "crossover_60m"):
        if key in detail:
            sp = detail[key]["spark_sec"]
            pdt = detail[key]["pandas_sec"]
            out[key] = {
                "rows": detail[key]["rows"],
                "spark_total_sec": round(sum(sp.values()), 3),
                "pandas_total_sec": round(sum(pdt.values()), 3),
            }
    if "sf1" in detail:
        s1 = detail["sf1"]
        sp_total = round(sum(s1["spark_sec"].values()), 3)
        pd_q = s1["pandas_sec"]
        pd_total = (
            round(sum(v for v in pd_q.values() if isinstance(v, (int, float))), 3)
            if isinstance(pd_q, dict) and "error" not in pd_q
            else None
        )
        folds = s1["correctness"]
        out["sf1"] = {
            "spark_total_sec": sp_total,
            "pandas_total_sec": pd_total,
            "ratio": (round(sp_total / pd_total, 3) if pd_total else None),
            "fold_checks_pass": sum(1 for v in folds.values() if v.get("match")),
            "fold_checks_total": len(folds),
            # count of sf1 rows that tripped the per-row guard (full
            # records in bench_detail.json sf1.contended_rows)
            "crows": len(s1.get("contended_rows") or {}),
            "calibration_sec": s1.get("calibration_sec"),
            "pandas_calibration_sec": s1.get("pandas_calibration_sec"),
            "spark_attempts": s1.get("spark_attempts"),
            "pandas_attempts": s1.get("pandas_attempts"),
            # per-side best-of sample counts (ADVICE r8)
            "runs": [s1.get("spark_runs_per_query"),
                     s1.get("pandas_runs_per_query")],
            # short keys: the final line must stay under the driver's
            # ~2 KB tail budget (full names in bench_detail.json sf1)
            "wagg_steady_sec": s1.get("stream_window_agg_steady_sec"),
            "sess_stateful_steady_sec": s1.get(
                "stream_sessionize_stateful_steady_sec"
            ),
        }

    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json")
    # Keep the UNTRIMMED final-line dict in the detail file so nothing
    # trimmed by the byte-budget enforcer below is ever lost.
    detail["final_line_full"] = json.loads(json.dumps(out))
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh)
        out["detail_file"] = os.path.basename(detail_path)
    except OSError as exc:
        out["detail_file_error"] = str(exc)
    print("BENCH_DETAIL " + json.dumps(detail), flush=True)
    print(json.dumps(enforce_line_budget(out)), flush=True)


# Drop order for the final-line byte budget: least essential first. The
# driver captures only the last ~2 KB of stdout (VERDICT r10 nit 1 —
# r10's line overflowed and the artifact recorded `parsed: null`), so
# the final line is HARD-capped here: everything droppable already rides
# in bench_detail.json ("final_line_full"), and the core contract keys
# (metric/value/unit/queries/sf) plus the sf1 ratio are kept last.
_LINE_DROP_ORDER: list[tuple[str, ...]] = [
    ("recall",),
    ("jsonl",),
    ("crossover",),
    ("index_match",),
    ("crossover_600m",),
    ("contended_rows",),
    ("zorder_write_sec",),
    ("clf_train_sec",),
    ("dsir_fit_sec",),
    ("calibration_sec",),
    ("stream_setup_sec",),
    ("stream_overhead_sec",),
    ("stream_sessionize_stateful_steady_sec",),
    ("stream_window_agg_steady_sec",),
    ("ivf_index_build_sec",),
    ("pq_index_build_sec",),
    ("headline_attempts",),
    ("sf1", "calibration_sec"),
    ("sf1", "pandas_calibration_sec"),
    ("sf1", "spark_attempts"),
    ("sf1", "pandas_attempts"),
    ("sf1", "runs"),
    ("sf1", "crows"),
    ("sf1", "wagg_steady_sec"),
    ("sf1", "sess_stateful_steady_sec"),
    ("wall_sec",),
    ("runs_per_query",),
    ("crossover_60m",),
    # last resort only: the compact scaling signal is the reason the
    # 600M block survives trimming at all (task 6 r14) — dropped after
    # everything else optional
    ("scaling_600m",),
]


def enforce_line_budget(out: dict, budget: int | None = None) -> dict:
    """Trim `out` in-place until its JSON encoding fits the driver's
    tail-capture budget (default 1900 bytes — measured cap is ~2048;
    the margin absorbs key drift). Drops optional keys in
    `_LINE_DROP_ORDER`, then falls back to 2-decimal query times. The
    untrimmed dict is preserved in bench_detail.json."""
    if budget is None:
        budget = int(os.environ.get("SPARK_GRAFT_LINE_BUDGET", "1900"))
    # The counter lives IN the dict while trimming so the length checks
    # account for its own bytes (full line: bench_detail.json).
    for path in _LINE_DROP_ORDER:
        if len(json.dumps(out)) <= budget:
            break
        node: dict = out
        for key in path[:-1]:
            node = node.get(key, {}) if isinstance(node, dict) else {}
        if isinstance(node, dict) and path[-1] in node:
            node.pop(path[-1])
            out["trimmed_keys"] = out.get("trimmed_keys", 0) + 1
    if len(json.dumps(out)) > budget and isinstance(out.get("queries"), dict):
        out["queries"] = {
            k: (round(v, 2) if isinstance(v, float) else v)
            for k, v in out["queries"].items()
        }
        out["trimmed_keys"] = out.get("trimmed_keys", 0) + 1
    return out


if __name__ == "__main__":
    main()
