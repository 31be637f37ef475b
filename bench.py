"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced through the noop sink (``format("noop")``) so the
FULL projection executes — ``count()`` would let Catalyst prune away the
computed columns and measure nothing.

Noise control is the same for every row and carries no per-row
reference: each row records its best of N runs (2 at sf0.1, 3 at sf1),
and the whole row loop sits between two calibrations of a fixed
reference job (``calibration_sec``). When either calibration is off
steady, the loop runs once more and the attempt with the quieter
calibrations is recorded.

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

# Steady-state calibration ceilings for the loop-level re-run (shared by
# the sf0.1 headline loop and the sf1 paired block): the fixed reference
# job runs ~0.10-0.15 s Spark-side at local[32] and the pandas numpy twin
# ~0.65 s on a quiet host; a loop whose [pre, post] calibrations exceed
# these re-runs once and the quieter attempt is recorded.
_REF_CPUS = 32


def _available_cpus() -> int:
    """CPUs actually available to this process: cgroup/affinity-aware
    (os.cpu_count() reports HOST logical CPUs, so a run that lowers
    cores via cpuset/taskset instead of SPARK_GRAFT_CPUS would leave the
    calibration ceiling at its 32-core value while local[32]
    oversubscribes)."""
    try:
        return len(os.sched_getaffinity(0)) or _REF_CPUS
    except (AttributeError, OSError):
        return os.cpu_count() or _REF_CPUS


def _parse_cpus(raw: str | None) -> int:
    """SPARK_GRAFT_CPUS, tolerantly: session.py passes the value verbatim
    into local[{cpus}], where non-numeric forms like '*' are legal — the
    bench must not crash at import on what the session accepts.
    Non-numeric → the affinity count."""
    if raw is not None:
        try:
            return int(raw)
        except ValueError:
            pass
    return _available_cpus()


_BENCH_CPUS = _parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
# The calibration job is parallel, so below 32 cores it slows down with
# the core count, not with co-tenant load. The ceiling follows the sqrt
# of the core ratio (the r13 8-vs-32-core run measured the sf0.1 rows
# flat to faster at 8 cores; a linear bound would make the check inert
# at low core counts). The pandas twin is single-threaded and needs no
# scaling.
_CORE_SCALE = max(1.0, (_REF_CPUS / max(1, _BENCH_CPUS)) ** 0.5)
SPARK_CAL_STEADY = 0.35 * _CORE_SCALE
PANDAS_CAL_STEADY = 1.0

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


def _best_of(n: int, fn) -> float:
    """Smallest wall time of ``n`` runs of ``fn()``, in seconds rounded
    to the millisecond."""
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


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


def bench_queries() -> dict:
    """The query registry the bench times: ``entry.queries()`` plus the
    bench-only rows. ``sim_cosine_topk`` keeps its own row although the
    registry slot was folded into ``sim_pq_topk``; the sessionize,
    window-aggregate and stream-join legs are timed separately while the
    registry keeps their union rows for the oracle gate."""
    qs = dict(entry.queries())
    qs.update(
        s4_profile_approx=_s4_profile_approx,
        sim_cosine_topk=entry.q_sim_cosine_topk,
        stream_sessionize_native=entry.q_stream_sessionize_native,
        stream_sessionize_stateful=entry.q_stream_sessionize_stateful,
        stream_window_agg=entry.q_stream_wagg_only,
        stream_sjoin=entry.q_stream_sjoin_only,
    )
    return qs


def _spark_legs(spark, n_rows: int) -> tuple[dict, object]:
    """The four Spark operator legs the crossover blocks share, as
    ``name -> thunk`` over ``n_rows`` of generated data, plus the
    50%-duplicate ``(k, v)`` frame the dedup legs read:

    - iqr_cap / standard_scale: statistics + projection (o6/n1);
    - dedup: shuffle-bound keep-first over a 50%-duplicate key space (d1);
    - distinct_count: the profiler's per-column cardinality (s4)."""
    from pyspark.sql import functions as F

    from dataforge_spark.operators.normalization import normalize_data
    from dataforge_spark.operators.outliers import handle_outliers

    gen = spark.range(n_rows).select(
        "id", (F.sin(F.col("id").cast("double")) * 1000 + 5000).alias("price")
    )
    dup = spark.range(n_rows).select((F.col("id") % (n_rows // 2)).alias("k"),
                                     (F.col("id") % 97).alias("v"))
    return {
        "iqr_cap": lambda: _noop(handle_outliers(
            gen, columns=["price"], method="iqr", action="cap")),
        "standard_scale": lambda: _noop(normalize_data(
            gen, columns=["price"], method="standard")[0]),
        "dedup": lambda: _noop(dup.groupBy("k").agg(F.min("v").alias("v"))),
        "distinct_count": lambda: _noop(dup.agg(
            F.count_distinct("k").alias("n"),
            F.count_distinct("v").alias("m"))),
    }, dup


def crossover_bench(spark, n_rows: int) -> dict:
    """The four ``_spark_legs`` operator classes on n_rows of generated
    data, Spark operators vs the pandas/numpy equivalent — the
    apples-to-apples compute comparison at the scale where engine design
    starts to matter."""
    import numpy as np
    import pandas as pd

    legs, _ = _spark_legs(spark, n_rows)
    spark_sec = {name: _best_of(1, fn) for name, fn in legs.items()}

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
        "spark_sec": spark_sec,
        "pandas_sec": {"iqr_cap": pandas_cap, "standard_scale": pandas_scale,
                       "dedup": pandas_dedup, "distinct_count": pandas_distinct},
    }


def crossover_spark_only(spark, n_rows: int) -> dict:
    """The crossover block's operator classes Spark-only at ≥600 M rows —
    the 6M/60M paired blocks already bracket the pandas crossover; at
    this scale the single-core baseline is minutes of wall for no added
    signal, so the evidence is absolute throughput (rows/sec) holding up
    another 10×.

    Shuffle partitions are sized to the data (~2.5 M rows/partition,
    capped at 512): no cluster runs a 600 M-row wide aggregation on the
    sf0.1-tuned 32 reducers — measured at 150 M rows, 32 partitions
    spill-bound count_distinct to 114 s where 256 partitions run it in
    10.8 s. The conf is restored after the block.

    Next to the four shared legs:

    - ``dedup_repart``: repartition-by-key FIRST, then aggregate — the
      zero-layout mitigation for the plain leg's map-side partial-agg
      spill (each input partition holds ~all-distinct keys, so the
      partial pass builds a task-sized hash map, spills, and reduces
      nothing; shuffling rows unaggregated costs the same bytes and
      lets both agg passes run over ~n/partitions keys).
    - ``distinct_approx``: the profiler's documented production path
      (HyperLogLog++, fixed-KB state per column) next to the exact
      count_distinct leg, with its measured relative error vs the
      closed-form truth (k has exactly n_rows/2 distinct values, v 97).
    - ``dedup_bucketed``: keep-first dedup reading a pre-bucketed
      layout (``partitioning.write_bucketed``, 512 buckets) — the
      recurring-dedup answer: NO exchange in the agg plan (bucketed
      scan satisfies the clustering) and per-task hash maps bounded by
      the bucket's key count. The one-time layout write is reported
      separately as ``bucket_layout_sec`` (null = reused the on-disk
      table from an earlier run, like the IVF/PQ index builds)."""
    from pyspark.sql import functions as F

    from dataforge_spark.partitioning import register_bucketed, write_bucketed

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    target = min(512, max(int(prev_parts), n_rows // 2_500_000))
    spark.conf.set("spark.sql.shuffle.partitions", target)
    secs: dict[str, float] = {}
    approx_row: dict = {}
    try:
        legs, dup = _spark_legs(spark, n_rows)
        legs["dedup_repart"] = lambda: _noop(
            dup.repartition(target, F.col("k"))
            .groupBy("k").agg(F.min("v").alias("v")))
        legs["distinct_approx"] = lambda: approx_row.update(
            dup.agg(
                F.approx_count_distinct("k").alias("n"),
                F.approx_count_distinct("v").alias("m"),
            ).collect()[0].asDict()
        )
        for name, fn in legs.items():
            secs[name] = _best_of(1, fn)
        # bucketed-layout leg: one-time write (disclosed), then the
        # exchange-free aggregation over the bucketed scan
        buckets = 512
        tbl = f"dedup_bucketed_{n_rows}"
        bpath = f"/tmp/dataforge_bucketed_{n_rows}_{buckets}"
        layout_sec = None
        if not os.path.exists(os.path.join(bpath, "_SUCCESS")):
            t0 = time.time()
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            write_bucketed(dup, tbl, "k", buckets=buckets, path=bpath,
                           align=True)
            layout_sec = round(time.time() - t0, 3)
        register_bucketed(spark, tbl, bpath, "k", buckets,
                          "k BIGINT, v BIGINT")
        secs["dedup_bucketed"] = _best_of(1, lambda: _noop(
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
    build_sec = None
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
        "build_sec": build_sec,  # null = reused the cached index
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

    quarantined = read_jsonl(spark, src, schema=ddl, corrupt_col="_corrupt")
    spark_read = _best_of(2, lambda: _noop(quarantined))
    out_path = f"/tmp/dataforge_jsonl_out_{os.getpid()}"
    spark_write = _best_of(2, lambda: write_jsonl(docs, out_path, compression="gzip"))
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

    p_read = _best_of(2, pandas_read)
    pdf, p_bad = pandas_read.result
    p_write = _best_of(2, lambda: pdf.to_json(
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

    qs = bench_queries()
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

    # Best-of-3 per row (single-shot sf1 numbers swing 5-8x with
    # co-tenant load on a shared host; a burst can land on both runs of
    # one row), with the same edge calibrations and one re-run as the
    # sf0.1 loop. The paired pandas phase below gets the same treatment
    # from its own single-threaded calibration, so a co-tenant burst in
    # either phase does not decide the ratio.
    spark_runs = 3
    spark_rows = time_rows(spark, qs, sf1_dir, runs=spark_runs)
    spark_sec = spark_rows["sec"]

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
        "spark_runs_per_query": spark_runs,
        "pandas_runs_per_query": pandas_runs,
        "spark_attempts": spark_rows["attempts"],
        "pandas_attempts": pandas_attempts,
        "ivf_index_build_sec": ivf_build,
        "pq_index_build_sec": pq_build,
        "calibration_sec": spark_rows["calibration_sec"],
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
    if stream_overhead_sec is not None:
        out["stream_overhead_sec"] = stream_overhead_sec
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

    return _best_of(3, lambda: spark.range(200_000_000).agg(
        F.sum((F.col("id") % 97) * (F.col("id") % 89))
    ).collect())


def time_rows(spark, qs: dict, sf_dir: str, runs: int,
              names: list[str] = BENCH_QUERIES) -> dict:
    """Time every row in ``names`` as its best of ``runs`` noop-sink runs,
    between two ``_calibration_sec`` probes. When either probe is above
    SPARK_CAL_STEADY, the whole loop runs once more and the attempt with
    the lower calibration maximum is kept: a row loop should measure the
    tree, not a co-tenant burst. Returns ``{"sec": {row: seconds},
    "wall_sec": ..., "calibration_sec": [pre, post], "attempts": n}``;
    the sf0.1 headline and the sf1 block both time their rows here."""
    kept: dict = {}
    for attempt in (1, 2):
        cal_pre = _calibration_sec(spark)
        t_all = time.time()
        sec = {name: _best_of(runs, lambda: _noop(qs[name](spark, sf_dir)))
               for name in names}
        wall = round(time.time() - t_all, 3)
        cal = [cal_pre, _calibration_sec(spark)]
        if not kept or max(cal) < max(kept["calibration_sec"]):
            kept = {"sec": sec, "wall_sec": wall, "calibration_sec": cal}
        kept["attempts"] = attempt
        if max(kept["calibration_sec"]) <= SPARK_CAL_STEADY:
            break
    return kept


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
    qs = bench_queries()

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
    stream_overhead_sec = _best_of(2, lambda: run_to_parquet_df(
        sessionize_stream(
            spark.readStream.schema(ev.schema).parquet(tiny),
            user_col="user_id", ts_col="ts", gap_minutes=30,
        )
    ).count())

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

    headline = time_rows(spark, qs, sf_dir, runs=RUNS_PER_QUERY)
    times = headline["sec"]
    total = round(sum(times.values()), 3)

    out = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # the core count the run actually used, so a low-core rerun is
        # readable as such straight from the line (the sf0.1 rows are
        # machinery-bound and ≈flat in cores; see scaling_600m for the
        # core-sensitive signal)
        "cpus": _BENCH_CPUS,
        "runs_per_query": RUNS_PER_QUERY,
        "wall_sec": headline["wall_sec"],
        "headline_attempts": headline["attempts"],
        # once-per-corpus builds (null = reused the one on disk for this
        # testdata fingerprint); the rows time the searches and reads
        "ivf_index_build_sec": ivf_build_sec,
        "pq_index_build_sec": pq_build_sec,
        "sq_index_build_sec": sq_build_sec,
        "zorder_write_sec": zorder_write_sec,
        "clf_train_sec": clf_train_sec,
        "dsir_fit_sec": dsir_fit_sec,
        # fixed reference-job time [before, after] the timed loop (see
        # _calibration_sec): either element >> ~0.6 s ⇒ the rows above
        # carry co-tenant contention, not regression
        "calibration_sec": headline["calibration_sec"],
        # streaming costs: setup = once-per-session machinery; overhead =
        # flat per-query micro-batch cost measured on a 10-row stream
        # through the production parquet sink
        "stream_setup_sec": stream_setup_sec,
        "stream_overhead_sec": stream_overhead_sec,
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
            "calibration_sec": s1.get("calibration_sec"),
            "pandas_calibration_sec": s1.get("pandas_calibration_sec"),
            "spark_attempts": s1.get("spark_attempts"),
            "pandas_attempts": s1.get("pandas_attempts"),
            # per-side best-of sample counts (ADVICE r8)
            "runs": [s1.get("spark_runs_per_query"),
                     s1.get("pandas_runs_per_query")],
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
    ("zorder_write_sec",),
    ("clf_train_sec",),
    ("dsir_fit_sec",),
    ("calibration_sec",),
    ("stream_setup_sec",),
    ("stream_overhead_sec",),
    ("ivf_index_build_sec",),
    ("pq_index_build_sec",),
    ("headline_attempts",),
    ("sf1", "calibration_sec"),
    ("sf1", "pandas_calibration_sec"),
    ("sf1", "spark_attempts"),
    ("sf1", "pandas_attempts"),
    ("sf1", "runs"),
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
