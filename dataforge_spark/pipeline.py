"""Cleaning-pipeline orchestrator (SURVEY §3, §2.1).

Reference: ``DataCleaningPipeline.run_pipeline``
(/root/reference/pipeline.py:112-232). The JSON operations config IS the
logical plan: ops execute in a FIXED canonical order regardless of dict
order (:142-152), each op is error-isolated (log + continue with previous
DataFrame, :191-201), and a per-op report dict is assembled.

Spark-first differences (deliberate):

* Transformations are composed LAZILY; nothing executes until the caller
  writes or collects. Catalyst then optimizes across op boundaries —
  filters merge, projections fuse, one scan instead of nine.
* Per-op row/column metrics force actions per op in the reference; here
  they are OPT-IN (``collect_metrics=True``) because an action is a job
  or more. Metrics mode runs ONE action per op (``op_metrics``: row
  counts, changed cells and missing counts in one observed aggregate) and
  caches the op's output first, so that action also fills the cache the
  next op reads.
* The reference's stage-boundary scrub (±Inf→NaN→median-fill after EVERY
  op, /root/reference/pipeline.py:72-100,189) is bug-compat behavior —
  available via ``bug_compat=True`` (SURVEY §1), default off (advertised
  semantics).
"""

from __future__ import annotations

import logging
import os
import time
import uuid
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .operators import (
    datetime_parsing,
    duplicates,
    encoding,
    missing_values,
    normalization,
    outliers,
    text_cleaning,
    type_conversion,
    typo_fix,
)
from .io import ROW_ID, qcol
from .operators.missing_values import _data_cols, _numeric_cols
from .sanitize import sanitize_for_json

# Fixed canonical order (/root/reference/pipeline.py:142-152).
CANONICAL_ORDER = [
    "data_type_conversion",
    "text_cleaning",
    "datetime_parsing",
    "missing_values",
    "duplicates",
    "outliers",
    "typo_fix",
    "encoding",
    "normalization",
]

VALID_MISSING_STRATEGIES = missing_values.STRATEGIES
VALID_OUTLIER_METHODS = outliers.METHODS


logger = logging.getLogger("dataforge_spark.pipeline")


def enable_run_logging(
    path: str | None = None, level: int = logging.INFO
) -> logging.Handler:
    """Persistent run logging — reference parity
    (/root/reference/pipeline.py:38-45, which appends every run's per-op
    lines to ``pipeline_log.txt`` next to the module via a module-level
    ``basicConfig``). Opt-in here: a library must not write files as an
    import side effect. Attaches an append-mode FileHandler with the
    reference's line format to the ``dataforge_spark`` logger and returns
    it so callers can detach (``disable_run_logging(handler)``)."""
    path = path or os.path.join(os.getcwd(), "pipeline_log.txt")
    handler = logging.FileHandler(path, mode="a")
    handler.setFormatter(
        logging.Formatter("%(asctime)s - %(levelname)s - %(message)s")
    )
    pkg = logging.getLogger("dataforge_spark")
    # remember the pre-enable level so disable_run_logging is a true
    # inverse (leaving the level pinned would route per-op records to
    # any root handler the app configures later)
    handler._dataforge_prev_level = pkg.level  # type: ignore[attr-defined]
    pkg.setLevel(level)
    pkg.addHandler(handler)
    return handler


def disable_run_logging(handler: logging.Handler) -> None:
    pkg = logging.getLogger("dataforge_spark")
    pkg.removeHandler(handler)
    prev = getattr(handler, "_dataforge_prev_level", None)
    if prev is not None:
        pkg.setLevel(prev)
    handler.close()


def validate_operations(operations: dict[str, Any]) -> list[str]:
    """Mirror of /root/reference/pipeline.py:498-529: returns a list of
    problems (empty = valid)."""
    errors: list[str] = []
    if not isinstance(operations, dict):
        return ["operations must be a dict"]
    for name, cfg in operations.items():
        if name not in CANONICAL_ORDER:
            errors.append(f"unknown operation: {name}")
            continue
        if not isinstance(cfg, dict):
            errors.append(f"config for {name} must be a dict")
            continue
        if name == "missing_values":
            s = cfg.get("strategy", "fill_mean")
            if s not in VALID_MISSING_STRATEGIES:
                errors.append(f"invalid missing_values.strategy: {s}")
        if name == "outliers":
            m = cfg.get("method", "iqr")
            if m not in VALID_OUTLIER_METHODS:
                errors.append(f"invalid outliers.method: {m}")
    return errors


def boundary_scrub(df: DataFrame) -> DataFrame:
    """Bug-compat stage-boundary scrub (/root/reference/pipeline.py:72-100):
    ±Inf→NULL, numeric NULL→column median (fallback 0), string NULL→''."""
    num = _numeric_cols(df, _data_cols(df, None))
    out = df
    for c in num:
        out = out.withColumn(
            c,
            F.when(
                qcol(c).isin(float("inf"), float("-inf")) | F.isnan(qcol(c).cast("double")),
                None,
            ).otherwise(qcol(c)),
        )
    if num:
        from .functions.quantiles import exact_quantiles

        meds = {c: v[0] for c, v in exact_quantiles(out, num, [0.5]).items()}
        # all-null columns have no median; pandas fillna leaves them NaN.
        # coalesce instead of na.fill: its dict keys break on dotted
        # names, and NaN is already NULL after the scrub above. The fill
        # literal is cast to the COLUMN's type — na.fill truncated a
        # fractional median into int columns, and the bug-compat oracle
        # pins that behavior.
        dtypes = {f.name: f.dataType for f in out.schema.fields}
        for c in num:
            if meds[c] is not None:
                out = out.withColumn(
                    c,
                    F.coalesce(qcol(c), F.lit(float(meds[c])).cast(dtypes[c])),
                )
    str_cols = [c for c in _data_cols(df, None) if c not in num and dict(df.dtypes)[c] == "string"]
    for c in str_cols:
        out = out.withColumn(c, F.coalesce(qcol(c), F.lit("")))
    return out


def op_metrics(
    before: DataFrame, after: DataFrame, missing: bool = False
) -> dict[str, Any]:
    """Everything the metrics report says about one op, from ONE action:
    one aggregate, observed over ``before`` left-joined to ``after`` on
    ``_row_id``.

    Returns ``rows_before`` (``count(*)``), ``rows_after`` (matched
    ``after`` rows — no op adds rows, so the left join loses none),
    ``cells_changed`` and, when ``missing`` is set, ``missing_before`` /
    ``missing_after`` (``profile.missing_counts`` of each side).

    ``cells_changed`` is the per-column count of cells whose value differs
    between the sides (reference parity: every method reports per-column
    "Made N changes" updates, reference methods/textCleaning.py:76,147-148),
    over matched rows and ALL shared columns at once. Values are
    compared as strings (so a type-converting op counts every re-typed
    cell) and null-safely (NULL→value and value→NULL both count). Columns
    added or dropped by the op are not "changed cells"; they show up in
    the columns_before/after metrics instead. Missing predicates run on
    the typed columns, before the string cast. ``_row_id`` is assumed
    unique, as ``io`` assigns it. When either side lacks ``_row_id`` there
    is no alignment to count against: ``cells_changed`` is {} and the two
    sides' one-row aggregates are cross-joined instead — still one
    action."""
    from .profile import _missing_expr, _user_fields

    keyed = ROW_ID in before.columns and ROW_ID in after.columns
    shared = [
        c for c in before.columns if c in after.columns and c != ROW_ID
    ] if keyed else []
    b_fields = _user_fields(before) if missing else []
    a_fields = _user_fields(after) if missing else []
    b = before.select(
        *([qcol(ROW_ID).alias("__b_rid")] if keyed else []),
        *[_missing_expr(f).cast("long").alias(f"__mb{i}") for i, f in enumerate(b_fields)],
        *[qcol(c).cast("string").alias(f"__b{i}") for i, c in enumerate(shared)],
    )
    a = after.select(
        *([qcol(ROW_ID).alias("__a_rid")] if keyed else []),
        *[_missing_expr(f).cast("long").alias(f"__ma{i}") for i, f in enumerate(a_fields)],
        *[qcol(c).cast("string").alias(f"__a{i}") for i, c in enumerate(shared)],
    )
    b_aggs = [F.count(F.lit(1)).alias("__rows_b")] + [
        F.sum(f"__mb{i}").alias(f"__mb{i}") for i in range(len(b_fields))
    ]
    a_sums = [F.sum(f"__ma{i}").alias(f"__ma{i}") for i in range(len(a_fields))]
    if keyed:
        matched = F.col("__a_rid").isNotNull()
        # observed, not agg().collect(): the aggregate rides the join's
        # own stage, so there is no shuffle to a final aggregate — one
        # job fewer per op (cache fill, broadcast, scan). The name is
        # unique because concurrent requests share the session.
        obs = Observation(f"op_metrics_{uuid.uuid4().hex}")
        b.join(a, F.col("__b_rid") == F.col("__a_rid"), "left").observe(
            obs,
            *b_aggs,
            F.count("__a_rid").alias("__rows_a"),
            *a_sums,
            *[
                F.sum(
                    (matched & ~F.col(f"__a{i}").eqNullSafe(F.col(f"__b{i}")))
                    .cast("long")
                ).alias(f"__chg{i}")
                for i in range(len(shared))
            ],
        ).write.format("noop").mode("overwrite").save()
        row = obs.get
    else:
        row = (
            b.agg(*b_aggs)
            .crossJoin(a.agg(F.count(F.lit(1)).alias("__rows_a"), *a_sums))
            .collect()[0]
        )
    out: dict[str, Any] = {
        "rows_before": int(row["__rows_b"]),
        "rows_after": int(row["__rows_a"]),
        "cells_changed": {
            c: int(row[f"__chg{i}"] or 0) for i, c in enumerate(shared)
        },
    }
    if missing:
        out["missing_before"] = {
            f.name: int(row[f"__mb{i}"] or 0) for i, f in enumerate(b_fields)
        }
        out["missing_after"] = {
            f.name: int(row[f"__ma{i}"] or 0) for i, f in enumerate(a_fields)
        }
    return out


def cells_changed(before: DataFrame, after: DataFrame) -> dict[str, int]:
    """Per-column changed-cell counts of ``op_metrics``; {} when either
    side lacks ``_row_id``."""
    return op_metrics(before, after)["cells_changed"]


def _pin(frame: DataFrame, prev: DataFrame, wanted: bool) -> bool:
    """Persist ``frame`` (MEMORY_AND_DISK) when ``wanted``, unless its plan
    is ``prev``'s: an op that changed nothing must not register, and later
    unpersist, the cache entry ``prev`` already owns. Returns whether it
    pinned."""
    if not wanted or frame.sameSemantics(prev):
        return False
    frame.persist(StorageLevel.MEMORY_AND_DISK)
    return True


class CleaningPipeline:
    """Compose the 9 operators per a JSON config, Spark-lazily."""

    def __init__(
        self,
        bug_compat: bool = False,
        collect_metrics: bool = False,
        persist_intermediate: bool | None = None,
    ):
        """``persist_intermediate``: persist (MEMORY_AND_DISK) the DataFrame
        after each op that later ops compute statistics over. Stat-dependent
        chains (fill→dedup→cap→scale) otherwise re-execute the whole
        upstream lineage once per statistics job — at 4 stat ops that is 4
        extra full scans. Default ``None`` = auto: persist a boundary only
        when ≥2 downstream enabled ops will run driver-side statistics jobs
        over it (the re-scan count that makes the persist pay for itself).
        Under ``collect_metrics`` auto persists EVERY op's output, the
        final one included, before that op's one metrics action
        (``op_metrics``): the action fills the cache, and the next op's
        statistics, its metrics action and the caller's write read it
        instead of recomputing the op. ``True``/``False`` force it —
        persisting the working set is still a deliberate capacity decision
        on a real cluster. ``release()`` frees what a run leaves pinned."""
        self.bug_compat = bug_compat
        self.collect_metrics = collect_metrics
        self.persist_intermediate = persist_intermediate
        self._pinned: list[DataFrame] = []

    @staticmethod
    def _runs_stat_jobs(name: str, cfg: dict[str, Any]) -> bool:
        """Whether this op executes driver-side statistics jobs over its
        input (each such job re-executes the full upstream lineage unless
        a boundary below it is persisted). Pure-projection ops return
        False."""
        if name in ("text_cleaning", "duplicates"):
            return False
        if name == "missing_values":
            return cfg.get("strategy", "fill_mean") not in (
                "drop_rows", "drop_rows_threshold"
            )
        if name == "typo_fix":
            # common_typos is a pure regexp chain; fuzzy/spell fit a map
            return cfg.get("method", "common_typos") != "common_typos"
        if name in ("data_type_conversion", "datetime_parsing"):
            # errors=raise|ignore count failing casts in a job of their own
            return bool(cfg.get("auto_detect", True)) or cfg.get("errors") in (
                "ignore", "raise"
            )
        return True  # outliers / normalization / encoding fit statistics

    def _apply_one(self, df: DataFrame, name: str, cfg: dict[str, Any]) -> DataFrame:
        if name == "data_type_conversion":
            return type_conversion.convert_data_types(
                df,
                type_mapping=cfg.get("type_mapping"),
                auto_detect=cfg.get("auto_detect", True),
                errors=cfg.get("errors", "coerce"),
            )
        if name == "text_cleaning":
            return text_cleaning.clean_text_columns(
                df,
                columns=cfg.get("columns"),
                operations=cfg.get("operations"),
                custom_patterns=cfg.get("custom_patterns"),
            )
        if name == "datetime_parsing":
            return datetime_parsing.parse_datetime_columns(
                df,
                columns=cfg.get("columns"),
                date_format=cfg.get("date_format"),
                auto_detect=cfg.get("auto_detect", True),
                extract_features=cfg.get("extract_features", False),
                errors=cfg.get("errors", "coerce"),
            )
        if name == "missing_values":
            return missing_values.fix_missing_values(
                df,
                strategy=cfg.get("strategy", "fill_mean"),
                threshold=cfg.get("threshold", 0.5),
                columns=cfg.get("columns"),
            )
        if name == "duplicates":
            return duplicates.drop_duplicates(
                df, subset=cfg.get("subset"), keep=cfg.get("keep", "first")
            )
        if name == "outliers":
            return outliers.handle_outliers(
                df,
                columns=cfg.get("columns"),
                method=cfg.get("method", "iqr"),
                action=cfg.get("action", "remove"),
                threshold=cfg.get("threshold", 1.5),
            )
        if name == "typo_fix":
            return typo_fix.fix_typos(
                df,
                columns=cfg.get("columns"),
                method=cfg.get("method", "common_typos"),
                similarity_threshold=cfg.get("similarity_threshold", 0.8),
                custom_dict=cfg.get("custom_dict"),
            )
        if name == "encoding":
            method = cfg.get("method", "label")
            if method == "label":
                return encoding.encode_label(df, cfg.get("columns"))[0]
            if method == "onehot":
                return encoding.encode_onehot(
                    df, cfg.get("columns"), drop_first=cfg.get("drop_first", False)
                )
            return encoding.encode_frequency(df, cfg.get("columns"))
        if name == "normalization":
            return normalization.normalize_data(
                df,
                columns=cfg.get("columns"),
                method=cfg.get("method", "minmax"),
                feature_range=tuple(cfg.get("feature_range", (0, 1))),
                with_mean=cfg.get("with_mean", True),
                with_std=cfg.get("with_std", True),
            )[0]
        raise ValueError(f"unknown operation {name!r}")

    def run(self, df: DataFrame, operations: dict[str, Any]) -> tuple[DataFrame, dict]:
        """Apply enabled ops in canonical order; per-op error isolation
        (reference :191-201). Returns (DataFrame, report). The last
        persisted boundary stays pinned for the caller's write or collect;
        ``release()`` frees it."""
        problems = validate_operations(operations)
        if problems:
            raise ValueError("; ".join(problems))

        report: dict[str, Any] = {"operations": {}, "order": []}
        t0 = time.time()
        # per-op lines mirror the reference's pipeline_log.txt vocabulary
        # (/root/reference/pipeline.py:159,190,193) — lazily composed, so
        # the start line logs columns, not a row count (a count is a job)
        logger.info("Starting pipeline run (%d columns)", len(df.columns))
        current = boundary_scrub(df) if self.bug_compat else df
        persisted: list[DataFrame] = []

        enabled = [
            n for n in CANONICAL_ORDER
            if operations.get(n) and operations[n].get("enabled", False)
        ]
        # downstream stat-job count per op: how many LATER enabled ops will
        # re-scan the boundary after this op for their fitted statistics
        stat_after = {
            n: sum(
                self._runs_stat_jobs(m, operations[m])
                for m in enabled[enabled.index(n) + 1:]
            )
            for n in enabled
        }

        for name in enabled:
            cfg = operations[name]
            op_report: dict[str, Any] = {"status": "success"}
            logger.info("Running %s operation...", name)
            if self.persist_intermediate is not None:
                do_persist = self.persist_intermediate
            else:
                do_persist = self.collect_metrics or stat_after[name] >= 2
            pinned = None
            try:
                nxt = self._apply_one(current, name, cfg)
                if self.collect_metrics:
                    # pinned BEFORE the metrics action, so that the action
                    # fills the cache the later reads of this boundary use
                    if _pin(nxt, current, do_persist):
                        pinned = nxt
                    op_report.update(self._op_report(name, current, nxt))
                if self.bug_compat:
                    nxt = boundary_scrub(nxt)
                if not self.collect_metrics and _pin(nxt, current, do_persist):
                    pinned = nxt
                current = nxt
                if pinned is not None:
                    persisted.append(pinned)
                logger.info("%s operation completed successfully", name)
            except Exception as e:  # error-isolated: keep previous df
                if pinned is not None:
                    pinned.unpersist(blocking=False)
                op_report = {"status": "error", "message": str(e)}
                logger.error("Error in %s: %s", name, e)
            report["operations"][name] = op_report
            report["order"].append(name)

        report["processing_time_seconds"] = round(time.time() - t0, 4)
        logger.info(
            "Pipeline completed in %.2fs; final columns: %d",
            report["processing_time_seconds"], len(current.columns),
        )
        report["final_columns"] = list(current.columns)
        # Keep only the last pinned boundary; free the intermediates.
        for p in persisted[:-1]:
            p.unpersist(blocking=False)
        self._pinned += persisted[-1:]
        return current, sanitize_for_json(report)

    @staticmethod
    def _op_report(name: str, before: DataFrame, after: DataFrame) -> dict[str, Any]:
        """The metrics-mode report fields of one op, from ``op_metrics``."""
        m = op_metrics(before, after, missing=name == "missing_values")
        changed = {c: n for c, n in m["cells_changed"].items() if n}
        out: dict[str, Any] = {
            "rows_before": m["rows_before"], "rows_after": m["rows_after"],
            "columns_before": len(before.columns),
            "columns_after": len(after.columns),
            "cells_changed": changed,
            "updates": [f"Column '{c}': Made {n} changes" for c, n in changed.items()],
        }
        if name == "duplicates":
            out["duplicate_count"] = m["rows_before"] - m["rows_after"]
        if name == "missing_values":
            # Reference UI parity: its report drives a before/after
            # missing-value chart (reference frontend/script.js:506-540).
            out["missing_before"] = m["missing_before"]
            out["missing_after"] = m["missing_after"]
        return out

    def release(self) -> None:
        """Unpersist what ``run`` left pinned. Call it once the returned
        frame has been written or collected; a long-lived session that
        skips it keeps one cached frame per run."""
        for p in self._pinned:
            p.unpersist(blocking=False)
        self._pinned = []
