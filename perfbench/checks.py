"""Output checks, computed apart from the program.

Each check takes the generator's make-up and the program's output and
returns a list of problems (empty when the output is right). Expected
values come from the make-up or from pandas over the input CSV -- never
from a stored copy of an earlier output.
"""

from __future__ import annotations

import csv
import io
import math
import re

import pandas as pd

_HTML = re.compile(r"<[A-Za-z/][^>]*>")
_URL = re.compile(r"https?://", re.IGNORECASE)
_EMAIL = re.compile(r"[\w.+-]+@[\w-]+\.[A-Za-z]{2,}")


def _rows(csv_bytes: bytes) -> list[dict[str, str]]:
    return list(csv.DictReader(io.StringIO(csv_bytes.decode())))


def _num(v: str) -> float | None:
    try:
        return float(v)
    except ValueError:
        return None


def _id(v: str) -> int | None:
    x = _num(v)
    return int(x) if x is not None else None


def pandas_medians(input_csv: bytes, columns: list[str]) -> dict[str, float]:
    """Per-column median as pandas computes it: every cell that does not
    parse as a number (blank or sentinel word) is NaN and skipped."""
    df = pd.read_csv(io.BytesIO(input_csv), dtype=str, keep_default_na=False)
    return {c: float(pd.to_numeric(df[c], errors="coerce").median()) for c in columns}


def check_upload_profile(makeup: dict, info: dict) -> list[str]:
    bad = []
    if info["shape"]["rows"] != makeup["rows_in"]:
        bad.append(f"profile rows {info['shape']['rows']} != {makeup['rows_in']}")
    if info["duplicate_rows"] != makeup["duplicate_rows"]:
        bad.append(f"profile duplicates {info['duplicate_rows']} != {makeup['duplicate_rows']}")
    for col, n in makeup["missing"].items():
        got = info["missing_values"].get(col)
        if got != n:
            bad.append(f"profile missing[{col}] {got} != {n}")
    return bad


def check_service_output(spec: dict, makeup: dict, input_csv: bytes, output_csv: bytes,
                         medians: dict[str, float]) -> list[str]:
    """Checks one cleaned CSV against what the config ``spec`` promises.

    ``spec`` keys: ``dedup`` (bool), ``median_filled`` (columns whose
    blanks must hold the pandas median), ``minmax`` (columns spanning
    [0, 1]), ``label`` (label-encoded column or None), ``label_missing``
    (whether blanks survive into the encoding as their own code),
    ``text`` (columns that must hold no HTML tag, URL or e-mail).
    """
    bad: list[str] = []
    out = _rows(output_csv)
    if spec["dedup"] and len(out) != makeup["distinct_rows"]:
        bad.append(f"rows {len(out)} != input rows minus planted duplicates {makeup['distinct_rows']}")
    if not out:
        return bad + ["empty output"]

    # ids are matched as numbers: a fill can re-type the id column (100042.0)
    by_id = {_id(r["id"]): r for r in out}
    inp = _rows(input_csv)
    for col in spec["median_filled"]:
        blanks = [r for r in out if r[col] == ""]
        if blanks:
            bad.append(f"{col}: {len(blanks)} filled cells are blank")
        want = medians[col]
        missing_ids = {_id(r["id"]) for r in inp if _num(r[col]) is None}
        lost = [i for i in missing_ids if i not in by_id]
        if lost:
            bad.append(f"{col}: {len(lost)} rows with a filled cell are missing, e.g. id {lost[0]}")
        wrong = [
            i for i in missing_ids
            if i in by_id and not math.isclose(_num(by_id[i][col]) or math.nan, want, rel_tol=1e-9)
        ]
        if wrong:
            bad.append(f"{col}: {len(wrong)} filled cells differ from the pandas median {want}")
    for col in spec["minmax"]:
        vals = [_num(r[col]) for r in out if r[col] != ""]
        if not vals or min(vals) != 0.0 or max(vals) != 1.0:
            bad.append(f"{col}: minmax span [{min(vals, default=None)}, {max(vals, default=None)}] != [0, 1]")
    if spec["label"]:
        col = spec["label"]
        k = len(makeup["categories_present"]) + (1 if spec["label_missing"] else 0)
        codes = {r[col] for r in out}
        if codes != {str(i) for i in range(k)}:
            bad.append(f"{col}: label codes {sorted(codes)[:12]} != 0..{k - 1}")
    for col in spec["text"]:
        dirty = [r[col] for r in out if _HTML.search(r[col]) or _URL.search(r[col]) or _EMAIL.search(r[col])]
        if dirty:
            bad.append(f"{col}: {len(dirty)} cells keep HTML/URL/e-mail text, e.g. {dirty[0]!r}")
    return bad


def check_corpus_output(makeup: dict, survivor_ids: list[int]) -> list[str]:
    """The survivors must be exactly the originals: every near-copy and
    every junk document dropped, the smaller id of each pair kept, and no
    other document dropped."""
    got = set(survivor_ids)
    want = set(makeup["survivors"])
    bad = []
    if len(survivor_ids) != len(got):
        bad.append(f"{len(survivor_ids) - len(got)} survivor ids repeat")
    kept_copies = [c for _, c in makeup["pairs"] if c in got]
    if kept_copies:
        bad.append(f"{len(kept_copies)} planted near-copies kept, e.g. id {kept_copies[0]}")
    lost_sources = [s for s, _ in makeup["pairs"] if s not in got]
    if lost_sources:
        bad.append(f"{len(lost_sources)} sources of planted pairs dropped, e.g. id {lost_sources[0]}")
    kept_junk = sorted(got & set(makeup["junk_ids"]))
    if kept_junk:
        bad.append(f"{len(kept_junk)} junk documents kept, e.g. id {kept_junk[0]}")
    lost = sorted(want - got)
    if lost:
        bad.append(f"{len(lost)} originals dropped, e.g. id {lost[0]}")
    extra = sorted(got - want - set(makeup["junk_ids"]) - {c for _, c in makeup["pairs"]})
    if extra:
        bad.append(f"{len(extra)} unknown ids in the output, e.g. {extra[0]}")
    return bad

