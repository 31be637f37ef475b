"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same
arguments write byte-identical files. Alongside the files, each generator
returns the input's make-up -- what was planted where -- and the output
checks in ``checks.py`` derive their expectations from that make-up, never
from the program's output.

Run standalone to write a workload's inputs to a directory of your
choice and print the make-up as JSON:

    python3 perfbench/gen.py --workload service_session --seed 1 --out /tmp/pb_inputs
"""

from __future__ import annotations

import argparse
import csv
import io
import json
import os
import random
import sys

# Typo -> fix pairs taken from the classic misspellings list; the category
# column plants the left side and the pipeline's common_typos fix must map
# it back.
CATEGORY_TYPOS = {
    "government": "goverment",
    "department": "deparment",
    "management": "managment",
    "business": "busness",
    "finance": "finace",
    "development": "devlopment",
}
CATEGORIES = sorted(CATEGORY_TYPOS)
# Sentinel words the profiler counts as missing and a numeric parse rejects.
SENTINELS = ["NA", "null", "missing", "N/A", "unknown"]
TEXT_WORDS = [
    "the", "order", "shipped", "late", "and", "customer", "asked", "for",
    "refund", "support", "replied", "with", "details", "about", "delivery",
    "teh", "recieve", "seperate", "untill", "occured",
]

SERVICE_COLUMNS = ["id", "amount", "score", "qty", "category", "joined", "note"]


def _note(r: random.Random) -> str:
    """Free text with at most one planted HTML tag, URL or e-mail."""
    words = " ".join(r.choice(TEXT_WORDS) for _ in range(r.randint(4, 9)))
    kind = r.choice([None, None, "html", "url", "email"])
    if kind == "html":
        return f"<p>{words}</p> <b>note</b>"
    if kind == "url":
        return f"{words} see https://example.com/t/{r.randint(1, 999)} now"
    if kind == "email":
        return f"{words} mail user{r.randint(1, 99)}@example.org today"
    return words


def service_csv(seed: int, rows: int) -> tuple[bytes, dict]:
    """CSV of ``rows`` distinct records plus planted exact duplicates.

    Planted: blanks in every column but ``id``; sentinel words in ``qty``;
    10x outliers in ``amount``; misspelled categories; HTML/URL/e-mail
    text in ``note``; exact duplicate rows (``id`` stays unique among the
    distinct records, so output rows can be matched back to input rows).
    """
    r = random.Random(seed)
    records = []
    for i in range(rows):
        amount = f"{r.gauss(100.0, 15.0):.2f}"
        if r.random() < 0.02:
            amount = f"{r.uniform(1500.0, 3000.0):.2f}"
        cat = r.choice(CATEGORIES)
        if r.random() < 0.15:
            cat = CATEGORY_TYPOS[cat]
        note = _note(r)
        rec = {
            "id": str(100000 + i),
            "amount": amount,
            "score": f"{r.random():.4f}",
            "qty": str(r.randint(1, 60)),
            "category": cat,
            "joined": f"20{r.randint(15, 24)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
            "note": note,
        }
        for col, p in (("amount", 0.04), ("score", 0.03), ("qty", 0.03),
                       ("category", 0.02), ("joined", 0.02), ("note", 0.02)):
            if r.random() < p:
                rec[col] = ""
        if rec["qty"] and r.random() < 0.03:
            rec["qty"] = r.choice(SENTINELS)
        records.append(rec)
    # the first value of every blank-able column stays present so that no
    # column type depends on which cells the seed happened to blank
    for col in SERVICE_COLUMNS[1:]:
        if records[0][col] == "" or records[0][col] in SENTINELS:
            records[0][col] = {"amount": "100.00", "score": "0.5000", "qty": "1",
                               "category": CATEGORIES[0], "joined": "2020-01-01",
                               "note": "plain text"}[col]
    dups = [dict(r.choice(records)) for _ in range(max(1, rows // 40))]
    out_rows = records + dups
    r.shuffle(out_rows)

    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=SERVICE_COLUMNS, lineterminator="\n")
    w.writeheader()
    w.writerows(out_rows)

    def is_missing(v: str) -> bool:
        return v == "" or v.strip().lower() in {s.lower() for s in SENTINELS}

    makeup = {
        "rows_in": len(out_rows),
        "distinct_rows": rows,
        "duplicate_rows": len(dups),
        "missing": {c: sum(is_missing(x[c]) for x in out_rows) for c in SERVICE_COLUMNS},
        "sentinels_qty": sum(x["qty"] in SENTINELS for x in out_rows),
        "outliers_amount": sum(1 for x in records if x["amount"] and float(x["amount"]) > 1000),
        "typos_category": sum(x["category"] in CATEGORY_TYPOS.values() for x in records),
        "html_url_email_notes": sum(
            ("<" in x["note"]) or ("http" in x["note"]) or ("@" in x["note"])
            for x in records
        ),
        "categories_present": sorted(
            {next((k for k, v in CATEGORY_TYPOS.items() if v == x["category"]), x["category"])
             for x in records if x["category"]}
        ),
    }
    return buf.getvalue().encode(), makeup


# -- corpus -----------------------------------------------------------------

def _vocab(r: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(r.choice(letters) for _ in range(r.randint(3, 9))))
    return sorted(out)


def _bigram_rep(tokens: list[str]) -> tuple[float, float]:
    """(top_frac, dup_frac) of word bigrams, as the Gopher repetition
    filter defines them."""
    grams: dict[tuple[str, str], int] = {}
    for a, b in zip(tokens, tokens[1:]):
        grams[(a, b)] = grams.get((a, b), 0) + 1
    total = sum(grams.values())
    if not total:
        return 0.0, 0.0
    return max(grams.values()) / total, sum(c for c in grams.values() if c > 1) / total


def _shingles(tokens: list[str], n: int = 3) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def gate_margin_ok(tokens: list[str]) -> bool:
    """True when a document passes the quality gate with a wide margin:
    10..100000 tokens, mean word length (spaces included) in [3.5, 11],
    and bigram repetition far below the 0.3 / 0.5 cut-offs. The stopword
    share only adds to the score, so it is not needed to decide a pass."""
    n = len(tokens)
    avg = len(" ".join(tokens)) / n if n else 0.0
    top, dup = _bigram_rep(tokens)
    return 20 <= n <= 100000 and 3.5 <= avg <= 11 and top <= 0.15 and dup <= 0.25


def gate_fails_wide(tokens: list[str]) -> bool:
    """True when a document fails the gate by a wide margin: its bigram
    duplicate share is at least 0.9 (cut-off 0.5)."""
    return _bigram_rep(tokens)[1] >= 0.9


def corpus(seed: int, docs: int) -> tuple[list[tuple[int, str]], dict]:
    """Zipf-word documents: 80% originals, 10% near-copies of an original
    that differ from it in exactly one token, 10% looping junk that fails
    the repetition gate. Originals get the smaller ids, so in every
    planted pair the original is the survivor."""
    r = random.Random(seed)
    vocab = _vocab(r, 4000)
    weights = [1.0 / (k + 1) ** 1.05 for k in range(len(vocab))]
    n_copies = docs // 10
    n_junk = docs // 10
    n_orig = docs - n_copies - n_junk

    originals: list[list[str]] = []
    holders: dict[tuple[str, ...], list[int]] = {}
    while len(originals) < n_orig:
        toks = r.choices(vocab, weights, k=r.randint(50, 90))
        if not gate_margin_ok(toks):
            continue
        sh = _shingles(toks)
        # no two originals share more than 5% of their shingles: no pair
        # is anywhere near the 0.5 Jaccard cut-off, so every drop the
        # dedup makes must be a planted one
        shared: dict[int, int] = {}
        for s in sh:
            for j in holders.get(s, ()):
                shared[j] = shared.get(j, 0) + 1
        if any(c > 0.05 * len(sh) for c in shared.values()):
            continue
        for s in sh:
            holders.setdefault(s, []).append(len(originals))
        originals.append(toks)

    rows: list[tuple[int, str]] = [(i, " ".join(t)) for i, t in enumerate(originals)]
    pairs = []
    next_id = n_orig
    ids_tail = list(range(n_orig, docs))
    r.shuffle(ids_tail)
    for _ in range(n_copies):
        src = r.randrange(n_orig)
        toks = list(originals[src])
        while True:
            pos = r.randrange(2, len(toks) - 2)
            repl = r.choice(vocab)
            if repl == toks[pos]:
                continue
            cand = toks[:pos] + [repl] + toks[pos + 1:]
            a, b = _shingles(originals[src]), _shingles(cand)
            if gate_margin_ok(cand) and len(a & b) / len(a | b) >= 0.85:
                break
        doc_id = ids_tail[next_id - n_orig]
        next_id += 1
        rows.append((doc_id, " ".join(cand)))
        pairs.append((src, doc_id))
    junk_ids = []
    for _ in range(n_junk):
        a, b = r.sample(vocab[:500], 2)
        toks = [a, b] * r.randint(15, 40)
        assert gate_fails_wide(toks)
        doc_id = ids_tail[next_id - n_orig]
        next_id += 1
        rows.append((doc_id, " ".join(toks)))
        junk_ids.append(doc_id)
    r.shuffle(rows)
    makeup = {
        "docs": docs,
        "originals": n_orig,
        "near_copies": n_copies,
        "junk": n_junk,
        "survivors": list(range(n_orig)),
        "pairs": pairs,
        "junk_ids": sorted(junk_ids),
    }
    return rows, makeup


def write_corpus_parquet(rows: list[tuple[int, str]], path: str, row_groups: int = 4) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([i for i, _ in rows], pa.int64()),
        "text": pa.array([t for _, t in rows], pa.string()),
    })
    pq.write_table(table, path, row_group_size=max(1, len(rows) // row_groups))


# -- one entry point per workload -------------------------------------------

SIZES = {
    # rows per uploaded CSV (one CSV per client)
    "service_session": 2000,
    # documents in the corpus
    "corpus_dedup": 1000,
}
SMALL_SIZES = {"service_session": 200, "corpus_dedup": 200}


def generate(workload: str, seed: int, out_dir: str, size: int | None = None) -> dict:
    """Write the workload's inputs under ``out_dir``; return the make-up
    (JSON-ready) with each input file's path."""
    os.makedirs(out_dir, exist_ok=True)
    size = size or SIZES[workload]
    if workload == "service_session":
        files = []
        for client in range(2):
            data, makeup = service_csv(seed * 1000 + client, size)
            path = os.path.join(out_dir, f"client{client}.csv")
            with open(path, "wb") as f:
                f.write(data)
            files.append({"path": path, **makeup})
        return {"workload": workload, "seed": seed, "files": files}
    if workload == "corpus_dedup":
        rows, makeup = corpus(seed, size)
        path = os.path.join(out_dir, "corpus.parquet")
        write_corpus_parquet(rows, path)
        return {"workload": workload, "seed": seed, "files": [{"path": path, **makeup}]}
    raise ValueError(f"unknown workload {workload!r}")


def summary(gen: dict) -> dict:
    """The make-up without the per-document id lists."""
    drop = {"survivors", "pairs", "junk_ids", "categories_present"}
    return {**gen, "files": [{k: v for k, v in f.items() if k not in drop} for f in gen["files"]]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write the inputs to")
    a = ap.parse_args(argv)
    print(json.dumps(summary(generate(a.workload, a.seed, a.out)), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
