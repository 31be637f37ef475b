"""The benchmark workloads. Each runs whole rounds of the same seeded ops
through dataforge_spark's public API and checks every output.

- ``ServiceSession``: two client threads in a closed loop against the
  stdlib HTTP server; op = one ``/clean-data`` request.
- ``CorpusDedup``: quality gate then MinHash dedup of a Zipf-word corpus;
  op = one pass.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from contextlib import nullcontext
from dataclasses import dataclass
from http.client import HTTPConnection
from typing import Callable

from . import checks


@dataclass
class OpResult:
    latency_s: float
    items: int
    problems: list[str]
    kind: str = "pass"  # ops of one kind do the same work; op_p50_s compares like with like
    # an output check run after the timed phase, so that it does not
    # compete for the CPU and the GIL with requests still in flight
    deferred: Callable[[], list[str]] | None = None

    def finish(self) -> None:
        if self.deferred is not None:
            self.problems += self.deferred()
            self.deferred = None


# -- service_session ----------------------------------------------------------

# Frontend-style configs: what the bundled UI sends (columns typed as lists,
# unset parameters left out). FULL enables all nine operations.
FULL = {
    "data_type_conversion": {"enabled": True, "auto_detect": True},
    "text_cleaning": {"enabled": True, "columns": ["note"],
                      "operations": ["remove_html", "remove_urls", "remove_emails", "remove_extra_spaces"]},
    "datetime_parsing": {"enabled": True, "columns": ["joined"]},
    "missing_values": {"enabled": True, "strategy": "fill_median"},
    "duplicates": {"enabled": True},
    "outliers": {"enabled": True, "method": "iqr", "action": "cap", "columns": ["amount"]},
    "typo_fix": {"enabled": True, "method": "common_typos", "columns": ["category", "note"]},
    "encoding": {"enabled": True, "method": "label", "columns": ["category"]},
    "normalization": {"enabled": True, "method": "minmax", "columns": ["score"]},
}
QUICK = {
    "missing_values": {"enabled": True, "strategy": "fill_median"},
    "duplicates": {"enabled": True},
}
TEXT = {
    "text_cleaning": {"enabled": True, "columns": ["note"],
                      "operations": ["remove_html", "remove_urls", "remove_emails", "lowercase"]},
    "duplicates": {"enabled": True},
    "typo_fix": {"enabled": True, "method": "common_typos", "columns": ["category"]},
    "encoding": {"enabled": True, "method": "label", "columns": ["category"]},
    "normalization": {"enabled": True, "method": "minmax", "columns": ["score"]},
}
# What each config promises about its output (see checks.check_service_output).
# qty holds sentinel words, so it is numeric -- and median-filled -- only
# after data_type_conversion has run.
ROTATION = [
    ("full", FULL, {"dedup": True, "median_filled": ["amount", "qty"], "minmax": ["score"],
                    "label": "category", "label_missing": False, "text": ["note"]}),
    ("quick", QUICK, {"dedup": True, "median_filled": ["amount", "score"], "minmax": [],
                      "label": None, "label_missing": False, "text": []}),
    ("text", TEXT, {"dedup": True, "median_filled": [], "minmax": ["score"],
                    "label": "category", "label_missing": True, "text": ["note"]}),
]
# Which rotation entries each client runs per round: the full config on
# one client takes about as long as the other two on the other, so both
# clients stay busy for most of the round.
CLIENT_PLAN = [[0], [1, 2]]


def _multipart(fields: dict) -> tuple[str, bytes]:
    boundary = f"----perfbench{uuid.uuid4().hex}"
    out = bytearray()
    for name, val in fields.items():
        out += f"--{boundary}\r\n".encode()
        if isinstance(val, tuple):
            filename, payload = val
            out += (f'Content-Disposition: form-data; name="{name}"; filename="{filename}"\r\n'
                    "Content-Type: text/csv\r\n\r\n").encode()
            out += payload + b"\r\n"
        else:
            out += f'Content-Disposition: form-data; name="{name}"\r\n\r\n'.encode()
            out += str(val).encode() + b"\r\n"
    out += f"--{boundary}--\r\n".encode()
    return f"multipart/form-data; boundary={boundary}", bytes(out)


class ServiceSession:
    op_span = "service.clean_data"

    def __init__(self, spark, gen: dict, work: str, tracer=None):
        from dataforge_spark.http_server import serve_background

        self.files = gen["files"]
        self.inputs = [open(f["path"], "rb").read() for f in self.files]
        t = time.perf_counter()
        self.medians = [
            checks.pandas_medians(data, ["amount", "score", "qty"]) for data in self.inputs
        ]
        # set-up seconds spent on reference results, not on the program
        self.reference_s = time.perf_counter() - t
        self.upload_dir = os.path.join(work, "uploads")
        self.server, _ = serve_background(spark, upload_dir=self.upload_dir)
        self.addr = self.server.server_address[:2]
        self.requests: list[tuple[float, float]] = []  # client-observed (start, end)
        self.last_output: dict[int, bytes] = {}
        self._cycle = 0

    def _request(self, method: str, path: str, fields: dict | None = None) -> tuple[int, bytes]:
        headers, body = {}, None
        if fields is not None:
            ctype, body = _multipart(fields)
            headers["Content-Type"] = ctype
        t = time.perf_counter()
        conn = HTTPConnection(*self.addr, timeout=150)
        try:
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        self.requests.append((t, time.perf_counter()))  # list.append is atomic
        return resp.status, data

    def _cycle_once(self, client: int, cycle: int, cfg_index: int) -> OpResult:
        name, ops, spec = ROTATION[cfg_index]
        makeup, data = self.files[client], self.inputs[client]
        fname = f"c{client}_{cycle}_{name}.csv"
        problems: list[str] = []
        out = None
        status, body = self._request("POST", "/upload", {"file": (fname, data)})
        if status != 200:
            return OpResult(0.0, 0, [f"upload HTTP {status}: {body[:200]!r}"], name)
        up = json.loads(body)
        profile = up["dataset_info"]
        t = time.perf_counter()
        status, body = self._request(
            "POST", "/clean-data", {"file_path": up["file_path"], "operations": json.dumps(ops)}
        )
        latency = time.perf_counter() - t
        if status != 200:
            problems.append(f"clean-data HTTP {status}: {body[:200]!r}")
        else:
            report = json.loads(body)["result"]
            problems += [
                f"{op}: {r.get('status')} {r.get('message', '')}"[:200]
                for op, r in report["operations"].items() if r.get("status") != "success"
            ]
            out_name = fname[:-4] + "_cleaned.csv"
            status, body = self._request("GET", f"/download/{out_name}")
            if status != 200:
                problems.append(f"download HTTP {status}")
            else:
                out = self.last_output[client] = body
            status, _ = self._request("DELETE", f"/files/{out_name}")
            if status != 200:
                problems.append(f"delete output HTTP {status}")
        status, _ = self._request("DELETE", f"/files/{fname}")
        if status != 200:
            problems.append(f"delete upload HTTP {status}")
        medians = self.medians[client]

        def check() -> list[str]:
            bad = checks.check_upload_profile(makeup, profile)
            if out is not None:
                bad += checks.check_service_output(spec, makeup, data, out, medians)
            return [f"{name}: {p}" for p in bad]

        return OpResult(latency, makeup["rows_in"], [f"{name}: {p}" for p in problems], name, check)

    def round(self) -> list[OpResult]:
        """One pass over the rotation, split over the clients by
        ``CLIENT_PLAN``; each client runs its share in a closed loop and
        the round ends when all are done."""
        results: list[list[OpResult]] = [[] for _ in CLIENT_PLAN]
        errors: list[BaseException] = []
        base = self._cycle
        self._cycle += len(ROTATION)

        def client(k: int) -> None:
            try:
                for cfg in CLIENT_PLAN[k]:
                    results[k].append(self._cycle_once(k, base + cfg, cfg))
            except Exception as e:  # reported as a failed op below
                errors.append(e)

        threads = [threading.Thread(target=client, args=(k,)) for k in range(len(CLIENT_PLAN))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        out = [r for rs in results for r in rs]
        lost = len(ROTATION) - len(out)
        out += [OpResult(0.0, 0, [f"client error: {errors[0] if errors else 'lost'}"], "lost")] * lost
        return out

    def warmup(self) -> list[OpResult]:
        return self.round()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


# -- corpus_dedup ---------------------------------------------------------------

PASSES_PER_ROUND = 2


class CorpusDedup:
    op_span = "op"
    reference_s = 0.0

    def __init__(self, spark, gen: dict, work: str, tracer=None):
        self.spark = spark
        self.makeup = gen["files"][0]
        self.src = self.makeup["path"]
        self.out = os.path.join(work, "corpus_out")
        self.tracer = tracer
        self.docs_dropped: list[int] = []

    def run_pass(self, out_dir: str | None = None) -> tuple[float, list[int]]:
        """One timed pass; returns (seconds, surviving ids). The output
        stays on disk until the caller deletes it."""
        import pyarrow.parquet as pq
        from dataforge_spark import curation
        from dataforge_spark import io as dfio
        from dataforge_spark.dedup import minhash

        out_dir = out_dir or self.out

        span = self.tracer.span("op") if self.tracer else nullcontext()
        t = time.perf_counter()
        with span:
            docs = dfio.read_parquet(self.spark, self.src)
            kept = curation.quality_filter(docs).where("keep").select("doc_id", "text")
            out = minhash.minhash_dedup(kept)
            dfio.write_parquet(out, out_dir)
        latency = time.perf_counter() - t
        ids = pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist()
        if self.tracer:
            # untimed and outside every span: the gate's survivors, which
            # went into the dedup
            self.docs_dropped.append(kept.count() - len(ids))
        return latency, ids

    def _pass_op(self, out_dir: str | None = None) -> OpResult:
        latency, ids = self.run_pass(out_dir)
        shutil.rmtree(out_dir or self.out)
        return OpResult(latency, self.makeup["docs"], checks.check_corpus_output(self.makeup, ids))

    def warmup(self) -> list[OpResult]:
        """Two cold passes at once, one per thread: the cold cost is
        compiling (JIT, generated code), which two passes share, so the
        timed passes start further down the warm-up slope for about the
        wall time of one cold pass."""
        results: list[OpResult] = []

        def one(k: int) -> None:
            try:
                results.append(self._pass_op(f"{self.out}_w{k}"))
            except Exception as e:  # reported as a failed warm-up op
                results.append(OpResult(0.0, 0, [f"warm-up pass raised {e!r}"[:300]]))

        threads = [threading.Thread(target=one, args=(k,)) for k in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return results

    def round(self) -> list[OpResult]:
        """``PASSES_PER_ROUND`` passes one after the other, so that one
        slow pass does not set the run's figure."""
        return [self._pass_op() for _ in range(PASSES_PER_ROUND)]

    def close(self) -> None:
        pass


WORKLOADS = {
    "service_session": ServiceSession,
    "corpus_dedup": CorpusDedup,
}
