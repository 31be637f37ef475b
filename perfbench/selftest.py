"""Self-test of the output checks.

Runs each workload once at its smallest size, shows that its check
accepts the real output, then corrupts that output three ways and shows
that the check rejects each corruption:

- a dropped row (service CSV) or a dropped survivor (corpus);
- one filled value off by one (service CSV);
- one planted near-copy kept (corpus).

    python3 perfbench/selftest.py        # from the repository root; exit 0 = all as expected
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks, gen  # noqa: E402
from perfbench.run import ROOT, _spark_env, _stop_spark  # noqa: E402


def _expect(results: list, what: str, problems: list[str], want_reject: bool) -> None:
    ok = bool(problems) == want_reject
    verdict = ("rejected" if problems else "accepted")
    print(f"{'ok  ' if ok else 'FAIL'} {what}: {verdict}" + (f" ({problems[0]})" if problems else ""))
    results.append(ok)


def _service(spark, work: str, results: list) -> None:
    from perfbench.workloads import ROTATION, ServiceSession

    made = gen.generate("service_session", 1, os.path.join(work, "svc_in"), gen.SMALL_SIZES["service_session"])
    wl = ServiceSession(spark, made, os.path.join(work, "svc"))
    try:
        res = wl._cycle_once(0, 0, 0)
        res.finish()
        _expect(results, "service_session real output", res.problems, False)
        _, _, spec = ROTATION[0]
        makeup, data, med = wl.files[0], wl.inputs[0], wl.medians[0]
        out = wl.last_output[0]
        lines = out.decode().splitlines(keepends=True)
        dropped = "".join(lines[:-1]).encode()
        _expect(results, "service_session dropped row",
                checks.check_service_output(spec, makeup, data, dropped, med), True)
        # bump the first median-filled amount by one
        header = lines[0].rstrip("\n").split(",")
        col, idc = header.index("amount"), header.index("id")
        blank_ids = {checks._id(r["id"]) for r in checks._rows(data) if checks._num(r["amount"]) is None}
        for i, line in enumerate(lines[1:], 1):
            cells = line.rstrip("\n").split(",")
            if checks._id(cells[idc]) in blank_ids:
                cells[col] = repr(float(cells[col]) + 1)
                lines[i] = ",".join(cells) + "\n"
                break
        _expect(results, "service_session filled value off by one",
                checks.check_service_output(spec, makeup, data, "".join(lines).encode(), med), True)
    finally:
        wl.close()


def _corpus(spark, work: str, results: list) -> None:
    from perfbench.workloads import CorpusDedup

    made = gen.generate("corpus_dedup", 1, os.path.join(work, "cor_in"), gen.SMALL_SIZES["corpus_dedup"])
    wl = CorpusDedup(spark, made, work)
    _, ids = wl.run_pass()
    shutil.rmtree(wl.out)
    mk = wl.makeup
    _expect(results, "corpus_dedup real output", checks.check_corpus_output(mk, ids), False)
    _expect(results, "corpus_dedup dropped survivor", checks.check_corpus_output(mk, ids[1:]), True)
    copy_id = mk["pairs"][0][1]
    _expect(results, "corpus_dedup near-copy kept", checks.check_corpus_output(mk, ids + [copy_id]), True)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    results: list[bool] = []
    try:
        _spark_env(work)
        from dataforge_spark import get_spark

        spark = get_spark("perfbench-selftest")
        try:
            _service(spark, work, results)
            _corpus(spark, work, results)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(f"{sum(results)}/{len(results)} as expected")
    return 0 if all(results) and results else 1


if __name__ == "__main__":
    sys.exit(main())
