"""Self-test of the benchmark: tiny-input smoke runs of every workload.

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` on inputs shrunk to a tenth
(sf0.001 star schema, 500 events/s feed, 200-document corpus) and
checks that

* a clean ``--trace 1`` run passes its gate and prints every per-layer
  metric of BENCHMARK.json with its unit;
* a ``--trace 0`` run whose expected results are corrupted prints every
  end-to-end metric with its unit, reports ``correct: false`` with a
  failed check, and exits non-zero.

Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_store", "stream_ingest", "curation_batch")
#: Workload-specific figures each run prints in its table, with units.
NAMED = {
    "olap_store": {"olap.query_p50_s": "s", "olap.qps": "queries/s",
                   "pipeline.dedup.planted_recall": "ratio"},
    "stream_ingest": {"ingest.freshness_p50_s": "s", "ingest.read_p50_s": "s",
                      "ingest.capacity_eps": "events/s", "gen.lateness_s": "s"},
    "curation_batch": {"curation.job_p50_s": "s", "curation.docs_per_s": "docs/s",
                       "pipeline.dedup.planted_recall": "ratio"},
}
COMMON = {"setup_s": "s", "cpu_per_op_s": "s", "mem_peak_mb": "MB", "error_share": "ratio"}


def run(workload: str, trace: int, corrupt: bool) -> tuple[int, dict, str, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "2", "--trace", str(trace), "--scale", "0.1"]
    if corrupt:
        cmd.append("--corrupt-oracle")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return p.returncode, result, p.stdout, p.stderr


def expect(ok: bool, what: str, detail: str = "") -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        print(detail[-4000:], flush=True)
        sys.exit(1)


def check_metrics(result: dict, stdout: str, declared: list[dict], what: str) -> None:
    metrics = result.get("metrics", {})
    for m in declared:
        got = metrics.get(m["name"])
        expect(got is not None and got["unit"] == m["unit"]
               and isinstance(got["value"], float),
               f"{what}: {m['name']} reported in {m['unit']}")
        expect(m["name"] in stdout, f"{what}: {m['name']} printed by name")
    expect(set(metrics) == {m["name"] for m in declared},
           f"{what}: no undeclared metric")


def check_table(stdout: str, figures: dict[str, str], what: str) -> None:
    table = [line.split() for line in stdout.splitlines()[1:-1]]
    for name, unit in figures.items():
        expect(any(row[:1] == [name] and row[2:3] == [unit] for row in table),
               f"{what}: table prints {name} in {unit}")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in WORKLOADS:
        rc, result, out, err = run(wl, trace=1, corrupt=False)
        expect(rc == 0 and result.get("correct") is True and result.get("failed") == 0,
               f"{wl}: clean traced smoke run passes its gate", err)
        check_metrics(result, out, spec["per_layer"], f"{wl} --trace 1")
        check_table(out, PER_LAYER, f"{wl} --trace 1")

        rc, result, out, err = run(wl, trace=0, corrupt=True)
        expect(rc != 0 and result.get("correct") is False and result.get("failed", 0) >= 1,
               f"{wl}: corrupted expected result fails the gate", err)
        check_metrics(result, out, spec["end_to_end"], f"{wl} --trace 0")
        check_table(out, {**COMMON, **NAMED[wl]}, f"{wl} --trace 0")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
