"""Smoke self-test of the benchmark itself, at the smallest sizes.

    python3 perfbench/selftest.py

Checks that two generations from one seed give the same queries and the
same ingest batch, then runs every workload once untraced and once
traced and checks that each metric BENCHMARK.json names is emitted with
its unit (no end-to-end metric reading 0), and that every page was
correct. Exits non-zero on a failure.
"""

from __future__ import annotations

import contextlib
import io
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402


def check_generation(seed: int = 5) -> None:
    from inputs import CLASSES, INGEST_CLASSES, QueryMaker, class_queries, corpus
    from reference import Reference

    def generate():
        inp = corpus(seed, 150_000, batch_bytes=20_000)
        maker = QueryMaker(inp.base, Reference(inp.base), seed)
        return inp.base, inp.batch, class_queries(maker, CLASSES), class_queries(maker, INGEST_CLASSES)

    first, second = generate(), generate()
    for name, a, b in zip(("base", "batch", "serve queries", "ingest queries"), first, second):
        if a != b:
            raise AssertionError(f"{name} differs between two generations of seed {seed}")
    ids = [r["path"] for r in first[0] + first[1]]
    if len(ids) != len(set(ids)):
        raise AssertionError("the ingest batch is not doc-disjoint from the base")


def check_workloads() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    run.BASE_BYTES, run.BATCH_BYTES, run.LOADS = 150_000, 20_000, 1
    for w in spec["workloads"]:
        for trace in (0, 1):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = run.main(["--workload", w["name"], "--seed", "3", "--seconds", "1",
                               "--trace", str(trace)])
            res = json.loads(out.getvalue().strip().splitlines()[-1])
            if rc != 0 or not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise AssertionError(f"{w['name']} trace={trace}: {res}")
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != want[trace]:
                raise AssertionError(f"{w['name']} trace={trace}: metrics {got} != {want[trace]}")
            zero = [k for k, m in res["metrics"].items() if not trace and not m["value"]]
            if zero:
                raise AssertionError(f"{w['name']}: end-to-end metrics read 0: {zero}")
            print(f"ok {w['name']} trace={trace}", flush=True)


if __name__ == "__main__":
    check_generation()
    print("ok generation", flush=True)
    check_workloads()
