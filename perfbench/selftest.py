#!/usr/bin/env python3
"""Self-test of the benchmark harness, over the tiny sf0.001 fixtures.

Usage (from the root of a checkout): python3 perfbench/selftest.py

One traced run executes every op of every workload once; the test asserts
that every metric named in BENCHMARK.json is printed with its unit, that
the oracle check ran for every op, and that nothing failed. A second run
corrupts one query result and one migrated table and asserts that both
are counted as failures. Exits 0 when all of it holds.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SCALE = "sf0.001"
CORRUPT = ("q_sim_topk", "region")


def main():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    problems = []

    def expect(cond, what):
        if not cond:
            problems.append(what)

    run.WORK.mkdir(exist_ok=True)
    # traced, and with one untraced timed pass for the end-to-end metrics
    result = run.measure(run.WORKLOADS, 1, 0, True, scale=SCALE, min_passes=1)
    layers = {}
    for w in result["workloads"]:
        name = w["workload"]
        layers.update(w["layers"])
        e2e = run.end_to_end(w)
        for m in spec["end_to_end"]:
            expect(m["name"] in e2e and e2e[m["name"]]["unit"] == m["unit"],
                   f"{name}: end-to-end metric {m['name']} missing or not in {m['unit']}")
        attempted, failed = run.tally(w)
        expect(failed == 0 and e2e["ok_frac"]["value"] == 1.0,
               f"{name}: {failed} of {attempted} ops failed")
        timed = {o["op"] for p in w["passes"] for o in p["ops"]}
        checked = {c["op"] for c in w["checks"]}
        if name == "migrate":
            # the pass verifies its own output: a count and a checksum per table
            expect({f"verify:{t}" for t in run.TABLES} <= timed,
                   f"{name}: not every table was verified")
        else:
            expect(timed <= checked and all(c["sql"] for c in w["checks"]),
                   f"{name}: ops without an oracle check: {sorted(timed - checked)}")
    for m in spec["per_layer"]:
        expect(m["name"] in layers and run.unit_of(m["name"]) == m["unit"],
               f"per-layer metric {m['name']} missing or not in {m['unit']}")
    expect(set(layers) <= {m["name"] for m in spec["per_layer"]},
           f"undeclared per-layer metrics: {sorted(set(layers) - {m['name'] for m in spec['per_layer']})}")
    run.report_failures(result["workloads"])

    bad = run.measure(run.WORKLOADS, 1, 0, False, scale=SCALE, corrupt=CORRUPT)
    by_name = {w["workload"]: w for w in bad["workloads"]}
    expect("q_sim_topk" in by_name["curate_warehouse"]["oracle_failures"],
           "the corrupted query result passed the oracle check")
    expect(any(o["op"] == "verify:region" and o.get("error")
               for p in by_name["migrate"]["passes"] for o in p["ops"]),
           "the corrupted migrated table passed verification")
    expect(all(run.tally(w)[1] > 0 for w in bad["workloads"]),
           "a corrupted run reported no failure")

    for p in problems:
        print(f"FAIL {p}")
    print("selftest " + ("failed" if problems else "OK"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
