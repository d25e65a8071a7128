#!/usr/bin/env python3
"""Self-test of the answer checks: each checker must accept a right answer
and reject a deliberately wrong one (one row dropped, one aggregate
perturbed, one planted pair removed, one snapshot count off by one).
Needs no Spark; runs in a few seconds.

    python3 perfbench/selftest.py
"""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

SEED = 7
failures = []


def expect(name, errs, ok):
    good = (not errs) == ok
    print(f"{'ok ' if good else 'BAD'} {name}: "
          f"{'accepted' if not errs else 'rejected: ' + errs[0]}")
    if not good:
        failures.append(name)


def ingest():
    rounds = gen.ingest_plan(SEED)[:3]
    flat = [o for r in rounds for o in r]
    model = checks.IngestModel(SEED)
    for o in flat:
        model.apply(o)
    ops = [{"cls": o["op"]} for o in flat]
    right = {"snapshots": len(flat), "final": list(model.history[-1]),
             "timetravel": [{"step": 5, "totals": list(model.history[4])}]}
    expect("ingest right answer", checks.check_ingest(SEED, rounds, ops, right), True)
    wrong = dict(right, snapshots=len(flat) + 1)
    expect("ingest snapshot count off by one",
           checks.check_ingest(SEED, rounds, ops, wrong), False)
    wrong = dict(right, final=[right["final"][0] - 1] + right["final"][1:])
    expect("ingest one row dropped", checks.check_ingest(SEED, rounds, ops, wrong), False)
    wrong = dict(right, final=[right["final"][0], right["final"][1] + 1, right["final"][2]])
    expect("ingest sum(v) perturbed", checks.check_ingest(SEED, rounds, ops, wrong), False)
    wrong = dict(right, timetravel=[{"step": 5, "totals": list(model.history[5])}])
    expect("ingest time travel reads the next commit",
           checks.check_ingest(SEED, rounds, ops, wrong), False)


def dedup(work):
    inputs = gen.dedup_inputs(SEED, work)
    texts = inputs["texts"]
    pairs = []
    for a, b in inputs["planted"]:
        j = checks.jaccard(checks.shingles(texts[a]), checks.shingles(texts[b]))
        pairs.append([a, b, round(float(j), 4)])
    kept = inputs["docs"] - checks.copies_of(pairs)
    right = [{"result": {"pairs": pairs, "kept": kept}}]
    expect("dedup right answer", checks.check_dedup(inputs, right), True)
    wrong = [{"result": {"pairs": pairs[1:], "kept": kept}}]
    expect("dedup one planted pair removed", checks.check_dedup(inputs, wrong), False)
    a, b, jac = pairs[0]
    wrong = [{"result": {"pairs": [[a, b, round(jac - 0.01, 4)]] + pairs[1:], "kept": kept}}]
    expect("dedup one Jaccard perturbed", checks.check_dedup(inputs, wrong), False)
    few = pairs[:int(len(pairs) * gen.MIN_PAIR_RECALL) - 1]
    wrong = [{"result": {"pairs": few, "kept": inputs["docs"] - checks.copies_of(few)}}]
    expect("dedup too few planted pairs", checks.check_dedup(inputs, wrong), False)
    spurious = [[a, b + 7, jac]] + pairs
    wrong = [{"result": {"pairs": spurious, "kept": kept - 1}}]
    expect("dedup unplanted pair", checks.check_dedup(inputs, wrong), False)


def main():
    parent = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=parent)
    try:
        ingest()
        dedup(os.path.join(work, "dedup"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-test " + ("FAILED: " + ", ".join(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
