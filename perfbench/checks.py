"""Answers reached apart from graft, and the checks that compare them with
what the harness read back. Each checker returns a list of error strings;
an empty list means the answers are right.
"""
from fractions import Fraction

import gen

# ---------------------------------------------------------------- ingest --


class IngestModel:
    """Plain-arithmetic replay of the ops: id -> (v, tag)."""

    def __init__(self, seed):
        self.seed = seed
        self.rows = {}
        self.sum_v = 0
        self.merged = 0
        self.history = []     # (count, sum_v, merged) after each commit

    def _put(self, i, v, tag):
        old = self.rows.get(i)
        if old is not None:
            self.sum_v -= old[0]
            self.merged -= old[1] == "m"
        self.rows[i] = (v, tag)
        self.sum_v += v
        self.merged += tag == "m"

    def apply(self, op):
        if op["op"] == "append":
            for i in range(op["lo"], op["hi"]):
                self._put(i, gen.ingest_value(i, self.seed, 0), "a")
        elif op["op"] == "delete":
            for i in range(op["lo"], op["hi"]):
                old = self.rows.pop(i, None)
                if old is not None:
                    self.sum_v -= old[0]
                    self.merged -= old[1] == "m"
        else:
            g = op["gen"]
            for lo, hi in ((op["lo"], op["hi"]), (op["new_lo"], op["new_hi"])):
                for i in range(lo, hi):
                    self._put(i, gen.ingest_value(i, self.seed, g), "m")
        self.history.append((len(self.rows), self.sum_v, self.merged))


def check_ingest(seed, rounds, ops, verify):
    errs = []
    flat = [o for r in rounds for o in r]
    if len(ops) % len(rounds[0]) != 0:
        errs.append(f"{len(ops)} ops is not a whole number of rounds")
    for k, (o, p) in enumerate(zip(ops, flat)):
        if o["cls"] != p["op"]:
            errs.append(f"op {k} ran {o['cls']}, plan says {p['op']}")
            return errs
    model = IngestModel(seed)
    for p in flat[:len(ops)]:
        model.apply(p)
    if verify["snapshots"] != len(ops):
        errs.append(f"snapshots {verify['snapshots']} != commits {len(ops)}")
    if tuple(verify["final"]) != model.history[-1]:
        errs.append(f"final (count, sum(v), merged) {tuple(verify['final'])} "
                    f"!= model {model.history[-1]}")
    for t in verify["timetravel"]:
        want = model.history[t["step"] - 1]
        if tuple(t["totals"]) != want:
            errs.append(f"time travel to commit {t['step']}: "
                        f"{tuple(t['totals'])} != model {want}")
    return errs


# ----------------------------------------------------------------- dedup --


def shingles(text, n=3):
    toks = text.split(" ")
    if len(toks) < n:
        return {tuple(toks)}
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return Fraction(len(a & b), len(a | b))


def copies_of(pairs):
    """Documents the anti-join drops: all but one per connected component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent[find(a)] = find(b)
    return len(parent) - len({find(x) for x in list(parent)})


def check_dedup(inputs, ops):
    errs = []
    planted = {tuple(p) for p in inputs["planted"]}
    texts = inputs["texts"]
    sh = {}
    for k, o in enumerate(ops):
        pairs = o["result"]["pairs"]
        found = set()
        for a, b, jac in pairs:
            if (a, b) not in planted:
                errs.append(f"pass {k}: pair ({a}, {b}) was not planted")
                continue
            found.add((a, b))
            for d in (a, b):
                if d not in sh:
                    sh[d] = shingles(texts[d])
            exact = jaccard(sh[a], sh[b])
            if abs(Fraction(jac).limit_denominator(10 ** 4) - exact) > Fraction(1, 20000) \
                    or jac < gen.JACCARD_TAU:
                errs.append(f"pass {k}: pair ({a}, {b}) jac {jac} != {float(exact):.6f}")
        recall = len(found) / len(planted)
        if recall < gen.MIN_PAIR_RECALL:
            errs.append(f"pass {k}: found {len(found)} of {len(planted)} planted pairs")
        want = inputs["docs"] - copies_of(pairs)
        if o["result"]["kept"] != want:
            errs.append(f"pass {k}: kept {o['result']['kept']} != {want}")
    return errs
