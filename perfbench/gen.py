"""Seeded inputs for the workloads.

Everything here is a pure function of the seed: the same seed gives the
same parquet files and the same operation plan. The harness receives only what this module writes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest --

BATCH_ROWS = 2000          # rows per append: half a day of event time
APPENDS_PER_ROUND = 4
DELETE_ROWS = 150          # key-range DELETE inside an earlier batch
MERGE_UPDATES = 200        # MERGE source rows that match existing ids
MERGE_INSERTS = 100        # MERGE source rows with new ids
MERGE_ID_BASE = 10 ** 9    # id space of the rows MERGE inserts
PLAN_ROUNDS = 400          # more rounds than any run can reach
TS_BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z
TS_STEP_MS = 21600          # 2000 rows x 21.6 s = 12 h per batch


def ingest_value(i, seed, gen):
    """v of row id `i` written by generation `gen` (0 append, r+1 merge r).
    The harness computes the same expression in SQL."""
    return (i * 7919 + seed * 104729 + gen * 31) % 1000003


def ingest_plan(seed):
    """Rounds of ops: APPENDS_PER_ROUND appends of fresh contiguous id
    ranges, then one DELETE and one MERGE on earlier batches."""
    rng = np.random.default_rng(seed)
    rounds = []
    batch = 0
    for r in range(PLAN_ROUNDS):
        ops = []
        for _ in range(APPENDS_PER_ROUND):
            lo = batch * BATCH_ROWS
            ops.append({"op": "append", "lo": lo, "hi": lo + BATCH_ROWS})
            batch += 1
        # a DELETE always hits rows: it targets the newest batch of this
        # round, which nothing has deleted from yet
        dlo = (batch - 1) * BATCH_ROWS + int(rng.integers(0, BATCH_ROWS - DELETE_ROWS))
        ops.append({"op": "delete", "lo": dlo, "hi": dlo + DELETE_ROWS})
        mb = int(rng.integers(0, batch - 1))
        mlo = mb * BATCH_ROWS + int(rng.integers(0, BATCH_ROWS - MERGE_UPDATES))
        nlo = MERGE_ID_BASE + r * MERGE_INSERTS
        ops.append({"op": "merge", "lo": mlo, "hi": mlo + MERGE_UPDATES,
                    "new_lo": nlo, "new_hi": nlo + MERGE_INSERTS, "gen": r + 1})
        rounds.append(ops)
    return rounds


# ----------------------------------------------------------------- dedup --

DOCS = 1000
NEAR_SHARE = 0.08          # planted near-copies: a few words changed
EXACT_SHARE = 0.04         # planted exact copies
MIN_PAIR_RECALL = 0.95     # share of planted pairs that must be found
JACCARD_TAU = 0.5


def vocabulary():
    """5,000 fixed lower-case pseudo-words (the same for every seed)."""
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
           "qu", "be", "do", "fi", "gu", "ha", "ji", "ko", "lu", "mo"]
    words = []
    for i in range(5000):
        a, b, c = i % 20, (i // 20) % 20, (i // 400) % 20
        words.append(syl[a] + syl[b] + syl[c])
    return words


def dedup_inputs(seed, out):
    """Corpus of DOCS documents; planted near and exact copies each derive
    from a distinct original, so the planted pairs are (original, copy)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    n_near = int(DOCS * NEAR_SHARE)
    n_exact = int(DOCS * EXACT_SHARE)
    n_orig = DOCS - n_near - n_exact
    texts = []
    for _ in range(n_orig):
        k = int(rng.integers(40, 81))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)))
    sources = rng.choice(n_orig, n_near + n_exact, replace=False)
    planted = []
    for c, s in enumerate(sources):
        words = texts[s].split(" ")
        if c < n_near:
            for pos in rng.choice(len(words), 2, replace=False):
                words[pos] = vocab[int(rng.integers(0, len(vocab)))]
        planted.append([int(s), len(texts)])
        texts.append(" ".join(words))
    # shuffle doc ids so copies do not sit next to their originals
    perm = rng.permutation(DOCS)
    ids = np.empty(DOCS, dtype=np.int64)
    ids[np.arange(DOCS)] = perm * 7 + 11
    docs = pa.table({"doc_id": ids, "text": texts})
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "corpus.parquet")
    pq.write_table(docs, path)
    pairs = sorted(tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in planted)
    return {"corpus": path, "docs": DOCS, "planted": [list(p) for p in pairs],
            "texts": {int(i): t for i, t in zip(ids, texts)}}

