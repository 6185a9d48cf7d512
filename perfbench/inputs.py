"""Seeded input generator for the benchmark workloads.

Everything a run feeds the engine is generated here from `--seed` with
NumPy and written as parquet/JSON under the run's `inputs/` directory
BEFORE any timing starts; the engine only ever reads those files. The
same seed always yields byte-identical inputs. Labels the engine must
not see (which corpus rows are planted duplicates) go to a separate
`labels.json` that only the oracle reads.

Plans are longer than any run consumes: a run executes a prefix of
the step list, decided by the clock, and the oracle replays exactly
that prefix.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
# cow_cdc_upsert: orders-shaped table, ~1k rows per month partition
COW_ROWS = 60_000
COW_MONTHS = 60
COW_BATCH = 200          # keys per upsert / merge batch
COW_DELETE_BATCH = 60    # keys per delete_keys batch
COW_HOT_MONTHS = 3       # "recent" months that take most of the traffic
# the op mix repeats in this fixed cycle, and runs measure whole
# cycles, so every run sees the same mix
COW_CYCLE = ("upsert", "upsert", "delete", "upsert", "merge", "upsert")
COW_STEPS = 150

# corpus_admit_search: documents with embeddings and planted duplicates
DOC_BASE = 1_500
DOC_BATCH = 40
DOC_VOCAB = 3_000
DOC_DIM = 16
DOC_CLUSTERS = 12
DOC_CLONE_SHARE = 0.1    # exact clones of indexed docs (must be rejected)
DOC_EDIT_SHARE = 0.1     # light edits of indexed docs
DOC_QUERIES = 6          # BM25 queries and ANN queries per search round
DOC_STEPS = 60

MONTH0 = (1993, 1)


def month_name(i: int) -> str:
    y, m = divmod(MONTH0[1] - 1 + i, 12)
    return f"{MONTH0[0] + y:04d}-{m + 1:02d}"


def _write(path: str, cols: dict, schema: pa.Schema) -> int:
    pq.write_table(pa.table(cols, schema=schema), path)
    return os.path.getsize(path)


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


@dataclass
class Step:
    """One planned step: a write op over the parquet batch at `path`
    (`rows` input rows, `nbytes` bytes on disk)."""

    index: int
    op: str
    path: str
    rows: int
    nbytes: int


# ============================================================== orders
ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderpriority", pa.string()),
        ("o_comment", pa.string()),
        ("o_month", pa.string()),
        ("seq", pa.int64()),
    ]
)
ORDER_KEYS_SCHEMA = pa.schema([("o_orderkey", pa.int64()), ("o_month", pa.string())])
_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _orders_cols(rng, keys, months, seq) -> dict:
    n = len(keys)
    return {
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(1, 15_000, n),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        "o_comment": [f"note {x:08x}" for x in rng.integers(0, 1 << 32, n)],
        "o_month": np.asarray(months, dtype=object),
        "seq": np.full(n, seq, dtype=np.int64),
    }


def gen_cow(rng: np.random.Generator, out: str) -> dict:
    """Seed table + COW_STEPS write batches. Keys grow with the month
    (as TPC-H order keys grow with the order date), so a month partition
    owns a contiguous key range. Each batch draws most keys from the
    newest months, a tail from two random older months, and a share of
    brand-new keys landing in the newest month."""
    os.makedirs(out, exist_ok=True)
    month_of = np.sort(rng.integers(0, COW_MONTHS, COW_ROWS))
    keys = np.arange(1, COW_ROWS + 1, dtype=np.int64)
    seed_bytes = _write(
        f"{out}/seed.parquet",
        _orders_cols(rng, keys, [month_name(m) for m in month_of], 0),
        ORDERS_SCHEMA,
    )
    # generator-side key bookkeeping: which keys are live, and where
    live = dict(zip(keys.tolist(), month_of.tolist()))
    by_month: dict[int, set] = {}
    for k, m in live.items():
        by_month.setdefault(m, set()).add(k)
    next_key = COW_ROWS + 1
    hot = list(range(COW_MONTHS - COW_HOT_MONTHS, COW_MONTHS))
    steps = []

    def pick(n_old: int, n_hot: int) -> list[int]:
        old_months = rng.choice(COW_MONTHS - COW_HOT_MONTHS, 2, replace=False)
        pool_old = sorted(set().union(*(by_month[m] for m in old_months)))
        pool_hot = sorted(set().union(*(by_month[m] for m in hot)))
        return rng.choice(pool_old, n_old, replace=False).tolist() + rng.choice(
            pool_hot, n_hot, replace=False
        ).tolist()

    # the first three steps are one of each op shape, warm-up's start
    plan = ["upsert", "delete", "merge"] + [
        COW_CYCLE[i % len(COW_CYCLE)] for i in range(COW_STEPS - 3)
    ]
    for i, op in enumerate(plan):
        seq = i + 1
        path = f"{out}/step_{i:04d}.parquet"
        if op == "delete":
            ks = pick(COW_DELETE_BATCH // 6, COW_DELETE_BATCH - COW_DELETE_BATCH // 6)
            nbytes = _write(
                path,
                {"o_orderkey": ks, "o_month": [month_name(live[k]) for k in ks]},
                ORDER_KEYS_SCHEMA,
            )
            for k in ks:
                by_month[live.pop(k)].discard(k)
            steps.append(Step(i, op, path, len(ks), nbytes))
            continue
        n_new = COW_BATCH // 20
        n_old = COW_BATCH // 10
        ks = pick(n_old, COW_BATCH - n_new - n_old)
        new = list(range(next_key, next_key + n_new))
        next_key += n_new
        months = [live[k] for k in ks] + [COW_MONTHS - 1] * n_new
        cols = _orders_cols(rng, ks + new, [month_name(m) for m in months], seq)
        if op == "merge":
            # a share of matched source rows carry status 'D': the merge
            # deletes those keys instead of updating them
            status = cols["o_orderstatus"].astype(object)
            status[rng.random(len(ks)).argsort()[: len(ks) // 7]] = "D"
            cols["o_orderstatus"] = status
        nbytes = _write(path, cols, ORDERS_SCHEMA)
        for k, m, s in zip(ks + new, months, cols["o_orderstatus"]):
            if s == "D":
                by_month[live.pop(k)].discard(k)
            else:
                live[k] = m
                by_month.setdefault(m, set()).add(k)
        steps.append(Step(i, op, path, len(ks) + n_new, nbytes))
    return {"seed": f"{out}/seed.parquet", "seed_bytes": seed_bytes, "steps": steps}


# ============================================================= corpus
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("embedding", pa.list_(pa.float32())),
    ]
)


def gen_corpus(rng: np.random.Generator, out: str) -> dict:
    """Base corpus (Zipf word text, Gaussian-mixture embeddings) and
    DOC_STEPS arriving batches. Each batch plants exact clones (same
    text, source vector plus noise) and light edits (two words changed)
    of base docs among fresh ones; clone ids go to labels.json only."""
    os.makedirs(out, exist_ok=True)
    vocab = np.array([f"w{i:04d}" for i in range(DOC_VOCAB)], dtype=object)
    zipf = 1.0 / np.arange(1, DOC_VOCAB + 1) ** 1.05
    zipf /= zipf.sum()
    centers = rng.standard_normal((DOC_CLUSTERS, DOC_DIM)) * 3.0

    def texts(n):
        return [
            " ".join(vocab[rng.choice(DOC_VOCAB, int(rng.integers(30, 80)), p=zipf)])
            for _ in range(n)
        ]

    def vectors(n):
        c = centers[rng.integers(0, DOC_CLUSTERS, n)]
        return (c + rng.standard_normal((n, DOC_DIM))).astype(np.float32)

    base_text = texts(DOC_BASE)
    base_vec = vectors(DOC_BASE)
    seed_bytes = _write(
        f"{out}/seed.parquet",
        {
            "doc_id": np.arange(DOC_BASE, dtype=np.int64),
            "text": base_text,
            "embedding": list(base_vec),
        },
        DOCS_SCHEMA,
    )
    steps, rounds, clones = [], [], []
    next_id = DOC_BASE
    n_clone = int(DOC_BATCH * DOC_CLONE_SHARE)
    n_edit = int(DOC_BATCH * DOC_EDIT_SHARE)
    for i in range(DOC_STEPS):
        ids = np.arange(next_id, next_id + DOC_BATCH, dtype=np.int64)
        next_id += DOC_BATCH
        fresh_n = DOC_BATCH - n_clone - n_edit
        rows = [("fresh", t, v) for t, v in zip(texts(fresh_n), vectors(fresh_n))]
        for j, s in enumerate(rng.choice(DOC_BASE, n_clone + n_edit, replace=False)):
            words = base_text[s].split(" ")
            if j >= n_clone:
                for pos in rng.choice(len(words), 2, replace=False):
                    words[pos] = vocab[rng.integers(0, DOC_VOCAB)]
            noisy = base_vec[s] + 0.05 * rng.standard_normal(DOC_DIM)
            rows.append(
                ("clone" if j < n_clone else "edit", " ".join(words),
                 noisy.astype(np.float32))
            )
        rows = [rows[k] for k in rng.permutation(DOC_BATCH)]
        clones += [int(ids[p]) for p, r in enumerate(rows) if r[0] == "clone"]
        path = f"{out}/step_{i:04d}.parquet"
        nbytes = _write(
            path,
            {
                "doc_id": ids,
                "text": [r[1] for r in rows],
                "embedding": [r[2] for r in rows],
            },
            DOCS_SCHEMA,
        )
        steps.append(Step(i, "admit", path, DOC_BATCH, nbytes))
        rounds.append(
            {
                "bm25": [
                    sorted(
                        str(w)
                        for w in vocab[
                            20 + rng.choice(480, int(rng.integers(2, 4)), replace=False)
                        ]
                    )
                    for _ in range(DOC_QUERIES)
                ],
                "ann": [
                    [float(x) for x in v] for v in vectors(DOC_QUERIES)
                ],
            }
        )
    _write_json(f"{out}/rounds.json", rounds)
    _write_json(f"{out}/labels.json", {"exact_clones": sorted(clones)})
    return {
        "seed": f"{out}/seed.parquet",
        "seed_bytes": seed_bytes,
        "steps": steps,
        "rounds": rounds,
        "exact_clones": set(clones),
    }


GENERATORS = {
    "cow_cdc_upsert": gen_cow,
    "corpus_admit_search": gen_corpus,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write `workload`'s inputs for `seed` under `out`; return the plan."""
    return GENERATORS[workload](np.random.default_rng(seed), out)
