"""Correctness oracles, computed from the generated inputs alone.

Two independent references per workload:

- an in-process model (pandas / plain Python) that replays the applied
  steps and predicts each op's observable result: the incremental pull
  and the data-source dashboard after every COW write; the admitted ids,
  BM25 top-k, ANN neighbours and hydrated texts of every corpus batch;
- at run end, the COW table is replayed in plain PySpark from the input
  parquet files (latest event per key, minus deletes) and compared row
  for row with the engine's snapshot; the corpus snapshot is compared
  with the model.

A mismatch is a failed op: it counts in `failed` / `error_rate`.
"""

from __future__ import annotations

import io
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

def parquet_bytes(df: pd.DataFrame, schema: pa.Schema) -> int:
    """Size of `df` as one snappy parquet file: the compact reference
    for `space_amp`."""
    buf = io.BytesIO()
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        buf, compression="snappy",
    )
    return buf.tell()


class KeyedModel:
    """Latest row per key, minus deletes."""

    def __init__(self, seed: pd.DataFrame, key: str):
        self.key = key
        self.state = seed.set_index(key, drop=False)

    def put(self, rows: pd.DataFrame) -> None:
        new = rows.set_index(self.key, drop=False)
        self.state = pd.concat([self.state.drop(new.index, errors="ignore"), new])

    def delete(self, keys) -> None:
        self.state = self.state.drop(list(keys), errors="ignore")


# ------------------------------------------------------------- cow
def cow_apply(model: KeyedModel, op: str, batch: pd.DataFrame) -> pd.DataFrame:
    """Apply one COW op to the model; return the rows the next
    incremental pull must show (keys written by the op, post-image)."""
    if op == "delete":
        model.delete(batch["o_orderkey"])
        return batch.iloc[0:0]
    if op == "merge":
        gone = batch["o_orderstatus"] == "D"
        model.delete(batch.loc[gone, "o_orderkey"])
        batch = batch[~gone]
    model.put(batch)
    return batch


def diff_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row multisets are equal, else a short reason."""
    g, w = sorted(got), sorted(want)
    if g == w:
        return None
    first = next(((a, b) for a, b in zip(g, w) if a != b), None)
    return f"{len(g)} rows vs {len(w)} expected; first differing pair {first}"


def dashboard_diff(got: dict, state: pd.DataFrame, months: list[str]) -> str | None:
    """Per-status (count, sum of o_totalprice) over `months`."""
    hot = state[state["o_month"].isin(months)].groupby("o_orderstatus")
    want = {
        k: (int(n), float(v))
        for k, n, v in zip(hot.size().index, hot.size(), hot["o_totalprice"].sum())
    }
    ok = set(got) == set(want) and all(
        got[k][0] == want[k][0]
        and math.isclose(got[k][1], want[k][1], rel_tol=1e-9)
        for k in want
    )
    return None if ok else f"dashboard {got} != {want}"


# ---------------------------------------------------------- corpus
class BM25Model:
    """Brute-force BM25 over the live docs (whitespace tokens, k1=1.2,
    b=0.75, scores rounded to 4 places like the engine's index)."""

    K1, B = 1.2, 0.75

    def __init__(self):
        self.tf: dict[int, dict[str, int]] = {}
        self.dl: dict[int, int] = {}
        self.df: dict[str, int] = {}

    def add(self, doc_id: int, text: str) -> None:
        toks = text.split()
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        self.tf[doc_id] = counts
        self.dl[doc_id] = len(toks)
        for t in counts:
            self.df[t] = self.df.get(t, 0) + 1

    def scores(self, terms: list[str]) -> dict[int, float]:
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        out: dict[int, float] = {}
        for t in set(terms):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d, counts in self.tf.items():
                tf = counts.get(t)
                if tf:
                    den = tf + self.K1 * (1 - self.B + self.B * self.dl[d] / avgdl)
                    out[d] = out.get(d, 0.0) + idf * tf * (self.K1 + 1) / den
        return out

    def check_topk(self, terms: list[str], got: list[tuple[int, float]], k: int) -> str | None:
        """`got` = [(doc_id, bm25)] from the index. Every returned score
        must match the rescoring (to the engine's 4-place rounding) and
        nothing left out may score higher than the k-th result."""
        want = self.scores(terms)
        tol = 2e-4
        if len(got) != min(k, len(want)):
            return f"top-k returned {len(got)} docs, expected {min(k, len(want))}"
        for d, s in got:
            if d not in want or abs(want[d] - s) > tol:
                return f"doc {d} bm25 {s} != brute force {want.get(d)}"
        kth = min(s for _, s in got) if got else 0.0
        ids = {d for d, _ in got}
        best_left = max((s for d, s in want.items() if d not in ids), default=-1.0)
        if best_left > kth + tol:
            return f"missed a doc scoring {best_left:.4f} > k-th {kth:.4f}"
        return None

    def topk_ids(self, terms: list[str], k: int) -> set[int]:
        want = self.scores(terms)
        return {d for d, _ in sorted(want.items(), key=lambda x: (-round(x[1], 4), x[0]))[:k]}


def exact_cosine_topk(ids: np.ndarray, vecs: np.ndarray, q: np.ndarray, k: int) -> set[int]:
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vn @ (q / np.linalg.norm(q))
    order = np.lexsort((ids, -sims))[:k]
    return set(ids[order].tolist())


# ------------------------------------------------ final (PySpark replay)
def replay_orders(spark, seed: str, puts: list[str], deletes: list[str]):
    """Plain-PySpark replay of the COW workload's inputs: every row of
    the seed and the applied upsert/merge batches is an event at its
    `seq`; merge rows with status 'D' and the rows of applied delete
    batches (seq = step number + 1, from the file name) are deletes.
    The latest event per key wins; keys whose latest event is a delete
    are absent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    from perfbench.inputs import ORDER_KEYS_SCHEMA, ORDERS_SCHEMA

    cols = [f.name for f in ORDERS_SCHEMA]
    events = spark.read.schema(from_arrow_schema(ORDERS_SCHEMA)).parquet(
        seed, *puts
    ).withColumn("__del", F.col("o_orderstatus") == "D")
    if deletes:
        dels = (
            spark.read.schema(from_arrow_schema(ORDER_KEYS_SCHEMA))
            .parquet(*deletes)
            .withColumn(
                "seq",
                F.regexp_extract(F.col("_metadata.file_path"), r"step_(\d+)", 1)
                .cast("long") + 1,
            )
            .withColumn("__del", F.lit(True))
        )
        events = events.unionByName(dels, allowMissingColumns=True)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col("__del"))
        .select(*cols)
    )


def snapshot_diff(expected, actual) -> str | None:
    """Row-multiset equality of two DataFrames with the same columns,
    in one Spark job."""
    from pyspark.sql import functions as F

    n = (
        expected.withColumn("__side", F.lit(1))
        .unionByName(actual.withColumn("__side", F.lit(-1)))
        .groupBy(*expected.columns)
        .agg(F.sum("__side").alias("__n"))
        .filter(F.col("__n") != 0)
        .count()
    )
    return f"final snapshot: {n} rows differ from the replay" if n else None
