"""The workloads: one closed-loop client each (concurrency 1 — every
call returns before the next is issued).

A step is one write op followed by one read op. Steps come in cycles
of a fixed length and a run measures whole cycles, so every run sees
the same op mix. Timings cover exactly the client's calls; checking
results against the oracle happens between ops, outside every timed
region.

- `cow_cdc_upsert`: keyed, month-partitioned COW table under an
  upsert/delete_keys/merge mix with recency skew. The read op after
  every write is a consumer's CDC pull (`read_incremental` from the
  last seen instant); after every third step an analyst reads a
  dashboard aggregate over the hot months through
  `spark.read.format("hudi")` with a pushed partition filter (also a
  read op). `clean` + `archive` run inline after every commit (Hudi's
  automatic cleaning and archival).
- `corpus_admit_search`: document batches go through `minhash_admit`,
  `insert` into a MOR table, and the three derived-index refresh folds;
  the read op is a search round of BM25 (`text_index_topk`) and ANN
  (`vector_index_topk`) queries plus a key-pruned hydration read.
  `compact` of the documents and `clean` + `archive` of all four
  tables after every batch.

Fixed op mixes keep the percentiles on one op shape each: in cow the
merges are the slowest sixth of the writes (the commit tail) and the
dashboards the slowest quarter of the reads (the read tail), so
neither percentile straddles two shapes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs as I
from perfbench import oracle as O

now = time.perf_counter


@dataclass
class Samples:
    commit: list = field(default_factory=list)    # write-op latencies
    read: list = field(default_factory=list)      # read-op latencies
    fresh: list = field(default_factory=list)     # write start -> read returns it
    service: list = field(default_factory=list)   # one service run each
    space_amp: list = field(default_factory=list)  # at each cycle end
    rows_in: int = 0
    write_s: float = 0.0
    bytes_in: int = 0
    amp_point: tuple = (0, 0)   # (bytes committed, bytes input) at last cycle end
    steps: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)


class Workload:
    """Shared client loop: subclasses define tables, steps and checks."""

    name = ""
    table = ""             # primary table
    warmup_steps = 1       # plan steps applied during setup
    cycle = 1              # steps per cycle; runs measure whole cycles
    MIN_CYCLES = 2         # even when the first cycle outlasts the window

    def __init__(self, spark, plan: dict, tracer):
        self.spark = spark
        self.plan = plan
        self.tr = tracer
        self.s = Samples()
        self.eng = None
        self.measuring = False
        self.t_measure = 0.0
        self.start_instants: dict[str, str | None] = {}
        # primary table's state at the end of the first measured cycle:
        # a fixed plan position, so run length does not move it
        self.first_cycle_state: dict = {}

    # ------------------------------------------------------------ setup
    def seed(self, eng) -> None:
        raise NotImplementedError

    def setup(self, lake: str) -> None:
        from hudi_demo_spark import Engine

        self.eng = Engine(self.spark, lake)
        self.seed(self.eng)

    def warm_up(self) -> None:
        """Every op shape at least once (write, read, service): JIT,
        codegen and Python-worker start-up land in setup, not in the
        measurement."""
        for i in range(self.warmup_steps):
            self.step(i)
        self.end_cycle()
        # warm-up ops still count as attempted (and failed, if they did)
        done = self.s
        self.s = Samples(
            attempted=done.attempted, failed=done.failed, errors=done.errors
        )

    # ------------------------------------------------------------- loop
    def measure(self, seconds: float) -> None:
        self.measuring = True
        with self.tr.paused():
            self.start_instants = self._last_instants()
        i = self.warmup_steps
        self.t_measure = t_cycle = now()
        deadline = self.t_measure + seconds
        cycle_s = 0.0          # length of the last measured cycle
        steps = len(self.plan["steps"])
        # a run stops at the cycle boundary nearest the deadline, so the
        # measured window is `seconds` give or take half a cycle
        while i < steps and (
            now() + cycle_s / 2 < deadline
            or self.s.steps % self.cycle
            or self.s.steps < self.MIN_CYCLES * self.cycle
        ):
            self.step(i)
            i += 1
            self.s.steps += 1
            if self.s.steps % self.cycle == 0:
                self.end_cycle()
                cycle_s, t_cycle = now() - t_cycle, now()
                with self.tr.paused():
                    self.s.space_amp.append(self.lake_bytes() / self.live_bytes())
                    self.s.amp_point = (self.committed_bytes(), self.s.bytes_in)
                    if not self.first_cycle_state:
                        self.first_cycle_state = self.table_state()
        self.measuring = False

    def step(self, i: int) -> None:
        raise NotImplementedError

    def service(self) -> None:
        raise NotImplementedError

    def end_cycle(self) -> None:
        """Work done once per cycle, after its last step."""
        self.service()

    # ---------------------------------------------------- bookkeeping
    def op(self, fn):
        """Run one client call; an exception is a failed op."""
        self.s.attempted += 1
        self.tr.next_op()
        try:
            return fn()
        except Exception as e:  # a benchmark must finish and report
            self.fail(f"{type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            with self.tr.paused():
                self.tr.collect_jobs()

    def fail(self, why: str) -> None:
        self.s.failed += 1
        if len(self.s.errors) < 20:
            self.s.errors.append(why)

    def check(self, why: str | None) -> None:
        if why is not None:
            self.fail(why)

    def timed_write(self, step: I.Step, fn) -> float:
        t0 = now()
        self.op(fn)
        dt = now() - t0
        if self.measuring:
            self.s.commit.append(dt)
            self.s.write_s += dt
            self.s.rows_in += step.rows
            self.s.bytes_in += step.nbytes
        return t0

    def timed_read(self, t_write: float | None, fn):
        """`t_write`: start of the write this read is the first to
        observe (a freshness sample), or None."""
        t0 = now()
        out = self.op(fn)
        t1 = now()
        if self.measuring:
            self.s.read.append(t1 - t0)
            if t_write is not None:
                self.s.fresh.append(t1 - t_write)
        return out

    def timed_service(self, fn) -> None:
        t0 = now()
        self.op(fn)
        if self.measuring:
            self.s.service.append(now() - t0)

    # ------------------------------------------------------- accounting
    def tables(self) -> list[str]:
        return self.eng.list_tables()

    def _last_instants(self) -> dict:
        return {t: _last_instant(self.eng, t) for t in self.tables()}

    def committed_bytes(self) -> int:
        """Bytes of every file committed (all tables, archived instants
        included) since the measurement started."""
        from hudi_demo_spark.engine.timeline import Timeline

        total = 0
        for t in self.tables():
            begin = self.start_instants.get(t) or ""
            for m in Timeline(self.eng._resolve(t).path).instants(include_archived=True):
                if m["instant"] > begin:
                    total += sum(int(f.get("bytes") or 0) for f in m["files_added"])
        return total

    def lake_bytes(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.eng.root):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files if f.endswith(".parquet")
            )
        return total

    def live_bytes(self) -> int:
        raise NotImplementedError

    def program_mem_mb(self) -> float:
        """Memory the program holds: the JVM's heap in use right after a
        full collection plus its non-heap (classes, JIT code), and this
        process's peak resident set. The heap is not pre-sized, so how
        far the collector let it grow does not count."""
        mx = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getMemoryMXBean()
        mx.gc()
        jvm = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        return jvm / 2**20 + _vm_hwm_kb() / 1024.0

    def table_state(self) -> dict:
        from hudi_demo_spark.engine.timeline import Timeline

        tl = Timeline(self.eng._resolve(self.table).path)
        sizes = [int(m.get("bytes") or 0) for m in tl.live_files().values()]
        return {
            "active_instants": len(tl.instants()),
            "files_live": len(sizes),
            "small_file_share": (
                sum(b < 0.25 * float(np.median(sizes)) for b in sizes) / len(sizes)
                if sizes else 0.0
            ),
        }

    def final_check(self) -> None:
        raise NotImplementedError


def _vm_hwm_kb() -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _last_instant(eng, table: str) -> str | None:
    from hudi_demo_spark.engine.timeline import Timeline

    return Timeline(eng._resolve(table).path).last_instant()


def _read(spark, path: str, schema):
    """The client hands the engine a DataFrame over one input file
    (explicit schema: no inference job)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return spark.read.schema(from_arrow_schema(schema)).parquet(path)


# ================================================================ COW
class CowCdcUpsert(Workload):
    name = "cow_cdc_upsert"
    table = "orders"
    # one step of each op shape, then half a cycle: the first cycle
    # after the shapes alone still runs 10-25% slow while the JVM compiles
    # (a whole extra cycle steadies it more but adds ~4 s to every run)
    warmup_steps = 3 + len(I.COW_CYCLE) // 2
    cycle = len(I.COW_CYCLE)
    DASHBOARD_EVERY = 3       # steps; the warm-up's last step reads one too
    # small enough that the timeline reaches its steady length (archive
    # trimming every commit) within the first measured steps
    RETAIN_COMMITS = 4
    ARCHIVE_KEEP = 10
    COLS = ["o_orderkey", "o_totalprice", "o_orderstatus", "o_month", "seq"]
    HOT = [I.month_name(m) for m in range(I.COW_MONTHS - I.COW_HOT_MONTHS, I.COW_MONTHS)]

    def __init__(self, *a):
        super().__init__(*a)
        self.model = O.KeyedModel(pd.read_parquet(self.plan["seed"]), "o_orderkey")
        self.applied: list[tuple[str, str]] = []   # (batch path, op)
        self.last_seen = None

    def seed(self, eng) -> None:
        from hudi_demo_spark.sources.datasource import register

        register(self.spark)   # spark.read.format("hudi") for the dashboard
        eng.create_table(
            self.table, record_key="o_orderkey", precombine="seq",
            partition_by="o_month",
        )
        # one task per month partition: one base file per partition
        eng.insert(
            _read(self.spark, self.plan["seed"], I.ORDERS_SCHEMA)
            .repartition(4, "o_month"),
            self.table,
        )
        self.last_seen = _last_instant(eng, self.table)

    def step(self, i: int) -> None:
        from hudi_demo_spark.engine.timeline import Timeline

        st = self.plan["steps"][i]
        eng, t, tr = self.eng, self.table, self.tr
        if st.op == "delete":
            def write():
                eng.delete_keys(t, _read(self.spark, st.path, I.ORDER_KEYS_SCHEMA))
        elif st.op == "merge":
            def write():
                eng.merge(
                    t, _read(self.spark, st.path, I.ORDERS_SCHEMA),
                    matched_clauses=[("s.o_orderstatus = 'D'", "delete"), (None, "*")],
                    not_matched_insert_cond="s.o_orderstatus <> 'D'",
                )
        else:
            def write():
                eng.upsert(_read(self.spark, st.path, I.ORDERS_SCHEMA), t)
        t_write = self.timed_write(st, write)
        path = eng._resolve(t).path

        def pull():
            with tr.span("engine.read", "pull"):
                end = Timeline(path).last_instant()
                rows = (
                    eng.read_incremental(t, begin=self.last_seen, end=end)
                    .select(*self.COLS).collect()
                )
            self.last_seen = end
            return rows

        rows = self.timed_read(t_write, pull)
        with tr.paused():
            want = O.cow_apply(self.model, st.op, pd.read_parquet(st.path))
            self.applied.append((st.path, st.op))
            if rows is not None:
                self.check(
                    O.diff_rows(
                        [tuple(r) for r in rows],
                        []
                        if want.empty
                        else list(want[self.COLS].itertuples(index=False, name=None)),
                    )
                )
        self.service()
        if (i + 1) % self.DASHBOARD_EVERY == 0:
            self.dashboard()

    def end_cycle(self) -> None:
        """Services run inline after every commit, in `step`."""

    def dashboard(self) -> None:
        """An analyst reads a dashboard over the hot months through the
        data source (a read op)."""
        from pyspark.sql import functions as F

        path = self.eng._resolve(self.table).path

        def dashboard():
            with self.tr.span("sources.datasource", "dashboard"):
                return {
                    r[0]: (r[1], r[2])
                    for r in self.spark.read.format("hudi").load(path)
                    .filter(F.col("o_month").isin(self.HOT))
                    .groupBy("o_orderstatus")
                    .agg(F.count("*"), F.sum("o_totalprice"))
                    .collect()
                }

        dash = self.timed_read(None, dashboard)
        if dash is not None:
            with self.tr.paused():
                self.check(O.dashboard_diff(dash, self.model.state, self.HOT))

    def service(self) -> None:
        def run():
            self.eng.clean(
                self.table, retain_commits=self.RETAIN_COMMITS, stale_staging_s=0
            )
            self.eng.archive(self.table, keep=self.ARCHIVE_KEEP)

        self.timed_service(run)

    def live_bytes(self) -> int:
        return O.parquet_bytes(self.model.state, I.ORDERS_SCHEMA)

    def final_check(self) -> None:
        want = O.replay_orders(
            self.spark, self.plan["seed"],
            [p for p, op in self.applied if op != "delete"],
            [p for p, op in self.applied if op == "delete"],
        )
        got = self.eng.read(self.table).select(*want.columns)
        self.check(O.snapshot_diff(want, got))


# ============================================================= corpus
class CorpusAdmitSearch(Workload):
    name = "corpus_admit_search"
    table = "docs"             # MOR: inserts land as delta files
    warmup_steps = 1
    cycle = 1                  # services after every batch
    # a batch takes 8-11 s; a fixed three per run keeps the tails on
    # the same number of samples whatever the host's speed
    MIN_CYCLES = 3
    K = 10
    N_PROBE = 2
    INDEXES = ("doc_minhash", "doc_text", "doc_vec")

    def __init__(self, *a):
        super().__init__(*a)
        seed = pq.read_table(self.plan["seed"]).to_pydict()
        self.docs = dict(zip(seed["doc_id"], zip(seed["text"], seed["embedding"])))
        self.bm25 = O.BM25Model()
        for d, (text, _) in self.docs.items():
            self.bm25.add(d, text)
        self.last_seen = None
        self.recall: dict[str, list] = {"text": [], "vector": []}
        self.offered = 0
        self.admitted = 0

    def seed(self, eng) -> None:
        from hudi_demo_spark.engine import minhash_index as MH
        from hudi_demo_spark.engine import text_index as TI
        from hudi_demo_spark.engine import vector_index as VI

        eng.create_table(self.table, record_key="doc_id", table_type="mor")
        eng.insert(_read(self.spark, self.plan["seed"], I.DOCS_SCHEMA), self.table)
        MH.create_minhash_index(
            eng, self.table, "doc_minhash", "doc_id", "text", num_hashes=32, bands=8
        )
        MH.refresh_minhash_index(eng, "doc_minhash")
        TI.create_text_index(eng, self.table, "doc_text", "doc_id", "text", buckets=8)
        TI.refresh_text_index(eng, "doc_text")
        VI.create_vector_index(
            eng, self.table, "doc_vec", "doc_id", "embedding", n_centroids=8
        )
        VI.refresh_vector_index(eng, "doc_vec")
        self.last_seen = _last_instant(eng, self.table)

    def step(self, i: int) -> None:
        from hudi_demo_spark.engine import minhash_index as MH
        from hudi_demo_spark.engine import text_index as TI
        from hudi_demo_spark.engine import vector_index as VI

        st = self.plan["steps"][i]
        eng, t, tr = self.eng, self.table, self.tr

        def admit():
            batch = _read(self.spark, st.path, I.DOCS_SCHEMA)
            # the anti-join this returns is lazy: it runs inside the insert
            with tr.span("engine.minhash_index", "admit"):
                ok = MH.minhash_admit(eng, "doc_minhash", batch)
            eng.insert(ok, t)
            MH.refresh_minhash_index(eng, "doc_minhash")
            TI.refresh_text_index(eng, "doc_text")
            VI.refresh_vector_index(eng, "doc_vec")

        t_write = self.timed_write(st, admit)
        with tr.paused():
            self.apply_admission(st)

        rnd = self.plan["rounds"][i]
        res = self.timed_read(t_write, lambda: self.search(rnd))
        if res is not None:
            with tr.paused():
                self.check_search(rnd, *res)

    def apply_admission(self, st: I.Step) -> None:
        """Which ids got in (the docs table's newest commit), checked
        against the planted clones; the model takes the admitted docs."""
        end = _last_instant(self.eng, self.table)
        got = {
            r[0]
            for r in self.eng.read_incremental(self.table, begin=self.last_seen, end=end)
            .select("doc_id").collect()
        }
        self.last_seen = end
        batch = pq.read_table(st.path).to_pydict()
        offered = set(batch["doc_id"])
        if self.measuring:
            self.offered += len(offered)
            self.admitted += len(got)
        if not got <= offered:
            self.fail(f"admitted ids outside the batch: {sorted(got - offered)[:5]}")
        leaked = got & self.plan["exact_clones"]
        if leaked:
            self.fail(f"exact clones admitted: {sorted(leaked)[:5]}")
        for d, text, vec in zip(batch["doc_id"], batch["text"], batch["embedding"]):
            if d in got:
                self.docs[d] = (text, vec)
                self.bm25.add(d, text)

    def search(self, rnd: dict):
        """One search round: BM25 and ANN top-k, then the client
        hydrates the BM25 hits' texts with a key-pruned read."""
        from hudi_demo_spark.engine import text_index as TI
        from hudi_demo_spark.engine import vector_index as VI

        eng, tr = self.eng, self.tr
        q_terms = self.spark.createDataFrame(
            list(enumerate(rnd["bm25"])), "query_id long, terms array<string>"
        )
        q_vecs = self.spark.createDataFrame(
            [(-1 - n, v) for n, v in enumerate(rnd["ann"])],
            "doc_id long, embedding array<float>",
        )
        with tr.span("engine.text_index", "topk"):
            bm = TI.text_index_topk(
                eng, "doc_text", q_terms, "query_id", "terms", k=self.K
            ).collect()
        with tr.span("engine.vector_index", "topk"):
            ann = VI.vector_index_topk(
                eng, "doc_vec", q_vecs, k=self.K, n_probe=self.N_PROBE
            ).collect()
        hits = sorted({r["doc_id"] for r in bm})
        with tr.span("engine.read", "hydrate"):
            texts = (
                eng.read(self.table, point_filter=("doc_id", hits))
                .select("doc_id", "text")
                .collect()
            )
        return bm, ann, texts

    def check_search(self, rnd: dict, bm, ann, texts) -> None:
        for n, terms in enumerate(rnd["bm25"]):
            got = [(r["doc_id"], r["bm25"]) for r in bm if r["query_id"] == n]
            self.check(self.bm25.check_topk(terms, got, self.K))
            if self.measuring:
                want = self.bm25.topk_ids(terms, self.K)
                self.recall["text"].append(
                    len({d for d, _ in got} & want) / max(1, len(want))
                )
        ids = np.array(list(self.docs), dtype=np.int64)
        vecs = np.array([v for _, v in self.docs.values()], dtype=np.float64)
        for n, qv in enumerate(rnd["ann"]):
            got = {r["neighbor_id"] for r in ann if r["query_id"] == -1 - n}
            if len(got) != self.K or not got <= set(self.docs):
                self.fail(f"ANN query {n}: {len(got)} neighbours, or not live docs")
            if self.measuring:
                want = O.exact_cosine_topk(ids, vecs, np.array(qv), self.K)
                self.recall["vector"].append(len(got & want) / self.K)
        hydrated = {r[0]: r[1] for r in texts}
        want = {r["doc_id"]: self.docs[r["doc_id"]][0] for r in bm if r["doc_id"] in self.docs}
        if hydrated != want:
            self.fail(f"hydrated {len(hydrated)} docs, expected {len(want)} matching texts")

    def service(self) -> None:
        def run():
            self.eng.compact(self.table)
            for t in (self.table,) + self.INDEXES:
                self.eng.clean(t, retain_commits=4, stale_staging_s=0)
                self.eng.archive(t, keep=20)

        self.timed_service(run)

    def live_bytes(self) -> int:
        ids = sorted(self.docs)
        df = pd.DataFrame(
            {
                "doc_id": ids,
                "text": [self.docs[d][0] for d in ids],
                "embedding": [list(self.docs[d][1]) for d in ids],
            }
        )
        return O.parquet_bytes(df, I.DOCS_SCHEMA)

    def final_check(self) -> None:
        got = {
            r[0]: r[1]
            for r in self.eng.read(self.table).select("doc_id", "text").collect()
        }
        want = {d: text for d, (text, _) in self.docs.items()}
        if got != want:
            self.fail(f"final docs snapshot: {len(got)} docs vs {len(want)} expected")


WORKLOADS = {
    w.name: w for w in (CowCdcUpsert, CorpusAdmitSearch)
}
