"""The keyed write path's index lookup and commit bookkeeping.

- Key-field range pruning is sound: a randomized differential test runs
  upsert (with soft-delete tombstones), delete_keys and merge on COW
  tables against a dict model, for single and composite keys over int,
  string, null and "" values, partitioned and global-index; targeted
  cases pin the placeholder and ',' collisions the proof must respect.
- A batch of new keys appends instead of rewriting, and an append folds
  a partition's `_SMALL_FILE_FOLD_MIN` smallest files when they fit one
  target file; the lookup summary's collect and aggregate paths agree.
- `show_commits.total_records` is the true row count of every commit.
- A small COW upsert runs at most 3 Spark jobs (host-independent gate).
"""

import itertools
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hudi_demo_spark import Engine
from hudi_demo_spark.engine.engine import (
    Engine as E,
    _field_ranges_disjoint,
    _provable,
)
from hudi_demo_spark.engine.keys import EMPTY_PLACEHOLDER, NULL_PLACEHOLDER
from hudi_demo_spark.engine.timeline import Timeline

SCHEMA = "k long, s string, t string, p string, ts long, v long"
COLS = ["k", "s", "t", "p", "ts", "v"]


def _df(spark, rows, deleted=None):
    df = spark.createDataFrame([r[:6] for r in rows], SCHEMA)
    if deleted is not None:
        df = spark.createDataFrame(
            [(*r[:6], d) for r, d in zip(rows, deleted)],
            SCHEMA + ", _hoodie_is_deleted boolean",
        )
    return df


def _live(engine, table):
    return Timeline(engine._resolve(table).path).live_files()


# ---------------------------------------------------------------- model

def _key_text(fields, row):
    """Reference record-key text (keys.record_key_col)."""
    vals = dict(zip(COLS, row))
    if len(fields) == 1:
        return str(vals[fields[0]])

    def enc(v):
        if v is None:
            return NULL_PLACEHOLDER
        if v == "":
            return EMPTY_PLACEHOLDER
        return str(v)

    return ",".join(f"{f}:{enc(vals[f])}" for f in fields)


class _Model:
    """Snapshot model: {identity: row}; identity is the key text, plus
    the partition unless the index is global."""

    def __init__(self, fields, is_global):
        self.fields, self.is_global, self.rows = fields, is_global, {}

    def ident(self, row):
        k = _key_text(self.fields, row)
        return k if self.is_global else (row[3], k)

    def _best(self, rows):
        best = {}
        for r in rows:  # preCombine: the highest ts wins within a batch
            i = self.ident(r)
            if i not in best or r[4] > best[i][4]:
                best[i] = r
        return best

    def upsert(self, rows, deleted):
        dead = {self.ident(r) for r, d in zip(rows, deleted) if d}
        for i, r in self._best(
            [r for r, d in zip(rows, deleted) if not d]
        ).items():
            old = self.rows.get(i)
            # ordering-aware payload: ties go to the later commit
            if old is None or r[4] >= old[4]:
                self.rows[i] = r
        for i in dead:
            self.rows.pop(i, None)

    def delete(self, rows):
        for r in rows:
            self.rows.pop(self.ident(r), None)

    def merge(self, rows):
        # matched: UPDATE SET * (no ordering check); not matched: INSERT *
        self.rows.update(self._best(rows))


def _check(engine, table, model):
    snap = engine.read(table)
    ids = [
        tuple(r) for r in snap.select(
            *([] if model.is_global else ["_hoodie_partition_path"]),
            "_hoodie_record_key",
        ).collect()
    ]
    assert len(ids) == len(set(ids)), "a record key appears twice"
    got = sorted((tuple(r) for r in snap.select(*COLS).collect()), key=repr)
    assert got == sorted(model.rows.values(), key=repr)


# ------------------------------------------------- differential (hypothesis)

_STR = [None, "", "a", "b", "a,t:b", "b,t:c", "c", NULL_PLACEHOLDER,
        EMPTY_PLACEHOLDER]
_KEYS = {
    "int": ["k"],
    "str": ["s"],
    "str_int": ["s", "k"],
    "str_str": ["s", "t"],
}


@st.composite
def _batch(draw, fields, max_rows=6):
    """Rows whose ids sit in one of three disjoint windows, so batches
    both overlap and miss earlier files' ranges; ts values are distinct
    within a batch (an intra-batch tie has no defined winner)."""
    base = draw(st.sampled_from([0, 10, 20]))
    n = draw(st.integers(1, max_rows))
    ts = draw(st.lists(st.integers(0, 9), min_size=n, max_size=n,
                       unique=True))
    rows = []
    for i in range(n):
        k = base + draw(st.integers(0, 5))
        s = draw(st.sampled_from(_STR))
        t = draw(st.sampled_from(_STR))
        if fields == ["s", "k"] and draw(st.integers(0, 4)) == 0:
            k = None
        if fields == ["s"] and s is None:
            s = "a"
        if len(fields) > 1 and all(
            dict(zip(COLS, (k, s, t)))[f] is None for f in fields
        ):
            s = "b"
        rows.append((k, s, t, draw(st.sampled_from(["a", "b"])), ts[i], i))
    return rows


_op = st.sampled_from(["upsert", "upsert", "delete", "merge"])
_counter = itertools.count()


@pytest.mark.parametrize("is_global", [False, True])
@pytest.mark.parametrize("keys", sorted(_KEYS))
@given(data=st.data())
@settings(max_examples=3, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_pruned_dml_matches_model(spark, tmp_path, keys, is_global, data):
    fields = _KEYS[keys]
    engine = Engine(spark, tempfile.mkdtemp(dir=tmp_path))
    name = f"m{next(_counter)}"
    engine.create_table(
        name, record_key=fields, precombine="ts", partition_by="p",
        props={"index.global": "true"} if is_global else None,
    )
    model = _Model(fields, is_global)
    seed = data.draw(_batch(fields, max_rows=10))
    engine.upsert(_df(spark, seed), name)
    model.upsert(seed, [False] * len(seed))
    for op in data.draw(st.lists(_op, min_size=2, max_size=4)):
        rows = data.draw(_batch(fields))
        if op == "upsert":
            dead = data.draw(st.lists(st.booleans(), min_size=len(rows),
                                      max_size=len(rows)))
            # a tombstone ends the key's history whatever its ts, so a
            # batch holds either tombstones or live rows for one key
            seen = {}
            for i, r in enumerate(rows):
                dead[i] = seen.setdefault(model.ident(r), dead[i])
            engine.upsert(_df(spark, rows, dead), name)
            model.upsert(rows, dead)
        elif op == "delete":
            keys_df = _df(spark, rows).select(*fields, "p")
            engine.delete_keys(name, keys_df)
            model.delete(rows)
        else:
            engine.merge(name, _df(spark, rows))
            model.merge(rows)
        _check(engine, name, model)


# ------------------------------------------------------ targeted cases

def test_provable_and_disjoint_rules():
    assert _provable([1, 5]) and _provable(["b", "c"])
    assert _provable([False, True])
    assert not _provable([1.0, 2.0])  # NaN / -0.0
    assert not _provable(["", "a"])
    assert not _provable(["A", "b"])  # holds "__null__" / "__empty__"
    assert _field_ranges_disjoint({"k": [1, 5]}, {"k": (6, 9)})
    assert not _field_ranges_disjoint({"k": [1, 5]}, {"k": (5, 9)})
    # values that do not compare prove nothing
    assert not _field_ranges_disjoint({"k": [1, 5]}, {"k": ("6", "9")})
    assert not _field_ranges_disjoint({}, {"k": (6, 9)})


def test_new_ids_append_without_rewrite(engine, spark):
    """Numeric ids compare as strings in the key text ("1540" < "999"),
    so only the typed id range proves the batch's keys are new."""
    engine.create_table("a", record_key="k", precombine="ts")
    engine.insert(_df(spark, [(i, "x", None, "a", 1, i)
                              for i in range(50, 1000, 50)]).coalesce(1), "a")
    meta = engine.upsert(_df(spark, [(1540, "y", None, "a", 1, 0)]), "a")
    assert meta["files_removed"] == []
    meta = engine.upsert(_df(spark, [(100, "z", None, "a", 2, 0)]), "a")
    assert len(meta["files_removed"]) == 1
    assert engine.read("a").count() == 20


def test_composite_placeholder_collision_not_pruned(engine, spark):
    """s = NULL and s = "__null__" give one key text, as do "" and
    "__empty__". Each file's non-null s values alone lie outside the
    batch's s range, so only the null and placeholder rules keep it."""
    engine.create_table("c", record_key=["k", "s"], precombine="ts")
    engine.insert(_df(spark, [(1, None, None, "a", 1, 1),
                              (3, "zzz", None, "a", 1, 3)]).coalesce(1), "c")
    engine.insert(_df(spark, [(2, "", None, "a", 1, 2),
                              (4, "A", None, "a", 1, 4)]).coalesce(1), "c")
    engine.upsert(_df(spark, [(1, NULL_PLACEHOLDER, None, "a", 5, 10),
                              (2, EMPTY_PLACEHOLDER, None, "a", 5, 20)]), "c")
    got = sorted((r["k"], r["v"]) for r in engine.read("c").collect())
    assert got == [(1, 10), (2, 20), (3, 3), (4, 4)]


def test_composite_comma_collision_not_pruned(engine, spark):
    """("a,t:b", "c") and ("a", "b,t:c") share the key text
    s:a,t:b,t:c although both fields differ."""
    engine.create_table("cc", record_key=["s", "t"], precombine="ts")
    engine.insert(_df(spark, [(0, "a,t:b", "c", "a", 1, 1)]), "cc")
    engine.upsert(_df(spark, [(0, "a", "b,t:c", "a", 5, 2)]), "cc")
    assert [r["v"] for r in engine.read("cc").collect()] == [2]


def test_append_folds_small_files(engine, spark):
    engine.create_table("f", record_key="k", precombine="ts",
                        partition_by="p")
    k_min = E._SMALL_FILE_FOLD_MIN
    for i in range(k_min):
        meta = engine.upsert(
            _df(spark, [(100 * i, "x", None, "a", 1, i)]).coalesce(1), "f"
        )
        assert meta["files_removed"] == []
    assert len(_live(engine, "f")) == k_min
    # the next pure append folds the partition's small files into it
    meta = engine.upsert(
        _df(spark, [(100 * k_min, "x", None, "a", 1, 0)]).coalesce(1), "f"
    )
    assert len(meta["files_removed"]) == k_min
    assert len(_live(engine, "f")) == 1
    assert engine.read("f").count() == k_min + 1


def test_fold_rewrites_at_most_one_target_file(engine, spark):
    """A fold takes only the K smallest base files and only when they
    fit one target file together. Here K files of ~half a target each
    hold interleaved ids, so a new key lies inside every file's id range
    and bloom alone prunes them: the append must not rewrite them."""
    k_min = E._SMALL_FILE_FOLD_MIN
    target = 1 << 20
    engine.create_table("b", record_key="k", precombine="ts",
                        partition_by="p",
                        props={"index.bloom.enabled": "true",
                               "write.target_file_mb": "1"})
    for i in range(k_min):
        wide = (
            spark.range(i, 3000 * (k_min + 1), k_min + 1)
            .select(
                F.col("id").alias("k"),
                # ~190 incompressible bytes a row
                F.concat(F.sha2(F.col("id").cast("string"), 512),
                         F.sha2(F.col("id").cast("string"), 256)).alias("s"),
                F.lit(None).cast("string").alias("t"),
                F.lit("a").alias("p"),
                F.lit(1).cast("long").alias("ts"),
                F.col("id").alias("v"),
            )
            .coalesce(1)
        )
        assert engine.upsert(wide, "b")["files_removed"] == []
    sizes = sorted(m["bytes"] for m in _live(engine, "b").values())
    assert len(sizes) == k_min and sizes[-1] < target < sum(sizes)
    folds = 0
    for j in range(6):
        live = _live(engine, "b")
        new_key = (k_min + 1) * (100 + j) + k_min  # in no file, in every range
        meta = engine.upsert(
            _df(spark, [(new_key, "n", None, "a", 2, j)]).coalesce(1), "b"
        )
        removed = meta["files_removed"]
        if j == 0:
            assert removed == []
        assert len(removed) <= k_min
        assert sum(live[p]["bytes"] for p in removed) <= target
        folds += bool(removed)
    # the tiny appends still fold once K of them fit with one big file
    assert folds >= 1
    snap = engine.read("b")
    assert snap.count() == 3000 * k_min + 6
    assert snap.select("k").distinct().count() == 3000 * k_min + 6


def test_batch_key_ranges_branches_agree(engine, spark):
    """Past _KEY_COLLECT_CAP rows the lookup summary comes from a grouped
    aggregate instead of the driver collect; both must give the same
    (ranges, rows, key-field ranges), nulls, placeholders and ',' too."""
    from hudi_demo_spark.engine.timeline import new_instant

    batches = [
        [(1, "a", "b", "a", 1, 0), (7, None, "c", "a", 2, 1),
         (3, "zz", "", "b", 3, 2)],
        [(2, "a,t:b", "c", "a", 1, 0), (9, "b", "b,t:c", "b", 2, 1)],
        [(4, NULL_PLACEHOLDER, EMPTY_PLACEHOLDER, "a", 1, 0),
         (5, "c", "d", "b", 1, 1)],
        # one partition whose k values are all null
        [(None, "a", "x", "a", 1, 0), (None, "b", "y", "a", 1, 1),
         (6, "c", "z", "b", 1, 2)],
    ]
    for fields in (["k"], ["s"], ["s", "k"], ["s", "t"], ["k", "s", "t"]):
        name = f"g{next(_counter)}"
        engine.create_table(name, record_key=fields, precombine="ts",
                            partition_by="p")
        cfg = engine._resolve(name)
        for rows in batches:
            if any(r[COLS.index(f)] is None for r in rows for f in fields) \
                    and len(fields) == 1:
                continue  # a null single-field key is rejected at write
            batch = engine._prepare(_df(spark, rows), cfg, new_instant())
            collected = engine._batch_key_ranges(batch, cfg)
            engine._KEY_COLLECT_CAP = 0
            try:
                aggregated = engine._batch_key_ranges(batch, cfg)
            finally:
                del engine._KEY_COLLECT_CAP
            assert aggregated == collected, (fields, rows)
            assert collected[1] == len(rows)


def test_record_key_fields_are_immutable(engine, spark):
    engine.create_table("i", record_key="k", precombine="ts")
    engine.insert(_df(spark, [(1, "x", None, "a", 1, 1)]), "i")
    with pytest.raises(ValueError, match="record key"):
        engine.update("i", set={"k": "k + 1"}, where="k = 1")
    with pytest.raises(ValueError, match="record key"):
        engine.update("i", set={"K": "k + 1"}, where="k = 1")
    src = _df(spark, [(1, "y", None, "a", 2, 2)])
    sc = spark.sparkContext
    for bad in ("s.k + 1", F.col("s.k") + 1, "s.v", F.col("t.k")):
        group = f"key-guard-{next(_counter)}"
        sc.setJobGroup(group, "rejected merge")
        try:
            with pytest.raises(ValueError, match="record key"):
                engine.merge("i", src, matched_update_set={"k": bad})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # rejected before any Spark work
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    with pytest.raises(ValueError, match="record key"):
        engine.merge("i", src, not_matched_insert_values={"k": "s.v"})
    for i, good in enumerate(("s.k", " `s`.`k` ", F.col("s.k"),
                              F.expr("s.k"), "S.K")):
        engine.merge("i", _df(spark, [(1, "y", None, "a", 2 + i, 2 + i)]),
                     matched_update_set={"k": good, "v": "s.v"})
    assert [tuple(r) for r in engine.read("i").select("k", "v").collect()] \
        == [(1, 6)]


# ------------------------------------------------------- commit records

@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_show_commits_total_records(engine, spark, table_type):
    engine.create_table("r", record_key="k", precombine="ts",
                        table_type=table_type)
    engine.insert(_df(spark, [(i, "x", None, "a", 1, i)
                              for i in range(10)]).coalesce(1), "r")
    engine.upsert(_df(spark, [(3, "u", None, "a", 2, 0),
                              (100, "n", None, "a", 2, 0)]), "r")
    engine.delete_keys("r", _df(spark, [(4, "x", None, "a", 1, 0)])
                       .select("k"))
    engine.merge("r", _df(spark, [(5, "m", None, "a", 3, 0),
                                  (200, "m", None, "a", 3, 0)]))
    engine.upsert(_df(spark, [(6, "u", None, "a", 4, 0)]), "r")
    if table_type == "mor":
        engine.compact("r")
    got = [
        (r["operation"], r["total_records"])
        for r in engine.show_commits("r").orderBy("commit_time").collect()
    ]
    if table_type == "cow":
        # every COW commit rewrites the table's one file group
        want = [("insert", 10), ("upsert", 11), ("delete", 10),
                ("merge", 11), ("upsert", 11)]
    else:
        # deltas hold the batch (or the delete markers); merge and
        # compaction write the merged file group (11 live rows)
        want = [("insert", 10), ("upsert", 2), ("delete", 1),
                ("merge", 11), ("upsert", 1), ("compact", 11)]
    assert got == want
    assert engine.read("r").count() == 11


# ------------------------------------------------------------ job gate

def test_small_cow_upsert_runs_at_most_3_spark_jobs(engine, spark):
    """Host-independent regression signal: the upsert's index lookup is
    one bounded collect, then the merge window and the write."""
    engine.create_table("j", record_key="k", precombine="ts",
                        partition_by="p")
    engine.insert(_df(spark, [(i, "x", None, "a", 1, i)
                              for i in range(100)]), "j")
    batch = _df(spark, [(5, "u", None, "a", 2, 0),
                        (500, "n", None, "a", 2, 0)])
    sc = spark.sparkContext
    group = f"write-path-gate-{next(_counter)}"
    sc.setJobGroup(group, "small cow upsert")
    try:
        engine.upsert(batch, "j")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert engine.read("j").filter(F.col("k") == 5).first()["v"] == 0
