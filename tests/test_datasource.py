"""`spark.read.format("hudi")` Python data source: differential against
the native Engine read paths — identical rows for snapshot, MOR merge,
read-optimized, incremental, and time travel."""

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.sources.datasource import register

ROWS = [
    (1, "a", 1.0, 100, "2022-09-05"),
    (2, "b", 2.0, 100, "2022-09-05"),
    (3, "c", 3.0, 100, "2022-09-25"),
    (4, "d", 4.0, 100, "2022-09-25"),
]


def _mkdf(spark, rows):
    return spark.createDataFrame(
        rows, "id int, name string, price double, ts long, dt string"
    )


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_same(spark, engine, table, **reader_opts):
    cfg = engine._resolve(table)
    r = spark.read.format("hudi")
    for k, v in reader_opts.items():
        r = r.option(k, v)
    got = r.load(str(cfg.path))
    return got


def test_cow_snapshot_matches_engine(engine, spark):
    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, ROWS), "t")
    engine.upsert(_mkdf(spark, [(2, "b2", 9.0, 200, "2022-09-05")]), "t")
    ds = _assert_same(spark, engine, "t")
    assert ds.schema == engine.read("t").schema
    assert _rows(ds) == _rows(engine.read("t"))


def test_mor_snapshot_merge_and_delete(engine, spark):
    engine.create_table("m", record_key="id", precombine="ts",
                        partition_by="dt", table_type="mor")
    engine.insert(_mkdf(spark, ROWS), "m")
    engine.upsert(_mkdf(spark, [(1, "a9", 5.0, 900, "2022-09-05")]), "m")
    engine.delete("m", "id = 3")
    ds = _assert_same(spark, engine, "m")
    assert _rows(ds) == _rows(engine.read("m"))
    assert {r[3] for r in ds.collect()} == {1, 2, 4}


def test_mor_read_optimized(engine, spark):
    engine.create_table("m", record_key="id", precombine="ts",
                        table_type="mor")
    engine.insert(_mkdf(spark, ROWS), "m")
    # delta-only table: read-optimized sees nothing yet
    ds = _assert_same(
        spark, engine, "m",
        **{"hoodie.datasource.query.type": "read_optimized"},
    )
    assert ds.count() == 0
    engine.compact("m")
    ds2 = _assert_same(
        spark, engine, "m",
        **{"hoodie.datasource.query.type": "read_optimized"},
    )
    assert _rows(ds2) == _rows(engine.read("m", query_type="read_optimized"))


def test_incremental_matches_engine(engine, spark):
    engine.create_table("t", record_key="id", precombine="ts")
    engine.insert(_mkdf(spark, ROWS[:2]), "t")
    first = engine.show_commits("t").collect()[-1]["commit_time"]
    engine.insert(_mkdf(spark, ROWS[2:]), "t")
    engine.upsert(_mkdf(spark, [(1, "a2", 7.0, 300, "2022-09-05")]), "t")
    ds = _assert_same(
        spark, engine, "t",
        **{
            "hoodie.datasource.query.type": "incremental",
            "hoodie.datasource.read.begin.instanttime": first,
        },
    )
    native = engine.read_incremental("t", begin=first)
    assert _rows(ds) == _rows(native)
    assert {r["id"] for r in ds.collect()} == {1, 3, 4}


def test_time_travel_as_of(engine, spark):
    engine.create_table("t", record_key="id", precombine="ts")
    engine.insert(_mkdf(spark, ROWS[:2]), "t")
    c1 = engine.show_commits("t").collect()[0]["commit_time"]
    engine.insert(_mkdf(spark, ROWS[2:]), "t")
    ds = _assert_same(spark, engine, "t", **{"as.of.instant": c1})
    assert _rows(ds) == _rows(engine.read("t", as_of=c1))
    assert ds.count() == 2


def test_global_index_merge_via_datasource(engine, spark):
    """Partition-moved key under the global index: the data source's
    single merge group must collapse the old-partition copy exactly like
    the engine's key-only window."""
    engine.create_table(
        "g", record_key="id", precombine="ts", partition_by="dt",
        table_type="mor", props={"index.global": "true"},
    )
    engine.insert(_mkdf(spark, ROWS), "g")
    engine.upsert(_mkdf(spark, [(1, "moved", 9.0, 900, "2022-10-01")]), "g")
    ds = _assert_same(spark, engine, "g")
    assert _rows(ds) == _rows(engine.read("g"))
    assert ds.count() == 4


def test_schema_evolution_old_files_null_filled(engine, spark):
    engine.create_table("t", record_key="id", precombine="ts")
    engine.insert(_mkdf(spark, ROWS[:2]), "t")
    wider = _mkdf(spark, ROWS[2:]).withColumn("extra", F.lit(42))
    engine.insert(wider, "t")
    ds = _assert_same(spark, engine, "t")
    assert _rows(ds) == _rows(engine.read("t"))
    by_id = {r["id"]: r["extra"] for r in ds.collect()}
    assert by_id[1] is None and by_id[3] == 42


def test_unsupported_cases_error_loudly(engine, spark, tmp_path):
    import pyspark

    engine.create_table(
        "p", record_key="id", precombine="ts", payload="partial_update",
        table_type="mor",
    )
    engine.insert(_mkdf(spark, ROWS[:2]), "p")
    engine.upsert(_mkdf(spark, [(1, None, 5.0, 900, None)]), "p")
    cfg = engine._resolve("p")
    with pytest.raises(Exception, match="partial_update|PYTHON_DATA_SOURCE"):
        spark.read.format("hudi").load(str(cfg.path)).collect()


def test_streaming_read_change_feed(engine, spark, tmp_path):
    """`spark.readStream.format("hudi")`: timeline instants as offsets —
    first run drains existing commits, a restarted run with the same
    checkpoint emits ONLY the commits made in between (exactly-once)."""
    engine.create_table("t", record_key="id", precombine="ts")
    cfg = engine._resolve("t")
    engine.insert(_mkdf(spark, ROWS[:2]), "t")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("hudi").load(str(cfg.path))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == [1, 2]
    engine.insert(_mkdf(spark, ROWS[2:]), "t")
    engine.upsert(_mkdf(spark, [(1, "a2", 7.0, 300, "2022-09-05")]), "t")
    run_once()
    got = sorted((r["id"], r["name"]) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (1, "a2"), (2, "b"), (3, "c"), (4, "d")]


def test_streaming_read_start_commit(engine, spark, tmp_path):
    """READ_START_COMMIT analog: begin.instanttime skips older commits."""
    engine.create_table("t", record_key="id", precombine="ts")
    cfg = engine._resolve("t")
    engine.insert(_mkdf(spark, ROWS[:2]), "t")
    first = engine.show_commits("t").collect()[-1]["commit_time"]
    engine.insert(_mkdf(spark, ROWS[2:]), "t")
    q = (
        spark.readStream.format("hudi")
        .option("hoodie.datasource.read.begin.instanttime", first)
        .load(str(cfg.path))
        .writeStream.format("memory").queryName("t_stream_start")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(r["id"] for r in spark.table("t_stream_start").collect())
    assert got == [3, 4]


def test_filter_pushdown_prunes_partitions(engine, spark):
    """Partition-column equality reaches the source: the file list
    shrinks to the matching partition (verified at plan level), rows
    match the engine read with the same filter."""
    from pyspark.sql.datasource import EqualTo

    from hudi_demo_spark.sources.datasource import LakehouseDataSource

    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, ROWS), "t")
    cfg = engine._resolve("t")
    ds = spark.read.format("hudi").load(str(cfg.path)).filter(
        F.col("dt") == "2022-09-05"
    )
    assert _rows(ds) == _rows(
        engine.read("t").filter(F.col("dt") == "2022-09-05")
    )
    # plan-level: the reader consumes the filter and keeps one partition
    raw = LakehouseDataSource({"path": str(cfg.path)})
    rdr = raw.reader(raw.schema())
    rdr_all = raw.reader(raw.schema())
    n_all = len(rdr_all.partitions())
    leftover = list(rdr.pushFilters([EqualTo(("dt",), "2022-09-05")]))
    assert leftover == []  # fully consumed
    parts = rdr.partitions()
    assert all("dt=2022-09-05" in f for p in parts for f in p.files)
    assert 0 < len(parts) < n_all


def test_filter_pushdown_stats_skipping(engine, spark):
    """Range predicates skip files via commit-metadata col_stats but are
    NOT consumed (Spark still filters rows)."""
    from pyspark.sql.datasource import GreaterThan

    from hudi_demo_spark.sources.datasource import LakehouseDataSource

    engine.create_table("s", record_key="id",
                        props={"write.stats_cols": "price"})
    engine.insert(_mkdf(spark, ROWS[:2]), "s")   # prices 1, 2
    engine.insert(_mkdf(spark, ROWS[2:]), "s")   # prices 3, 4
    cfg = engine._resolve("s")
    ds = spark.read.format("hudi").load(str(cfg.path)).filter(
        F.col("price") > 2.5
    )
    assert {r["id"] for r in ds.collect()} == {3, 4}
    raw = LakehouseDataSource({"path": str(cfg.path)})
    rdr = raw.reader(raw.schema())
    rdr_all = raw.reader(raw.schema())
    n_all = len(rdr_all.partitions())
    leftover = list(rdr.pushFilters([GreaterThan(("price",), 2.5)]))
    assert len(leftover) == 1  # partial: returned for row-level eval
    assert 0 < len(rdr.partitions()) < n_all  # stats skipped file(s)


def test_filter_pushdown_global_merge_not_pruned(engine, spark):
    """Global-index MOR with a moved key: a partition filter must NOT
    prune the merge input — the stale old-partition copy would win.
    The filtered read must come back empty (the key left dt=2022-09-05
    ... wait, key 1 moved OUT, so filtering its old partition must show
    only key 2)."""
    engine.create_table(
        "g", record_key="id", precombine="ts", partition_by="dt",
        table_type="mor", props={"index.global": "true"},
    )
    engine.insert(_mkdf(spark, ROWS[:2]), "g")  # both in 2022-09-05
    engine.upsert(_mkdf(spark, [(1, "moved", 9.0, 900, "2022-10-01")]), "g")
    cfg = engine._resolve("g")
    ds = spark.read.format("hudi").load(str(cfg.path)).filter(
        F.col("dt") == "2022-09-05"
    )
    got = sorted(r["id"] for r in ds.collect())
    assert got == [2], f"stale copy of key 1 resurfaced: {got}"


def test_writer_roundtrip_and_engine_interop(engine, spark, tmp_path):
    """df.write.format("hudi") (S19): implicit table creation from the
    reference option spellings, readable by BOTH the data source and
    the engine, upsertable by the engine afterwards."""
    path = str(tmp_path / "w")
    (
        _mkdf(spark, ROWS).write.format("hudi")
        .option("hoodie.datasource.write.recordkey.field", "id")
        .option("hoodie.datasource.write.precombine.field", "ts")
        .option("hoodie.datasource.write.partitionpath.field", "dt")
        .mode("append").save(path)
    )
    ds = spark.read.format("hudi").load(path)
    assert sorted(r["id"] for r in ds.collect()) == [1, 2, 3, 4]
    assert {r["_hoodie_partition_path"] for r in ds.collect()} == {
        "dt=2022-09-05", "dt=2022-09-25",
    }
    from hudi_demo_spark import Engine

    eng = Engine(spark, tmp_path)
    eng.upsert(_mkdf(spark, [(1, "a2", 9.0, 300, "2022-09-05")]), "w")
    by_id = {r["id"]: r["name"] for r in eng.read("w").collect()}
    assert by_id[1] == "a2" and len(by_id) == 4


def test_writer_second_append_and_overwrite(engine, spark, tmp_path):
    path = str(tmp_path / "w")
    w = (
        _mkdf(spark, ROWS[:2]).write.format("hudi")
        .option("hoodie.datasource.write.recordkey.field", "id")
    )
    w.mode("append").save(path)
    _mkdf(spark, ROWS[2:]).write.format("hudi").mode("append").save(path)
    assert spark.read.format("hudi").load(path).count() == 4
    _mkdf(spark, ROWS[:1]).write.format("hudi").mode("overwrite").save(path)
    assert spark.read.format("hudi").load(path).count() == 1


def test_writer_mor_delta_commits(engine, spark, tmp_path):
    path = str(tmp_path / "m")
    (
        _mkdf(spark, ROWS[:2]).write.format("hudi")
        .option("hoodie.datasource.write.recordkey.field", "id")
        .option("hoodie.datasource.write.precombine.field", "ts")
        .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
        .mode("append").save(path)
    )
    from hudi_demo_spark import Engine
    from hudi_demo_spark.engine.timeline import Timeline

    eng = Engine(spark, tmp_path)
    assert [m["action"] for m in Timeline(path).instants()] == ["deltacommit"]
    assert eng.read("m").count() == 2
    eng.compact("m")
    assert eng.read("m", query_type="read_optimized").count() == 2


def test_writer_refuses_upsert_operation(engine, spark, tmp_path):
    path = str(tmp_path / "w")
    with pytest.raises(Exception, match="upsert|not supported"):
        (
            _mkdf(spark, ROWS).write.format("hudi")
            .option("hoodie.datasource.write.recordkey.field", "id")
            .option("hoodie.datasource.write.operation", "upsert")
            .mode("append").save(path)
        )


def test_writer_null_key_rejected(engine, spark, tmp_path):
    path = str(tmp_path / "w")
    bad = _mkdf(spark, [(None, "x", 1.0, 1, "2022-09-05")])
    with pytest.raises(Exception, match="null"):
        (
            bad.write.format("hudi")
            .option("hoodie.datasource.write.recordkey.field", "id")
            .mode("append").save(path)
        )
    # aborted job must leave nothing committed
    from hudi_demo_spark.engine.timeline import Timeline

    assert Timeline(path).instants() == []


def test_table_to_table_streaming_etl(engine, spark, tmp_path):
    """Capstone: engine table → readStream.format("hudi") → transform →
    stream_write(upsert) into a second engine table. Offsets live on the
    source timeline, commits with batch ids on the destination — both
    directions exactly-once across restarts."""
    from hudi_demo_spark.streaming.write import stream_write

    engine.create_table("src", record_key="id", precombine="ts")
    engine.create_table("dst", record_key="id", precombine="ts")
    cfg = engine._resolve("src")
    ck = str(tmp_path / "ck")
    engine.insert(_mkdf(spark, ROWS[:2]), "src")

    def run_once():
        stream = (
            spark.readStream.format("hudi").load(str(cfg.path))
            .withColumn("price", F.col("price") * 10)
        )
        q = stream_write(engine, "dst", stream, ck, mode="upsert",
                         bounded=True)
        q.awaitTermination()

    run_once()
    got = {r["id"]: r["price"] for r in engine.read("dst").collect()}
    assert got == {1: 10.0, 2: 20.0}
    # more source commits, including an update of key 1
    engine.upsert(_mkdf(spark, [(1, "a2", 9.0, 300, "2022-09-05")]), "src")
    engine.insert(_mkdf(spark, ROWS[2:]), "src")
    run_once()
    got = {r["id"]: r["price"] for r in engine.read("dst").collect()}
    assert got == {1: 90.0, 2: 20.0, 3: 30.0, 4: 40.0}
    # a THIRD run with no new source commits must be a no-op
    n_commits = engine.show_commits("dst").count()
    run_once()
    assert engine.show_commits("dst").count() == n_commits


def test_stats_pushdown_safe_under_mor_merge(engine, spark):
    """Range pushdown on a MOR table with deltas: stats-skipped base
    files cannot hide a merge winner (deltas carry no stats, are never
    skipped) — results must equal the engine read with the same
    filter."""
    engine.create_table(
        "ms", record_key="id", precombine="ts", table_type="mor",
        props={"write.stats_cols": "price"},
    )
    engine.insert(_mkdf(spark, ROWS), "ms")
    engine.compact("ms")  # base files now carry price stats
    # delta moves key 1's price ABOVE the filter bound — the base file
    # holding its old low price may be skipped; the delta must still win
    engine.upsert(_mkdf(spark, [(1, "hi", 99.0, 900, "2022-09-05")]), "ms")
    cfg = engine._resolve("ms")
    ds = spark.read.format("hudi").load(str(cfg.path)).filter(
        F.col("price") > 50.0
    )
    native = engine.read("ms").filter(F.col("price") > 50.0)
    assert _rows(ds) == _rows(native)
    assert {r["id"] for r in ds.collect()} == {1}


def test_pushed_eq_filter_uses_secondary_index(engine, spark):
    """A pushed `col = v` predicate on a secondary-indexed column prunes
    the FILE LIST to the partitions holding v. Proven by deleting a
    non-matching partition's data file from disk: the pruned plan never
    touches it, an unpruned plan would fail."""
    import pathlib

    engine.create_table(
        "sxds", record_key="id", precombine="ts", partition_by="dt"
    )
    engine.insert(
        _mkdf(
            spark,
            [
                (1, "paris", 1.0, 100, "2022-09-05"),
                (2, "tokyo", 2.0, 100, "2022-09-06"),
                (3, "paris", 3.0, 100, "2022-09-07"),
            ],
        ),
        "sxds",
    )
    engine.create_index("sxds", "name")
    cfg = engine._resolve("sxds")
    # destroy the tokyo partition's bytes out-of-band
    for p in (pathlib.Path(cfg.path) / "data" / "dt=2022-09-06").rglob(
        "*.parquet"
    ):
        p.write_bytes(b"not parquet")
    got = (
        spark.read.format("hudi")
        .load(str(cfg.path))
        .filter(F.col("name") == "paris")
        .select("id", "name")
    )
    assert _rows(got) == [(1, "paris"), (3, "paris")]
    # IN-list probe takes the same path
    got_in = (
        spark.read.format("hudi")
        .load(str(cfg.path))
        .filter(F.col("name").isin("paris"))
        .select("id")
    )
    assert _rows(got_in) == [(1,), (3,)]


def test_streaming_read_max_commits_per_trigger(engine, spark, tmp_path):
    """Admission control: `read.streaming.max.commits.per.trigger` splits
    a backlog of commits into bounded micro-batches (and still drains
    everything under availableNow)."""
    engine.create_table("tmc", record_key="id", precombine="ts")
    cfg = engine._resolve("tmc")
    for i in range(5):
        engine.insert(
            _mkdf(spark, [(i, f"r{i}", 1.0 * i, 100, "2022-09-05")]), "tmc"
        )
    seen = []

    def sink(batch_df, batch_id):
        seen.append(sorted(r["id"] for r in batch_df.collect()))

    # NOTE availableNow snapshots ONE end offset up front (no admission
    # control for simple stream readers), so pace with micro-batches
    import time

    q = (
        spark.readStream.format("hudi")
        .option("read.streaming.max.commits.per.trigger", "2")
        .load(str(cfg.path))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if sorted(x for b in seen for x in b) == [0, 1, 2, 3, 4]:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert sorted(x for b in seen for x in b) == [0, 1, 2, 3, 4]  # drained
    nonempty = [b for b in seen if b]
    assert len(nonempty) >= 3, seen  # 5 commits / cap 2 → ≥3 batches
    assert all(len(b) <= 2 for b in nonempty), seen


@pytest.mark.slow
def test_streaming_capped_read_restart_exactly_once(engine, spark, tmp_path):
    """Checkpoint restart under admission control: the restarted stream
    resumes from the checkpoint (never re-emits, never skips), even
    though the cap's frontier state is process-local and starts cold."""
    import time

    engine.create_table("tmr", record_key="id", precombine="ts")
    for i in range(3):
        engine.insert(
            _mkdf(spark, [(i, f"r{i}", 1.0, 100, "2022-09-05")]), "tmr"
        )
    cfg = engine._resolve("tmr")
    seen = []

    def sink(batch_df, batch_id):
        seen.append(sorted(r["id"] for r in batch_df.collect()))

    def run(timeout_ids):
        q = (
            spark.readStream.format("hudi")
            .option("read.streaming.max.commits.per.trigger", "2")
            .load(str(cfg.path))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if set(timeout_ids) <= {x for b in seen for x in b}:
                    break
                time.sleep(0.5)
        finally:
            q.stop()

    run([0, 1, 2])
    first_total = sorted(x for b in seen for x in b)
    assert first_total == [0, 1, 2]
    # new commits while the stream is DOWN, then restart same checkpoint
    for i in range(3, 6):
        engine.insert(
            _mkdf(spark, [(i, f"r{i}", 1.0, 100, "2022-09-05")]), "tmr"
        )
    run([3, 4, 5])
    total = sorted(x for b in seen for x in b)
    assert total == [0, 1, 2, 3, 4, 5]  # exactly once, nothing re-emitted


def test_writestream_format_hudi_roundtrip(engine, spark, tmp_path):
    """`writeStream.format("hudi")` — the format-native streaming sink
    (T1/T3; Flink sink shape TestStreamingMOR.java:57-59): engine-table
    change feed → stream → hudi sink table; one timeline commit per
    micro-batch with batch_id recorded, rows exactly the source's."""
    import time

    engine.create_table("wsrc", record_key="id", precombine="ts")
    engine.create_table("wdst", record_key="id", precombine="ts",
                        table_type="mor")
    dst = engine._resolve("wdst")
    src = engine._resolve("wsrc")
    for i in range(3):
        engine.insert(
            _mkdf(spark, [(i, f"r{i}", 1.0, 100, "2022-09-05")]), "wsrc"
        )
    q = (
        spark.readStream.format("hudi").load(str(src.path))
        .writeStream.format("hudi")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start(str(dst.path))
    )
    q.awaitTermination(120)
    got = engine.read("wdst")
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]
    from hudi_demo_spark.engine.timeline import Timeline

    tl = Timeline(dst.path)
    ins = [m for m in tl.instants() if m["action"] == "deltacommit"]
    assert ins and all("batch_id" in m for m in ins)
    # row-level commit time matches the timeline instant (incremental
    # exactness): every row's stamp is a committed instant
    stamps = {r[0] for r in got.select("_hoodie_commit_time").collect()}
    assert stamps <= {m["instant"] for m in ins}
    # incremental read off the sink table sees exactly the new rows
    mid = ins[-1]["instant"]
    engine.insert(
        _mkdf(spark, [(9, "r9", 9.0, 100, "2022-09-05")]), "wsrc"
    )
    q2 = (
        spark.readStream.format("hudi").load(str(src.path))
        .writeStream.format("hudi")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start(str(dst.path))
    )
    q2.awaitTermination(120)
    inc = engine.read_incremental("wdst", begin=mid)
    assert sorted(r["id"] for r in inc.collect()) == [9]


@pytest.mark.slow
def test_writestream_restart_exactly_once(engine, spark, tmp_path):
    """Crash-replay contract of the hudi stream sink: re-running a
    batch whose batch_id is already on the timeline publishes nothing
    and reclaims its staged files (no duplicate rows, no orphans)."""
    import pathlib

    engine.create_table("wes", record_key="id", precombine="ts")
    engine.create_table("wed", record_key="id", precombine="ts",
                        table_type="mor")
    src, dst = engine._resolve("wes"), engine._resolve("wed")
    for i in range(4):
        engine.insert(
            _mkdf(spark, [(i, f"r{i}", 1.0, 100, "2022-09-05")]), "wes"
        )

    def run():
        q = (
            spark.readStream.format("hudi")
            .option("read.streaming.max.commits.per.trigger", "2")
            .load(str(src.path))
            .writeStream.format("hudi")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start(str(dst.path))
        )
        q.awaitTermination(120)

    # the python stream source has no AvailableNow support: Spark falls
    # back to ONE batch per start(), and the 2-commit cap admits half
    # the backlog — run twice to drain (each run = one capped batch)
    run()
    run()
    assert sorted(
        r["id"] for r in engine.read("wed").collect()
    ) == [0, 1, 2, 3]
    n_files = len(list(
        (pathlib.Path(dst.path) / "data").rglob("*.parquet")
    ))
    # simulate a post-commit crash replay: re-run an epoch by hand with
    # a batch_id the timeline already holds
    from hudi_demo_spark.engine.timeline import Timeline
    from hudi_demo_spark.sources.datasource import LakehouseDataSource

    tl = Timeline(dst.path)
    replay_id = sorted(tl.committed_batch_ids())[0]
    ds = LakehouseDataSource(
        options={"path": str(dst.path)}
    )
    w = ds.streamWriter(engine.read("wes").schema, overwrite=False)
    rows = engine.read("wes").limit(2).collect()
    msg = w.write(iter(rows))
    w.commit([msg], replay_id)
    # nothing published, duplicate files reclaimed
    assert sorted(
        r["id"] for r in engine.read("wed").collect()
    ) == [0, 1, 2, 3]
    assert len(list(
        (pathlib.Path(dst.path) / "data").rglob("*.parquet")
    )) == n_files
    # stream keeps working after the replay (new source rows flow)
    engine.insert(_mkdf(spark, [(7, "r7", 1.0, 100, "2022-09-05")]), "wes")
    run()
    assert sorted(
        r["id"] for r in engine.read("wed").collect()
    ) == [0, 1, 2, 3, 7]


def test_writestream_complete_mode_replaces(engine, spark, tmp_path):
    """Complete-output-mode aggregation into the hudi sink: every
    emission REPLACES the table (replacecommit), never appends — the
    table always equals the latest aggregate."""
    engine.create_table("cmsrc", record_key="id", precombine="ts")
    engine.create_table("cmdst", record_key="event_type")
    src, dst = engine._resolve("cmsrc"), engine._resolve("cmdst")

    def run():
        q = (
            spark.readStream.format("hudi").load(str(src.path))
            .groupBy(F.col("name").alias("event_type"))
            .agg(F.count("*").alias("n"))
            .writeStream.format("hudi")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start(str(dst.path))
        )
        q.awaitTermination(120)

    engine.insert(
        _mkdf(spark, [(1, "x", 1.0, 1, "d"), (2, "x", 1.0, 1, "d"),
                      (3, "y", 1.0, 1, "d")]), "cmsrc")
    run()
    got = {r["event_type"]: r["n"] for r in engine.read("cmdst").collect()}
    assert got == {"x": 2, "y": 1}
    engine.insert(_mkdf(spark, [(4, "y", 1.0, 1, "d")]), "cmsrc")
    run()
    got = {r["event_type"]: r["n"] for r in engine.read("cmdst").collect()}
    assert got == {"x": 2, "y": 2}  # replaced, not appended


def test_writer_refuses_validator_tables_and_invalidates_indexes(
    engine, spark, tmp_path
):
    """The sessionless format('hudi') writers cannot evaluate SQL
    validators (refused loudly) nor append index entries (indexes are
    invalidated so reads fall back to exact scans)."""
    import pytest as _pytest

    engine.create_table(
        "wv", record_key="id", precombine="ts",
        props={"precommit.validator.sql":
               "SELECT 1 FROM __candidate WHERE price < 0"},
    )
    cfgv = engine._resolve("wv")
    df = _mkdf(spark, [(1, "a", 1.0, 1, "d")])
    with _pytest.raises(Exception, match="validator"):
        df.write.format("hudi").mode("append").save(str(cfgv.path))
    # indexed table: batch format write invalidates, reads stay exact
    engine.create_table("wix", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, [(1, "a", 1.0, 1, "d1")]), "wix")
    engine.create_index("wix", "name")
    cfg = engine._resolve("wix")
    assert engine._secondary_index(cfg, "name").usable()
    _mkdf(spark, [(2, "zz", 2.0, 1, "d2")]).write.format("hudi").mode(
        "append").save(str(cfg.path))
    assert not engine._secondary_index(cfg, "name").usable()
    got = engine.read("wix", point_filter=("name", ["zz"]))  # fallback scan
    assert [r["id"] for r in got.collect()] == [2]
    # next engine write rebuilds from the snapshot
    engine.upsert(_mkdf(spark, [(3, "qq", 3.0, 1, "d3")]), "wix")
    idx = engine._secondary_index(cfg, "name")
    assert idx.usable() and idx.lookup_partitions(["zz"]) == {"dt=d2"}


@pytest.mark.slow
def test_multi_start_drain_contract(engine, spark, tmp_path):
    """Pins the Spark 4 Python-stream-source batching contract (round-3
    VERDICT #10): under `trigger(availableNow=True)` a Python source
    delivers AT MOST ONE micro-batch per `start()` — everything between
    the checkpointed offset and `latestOffset()` at trigger time. A
    backlog that grows while a run is finishing therefore needs another
    `start()`; each restart drains exactly the new tail, never
    re-emitting (batch-id exactly-once in the native sink). This is the
    documented limitation of `sources/datasource.py`'s reader (no
    AvailableNow offset-plan API for Python sources), pinned here so a
    future Spark upgrade that lifts it shows up as a failing count."""
    engine.create_table("msrc", record_key="id", precombine="ts")
    engine.create_table("mdst", record_key="id", precombine="ts",
                        table_type="mor")
    src, dst = engine._resolve("msrc"), engine._resolve("mdst")
    from hudi_demo_spark.engine.timeline import Timeline

    def run_once():
        q = (
            spark.readStream.format("hudi").load(str(src.path))
            .writeStream.format("hudi")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start(str(dst.path))
        )
        q.awaitTermination(120)
        return len([m for m in Timeline(dst.path).instants()
                    if m["action"] == "deltacommit"])

    # backlog of 3 source commits → ONE batch (one sink commit) drains all
    for i in range(3):
        engine.insert(
            _mkdf(spark, [(i, f"r{i}", 1.0, 100, "2022-09-05")]), "msrc"
        )
    assert run_once() == 1
    assert sorted(r["id"] for r in engine.read("mdst").collect()) == [0, 1, 2]
    # new commits after the run: a SECOND start is required and drains
    # exactly the tail (one more sink commit, no re-emission)
    engine.insert(_mkdf(spark, [(7, "r7", 7.0, 100, "2022-09-05")]), "msrc")
    engine.insert(_mkdf(spark, [(8, "r8", 8.0, 100, "2022-09-05")]), "msrc")
    assert run_once() == 2
    assert sorted(r["id"] for r in engine.read("mdst").collect()) == [
        0, 1, 2, 7, 8
    ]
    # idle restart: nothing pending → no new commit (exactly-once holds)
    assert run_once() == 2


def test_register_enables_pushdown_on_bare_session(engine, spark):
    """The driver builds its own SparkSession without the builder's confs;
    `register()` must make format("hudi") reads work anyway by flipping
    spark.sql.python.filterPushdown.enabled at runtime (round-7 driver red:
    DATA_SOURCE_PUSHDOWN_DISABLED on `datasource_snapshot_read`)."""
    engine.create_table("bare_t", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, ROWS), "bare_t")
    cfg = engine._resolve("bare_t")
    key = "spark.sql.python.filterPushdown.enabled"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)  # simulate the driver's bare session
        register(spark)
        assert spark.conf.get(key) == "true"
        got = spark.read.format("hudi").load(str(cfg.path))
        assert got.count() == len(ROWS)
    finally:
        if saved is not None:
            spark.conf.set(key, saved)


def test_register_respects_explicit_pushdown_false(engine, spark):
    """A session where the USER explicitly disabled Python filter pushdown
    (other Python data sources may depend on it) is left alone by
    register(); reads of this format still work via the per-call
    .option("pushdown", "false") escape hatch."""
    engine.create_table("bare_v", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, ROWS), "bare_v")
    cfg = engine._resolve("bare_v")
    key = "spark.sql.python.filterPushdown.enabled"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")  # deliberate user choice
        register(spark)
        assert spark.conf.get(key) == "false"  # not overridden
        got = (spark.read.format("hudi").option("pushdown", "false")
               .load(str(cfg.path)))
        assert got.count() == len(ROWS)
    finally:
        if saved is not None:
            spark.conf.set(key, saved)


def test_pushdown_false_option_survives_disabled_conf(engine, spark):
    """.option("pushdown", "false") selects the no-override reader class,
    so reads still work (filters applied post-scan by Spark) even when the
    session conf cannot be enabled."""
    engine.create_table("bare_u", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, ROWS), "bare_u")
    cfg = engine._resolve("bare_u")
    key = "spark.sql.python.filterPushdown.enabled"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        got = (spark.read.format("hudi").option("pushdown", "false")
               .load(str(cfg.path)).filter(F.col("dt") == "2022-09-25"))
        assert sorted(r["id"] for r in got.collect()) == [3, 4]
    finally:
        if saved is not None:
            spark.conf.set(key, saved)

def test_register_survives_stale_active_session(engine, spark):
    """Python data-source lookup consults the JVM thread's ACTIVE
    session, not the DataFrame's — a streaming query started on a
    session clone (the pinned-session gates do this) leaves that clone
    active after awaitTermination, and format("hudi") on the REGISTERED
    session then failed with DATA_SOURCE_NOT_FOUND (round-10 local red
    on streaming_sink_native). register() now re-activates the session
    it registered on."""
    engine.create_table("stale_t", record_key="id", precombine="ts",
                       partition_by="dt")
    engine.insert(_mkdf(spark, ROWS), "stale_t")
    cfg = engine._resolve("stale_t")
    clone = spark.newSession()  # no "hudi" registration
    spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
        clone._jsparkSession
    )
    register(spark)
    got = spark.read.format("hudi").load(str(cfg.path))
    assert got.count() == len(ROWS)


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_nested_types_match_engine(engine, spark, table_type):
    """array<float>, struct and map columns read back through
    format("hudi") — plain scans and the MOR merge path alike."""
    schema = (
        "id int, ts long, dt string, emb array<float>, "
        "loc struct<city: string, n: int>, tags map<string, bigint>"
    )

    def rows(tag, ts, ids):
        return spark.createDataFrame(
            [
                (i, ts, "2022-09-05", [float(i), 0.5], (f"{tag}{i}", i),
                 {tag: i, "k": ts})
                for i in ids
            ],
            schema,
        )

    engine.create_table("n", record_key="id", precombine="ts",
                        partition_by="dt", table_type=table_type)
    engine.insert(rows("a", 1, range(4)), "n")
    engine.upsert(rows("b", 2, [1, 5]), "n")
    cols = ["id", "ts", "emb", "loc", "tags"]

    def canon(df):
        return sorted(
            (r["id"], r["ts"], tuple(r["emb"]), tuple(r["loc"]),
             tuple(sorted(r["tags"].items())))
            for r in df.select(*cols).collect()
        )

    ds = _assert_same(spark, engine, "n")
    assert canon(ds) == canon(engine.read("n"))
    assert len(canon(ds)) == 5
