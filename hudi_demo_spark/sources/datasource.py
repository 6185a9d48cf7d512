"""`spark.read.format("hudi")` — a PySpark Python Data Source over
engine tables.

Reference parity: the demos read Hudi tables as
``spark.read.format("hudi").load(basePath)`` (S1 —
hudi0.12_spark3.1/.../BootstrapDemo.scala:47,129) and incrementally via
``option(QUERY_TYPE, incremental).option(BEGIN_INSTANTTIME, ...)`` (S3 —
IncrementalQuery.scala:48-53). Registering this source under the name
``hudi`` makes those exact call shapes work against engine tables:

    register(spark)
    spark.read.format("hudi").load(path)                       # snapshot
    spark.read.format("hudi")
         .option("hoodie.datasource.query.type", "incremental")
         .option("hoodie.datasource.read.begin.instanttime", t0)
         .load(path)

Options (reference spellings and short aliases both accepted):
- ``hoodie.datasource.query.type`` / ``query_type``:
  snapshot (default) | read_optimized | incremental
- ``hoodie.datasource.read.begin.instanttime`` / ``begin``
- ``hoodie.datasource.read.end.instanttime`` / ``end``
- ``as.of.instant`` / ``as_of`` (snapshot time travel)

Execution model: planning (timeline replay, file selection, merge
grouping) happens driver-side in ``partitions()`` using the same
metadata the engine uses; each ``InputPartition`` carries absolute file
paths plus a self-contained merge spec, and ``read()`` runs on executors
with ONLY pyarrow/pandas — no engine import in the worker, so nothing
beyond the registered class needs shipping. Plain (no-merge) tasks are
one per FILE for full scan parallelism; merge tasks are one per hive
partition (per key-locality group), mirroring the engine's shuffle
boundary. The native path (`Engine.read`) stays the fast path — JVM
parquet scan + codegen window; this source is the API-compat path, Arrow
-batched end to end.

Limitations (documented, loud): bootstrap tables with external files and
the partial_update payload raise RuntimeError (NotImplementedError is
reserved: Spark's planner reads it as "unpartitioned source") — use
``Engine.read`` for those.
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from hudi_demo_spark.engine import timeline as tlmod
from hudi_demo_spark.engine.config import (
    COMMIT_TIME_META,
    DATA_DIR,
    DELETED_META,
    MOR,
    PARTITION_PATH_META,
    PAYLOAD_DEFAULT,
    PAYLOAD_PARTIAL,
    RECORD_KEY_META,
    TableConfig,
)
from hudi_demo_spark.engine.timeline import Timeline, new_instant

_QT = "hoodie.datasource.query.type"
_BEGIN = "hoodie.datasource.read.begin.instanttime"
_END = "hoodie.datasource.read.end.instanttime"
_ASOF = "as.of.instant"


class LakehouseReadTask(InputPartition):
    """Self-contained executor task: files + optional merge spec."""

    def __init__(self, files, schema_ipc, merge_keys, sort_cols,
                 sort_ascending, begin, end, renames=None):
        self.files = files
        # the target Arrow schema, IPC-serialized (every type the engine
        # writes — nested list/struct/map included — round-trips)
        self.schema_ipc = schema_ipc
        self.merge_keys = merge_keys  # None => plain concat
        self.sort_cols = sort_cols
        self.sort_ascending = sort_ascending
        self.begin = begin
        self.end = end
        # schema evolution: {file path: {current col name: name IN FILE}}
        # for files written under an older schema epoch (renames composed
        # driver-side); absent/empty => names match the current schema
        self.renames = renames or {}


def register(spark) -> None:
    """Register this source so `spark.read.format("hudi")` resolves.

    Also enables ``spark.sql.python.filterPushdown.enabled`` on the given
    session — but only when the caller has not set it: `LakehouseReader.
    pushFilters` is implemented unconditionally, and PySpark raises
    ``DATA_SOURCE_PUSHDOWN_DISABLED`` at read time if a Python data-source
    reader defines ``pushFilters`` while the conf is off. Sessions built
    through `hudi_demo_spark.session` already set it, but a caller-supplied
    bare session (e.g. the correctness driver's) won't have it — the conf
    is runtime-settable, so flip it here where every consumer of the format
    already passes through. A session where the user EXPLICITLY set it
    (either value) is left alone: other Python data sources sharing the
    session may rely on a deliberate ``false``; such sessions can still
    read this format per-call with ``.option("pushdown", "false")``, which
    swaps in a reader class that does not override ``pushFilters``.
    """
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        # RuntimeConfig.get(key, default) returns the caller's default ONLY
        # when the conf has no explicit setting — i.e. None means "unset by
        # user". Pinned assumption (Spark 4.x RuntimeConfig.get(String,
        # String): sqlConf.getConfString(key, default), which consults the
        # raw settings map, NOT the ConfigEntry default): if a future Spark
        # returned the entry default ("false") here instead, bare sessions
        # would silently stop getting pushdown enabled and every read would
        # fail with DATA_SOURCE_PUSHDOWN_DISABLED —
        # tests/test_datasource.py::test_register_enables_pushdown_on_bare_session
        # exists to catch exactly that on a Spark upgrade.
        if spark.conf.get(key, None) is None:
            spark.conf.set(key, "true")
    except Exception:
        # If a future Spark makes this conf static-only, reads can still
        # opt out per-call with .option("pushdown", "false").
        pass
    spark.dataSource.register(LakehouseDataSource)
    # Python data-source registration lives in the SESSION's
    # DataSourceManager, but format resolution (DataSource.
    # lookupDataSource) consults the JVM thread's ACTIVE session — and
    # a streaming query started on a DIFFERENT session earlier on this
    # thread (e.g. a shuffle-pinned session clone) leaves that clone
    # active after awaitTermination, so format("hudi") would fail with
    # DATA_SOURCE_NOT_FOUND despite the registration above. Make the
    # registered session the active one; subsequent actions on other
    # sessions re-activate themselves via withActive as usual.
    for cls in ("classic.SparkSession", "SparkSession"):
        try:
            obj = spark._jvm.org.apache.spark.sql
            for part in cls.split("."):
                obj = getattr(obj, part)
            obj.setActiveSession(spark._jsparkSession)
            break
        except Exception:
            continue  # Connect sessions have no JVM handle; lookup is remote


class LakehouseDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hudi"

    def _cfg(self) -> TableConfig:
        path = self.options.get("path")
        if not path or not TableConfig.exists(path):
            raise ValueError(f"not an engine table: {path!r}")
        return TableConfig.load(path)

    def schema(self):
        import json

        from pyspark.sql import types as T

        cfg = self._cfg()
        if cfg.schema_json is None:
            raise ValueError(f"table {cfg.name} has no writes yet")
        full = T.StructType.fromJson(json.loads(cfg.schema_json))

        def _nullable(dt):
            # schema evolution null-fills columns absent from old files,
            # so every field must be declared nullable — the JVM enforces
            # declared non-nullability on Arrow batches (unlike the
            # lenient native parquet reader)
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(_nullable(dt.elementType), True)
            if isinstance(dt, T.StructType):
                return T.StructType(
                    [
                        T.StructField(f.name, _nullable(f.dataType), True)
                        for f in dt.fields
                    ]
                )
            return dt

        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True)
                for f in full.fields
                if f.name != DELETED_META
            ]
        )

    def reader(self, schema) -> "LakehouseReader":
        # Escape hatch for sessions where
        # spark.sql.python.filterPushdown.enabled cannot be turned on:
        # .option("pushdown", "false") selects a reader class that does not
        # override pushFilters (PySpark detects the override via
        # `pushFilters.__func__ is not DataSourceReader.pushFilters` and
        # errors when the conf is off), trading pruning for compatibility.
        if str(self.options.get("pushdown", "true")).lower() == "false":
            return _LakehouseReaderNoPushdown(self._cfg(), self.options, schema)
        return LakehouseReader(self._cfg(), self.options, schema)

    def writer(self, schema, overwrite: bool) -> "LakehouseWriter":
        """`df.write.format("hudi").save(path)` (S19) — see
        LakehouseWriter for semantics and the upsert caveat."""
        return LakehouseWriter(self.options, schema, overwrite)

    def streamReader(self, schema) -> "LakehouseStreamReader":
        """`spark.readStream.format("hudi")` — the reference's streaming
        read (S21/T4: READ_AS_STREAMING + READ_START_COMMIT,
        hudi0.13_flink1.15/.../HudiDemo.java:38-39). The engine's commit
        timeline IS the offset log: an offset is an instant, a
        micro-batch is the records of the commits in (start, end]."""
        return LakehouseStreamReader(self._cfg(), self.options, schema)

    def streamWriter(self, schema, overwrite: bool) -> "LakehouseStreamWriter":
        """`df.writeStream.format("hudi")` — the Flink streaming sink
        shape (TestStreamingMOR.java:57-59) as a Python data source
        stream writer: one timeline commit per micro-batch, batch-id
        keyed for exactly-once across restarts (same contract as the
        foreachBatch path in streaming/write.py, but format-native)."""
        return LakehouseStreamWriter(self.options, schema, overwrite)


class LakehouseReader(DataSourceReader):
    def __init__(self, cfg: TableConfig, options, schema):
        self.cfg = cfg
        self.options = options
        self.out_schema = schema
        self._part_eq: dict[str, set] = {}
        self._stat_ranges: list[tuple] = []
        self._sec_eq: dict[str, set] = {}

    # ---------------- filter pushdown ----------------

    def pushFilters(self, filters):
        """Metadata-level pruning from Catalyst's pushed predicates:

        - EqualTo/In on PARTITION columns (or the partition-path meta
          column) prune the FILE LIST — fully handled, consumed, rows
          never reach Spark. At 100 TB this is the difference between
          scanning a table and scanning a partition, same as the native
          path's `partition_filter`.
        - comparisons on columns with recorded col_stats
          (`write.stats_cols` / clustering) skip files by [min,max] —
          PARTIALLY handled (kept files still contain non-matching
          rows), so they are returned for Spark to re-evaluate."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        part_cols = set(self.cfg.partition_fields) | {PARTITION_PATH_META}
        is_global = str(self.cfg.props.get("index.global", "")).lower() in (
            "1", "true", "yes",
        )
        from hudi_demo_spark.engine import secondary_index as si

        sec_cols = set(si.indexed_columns(self.cfg))
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col in part_cols and isinstance(f, (EqualTo, In)):
                vals = (
                    set(f.value) if isinstance(f, In) else {f.value}
                )
                if None not in vals:
                    self._part_eq.setdefault(col, set()).update(vals)
                    if not is_global:
                        continue  # fully handled: consume
                    # global index: a merged read must see ALL
                    # partitions (a moved key's stale copy would win a
                    # pruned merge) — keep the filter Spark-side and let
                    # _plan apply pruning only for merge-free reads
                    yield f
                    continue
            if (
                col is not None
                and isinstance(f, (EqualTo, In))
                and col in sec_cols
            ):
                vals = set(f.value) if isinstance(f, In) else {f.value}
                if None not in vals:
                    # secondary index (CREATE INDEX): prune the file
                    # list to the partitions holding these values —
                    # PARTIAL (kept partitions contain other rows), so
                    # the filter is still yielded for Spark to apply
                    self._sec_eq.setdefault(col, set()).update(vals)
            if col is not None and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                    LessThan, LessThanOrEqual)
            ) and f.value is not None:
                v = f.value
                if isinstance(f, EqualTo):
                    self._stat_ranges.append((col, v, v))
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._stat_ranges.append((col, v, None))
                else:
                    self._stat_ranges.append((col, None, v))
                # partial: file skipping only — Spark must still filter
            yield f

    def _partition_segment(self, partition: str, col: str) -> str | None:
        """Value of `col` inside a partition-path string, for either
        hive-style (`c=v/...`) or bare positional layout."""
        if not partition:
            return None
        segs = partition.split("/")
        if self.cfg.hive_style:
            for s in segs:
                if s.startswith(col + "="):
                    return s[len(col) + 1 :]
            return None
        try:
            i = self.cfg.partition_fields.index(col)
        except ValueError:
            return None
        return segs[i] if i < len(segs) else None

    def _apply_pushed(self, files: dict, partition_prune: bool) -> dict:
        out = files
        if not partition_prune:
            # merged global-index read: partition filters stay row-level
            # (Spark re-evaluates the yielded-back predicates)
            return self._apply_stat_pruning(out)
        for col, vals in self._part_eq.items():
            svals = {str(v) for v in vals}
            if col == PARTITION_PATH_META:
                out = {
                    p: m for p, m in out.items()
                    if m.get("partition", "") in svals
                }
                continue
            out = {
                p: m
                for p, m in out.items()
                if self._partition_segment(m.get("partition", ""), col)
                in svals
            }
        out = self._apply_secondary_index(out)
        return self._apply_stat_pruning(out)

    def _apply_secondary_index(self, files: dict) -> dict:
        """Secondary-index pruning for pushed equality predicates:
        scan only the partitions the value→partition index maps the
        probed values to. Gated to partition-prunable plans (same gate
        as `_part_eq`): under a global-index merged read, a moved key's
        superseding delta may live in another partition, so partition-
        level pruning there could resurrect a stale copy. For non-global
        tables completeness holds for latest-version rows — any live row
        whose current value matches was indexed by the write that
        produced it. The probe is pure pyarrow — this method runs in
        the data source's planning worker, which has no SparkSession.
        Skipped silently when the index is unusable (pruning is an
        optimization, never a filter)."""
        if not self._sec_eq:
            return files
        from hudi_demo_spark.engine import secondary_index as si

        out = files
        for col, vals in self._sec_eq.items():
            idx = si.SecondaryIndex(None, self.cfg, col)
            if not idx.usable():
                continue
            hit = idx.lookup_partitions(sorted(vals, key=str))
            out = {
                p: m for p, m in out.items()
                if m.get("partition", "") in hit
            }
        return out

    def _apply_stat_pruning(self, files: dict) -> dict:
        """[min,max] file skipping from commit-metadata col_stats. Safe
        under MOR merge: only base files carry stats, and any newer
        version of a base row lives in a delta file (stats-free, never
        skipped), so a skipped base file cannot hide a merge winner."""
        out = files
        for col, lo, hi in self._stat_ranges:
            kept = {}
            for p, m in out.items():
                rng = (m.get("col_stats") or {}).get(col)
                if rng is not None:
                    try:
                        if (hi is not None and rng[0] > hi) or (
                            lo is not None and rng[1] < lo
                        ):
                            continue
                    except TypeError:
                        pass
                kept[p] = m
            out = kept
        return out

    # ---------------- driver-side planning ----------------

    def _opt(self, *names, default=None):
        for n in names:
            v = self.options.get(n)
            if v is not None:
                return v
        return default

    def partitions(self):
        # NOTE: Spark's planner treats NotImplementedError from
        # partitions() as "source is unpartitioned" and silently plans
        # [None] — any unsupported-feature error here must NOT subclass
        # it, or the user gets a crash in read() instead of the message.
        try:
            return self._plan()
        except NotImplementedError as e:  # pragma: no cover
            raise RuntimeError(str(e)) from e

    def _plan(self):
        cfg = self.cfg
        tl = Timeline(cfg.path)
        qt = self._opt(_QT, "query_type", default="snapshot").lower()
        begin = self._opt(_BEGIN, "begin")
        end = self._opt(_END, "end")
        as_of = self._opt(_ASOF, "as_of")
        row_begin = row_end = None

        if qt == "incremental":
            sel = [
                m
                for m in tl.instants(include_archived=True)
                if m["action"]
                in (tlmod.COMMIT, tlmod.DELTACOMMIT, tlmod.REPLACECOMMIT)
                and (begin is None or m["instant"] > begin)
                and (end is None or m["instant"] <= end)
            ]
            files = {}
            for m in sel:
                for f in m["files_added"]:
                    files[f["path"]] = {**f, "commit": m["instant"]}
            data = Path(cfg.path) / DATA_DIR
            files = {
                p: m
                for p, m in files.items()
                if (data / p).is_file() or m.get("kind") == "external"
            }
            row_begin, row_end = begin, end
            need_merge = not all(
                m["operation"] in ("insert", "bootstrap")
                and m["action"] != tlmod.REPLACECOMMIT
                for m in sel
            )
        elif qt in ("snapshot", "read_optimized"):
            files = tl.live_files(as_of)
            if qt == "read_optimized":
                files = {
                    p: m for p, m in files.items() if m.get("kind") != "delta"
                }
            need_merge = cfg.table_type == MOR and qt == "snapshot" and any(
                m.get("kind") == "delta" for m in files.values()
            )
        else:
            raise ValueError(f"unknown query type: {qt}")

        if any(m.get("kind") == "external" for m in files.values()):
            raise RuntimeError(
                "bootstrap tables with external files: use Engine.read"
            )
        if need_merge and cfg.payload == PAYLOAD_PARTIAL:
            raise RuntimeError(
                "partial_update payload merge: use Engine.read"
            )

        global_table = str(cfg.props.get("index.global", "")).lower() in (
            "1", "true", "yes",
        )
        files = self._apply_pushed(
            files, partition_prune=not (global_table and need_merge)
        )

        # merge ordering = Engine._order_cols, expressed for pandas
        if cfg.precombine_field and cfg.precombine_field != COMMIT_TIME_META:
            if cfg.payload == PAYLOAD_DEFAULT:
                sort_cols = [cfg.precombine_field, COMMIT_TIME_META]
            else:
                sort_cols = [COMMIT_TIME_META, cfg.precombine_field]
        else:
            sort_cols = [COMMIT_TIME_META]
        is_global = global_table
        merge_keys = (
            [RECORD_KEY_META]
            if is_global
            else [PARTITION_PATH_META, RECORD_KEY_META]
        )
        schema_ipc = self._arrow_schema_ipc()
        data = Path(cfg.path) / DATA_DIR
        renames = self._epoch_renames(files)

        def _ren(paths):
            sub = {p: renames[p] for p in paths if p in renames}
            return sub or None

        tasks = []
        if not need_merge:
            # max scan parallelism: one task per file
            for p in sorted(files):
                fp = str(data / p)
                tasks.append(
                    LakehouseReadTask(
                        [fp], schema_ipc, None, sort_cols,
                        False, row_begin, row_end, renames=_ren([fp]),
                    )
                )
        elif is_global:
            # global keys may collide across hive partitions: one merge
            # group (the engine's key-only shuffle analog)
            fps = [str(data / p) for p in sorted(files)]
            tasks.append(
                LakehouseReadTask(
                    fps, schema_ipc,
                    merge_keys, sort_cols, False, row_begin, row_end,
                    renames=_ren(fps),
                )
            )
        else:
            by_part: dict[str, list] = {}
            for p, m in files.items():
                by_part.setdefault(m.get("partition", ""), []).append(p)
            for pp in sorted(by_part):
                fps = [str(data / p) for p in sorted(by_part[pp])]
                tasks.append(
                    LakehouseReadTask(
                        fps,
                        schema_ipc, merge_keys, sort_cols, False,
                        row_begin, row_end, renames=_ren(fps),
                    )
                )
        return tasks

    def _epoch_renames(self, files) -> dict:
        """{absolute file path: {current name: name in file}} for files
        written under an older schema epoch — the datasource analog of
        Engine._read_epoch's projection (renames composed forward along
        the catalog's schema history; widened types are handled by the
        existing per-column cast, added columns by the null fill)."""
        import json as _json

        hist = getattr(self.cfg, "schema_history", None) or []
        if not hist:
            return {}
        data = Path(self.cfg.path) / DATA_DIR
        out: dict = {}
        for p, m in files.items():
            c = m.get("commit") or "~"
            idx = len(hist)
            for i, h in enumerate(hist):
                if c < h["until"]:
                    idx = i
                    break
            if idx >= len(hist):
                continue
            epoch_fields = _json.loads(hist[idx]["schema"])["fields"]
            fwd = {f["name"]: f["name"] for f in epoch_fields}
            for h in hist[idx:]:
                ren = h.get("rename_to_next") or {}
                fwd = {old: ren.get(cur, cur) for old, cur in fwd.items()}
            rev = {cur: old for old, cur in fwd.items() if cur != old}
            if rev:
                out[str(data / p)] = rev
        return out

    def _arrow_schema_ipc(self) -> bytes:
        """The FULL stored schema (incl the MOR delete marker — read()
        filters and drops it) as an IPC-serialized Arrow schema."""
        import json as _json

        import pyarrow as pa
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_type

        full = T.StructType.fromJson(_json.loads(self.cfg.schema_json))
        return pa.schema(
            [(f.name, to_arrow_type(f.dataType)) for f in full.fields]
        ).serialize().to_pybytes()

    # ---------------- executor-side read ----------------

    def read(self, part: LakehouseReadTask) -> Iterator:
        if part is None:
            # Spark substitutes [None] for an empty partitions() list
            # (e.g. read_optimized on a delta-only table): zero rows
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        target = pa.ipc.read_schema(pa.py_buffer(part.schema_ipc))
        renames = getattr(part, "renames", None) or {}
        tabs = []
        for f in part.files:
            t = pq.read_table(f)
            rev = renames.get(f, {})
            cols = []
            for fld in target:
                src = rev.get(fld.name, fld.name)
                if src in t.column_names:
                    cols.append(t.column(src).cast(fld.type))
                else:
                    cols.append(pa.nulls(len(t), fld.type))
            tabs.append(pa.Table.from_arrays(cols, schema=target))
        tab = pa.concat_tables(tabs) if tabs else target.empty_table()
        if part.begin is not None:
            tab = tab.filter(pc.greater(tab[COMMIT_TIME_META], part.begin))
        if part.end is not None:
            tab = tab.filter(
                pc.less_equal(tab[COMMIT_TIME_META], part.end)
            )
        if part.merge_keys and len(tab):
            df = tab.to_pandas()
            df = df.sort_values(
                part.sort_cols, ascending=False, na_position="last",
                kind="stable",
            ).drop_duplicates(subset=part.merge_keys, keep="first")
            tab = pa.Table.from_pandas(
                df, schema=target, preserve_index=False
            )
        if DELETED_META in tab.column_names:
            mask = tab[DELETED_META]
            keep = pc.or_kleene(
                pc.invert(pc.cast(mask, pa.bool_())), pc.is_null(mask)
            )
            tab = tab.filter(pc.fill_null(keep, True))
            tab = tab.drop_columns([DELETED_META])
        yield from tab.to_batches(max_chunksize=65536)


class _LakehouseReaderNoPushdown(LakehouseReader):
    """LakehouseReader minus filter pushdown, for sessions where
    spark.sql.python.filterPushdown.enabled is off. Re-binding the base
    `DataSourceReader.pushFilters` makes PySpark's override probe
    (`pushFilters.__func__ is not DataSourceReader.pushFilters`,
    pyspark/sql/worker/plan_data_source_read.py) see no override, so the
    read proceeds with every filter evaluated post-scan by Spark."""

    pushFilters = DataSourceReader.pushFilters


class LakehouseStreamReader(DataSourceStreamReader):
    """Streaming source over the commit timeline.

    Offsets are `{"instant": <yyyyMMddHHmmssSSSSSS>}` — exactly the
    engine's instant strings, so the checkpointed offset log and the
    table timeline speak the same coordinates (Hudi's streaming read is
    the same design: READ_START_COMMIT → incremental pulls). Each
    micro-batch emits the RECORDS ADDED by the commits in
    `(start, end]` — a change feed, not a merged snapshot (matching
    Hudi's streaming read; deleted-marker rows are filtered). Planning
    is metadata-only; executor tasks are the same per-file
    LakehouseReadTask the batch reader uses. Exactly-once follows from
    offset checkpointing: a replayed batch re-reads the same immutable
    commit range. The write side intentionally stays `foreachBatch` +
    `Engine.insert/upsert(batch_id=...)` (streaming/write.py) — a
    DataSourceStreamWriter would re-buffer rows through Python for no
    atomicity gain over the engine's idempotent batch-id commits."""

    def __init__(self, cfg: TableConfig, options, schema):
        self.cfg = cfg
        self.options = options
        self.out_schema = schema
        self._reader = LakehouseReader(cfg, options, schema)

    def _opt(self, *names, default=None):
        for n in names:
            v = self.options.get(n)
            if v is not None:
                return v
        return default

    _COMMITISH = (tlmod.COMMIT, tlmod.DELTACOMMIT, tlmod.REPLACECOMMIT)

    def _start_option(self) -> str:
        start = self._opt(
            "hoodie.datasource.read.begin.instanttime",
            "read.start.commit", "begin", default="",
        )
        if str(start).lower() == "earliest":
            start = ""
        return str(start)

    def initialOffset(self) -> dict:
        return {"instant": self._start_option()}

    _frontier: str | None = None

    def latestOffset(self) -> dict:
        """Timeline tip — capped to `read.streaming.max.commits.per.
        trigger` pending commits when configured (the maxFilesPerTrigger
        analog at commit granularity): a backlog burst becomes several
        bounded micro-batches instead of one giant one.

        The cap base (`_frontier`) is the end of the last planned batch,
        learned in `partitions()`; before any batch it falls back to the
        configured start offset (the planner asks for latestOffset
        before initialOffset). After a checkpoint restart that fallback
        may LAG the committed offset — the first batch then plans empty
        and `partitions()` re-bases the frontier; capping only lowers
        the batch END offset, so data is never skipped."""
        tl = Timeline(self.cfg.path)
        cap = self._opt(
            "read.streaming.max.commits.per.trigger", "maxCommitsPerTrigger"
        )
        if cap:
            if self._frontier is None:
                self._frontier = self._start_option()
            n = int(cap)
            pend = [
                m["instant"]
                for m in tl.instants(include_archived=True)
                if m["action"] in self._COMMITISH
                and m["instant"] > self._frontier
            ]
            if len(pend) > n:
                return {"instant": pend[n - 1]}
        return {"instant": tl.last_instant() or ""}

    def partitions(self, start: dict, end: dict):
        cfg = self.cfg
        lo, hi = start.get("instant", ""), end.get("instant", "")
        if hi and (self._frontier is None or hi > self._frontier):
            self._frontier = hi
        tl = Timeline(cfg.path)
        files = {}
        for m in tl.instants(include_archived=True):
            if m["action"] not in (
                tlmod.COMMIT, tlmod.DELTACOMMIT, tlmod.REPLACECOMMIT
            ):
                continue
            if m["instant"] <= lo or (hi and m["instant"] > hi):
                continue
            for f in m["files_added"]:
                files[f["path"]] = {**f, "commit": m["instant"]}
        data = Path(cfg.path) / DATA_DIR
        files = {p: m for p, m in files.items() if (data / p).is_file()}
        schema_ipc = self._reader._arrow_schema_ipc()
        renames = self._reader._epoch_renames(files)
        tasks = [
            LakehouseReadTask(
                [str(data / p)], schema_ipc, None,
                [COMMIT_TIME_META], False, lo or None, hi or None,
                renames={
                    str(data / p): renames[str(data / p)]
                } if str(data / p) in renames else None,
            )
            for p in sorted(files)
        ]
        if not tasks:
            # empty batch: one zero-file task (planner requires >=1)
            tasks = [
                LakehouseReadTask(
                    [], schema_ipc, None, [COMMIT_TIME_META], False,
                    None, None,
                )
            ]
        return tasks

    def read(self, partition):
        return self._reader.read(partition)

    def commit(self, end: dict) -> None:
        pass


def _invalidate_indexes(cfg: TableConfig) -> None:
    """format('hudi') writers commit in a SESSIONLESS worker — they
    cannot run the Spark jobs that append record/secondary-index
    entries. Dropping the completeness markers (pure filesystem, layout
    owned by the index modules) keeps the no-false-negatives invariant
    by ABSENCE: reads fall back to full scans and the next Engine write
    rebuilds from the snapshot. Call BEFORE the timeline commit: rmtree
    is not atomic, and invalidating after publish would leave a window
    where a concurrent reader trusts a stale index against already-live
    files (invalidating then failing to commit is merely a wasted
    rebuild)."""
    import shutil

    from hudi_demo_spark.engine import record_index as ri
    from hudi_demo_spark.engine import secondary_index as si

    for col in si.indexed_columns(cfg):
        shutil.rmtree(si.index_path(cfg, col), ignore_errors=True)
    if ri.enabled(cfg):
        shutil.rmtree(ri.index_path(cfg), ignore_errors=True)


class LakehouseCommitMessage(WriterCommitMessage):
    def __init__(self, files, instant: str | None = None):
        self.files = files  # [{"path", "partition", "bytes", "kind", ...}]
        # the instant the task stamped into its rows — the stream
        # writer publishes under it so the row-level commit-time column
        # and the timeline instant agree (incremental-read exactness)
        self.instant = instant


class LakehouseWriter(DataSourceWriter):
    """`df.write.format("hudi").save(path)` — the reference's S19 write
    shape (BootstrapDemo.scala:264-273), as a Python data source writer.

    Semantics: INSERT (Hudi's bulk-insert/INSERT operation — append, no
    key dedup) and OVERWRITE (`mode("overwrite")` → replacecommit), with
    implicit table creation from the reference's option spellings
    (recordkey.field / precombine.field / partitionpath.field /
    table.type). UPSERT is deliberately NOT implemented here: writer
    tasks cannot run Spark jobs, and a correct upsert needs the engine's
    pruned merge — requesting `hoodie.datasource.write.operation=upsert`
    raises with a pointer to `Engine.upsert`. (Real Hudi defaults this
    option to upsert; this writer defaults to insert and REFUSES rather
    than silently reinterpreting.)

    Mechanics: the writer (created once, driver-side worker) allocates
    ONE instant for the job; every task stamps it, writes its rows as
    per-partition parquet with task-unique names, records per-file key
    ranges, and ships the file list in its commit message; commit()
    publishes one atomic timeline entry. A crashed job leaves only
    unpublished files the timeline never references (the engine's
    crash-consistency model), and abort() unlinks them eagerly.
    Key/partition stamping runs in pandas with the engine's exact
    formats (W11/W12: `f:v` complex keys, `__null__`/`__empty__`
    placeholders, hive-style paths, `default` for null)."""

    def __init__(self, options, schema, overwrite: bool):
        import json

        from pyspark.sql import types as T

        path = options.get("path")
        if not path:
            raise ValueError("format('hudi') writer requires a path")
        op = options.get(
            "hoodie.datasource.write.operation", "insert"
        ).lower()
        if op not in ("insert", "bulk_insert"):
            raise RuntimeError(
                f"write operation {op!r} is not supported by the "
                "format('hudi') writer — use Engine.upsert/delete/merge "
                "for keyed mutations"
            )
        if TableConfig.exists(path):
            cfg = TableConfig.load(path)
            if cfg.props.get("precommit.validator.sql"):
                # validators evaluate SQL over the candidate snapshot —
                # impossible in the sessionless commit worker. Refuse
                # loudly rather than silently publishing unvalidated rows.
                raise RuntimeError(
                    "table declares precommit.validator.sql, which the "
                    "format('hudi') writer cannot evaluate (commit runs "
                    "in a sessionless worker) — write through "
                    "Engine.insert / the foreachBatch streaming sink"
                )
        else:
            keys = options.get("hoodie.datasource.write.recordkey.field")
            parts = options.get(
                "hoodie.datasource.write.partitionpath.field"
            )
            ttype = options.get(
                "hoodie.datasource.write.table.type", "COPY_ON_WRITE"
            ).upper()
            pc = options.get("hoodie.datasource.write.precombine.field")
            cfg = TableConfig(
                name=Path(path).name,
                path=str(path),
                record_key_fields=(
                    [k.strip() for k in keys.split(",")] if keys else None
                ),
                precombine_field=pc,
                # ordering field => ordering-aware payload, matching
                # Engine.create_table (JavaClientHive2Hudi.java:145-148)
                payload=(
                    PAYLOAD_DEFAULT
                    if pc and pc != COMMIT_TIME_META
                    else TableConfig.__dataclass_fields__["payload"].default
                ),
                partition_fields=(
                    [p.strip() for p in parts.split(",")] if parts else []
                ),
                table_type=(
                    MOR if ttype.startswith("MERGE") else "cow"
                ),
                hive_style=str(
                    options.get(
                        "hoodie.datasource.write.hive_style_partitioning",
                        "true",
                    )
                ).lower()
                != "false",
            )
            cfg.save()
        self.cfg_path = str(cfg.path)
        self.overwrite = overwrite
        self.instant = new_instant()
        # full stored schema: meta cols + incoming data cols (+ marker)
        fields = [
            T.StructField(COMMIT_TIME_META, T.StringType()),
            T.StructField(RECORD_KEY_META, T.StringType()),
            T.StructField(PARTITION_PATH_META, T.StringType()),
        ]
        meta_names = {COMMIT_TIME_META, RECORD_KEY_META, PARTITION_PATH_META,
                      DELETED_META}
        fields += [f for f in schema.fields if f.name not in meta_names]
        if cfg.table_type == MOR:
            fields.append(T.StructField(DELETED_META, T.BooleanType()))
        self.full_schema_json = json.dumps(
            T.StructType(fields).jsonValue()
        )
        self.record_key_fields = cfg.record_key_fields
        self.partition_fields = cfg.partition_fields
        self.hive_style = cfg.hive_style
        self.table_type = cfg.table_type

    # ---------------- executor side ----------------

    def write(self, iterator) -> LakehouseCommitMessage:
        import json
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_type

        rows = list(iterator)
        if not rows:
            return LakehouseCommitMessage([], self.instant)
        full = T.StructType.fromJson(json.loads(self.full_schema_json))
        data_cols = [
            f.name for f in full.fields
            if f.name not in (COMMIT_TIME_META, RECORD_KEY_META,
                              PARTITION_PATH_META, DELETED_META)
        ]
        df = pd.DataFrame(
            {c: [r[c] if c in r.__fields__ else None for r in rows]
             for c in data_cols}
        )

        def _s(col):
            return df[col].map(
                lambda v: None if v is None else str(v)
            )

        kf = self.record_key_fields
        if not kf:
            df[RECORD_KEY_META] = [uuid.uuid4().hex for _ in range(len(df))]
        elif len(kf) == 1:
            vals = _s(kf[0])
            if vals.isna().any():
                raise ValueError(f"record key field '{kf[0]}' is null")
            df[RECORD_KEY_META] = vals
        else:
            parts = []
            for f in kf:
                v = _s(f).map(
                    lambda x: "__null__" if x is None
                    else ("__empty__" if x == "" else x)
                )
                parts.append(f + ":" + v)
            key = parts[0]
            for p in parts[1:]:
                key = key + "," + p
            df[RECORD_KEY_META] = key
        if self.partition_fields:
            segs = []
            for f in self.partition_fields:
                v = _s(f).map(
                    lambda x: "default" if x is None or x == "" else x
                )
                segs.append((f + "=" + v) if self.hive_style else v)
            pp = segs[0]
            for s in segs[1:]:
                pp = pp + "/" + s
            df[PARTITION_PATH_META] = pp
        else:
            df[PARTITION_PATH_META] = ""
        df[COMMIT_TIME_META] = self.instant
        if self.table_type == MOR and DELETED_META not in df.columns:
            df[DELETED_META] = False

        target = pa.schema(
            [(f.name, to_arrow_type(f.dataType)) for f in full.fields]
        )
        data = Path(self.cfg_path) / DATA_DIR
        prefix = "b" if self.table_type != MOR else "d"
        out = []
        for pp, grp in df.groupby(PARTITION_PATH_META, sort=True):
            tdir = data / pp if pp else data
            tdir.mkdir(parents=True, exist_ok=True)
            fname = f"{prefix}_{self.instant}_w{uuid.uuid4().hex[:8]}.parquet"
            tab = pa.Table.from_pandas(
                grp[[f.name for f in full.fields]], schema=target,
                preserve_index=False,
            )
            pq.write_table(tab, str(tdir / fname))
            keys = grp[RECORD_KEY_META]
            out.append(
                {
                    "path": f"{pp}/{fname}" if pp else fname,
                    "kind": "base" if self.table_type != MOR else "delta",
                    "partition": pp,
                    "bytes": (tdir / fname).stat().st_size,
                    "rows": len(grp),
                    "key_min": keys.min(),
                    "key_max": keys.max(),
                }
            )
        return LakehouseCommitMessage(out, self.instant)

    # ---------------- driver side ----------------

    def commit(self, messages, *args) -> None:
        cfg = TableConfig.load(self.cfg_path)
        added = [f for m in messages if m is not None for f in m.files]
        tl = Timeline(cfg.path)
        action = tlmod.COMMIT if cfg.table_type != MOR else tlmod.DELTACOMMIT
        operation = "insert"
        removed: list | str = []
        if self.overwrite:
            action = tlmod.REPLACECOMMIT
            operation = "insert_overwrite_table"
            removed = "*"
        _invalidate_indexes(cfg)
        tl.commit(self.instant, action, operation, added, removed)
        if cfg.schema_json != self.full_schema_json:
            if cfg.schema_json is None or self.overwrite:
                cfg.schema_json = self.full_schema_json
                cfg.save()

    def abort(self, messages, *args) -> None:
        data = Path(self.cfg_path) / DATA_DIR
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    (data / f["path"]).unlink()
                except FileNotFoundError:
                    pass


class LakehouseStreamWriter(LakehouseWriter, DataSourceStreamWriter):
    """`df.writeStream.format("hudi").start(path)` — the streaming sink
    (T1/T3 shape, TestStreamingMOR.java:57-59) as a Python data source
    stream writer, sharing LakehouseWriter's executor-side write path.

    Per micro-batch: Spark constructs a fresh writer (the runner calls
    `streamWriter()` per batch), so `__init__`'s instant is the batch's
    instant; every task stamps it into its rows and ships it in the
    commit message, and `commit(messages, batchId)` publishes ONE
    timeline deltacommit/commit under that same instant — row-level
    `_hoodie_commit_time` and the timeline agree, keeping incremental
    reads exact.

    Exactly-once across restarts: the timeline records `batch_id`; a
    replayed batch (post-crash re-run of an already-committed epoch)
    is detected in `commit()`, its freshly staged files are unlinked,
    and nothing is published — the same contract as the foreachBatch
    sink (streaming/write.py), held format-natively. Writer tasks never
    see the timeline; only the driver-side commit touches it.

    The `overwrite` flag (complete output mode) publishes each batch as
    a replacecommit (removed="*"): the table always equals the latest
    emission, never an append pile-up. Declared record/secondary
    indexes are INVALIDATED on every commit (the sessionless worker
    cannot append entries — see `_invalidate_indexes`), and tables with
    `precommit.validator.sql` are refused at writer construction."""

    def commit(self, messages, batchId: int | None = None, *args) -> None:
        cfg = TableConfig.load(self.cfg_path)
        tl = Timeline(cfg.path)
        instants = {m.instant for m in messages
                    if m is not None and getattr(m, "instant", None)}
        instant = instants.pop() if len(instants) == 1 else self.instant
        if instants:
            # tasks disagree on the stamped instant — publishing any
            # single one would orphan the others' rows outside the
            # commit bound. Fail loudly; abort() reclaims the files.
            raise RuntimeError(
                f"stream writer tasks stamped different instants: "
                f"{sorted(instants) + [instant]}"
            )
        added = [f for m in messages if m is not None for f in m.files]
        if batchId is not None and batchId in tl.committed_batch_ids():
            # restart replay of a committed epoch: drop the duplicate
            # staged files, publish nothing (exactly-once)
            data = Path(cfg.path) / DATA_DIR
            for f in added:
                (data / f["path"]).unlink(missing_ok=True)
            return
        if self.overwrite:
            # complete-output-mode sinks re-emit the FULL result every
            # micro-batch: each commit replaces the table contents
            # (replacecommit, removed="*"), never appends duplicates
            action, operation, removed = (
                tlmod.REPLACECOMMIT, "insert_overwrite_table", "*",
            )
        else:
            action = (
                tlmod.DELTACOMMIT if cfg.table_type == MOR else tlmod.COMMIT
            )
            operation, removed = "insert", []
        _invalidate_indexes(cfg)
        tl.commit(
            instant, action, operation, added, removed,
            batch_id=batchId,
        )
        if cfg.schema_json is None:
            cfg.schema_json = self.full_schema_json
            cfg.save()

    def abort(self, messages, batchId: int | None = None, *args) -> None:
        LakehouseWriter.abort(self, messages)
