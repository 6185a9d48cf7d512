"""Per-layer metrics of the traced run, and which end-to-end metric
each one should move on which workload.

Layers are this repository's modules; `engine/engine.py` is split into
its write, read and table-service halves by method. Unless a row says
otherwise, `calls`, `self_s` and `bytes_written` are per measured step
(one write op plus one read op), so runs of different lengths compare;
`engine.services.*` is per service run, except `runs`, which is per
step. Table-state metrics (`active_instants`, `files_live`,
`small_file_share`) are read at the end of the first measured cycle, a
fixed plan position, so a faster run does not read a later state.
The metric names, units and directions are BENCHMARK.json's
`per_layer` entries.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

WRITE_METHODS = ["insert", "upsert", "delete_keys", "merge"]
READ_METHODS = ["read", "read_incremental", "changed_keys", "read_cdc"]
SERVICE_METHODS = ["clean", "archive", "compact", "cluster"]

# layer -> (metrics, e2e metrics it should move, workload where it should)
LAYER_MAP = {
    "engine.write": (
        ["calls", "self_s", "rows_rewritten_per_changed_row",
         "files_rewritten_per_commit", "bytes_written",
         "spark_jobs_per_call", "spark_tasks_per_call"],
        ["commit_p50_s", "write_amp", "ingest_rows_per_s"],
        "cow_cdc_upsert (index folds on corpus_admit_search, where the "
        "insert also runs minhash_admit's lazy anti-join)",
    ),
    "engine.timeline": (
        ["calls", "self_s", "active_instants"],
        ["commit_tail_s", "freshness_p50_s"],
        "cow_cdc_upsert",
    ),
    "engine.read": (
        ["calls", "self_s", "files_scanned_per_query", "file_prune_ratio",
         "spark_tasks_per_call"],
        ["read_p50_s", "read_tail_s", "freshness_p50_s"],
        "corpus_admit_search (index probes, hydration); cow_cdc_upsert (CDC pull)",
    ),
    "engine.services": (
        ["runs", "self_s", "bytes_rewritten", "files_removed"],
        ["service_s", "read_tail_s", "space_amp"],
        "corpus_admit_search (compaction); cow_cdc_upsert (clean, archive)",
    ),
    "sources.datasource": (
        ["calls", "self_s"], ["read_p50_s", "freshness_p50_s"],
        "cow_cdc_upsert (dashboard read)",
    ),
    "engine.minhash_index": (
        ["admit_self_s", "reject_ratio", "refresh_self_s"],
        ["ingest_rows_per_s", "commit_p50_s"],
        "corpus_admit_search (admit_self_s is the eager probe set-up; the "
        "admission anti-join is lazy and runs in the insert, engine.write)",
    ),
    "engine.text_index": (
        ["refresh_self_s", "topk_self_s", "recall_at_k"],
        ["commit_p50_s", "read_p50_s"],
        "corpus_admit_search",
    ),
    "engine.vector_index": (
        ["refresh_self_s", "topk_self_s", "recall_at_k"],
        ["commit_p50_s", "read_p50_s"],
        "corpus_admit_search",
    ),
    "session": (["start_s"], ["setup_s"], "all"),
    "table": (["files_live", "small_file_share"], ["read_p50_s"], "all"),
    "spark": (["failed_tasks"], ["error_rate"], "all"),
    "trace": (["overhead_s"], ["(tracing cost per step)"], "all"),
}

# ------------------------------------------------------------ hooks
def _table_path(engine, args) -> str | None:
    from hudi_demo_spark.engine.config import TableConfig

    for a in args[1:3]:
        if isinstance(a, (str, TableConfig)):
            return engine._resolve(a).path
    return None


def _write_post(span, args, out) -> None:
    if not isinstance(out, dict) or "files_added" not in out:
        return
    import pyarrow.parquet as pq

    root = _table_path(args[0], args)
    added = out["files_added"]
    removed = out["files_removed"]
    span.attrs.update(
        files_added=len(added),
        files_removed=len(removed) if isinstance(removed, list) else 0,
        bytes=sum(int(f.get("bytes") or 0) for f in added),
        rows=sum(
            pq.ParquetFile(str(Path(root) / "data" / f["path"])).metadata.num_rows
            for f in added
        ) if root else 0,
    )


def _read_post(span, args, out) -> None:
    from pyspark.sql import DataFrame

    from hudi_demo_spark.engine.timeline import Timeline

    root = _table_path(args[0], args)
    if isinstance(out, DataFrame) and root:
        span.attrs.update(
            files_scanned=len(out.inputFiles()),
            files_live=len(Timeline(root).live_files()),
        )


def _service_post(span, args, out) -> None:
    if isinstance(out, dict):
        added = out.get("files_added") or []
        removed = out.get("files_removed")
        span.attrs.update(
            bytes_rewritten=sum(int(f.get("bytes") or 0) for f in added),
            files_removed=(len(removed) if isinstance(removed, list) else 0)
            + int((out.get("stats") or {}).get("files_cleaned", 0)),
        )


def instrument_all(tracer) -> None:
    from hudi_demo_spark.engine import Engine
    from hudi_demo_spark.engine import minhash_index as MH
    from hudi_demo_spark.engine import text_index as TI
    from hudi_demo_spark.engine import vector_index as VI
    from hudi_demo_spark.engine.timeline import Timeline

    from perfbench.trace import instrument

    instrument(
        tracer,
        [
            (Engine, WRITE_METHODS, "engine.write", True, _write_post),
            (Engine, READ_METHODS, "engine.read", True, _read_post),
            (Engine, SERVICE_METHODS, "engine.services", True, _service_post),
            # metadata-only: no Spark jobs, so no job-group switch
            (Timeline, None, "engine.timeline", False, None),
            (MH, ["minhash_admit", "refresh_minhash_index"],
             "engine.minhash_index", True, None),
            (TI, ["refresh_text_index", "text_index_topk"],
             "engine.text_index", True, None),
            (VI, ["refresh_vector_index", "vector_index_topk"],
             "engine.vector_index", True, None),
        ],
    )


# ----------------------------------------------------------- rollup
def per_layer_metrics(wl, tracer, start_s: float) -> dict[str, float]:
    steps = max(1, wl.s.steps)
    roll = tracer.rollup()
    spans = tracer.spans

    def lay(name):
        return roll.get(name, {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})

    def self_of(layer, names):
        return sum(s.self_s for s in spans if s.layer == layer and s.name in names)

    out: dict[str, float] = {}
    w = lay("engine.write")
    writes = [s for s in spans if s.layer == "engine.write" and "bytes" in s.attrs]
    top_writes = [s for s in writes if s.parent is None]
    out["engine.write.calls"] = w["calls"] / steps
    out["engine.write.self_s"] = w["self_s"] / steps
    out["engine.write.rows_rewritten_per_changed_row"] = (
        sum(s.attrs["rows"] for s in top_writes) / max(1, wl.s.rows_in)
    )
    out["engine.write.files_rewritten_per_commit"] = (
        sum(s.attrs["files_removed"] for s in writes) / max(1, len(writes))
    )
    out["engine.write.bytes_written"] = sum(s.attrs["bytes"] for s in writes) / steps
    out["engine.write.spark_jobs_per_call"] = w["jobs"] / max(1, w["calls"])
    out["engine.write.spark_tasks_per_call"] = w["tasks"] / max(1, w["calls"])

    t = lay("engine.timeline")
    out["engine.timeline.calls"] = t["calls"] / steps
    out["engine.timeline.self_s"] = t["self_s"] / steps
    state = wl.first_cycle_state
    out["engine.timeline.active_instants"] = state["active_instants"]

    r = lay("engine.read")
    # calls into the engine's read methods; the benchmark's own spans
    # around the consuming actions add self time but are not calls
    read_calls = sum(
        1 for s in spans if s.layer == "engine.read" and s.name in READ_METHODS
    )
    scans = [s for s in spans if "files_scanned" in s.attrs]
    out["engine.read.calls"] = read_calls / steps
    out["engine.read.self_s"] = r["self_s"] / steps
    out["engine.read.files_scanned_per_query"] = (
        float(np.mean([s.attrs["files_scanned"] for s in scans])) if scans else 0.0
    )
    out["engine.read.file_prune_ratio"] = (
        float(np.mean([
            1.0 - s.attrs["files_scanned"] / s.attrs["files_live"]
            for s in scans if s.attrs["files_live"]
        ])) if scans else 0.0
    )
    out["engine.read.spark_tasks_per_call"] = r["tasks"] / max(1, read_calls)

    svc = [s for s in spans if s.layer == "engine.services" and s.parent is None]
    runs = max(1, len(wl.s.service))
    out["engine.services.runs"] = len(wl.s.service) / steps
    out["engine.services.self_s"] = lay("engine.services")["self_s"] / runs
    out["engine.services.bytes_rewritten"] = sum(
        s.attrs.get("bytes_rewritten", 0) for s in svc
    ) / runs
    out["engine.services.files_removed"] = sum(
        s.attrs.get("files_removed", 0) for s in svc
    ) / runs

    d = lay("sources.datasource")
    out["sources.datasource.calls"] = d["calls"] / steps
    out["sources.datasource.self_s"] = d["self_s"] / steps

    mh = "engine.minhash_index"
    out[f"{mh}.admit_self_s"] = self_of(mh, {"admit", "minhash_admit"}) / steps
    out[f"{mh}.reject_ratio"] = (
        1.0 - getattr(wl, "admitted", 0) / wl.offered
        if getattr(wl, "offered", 0) else 0.0
    )
    out[f"{mh}.refresh_self_s"] = self_of(mh, {"refresh_minhash_index"}) / steps
    recall = getattr(wl, "recall", {"text": [], "vector": []})
    for kind, fn in (("text", "text_index"), ("vector", "vector_index")):
        layer = f"engine.{fn}"
        out[f"{layer}.refresh_self_s"] = self_of(layer, {f"refresh_{fn}"}) / steps
        out[f"{layer}.topk_self_s"] = self_of(layer, {"topk", f"{fn}_topk"}) / steps
        out[f"{layer}.recall_at_k"] = (
            float(np.mean(recall[kind])) if recall[kind] else 0.0
        )

    out["session.start_s"] = start_s
    out["table.files_live"] = state["files_live"]
    out["table.small_file_share"] = state["small_file_share"]
    out["spark.failed_tasks"] = sum(s.failed_tasks for s in spans) / steps
    out["trace.overhead_s"] = tracer.overhead_s / steps
    return out
