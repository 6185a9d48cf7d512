"""Commit timeline — the engine analog of Hudi's ``.hoodie`` instant files.

Each completed write is one JSON file ``_timeline/<instant>.<action>.json``
holding the commit metadata: operation, files added (with kind base/delta/
external), files removed, row stats, and optional streaming batch id for
exactly-once ``foreachBatch`` sinks.

Reference parity: ``startCommit()`` / instant lifecycle
(java-client/.../HoodieJavaWriteClientExample.java:90,100,110), the
``call show_commits`` procedure (hudi0.12_spark3.1/.../IncrementalQuery.scala:36-37),
archival bounds (HoodieJavaWriteClientExample.java:85).

Design notes for scale: the timeline is O(#commits) small JSON files; the
live-file set is replayed driver-side (metadata only, no data scan) — the
same shape as Hudi's timeline server. Archival compacts replayed state
into a checkpoint so the active timeline stays bounded (M3).
Concurrency: commit files are written atomically via rename; ``commit()``
enforces optimistic concurrency control at file-group granularity (a
writer may only replace files still live — conflicts raise
ConcurrentWriteError instead of losing updates), and ``lock()`` offers a
pessimistic per-table writer lock for serialized-writer deployments.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path

from hudi_demo_spark.engine.config import TIMELINE_DIR

ARCHIVED_DIR = "archived"
CHECKPOINT_PREFIX = "_checkpoint"

# actions
COMMIT = "commit"  # COW base-file write
DELTACOMMIT = "deltacommit"  # MOR delta-file write
REPLACECOMMIT = "replacecommit"  # overwrite: drops all prior files
COMPACTION = "compaction"  # MOR deltas merged into base
CLEAN = "clean"

_last_instant = [""]
_instant_lock = threading.Lock()


class ConcurrentWriteError(RuntimeError):
    """Two writers replaced the same file group (OCC conflict)."""


def new_instant() -> str:
    """Monotonically increasing yyyyMMddHHmmssSSSSSS instant string.
    Locked: the check-then-set must be atomic or two concurrent writers
    in one process can draw the SAME instant (observed under load as a
    vanished commit — the second writer's staging clobbered the
    first's); cross-process collisions are still caught at commit
    publish."""
    while True:
        with _instant_lock:
            now = datetime.now(timezone.utc).strftime("%Y%m%d%H%M%S%f")
            if now > _last_instant[0]:
                _last_instant[0] = now
                return now
        time.sleep(0.000_5)


class Timeline:
    def __init__(self, table_path: str | Path):
        self.dir = Path(table_path) / TIMELINE_DIR

    # ---------------- write side ----------------

    @contextmanager
    def lock(self, timeout_s: float = 60.0, stale_s: float = 600.0):
        """Pessimistic per-table writer lock (the lock-provider analog of
        Hudi's FileSystemBasedLockProvider): atomic mkdir as the mutex,
        stale locks broken after `stale_s`. OCC in `commit()` already
        prevents corruption; this is for callers who prefer serialized
        writers over retry-on-conflict."""
        lockdir = self.dir / "_lock"
        self.dir.mkdir(parents=True, exist_ok=True)
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                lockdir.mkdir()
                break
            except FileExistsError:
                try:
                    if time.time() - lockdir.stat().st_mtime > stale_s:
                        lockdir.rmdir()
                        continue
                except FileNotFoundError:
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"table writer lock held: {lockdir}")
                time.sleep(0.05)
        try:
            yield
        finally:
            try:
                lockdir.rmdir()
            except FileNotFoundError:
                pass

    def commit(
        self,
        instant: str,
        action: str,
        operation: str,
        files_added: list[dict],
        files_removed: list[str] | str,
        stats: dict | None = None,
        batch_id: int | None = None,
    ) -> dict:
        """files_added: [{"path": rel, "kind": "base"|"delta"|"external",
        "partition": pp, ...}]; files_removed: rel paths or "*" (replace).

        Optimistic concurrency control (Hudi's OCC analog, file-group
        granularity): a writer may only replace files that are STILL
        live at publish time. If another writer replaced any of them
        since this writer read its snapshot, the commit raises
        ConcurrentWriteError and publishes nothing — last-writer-wins
        corruption is impossible, lost updates surface loudly. Writers
        that touch disjoint file groups commit concurrently without
        coordination; `lock()` exists for callers who prefer pessimistic
        serialization."""
        if files_removed and files_removed != "*":
            live = self.live_files()
            gone = [p for p in files_removed if p not in live]
            if gone:
                raise ConcurrentWriteError(
                    f"instant {instant} replaces files already replaced by "
                    f"a concurrent writer: {gone[:3]}"
                )
        self.dir.mkdir(parents=True, exist_ok=True)
        stats = dict(stats or {})
        rows = [f.get("rows", -1) for f in files_added]
        if all(r >= 0 for r in rows):
            # Hudi's totalRecordsWritten: every row of every file the
            # commit wrote, carried-over rows of a COW rewrite included
            stats.setdefault("rows_written", sum(rows))
        meta = {
            "instant": instant,
            "action": action,
            "operation": operation,
            "files_added": files_added,
            "files_removed": files_removed,
            "stats": stats,
        }
        if batch_id is not None:
            meta["batch_id"] = batch_id
        p = self.dir / f"{instant}.{action}.json"
        if p.exists():
            # cross-PROCESS instant collision (new_instant() is only
            # monotonic within a process): clobbering would silently drop
            # the other writer's commit
            raise ConcurrentWriteError(f"instant collision: {p.name}")
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps(meta))
        tmp.replace(p)  # atomic publish
        self.finish_inflight(instant)
        return meta

    # ---------------- inflight markers ----------------

    INFLIGHT_PREFIX = "_inflight"

    def start_inflight(self, instant: str, operation: str = "") -> None:
        """Hudi marker-file analog: announce a write BEFORE its data
        files land. A live marker protects the instant's staged files
        from clean()'s orphan sweep regardless of age (a legitimately
        slow bulk writer must never be reclaimed under it); a marker
        whose writer died (stale mtime, no commit) lets clean() reclaim
        that instant's files PROMPTLY and by name, instead of waiting
        out a blanket age gate."""
        self.dir.mkdir(parents=True, exist_ok=True)
        p = self.dir / f"{self.INFLIGHT_PREFIX}-{instant}.json"
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps({"instant": instant, "operation": operation}))
        tmp.replace(p)

    def heartbeat_inflight(self, instant: str) -> None:
        """Refresh the marker mtime mid-write (long jobs outlive any
        fixed staleness window)."""
        p = self.dir / f"{self.INFLIGHT_PREFIX}-{instant}.json"
        if p.exists():
            p.touch()

    def finish_inflight(self, instant: str) -> None:
        (self.dir / f"{self.INFLIGHT_PREFIX}-{instant}.json").unlink(
            missing_ok=True
        )

    def inflight(self) -> list[dict]:
        """[{instant, operation, age_s}] for writes announced but not
        committed, oldest first."""
        if not self.dir.is_dir():
            return []
        out = []
        now = time.time()
        for p in sorted(self.dir.glob(self.INFLIGHT_PREFIX + "-*.json")):
            try:
                m = json.loads(p.read_text())
                m["age_s"] = now - p.stat().st_mtime
                out.append(m)
            except (OSError, ValueError):
                continue
        return out

    # ---------------- read side ----------------

    # fixed columns of the parquet checkpoint (the metadata-table "files"
    # partition analog); everything else a file meta carries rides in the
    # JSON `extra` column
    _CP_SCALARS = ("commit", "kind", "partition", "bytes",
                   "key_min", "key_max")

    def checkpoint_parquets(self) -> list[Path]:
        """Parquet checkpoints, ascending by as_of. Filenames carry NO
        leading underscore (Spark's file index hides `_*`), so the same
        file is directly scannable by `spark.read.parquet`."""
        return sorted((self.dir / "checkpoints").glob("*.parquet"))

    def _checkpoint(self) -> dict | None:
        cps = sorted(
            list(self.dir.glob(CHECKPOINT_PREFIX + "-*.json"))
            + self.checkpoint_parquets(),
            key=lambda p: p.stem.rsplit("-", 1)[-1],
        )
        if not cps:
            return None
        p = cps[-1]
        if p.suffix == ".json":  # pre-parquet checkpoints stay readable
            return json.loads(p.read_text())
        import pyarrow.parquet as pq

        d = pq.read_table(p).to_pydict()
        files: dict[str, dict] = {}
        for i, rp in enumerate(d["path"]):
            m: dict = {"path": rp}
            for c in self._CP_SCALARS:
                v = d[c][i]
                if v is not None:
                    m[c] = v
            if d["bloom"][i]:
                m["bloom"] = True
            if d["extra"][i]:
                m.update(json.loads(d["extra"][i]))
            files[rp] = m
        return {"as_of": p.stem, "files": files}

    def instants(self, include_archived: bool = False) -> list[dict]:
        """Completed instants, ascending. Active timeline only by default."""
        if not self.dir.is_dir():
            return []
        files = [p for p in self.dir.glob("*.json") if not p.name.startswith("_")]
        if include_archived:
            files += list((self.dir / ARCHIVED_DIR).glob("*.json"))
        out = [json.loads(p.read_text()) for p in sorted(files, key=lambda p: p.name)]
        out.sort(key=lambda m: m["instant"])
        return out

    def last_instant(self) -> str | None:
        ins = self.instants()
        return ins[-1]["instant"] if ins else None

    def committed_batch_ids(self) -> set[int]:
        return {m["batch_id"] for m in self.instants(True) if "batch_id" in m}

    def live_files(self, as_of: str | None = None) -> dict[str, dict]:
        """Replay the timeline -> {relpath: file_meta} live as of `as_of`.

        Metadata-only: no data files are touched. A checkpoint written at
        archive time seeds the replay so archived instants aren't needed.
        """
        state: dict[str, dict] = {}
        cp = self._checkpoint()
        if cp is not None and as_of is not None and as_of < cp["as_of"]:
            # time-travel before the archive boundary: full replay
            cp = None
            instants = self.instants(include_archived=True)
        else:
            instants = self.instants()
        if cp is not None:
            state = dict(cp["files"])
        for m in instants:
            if as_of is not None and m["instant"] > as_of:
                break
            if cp is not None and m["instant"] <= cp["as_of"]:
                continue
            if m["files_removed"] == "*":
                state = {}
            else:
                for rp in m["files_removed"]:
                    state.pop(rp, None)
            for f in m["files_added"]:
                state[f["path"]] = {**f, "commit": m["instant"]}
        return state

    # ---------------- savepoints ----------------

    SAVEPOINT_PREFIX = "_savepoint"

    def create_savepoint(self, instant: str) -> None:
        p = self.dir / f"{self.SAVEPOINT_PREFIX}-{instant}.json"
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps({"instant": instant}))
        tmp.replace(p)

    def delete_savepoint(self, instant: str) -> bool:
        p = self.dir / f"{self.SAVEPOINT_PREFIX}-{instant}.json"
        if p.exists():
            p.unlink()
            return True
        return False

    def savepoints(self) -> list[str]:
        if not self.dir.is_dir():
            return []
        return sorted(
            json.loads(p.read_text())["instant"]
            for p in self.dir.glob(self.SAVEPOINT_PREFIX + "-*.json")
        )

    def write_checkpoint(self, as_of: str, files: dict[str, dict]) -> None:
        """Persist replay state as a PARQUET metadata table (one row per
        live file), not a JSON blob: at 1M files the JSON form is
        ~100 MB of driver-side parse per read — the parquet form is a
        compressed columnar read (pyarrow here; Spark can scan the same
        file distributively). Old `.json` checkpoints remain readable."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        known = set(self._CP_SCALARS) | {"path", "bloom"}
        cols: dict[str, list] = {c: [] for c in
                                 ("path", *self._CP_SCALARS, "bloom",
                                  "extra")}
        for rp, m in files.items():
            cols["path"].append(rp)
            for c in self._CP_SCALARS:
                v = m.get(c)
                if c == "bytes" and v is not None:
                    v = int(v)
                elif v is not None and c != "bytes":
                    v = str(v)
                cols[c].append(v)
            cols["bloom"].append(bool(m.get("bloom")))
            extra = {k: v for k, v in m.items() if k not in known}
            cols["extra"].append(json.dumps(extra) if extra else None)
        schema = pa.schema(
            [("path", pa.string())]
            + [(c, pa.int64() if c == "bytes" else pa.string())
               for c in self._CP_SCALARS]
            + [("bloom", pa.bool_()), ("extra", pa.string())]
        )
        table = pa.Table.from_pydict(cols, schema=schema)
        p = self.dir / "checkpoints" / f"{as_of}.parquet"
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.with_suffix(".tmp")
        pq.write_table(table, tmp, compression="zstd")
        tmp.replace(p)
        # a superseded older checkpoint is dead weight on every glob
        for old in self.checkpoint_parquets():
            if old.stem < as_of:
                old.unlink(missing_ok=True)
        for old in self.dir.glob(CHECKPOINT_PREFIX + "-*.json"):
            if old.stem.rsplit("-", 1)[-1] < as_of:
                old.unlink(missing_ok=True)

    def archive(self, keep: int = 30) -> int:
        """Move all but the newest `keep` instants to archived/ (M3),
        checkpointing replay state at the boundary first."""
        ins = self.instants()
        if len(ins) <= keep:
            return 0
        cut = ins[-keep]["instant"]  # first instant kept active
        boundary = [m for m in ins if m["instant"] < cut]
        if not boundary:
            return 0
        state = self.live_files(as_of=boundary[-1]["instant"])
        self.write_checkpoint(boundary[-1]["instant"], state)
        arch = self.dir / ARCHIVED_DIR
        arch.mkdir(exist_ok=True)
        n = 0
        for m in boundary:
            for p in self.dir.glob(f"{m['instant']}.*.json"):
                p.rename(arch / p.name)
                n += 1
        return n
