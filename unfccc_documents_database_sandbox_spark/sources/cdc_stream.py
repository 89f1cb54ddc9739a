"""Streaming Change Data Feed source for the snapshot table (VERDICT r08
#4): readStream over the commit log, offsets = table VERSIONS — the Delta
streaming-source shape, composing the `source_pyds_stream` offset-cursor
machinery (sources/pyds.py) with the batch `changes()` semantics
(sources/snapshots.py).

Each micro-batch emits the row-level changes of the commits between the
last offset and HEAD, as (table columns..., _change_type,
_commit_version). Commit kinds and how they stream:

- data_change=false (OPTIMIZE/ZORDER)  -> skipped, zero work
- append (add-only)                    -> added files ARE the inserts
- cdc files on the commit              -> read directly (the Delta
  _change_data path — exact rows, zero diffing; MOR deletes write these
  by default)
- deletion vector without cdc          -> derived from the DV delta (new
  minus prior positions, applied to the affected files)
- COW rewrite without cdc              -> raises: the EXCEPT-ALL diff the
  batch feed runs is a join, which a per-batch driver-side source must
  not re-implement row-at-a-time at scale — write the table with CDF
  (cdc files) to stream COW commits, exactly Delta's contract that
  streaming CDC needs CDF enabled at write time.

The reader is a SimpleDataSourceStreamReader: offsets/rows resolve on the
DRIVER via the commit-log JSON + pyarrow payload reads — the documented
low-throughput variant (the pyds.py precedent); the executor-parallel
DataSourceStreamReader composition is mechanical (plan one partition per
commit or per payload file). Restart recovery is free: payload files are
immutable, so ``readBetweenOffsets(start, end)`` replays any committed
version range bit-identically — pinned by tests/test_streaming.py.
"""

from __future__ import annotations

import json
import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# Log resolution delegates to the ref-aware snapshots helpers (pure
# Python, no Spark session — safe on executors too), so the streaming
# feed works on BRANCH roots (`branch_root(root, name)`) exactly like
# every batch API: a branch stream sees main's chain through the fork
# point plus the branch's own commits.


def _commit_versions(root: str) -> list[int]:
    from unfccc_documents_database_sandbox_spark.sources import snapshots

    return snapshots._commit_versions(root)


def _load_commit(root: str, v: int) -> dict:
    from unfccc_documents_database_sandbox_spark.sources import snapshots

    with open(snapshots._commit_path(root, v), encoding="utf-8") as fh:
        return json.load(fh)


def _data_root(root: str) -> str:
    from unfccc_documents_database_sandbox_spark.sources import snapshots

    return snapshots._data_root(root)


def _head_schema(root: str) -> list[tuple[str, str, str]]:
    """[(logical name, PHYSICAL name, spark-ddl-type)] of the newest
    schema-bearing commit — resolved driver-side from the log JSON
    alone. Data and change-data files spell the physical names (column
    mapping); the stream's output schema speaks the logical ones."""
    schema_json = None
    for v in _commit_versions(root):
        c = _load_commit(root, v)
        if "schema" in c:
            schema_json = c["schema"]
    if schema_json is None:
        raise ValueError(f"no schema-bearing commit under {root!r}")
    fields = json.loads(schema_json)["fields"]
    bad = [f["name"] for f in fields if not isinstance(f["type"], str)]
    if bad:
        raise ValueError(
            f"streaming change feed supports atomic column types only; "
            f"nested columns: {bad}"
        )
    return [
        (
            f["name"],
            (f.get("metadata") or {}).get("physical", f["name"]),
            f["type"],
        )
        for f in fields
    ]


def _dv_state_at(root: str, version: int) -> dict[str, list[str]]:
    """{file: [dv parts]} after replaying commits 0..version — the pure-
    Python twin of snapshots._read_state's DV tracking (no Spark on the
    streaming read path).

    Requires the FULL commit chain 0..version to still exist: after
    `expire_log` drops commits below a checkpoint, the replayed DV state
    would be silently incomplete and the DV-delta branch of
    `commit_change_rows` would re-emit already-deleted rows as fresh
    deletes. Raise the batch feed's not-reconstructible error instead
    (r09 ADVICE #2 — the batch `changes()` already raises loudly here;
    the streaming twin must not mis-emit silently)."""
    dv: dict[str, list[str]] = {}
    present = _commit_versions(root)
    missing = sorted(set(range(version + 1)) - set(present))
    if missing:
        raise ValueError(
            f"change feed not reconstructible at version {version}: "
            f"commit files {missing[:5]} have been expired from the log "
            f"(replay DV state needs the full chain from 0)"
        )
    for v in present:
        if v > version:
            break
        c = _load_commit(root, v)
        for f in c.get("remove", []):
            dv.pop(f, None)
        if "dv" in c:
            action = c["dv"]
            if "map" in action:  # restore form; [] clears a pointer
                for f, ps in action["map"].items():
                    if ps:
                        dv[f] = list(ps)
                    else:
                        dv.pop(f, None)
            else:
                for f in action["files"]:
                    dv[f] = list(action["parts"])
    return dv


def _read_parquet_rows(
    root: str, files: list[str], columns: list[str]
) -> list[list]:
    """Row-major values of ``columns`` across ``files`` (pyarrow,
    driver-side); columns absent from a file (pre-evolution eras) fill
    None. File row order is parquet order — the same row_index identity
    the deletion vectors record."""
    import pyarrow.parquet as pq

    rows: list[list] = []
    for f in files:
        t = pq.read_table(os.path.join(_data_root(root), f))
        cols = []
        for c in columns:
            if c in t.column_names:
                cols.append(t.column(c).to_pylist())
            else:
                cols.append([None] * t.num_rows)
        rows.extend([list(vals) for vals in zip(*cols)] if t.num_rows else [])
    return rows


def _dv_entries(root: str, parts: list[str]) -> set[tuple[str, int]]:
    """Decode roaring-style DV container rows (src, chunk, start_byte,
    card, dv_bytes — r13's chunked bitmap encoding, see
    snapshots._DV_BM_SCHEMA) into the (src, pos) identity set,
    driver-side: stored bit p set ⇔ position chunk·65536 +
    8·start_byte + p deleted. Containers are O(touched-chunk span / 8)
    bytes, so this stays as metadata-sized as the row form it
    replaced."""
    out: set[tuple[str, int]] = set()
    for src, chunk, start_byte, dv_bytes in _read_parquet_rows(
        root, parts, ["src", "chunk", "start_byte", "dv_bytes"]
    ):
        if dv_bytes is None:
            continue
        base = (chunk or 0) * 65536 + (start_byte or 0) * 8
        for byte_idx, b in enumerate(dv_bytes):
            if b:
                for bit in range(8):
                    if b & (1 << bit):
                        out.add((src, base + byte_idx * 8 + bit))
    return out


def commit_change_rows(
    root: str, version: int, columns: list[str]
) -> list[tuple]:
    """The change rows of ONE commit as (columns..., _change_type,
    _commit_version) tuples — the driver-side streaming twin of one
    iteration of snapshots.changes()."""
    c = _load_commit(root, version)
    if not c.get("data_change", True):
        return []
    out: list[tuple] = []
    if c.get("cdc"):
        for vals in _read_parquet_rows(
            root, c["cdc"], columns + ["_change_type"]
        ):
            out.append(tuple(vals[:-1]) + (vals[-1], version))
    elif "dv" in c and "files" in c["dv"]:
        affected = c["dv"]["files"]
        new_e = _dv_entries(root, c["dv"]["parts"])
        prev_state = _dv_state_at(root, version - 1)
        old_parts = sorted(
            {p for f in affected for p in prev_state.get(f, [])}
        )
        names = {os.path.basename(f) for f in affected}
        prev_e = {
            e for e in _dv_entries(root, old_parts) if e[0] in names
        }
        deleted = new_e - prev_e
        for f in affected:
            name = os.path.basename(f)
            for pos, vals in enumerate(
                _read_parquet_rows(root, [f], columns)
            ):
                if (name, pos) in deleted:
                    out.append(tuple(vals) + ("delete", version))
    elif c["add"] and c["remove"]:
        raise ValueError(
            f"commit {version} is a copy-on-write rewrite without change-"
            "data files: the streaming feed cannot diff it (write with "
            "CDF enabled, or consume it via the batch changes())"
        )
    elif c["add"]:
        for vals in _read_parquet_rows(root, c["add"], columns):
            out.append(tuple(vals) + ("insert", version))
    elif c["remove"]:
        for vals in _read_parquet_rows(root, c["remove"], columns):
            out.append(tuple(vals) + ("delete", version))
    return out


def _max_versions_opt(options) -> int | None:
    """Admission control (VERDICT r09 #5 — Delta's maxFilesPerTrigger /
    Kafka's maxOffsetsPerTrigger): ``max_versions_per_batch`` bounds how
    many commits one micro-batch may span, so a consumer catching up on
    a long-lived table drains the backlog in bounded batches instead of
    replaying the whole history in one."""
    raw = options.get("max_versions_per_batch")
    if raw is None:
        return None
    n = int(raw)
    if n < 1:
        raise ValueError(
            f"max_versions_per_batch must be >= 1, got {n}")
    return n


def _clamp_hi(lo: int, hi: int, max_versions: int | None) -> int:
    return hi if max_versions is None else min(hi, lo + max_versions)


class SnapshotChangesStreamReader(SimpleDataSourceStreamReader):
    """Offsets are {"v": N} version cursors: a micro-batch emits the
    change rows of commits (start_v, head]; immutable payloads make
    readBetweenOffsets an exact replay (restart recovery)."""

    def __init__(self, options):
        self.root = options["path"]
        self.since = int(options.get("since_version", -1))
        self.max_versions = _max_versions_opt(options)
        self.columns = [ph for _n, ph, _t in _head_schema(self.root)]

    def initialOffset(self):
        return {"v": self.since}

    def _rows(self, lo: int, hi: int):
        rows: list[tuple] = []
        for v in range(lo + 1, hi + 1):
            rows.extend(commit_change_rows(self.root, v, self.columns))
        return iter(rows)

    def read(self, start):
        lo = int(start["v"])
        versions = _commit_versions(self.root)
        hi = versions[-1] if versions else lo
        hi = _clamp_hi(lo, hi, self.max_versions)
        if hi <= lo:
            return iter([]), {"v": lo}
        return self._rows(lo, hi), {"v": hi}

    def readBetweenOffsets(self, start, end):
        # replay of a PLANNED batch: exact range, never re-clamped (the
        # rate limit shapes new batches only — restart recovery must
        # reproduce the checkpointed batch bit-identically)
        return self._rows(int(start["v"]), int(end["v"]))


@dataclass
class _CommitPartition(InputPartition):
    version: int


class SnapshotChangesPartitionedStreamReader(DataSourceStreamReader):
    """The executor-parallel upgrade of SnapshotChangesStreamReader: one
    InputPartition PER COMMIT in the micro-batch's version range, each
    read on an EXECUTOR (the same pure commit_change_rows function —
    commit-log JSON + pyarrow payload reads, shipped to workers via
    ensure_pyfiles). On a real cluster the table root must be shared
    storage (object store / DFS) — exactly the Delta streaming-source
    deployment shape; finer parallelism (partition per payload file) is
    the same mechanical split one level down."""

    def __init__(self, options):
        self.root = options["path"]
        self.since = int(options.get("since_version", -1))
        self.max_versions = _max_versions_opt(options)
        self.columns = [ph for _n, ph, _t in _head_schema(self.root)]
        # Rate-limit cursor. UNANCHORED until the engine reveals the true
        # batch start: Spark calls initialOffset() only on a FRESH query
        # (no checkpoint) but calls latestOffset() first thing on a
        # RESTART, where the start comes from the checkpoint — which this
        # reader cannot see. Clamping that first post-restart
        # latestOffset() against reader-local state (since_version) can
        # return an end offset BEHIND the checkpointed start; Spark would
        # commit the regressed offset and the next batch would re-emit
        # already-delivered commit versions. So an unanchored
        # latestOffset() never clamps (the offset can only move forward),
        # and the cursor anchors via initialOffset() (fresh start) or
        # partitions()/a later latestOffset (replay/steady state). The
        # cost is one unbounded catch-up batch after a restart — the
        # same best-effort admission-control contract as Delta's
        # maxFilesPerTrigger.
        self._last = self.since
        self._anchored = False

    def initialOffset(self):
        # only a fresh (checkpoint-less) query reaches here — the
        # since_version floor IS the true start, so the cursor can anchor
        self._anchored = True
        return {"v": self.since}

    def latestOffset(self):
        versions = _commit_versions(self.root)
        hi = versions[-1] if versions else self.since
        if self._anchored:
            # admission control: advance the planned end offset by at
            # most max_versions_per_batch commits past the last planned
            # offset
            hi = _clamp_hi(self._last, hi, self.max_versions)
        self._last = max(self._last, hi)
        self._anchored = True
        return {"v": hi}

    def partitions(self, start, end):
        lo, hi = int(start["v"]), int(end["v"])
        # restart recovery: latestOffset's rate-limit cursor re-anchors
        # on the first planned batch's true offsets (a restarted reader
        # starts from the query checkpoint, not from since_version)
        self._last = max(self._last, lo, hi)
        self._anchored = True
        # Spark requires >= 1 partition; an empty range reads no rows
        return [
            _CommitPartition(v) for v in range(lo + 1, hi + 1)
        ] or [_CommitPartition(-1)]

    def read(self, partition: _CommitPartition):
        if partition.version < 0:
            return iter([])
        return iter(
            commit_change_rows(self.root, partition.version, self.columns)
        )

    def commit(self, end):
        # offsets are durable in the query's own checkpoint; the commit
        # log itself needs no acknowledgement
        pass


class SnapshotChangesStreamSource(DataSource):
    """spark.readStream.format("table_changes_stream").option("path", root)
    [.option("since_version", N)] — the snapshot table's change feed as a
    structured stream."""

    @classmethod
    def name(cls) -> str:
        return "table_changes_stream"

    def schema(self) -> str:
        cols = ", ".join(f"`{n}` {t}" for n, _ph, t in _head_schema(
            self.options["path"]
        ))
        return f"{cols}, _change_type string, _commit_version bigint"

    def simpleStreamReader(self, schema) -> SnapshotChangesStreamReader:
        return SnapshotChangesStreamReader(self.options)


class SnapshotChangesDistStreamSource(DataSource):
    """spark.readStream.format("table_changes_stream_dist") — the
    executor-parallel (partition-per-commit) variant of
    table_changes_stream; same options, same rows."""

    @classmethod
    def name(cls) -> str:
        return "table_changes_stream_dist"

    def schema(self) -> str:
        cols = ", ".join(f"`{n}` {t}" for n, _ph, t in _head_schema(
            self.options["path"]
        ))
        return f"{cols}, _change_type string, _commit_version bigint"

    def streamReader(self, schema) -> SnapshotChangesPartitionedStreamReader:
        return SnapshotChangesPartitionedStreamReader(self.options)


_REGISTERED: set[str] = set()
_REGISTER_LOCK = __import__("threading").Lock()


def register_table_changes_stream(spark) -> None:
    """Idempotent per-session registration of both streaming CDF
    sources (driver-side simple + executor-parallel). Lock-serialized:
    callers run from thread pools (the parity harness builds queries
    concurrently), and a bare check-then-register races to a
    DATA_SOURCE_ALREADY_EXISTS AnalysisException."""
    key = ("cdc", spark.sparkContext.applicationId)
    with _REGISTER_LOCK:
        if key in _REGISTERED:
            return
        spark.dataSource.register(SnapshotChangesStreamSource)
        spark.dataSource.register(SnapshotChangesDistStreamSource)
        _REGISTERED.add(key)
