"""Structured-Streaming source over warehouse tables: Iceberg's
streaming read (``spark.readStream.format("iceberg")``) re-expressed as
a PySpark 4 Python Data Source.

The reference's pipeline tails a CDC stream into the table (reference:
stack/firehose.py ingest path); the mirror-image capability -- tailing
the TABLE itself as a stream -- is what downstream consumers use to
chain pipelines off a transactional lake. This module provides it with
exactly-once semantics: offsets are table versions, batches are the
data files appended between two versions (each commit's log entry, the
same planning as ``Warehouse.read_incremental``), and checkpoint recovery
replays any offset range deterministically because snapshots are
immutable.

Design for 100 TB:
- Planning is metadata-only (one small log entry per commit, read
  through :mod:`.txlog` like every ``Warehouse`` read) and runs on the
  driver; no data file is opened to decide what a batch contains.
- Each appended data file becomes one input partition, so a batch scan
  parallelizes across executors like any file source.
- Partitions yield pyarrow RecordBatches (Arrow path), not Python-tuple
  rows -- the batch transfer shape, not row-at-a-time.
- Column-mapping evolution is honored: files store immutable PHYSICAL
  names; each partition carries the physical->logical projection and
  applies it with a zero-copy arrow rename.

Non-append commits (row-level DELETE / UPDATE / MERGE) are not
expressible as an append stream: ``latestOffset`` raises unless
``on_delete=skip`` is set (Iceberg's streaming-skip-delete-snapshots);
``op="replace"`` compaction commits are always skipped by stamp --
they rewrite bytes, not data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from . import txlog

_MANIFEST_DIR = "_v"
_SCHEMA_FILE = "_table.json"


def _vdir(tdir: str, branch: str | None = None) -> str:
    return os.path.join(
        tdir, _MANIFEST_DIR if not branch else f"{_MANIFEST_DIR}@{branch}"
    )


class _FileSlice(InputPartition):
    """One appended data file: absolute path + the physical->logical
    name projection to apply after reading. Each entry carries the
    logical Spark type so files written BEFORE an ADD COLUMN evolution
    (which lack the new physical column) can be null-filled to the
    range-end schema, matching the batch path's schema projection."""

    def __init__(self, path: str, names: list[tuple[str, str, object]]):
        self.path = path
        self.names = names  # [(physical, logical, spark_type)] in order


class WarehouseAppendsStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.root = options["root"]
        self.ns = options["ns"]
        self.table = options["table"]
        self.branch = options.get("branch") or None
        self.skip_replace = (
            str(options.get("skip_replace", "true")).lower() != "false"
        )
        self.on_delete = str(options.get("on_delete", "raise")).lower()
        if self.on_delete not in ("raise", "skip"):
            raise ValueError("on_delete must be 'raise' or 'skip'")
        start = options.get("from_version")
        self._start = int(start) if start is not None else None
        # rate limit (Iceberg streaming-max-files-per-micro-batch
        # analog, at commit granularity): a stream that falls behind --
        # or starts against a table with years of history -- catches up
        # in bounded batches of at most N commits instead of one batch
        # holding the entire backlog
        mvt = options.get("max_versions_per_trigger")
        self._max_versions = int(mvt) if mvt is not None else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError("max_versions_per_trigger must be >= 1")
        self._cursor: int | None = None  # last offset this reader issued
        # high-water mark: the largest offset observed in ANY engine
        # call (latestOffset result, partitions() range end, commit()).
        # latestOffset never returns below it, so correctness does not
        # depend on Spark's engine-call order after restart (the old
        # code relied on partitions() replaying the checkpointed batch
        # BEFORE the first latestOffset -- true today, but fragile)
        self._hwm: int = -1
        self.schema = schema
        self.tdir = os.path.join(self.root, self.ns, self.table)
        if not os.path.isdir(_vdir(self.tdir, self.branch)):
            raise ValueError(f"no warehouse table at {self.tdir}")

    # -- offsets: {"version": n} = "everything up to snapshot n is
    # consumed"; ranges are replayable because snapshots are immutable --

    def _initial_version(self) -> int:
        """Default stream baseline: the OLDEST LIVE snapshot. Version 0
        does not exist on a branch (its dir starts at the fork-point
        manifest) and stops existing on main after expire_snapshots --
        a hard-coded 0 made every such stream unstartable. The baseline
        snapshot's contents are the stream's initial state (not
        replayed); pass from_version to position explicitly."""
        versions = txlog.versions(_vdir(self.tdir, self.branch))
        return versions[0] if versions else 0

    def initialOffset(self) -> dict:
        if self._start is not None:
            return {"version": self._start}
        return {"version": self._initial_version()}

    def latestOffset(self) -> dict:
        versions = txlog.versions(_vdir(self.tdir, self.branch))
        tip = versions[-1] if versions else 0
        if self._max_versions is None:
            return {"version": max(tip, self._hwm)}
        if self._cursor is None:
            self._cursor = (
                self._start if self._start is not None
                else self._initial_version()
            )
        # pace forward by at most max_versions, but NEVER below the
        # high-water mark: a regressed offset would replay committed
        # rows (break exactly-once) if the engine trusted it
        base = max(self._cursor, self._hwm)
        self._cursor = max(base, min(tip, base + self._max_versions))
        self._hwm = max(self._hwm, self._cursor)
        return {"version": self._cursor}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        self._hwm = max(self._hwm, hi)
        if self._cursor is None or self._cursor < lo:
            # on restart Spark replays the checkpointed batch through
            # partitions() BEFORE the first latestOffset call -- adopt
            # the checkpointed position so the rate-limited cursor
            # resumes from it instead of re-pacing from the start
            self._cursor = max(lo, hi)
        if hi <= lo:
            return []  # replay of an empty checkpointed range
        live = set(txlog.versions(_vdir(self.tdir, self.branch)))
        missing = [v for v in range(lo, hi + 1) if v not in live]
        if missing:
            raise ValueError(
                f"snapshots {missing} expired under the stream; restart "
                "from a live snapshot (set from_version)"
            )
        out: list[InputPartition] = []
        vdir = _vdir(self.tdir, self.branch)
        src = txlog.plan_source(vdir, lo)  # the schema binding at lo
        schema, phys = src.schema, src.physical
        for v in range(lo + 1, hi + 1):
            d = txlog.delta(vdir, v)
            schema = d.get("schema", schema)
            phys = d.get("physical", phys)
            added = d.get("add", ())
            op = d.get("op")
            skip = op == "replace" and self.skip_replace
            if not skip and (d.get("remove") or d.get("add_deletes")):
                if self.on_delete == "raise":
                    raise ValueError(
                        f"commit {v} ({op or 'unknown op'}) deletes or "
                        "rewrites rows; an append stream cannot express "
                        "it (on_delete=skip skips such snapshots "
                        "ENTIRELY, rows they insert included -- Iceberg "
                        "streaming-skip-delete/overwrite-snapshots "
                        "semantics; consume Warehouse.changelog() in "
                        "batch for row-accurate change streams)"
                    )
                skip = True  # skip the whole non-append snapshot (Iceberg)
            if not skip and added:
                # resolve physical names with the ADDING snapshot's own
                # column mapping: a later rename re-maps the logical
                # name, and the range-end map would then mis-resolve
                # (null-filling live data, or resurrecting a retired
                # physical column after drop + re-add). A logical column
                # absent from this snapshot's schema null-fills.
                phys_v = phys or {}
                doc_fields = (
                    {fl["name"] for fl in schema["fields"]} if schema else None
                )
                names_v = []
                for f in self.schema.fields:
                    if doc_fields is not None and f.name not in doc_fields:
                        names_v.append((None, f.name, f.dataType))
                    else:
                        names_v.append(
                            (phys_v.get(f.name, f.name), f.name, f.dataType)
                        )
                for e in added:
                    out.append(
                        _FileSlice(os.path.join(self.tdir, e["path"]), names_v)
                    )
        return out

    def read(self, partition: _FileSlice):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Files appended before an ADD COLUMN evolution lack the new
        # physical column: read only the columns the file actually has
        # and null-fill the rest to the range-end schema (the batch
        # path's spark.read.schema does the same null projection).
        from pyspark.sql.pandas.types import to_arrow_type

        avail = set(pq.read_schema(partition.path).names)
        present = [p for p, _, _ in partition.names if p in avail]
        table = pq.read_table(partition.path, columns=present)
        cols, out_names = [], []
        n = len(table)
        for p, lg, dtype in partition.names:
            want = to_arrow_type(dtype)
            if p in avail:
                col = table.column(p)
                if col.type != want:
                    # type-widening evolution (int->long, float->double,
                    # decimal precision): old files keep the narrow
                    # physical type; up-cast to the range-end schema
                    col = col.cast(want)
                cols.append(col)
            else:
                cols.append(pa.nulls(n, type=want))
            out_names.append(lg)
        # zero-copy physical->logical projection in output order
        yield from pa.table(dict(zip(out_names, cols))).to_batches()

    def commit(self, end: dict) -> None:
        # adopt the committed position: after a restart whose first
        # engine call is latestOffset (last batch fully committed),
        # the cursor re-paces from here, not from from_version/0
        v = int(end["version"])
        self._hwm = max(self._hwm, v)
        if self._cursor is None or self._cursor < v:
            self._cursor = v


class WarehouseAppendsDataSource(DataSource):
    """``spark.readStream.format("warehouse_appends")`` after
    ``spark.dataSource.register(WarehouseAppendsDataSource)``.

    Options: ``root`` (warehouse root), ``ns``, ``table``, optional
    ``branch``, ``from_version`` (exclusive start snapshot),
    ``skip_replace`` (default true), ``on_delete`` ('raise'|'skip'),
    ``max_versions_per_trigger`` (rate limit: at most N commits per
    micro-batch -- Iceberg's streaming max-files-per-micro-batch at
    commit granularity, bounding catch-up batch size)."""

    @classmethod
    def name(cls) -> str:
        return "warehouse_appends"

    def schema(self) -> str:
        tdir = os.path.join(
            self.options["root"], self.options["ns"], self.options["table"]
        )
        with open(os.path.join(tdir, _SCHEMA_FILE)) as f:
            meta = json.load(f)
        return StructType.fromJson(meta["schema"])

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return WarehouseAppendsStreamReader(schema, dict(self.options))
