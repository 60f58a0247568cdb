"""Delta-protocol interop: export a warehouse table's manifest chain as
a ``_delta_log`` JSON commit sequence.

The open Delta Lake transaction-log protocol (delta-io/delta
PROTOCOL.md) represents a table as newline-delimited JSON commit files
``_delta_log/<version, zero-padded to 20>.json`` whose actions are
``protocol`` / ``metaData`` / ``add`` / ``remove``. This module
re-expresses the native manifest chain in that format so an external
Delta reader can open the table: every native snapshot becomes one
Delta commit whose add/remove actions are the file-set diff against the
previous snapshot (appends are pure adds; MERGE/DELETE/compact rewrites
become remove+add pairs -- the protocol's copy-on-write shape).

Mirrors the reference's interop posture (its S3 Tables are Iceberg
tables any engine can open, reference scripts/update_metadata.py): the
native manifest stays the source of truth; the Delta log is a derived,
re-exportable view.

Scope notes:
- ``schemaString`` is the Spark StructType JSON -- exactly Delta's
  schema-string encoding, no translation needed.
- Partitioned tables expose the hidden partition value as a ``_p``
  string partition column (Delta wants partition values in
  ``partitionValues``, not in data files -- which matches our layout:
  the ``_p`` column is directory-encoded, never stored in the files).
- Tables with an ACTIVE column mapping (post-rename/drop physical
  names) would need Delta's own columnMapping table feature; the
  exporter raises NotImplementedError for those rather than emitting a
  log readers would mis-project.
- Exported versions are renumbered contiguously from 0 (the protocol
  requires a gapless log; native versions may start later after
  ``expire_snapshots``).
"""

from __future__ import annotations

import json
import os
import urllib.parse
import uuid

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


def _delta_path(rel_path: str) -> str:
    """Delta add/remove paths are URL-encoded URIs relative to the
    table root."""
    return urllib.parse.quote(rel_path)


def export_delta_log(wh, ns: str, table: str) -> str:
    """Write (or rewrite) ``<table>/_delta_log`` from the live manifest
    chain; returns the log directory path."""
    tdir = wh._table_dir(ns, table)
    meta = wh.table_meta(ns, table)
    if meta.get("physical"):
        raise NotImplementedError(
            "delta export of a table with an active column mapping needs "
            "Delta columnMapping; re-export before renames or after a "
            "physical rewrite"
        )
    for v in wh._versions(tdir):
        if wh._manifest_doc(tdir, v).get("deletes"):
            raise NotImplementedError(
                "delta export of a snapshot with merge-on-read equality "
                "deletes needs Delta deletion vectors; compact() first to "
                "fold them in, then expire the MoR snapshots"
            )
    partitioned = bool(meta.get("partition_by"))
    log_dir = os.path.join(tdir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    for old in os.listdir(log_dir):  # idempotent re-export
        if old.endswith(".json"):
            os.remove(os.path.join(log_dir, old))

    schema_doc = json.loads(json.dumps(meta["schema"]))  # deep copy
    if partitioned:
        schema_doc["fields"] = list(schema_doc["fields"]) + [
            {"name": "_p", "type": "string", "nullable": True, "metadata": {}}
        ]

    # Delta operation names for our commit ops (commitInfo is advisory
    # in the protocol but every real writer emits it; readers show it
    # in DESCRIBE HISTORY)
    op_names = {
        "create": "CREATE TABLE",
        "append": "WRITE",
        "overwrite": "WRITE",
        "merge": "MERGE",
        "delete": "DELETE",
        "update": "UPDATE",
        "replace": "OPTIMIZE",
        "rollback": "RESTORE",
        "schema": "SET TBLPROPERTIES",
    }
    prev: dict[str, dict] = {}
    for i, v in enumerate(wh._versions(tdir)):
        doc = wh._manifest_doc(tdir, v)
        entries = {e["path"]: e for e in doc["files"]}
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(doc.get("ts", 0) * 1000),
                    "operation": op_names.get(doc.get("op"), "WRITE"),
                    "operationParameters": {},
                    "engineInfo": "s3tables-spark delta export",
                }
            }
        ]
        if i == 0:
            actions.append({"protocol": PROTOCOL})
            actions.append(
                {
                    "metaData": {
                        # stable id: re-exports of the same table agree
                        "id": str(
                            uuid.uuid5(uuid.NAMESPACE_URL, f"s3tables-spark:{ns}.{table}")
                        ),
                        "name": table,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(schema_doc),
                        "partitionColumns": ["_p"] if partitioned else [],
                        "configuration": {},
                        "createdTime": 0,
                    }
                }
            )
        for p in sorted(prev.keys() - entries.keys()):
            actions.append(
                {
                    "remove": {
                        "path": _delta_path(p),
                        "deletionTimestamp": 0,
                        "dataChange": True,
                    }
                }
            )
        for p in sorted(entries.keys() - prev.keys()):
            e = entries[p]
            mtime = int(os.path.getmtime(os.path.join(tdir, p)) * 1000)
            actions.append(
                {
                    "add": {
                        "path": _delta_path(p),
                        "partitionValues": (
                            {"_p": e["partition"]} if partitioned else {}
                        ),
                        "size": e.get("bytes", 0),
                        "modificationTime": mtime,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": e.get("records", 0)}),
                    }
                }
            )
        with open(os.path.join(log_dir, f"{i:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        prev = entries
    return log_dir


def import_delta_table(
    wh, ns: str, table: str, source_dir: str, key: str | None = None
) -> int:
    """Interop in the OTHER direction: materialize a warehouse table
    from a directory holding a Delta-protocol ``_delta_log`` plus its
    data files. The log is replayed to the live file set; files are
    hard-linked (falling back to copy) into the new table's data dir,
    so they keep the codec they were written with (a table may mix
    codecs); per-file footer stats (of the columns
    ``Warehouse._stats_columns`` picks) and the optional key Bloom come
    from ``Warehouse._file_metas``, the same in-process-or-distributed
    build ``_write_files`` uses, so the imported table immediately
    supports min/max + Bloom data skipping even though the Delta log
    carries only numRecords.

    Scope: unpartitioned tables, and tables exported by
    :func:`export_delta_log` (whose ``_p`` partition column is
    directory-derived while the SOURCE columns stay in the data files,
    so the data is self-contained); a foreign table partitioned on a
    real column absent from its data files raises. Returns the number
    of imported files."""
    import shutil

    from pyspark.sql.types import StructType

    from .warehouse import _pack_blooms

    state = replay_delta_log(os.path.join(source_dir, "_delta_log"))
    md = state["metaData"]
    if md is None:
        raise ValueError(f"no metaData action found under {source_dir}")
    schema_doc = json.loads(md["schemaString"])
    pcols = md.get("partitionColumns") or []
    if pcols and pcols != ["_p"]:
        raise NotImplementedError(
            "cannot import a Delta table partitioned on real columns "
            f"({pcols}): their values live in partitionValues, not in the "
            "data files this warehouse requires to be self-contained"
        )
    if pcols == ["_p"]:
        schema_doc["fields"] = [
            f for f in schema_doc["fields"] if f["name"] != "_p"
        ]
    schema = StructType.fromJson(schema_doc)
    wh.create_namespace(ns)
    wh.create_table(ns, table, schema, key=key)
    tdir = wh._table_dir(ns, table)
    dest = os.path.join(tdir, "data", f"import{uuid.uuid4().hex[:12]}")
    os.makedirs(dest)
    paths = []
    for i, rel in enumerate(sorted(state["files"])):
        src = os.path.join(source_dir, rel)
        dst = os.path.join(dest, f"import-{i:06d}.parquet")
        try:
            os.link(src, dst)  # zero-copy on the same filesystem
        except OSError:
            shutil.copy2(src, dst)
        paths.append(dst)
    key_col = key if key and key in schema.fieldNames() else None
    entries = []
    if paths:
        stats_cols = wh._stats_columns(wh.table_meta(ns, table))
        for m in wh._file_metas([(p, None) for p in paths], key_col, stats_cols):
            full = m.pop("abs")
            entries.append({"path": os.path.relpath(full, tdir), **m})
        _pack_blooms(tdir, entries)
    wh._publish_append(
        tdir, wh._versions(tdir)[-1], entries, json.loads(schema.json())
    )
    return len(entries)


def replay_delta_log(log_dir: str) -> dict:
    """Reconstruct table state by replaying the JSON log the way a Delta
    reader does (actions in commit order; remove drops a path, add
    (re)introduces it). Returns ``{"files": {path: add_action},
    "metaData": ..., "protocol": ..., "n_commits": int}`` with paths
    URL-decoded."""
    commits = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    live: dict[str, dict] = {}
    meta_data = protocol = None
    for c in commits:
        with open(os.path.join(log_dir, c)) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    protocol = action["protocol"]
                elif "metaData" in action:
                    meta_data = action["metaData"]
                elif "remove" in action:
                    live.pop(urllib.parse.unquote(action["remove"]["path"]), None)
                elif "add" in action:
                    a = action["add"]
                    live[urllib.parse.unquote(a["path"])] = a
    return {
        "files": live,
        "metaData": meta_data,
        "protocol": protocol,
        "n_commits": len(commits),
    }
