"""Table transaction log: per-version action deltas plus partition-grouped
checkpoints (Delta Lake's log, PAPERS.md VLDB 2020 §3, on a local file
system). It is the table's only metadata store: ``Warehouse`` and the
stream source read tables, history and idempotence ledgers through it.

A table's version dir (``_v`` on main, ``_v@<branch>`` on a branch) holds:

- ``<v:08d>.json``: commit ``v``, published once by an ``os.link`` CAS
  (the link fails if the version exists), as two JSON lines. Line 1,
  the header: ``version``, ``ts``, ``op``; ``txn``, ``copied`` and
  ``mv_stamp`` when the commit has them; ``schema`` and ``physical``
  only when it changes them; ``summary``, Iceberg's snapshot summary
  totals of the new state. Line 2, the actions: ``add`` (file entries
  the commit adds or changes) and ``remove`` (paths it drops);
  ``add_deletes`` and ``remove_deletes``, the same for merge-on-read
  delete files; its ``change_files``. History (:func:`commit_info`)
  parses line 1 only; :func:`read_version` merges both.
- ``<v:08d>.ckpt``: the full state after version ``v`` in the planning
  layout. One JSON header line ``{version, schema, physical, deletes,
  commit, txns, copied, n_entries, groups}`` (``commit``: version
  ``v``'s own commit fields; ``txns``/``copied``: the :class:`State`
  ledgers), where each group is one (partition, spec) with its
  merged per-column min/max ``stats`` and the ``offset``/``length`` of its
  entries, then one compact JSON array of entries per group. The writer
  adds it after the CAS (tmp + ``os.replace``) once ``interval`` commits
  or more than ``max_tail`` added entries follow the last one; a missing
  checkpoint only lengthens the replay.
- ``_expired.json``: versions ``expire_snapshots`` expired whose action
  files a kept version still replays. They stay on disk, hidden from
  :func:`versions`.

A version file holding ``files`` (the earlier full-manifest layout) is its
own checkpoint, and a one-line version file (written before the header
line) reads whole, so tables written before the log read unchanged.

The state of version ``v`` is the newest checkpoint at or below ``v`` plus
a replay of the tail, which carries the ledgers over expired commits too.
States are memoized in a small LRU; an entry is used only while every file
it was built from keeps its identity (inode, size, mtime), and it is never
mutated, so callers get fresh containers from :func:`doc` and must not
mutate a :class:`State` they read.
"""

from __future__ import annotations

import copy
import json
import os
import threading
import uuid
from collections import OrderedDict
from typing import NamedTuple

# Canonical value of a NULL partition: the sentinel Spark uses for the
# partition directory name, so entries (derived from directory names) and
# partition values computed from data always agree.
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
EXPIRED = "_expired.json"
# per-commit fields: they describe commit v itself and never carry over
COMMIT_KEYS = ("ts", "op", "txn", "copied", "change_files", "mv_stamp")
# version-file header keys besides ``version``
HEADER_KEYS = ("ts", "op", "txn", "copied", "mv_stamp", "schema", "physical",
               "summary")
_MEMO_STATES = 16
_MEMO_HEADERS = 64


def part_key(value) -> str:
    """Canonical partition key of a partition value."""
    return NULL_PARTITION if value is None else str(value)


def version_path(vdir: str, v: int) -> str:
    return os.path.join(vdir, f"{v:08d}.json")


def checkpoint_path(vdir: str, v: int) -> str:
    return os.path.join(vdir, f"{v:08d}.ckpt")


class State(NamedTuple):
    """A version's table state. ``files``/``deletes`` map path -> entry;
    ``commit`` holds the version's own COMMIT_KEYS; the ledgers ``txns``
    (app -> highest ``txn`` version) and ``copied`` (COPY INTO source
    paths) cover every commit up to the version; ``depth`` and ``tail``
    count the commits and added entries replayed since the last
    checkpoint; ``chain`` is the identity of every file it was built from."""

    files: dict
    deletes: dict
    schema: dict | None
    physical: dict | None
    commit: dict
    txns: dict
    copied: frozenset
    depth: int
    tail: int
    chain: tuple


_EMPTY = State({}, {}, None, None, {}, {}, frozenset(), 0, 0, ())
_lock = threading.Lock()
_states: OrderedDict = OrderedDict()  # (vdir, v) -> State
_headers: OrderedDict = OrderedDict()  # file identity -> (header, data start)


def _ident_of(path: str, st) -> tuple:
    return (path, st.st_ino, st.st_size, st.st_mtime_ns)


def _read(path: str) -> tuple[dict, tuple]:
    with open(path, "rb") as f:
        ident = _ident_of(path, os.fstat(f.fileno()))
        raw = f.read()
    head, _, acts = raw.partition(b"\n")
    doc = json.loads(head)
    if acts:
        doc.update(json.loads(acts))
    return doc, ident


def read_version(vdir: str, v: int) -> dict:
    """Version ``v``'s file, header and actions merged."""
    return _read(version_path(vdir, v))[0]


def header(vdir: str, v: int) -> dict:
    """Version ``v``'s header line alone (a one-line file reads whole)."""
    with open(version_path(vdir, v), "rb") as f:
        return json.loads(f.readline())


def version_bytes(doc: dict) -> bytes:
    """``doc`` as a version file: header line, then actions line."""
    head = {k: doc[k] for k in ("version", *HEADER_KEYS) if k in doc}
    acts = {k: val for k, val in doc.items() if k not in head}
    sep = (",", ":")
    return (json.dumps(head, separators=sep) + "\n"
            + json.dumps(acts, separators=sep)).encode()


def summary(files, deletes) -> dict:
    """Iceberg's snapshot summary totals of a state's entries."""
    files = list(files)
    return {
        "n_files": len(files),
        "records": sum(e.get("records", 0) for e in files),
        "bytes": sum(e.get("bytes", 0) for e in files),
        "n_partitions": len(
            {(e.get("spec", 0), part_key(e.get("partition"))) for e in files}
        ),
        "n_deletes": len(deletes),
    }


def commit_info(vdir: str, v: int) -> dict:
    """Commit ``v``'s history row from its header line: ``version``,
    ``ts``, ``op``, ``txn`` when stamped, and the summary totals (from
    the state for a file written before the header carried them)."""
    head = header(vdir, v)
    row = {"version": v, "ts": head.get("ts", 0.0),
           "op": head.get("op") or "append"}
    if head.get("txn"):
        row["txn"] = head["txn"]
    if "summary" in head:
        row.update(head["summary"])
    else:
        st = state(vdir, v)
        row.update(summary(st.files.values(), st.deletes))
    return row


def _memo_get(vdir: str, v: int) -> State | None:
    with _lock:
        st = _states.get((vdir, v))
    if st is None:
        return None
    for path, ino, size, mtime in st.chain:
        try:
            s = os.stat(path)
        except OSError:
            return None
        if (s.st_ino, s.st_size, s.st_mtime_ns) != (ino, size, mtime):
            return None
    with _lock:
        if (vdir, v) in _states:
            _states.move_to_end((vdir, v))
    return st


def _memo_put(vdir: str, v: int, st: State) -> None:
    with _lock:
        _states[(vdir, v)] = st
        _states.move_to_end((vdir, v))
        while len(_states) > _MEMO_STATES:
            _states.popitem(last=False)


def clear_memo() -> None:
    """Forget every memoized state and checkpoint header (what a process
    restart does)."""
    with _lock:
        _states.clear()
        _headers.clear()


# -- listing ---------------------------------------------------------------


def _numbered(names, ext: str) -> list[int]:
    n = len(ext)
    return [int(f[:-n]) for f in names if f.endswith(ext) and f[:-n].isdigit()]


def hidden(vdir: str) -> set[int]:
    try:
        with open(os.path.join(vdir, EXPIRED)) as f:
            return set(json.load(f))
    except FileNotFoundError:
        return set()


def versions(vdir: str) -> list[int]:
    """Live versions of a version dir, oldest first: every version file
    but the hidden ones. The dir also holds checkpoints, a branch's
    ``_fork.json`` and staged-batch drafts; none parse as a version."""
    names = os.listdir(vdir)
    vs = _numbered(names, ".json")
    if EXPIRED in names:
        gone = hidden(vdir)
        vs = [v for v in vs if v not in gone]
    return sorted(vs)


# -- checkpoints -----------------------------------------------------------


def merge_group_stats(entries: list[dict]) -> dict:
    """Per-column [min, max] over a partition group. A column appears ONLY
    if every entry carries comparable stats for it: missing or mixed-type
    stats make the bound unprovable, so the group is conservatively kept
    by omission."""
    merged: dict = {}
    for i, e in enumerate(entries):
        stats = e.get("stats") or {}
        if i == 0:
            merged = {c: [lo, hi] for c, (lo, hi) in stats.items()}
            continue
        for c in list(merged):
            if c not in stats:
                del merged[c]
                continue
            lo, hi = stats[c]
            try:
                if lo < merged[c][0]:
                    merged[c][0] = lo
                if hi > merged[c][1]:
                    merged[c][1] = hi
            except TypeError:
                del merged[c]
    return merged


def group_entries(entries) -> list[dict]:
    """Entries grouped by (partition, spec), in first-seen order, each
    group with its merged stats and its ``entries``."""
    grouped: dict[tuple, list[dict]] = {}
    for e in entries:
        grouped.setdefault(
            (part_key(e.get("partition")), e.get("spec", 0)), []
        ).append(e)
    return [
        {"partition": es[0].get("partition"), "pk": pk, "spec": spec,
         "n": len(es), "stats": merge_group_stats(es), "entries": es}
        for (pk, spec), es in grouped.items()
    ]


def checkpoint_bytes(v: int, st: State) -> bytes:
    """The checkpoint file of state ``st`` at version ``v``."""
    blobs, groups, off = [], [], 0
    for g in group_entries(st.files.values()):
        blob = json.dumps(g.pop("entries"), separators=(",", ":")).encode()
        g.update(offset=off, length=len(blob))
        groups.append(g)
        blobs.append(blob)
        off += len(blob)
    head = {
        "version": v, "schema": st.schema, "physical": st.physical,
        "deletes": list(st.deletes.values()), "commit": st.commit,
        "txns": st.txns, "copied": sorted(st.copied),
        "n_entries": len(st.files), "groups": groups,
    }
    return json.dumps(head, separators=(",", ":")).encode() + b"\n" + b"".join(blobs)


def write_checkpoint(vdir: str, v: int, st: State) -> tuple:
    """Write version ``v``'s checkpoint (tmp + ``os.replace``); returns
    its file identity."""
    final = checkpoint_path(vdir, v)
    tmp = os.path.join(vdir, f".tmp-{uuid.uuid4().hex}.ckpt")
    try:
        with open(tmp, "wb") as f:
            f.write(checkpoint_bytes(v, st))
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return _ident_of(final, os.stat(final))


def checkpoint_header(path: str) -> tuple[dict, int, tuple]:
    """(header, offset of the first entry blob, file identity); headers
    are memoized by file identity."""
    with open(path, "rb") as f:
        ident = _ident_of(path, os.fstat(f.fileno()))
        with _lock:
            hit = _headers.get(ident)
        if hit is not None:
            return hit[0], hit[1], ident
        line = f.readline()
    head = json.loads(line)
    with _lock:
        _headers[ident] = (head, len(line))
        while len(_headers) > _MEMO_HEADERS:
            _headers.popitem(last=False)
    return head, len(line), ident


def load_groups(path: str, start: int, groups: list[dict]) -> list[dict]:
    """Seek-read ONLY the given groups' entries of a checkpoint."""
    out: list[dict] = []
    with open(path, "rb") as f:
        for g in groups:
            f.seek(start + g["offset"])
            out.extend(json.loads(f.read(g["length"])))
    return out


def read_checkpoint(path: str) -> tuple[dict, list[dict], tuple]:
    """(header, every entry, file identity) of a checkpoint."""
    with open(path, "rb") as f:
        ident = _ident_of(path, os.fstat(f.fileno()))
        raw = f.read()
    nl = raw.index(b"\n")
    head = json.loads(raw[:nl])
    start = nl + 1
    entries: list[dict] = []
    for g in head["groups"]:
        o = start + g["offset"]
        entries.extend(json.loads(raw[o:o + g["length"]]))
    return head, entries, ident


def checkpoint_state(path: str) -> State:
    """A checkpoint as a base state."""
    head, entries, ident = read_checkpoint(path)
    return State(
        {e["path"]: e for e in entries},
        {d["path"]: d for d in head.get("deletes") or ()},
        head.get("schema"), head.get("physical") or None,
        head.get("commit") or {}, head.get("txns") or {},
        frozenset(head.get("copied") or ()), 0, 0, (ident,),
    )


# -- replay ----------------------------------------------------------------


def _commit_of(doc: dict) -> dict:
    return {k: doc[k] for k in COMMIT_KEYS if k in doc}


def _ledgers(txns: dict, copied: frozenset, doc: dict) -> tuple[dict, frozenset]:
    """The ledgers after commit ``doc`` (fresh when it adds to them)."""
    if doc.get("txn"):
        app, ver = doc["txn"]
        if app not in txns or ver > txns[app]:
            txns = {**txns, app: ver}
    if doc.get("copied"):
        copied = copied.union(doc["copied"])
    return txns, copied


def _from_full(doc: dict, ident: tuple) -> State:
    """A legacy full-manifest version file as a base state (ledgers: its
    own stamps only)."""
    return State(
        {e["path"]: e for e in doc["files"]},
        {d["path"]: d for d in doc.get("deletes") or ()},
        doc.get("schema"), doc.get("physical") or None, _commit_of(doc),
        *_ledgers({}, frozenset(), doc), 0, 0, (ident,),
    )


def _walk(vdir: str, v: int, use_memo: bool):
    """Base and tail of version ``v``: ``(base, deltas)`` where base is
    ``("state", State)`` (a memoized earlier version, a legacy full doc or
    the empty state before version 0) or ``("ckpt", path)``, and deltas
    are ``(doc, ident)`` of every later version up to ``v``, oldest first.
    A checkpoint AT ``v`` is the base with no deltas."""
    cks = set(_numbered(os.listdir(vdir), ".ckpt"))
    deltas: list[tuple[dict, tuple]] = []
    u = v
    while u >= 0:
        if use_memo and u < v:
            st = _memo_get(vdir, u)
            if st is not None:
                return ("state", st), deltas[::-1]
        if u in cks and os.path.exists(checkpoint_path(vdir, u)):
            return ("ckpt", checkpoint_path(vdir, u)), deltas[::-1]
        doc, ident = _read(version_path(vdir, u))
        if "files" in doc:
            return ("state", _from_full(doc, ident)), deltas[::-1]
        deltas.append((doc, ident))
        u -= 1
    return ("state", _EMPTY), deltas[::-1]


def _replay(base: State, deltas: list[tuple[dict, tuple]]) -> State:
    files, dels = dict(base.files), dict(base.deletes)
    schema, phys, tail = base.schema, base.physical, base.tail
    txns, copied = base.txns, base.copied
    for doc, _ in deltas:
        for p in doc.get("remove", ()):
            files.pop(p, None)
        for e in doc.get("add", ()):
            files[e["path"]] = e
        for p in doc.get("remove_deletes", ()):
            dels.pop(p, None)
        for d in doc.get("add_deletes", ()):
            dels[d["path"]] = d
        if "schema" in doc:
            schema = doc["schema"]
        if "physical" in doc:
            phys = doc["physical"]
        tail += len(doc.get("add", ()))
        txns, copied = _ledgers(txns, copied, doc)
    return State(
        files, dels, schema, phys, _commit_of(deltas[-1][0]), txns, copied,
        base.depth + len(deltas), tail,
        base.chain + tuple(i for _, i in deltas),
    )


def state(vdir: str, v: int) -> State:
    """The table state after version ``v`` (memoized; do not mutate)."""
    st = _memo_get(vdir, v)
    if st is not None:
        return st
    (kind, base), deltas = _walk(vdir, v, use_memo=True)
    if kind == "ckpt":
        base = checkpoint_state(base)
        if not deltas:  # v's own checkpoint: it holds v's commit fields
            vpath = version_path(vdir, v)
            base = base._replace(
                chain=base.chain + (_ident_of(vpath, os.stat(vpath)),)
            )
    st = _replay(base, deltas) if deltas else base
    _memo_put(vdir, v, st)
    return st


def doc(vdir: str, v: int) -> dict:
    """Version ``v`` as a full manifest doc: ``version``, ``files``, and
    when present ``deletes``, ``schema``, ``physical`` plus v's own commit
    fields. Top-level containers and the small fields are fresh copies;
    entry dicts are shared and callers never mutate them (they derive
    changed entries with ``dict(e, ...)``)."""
    st = state(vdir, v)
    out: dict = {"version": v, "files": list(st.files.values())}
    if st.deletes:
        out["deletes"] = list(st.deletes.values())
    if st.schema is not None:
        out["schema"] = copy.deepcopy(st.schema)
    if st.physical:
        out["physical"] = dict(st.physical)
    out.update(copy.deepcopy(st.commit))
    return out


def delta(vdir: str, v: int) -> dict:
    """Commit ``v``'s actions (a fresh dict): ``add``/``remove``/
    ``add_deletes``/``remove_deletes`` (each possibly absent) plus its
    commit fields. A legacy full doc is diffed against version ``v - 1``."""
    raw = read_version(vdir, v)
    if "files" not in raw:
        return raw
    try:
        prev = state(vdir, v - 1) if v > 0 else _EMPTY
    except FileNotFoundError:  # a branch's first (fork) version
        prev = _EMPTY
    out = dict(_commit_of(raw), version=v)
    out.update(_diff(
        prev, {e["path"]: e for e in raw["files"]},
        {d["path"]: d for d in raw.get("deletes") or ()},
        raw.get("schema"), raw.get("physical") or None,
    ))
    return out


def _changed(old: dict, new: dict) -> tuple[list, list]:
    add = [e for p, e in new.items() if (o := old.get(p)) is not e and o != e]
    return add, [p for p in old if p not in new]


def _diff(base: State, files: dict, dels: dict, schema, phys) -> dict:
    out: dict = {}
    add, rm = _changed(base.files, files)
    add_d, rm_d = _changed(base.deletes, dels)
    for k, val in (("add", add), ("remove", rm), ("add_deletes", add_d),
                   ("remove_deletes", rm_d)):
        if val:
            out[k] = val
    if schema != base.schema:
        out["schema"] = schema
    if phys != base.physical:
        out["physical"] = phys
    return out


def publish(
    vdir: str, version: int, files: list[dict], deletes: list[dict] | None,
    schema: dict | None, physical: dict | None, commit: dict,
    interval: int, max_tail: int,
) -> dict:
    """Publish version ``version`` whose full state is given: writes its
    header and its actions against version ``version - 1`` and links them
    into place (``FileExistsError`` when the version exists: the CAS
    lost). Then adds a checkpoint when due. Returns the published doc."""
    base = state(vdir, version - 1) if version > 0 else _EMPTY
    new_files = {e["path"]: e for e in files}
    new_dels = {d["path"]: d for d in deletes or ()}
    physical = physical or None
    doc = {"version": version}
    doc.update({k: v for k, v in commit.items() if v is not None})
    doc.update(_diff(base, new_files, new_dels, schema, physical))
    doc["summary"] = summary(new_files.values(), new_dels)
    target = version_path(vdir, version)
    tmp = os.path.join(vdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "wb") as f:
        f.write(version_bytes(doc))
    try:
        os.link(tmp, target)
    finally:
        os.unlink(tmp)
    ident = _ident_of(target, os.stat(target))
    st = State(
        new_files, new_dels, schema, physical, _commit_of(doc),
        *_ledgers(base.txns, base.copied, doc),
        base.depth + 1, base.tail + len(doc.get("add", ())),
        base.chain + (ident,),
    )
    if st.depth >= interval or st.tail > max_tail:
        st = st._replace(
            depth=0, tail=0, chain=(write_checkpoint(vdir, version, st), ident)
        )
    _memo_put(vdir, version, st)
    return doc


# -- planning --------------------------------------------------------------


class PlanSource(NamedTuple):
    """What selective planning of one version reads: the base's
    partition ``groups`` (checkpoint header rows, or in-memory groups of a
    legacy base) with ``load(groups) -> entries``; the tail's live ``adds``
    (path -> entry); ``dropped``, the paths whose base copy the tail removed
    or replaced; and the version's ``deletes``, ``schema`` and ``physical``."""

    groups: list[dict]
    load: object
    adds: dict
    dropped: set
    deletes: list[dict]
    schema: dict | None
    physical: dict | None


def plan_source(vdir: str, v: int) -> PlanSource:
    """Version ``v`` for planning: the newest checkpoint's header (no
    entry parsed) plus the tail's actions."""
    (kind, base), deltas = _walk(vdir, v, use_memo=False)
    if kind == "ckpt":
        head, start, _ = checkpoint_header(base)
        groups = head["groups"]

        def load(gs, path=base, start=start):
            return load_groups(path, start, gs)
        base = _EMPTY._replace(
            deletes={d["path"]: d for d in head.get("deletes") or ()},
            schema=head.get("schema"), physical=head.get("physical") or None,
        )
    else:
        groups = group_entries(base.files.values())

        def load(gs):
            return [e for g in gs for e in g["entries"]]
        base = base._replace(files={})
    # the tail replayed onto a base without entries: its live adds
    tip = _replay(base, deltas) if deltas else base
    dropped = {
        p for d, _ in deltas
        for p in (*d.get("remove", ()), *(e["path"] for e in d.get("add", ())))
    }
    return PlanSource(
        groups, load, tip.files, dropped, list(tip.deletes.values()),
        tip.schema, tip.physical,
    )


# -- expiry ----------------------------------------------------------------


def expire(vdir: str, expired: list[int], keep: list[int]) -> None:
    """Hide ``expired`` from :func:`versions`. The action files a kept
    version replays (back to its base checkpoint or legacy doc) stay on
    disk; every other hidden version file and unused checkpoint goes."""
    names = os.listdir(vdir)
    on_disk = set(_numbered(names, ".json"))
    cks = set(_numbered(names, ".ckpt"))
    need_v: set[int] = set()
    need_ck: set[int] = set()
    for k in keep:
        need_v.add(k)
        u = k
        while u >= 0:
            if u in cks:
                need_ck.add(u)
                break
            if u not in on_disk:
                break
            need_v.add(u)
            if "files" in read_version(vdir, u):
                break
            u -= 1
    gone = (hidden(vdir) | set(expired)) & on_disk
    still = sorted(gone & need_v)
    path = os.path.join(vdir, EXPIRED)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(still, f)
    os.replace(tmp, path)
    for v in gone - need_v:
        os.remove(version_path(vdir, v))
    for c in cks - need_ck:
        if c < max(keep):
            os.remove(checkpoint_path(vdir, c))
