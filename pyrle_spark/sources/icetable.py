"""Iceberg-style table layout: parquet data files + JSON metadata with
snapshot history and per-file stats.

No Iceberg runtime jar ships in this environment, so the engine
implements the *layout contract* itself (schema + snapshot log +
manifest of data files with row counts/byte sizes), behind one small
interface — ``write_snapshot`` / ``read_table`` / ``snapshots``.  The
encode pipeline also reuses this for its lineage manifests: a resume
pass lists committed blocks straight from the current manifest.

Layout:
    <table>/metadata/metadata.json        current pointer + snapshot log
    <table>/metadata/snap-<id>.json       manifest: data files + stats
    <table>/data/<snapshot>/part-*.parquet

Commits are atomic: the snapshot manifest is written first, then
``metadata.json`` is replaced via os.replace (rename is atomic on POSIX).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["IceTable", "clone_table", "commit_lock", "touch_lock"]

# process-wide cache of manifest SHARD contents, keyed by absolute shard
# path — shards are write-once (see IceTable._manifest), so a cached
# entry never goes stale and repeated read planning over a big table
# re-parses only the shards new commits added
_SHARD_CACHE: dict = {}

# same model for DELETE-manifest shards (read_delete_entries): shard
# files are immutable (every mutation writes a NEW dm-*.json and swaps
# the index ref), so cached contents never go stale
_DELETE_SHARD_CACHE: dict = {}


# --------------------------------------------------- delete-manifest shards
#
# The position-delete manifest mirrors the snapshot manifest's shard
# model: ``deletes/manifest.json`` is a small INDEX
# ``{"format": 2, "shards": ["dm-*.json", ...]}`` and each shard is an
# immutable ``{"entries": [...]}`` file — a takedown commit writes ONE
# new shard plus the index (O(1) entries of I/O, not a rewrite of every
# entry ever committed), and reads parse each immutable shard once per
# process.  A legacy inline-list manifest.json (pre-r5) is read as-is
# and wrapped into a shard on the first new commit.  Callers that
# mutate (append / clear markers / compact) must hold the commit lock;
# readers are lock-free, same as snapshot manifests.


def _delete_index_path(table_dir: str) -> str:
    return os.path.join(table_dir, "deletes", "manifest.json")


def _load_delete_shard(full: str) -> list:
    cached = _DELETE_SHARD_CACHE.get(full)
    if cached is None:
        if len(_DELETE_SHARD_CACHE) > 4096:
            _DELETE_SHARD_CACHE.clear()  # bound memory across many tables
        with open(full) as f:
            cached = json.load(f)["entries"]
        _DELETE_SHARD_CACHE[full] = cached
    return cached


def _write_delete_shard(table_dir: str, entries: list) -> str:
    """One immutable shard under ``deletes/``; returns its relative
    name.  Fresh uuid name per call — shards are never overwritten, so
    the per-process cache stays valid forever."""
    name = f"dm-{uuid.uuid4().hex[:12]}.json"
    full = os.path.join(table_dir, "deletes", name)
    tmp = full + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"entries": entries}, f)
    os.replace(tmp, full)
    return name


def read_delete_entries(table_dir: str) -> list:
    """Every delete-manifest entry (copies — safe to mutate).  Cost is
    O(shards added since this process last read), not O(all entries):
    immutable shards come from the per-process cache."""
    p = _delete_index_path(table_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        idx = json.load(f)
    if isinstance(idx, list):  # legacy inline form
        return idx
    out: list = []
    for ref in idx.get("shards", []):
        out.extend(
            dict(e)
            for e in _load_delete_shard(
                os.path.join(table_dir, "deletes", ref)
            )
        )
    return out


def _read_delete_index(table_dir: str):
    """The index dict; a legacy inline list is wrapped into one shard
    first so subsequent commits are O(1).  Caller holds the commit
    lock."""
    p = _delete_index_path(table_dir)
    if not os.path.exists(p):
        return {"format": 2, "shards": []}
    with open(p) as f:
        idx = json.load(f)
    if isinstance(idx, list):
        return {
            "format": 2,
            "shards": [_write_delete_shard(table_dir, idx)] if idx else [],
        }
    return idx


def _retire_delete_files(paths: list) -> None:
    """Leave shards and vector files the index no longer names to
    :meth:`IceTable.vacuum`.  A lock-free reader that loaded the old
    index, or a read planned before the swap, may still open them, so
    they are not unlinked here; touching them starts vacuum's
    ``older_than_s`` margin at the moment they were retired."""
    for full in paths:
        try:
            os.utime(full)
        except FileNotFoundError:
            pass


def _write_delete_index(table_dir: str, idx: dict) -> None:
    p = _delete_index_path(table_dir)
    tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(idx, f)
    os.replace(tmp, p)


def append_delete_entry(table_dir: str, entry: dict) -> None:
    """Commit one delete entry: one new single-entry shard + index
    update.  The write cost of the 10⁴th takedown equals the first's —
    never a rewrite of the accumulated entry list.  Caller holds the
    commit lock."""
    os.makedirs(os.path.join(table_dir, "deletes"), exist_ok=True)
    idx = _read_delete_index(table_dir)
    idx["shards"].append(_write_delete_shard(table_dir, [entry]))
    _write_delete_index(table_dir, idx)


def rewrite_delete_entries(table_dir: str, entries: list) -> None:
    """Maintenance full-rewrite (compaction): everything into ONE shard.
    The old shards stay on disk for readers still holding the old index
    and are reclaimed by vacuum's mtime-gated sweep.  Caller holds the
    commit lock."""
    old = _read_delete_index(table_dir).get("shards", [])
    idx = {
        "format": 2,
        "shards": [_write_delete_shard(table_dir, entries)] if entries else [],
    }
    _write_delete_index(table_dir, idx)
    _retire_delete_files(
        [os.path.join(table_dir, "deletes", ref) for ref in old]
    )


def _clear_conditional_markers(table_dir: str, expired_ids: set) -> None:
    """Drop ``only_if_snapshot`` markers naming expired snapshots.
    Shard-local: only shards actually holding an affected entry are
    rewritten (new shard + in-place index ref swap); untouched shards —
    the overwhelming majority on a takedown-heavy table — keep their
    bytes and their cache entries.  Caller holds the commit lock."""
    p = _delete_index_path(table_dir)
    if not expired_ids or not os.path.exists(p):
        return
    with open(p) as f:
        idx = json.load(f)
    if isinstance(idx, list):  # legacy inline form: rewrite in place
        changed = False
        for e in idx:
            if e.get("only_if_snapshot") in expired_ids:
                e.pop("only_if_snapshot")
                changed = True
        if changed:
            tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(idx, f)
            os.replace(tmp, p)
        return
    changed = False
    new_refs: list = []
    removable: list = []
    for ref in idx.get("shards", []):
        full = os.path.join(table_dir, "deletes", ref)
        shard = _load_delete_shard(full)
        if any(e.get("only_if_snapshot") in expired_ids for e in shard):
            cleared = []
            for e in shard:
                e = dict(e)
                if e.get("only_if_snapshot") in expired_ids:
                    e.pop("only_if_snapshot")
                cleared.append(e)
            new_refs.append(_write_delete_shard(table_dir, cleared))
            removable.append(full)
            changed = True
        else:
            new_refs.append(ref)
    if changed:
        _write_delete_index(table_dir, {"format": 2, "shards": new_refs})
        _retire_delete_files(removable)


@contextlib.contextmanager
def commit_lock(table_dir: str, timeout_s: float = 90.0, stale_s: float = 60.0):
    """Serialize metadata commits across concurrent writers.

    Every metadata mutation is a read-modify-write of a JSON file
    (snapshot log, delete manifest); two uncoordinated committers would
    lose one side's update.  ``os.open(O_CREAT|O_EXCL)`` is atomic on
    POSIX (and on the object-store filesystems that emulate it, this is
    the same single-writer gate Iceberg's catalogs provide via
    compare-and-swap), so one writer holds the lock while the other
    spins.  A lock older than ``stale_s`` is presumed abandoned by a
    killed process and is broken — the kill-resume workflow must not
    deadlock on its own corpse (``stale_s < timeout_s`` by default, so
    a waiter always outlives and breaks a stale lock rather than
    timing out first; a LIVE commit holds the lock for milliseconds).

    Long-held LIVE locks (expire/vacuum deleting thousands of files)
    must heartbeat via :func:`touch_lock` so their mtime stays inside
    the stale window.  Breaking is rename-then-remove: ``os.rename`` of
    the stale lock to a unique name is atomic, so of N waiters racing
    to break the same corpse exactly ONE wins — the losers' renames
    raise and they go back to spinning, never deleting a lock a winner
    just re-acquired (the TOCTOU that plain ``os.remove`` allows)."""
    lock_dir = os.path.join(table_dir, "metadata")
    os.makedirs(lock_dir, exist_ok=True)
    lock = os.path.join(lock_dir, ".commit.lock")
    t0 = time.time()
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > stale_s:
                    # atomic steal: only one waiter's rename succeeds;
                    # the renamed corpse is swept after acquisition
                    os.rename(lock, f"{lock}.stale-{uuid.uuid4().hex[:8]}")
                    continue
            except FileNotFoundError:
                continue
            if time.time() - t0 > timeout_s:
                raise TimeoutError(
                    f"commit lock {lock} held for >{timeout_s}s; another "
                    "writer is committing (or died within the stale window)"
                )
            time.sleep(0.02)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        # clean any renamed corpses left by stale breaks (harmless residue)
        for f in os.listdir(lock_dir):
            if f.startswith(".commit.lock.stale-"):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(lock_dir, f))
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock)


def _next_ts(snaps: list) -> int:
    """Strictly monotone commit timestamp: snapshots of one table never
    share a millisecond, so commit-time ordering (delete-vector
    visibility after a tagging snapshot was expired, `encode_job.py
    _delete_positions`) is exact — two sub-millisecond metadata commits
    would otherwise tie and a `ts <= read_ts` fallback could apply a
    later commit's delete to an earlier pinned read."""
    last = max((int(s["timestamp_ms"]) for s in snaps), default=-1)
    return max(int(time.time() * 1000), last + 1)


def touch_lock(table_dir: str) -> None:
    """Heartbeat the commit lock's mtime.  Long critical sections
    (expire/vacuum file deletion loops) call this periodically so a
    concurrent waiter never mistakes the LIVE lock for a stale corpse
    and breaks it mid-operation."""
    lock = os.path.join(table_dir, "metadata", ".commit.lock")
    with contextlib.suppress(FileNotFoundError):
        os.utime(lock)


@dataclass
class IceTable:
    path: str

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "metadata", "metadata.json")

    def _read_meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {"snapshots": [], "current_snapshot_id": None, "schema": None}
        with open(self._meta_path) as f:
            return json.load(f)

    def exists(self) -> bool:
        return os.path.exists(self._meta_path)

    # ------------------------------------------------------------------ write

    def write_snapshot(
        self,
        df: DataFrame,
        mode: str = "append",
        properties: dict | None = None,
        write_options: dict | None = None,
        publish: bool = True,
        branch: str | None = None,
    ) -> str:
        """Write df as a new snapshot; returns the snapshot id.

        mode="append" keeps prior snapshots' files live; "overwrite"
        starts the file list fresh (older snapshots stay readable —
        time travel — their files are never deleted here).

        ``publish=False`` STAGES the snapshot (write-audit-publish): the
        manifest commits and is readable via
        ``read_table(snapshot_id=...)`` for auditing, but the current
        pointer does not move — readers keep seeing the parent until
        :meth:`publish_snapshot` flips it (or the stage is abandoned and
        eventually expired).

        ``branch``: commit onto that branch instead of main — the parent
        and (append-mode) inherited files come from the branch head, and
        only the branch ref advances; main readers see nothing until
        :meth:`fast_forward`."""
        if branch is not None and not publish:
            raise ValueError("stage (publish=False) applies to main only")
        snap_id = self.new_snapshot_id()
        data_dir = os.path.join(self.path, "data", snap_id)
        writer = df.write.mode("errorifexists")
        for k, v in (write_options or {}).items():
            writer = writer.option(k, v)
        writer.parquet(data_dir)
        files = []
        for root, _, names in os.walk(data_dir):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    full = os.path.join(root, name)
                    # Spark writes a file per partition including EMPTY
                    # partitions (an over-partitioned shuffle on a small
                    # append leaves mostly-empty tasks); committing them
                    # bloats every future manifest and read plan, so
                    # drop them here — one footer read per file, the
                    # same O(#files) budget as the size stat
                    import pyarrow.parquet as pq

                    if pq.ParquetFile(full).metadata.num_rows == 0:
                        os.remove(full)
                        continue
                    files.append(
                        {"path": full, "bytes": os.path.getsize(full)}
                    )
        return self.commit_files(
            snap_id,
            files,
            df.schema.json(),
            mode=mode,
            properties=properties,
            publish=publish,
            branch=branch,
        )

    def new_snapshot_id(self) -> str:
        """Allocate a snapshot id for a direct-write job (tasks write data
        files under ``data/<snap_id>/`` themselves, the driver commits the
        file list afterwards via :meth:`commit_files`)."""
        return f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"

    def commit_files(
        self,
        snap_id: str,
        files: list,
        schema_json: str,
        mode: str = "append",
        properties: dict | None = None,
        publish: bool = True,
        branch: str | None = None,
    ) -> str:
        """Commit a snapshot whose data files already exist on storage —
        the Iceberg commit protocol's second half: tasks write uniquely
        named parquet files (a killed attempt leaves an orphan that
        ``vacuum`` reclaims, never a manifest entry), then ONE metadata
        read-modify-write under the commit lock links exactly the files
        the successful attempts reported.  ``files`` is a list of
        ``{"path":…, "bytes":…}`` dicts; ``schema_json`` the Spark schema
        of the rows those files hold.

        The data write is long and lock-free; only this metadata
        read-modify-write serializes (current state re-read INSIDE the
        lock, so a concurrent append committed meanwhile is linked in)."""
        if branch is not None and not publish:
            raise ValueError("stage (publish=False) applies to main only")
        with commit_lock(self.path):
            meta = self._read_meta()
            # id-based field registry (Iceberg schema-evolution model):
            # every top-level column gets a stable integer id on first
            # sight; each file entry records the {name: id} mapping it was
            # written under, so a later rename stays a metadata-only
            # operation and old files are resolved by id at read time.
            sch_fields = json.loads(schema_json)["fields"]
            fields = meta.get("fields")
            if fields is None:
                fields = [
                    {"id": i + 1, "name": f["name"], "type": f["type"]}
                    for i, f in enumerate(sch_fields)
                ]
            else:
                known = {f["name"] for f in fields}
                # never reuse a retired id: a column dropped then re-added
                # must NOT resolve old files' bytes under the old id
                nid = max(
                    meta.get("last_field_id", 0),
                    max((f["id"] for f in fields), default=0),
                ) + 1
                for f in sch_fields:
                    if f["name"] not in known:
                        fields.append(
                            {"id": nid, "name": f["name"], "type": f["type"]}
                        )
                        nid += 1
            meta["fields"] = fields
            meta["last_field_id"] = max(
                meta.get("last_field_id", 0),
                max((f["id"] for f in fields), default=0),
            )
            fid = {f["name"]: f["id"] for f in fields}
            file_ids = {f["name"]: fid[f["name"]] for f in sch_fields}
            file_types = {f["name"]: f["type"] for f in sch_fields}
            for fentry in files:
                fentry.setdefault("field_ids", file_ids)
                fentry.setdefault("types", file_types)
            if branch is not None:
                ref = meta.get("refs", {}).get(branch)
                if ref is None or ref["type"] != "branch":
                    raise KeyError(f"no branch {branch!r}")
                parent_snap = ref["snapshot_id"]
            else:
                parent_snap = meta["current_snapshot_id"]
            # sharded manifest (Iceberg's manifest-list model): this
            # commit's entries land in ONE new immutable shard; an append
            # snapshot references the parent's shard chain + the new
            # shard, so commit metadata cost is O(added files) and a
            # 10⁵-file table never rewrites its full list per commit
            prev_shards: list = []
            if mode == "append" and parent_snap:
                prev_shards = self._parent_shards(
                    self._manifest(parent_snap, materialize=False),
                    parent_snap,
                )
            shards = prev_shards + (
                [self._write_shard(f"mf-{snap_id}.json", files)]
                if files
                else []
            )
            manifest = {
                "snapshot_id": snap_id,
                "parent": parent_snap,
                "timestamp_ms": _next_ts(meta["snapshots"]),
                "mode": mode,
                "schema": schema_json,
                "field_ids": file_ids,
                "properties": properties or {},
                "manifest_shards": shards,
                "added_files": len(files),
                "added_bytes": sum(f["bytes"] for f in files),
            }
            if not publish:
                manifest["staged"] = True
            snap_path = os.path.join(self.path, "metadata", f"snap-{snap_id}.json")
            with open(snap_path, "w") as f:
                json.dump(manifest, f)
            meta["snapshots"].append(
                {
                    "id": snap_id,
                    "timestamp_ms": manifest["timestamp_ms"],
                    "mode": mode,
                    **({"staged": True} if not publish else {}),
                    **({"branch": branch} if branch else {}),
                }
            )
            if branch is not None:
                meta["refs"][branch]["snapshot_id"] = snap_id
            elif publish:
                meta["current_snapshot_id"] = snap_id
                meta["schema"] = schema_json
            tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._meta_path)  # atomic commit
        return snap_id

    def publish_snapshot(self, snapshot_id: str) -> str:
        """Publish a staged snapshot (the P of write-audit-publish):
        flip the current pointer to it AFTER the audit passed.

        Optimistic-concurrency check: publishing fails if another commit
        moved the table since the stage was written (the staged manifest
        embeds its parent's file list — publishing over an interleaved
        commit would silently drop that commit's files, the classic
        lost update)."""
        with commit_lock(self.path):
            meta = self._read_meta()
            # materialize=False: this manifest is rewritten below — the
            # shard refs must carry through, not a baked-inline file list
            manifest = self._manifest(snapshot_id, materialize=False)
            if not manifest.get("staged"):
                raise ValueError(f"snapshot {snapshot_id} is not staged")
            if manifest["parent"] != meta["current_snapshot_id"]:
                raise RuntimeError(
                    f"publish conflict: {snapshot_id} was staged on parent "
                    f"{manifest['parent']} but the table moved to "
                    f"{meta['current_snapshot_id']}; re-stage on the new "
                    "current snapshot"
                )
            manifest.pop("staged", None)
            snap_path = os.path.join(
                self.path, "metadata", f"snap-{snapshot_id}.json"
            )
            with open(snap_path, "w") as f:
                json.dump(manifest, f)
            for s in meta["snapshots"]:
                if s["id"] == snapshot_id:
                    s.pop("staged", None)
            meta["current_snapshot_id"] = snapshot_id
            meta["schema"] = manifest["schema"]
            tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._meta_path)
        return snapshot_id

    # ------------------------------------------------------------------- refs

    def create_tag(self, name: str, snapshot_id: str | None = None) -> str:
        """An immutable named pointer (Iceberg ref of type tag): pin
        "the snapshot we trained run X on" forever, independent of where
        the main pointer moves.  Tagged snapshots survive
        ``expire_snapshots``."""
        return self._create_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str, snapshot_id: str | None = None) -> str:
        """A mutable named pointer: ``write_snapshot(..., branch=name)``
        advances it without touching the main pointer — the multi-commit
        generalization of write-audit-publish (audit a whole chain of
        commits, then :meth:`fast_forward` main onto it)."""
        return self._create_ref(name, "branch", snapshot_id)

    def _create_ref(self, name: str, kind: str, snapshot_id: str | None) -> str:
        with commit_lock(self.path):
            meta = self._read_meta()
            snap = snapshot_id or meta["current_snapshot_id"]
            if snap is None:
                raise FileNotFoundError(f"no snapshot in {self.path}")
            if not any(s["id"] == snap for s in meta["snapshots"]):
                raise KeyError(f"unknown snapshot {snap}")
            refs = meta.setdefault("refs", {})
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            refs[name] = {"type": kind, "snapshot_id": snap}
            self._write_meta(meta)
        return snap

    def drop_ref(self, name: str) -> None:
        with commit_lock(self.path):
            meta = self._read_meta()
            if name not in meta.get("refs", {}):
                raise KeyError(f"no ref {name!r}")
            del meta["refs"][name]
            self._write_meta(meta)

    def refs(self) -> dict:
        return dict(self._read_meta().get("refs", {}))

    def resolve_ref(self, name_or_snapshot: str) -> str:
        """A ref name resolves to its head; anything else is assumed to
        be a snapshot id (so every read API accepts either)."""
        refs = self._read_meta().get("refs", {})
        if name_or_snapshot in refs:
            return refs[name_or_snapshot]["snapshot_id"]
        return name_or_snapshot

    def snapshot_as_of(self, timestamp_ms: int) -> str:
        """``FOR TIMESTAMP AS OF``: the latest published main-chain
        snapshot committed at or before ``timestamp_ms`` (Iceberg's
        ``snapshot-at-time`` resolution).  Raises if the table has no
        snapshot that old — reading "before the table existed" is an
        error, not an empty table."""
        meta = self._read_meta()
        cur = meta["current_snapshot_id"]
        if cur is None:
            raise KeyError("table has no published snapshot")
        # walk the CURRENT history's parent chain — snapshots orphaned by
        # a rollback stay in the log with later timestamps but are not
        # part of main history and must not resolve
        by_id = {s["id"]: s for s in meta["snapshots"]}
        sid = cur
        while sid is not None:
            entry = by_id.get(sid)
            if entry is not None and entry["timestamp_ms"] <= timestamp_ms:
                return sid
            sid = self._manifest(sid)["parent"] if entry is not None else None
        raise KeyError(
            f"no snapshot at or before timestamp_ms={timestamp_ms}"
        )

    def rollback_to(self, snapshot_id: str) -> str:
        """Move the main pointer back to an existing snapshot (Iceberg's
        ``rollback_to_snapshot``).  Nothing is deleted: the abandoned
        commits stay in the log (readable by id, GC'd by expiry), so a
        bad ingest is undone in O(metadata)."""
        with commit_lock(self.path):
            meta = self._read_meta()
            target = next(
                (s for s in meta["snapshots"] if s["id"] == snapshot_id), None
            )
            if target is None:
                raise KeyError(f"unknown snapshot {snapshot_id}")
            if target.get("staged"):
                raise ValueError(f"cannot roll back to staged {snapshot_id}")
            meta["current_snapshot_id"] = snapshot_id
            meta["schema"] = self._manifest(snapshot_id)["schema"]
            self._write_meta(meta)
        return snapshot_id

    def is_ancestor(self, ancestor: str, descendant: str) -> bool:
        """Walk the parent chain of ``descendant`` looking for
        ``ancestor`` — O(history), driver metadata only."""
        cur: str | None = descendant
        while cur is not None:
            if cur == ancestor:
                return True
            try:
                cur = self._manifest(cur).get("parent")
            except FileNotFoundError:
                # parent expired by snapshot GC: the chain is severed
                # here — treat as "not an ancestor" instead of crashing
                # (fast_forward then refuses with its clear error)
                return False
        return False

    def fast_forward(self, branch: str) -> str:
        """Advance the main pointer to a branch head, REQUIRING that the
        current main snapshot is an ancestor of the branch (the git
        fast-forward rule): an interleaved main commit the branch never
        saw would otherwise be silently dropped — the same lost-update
        guard as :meth:`publish_snapshot`, generalized to a chain."""
        with commit_lock(self.path):
            meta = self._read_meta()
            ref = meta.get("refs", {}).get(branch)
            if ref is None or ref["type"] != "branch":
                raise KeyError(f"no branch {branch!r}")
            head = ref["snapshot_id"]
            cur = meta["current_snapshot_id"]
            if cur is not None and not self.is_ancestor(cur, head):
                raise RuntimeError(
                    f"fast-forward refused: main ({cur}) is not an ancestor "
                    f"of branch {branch!r} ({head}); rebase the branch"
                )
            meta["current_snapshot_id"] = head
            meta["schema"] = self._manifest(head)["schema"]
            self._write_meta(meta)
        return head

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)  # atomic commit

    def commit_metadata(self, properties: dict) -> str:
        """Metadata-only snapshot (Iceberg's schema/property evolution
        commit): the new snapshot references the SAME data files as the
        current one, only ``properties`` change.  O(manifest) driver
        work, zero data I/O; time travel to the parent still sees the
        old properties."""
        with commit_lock(self.path):
            meta = self._read_meta()
            cur = meta["current_snapshot_id"]
            if cur is None:
                raise FileNotFoundError(f"no snapshot in {self.path}")
            # raw spread: carries manifest_shards (or a legacy inline
            # list) verbatim instead of baking the whole file list back
            parent = self._manifest(cur, materialize=False)
            snap_id = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
            manifest = {
                **parent,
                "snapshot_id": snap_id,
                "parent": cur,
                "timestamp_ms": _next_ts(meta["snapshots"]),
                "mode": "metadata",
                "properties": properties,
                "added_files": 0,
                "added_bytes": 0,
            }
            snap_path = os.path.join(self.path, "metadata", f"snap-{snap_id}.json")
            with open(snap_path, "w") as f:
                json.dump(manifest, f)
            meta["snapshots"].append(
                {
                    "id": snap_id,
                    "timestamp_ms": manifest["timestamp_ms"],
                    "mode": "metadata",
                }
            )
            meta["current_snapshot_id"] = snap_id
            tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._meta_path)
        return snap_id

    _WIDENINGS = {("integer", "long"), ("float", "double")}

    def evolve_schema(
        self,
        renames: dict | None = None,
        adds: list | None = None,
        drops: list | None = None,
        widens: dict | None = None,
        properties: dict | None = None,
    ) -> str:
        """Metadata-only schema evolution (Iceberg's id-based model):
        rename / add / drop top-level columns without touching a data
        file.  ``renames`` maps old → new name; ``adds`` is a list of
        ``(name, spark_json_type)`` pairs (e.g. ``("score", "long")``) —
        added columns read as typed NULL for rows written before the
        add; ``drops`` lists names to remove (their field ids retire and
        are never reused, so an old file's column of that id is simply
        not projected).

        Old files keep their written column names; :meth:`read_table`
        resolves them through each file's recorded ``field_ids``, so a
        rename is visible on ALL rows — historical and future — while
        time travel to a pre-evolution snapshot still sees the old
        names.  ``widens`` maps name → wider type using Iceberg's
        lossless promotions only (integer→long, float→double); old files
        keep their narrow physical type and the evolved read casts them
        up.  Applies to main (commit branches carry data, not schema
        changes)."""
        renames, adds, drops = renames or {}, adds or [], drops or []
        widens = widens or {}
        with commit_lock(self.path):
            meta = self._read_meta()
            cur = meta["current_snapshot_id"]
            if cur is None:
                raise FileNotFoundError(f"no snapshot in {self.path}")
            parent = self._manifest(cur)
            sch = json.loads(parent["schema"])
            fields = meta.get("fields") or [
                {"id": i + 1, "name": f["name"], "type": f["type"]}
                for i, f in enumerate(sch["fields"])
            ]
            # high-water mark BEFORE drops, so a retired id is never reused
            max_seen = max(
                meta.get("last_field_id", 0),
                max((f["id"] for f in fields), default=0),
            )
            if any("field_ids" not in fe for fe in parent["files"]):
                raise ValueError(
                    "schema evolution requires every live data file to "
                    "carry its field-id stamp; this table has pre-upgrade "
                    "files — rewrite them (compaction / overwrite) first, "
                    "or evolution would silently mis-resolve their columns"
                )
            sf_by_name = {f["name"]: dict(f) for f in sch["fields"]}
            # the registry can hold columns absent from the PARENT commit's
            # schema (a narrower append shrinks manifest schema but never
            # the registry); synthesize their struct-field json so the
            # evolved schema stays total over the registry
            for f in fields:
                sf_by_name.setdefault(
                    f["name"],
                    {"name": f["name"], "type": f["type"], "nullable": True,
                     "metadata": {}},
                )
            by_name = {f["name"]: f for f in fields}
            for name in drops:
                if name not in by_name:
                    raise KeyError(f"drop: no column {name!r}")
                fields = [f for f in fields if f["name"] != name]
                by_name.pop(name)
                sf_by_name.pop(name, None)
            for old, new in renames.items():
                if old not in by_name:
                    raise KeyError(f"rename: no column {old!r}")
                if new in by_name:
                    raise ValueError(f"rename: column {new!r} already exists")
                f = by_name.pop(old)
                f["name"] = new
                by_name[new] = f
                if old in sf_by_name:
                    sf = sf_by_name.pop(old)
                    sf["name"] = new
                    sf_by_name[new] = sf
            for name, new_type in widens.items():
                if name not in by_name:
                    raise KeyError(f"widen: no column {name!r}")
                old_type = by_name[name]["type"]
                if (old_type, new_type) not in self._WIDENINGS:
                    raise ValueError(
                        f"widen: {old_type!r} -> {new_type!r} is not a "
                        f"lossless promotion (allowed: {sorted(self._WIDENINGS)})"
                    )
                by_name[name]["type"] = new_type
                if name in sf_by_name:
                    sf_by_name[name]["type"] = new_type
            # ids retire with their column — a fresh add must never shadow
            # a dropped id, so allocate past the highest id EVER assigned
            nid = max_seen + 1
            for name, jtype in adds:
                if name in by_name:
                    raise ValueError(f"add: column {name!r} already exists")
                nf = {"id": nid, "name": name, "type": jtype}
                fields.append(nf)
                by_name[name] = nf
                sf_by_name[name] = {
                    "name": name, "type": jtype, "nullable": True, "metadata": {},
                }
                nid += 1
            new_sch = {
                "type": "struct",
                "fields": [sf_by_name[f["name"]] for f in fields],
            }
            schema_json = json.dumps(new_sch)
            field_ids = {f["name"]: f["id"] for f in fields}
            snap_id = self.new_snapshot_id()
            manifest = {
                "snapshot_id": snap_id,
                "parent": cur,
                "timestamp_ms": _next_ts(meta["snapshots"]),
                "mode": "evolve",
                "schema": schema_json,
                "field_ids": field_ids,
                "properties": properties or parent.get("properties", {}),
                # carry the parent's shard chain — evolution is
                # metadata-only, so the file list must not be re-inlined
                "manifest_shards": self._parent_shards(
                    self._manifest(cur, materialize=False), cur
                ),
                "added_files": 0,
                "added_bytes": 0,
            }
            snap_path = os.path.join(self.path, "metadata", f"snap-{snap_id}.json")
            with open(snap_path, "w") as f:
                json.dump(manifest, f)
            meta["snapshots"].append(
                {"id": snap_id, "timestamp_ms": manifest["timestamp_ms"],
                 "mode": "evolve"}
            )
            meta["current_snapshot_id"] = snap_id
            meta["schema"] = schema_json
            meta["fields"] = fields
            meta["last_field_id"] = max(
                max_seen, max((f["id"] for f in fields), default=0)
            )
            tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._meta_path)
        return snap_id

    # ------------------------------------------------------------------- read

    def _manifest(self, snapshot_id: str, materialize: bool = True) -> dict:
        """Snapshot manifest.  New-format snapshots store their file list
        as a chain of immutable SHARD files (``manifest_shards``: one
        shard per commit, Iceberg's manifest-list model) so an append
        writes O(added) metadata, not a fresh copy of the whole table's
        file list; ``materialize=True`` (default) concatenates the
        shards into the legacy ``files`` key so every consumer keeps its
        shape.  Shards are write-once, so the per-process cache makes a
        planning pass O(changed shards) across repeated reads — the
        property that keeps a 10⁵-file table's read planning cheap.
        Writers that re-emit a manifest (publish/set_properties/evolve)
        must pass ``materialize=False`` or they would bake the full list
        back inline."""
        with open(
            os.path.join(self.path, "metadata", f"snap-{snapshot_id}.json")
        ) as f:
            m = json.load(f)
        if materialize and "files" not in m:
            files: list = []
            for ref in m.get("manifest_shards", []):
                files.extend(self._load_shard(ref))
            m["files"] = files
        return m

    def _load_shard(self, ref: str) -> list:
        """One immutable manifest shard (filename relative to
        ``metadata/`` — relative so clones stay self-contained)."""
        full = os.path.join(self.path, "metadata", ref)
        cached = _SHARD_CACHE.get(full)
        if cached is None:
            if len(_SHARD_CACHE) > 4096:
                _SHARD_CACHE.clear()  # bound memory across many tables
            with open(full) as f:
                cached = json.load(f)["files"]
            _SHARD_CACHE[full] = cached
        return cached

    def _write_shard(self, name: str, files: list) -> str:
        """Write an immutable shard under ``metadata/`` (skip if present
        — shards are content-stable for a given name) and return its
        relative ref."""
        full = os.path.join(self.path, "metadata", name)
        if not os.path.exists(full):
            tmp = full + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump({"files": files}, f)
            os.replace(tmp, full)
        return name

    def _parent_shards(self, parent_raw: dict, parent_snap: str) -> list:
        """Shard refs covering the parent's file list: its own chain, or
        — for a legacy inline-list parent — one wrap-once shard, so
        chains built on old tables still append in O(added)."""
        if "files" not in parent_raw:
            return list(parent_raw.get("manifest_shards", []))
        return [
            self._write_shard(
                f"mf-{parent_snap}-legacy.json", parent_raw["files"]
            )
        ]

    def snapshots(self) -> list[dict]:
        return self._read_meta()["snapshots"]

    def current_snapshot_id(self) -> str | None:
        return self._read_meta()["current_snapshot_id"]

    def read_table(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """Read the table at a snapshot (default: current). Time travel =
        pass an older snapshot id; a ref name (tag/branch) also works."""
        meta = self._read_meta()
        snap = snapshot_id or meta["current_snapshot_id"]
        refs = meta.get("refs", {})
        if snap in refs:
            snap = refs[snap]["snapshot_id"]
        if snap is None:
            raise FileNotFoundError(f"no snapshot in {self.path}")
        manifest = self._manifest(snap)
        paths = [f["path"] for f in manifest["files"]]
        if not paths:
            # manifest["schema"] is df.schema.json() — a JSON document,
            # not a DDL string; parse it back to a StructType
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], schema=StructType.fromJson(json.loads(manifest["schema"]))
            )
        target_ids = manifest.get("field_ids")
        sch_fields = json.loads(manifest["schema"])["fields"]
        target_types = {f["name"]: f["type"] for f in sch_fields}
        id_to_name = {v: k for k, v in (target_ids or {}).items()}

        def _file_evolved(fe) -> bool:
            ids = fe.get("field_ids")
            if ids is None:
                return False
            if ids != target_ids:
                return True
            ftypes = fe.get("types") or {}
            # same names, but a column was type-widened after this file
            # was written → its physical type is narrower than the schema
            return any(
                name in ftypes and ftypes[name] != target_types.get(name)
                for name in ids
            )

        evolved = target_ids is not None and any(
            _file_evolved(fe) for fe in manifest["files"]
        )
        if not evolved:
            return spark.read.parquet(*paths)
        # schema-evolved read: files written under older schemas are
        # resolved BY FIELD ID against this snapshot's mapping — a rename
        # aliases the file's old column name, a dropped id is not
        # projected, a widened column casts up from its narrow physical
        # type, a column added later reads as typed NULL.  One parquet
        # relation per distinct historical mapping (O(#schema versions),
        # metadata-sized planning), unioned by name.
        from collections import defaultdict
        from functools import reduce

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        target_schema = StructType.fromJson(json.loads(manifest["schema"]))
        tmap = {f.name: f.dataType for f in target_schema.fields}
        groups = defaultdict(list)
        for fe in manifest["files"]:
            ids = tuple(sorted((fe.get("field_ids") or target_ids).items()))
            # the PHYSICAL type is part of the group identity: one parquet
            # relation must not mix int32 and int64 files of a widened
            # column (the scan would reject the narrow files); json-encode
            # because complex type descriptors are unhashable dicts
            types = json.dumps(fe.get("types") or {}, sort_keys=True)
            groups[(ids, types)].append(fe["path"])
        parts = []
        for (ids, _types), gpaths in groups.items():
            df = spark.read.parquet(*gpaths)
            sel = [
                F.col(name).cast(tmap[id_to_name[fid]]).alias(id_to_name[fid])
                for name, fid in ids
                if fid in id_to_name and name in df.columns
            ]
            parts.append(df.select(*sel))
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        for f in target_schema.fields:
            if f.name not in out.columns:
                out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        return out.select([f.name for f in target_schema.fields])

    def properties(self, snapshot_id: str | None = None) -> dict:
        snap = self.resolve_ref(snapshot_id) if snapshot_id else self.current_snapshot_id()
        return self._manifest(snap)["properties"] if snap else {}

    # ------------------------------------------------------- metadata tables

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The ``table$snapshots`` metadata relation: one row per
        retained snapshot with its commit stats — queryable operational
        introspection (Iceberg's ``SELECT * FROM t$snapshots``).  Built
        from the manifests: driver-side O(#snapshots) metadata, no data
        IO."""
        meta = self._read_meta()
        cur = meta["current_snapshot_id"]
        rows = []
        for s in meta["snapshots"]:
            m = self._manifest(s["id"])
            rows.append(
                {
                    "snapshot_id": s["id"],
                    "parent_id": m.get("parent"),
                    "timestamp_ms": m["timestamp_ms"],
                    "operation": m.get("mode", "append"),
                    "added_files": m.get("added_files", 0),
                    "added_bytes": m.get("added_bytes", 0),
                    "total_files": len(m["files"]),
                    "total_bytes": sum(f["bytes"] for f in m["files"]),
                    "is_current": s["id"] == cur,
                }
            )
        return spark.createDataFrame(
            rows,
            "snapshot_id string, parent_id string, timestamp_ms long, "
            "operation string, added_files long, added_bytes long, "
            "total_files long, total_bytes long, is_current boolean",
        )

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """The ``table$lineage`` relation: one row per (snapshot,
        partition) of encode lineage — the north-star per-partition
        metrics (bytes in/out, encode MB/s) as a queryable table.
        Driver-side O(#snapshots × #partitions) metadata, no data IO."""
        meta = self._read_meta()
        rows = []
        for s in meta["snapshots"]:
            m = self._manifest(s["id"])
            lin = m.get("properties", {}).get("lineage", {})
            for p in lin.get("partitions", []):
                rows.append(
                    {
                        "snapshot_id": s["id"],
                        "part_id": int(p["part_id"]),
                        "blocks": int(p["blocks"]),
                        "rows": int(p["rows"]),
                        "bytes_in": int(p["bytes_in"]),
                        "bytes_out": int(p["bytes_out"]),
                        "encode_ns": int(p["encode_ns"]),
                        "encode_mb_per_s": float(p["encode_mb_per_s"]),
                    }
                )
        return spark.createDataFrame(
            rows,
            "snapshot_id string, part_id long, blocks long, rows long, "
            "bytes_in long, bytes_out long, encode_ns long, "
            "encode_mb_per_s double",
        )

    def files_df(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """The ``table$files`` metadata relation: one row per live data
        file in the snapshot's manifest — path, size, and the
        schema-version stamps (field ids + physical types) the evolved
        read resolves against.  Driver-side metadata only, O(#files)."""
        snap = (
            self.resolve_ref(snapshot_id)
            if snapshot_id
            else self.current_snapshot_id()
        )
        if snap is None:
            raise FileNotFoundError(f"no snapshot in {self.path}")
        manifest = self._manifest(snap)
        schema = "path string, bytes long, field_ids string, types string"
        rows = [
            (
                fe["path"],
                int(fe["bytes"]),
                json.dumps(fe.get("field_ids") or {}, sort_keys=True),
                json.dumps(fe.get("types") or {}, sort_keys=True),
            )
            for fe in manifest["files"]
        ]
        return spark.createDataFrame(rows, schema)

    def codecs_df(self, spark: SparkSession) -> DataFrame:
        """The ``table$codecs`` relation: one row per (snapshot, column,
        codec) — which codec the auto-selector chose where, with sizes
        and runs emitted.  Driver-side metadata only."""
        meta = self._read_meta()
        rows = []
        for s in meta["snapshots"]:
            m = self._manifest(s["id"])
            lin = m.get("properties", {}).get("lineage", {})
            for c in lin.get("columns", []):
                rows.append(
                    {
                        "snapshot_id": s["id"],
                        "column": c["column"],
                        "codec": c["codec"],
                        "blocks": int(c["blocks"]),
                        "bytes_in": int(c["bytes_in"]),
                        "bytes_out": int(c["bytes_out"]),
                        "runs_emitted": int(c.get("runs_emitted", 0)),
                    }
                )
        return spark.createDataFrame(
            rows,
            "snapshot_id string, column string, codec string, blocks long, "
            "bytes_in long, bytes_out long, runs_emitted long",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The ``table$history`` relation: the snapshot log in commit
        order, flagging which entries are ancestors of the CURRENT
        pointer (after a rollback, abandoned commits stay in the log
        with ``is_current_ancestor = false`` — exactly Iceberg's
        contract)."""
        meta = self._read_meta()
        ancestors = set()
        cur = meta["current_snapshot_id"]
        while cur is not None:
            ancestors.add(cur)
            try:
                cur = self._manifest(cur).get("parent")
            except FileNotFoundError:
                break
        rows = [
            {
                "made_current_at_ms": s["timestamp_ms"],
                "snapshot_id": s["id"],
                "is_current_ancestor": s["id"] in ancestors,
            }
            for s in meta["snapshots"]
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id string, "
            "is_current_ancestor boolean",
        )

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """The ``table$refs`` relation: every named pointer (main + tags
        + branches) and the snapshot it pins."""
        meta = self._read_meta()
        rows = [
            {
                "name": "main",
                "kind": "branch",
                "snapshot_id": meta["current_snapshot_id"],
            }
        ] + [
            {"name": n, "kind": r["type"], "snapshot_id": r["snapshot_id"]}
            for n, r in sorted(meta.get("refs", {}).items())
        ]
        return spark.createDataFrame(
            rows, "name string, kind string, snapshot_id string"
        )

    # ------------------------------------------------------------ maintenance

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> dict:
        """Iceberg-style ``expire_snapshots`` + orphan-file cleanup: drop
        all but the last ``keep_last`` snapshots from the log, delete
        their manifests, and remove data files no retained snapshot
        references.  ``older_than_ms`` adds Iceberg's age guard
        (``expireOlderThan``): a snapshot beyond ``keep_last`` is still
        RETAINED if it committed at or after the cutoff, so a
        time-travel window survives aggressive count-based retention.

        The current snapshot is always retained.  Metadata commits last
        and atomically (os.replace), so a crash mid-expire leaves at
        worst already-deleted *expired* files — never a broken retained
        snapshot: files are deleted only after the set of retained
        references is computed from manifests still on disk.

        Returns ``{"expired_snapshots": [...], "deleted_files": n,
        "reclaimed_bytes": n}``."""
        with commit_lock(self.path):
            return self._expire_snapshots_locked(keep_last, older_than_ms)

    def _expire_snapshots_locked(
        self, keep_last: int, older_than_ms: int | None = None
    ) -> dict:
        keep_last = max(1, keep_last)
        meta = self._read_meta()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return {"expired_snapshots": [], "deleted_files": 0, "reclaimed_bytes": 0}
        keep_ids = {s["id"] for s in snaps[-keep_last:]}
        if older_than_ms is not None:
            keep_ids |= {s["id"] for s in snaps if s["timestamp_ms"] >= older_than_ms}
        # the current pointer and every ref head (tag or branch) are
        # pinned — expiry must never break a named pointer
        keep_ids |= {meta["current_snapshot_id"]} - {None}
        keep_ids |= {r["snapshot_id"] for r in meta.get("refs", {}).values()}
        # one ordered filter over the log: _delete_positions scopes
        # delete-vector visibility by log INDEX, so retention must never
        # reorder entries relative to commit order (a pinned ref snapshot
        # interleaved with age-retained ones used to be hoisted to the
        # front, mis-applying deletes on post-expiry time-travel reads)
        retained = [s for s in snaps if s["id"] in keep_ids]
        expired = [s for s in snaps if s["id"] not in keep_ids]
        live_files = set()
        for s in retained:
            for f in self._manifest(s["id"])["files"]:
                live_files.add(f["path"])
        deleted = 0
        reclaimed = 0
        # ownership guard: expiry only ever deletes files under THIS
        # table's data root.  A shallow clone's manifests reference the
        # source table's files by absolute path — expiring clone history
        # must never reach into the source (same rule as vacuum, whose
        # walk is naturally scoped to our own data/).
        own_root = os.path.realpath(os.path.join(self.path, "data"))
        for s in expired:
            for f in self._manifest(s["id"])["files"]:
                owned = os.path.realpath(f["path"]).startswith(
                    own_root + os.sep
                )
                if owned and f["path"] not in live_files and os.path.exists(f["path"]):
                    reclaimed += os.path.getsize(f["path"])
                    os.remove(f["path"])
                    deleted += 1
                    if deleted % 100 == 0:
                        # long deletion loops must not look stale to
                        # concurrent waiters (they would break the lock)
                        touch_lock(self.path)
        # conditional delete-vector entries (only_if_snapshot) pin their
        # visibility to a snapshot's presence in the log.  The expiring
        # snapshot WAS committed — clear the marker BEFORE the log
        # shrinks, or the carried deletes silently stop applying and the
        # rows resurrect.  Crash between this rewrite and the log commit
        # is harmless: marker cleared + snapshot still logged behaves
        # identically to the marker being present.
        expired_ids = {s["id"] for s in expired}
        _clear_conditional_markers(self.path, expired_ids)
        # metadata commit: snapshot log shrinks first (atomic), manifests
        # of expired snapshots removed after — a leftover manifest file is
        # harmless (unreferenced), a missing log entry never dangles
        meta["snapshots"] = retained
        tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)
        # manifest-shard GC: a shard is removable only when NO retained
        # snapshot's chain references it (append chains share shards).
        # Collect refs from retained manifests BEFORE deleting anything.
        kept_shards: set = set()
        for s in retained:
            m = self._manifest(s["id"], materialize=False)
            kept_shards.update(m.get("manifest_shards", []))
        for s in expired:
            p = os.path.join(self.path, "metadata", f"snap-{s['id']}.json")
            if os.path.exists(p):
                try:
                    with open(p) as f:
                        em = json.load(f)
                    for ref in em.get("manifest_shards", []):
                        if ref not in kept_shards:
                            sp = os.path.join(self.path, "metadata", ref)
                            if os.path.exists(sp):
                                os.remove(sp)
                            _SHARD_CACHE.pop(sp, None)
                except (OSError, json.JSONDecodeError):
                    pass  # unreadable manifest: leave its shards
                os.remove(p)
        # prune now-empty per-snapshot data dirs
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                if os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
        return {
            "expired_snapshots": [s["id"] for s in expired],
            "deleted_files": deleted,
            "reclaimed_bytes": reclaimed,
        }

    def vacuum(
        self,
        older_than_s: float = 10_800.0,
        force: bool = False,
        dry_run: bool = False,
    ) -> dict:
        """Iceberg-style ``remove_orphan_files``: delete files under
        ``data/`` that NO retained snapshot manifest and no delete-vector
        manifest references — the residue of a writer killed between its
        parquet output and the manifest commit (the failure window the
        kill-resume test exercises; the rerun re-encodes those blocks
        into a fresh snapshot dir, stranding the partial one forever).

        ``older_than_s``: only files modified at least this many seconds
        ago are considered — the safety margin against deleting a
        CONCURRENT writer's finished-but-not-yet-committed output (the
        window ``write_snapshot`` deliberately leaves lock-free).  The
        default is 3 hours in the spirit of Iceberg's 3-day
        remove_orphan_files default; margins under 10 minutes require
        ``force=True`` (tests / known-quiescent tables only).  Marker
        files (``_SUCCESS``, ``.crc``) are orphans by definition and are
        removed on the same terms; emptied dirs are pruned.

        Holds the commit lock so the live-file set cannot shift under
        the walk (a commit racing the scan could otherwise publish a
        manifest referencing a file vacuum already judged orphaned).

        ``dry_run=True`` reports what WOULD be deleted (same counts plus
        the candidate paths under ``"candidates"``) without removing
        anything — the look-before-you-leap mode every destructive
        maintenance action should offer.

        Returns ``{"deleted_files": n, "reclaimed_bytes": n}`` (plus
        ``"candidates"`` when dry_run)."""
        if dry_run:
            # no deletions → no floor needed; still lock for a stable view
            with commit_lock(self.path):
                return self._vacuum_locked(older_than_s, dry_run=True)
        if older_than_s < 600.0 and not force:
            raise ValueError(
                f"vacuum(older_than_s={older_than_s}) below the 600s safety "
                "floor deletes concurrent writers' in-flight output; pass "
                "force=True only on a known-quiescent table"
            )
        with commit_lock(self.path):
            return self._vacuum_locked(older_than_s)

    def _vacuum_locked(self, older_than_s: float, dry_run: bool = False) -> dict:
        meta = self._read_meta()
        live = set()
        for s in meta["snapshots"]:
            for f in self._manifest(s["id"])["files"]:
                live.add(os.path.realpath(f["path"]))
        for e in read_delete_entries(self.path):
            for p in e.get("files") or [e["file"]]:
                live.add(os.path.realpath(p))
        deleted = reclaimed = 0
        candidates: list = []
        seen = 0
        cutoff = time.time() - max(0.0, older_than_s)
        data_root = os.path.join(self.path, "data")
        if not os.path.isdir(data_root):
            return {"deleted_files": 0, "reclaimed_bytes": 0}
        for root, _, names in os.walk(data_root, topdown=False):
            for name in names:
                seen += 1
                if seen % 1000 == 0:
                    # heartbeat: a long walk under the commit lock must
                    # keep the lock mtime inside the stale window, or a
                    # waiter breaks it mid-walk and the live-set guard
                    # this lock exists for is void (same discipline as
                    # expire_snapshots' deletion loop)
                    touch_lock(self.path)
                full = os.path.join(root, name)
                if os.path.realpath(full) in live:
                    continue
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue
                    reclaimed += os.path.getsize(full)
                    if dry_run:
                        candidates.append(full)
                    else:
                        os.remove(full)
                    deleted += 1
                    if deleted % 100 == 0:
                        touch_lock(self.path)
                except FileNotFoundError:
                    continue
            if not dry_run and root != data_root and not os.listdir(root):
                os.rmdir(root)
        # crash-debris sweep under deletes/: a takedown killed between
        # its shard write and the index swap (or an aborted distributed
        # vector write) leaves orphan dm-*.json / del-* files that no
        # index or entry references — harmless to reads (the index is
        # the source of truth) but worth reclaiming.  Live set: the
        # index itself, every INDEXED shard, every referenced vector
        # file (already in ``live``).  Same mtime safety floor.
        del_root = os.path.join(self.path, "deletes")
        if os.path.isdir(del_root):
            live.add(os.path.realpath(_delete_index_path(self.path)))
            idx_p = _delete_index_path(self.path)
            if os.path.exists(idx_p):
                with open(idx_p) as f:
                    idx = json.load(f)
                refs = idx.get("shards", []) if isinstance(idx, dict) else []
                for ref in refs:
                    live.add(os.path.realpath(os.path.join(del_root, ref)))
            for root, _, names in os.walk(del_root, topdown=False):
                for name in names:
                    full = os.path.join(root, name)
                    if os.path.realpath(full) in live:
                        continue
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue
                        reclaimed += os.path.getsize(full)
                        if dry_run:
                            candidates.append(full)
                        else:
                            os.remove(full)
                        deleted += 1
                    except FileNotFoundError:
                        continue
                if (
                    not dry_run
                    and root != del_root
                    and not os.listdir(root)
                ):
                    os.rmdir(root)
        out = {"deleted_files": deleted, "reclaimed_bytes": reclaimed}
        if dry_run:
            out["candidates"] = candidates
        return out


def clone_table(src_dir: str, dst_dir: str) -> dict:
    """Zero-copy SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW
    CLONE`` / an Iceberg metadata-only fork): the clone gets a full copy
    of the source's METADATA — every snapshot manifest, refs, field-id
    registry, and the delete-vector manifest — while data files stay
    where they are, referenced by absolute path.  O(metadata) cost at
    any table size; the instant-experiment primitive for a 100 TB
    corpus (branch the table, try a rewrite, throw the clone away).

    Divergence is safe by construction: new writes/deletes on the clone
    land under the clone's own ``data/`` and ``deletes/``; the source
    never sees them.  GC is ownership-guarded on BOTH sides:
    ``vacuum`` walks only a table's own data root, and
    ``expire_snapshots`` refuses to delete files outside it — so
    expiring clone history can never reach into the source (the source
    expiring shared files out from under a clone is the documented
    shallow-clone hazard, exactly as in Delta/Iceberg).

    Returns ``{"snapshots", "current_snapshot_id"}``."""
    import shutil

    src = IceTable(src_dir)
    if not src.exists():
        raise FileNotFoundError(f"no table at {src_dir}")
    dst = IceTable(dst_dir)
    if dst.exists():
        raise FileExistsError(f"destination table already exists: {dst_dir}")
    os.makedirs(os.path.join(dst_dir, "metadata"), exist_ok=True)
    with commit_lock(src_dir):  # snapshot-consistent copy of the metadata
        meta = src._read_meta()
        for s in meta["snapshots"]:
            snap_file = f"snap-{s['id']}.json"
            p = os.path.join(src_dir, "metadata", snap_file)
            if os.path.exists(p):
                shutil.copy2(p, os.path.join(dst_dir, "metadata", snap_file))
                # shard refs are metadata-dir-relative: copy the shards
                # the snapshot references so the clone is metadata-
                # self-contained (source expiry can never orphan it)
                with open(p) as f:
                    sm = json.load(f)
                for ref in sm.get("manifest_shards", []):
                    sp = os.path.join(src_dir, "metadata", ref)
                    dp = os.path.join(dst_dir, "metadata", ref)
                    if os.path.exists(sp) and not os.path.exists(dp):
                        shutil.copy2(sp, dp)
        meta["cloned_from"] = os.path.abspath(src_dir)
        tmp = dst._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, dst._meta_path)
        src_deletes = os.path.join(src_dir, "deletes")
        if os.path.exists(os.path.join(src_deletes, "manifest.json")):
            os.makedirs(os.path.join(dst_dir, "deletes"), exist_ok=True)
            # index + its immutable dm-*.json shards (entry file paths
            # stay absolute into the source — the same sharing model as
            # data blocks; the clone's own deletes land in its own dir)
            for name in os.listdir(src_deletes):
                if name == "manifest.json" or (
                    name.startswith("dm-") and name.endswith(".json")
                ):
                    shutil.copy2(
                        os.path.join(src_deletes, name),
                        os.path.join(dst_dir, "deletes", name),
                    )
    return {
        "snapshots": len(meta["snapshots"]),
        "current_snapshot_id": meta["current_snapshot_id"],
    }
