"""Commit timeline for NativeTable.

Reproduces the transactional behaviors the reference gets from the Hudi
timeline: snapshot isolation for readers (a reader always sees the file set
of one fully-committed manifest), commit retention cleaning
(``KEEP_LATEST_COMMITS`` / retain 10 — processData.py:196-197), and a
consistency guarantee on publish (the reference enables
``hoodie.consistency.check.enabled`` for S3, processData.py:164; on a POSIX
filesystem an atomic rename gives the same property; on object stores a
conditional-put of the manifest plays the same role).

Layout under the table root::

    <root>/_commits/00000000000000000001.commit.json   # full live manifest
    <root>/data/00000000000000000001/<hive dirs>/*.parquet

Each manifest is a *full* snapshot (every live file), not a delta — readers
need exactly one file to plan a scan, and driver-side partition pruning is a
pure-metadata operation. At 100 TB the manifest is one JSON entry per data
file; with ~512 MB files that's ~200k entries, a few MB of JSON — fine for a
driver. (Hudi/Iceberg shard manifests at much larger file counts; the
format here leaves room for that by versioning the manifest schema.)
"""

from __future__ import annotations

import contextvars
import copy
import json
import os
import re
import tempfile
import time
from dataclasses import dataclass, field, fields
from pathlib import Path

# Writer identity for commits published while the var is set (the SQL
# layer sets it per statement). Purely informational metadata EXCEPT to
# the transaction OCC check, which uses it to tell a session's own
# in-transaction commits from a foreign writer's — see GhsSql._occ_check.
WRITER_TAG: "contextvars.ContextVar[str | None]" = contextvars.ContextVar(
    "ghs_writer_tag", default=None)

COMMITS_DIR = "_commits"
DATA_DIR = "data"
MANIFEST_VERSION = 1
# Named refs (Iceberg branch/tag class). Branch timelines live under
# _commits/refs/<name>/ as ordinary full-snapshot manifests; tags are
# FROZEN manifest copies under _commits/tags/<name>.tag.json. Ref names
# exclude "." because a branch's data dirs are suffixed
# ``data/<cid>.b-<name>`` and maintenance parses the commit id off the
# first dot (see NativeTable.vacuum).
REFS_DIR = "refs"
TAGS_DIR = "tags"
_REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_-]*$")


def _check_ref_name(name: str) -> str:
    if not _REF_NAME.match(name or ""):
        raise ValueError(
            f"invalid ref name {name!r}: use [A-Za-z0-9_-], no dots/slashes"
        )
    return name


class ConcurrentWriteError(RuntimeError):
    """Another writer published this commit id first (optimistic
    concurrency — the role of Hudi's timeline-server conflict resolution).
    The losing writer's data files are orphans the next clean() removes;
    retry the write against the refreshed timeline."""


@dataclass
class Commit:
    """One committed snapshot of the table. The field order is the key
    order of the manifest JSON (see ``CommitTimeline._payload``)."""

    commit_id: int
    action: str  # bulk_insert | insert | upsert | delete | delta_upsert | delta_delete | compact
    files: list[str]  # live *base* files, relative to table root
    deltas: list[dict] = field(default_factory=list)  # MoR: [{commit_id, action, files}]
    schema_json: str | None = None
    wall_time: float = 0.0
    stats: dict = field(default_factory=dict)
    # per-file record-key [min, max] (from parquet footers) — the record-level
    # index Hudi's bloom index provides (processData.py:369-374): upserts
    # prune files whose key range can't intersect the batch. Optional —
    # files absent here are treated as always-affected.
    key_stats: dict = field(default_factory=dict)
    # per-file per-column [min, max] for the table's configured stats_cols —
    # the column-stats index (Hudi metadata-table column_stats / Delta
    # data-skipping equivalent): reads prune files whose value range can't
    # match a predicate, before Spark ever lists them. {file: {col: [lo,hi]}}
    col_stats: dict = field(default_factory=dict)
    # per-file on-disk size in bytes, {rel: int} — carried forward across
    # commits so maintenance passes (bin_pack sliver detection, delta-bytes
    # compaction trigger) read the manifest instead of stat()-ing every
    # file on the driver: O(files) metadata round-trips on an object store.
    # Optional — absent entries fall back to a live stat().
    file_sizes: dict = field(default_factory=dict)
    # per-file row counts, {rel: int} — same carry-forward discipline;
    # serves metadata-only COUNT(*) (Delta stats-count parity) without
    # touching a data byte. Optional like file_sizes.
    row_counts: dict = field(default_factory=dict)
    # THIS commit's delete tombstones (Delta _change_data analogue): rel
    # paths of parquet files holding the key columns of rows this commit
    # deleted. NOT carried forward — per-commit change metadata, read by
    # the change-feed stream via at(cid). Commit-id-independent paths
    # (_changes/<uuid>/), so an OCC rebase carries them untouched.
    tombstones: list[str] = field(default_factory=list)
    # Column mapping (Delta column-mapping class): {logical: physical}
    # rename indirection so old files serve renamed columns WITHOUT
    # rewrite — reads rename physical->logical, writes translate back.
    # Empty dict = identity. retired_cols lists physical names of DROPPED
    # columns that may still exist in live files (reads hide them);
    # compaction/clustering materialize both back to identity.
    column_mapping: dict = field(default_factory=dict)
    retired_cols: list = field(default_factory=list)
    # Deletion vectors (Delta DV / Iceberg positional-delete class):
    # {data_rel: {"files": [dv_rels], "rows": n}} — position sidecars
    # under _dv/ marking rows of a live base file as deleted WITHOUT
    # rewriting it. CARRIED FORWARD like key_stats (an entry dies when
    # its data file leaves ``files``); readers anti-filter by
    # (file, row position). ``rows`` is the exact marked count, so
    # metadata-only COUNT(*) stays exact.
    dvs: dict = field(default_factory=dict)
    # Partition spec in force AT this commit (Iceberg partition-evolution
    # class): the list of spec strings (identity / days(ts) / bucket(N,c)
    # / truncate(W,c)) new files of this and later commits are laid out
    # under. Carried forward; evolve_partition_spec() rewrites it in a
    # metadata-only commit — files written under OLDER specs stay in
    # their old dirs and are handled conservatively (never partition-
    # pruned, always merge-affected) until compact()/cluster() migrates
    # them. None (legacy manifests) = spec never recorded; the
    # constructor's partition_keys is then authoritative.
    partition_spec: list | None = None
    # Column DEFAULT values for columns ADDED after data existed (Delta
    # ADD COLUMN ... DEFAULT class): {physical_col: {"value": <json
    # scalar>, "since": <commit id that added it>}}. A file written by a
    # commit BEFORE ``since`` physically lacks the column — readers
    # serve the default for its rows (exact: such a file cannot hold a
    # real value). Files at/after ``since`` serve stored values, so a
    # post-add writer's explicit NULL stays NULL. Carried forward;
    # compaction materializes defaults into file bytes and clears this.
    column_defaults: dict = field(default_factory=dict)

    @property
    def commit_time(self) -> str:
        """Deterministic, sortable commit token (plays the role of Hudi's
        ``_hoodie_commit_time``)."""
        return f"{self.commit_id:020d}"

    @classmethod
    def empty(cls) -> "Commit":
        """The table state before its first commit: no files, no schema."""
        return cls(0, "", [])

    def successor(self, commit_id: int, action: str, stats: dict,
                  **changes) -> "Commit":
        """The next commit over this one's snapshot: every
        :data:`SNAPSHOT_FIELDS` entry of ``self``, with ``changes``
        applied over them, copied so that the successor shares no
        container with ``self`` (which may be a cached manifest) or with
        the caller. The per-commit fields start fresh: no tombstones
        unless ``changes`` brings them, and ``wall_time`` is stamped at
        publish."""
        snapshot = {f: getattr(self, f) for f in SNAPSHOT_FIELDS}
        snapshot.update(changes)
        return Commit(commit_id=commit_id, action=action, stats=stats,
                      **copy.deepcopy(snapshot))


# What one commit says about itself rather than the table it leaves
# behind: a successor never inherits these.
PER_COMMIT_FIELDS = frozenset(
    {"commit_id", "action", "stats", "tombstones", "wall_time"})
# The snapshot: everything a reader of the commit sees of the table, and
# what a metadata-only commit, branch fork, fast-forward or clone
# republishes. Every Commit field is in exactly one of the two sets.
SNAPSHOT_FIELDS = (
    "files", "deltas", "schema_json", "key_stats", "col_stats",
    "file_sizes", "row_counts", "column_mapping", "retired_cols", "dvs",
    "partition_spec", "column_defaults",
)


class CommitTimeline:
    """Manages the ``_commits/`` directory of one table.

    ``ref`` selects a named branch (Iceberg ref class): ``None`` is the
    main timeline at ``_commits/``; a branch's manifests live under
    ``_commits/refs/<name>/`` with the SAME full-snapshot format — a fork
    is one manifest copy carrying the fork point's files by reference, so
    branching a 100-TB table is O(metadata). Branch writers stage data
    under ``data/<cid>.b-<name>/`` (see :meth:`dir_token`) so main-side
    restore/clean can never delete a branch's files by commit-id
    coincidence, and commit ids are allocated off the GLOBAL max across
    all refs so row commit-time stamps stay unique table-wide (the
    property fast-forward relies on)."""

    def __init__(self, root: str | Path, ref: str | None = None):
        self.root = Path(root)
        self.ref = _check_ref_name(ref) if ref is not None else None
        base = self.root / COMMITS_DIR
        self.commits_path = base / REFS_DIR / ref if ref else base

    def dir_token(self, commit_id: int) -> str:
        """Directory name for this commit's data files: ``<cid20>`` on
        main, ``<cid20>.b-<branch>`` on a branch — maintenance parses the
        id off the first dot, the suffix keeps cross-ref restore/vacuum
        structurally unable to touch another ref's files."""
        tok = f"{commit_id:020d}"
        return f"{tok}.b-{self.ref}" if self.ref else tok

    # -- read side ---------------------------------------------------------

    def exists(self) -> bool:
        return self.commits_path.is_dir() and any(self._manifest_paths())

    def _manifest_paths(self) -> list[Path]:
        if not self.commits_path.is_dir():
            return []
        return sorted(self.commits_path.glob("*.commit.json"))

    def latest(self) -> Commit | None:
        paths = self._manifest_paths()
        if not paths:
            return None
        return self._load(paths[-1])

    def at(self, commit_id: int) -> Commit | None:
        """Time-travel read: the snapshot as of ``commit_id``."""
        p = self.commits_path / f"{commit_id:020d}.commit.json"
        return self._load(p) if p.exists() else None

    def before(self, commit_id: int) -> Commit | None:
        """Newest commit with id strictly below ``commit_id`` — the head
        a writer allocating ``commit_id`` saw. NOT simply ``commit_id-1``:
        ids are allocated off the global max across refs, so one
        timeline's ids may have gaps."""
        best = None
        for p in self._manifest_paths():
            cid = int(p.name.split(".")[0])
            if cid < commit_id:
                best = p
        return self._load(best) if best else None

    def at_timestamp(self, ts: float | str) -> "Commit | None":
        """Newest retained commit published at or before ``ts`` — the
        Delta ``TIMESTAMP AS OF`` / Hudi as-of-instant read. ``ts`` is
        epoch seconds or an ISO-8601 string (naive strings read as UTC,
        matching the epoch wall_time the manifests record). None when
        every retained commit is newer (or wall times are missing —
        pre-field manifests)."""
        import datetime as _dt

        utc = _dt.timezone.utc
        if isinstance(ts, str):
            parsed = _dt.datetime.fromisoformat(ts)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=utc)
        else:
            parsed = _dt.datetime.fromtimestamp(ts, utc)
        # quantize wall_time through the SAME datetime path as the
        # bound: wall_time floats carry sub-µs bits (and datetime's
        # float→µs conversion is not round(x*1e6) at epoch magnitudes),
        # so a raw float compare made a commit's OWN formatted instant
        # resolve to the PREVIOUS commit whenever those bits rounded
        # differently — format-then-reparse must be identity
        best = None
        for c in self.history():
            if c.wall_time and _dt.datetime.fromtimestamp(
                    c.wall_time, utc) <= parsed:
                best = c
        return best

    def history(self, since: int = 0) -> list[Commit]:
        """Commits in id order. ``since`` skips manifests with
        commit_id <= since BY FILENAME (ids are zero-padded, so a
        string compare on the name suffices) — no JSON parse of the
        already-seen prefix, keeping OCC checks O(txn commits) instead
        of O(retained commits)."""
        paths = self._manifest_paths()
        if since:
            tok = f"{since:020d}"
            paths = [p for p in paths if p.name.split(".", 1)[0] > tok]
        return [self._load(p) for p in paths]

    # (path, size, mtime_ns) -> Commit. Manifests are immutable once
    # published (atomic link; never rewritten in place), so identity by
    # stat is exact; the cache saves a multi-MB JSON parse per
    # latest()/at() call on hot write paths (e.g. _with_meta's mapping
    # lookup). Class-level and bounded: many short-lived CommitTimeline
    # objects point at the same table.
    _manifest_cache: dict = {}
    _MANIFEST_CACHE_MAX = 256

    def _load(self, path: Path) -> Commit:
        try:
            st = path.stat()
            # inode guards the restore_to + republish flow: the same
            # manifest PATH can hold new content after a rollback reuses
            # a commit id, but it is always a fresh file (tmp + link)
            key = (str(path), st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is not None:
            hit = CommitTimeline._manifest_cache.get(key)
            if hit is not None:
                return hit
        d = json.loads(path.read_text())
        # a field an older manifest predates takes its dataclass default
        commit = Commit(**{f.name: d[f.name] for f in fields(Commit)
                           if f.name in d})
        if key is not None:
            cache = CommitTimeline._manifest_cache
            if len(cache) >= CommitTimeline._MANIFEST_CACHE_MAX:
                cache.clear()  # bounded; a refill beats LRU bookkeeping
            cache[key] = commit  # shared object: loaded commits are
            # read-only by convention (all call sites copy before edit)
        return commit

    # -- write side ----------------------------------------------------------

    def next_commit_id(self) -> int:
        """One past the GLOBAL max committed id across main and every
        branch. Within one timeline this is the familiar head+1 (OCC
        conflicts collide on the manifest filename); across refs it keeps
        commit-time stamps unique table-wide, so files carried from a
        branch into main by fast-forward can never stamp-collide with a
        main commit."""
        mx = 0
        base = self.root / COMMITS_DIR
        for pat in ("*.commit.json", f"{REFS_DIR}/*/*.commit.json"):
            for p in base.glob(pat):
                try:
                    mx = max(mx, int(p.name.split(".")[0]))
                except ValueError:
                    continue
        return mx + 1

    # -- named refs: branches + tags (Iceberg ref class) ---------------------

    def branch_timeline(self, name: str) -> "CommitTimeline":
        return CommitTimeline(self.root, ref=_check_ref_name(name))

    def branches(self) -> list[str]:
        refs_root = self.root / COMMITS_DIR / REFS_DIR
        if not refs_root.is_dir():
            return []
        return sorted(
            p.name for p in refs_root.iterdir()
            if p.is_dir() and any(p.glob("*.commit.json"))
        )

    def _tag_path(self, name: str) -> Path:
        return self.root / COMMITS_DIR / TAGS_DIR / f"{name}.tag.json"

    def tags(self) -> list[str]:
        tags_root = self.root / COMMITS_DIR / TAGS_DIR
        if not tags_root.is_dir():
            return []
        return sorted(
            p.name[: -len(".tag.json")] for p in tags_root.glob("*.tag.json")
        )

    def create_tag(self, name: str, commit: Commit) -> None:
        """Freeze ``commit`` under an immutable named tag — a full
        manifest COPY (files by reference), so the tag read needs no
        timeline entry and retention cleaning protects exactly the files
        it lists. Atomic link = two concurrent creates, one winner."""
        _check_ref_name(name)
        path = self._tag_path(name)
        path.parent.mkdir(parents=True, exist_ok=True)
        payload = dict(self._payload(commit))
        payload["tag"] = name
        payload["tagged_from_ref"] = self.ref or "main"
        # per-commit change metadata, not snapshot state — a tag read
        # never needs tombstones, and stripping them frees restore/clean
        # of cross-ref tombstone accounting
        payload["tombstones"] = []
        fd, tmp = tempfile.mkstemp(dir=path.parent, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(json.dumps(payload, indent=1))
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise ValueError(
                    f"tag {name!r} already exists at {self.root}") from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def tag_commit(self, name: str) -> Commit:
        path = self._tag_path(name)
        if not path.exists():
            raise ValueError(f"no tag {name!r} at {self.root}")
        return self._load(path)

    def drop_tag(self, name: str) -> None:
        path = self._tag_path(name)
        if not path.exists():
            raise ValueError(f"no tag {name!r} at {self.root}")
        path.unlink()

    def drop_branch(self, name: str) -> None:
        """Remove a branch's manifests. Its data files (under
        ``data/*.b-<name>/``) become orphans unless a fast-forward
        manifest on main still references them; ``vacuum()`` reclaims."""
        import shutil

        bdir = self.root / COMMITS_DIR / REFS_DIR / _check_ref_name(name)
        if not bdir.is_dir():
            raise ValueError(f"no branch {name!r} at {self.root}")
        shutil.rmtree(bdir)

    def _other_ref_manifest_paths(self) -> list[Path]:
        """Manifests of every ref EXCEPT this timeline: all tags, plus
        main (when this is a branch) and every other branch. These
        protect their referenced files from this timeline's clean() and
        restore_to()."""
        base = self.root / COMMITS_DIR
        out: list[Path] = list((base / TAGS_DIR).glob("*.tag.json")) \
            if (base / TAGS_DIR).is_dir() else []
        if self.ref is not None:
            out += list(base.glob("*.commit.json"))
        refs_root = base / REFS_DIR
        if refs_root.is_dir():
            for d in refs_root.iterdir():
                if d.is_dir() and d.name != (self.ref or ""):
                    out += list(d.glob("*.commit.json"))
        return out

    def _protected_rels(self) -> set[str]:
        """File rels (data, delta, DV) any OTHER ref still references —
        computed only on paths that are about to delete something."""
        protected: set[str] = set()
        for p in self._other_ref_manifest_paths():
            try:
                c = self._load(p)
            except Exception:
                continue  # unreadable ref manifest: fsck's problem
            protected.update(c.files)
            for d in c.deltas:
                protected.update(d["files"])
            for e in c.dvs.values():
                protected.update(e.get("files", []))
        return protected

    def _payload(self, commit: Commit) -> dict:
        payload = {"manifest_version": MANIFEST_VERSION,
                   **{f.name: getattr(commit, f.name)
                      for f in fields(Commit)}}
        payload["wall_time"] = commit.wall_time or time.time()
        return payload

    def publish(self, commit: Commit) -> None:
        """Atomically publish a manifest (write-temp + link).

        ``os.link`` (not rename) is the optimistic-concurrency check: link
        fails with EEXIST if another writer already published this commit
        id, where rename would silently clobber the winner's manifest and
        lose its files. On object stores the same role is played by a
        conditional put (if-none-match)."""
        tag = WRITER_TAG.get()
        if tag and "writer" not in commit.stats:
            commit.stats["writer"] = tag
        self.commits_path.mkdir(parents=True, exist_ok=True)
        payload = json.dumps(self._payload(commit), indent=1)
        final = self.commits_path / f"{commit.commit_id:020d}.commit.json"
        fd, tmp = tempfile.mkstemp(dir=self.commits_path, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            try:
                os.link(tmp, final)  # atomic; EEXIST → lost the race
            except FileExistsError:
                raise ConcurrentWriteError(
                    f"commit {commit.commit_id} at {self.root} was published "
                    f"by another writer; refresh the timeline and retry"
                ) from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # -- restore / rollback (Hudi `restore --instant` / `commit rollback`;
    # the reference inherits these from the Hudi CLI against the same
    # timeline its writes build, processData.py:342) -------------------------

    def restore_to(self, commit_id: int) -> dict:
        """Roll the table back to the snapshot at ``commit_id``, discarding
        every later commit — Hudi's restore-to-instant. With full-snapshot
        manifests this is pure metadata plus orphan deletion: drop the newer
        manifests, then delete data files (and their index sidecars) that
        only those manifests referenced. A reader holding the old `latest`
        manifest still sees a complete file set (its files are all retained
        by definition), so the operation is safe against concurrent reads.
        Rolling back just the newest commit (Hudi `commit rollback`) is
        ``restore_to(latest - 1)``.

        Returns {"restored_to", "rolled_back": [ids], "deleted_files"}.
        """
        # commit_id 0 = "before the first commit": empty the timeline
        # entirely (the write-audit-publish abort path for a first write)
        if commit_id != 0:
            target = self.commits_path / f"{commit_id:020d}.commit.json"
            if not target.exists():
                raise ValueError(
                    f"cannot restore {self.root} to commit {commit_id}: no "
                    f"such commit in the timeline (cleaned, rolled back, or "
                    f"never written)"
                )
        import shutil

        paths = self._manifest_paths()
        drop = [p for p in paths if int(p.name.split(".")[0]) > commit_id]
        deleted: list[str] = []
        rolled_back: list[int] = []
        dropped_dvs: set[str] = set()
        # Ref safety (Iceberg "snapshot is referenced" semantics): refuse
        # to delete data dirs a tag or another branch still references —
        # the frozen/forked manifest carries those files by reference and
        # would silently lose them. Drop the ref first, then restore.
        protected = self._protected_rels() if drop else set()
        if protected:
            doomed_pre = [
                f"{DATA_DIR}/{self.dir_token(int(p.name.split('.')[0]))}/"
                for p in drop
            ]
            hits = sorted(
                rel for rel in protected
                if any(rel.startswith(pre) for pre in doomed_pre)
            )
            if hits:
                raise ValueError(
                    f"cannot restore {self.root} to commit {commit_id}: a "
                    f"tag or branch still references rolled-back files "
                    f"(e.g. {hits[0]}); drop the ref first"
                )
        # Every data file lives under the ``data/<cid>/`` dir of the commit
        # that WROTE it, and a manifest only references files of commits
        # ≤ its own id — so nothing a retained manifest needs can live
        # under a dropped commit's dir, and the whole dir (including
        # non-manifest droppings like _SUCCESS markers, which would
        # otherwise collide when a later write reuses the commit id) goes.
        # Unpublish newest-first so a crash mid-restore leaves a timeline
        # whose latest manifest is still fully backed by files on disk.
        for p in reversed(drop):
            c = self._load(p)
            p.unlink()
            rolled_back.append(c.commit_id)
            cid_dir = self.root / DATA_DIR / self.dir_token(c.commit_id)
            if cid_dir.is_dir():
                for dirpath, _dirnames, filenames in os.walk(cid_dir):
                    for fn in filenames:
                        if fn.endswith(".parquet"):
                            deleted.append(
                                str((Path(dirpath) / fn).relative_to(self.root))
                            )
                shutil.rmtree(cid_dir)
            bloom_dir = (
                self.root / "_index" / "bloom" / DATA_DIR
                / self.dir_token(c.commit_id)
            )
            if bloom_dir.is_dir():
                shutil.rmtree(bloom_dir)
            for rel in c.tombstones:
                ts = self.root / rel
                if ts.exists():
                    ts.unlink()
                    deleted.append(rel)
            for e in c.dvs.values():
                dropped_dvs.update(e.get("files", []))
        if dropped_dvs:
            # DV sidecars are carried forward (commit-id-independent
            # paths), so delete only those no REMAINING manifest still
            # references
            live_dvs: set[str] = set()
            for p in self._manifest_paths():
                for e in self._load(p).dvs.values():
                    live_dvs.update(e.get("files", []))
            for rel in sorted(dropped_dvs - live_dvs - protected):
                dv = self.root / rel
                if dv.exists():
                    dv.unlink()
                    deleted.append(rel)
        return {
            "restored_to": commit_id,
            "rolled_back": sorted(rolled_back),
            "deleted_files": deleted,
        }

    # -- reader leases (vacuum/clean-safe long scans) -----------------------
    #
    # A reader that planned a scan from manifest N holds only a PLAN —
    # retention cleaning dropping N mid-scan deletes files the executors
    # have not opened yet (object stores especially; POSIX only protects
    # already-open handles). A lease is a tiny JSON under
    # ``_leases/<cid>-<uuid>.lease.json`` pinning ONE commit id for a
    # TTL: clean()/expire_snapshots() treat leased manifests as
    # retained, which transitively protects every file they reference
    # (and vacuum never deletes referenced files). Leases guard
    # RETENTION only — an explicit restore_to/ROLLBACK is a user state
    # change and is not blocked. Expired leases are reaped
    # opportunistically, so a crashed reader delays cleaning by at most
    # its TTL; the files are lock-free atomic writes (tmp + rename),
    # same publish discipline as manifests.

    def _leases_path(self) -> Path:
        base = self.root / "_leases"
        return base / REFS_DIR / self.ref if self.ref else base

    def acquire_lease(self, commit_id: int | None = None,
                      ttl: float = 3600.0, holder: str = "") -> Path:
        """Pin ``commit_id`` (default: head) against retention for
        ``ttl`` seconds. Returns the lease file path (pass to
        :meth:`release_lease`). The commit must still be retained."""
        if commit_id is None:
            head = self.latest()
            if head is None:
                raise ValueError("acquire_lease: table has no commits")
            commit_id = head.commit_id
        if self.at(commit_id) is None:
            raise ValueError(
                f"acquire_lease: commit {commit_id} is not retained — "
                "a lease can only pin a still-readable snapshot")
        import uuid

        d = self._leases_path()
        d.mkdir(parents=True, exist_ok=True)
        payload = {"commit_id": int(commit_id),
                   "expires_at": time.time() + float(ttl),
                   "holder": holder}
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(payload))
        final = d / f"{commit_id:020d}-{uuid.uuid4().hex}.lease.json"
        os.replace(tmp, final)
        return final

    def release_lease(self, lease: Path) -> None:
        Path(lease).unlink(missing_ok=True)

    def leased_commits(self) -> set[int]:
        """Commit ids with an unexpired lease; expired lease files are
        reaped in passing (metadata-only — one tiny JSON per lease)."""
        d = self._leases_path()
        if not d.is_dir():
            return set()
        now = time.time()
        out: set[int] = set()
        for p in sorted(d.glob("*.lease.json")):
            try:
                rec = json.loads(p.read_text())
            except (OSError, ValueError):
                continue
            if float(rec.get("expires_at", 0)) <= now:
                p.unlink(missing_ok=True)
                continue
            out.add(int(rec["commit_id"]))
        return out

    # -- cleaning (processData.py:196-197: KEEP_LATEST_COMMITS, retain 10) --

    def clean(self, retain_commits: int = 10) -> list[str]:
        """Drop manifests beyond the newest ``retain_commits`` and delete
        data files no retained manifest references. Files a TAG or another
        branch still references survive (Iceberg ref-retention semantics:
        a tagged snapshot's files outlive the timeline window that
        produced them), as do manifests a live reader LEASE pins.
        Returns deleted files."""
        paths = self._manifest_paths()
        if len(paths) <= retain_commits:
            return []
        leased = self.leased_commits()
        drop = [p for p in paths[:-retain_commits]
                if int(p.name.split(".", 1)[0]) not in leased]
        if not drop:
            return []
        keep = [p for p in paths if p not in drop]
        return self._reap(keep, drop)

    def expire_snapshots(self, older_than: float | str,
                         retain_last: int = 1) -> dict:
        """Age-based retention (Iceberg ``expire_snapshots`` parity):
        drop manifests whose publish wall-time is before ``older_than``
        (epoch seconds or ISO-8601, naive = UTC), always keeping the
        newest ``retain_last`` regardless of age, then delete the files
        only expired manifests referenced — with the same tag/branch
        protection as ``clean``. Compliance-friendly complement to the
        count-based clean: "history older than 30 days must go" is an
        age contract, not a commit-count one."""
        if isinstance(older_than, str):
            import datetime as _dt

            parsed = _dt.datetime.fromisoformat(older_than)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt.timezone.utc)
            older_than = parsed.timestamp()
        paths = self._manifest_paths()
        keep_tail = paths[-retain_last:] if retain_last > 0 else []
        leased = self.leased_commits()
        drop = [p for p in paths if p not in keep_tail
                and int(p.name.split(".", 1)[0]) not in leased
                and 0 < self._load(p).wall_time < older_than]
        keep = [p for p in paths if p not in drop]
        deleted = self._reap(keep, drop) if drop else []
        return {"expired": [int(p.name.split(".")[0]) for p in drop],
                "deleted_files": deleted}

    def _reap(self, keep: list[Path], drop: list[Path]) -> list[str]:
        """Unlink the ``drop`` manifests and delete files no ``keep``
        manifest — nor any tag or other ref — still references."""
        live: set[str] = self._protected_rels()
        for p in keep:
            c = self._load(p)
            live.update(c.files)
            for d in c.deltas:
                live.update(d["files"])
            # deletion-vector sidecars are carried forward like data
            # files — live while any retained manifest references them
            for e in c.dvs.values():
                live.update(e.get("files", []))
        deleted: list[str] = []
        for p in drop:
            c = self._load(p)
            doomed = set(c.files)
            for d in c.deltas:
                doomed.update(d["files"])
            for e in c.dvs.values():
                doomed.update(e.get("files", []))
            # tombstones are per-commit (never referenced by later
            # manifests) — they die with their manifest unconditionally
            doomed.update(c.tombstones)
            for rel in doomed - live:
                f = self.root / rel
                if f.exists():
                    f.unlink()
                    deleted.append(rel)
                # a data file's index sidecars die with it — glob catches
                # the record-key bloom AND every secondary-column bloom
                # (`<rel>.bloom`, `<rel>.col.<c>.bloom`)
                base = self.root / "_index" / "bloom" / rel
                if base.parent.is_dir():
                    for sc in base.parent.glob(base.name + ".*"):
                        sc.unlink()
            p.unlink()
        # prune empty partition/commit/sidecar dirs left behind; of
        # ``_index`` only the bloom sidecars are the table's own (the
        # secondary indexes keep their stores, tables themselves, there)
        for sub in (DATA_DIR, "_index/bloom", "_changes", "_dv"):
            sub_root = self.root / sub
            if sub_root.is_dir():
                for dirpath, dirnames, filenames in os.walk(sub_root, topdown=False):
                    if not dirnames and not filenames and Path(dirpath) != sub_root:
                        os.rmdir(dirpath)
        return deleted
