"""The store protocol the two persisted secondary indexes share
(``dedup_index.DedupIndex``, ``vector_index.VectorIndex``).

An index keeps its rows in ONE ``NativeTable`` (the store) under its own
root below the data table; each index module fixes its store's layout.
Every store commit carries the whole index metadata in its stats under
``"index"``: the build parameters plus ``indexed_commit``, the data-table
commit the store reflects — the way a replica's commits carry
``replicated_through``. A build is one ``insert_overwrite`` commit and a
refresh one ``merge`` commit (a metadata-only ``touch`` when the change
feed holds no store row), so a reader sees the store before or after a
refresh, never in between, and a refresh that fails leaves the index as
it was. A probe pins the store's head commit, checks staleness against
that commit's stats, and reads that one snapshot through the engine's own
file pruning.

The store's record key includes its partition columns, so a row's
partition follows from its key and a plain (non-global) merge finds the
old copy. Its precombine field is the merge op column: ``U`` sorts above
``D``, so a row among both the pre-images and the post-images of the
change feed (an update that leaves it as it was) stays.

An index written by the older layout — a ``meta.json`` beside private
parquet stores, no store timeline — is reported stale; ``probe``/``query``
refuse it, and its next ``refresh()`` rebuilds it from the parameters in
that file and removes the old files. The older format is read only to
bind, report and rebuild such an index.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame

from glue_hudi_spark.storage.commits import CommitTimeline
from glue_hudi_spark.storage.native import NativeTable

#: commit-stats key holding the index metadata
META = "index"
_LEGACY_META = "meta.json"


class StaleIndexError(RuntimeError):
    """The table advanced past the index's ``indexed_commit`` — call
    ``refresh()`` (or pass ``allow_stale=True`` to accept missing/moved
    rows)."""


def stored_meta(root: Path) -> dict | None:
    """The metadata of the index at ``root``: its store head's, else an
    older-layout ``meta.json``'s with ``indexed_commit`` None (its store
    reflects no commit this layout can read), else None (no index)."""
    head = CommitTimeline(root).latest()
    if head is not None:
        return head.stats[META]
    p = root / _LEGACY_META
    if not p.is_file():
        return None
    return {**json.loads(p.read_text()), "indexed_commit": None}


class StoreIndex:
    """Base of the index classes: ``table``, ``root``, ``store()`` (the
    store's handle), ``_ops(feed, meta)`` (a change feed's store rows
    with an ``op`` of ``D`` or ``U``) and ``_rebuild(meta)`` (a build
    from an older layout's parameters) come from the subclass."""

    #: the result key a refresh reports its rewritten partitions under
    _REWRITTEN = "partitions_rewritten"
    #: the older layout's store dirs, removed by its rebuild
    _LEGACY_DIRS: tuple = ()
    #: metadata keys ``status()`` reports as the index's options
    _OPTIONS: tuple = ()
    #: opt-in metadata keys it reports only when set
    _KNOBS: tuple = ()

    root: Path
    table: NativeTable

    def store(self) -> NativeTable:
        raise NotImplementedError

    def exists(self) -> bool:
        return stored_meta(self.root) is not None

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def status(self) -> dict:
        """``indexed_commit`` (None in the older layout), the table head,
        ``stale`` and the build ``options``."""
        meta = stored_meta(self.root)
        if meta is None:
            raise ValueError(f"no index at {self.root} — build() first")
        at = self.table.timeline.latest()
        indexed = meta["indexed_commit"]
        return {
            "indexed_commit": indexed,
            "table_head": at.commit_id if at else None,
            "stale": indexed is None or bool(at and at.commit_id != indexed),
            "options": {**{k: meta[k] for k in self._OPTIONS if k in meta},
                        **{k: meta[k] for k in self._KNOBS if meta.get(k)}},
        }

    def _publish(self, rows: DataFrame, meta: dict, indexed: int) -> None:
        """A build: one commit replacing the store with ``rows``."""
        self.store().insert_overwrite(
            rows, extra_stats={META: {**meta, "indexed_commit": indexed}})

    def _pinned(self, allow_stale: bool):
        """``(store, head commit id, metadata)`` for one probe or query:
        StaleIndexError when the table moved past the head's
        ``indexed_commit`` (unless ``allow_stale``) or the index is in the
        older layout."""
        store = self.store()
        head = store.timeline.latest()
        if head is None:
            if stored_meta(self.root) is not None:
                raise StaleIndexError(
                    f"index at {self.root} is in an older layout; "
                    "refresh() rebuilds it")
            raise ValueError(f"no index at {self.root} — build() first")
        meta = head.stats[META]
        at = self.table.timeline.latest()
        if (not allow_stale and at is not None
                and at.commit_id != meta["indexed_commit"]):
            raise StaleIndexError(
                f"index at {self.root} is at commit "
                f"{meta['indexed_commit']} but the table head is "
                f"{at.commit_id}; refresh() or pass allow_stale=True")
        return store, head.commit_id, meta

    def refresh(self) -> dict:
        """Catch the store up to the table head in one store commit: a
        merge of the change feed's store rows — a row only among the
        pre-images is deleted, one among the post-images upserted — so
        the cost tracks the changed rows and the partitions they touch,
        never the corpus. An empty change set records the new
        ``indexed_commit`` by a metadata-only commit. An index in the
        older layout is rebuilt instead."""
        store = self.store()
        head = store.timeline.latest()
        if head is None:
            legacy = stored_meta(self.root)
            if legacy is None:
                raise ValueError(f"no index at {self.root} — build() first")
            self._rebuild(legacy)
            for name in (_LEGACY_META, *self._LEGACY_DIRS):
                p = self.root / name
                if p.is_dir():
                    shutil.rmtree(p)
                else:
                    p.unlink(missing_ok=True)
            return {"refreshed": True, self._REWRITTEN: len(
                {store._file_partition(f)
                 for f in store.timeline.latest().files})}
        meta = head.stats[META]
        at = self.table.timeline.latest()
        if at is None or at.commit_id == meta["indexed_commit"]:
            return {"refreshed": False, self._REWRITTEN: 0}
        stats = {META: {**meta, "indexed_commit": at.commit_id}}
        # the feed pass (fingerprints or cell assignment) is the
        # expensive leg: computed once for the merge's probe and write
        ops = self._ops(self.table.change_feed(
            meta["indexed_commit"], at.commit_id), meta).persist()
        try:
            commit = store.merge(ops, op_col="op", extra_stats=stats)
        finally:
            ops.unpersist()
        if commit is None:
            store.touch(extra_stats=stats)
            return {"refreshed": True, self._REWRITTEN: 0}
        return {"refreshed": True, self._REWRITTEN: len(
            {store._file_partition(f)
             for f in set(head.files) ^ set(commit.files)})}
