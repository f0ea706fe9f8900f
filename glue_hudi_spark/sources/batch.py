"""Bookmarked batch scan — S1 in SURVEY §2.1.

The reference reads all parquet under ``raw/<db>/<schema>/<table>/``
(probing both lower- and UPPER-case path spellings, processData.py:286-289)
through a Glue DynamicFrame whose ``transformation_ctx`` + job bookmark
ensures each file is read by at most one successful run
(processData.py:293-298, glue-stack.ts:51). That is what turns run 2 into an
incremental load.

Here the bookmark is an explicit *processed-file ledger*: a JSON file next
to the table listing every data file a successful run has consumed. A scan
lists the raw dir, anti-joins (driver-side, it's metadata) against the
ledger, and reads only the remainder. ``commit()`` is called after the
downstream write succeeds — same at-least-once-per-file, at-most-once-on-
success contract as Glue bookmarks.

At 100 TB the file listing is the scale concern, not the data: listing is
O(files) driver metadata, the ledger is append-only JSON.

``drain_batches`` cuts the same bookmark into numbered, replayable batches
for the ``streaming`` file sources. The pipeline and COPY INTO keep the
plain ledger, so a corrected file under a new name can replace a batch
the quality gate rejected.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


_FORMATS = {
    # fmt -> (glob suffixes, reader over a DataFrameReader)
    "parquet": ((".parquet",), lambda r, files: r.parquet(*files)),
    "csv": ((".csv", ".csv.gz"), lambda r, files: r.options(
        header="true", inferSchema="true").csv(list(files))),
    "json": ((".json", ".jsonl", ".json.gz"), lambda r, files:
        r.json(list(files))),
    # ORC ships in Spark core (no external package, unlike avro) —
    # the columnar landing format DMS/Flink sinks commonly emit
    "orc": ((".orc",), lambda r, files: r.orc(*files)),
}


def _swap_json(path: Path, obj) -> None:
    """Publish ``obj`` as ``path`` atomically (temp file + rename)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=path.parent, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, path)


class BookmarkedScan:
    """Incremental file reader over a raw landing directory.

    ``fmt`` widens the source surface beyond the reference's
    DMS-lands-parquet assumption: CSV (headered, schema-inferred) and
    JSON-lines land files work through the SAME ledger contract — the
    bookmark tracks files, not bytes, so the format only changes the
    reader. Schema inference is per-batch; the downstream NativeTable's
    schema-evolution path absorbs drift between batches exactly as it
    does for parquet.
    """

    def __init__(self, spark: SparkSession,
                 raw_dir: str | Path | list[str | Path],
                 ledger_path: str | Path | None = None,
                 fmt: str = "parquet"):
        dirs = raw_dir if isinstance(raw_dir, (list, tuple)) else [raw_dir]
        self.spark = spark
        self.raw_dirs = [Path(d) for d in dirs]
        self.raw_dir = self.raw_dirs[0]  # primary (lowercase) spelling
        self.ledger_path = Path(ledger_path or (self.raw_dir / "_processed_files.json"))
        if fmt not in _FORMATS:
            raise ValueError(
                f"unsupported raw format {fmt!r} (choose from {sorted(_FORMATS)})")
        self.fmt = fmt
        self._pending: list[str] = []

    # the reference probes lowercase and UPPERCASE spellings of the table
    # path (processData.py:286-289); on a case-sensitive FS we check both.
    # The lowercase spelling is always returned (even if absent yet) so a
    # ledger/default path exists; the UPPER variant joins when present.
    @staticmethod
    def candidate_dirs(base: str | Path, *parts: str) -> list[Path]:
        base = Path(base)
        primary = base.joinpath(*parts[:-1], parts[-1].lower())
        dirs = [primary]
        upper = base.joinpath(*parts[:-1], parts[-1].upper())
        if upper != primary and upper.is_dir():
            dirs.append(upper)
        return dirs

    def _processed(self) -> set[str]:
        if self.ledger_path.exists():
            return set(json.loads(self.ledger_path.read_text()))
        return set()

    def list_unprocessed(self, seen: set[str] | None = None) -> list[str]:
        """Landed files not in ``seen`` (default: the ledger), sorted. As
        in Spark's file index, a path with any component under the raw
        dir starting with ``_`` or ``.`` is skipped, so a writer's
        in-flight ``_temporary/`` or hidden staging files are never read."""
        seen = self._processed() if seen is None else seen
        suffixes = _FORMATS[self.fmt][0]
        files = sorted(
            str(p)
            for d in self.raw_dirs
            if d.is_dir()
            for p in d.rglob("*")
            if p.is_file()
            and p.name.lower().endswith(suffixes)
            and not any(c.startswith(("_", "."))
                        for c in p.relative_to(d).parts)
            and str(p) not in seen
        )
        return files

    def read_batch(self) -> DataFrame | None:
        """Read all not-yet-processed files; None if nothing new."""
        self._pending = self.list_unprocessed()
        if not self._pending:
            return None
        return _FORMATS[self.fmt][1](self.spark.read, self._pending)

    def commit(self) -> None:
        """Mark the last read batch processed (atomic ledger swap). Call
        only after the downstream table write committed."""
        if not self._pending:
            return
        _swap_json(self.ledger_path,
                   sorted(self._processed() | set(self._pending)))
        self._pending = []

    def reset(self) -> None:
        """Forget bookmark state — the replay path (resetForInitialLoad.sh)."""
        if self.ledger_path.exists():
            self.ledger_path.unlink()
        self._pending = []


def drain_batches(spark: SparkSession, raw_dir: str | Path,
                  checkpoint_dir: str | Path, schema, handler,
                  max_files: int | None = None) -> None:
    """``handler(df, batch_id)`` over every unprocessed file under
    ``raw_dir``, in sorted batches of up to ``max_files`` files read with
    ``schema``.

    ``<checkpoint_dir>/batch_log.json`` is Spark's offsets and commits
    logs in one file: ``done`` files, ``next_id`` and at most one
    ``open`` batch. A batch is written open before its handler runs and
    marked done after it returns (an atomic swap each), so a failed
    handler's batch replays first on the next drain, with the same id
    and files; the handler skips it by the batch id its sink committed."""
    ckpt = Path(checkpoint_dir)
    scan = BookmarkedScan(spark, raw_dir, ckpt / "batch_log.json")
    log = scan.ledger_path
    if not log.exists() and (ckpt / "offsets").is_dir():
        raise ValueError(
            f"checkpoint_dir {ckpt} holds a Structured Streaming "
            "checkpoint (offsets/) and no batch log; the drain does not "
            f"guess which files it covered. Seed {log.name} with "
            '{"done": [those files], "next_id": <past the sink\'s last '
            'batch id>, "open": null}')
    state = (json.loads(log.read_text()) if log.exists()
             else {"done": [], "next_id": 0, "open": None})
    reader = spark.read.schema(schema)
    while True:
        if state["open"] is None:
            files = scan.list_unprocessed(set(state["done"]))
            if not files:
                return
            state["open"] = {"id": state["next_id"],
                             "files": files[:max_files or None]}
            state["next_id"] += 1
            _swap_json(log, state)
        batch = state["open"]
        handler(_FORMATS[scan.fmt][1](reader, batch["files"]), batch["id"])
        state["done"] += batch["files"]
        state["open"] = None
        _swap_json(log, state)
