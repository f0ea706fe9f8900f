"""Named multi-table dataset RELEASES — reproducible-training pins.

A training run consumes several tables (documents, embeddings, labels…)
that each keep churning after the run starts. A release pins them
TOGETHER: one call tags every table (frozen, retention-protected
manifests — see the refs machinery) and writes a single release
manifest mapping table → (path, tag, commit id, instant). Any job, on
any session, can then load the release and read exactly the bytes every
other run of that release reads, forever — through
``NativeTable.read_snapshot(tag=...)``. The manifest records each
table's record keys and precombine field, so loading needs no table
configuration at all, just the manifest.

This is the dataset-versioning primitive DVC/lakeFS-style tools bolt on
externally, expressed natively: tags already survive retention cleaning
and block destructive restore, so a release can't rot out from under a
paper's training config.

Creation is best-effort atomic: if tagging any table fails (name
collision, missing table), every tag already created for this release
is rolled back before the error propagates — no half-releases.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from pathlib import Path

from glue_hudi_spark.storage.commits import _check_ref_name

RELEASES_DIR = "_releases"


def _tag_name(release: str) -> str:
    return f"release-{release}"


def _manifest_path(root: str | Path, name: str) -> Path:
    return Path(root) / RELEASES_DIR / f"{name}.release.json"


def create_release(name: str, tables: dict, root: str | Path) -> dict:
    """Tag every table in ``tables`` ({logical name: NativeTable}) with
    ``release-<name>`` and write the release manifest under
    ``<root>/_releases/``. Returns the manifest dict."""
    _check_ref_name(name)
    if not tables:
        raise ValueError("create_release: empty table set")
    path = _manifest_path(root, name)
    if path.exists():
        raise ValueError(f"release {name!r} already exists at {path}")
    tag = _tag_name(name)
    entries: dict[str, dict] = {}
    tagged = []
    try:
        for tname, table in tables.items():
            head = table.timeline.latest()
            if head is None:
                raise ValueError(
                    f"create_release: table {tname!r} has no commits")
            table.create_tag(tag)
            tagged.append(table)
            entries[tname] = {
                "path": str(table.root),
                "tag": tag,
                "commit_id": head.commit_id,
                "wall_time": float(head.wall_time),
                "record_keys": list(table.record_keys),
                "precombine": table.precombine,
            }
    except Exception:
        for table in tagged:  # no half-releases
            try:
                table.drop_tag(tag)
            except Exception:
                pass
        raise
    manifest = {
        "release": name,
        "created": time.time(),
        "tables": entries,
    }
    path.parent.mkdir(parents=True, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=path.parent, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(manifest, indent=1))
        try:
            os.link(tmp, path)  # two racing creates: one winner
        except FileExistsError:
            raise ValueError(
                f"release {name!r} was concurrently created") from None
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return manifest


def load_release(spark, root: str | Path, name: str) -> dict:
    """{logical name: DataFrame} pinned at the release's tags — no
    table configuration needed, the manifest + frozen tag manifests are
    the whole protocol. Read natively, so a MoR table tagged with
    pending deltas serves its merged rows."""
    from glue_hudi_spark.storage.native import NativeTable

    path = _manifest_path(root, name)
    if not path.exists():
        raise ValueError(f"no release {name!r} under {root}")
    manifest = json.loads(path.read_text())
    out = {}
    for tname, e in manifest["tables"].items():
        # older manifests record neither: a read uses the keys only for
        # bootstrapped files, the precombine field only for MoR deltas
        table = NativeTable(spark, e["path"],
                            record_keys=e.get("record_keys", []),
                            precombine=e.get("precombine"))
        out[tname] = table.read_snapshot(tag=e["tag"])
    return out


def list_releases(root: str | Path) -> list[str]:
    d = Path(root) / RELEASES_DIR
    if not d.is_dir():
        return []
    return sorted(p.name[: -len(".release.json")]
                  for p in d.glob("*.release.json"))


def drop_release(name: str, tables: dict, root: str | Path) -> None:
    """Drop the release's tags (freeing its files for retention) and its
    manifest. Tables no longer present are skipped."""
    path = _manifest_path(root, name)
    if not path.exists():
        raise ValueError(f"no release {name!r} under {root}")
    tag = _tag_name(name)
    for table in tables.values():
        try:
            table.drop_tag(tag)
        except ValueError:
            pass  # already dropped / table recreated
    path.unlink()
