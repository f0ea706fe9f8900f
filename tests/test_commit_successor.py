"""One definition of a commit's snapshot state (Spark-free).

``Commit.successor`` is how every metadata-only commit, branch fork,
fast-forward and clone republishes a snapshot; the manifest read and
write iterate the dataclass fields. A field added to ``Commit`` must be
classified as snapshot state or per-commit state, or these tests fail.
"""

from __future__ import annotations

import dataclasses

from glue_hudi_spark.storage.commits import (
    PER_COMMIT_FIELDS,
    SNAPSHOT_FIELDS,
    Commit,
    CommitTimeline,
)


def test_every_commit_field_is_classified():
    names = {f.name for f in dataclasses.fields(Commit)}
    assert set(SNAPSHOT_FIELDS) | PER_COMMIT_FIELDS == names
    assert not set(SNAPSHOT_FIELDS) & PER_COMMIT_FIELDS
    assert len(set(SNAPSHOT_FIELDS)) == len(SNAPSHOT_FIELDS)


def test_successor_copies_snapshot_and_resets_per_commit_fields():
    # a distinct nested sentinel per field: a shallow copy would alias
    # the inner list, a dropped field would read back its default
    src = Commit(**{f.name: {"sentinel": f.name, "inner": [f.name]}
                    for f in dataclasses.fields(Commit)})
    nxt = src.successor(7, "touch", {"k": 1})
    for name in SNAPSHOT_FIELDS:
        got, had = getattr(nxt, name), getattr(src, name)
        assert got == had, name
        assert got is not had and got["inner"] is not had["inner"], name
    assert (nxt.commit_id, nxt.action, nxt.stats) == (7, "touch", {"k": 1})
    fresh = Commit.empty()
    for name in PER_COMMIT_FIELDS - {"commit_id", "action", "stats"}:
        assert getattr(nxt, name) == getattr(fresh, name), name


def test_successor_applies_and_copies_changes():
    src = Commit(1, "upsert", ["a"], column_mapping={"w": "v"},
                 tombstones=["_changes/x/t.parquet"])
    dvs = {"a": {"files": ["_dv/1/p.parquet"], "rows": 1}}
    nxt = src.successor(2, "delete", {}, dvs=dvs, tombstones=["t2"])
    assert nxt.dvs == dvs and nxt.dvs["a"] is not dvs["a"]
    assert nxt.tombstones == ["t2"]
    assert nxt.files == ["a"] and nxt.column_mapping == {"w": "v"}
    # without changes to them, the source's tombstones stay its own
    assert src.successor(3, "touch", {}).tombstones == []


def test_manifest_round_trips_every_field(tmp_path):
    c = Commit(
        commit_id=3, action="upsert", files=["data/3/a.parquet"],
        deltas=[{"commit_id": 3, "action": "delta_upsert",
                 "files": ["data/3/d.parquet"]}],
        schema_json='{"type": "struct", "fields": []}', wall_time=5.0,
        stats={"s": 1}, key_stats={"data/3/a.parquet": ["k0", "k9"]},
        col_stats={"data/3/a.parquet": {"v": [1, 2]}},
        file_sizes={"data/3/a.parquet": 10},
        row_counts={"data/3/a.parquet": 2},
        tombstones=["_changes/u/t.parquet"], column_mapping={"w": "v"},
        retired_cols=["x"],
        dvs={"data/3/a.parquet": {"files": ["_dv/3/p.parquet"], "rows": 1}},
        partition_spec=["pt"],
        column_defaults={"c": {"value": "d", "since": 2}})
    tl = CommitTimeline(tmp_path)
    tl.publish(c)
    assert tl.at(3) == c
