"""Named refs: branches, tags, fast-forward (Iceberg ref class).

The scale contracts under test: a branch fork / tag create is ONE
manifest copy carrying files by reference (zero data bytes moved); a
branch's data dirs are ``data/<cid>.b-<name>`` so cross-ref restore and
vacuum are structurally unable to touch another ref's files; retention
cleaning and destructive restore protect every file a living tag or
branch still references; fast-forward publishes the branch head onto
main as a metadata-only commit guarded by the normal OCC collision.

The reference delegates versioning to the Hudi timeline (savepoints,
no named branches — processData.py:342's restore is the closest op);
this is the Iceberg branch/tag/WAP surface built on the same
full-snapshot manifests.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.storage.commits import CommitTimeline, ConcurrentWriteError
from glue_hudi_spark.storage.native import NativeTable


def _df(spark, n=60, ver=1):
    return spark.range(0, n).select(
        F.format_string("k%04d", F.col("id")).alias("id"),
        F.col("id").cast("double").alias("v"),
        F.lit(ver).alias("seq"),
    )


def _mk(spark, path, **kw):
    kw.setdefault("files_per_partition", 4)
    return NativeTable(spark, path, record_keys=["id"], precombine="seq",
                       **kw)


# --------------------------------------------------------------- branches


def test_branch_isolation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("dev")
    b.upsert(_df(spark, n=5, ver=2).withColumn("v", F.col("v") + 100))
    # main untouched, branch sees its write
    assert t.read_snapshot().filter("v >= 100").count() == 0
    assert b.read_snapshot().filter("v >= 100").count() == 5
    # fork was by reference: branch dir holds ONLY the branch's new files
    fork = b.timeline.history()[0]
    assert fork.action == "create_branch"
    assert set(fork.files) == set(t.timeline.latest().files)
    head = b.timeline.latest()
    new = set(head.files) - set(fork.files)
    assert new and all(".b-dev" in f for f in new)
    assert all(".b-dev" not in f for f in t.timeline.latest().files)


def test_branch_handle_reopens(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    t.create_branch("dev").upsert(_df(spark, n=3, ver=2))
    # a fresh process opens the branch by name
    t2 = _mk(spark, tmp_path / "t", ref="dev")
    assert t2.timeline.latest().commit_id > 1
    assert t2.read_snapshot().count() == 60
    assert t.timeline.branches() == ["dev"]


def test_create_branch_conflicts(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    t.create_branch("dev")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("dev")
    with pytest.raises(ValueError, match="fork from the main"):
        t.branch("dev").create_branch("nested")
    with pytest.raises(ValueError, match="invalid ref name"):
        t.create_branch("bad.name")


def test_drop_branch_then_vacuum_reclaims(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("dev")
    b.upsert(_df(spark, n=5, ver=2))
    branch_files = [f for f in b.timeline.latest().files if ".b-dev" in f]
    assert branch_files
    # while the branch lives its files are NOT orphans
    assert not [f for f in t.validate()["orphan_files"] if ".b-dev" in f]
    t.drop_branch("dev")
    rep = t.validate()
    assert set(branch_files) <= set(rep["orphan_files"])
    v = t.vacuum()
    assert set(branch_files) <= set(v["deleted_files"])
    assert t.validate()["ok"]


def test_vacuum_spares_live_branch_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("dev")
    b.upsert(_df(spark, n=5, ver=2))
    v = t.vacuum()
    assert not [f for f in v["deleted_files"] if ".b-dev" in f]
    assert b.read_snapshot().count() == 60


def test_branch_restore_leaves_main_alone(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("dev")
    b.upsert(_df(spark, n=5, ver=2).withColumn("v", F.col("v") + 100))
    fork_id = b.timeline.history()[0].commit_id
    b.restore(fork_id)
    assert b.read_snapshot().filter("v >= 100").count() == 0
    assert t.read_snapshot().count() == 60
    assert t.validate()["ok"]


# ------------------------------------------------------------------- tags


def test_tag_read_is_frozen(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    t.create_tag("v1")
    t.upsert(_df(spark, n=10, ver=2).withColumn("v", F.col("v") + 100))
    assert t.read_snapshot(tag="v1").filter("v >= 100").count() == 0
    assert t.read_snapshot(tag="v1").count() == 60
    assert t.timeline.tags() == ["v1"]
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("v1")
    with pytest.raises(ValueError, match="no tag"):
        t.read_snapshot(tag="nope")


def test_tag_survives_retention_clean(spark, tmp_path):
    # the reproducible-training-set pin: heavy churn + aggressive
    # retention must never free a tagged snapshot's files
    t = _mk(spark, tmp_path / "t", retain_commits=2)
    t.bulk_insert(_df(spark))
    t.create_tag("v1")
    for i in range(6):
        t.upsert(_df(spark, n=60, ver=10 + i))
    assert len(t.timeline.history()) == 2  # clean is running
    assert t.read_snapshot(tag="v1").count() == 60
    assert t.validate()["ok"]


def test_restore_refuses_below_referenced_tag(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    t.upsert(_df(spark, n=5, ver=2))  # commit 2 writes data/2 files
    t.create_tag("pin")  # references commit-2 files
    with pytest.raises(ValueError, match="drop the ref first"):
        t.restore(1)
    t.drop_tag("pin")
    t.restore(1)
    assert t.read_snapshot().count() == 60
    assert t.validate()["ok"]


def test_restore_ok_when_tag_predates_target(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    t.create_tag("v1")  # at commit 1
    t.upsert(_df(spark, n=5, ver=2))
    t.restore(1)  # tag's files all live at/before the target: allowed
    assert t.read_snapshot(tag="v1").count() == 60


def test_tag_on_branch_head(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("dev")
    b.upsert(_df(spark, n=5, ver=2).withColumn("v", F.col("v") + 100))
    b.create_tag("dev-v1")
    t.drop_branch("dev")
    t.vacuum()
    # the tag keeps the branch's files alive even after the branch died
    assert t.read_snapshot(tag="dev-v1").filter("v >= 100").count() == 5


# ----------------------------------------------------------- fast-forward


def test_fast_forward_publishes_branch_head(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("audit")
    b.upsert(_df(spark, n=8, ver=2).withColumn("v", F.col("v") + 100))
    b.delete(_df(spark, n=60).filter("v >= 58").select("id"))
    branch_head_files = set(b.timeline.latest().files)
    c = t.fast_forward("audit", drop=True)
    assert c.action == "fast_forward"
    snap = t.read_snapshot()
    assert snap.filter("v >= 100").count() == 8
    assert snap.count() == 58
    assert t.timeline.branches() == []
    # metadata-only: the FF manifest's files all pre-exist (by reference)
    assert set(c.files) == branch_head_files
    assert t.validate()["ok"]
    t.vacuum()
    assert t.read_snapshot().count() == 58


def test_fast_forward_refused_when_main_advanced(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("audit")
    b.upsert(_df(spark, n=3, ver=2))
    t.upsert(_df(spark, n=1, ver=3))  # main moves past the fork base
    with pytest.raises(ConcurrentWriteError, match="main advanced"):
        t.fast_forward("audit")
    # branch still intact for re-branch-and-replay
    assert b.read_snapshot().count() == 60


def test_fast_forward_occ_vs_concurrent_writer(spark, tmp_path):
    # a concurrent main writer and the FF race the same commit id; the
    # writer loses at publish and REBASES onto the FF manifest (disjoint
    # files), so both effects land — the multi-writer contract
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    # one merge first so schema_json is already in its merged (nullable)
    # form — the rebase legality check compares schemas EXACTLY, and a
    # first-ever merge flips lit-column nullability
    t.upsert(_df(spark, n=1, ver=1))
    b = t.create_branch("audit")
    b.upsert(_df(spark, n=3, ver=2).withColumn("v", F.col("v") + 100))

    orig_publish = t.timeline.publish
    state = {"raced": False}

    def racing_publish(commit):
        if not state["raced"]:
            state["raced"] = True
            t.fast_forward("audit")  # lands first, steals the id
        return orig_publish(commit)

    t.timeline.publish = racing_publish
    try:
        # touches keys far from the branch's rewrites → rebase is legal
        t.upsert(_df(spark, n=60, ver=3).filter("v >= 55"))
    finally:
        t.timeline.publish = orig_publish
    snap = t.read_snapshot()
    assert snap.filter("v >= 100").count() == 3  # FF survived
    assert snap.filter("seq = 3").count() == 5   # writer rebased in
    assert t.timeline.latest().stats.get("occ_rebased_onto") is not None


def test_wap_via_branch(spark, tmp_path):
    # write-audit-publish as Iceberg stages it: write to an audit
    # branch, audit the branch snapshot, fast-forward only if clean
    from glue_hudi_spark.operators.expectations import (
        check_expectations, not_null)

    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    b = t.create_branch("staging")
    b.upsert(_df(spark, n=4, ver=2).withColumn("v", F.lit(None).cast("double")))
    bad = check_expectations(
        b.read_snapshot(), [not_null("v_set", "v")]).collect()
    assert any(r["violations"] for r in bad)  # audit fails on the branch
    # main never saw the bad batch; abandon the branch
    t.drop_branch("staging")
    assert t.read_snapshot().filter("v IS NULL").count() == 0
    t.vacuum()
    assert t.validate()["ok"]


def test_global_ids_keep_stamps_unique(spark, tmp_path):
    # branch commits allocate off the global max: after interleaved
    # main/branch writes and an FF, no two manifests carrying data share
    # a commit-time stamp on main's visible history
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))              # main: 1
    b = t.create_branch("dev")             # dev fork @1
    b.upsert(_df(spark, n=2, ver=2))       # dev: 2 (global max 1 → 2)
    stamps = (t.branch("dev").read_snapshot(with_meta=True)
              .select("_ghs_commit_time").distinct().count())
    assert stamps == 2
    c = t.fast_forward("dev")
    assert c.commit_id == 3  # global max (2) + 1, even though main head was 1
    assert t.read_snapshot().count() == 60


# ------------------------------------------------- age-based expiration


def test_expire_snapshots_by_age(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path / "t", retain_commits=100)
    t.bulk_insert(_df(spark))
    t.create_tag("v1")  # protects commit 1's files from expiration
    t.upsert(_df(spark, n=5, ver=2))
    t.upsert(_df(spark, n=5, ver=3))
    assert len(t.timeline.history()) == 3
    # nothing is older than epoch 1 → no-op
    r = t.expire_snapshots(older_than=1.0)
    assert r["expired"] == [] and len(t.timeline.history()) == 3
    # everything is older than now+1 → keep only the newest
    r = t.expire_snapshots(older_than=_time.time() + 1, retain_last=1)
    assert r["expired"] == [1, 2]
    assert len(t.timeline.history()) == 1
    # current state and the tagged snapshot both still read
    assert t.read_snapshot().count() == 60
    assert t.read_snapshot(tag="v1").count() == 60
    assert t.validate()["ok"]


def test_expire_snapshots_retain_last(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path / "t", retain_commits=100)
    t.bulk_insert(_df(spark))
    for i in range(4):
        t.upsert(_df(spark, n=2, ver=2 + i))
    r = t.expire_snapshots(older_than=_time.time() + 1, retain_last=3)
    assert r["expired"] == [1, 2]
    assert [c.commit_id for c in t.timeline.history()] == [3, 4, 5]
    assert t.read_snapshot().count() == 60
    # ISO-8601 form parses too (far past → no-op)
    r = t.expire_snapshots(older_than="2000-01-01T00:00:00")
    assert r["expired"] == []


# ------------------------------------------------- metadata tables


def test_metadata_tables(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq", partition_keys=["grp"],
                    files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [dict(id=f"k{i:03d}", grp=("a" if i % 2 else "b"),
              v=float(i), seq=1) for i in range(40)]))
    t.create_tag("v1")
    t.create_branch("dev")
    files = t.metadata_table("files").collect()
    assert all(r["file_type"] == "base" for r in files)
    assert sum(r["rows"] for r in files) == 40
    assert {r["partition"]["grp"] for r in files} == {"a", "b"}
    assert all(r["bytes"] > 0 and r["commit_id"] == 1 for r in files)
    parts = {tuple(sorted(r["partition"].items())): r
             for r in t.metadata_table("partitions").collect()}
    assert parts[(("grp", "a"),)]["rows"] == 20
    assert parts[(("grp", "b"),)]["n_files"] >= 1
    refs = {r["name"]: r for r in t.metadata_table("refs").collect()}
    assert refs["v1"]["type"] == "tag" and refs["v1"]["commit_id"] == 1
    assert refs["dev"]["type"] == "branch"
    snaps = t.metadata_table("snapshots").collect()
    assert [r["commit_id"] for r in snaps] == [1]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown kind"):
        t.metadata_table("nope")


def test_metadata_files_reflects_dvs_and_deltas(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "dv", record_keys=["id"],
                    precombine="seq", files_per_partition=4,
                    deletion_vectors=True)
    t.bulk_insert(spark.createDataFrame(
        [dict(id=f"k{i:03d}", v=float(i), seq=1) for i in range(40)]))
    t.delete(spark.createDataFrame([dict(id="k003"), dict(id="k017")]))
    files = t.metadata_table("files").collect()
    assert sum(r["dv_marked"] for r in files) == 2
    # partitions row count is DV-exact
    m = NativeTable(spark, tmp_path / "mor", record_keys=["id"],
                    precombine="seq", storage_type="mor",
                    files_per_partition=4, compact_every=100)
    m.bulk_insert(spark.createDataFrame(
        [dict(id=f"k{i:03d}", v=float(i), seq=1) for i in range(10)]))
    m.upsert(spark.createDataFrame([dict(id="k001", v=-1.0, seq=2)]))
    kinds = {r["file_type"] for r in m.metadata_table("files").collect()}
    assert kinds == {"base", "delta"}


def test_same_branch_occ_race_rebases(spark, tmp_path):
    # two writers on ONE branch race the commit id: per-timeline OCC is
    # unchanged by global id allocation — the loser rebases onto the
    # branch head exactly like a main-timeline loser would
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_df(spark))
    t.upsert(_df(spark, n=1, ver=1))  # normalize schema_json (merged form)
    t.create_branch("dev")
    wa = _mk(spark, tmp_path / "t", ref="dev")
    wb = _mk(spark, tmp_path / "t", ref="dev")
    orig = wb.timeline.publish
    fired = []

    def racing(commit):
        if not fired:
            fired.append(True)
            wa.upsert(_df(spark, n=60, ver=2).filter("v < 3"))
        return orig(commit)

    wb.timeline.publish = racing
    try:
        c = wb.upsert(_df(spark, n=60, ver=3).filter("v >= 57"))
    finally:
        wb.timeline.publish = orig
    assert c.stats.get("occ_rebased_from") is not None
    snap = _mk(spark, tmp_path / "t", ref="dev").read_snapshot()
    assert snap.filter("seq = 2").count() == 3   # A's write survived
    assert snap.filter("seq = 3").count() == 3   # B's write survived
    # main never saw either
    assert t.read_snapshot().filter("seq >= 2").count() == 0


# ----------------------------------------- copies carry the whole snapshot


def _evolve(spark, t):
    """Rename, drop, defaulted ADD COLUMN and a DV delete: every piece of
    snapshot state beyond the file set a copy has to carry."""
    t.rename_column("v", "w")
    t.drop_column("note")
    t.add_column("c", "string", default="dflt")
    t.delete(spark.createDataFrame([("k0001",), ("k0002",)], "id string"))


def _rows(t):
    snap = t.read_snapshot()
    cols = sorted(snap.columns)
    return cols, sorted((tuple(r[c] for c in cols) for r in snap.collect()),
                        key=str)


@pytest.mark.parametrize("how", ["create_branch", "fast_forward", "clone_to"])
def test_copies_carry_the_whole_snapshot(spark, tmp_path, how):
    t = _mk(spark, tmp_path / "t", deletion_vectors=True)
    t.bulk_insert(_df(spark, n=20).withColumn("note", F.lit("n")))
    if how == "create_branch":
        _evolve(spark, t)
        src, copy = t, t.create_branch("dev")
    elif how == "fast_forward":
        src = t.create_branch("dev")
        _evolve(spark, src)
        t.fast_forward("dev")
        src, copy = t.branch("dev"), t
    else:
        _evolve(spark, t)
        src, copy = t, t.clone_to(tmp_path / "clone")
    cols, rows = _rows(src)
    assert cols == ["c", "id", "seq", "w"]
    assert len(rows) == 18 and {r[0] for r in rows} == {"dflt"}
    assert _rows(copy) == (cols, rows)
    # the copy stays writable under the carried mapping and defaults
    batch = spark.createDataFrame(
        [("k0005", 5.5, 2, "new"), ("k0100", 1.0, 2, None)],
        "id string, w double, seq int, c string")
    src.upsert(batch)
    copy.upsert(batch)
    got = _rows(copy)
    assert got == _rows(src) and len(got[1]) == 19
    assert ("new", "k0005", 2, 5.5) in got[1]
    assert (None, "k0100", 2, 1.0) in got[1]
