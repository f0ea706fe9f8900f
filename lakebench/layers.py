"""Per-layer metrics of a traced run (``--trace 1``).

Every metric is printed for every workload; a layer a workload never
calls reads 0. Times are seconds per operation of the named kind, taken
from the traced rounds only; counts come from commit manifests and the
driver's job records. README.md maps each metric to the end-to-end metric
it should move.
"""

from __future__ import annotations

import statistics

from spans import spark_jobs

LAYERS = ("pipeline", "sources", "cdc", "native", "commits", "catalog",
          "sql", "replicate", "materialized", "spark", "bench")
WRITES = ("native.upsert", "native.delete", "native.merge",
          "native.bulk_insert")
READS = ("lookup", "range", "scan", "incr")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class _Index:
    def __init__(self, tracer, jobs):
        self.spans = tracer.spans
        self.self_t = tracer.self_times()
        self.by_group: dict[str, list] = {}
        for j in jobs:
            self.by_group.setdefault(j.group, []).append(j)
        self.jobs = jobs
        # timed operations; engine calls made between them are not counted
        self.roots = [s for s in self.spans if s.layer == "bench"]

    def subtree(self, sp):
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[c] for c in s.children)
        return out

    def ops(self, name):
        return [r for r in self.roots if r.name == name]

    def dur(self, sp) -> float:
        return sp.end - sp.start

    def within(self, root, name):
        return [s for s in self.subtree(root) if s.name == name]

    def jobs_of(self, sp):
        return [j for s in self.subtree(sp)
                for j in self.by_group.get(f"lb-{s.sid}", [])]

    def jobs_during(self, sp):
        """Jobs of any group submitted while ``sp`` ran (streams run
        their micro-batches under their own group)."""
        return [j for j in self.jobs if sp.start <= j.submitted <= sp.end]

    def per_op(self, name, fn) -> float:
        return _mean(fn(r) for r in self.ops(name))

    def sum_dur(self, root, name) -> float:
        return sum(self.dur(s) for s in self.within(root, name))

    def layer_self(self, root, layer) -> float:
        return sum(self.self_t[s.sid] for s in self.subtree(root)
                   if s.layer == layer)


def per_layer(run) -> dict[str, tuple[float, str]]:
    ix = _Index(run.tracer, spark_jobs(run.spark.sparkContext))
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def dur(op, span):  # mean per ``op`` of the time in ``span`` calls
        return ix.per_op(op, lambda r: ix.sum_dur(r, span))

    def own(op, layer):  # mean per ``op`` of the layer's self time
        return ix.per_op(op, lambda r: ix.layer_self(r, layer))

    def jobs(op):
        return ix.per_op(op, lambda r: len(ix.jobs_of(r)))

    # -- write path: one op per process_table batch ----------------------
    put("pipeline.self_s", own("batch", "pipeline"), "s")
    put("sources.read_batch_s", dur("batch", "sources.read_batch"), "s")
    put("sources.ledger_commit_s", dur("batch", "sources.ledger_commit"),
        "s")
    put("cdc.plan_s", own("batch", "cdc"), "s")
    put("native.upsert_s", dur("batch", "native.upsert"), "s")
    put("native.delete_s", dur("batch", "native.delete"), "s")
    put("native.source_commit_s", dur("batch", "native.merge"), "s")
    writes = [s for r in ix.ops("batch") for s in ix.subtree(r)
              if s.name in WRITES]
    put("native.jobs_per_commit",
        _mean(len(ix.jobs_of(s)) for s in writes), "count")
    bs = run.count_window
    commits = sum(x.commits for x in bs) or 1
    put("native.files_rewritten",
        sum(x.files_rewritten for x in bs) / commits, "count")
    put("native.files_carried",
        sum(x.files_carried for x in bs) / commits, "count")
    put("native.bytes_written",
        sum(x.bytes_written for x in bs) / commits, "B")
    put("native.rows_written_per_row_applied",
        sum(x.rows_written for x in bs) / max(1, sum(x.rows for x in bs)),
        "ratio")
    put("catalog.register_s", dur("batch", "catalog.register_snapshot"), "s")
    put("catalog.jobs", ix.per_op("batch", lambda r: sum(
        len(ix.jobs_of(s))
        for s in ix.within(r, "catalog.register_snapshot"))), "count")
    put("spark.jobs_per_batch", jobs("batch"), "count")
    put("spark.tasks_per_batch", ix.per_op("batch", lambda r: sum(
        j.tasks for j in ix.jobs_of(r))), "count")
    timeline = run.lake.table.timeline
    head = timeline.latest()
    manifest = timeline.commits_path / f"{head.commit_id:020d}.commit.json"
    put("commits.manifest_bytes", manifest.stat().st_size, "B")
    put("commits.live_files", len(head.files), "count")
    put("proc.py_rss_mb", run.py_rss, "MB")
    put("proc.jvm_rss_mb", run.jvm_rss, "MB")
    put("session.start_s", run.session_s, "s")

    # -- read path -------------------------------------------------------
    put("native.read_keys_plan_s", dur("lookup", "native.read_keys"), "s")
    put("native.files_per_lookup",
        _mean(run.input_files.get("lookup", [])), "count")
    put("spark.lookup_exec_s", own("lookup", "spark"), "s")
    put("sql.plan_s", _mean(ix.sum_dur(r, "sql.sql")
                            for r in ix.ops("range") + ix.ops("scan")), "s")
    put("native.files_per_range",
        _mean(run.input_files.get("range", [])), "count")
    put("native.read_incremental_plan_s",
        dur("incr", "native.read_incremental"), "s")
    reads = [r for k in READS for r in ix.ops(k)]
    put("commits.latest_s",
        _mean(ix.sum_dur(r, "commits.latest") for r in reads), "s")
    for k in READS:
        put(f"spark.jobs_per_{k}", jobs(k), "count")

    # -- feed consumers --------------------------------------------------
    put("replicate.run_available_s",
        dur("drain", "replicate.run_available"), "s")
    put("replicate.apply_merge_s", dur("drain", "native.merge"), "s")
    put("replicate.startup_s", own("drain", "replicate"), "s")
    put("replicate.microbatches", ix.per_op("drain", lambda r: len(
        ix.within(r, "native.last_stream_batch_id"))), "count")
    put("spark.jobs_per_drain", ix.per_op(
        "drain", lambda r: len(ix.jobs_during(r))), "count")
    put("materialized.refresh_s", dur("refresh", "materialized.refresh"),
        "s")
    put("materialized.change_feed_plan_s",
        dur("refresh", "native.change_feed"), "s")
    put("materialized.state_merge_s", dur("refresh", "native.merge"), "s")
    put("spark.jobs_per_refresh", ix.per_op(
        "refresh", lambda r: len(ix.jobs_during(r))), "count")

    # -- self time per layer, per traced round ---------------------------
    traced = [x["wall"] for x in run.rounds if x["traced"]]
    untraced = [x["wall"] for x in run.rounds if not x["traced"]]
    n = max(1, len(traced))
    for layer in LAYERS:
        put(f"self.{layer}_s",
            sum(ix.layer_self(r, layer) for r in ix.roots) / n, "s")
    put("trace.spans_per_round",
        sum(len(ix.subtree(r)) for r in ix.roots) / n, "count")
    put("trace.overhead_s",
        statistics.median(traced) - statistics.median(untraced), "s")
    return m
