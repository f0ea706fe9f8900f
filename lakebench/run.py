"""CDC lake-house benchmark: one closed-loop client drives the engine
through its public calls and prints every metric by name and unit.

    python3 lakebench/run.py --workload cdc_ingest --seed 1 \
        --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with the engine untouched.
``--trace 1`` alternates untraced and traced rounds, wraps the public
calls (``spans.TARGETS``) only during traced rounds, prints the
per-layer metrics plus the tracing overhead, and writes the spans to
``.lakebench_spans/<workload>-<seed>.jsonl``. The last stdout line is one
JSON object {correct, attempted, failed, metrics}; the line before it
(``# report``) carries the host probe, the stationarity check and the
workload-specific timings that are reported but not gated. See
lakebench/README.md for the workloads and every metric's definition.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


N_DAYS = 30  # date partitions in the initial load
ROLL_EVERY = 4  # batches per "current day"
FILES_PER_PARTITION = 1  # pinned layout: per-batch work stays level


@dataclass(frozen=True)
class Config:
    n_initial: int  # rows in the initial load
    batch_rows: int  # CDC ops per batch
    change_feed: bool  # source writes delete tombstones (feed consumers)
    single_commit: bool  # one merge commit per batch instead of I/U + D


WORKLOADS = {
    # the reference job: batches landed and applied by process_table
    # (upsert commit + delete commit, catalog sync), each followed by the
    # curated table's readers: two point lookups, a date-range SELECT, a
    # GROUP BY scan and an incremental pull
    "cdc_ingest": Config(n_initial=20_000, batch_rows=2_000,
                         change_feed=False, single_commit=False),
    # a change-feed source taking one merge commit per round, then its two
    # feed consumers: a replica drain and a per-date aggregate view refresh
    "feed_consumers": Config(n_initial=15_000, batch_rows=1_000,
                             change_feed=True, single_commit=True),
}

# untimed cdc_ingest rounds after the first batch; past them batch time
# has levelled off (the stationarity report shows any remaining slope)
WARM_ROUNDS = 2
# write_amp and the per-commit file counts cover the run's first this-many
# incremental batches, so they do not depend on how many batches the timed
# phase fits (the count of timed batches varies with host speed)
COUNT_WINDOW = 2
INCR_WINDOW = 3  # read_incremental covers the last this-many batches


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when there are too few samples."""
    n = len(xs)
    if n <= 10:
        return 100.0, max(xs)
    q = 100.0 * (n - 10) / n
    return q, percentile(xs, q)


def host_probe() -> dict:
    """Fixed single-thread work (sha256 over 32 MiB) and the host's steal
    ticks. Recorded next to the metrics, never divided into them."""
    buf = b"\x5a" * (32 << 20)
    t = time.perf_counter()
    hashlib.sha256(buf).hexdigest()
    probe = time.perf_counter() - t
    steal = None
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) if len(cpu) > 8 else None
    except OSError:
        pass
    return {"sha256_32mb_s": round(probe, 5), "steal_ticks": steal}


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Clock:
    """Times operations; opens a root span too while a tracer is active."""

    def __init__(self):
        self.walls: dict[str, list[float]] = {}
        self.tracer = None

    @contextlib.contextmanager
    def op(self, name: str):
        with self.tracer.op(name) if self.tracer else contextlib.nullcontext():
            t = time.perf_counter()
            yield
            self.walls.setdefault(name, []).append(time.perf_counter() - t)


@dataclass
class BatchStat:
    rows: int
    payload_bytes: int
    bytes_written: int = 0
    rows_written: int = 0
    files_rewritten: int = 0
    files_carried: int = 0
    commits: int = 0


class Lake:
    """One source table fed through ``CdcPipeline.process_table``."""

    def __init__(self, spark, work: Path, seed: int, cfg: Config):
        import gen
        from glue_hudi_spark.config import JobControl
        from glue_hudi_spark.pipeline import CdcPipeline
        from glue_hudi_spark.storage.native import NativeTable

        self.cfg = cfg
        self.gen = gen.CdcGenerator(seed, cfg.n_initial, N_DAYS,
                                    cfg.batch_rows, ROLL_EVERY)
        self.shuffle = random.Random(seed * 7919 + 1)
        self.ctl = JobControl(
            db_name="sales", schema_name="dbo", table_name="orders",
            primary_key=gen.KEY, precombine_field=gen.PRECOMBINE,
            partition_key=gen.DATE,
            files_per_partition=str(FILES_PER_PARTITION),
            change_feed="yes" if cfg.change_feed else "no")
        self.pipe = CdcPipeline(spark, work / "raw", work / "curated",
                                single_commit=cfg.single_commit)
        # DMS lands under the UPPERCASE table spelling
        self.landing = work / "raw" / "sales" / "dbo" / "ORDERS"
        self.table = NativeTable.for_control(spark, work / "curated",
                                             self.ctl)
        self.landed = 0
        self.upsert_commits: list[int] = []
        self.stats: list[BatchStat] = []  # every incremental batch

    def initial_load(self) -> None:
        import gen

        rows = self.gen.initial_rows()
        gen.land(gen.rows_table(rows), self.landing, "full_load")
        r = self.pipe.process_table(self.ctl)
        if r.mode != "initial":
            raise RuntimeError(f"initial load ran as {r.mode}")
        self.gen.oracle.load(rows, commit_id=r.commits[0].commit_id)

    def batch(self, clock: Clock | None) -> BatchStat:
        """Land the next CDC batch and apply it; only process_table is
        timed (op ``batch``)."""
        import gen

        ops = self.gen.cdc_batch()
        self.landed += 1
        path = gen.land(gen.ops_table(ops, self.shuffle), self.landing,
                        f"cdc_{self.landed:06d}")
        prev = self.table.timeline.latest()
        if clock is None:
            r = self.pipe.process_table(self.ctl)
        else:
            with clock.op("batch"):
                r = self.pipe.process_table(self.ctl)
        if r.mode != "incremental" or not r.commits:
            raise RuntimeError(f"batch ran as {r.mode} ({len(r.commits)} "
                               "commits)")
        self.upsert_commits.append(r.commits[0].commit_id)
        self.gen.oracle.apply(ops, upsert_commit=r.commits[0].commit_id)
        st = BatchStat(len(ops), path.stat().st_size)
        for c in r.commits:
            old, new = set(prev.files), set(c.files)
            added = new - old
            st.bytes_written += sum(c.file_sizes.get(f, 0) for f in added)
            st.rows_written += sum(c.row_counts.get(f, 0) for f in added)
            st.files_rewritten += len(old - new)
            st.files_carried += len(old & new)
            st.commits += 1
            prev = c
        self.stats.append(st)
        return st

    def check_table(self, table=None) -> list[str]:
        """Count and order-independent checksum against the oracle."""
        import gen
        from glue_hudi_spark.operators.recon import table_checksum

        table = table or self.table
        got = table_checksum(table.read_snapshot(), [],
                             list(gen.DATA_COLS)).first()
        want = self.gen.oracle.checksum()
        if (got["n"], got["ck"] or 0) != want:
            return [f"{table.root.name}: (n, ck)={(got['n'], got['ck'])} "
                    f"want {want}"]
        return []


def _canon(row) -> list[str]:
    """Spark Row -> the oracle's canonical strings."""
    return [row["record_id"], row["event_date"].isoformat(),
            str(row["updated_at"]), f"{row['amount']:.2f}",
            row["category"], row["note"]]


class Runner:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 work: Path):
        self.name = name
        self.cfg = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.clock = Clock()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rounds: list[dict] = []  # per timed round: traced?, wall
        self.report: dict = {}
        self.rng = random.Random(seed * 104729 + 7)
        self.tracer = None
        # inputFiles() per lookup / range frame, traced rounds only
        self.input_files: dict[str, list[int]] = {}

    # -- shared plumbing --------------------------------------------------

    def attempt(self, what: str, fn):
        """Run one operation (plus its check); an exception or a mismatch
        counts as one failed operation."""
        self.attempted += 1
        try:
            problems = fn() or []
        except Exception:  # an op failure is a result, not a crash
            problems = [f"{what}: {traceback.format_exc(limit=3)}"]
        if problems:
            self.failed += 1
            self.failures.extend(problems)
        return not problems

    def start_session(self) -> None:
        from glue_hudi_spark.session import get_spark

        n = len(os.sched_getaffinity(0))  # what nproc reports
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"lakebench-{self.name}", master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -Xms2g "
                    "-XX:+UseParallelGC",
            })
        self.session_s = time.perf_counter() - t

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def timed_rounds(self, round_fn) -> None:
        """Closed loop: run rounds until ``seconds`` have elapsed, and at
        least one. In trace mode rounds alternate untraced / traced, at
        least one of each, so the overhead is measured inside one run."""
        from spans import Tracer

        min_rounds = 2 if self.trace else 1
        t0 = time.perf_counter()
        k, last = 0, 0.0
        # no round starts that the previous one says would overrun
        while k < min_rounds or \
                time.perf_counter() - t0 + last <= self.seconds:
            t_round = time.perf_counter()
            traced = self.trace and k % 2 == 1
            if traced:
                self.tracer = self.tracer or Tracer(self.spark.sparkContext)
                self.tracer.install()
                self.clock.tracer = self.tracer
            before = {n: len(v) for n, v in self.clock.walls.items()}
            try:
                round_fn(traced)
            finally:
                if traced:
                    self.clock.tracer = None
                    self.tracer.restore()
            new = {n: v[before.get(n, 0):]
                   for n, v in self.clock.walls.items()}
            wall = sum(sum(v) for v in new.values())
            self.rounds.append({"traced": traced, "wall": wall, "ops": new})
            last = time.perf_counter() - t_round
            k += 1
        self.timed_s = time.perf_counter() - t0

    # -- workloads --------------------------------------------------------

    def run(self) -> dict:
        t0 = time.perf_counter()
        self.report["probe_before"] = host_probe()
        self.start_session()
        getattr(self, f"setup_{self.name}")()
        self.setup_s = time.perf_counter() - t0
        self.live_files_start = len(self.lake.table.timeline.latest().files)
        getattr(self, f"run_{self.name}")()
        self.live_files_end = len(self.lake.table.timeline.latest().files)
        metrics = self.metrics()
        self.report["probe_after"] = host_probe()
        return metrics

    def _first_batch(self) -> None:
        t = time.perf_counter()
        self.lake.initial_load()
        self.report["initial_load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.lake.batch(None)
        self.first_batch_s = time.perf_counter() - t

    def setup_cdc_ingest(self) -> None:
        from glue_hudi_spark.sql import GhsSql

        self.lake = Lake(self.spark, self.work, self.seed, self.cfg)
        self._first_batch()
        self.sql = GhsSql(self.spark, self.work / "sqlwh",
                          tables={"orders": self.lake.table})
        warm = []
        for _ in range(WARM_ROUNDS):
            t = time.perf_counter()
            self.lake.batch(None)
            warm.append(time.perf_counter() - t)
            self.read_round(timed=False)
        self.report["warm_batches_s"] = [round(w, 3) for w in warm]

    def run_cdc_ingest(self) -> None:
        def one_round(traced: bool):
            ok = self.attempt("batch", self._timed_batch)
            if ok:
                self.read_round(timed=True, traced=traced)

        self.timed_rounds(one_round)
        self.attempt("final table", lambda: self.lake.check_table()
                     + self._check_catalog())

    def _timed_batch(self):
        self.lake.batch(self.clock)
        return []

    def _check_catalog(self) -> list[str]:
        ctl = self.lake.ctl
        n = self.spark.table(f"`{ctl.catalog_db}`.`{ctl.catalog_table}`") \
            .count()
        want = len(self.lake.gen.oracle.live)
        return [] if n == want else [f"catalog table has {n} rows, "
                                     f"want {want}"]

    def read_round(self, timed: bool, traced: bool = False) -> None:
        """Two point lookups (current day, uniform), a date-range SELECT,
        a GROUP BY scan and an incremental pull — each checked."""
        import gen
        from glue_hudi_spark.operators.recon import table_checksum

        g, oracle, table = self.lake.gen, self.lake.gen.oracle, \
            self.lake.table
        clock = self.clock if timed else Clock()

        def lookup(day):
            keys = g.sample_keys(self.rng, 3, day=day)
            gone = oracle.recent_deleted[-1:] if day is not None else []
            with clock.op("lookup"):
                df = table.read_keys(keys + gone)
                rows = df.collect()
            if traced:
                self.input_files.setdefault("lookup", []).append(
                    len(df.inputFiles()))
            got = sorted(_canon(r) for r in rows)
            want = sorted(oracle.live[k].canon() for k in keys)
            return [] if got == want else [f"lookup {keys + gone}: {got} "
                                           f"want {want}"]

        def range_():
            lo = self.rng.randrange(g.current_day - 6, g.current_day + 1)
            d0 = gen.DAY0.toordinal()
            a = (gen.DAY0.fromordinal(d0 + lo)).isoformat()
            b = (gen.DAY0.fromordinal(d0 + lo + 2)).isoformat()
            q = ("SELECT count(*) AS n, sum(amount) AS s FROM orders "
                 f"WHERE event_date BETWEEN DATE'{a}' AND DATE'{b}'")
            with clock.op("range"):
                df = self.sql.sql(q)
                row = df.collect()[0]
            if traced:
                self.input_files.setdefault("range", []).append(
                    len(df.inputFiles()))
            by_day = oracle.by_day()
            n = s = 0
            for d, (dn, ds) in by_day.items():
                if a <= d.isoformat() <= b:
                    n, s = n + dn, s + ds
            got = (row["n"], row["s"] or Decimal(0))
            want = (n, Decimal(s).scaleb(-2))
            return [] if got == want else [f"range {a}..{b}: {got} "
                                           f"want {want}"]

        def scan():
            q = ("SELECT event_date, count(*) AS n, sum(amount) AS s "
                 "FROM orders GROUP BY event_date")
            with clock.op("scan"):
                rows = self.sql.sql(q).collect()
            got = {r["event_date"]: (r["n"], r["s"]) for r in rows}
            want = {d: (n, Decimal(s).scaleb(-2))
                    for d, (n, s) in oracle.by_day().items()}
            return [] if got == want else ["scan: per-day (n, sum) differs"]

        def incr():
            since = self.lake.upsert_commits[-INCR_WINDOW - 1] \
                if len(self.lake.upsert_commits) > INCR_WINDOW else 0
            with clock.op("incr"):
                row = table_checksum(table.read_incremental(since), [],
                                     list(gen.DATA_COLS)).first()
            want = oracle.checksum(
                r for k, r in oracle.live.items()
                if oracle.written_by[k] > since)
            got = (row["n"], row["ck"] or 0)
            return [] if got == want else [f"incr since {since}: {got} "
                                           f"want {want}"]

        for what, fn in (("lookup", lambda: lookup(g.current_day)),
                         ("lookup", lambda: lookup(None)),
                         ("range", range_), ("scan", scan), ("incr", incr)):
            if timed:
                self.attempt(what, fn)
            else:
                problems = fn()
                if problems:
                    raise RuntimeError(f"warm-up {what}: {problems}")

    def setup_feed_consumers(self) -> None:
        from glue_hudi_spark.streaming.materialized import MaterializedAgg
        from glue_hudi_spark.streaming.replicate import \
            TableReplicationStream

        import gen

        self.lake = Lake(self.spark, self.work, self.seed, self.cfg)
        t = time.perf_counter()
        self.lake.initial_load()
        self.report["initial_load_s"] = time.perf_counter() - t
        src = self.lake.table
        # seed the replica from the initial snapshot and tail from there
        self.replica = src.clone_to(self.work / "replica")
        self.stream = TableReplicationStream(
            self.spark, src.root, self.replica, self.work / "stream_ckpt",
            starting_commit=src.timeline.latest().commit_id)
        self.view = MaterializedAgg(self.spark, src, self.work / "view",
                                    [gen.DATE], gen.AMOUNT)
        self.view.refresh()  # from-scratch materialization
        t = time.perf_counter()
        self.lake.batch(None)
        self.first_batch_s = time.perf_counter() - t
        # warm-up: the first batch's drain and refresh are the first of
        # their kind in this process, so the timed ones are not
        t = time.perf_counter()
        self.stream.run_available()
        self.view.refresh()
        self.report["warm_s"] = time.perf_counter() - t

    def run_feed_consumers(self) -> None:
        self.timed_rounds(lambda traced: self.feed_round())

    def feed_round(self) -> None:
        """One source commit, a replica drain and a view refresh, then the
        feed check."""
        def drain():
            with self.clock.op("drain"):
                self.stream.run_available()

        def refresh():
            with self.clock.op("refresh"):
                self.view.refresh()

        for what, fn in (("commit", self._timed_batch), ("drain", drain),
                         ("refresh", refresh),
                         ("feed check", self._check_feed)):
            if not self.attempt(what, fn):
                return

    def _check_feed(self) -> list[str]:
        """Source and replica against the oracle (hence each other), and
        the view against the oracle's per-date aggregate."""
        problems = self.lake.check_table() \
            + self.lake.check_table(self.replica)
        got = {r["event_date"]: (r["cnt"], Decimal(r["total"]))
               for r in self.view.read().collect()}
        want = {d: (n, Decimal(s).scaleb(-2))
                for d, (n, s) in self.lake.gen.oracle.by_day().items()}
        if got != want:
            problems.append("view: per-date (cnt, total) differs")
        return problems

    # -- metrics ----------------------------------------------------------

    def _walls(self, name: str) -> list[float]:
        return self.clock.walls.get(name, [])

    def metrics(self) -> dict[str, tuple[float, str]]:
        self.py_rss = vm_hwm_mb()
        self.jvm_rss = vm_hwm_mb(self.spark.sparkContext._jvm.java.lang
                                 .ProcessHandle.current().pid())
        window = self.count_window = self.lake.stats[:COUNT_WINDOW]
        gated = {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (self.py_rss + self.jvm_rss, "MB"),
            "write_amp": (sum(b.bytes_written for b in window)
                          / sum(b.payload_bytes for b in window), "ratio"),
        }
        # end-to-end timings come from untraced rounds only
        rounds = [r for r in self.rounds if not r["traced"]]
        walls = {k: [w for r in rounds for w in r["ops"].get(k, [])]
                 for k in ("batch", "lookup", "range", "scan", "incr",
                           "drain", "refresh")}
        batch = walls["batch"]
        # timings whose spread across seeds measured above a tenth: in the
        # per-layer set, not gated (README.md, "Measured spread")
        timings = {
            "first_batch_s": (self.first_batch_s, "s"),
            "batch_s.p50": (statistics.median(batch), "s"),
            "ingest_rows_per_s": (self.cfg.batch_rows * len(batch)
                                  / sum(batch), "rows/s"),
            "consume_s.p50": (statistics.median(
                r["wall"] - sum(r["ops"].get("batch", []))
                for r in rounds), "s"),
        }
        report = {k: {"value": v, "unit": u} for k, (v, u) in timings.items()}
        tail_q, tail_v = tail(batch)
        report["batch_s.tail"] = {"value": tail_v, "unit": "s",
                                  "percentile": tail_q, "n": len(batch)}
        for k, xs in walls.items():
            if xs and k != "batch":
                name = "mv_refresh_s.p50" if k == "refresh" else f"{k}_s.p50"
                report[name] = {"value": statistics.median(xs), "unit": "s",
                                "n": len(xs)}
        half = len(batch) // 2
        st = report["stationarity"] = {
            "batch_s.first_half_p50":
                statistics.median(batch[:half]) if half else None,
            "batch_s.second_half_p50":
                statistics.median(batch[half:]) if half else None,
            "live_files_start": self.live_files_start,
            "live_files_end": self.live_files_end,
        }
        st["trending"] = bool(
            (half and abs(st["batch_s.second_half_p50"]
                          / st["batch_s.first_half_p50"] - 1) > 0.25)
            or self.live_files_end > 1.25 * self.live_files_start)
        report.update(timed_s=self.timed_s, session_start_s=self.session_s,
                      rounds=len(self.rounds))
        self.report.update(report)
        if not self.trace:
            return gated
        from layers import per_layer

        out = {**timings, **per_layer(self)}
        self.tracer.dump(ROOT / ".lakebench_spans"
                         / f"{self.name}-{self.seed}.jsonl")
        return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the engine is the checkout's own source tree, next to this directory
    if not (ROOT / "glue_hudi_spark" / "__init__.py").is_file():
        print(f"lakebench: no glue_hudi_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".lakebench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything Spark and its Python workers write stays in the checkout;
    # executor workers import the engine from the checkout too
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in [os.environ.get("PYTHONPATH")] if x])

    runner = Runner(args.workload, args.seed, args.seconds,
                    bool(args.trace), work)
    try:
        metrics = runner.run()
    finally:
        if hasattr(runner, "spark"):
            runner.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".lakebench_work").rmdir()
        except OSError:
            pass
    runner.report["failures"] = runner.failures[:5]
    print("# report " + json.dumps(runner.report, default=str))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
