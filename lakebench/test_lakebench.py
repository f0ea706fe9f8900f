"""Generator and oracle tests, at a tiny scale.

    python -m pytest lakebench -q

The pure-Python tests need no Spark; the engine tests start one local
session for the module.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402


def _a2_scenario():
    """FIXTURES.md A2: full load keys 100..199 on 2022-05-01; a CDC batch
    of 100 I (keys 200..299, 2022-05-02), 10 U (keys 100..109 -> 100.00)
    and 10 D (keys 200..209), transaction ids D > U > I."""
    day1 = (dt.date(2022, 5, 1) - gen.DAY0).days
    full = [gen.Row(f"MeasurementID-{100 + i}", day1, i, (i % 90 + 1) * 100
                    + 25, "alpha", f"n{i}") for i in range(100)]
    ops = []
    for i in range(100):
        ops.append(("I", gen.Row(f"MeasurementID-{200 + i}", day1 + 1,
                                 1000 + i, (i % 90 + 1) * 100 + 75, "beta",
                                 f"i{i}"), gen.txid(9 + 4 * i)))
    for i in range(10):
        old = full[i]
        ops.append(("U", gen.Row(old.record_id, day1, 2000 + i, 10_000,
                                 old.category, old.note),
                    gen.txid(421 + 8 * i)))
    for i in range(10):
        ins = ops[i][1]
        ops.append(("D", gen.Row(ins.record_id, ins.day, 3000 + i,
                                 ins.cents, ins.category, ins.note),
                    gen.txid(505 + 4 * i)))
    return full, ops


def _small_gen(seed):
    return gen.CdcGenerator(seed, n_initial=200, n_days=5, batch_rows=100,
                            roll_every=2)


# -- generator and oracle, no Spark ----------------------------------------


def test_same_seed_same_inputs():
    a, b = _small_gen(7), _small_gen(7)
    assert a.initial_rows() == b.initial_rows()
    for _ in range(4):
        ops_a, ops_b = a.cdc_batch(), b.cdc_batch()
        assert ops_a == ops_b
        assert gen.ops_table(ops_a, random.Random(1)).equals(
            gen.ops_table(ops_b, random.Random(1)))
        a.oracle.apply(ops_a)
        b.oracle.apply(ops_b)
    assert _small_gen(8).initial_rows() != _small_gen(7).initial_rows()


def test_batch_mix_and_stationary_layout():
    g = _small_gen(3)
    g.initial_rows()
    for i in range(6):
        ops = g.cdc_batch()
        kinds = [o for o, _, _ in ops]
        assert (kinds.count("I"), kinds.count("U"), kinds.count("D")) \
            == (50, 40, 10)
        # inserts land in the current day only; U/D on the last 3 days
        assert {r.day for o, r, _ in ops if o == "I"} == {g.current_day}
        assert all(g.current_day - 2 <= r.day <= g.current_day
                   for o, r, _ in ops if o != "I")
        txids = [t for _, _, t in ops]
        assert all(len(t) == 35 for t in txids)
        assert txids == sorted(txids) and len(set(txids)) == len(txids)
        g.oracle.apply(ops)
    # the current day (initially day 4) rolled at batches 3 and 5
    assert g.current_day == 6


def test_a2_golden_in_oracle():
    full, ops = _a2_scenario()
    o = gen.Oracle()
    o.load(full)
    o.apply(ops)
    assert len(o.live) == 190
    assert not any(f"MeasurementID-{k}" in o.live for k in range(200, 210))
    assert sum(r.cents == 10_000 for r in o.live.values()) == 10
    assert all(f"MeasurementID-{k}" in o.live for k in range(210, 300))


def test_oracle_reapply_is_idempotent():
    g = _small_gen(5)
    g.initial_rows()
    ops = g.cdc_batch()
    g.oracle.apply(ops)
    once = g.oracle.checksum()
    g.oracle.apply(ops)
    assert g.oracle.checksum() == once


def test_oracle_orders_by_txid_not_file_position():
    o = gen.Oracle()
    r1 = gen.Row("k", 0, 1, 100, "alpha", "a")
    r2 = gen.Row("k", 0, 2, 200, "alpha", "b")
    # landed out of order: the later txid still wins
    o.apply([("U", r2, gen.txid(2)), ("I", r1, gen.txid(1))])
    assert o.live["k"] == r2
    # same txid: the precombine field (updated_at) breaks the tie
    o.apply([("U", r2, gen.txid(5)), ("U", r1, gen.txid(5))])
    assert o.live["k"] == r2


# -- against the engine ----------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(HERE.parent)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from glue_hudi_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(app_name="lakebench-tests", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.sql.warehouse.dir": str(wh)})
    yield s
    s.stop()


def _pipeline(spark, tmp_path):
    from glue_hudi_spark.config import JobControl
    from glue_hudi_spark.pipeline import CdcPipeline
    from glue_hudi_spark.storage.native import NativeTable

    ctl = JobControl(db_name="sales", schema_name="dbo", table_name="orders",
                     primary_key=gen.KEY, precombine_field=gen.PRECOMBINE,
                     partition_key=gen.DATE, files_per_partition="1")
    pipe = CdcPipeline(spark, tmp_path / "raw", tmp_path / "curated",
                       sync_catalog=False)
    landing = tmp_path / "raw" / "sales" / "dbo" / "ORDERS"
    return ctl, pipe, landing, NativeTable.for_control(
        spark, tmp_path / "curated", ctl)


def _engine_checksum(table):
    from glue_hudi_spark.operators.recon import table_checksum

    row = table_checksum(table.read_snapshot(), [],
                         list(gen.DATA_COLS)).first()
    return row["n"], row["ck"] or 0


def test_a2_golden_in_engine(spark, tmp_path):
    ctl, pipe, landing, table = _pipeline(spark, tmp_path)
    full, ops = _a2_scenario()
    gen.land(gen.rows_table(full), landing, "full")
    assert pipe.process_table(ctl).mode == "initial"
    gen.land(gen.ops_table(ops, random.Random(0)), landing, "cdc")
    assert pipe.process_table(ctl).mode == "incremental"
    o = gen.Oracle()
    o.load(full)
    o.apply(ops)
    assert _engine_checksum(table) == o.checksum()
    assert _engine_checksum(table)[0] == 190
    # re-landing the same batch under a new name applies it again: no-op
    gen.land(gen.ops_table(ops, random.Random(1)), landing, "cdc_again")
    assert pipe.process_table(ctl).mode == "incremental"
    assert _engine_checksum(table) == o.checksum()


def test_oracle_equals_engine(spark, tmp_path):
    ctl, pipe, landing, table = _pipeline(spark, tmp_path)
    g = _small_gen(11)
    gen.land(gen.rows_table(g.initial_rows()), landing, "full")
    pipe.process_table(ctl)
    for i in range(3):
        ops = g.cdc_batch()
        gen.land(gen.ops_table(ops, random.Random(i)), landing, f"b{i}")
        r = pipe.process_table(ctl)
        g.oracle.apply(ops, upsert_commit=r.commits[0].commit_id)
        assert _engine_checksum(table) == g.oracle.checksum()
