"""Seeded DMS-style CDC generator and its per-key replay oracle.

The generator lands parquet the way AWS DMS does for the reference job:
UPPERCASE column names, an ``Op`` column (I/U/D) and a 35-character
zero-padded ``TRANSACTION_ID``. Every operation it emits is also applied
to :class:`Oracle`, a plain dict replay of the ops in ``transaction_id``
order, so the benchmark can check the engine's table (and every read of
it) against an answer computed without Spark.

Layout is stationary by construction: inserts go to a "current day"
partition that rolls forward every ``roll_every`` batches, and updates and
deletes land on the last three days with a recency skew. Per-batch work
therefore stays level however long a run lasts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2024, 1, 1)
CATEGORIES = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
              "theta")
# share of I, U and D ops in a batch
MIX = (0.5, 0.4, 0.1)
# recency skew of U/D ops over (current day, day-1, day-2)
RECENCY = (0.5, 0.3, 0.2)

# lowercase names the engine stores (the pipeline lowercases landed columns)
KEY = "record_id"
DATE = "event_date"
PRECOMBINE = "updated_at"
AMOUNT = "amount"
DATA_COLS = (KEY, DATE, PRECOMBINE, AMOUNT, "category", "note")

_SCHEMA_FIELDS = [
    ("RECORD_ID", pa.string()),
    ("EVENT_DATE", pa.date32()),
    ("UPDATED_AT", pa.int64()),
    ("AMOUNT", pa.decimal128(12, 2)),
    ("CATEGORY", pa.string()),
    ("NOTE", pa.string()),
]
FULL_SCHEMA = pa.schema(_SCHEMA_FIELDS)
CDC_SCHEMA = pa.schema(_SCHEMA_FIELDS + [("Op", pa.string()),
                                         ("TRANSACTION_ID", pa.string())])


@dataclass(frozen=True)
class Row:
    """One live record as the engine should store it (lowercase columns)."""

    record_id: str
    day: int  # days since DAY0
    updated_at: int
    cents: int
    category: str
    note: str

    @property
    def event_date(self) -> dt.date:
        return DAY0 + dt.timedelta(days=self.day)

    def amount(self) -> Decimal:
        return Decimal(self.cents).scaleb(-2)

    def canon(self) -> list[str]:
        """Spark's ``cast(col as string)`` of each column in DATA_COLS."""
        return [self.record_id, self.event_date.isoformat(),
                str(self.updated_at), _decimal_str(self.cents),
                self.category, self.note]


def _decimal_str(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    q, r = divmod(abs(cents), 100)
    return f"{sign}{q}.{r:02d}"


def row_word(values: list[str]) -> int:
    """``operators.recon`` per-row checksum word, computed in Python: the
    first 32 bits of md5 over the \\x1f-joined canonical strings."""
    payload = "\x1f".join(values).encode()
    return int(hashlib.md5(payload).hexdigest()[:8], 16)


def txid(n: int) -> str:
    return f"{n:035d}"


class Oracle:
    """Per-key replay of every generated op, in ``transaction_id`` order.

    ``apply`` takes ops exactly as landed (op, row, txid); a batch's ops
    are replayed sorted by txid with ``updated_at`` (the precombine field)
    as the tie-break, which is the engine's W1-dedup-then-route contract
    expressed one key at a time.
    """

    def __init__(self):
        self.live: dict[str, Row] = {}
        # record_id -> id of the commit that last wrote its current version
        self.written_by: dict[str, int] = {}
        # keys deleted by the latest applied batch (must read as absent)
        self.recent_deleted: list[str] = []

    def load(self, rows: list[Row], commit_id: int = 0) -> None:
        for r in rows:
            self.live[r.record_id] = r
            self.written_by[r.record_id] = commit_id

    def apply(self, ops: list[tuple[str, Row, str]],
              upsert_commit: int = 0) -> None:
        last: dict[str, tuple[str, Row, str]] = {}
        for op in sorted(ops, key=lambda o: (o[2], o[1].updated_at)):
            last[op[1].record_id] = op
        self.recent_deleted = []
        for key, (op, row, _) in last.items():
            if op == "D":
                self.recent_deleted.append(key)
                self.live.pop(key, None)
                self.written_by.pop(key, None)
            else:
                self.live[key] = row
                self.written_by[key] = upsert_commit

    def checksum(self, rows=None) -> tuple[int, int]:
        """(row count, order-independent checksum) — the Python twin of
        ``operators.recon.table_checksum(df, [], DATA_COLS)``."""
        rows = self.live.values() if rows is None else rows
        n = ck = 0
        for r in rows:
            n += 1
            ck += row_word(r.canon())
        return n, ck

    def by_day(self) -> dict[dt.date, tuple[int, int]]:
        """{event_date: (rows, sum of amount in cents)}."""
        out: dict[dt.date, list[int]] = {}
        for r in self.live.values():
            acc = out.setdefault(r.event_date, [0, 0])
            acc[0] += 1
            acc[1] += r.cents
        return {d: (n, s) for d, (n, s) in out.items()}


class CdcGenerator:
    """Seeded source of an initial load and a stream of CDC batches.

    ``n_initial`` rows spread evenly over ``n_days`` date partitions; each
    ``cdc_batch`` holds ``batch_rows`` ops, 50% I into the current day,
    40% U and 10% D on live keys of the last three days. Keys are strings
    (``K`` + 10 digits), ``updated_at`` is a global op sequence number, so
    it orders exactly like ``transaction_id``.
    """

    def __init__(self, seed: int, n_initial: int, n_days: int,
                 batch_rows: int, roll_every: int):
        self.rng = random.Random(seed)
        self.n_initial = n_initial
        self.n_days = n_days
        self.batch_rows = batch_rows
        self.roll_every = roll_every
        self.oracle = Oracle()
        self.current_day = n_days - 1
        self.batches = 0
        self._next_key = 0
        self._seq = 0
        # day -> live keys, with an index for O(1) swap-remove
        self._day_keys: dict[int, list[str]] = {}
        self._pos: dict[str, int] = {}

    # -- bookkeeping ------------------------------------------------------

    def _new_row(self, day: int, key: str | None = None) -> Row:
        self._seq += 1
        if key is None:
            key = f"K{self._next_key:010d}"
            self._next_key += 1
        rng = self.rng
        return Row(key, day, self._seq, rng.randrange(-50_000, 5_000_000),
                   CATEGORIES[rng.randrange(len(CATEGORIES))],
                   f"n{rng.getrandbits(64):016x}")

    def _track(self, key: str, day: int) -> None:
        keys = self._day_keys.setdefault(day, [])
        self._pos[key] = len(keys)
        keys.append(key)

    def _untrack(self, key: str, day: int) -> None:
        keys = self._day_keys[day]
        i = self._pos.pop(key)
        tail = keys.pop()
        if tail != key:
            keys[i] = tail
            self._pos[tail] = i

    def _pick_live(self) -> Row | None:
        days = [self.current_day - i for i in range(len(RECENCY))]
        weights = [RECENCY[i] if self._day_keys.get(d) else 0.0
                   for i, d in enumerate(days)]
        if not any(weights):
            return None
        day = self.rng.choices(days, weights)[0]
        keys = self._day_keys[day]
        return self.oracle.live[keys[self.rng.randrange(len(keys))]]

    def sample_keys(self, rng: random.Random, k: int,
                    day: int | None = None) -> list[str]:
        """``k`` distinct live keys, from one day or the whole table."""
        pool = self._day_keys.get(day, []) if day is not None \
            else list(self.oracle.live)
        return rng.sample(pool, min(k, len(pool)))

    # -- data -------------------------------------------------------------

    def initial_rows(self) -> list[Row]:
        rows = [self._new_row(i % self.n_days) for i in range(self.n_initial)]
        for r in rows:
            self._track(r.record_id, r.day)
        self.oracle.load(rows)
        return rows

    def cdc_batch(self) -> list[tuple[str, Row, str]]:
        """Next batch of (op, row, txid), in generation (= txid) order.
        The oracle's live set is NOT updated here — call ``oracle.apply``
        once the engine committed the batch (so a failed commit can be
        told apart from a wrong one)."""
        n = self.batch_rows
        if self.batches and self.batches % self.roll_every == 0:
            self.current_day += 1
        self.batches += 1
        live = dict(self.oracle.live)
        ops = []
        n_i = round(n * MIX[0])
        n_u = round(n * MIX[1])
        kinds = ["I"] * n_i + ["U"] * n_u + ["D"] * (n - n_i - n_u)
        self.rng.shuffle(kinds)
        for kind in kinds:
            if kind != "I":
                cur = self._pick_live()
                if cur is None:
                    kind = "I"
            if kind == "I":
                row = self._new_row(self.current_day)
                self._track(row.record_id, row.day)
            else:
                key = cur.record_id
                if kind == "U":
                    row = self._new_row(cur.day, key=key)
                else:
                    self._seq += 1
                    row = Row(key, cur.day, self._seq, cur.cents,
                              cur.category, cur.note)
                    self._untrack(key, cur.day)
            # later picks in this batch see the batch's own ops
            if kind == "D":
                self.oracle.live.pop(row.record_id, None)
            else:
                self.oracle.live[row.record_id] = row
            ops.append((kind, row, txid(self._seq)))
        # restore: the oracle advances only through apply()
        self.oracle.live = live
        return ops


def rows_table(rows: list[Row]) -> pa.Table:
    return pa.Table.from_arrays([
        pa.array([r.record_id for r in rows], pa.string()),
        pa.array([r.event_date for r in rows], pa.date32()),
        pa.array([r.updated_at for r in rows], pa.int64()),
        pa.array([r.amount() for r in rows], pa.decimal128(12, 2)),
        pa.array([r.category for r in rows], pa.string()),
        pa.array([r.note for r in rows], pa.string()),
    ], schema=FULL_SCHEMA)


def ops_table(ops: list[tuple[str, Row, str]], rng: random.Random) -> pa.Table:
    """Landed CDC file contents: shuffled rows, so the engine must order
    by ``TRANSACTION_ID`` rather than by file position."""
    ops = list(ops)
    rng.shuffle(ops)
    base = rows_table([r for _, r, _ in ops])
    return pa.Table.from_arrays(
        base.columns + [pa.array([o for o, _, _ in ops], pa.string()),
                        pa.array([t for _, _, t in ops], pa.string())],
        schema=CDC_SCHEMA)


def land(table: pa.Table, landing_dir: Path, name: str) -> Path:
    """Write one parquet file into the raw landing dir (tmp + rename, so a
    listing never sees a partial file)."""
    landing_dir.mkdir(parents=True, exist_ok=True)
    tmp = landing_dir / f"_{name}.tmp"
    pq.write_table(table, tmp)
    out = landing_dir / f"{name}.parquet"
    tmp.rename(out)
    return out
