"""CDC batch operators — the reference's data-processing surface.

Every function maps to a SURVEY §2 row (cites into /root/reference):

* ``lowercase_columns``    — P1, processData.py:307-308 (single ``toDF``
  instead of the reference's O(n²) ``withColumnRenamed`` loop).
* ``drop_envelope``        — P2, processData.py:334,339.
* ``filter_inserts/updates/deletes/non_deletes`` — P3-P6,
  processData.py:350,361,365,377.
* ``dedup_latest_by_key``  — W1, processData.py:316-330: ``ROW_NUMBER()
  OVER (PARTITION BY <pk> ORDER BY transaction_id DESC)``, keep rank 1.
* ``apply_cdc_batch``      — the op-routing block processData.py:345-382,
  including the ``cdc_split_upsert`` optimization (C6,
  processData.py:348-366) and the I→U→D commit ordering contract
  (processData.py:357,373,381).

Semantics preserved exactly (SURVEY §2.3):

* ``transaction_id`` ordering is **lexicographic on the raw string** — IDs
  are fixed-width zero-padded; no cast.
* Composite keys partition by all key columns.
* Remaining ties after W1 are broken by the table's precombine field
  (max wins) inside ``NativeTable`` — matching Hudi's precombine.
* The window dedup runs only on the incremental path; full loads write the
  batch as-is (processData.py:311-313).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from glue_hudi_spark.storage.native import local_batch

# DMS-style envelope columns dropped before write (processData.py:334).
ENVELOPE_COLS = ["db", "op", "schema_name", "transaction_id", "seq_by_pk"]

OP_COL = "op"  # post-lowercasing name of the DMS 'Op' column
ORDER_COL = "transaction_id"


def lowercase_columns(df: DataFrame) -> DataFrame:
    """Normalize all column names to lowercase (P1). One ``toDF`` call —
    plan-size-linear, unlike a per-column rename loop."""
    return df.toDF(*[c.lower() for c in df.columns])


def drop_envelope(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Project away CDC envelope/bookkeeping columns (P2). ``drop`` ignores
    absent names, like the reference's drop-list behavior."""
    return df.drop(*(cols or ENVELOPE_COLS))


def filter_inserts(df: DataFrame) -> DataFrame:
    """P3: rows with Op = 'I'."""
    return df.filter(F.col(OP_COL) == "I")


def filter_updates(df: DataFrame) -> DataFrame:
    """P4: rows with Op = 'U'."""
    return df.filter(F.col(OP_COL) == "U")


def filter_non_deletes(df: DataFrame) -> DataFrame:
    """P5: rows with Op != 'D' (the single-upsert route)."""
    return df.filter(F.col(OP_COL) != "D")


def filter_deletes(df: DataFrame) -> DataFrame:
    """P6: rows with Op = 'D'."""
    return df.filter(F.col(OP_COL) == "D")


def dedup_latest_by_key(
    df: DataFrame,
    keys: list[str],
    order_col: str = ORDER_COL,
    keep_rank_col: bool = False,
) -> DataFrame:
    """W1: collapse multiple CDC events per key to the most recent.

    Mirrors the reference's string-templated SQL (processData.py:319-326)::

        SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY <keys> ORDER BY transaction_id DESC) AS seq_by_pk
        FROM batch) WHERE seq_by_pk = 1

    One shuffle on the key hash; at scale this is a partial-agg-free window,
    so skewed keys are the main risk — AQE skew handling applies because the
    shuffle is a plain hash repartition.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    out = df.withColumn("seq_by_pk", F.row_number().over(w)).filter(
        F.col("seq_by_pk") == 1
    )
    return out if keep_rank_col else out.drop("seq_by_pk")


def apply_cdc_batch(
    table,
    batch: DataFrame,
    split_upsert: bool = False,
    upsert_parallelism: int = 0,
    bulkinsert_parallelism: int = 0,
    single_commit: bool = False,
    extra_stats: dict | None = None,
) -> list:
    """Route a deduped CDC batch into the table (processData.py:345-382).

    Default (compat) behavior issues up to three separate commits in the
    reference's contract order — inserts, updates/upserts, deletes
    (processData.py:357,373,381). ``single_commit=True`` is the improved
    mode SURVEY §4 suggests: one atomic merge commit handling all ops
    (deletes expressed through the table merge), avoiding the reference's
    non-atomic triple-commit window.

    ``split_upsert`` (C6): route 'I' rows through bulk_insert (no key-index
    lookup — cheap for fresh keys) and only 'U' rows through upsert.

    The batch is derived once for all of its commits (the reference's C5
    persist, processData.py:301,388): held on the driver when Spark's
    size estimate of it fits ``local_batch``'s cap, else persisted on the
    executors.
    """
    commits = []
    held = local_batch(batch)
    batch = batch.persist() if held is None else held[0]
    try:
        if single_commit:
            # one atomic commit handles I/U/D together; the caller must
            # ensure the batch is already W1-deduped (≤1 op per key).
            drops = [c for c in ENVELOPE_COLS if c != OP_COL]
            c = table.merge(batch, op_col=OP_COL, drop_cols=drops,
                            parallelism=upsert_parallelism,
                            extra_stats=extra_stats)
            return [c] if c else []
        if split_upsert:
            ins = drop_envelope(filter_inserts(batch))
            c = table.bulk_insert(ins, parallelism=bulkinsert_parallelism,
                                  extra_stats=extra_stats)
            if c:
                commits.append(c)
            upd = drop_envelope(filter_updates(batch))
            c = table.upsert(upd, parallelism=upsert_parallelism,
                             extra_stats=extra_stats)
            if c:
                commits.append(c)
        else:
            both = drop_envelope(filter_non_deletes(batch))
            c = table.upsert(both, parallelism=upsert_parallelism,
                             extra_stats=extra_stats)
            if c:
                commits.append(c)
        dels = drop_envelope(filter_deletes(batch))
        c = table.delete(dels, parallelism=upsert_parallelism,
                         extra_stats=extra_stats)
        if c:
            commits.append(c)
        return commits
    finally:
        if held is None:
            batch.unpersist()
