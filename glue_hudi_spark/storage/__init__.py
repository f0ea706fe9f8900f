"""Storage layer: a pure-PySpark keyed table format.

``NativeTable`` reproduces the observable semantics the reference delegates
to Apache Hudi 0.10.1 (processData.py:146-223): keyed upsert/delete merge,
precombine conflict resolution, hive-style partition layout, a commit
timeline with retention-based cleaning, copy-on-write and merge-on-read
storage types. No Hudi release supports Spark 4 at the time of writing
(the reference pins ``hudi-spark-bundle_2.11-0.10.1``, glue-stack.ts:38),
so this is the engine's only table format.
"""

from glue_hudi_spark.storage.native import NativeTable
from glue_hudi_spark.storage.commits import CommitTimeline

__all__ = ["NativeTable", "CommitTimeline"]
