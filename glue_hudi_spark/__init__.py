"""glue_hudi_spark — a PySpark-native CDC lake-house engine.

A from-scratch rebuild of the query and data-processing capabilities of the
reference repo ``nikhilpenmetsa/glue-hudi`` (a Glue/Hudi CDC ingestion
framework, see ``/root/reference/lib/assets/scripts/processData.py``),
re-expressed Spark-first:

* ``config``    — job-control records (replaces the DynamoDB control table,
                  reference processData.py:43-54 + control_file.json).
* ``session``   — SparkSession factory tuned for the engine.
* ``storage``   — ``NativeTable``: a pure-Spark copy-on-write / merge-on-read
                  keyed table with a commit timeline (replaces the Hudi table
                  format, reference processData.py:146-223).
* ``operators`` — CDC window-dedup + op routing (processData.py:316-382) and
                  the LLM-data-pipeline extensions (dedup, similarity search,
                  text analysis, multimodal).
* ``sources``   — incremental batch scan with a processed-file ledger
                  (replaces Glue job bookmarks, processData.py:293-298).
* ``pipeline``  — the per-table driver loop (processData.py:272-402).
* ``streaming`` — continuous variant of the same CDC semantics: repeated
                  batch-log drains of the landing dir, each batch merged.

Everything here is public-API PySpark; no Glue, boto3, or Hudi jars required.
"""

from glue_hudi_spark.config import JobControl, ControlStore
from glue_hudi_spark.session import get_spark
from glue_hudi_spark.sql import GhsSql
from glue_hudi_spark.storage.native import NativeTable

__all__ = ["JobControl", "ControlStore", "get_spark", "GhsSql",
           "NativeTable"]

__version__ = "0.1.0"
