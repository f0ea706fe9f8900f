"""Streaming surface: batch-log drains of landing dirs (CDC merge,
corpus, embeddings, enrichment, sketches) and change-feed consumers
(replicas, materialized views), plus Structured Streaming operators
(watermarked analytics, stateful profiles, dedup + sessionization)."""

from glue_hudi_spark.streaming.cdc_stream import CdcStream
from glue_hudi_spark.streaming.corpus import CorpusIngestStream
from glue_hudi_spark.streaming.vectors import EmbeddingIngestStream
from glue_hudi_spark.streaming.enrich import EnrichStream, enrich_asof
from glue_hudi_spark.streaming.dedup import (
    streaming_exact_dedup,
    streaming_sessionization,
)
from glue_hudi_spark.streaming.materialized import (
    MaterializedAgg, MaterializedJoin, MaterializedJoinAgg)
from glue_hudi_spark.streaming.sketches import SketchStream
from glue_hudi_spark.streaming.stateful import running_user_profiles
from glue_hudi_spark.streaming.windowed import windowed_event_counts

__all__ = [
    "CdcStream",
    "CorpusIngestStream",
    "EmbeddingIngestStream",
    "EnrichStream",
    "enrich_asof",
    "MaterializedAgg",
    "MaterializedJoin",
    "MaterializedJoinAgg",
    "SketchStream",
    "streaming_exact_dedup",
    "streaming_sessionization",
    "running_user_profiles",
    "windowed_event_counts",
]
