"""Physical-plan lint (scale-contract assertions)."""

from glue_hudi_spark.plans import lint

__all__ = ["lint"]
