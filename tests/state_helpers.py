"""Manifest helpers for tests that stage or inspect streaming state
directly, through the same :class:`operators.statefs.StateLog` the
wings use."""

from __future__ import annotations

from notion_vector_store_etl_pipeline_spark.operators.statefs import StateLog
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import _state_log


def write_manifest(out_dir: str, manifest: dict, spark=None) -> None:
    """Publish ``manifest`` as the compaction manifest of ``out_dir``."""
    StateLog(spark, out_dir).publish(manifest)


def state_manifest_path(out_dir: str) -> str:
    """Where the composed pipeline's skip-state manifest lives."""
    return _state_log(None, out_dir).manifest_path
