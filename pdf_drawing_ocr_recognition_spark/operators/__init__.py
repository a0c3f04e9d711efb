"""Spark pipeline stages: extract, skew handling, manifests, metrics, sinks."""

from .extract import extract_pages, EXTRACT_SCHEMA
from .skew import salted_repartition
from .manifest import (
    manifest_path,
    read_manifest,
    run_with_manifest,
)

__all__ = [
    "extract_pages",
    "EXTRACT_SCHEMA",
    "salted_repartition",
    "manifest_path",
    "read_manifest",
    "run_with_manifest",
]
