"""Distributed operators: extraction stage, dedup, similarity, multimodal."""

from .extract import (  # noqa: F401
    EXTRACT_SCHEMA,
    skew_repartition,
)
