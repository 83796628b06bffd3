"""Streaming execution of the extraction pipeline."""

from .stream import run_stream_once  # noqa: F401
