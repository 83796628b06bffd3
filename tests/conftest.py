"""Markers shared by the test modules."""

from pathlib import Path

import pytest

from docling_plus_spark.sources.web_pages import FIXTURE_DIR

#: docling's test data: HTML fixtures, other formats and groundtruth files
REFERENCE_DATA = Path(FIXTURE_DIR).parent

#: for tests that read reference fixtures or goldens: they skip, by name,
#: on a box without the reference tree instead of failing on a missing file
needs_reference = pytest.mark.skipif(
    not REFERENCE_DATA.is_dir(),
    reason=f"reference test data {REFERENCE_DATA} is missing",
)
