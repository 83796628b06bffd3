"""Sources & sinks: web-page table synthesis, snapshot tables, resume."""

from .web_pages import (  # noqa: F401
    WEB_PAGES_SCHEMA,
    read_documents,
    read_split,
    synth_pages_from_documents,
    SYNTH_PAGE_ORACLE_CTE,
)
from .snapshot import SnapshotTable  # noqa: F401
