"""Sources & sinks: web-page table synthesis, snapshot tables, resume."""

from .web_pages import (  # noqa: F401
    WEB_PAGES_SCHEMA,
    fixture_corpus_rows,
    fixture_corpus_df,
    read_documents,
    read_split,
    synth_pages_from_documents,
    SYNTH_PAGE_ORACLE_CTE,
)
from .snapshot import SnapshotTable  # noqa: F401
