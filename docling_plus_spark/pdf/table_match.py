"""TableFormer-style cell matching (SURVEY §2.3 J5) — deterministic core.

Reference: tf_cell_matcher.py:110-175 (``match_cells``) joins predicted
table-structure cell bboxes with the page's PDF word tokens by
intersection-over-pdf-cell; matching_post_processor.py then dedups and
reassembles cell text. This module reimplements the deterministic
matching + text-assembly core with vectorized numpy (the full 13-step
post-processor is NN-output repair and is inventoried, not ported —
SURVEY §2.10 substitutes rule-based structure, so its repair steps have
no work to do here).

Per-table cardinality is ~10²×10², so the right physical plan is
in-group numpy inside the per-document ``applyInPandas`` stage, not a
distributed range join (SURVEY §2.3 J1 note).
"""

from __future__ import annotations

import numpy as np


def match_cells(table_bboxes: np.ndarray, word_bboxes: np.ndarray) -> np.ndarray:
    """Assign each word to the table cell with max intersection-over-word.

    Parameters are ``(n_cells, 4)`` and ``(n_words, 4)`` arrays of
    ``[l, t, r, b]`` (top-left origin, t < b). Returns an ``(n_words,)``
    int array of cell indices, -1 where no cell overlaps above the 0.2
    threshold (reference: _intersection_over_pdf_match, matches kept when
    iopdf > 0, best match elected by the post-processor; we elect argmax
    directly and gate on the configured pdf_cell_iou threshold analog).
    """
    if len(word_bboxes) == 0 or len(table_bboxes) == 0:
        return np.full(len(word_bboxes), -1, dtype=np.int64)
    tb = np.asarray(table_bboxes, dtype=np.float64)[:, None, :]  # (C,1,4)
    wb = np.asarray(word_bboxes, dtype=np.float64)[None, :, :]  # (1,W,4)
    inter_w = np.clip(np.minimum(tb[..., 2], wb[..., 2]) - np.maximum(tb[..., 0], wb[..., 0]), 0, None)
    inter_h = np.clip(np.minimum(tb[..., 3], wb[..., 3]) - np.maximum(tb[..., 1], wb[..., 1]), 0, None)
    inter = inter_w * inter_h  # (C,W)
    word_area = np.maximum(
        (wb[..., 2] - wb[..., 0]) * (wb[..., 3] - wb[..., 1]), 1e-9
    )  # (1,W)
    iopdf = inter / word_area  # (C,W)
    best = iopdf.argmax(axis=0)
    assigned = np.where(iopdf.max(axis=0) >= 0.2, best, -1)
    return assigned.astype(np.int64)


def assemble_cell_texts(
    n_cells: int,
    assignment: np.ndarray,
    word_bboxes: np.ndarray,
    word_texts: list,
) -> list:
    """Per matched cell, join its words in reading position order.

    Reference analog: matching_post_processor's cell-text synthesis —
    words sorted by (top, left) then whitespace-joined.
    """
    texts = [""] * n_cells
    wb = np.asarray(word_bboxes, dtype=np.float64) if len(word_texts) else None
    for cell_idx in range(n_cells):
        members = np.nonzero(assignment == cell_idx)[0]
        if len(members) == 0:
            continue
        order = members[np.lexsort((wb[members, 0], wb[members, 1]))]
        texts[cell_idx] = " ".join(word_texts[i] for i in order)
    return texts


def match_table(
    table_bboxes: np.ndarray,
    word_bboxes: np.ndarray,
    word_texts: list,
) -> list:
    """match_cells + assemble_cell_texts in one call → per-cell texts."""
    assignment = match_cells(table_bboxes, word_bboxes)
    return assemble_cell_texts(len(table_bboxes), assignment, word_bboxes, word_texts)
