"""TableFormer matching post-processor (J5 — the 13-step repair).

Clean-room reimplementation of the reference's deterministic match-repair
algorithm (`docling-ibm-models/docling_ibm_models/tableformer/
data_management/matching_post_processor.py:1124` ``process`` + helpers
``:31-1104``; IOC matcher ``tf_cell_matcher.py:465-526``). The algorithm
repairs NN-predicted table-structure cells against the page's PDF word
cells:

-1. if no initial matches: generate intersection-over-pdf-cell matches
 0. minimal grid dimensions (cols/rows, max cell id)
 1. per column: split cells into good (matched) / bad (unmatched)
 2. per column: infer alignment (left/middle/right) from the smallest
    min-max spread of the good cells' left/centroid/right edges
 3. per column: median x-position and size over good, unspanned,
    non-empty cells
 4. move bad cells to the column's median position (alignment-aware)
 5. re-run intersection-over-pdf matching on the fixed cells
 7. deduplicate adjacent structural columns whose matched pdf-cell sets
    overlap > 60%, keeping the higher-scoring column
 8. final assignment: each pdf cell keeps only its highest-iopdf match
 8a. align table-cell bboxes to the hull of their matched pdf cells
     (skipped above 300 pdf cells, like the reference)
 9. orphan pickup: band rows by y and columns by x, assign each
    unmatched pdf cell to the (row, col) whose bands it intersects with
    the smallest centroid depth; reuse the structural cell there or
    mint a new one

Data shapes are the reference's wire dicts so unit tests can transcribe
its behavior literally:

* ``table_cells``: ``{"cell_id", "row_id", "column_id", "bbox":[x1,y1,x2,y2],
  "label", "cell_class", ["rowspan_val"], ["colspan_val"]}``
* ``pdf_cells``: ``{"id", "text", "bbox"}``
* ``matches``: ``{str(pdf_cell_id): [{"table_cell_id", "iou"|"iopdf"|"post"}]}``

This runs per table inside the ``repair_predicted_tables`` map stage (a
table is ~10²-10³ cells — in-task Python, not a distributed join, is
the right physical plan; SURVEY §2.3 J1 note).
"""

from __future__ import annotations

import statistics
from typing import Optional


# --------------------------------------------------------------------------
# matcher primitive (tf_cell_matcher.py:465-526)

def intersection_over_pdf_match(table_cells: list, pdf_cells: list) -> dict:
    """{str(pdf_id): [{"table_cell_id", "iopdf"}]} for every pair with a
    positive intersection-over-pdf-cell-area."""
    matches: dict = {}
    for tcell in table_cells:
        tb = tcell["bbox"]
        for pcell in pdf_cells:
            pb = pcell["bbox"]
            iw = min(tb[2], pb[2]) - max(tb[0], pb[0])
            ih = min(tb[3], pb[3]) - max(tb[1], pb[1])
            if iw <= 0 or ih <= 0:
                continue
            parea = (pb[2] - pb[0]) * (pb[3] - pb[1])
            iopdf = (iw * ih) / parea if parea > 0 else 0
            if iopdf > 0:
                match = {"table_cell_id": tcell["cell_id"], "iopdf": iopdf}
                lst = matches.setdefault(str(pcell["id"]), [])
                if match not in lst:
                    lst.append(match)
    return matches


# --------------------------------------------------------------------------
# steps 0-4

def table_dimension(table_cells: list) -> tuple:
    """(columns, rows, max_cell_id) — reference counts from 1 and adds 1."""
    columns = rows = 1
    max_cell_id = 0
    for cell in table_cells:
        columns = max(columns, cell["column_id"])
        rows = max(rows, cell["row_id"])
        max_cell_id = max(max_cell_id, cell["cell_id"])
    return columns + 1, rows + 1, max_cell_id


def good_bad_cells_in_column(table_cells: list, column: int, matches: dict) -> tuple:
    """Split a column's cells into matched (good) and unmatched (bad).

    Reference quirk preserved: a good cell is appended once per matching
    (pdf_cell, match) pair, and cells with cell_class <= 1 permanently
    flip ``allow_class`` off for all subsequent pdf ids of that cell.
    """
    good: list = []
    bad: list = []
    for cell in table_cells:
        if cell["column_id"] != column:
            continue
        cid = cell["cell_id"]
        bad_match = True
        allow_class = True
        for pdf_cell_id in matches:
            if "cell_class" in cell and cell["cell_class"] <= 1:
                allow_class = False
            if allow_class:
                for match in matches[pdf_cell_id]:
                    if match["table_cell_id"] == cid:
                        good.append(cell)
                        bad_match = False
        if bad_match:
            bad.append(cell)
    return good, bad


def find_alignment_in_column(cells: list) -> str:
    """'left' | 'middle' | 'right' by smallest min-max edge spread."""
    alignment = "left"
    lefts = [c["bbox"][0] for c in cells]
    rights = [c["bbox"][2] for c in cells]
    middles = [(c["bbox"][0] + c["bbox"][2]) / 2 for c in cells]
    if lefts:
        deltas = [
            max(lefts) - min(lefts),
            max(middles) - min(middles),
            max(rights) - min(rights),
        ]
        alignment = ["left", "middle", "right"][deltas.index(min(deltas))]
    return alignment


def median_pos_size(cells: list, alignment: str) -> tuple:
    """(median_x, median_y, median_width, median_height) over unspanned,
    non-empty cells."""
    xs, ys, ws, hs = [], [], [], []
    for cell in cells:
        if "rowspan_val" in cell or "colspan_val" in cell:
            continue
        if cell["cell_class"] <= 1:
            continue
        x = cell["bbox"][0]
        if alignment == "middle":
            x = (cell["bbox"][0] + cell["bbox"][2]) / 2
        elif alignment == "right":
            x = cell["bbox"][2]
        xs.append(x)
        ys.append(cell["bbox"][1])
        ws.append(cell["bbox"][2] - cell["bbox"][0])
        hs.append(cell["bbox"][3] - cell["bbox"][1])
    return (
        statistics.median(xs) if xs else 0,
        statistics.median(ys) if ys else 0,
        statistics.median(ws) if ws else 1,
        statistics.median(hs) if hs else 1,
    )


def move_cells_to_pos(
    cells: list,
    median_x: float,
    rescale: bool,
    median_width: float,
    median_height: float,
    alignment: str,
) -> list:
    """Relocate (and optionally resize) cells to the column position."""
    out = []
    for cell in cells:
        x1, y1, x2, y2 = cell["bbox"]
        w = x2 - x1
        nx1, ny1, nx2, ny2 = median_x, y1, median_x + w, y2
        if rescale:
            nx2 = median_x + median_width
            ny2 = y1 + median_height
        if alignment == "middle":
            nx1 = median_x - w / 2
            nx2 = nx1 + w
            if rescale:
                nx1 = median_x - median_width / 2
                nx2 = median_x + median_width / 2
        elif alignment == "right":
            nx1 = median_x - w
            nx2 = median_x
            if rescale:
                nx1 = median_x - median_width
        new_cell = {
            "bbox": [nx1, ny1, nx2, ny2],
            "cell_id": cell["cell_id"],
            "column_id": cell["column_id"],
            "label": cell["label"],
            "row_id": cell["row_id"],
            "cell_class": cell["cell_class"],
        }
        for k in ("rowspan_val", "colspan_val"):
            if k in cell:
                new_cell[k] = cell[k]
        out.append(new_cell)
    return out


# --------------------------------------------------------------------------
# steps 7-8a

def deduplicate_columns(
    tab_columns: int, table_cells: list, iou_matches: dict, ioc_matches: dict
) -> tuple:
    """Drop adjacent columns whose matched pdf-cell sets overlap > 60%,
    keeping the higher total-score column. Returns (cells, matches, ncols).
    """
    pdf_cells_in_columns: list = []
    total_score_in_columns: list = []
    for col in range(tab_columns):
        col_ids = [c["cell_id"] for c in table_cells if c["column_id"] == col]
        iou_score = ioc_score = 0.0
        pdf_iou: list = []
        pdf_ioc: list = []
        for key, lst in iou_matches.items():
            for m in lst:
                if m["table_cell_id"] in col_ids:
                    iou_score += m.get("iou", m.get("iopdf", 0))
                    pdf_iou.append(key)
        for key, lst in ioc_matches.items():
            for m in lst:
                if m["table_cell_id"] in col_ids:
                    ioc_score += m["iopdf"]
                    pdf_ioc.append(key)
        pdf_all = pdf_iou + list(set(pdf_ioc) - set(pdf_iou))
        pdf_cells_in_columns.append(pdf_all)
        total_score_in_columns.append(iou_score + ioc_score)

    pdf_cells_in_columns = [
        list({int(x) for x in col}) for col in pdf_cells_in_columns
    ]
    cols_to_eliminate: list = []
    for cl in range(tab_columns - 1):
        col_a, col_b = pdf_cells_in_columns[cl], pdf_cells_in_columns[cl + 1]
        intsct = set(col_a) & set(col_b)
        int_prc = len(intsct) / len(col_a) if col_a else 0
        if int_prc > 0.6:
            if total_score_in_columns[cl] >= total_score_in_columns[cl + 1]:
                cols_to_eliminate.append(cl + 1)
            else:
                cols_to_eliminate.append(cl)

    removed_ids: list = []
    new_cells: list = []
    for cell in table_cells:
        if cell["column_id"] in cols_to_eliminate:
            removed_ids.append(cell["cell_id"])
        else:
            new_cells.append(cell)
    new_matches: dict = {}
    for key, lst in ioc_matches.items():
        kept = [m for m in lst if m["table_cell_id"] not in removed_ids]
        if kept:
            new_matches[key] = kept
    return new_cells, new_matches, tab_columns - len(cols_to_eliminate)


def final_assignment(ioc_matches: dict) -> dict:
    """Each pdf cell keeps only its max-iopdf match (reference step 8;
    IOU preference is disabled there too)."""
    return {
        key: [max(lst, key=lambda m: m["iopdf"])]
        for key, lst in ioc_matches.items()
        if lst
    }


def align_table_cells_to_pdf(table_cells: list, pdf_cells: list, matches: dict) -> list:
    """Replace each matched cell's bbox with the hull of its matched pdf
    cells; unmatched cells are dropped (reference step 8a)."""
    pdf_bbox = {p["id"]: p["bbox"] for p in pdf_cells}
    by_id = {c["cell_id"]: c for c in table_cells}
    hulls: dict = {}
    order: list = []
    for pdf_id, lst in matches.items():
        pb = pdf_bbox.get(int(pdf_id))
        if not pb:
            continue
        for cid in {int(m["table_cell_id"]) for m in lst}:
            if cid not in by_id:
                continue
            if cid not in hulls:
                hulls[cid] = list(pb)
                order.append(cid)
            else:
                h = hulls[cid]
                hulls[cid] = [
                    min(h[0], pb[0]), min(h[1], pb[1]),
                    max(h[2], pb[2]), max(h[3], pb[3]),
                ]
    out = []
    for cid in order:
        cell = dict(by_id[cid])
        cell["bbox"] = hulls[cid]
        cell.setdefault("cell_class", "2")
        out.append(cell)
    return out


# --------------------------------------------------------------------------
# step 9

def _band_assign(values: list, bands: list, matches: dict, axis: int) -> tuple:
    """Shared row/column banding: assign each orphan pdf cell to the best
    (smallest centroid depth) band it intersects. Returns
    (per-band id lists, per-band depths, per-band bboxes, used ids, used band)."""
    per_band: list = [[] for _ in bands]
    per_depth: list = [[] for _ in bands]
    per_bbox: list = [[] for _ in bands]
    used_ids: list = []
    used_band: list = []
    for band_idx, (lo, hi) in enumerate(bands):
        for pdf_cell in values:
            pid = str(pdf_cell["id"])
            if pid in matches:
                continue
            b = pdf_cell["bbox"]
            v1, v2 = b[axis], b[axis + 2]
            within = (lo <= v1 <= hi) or (lo <= v2 <= hi) or (v1 <= lo and v2 >= hi)
            if not within:
                continue
            depth = round(abs((hi + lo) / 2 - (v1 + v2) / 2))
            if pid not in used_ids:
                used_ids.append(pid)
                used_band.append(band_idx)
                per_band[band_idx].append(pid)
                per_depth[band_idx].append(depth)
                per_bbox[band_idx].append(b)
            else:
                ui = used_ids.index(pid)
                prev_band = used_band[ui]
                if len(per_band) > prev_band and pid in per_band[prev_band]:
                    ii = per_band[prev_band].index(pid)
                    if depth < per_depth[prev_band][ii]:
                        per_band[prev_band].pop(ii)
                        per_depth[prev_band].pop(ii)
                        per_bbox[prev_band].pop(ii)
                        used_ids.pop(ui)
                        used_band.pop(ui)
                        used_ids.append(pid)
                        used_band.append(band_idx)
                        per_band[band_idx].append(pid)
                        per_depth[band_idx].append(depth)
                        per_bbox[band_idx].append(b)
    return per_band, per_depth, per_bbox, used_ids, used_band


def merge_two_bboxes(b1: list, b2: list) -> list:
    return [min(b1[0], b2[0]), min(b1[1], b2[1]), max(b1[2], b2[2]), max(b1[3], b2[3])]


def pick_orphan_cells(
    tab_rows: int,
    tab_cols: int,
    max_cell_id: int,
    table_cells: list,
    pdf_cells: list,
    matches: dict,
) -> tuple:
    """Reference step 9: band rows/columns, place orphan pdf cells."""
    new_matches = matches
    new_table_cells = table_cells

    row_bands = []
    for row in range(tab_rows):
        y1s = [
            c["bbox"][1]
            for c in table_cells
            if c["row_id"] == row and "rowspan_val" not in c and c["cell_class"] > 1
        ]
        y2s = [
            c["bbox"][3]
            for c in table_cells
            if c["row_id"] == row and "rowspan_val" not in c and c["cell_class"] > 1
        ]
        row_bands.append((min(y1s) if y1s else -1, max(y2s) if y2s else -1))
    orphan_rows, orphan_rows_depth, orphan_rows_bbox, _, _ = _band_assign(
        pdf_cells, row_bands, matches, axis=1
    )

    col_bands = []
    for col in range(tab_cols):
        x1s = [
            c["bbox"][0]
            for c in table_cells
            if c["column_id"] == col and "colspan_val" not in c and c["cell_class"] > 1
        ]
        x2s = [
            c["bbox"][2]
            for c in table_cells
            if c["column_id"] == col and "colspan_val" not in c and c["cell_class"] > 1
        ]
        col_bands.append((min(x1s) if x1s else -1, max(x2s) if x2s else -1))
    orphan_cols, orphan_cols_depth, orphan_cols_bbox, used_col_ids, used_col_band = (
        _band_assign(pdf_cells, col_bands, matches, axis=0)
    )

    # sorted pdf ids (c++-parity ordering in the reference)
    row_id_per_pdf: dict = {}
    orphan_pdf_ids: list = []
    for row_id, ids in enumerate(orphan_rows):
        orphan_pdf_ids.extend(int(x) for x in ids)
        for pid in ids:
            row_id_per_pdf[int(pid)] = row_id
    orphan_pdf_ids.sort()

    for pdf_id_int in orphan_pdf_ids:
        new_row_id = row_id_per_pdf[pdf_id_int]
        pid = str(pdf_id_int)
        if pid not in used_col_ids:
            continue
        new_col_id = used_col_band[used_col_ids.index(pid)]
        di = orphan_cols[new_col_id].index(pid)
        confidence = orphan_cols_depth[new_col_id][di]
        pdf_bbox = orphan_cols_bbox[new_col_id][di]

        tcell = [
            c
            for c in table_cells
            if c["row_id"] == new_row_id and c["column_id"] == new_col_id
        ]
        if tcell:
            new_cell_id = tcell[0]["cell_id"]
            for c in new_table_cells:
                if c["cell_id"] == new_cell_id:
                    c["bbox"] = merge_two_bboxes(c["bbox"], pdf_bbox)
        else:
            max_cell_id += 1
            new_cell_id = max_cell_id
            new_table_cells.append(
                {
                    "bbox": pdf_bbox,
                    "cell_id": new_cell_id,
                    "column_id": new_col_id,
                    "label": "body",
                    "row_id": new_row_id,
                    "cell_class": 2,
                }
            )
        new_matches[pid] = [{"post": confidence, "table_cell_id": new_cell_id}]
    return new_matches, new_table_cells, max_cell_id


# --------------------------------------------------------------------------
# driver

def process(matching_details: dict) -> dict:
    """The reference's full post-processing flow (process(), :1124)."""
    table_cells = matching_details["table_cells"]
    pdf_cells = [p for p in matching_details["pdf_cells"] if p["text"] != ""]
    matches = matching_details["matches"]

    if not matches:
        matches = intersection_over_pdf_match(table_cells, pdf_cells)

    tab_columns, tab_rows, max_cell_id = table_dimension(table_cells)

    fixed_table_cells: list = []
    for col in range(tab_columns):
        good, bad = good_bad_cells_in_column(table_cells, col, matches)
        alignment = find_alignment_in_column(good)
        median_x, _my, median_w, median_h = median_pos_size(good, alignment)
        moved = move_cells_to_pos(bad, median_x, False, median_w, median_h, alignment)
        fixed_table_cells.extend(good)
        fixed_table_cells.extend(moved)

    fixed_sorted = sorted(fixed_table_cells, key=lambda c: c["cell_id"])
    ioc_matches = intersection_over_pdf_match(fixed_sorted, pdf_cells)

    dedupl_cells, dedupl_matches, _ncols = deduplicate_columns(
        tab_columns, fixed_sorted, matches, ioc_matches
    )
    final_matches = final_assignment(dedupl_matches)

    dedupl_sorted = sorted(dedupl_cells, key=lambda c: c["cell_id"])
    if len(pdf_cells) > 300:  # reference's performance gate
        aligned = dedupl_sorted
    else:
        aligned = align_table_cells_to_pdf(dedupl_sorted, pdf_cells, final_matches)

    final_matches, table_cells_out, max_cell_id = pick_orphan_cells(
        tab_rows, tab_columns, max_cell_id, aligned, pdf_cells, final_matches
    )

    matching_details["table_cells"] = table_cells_out
    matching_details["matches"] = final_matches
    matching_details["pdf_cells"] = pdf_cells
    return matching_details


# --------------------------------------------------------------------------
# wiring: NN-predicted structure + word cells → repaired TableData

def postprocess_predicted_table(predicted_cells: list, word_cells: list):
    """Entry point for externally-predicted (TableFormer-style) structure.

    ``predicted_cells``: reference-shape table_cells (see module doc).
    ``word_cells``: ``{"id", "text", "bbox"}`` page word cells inside the
    table region. Runs the full repair, then assembles a TableData whose
    cell texts are the matched pdf-cell texts joined in (y, x) order —
    the docling-core output contract, so downstream md/text serialization
    is shared with the inferred-structure path.
    """
    from docling_plus_spark.doc.document import TableCellModel, TableData

    details = process(
        {
            "table_cells": [dict(c) for c in predicted_cells],
            "pdf_cells": [dict(p) for p in word_cells],
            "matches": {},
        }
    )
    cells = details["table_cells"]
    matches = details["matches"]
    text_by_pdf = {p["id"]: p["text"] for p in details["pdf_cells"]}
    bbox_by_pdf = {p["id"]: p["bbox"] for p in details["pdf_cells"]}
    words_by_cell: dict = {}
    for pdf_id, lst in matches.items():
        for m in lst:
            words_by_cell.setdefault(m["table_cell_id"], []).append(int(pdf_id))
    n_rows = max((c["row_id"] for c in cells), default=-1) + 1
    n_cols = max((c["column_id"] for c in cells), default=-1) + 1
    out_cells = []
    for c in sorted(cells, key=lambda c: (c["row_id"], c["column_id"], c["cell_id"])):
        members = sorted(
            words_by_cell.get(c["cell_id"], []),
            key=lambda i: (bbox_by_pdf[i][1], bbox_by_pdf[i][0]),
        )
        text = " ".join(text_by_pdf[i] for i in members)
        rs = int(c.get("rowspan_val", 1))
        cs = int(c.get("colspan_val", 1))
        out_cells.append(
            TableCellModel(
                text=text,
                row_span=rs,
                col_span=cs,
                start_row_offset_idx=c["row_id"],
                end_row_offset_idx=c["row_id"] + rs,
                start_col_offset_idx=c["column_id"],
                end_col_offset_idx=c["column_id"] + cs,
                column_header=c["row_id"] == 0,
            )
        )
    return TableData(num_rows=n_rows, num_cols=n_cols, table_cells=out_cells)
