"""TableFormer matching post-processor (J5) — step-by-step transcription
tests against the reference algorithm
(docling-ibm-models/.../matching_post_processor.py:31-1374).

Each test constructs a deterministic input and asserts the behavior the
reference's code produces for it (transcribed by reading the reference,
since it ships no post-processor goldens of its own).
"""

from __future__ import annotations

from docling_plus_spark.pdf.table_postprocess import (
    align_table_cells_to_pdf,
    deduplicate_columns,
    final_assignment,
    find_alignment_in_column,
    good_bad_cells_in_column,
    intersection_over_pdf_match,
    median_pos_size,
    merge_two_bboxes,
    move_cells_to_pos,
    pick_orphan_cells,
    postprocess_predicted_table,
    process,
    table_dimension,
)


def tc(cell_id, row, col, bbox, cls=2, **kw):
    d = {
        "cell_id": cell_id,
        "row_id": row,
        "column_id": col,
        "bbox": list(bbox),
        "label": "body",
        "cell_class": cls,
    }
    d.update(kw)
    return d


def pc(pid, bbox, text="w"):
    return {"id": pid, "bbox": list(bbox), "text": text}


# ---------------------------------------------------------------- step 0
def test_table_dimension_plus_one_semantics():
    cells = [tc(5, 2, 3, [0, 0, 1, 1]), tc(9, 0, 1, [0, 0, 1, 1])]
    assert table_dimension(cells) == (4, 3, 9)


def test_table_dimension_empty_is_1x1():
    assert table_dimension([]) == (2, 2, 0)  # columns=rows=1 → +1


# ---------------------------------------------------------------- step -1/5
def test_ioc_match_positive_intersections_only():
    cells = [tc(0, 0, 0, [0, 0, 10, 10]), tc(1, 0, 1, [20, 0, 30, 10])]
    pdfs = [pc(0, [1, 1, 9, 9]), pc(1, [11, 1, 19, 9]), pc(2, [22, 2, 28, 8])]
    m = intersection_over_pdf_match(cells, pdfs)
    assert set(m) == {"0", "2"}
    assert m["0"] == [{"table_cell_id": 0, "iopdf": 1.0}]
    assert m["2"] == [{"table_cell_id": 1, "iopdf": 1.0}]


def test_ioc_match_partial_fraction():
    cells = [tc(0, 0, 0, [0, 0, 5, 10])]
    pdfs = [pc(0, [0, 0, 10, 10])]  # half covered
    m = intersection_over_pdf_match(cells, pdfs)
    assert abs(m["0"][0]["iopdf"] - 0.5) < 1e-9


# ---------------------------------------------------------------- step 1
def test_good_bad_split_and_empty_class_always_bad():
    cells = [
        tc(0, 0, 0, [0, 0, 10, 10]),          # matched → good
        tc(1, 1, 0, [0, 20, 10, 30]),          # unmatched → bad
        tc(2, 2, 0, [0, 40, 10, 50], cls=1),   # empty class → bad even if matched
    ]
    matches = {
        "0": [{"table_cell_id": 0, "iopdf": 1.0}],
        "1": [{"table_cell_id": 2, "iopdf": 1.0}],
    }
    good, bad = good_bad_cells_in_column(cells, 0, matches)
    assert [c["cell_id"] for c in good] == [0]
    assert [c["cell_id"] for c in bad] == [1, 2]


# ---------------------------------------------------------------- step 2
def test_alignment_by_smallest_spread():
    # identical lefts → left
    col = [tc(0, 0, 0, [10, 0, 30, 5]), tc(1, 1, 0, [10, 10, 50, 15])]
    assert find_alignment_in_column(col) == "left"
    # identical rights → right
    col = [tc(0, 0, 0, [10, 0, 50, 5]), tc(1, 1, 0, [30, 10, 50, 15])]
    assert find_alignment_in_column(col) == "right"
    # identical centers → middle
    col = [tc(0, 0, 0, [10, 0, 50, 5]), tc(1, 1, 0, [20, 10, 40, 15])]
    assert find_alignment_in_column(col) == "middle"
    assert find_alignment_in_column([]) == "left"  # default


# ---------------------------------------------------------------- step 3
def test_median_skips_spans_and_empty():
    col = [
        tc(0, 0, 0, [10, 0, 30, 10]),
        tc(1, 1, 0, [12, 20, 32, 28]),
        tc(2, 2, 0, [14, 40, 34, 52]),
        tc(3, 3, 0, [100, 60, 200, 70], colspan_val=2),  # span → skipped
        tc(4, 4, 0, [100, 80, 200, 90], cls=1),          # empty → skipped
    ]
    mx, my, mw, mh = median_pos_size(col, "left")
    assert (mx, my) == (12, 20)
    assert mw == 20 and mh == 10


def test_median_defaults_when_no_candidates():
    assert median_pos_size([], "left") == (0, 0, 1, 1)


# ---------------------------------------------------------------- step 4
def test_move_cells_left_middle_right():
    cell = tc(7, 1, 2, [50, 5, 70, 15], rowspan_val=2)
    (left,) = move_cells_to_pos([cell], 10, False, 1, 1, "left")
    assert left["bbox"] == [10, 5, 30, 15]
    assert left["rowspan_val"] == 2  # spans survive the move
    (mid,) = move_cells_to_pos([cell], 10, False, 1, 1, "middle")
    assert mid["bbox"] == [0, 5, 20, 15]
    (right,) = move_cells_to_pos([cell], 10, False, 1, 1, "right")
    assert right["bbox"] == [-10, 5, 10, 15]


def test_move_cells_rescale():
    cell = tc(7, 1, 2, [50, 5, 70, 15])
    (c,) = move_cells_to_pos([cell], 10, True, 8, 4, "left")
    assert c["bbox"] == [10, 5, 18, 9]


# ---------------------------------------------------------------- step 7
def test_deduplicate_adjacent_columns_over_60pct_overlap():
    # col 0 and col 1 both match the same 2 pdf cells; col 1 scores lower
    cells = [
        tc(0, 0, 0, [0, 0, 10, 10]),
        tc(1, 0, 1, [1, 0, 11, 10]),
        tc(2, 0, 2, [20, 0, 30, 10]),
    ]
    ioc = {
        "0": [
            {"table_cell_id": 0, "iopdf": 0.9},
            {"table_cell_id": 1, "iopdf": 0.5},
        ],
        "1": [
            {"table_cell_id": 0, "iopdf": 0.8},
            {"table_cell_id": 1, "iopdf": 0.4},
        ],
        "2": [{"table_cell_id": 2, "iopdf": 1.0}],
    }
    new_cells, new_matches, ncols = deduplicate_columns(3, cells, {}, ioc)
    assert ncols == 2
    assert [c["cell_id"] for c in new_cells] == [0, 2]  # col 1 eliminated
    assert all(
        m["table_cell_id"] != 1 for lst in new_matches.values() for m in lst
    )


def test_deduplicate_keeps_distinct_columns():
    cells = [tc(0, 0, 0, [0, 0, 10, 10]), tc(1, 0, 1, [20, 0, 30, 10])]
    ioc = {
        "0": [{"table_cell_id": 0, "iopdf": 1.0}],
        "1": [{"table_cell_id": 1, "iopdf": 1.0}],
    }
    _, _, ncols = deduplicate_columns(2, cells, {}, ioc)
    assert ncols == 2


# ---------------------------------------------------------------- step 8
def test_final_assignment_keeps_max_iopdf_only():
    ioc = {
        "0": [
            {"table_cell_id": 0, "iopdf": 0.3},
            {"table_cell_id": 1, "iopdf": 0.7},
        ]
    }
    out = final_assignment(ioc)
    assert out == {"0": [{"table_cell_id": 1, "iopdf": 0.7}]}


# ---------------------------------------------------------------- step 8a
def test_align_cells_to_matched_pdf_hull():
    cells = [tc(0, 0, 0, [0, 0, 100, 100])]
    pdfs = [pc(0, [10, 10, 20, 20]), pc(1, [60, 60, 80, 90])]
    matches = {
        "0": [{"table_cell_id": 0, "iopdf": 1.0}],
        "1": [{"table_cell_id": 0, "iopdf": 1.0}],
    }
    (aligned,) = align_table_cells_to_pdf(cells, pdfs, matches)
    assert aligned["bbox"] == [10, 10, 80, 90]


# ---------------------------------------------------------------- step 9
def test_orphan_pickup_reuses_structural_cell_and_merges_bbox():
    cells = [
        tc(0, 0, 0, [0, 0, 10, 10]),
        tc(1, 0, 1, [20, 0, 30, 10]),
        tc(2, 1, 0, [0, 20, 10, 30]),
        tc(3, 1, 1, [20, 20, 30, 30]),
    ]
    pdfs = [pc(9, [22, 21, 28, 29], "orphan")]
    matches: dict = {}
    new_matches, new_cells, max_id = pick_orphan_cells(2, 2, 3, cells, pdfs, matches)
    assert new_matches["9"][0]["table_cell_id"] == 3
    target = [c for c in new_cells if c["cell_id"] == 3][0]
    assert target["bbox"] == [20, 20, 30, 30]  # merge of [20,20,30,30]+[22,21,28,29]
    assert max_id == 3  # reused, not minted


def test_orphan_pickup_mints_new_cell_when_slot_empty():
    cells = [
        tc(0, 0, 0, [0, 0, 10, 10]),
        tc(1, 0, 1, [20, 0, 30, 10]),
        tc(2, 1, 0, [0, 20, 10, 30]),
        # (1,1) slot intentionally missing
    ]
    pdfs = [pc(9, [22, 21, 28, 29], "orphan")]
    new_matches, new_cells, max_id = pick_orphan_cells(2, 2, 2, cells, pdfs, {})
    assert max_id == 3
    minted = [c for c in new_cells if c["cell_id"] == 3][0]
    assert (minted["row_id"], minted["column_id"]) == (1, 1)
    assert new_matches["9"][0]["table_cell_id"] == 3
    assert "post" in new_matches["9"][0]


def test_merge_two_bboxes():
    assert merge_two_bboxes([0, 0, 5, 5], [3, -1, 9, 4]) == [0, -1, 9, 5]


# ---------------------------------------------------------------- driver
def _grid_inputs():
    """2x3 predicted grid; the (1,2) prediction is displaced far right
    (no match), its word is an orphan the repair must recover."""
    cells = [
        tc(0, 0, 0, [0, 0, 10, 10]),
        tc(1, 0, 1, [20, 0, 30, 10]),
        tc(2, 0, 2, [40, 0, 50, 10]),
        tc(3, 1, 0, [0, 20, 10, 30]),
        tc(4, 1, 1, [20, 20, 30, 30]),
        tc(5, 1, 2, [400, 20, 410, 30]),  # displaced prediction
    ]
    pdfs = [
        pc(0, [1, 1, 9, 9], "a"),
        pc(1, [21, 1, 29, 9], "b"),
        pc(2, [41, 1, 49, 9], "c"),
        pc(3, [1, 21, 9, 29], "d"),
        pc(4, [21, 21, 29, 29], "e"),
        pc(5, [41, 21, 49, 29], "f"),  # orphan: its cell is displaced
    ]
    return cells, pdfs


def test_process_end_to_end_recovers_displaced_column_cell():
    cells, pdfs = _grid_inputs()
    details = process({"table_cells": cells, "pdf_cells": pdfs, "matches": {}})
    matches = details["matches"]
    # every pdf cell matched exactly once
    assert set(matches) == {"0", "1", "2", "3", "4", "5"}
    assert all(len(v) == 1 for v in matches.values())
    # the orphan landed on the moved (1,2) cell
    by_id = {c["cell_id"]: c for c in details["table_cells"]}
    tcell = by_id[matches["5"][0]["table_cell_id"]]
    assert (tcell["row_id"], tcell["column_id"]) == (1, 2)


def test_process_empty_text_pdf_cells_cleared():
    cells, pdfs = _grid_inputs()
    pdfs.append(pc(99, [0, 0, 50, 30], ""))  # empty text → cleared first
    details = process({"table_cells": cells, "pdf_cells": pdfs, "matches": {}})
    assert all(p["text"] != "" for p in details["pdf_cells"])
    assert "99" not in details["matches"]


def test_postprocess_predicted_table_assembles_texts():
    cells, pdfs = _grid_inputs()
    data = postprocess_predicted_table(cells, pdfs)
    assert (data.num_rows, data.num_cols) == (2, 3)
    texts = {
        (c.start_row_offset_idx, c.start_col_offset_idx): c.text
        for c in data.table_cells
    }
    assert texts[(0, 0)] == "a" and texts[(0, 1)] == "b" and texts[(0, 2)] == "c"
    assert texts[(1, 0)] == "d" and texts[(1, 1)] == "e" and texts[(1, 2)] == "f"
    assert all(
        c.column_header == (c.start_row_offset_idx == 0) for c in data.table_cells
    )


def test_repair_predicted_tables_spark_stage():
    """End-to-end through the Spark stage: one repaired grid per prediction."""
    import json

    import pytest

    from docling_plus_spark.pdf import pipeline as pp
    from docling_plus_spark.plans import build_session

    spark = build_session("local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    cells, pdfs = _grid_inputs()
    preds = spark.createDataFrame(
        [("u1", 0, 0, json.dumps(cells), json.dumps(pdfs))],
        pp.PREDICTED_TABLES_SCHEMA,
    )
    ov = pp.repair_predicted_tables(preds).collect()
    assert len(ov) == 1 and ov[0]["table_json"] is not None
    obj = json.loads(ov[0]["table_json"])
    assert obj["num_rows"] == 2 and obj["num_cols"] == 3
    texts = {tuple(c[1:3]): c[0] for c in obj["cells"]}
    assert texts[(1, 2)] == "f"  # the recovered orphan
