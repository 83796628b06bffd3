"""Layout clustering + postprocessing (SURVEY §2.2 P8-P10, §2.3 J1-J4,
§2.4 A3, §2.5 O1-O2).

Behavior-parity reimplementation of the reference's
``LayoutPostprocessor`` (docling/docling/utils/layout_postprocessor.py),
from scratch, without the R-tree/interval-tree candidate indexes (:49-151)
— at per-page n≤10² the plain O(n²) overlap scan wins, and the indexes
change nothing semantically.

Since the NN layout model cannot run here (torch absent),
:func:`propose_clusters` provides the rule-based substitute the syndoc
component demonstrates (syndoc/pipelines/pdf_pipeline.py:146-160 falls
back to plain extraction when no model is configured): geometric line
grouping → paragraph blocks. Callers with precomputed clusters (the
production contract) skip it.
"""

from __future__ import annotations

from bisect import bisect_right
from dataclasses import replace

from .geometry import (
    BBox,
    Cluster,
    EPS,
    LABEL_CAPTION,
    LABEL_CHECKBOX_SELECTED,
    LABEL_CHECKBOX_UNSELECTED,
    LABEL_CODE,
    LABEL_DOCUMENT_INDEX,
    LABEL_FOOTNOTE,
    LABEL_FORM,
    LABEL_FORMULA,
    LABEL_KEY_VALUE_REGION,
    LABEL_LIST_ITEM,
    LABEL_PAGE_FOOTER,
    LABEL_PAGE_HEADER,
    LABEL_PICTURE,
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TEXT,
    LABEL_TITLE,
)

# layout_postprocessor.py:172-190
CONFIDENCE_THRESHOLDS = {
    LABEL_CAPTION: 0.5,
    LABEL_FOOTNOTE: 0.5,
    LABEL_FORMULA: 0.5,
    LABEL_LIST_ITEM: 0.5,
    LABEL_PAGE_FOOTER: 0.5,
    LABEL_PAGE_HEADER: 0.5,
    LABEL_PICTURE: 0.5,
    LABEL_SECTION_HEADER: 0.45,
    LABEL_TABLE: 0.5,
    LABEL_TEXT: 0.5,
    LABEL_TITLE: 0.45,
    LABEL_CODE: 0.45,
    LABEL_CHECKBOX_SELECTED: 0.45,
    LABEL_CHECKBOX_UNSELECTED: 0.45,
    LABEL_FORM: 0.45,
    LABEL_KEY_VALUE_REGION: 0.45,
    LABEL_DOCUMENT_INDEX: 0.45,
}

# layout_postprocessor.py:192-195
LABEL_REMAPPING = {LABEL_TITLE: LABEL_SECTION_HEADER}

# layout_postprocessor.py:156-162
OVERLAP_PARAMS = {
    "regular": {"area_threshold": 1.3, "conf_threshold": 0.05},
    "picture": {"area_threshold": 2.0, "conf_threshold": 0.3},
    "wrapper": {"area_threshold": 2.0, "conf_threshold": 0.2},
}

# layout_postprocessor.py _remove_overlapping_clusters: IoU and containment bound
OVERLAP_THRESHOLD = 0.8

WRAPPER_TYPES = {LABEL_FORM, LABEL_KEY_VALUE_REGION, LABEL_TABLE, LABEL_DOCUMENT_INDEX}
SPECIAL_TYPES = WRAPPER_TYPES | {LABEL_PICTURE}


class _UnionFind:
    def __init__(self, ids):
        self.parent = {i: i for i in ids}

    def find(self, i):
        while self.parent[i] != i:
            self.parent[i] = self.parent[self.parent[i]]
            i = self.parent[i]
        return i

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra

    def groups(self):
        out: dict = {}
        for i in self.parent:
            out.setdefault(self.find(i), []).append(i)
        return out


def _check_overlap(a: BBox, b: BBox) -> bool:
    """IoU or either-direction containment above ``OVERLAP_THRESHOLD``
    (layout_postprocessor.py SpatialClusterIndex.check_overlap)."""
    return (
        a.iou(b) > OVERLAP_THRESHOLD
        or a.intersection_over_self(b) > OVERLAP_THRESHOLD
        or b.intersection_over_self(a) > OVERLAP_THRESHOLD
    )


class LayoutPostprocessor:
    """clusters × cells → refined clusters (+cells) for one page."""

    def __init__(self, cells: list, clusters: list, page_width: float, page_height: float):
        self.cells = cells
        self.page_width = page_width
        self.page_height = page_height
        self.regular = [c for c in clusters if c.label not in SPECIAL_TYPES]
        self.special = [c for c in clusters if c.label in SPECIAL_TYPES]

    # -- public -----------------------------------------------------------
    def postprocess(self) -> list:
        regular = self._process_regular()
        special = self._process_special(regular)
        # regular clusters absorbed as wrapper children leave the top
        # level (layout_postprocessor.py:226-234)
        contained_ids = {
            ch.id
            for w in special
            if w.label in SPECIAL_TYPES
            for ch in w.children
        }
        regular = [c for c in regular if c.id not in contained_ids]
        final = regular + special
        return self._sort_clusters(final)

    # -- regular ----------------------------------------------------------
    def _process_regular(self) -> list:
        clusters = [
            c for c in self.regular if c.confidence >= CONFIDENCE_THRESHOLDS[c.label]
        ]
        clusters = [
            replace(c, label=LABEL_REMAPPING.get(c.label, c.label)) for c in clusters
        ]
        clusters = self._assign_cells(clusters)
        clusters = [c for c in clusters if c.cells or c.label == LABEL_FORMULA]
        # orphaned cells become TEXT clusters (layout_postprocessor.py:286-306)
        unassigned = self._unassigned_cells(clusters)
        next_id = max((c.id for c in self.regular + self.special), default=0) + 1
        for i, cell in enumerate(unassigned):
            clusters.append(
                Cluster(
                    id=next_id + i,
                    label=LABEL_TEXT,
                    bbox=cell.bbox,
                    confidence=1.0,
                    cells=[cell],
                )
            )
        # iterative refinement, max 3 rounds (:308-316)
        prev = len(clusters) + 1
        for _ in range(3):
            if prev == len(clusters):
                break
            prev = len(clusters)
            clusters = [self._adjust_bbox(c) for c in clusters]
            clusters = self._remove_overlapping(clusters, "regular")
        return clusters

    # -- special ----------------------------------------------------------
    def _process_special(self, regular: list) -> list:
        special = [
            c for c in self.special if c.confidence >= CONFIDENCE_THRESHOLDS[c.label]
        ]
        # wrapper ≈ TABLE → drop wrapper (:383-416)
        keep = []
        for w in special:
            drop = False
            if w.label in (LABEL_KEY_VALUE_REGION, LABEL_FORM, LABEL_DOCUMENT_INDEX):
                for t in (c for c in special if c.label == LABEL_TABLE):
                    if (
                        w.bbox.intersection_over_self(t.bbox) > 0.9
                        and w.confidence - t.confidence < 0.1
                    ):
                        drop = True
                        break
            if not drop:
                keep.append(w)
        special = keep
        # full-page-picture filter (:322-334)
        page_area = self.page_width * self.page_height
        if page_area > 0:
            special = [
                c
                for c in special
                if not (c.label == LABEL_PICTURE and c.bbox.area() / page_area > 0.90)
            ]
        # containment join: regular clusters ≥80 % inside a special become
        # children; FORM/KV bbox re-derived from children (:336-365)
        out = []
        for sp in special:
            contained = [
                r for r in regular if r.bbox.intersection_over_self(sp.bbox) > 0.8
            ]
            if contained:
                contained = self._sort_clusters(contained)
                sp = replace(sp, children=contained)
                if sp.label in (LABEL_FORM, LABEL_KEY_VALUE_REGION):
                    sp = replace(
                        sp,
                        bbox=BBox(
                            l=min(c.bbox.l for c in contained),
                            b=min(c.bbox.b for c in contained),
                            r=max(c.bbox.r for c in contained),
                            t=max(c.bbox.t for c in contained),
                        ),
                    )
                cells = []
                for ch in contained:
                    cells.extend(ch.cells)
                sp = replace(
                    sp, cells=sorted(_dedup_cells(cells), key=lambda c: c.index)
                )
            out.append(sp)
        pictures = self._remove_overlapping(
            [c for c in out if c.label == LABEL_PICTURE], "picture"
        )
        wrappers = self._remove_overlapping(
            [c for c in out if c.label in WRAPPER_TYPES], "wrapper"
        )
        return pictures + wrappers

    # -- helpers ----------------------------------------------------------
    def _assign_cells(self, clusters: list) -> list:
        """J1: cell → argmax cluster by intersection_over_self ≥ 0.2
        (layout_postprocessor.py:584-616)."""
        clusters = [replace(c, cells=[]) for c in clusters]
        for cell in self.cells:
            if not cell.text.strip() or cell.bbox.area() <= 0:
                continue
            best, best_ov = None, 0.2
            for cl in clusters:
                ov = cell.bbox.intersection_over_self(cl.bbox)
                if ov > best_ov:
                    best, best_ov = cl, ov
            if best is not None:
                best.cells.append(cell)
        return [replace(c, cells=_dedup_cells(c.cells)) for c in clusters]

    def _unassigned_cells(self, clusters: list) -> list:
        assigned = {cell.index for c in clusters for cell in c.cells}
        return [
            c for c in self.cells if c.index not in assigned and c.text.strip()
        ]

    @staticmethod
    def _adjust_bbox(cluster: Cluster) -> Cluster:
        """A3: envelope of member cells; TABLE = union with own bbox
        (layout_postprocessor.py:627-651)."""
        if not cluster.cells:
            return cluster
        l = min(c.bbox.l for c in cluster.cells)
        b = min(c.bbox.b for c in cluster.cells)
        r = max(c.bbox.r for c in cluster.cells)
        t = max(c.bbox.t for c in cluster.cells)
        if cluster.label == LABEL_TABLE:
            l, b = min(l, cluster.bbox.l), min(b, cluster.bbox.b)
            r, t = max(r, cluster.bbox.r), max(t, cluster.bbox.t)
        return replace(cluster, bbox=BBox(l=l, b=b, r=r, t=t))

    def _remove_overlapping(self, clusters: list, kind: str) -> list:
        """J2: union-find over 0.8-IoU/containment pairs, then best-cluster
        election with label rules (:418-542)."""
        if not clusters:
            return []
        params = OVERLAP_PARAMS[kind]
        by_id = {c.id: c for c in clusters}
        uf = _UnionFind(by_id.keys())
        ids = list(by_id)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if _check_overlap(by_id[a].bbox, by_id[b].bbox):
                    uf.union(a, b)
        result = []
        for group in uf.groups().values():
            if len(group) == 1:
                result.append(by_id[group[0]])
                continue
            members = [by_id[g] for g in group]
            best = self._elect(members, params)
            cells = list(best.cells)
            for m in members:
                if m is not best:
                    cells.extend(m.cells)
            result.append(
                replace(best, cells=sorted(_dedup_cells(cells), key=lambda c: c.index))
            )
        return result

    @staticmethod
    def _prefer(candidate: Cluster, other: Cluster, params: dict) -> bool:
        """Label preference rules (:418-455)."""
        if candidate.label == LABEL_LIST_ITEM and other.label == LABEL_TEXT:
            if other.bbox.area() > 0:
                ratio = candidate.bbox.area() / other.bbox.area()
                if abs(1 - ratio) < 0.2:
                    return True
        if candidate.label == LABEL_CODE:
            if other.bbox.intersection_over_self(candidate.bbox) > 0.8:
                return True
        if other.bbox.area() > 0:
            ratio = candidate.bbox.area() / other.bbox.area()
            conf_diff = other.confidence - candidate.confidence
            if ratio <= params["area_threshold"] and conf_diff > params["conf_threshold"]:
                return False
        return True

    def _elect(self, members: list, params: dict) -> Cluster:
        """Best-of-group (:457-486)."""
        best = None
        for cand in members:
            ok = all(
                self._prefer(cand, other, params)
                for other in members
                if other is not cand
            )
            if not ok:
                continue
            if best is None:
                best = cand
            elif (
                cand.bbox.area() > best.bbox.area()
                and best.confidence - cand.confidence <= params["conf_threshold"]
            ):
                best = cand
        return best if best is not None else members[0]

    @staticmethod
    def _sort_clusters(clusters: list) -> list:
        """O2: (min cell index, t, l) — note t here is the top edge in the
        y-up frame, so 'smaller first' in the reference's top-left frame is
        'larger first' here (:657-683, mode='id')."""
        import sys

        return sorted(
            clusters,
            key=lambda c: (
                min((cell.index for cell in c.cells), default=sys.maxsize),
                -c.bbox.t,
                c.bbox.l,
            ),
        )


def _dedup_cells(cells: list) -> list:
    """First-appearance dedup by cell index (:574-582)."""
    seen, out = set(), []
    for c in cells:
        if c.index not in seen:
            seen.add(c.index)
            out.append(c)
    return out


# ---------------------------------------------------------------------------
# rule-based cluster proposer (NN substitute)

def propose_clusters(cells: list, page_height: float) -> list:
    """Geometric paragraph proposer: cells → lines (vertical overlap) →
    blocks (vertical gap ≤ 1.5 × median line height AND
    horizontal overlap). Labels: blocks in the top/bottom 4 % of the page
    → PAGE_HEADER / PAGE_FOOTER, everything else TEXT. This replaces the
    NN layout stage with the deterministic fallback strategy syndoc uses.
    """
    if not cells:
        return []
    # group into lines by vertical-interval overlap ≥ 0.5 of min height
    # AND horizontal proximity (gap ≤ 1×height) — without the horizontal
    # test, side-by-side columns at the same y would fuse into one line.
    # Cells come by top edge, descending: once a cell's top is at or
    # below the bottom of a line's last cell, no later cell can join the
    # line, so it leaves the scan and the first fit among the rest is
    # unchanged. A NaN top breaks the order; then no line is retired.
    ordered = sorted(cells, key=lambda c: (-c.bbox.t, c.bbox.l))
    retire = all(a.bbox.t >= b.bbox.t for a, b in zip(ordered, ordered[1:]))
    lines: list = []
    live: list = []
    for cell in ordered:
        target = None
        still = []
        for line in live:
            ref = line[-1].bbox
            if retire and cell.bbox.t <= ref.b:
                continue
            still.append(line)
            if target is None:
                inter = min(ref.t, cell.bbox.t) - max(ref.b, cell.bbox.b)
                min_h = min(ref.height(), cell.bbox.height())
                hgap = max(cell.bbox.l - ref.r, ref.l - cell.bbox.r)
                if min_h > 0 and inter / min_h > 0.5 and hgap <= min_h:
                    target = line
        live = still
        if target is None:
            line = [cell]
            lines.append(line)
            live.append(line)
        else:
            target.append(cell)
    line_boxes = []
    for line in lines:
        line.sort(key=lambda c: c.bbox.l)
        line_boxes.append(
            BBox(
                l=min(c.bbox.l for c in line),
                b=min(c.bbox.b for c in line),
                r=max(c.bbox.r for c in line),
                t=max(c.bbox.t for c in line),
            )
        )
    heights = sorted(b.height() for b in line_boxes)
    med_h = heights[len(heights) // 2] if heights else 1.0
    # paragraph threshold from the page's own leading: the median
    # top-to-top step between vertically-consecutive, horizontally-
    # overlapping lines. Real PDFs often have line-bbox gaps near zero
    # (ascender-to-descender leading) while paragraph breaks only double
    # the step, so bbox-gap vs line-HEIGHT misclassifies; step-vs-median-
    # step separates them robustly on both synthetic fixtures (step
    # 1.2×h, para 2×h extra) and real pages (step ≈ 1.04×h, para ≈ 2×).
    # A line's step is to the lowest line above it (top > own top + EPS)
    # that overlaps it horizontally: scan up the lines sorted by top.
    # NaN tops are no line's step (every comparison with them is false).
    by_top = sorted((lb for lb in line_boxes if lb.t == lb.t), key=lambda lb: lb.t)
    tops = [lb.t for lb in by_top]
    steps = []
    for lb in line_boxes:
        for k in range(bisect_right(tops, lb.t + EPS), len(by_top)):
            ob = by_top[k]
            if ob.overlaps_horizontally(lb):
                steps.append(ob.t - lb.t)
                break
    steps.sort()
    med_step = steps[len(steps) // 2] if steps else med_h * 1.2
    # merge consecutive (top-down) lines into blocks. Once a block's last
    # top is more than the paragraph step above a line, it is so for every
    # later (lower) line too: the block leaves the scan.
    max_delta = 1.5 * med_step
    order = sorted(range(len(lines)), key=lambda i: -line_boxes[i].t)
    retire = all(line_boxes[i].t >= line_boxes[j].t for i, j in zip(order, order[1:]))
    blocks: list = []
    live = []
    for i in order:
        lb = line_boxes[i]
        target = None
        still = []
        for blk in live:
            delta = blk["last_top"] - lb.t
            if retire and delta > max_delta:
                continue
            still.append(blk)
            if (
                target is None
                and -med_h * 0.5 <= delta <= max_delta
                and blk["bbox"].overlaps_horizontally(lb)
            ):
                target = blk
        live = still
        if target is None:
            blk = {"bbox": lb, "last_top": lb.t}
            blocks.append(blk)
            live.append(blk)
        else:
            target["last_top"] = min(target["last_top"], lb.t)
            bb = target["bbox"]
            target["bbox"] = BBox(
                l=min(bb.l, lb.l), b=min(bb.b, lb.b), r=max(bb.r, lb.r), t=max(bb.t, lb.t)
            )
    out = []
    for k, blk in enumerate(blocks):
        bb = blk["bbox"]
        if bb.t > 0.95 * page_height:
            label = LABEL_PAGE_HEADER
        elif bb.b < 0.05 * page_height:
            label = LABEL_PAGE_FOOTER
        else:
            label = LABEL_TEXT
        out.append(Cluster(id=k, label=label, bbox=bb, confidence=1.0))
    return out
