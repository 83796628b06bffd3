"""Rule-based reading-order resolution (SURVEY §2.5 O3, §2.3 J6/J7).

Behavior-parity reimplementation of the reference's
``ReadingOrderPredictor`` (docling-ibm-models/.../reading_order_rb.py) —
written from scratch over :mod:`.geometry`. The R-tree candidate pruning
of the reference (:334-348) is dropped: per-page element counts are ≤10²,
where the O(n²) scan is faster than index construction; the *predicates*
are identical, so the output order is too.

Algorithm (reference line cites):
1. split page elements into headers / body / footers           (:89-120)
2. per group, per page:
   a. up/down precedence DAG: i precedes j iff i strictly above j,
      horizontally overlapping, with no interrupting element between
                                                               (:318-409)
   b. optional horizontal dilation of elements toward their up/dn
      neighbours, bounded by 0.15·page-width, only if the dilated box
      overlaps nothing; then the DAG is rebuilt                (:411-472)
   c. heads = nodes with no predecessor, sorted by PageElement.__lt__
                                                               (:474-499)
   d. children lists sorted by __lt__                          (:500-514)
   e. order = iterative DFS downwards with up-chasing          (:516-584)
3. captions bind to adjacent runs of TABLE/PICTURE/CODE before/after,
   conflicts resolved by |distance| then uniqueness            (:586-704)
4. footnotes = following FOOTNOTE runs after TABLE/PICTURE     (:706-729)
5. TEXT→TEXT hyphen/lowercase merges across order gaps         (:175-216)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .geometry import (
    LABEL_CAPTION,
    LABEL_CODE,
    LABEL_FOOTNOTE,
    LABEL_PAGE_FOOTER,
    LABEL_PAGE_HEADER,
    LABEL_PICTURE,
    LABEL_TABLE,
    LABEL_TEXT,
    PageElement,
)

_DILATION_THRESHOLD_NORM = 0.15  # reading_order_rb.py:73-74


@dataclass
class _State:
    up: dict = field(default_factory=dict)
    dn: dict = field(default_factory=dict)
    heads: list = field(default_factory=list)


class ReadingOrderResolver:
    """predict_reading_order / captions / footnotes / merges."""

    # -- public API -------------------------------------------------------
    def predict_reading_order(self, elements: list) -> list:
        pages = sorted({e.page_no for e in elements})
        by_page_headers = {p: [] for p in pages}
        by_page_body = {p: [] for p in pages}
        by_page_footers = {p: [] for p in pages}
        for e in elements:
            if e.label == LABEL_PAGE_HEADER:
                by_page_headers[e.page_no].append(e)
            elif e.label == LABEL_PAGE_FOOTER:
                by_page_footers[e.page_no].append(e)
            else:
                by_page_body[e.page_no].append(e)
        out = []
        for p in pages:  # headers, then body, then footers, page-major
            out.extend(self._order_page(by_page_headers[p]))
            out.extend(self._order_page(by_page_body[p]))
            out.extend(self._order_page(by_page_footers[p]))
        return out

    def predict_to_captions(self, ordered: list) -> dict:
        to_captions: dict = {}
        for p in sorted({e.page_no for e in ordered}):
            to_captions.update(
                self._find_captions([e for e in ordered if e.page_no == p])
            )
        return to_captions

    def predict_to_footnotes(self, ordered: list) -> dict:
        to_footnotes: dict = {}
        skip = {LABEL_TABLE, LABEL_PICTURE}
        for p in sorted({e.page_no for e in ordered}):
            elems = [e for e in ordered if e.page_no == p]
            for ind, e in enumerate(elems):
                if e.label not in skip:
                    continue
                j = ind + 1
                while j < len(elems) and elems[j].label == LABEL_FOOTNOTE:
                    to_footnotes.setdefault(e.cid, []).append(elems[j].cid)
                    j += 1
        return to_footnotes

    _MERGE_TAIL = re.compile(r".+([a-z,\-])(\s*)", re.DOTALL)
    _MERGE_HEAD = re.compile(r"(\s*[a-z])(.+)", re.DOTALL)
    _MERGE_SKIP = {
        LABEL_PAGE_HEADER,
        LABEL_PAGE_FOOTER,
        LABEL_TABLE,
        LABEL_PICTURE,
        LABEL_CAPTION,
        LABEL_FOOTNOTE,
    }

    def predict_merges(self, ordered: list) -> dict:
        """TEXT elem continues into the next TEXT elem (skipping furniture
        and float labels) when the first ends lowercase/comma/hyphen and
        the second starts lowercase (reference :175-216; the skip-scan is
        the reference's evident intent — its `sorted_elements[ind_p1] in
        [...]` membership test over labels)."""
        merges: dict = {}
        used = -1
        for ind, e in enumerate(ordered):
            if ind <= used or e.label != LABEL_TEXT:
                continue
            j = ind + 1
            while j < len(ordered) and ordered[j].label in self._MERGE_SKIP:
                j += 1
            if j >= len(ordered) or ordered[j].label != LABEL_TEXT:
                continue
            nxt = ordered[j]
            cross = e.page_no != nxt.page_no or e.bbox.is_strictly_left_of(nxt.bbox)
            if not cross:
                continue
            if self._MERGE_TAIL.fullmatch(e.text) and self._MERGE_HEAD.fullmatch(nxt.text):
                merges[e.cid] = [nxt.cid]
                used = j
        return merges

    # -- per-page ordering ------------------------------------------------
    def _order_page(self, elems: list) -> list:
        if not elems:
            return []
        st = _State()
        self._init_ud_maps(elems, st)
        dilated = self._horizontal_dilation(elems, st)
        st = _State()
        self._init_ud_maps(dilated, st)
        heads = sorted(
            (elems[i] for i, ups in st.up.items() if not ups),
        )
        idx_of = {id(e): i for i, e in enumerate(elems)}
        st.heads = [idx_of[id(h)] for h in heads]
        for i, kids in st.dn.items():
            st.dn[i] = [
                idx_of[id(c)] for c in sorted(elems[k] for k in kids)
            ]
        order = self._find_order(elems, st)
        return [elems[i] for i in order]

    def _init_ud_maps(self, elems: list, st: _State) -> None:
        st.up = {i: [] for i in range(len(elems))}
        st.dn = {i: [] for i in range(len(elems))}
        for j, ej in enumerate(elems):
            for i, ei in enumerate(elems):
                if i == j:
                    continue
                if not (
                    ei.bbox.is_strictly_above(ej.bbox)
                    and ei.bbox.overlaps_horizontally(ej.bbox)
                ):
                    continue
                if self._interrupted(elems, i, j):
                    continue
                st.dn[i].append(j)
                st.up[j].append(i)

    @staticmethod
    def _interrupted(elems: list, i: int, j: int) -> bool:
        """Some w sits strictly between i and j and horizontally overlaps
        either (reference :374-409)."""
        bi, bj = elems[i].bbox, elems[j].bbox
        for w, ew in enumerate(elems):
            if w in (i, j):
                continue
            bw = ew.bbox
            if (
                (bi.overlaps_horizontally(bw) or bj.overlaps_horizontally(bw))
                and bi.is_strictly_above(bw)
                and bw.is_strictly_above(bj)
            ):
                return True
        return False

    def _horizontal_dilation(self, elems: list, st: _State) -> list:
        th = _DILATION_THRESHOLD_NORM * (elems[0].page_width if elems else 0.0)
        out = list(elems)
        for i, e in enumerate(elems):
            l, r = e.bbox.l, e.bbox.r
            for neigh_list in (st.up.get(i), st.dn.get(i)):
                if neigh_list:
                    nb = elems[neigh_list[0]].bbox
                    l_dil, r_dil = min(l, nb.l), max(r, nb.r)
                    if (l - l_dil) > th or (r_dil - r) > th:
                        continue
                    l, r = l_dil, r_dil
            cand = e.dilated(l, r)
            if not any(
                o.bbox.overlaps(cand.bbox) for k, o in enumerate(elems) if k != i
            ):
                out[i] = cand
        return out

    @staticmethod
    def _chase_up(j: int, visited: list, st: _State) -> int:
        k = j
        while True:
            nxt = next((u for u in st.up[k] if not visited[u]), None)
            if nxt is None:
                return k
            k = nxt

    def _find_order(self, elems: list, st: _State) -> list:
        order: list = []
        visited = [False] * len(elems)
        for h in st.heads:
            if visited[h]:
                continue
            order.append(h)
            visited[h] = True
            # iterative DFS downwards with up-chasing (reference :552-584)
            stack = [(st.dn[h], 0)]
            while stack:
                kids, off = stack[-1]
                advanced = False
                if off < len(kids):
                    for step, cand in enumerate(kids[off:]):
                        k = self._chase_up(cand, visited, st)
                        if not visited[k]:
                            order.append(k)
                            visited[k] = True
                            stack[-1] = (kids, off + step + 1)
                            stack.append((st.dn[k], 0))
                            advanced = True
                            break
                if not advanced:
                    stack.pop()
        # safety: append anything unreached (disconnected via dilation
        # anomalies) in __lt__ order — output must be total
        if len(order) != len(elems):
            rest = sorted(
                (e for i, e in enumerate(elems) if not visited[i]),
            )
            idx_of = {id(e): i for i, e in enumerate(elems)}
            order.extend(idx_of[id(e)] for e in rest)
        return order

    # -- captions ---------------------------------------------------------
    _CAPTIONABLE = {LABEL_TABLE, LABEL_PICTURE, LABEL_CODE}

    def _find_captions(self, elems: list) -> dict:
        from_captions: dict = {}
        to_captions: dict = {}
        for ind, e in enumerate(elems):
            if e.label != LABEL_CAPTION:
                continue
            before, after = [], []
            k = ind - 1
            while k >= 0 and elems[k].label in self._CAPTIONABLE:
                before.append(elems[k].cid)
                k -= 1
            k = ind + 1
            while k < len(elems) and elems[k].label in self._CAPTIONABLE:
                after.append(elems[k].cid)
                k += 1
            from_captions[e.cid] = (before, after)

        assigned: set = set()

        def bind(only_unassigned: bool) -> None:
            for cid, (before, after) in from_captions.items():
                if only_unassigned:
                    before = [c for c in before if c not in assigned]
                    after = [c for c in after if c not in assigned]
                targets = after if (not before and after) else (
                    before if (before and not after) else []
                )
                for t in targets:
                    cur = to_captions.setdefault(t, [])
                    if only_unassigned:
                        to_captions[t] = [cid]
                    elif cid not in cur:
                        cur.append(cid)
                    assigned.add(t)

        bind(only_unassigned=False)   # unambiguous captions first (:246-…)
        bind(only_unassigned=True)    # then leftovers after removal

        # one caption per item, nearest by cid distance, each caption used
        # once (reference _remove_overlapping_indexes :687-703)
        used: set = set()
        result: dict = {}
        for key in sorted(to_captions):
            vals = [
                v
                for v in sorted(to_captions[key], key=lambda v: abs(v - key))
                if v not in used
            ]
            if vals:
                result[key] = [vals[0]]
                used.add(vals[0])
        return result
