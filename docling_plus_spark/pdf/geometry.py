"""Geometry primitives for the layout/reading-order path.

BBoxes here live in **bottom-left origin** (y grows upward, ``t > b``) —
the coordinate frame the reference's reading-order predictor works in
after `to_bottom_left_origin` (reading_order_rb.py:231-234). Input cell
tables use top-left origin (parser convention,
docling_parse_v4_backend.py:68-73); :meth:`BBox.from_top_left` converts.

Predicate semantics mirror docling-core's BoundingBox methods as consumed
by reading_order_rb.py:36-44 (``__lt__``), :358-359 (above+overlap),
:401-405 (interruption) and layout_postprocessor.py (IoU/containment).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

EPS = 1.0e-3  # PageElement.eps, reading_order_rb.py:22


@dataclass
class BBox:
    l: float
    b: float
    r: float
    t: float  # t > b (bottom-left origin)

    @classmethod
    def from_top_left(cls, l: float, t: float, r: float, b: float, page_height: float) -> "BBox":
        """(l,t,r,b) in top-left origin (t < b numerically) → y-up frame."""
        return cls(l=l, b=page_height - b, r=r, t=page_height - t)

    def to_top_left(self, page_height: float) -> tuple:
        return (self.l, page_height - self.t, self.r, page_height - self.b)

    # -- measures ---------------------------------------------------------
    def width(self) -> float:
        return self.r - self.l

    def height(self) -> float:
        return self.t - self.b

    def area(self) -> float:
        return max(0.0, self.width()) * max(0.0, self.height())

    def intersection_area(self, o: "BBox") -> float:
        w = min(self.r, o.r) - max(self.l, o.l)
        h = min(self.t, o.t) - max(self.b, o.b)
        return w * h if (w > 0 and h > 0) else 0.0

    def iou(self, o: "BBox") -> float:
        inter = self.intersection_area(o)
        union = self.area() + o.area() - inter
        return inter / union if union > 0 else 0.0

    def intersection_over_self(self, o: "BBox") -> float:
        a = self.area()
        return self.intersection_area(o) / a if a > 0 else 0.0

    # -- predicates -------------------------------------------------------
    def overlaps(self, o: "BBox") -> bool:
        return self.overlaps_horizontally(o) and self.overlaps_vertically(o)

    def overlaps_horizontally(self, o: "BBox") -> bool:
        return self.l < o.r and o.l < self.r

    def overlaps_vertically(self, o: "BBox") -> bool:
        return self.b < o.t and o.b < self.t

    def is_strictly_above(self, o: "BBox") -> bool:
        """Entirely above: my bottom edge is above their top edge (y-up)."""
        return (self.b + EPS) > o.t

    def is_strictly_left_of(self, o: "BBox") -> bool:
        return (self.r + EPS) < o.l


# canonical DocItemLabel subset used on the layout path
# (docling-ibm-models labels.py:10-42 / docling-core DocItemLabel)
LABEL_TITLE = "title"
LABEL_SECTION_HEADER = "section_header"
LABEL_TEXT = "text"
LABEL_LIST_ITEM = "list_item"
LABEL_CAPTION = "caption"
LABEL_FOOTNOTE = "footnote"
LABEL_TABLE = "table"
LABEL_PICTURE = "picture"
LABEL_CODE = "code"
LABEL_FORMULA = "formula"
LABEL_PAGE_HEADER = "page_header"
LABEL_PAGE_FOOTER = "page_footer"
LABEL_FORM = "form"
LABEL_KEY_VALUE_REGION = "key_value_region"
LABEL_DOCUMENT_INDEX = "document_index"
LABEL_CHECKBOX_SELECTED = "checkbox_selected"
LABEL_CHECKBOX_UNSELECTED = "checkbox_unselected"


@dataclass
class TextCell:
    """Parsed text cell (TextCell analog, backend/pypdfium2_backend.py:137-153)."""

    index: int
    text: str
    bbox: BBox
    from_ocr: bool = False


@dataclass
class Cluster:
    """Layout cluster (datamodel/base_models.py:184-194)."""

    id: int
    label: str
    bbox: BBox
    confidence: float = 1.0
    cells: list = field(default_factory=list)
    children: list = field(default_factory=list)


@dataclass
class PageElement:
    """Reading-order input element (reading_order_rb.py:19-46)."""

    cid: int
    label: str
    bbox: BBox
    page_no: int
    page_width: float
    page_height: float
    text: str = ""

    def __lt__(self, other: "PageElement") -> bool:
        # reading_order_rb.py:36-44: same page → horizontal-overlap ⇒
        # higher bottom first, else leftmost first; cross-page by page_no
        if self.page_no == other.page_no:
            if self.bbox.overlaps_horizontally(other.bbox):
                return self.bbox.b > other.bbox.b
            return self.bbox.l < other.bbox.l
        return self.page_no < other.page_no

    def dilated(self, l: float, r: float) -> "PageElement":
        return replace(self, bbox=replace(self.bbox, l=l, r=r))
