"""In-memory document model equivalent to the DoclingDocument v1.8.0 schema.

The reference keeps its document as an external pydantic model
(docling-core, observable through the golden fixtures at
``/root/reference/docling/tests/data/groundtruth/docling_v2/*.html.json``,
``schema_name: DoclingDocument, version: 1.8.0``). This module is a
dependency-free reimplementation of the *subset* the conversion engine
produces: texts/groups/tables/pictures arrays with ``$ref`` parent/children
pointers, content layers, and the three export surfaces (markdown, indented
element tree, lossless dict).

Inside the Spark engine one ``DLDocument`` instance exists only transiently
per row inside a ``mapInPandas`` batch; what crosses stage boundaries are
Arrow columns (serialized text/md/json), never Python object graphs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Optional, Union


class ContentLayer:
    BODY = "body"
    FURNITURE = "furniture"


@dataclass(frozen=True)
class Formatting:
    """Mirror of docling-core Formatting (all fields always serialized)."""

    bold: bool = False
    italic: bool = False
    underline: bool = False
    strikethrough: bool = False
    script: str = "baseline"  # baseline | sub | super

    def to_dict(self) -> dict:
        return {
            "bold": self.bold,
            "italic": self.italic,
            "underline": self.underline,
            "strikethrough": self.strikethrough,
            "script": self.script,
        }


@dataclass
class NodeItem:
    self_ref: str = ""
    parent_ref: Optional[str] = None
    children: list = field(default_factory=list)
    content_layer: str = ContentLayer.BODY

    def get_ref(self) -> str:
        return self.self_ref


@dataclass
class GroupItem(NodeItem):
    name: str = "group"
    label: str = "unspecified"  # unspecified | list | inline | section

    def to_dict(self) -> dict:
        out: dict = {"self_ref": self.self_ref}
        if self.parent_ref:
            out["parent"] = {"$ref": self.parent_ref}
        out["children"] = [{"$ref": r} for r in self.children]
        out["content_layer"] = self.content_layer
        out["name"] = self.name
        out["label"] = self.label
        return out


@dataclass
class TextItem(NodeItem):
    label: str = "text"  # title|section_header|text|caption|code|list_item
    text: str = ""
    orig: str = ""
    formatting: Optional[Formatting] = None
    hyperlink: Optional[str] = None
    # section_header only
    level: Optional[int] = None
    # list_item only
    enumerated: Optional[bool] = None
    marker: Optional[str] = None
    # code only
    code_language: Optional[str] = None

    def to_dict(self) -> dict:
        out: dict = {"self_ref": self.self_ref}
        if self.parent_ref:
            out["parent"] = {"$ref": self.parent_ref}
        out["children"] = [{"$ref": r} for r in self.children]
        out["content_layer"] = self.content_layer
        out["label"] = self.label
        out["prov"] = []
        out["orig"] = self.orig
        out["text"] = self.text
        if self.formatting is not None:
            out["formatting"] = self.formatting.to_dict()
        if self.hyperlink is not None:
            out["hyperlink"] = self.hyperlink
        if self.label == "section_header":
            out["level"] = self.level if self.level is not None else 1
        if self.label == "list_item":
            out["enumerated"] = bool(self.enumerated)
            out["marker"] = self.marker or ""
        if self.label == "code":
            out["captions"] = []
            out["references"] = []
            out["footnotes"] = []
            out["code_language"] = self.code_language or "unknown"
        return out


@dataclass
class TableCellModel:
    """Mirror of docling-core TableCell / RichTableCell."""

    text: str = ""
    row_span: int = 1
    col_span: int = 1
    start_row_offset_idx: int = 0
    end_row_offset_idx: int = 1
    start_col_offset_idx: int = 0
    end_col_offset_idx: int = 1
    column_header: bool = False
    row_header: bool = False
    row_section: bool = False
    ref: Optional[str] = None  # RichTableCell: points at a group of children

    def to_dict(self) -> dict:
        out = {
            "row_span": self.row_span,
            "col_span": self.col_span,
            "start_row_offset_idx": self.start_row_offset_idx,
            "end_row_offset_idx": self.end_row_offset_idx,
            "start_col_offset_idx": self.start_col_offset_idx,
            "end_col_offset_idx": self.end_col_offset_idx,
            "text": self.text,
            "column_header": self.column_header,
            "row_header": self.row_header,
            "row_section": self.row_section,
            "fillable": False,
        }
        if self.ref is not None:
            out["ref"] = {"$ref": self.ref}
        return out


@dataclass
class TableData:
    num_rows: int = 0
    num_cols: int = 0
    table_cells: list = field(default_factory=list)

    def grid(self) -> list:
        """Dense num_rows × num_cols grid of cells (docling-core semantics:
        each grid slot holds the covering cell, empty slots get a blank)."""
        grid: list = [
            [None for _ in range(self.num_cols)] for _ in range(self.num_rows)
        ]
        for cell in self.table_cells:
            for r in range(cell.start_row_offset_idx, cell.end_row_offset_idx):
                for c in range(cell.start_col_offset_idx, cell.end_col_offset_idx):
                    if 0 <= r < self.num_rows and 0 <= c < self.num_cols:
                        if grid[r][c] is None:
                            grid[r][c] = cell
        for r in range(self.num_rows):
            for c in range(self.num_cols):
                if grid[r][c] is None:
                    grid[r][c] = TableCellModel(
                        text="",
                        start_row_offset_idx=r,
                        end_row_offset_idx=r + 1,
                        start_col_offset_idx=c,
                        end_col_offset_idx=c + 1,
                    )
        return grid

    def to_dict(self) -> dict:
        # grid cells serialize WITHOUT `ref` — docling-core renders the
        # grid as plain TableCells even when table_cells are rich (observed
        # in groundtruth html_heading_in_p.html.json)
        def _grid_cell(c: TableCellModel) -> dict:
            d = c.to_dict()
            d.pop("ref", None)
            return d

        return {
            "table_cells": [c.to_dict() for c in self.table_cells],
            "num_rows": self.num_rows,
            "num_cols": self.num_cols,
            "grid": [[_grid_cell(c) for c in row] for row in self.grid()],
        }


@dataclass
class TableItem(NodeItem):
    label: str = "table"
    data: TableData = field(default_factory=TableData)
    captions: list = field(default_factory=list)

    def to_dict(self) -> dict:
        out: dict = {"self_ref": self.self_ref}
        if self.parent_ref:
            out["parent"] = {"$ref": self.parent_ref}
        out["children"] = [{"$ref": r} for r in self.children]
        out["content_layer"] = self.content_layer
        out["label"] = self.label
        out["prov"] = []
        out["captions"] = [{"$ref": r} for r in self.captions]
        out["references"] = []
        out["footnotes"] = []
        out["data"] = self.data.to_dict()
        out["annotations"] = []
        return out


@dataclass
class PictureItem(NodeItem):
    label: str = "picture"
    captions: list = field(default_factory=list)
    # ImageRef payload (mimetype/dpi/size/uri) kept as a raw dict — the
    # engine never decodes images (SURVEY §2.10); carried for lossless
    # docling-JSON round-trip
    image: Optional[dict] = None

    def to_dict(self) -> dict:
        out: dict = {"self_ref": self.self_ref}
        if self.parent_ref:
            out["parent"] = {"$ref": self.parent_ref}
        out["children"] = [{"$ref": r} for r in self.children]
        out["content_layer"] = self.content_layer
        out["label"] = self.label
        out["prov"] = []
        out["captions"] = [{"$ref": r} for r in self.captions]
        out["references"] = []
        out["footnotes"] = []
        if self.image is not None:
            out["image"] = self.image
        out["annotations"] = []
        return out


ItemType = Union[GroupItem, TextItem, TableItem, PictureItem]


class DLDocument:
    """Flat-array document with ``$ref`` pointer trees (body + furniture)."""

    def __init__(
        self,
        name: str = "file",
        filename: str = "file",
        binary_hash: int = 0,
        mimetype: str = "text/html",
    ):
        self.name = name
        self.filename = filename
        self.binary_hash = binary_hash
        self.mimetype = mimetype
        self.texts: list[TextItem] = []
        self.groups: list[GroupItem] = []
        self.tables: list[TableItem] = []
        self.pictures: list[PictureItem] = []
        self.key_value_items: list = []
        self.body = GroupItem(
            self_ref="#/body", name="_root_", label="unspecified",
            content_layer=ContentLayer.BODY,
        )
        self.furniture = GroupItem(
            self_ref="#/furniture", name="_root_", label="unspecified",
            content_layer=ContentLayer.FURNITURE,
        )
        self._by_ref: dict[str, ItemType] = {
            "#/body": self.body,
            "#/furniture": self.furniture,
        }

    # ------------------------------------------------------------------ refs
    def resolve(self, ref: str) -> ItemType:
        return self._by_ref[ref]

    def _attach(self, item, parent) -> None:
        parent_item = self._resolve_parent(parent)
        item.parent_ref = parent_item.get_ref()
        parent_item.children.append(item.get_ref())

    def _resolve_parent(self, parent):
        if parent is None:
            return self.body
        if isinstance(parent, str):
            return self.resolve(parent)
        return parent

    # ----------------------------------------------------------------- add_*
    def add_text(
        self,
        label: str = "text",
        text: str = "",
        orig: Optional[str] = None,
        parent=None,
        content_layer: str = ContentLayer.BODY,
        formatting: Optional[Formatting] = None,
        hyperlink: Optional[str] = None,
    ) -> TextItem:
        item = TextItem(
            self_ref=f"#/texts/{len(self.texts)}",
            label=label,
            text=text,
            orig=orig if orig is not None else text,
            content_layer=content_layer,
            formatting=formatting,
            hyperlink=hyperlink,
        )
        self.texts.append(item)
        self._by_ref[item.self_ref] = item
        self._attach(item, parent)
        return item

    def add_title(
        self,
        text: str,
        orig: Optional[str] = None,
        parent=None,
        content_layer: str = ContentLayer.BODY,
        formatting: Optional[Formatting] = None,
        hyperlink: Optional[str] = None,
    ) -> TextItem:
        return self.add_text(
            label="title", text=text, orig=orig, parent=parent,
            content_layer=content_layer, formatting=formatting,
            hyperlink=hyperlink,
        )

    def add_heading(
        self,
        text: str,
        orig: Optional[str] = None,
        level: int = 1,
        parent=None,
        content_layer: str = ContentLayer.BODY,
        formatting: Optional[Formatting] = None,
        hyperlink: Optional[str] = None,
    ) -> TextItem:
        item = self.add_text(
            label="section_header", text=text, orig=orig, parent=parent,
            content_layer=content_layer, formatting=formatting,
            hyperlink=hyperlink,
        )
        item.level = level
        return item

    def add_code(
        self,
        text: str,
        orig: Optional[str] = None,
        parent=None,
        content_layer: str = ContentLayer.BODY,
        formatting: Optional[Formatting] = None,
        hyperlink: Optional[str] = None,
    ) -> TextItem:
        item = self.add_text(
            label="code", text=text, orig=orig, parent=parent,
            content_layer=content_layer, formatting=formatting,
            hyperlink=hyperlink,
        )
        item.code_language = "unknown"
        return item

    def add_list_item(
        self,
        text: str,
        enumerated: bool = False,
        marker: str = "",
        orig: Optional[str] = None,
        parent=None,
        content_layer: str = ContentLayer.BODY,
        formatting: Optional[Formatting] = None,
        hyperlink: Optional[str] = None,
    ) -> TextItem:
        item = self.add_text(
            label="list_item", text=text, orig=orig, parent=parent,
            content_layer=content_layer, formatting=formatting,
            hyperlink=hyperlink,
        )
        item.enumerated = enumerated
        item.marker = marker
        return item

    def add_group(
        self,
        label: str = "unspecified",
        name: str = "group",
        parent=None,
        content_layer: str = ContentLayer.BODY,
    ) -> GroupItem:
        item = GroupItem(
            self_ref=f"#/groups/{len(self.groups)}",
            name=name,
            label=label,
            content_layer=content_layer,
        )
        self.groups.append(item)
        self._by_ref[item.self_ref] = item
        self._attach(item, parent)
        return item

    def add_list_group(
        self,
        name: str = "list",
        parent=None,
        content_layer: str = ContentLayer.BODY,
    ) -> GroupItem:
        return self.add_group(
            label="list", name=name, parent=parent, content_layer=content_layer
        )

    def add_picture(
        self,
        caption: Optional[TextItem] = None,
        parent=None,
        content_layer: str = ContentLayer.BODY,
    ) -> PictureItem:
        item = PictureItem(
            self_ref=f"#/pictures/{len(self.pictures)}",
            content_layer=content_layer,
        )
        if caption is not None:
            item.captions.append(caption.get_ref())
        self.pictures.append(item)
        self._by_ref[item.self_ref] = item
        self._attach(item, parent)
        return item

    def add_table(
        self,
        data: TableData,
        parent=None,
        content_layer: str = ContentLayer.BODY,
        caption: Optional[TextItem] = None,
    ) -> TableItem:
        item = TableItem(
            self_ref=f"#/tables/{len(self.tables)}",
            data=data,
            content_layer=content_layer,
        )
        if caption is not None:
            item.captions.append(caption.get_ref())
        self.tables.append(item)
        self._by_ref[item.self_ref] = item
        self._attach(item, parent)
        return item

    def add_table_cell(self, table_item: TableItem, cell: TableCellModel) -> None:
        table_item.data.table_cells.append(cell)

    # ------------------------------------------------------------- traversal
    def iterate_items(
        self, root=None, with_groups: bool = False, _level: int = 0
    ) -> Iterator[tuple]:
        """DFS over the body tree, yielding ``(item, level)``.

        Mirrors docling-core ``DoclingDocument.iterate_items`` with its
        defaults: only body-layer items are yielded, but the children of
        the others are still traversed; picture children are skipped.
        """
        if root is None:
            root = self.body
        if (with_groups or not isinstance(root, GroupItem)) \
                and root.content_layer == ContentLayer.BODY:
            yield root, _level
        if isinstance(root, PictureItem):
            return
        for child_ref in root.children:
            child = self._by_ref.get(child_ref)
            if child is not None:
                yield from self.iterate_items(child, with_groups, _level + 1)

    # --------------------------------------------------------------- exports
    def export_to_dict(self) -> dict:
        return {
            "schema_name": "DoclingDocument",
            "version": "1.8.0",
            "name": self.name,
            "origin": {
                "mimetype": self.mimetype,
                "binary_hash": self.binary_hash,
                "filename": self.filename,
            },
            "furniture": {
                "self_ref": "#/furniture",
                "children": [{"$ref": r} for r in self.furniture.children],
                "content_layer": "furniture",
                "name": "_root_",
                "label": "unspecified",
            },
            "body": {
                "self_ref": "#/body",
                "children": [{"$ref": r} for r in self.body.children],
                "content_layer": "body",
                "name": "_root_",
                "label": "unspecified",
            },
            "groups": [g.to_dict() for g in self.groups],
            "texts": [t.to_dict() for t in self.texts],
            "pictures": [p.to_dict() for p in self.pictures],
            "tables": [t.to_dict() for t in self.tables],
            "key_value_items": [],
            "form_items": [],
            "pages": {},
        }

    @classmethod
    def from_dict(cls, obj: dict) -> "DLDocument":
        """Inverse of :meth:`export_to_dict` — lossless DoclingDocument
        JSON import (reference: docling_json_backend.py's
        ``DoclingDocument.model_validate_json``). Round-trip is
        byte-identical: ``from_dict(json.loads(doc.export_to_json()))
        .export_to_json() == doc.export_to_json()``."""
        if obj.get("schema_name") != "DoclingDocument":
            raise ValueError("not a DoclingDocument JSON payload")
        origin = obj.get("origin") or {}
        doc = cls(
            name=obj.get("name", "file"),
            filename=origin.get("filename", "file"),
            binary_hash=origin.get("binary_hash", 0),
            mimetype=origin.get("mimetype", "text/html"),
        )

        def _refs(node: dict) -> list:
            return [c["$ref"] for c in node.get("children", [])]

        def _parent(node: dict) -> Optional[str]:
            p = node.get("parent")
            return p["$ref"] if p else None

        for g in obj.get("groups", []):
            item = GroupItem(
                self_ref=g["self_ref"], parent_ref=_parent(g),
                children=_refs(g), content_layer=g["content_layer"],
                name=g["name"], label=g["label"],
            )
            doc.groups.append(item)
            doc._by_ref[item.self_ref] = item
        for t in obj.get("texts", []):
            fmt = t.get("formatting")
            item = TextItem(
                self_ref=t["self_ref"], parent_ref=_parent(t),
                children=_refs(t), content_layer=t["content_layer"],
                label=t["label"], text=t["text"], orig=t["orig"],
                formatting=Formatting(**fmt) if fmt else None,
                hyperlink=t.get("hyperlink"),
                level=t.get("level"),
                enumerated=t.get("enumerated"), marker=t.get("marker"),
                code_language=t.get("code_language"),
            )
            doc.texts.append(item)
            doc._by_ref[item.self_ref] = item
        for p in obj.get("pictures", []):
            item = PictureItem(
                self_ref=p["self_ref"], parent_ref=_parent(p),
                children=_refs(p), content_layer=p["content_layer"],
                captions=[c["$ref"] for c in p.get("captions", [])],
                image=p.get("image"),
            )
            doc.pictures.append(item)
            doc._by_ref[item.self_ref] = item
        for tb in obj.get("tables", []):
            d = tb.get("data", {})
            cells = [
                TableCellModel(
                    text=c["text"], row_span=c["row_span"], col_span=c["col_span"],
                    start_row_offset_idx=c["start_row_offset_idx"],
                    end_row_offset_idx=c["end_row_offset_idx"],
                    start_col_offset_idx=c["start_col_offset_idx"],
                    end_col_offset_idx=c["end_col_offset_idx"],
                    column_header=c["column_header"], row_header=c["row_header"],
                    row_section=c.get("row_section", False),
                    ref=c["ref"]["$ref"] if c.get("ref") else None,
                )
                for c in d.get("table_cells", [])
            ]
            item = TableItem(
                self_ref=tb["self_ref"], parent_ref=_parent(tb),
                children=_refs(tb), content_layer=tb["content_layer"],
                data=TableData(
                    num_rows=d.get("num_rows", 0), num_cols=d.get("num_cols", 0),
                    table_cells=cells,
                ),
                captions=[c["$ref"] for c in tb.get("captions", [])],
            )
            doc.tables.append(item)
            doc._by_ref[item.self_ref] = item
        doc.body.children = _refs(obj.get("body", {}))
        doc.furniture.children = _refs(obj.get("furniture", {}))
        return doc

    def export_to_element_tree(self) -> str:
        from .serializers import export_to_element_tree

        return export_to_element_tree(self)

    def export_to_markdown(self) -> str:
        from .serializers import export_to_markdown

        return export_to_markdown(self)

    def export_to_text(self) -> str:
        from .serializers import export_to_text

        return export_to_text(self)

    def export_to_json(self) -> str:
        """Lossless DoclingDocument v1.8.0 JSON — byte-identical to the
        reference's `save_as_json` output (verified against all 27 HTML
        groundtruth .json fixtures): indent=2, ensure_ascii=False, no
        trailing newline."""
        import json

        return json.dumps(self.export_to_dict(), indent=2, ensure_ascii=False)
