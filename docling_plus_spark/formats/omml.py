"""OMML (Office Math Markup Language) → LaTeX (SURVEY §2.1 S9, docx).

Behavior-parity reimplementation of the reference's OMML converter
(docling/docling/backend/docx/latex/omml.py, itself adapted from the
public dwml project) with stdlib ElementTree. The reference's
per-character unicode→latex step uses pylatexenc (absent here); the
small symbol table below reproduces its observable output incl. the
quirky transforms the reference applies on top (brace-strip to spaces,
``\\ensuremath`` unwrapping that turns EVERY closing brace into a space,
and the ``\\text{...}`` wrap triggered by any macro whose name begins
with ``text`` — the source of ``\\text{ \\texttimes }`` in the
equations.docx golden).
"""

from __future__ import annotations

import re
from xml.etree import ElementTree as ET

_M = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"

_ESCAPE_CHARS = set("{}_^#&$%~")

# (latex macro, needs \ensuremath in text mode) — pylatexenc-compatible
_SYMBOLS = {
    "π": ("\\pi", True), "α": ("\\alpha", True), "β": ("\\beta", True),
    "γ": ("\\gamma", True), "δ": ("\\delta", True), "ε": ("\\epsilon", True),
    "ζ": ("\\zeta", True), "η": ("\\eta", True), "θ": ("\\theta", True),
    "ι": ("\\iota", True), "κ": ("\\kappa", True), "λ": ("\\lambda", True),
    "μ": ("\\mu", True), "ν": ("\\nu", True), "ξ": ("\\xi", True),
    "ρ": ("\\rho", True), "σ": ("\\sigma", True), "τ": ("\\tau", True),
    "υ": ("\\upsilon", True), "φ": ("\\varphi", True), "χ": ("\\chi", True),
    "ψ": ("\\psi", True), "ω": ("\\omega", True),
    "Γ": ("\\Gamma", True), "Δ": ("\\Delta", True), "Θ": ("\\Theta", True),
    "Λ": ("\\Lambda", True), "Ξ": ("\\Xi", True), "Π": ("\\Pi", True),
    "Σ": ("\\Sigma", True), "Υ": ("\\Upsilon", True), "Φ": ("\\Phi", True),
    "Ψ": ("\\Psi", True), "Ω": ("\\Omega", True),
    "∞": ("\\infty", True), "±": ("\\pm", True), "∓": ("\\mp", True),
    "×": ("\\texttimes", False), "÷": ("\\div", True), "·": ("\\cdot", True),
    "≤": ("\\leq", True), "≥": ("\\geq", True), "≠": ("\\neq", True),
    "≈": ("\\approx", True), "∂": ("\\partial", True), "∈": ("\\in", True),
    "→": ("\\to", True), "←": ("\\leftarrow", True), "−": ("-", None),
    "…": ("\\textellipsis", False), "∩": ("\\cap", True),
    "∪": ("\\cup", True), "√": ("\\surd", True), "°": ("\\textdegree", False),
}

_CHR_BO = {
    "∑": "\\sum", "∏": "\\prod", "∐": "\\coprod", "∫": "\\int",
    "∬": "\\iint", "∭": "\\iiint", "∮": "\\oint",
    "∯": "\\oiint", "∰": "\\oiiint",
    "⋀": "\\bigwedge", "⋁": "\\bigvee", "⋂": "\\bigcap", "⋃": "\\bigcup",
}

_ACCENTS = {
    "̂": "\\hat{{{0}}}", "̃": "\\tilde{{{0}}}",
    "̄": "\\bar{{{0}}}", "̅": "\\overbar{{{0}}}",
    "̇": "\\dot{{{0}}}", "̈": "\\ddot{{{0}}}",
    "⃗": "\\vec{{{0}}}",
}

_FUNC = {
    name: f"\\{name}({{fe}})"
    for name in (
        "sin", "cos", "tan", "arcsin", "arccos", "arctan", "sinh", "cosh",
        "tanh", "coth", "sec", "csc", "max", "min",
    )
}

_FRAC_TYPES = {
    "bar": "\\frac{{{num}}}{{{den}}}",
    "skw": "^{{{num}}}/_{{{den}}}",
    "noBar": "\\genfrac{{}}{{}}{{0pt}}{{}}{{{num}}}{{{den}}}",
    "lin": "{{{num}}}/{{{den}}}",
}

_LIM_FUNC = {
    "lim": "\\lim_{{{lim}}}", "max": "\\max_{{{lim}}}", "min": "\\min_{{{lim}}}",
}


def _escape_latex(s: str) -> str:
    out = []
    last = None
    s = s.replace("\\\\", "\\")
    for c in s:
        if c in _ESCAPE_CHARS and last != "\\":
            out.append("\\" + c)
        else:
            out.append(c)
        last = c
    return "".join(out)


def _uni2latex(ch: str) -> str:
    """pylatexenc unicode_to_latex + the reference's post-transforms."""
    if ch in "<>":
        # pylatexenc wraps the math-only glyphs < and > too; the
        # brace-strip transform turns them into space-padded characters
        return f" {ch} "
    if ord(ch) < 128:
        return ch
    entry = _SYMBOLS.get(ch)
    if entry is None:
        return ch  # unknown_char_policy='keep'
    macro, ensuremath = entry
    if ensuremath is None:
        return macro
    out = ("\\ensuremath{" + macro + "}") if ensuremath else macro
    out = "{" + out + "}"
    # brace-strip: the source char has no braces, the latex does
    out = f" {out[1:-1]} "
    if "ensuremath" in out:
        out = out.replace("\\ensuremath{", " ").replace("}", " ")
    if out.strip().startswith("\\text"):
        out = f" \\text{{{out}}} "
    return out


class _Pr:
    """Property bag: captures chr/pos/begChr/endChr/type vals + brk."""

    def __init__(self, elm):
        self.vals: dict = {}
        self.text = ""
        parts = []
        for child in elm:
            stag = child.tag.replace(_M, "")
            if stag == "brk":
                self.vals["brk"] = "\\\\"
                parts.append("\\\\")
            elif stag in ("chr", "pos", "begChr", "endChr", "type"):
                self.vals[stag] = child.get(_M + "val")
        self.text = "".join(parts)

    def get(self, key):
        return self.vals.get(key)


class OmmlConverter:
    """m:oMath element → LaTeX string."""

    _DIRECT = {"box", "sSub", "sSup", "sSubSup", "num", "den", "deg", "e"}

    def convert(self, omath) -> str:
        latex = self._children_str(omath)
        return latex.replace("  ", " ")

    # -- traversal ----------------------------------------------------------
    def _dispatch(self, elm, stag):
        method = getattr(self, f"_do_{stag.lower()}", None)
        if method is not None:
            return method(elm)
        if stag in self._DIRECT:
            return self._children_str(elm)
        if stag.endswith("Pr"):
            return _Pr(elm)
        return None

    def _children(self, elm, include=None):
        for child in elm:
            if not child.tag.startswith(_M):
                continue
            stag = child.tag.replace(_M, "")
            if include and stag not in include:
                continue
            t = self._dispatch(child, stag)
            if t is not None:
                yield stag, t

    def _children_str(self, elm) -> str:
        return "".join(
            t if isinstance(t, str) else (t.text if isinstance(t, _Pr) else str(t))
            for _stag, t in self._children(elm)
        )

    def _children_dict(self, elm, include=None) -> dict:
        return dict(self._children(elm, include))

    # -- tag handlers --------------------------------------------------------
    def _do_r(self, elm):
        text = elm.findtext(f"./{_M}t") or ""
        pieces = [_uni2latex(ch) for ch in text]
        proc = _escape_latex("".join(pieces))
        if "{" not in text and "\\{" in proc:
            proc = proc.replace("\\{", "{")
        if "}" not in text and "\\}" in proc:
            proc = proc.replace("\\}", "}")
        return proc

    def _do_acc(self, elm):
        c = self._children_dict(elm)
        chr_val = c["accPr"].get("chr") if "accPr" in c else None
        template = _ACCENTS.get(chr_val, "\\hat{{{0}}}") if chr_val else "\\hat{{{0}}}"
        return template.format(c.get("e", ""))

    def _do_bar(self, elm):
        c = self._children_dict(elm)
        pr = c.get("barPr")
        pos = pr.get("pos") if pr else None
        template = {"top": "\\overline{{{0}}}", "bot": "\\underline{{{0}}}"}.get(
            pos, "\\overline{{{0}}}"
        )
        return (pr.text if pr else "") + template.format(c.get("e", ""))

    def _do_d(self, elm):
        c = self._children_dict(elm)
        pr = c.get("dPr")
        beg = pr.get("begChr") if pr else None
        end = pr.get("endChr") if pr else None
        left = "(" if beg is None else beg
        right = ")" if end is None else end
        return (pr.text if pr else "") + "\\left{left}{text}\\right{right}".format(
            left="." if not left else _escape_latex(left),
            text=c.get("e", ""),
            right="." if not right else _escape_latex(right),
        )

    def _do_sub(self, elm):
        return "_{{{0}}}".format(self._children_str(elm))

    def _do_sup(self, elm):
        return "^{{{0}}}".format(self._children_str(elm))

    def _do_f(self, elm):
        c = self._children_dict(elm)
        pr = c.get("fPr")
        template = (
            _FRAC_TYPES.get(pr.get("type"), _FRAC_TYPES["bar"])
            if pr
            else _FRAC_TYPES["bar"]
        )
        return (pr.text if pr else "") + template.format(
            num=c.get("num"), den=c.get("den")
        )

    def _do_func(self, elm):
        c = self._children_dict(elm)
        return (c.get("fName") or "{fe}").replace("{fe}", c.get("e", ""))

    def _do_fname(self, elm):
        parts = []
        for stag, t in self._children(elm):
            if stag == "r" and isinstance(t, str):
                parts.append(_FUNC.get(t, t))
            elif isinstance(t, str):
                parts.append(t)
        joined = "".join(parts)
        return joined if "{fe}" in joined else joined + "{fe}"

    def _do_groupchr(self, elm):
        c = self._children_dict(elm)
        pr = c.get("groupChrPr")
        chr_val = pr.get("chr") if pr else None
        if chr_val is None:
            return c.get("e", "")
        return (pr.text if pr else "") + chr_val.format(c.get("e", ""))

    def _do_rad(self, elm):
        c = self._children_dict(elm)
        deg = c.get("deg")
        if deg:
            return "\\sqrt[{deg}]{{{text}}}".format(deg=deg, text=c.get("e", ""))
        return "\\sqrt{{{text}}}".format(text=c.get("e", ""))

    def _do_eqarr(self, elm):
        return "\\\\".join(
            t for _stag, t in self._children(elm, include=("e",))
        )

    def _do_limlow(self, elm):
        c = self._children_dict(elm, include=("e", "lim"))
        template = _LIM_FUNC.get(c.get("e", ""))
        if not template:
            raise ValueError(f"unsupported limit function {c.get('e')!r}")
        return template.format(lim=c.get("lim"))

    def _do_limupp(self, elm):
        c = self._children_dict(elm, include=("e", "lim"))
        return "\\overset{{{lim}}}{{{text}}}".format(
            lim=c.get("lim"), text=c.get("e")
        )

    def _do_lim(self, elm):
        return self._children_str(elm).replace("\\rightarrow", "\\to")

    def _do_m(self, elm):
        rows = [t for stag, t in self._children(elm) if stag == "mr"]
        return "\\begin{{matrix}}{text}\\end{{matrix}}".format(
            text="\\\\".join(rows)
        )

    def _do_mr(self, elm):
        return "&".join(t for _stag, t in self._children(elm, include=("e",)))

    def _do_nary(self, elm):
        big_op = ""
        parts = []
        for stag, t in self._children(elm):
            if stag == "naryPr":
                chr_val = t.get("chr")
                big_op = "\\int" if chr_val is None else _CHR_BO.get(chr_val, chr_val)
            else:
                parts.append(t if isinstance(t, str) else str(t))
        return big_op + "".join(parts)


def omml_to_latex(omath) -> str:
    """m:oMath ElementTree element → LaTeX."""
    return OmmlConverter().convert(omath)
