"""Correctness checks over output rows; every failure is loud.

A check returns the set of input urls whose output is wrong (missing,
duplicated, wrong status or wrong content). ``fail_frac`` is the size of
that set over the corpus size. An empty corpus or empty output raises
:class:`EmptyCorpus` instead of passing vacuously.
"""

from __future__ import annotations

import hashlib
from collections import Counter


class EmptyCorpus(RuntimeError):
    """A timed corpus or its output has no rows."""


def require_rows(what: str, n: int) -> None:
    if n <= 0:
        raise EmptyCorpus(f"{what} is empty: nothing to time or check")


def completeness(corpus, urls) -> set:
    """Input urls that are missing from ``urls`` or appear more than once;
    an output url that is not an input url fails the whole corpus."""
    require_rows(f"{corpus.workload} corpus", len(corpus.docs))
    require_rows(f"{corpus.workload} output", len(urls))
    seen = Counter(urls)
    inputs = {d.url for d in corpus.docs}
    if set(seen) - inputs:
        return inputs
    return {u for u in inputs if seen.get(u) != 1}


def content(corpus, rows) -> set:
    """Urls whose row breaks the workload's content rule.

    ``rows`` maps url → dict with ``status``, ``failure_class`` and,
    optionally, ``text``. Raster and empty rows must carry their expected
    ``failure_class``; every other row must convert. When the rows carry
    ``text``, web pages must keep every body sentinel and template pages
    and PDFs must give their exact text; rows without it (a timed pass)
    are checked by output hash instead.
    """
    bad = set()
    for d in corpus.docs:
        r = rows.get(d.url)
        if r is None:
            bad.add(d.url)
        elif d.expected_failure is not None:
            if r["status"] != "failure" or r["failure_class"] != d.expected_failure:
                bad.add(d.url)
        elif r["status"] != "success":
            bad.add(d.url)
        elif "text" not in r:
            continue
        elif r["text"] is None:
            bad.add(d.url)
        elif d.expected_text is not None:
            if r["text"] != d.expected_text:
                bad.add(d.url)
        elif any(s not in r["text"] for s in d.sentinels):
            bad.add(d.url)
    return bad


def output_digest(row_sha: dict) -> str:
    """sha-256 over every row's (url, text, md, itxt) hash, in url order."""
    h = hashlib.sha256()
    for url in sorted(row_sha):
        h.update(url.encode("utf-8") + b"\0" + row_sha[url].encode("ascii") + b"\n")
    return h.hexdigest()
