"""Gutenberg marker-split parsing — reference R2.

Replicates, byte-for-byte, the split semantics of the reference
(``IngestionService.java:17-24,54-60,108-132``; SURVEY.md §1.1):

- First START marker (two variants) located with ``indexOfAny`` which returns
  the match index **plus the needle length** — including its comparison quirk
  (the raw index of a later needle is compared against the already-advanced
  best).
- Last END marker located with ``lastIndexOfAny``.
- Parse fails when either marker is missing or ``end <= start``.
- ``header = txt[:s].trim()`` — ends with the START-marker prefix.
- ``body = txt[s:e]`` with a ``replaceFirst`` of the leading marker that is
  effectively a no-op (the substring already starts past the marker), then
  trimmed — so the tail of the START line (book title + ``" ***"``) remains at
  the head of the body. That retained-title-tail semantic is deliberate parity.

This pure function is shared by the driver-side path and the distributed
Spark path (pandas UDF in :mod:`adapter`), so both agree exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

START_MARKERS = (
    "*** START OF THE PROJECT GUTENBERG EBOOK",
    "*** START OF THIS PROJECT GUTENBERG EBOOK",
)
END_MARKERS = (
    "*** END OF THE PROJECT GUTENBERG EBOOK",
    "*** END OF THIS PROJECT GUTENBERG EBOOK",
)

# Java's String.trim() strips chars <= U+0020; Python's str.strip() with no
# argument strips more (all unicode whitespace). Replicate Java exactly.
_JAVA_TRIM_CHARS = "".join(map(chr, range(0x21)))


def java_trim(s: str) -> str:
    return s.strip(_JAVA_TRIM_CHARS)


def _index_of_any_advanced(s: str, needles: tuple[str, ...]) -> int:
    """``IngestionService.indexOfAny(s, needles, String::length)``.

    Returns first-match index advanced past the needle; keeps the reference's
    comparison quirk of testing the raw index against the advanced best.
    """
    best = -1
    for n in needles:
        i = s.find(n)
        if i >= 0 and (best < 0 or i < best):
            best = i + len(n)
    return best


def _last_index_of_any(s: str, needles: tuple[str, ...]) -> int:
    """``IngestionService.lastIndexOfAny`` (``IngestionService.java:117-124``)."""
    best = -1
    for n in needles:
        i = s.rfind(n)
        if i >= 0 and i > best:
            best = i
    return best


def _leading_marker(s: str, start_included: int) -> str:
    """``IngestionService.leadingMarker`` (``IngestionService.java:126-132``)."""
    for m in START_MARKERS:
        i = s.find(m)
        if i >= 0 and i + len(m) == start_included:
            return m
    return START_MARKERS[0]


@dataclass(frozen=True)
class SplitResult:
    ok: bool
    header: str | None = None
    body: str | None = None


def split_book(txt: str) -> SplitResult:
    """Split raw Gutenberg text into (header, body) per the reference.

    Returns ``SplitResult(ok=False)`` when markers are missing or mis-ordered
    (``IngestionService.java:57``).
    """
    s = _index_of_any_advanced(txt, START_MARKERS)
    e = _last_index_of_any(txt, END_MARKERS)
    if s < 0 or e < 0 or e <= s:
        return SplitResult(ok=False)
    header = java_trim(txt[:s])
    marker = _leading_marker(txt, s)
    body = txt[s:e]
    if body.startswith(marker):  # replaceFirst("^\\Q<marker>\\E", "") parity
        body = body[len(marker) :]
    body = java_trim(body)
    return SplitResult(ok=True, header=header, body=body)


def gutenberg_url(book_id: int) -> str:
    """The reference's fetch URL (``IngestionService.java:46``)."""
    return f"https://www.gutenberg.org/cache/epub/{book_id}/pg{book_id}.txt"
