"""Property-based tests (hypothesis) for the Gutenberg splitter — the most
reference-sensitive logic in the engine (SURVEY.md §1.1 semantics)."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from tscd_datalake_adapter_spark.lake.gutenberg import (
    END_MARKERS,
    START_MARKERS,
    java_trim,
    split_book,
)

# Text fragments that never contain a marker (markers are 40+ chars with a
# distinctive prefix; excluding '*' is the cheap sufficient guard).
fragment = st.text(
    alphabet=st.characters(blacklist_characters="*", blacklist_categories=("Cs",)),
    max_size=200,
)


@given(
    pre=fragment,
    title=fragment.filter(lambda s: "\n" not in s),
    body=fragment,
    post=fragment,
    sm=st.sampled_from(START_MARKERS),
    em=st.sampled_from(END_MARKERS),
)
@settings(max_examples=200, deadline=None)
def test_wellformed_always_splits(pre, title, body, post, sm, em):
    raw = f"{pre}{sm} {title} ***\n{body}\n{em} {title} ***\n{post}"
    r = split_book(raw)
    assert r.ok
    # Header is everything before+including the marker prefix, trimmed.
    assert r.header == java_trim(pre + sm)
    # Body retains the title tail (reference quirk) and excludes END marker.
    assert r.body == java_trim(f" {title} ***\n{body}\n")
    assert em not in r.body


@given(txt=fragment)
@settings(max_examples=100, deadline=None)
def test_markerless_never_splits(txt):
    assert not split_book(txt).ok


@given(pre=fragment, body=fragment, sm=st.sampled_from(START_MARKERS))
@settings(max_examples=100, deadline=None)
def test_start_only_fails(pre, body, sm):
    assert not split_book(f"{pre}{sm} T ***\n{body}").ok


@given(pre=fragment, body=fragment, em=st.sampled_from(END_MARKERS))
@settings(max_examples=100, deadline=None)
def test_end_only_fails(pre, body, em):
    assert not split_book(f"{pre}{em} T ***\n{body}").ok


@given(
    mid=fragment,
    sm=st.sampled_from(START_MARKERS),
    em=st.sampled_from(END_MARKERS),
)
@settings(max_examples=100, deadline=None)
def test_end_before_start_fails(mid, sm, em):
    # END strictly before START → e <= s → fail (IngestionService.java:57).
    assert not split_book(f"{em} T ***\n{mid}\n{sm} T ***").ok


@given(
    title=fragment.filter(lambda s: "\n" not in s),
    body=fragment,
    sm=st.sampled_from(START_MARKERS),
    em=st.sampled_from(END_MARKERS),
)
@settings(max_examples=100, deadline=None)
def test_idempotent_and_deterministic(title, body, sm, em):
    raw = f"head\n{sm} {title} ***\n{body}\n{em} {title} ***"
    assert split_book(raw) == split_book(raw)


# Java's String.trim() spelled as a regex: strip runs of U+0000-U+0020 at
# either end. The reference java_trim's str.strip must agree with.
_JAVA_TRIM_REFERENCE = re.compile(r"^[\x00-\x20]+|[\x00-\x20]+$")


@given(
    s=st.text(
        alphabet=st.one_of(
            st.characters(min_codepoint=0x00, max_codepoint=0x21),
            st.sampled_from("\u00e9\U0001f600"),
        ),
        max_size=40,
    )
)
@settings(max_examples=500, deadline=None)
def test_java_trim_matches_the_regex_reference(s):
    assert java_trim(s) == _JAVA_TRIM_REFERENCE.sub("", s)
