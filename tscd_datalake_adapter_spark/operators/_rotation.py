"""Registry rotation: driver-verified query names, by round.

The round driver's CORRECTNESS check truncates the registry at its first 50
entries (verified against CORRECTNESS_r01.json: its keys equal the registry's
first 50 names in order).  With >50 registered queries, registration order
decides which get a hard oracle row each round.  ``load_all`` therefore
reorders the registry so queries that have NEVER had a green driver row come
first; already-verified queries (still guarded every round by pytest's
``tests/test_oracle_parity.py`` over the same oracles) rotate to the back.

Green names are discovered automatically: every ``CORRECTNESS_r*.json`` at
the repo root is scanned at load time for rows with rows/schema/hash all
true, so each new round's results rotate the window with no code change.
Errored or unchecked names never enter the verified set, so they stay in
the front window until they earn a green row.
"""

from __future__ import annotations

import glob
import json
import os


def _round_of(path: str) -> int:
    """Round number from a CORRECTNESS_r{N}.json filename (0 if unparsable)."""
    base = os.path.basename(path)
    digits = "".join(ch for ch in base if ch.isdigit())
    try:
        return int(digits)
    except ValueError:
        return 0


def _correctness_rows() -> list[tuple[int, str, dict]]:
    """``(round, name, row)`` for every row of every ``CORRECTNESS_r*.json``
    at the repo root — the one reader of those files; the green set, the
    recorded set and each name's last recorded round derive from it."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out: list[tuple[int, str, dict]] = []
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            rnd = _round_of(path)
            out.extend(
                (rnd, name, row)
                for name, row in rows.items()
                if isinstance(row, dict)
            )
    return out


def _is_green(row: dict) -> bool:
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def _greens_from_correctness_files(
    rows: list[tuple[int, str, dict]] | None = None,
) -> set[str]:
    """Names with a fully-green driver row in any CORRECTNESS_r*.json."""
    return {
        name
        for _, name, row in (_correctness_rows() if rows is None else rows)
        if _is_green(row)
    }


def _is_rows_only_record(row: dict) -> bool:
    """True for the driver's oracle-less record shape: ``{"rows_match":
    null, ..., "err": "no_oracle", "spark_rows": N}`` (see the 5 such rows
    in CORRECTNESS_r03.json). The query RAN — ``no_oracle`` is a record
    kind, not a failure — and a rows-only record is the best outcome an
    oracle-less query can ever earn."""
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def _recorded_without_error(
    rows: list[tuple[int, str, dict]] | None = None,
) -> set[str]:
    """Names the driver ran and recorded a best-possible row for: a normal
    ``err: null`` row for oracle-backed queries, or a rows-only
    ``no_oracle`` record for oracle-less ones — one such record means the
    front-window slot has done its job and the query retires."""
    return {
        name
        for _, name, row in (_correctness_rows() if rows is None else rows)
        if (row.get("err") is None and row.get("rows_match") is not None)
        or _is_rows_only_record(row)
    }


def _last_recorded_round(rows: list[tuple[int, str, dict]]) -> dict[str, int]:
    """name → the NEWEST round that recorded a usable row for it (green,
    or rows-only for oracle-less queries). Drives the r9+ re-verification
    rotation: with the whole registry verified, the 50-slot CORRECTNESS
    window is best spent re-confirming the STALEST greens — r1-green
    queries have since been rewritten by fold sweeps and their old rows
    prove nothing about today's code."""
    out: dict[str, int] = {}
    for rnd, name, row in rows:
        if _is_green(row) or _is_rows_only_record(row):
            out[name] = max(out.get(name, 0), rnd)
    return out


def tier(spec, name: str, greens: set[str], recorded: set[str]) -> int:
    """The rotation tier of query ``name`` (see :func:`rotate`), given the
    names with a green driver row and the names recorded without error."""
    if spec.oracle is not None:
        if name in greens:
            return 3
        return 2 if spec.defer else 0
    if name in recorded:
        return 4
    return 2 if spec.defer else 1


def rotate(registry: dict) -> dict:
    """Order the registry so the driver's 50-slot window is spent where it
    can still produce signal (registration order within each tier):

    1. oracle-backed queries with no green driver row yet — each window
       visit can turn one green;
    2. oracle-less queries the driver has never recorded — they can earn at
       most a rows-only row, once;
    3. DEFERRED unverified queries (``QuerySpec.defer``): registered after
       the current round's window was planned — they must never displace a
       query whose first row this round needs, so they queue here and are
       promoted automatically next round (their names land in the
       correctness files, or the window frees up as greens rotate out);
    4. hash-verified oracle-backed queries — ordered STALEST-GREEN-FIRST
       (r9, by last recorded round ascending): once the registry is fully
       verified, window slots spent here re-confirm the greens whose last
       driver row is oldest relative to the code that has since changed;
    5. oracle-less queries that already have their (best-possible)
       rows-only record: the driver would only re-emit an ``err:
       "no_oracle"`` row for them, so they sort behind everything — also
       stalest-first within the tier.
    """
    rows = _correctness_rows()
    greens = _greens_from_correctness_files(rows)
    recorded = _recorded_without_error(rows)
    last_round = _last_recorded_round(rows)
    reg_index = {n: i for i, n in enumerate(registry)}
    out: dict = {}
    for t in (0, 1, 2, 3, 4):
        names = [
            n
            for n, s in registry.items()
            if tier(s, n, greens, recorded) == t
        ]
        if t in (3, 4):
            names.sort(key=lambda n: (last_round.get(n, 0), reg_index[n]))
        out.update({n: registry[n] for n in names})
    return out
