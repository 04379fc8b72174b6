"""Seeded inputs for every workload.

Everything a run feeds the program comes from here and depends only on the
``--seed``: the analytics pass orders and the lake script (the corpus of
Gutenberg-framed books, the request mix of each cycle and the merge sets).
The lake script also carries its own ground truth, so the runner can check
every answer without asking the program under test what it should be.

Pure Python on purpose: it imports neither Spark nor the package, so its
tests run in milliseconds.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

START = ("*** START OF THE PROJECT GUTENBERG EBOOK", "*** START OF THIS PROJECT GUTENBERG EBOOK")
END = ("*** END OF THE PROJECT GUTENBERG EBOOK", "*** END OF THIS PROJECT GUTENBERG EBOOK")
MALFORMED_KINDS = ("no_start", "no_end", "end_before_start")

# Share of generated books whose markers are broken, and the request mix
# of one cycle's burst (counts, not probabilities, so every cycle is the
# same size and the share of each kind is exact).
MALFORMED_EVERY = 20  # exactly one book in 20 is malformed
BULK_BOOKS = 40
BURST = {"ingest": 10, "status_uniform": 4, "status_recent": 3, "status_miss": 2, "list": 2}
MERGE_SHARE = 0.10
MIN_BYTES, MAX_BYTES = 1_000, 1_000_000

_WORDS = (
    "the of and to in that was he it his with as had for not but at by be "
    "on which this her all from they so were have one said would been "
    "their we when an there or no what my more out if into up them then "
    "could some who me very upon about little time great before down like "
    "sea ship whale river winter garden letter window morning evening"
).split()


def pass_orders(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass (pass 0 is the
    untimed warm-up and correctness pass)."""
    rng = random.Random(f"passes:{seed}")
    base = sorted(names)
    out = []
    for _ in range(n_passes):
        order = list(base)
        rng.shuffle(order)
        out.append(order)
    return out


def stratified_sizes(n: int) -> list[int]:
    """``n`` book sizes at evenly spaced quantiles of a heavy-tailed
    distribution (log-uniform in u**3: most books are a few KB, about 1 in
    8 is over 100 KB and about 1 in 30 over 500 KB). Every cycle's bulk
    append and its single ingests each get the same mix of sizes; the seed
    only decides which book gets which, so the work of a cycle does not
    depend on the seed."""
    return [int(MIN_BYTES * (MAX_BYTES / MIN_BYTES) ** (((k + 0.5) / n) ** 3)) for k in range(n)]


@dataclass(frozen=True)
class Book:
    book_id: int
    raw: str
    kind: str  # "ok" or one of MALFORMED_KINDS
    body: str | None  # the body the split must produce, None if malformed

    @property
    def ok(self) -> bool:
        return self.kind == "ok"


def word_pool(seed: int, n_bytes: int = MAX_BYTES + 100_000) -> str:
    """Seeded text that every book's payload is sliced from."""
    rng = random.Random(f"pool:{seed}")
    words = rng.choices(_WORDS, k=n_bytes // 4)
    return "\n".join(" ".join(words[i : i + 12]) for i in range(0, len(words), 12))


def make_book(rng: random.Random, pool: str, book_id: int, malformed: bool, n: int) -> Book:
    variant = rng.randrange(2)  # "OF THE" / "OF THIS" markers
    title = f"BOOK {book_id} VOL {rng.randrange(1, 9)}"
    at = pool.index("\n", rng.randrange(len(pool) - n - 1)) + 1
    payload = pool[at : at + n].strip()
    header = f"The Project Gutenberg eBook of {title}\nRelease date: {book_id % 28 + 1} May 2001\n"
    start = f"{START[variant]} {title} ***"
    end = f"{END[variant]} {title} ***"
    trailer = "\nEnd of the Project Gutenberg eBook\n"
    if not malformed:
        raw = f"{header}\n{start}\n{payload}\n{end}\n{trailer}"
        return Book(book_id, raw, "ok", f"{title} ***\n{payload}")
    kind = MALFORMED_KINDS[rng.randrange(len(MALFORMED_KINDS))]
    if kind == "no_start":
        raw = f"{header}\n{payload}\n{end}\n{trailer}"
    elif kind == "no_end":
        raw = f"{header}\n{start}\n{payload}\n{trailer}"
    else:
        raw = f"{header}\n{end}\n{payload}\n{start}\n{trailer}"
    return Book(book_id, raw, kind, None)


@dataclass
class Cycle:
    index: int  # the cycle writes into the partition of hour ``index``
    bulk: list[Book]
    # ("ingest", Book) | ("status", id, expect_hit, kind) | ("list", expected ids)
    requests: list[tuple]
    merge_ids: list[int]
    live_after: frozenset[int]  # ground truth once the cycle has run

    @property
    def bulk_failures(self) -> int:
        return sum(not b.ok for b in self.bulk)


@dataclass
class LakeScript:
    """The lake workload's input, generated cycle by cycle.

    Cycles are generated in order, each from an RNG keyed by the seed and
    the cycle index, so a run that stops after fewer cycles saw a prefix of
    the script a longer run with the same seed saw."""

    seed: int
    pool: str = ""
    next_id: int = 1
    live: dict[int, str] = field(default_factory=dict)  # id -> expected body
    merged: set[int] = field(default_factory=set)
    recent: list[int] = field(default_factory=list)
    malformed_seen: int = 0
    books_seen: int = 0

    def _new_book(self, rng: random.Random, size: int) -> Book:
        bid = self.next_id
        self.next_id += 1
        self.books_seen += 1
        # exactly one book in MALFORMED_EVERY is malformed: the position of
        # the bad book within each block of MALFORMED_EVERY ids is seeded
        block, pos = divmod(bid - 1, MALFORMED_EVERY)
        bad = pos == random.Random(f"bad:{self.seed}:{block}").randrange(MALFORMED_EVERY)
        book = make_book(rng, self.pool, bid, bad, size)
        self.malformed_seen += bad
        return book

    def __post_init__(self) -> None:
        self.pool = self.pool or word_pool(self.seed)

    def _commit(self, book: Book) -> None:
        if book.ok:
            self.live[book.book_id] = book.body
            self.recent.append(book.book_id)

    def cycle(self, index: int) -> Cycle:
        rng = random.Random(f"cycle:{self.seed}:{index}")
        sizes = stratified_sizes(BULK_BOOKS)
        rng.shuffle(sizes)
        bulk = [self._new_book(rng, n) for n in sizes]
        sizes = stratified_sizes(BURST["ingest"])
        rng.shuffle(sizes)
        for b in bulk:
            self._commit(b)
        kinds = [k for k, n in BURST.items() for _ in range(n)]
        rng.shuffle(kinds)
        requests: list[tuple] = []
        for kind in kinds:
            if kind == "ingest":
                book = self._new_book(rng, sizes.pop())
                self._commit(book)
                requests.append(("ingest", book))
            elif kind == "list":
                requests.append(("list", tuple(sorted(self.live))))
            elif kind == "status_miss":
                requests.append(("status", self.next_id + 1_000_000 + rng.randrange(10**6), False, kind))
            else:
                pool = sorted(self.live) if kind == "status_uniform" else self.recent[-20:]
                bid = pool[rng.randrange(len(pool))]
                requests.append(("status", bid, True, kind))
        ids = sorted(self.live)
        merge_ids = sorted(rng.sample(ids, max(1, int(len(ids) * MERGE_SHARE))))
        for bid in merge_ids:
            self.live[bid] = updated_body(bid, index)
        self.merged.update(merge_ids)
        return Cycle(index, bulk, requests, merge_ids, frozenset(self.live))


def updated_body(book_id: int, cycle: int) -> str:
    return f"updated in cycle {cycle}: book {book_id}"


def input_digest(seed: int, names: list[str], n_cycles: int = 3) -> str:
    """sha256 over everything the seed decides: the first ``n_cycles``
    lake cycles and the analytics pass orders."""
    h = hashlib.sha256()
    h.update(json.dumps(pass_orders(seed, names, 4)).encode())
    script = LakeScript(seed)
    for i in range(n_cycles):
        c = script.cycle(i)
        for b in c.bulk:
            h.update(f"{b.book_id}:{b.kind}:".encode() + b.raw.encode())
        for r in c.requests:
            h.update(repr(r if r[0] != "ingest" else ("ingest", r[1].book_id, r[1].raw)).encode())
        h.update(repr(c.merge_ids).encode())
    return h.hexdigest()
