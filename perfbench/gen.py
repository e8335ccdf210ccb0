"""Seeded workload generator: corpus size, query mix and update waves.

Everything here is a pure function of its seed. The benchmark seeds
the corpus and the update waves with the run's seed and every query
stream with one fixed seed (see ``workloads.QUERY_SEED``). The engine
only ever receives what these functions return: a corpus DataFrame
made by the engine's own ``synth_source_files`` (so the token
statistics are the ones the project's fixtures describe), query
strings, and update snapshots.

Vocabulary pools (taken from the corpus generator, after the engine's
``[^0-9a-z]+`` tokenizer splits ``parse_buffer`` into two tokens):

* head: ``UBIQUITOUS`` keywords, in ~every document (30% of tokens);
* suffixes: the 8 ``MID_FREQ`` suffixes, each ~7.5% of tokens;
* stems: the 64 ``MID_FREQ`` stems, each ~1% of tokens;
* doc numbers: ``sym_<doc>_<j>`` puts the number ``doc`` in one
  document only, so a number >= 200 (above every ``j``) is a rare term.
  It also names its document: a deleted doc's number must match nothing.

Query classes and their share of the mix, with the reason for each:

========  =====  ====================================================
class     share  why
========  =====  ====================================================
or        0.20   flat OR of 1-3 Zipf-weighted terms: the block-max
                 WAND path and the term memo (repeated head terms)
and       0.14   flat AND of 2-3 terms with a head keyword: posting
                 skew, the longest lists in the index
not       0.10   flat AND-NOT: the negative-term path of the kernel
rare      0.16   a doc-number term, alone or ORed with a stem: a new
                 term almost every query, so the driver's dictionary
                 memo misses and a lookup job runs
phrase    0.12   "stem suffix" phrases: positions decoded, rset path
prefix    0.10   ``stem*`` truncation: dictionary expansion job
near      0.08   ``a NEAR/3 b``: proximity over decoded positions
mix       0.10   parenthesised mixes of the above: the rset DAG
========  =====  ====================================================

Flat classes (or/and/not/rare) are 60% of queries and run on the WAND
path; structured classes are the other 40%.

The class of the i-th query of a stream is fixed (:data:`SCHEDULE`, a
smooth weighted round-robin over the shares, so every window of a
stream holds the classes in about these proportions); the seed picks
the terms. A run measures only a few dozen queries, and a class mix
that changed with the seed would make its medians move with the seed
rather than with the engine.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator
from dataclasses import dataclass, field

from idzebra_spark.sources.corpus import MID_FREQ, UBIQUITOUS

# Corpus size per workload. Every run pays a fresh JVM and a cold first
# build, and a full set of runs has a fixed time budget; that bounds the
# size on a 4-core box (recorded in perfbench/manifest.json).
CORPUS_DOCS = 5000

# Update waves: ~1% new docs, ~16 scattered edits, ~4 deletions.
APPEND_FRAC = 0.01
EDITS_PER_WAVE = 16
DELETES_PER_WAVE = 4

# Doc-number terms start above the per-doc token index range (0..199).
RARE_MIN = 200

QUERY_CLASSES = {
    "or": 0.20, "and": 0.14, "not": 0.10, "rare": 0.16,
    "phrase": 0.12, "prefix": 0.10, "near": 0.08, "mix": 0.10,
}
FLAT_CLASSES = ("or", "and", "not", "rare")


def _schedule(shares: dict[str, float], length: int = 100) -> list[str]:
    """Smooth weighted round-robin: each step adds every class's share
    to its credit and emits the class with the most credit."""
    credit = dict.fromkeys(shares, 0.0)
    out = []
    for _ in range(length):
        for c, w in shares.items():
            credit[c] += w
        pick = max(credit, key=credit.get)
        credit[pick] -= sum(shares.values())
        out.append(pick)
    return out


SCHEDULE = _schedule(QUERY_CLASSES)

STEMS = sorted({t.split("_")[0] for t in MID_FREQ})
SUFFIXES = sorted({t.split("_")[1] for t in MID_FREQ})
# Zipf rank order: head keywords, then suffixes, then stems.
VOCAB = list(UBIQUITOUS) + [s for s in SUFFIXES if s not in UBIQUITOUS] + [
    s for s in STEMS if s not in SUFFIXES]
_ZIPF_W = [1.0 / (r + 1) for r in range(len(VOCAB))]
_STEM_W = [1.0 / (r + 1) for r in range(len(STEMS))]


@dataclass(frozen=True)
class Query:
    """One generated query. Flat queries also carry the term lists the
    brute-force oracle takes."""

    text: str
    cls: str
    mode: str | None = None
    terms: tuple[str, ...] = ()
    not_terms: tuple[str, ...] = ()

    @property
    def flat(self) -> bool:
        return self.cls in FLAT_CLASSES


def _zipf(rng: random.Random, n: int) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        t = rng.choices(VOCAB, weights=_ZIPF_W)[0]
        if t not in out:
            out.append(t)
    return out


def _stem(rng: random.Random) -> str:
    """A Zipf-weighted stem: wildcards and phrases repeat the way query
    logs do, so the handle's expansion memo sees hits as well as
    misses."""
    return rng.choices(STEMS, weights=_STEM_W)[0]


def _phrase(rng: random.Random) -> str:
    return f'"{_stem(rng)} {rng.choice(SUFFIXES)}"'


def make_query(rng: random.Random, cls: str, n_docs: int) -> Query:
    if cls == "or":
        terms = _zipf(rng, rng.randint(1, 3))
        return Query(" OR ".join(terms), cls, "or", tuple(terms))
    if cls == "and":
        terms = [rng.choice(UBIQUITOUS)]
        terms += [t for t in _zipf(rng, rng.randint(1, 2)) if t not in terms]
        return Query(" AND ".join(terms), cls, "and", tuple(terms))
    if cls == "not":
        pos, neg = _zipf(rng, 2)
        return Query(f"{pos} NOT {neg}", cls, "or", (pos,), (neg,))
    if cls == "rare":
        terms = [str(rng.randrange(RARE_MIN, n_docs))]
        if rng.random() < 0.5:
            terms.append(_stem(rng))
        return Query(" OR ".join(terms), cls, "or", tuple(terms))
    if cls == "phrase":
        return Query(_phrase(rng), cls)
    if cls == "prefix":
        return Query(_stem(rng)[: rng.randint(3, 4)] + "*", cls)
    if cls == "near":
        a, b = _zipf(rng, 2)
        return Query(f"{a} NEAR/3 {b}", cls)
    a, b, c = _zipf(rng, 3)
    return Query(rng.choice([
        f"({a} OR {b}) AND {c}",
        f"({a} AND {b}) OR {_phrase(rng)}",
        f"({_stem(rng)[:3]}* OR {a}) AND {b}",
    ]), cls)


def query_stream(seed: int, stream: str, n_docs: int) -> Iterator[Query]:
    """The endless seeded query stream named ``stream``. Distinct
    streams of one seed are independent; the same (seed, stream) always
    gives the same sequence."""
    rng = random.Random(f"{seed}:{stream}")
    for cls in itertools.cycle(SCHEDULE):
        yield make_query(rng, cls, n_docs)


def queries(seed: int, stream: str, n: int, n_docs: int) -> list[Query]:
    """The first ``n`` queries of :func:`query_stream`."""
    return list(itertools.islice(query_stream(seed, stream, n_docs), n))


@dataclass
class Wave:
    """One update wave against the live document set."""

    number: int
    marker: str
    new_ids: range
    edited: tuple[int, ...]
    deleted: tuple[int, ...]

    @property
    def expect_marker(self) -> set[int]:
        return set(self.new_ids) | set(self.edited)


@dataclass
class CorpusState:
    """The corpus snapshot after the waves applied so far: row count of
    the synthetic generator, per-doc appended marker tokens, deletions.
    ``deletable`` holds the ids whose content carries their own
    doc-number term (see the module docstring); only those are deleted,
    so a search for that term tells whether a deleted doc came back."""

    seed: int
    n_rows: int
    deletable: frozenset[int]
    suffix: dict[int, str] = field(default_factory=dict)
    deleted: set[int] = field(default_factory=set)

    def next_wave(self, number: int) -> Wave:
        """Plan and apply wave ``number``: append ~1% new docs, edit
        ~16 scattered live docs and delete ~4 other deletable ones.
        Every new and edited doc gains the wave's marker token."""
        rng = random.Random(f"{self.seed}:wave:{number}")
        marker = f"zqmark{self.seed}w{number}"
        n_new = max(1, int(self.n_rows * APPEND_FRAC))
        new_ids = range(self.n_rows, self.n_rows + n_new)
        live = [i for i in range(self.n_rows) if i not in self.deleted]
        edited = tuple(sorted(rng.sample(live, EDITS_PER_WAVE)))
        candidates = sorted(self.deletable - self.deleted - set(edited))
        deleted = tuple(sorted(rng.sample(candidates, DELETES_PER_WAVE)))
        for i in (*new_ids, *edited):
            self.suffix[i] = (self.suffix.get(i, "") + " " + marker).lstrip()
        for i in deleted:
            self.suffix.pop(i, None)
            self.deleted.add(i)
        self.n_rows += n_new
        return Wave(number, marker, new_ids, edited, deleted)
