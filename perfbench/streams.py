"""Seeded query streams for the serving workloads.

Everything here is a pure function of the seed (``random.Random``), so the
same seed gives byte-identical queries and the program under test only ever
sees the generated pages and queries.
"""

from __future__ import annotations

import json
import random

from mithril_spark.fixtures import ACRONYMS, DOMAINS, TAIL_VOCAB, VOCAB

# Term pools with their shares of query terms; within a pool, terms are
# drawn by Zipf rank. Head terms occur in most generated pages, so they and
# NOT queries (whose complement spans the whole shard) make up the latency
# tail.
POOLS = (
    ("head", VOCAB, 0.55),
    ("tail", TAIL_VOCAB, 0.35),
    ("acronym", ACRONYMS, 0.10),
)
ZIPF_S = 1.1
URL_WORDS = sorted({
    part for _scheme, host, _ in DOMAINS for part in host.split(".")
    if len(part) > 3 and part not in ("www",)
})

# Query shapes of fixtures.QUERY_SET: single term, AND (explicit and
# implicit), OR, NOT, quoted phrase, field restrictions, and mixes of these.
TEMPLATES = (
    ("single", "{a}"),
    ("and", "{a} AND {b}"),
    ("and_implicit", "{a} {b}"),
    ("or", "{a} OR {b}"),
    ("not", "NOT {a}"),
    ("and_not", "{a} NOT {b}"),
    ("phrase", '"{a} {b}"'),
    ("phrase_single", "'{a} {b}'"),
    ("title", "title:{a}"),
    ("url", "url:{u}"),
    ("mix_or_and", "({a} OR {b}) {c}"),
    ("mix_not_or", "{a} NOT ({b} OR {c})"),
    ("mix_field_phrase", '{a} title:{b} "{c} {d}"'),
)

# Quoted phrases return no hits on most generated pages, and a snippet
# operation without hits skips the document fetch it exists to measure.
SNIPPET_TEMPLATES = tuple(t for t in TEMPLATES
                          if t[0] not in ("phrase", "phrase_single"))

OP_KINDS = ("ranked", "wand", "snippet", "batch")
# The timed window is split into phases with these shares. ``rounds``
# repeats one fixed set of ranked and WAND queries (ROUND_SET) in rounds,
# so every query of the set is timed several times and a run's figure is
# the mean of per-query medians, which neither a few slow rounds nor the
# luck of which queries came up can move much. Snippet and batch
# operations cost 20-30 ranked ones each, so they run as closed loops of
# their own, taking as many samples as their share allows.
PHASES = (("rounds", 0.75), ("snippet", 0.1), ("batch", 0.15))
# Four decks of the 13 ranked shapes, eight of the three WAND bag sizes.
ROUND_SET = (("ranked", 52), ("wand", 24))
BATCH_SIZE = 16


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (r + 1) ** ZIPF_S for r in range(n)]


class _Deck:
    """Draws items in shuffled rounds, so every round holds each item
    exactly once: shares are exact over a round instead of merely expected,
    which keeps a run's latency median from depending on how many of its
    queries happened to draw the costly shapes."""

    def __init__(self, rng: random.Random, items):
        self.rng = rng
        self.items = list(items)
        self.left: list = []

    def draw(self):
        if not self.left:
            self.left = list(self.items)
            self.rng.shuffle(self.left)
        return self.left.pop()


class QueryGen:
    """Zipf-skewed query text for one seed: shapes and term pools are dealt
    from decks (exact shares), terms within a pool drawn by Zipf rank."""

    def __init__(self, rng: random.Random, templates=TEMPLATES):
        self.rng = rng
        self._shapes = _Deck(rng, templates)
        self._pools = _Deck(rng, [name for name, _t, share in POOLS
                                  for _ in range(round(20 * share))])
        self._bag_sizes = _Deck(rng, (1, 2, 3))
        self._terms = {name: terms for name, terms, _ in POOLS}
        self._weights = {name: _zipf_weights(len(t)) for name, t, _ in POOLS}

    def term(self) -> str:
        pool = self._pools.draw()
        return self.rng.choices(self._terms[pool], self._weights[pool])[0]

    def terms(self, n: int) -> list[str]:
        return [self.term() for _ in range(n)]

    def ranked(self) -> tuple[str, str]:
        shape, fmt = self._shapes.draw()
        a, b, c, d = self.terms(4)
        return shape, fmt.format(a=a, b=b, c=c, d=d,
                                 u=self.rng.choice(URL_WORDS))

    def bag(self) -> tuple[str, str]:
        """A bag-of-words query for the WAND ranker (1 to 3 terms)."""
        n = self._bag_sizes.draw()
        return f"bag{n}", " ".join(self.terms(n))


def op_stream(seed: int, op: str):
    """Endless queries for one operation kind: ``ranked`` (``top_k``),
    ``snippet`` (``top_k_with_snippets``, without phrase shapes) and
    ``batch`` (``top_k_many``, one list of BATCH_SIZE queries per item) use
    the ranked templates,
    ``wand`` (``bm25_topk(k=10)``) bags of one to three terms. Items are
    ``(shape, query)``; a batch's shape is ``batch``."""
    gen = QueryGen(random.Random(f"{op}-{seed}"),
                   SNIPPET_TEMPLATES if op == "snippet" else TEMPLATES)
    while True:
        if op == "wand":
            yield gen.bag()
        elif op == "batch":
            yield "batch", [gen.ranked()[1] for _ in range(BATCH_SIZE)]
        else:
            yield gen.ranked()


def round_set(seed: int) -> list[tuple[str, str, str]]:
    """The fixed ``(kind, shape, query)`` set the ``rounds`` phase repeats:
    the first ROUND_SET items of each kind's stream, in a seeded order."""
    items = []
    for op, n in ROUND_SET:
        it = op_stream(seed, op)
        items += [(op, *next(it)) for _ in range(n)]
    random.Random(f"rounds-{seed}").shuffle(items)
    return items


def stream_bytes(seed: int, n: int) -> bytes:
    """Canonical serialization of every kind's first ``n`` items and of the
    round set (for determinism checks)."""
    streams = {op: op_stream(seed, op) for op in OP_KINDS}
    return json.dumps({"rounds": round_set(seed),
                       **{op: [next(it) for _ in range(n)]
                          for op, it in streams.items()}},
                      sort_keys=True).encode()
