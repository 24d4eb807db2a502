"""Index-stream-reader algebra over an in-memory shard, faithful to reference.

Reference semantics: /root/reference/index/src/IndexStreamReader.h,
TermReader.cpp, TermAND.cpp, TermOR.cpp, NotIndexStreamReader.h,
IdentityISR.h, GenericTermReader.cpp, TermQuote.cpp, TermPhrase.cpp,
ISRFactory.cpp, /root/reference/query/src/Query.h (lowering) and
QueryEngine.h:46-73 (drive loop).

This module is deliberately *not* Spark code: it is the sequential per-shard
evaluation the reference runs one-thread-per-shard. The Spark engine runs it
in the driver or inside ``mapInPandas`` with partitions-as-shards; the
oracle runs it directly. Faithfully reproduced quirks:

* ``TermQuote``/``TermPhrase`` pump their inner ``TermAND`` with ``moveNext``
  *before* inspecting positions, so the first AND doc is never checked; and
  their one-behind buffering drops the final adjacency match (a single match
  yields an empty stream). Their ``seekToDocID`` consumes the stream until
  ``current == target``, exhausting it when the target is absent — which can
  empty an enclosing AND early.
* ``NotISR`` starts at doc 0: doc 0 is yielded only when the child stream is
  completely empty; otherwise results are drawn from [1, doc_count).
* Identity (normalized-away / stopword) terms are dropped as AND/OR neutral
  elements (Query.h:151-168,197-214).
* In ``TermAND``, ``TermReader`` children are stable-sorted first by
  (doc_count, avg frequency); non-TermReader children keep construction
  (left-to-right) order, matching the reference's pointer-order tie-break
  under ascending allocation.
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass, field

import numpy as np

from ..ranking import (
    _ASCII_LOWER_STR,
    ascii_lower,
    contains_porn_keywords,
    contains_porn_keywords_any,
    static_rank,
)
from ..text.normalize import (
    ALL,
    ANCHOR,
    DESC,
    STOPWORDS,
    TITLE,
    URL,
    normalize,
)
from . import grammar as g

DOCID_MAX = 0xFFFFFFFF


@dataclass
class DocMeta:
    """One doc-map row: the oracle's per-doc build record and the scalar
    ranking path's per-doc view (``DocMapCols.meta``)."""

    doc_id: int
    url: bytes
    title: list[bytes]
    body_len: int
    title_len: int
    url_len: int
    desc_len: int
    pagerank: float = 0.0
    # precomputed ranking.static_rank(url) — pure function of the url,
    # computed once at index build instead of per match in the hot loop;
    # None: DocMapCols.from_metas computes it from the url.
    static_rank: float | None = None


class DocMapCols:
    """Columnar per-shard doc-map image, aligned on sorted local docids.

    The Spark analog of the reference's mmap'd document map
    (index/src/DocumentMapReader.cpp:15-100): one ``searchsorted`` resolves
    a docid to a row, and ranking gathers whole column slices per match
    batch instead of probing a dict-of-DocMeta per match. It is the only
    doc-map form ranking and WAND (query/wand.py) read: the engine builds one per shard from the
    doc_map parquet (``engine._docmap_image``) and caches it, and the
    oracle builds one per shard from its DocMeta dict (``from_metas``);
    both builders must give tuple-identical rankings
    (tests/test_vec_match.py::test_columnar_docmap_rank_identity).
    """

    __slots__ = ("local_ids", "urls", "titles", "title_counts", "body_lens",
                 "title_lens", "url_lens", "desc_lens", "pageranks",
                 "static_ranks", "urls_dec", "urls_low", "titles_low",
                 "title_concat_low", "porn_mask", "url_str_lens")

    def __init__(self, local_ids, urls, titles, body_lens, title_lens,
                 url_lens, desc_lens, pageranks, static_ranks):
        n = len(urls)
        self.local_ids = np.asarray(local_ids, dtype=np.int64)  # sorted asc
        self.urls = urls          # list[bytes], aligned
        self.titles = titles      # list[list[bytes]], aligned
        # number of title WORDS per doc (ranking's title_size), distinct
        # from title_lens (the reference's char-length field)
        self.title_counts = np.fromiter((len(t) for t in titles), np.int64, n)
        self.body_lens = np.asarray(body_lens, dtype=np.int64)
        self.title_lens = np.asarray(title_lens, dtype=np.int64)
        self.url_lens = np.asarray(url_lens, dtype=np.int64)
        self.desc_lens = np.asarray(desc_lens, dtype=np.int64)
        self.pageranks = np.asarray(pageranks, dtype=np.float64)
        self.static_ranks = np.asarray(static_ranks, dtype=np.float64)
        # Doc-only ranking precomputes (pure functions of url/title), paid
        # ONCE per image instead of per match per query, so per-query
        # ranking skips the decode / ascii-lower / porn-regex work.
        # handle_ranking_scalar recomputes them inline from the raw bytes
        # ``meta`` returns, so vectorized == scalar gates them.
        self.urls_dec = [u.decode("latin-1") for u in urls]
        self.url_str_lens = np.fromiter(
            (len(u) for u in self.urls_dec), np.int64, n)
        self.urls_low = [ascii_lower(u) for u in self.urls_dec]
        self.titles_low = [
            [t.decode("latin-1").translate(_ASCII_LOWER_STR) for t in tw]
            for tw in titles
        ]
        self.title_concat_low = ["".join(tl) for tl in self.titles_low]
        self.porn_mask = np.fromiter(
            (contains_porn_keywords_any(tw) or contains_porn_keywords(u)
             for tw, u in zip(titles, urls)), bool, n)

    @classmethod
    def from_metas(cls, doc_map: dict[int, DocMeta]) -> "DocMapCols":
        """Image over a dict of DocMeta (the oracle's build, hand-built
        test shards). A DocMeta without a static rank gets it computed from
        the url, as the index build writes it into doc_map."""
        ids = sorted(doc_map)
        metas = [doc_map[i] for i in ids]
        return cls(
            ids,
            [m.url for m in metas],
            [m.title for m in metas],
            [m.body_len for m in metas],
            [m.title_len for m in metas],
            [m.url_len for m in metas],
            [m.desc_len for m in metas],
            [m.pagerank for m in metas],
            [static_rank(m.url.decode("latin-1")) if m.static_rank is None
             else m.static_rank for m in metas],
        )

    def __len__(self) -> int:
        return len(self.local_ids)

    def gather(self, m_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(row_index, found_mask) for a sorted-or-not batch of local ids."""
        ids = self.local_ids
        if len(ids) == 0:
            z = np.zeros(len(m_arr), dtype=np.int64)
            return z, np.zeros(len(m_arr), dtype=bool)
        idx = np.searchsorted(ids, m_arr)
        idxc = np.minimum(idx, len(ids) - 1)
        return idxc, (idx < len(ids)) & (ids[idxc] == m_arr)

    def meta(self, local_id: int) -> DocMeta | None:
        """Single-doc DocMeta view (the scalar ranking path's lookup)."""
        ids = self.local_ids
        i = int(np.searchsorted(ids, local_id))
        if i >= len(ids) or ids[i] != local_id:
            return None
        return DocMeta(
            doc_id=int(local_id), url=self.urls[i], title=self.titles[i],
            body_len=int(self.body_lens[i]), title_len=int(self.title_lens[i]),
            url_len=int(self.url_lens[i]), desc_len=int(self.desc_lens[i]),
            pagerank=float(self.pageranks[i]),
            static_rank=float(self.static_ranks[i]),
        )


@dataclass
class ShardIndex:
    """One shard's RAM-resident index (the reference mmaps + loads the same).

    Ranking reads per-doc metadata only from ``doc_cols``; the oracle's
    ``doc_map`` dict is build data (WAND's test twins read its body
    lengths), never a ranking input."""

    doc_count: int = 0
    base_doc_id: int = 0
    # local docid space bound for NOT complements: equals doc_count on a
    # clean index; after an append-mode merge with replacements the space
    # is max live local id + 1 (tombstoned holes below it). 0 = doc_count.
    docid_space: int = 0
    # sorted dead local docids (append-merge tombstones); posting and
    # position streams are filtered against it at shard build, this field
    # only backs the matches() NOT-complement filter
    tombstones: "np.ndarray | None" = None
    # term -> parallel lists (doc_ids ascending, freqs)
    postings: dict[str, tuple[list[int], list[int]]] = field(default_factory=dict)
    # term -> (doc_ids ascending, flags list, flat positions list)
    positions: dict[str, tuple[list[int], list[int], list[list[int]]]] = field(
        default_factory=dict
    )
    doc_map: dict[int, DocMeta] = field(default_factory=dict)
    total_body_length: int = 0
    total_title_length: int = 0
    total_url_length: int = 0
    total_desc_length: int = 0
    # df for ranking tokens whose posting lists were not materialized
    # (the Spark engine loads them from term_dict instead; the oracle's
    # postings are complete so this stays empty there).
    extra_doc_freqs: dict[str, int] = field(default_factory=dict)
    # dynamicranker.conf pagerank weight (shipped config: 0.0); a runtime
    # knob so a non-zero-weight config is answerable (VERDICT r01 #6)
    pagerank_weight: float = 0.0
    # the doc-map image ranking reads (engine._docmap_image on the engine,
    # DocMapCols.from_metas on the oracle); None only on shards that are
    # never ranked (match-enumeration tests)
    doc_cols: "DocMapCols | None" = None
    # per-term sorted int64 docid arrays for the vectorized match walk
    # (lazy views of `postings`; query/vecisr.py)
    _np_docs: dict = field(default_factory=dict, repr=False)
    # per-term flattened position arrays for the vectorized quote/phrase
    # check: term -> (docs_np, starts, flat) where doc i's positions are
    # flat[starts[i]:starts[i+1]] (lazy views of `positions`; vecisr.py)
    _np_pos: dict = field(default_factory=dict, repr=False)

    @property
    def avg_body_length(self) -> float:
        if self.doc_count > 0:
            return self.total_body_length / self.doc_count
        return 0.0

    def doc_freq(self, term: str) -> int:
        entry = self.postings.get(term)
        if entry is not None:
            return len(entry[0])
        return self.extra_doc_freqs.get(term, 0)

    def posting_docs_np(self, term: str) -> np.ndarray:
        """This term's sorted docids as an int64 array (cached view)."""
        arr = self._np_docs.get(term)
        if arr is None:
            entry = self.postings.get(term)
            arr = (
                np.asarray(entry[0], dtype=np.int64)
                if entry is not None
                else np.empty(0, dtype=np.int64)
            )
            self._np_docs[term] = arr
        return arr

    def positions_np(self, term: str):
        """This term's positions flattened: (docs_np, starts, flat), cached.

        ``flat[starts[i]:starts[i+1]]`` are doc ``docs_np[i]``'s positions,
        ascending — the layout the vectorized quote/phrase check gathers
        segment slices from (query/vecisr.py)."""
        entry = self._np_pos.get(term)
        if entry is None:
            import itertools

            p = self.positions.get(term)
            if p is None:
                z = np.empty(0, dtype=np.int64)
                entry = (z, np.zeros(1, dtype=np.int64), z)
            else:
                docs, _flags, plists = p
                docs_np = np.asarray(docs, dtype=np.int64)
                lens = np.fromiter(
                    (len(x) for x in plists), np.int64, len(plists)
                )
                starts = np.concatenate(
                    (np.zeros(1, dtype=np.int64), np.cumsum(lens))
                )
                flat = np.fromiter(
                    itertools.chain.from_iterable(plists),
                    np.int64, int(starts[-1]),
                )
                entry = (docs_np, starts, flat)
            self._np_pos[term] = entry
        return entry

    def get_meta(self, local_id: int) -> DocMeta | None:
        """Doc metadata by local id, from the doc-map image."""
        return self.doc_cols.meta(local_id)

    def has_positions(self, term: str, doc_id: int) -> bool:
        entry = self.positions.get(term)
        if entry is None:
            return False
        docs = entry[0]
        i = bisect_left(docs, doc_id)
        return i < len(docs) and docs[i] == doc_id

    def get_positions(self, term: str, doc_id: int) -> list[int]:
        entry = self.positions.get(term)
        if entry is None:
            return []
        docs = entry[0]
        i = bisect_left(docs, doc_id)
        if i < len(docs) and docs[i] == doc_id:
            return entry[2][i]
        return []


class IsrError(RuntimeError):
    """Mirrors the reference's std::runtime_error("No current posting").

    QueryEngine::EvaluateQuery catches it and returns an empty result set —
    notably this aborts many quote/phrase queries whose inner AND exhausts by
    stepping a reader off its list (TermReader.cpp:148-154 throw path).
    """


class ISR:
    def has_next(self) -> bool:
        raise NotImplementedError

    def move_next(self) -> None:
        raise NotImplementedError

    def current_doc_id(self) -> int:
        raise NotImplementedError

    def seek_to_doc_id(self, target: int) -> None:
        raise NotImplementedError

    def is_identity(self) -> bool:
        return False


class IdentityISR(ISR):
    """Empty neutral stream (IdentityISR.h:16-26)."""

    def has_next(self) -> bool:
        return False

    def move_next(self) -> None:
        pass

    def current_doc_id(self) -> int:
        return 0

    def seek_to_doc_id(self, target: int) -> None:
        pass

    def is_identity(self) -> bool:
        return True


class TermReaderISR(ISR):
    """Posting-list cursor (TermReader.cpp:20-250)."""

    __slots__ = ("term", "shard", "docs", "freqs", "found", "at_end", "idx",
                 "_avg_freq")

    def __init__(self, term: str, shard: ShardIndex):
        self.term = term
        self.shard = shard
        entry = shard.postings.get(term)
        if entry is None:
            self.docs: list[int] = []
            self.freqs: list[int] = []
            self.found = False
            self.at_end = True
        else:
            self.docs, self.freqs = entry
            self.found = True
            self.at_end = False
        self.idx = 0
        self._avg_freq: float | None = None

    def has_next(self) -> bool:
        if not self.found or self.at_end:
            return False
        return self.idx < len(self.docs)

    def move_next(self) -> None:
        if not self.has_next():
            self.at_end = True
            return
        self.idx += 1

    def current_doc_id(self) -> int:
        if not self.has_next():
            raise IsrError("No current posting")
        return self.docs[self.idx]

    def seek_to_doc_id(self, target: int) -> None:
        if not self.found or self.at_end:
            return
        docs = self.docs
        n = len(docs)
        if self.idx < n and docs[self.idx] >= target:
            return
        if target > docs[-1]:
            self.idx = n
            self.at_end = True
            return
        # binary search replaces sync-point + linear scan (same result)
        i = bisect_left(docs, target, self.idx)
        self.idx = i
        if self.idx >= n:
            self.at_end = True

    def current_positions(self) -> list[int]:
        if not self.found or self.at_end:
            return []
        return self.shard.get_positions(self.term, self.current_doc_id())

    def document_count(self) -> int:
        return len(self.docs)

    def average_frequency(self) -> float:
        if self._avg_freq is None:
            n = len(self.freqs)
            self._avg_freq = (sum(self.freqs) / n) if n else 0.0
        return self._avg_freq


class TermANDISR(ISR):
    """Zig-zag n-ary intersection (TermAND.cpp:10-153)."""

    def __init__(self, readers: list[ISR]):
        self.readers = readers
        self.at_end = False
        self.current = 0
        if not readers:
            self.at_end = True
            return
        self._sort_readers()
        if not self._find_next_match():
            self.at_end = True

    def _sort_readers(self) -> None:
        term_readers = [r for r in self.readers if isinstance(r, TermReaderISR)]
        others = [r for r in self.readers if not isinstance(r, TermReaderISR)]
        term_readers.sort(key=lambda r: (r.document_count(), r.average_frequency()))
        self.readers = term_readers + others

    def has_next(self) -> bool:
        return not self.at_end

    def move_next(self) -> None:
        if self.at_end:
            return
        self.readers[0].move_next()
        if not self._find_next_match():
            self.at_end = True

    def current_doc_id(self) -> int:
        if self.at_end:
            return DOCID_MAX
        return self.current

    def seek_to_doc_id(self, target: int) -> None:
        if self.at_end:
            return
        self.readers[0].seek_to_doc_id(target)
        if not self._find_next_match():
            self.at_end = True

    def _find_next_match(self) -> bool:
        readers = self.readers
        for r in readers:
            if not r.has_next():
                return False
        while True:
            candidate = readers[0].current_doc_id()
            all_match = True
            for i in range(1, len(readers)):
                readers[i].seek_to_doc_id(candidate)
                if not readers[i].has_next() or readers[i].current_doc_id() > candidate:
                    all_match = False
                    if readers[i].has_next():
                        new_candidate = readers[i].current_doc_id()
                        readers[0].seek_to_doc_id(new_candidate)
                        if (
                            not readers[0].has_next()
                            or readers[0].current_doc_id() > new_candidate
                        ):
                            continue
                    else:
                        return False
                    break
            if all_match:
                self.current = candidate
                return True
            if not readers[0].has_next():
                return False

    def get(self, i: int) -> ISR | None:
        return self.readers[i] if i < len(self.readers) else None


class TermORISR(ISR):
    """Min-of-heads union (TermOR.cpp:8-73)."""

    def __init__(self, readers: list[ISR]):
        self.readers = readers
        self.at_end = False
        self.min_index = 0
        if not readers:
            self.at_end = True
            return
        self._find_minimum_reader()

    def has_next(self) -> bool:
        return not self.at_end

    def move_next(self) -> None:
        if self.at_end:
            return
        current = self.readers[self.min_index].current_doc_id()
        for r in self.readers:
            if r.has_next() and r.current_doc_id() == current:
                r.move_next()
        self._find_minimum_reader()

    def current_doc_id(self) -> int:
        if self.at_end:
            return DOCID_MAX
        return self.readers[self.min_index].current_doc_id()

    def seek_to_doc_id(self, target: int) -> None:
        if self.at_end:
            return
        for r in self.readers:
            r.seek_to_doc_id(target)
        self._find_minimum_reader()

    def _find_minimum_reader(self) -> None:
        self.at_end = True
        min_doc = DOCID_MAX + 1
        for i, r in enumerate(self.readers):
            if r.has_next():
                doc = r.current_doc_id()
                if doc < min_doc:
                    min_doc = doc
                    self.min_index = i
                    self.at_end = False


class NotISR(ISR):
    """Complement against [0, doc_count) (NotIndexStreamReader.h:9-83).

    Docids here are shard-local (our multi-shard layout subtracts the shard
    base before building ISRs; the reference's shards have local ids too).
    """

    def __init__(self, reader: ISR, doc_count: int):
        self.reader = reader
        self.doc_count = doc_count
        self.current = 0
        if not reader.has_next():
            return
        self.move_next()

    def has_next(self) -> bool:
        return self.current < self.doc_count

    def move_next(self) -> None:
        if not self.has_next():
            return
        self.current += 1
        reader = self.reader
        while (
            self.current <= self.doc_count
            and reader.has_next()
            and reader.current_doc_id() <= self.current
        ):
            if reader.current_doc_id() == self.current:
                self.current += 1
                if self.current <= self.doc_count:
                    reader.seek_to_doc_id(self.current)
            elif reader.current_doc_id() < self.current:
                reader.move_next()

    def current_doc_id(self) -> int:
        return self.current

    def seek_to_doc_id(self, target: int) -> None:
        if target < self.current:
            self.reader.seek_to_doc_id(1)
            self.current = 0
        # docid_t is uint32: "target - 1" UNDERFLOWS for target 0
        # (NotIndexStreamReader.h:69 "current_doc_id_ = target_doc_id - 1"),
        # leaving current at 0xFFFFFFFF — hasNext() false, stream dead.
        # seek(0) therefore KILLS a NotISR; found by the compiled-reference
        # ISR differential (tests/test_cpp_differential.py isr_driver).
        self.current = (target - 1) & DOCID_MAX
        self.move_next()


class GenericTermISR(ISR):
    """Field-agnostic term = OR over 5 decorated variants (GenericTermReader.cpp)."""

    def __init__(self, term: str, shard: ShardIndex):
        readers: list[ISR] = [
            TermReaderISR(dec + term, shard) for dec in ("", "#", "@", "$", "%")
        ]
        self.inner = TermORISR(readers)

    def has_next(self) -> bool:
        return self.inner.has_next()

    def move_next(self) -> None:
        self.inner.move_next()

    def current_doc_id(self) -> int:
        return self.inner.current_doc_id()

    def seek_to_doc_id(self, target: int) -> None:
        self.inner.seek_to_doc_id(target)


class _QuotePhraseBase(ISR):
    """Common machinery of TermQuote/TermPhrase (one-behind buffering)."""

    def __init__(self, terms: list[str], shard: ShardIndex):
        self.term_readers = [TermReaderISR(t, shard) for t in terms]
        self.stream = TermANDISR(list(self.term_readers))
        self.at_end = False
        self.current = 0
        self.next_doc = 0
        self._find_next_match()
        if self.has_next():
            self.current = self.next_doc
            self._find_next_match()

    def has_next(self) -> bool:
        return not self.at_end

    def move_next(self) -> None:
        if self.has_next():
            self.current = self.next_doc
            self._find_next_match()

    def current_doc_id(self) -> int:
        return self.current

    def seek_to_doc_id(self, target: int) -> None:
        # Destructive: consumes until current == target (TermQuote.cpp:52-55)
        while self.has_next() and self.current != target:
            self.move_next()

    def _positions_match(self) -> bool:
        raise NotImplementedError

    def _find_next_match(self) -> bool:
        # NB: the position check runs even when move_next just exhausted the
        # AND stream (as in TermQuote.cpp:57-78) — current_positions on a
        # stepped-off reader then raises IsrError, aborting the whole query.
        while self.stream.has_next():
            self.stream.move_next()
            if self._positions_match():
                self.next_doc = self.stream.current_doc_id()
                return True
        self.at_end = True
        return False


class TermQuoteISR(_QuotePhraseBase):
    """Exact adjacency: term i at base+i (TermQuote.cpp:57-78)."""

    def _positions_match(self) -> bool:
        base_positions = self.term_readers[0].current_positions()
        for x in base_positions:
            all_match = True
            for i in range(1, len(self.term_readers)):
                positions = self.term_readers[i].current_positions()
                j = bisect_left(positions, x + i)
                if j >= len(positions) or positions[j] != x + i:
                    all_match = False
                    break
            if all_match:
                return True
        return False


MAX_SPAN_SIZE = 5  # TermPhrase.cpp:12


class TermPhraseISR(_QuotePhraseBase):
    """Fuzzy in-order phrase within span <= 5 (TermPhrase.cpp:60-88)."""

    def _positions_match(self) -> bool:
        base_positions = self.term_readers[0].current_positions()
        for base_pos in base_positions:
            all_match = True
            last_pos = base_pos
            for i in range(1, len(self.term_readers)):
                positions = self.term_readers[i].current_positions()
                j = bisect_left(positions, last_pos)
                if j >= len(positions) or positions[j] - base_pos > MAX_SPAN_SIZE:
                    all_match = False
                    break
                last_pos = positions[j]
            if all_match and last_pos - base_pos <= MAX_SPAN_SIZE:
                return True
        return False
