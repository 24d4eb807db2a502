"""Block-max WAND top-k BM25 retrieval over encoded posting blocks.

The index stores, per (term, shard, salt) run, 128-doc blocks with
``first/last_doc_id`` and ``max_freq`` (codec.py) — the block-max metadata
the north_star calls for. This module implements the classic block-max WAND
loop (Broder et al. CIKM'03; Ding & Suel SIGIR'11 shape) over those blocks:

* blocks are decoded lazily — a block whose ``last_doc_id`` can't contain
  the pivot is skipped undecoded;
* the pivot test first uses per-term global upper bounds, then refines with
  the current blocks' ``max_freq`` bounds before paying for full scoring;
* scoring is the reference BM25 (ranking.bm25_score: k1=1.2, b=0.75,
  clamp 6 -> /6), summed over query terms, so results are provably
  identical to exhaustive evaluation (test_wand.py asserts equality).

This is the *pure-BM25* retrieval path (disjunctive top-k). The
rank-identity path (`engine.SearchEngine.top_k`) keeps the reference's
exhaustive dynamic-ranker semantics; WAND pruning must not change scores,
and for the dynamic linear model it would, so the two APIs stay separate.
"""

from __future__ import annotations

import heapq
import math
from bisect import bisect_left

import numpy as np

from ..codec import decode_posting_block
from ..ranking import BM25_K1, bm25_score


def _by_term(p_rows) -> dict[str, list[tuple]]:
    """The shard's P payload tuples (engine.PAYLOAD_COLS["P"] order)
    grouped by term, one (first_doc_id, last_doc_id, max_tfn, doc_count,
    doc_ids_enc, freqs_enc) per block, in payload order."""
    out: dict[str, list[tuple]] = {}
    for term, _salt, _bid, dc, fd, ld, _mf, mt, de, fe in p_rows:
        out.setdefault(term, []).append((fd, ld, mt, dc, de, fe))
    return out


def _body_lens(docmap, docs: np.ndarray) -> np.ndarray:
    """Body lengths of local ``docs`` in the shard's DocMapCols image, by
    one searchsorted in ``local_ids``; 0 for docids the image does not
    hold."""
    idx, found = docmap.gather(docs)
    return np.where(found, docmap.body_lens[idx], 0)


class _Cursor:
    """Lazy block cursor over one term's posting blocks (sorted by doc).

    Block metadata is held as columns sorted by first doc: ``last`` (each
    block's last docid), ``ubs`` (each block's score upper bound) and
    ``enc`` (the encoded (doc_ids, freqs) pairs, decoded on demand).

    ``dead`` (sorted local docids tombstoned by an append-mode merge,
    indexer.py) are filtered out at block decode: stale postings never
    reach the candidate walk, and the stored block bounds stay valid
    upper bounds (dropping docs can only lower the true maximum). ``df``
    may be overridden with the exact term_dict value — identical to the
    block sum on a tombstone-free index, and dead-corrected with one.
    ``tfn_scale`` multiplies the stored ``max_tfn`` bounds (blocks encoded
    before appends raised the shard's average body length, engine.py)."""

    __slots__ = ("term", "last", "ubs", "enc", "df", "block_idx", "docs",
                 "freqs", "body_lens", "off", "exhausted", "term_ub",
                 "doc_count", "avg_body", "blocks_decoded", "dead", "docmap")

    def __init__(self, term, blocks, docmap, doc_count, avg_body, df=None,
                 dead=None, tfn_scale=1.0):
        # blocks: this term's _by_term tuples (at least one)
        self.term = term
        self.docmap = docmap
        self.blocks_decoded = 0
        self.dead = dead if dead is not None and len(dead) else None
        _first, last, max_tfn, counts, doc_enc, freq_enc = zip(
            *sorted(blocks, key=lambda b: b[0]))
        self.last = np.array(last, dtype=np.int64)
        self.enc = list(zip(doc_enc, freq_enc))
        self.df = df if df is not None else sum(counts)
        self.doc_count = doc_count
        self.avg_body = avg_body
        self.block_idx = 0
        self.docs = None
        self.freqs = None
        self.body_lens = None
        self.off = 0
        self.exhausted = False
        self.ubs = self._block_ubs(
            np.array(max_tfn, dtype=np.float64) * tfn_scale)
        self.term_ub = float(self.ubs.max())
        self._load_block(0)

    def _block_ubs(self, tfn: np.ndarray) -> np.ndarray:
        # Negative idf (df > N/2) inverts monotonicity: the score is then
        # bounded above by 0 (approached as tf' -> 0), not by max tf.
        if 2 * self.df > self.doc_count or self.df == 0:
            return np.zeros(len(tfn))
        # Tight bound: the block stores max normalized tf (tf / norm(body)),
        # computed with real body lengths at build time, so this equals the
        # max achievable score in the block for positive idf.
        idf = math.log(
            (self.doc_count - self.df + 0.5) / (self.df + 0.5)
        )
        # identical float expression to ranking.bm25_score, elementwise, so
        # the bound can never fall a ulp below an actual score
        score = idf * (tfn * (BM25_K1 + 1)) / (tfn + BM25_K1)
        return np.minimum(score, 6.0) / 6.0

    def _load_block(self, idx: int) -> None:
        while idx < len(self.enc):
            d, f = decode_posting_block(*self.enc[idx])
            self.blocks_decoded += 1
            if self.dead is not None and len(d):
                keep = ~np.isin(d, self.dead, assume_unique=True)
                if not keep.all():
                    d, f = d[keep], f[keep]
            self.block_idx = idx
            self.docs = d
            self.freqs = f
            self.off = 0
            if len(d):
                self.body_lens = _body_lens(self.docmap, d)
                return
            idx += 1  # block fully tombstoned — skip to the next
        self.exhausted = True

    def current_doc(self) -> int:
        return int(self.docs[self.off])

    def current_block_ub(self) -> float:
        return self.ubs[self.block_idx]

    def seek(self, target: int) -> None:
        """Advance to the first doc >= target, skipping blocks undecoded."""
        if self.exhausted:
            return
        if self.current_doc() >= target:
            return
        if self.last[self.block_idx] < target:
            # first block that can hold target, over block metadata only
            idx = int(self.last.searchsorted(target))
            if idx >= len(self.enc):
                self.exhausted = True
                return
            self._load_block(idx)
            if self.exhausted:
                return
        i = bisect_left(self.docs, target, self.off)
        if i >= len(self.docs):
            # target falls in a gap right after this block
            if self.block_idx + 1 >= len(self.enc):
                self.exhausted = True
                return
            self._load_block(self.block_idx + 1)
            if self.exhausted:
                return
            i = bisect_left(self.docs, target)
            if i >= len(self.docs):
                self.exhausted = True
                return
        self.off = i

    def advance(self) -> None:
        self.off += 1
        if self.off >= len(self.docs):
            if self.block_idx + 1 >= len(self.enc):
                self.exhausted = True
            else:
                self._load_block(self.block_idx + 1)

    def score_current(self) -> float:
        return bm25_score(
            self.doc_count, self.avg_body, int(self.body_lens[self.off]),
            self.df, int(self.freqs[self.off]),
        )


def bm25_wand_topk(
    p_rows,
    docmap,
    doc_count: int,
    avg_body_length: float,
    k: int = 10,
    stats: dict | None = None,
    dfs: dict[str, int] | None = None,
    tombstones=None,
    tfn_scale: float = 1.0,
) -> list[tuple[int, float]]:
    """Disjunctive block-max WAND top-k over one shard; returns
    [(doc, score)] sorted (score desc, doc asc). Exact — identical to
    exhaustive evaluation.

    ``p_rows`` are the shard's posting-block payload tuples in
    engine.PAYLOAD_COLS["P"] order; ``docmap`` is the shard's DocMapCols
    image, whose ``local_ids``/``body_lens`` give each scored doc's body
    length (0 for a docid it does not hold). Pass ``stats`` (a dict) to
    receive the pruning counters: blocks_total / blocks_decoded /
    blocks_skipped / docs_scored. ``dfs`` (exact per-term document
    frequencies, e.g. term_dict rows) and ``tombstones`` (sorted dead local
    docids) make scoring exact over an append-merged index carrying stale
    postings; both are no-ops on a tombstone-free index. ``tfn_scale``
    multiplies the stored ``max_tfn`` block bounds.
    """
    if k <= 0:
        return []
    cursors = [
        _Cursor(t, blocks, docmap, doc_count, avg_body_length,
                df=None if dfs is None else dfs.get(t),
                dead=tombstones, tfn_scale=tfn_scale)
        for t, blocks in _by_term(p_rows).items()
    ]
    all_cursors = list(cursors)
    docs_scored = 0
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of size k

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.current_doc())
        # pivot: smallest prefix whose global UBs could beat the threshold
        acc = 0.0
        pivot_i = -1
        for i, c in enumerate(live):
            acc += c.term_ub
            # strict >: pivots ascend by docid, so an equal-score later doc
            # can never displace an earlier tie (score desc, doc asc order)
            if acc > threshold():
                pivot_i = i
                break
        if pivot_i == -1:
            break  # nothing can beat the current top-k
        pivot_doc = live[pivot_i].current_doc()

        if live[0].current_doc() == pivot_doc:
            # refine with block-max bounds before full scoring
            block_acc = 0.0
            for c in live[: pivot_i + 1]:
                c.seek(pivot_doc)
            live = [c for c in live if not c.exhausted]
            aligned = [c for c in live if not c.exhausted
                       and c.current_doc() == pivot_doc]
            if not aligned:
                continue
            for c in aligned:
                block_acc += c.current_block_ub()
            if block_acc > threshold():
                docs_scored += 1
                score = 0.0
                # canonical summation order (term name): float addition is
                # not associative, so every path — WAND, exhaustive, tests —
                # must add per-term scores in the same order for the
                # "provably identical" claim to hold bit-exactly
                for c in sorted(aligned, key=lambda c: c.term):
                    score += c.score_current()
                item = (score, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
            for c in aligned:
                c.advance()
        else:
            # advance all pre-pivot cursors to the pivot (block skipping)
            for c in live[:pivot_i]:
                c.seek(pivot_doc)

    if stats is not None:
        total = sum(len(c.enc) for c in all_cursors)
        decoded = sum(c.blocks_decoded for c in all_cursors)
        stats["blocks_total"] = stats.get("blocks_total", 0) + total
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + decoded
        stats["blocks_skipped"] = stats.get("blocks_skipped", 0) + (
            total - decoded
        )
        stats["docs_scored"] = stats.get("docs_scored", 0) + docs_scored

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    return [(d, s) for d, s in out]


def bm25_exhaustive_topk(
    p_rows,
    docmap,
    doc_count: int,
    avg_body_length: float,
    k: int = 10,
    dfs: dict[str, int] | None = None,
    tombstones=None,
) -> list[tuple[int, float]]:
    """Reference twin of ``bm25_wand_topk``: decode + score everything."""
    if k <= 0:
        return []
    dead = set() if tombstones is None else set(int(t) for t in tombstones)
    scores: dict[int, float] = {}
    # same canonical term order as bm25_wand_topk's aligned-scoring loop
    for term, blocks in sorted(_by_term(p_rows).items()):
        df = (dfs or {}).get(term)
        if df is None:
            df = sum(dc for _fd, _ld, _mt, dc, _de, _fe in blocks)
        for _fd, _ld, _mt, _dc, de, fe in blocks:
            docs, freqs = decode_posting_block(de, fe)
            for d, f, bl in zip(docs.tolist(), freqs.tolist(),
                                _body_lens(docmap, docs).tolist()):
                if d in dead:
                    continue
                scores[d] = scores.get(d, 0.0) + bm25_score(
                    doc_count, avg_body_length, bl, df, f
                )
    ordered = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
    return ordered[:k]
