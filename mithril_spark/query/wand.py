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
from ..ranking import BM25_B, BM25_K1, bm25_score


class _Cursor:
    """Lazy block cursor over one term's posting blocks (sorted by doc).

    ``dead`` (sorted local docids tombstoned by an append-mode merge,
    indexer.py) are filtered out at block decode: stale postings never
    reach the candidate walk, and the stored block bounds stay valid
    upper bounds (dropping docs can only lower the true maximum). ``df``
    may be overridden with the exact term_dict value — identical to the
    block sum on a tombstone-free index, and dead-corrected with one."""

    __slots__ = ("term", "blocks", "df", "block_idx", "docs", "freqs", "off",
                 "exhausted", "term_ub", "doc_count", "avg_body",
                 "blocks_decoded", "dead")

    def __init__(self, term, blocks, doc_count, avg_body, df=None, dead=None):
        # blocks: list of dicts with first/last/max_freq/doc_ids_enc/freqs_enc
        self.term = term
        self.blocks_decoded = 0
        self.dead = dead if dead is not None and len(dead) else None
        self.blocks = sorted(blocks, key=lambda b: b["first_doc_id"])
        self.df = df if df is not None else sum(
            b["doc_count"] for b in self.blocks)
        self.doc_count = doc_count
        self.avg_body = avg_body
        self.block_idx = 0
        self.docs = None
        self.freqs = None
        self.off = 0
        self.exhausted = not self.blocks
        self.term_ub = max(
            (self._block_ub(b) for b in self.blocks), default=0.0
        )
        if not self.exhausted:
            self._load_block(0)

    def _block_ub(self, block) -> float:
        # Negative idf (df > N/2) inverts monotonicity: the score is then
        # bounded above by 0 (approached as tf' -> 0), not by max tf.
        if 2 * self.df > self.doc_count:
            return 0.0
        if self.df == 0:
            return 0.0
        # Tight bound: the block stores max normalized tf (tf / norm(body)),
        # computed with real body lengths at build time, so this equals the
        # max achievable score in the block for positive idf.
        tfn = block["max_tfn"]
        idf = math.log(
            (self.doc_count - self.df + 0.5) / (self.df + 0.5)
        )
        # identical float expression to ranking.bm25_score so the bound can
        # never fall a ulp below an actual score
        score = idf * (tfn * (BM25_K1 + 1)) / (tfn + BM25_K1)
        return min(score, 6.0) / 6.0

    def _load_block(self, idx: int) -> None:
        while idx < len(self.blocks):
            blk = self.blocks[idx]
            d, f = decode_posting_block(blk["doc_ids_enc"], blk["freqs_enc"])
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
                return
            idx += 1  # block fully tombstoned — skip to the next
        self.exhausted = True

    def current_doc(self) -> int:
        return int(self.docs[self.off])

    def current_block_ub(self) -> float:
        return self._block_ub(self.blocks[self.block_idx])

    def seek(self, target: int) -> None:
        """Advance to the first doc >= target, skipping blocks undecoded."""
        if self.exhausted:
            return
        if self.current_doc() >= target:
            return
        idx = self.block_idx
        blocks = self.blocks
        if blocks[idx]["last_doc_id"] < target:
            # binary search over block metadata (no decode)
            lo, hi = idx + 1, len(blocks)
            while lo < hi:
                mid = (lo + hi) // 2
                if blocks[mid]["last_doc_id"] < target:
                    lo = mid + 1
                else:
                    hi = mid
            if lo >= len(blocks):
                self.exhausted = True
                return
            self._load_block(lo)
            if self.exhausted:
                return
        i = bisect_left(self.docs, target, self.off)
        if i >= len(self.docs):
            # target falls in a gap right after this block
            if self.block_idx + 1 >= len(self.blocks):
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
            if self.block_idx + 1 >= len(self.blocks):
                self.exhausted = True
            else:
                self._load_block(self.block_idx + 1)

    def score_current(self, body_len: int) -> float:
        return bm25_score(
            self.doc_count, self.avg_body, body_len,
            self.df, int(self.freqs[self.off]),
        )


def bm25_wand_topk(
    term_blocks: dict[str, list[dict]],
    body_lens: dict[int, int],
    doc_count: int,
    avg_body_length: float,
    k: int = 10,
    stats: dict | None = None,
    dfs: dict[str, int] | None = None,
    tombstones=None,
) -> list[tuple[int, float]]:
    """Disjunctive block-max WAND top-k; returns [(doc, score)] sorted
    (score desc, doc asc). Exact — identical to exhaustive evaluation.

    Pass ``stats`` (a dict) to receive the pruning counters:
    blocks_total / blocks_decoded / blocks_skipped / docs_scored.
    ``dfs`` (exact per-term document frequencies, e.g. term_dict rows) and
    ``tombstones`` (sorted dead local docids) make scoring exact over an
    append-merged index carrying stale postings; both are no-ops on a
    tombstone-free index.
    """
    if k <= 0:
        return []
    cursors = [
        _Cursor(t, blocks, doc_count, avg_body_length,
                df=None if dfs is None else dfs.get(t),
                dead=tombstones)
        for t, blocks in term_blocks.items()
        if blocks
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
                body_len = body_lens.get(pivot_doc, 0)
                docs_scored += 1
                score = 0.0
                # canonical summation order (term name): float addition is
                # not associative, so every path — WAND, exhaustive, tests —
                # must add per-term scores in the same order for the
                # "provably identical" claim to hold bit-exactly
                for c in sorted(aligned, key=lambda c: c.term):
                    score += c.score_current(body_len)
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
        total = sum(len(c.blocks) for c in all_cursors)
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
    term_blocks: dict[str, list[dict]],
    body_lens: dict[int, int],
    doc_count: int,
    avg_body_length: float,
    k: int = 10,
    dfs: dict[str, int] | None = None,
    tombstones=None,
) -> list[tuple[int, float]]:
    """Reference implementation: decode + score everything (for testing)."""
    if k <= 0:
        return []
    dead = set() if tombstones is None else set(int(t) for t in tombstones)
    scores: dict[int, float] = {}
    # same canonical term order as bm25_wand_topk's aligned-scoring loop
    for term, blocks in sorted(term_blocks.items()):
        df = (dfs or {}).get(term)
        if df is None:
            df = sum(b["doc_count"] for b in blocks)
        for blk in blocks:
            docs, freqs = decode_posting_block(
                blk["doc_ids_enc"], blk["freqs_enc"]
            )
            for d, f in zip(docs.tolist(), freqs.tolist()):
                if d in dead:
                    continue
                scores[d] = scores.get(d, 0.0) + bm25_score(
                    doc_count, avg_body_length, body_lens.get(d, 0), df, f
                )
    ordered = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
    return ordered[:k]
