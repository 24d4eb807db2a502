"""Per-shard query evaluation + ranking + top-k, faithful to the reference.

Reference semantics: /root/reference/query/src/Query.h (ISR lowering with
identity propagation), QueryEngine.h:46-73 (drive loop + catch-all ->
empty), QueryManager.cpp:44-114 (top-k + sorted-list merge), :249-358
(position pointers + HandleRanking incl. early-exit heuristics),
ISRFactory.cpp:19-30 (term -> ISR normalization).

This is the sequential per-shard core: the Spark engine executes it in the
driver (RESIDENT tier) or inside ``mapInPandas`` (DIRECT tier, one task row
per shard), and the oracle executes it directly.
The soft-timeout stop flag of the reference is intentionally not modelled
(it is wall-clock-dependent and therefore non-deterministic); everything
else — including the 30k/25k/100k short-circuit heuristics — is transcribed.
"""

from __future__ import annotations

import numpy as np

from ..ranking import (
    contains_porn_keywords,
    contains_porn_keywords_any,
    final_score,
    final_score_batch,
    tokenify_query,
)
from ..text.normalize import ALL, ANCHOR, DESC, STOPWORDS, TITLE, URL, normalize
from . import grammar as g
from .vecisr import _isin_sorted
from .isr import (
    ISR,
    GenericTermISR,
    IdentityISR,
    IsrError,
    NotISR,
    ShardIndex,
    TermANDISR,
    TermORISR,
    TermPhraseISR,
    TermQuoteISR,
    TermReaderISR,
)

# QueryManager.cpp:15-34
RESULTS_REQUIRED_TO_SHORTCIRCUIT = 30000
SCORE_FOR_SHORTCIRCUIT_REQUIRED = 5500
RESULTS_COLLECTED_AFTER_SHORTCIRCUIT = 100
MINIMUM_QUOTA_FOR_RESULTS_CHECK = 25000
REQUIRED_RESULTS_SCORE = 5000
REQUIRED_RESULTS_QTY = 10
RESULTS_HARD_CAP = 100000
TOP_K = 50  # QueryManager.h:62

_FIELD_OF_TOKEN = {
    g.WORD: ALL,
    g.TITLE: TITLE,
    g.URL: URL,
    g.ANCHOR: ANCHOR,
    g.DESC: DESC,
}


def create_term_isr(value: str, field: int, shard: ShardIndex) -> ISR:
    """TermReaderFactory::CreateISR (ISRFactory.cpp:19-30)."""
    raw = value.encode("utf-8")
    normalized = normalize(raw, field)
    if not normalized or raw in STOPWORDS:
        return IdentityISR()
    term = normalized.decode("latin-1")
    if field == ALL:
        return GenericTermISR(term, shard)
    return TermReaderISR(term, shard)


def generate_isr(node: g.Node, shard: ShardIndex) -> ISR:
    """Query-tree -> ISR lowering with identity propagation (Query.h)."""
    if isinstance(node, g.TermNode):
        return create_term_isr(node.value, _FIELD_OF_TOKEN.get(node.token_type, ALL), shard)
    if isinstance(node, (g.AndNode, g.OrNode)):
        left = generate_isr(node.left, shard)
        right = generate_isr(node.right, shard)
        if left.is_identity() and right.is_identity():
            return IdentityISR()
        if left.is_identity():
            return right
        if right.is_identity():
            return left
        cls = TermANDISR if isinstance(node, g.AndNode) else TermORISR
        return cls([left, right])
    if isinstance(node, g.NotNode):
        return NotISR(generate_isr(node.expr, shard),
                      shard.docid_space or shard.doc_count)
    if isinstance(node, g.QuoteNode):
        terms = g.extract_quote_terms(node.value)
        return TermQuoteISR(terms, shard)
    if isinstance(node, g.PhraseNode):
        terms = g.extract_quote_terms(node.value)
        return TermPhraseISR(terms, shard)
    raise ValueError(f"unknown node {node!r}")


def evaluate_query_scalar(query: str, shard: ShardIndex) -> list[int]:
    """QueryEngine::EvaluateQuery — the literal per-doc ISR walk.

    Kept as the property-test oracle for the vectorized walk
    (tests/test_vec_match.py); ``evaluate_query`` is the engine default."""
    try:
        tree = g.parse_query(query)
        isr = generate_isr(tree, shard)
        results: list[int] = []
        while isr.has_next():
            results.append(isr.current_doc_id())
            isr.move_next()
        return results
    except (g.ParseException, IsrError):
        return []


def evaluate_query(query: str, shard: ShardIndex):
    """QueryEngine::EvaluateQuery — ascending docids; any error -> [].

    Engine default: trees whose cursor walk provably equals set algebra
    (vecisr.vec_eligible — no NotISR reachable by a backward seek, no
    quote/phrase node in a seekable position) are evaluated with
    whole-array numpy set operations (query/vecisr.py — the
    zipper/galloping kernels of the reference's query/src/intersect.cpp;
    quote/phrase adjacency is batched over flattened position arrays with
    the abort/one-behind quirks replayed). Everything else keeps the
    literal scalar walk with all its positional/stateful quirks. Returns a
    sorted int64 array on the vectorized path, a list on the scalar path."""
    from .vecisr import VecFallback, match_docs, vec_eligible

    try:
        tree = g.parse_query(query)
    except g.ParseException:
        return []
    if vec_eligible(tree):
        try:
            arr = match_docs(tree, shard, _FIELD_OF_TOKEN)
            return [] if arr is None else arr
        except IsrError:
            return []
        except VecFallback:
            pass  # phantom-match corner: the scalar walk is the spec
    try:
        isr = generate_isr(tree, shard)
        results: list[int] = []
        while isr.has_next():
            results.append(isr.current_doc_id())
            isr.move_next()
        return results
    except IsrError:
        return []


def top_k_elements_fast(
    results: list[tuple], k: int = TOP_K
) -> list[tuple]:
    """TopKElementsFast: (score desc, doc_id desc) partial sort (QueryManager.cpp:44-65).

    heapq.nsmallest is O(n log k) vs the full sort's O(n log n) — the
    reference uses std::partial_sort for the same reason, and a broad
    match can rank up to RESULTS_HARD_CAP=100k tuples per shard. Output
    is identical to sorting: (score, doc_id) keys are unique within a
    shard, so the comparator is a total order."""
    import heapq

    return heapq.nsmallest(k, results, key=lambda t: (-t[1], -t[0]))


def top_k_from_sorted_lists(
    sorted_lists: list[list[tuple]], k: int = TOP_K
) -> list[tuple]:
    """K-way head merge across shard lists in shard order (QueryManager.cpp:67-114).

    Elements compare by (score desc, t[0] desc); exact ties keep the
    earlier list (the reference replaces only on strict comparator wins).
    NB: the reference compares worker-LOCAL docids — callers must pass
    local ids in t[0] and globalize afterwards (merge_shard_topk)."""
    if len(sorted_lists) == 1:
        return sorted_lists[0]
    idx = [0] * len(sorted_lists)
    out: list[tuple] = []
    for _ in range(k):
        best = None
        best_j = -1
        for j, lst in enumerate(sorted_lists):
            if idx[j] >= len(lst):
                continue
            el = lst[idx[j]]
            if best is None or (-el[1], -el[0]) < (-best[1], -best[0]):
                best = el
                best_j = j
        if best is None:
            break
        out.append(best)
        idx[best_j] += 1
    return out


def merge_shard_topk(
    per_shard: list[list[tuple]], bases: list[int], k: int = TOP_K
) -> list[tuple]:
    """Coordinator merge over per-shard top-50s, globalizing docids AFTER
    the merge: the reference's TopKFromSortedLists comparator reads the
    tuples' worker-LOCAL docids (QueryManager.cpp:72-77), so cross-shard
    score ties order by local id desc (then first-worker-wins) — found by
    the multi-worker end-to-end differential (tests/test_cpp_e2e.py);
    merging on globalized ids reordered those ties."""
    tagged = [
        [(*t, base) for t in lst]
        for lst, base in zip(per_shard, bases)
    ]
    merged = top_k_from_sorted_lists(tagged, k)
    return [(t[0] + t[-1], *t[1:-1]) for t in merged]


def handle_ranking_scalar(
    query: str, shard: ShardIndex, matches: list[int]
) -> list[tuple[int, int, bytes, list[bytes]]]:
    """QueryManager::HandleRanking (QueryManager.cpp:274-358) — scalar.

    One Python ``final_score`` call per match: the readable reference
    implementation. The engine default is ``handle_ranking`` (vectorized,
    bit-identical — property-tested against this path); this one stays as
    the oracle for those tests.

    ``matches`` are ascending shard-local docids. Returns the shard's top-50
    as (doc_id, score, url, title_words) ordered by (score desc, doc desc).
    """
    matches = _drop_tombstoned(shard, matches)
    if len(matches) == 0:
        return []

    tokens, stopword_idx, nonstopword_idx = tokenify_query(query)

    # GetDocumentFrequencies (Ranker.cpp:46-64): df of the raw token.
    doc_freqs = {term: shard.doc_freq(term) for term, _ in tokens}

    # SetupPositionIndexPointers (QueryManager.cpp:249-270): pointers exist
    # only for non-stopword tokens whose (term / %term) is in the position
    # dictionary of this shard.
    body_ptr: set[str] = set()
    desc_ptr: set[str] = set()
    for term, _ in tokens:
        if term.encode() in STOPWORDS:
            continue
        if term in shard.positions:
            body_ptr.add(term)
        desc_term = "%" + term
        if desc_term in shard.positions:
            desc_ptr.add(desc_term)

    ranked: list[tuple[int, int, bytes, list[bytes]]] = []
    short_circuit = len(matches) > RESULTS_REQUIRED_TO_SHORTCIRCUIT
    results_collected_above_min = 0
    ranked_documents = 0
    ranked_documents_above_min = 0

    for match in matches:
        meta = shard.get_meta(match)
        if meta is None:
            ranked.append((match, 0, b"", []))
            continue
        if contains_porn_keywords_any(meta.title) or contains_porn_keywords(meta.url):
            continue

        body_positions = {
            term: (shard.get_positions(term, match) if term in body_ptr else [])
            for term, _ in tokens
        }
        in_description = {
            term: (("%" + term) in desc_ptr and shard.has_positions("%" + term, match))
            for term, _ in tokens
        }
        url_str = meta.url.decode("latin-1")
        title_strs = [t.decode("latin-1") for t in meta.title]
        score = final_score(
            tokens,
            stopword_idx,
            nonstopword_idx,
            url=url_str,
            title_words=title_strs,
            title_size=len(meta.title),
            body_len=meta.body_len,
            doc_count=shard.doc_count,
            avg_body_length=shard.avg_body_length,
            doc_freqs=doc_freqs,
            body_positions=body_positions,
            in_description=in_description,
            pagerank=meta.pagerank,
            static_rank_value=meta.static_rank,
            pagerank_weight=shard.pagerank_weight,
        )
        ranked.append((match, score, meta.url, meta.title))

        if short_circuit and score >= SCORE_FOR_SHORTCIRCUIT_REQUIRED:
            results_collected_above_min += 1
            if results_collected_above_min >= RESULTS_COLLECTED_AFTER_SHORTCIRCUIT:
                break

        ranked_documents += 1
        if score >= REQUIRED_RESULTS_SCORE:
            ranked_documents_above_min += 1
        if ranked_documents >= MINIMUM_QUOTA_FOR_RESULTS_CHECK:
            if ranked_documents_above_min < REQUIRED_RESULTS_QTY:
                break
        if ranked_documents >= RESULTS_HARD_CAP:
            break

    return top_k_elements_fast(ranked)


def _drop_tombstoned(shard: ShardIndex, matches):
    """Filter append-merge tombstones out of a match list before ranking.

    A NOT complement over the holey docid space of an append-merged index
    yields dead local ids (their postings are already decode-filtered, but
    the complement universe [0, docid_space) still contains the holes);
    without this gate they would reach ``handle_ranking``'s
    missing-doc-map branch and surface as phantom (docid, 0, b"", [])
    rows whenever a shard has fewer than k positive-scoring live matches
    (ADVICE r04). Identity on clean indexes: ``tombstones`` is None there.
    """
    if shard.tombstones is None or len(matches) == 0:
        return matches
    marr = np.asarray(matches, dtype=np.int64)
    return marr[~np.isin(marr, shard.tombstones, assume_unique=True)]


RANK_CHUNK = 16384  # vectorized scoring batch; breaks replay chunk-exactly


def _sorted_member(docs_np: np.ndarray, m_arr: np.ndarray) -> np.ndarray:
    """Membership of each m in the sorted docid array (one searchsorted).

    Shared kernel with the vectorized match walk — a fix to the
    searchsorted-membership idiom must land once, not in per-module
    copies (code-review r5)."""
    return _isin_sorted(m_arr, docs_np)


def _lookup_tf_first(docs_np, lens, firsts, m_arr):
    """(tf, first_position) per m from one term's position lists (0 absent)."""
    n = len(m_arr)
    if len(docs_np) == 0:
        z = np.zeros(n, dtype=np.int64)
        return z, z
    idx = np.searchsorted(docs_np, m_arr)
    idxc = np.minimum(idx, len(docs_np) - 1)
    found = (idx < len(docs_np)) & (docs_np[idxc] == m_arr)
    return np.where(found, lens[idxc], 0), np.where(found, firsts[idxc], 0)


def handle_ranking(
    query: str, shard: ShardIndex, matches: list[int]
) -> list[tuple[int, int, bytes, list[bytes]]]:
    """QueryManager::HandleRanking — vectorized engine default.

    Scores matches in RANK_CHUNK numpy batches via final_score_batch
    (bit-identical float32 semantics to handle_ranking_scalar, which the
    reference budget of 250 ms/shard, QueryManager.cpp:34, rules out in
    per-row Python), then replays the reference's short-circuit counters
    over the score sequence in match order — chunking cannot change the
    output because the counters only ever stop the scan earlier.
    """
    matches = _drop_tombstoned(shard, matches)
    if len(matches) == 0:
        return []

    tokens, stopword_idx, nonstopword_idx = tokenify_query(query)
    doc_freqs = {term: shard.doc_freq(term) for term, _ in tokens}

    # SetupPositionIndexPointers (QueryManager.cpp:249-270)
    pos_arrays: dict[str, tuple] = {}
    desc_arrays: dict[str, np.ndarray] = {}
    for term, _ in tokens:
        if term.encode() in STOPWORDS:
            continue
        entry = shard.positions.get(term)
        if entry is not None and term not in pos_arrays:
            docs, _flags, plists = entry
            k = len(plists)
            pos_arrays[term] = (
                np.asarray(docs, dtype=np.int64),
                np.fromiter((len(p) for p in plists), np.int64, k),
                np.fromiter((p[0] if len(p) else 0 for p in plists),
                            np.int64, k),
            )
        dentry = shard.positions.get("%" + term)
        if dentry is not None and term not in desc_arrays:
            desc_arrays[term] = np.asarray(dentry[0], dtype=np.int64)

    short_circuit = len(matches) > RESULTS_REQUIRED_TO_SHORTCIRCUIT
    results_collected_above_min = 0
    ranked_documents = 0
    ranked_documents_above_min = 0
    ranked: list[tuple[int, int, bytes, list[bytes]]] = []
    stop = False

    cols = shard.doc_cols
    pmask = cols.porn_mask
    for start in range(0, len(matches), RANK_CHUNK):
        chunk = matches[start:start + RANK_CHUNK]
        # entries in scan order; payload = (url_bytes, title_list) or None
        # (missing doc). Porn-filtered docs are dropped entirely. One
        # searchsorted resolves the whole chunk, numeric columns gather by
        # row index, and the image's doc-only precomputes (porn mask,
        # decoded/lowered strings — DocMapCols) skip the per-match
        # regex/decode/lower work entirely
        entries: list[tuple[int, object]] = []
        c_arr = np.asarray(chunk, dtype=np.int64)
        ridx, found = cols.gather(c_arr)
        sel_rows: list[int] = []
        m_list: list[int] = []
        for m, ok, i in zip(c_arr.tolist(), found.tolist(), ridx.tolist()):
            if not ok:
                entries.append((m, None))
                continue
            if pmask[i]:
                continue
            entries.append((m, (cols.urls[i], cols.titles[i])))
            sel_rows.append(i)
            m_list.append(m)

        scores = None
        if sel_rows:
            rows = np.asarray(sel_rows, dtype=np.int64)
            m_arr = np.asarray(m_list, dtype=np.int64)
            tf_by_term: dict[str, np.ndarray] = {}
            first_by_term: dict[str, np.ndarray] = {}
            in_desc_by_term: dict[str, np.ndarray] = {}
            for term, _ in tokens:
                pa = pos_arrays.get(term)
                if pa is not None and term not in tf_by_term:
                    tf, fp = _lookup_tf_first(*pa, m_arr)
                    tf_by_term[term] = tf
                    first_by_term[term] = fp
                da = desc_arrays.get(term)
                if da is not None and term not in in_desc_by_term:
                    in_desc_by_term[term] = _sorted_member(da, m_arr)
            # pre-lowered title words: ordered_match_score's lowering is
            # idempotent, and the concat equals ascii_lower(concat)
            scores = final_score_batch(
                tokens, stopword_idx, nonstopword_idx,
                urls=[cols.urls_dec[i] for i in sel_rows],
                urls_low=[cols.urls_low[i] for i in sel_rows],
                url_str_lens=cols.url_str_lens[rows],
                title_concats=[cols.title_concat_low[i] for i in sel_rows],
                title_words_list=[cols.titles_low[i] for i in sel_rows],
                title_sizes=cols.title_counts[rows],
                body_lens=cols.body_lens[rows],
                doc_count=shard.doc_count,
                avg_body_length=shard.avg_body_length,
                doc_freqs=doc_freqs, tf_by_term=tf_by_term,
                first_pos_by_term=first_by_term,
                in_desc_by_term=in_desc_by_term,
                static_ranks=cols.static_ranks[rows],
                pageranks=cols.pageranks[rows],
                pagerank_weight=shard.pagerank_weight,
            )

        # replay the reference loop's counters over the score sequence
        j = 0
        for m, payload in entries:
            if payload is None:
                ranked.append((m, 0, b"", []))
                continue
            score = int(scores[j])
            j += 1
            ranked.append((m, score, payload[0], payload[1]))

            if short_circuit and score >= SCORE_FOR_SHORTCIRCUIT_REQUIRED:
                results_collected_above_min += 1
                if results_collected_above_min >= RESULTS_COLLECTED_AFTER_SHORTCIRCUIT:
                    stop = True
                    break
            ranked_documents += 1
            if score >= REQUIRED_RESULTS_SCORE:
                ranked_documents_above_min += 1
            if ranked_documents >= MINIMUM_QUOTA_FOR_RESULTS_CHECK:
                if ranked_documents_above_min < REQUIRED_RESULTS_QTY:
                    stop = True
                    break
            if ranked_documents >= RESULTS_HARD_CAP:
                stop = True
                break
        if stop:
            break

    return top_k_elements_fast(ranked)


def answer_query_on_shards(
    query: str, shards: list[ShardIndex]
) -> list[tuple[int, int, bytes, list[bytes]]]:
    """QueryManager::AnswerQuery + coordinator merge over ordered shards.

    Returns merged top-50 of (global_doc_id, score, url, title_words).
    """
    per_shard: list[list[tuple[int, int, bytes, list[bytes]]]] = []
    for shard in shards:
        matches = evaluate_query(query, shard)
        per_shard.append(handle_ranking(query, shard, matches))
    return merge_shard_topk(
        per_shard, [shard.base_doc_id for shard in shards]
    )
