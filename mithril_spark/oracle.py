"""Pure-Python reference oracle: builds in-memory shards and answers queries.

This is the golden implementation the Spark engine is differential-tested
against (SURVEY.md §5). It shares the byte-level text pipeline
(``mithril_spark.text``) and the per-shard ISR/ranking core
(``mithril_spark.query``) with the engine, but performs indexing directly in
memory with no Spark involved, transcribing the reference build lifecycle
(/root/reference/index/src/InvertedIndex.cpp:215-307, 604-660).

Deterministic docid policy (shared with the Spark indexer): admitted pages
are sorted by ``url`` bytes and assigned dense ids 0..N-1; shards are
contiguous docid ranges of size ceil(N / num_shards). The reference assigns
ids in crawl order (crawler/src/Worker.cpp:208-215); with a table input the
url sort is the deterministic, cluster-size-independent equivalent.
"""

from __future__ import annotations

from .query.isr import DocMapCols, DocMeta, ShardIndex
from .query.shard import answer_query_on_shards, evaluate_query
from .ranking import static_rank
from .text.docproc import DocTerms, process_page


def extract_text(url: bytes, html: bytes) -> bytes | None:
    """Byte-identical extracted text for one page; None if not admitted."""
    doc = process_page(url, html)
    return None if doc is None else doc.text


class OracleIndex:
    """In-memory index over a page corpus, optionally split into shards."""

    def __init__(self, shards: list[ShardIndex], docs: list[DocTerms]):
        self.shards = shards
        self.docs = docs  # index = global doc_id

    @classmethod
    def build(
        cls, pages: list[tuple[bytes, bytes]], num_shards: int = 1,
        pagerank: bool = False, pagerank_weight: float = 0.0,
        sort_key=None, shard_size: int | None = None,
    ) -> "OracleIndex":
        """``sort_key``/``shard_size`` replicate non-canonical docid
        layouts — e.g. an append-mode merged index (indexer.py), whose
        delta docs rank AFTER the base corpus while ``shard_size`` stays
        the base build's: ``sort_key=lambda url: (url in delta, url)``,
        ``shard_size=<base's>``. Defaults give the canonical dense
        url-rank layout."""
        admitted: list[DocTerms] = []
        for url, html in pages:
            doc = process_page(url, html)
            if doc is not None:
                admitted.append(doc)
        admitted.sort(key=(lambda d: sort_key(d.url)) if sort_key
                      else (lambda d: d.url))
        # PRECONDITION: unique urls. The Spark build dedupes re-crawled
        # urls upstream (indexer.dedupe_pages, latest warc_ts); the oracle
        # has no warc_ts on its (url, html) tuples, so a duplicate here
        # would silently inflate df/stats and shift every later docid —
        # fail loud instead of certifying a divergent layout
        # (code-review r5).
        for a, b in zip(admitted, admitted[1:]):
            if a.url == b.url and sort_key is None:
                raise ValueError(
                    f"duplicate url in oracle corpus: {a.url!r} — dedupe "
                    "re-crawls before OracleIndex.build (the Spark build "
                    "does this via dedupe_pages)"
                )

        pr_by_url: dict[bytes, float] = {}
        if pagerank:
            # same fixed-point power iteration + standardization the Spark
            # build uses (mithril_spark/pagerank.py) — bit-identical
            import numpy as np

            from .pagerank import pagerank_fixed_numpy, standardize_numpy

            edges = [
                (d.url, target) for d in admitted for target in d.forward_links
            ]
            node_set = {d.url for d in admitted}
            node_set.update(t for _s, t in edges)
            nodes = sorted(node_set)
            ranks = pagerank_fixed_numpy(edges, nodes)
            std = standardize_numpy(np.array([ranks[u] for u in nodes]))
            # doc_map stores float32 (reference writes float32 binary)
            pr_by_url = {
                u: float(np.float32(v)) for u, v in zip(nodes, std)
            }

        n = len(admitted)
        if shard_size is None:
            shard_size = -(-n // num_shards) if n else 1
        else:
            num_shards = max(num_shards, -(-n // shard_size) if n else 1)
        shards: list[ShardIndex] = []
        for s in range(num_shards):
            base = s * shard_size
            count = max(0, min(shard_size, n - base))
            shards.append(ShardIndex(doc_count=count, base_doc_id=base,
                                     pagerank_weight=pagerank_weight))

        for doc_id, doc in enumerate(admitted):
            s = doc_id // shard_size
            shard = shards[s]
            local = doc_id - shard.base_doc_id
            shard.doc_map[local] = DocMeta(
                doc_id=local,
                url=doc.url,
                title=doc.title_words,
                body_len=doc.body_len,
                title_len=doc.title_len,
                url_len=doc.url_len,
                desc_len=doc.desc_len,
                pagerank=pr_by_url.get(doc.url, 0.0),
                static_rank=static_rank(doc.url.decode("latin-1")),
            )
            shard.total_body_length += doc.body_len
            shard.total_title_length += doc.title_len
            shard.total_url_length += doc.url_len
            shard.total_desc_length += doc.desc_len
            for term_b, freq in doc.term_freqs.items():
                term = term_b.decode("latin-1")
                entry = shard.postings.get(term)
                if entry is None:
                    entry = ([], [])
                    shard.postings[term] = entry
                entry[0].append(local)
                entry[1].append(freq)
            for term_b, (flags, flat) in doc.term_positions.items():
                term = term_b.decode("latin-1")
                pentry = shard.positions.get(term)
                if pentry is None:
                    pentry = ([], [], [])
                    shard.positions[term] = pentry
                pentry[0].append(local)
                pentry[1].append(flags)
                pentry[2].append(flat)
        for shard in shards:
            shard.doc_cols = DocMapCols.from_metas(shard.doc_map)
        return cls(shards, admitted)

    # --- query API (single-shard parity + multi-shard coordinator) ---

    def matches(self, query: str) -> list[int]:
        """Global ascending docids matched across shards (diagnostic)."""
        out: list[int] = []
        for shard in self.shards:
            out.extend(
                int(d) + shard.base_doc_id for d in evaluate_query(query, shard)
            )
        return out

    def top_k(self, query: str) -> list[tuple[int, int, bytes, list[bytes]]]:
        """Merged top-50 of (global_doc_id, score, url, title_words)."""
        return answer_query_on_shards(query, self.shards)

    def top_k_with_snippets(
        self, query: str
    ) -> list[tuple[int, int, bytes, list[bytes], str]]:
        """top_k + snippets — the in-memory twin of
        ``SearchEngine.top_k_with_snippets`` (same snippets.py machinery,
        same positions-first preference order; Snippets.h:183-217)."""
        from .ranking import tokenify_query
        from .snippets import combined_text, generate_snippet

        results = self.top_k(query)
        docs_by_url = {d.url: d for d in self.docs}
        tokens, _si, _ni = tokenify_query(query)
        qterms = [t for t, _m in tokens]
        out = []
        for doc_id, score, url, title in results:
            doc = docs_by_url.get(url)
            if doc is None:
                out.append((doc_id, score, url, title, "No preview available"))
                continue
            shard = next(
                s for s in self.shards
                if s.base_doc_id <= doc_id < s.base_doc_id + s.doc_count
            )
            local = int(doc_id) - shard.base_doc_id
            positions = {}
            for term, _m in tokens:
                p = shard.get_positions(term, local)
                if len(p):
                    positions[term] = [int(x) for x in p]
            text = combined_text(
                [t.decode("latin-1") for t in doc.title_words],
                b" ".join(doc.desc_words).decode("latin-1"),
                doc.text.decode("latin-1"),
            )
            out.append((
                doc_id, score, url, title,
                generate_snippet(text, qterms, positions=positions),
            ))
        return out
