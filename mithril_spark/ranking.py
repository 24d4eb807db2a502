"""Ranking: BM25, static URL rank, dynamic linear model — faithful transcription.

Reference semantics:
* BM25            /root/reference/ranking/src/BM25.cpp:36-99 (k1=1.2, b=0.75,
                  clamp 6.0, /6; tf = body position count, 0 -> 1; df=0 -> 0)
* static rank     /root/reference/ranking/src/StaticRanker.cpp:12-220 with
                  weights from ranking/config/staticranker.conf and the
                  whitelists in StaticRanker.h:105-208
* dynamic rank    /root/reference/ranking/src/DynamicRanker.cpp:74-136 with
                  weights from ranking/config/dynamicranker.conf
* feature build   /root/reference/ranking/src/Ranker.cpp:29-243
* query tokenify  /root/reference/ranking/src/Ranker.cpp:245-293, Ranker.h:12-31
* porn filter     /root/reference/ranking/src/Ranker.h:54-68

All float accumulation is done in numpy float32 exactly where the reference
uses ``float``, so engine and oracle produce bit-identical scores and the
(score desc, doc_id desc) top-k order is reproducible.
"""

from __future__ import annotations

import math
import re

import numpy as np

from .text.normalize import STOPWORDS

F32 = np.float32

# --- BM25 (BM25.h:26-28, BM25.cpp) ---
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_score(doc_count: int, avg_body_length: float, body_length: int,
               doc_freq: int, term_freq: int) -> float:
    """BM25::ScoreTermForDoc — double math, clamped to 6.0 then /6."""
    if term_freq == 0:
        term_freq = 1
    if doc_freq == 0:
        return 0.0
    idf = math.log((doc_count - doc_freq + 0.5) / (doc_freq + 0.5))
    norm = 1.0
    if avg_body_length > 0:
        norm = (1.0 - BM25_B) + BM25_B * (body_length / avg_body_length)
    tf_combined = 0.0
    if norm > 0:
        tf_combined = term_freq / norm
    score = idf * (tf_combined * (BM25_K1 + 1)) / (tf_combined + BM25_K1)
    score = min(score, 6.0)
    return score / 6.0


# --- static URL rank (staticranker.conf values) ---
BASE_SCORE = 1000
HTTPS_SCORE = 100
WHITELIST_TLD_SCORE = 200
WHITELIST_DOMAIN_SCORE = 500
DOMAIN_NAME_SCORE = 200
DOMAIN_LENGTH_ACCEPTABLE = 11
DOMAIN_PENALTY_PER_EXTRA_LENGTH = 50
URL_LENGTH_SCORE = 400
URL_LENGTH_ACCEPTABLE = 60
URL_PENALTY_PER_EXTRA_LENGTH = 50
NUMBER_PARAM_SCORE = 200
NUMBER_PARAM_ACCEPTABLE = 1
NUMBER_PARAM_PENALTY_PER_EXTRA_PARAM = 100
DEPTH_PAGE_SCORE = 400
DEPTH_PAGE_ACCEPTABLE = 2
DEPTH_PAGE_PENALTY = 75
EXTENSION_BOOST = 500
SUBDOMAIN_ACCEPTABLE = 2
SUBDOMAIN_PENALTY = 200
DOMAIN_NAME_NUMBER_PENALTY = 500
URL_NUMBER_PENALTY = 500

MAX_POSSIBLE_SCORE = float(
    BASE_SCORE + HTTPS_SCORE + WHITELIST_TLD_SCORE + WHITELIST_DOMAIN_SCORE
    + DOMAIN_NAME_SCORE + URL_LENGTH_SCORE + NUMBER_PARAM_SCORE
    + DEPTH_PAGE_SCORE + EXTENSION_BOOST
)
STATIC_MIN_SCORE = float(BASE_SCORE - 500)
STATIC_DIFF_SCORE = MAX_POSSIBLE_SCORE - STATIC_MIN_SCORE

GOOD_EXTENSIONS = frozenset(("asp", "html", "htm", "php", ""))

WHITELIST_TLD = frozenset(("com", "co", "org", "net", "edu", "gov", "int"))

# Whitelisted domains transcribed from StaticRanker.h:115-208 (data).
WHITELIST_DOMAIN = frozenset((
    "bbc.com", "nytimes.com", "theguardian.com", "reuters.com", "apnews.com",
    "aljazeera.com", "npr.org", "wsj.com", "washingtonpost.com",
    "bloomberg.com", "en.wikipedia.org", "wikipedia.org", "britannica.com",
    "khanacademy.org", "ted.com", "edx.org", "coursera.org",
    "scholar.google.com", "jstor.org", "arxiv.org", "pubmed.ncbi.nlm.nih.gov",
    "usa.gov", "gov.uk", "who.int", "cdc.gov", "nasa.gov", "nsa.gov",
    "data.gov", "europa.eu", "un.org", "worldbank.org", "nature.com",
    "sciencemag.org", "ieee.org", "techcrunch.com", "wired.com",
    "arstechnica.com", "mit.edu", "stackoverflow.com", "github.com",
    "nist.gov", "mayoclinic.org", "webmd.com", "nih.gov", "healthline.com",
    "medlineplus.gov", "clevelandclinic.org", "hopkinsmedicine.org",
    "psychologytoday.com", "forbes.com", "cnbc.com", "ft.com",
    "economist.com", "marketwatch.com", "fool.com", "sec.gov",
    "investopedia.com", "nationalgeographic.com", "smithsonianmag.com",
    "history.com", "time.com", "britishmuseum.org", "loc.gov", "tate.org.uk",
    "metmuseum.org", "imdb.com", "goodreads.com", "microsoft.com",
    "apple.com", "google.com", "mozilla.org", "linuxfoundation.org",
    "python.org", "developer.android.com", "aws.amazon.com", "docker.com",
    "git-scm.com",
))

_DIGITS = frozenset("0123456789")


def _get_string_rankings(url: str) -> dict:
    """GetStringRankings (StaticRanker.cpp:142-220) — one pass over the URL."""
    r = {
        "tld": "", "domain": "", "extension": "", "url_length": 0,
        "parameter_count": 0, "page_depth": 0, "subdomain_count": 0,
        "number_in_domain": False, "number_in_url": False, "is_https": False,
    }
    n = len(url)
    i = 0
    # protocol scan to ':' (reference assumes well-formed; guard at n)
    while i < n and url[i] != ":":
        if url[i] == "s":
            r["is_https"] = True
        i += 1
    i += 3  # skip '://'
    read_tld = False
    domain_chars = []
    while i < n and url[i] != "/":
        c = url[i]
        if read_tld:
            r["tld"] += c
        if c == ".":
            read_tld = True
            r["tld"] = ""
            r["subdomain_count"] += 1
        if c in _DIGITS:
            r["number_in_domain"] = True
        domain_chars.append(c)
        i += 1
    domain = "".join(domain_chars)
    if domain.startswith("www."):
        domain = domain[4:]
        r["subdomain_count"] -= 1
    r["domain"] = domain

    read_extension = False
    current_number_length = 0
    while i < n:
        c = url[i]
        if c == "?" or c == "&":
            r["parameter_count"] += 1
            read_extension = False
        elif c == "/":
            r["page_depth"] += 1
            r["extension"] = ""
            read_extension = False
        elif c == ".":
            r["extension"] = ""
            read_extension = True
        elif read_extension:
            r["extension"] += c
        if c in _DIGITS:
            current_number_length += 1
            if current_number_length > 4:
                r["number_in_url"] = True
        else:
            current_number_length = 0
        r["url_length"] += 1
        i += 1
    if n > 0 and url[n - 1] == "/":
        r["page_depth"] -= 1
    return r


def static_rank(url: str) -> float:
    """GetUrlStaticRank (StaticRanker.cpp:12-140), normalized double."""
    r = _get_string_rankings(url)
    score = BASE_SCORE
    if r["tld"] in WHITELIST_TLD:
        score += WHITELIST_TLD_SCORE
    domain_name_penalty = 0
    if r["domain"] in WHITELIST_DOMAIN:
        score += WHITELIST_DOMAIN_SCORE
    else:
        if r["subdomain_count"] > SUBDOMAIN_ACCEPTABLE:
            score -= SUBDOMAIN_PENALTY * (r["subdomain_count"] - SUBDOMAIN_ACCEPTABLE)
        if r["number_in_domain"]:
            score -= DOMAIN_NAME_NUMBER_PENALTY
        if len(r["domain"]) > DOMAIN_LENGTH_ACCEPTABLE:
            domain_name_penalty = DOMAIN_PENALTY_PER_EXTRA_LENGTH * (
                len(r["domain"]) - DOMAIN_LENGTH_ACCEPTABLE
            )
    score += DOMAIN_NAME_SCORE - min(domain_name_penalty, DOMAIN_NAME_SCORE)
    if r["extension"] in GOOD_EXTENSIONS:
        score += EXTENSION_BOOST
    url_penalty = 0
    if r["url_length"] > URL_LENGTH_ACCEPTABLE:
        url_penalty = URL_PENALTY_PER_EXTRA_LENGTH * (r["url_length"] - URL_LENGTH_ACCEPTABLE)
    score += URL_LENGTH_SCORE - min(url_penalty, URL_LENGTH_SCORE)
    num_param_penalty = 0
    if r["parameter_count"] > NUMBER_PARAM_ACCEPTABLE:
        num_param_penalty = NUMBER_PARAM_PENALTY_PER_EXTRA_PARAM * (
            r["parameter_count"] - NUMBER_PARAM_ACCEPTABLE
        )
    score += NUMBER_PARAM_SCORE - min(num_param_penalty, NUMBER_PARAM_SCORE)
    depth_penalty = 0
    if r["page_depth"] > DEPTH_PAGE_ACCEPTABLE:
        depth_penalty = DEPTH_PAGE_PENALTY * (r["page_depth"] - DEPTH_PAGE_ACCEPTABLE)
    score += DEPTH_PAGE_SCORE - min(depth_penalty, DEPTH_PAGE_SCORE)
    if r["is_https"]:
        score += HTTPS_SCORE
    if r["number_in_url"]:
        score -= URL_NUMBER_PENALTY
    return (float(score) - STATIC_MIN_SCORE) / STATIC_DIFF_SCORE


# --- dynamic rank (dynamicranker.conf weights) ---
W = {
    "query_in_title": 200.0, "query_in_url": 120.0,
    "query_in_description": 50.0, "query_in_body": 40.0,
    "coverage_percent_query_url": 70.0, "coverage_percent_query_title": 60.0,
    "coverage_percent_query_description": 50.0, "order_sensitive_title": 200.0,
    "density_percent_query_url": 60.0, "density_percent_query_title": 60.0,
    "density_percent_query_description": 0.0, "earliest_pos_title": 80.0,
    "earliest_pos_body": 65.0, "bm25": 250.0, "static_rank": 120.0,
    "pagerank": 0.0,
}
MIN_SCORE = F32(0.0)
MAX_SCORE = F32(sum(W.values()))  # 1425
SCORE_RANGE = MAX_SCORE - MIN_SCORE
_W32 = {k: F32(v) for k, v in W.items()}


def _effective_weights(pagerank_weight: float | None):
    """(weights, score_range) for a possibly-overridden pagerank weight.

    The shipped dynamicranker.conf weight is 0.0; a non-zero override
    mirrors what a conf change would do: the weight enters both the linear
    model and the normalization range (MIN stays 0)."""
    if not pagerank_weight:
        return _W32, SCORE_RANGE
    w32 = dict(_W32)
    w32["pagerank"] = F32(pagerank_weight)
    return w32, F32(SCORE_RANGE + F32(pagerank_weight))


def get_url_dynamic_rank(features: dict, pagerank_weight: float | None = None) -> int:
    """GetUrlDynamicRank (DynamicRanker.cpp:97-136) in float32."""
    w32, score_range = _effective_weights(pagerank_weight)
    score = F32(0.0)
    for key in (
        "bm25", "query_in_title", "query_in_url", "query_in_description",
        "query_in_body", "coverage_percent_query_title",
        "density_percent_query_title", "order_sensitive_title",
        "coverage_percent_query_url", "density_percent_query_url",
        "coverage_percent_query_description",
        "density_percent_query_description", "earliest_pos_title",
        "earliest_pos_body", "static_rank", "pagerank",
    ):
        score = score + w32[key] * F32(features[key])
    final = (F32(score - MIN_SCORE) / score_range) * F32(10000.0)
    # static_cast<uint32_t>(float) on the reference's x86-64 target:
    # cvttss2si to int64, truncated to 32 bits; NaN -> INT64_MIN -> 0.
    # Negative scores (negative BM25 idf) therefore wrap to huge uint32s,
    # and zero-ranking-token queries (NaN features) score 0.
    if math.isnan(final):
        return 0
    return int(final) & 0xFFFFFFFF


_ASCII_LOWER_STR = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def ordered_match_score(q_tokens: list[tuple[str, int]], t_tokens: list[str],
                        pre_lowered: bool = False) -> float:
    """OrderedMatchScore (DynamicRanker.cpp:74-95).

    Quirk preserved: the prefix test checks that the *query token* starts with
    the lowered title token (prefix=title-token, word=query-token). The
    lowering is ``str.translate`` of A-Z only (identical to the reference's
    per-char ::tolower) and the walk breaks once every query token matched —
    later title tokens cannot change q_idx, so the early exit is exact.
    Idempotent under pre-lowered titles (the engine's cached shard images
    store title words already ascii-lowered)."""
    q_len = len(q_tokens)
    if q_len == 0:
        return 0.0
    q_idx = 0
    for token in t_tokens:
        if q_idx >= q_len:
            break
        lowered = token if pre_lowered else token.translate(_ASCII_LOWER_STR)
        word = q_tokens[q_idx][0]
        if len(word) >= len(lowered) and word.startswith(lowered):
            q_idx += 1
    return float(q_idx) / float(q_len)


def ascii_lower(s: str) -> str:
    """C ``::tolower`` semantics: only A-Z are lowered."""
    return s.translate(_ASCII_LOWER_STR)


def count_word_occurrences(text: str, word: str) -> int:
    """CountWordOccurrences (Ranker.cpp:29-43) — lowercased substring count."""
    t = ascii_lower(text)
    w = ascii_lower(word)
    if not w:
        return 0
    count = 0
    pos = t.find(w)
    while pos != -1:
        count += 1
        pos = t.find(w, pos + len(w))
    return count


_PORN_RE = re.compile(
    rb"(?:p[0o]rn|\bs[e3]x\b|xxx|nsfw|nudes?|fetish|blow[-_]?job)", re.IGNORECASE
)


def contains_porn_keywords(value: bytes) -> bool:
    return _PORN_RE.search(value) is not None


def contains_porn_keywords_any(values: list[bytes]) -> bool:
    return any(contains_porn_keywords(v) for v in values)


def tokenify_query(query: str) -> tuple[list[tuple[str, int]], list[int], list[int]]:
    """TokenifyQuery (Ranker.cpp:245-293).

    Keeps [a-zA-Z] lowercased and digits 1-9 (not 0); splits on spaces; drops
    AND/OR/NOT (dead check: the comparison runs on the already-lowercased
    accumulator) and tokens strictly prefixed by title/url/anchor/desc;
    multiplicity is always 1. Returns (tokens, stopword_idx, nonstopword_idx).

    Moved-from quirk: for the FINAL token (no trailing space) the reference
    ``std::move``s the string into the token vector BEFORE the stopword
    check (Ranker.cpp:276-291), so the check reads a moved-from (empty)
    string — the last token of every query is ALWAYS classified
    non-stopword. Found by the end-to-end differential (tests/test_cpp_e2e
    .py); scores of stopword-final queries hinge on it (the 66% gate and
    the feature scan both read these index lists).
    """
    def is_valid(token: str) -> bool:
        if not token:
            return False
        if token in ("AND", "OR", "NOT"):
            return False
        for prefix in ("title", "url", "anchor", "desc"):
            if token.startswith(prefix) and token != prefix:
                return False
        return True

    tokens: list[tuple[str, int]] = []
    stopword_idx: list[int] = []
    nonstopword_idx: list[int] = []
    idx = -1
    current = ""
    for c in query:
        if c == " ":
            if is_valid(current):
                idx += 1
                if current.encode() in STOPWORDS:
                    stopword_idx.append(idx)
                else:
                    nonstopword_idx.append(idx)
                tokens.append((current, 1))
            current = ""
            continue
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            current += c.lower()
        elif "1" <= c <= "9":
            current += c
    if current and is_valid(current):
        tokens.append((current, 1))
        idx += 1
        # moved-from quirk (docstring): the reference checks the emptied
        # string here, and "" is never a stopword
        nonstopword_idx.append(idx)
    return tokens, stopword_idx, nonstopword_idx


def final_score(
    tokens: list[tuple[str, int]],
    stopword_idx: list[int],
    nonstopword_idx: list[int],
    *,
    url: str,
    title_words: list[str],
    title_size: int,
    body_len: int,
    doc_count: int,
    avg_body_length: float,
    doc_freqs: dict[str, int],
    body_positions: dict[str, list[int]],
    in_description: dict[str, bool],
    pagerank: float = 0.0,
    static_rank_value: float,
    pagerank_weight: float | None = None,
) -> int:
    """GetFinalScore (Ranker.cpp:66-243) transcription.

    ``body_positions[tok]`` is the stored body-position list of the
    *undecorated* token for this doc (empty/missing = not in body);
    ``in_description[tok]`` is whether ``%tok`` has positions for this doc.
    Stopword tokens are only scored when >=66% of non-stopwords matched.
    """
    title_concat = ascii_lower("".join(title_words))

    is_in_url = True
    is_in_title = True
    is_in_description = True
    is_in_body = True

    total_terms_size = F32(len(tokens))
    words_in_url = F32(0.0)
    words_in_title = F32(0.0)
    words_in_desc = F32(0.0)
    words_in_body = F32(0.0)
    earliest_pos_title = F32(0.0)
    earliest_pos_body = F32(0.0)
    density_url = F32(0.0)
    density_title = F32(0.0)
    density_description = F32(0.0)
    weighted_bm25 = F32(0.0)
    nonstopword_found = 0

    q_size = F32(len(tokens))
    scan_lists = [nonstopword_idx]
    li = 0
    while li < len(scan_lists):
        for idx in scan_lists[li]:
            found = False
            term, multiplicity = tokens[idx]
            positions = body_positions.get(term) or []
            term_in_description = in_description.get(term, False)
            term_in_body = len(positions) > 0
            term_in_url = term in url
            pos = title_concat.find(term)
            term_in_title = pos != -1

            mult_frac = F32(multiplicity) / q_size

            if not term_in_url:
                is_in_url = False
            else:
                words_in_url += F32(1.0)
                url_occurrences = min(
                    count_word_occurrences(url, term) * len(term), len(url)
                )
                density_url = density_url + (F32(url_occurrences) / F32(len(url))) * mult_frac
                if not found:
                    found = True
                    nonstopword_found += 1

            if not term_in_title:
                is_in_title = False
            else:
                words_in_title += F32(1.0)
                earliest_pos_title = earliest_pos_title + (
                    F32(1.0) / F32(pos + 1)
                ) * mult_frac
                title_occurrences = min(
                    count_word_occurrences(title_concat, term), title_size
                )
                density_title = density_title + (
                    F32(title_occurrences) / F32(title_size)
                ) * mult_frac
                if not found:
                    found = True
                    nonstopword_found += 1

            if not term_in_description:
                is_in_description = False
            else:
                words_in_desc += F32(1.0)
                if not found:
                    found = True
                    nonstopword_found += 1

            if not term_in_body:
                is_in_body = False
            else:
                words_in_body += F32(1.0)
                earliest_pos_body = earliest_pos_body + (
                    F32(1.0) / F32(positions[0] + 1)
                ) * mult_frac

            weighted_bm25 = weighted_bm25 + F32(
                bm25_score(
                    doc_count, avg_body_length, body_len,
                    doc_freqs.get(term, 0), len(positions),
                )
            ) * mult_frac

        if (
            li == 0
            and len(nonstopword_idx) > 0
            and (float(nonstopword_found) / float(len(nonstopword_idx))) >= 0.66
        ):
            scan_lists.append(stopword_idx)
        li += 1

    ordered_title_score = F32(
        math.sqrt(ordered_match_score(tokens, title_words))
    )

    # 0/0 -> NaN is intended here (C++ float semantics; NaN final scores
    # truncate to 0 in get_url_dynamic_rank) — don't warn about it.
    _err = np.seterr(invalid="ignore", divide="ignore")
    features = {
        "query_in_url": 1.0 if is_in_url else 0.0,
        "query_in_title": 1.0 if is_in_title else 0.0,
        "query_in_description": 1.0 if is_in_description else 0.0,
        "query_in_body": 1.0 if is_in_body else 0.0,
        "coverage_percent_query_url": words_in_url / total_terms_size,
        "coverage_percent_query_title": words_in_title / total_terms_size,
        "coverage_percent_query_description": words_in_desc / total_terms_size,
        "order_sensitive_title": ordered_title_score,
        "density_percent_query_url": density_url,
        "density_percent_query_title": density_title,
        "density_percent_query_description": density_description,
        "earliest_pos_title": earliest_pos_title,
        "earliest_pos_body": earliest_pos_body,
        "bm25": weighted_bm25,
        "static_rank": F32(static_rank_value),
        "pagerank": F32(pagerank),
    }
    np.seterr(**_err)
    return get_url_dynamic_rank(features, pagerank_weight)


# --- vectorized batch scoring (engine hot path) ---
#
# final_score_batch is the numpy-vectorized twin of final_score: one array
# op per (token, feature) instead of one Python call per match. Exactness
# contract: every float32 operation is performed in the SAME order and at
# the SAME precision as the scalar path (per-token sequential accumulation
# over the match axis), so scores are bit-identical — asserted by the
# property tests in tests/test_ranking_vec.py. The scalar path remains the
# readable reference / oracle.

_RANK_KEY_ORDER = (
    "bm25", "query_in_title", "query_in_url", "query_in_description",
    "query_in_body", "coverage_percent_query_title",
    "density_percent_query_title", "order_sensitive_title",
    "coverage_percent_query_url", "density_percent_query_url",
    "coverage_percent_query_description",
    "density_percent_query_description", "earliest_pos_title",
    "earliest_pos_body", "static_rank", "pagerank",
)


def final_score_batch(
    tokens: list[tuple[str, int]],
    stopword_idx: list[int],
    nonstopword_idx: list[int],
    *,
    urls: list[str],
    urls_low: list[str],
    url_str_lens,
    title_concats: list[str],
    title_words_list: list[list[str]],
    title_sizes,
    body_lens,
    doc_count: int,
    avg_body_length: float,
    doc_freqs: dict[str, int],
    tf_by_term: dict[str, "np.ndarray"],
    first_pos_by_term: dict[str, "np.ndarray"],
    in_desc_by_term: dict[str, "np.ndarray"],
    static_ranks,
    pageranks,
    pagerank_weight: float | None = None,
) -> "np.ndarray":
    """GetFinalScore over a batch of matched docs; returns uint32 scores.

    ``tf_by_term[t]`` / ``first_pos_by_term[t]`` are the body position count
    and first position per doc (0 where absent / no pointer — matching the
    scalar path's empty-positions convention); ``in_desc_by_term[t]`` is the
    %t presence bool. Missing term keys mean "no position pointer" (all 0 /
    False), mirroring SetupPositionIndexPointers. ``urls_low``,
    ``url_str_lens``, ``title_concats`` and ``title_words_list`` are the
    doc-map image's doc-only precomputes (query/isr.py DocMapCols): the
    title words and their concat arrive already ascii-lowered.
    """
    n = len(urls)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    f32 = np.float32
    zeros32 = lambda: np.zeros(n, dtype=np.float32)
    _zero_i = np.zeros(n, dtype=np.int64)
    _false = np.zeros(n, dtype=bool)

    url_raw = np.asarray(urls, dtype=np.str_)
    # urls_low is only read SPARSELY (density counts at matching rows), so
    # it stays a python list — no UCS4 array materialization
    title_low = np.asarray(title_concats, dtype=np.str_)
    len_url = np.asarray(url_str_lens, dtype=np.int64)
    title_sizes = np.asarray(title_sizes, dtype=np.int64)
    body_lens = np.asarray(body_lens, dtype=np.int64)

    is_in_url = np.ones(n, dtype=bool)
    is_in_title = np.ones(n, dtype=bool)
    is_in_description = np.ones(n, dtype=bool)
    is_in_body = np.ones(n, dtype=bool)
    words_in_url = zeros32()
    words_in_title = zeros32()
    words_in_desc = zeros32()
    earliest_pos_title = zeros32()
    earliest_pos_body = zeros32()
    density_url = zeros32()
    density_title = zeros32()
    density_description = zeros32()
    weighted_bm25 = zeros32()
    nonstopword_found = np.zeros(n, dtype=np.int64)

    q_size = F32(len(tokens))

    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):

        def scan(idx_list, gate):
            nonlocal is_in_url, is_in_title, is_in_description, is_in_body
            nonlocal words_in_url, words_in_title, words_in_desc
            nonlocal earliest_pos_title, earliest_pos_body
            nonlocal density_url, density_title, weighted_bm25
            nonlocal nonstopword_found
            for idx in idx_list:
                term, multiplicity = tokens[idx]
                mult_frac = F32(multiplicity) / q_size

                tf = tf_by_term.get(term)
                tf = _zero_i if tf is None else tf
                first = first_pos_by_term.get(term)
                first = _zero_i if first is None else first
                in_desc = in_desc_by_term.get(term)
                in_desc = _false if in_desc is None else in_desc
                in_body = tf > 0
                in_url = np.char.find(url_raw, term) >= 0
                pos_t = np.char.find(title_low, term)
                in_title = pos_t >= 0

                act = gate if gate is not None else None
                m_url = in_url if act is None else (in_url & act)
                m_title = in_title if act is None else (in_title & act)
                m_desc = in_desc if act is None else (in_desc & act)
                m_body = in_body if act is None else (in_body & act)
                # the AND flags only see tokens that were actually scanned
                off = ~act if act is not None else False
                is_in_url &= in_url | off
                is_in_title &= in_title | off
                is_in_description &= in_desc | off
                is_in_body &= in_body | off

                words_in_url = np.where(
                    m_url, words_in_url + f32(1.0), words_in_url
                )
                # density contributions are masked by m_url/m_title, so the
                # substring COUNTS only matter at matching rows — computed
                # sparsely with str.count (identical to np.char.count)
                # instead of a full _vec_string pass over the batch
                url_occ = np.zeros(n, dtype=np.int64)
                nz = np.flatnonzero(m_url)
                for i in nz.tolist():
                    url_occ[i] = urls_low[i].count(term)
                url_occ = np.minimum(url_occ * len(term), len_url)
                du = (url_occ.astype(f32) / len_url.astype(f32)) * mult_frac
                density_url = np.where(m_url, density_url + du, density_url)

                words_in_title = np.where(
                    m_title, words_in_title + f32(1.0), words_in_title
                )
                et = (f32(1.0) / (pos_t + 1).astype(f32)) * mult_frac
                earliest_pos_title = np.where(
                    m_title, earliest_pos_title + et, earliest_pos_title
                )
                title_occ = np.zeros(n, dtype=np.int64)
                nz = np.flatnonzero(m_title)
                for i in nz.tolist():
                    title_occ[i] = title_concats[i].count(term)
                title_occ = np.minimum(title_occ, title_sizes)
                dt = (title_occ.astype(f32) / title_sizes.astype(f32)) * mult_frac
                density_title = np.where(
                    m_title, density_title + dt, density_title
                )

                words_in_desc = np.where(
                    m_desc, words_in_desc + f32(1.0), words_in_desc
                )

                eb = (f32(1.0) / (first + 1).astype(f32)) * mult_frac
                earliest_pos_body = np.where(
                    m_body, earliest_pos_body + eb, earliest_pos_body
                )

                df = doc_freqs.get(term, 0)
                if df == 0:
                    bm = np.zeros(n, dtype=np.float64)
                else:
                    tf1 = np.where(tf == 0, 1, tf)
                    idf = math.log((doc_count - df + 0.5) / (df + 0.5))
                    if avg_body_length > 0:
                        norm = (1.0 - BM25_B) + BM25_B * (
                            body_lens / avg_body_length
                        )
                    else:
                        norm = np.ones(n, dtype=np.float64)
                    tfc = np.where(norm > 0, tf1 / norm, 0.0)
                    bm = idf * (tfc * (BM25_K1 + 1)) / (tfc + BM25_K1)
                    bm = np.minimum(bm, 6.0) / 6.0
                wb = bm.astype(f32) * mult_frac
                weighted_bm25 = (
                    weighted_bm25 + wb if act is None
                    else np.where(act, weighted_bm25 + wb, weighted_bm25)
                )

                if gate is None:
                    nonstopword_found += (in_url | in_title | in_desc)

        scan(nonstopword_idx, None)
        if len(nonstopword_idx) > 0:
            gate = (
                nonstopword_found.astype(np.float64) / float(len(nonstopword_idx))
            ) >= 0.66
            scan(stopword_idx, gate)

        ordered = np.fromiter(
            (math.sqrt(ordered_match_score(tokens, tw, pre_lowered=True))
             for tw in title_words_list),
            dtype=np.float32, count=n,
        )

        total = q_size
        features = {
            "query_in_url": is_in_url.astype(f32),
            "query_in_title": is_in_title.astype(f32),
            "query_in_description": is_in_description.astype(f32),
            "query_in_body": is_in_body.astype(f32),
            "coverage_percent_query_url": words_in_url / total,
            "coverage_percent_query_title": words_in_title / total,
            "coverage_percent_query_description": words_in_desc / total,
            "order_sensitive_title": ordered,
            "density_percent_query_url": density_url,
            "density_percent_query_title": density_title,
            "density_percent_query_description": density_description,
            "earliest_pos_title": earliest_pos_title,
            "earliest_pos_body": earliest_pos_body,
            "bm25": weighted_bm25,
            "static_rank": np.asarray(static_ranks, np.float64).astype(f32),
            "pagerank": np.asarray(pageranks, np.float64).astype(f32),
        }
        w32, score_range = _effective_weights(pagerank_weight)
        score = zeros32()
        for key in _RANK_KEY_ORDER:
            score = score + w32[key] * features[key]
        final = ((score - MIN_SCORE) / score_range) * f32(10000.0)

        out = np.zeros(n, dtype=np.uint64)
        valid = ~np.isnan(final)
        # static_cast<uint32_t>(float): cvttss2si truncation to int64 then
        # low 32 bits (same wrap as the scalar path's int(final)&0xFFFFFFFF)
        iv = np.trunc(final[valid].astype(np.float64)).astype(np.int64)
        out[valid] = (iv & np.int64(0xFFFFFFFF)).astype(np.uint64)
    return out
