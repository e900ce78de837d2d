"""Text analysis: NFD → simple-tokenize → 1..n-grams → filter → hash → tf.

Semantics contract (what we must compute, from the reference):
* tokenizer regex ``([\\p{L}\\p{N}\\p{M}]+)|([^\\p{Z}\\p{C}])`` with
  IGNORECASE|UNICODE|MULTILINE —
  /root/reference/src/word2doc/tokenizers/simple_tokenizer.py:19-30
* NFD normalization at every boundary —
  /root/reference/src/word2doc/retriever/utils.py:106-108
* n-grams of all lengths 1..n over lowercased tokens, a gram dropped if ANY
  of its tokens is all-punctuation or a stopword —
  /root/reference/src/word2doc/tokenizers/tokenizer.py:79-104,
  /root/reference/src/word2doc/retriever/utils.py:111-138
* gram string = tokens joined by a single space; term_id =
  murmur3_32(gram, positive) % hash_size —
  /root/reference/src/word2doc/retriever/utils.py:75-77
* per-doc tf = Counter over term_ids (hash collisions merge tfs) —
  /root/reference/src/word2doc/retriever/build_tfidf.py:59-76

Implementation is ours: single-pass keep-flags per token (equivalent to the
reference's per-gram re-filtering because filter mode is 'any'), an
executor-lifetime token-verdict cache, and batch-vectorized hashing.
"""

from __future__ import annotations

import unicodedata
from collections import Counter

import numpy as np
import regex

from word2doc_spark.functions.hashing import TermHashCache
from word2doc_spark.functions.stopwords import STOPWORDS

TOKEN_PATTERN = r"([\p{L}\p{N}\p{M}]+)|([^\p{Z}\p{C}])"
_TOKEN_RE = regex.compile(
    TOKEN_PATTERN, flags=regex.IGNORECASE + regex.UNICODE + regex.MULTILINE
)
_PUNCT_RE = regex.compile(r"^\p{P}+$")

# --- PTB-style regexp tokenizer (C4, the reference's optional second
# analyzer — /root/reference/src/word2doc/tokenizers/regexp_tokenizer.py:
# 21-100). Same 16 named alternates and quote/dash/ellipsis substitutions;
# only tokenization is reproduced (annotators are out of scope).
_RE_DIGIT = r"\p{Nd}+([:\.\,]\p{Nd}+)*"
_RE_TITLE = (r"(dr|esq|hon|jr|mr|mrs|ms|prof|rev|sr|st|rt|messrs|mmes|msgr)"
             r"\.(?=\p{Z})")
_RE_ABBRV = r"([\p{L}]\.){2,}(?=\p{Z}|$)"
_RE_ALPHA_NUM = r"[\p{L}\p{N}\p{M}]++"
_RE_HYPHEN = r"{A}([-֊‐‑]{A})+".format(A=_RE_ALPHA_NUM)
_RE_NEGATION = r"((?!n't)[\p{L}\p{N}\p{M}])++(?=n't)|n't"
_RE_CONTRACTION1 = r"can(?=not\b)"
_RE_CONTRACTION2 = r"'([tsdm]|re|ll|ve)\b"
# normalize to the same surface tokens as the reference
# (regexp_tokenizer.py:29-33) so Windows-1252 mojibake quote/dash bytes
# the \u0091-\u0097 C1 controls match the reference classes exactly
_RE_START_DQUOTE = r'(?<=[\p{Z}\(\[{<]|^)(``|["\u0093“«])(?!\p{Z})'
_RE_START_SQUOTE = r"(?<=[\p{Z}\(\[{<]|^)['\u0091‘‛‹](?!\p{Z})"
_RE_END_DQUOTE = r'(?<!\p{Z})(\'\'|["\u0094”»])'
_RE_END_SQUOTE = r"(?<!\p{Z})['\u0092’›]"
_RE_DASH = r"--|[\u0096\u0097–—―]"
_RE_ELLIPSES = r"\.\.\.|…"
_RE_PUNCT = r"\p{P}"
_RE_NON_WS = r"[^\p{Z}\p{C}]"

_REGEXP_RE = regex.compile(
    "(?P<digit>%s)|(?P<title>%s)|(?P<abbr>%s)|(?P<neg>%s)|(?P<hyph>%s)|"
    "(?P<contr1>%s)|(?P<alphanum>%s)|(?P<contr2>%s)|(?P<sdquote>%s)|"
    "(?P<edquote>%s)|(?P<ssquote>%s)|(?P<esquote>%s)|(?P<dash>%s)|"
    "(?P<ellipses>%s)|(?P<punct>%s)|(?P<nonws>%s)" %
    (_RE_DIGIT, _RE_TITLE, _RE_ABBRV, _RE_NEGATION, _RE_HYPHEN,
     _RE_CONTRACTION1, _RE_ALPHA_NUM, _RE_CONTRACTION2, _RE_START_DQUOTE,
     _RE_END_DQUOTE, _RE_START_SQUOTE, _RE_END_SQUOTE, _RE_DASH,
     _RE_ELLIPSES, _RE_PUNCT, _RE_NON_WS),
    flags=regex.IGNORECASE + regex.UNICODE + regex.MULTILINE,
)

_REGEXP_SUBS = (("sdquote", "``"), ("edquote", "''"), ("ssquote", "`"),
                ("esquote", "'"), ("dash", "--"), ("ellipses", "..."))


def nfd(text: str) -> str:
    return unicodedata.normalize("NFD", text)


def simple_tokenize(text: str) -> list[str]:
    """Token surface forms, in order (case preserved)."""
    return [m.group() for m in _TOKEN_RE.finditer(text)]


def regexp_tokenize(text: str) -> list[str]:
    """PTB-style token surface forms with the reference's quote/dash/
    ellipsis substitutions applied (regexp_tokenizer.py:71-84)."""
    out = []
    for m in _REGEXP_RE.finditer(text):
        token = m.group()
        groups = m.groupdict()
        for name, repl in _REGEXP_SUBS:
            if groups[name]:
                token = repl
                break
        out.append(token)
    return out


def _simple_words(text: str) -> list[str]:
    return [m.group().lower() for m in _TOKEN_RE.finditer(nfd(text))]


def _regexp_words(text: str) -> list[str]:
    return [t.lower() for t in regexp_tokenize(nfd(text))]


# I2 analyzer registry — the reference's tokenizer registry
# (/root/reference/src/word2doc/tokenizers/__init__.py:31-40); corenlp and
# spacy variants are out of scope (external services / not default).
TOKENIZERS = {
    "simple": _simple_words,
    "regexp": _regexp_words,
}


def is_filtered_word(word: str) -> bool:
    """True if the (lowercased) token is punctuation-only or a stopword."""
    w = unicodedata.normalize("NFD", word)
    if _PUNCT_RE.match(w):
        return True
    return w.lower() in STOPWORDS


class Analyzer:
    """Reusable text→(term_ids, tfs) analyzer with executor-lifetime caches.

    Instantiate once per executor (lazily inside a pandas UDF closure) and
    call :meth:`analyze_batch` per Arrow batch.

    Hot-path design: every word gets a dense int id on first sight; kept
    unigram term_ids live in a numpy table indexed by word id, and bigram
    term_ids in an int-keyed dict ``wid_a * CAP + wid_b`` — so on cache
    hits no gram string is ever built and no string is hashed. Web text is
    Zipfian: after warm-up the per-token cost is one dict probe. (The
    original string-keyed path caused allocator/memory-bandwidth pressure
    that capped multi-core scaling of the analysis stage.)
    """

    _WID_CAP = 1 << 24  # dense word-id space bound for bigram int keys

    def __init__(self, ngram: int = 2, hash_size: int = 2 ** 24,
                 tokenizer: str = "simple"):
        if ngram not in (1, 2):
            raise ValueError("only ngram in {1,2} supported (reference default is 2)")
        if tokenizer not in TOKENIZERS:
            raise ValueError(
                f"unknown tokenizer {tokenizer!r}; registered: "
                f"{sorted(TOKENIZERS)}")
        self.ngram = ngram
        self.hash_size = hash_size
        self.tokenizer = tokenizer
        self._words = TOKENIZERS[tokenizer]
        self._hash_cache = TermHashCache(hash_size)
        self._word_verdict: dict[str, bool] = {}  # lowercased word -> filtered?
        # word string -> dense wid; wid -> (kept?, unigram term_id)
        self._wid: dict[str, int] = {}
        self._wid_strings: list[str] = []
        self._wid_kept = np.empty(1024, dtype=bool)
        self._wid_term = np.empty(1024, dtype=np.int64)
        self._bigram_term: dict[int, int] = {}

    # -- gram extraction ----------------------------------------------------
    def grams(self, text: str) -> list[str]:
        """Kept (unfiltered) 1..n-gram strings for one document, in order."""
        verdict = self._word_verdict
        words = self._words(text)
        kept = np.empty(len(words), dtype=bool)
        for i, w in enumerate(words):
            v = verdict.get(w)
            if v is None:
                v = is_filtered_word(w)
                if len(verdict) < 1_000_000:
                    verdict[w] = v
            kept[i] = not v
        out = [w for w, k in zip(words, kept) if k]
        if self.ngram >= 2 and len(words) > 1:
            both = kept[:-1] & kept[1:]
            # interleave order does not matter (bag-of-grams); appending
            # bigrams after unigrams keeps this a two-pass vector op
            out.extend(
                f"{words[i]} {words[i + 1]}" for i in np.flatnonzero(both)
            )
        return out

    # -- per-doc term counting ---------------------------------------------
    def analyze(self, text: str) -> tuple[np.ndarray, np.ndarray]:
        """One document → (sorted unique term_ids int64, tfs int32)."""
        terms, tfs = self.analyze_batch([text or ""])
        return terms[0], tfs[0]

    def _maybe_reset(self) -> None:
        """Bound executor memory: flush caches together when the word table
        is full (bigram keys embed word ids — they must never outlive the
        word table). Zipfian text re-warms the head vocabulary instantly.
        Caps are sized for ~32 reused python workers per host: the caches
        are process-lifetime (shared_analyzer), so per-worker bytes times
        worker count must stay well under executor memory."""
        if len(self._wid) > 1_000_000 or len(self._bigram_term) > 1_500_000:
            self._wid = {}
            self._wid_strings = []
            self._wid_kept = np.empty(1024, dtype=bool)
            self._wid_term = np.empty(1024, dtype=np.int64)
            self._bigram_term = {}

    # -- wid table management -------------------------------------------
    def _grow(self, n: int) -> None:
        while self._wid_kept.size < n:
            self._wid_kept = np.concatenate(
                (self._wid_kept, np.empty(self._wid_kept.size, dtype=bool)))
            self._wid_term = np.concatenate(
                (self._wid_term, np.empty(self._wid_term.size, dtype=np.int64)))

    def _intern_words(self, words: list[str]) -> np.ndarray:
        """words → wid array; registers new words (verdict computed, term_id
        hashed lazily in one vectorized call per batch of new words)."""
        wid_map = self._wid
        out = np.empty(len(words), dtype=np.int64)
        new_words: list[str] = []
        new_idx: list[int] = []
        for i, w in enumerate(words):
            v = wid_map.get(w, -1)
            if v < 0:
                new_words.append(w)
                new_idx.append(i)
            else:
                out[i] = v
        if new_words:
            # dedupe within the miss list, preserve first occurrence
            start = len(self._wid_strings)
            fresh: list[str] = []
            for w in new_words:
                if w not in wid_map:
                    wid_map[w] = start + len(fresh)
                    fresh.append(w)
            self._wid_strings.extend(fresh)
            self._grow(len(self._wid_strings))
            if fresh:
                ids = self._hash_cache.lookup(fresh)
                for j, w in enumerate(fresh):
                    wid = start + j
                    self._wid_kept[wid] = not is_filtered_word(w)
                    self._wid_term[wid] = ids[j]
            for i in new_idx:
                out[i] = wid_map[words[i]]
        return out

    def _doc_term_ids(self, words: list[str]) -> np.ndarray:
        """One document's words → int64 array of kept gram term_ids
        (unigrams then bigrams; bag order is irrelevant downstream)."""
        if not words:
            return np.empty(0, dtype=np.int64)
        wids = self._intern_words(words)
        kept = self._wid_kept[wids]
        parts = [self._wid_term[wids[kept]]]
        if self.ngram >= 2 and len(words) > 1:
            both = kept[:-1] & kept[1:]
            if both.any():
                a = wids[:-1][both]
                b = wids[1:][both]
                keys = a * self._WID_CAP + b
                bt = self._bigram_term
                terms = np.empty(keys.size, dtype=np.int64)
                miss_pos: list[int] = []
                klist = keys.tolist()
                for i, kk in enumerate(klist):
                    t = bt.get(kk, -1)
                    if t < 0:
                        miss_pos.append(i)
                    else:
                        terms[i] = t
                if miss_pos:
                    strs = self._wid_strings
                    miss_grams = [f"{strs[a[i]]} {strs[b[i]]}" for i in miss_pos]
                    ids = self._hash_cache.lookup(miss_grams)
                    for j, i in enumerate(miss_pos):
                        t = int(ids[j])
                        terms[i] = t
                        if len(bt) < 1_500_000:
                            bt[klist[i]] = t
                parts.append(terms)
        return np.concatenate(parts) if len(parts) > 1 else parts[0]

    def analyze_batch(
        self, texts: "list[str]"
    ) -> tuple[list[np.ndarray], list[np.ndarray]]:
        """Batch form over one Arrow batch. Per-doc term counting via
        np.unique over int64 gram ids; strings only on cache misses."""
        self._maybe_reset()
        term_lists: list[np.ndarray] = []
        tf_lists: list[np.ndarray] = []
        words_of = self._words
        for t in texts:
            if not t:
                term_lists.append(np.empty(0, dtype=np.int64))
                tf_lists.append(np.empty(0, dtype=np.int32))
                continue
            words = words_of(t)
            ids = self._doc_term_ids(words)
            if ids.size == 0:
                term_lists.append(np.empty(0, dtype=np.int64))
                tf_lists.append(np.empty(0, dtype=np.int32))
            else:
                uniq, counts = np.unique(ids, return_counts=True)
                term_lists.append(uniq)
                tf_lists.append(counts.astype(np.int32))
        return term_lists, tf_lists


_ANALYZER_CACHE: dict = {}


def shared_analyzer(ngram: int = 2, hash_size: int = 2 ** 24,
                    tokenizer: str = "simple") -> Analyzer:
    """Process-lifetime Analyzer singleton. Spark reuses python workers
    across tasks (spark.python.worker.reuse=true), so the word/gram caches
    warm once per executor PROCESS instead of once per partition — at high
    partition counts a fresh per-partition analyzer re-interns the whole
    hot vocabulary every task, which caps the analysis stage's scaling."""
    key = (ngram, hash_size, tokenizer)
    a = _ANALYZER_CACHE.get(key)
    if a is None:
        if len(_ANALYZER_CACHE) >= 4:   # bound worker memory across configs
            _ANALYZER_CACHE.clear()
        a = _ANALYZER_CACHE[key] = Analyzer(ngram=ngram, hash_size=hash_size,
                                            tokenizer=tokenizer)
    return a
