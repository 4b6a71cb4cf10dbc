"""Seeded input generator for the workload benchmark.

Everything the benchmark feeds the engine comes from here, drawn from one
``numpy.random.Generator`` seeded by ``--seed``: the same seed gives
byte-identical inputs. Pure Python + numpy; no Spark.

Corpus shape (the properties the engine's behaviour depends on):

- four languages (en, de, fr, es), each with its own Zipf-distributed
  content vocabulary plus its stopwords, so ``LangId`` and the Gopher
  stopword rule see mixed-language text;
- log-normal document lengths with a long tail, so ``GeneratePassages``
  splits most documents into several windows;
- planted content: exact duplicates (~5%), near-duplicates with a few word
  edits (~10%), mojibake or zero-width characters (~3%), and short
  low-quality documents (~3%) that the quality gate drops.

``measured_shares`` reports what was actually planted, so every run can
print it next to its metrics.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

import numpy as np

LANGS = ("en", "de", "fr", "es")
STOPWORDS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "and", "is", "of", "to", "in", "it"),
    "es": ("el", "la", "los", "que", "es", "un", "una", "por"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
}
ALL_STOPWORDS = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))
SYLLABLES = {
    "en": ("ba", "ter", "on", "ing", "ly", "st", "ro", "mi", "ck", "ou", "an", "er"),
    "de": ("ge", "sch", "en", "ung", "ich", "ber", "au", "ei", "st", "ra", "ke", "lo"),
    "fr": ("eau", "qu", "on", "ier", "ai", "re", "ou", "ette", "ch", "ma", "lu", "te"),
    "es": ("ar", "os", "ci", "on", "ad", "ero", "ue", "ll", "ta", "mi", "ez", "so"),
}
SOURCES = ("web0", "web1", "web2", "web3")
# mojibake forms of accented letters (UTF-8 bytes misread as cp1252) and
# zero-width characters: the artifacts FixEncoding repairs
MOJIBAKE = tuple(c.encode("utf-8").decode("cp1252") for c in "éèáóúäöüñç")
ZERO_WIDTH = ("\u200b", "\u200c", "\u200d", "\ufeff")

VOCAB_SIZE = 3000
ZIPF_S = 1.1
STOPWORD_RATE = 0.4
LEN_MEDIAN = 110
LEN_SIGMA = 0.75
LEN_MIN, LEN_MAX = 30, 1500
SENTENCE_LEN = 12

EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.10
NEAR_DUP_EDIT_RATE = 0.04
ARTIFACT_RATE = 0.03
LOW_QUALITY_RATE = 0.03


@dataclass
class Doc:
    doc_id: int
    lang: str
    source: str
    words: list
    text: str
    kind: str = "original"  # original | exact_dup | near_dup | artifact | low_quality
    of: int = -1  # source doc of a planted duplicate


@dataclass
class Corpus:
    docs: list
    near_dup_pairs: list = field(default_factory=list)  # (original_id, copy_id)


class Generator:
    """One seeded stream of documents, queries and increments."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.zipf_p = p / p.sum()
        self.vocab = {lang: self._make_vocab(lang) for lang in LANGS}
        self.next_id = 0

    def _make_vocab(self, lang: str) -> list:
        syl = SYLLABLES[lang]
        words = sorted(
            {
                "".join(c)
                for n in (2, 3, 4)
                for c in itertools.product(syl, repeat=n)
                if 5 <= len("".join(c)) <= 8
            }
            - set(STOPWORDS[lang])
        )
        picked = [words[int(i)] for i in self.rng.permutation(len(words))[:VOCAB_SIZE]]
        # frequent words are short, as in natural text
        return sorted(picked, key=len)

    def _words(self, lang: str, n: int) -> list:
        content = self.rng.choice(VOCAB_SIZE, size=n, p=self.zipf_p)
        stop = self.rng.random(n) < STOPWORD_RATE
        sw = STOPWORDS[lang]
        pick = self.rng.integers(0, len(sw), n)
        vocab = self.vocab[lang]
        return [sw[int(pick[i])] if stop[i] else vocab[int(content[i])] for i in range(n)]

    @staticmethod
    def render(words: list) -> str:
        sentences = []
        for i in range(0, len(words), SENTENCE_LEN):
            s = words[i : i + SENTENCE_LEN]
            sentences.append(" ".join([s[0].capitalize(), *s[1:]]) + ".")
        return " ".join(sentences)

    def _new_id(self) -> int:
        self.next_id += 1
        return self.next_id - 1

    def _length(self) -> int:
        n = self.rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA)
        return int(min(max(n, LEN_MIN), LEN_MAX))

    def _original(self, kind: str = "original") -> Doc:
        lang = LANGS[int(self.rng.integers(0, len(LANGS)))]
        source = SOURCES[int(self.rng.integers(0, len(SOURCES)))]
        n = 10 if kind == "low_quality" else self._length()
        words = self._words(lang, n)
        text = self.render(words)
        if kind == "artifact":
            text = self._corrupt(text)
        return Doc(self._new_id(), lang, source, words, text, kind)

    def _corrupt(self, text: str) -> str:
        """Splice mojibake or zero-width characters into a few words."""
        parts = text.split(" ")
        for i in self.rng.choice(len(parts), size=min(3, len(parts)), replace=False):
            i = int(i)
            if self.rng.random() < 0.5:
                bad = MOJIBAKE[int(self.rng.integers(0, len(MOJIBAKE)))]
            else:
                bad = ZERO_WIDTH[int(self.rng.integers(0, len(ZERO_WIDTH)))]
            parts[i] = parts[i] + bad
        return " ".join(parts)

    def _near_dup(self, src: Doc) -> Doc:
        words = list(src.words)
        n_edit = max(1, int(round(len(words) * NEAR_DUP_EDIT_RATE)))
        for i in self.rng.choice(len(words), size=n_edit, replace=False):
            words[int(i)] = self._words(src.lang, 1)[0]
        return Doc(
            self._new_id(), src.lang, src.source, words, self.render(words),
            "near_dup", src.doc_id,
        )

    def corpus(self, n: int) -> Corpus:
        """``n`` documents with the planted shares above. Duplicates copy
        an earlier original, so the original keeps the smaller doc id (the
        keep-min survivor)."""
        docs, pairs, pool = [], [], []
        u = self.rng.random(n)
        c1 = EXACT_DUP_RATE
        c2 = c1 + NEAR_DUP_RATE
        c3 = c2 + ARTIFACT_RATE
        c4 = c3 + LOW_QUALITY_RATE
        for x in u:
            if x < c2 and pool:
                src = pool[int(self.rng.integers(0, len(pool)))]
                if x < c1:
                    d = Doc(
                        self._new_id(), src.lang, src.source, src.words,
                        src.text, "exact_dup", src.doc_id,
                    )
                else:
                    d = self._near_dup(src)
                    pairs.append((src.doc_id, d.doc_id))
            elif c2 <= x < c3:
                d = self._original("artifact")
            elif c3 <= x < c4:
                d = self._original("low_quality")
            else:
                d = self._original()
                pool.append(d)
            docs.append(d)
        return Corpus(docs, pairs)

    def crawl_shard(self, n: int, recrawl_rate: float, known: list) -> Corpus:
        """A crawl shard: ``n`` documents drawn like ``corpus`` plus
        re-crawls — exact copies, under new ids, of documents in ``known``
        (the live corpus)."""
        shard = self.corpus(n)
        picks = self.rng.choice(len(known), size=int(round(n * recrawl_rate)), replace=False)
        shard.docs += [
            Doc(self._new_id(), known[int(i)].lang, known[int(i)].source,
                known[int(i)].words, known[int(i)].text, "recrawl", known[int(i)].doc_id)
            for i in picks
        ]
        return shard

    def query_batch(self, first_id: int, size: int) -> list:
        """``size`` fresh (query_id, text) rows: 3-5 content words drawn
        from one language's Zipf vocabulary."""
        out = []
        for j in range(size):
            lang = LANGS[int(self.rng.integers(0, len(LANGS)))]
            n = int(self.rng.integers(3, 6))
            ids = self.rng.choice(VOCAB_SIZE, size=n, p=self.zipf_p)
            out.append((first_id + j, " ".join(self.vocab[lang][int(i)] for i in ids)))
        return out

    def own_query(self, doc: Doc, n_words: int = 8) -> str:
        """The ``n_words`` rarest distinct content words of ``doc`` — a query
        that must retrieve ``doc`` itself."""
        rank = {w: i for i, w in enumerate(self.vocab[doc.lang])}
        distinct = sorted({w for w in doc.words if w in rank}, key=lambda w: -rank[w])
        return " ".join(distinct[:n_words])


def measured_shares(corpus: Corpus) -> dict:
    """The share of every planted property as it came out of the draw."""
    docs = corpus.docs
    n = len(docs)
    texts = [d.text for d in docs]
    n_tok = np.array([len(d.words) for d in docs])
    lang = {lg: sum(d.lang == lg for d in docs) / n for lg in LANGS}
    stop = frozenset(ALL_STOPWORDS)
    n_stop = sum(1 for d in docs for w in d.words if w in stop)
    return {
        "docs": n,
        "exact_dup_share": round(1 - len(set(texts)) / n, 4),
        "near_dup_share": round(len(corpus.near_dup_pairs) / n, 4),
        "artifact_share": round(
            sum(any(m in t for m in MOJIBAKE + ZERO_WIDTH) for t in texts) / n, 4
        ),
        "low_quality_share": round(sum(d.kind == "low_quality" for d in docs) / n, 4),
        "lang_share": {k: round(v, 4) for k, v in lang.items()},
        "tokens_p50": int(np.median(n_tok)),
        "tokens_p99": int(np.percentile(n_tok, 99)),
        "tokens_max": int(n_tok.max()),
        "stopword_token_share": round(n_stop / max(1, int(n_tok.sum())), 4),
    }
