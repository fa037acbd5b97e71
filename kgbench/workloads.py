"""Seeded input generators for the KG-build benchmark.

Every generator takes only a seed and returns plain pandas tables (the
program under test receives nothing else) plus the input properties it
controls. Nothing here starts Spark or calls the pipeline under test; the
only library imports are the constants that define the inputs' targets
(the flagship lexicon the oracle replays, the chunk word budget and the
subword window the pages are sized against).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from glinerswift_spark.config import DEFAULT_CONFIG, RelationConfig
from glinerswift_spark.scoring.backends import (
    FLAGSHIP_LABELS,
    OBJECT_TERMS,
    OPERATOR_TERMS,
    PromptEncodingSpec,
    term_score,
)

URL_PREFIX = "https://bench.example/p/"
EMB_DIM = 64
CHUNK_WORDS = DEFAULT_CONFIG.chunk_max_words
SUBWORD_WINDOW = PromptEncodingSpec().max_seq_len
RELATION_WINDOW = RelationConfig().window_chars

# workload sizes: the inputs are a function of the seed alone
FLAGSHIP_PAGES = 500
INCREMENTAL_BASE_PAGES = 600  # the prior snapshot's corpus
INCREMENTAL_NEW_PAGES = 100
INCREMENTAL_FAMILIES = 500
# small families keep the components rounds, and so the run, short
INCREMENTAL_MAX_FAMILY = 4
LINK_FAMILIES = 600
LINK_DOCS = 600
LINK_MEAN_FAMILY = 3.5  # spelling variants per family
LINK_MAX_FAMILY = 12
ENCODER_PAGES = 200

FILLER = (
    "the a fast slow big small data line part order value window spark "
    "customer dup plan cost node page site text rule time"
).split()

# boilerplate every generated page carries: html->text must strip it
_HEAD = (
    "<!doctype html><html><head><meta charset=\"utf-8\">"
    "<style>body{margin:0;font:14px sans-serif} p{line-height:1.4}</style>"
    "<script>var cfg = {\"ads\": \"<div>promo</div>\", \"n\": %d};"
    " function track(e){ return e && e.id; }</script></head><body>"
    "<nav><ul><li><a href=\"/\"></a></li></ul></nav><article>"
)
_TAIL = "</article><footer><span class=\"c\"></span></footer></body></html>"


@dataclass
class Inputs:
    """One workload's generated tables and the properties it controls.

    ``pages`` (url, html) is the operation's input table; ``texts``
    (doc_id, text) is what html->text must yield for it, the input of the
    DuckDB oracle. ``base_pages``/``base_texts`` are the prior corpus of
    the incremental workload (built once in set-up)."""

    name: str
    backend: str  # "flagship" | "gazetteer" | "encoder"
    labels: list
    threshold: float
    pages: pd.DataFrame
    texts: pd.DataFrame
    embeddings: pd.DataFrame
    lexicon: dict | None = None
    base_pages: pd.DataFrame | None = None
    base_texts: pd.DataFrame | None = None
    properties: dict = field(default_factory=dict)


def _html(words: list, doc_id: int) -> bytes:
    paras = [" ".join(words[i:i + 14]) for i in range(0, len(words), 14)]
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    return ((_HEAD % doc_id) + body + _TAIL).encode()


def _pages(doc_ids, word_lists) -> tuple[pd.DataFrame, pd.DataFrame]:
    pages = pd.DataFrame({
        "url": [URL_PREFIX + str(d) for d in doc_ids],
        "html": [_html(w, d) for d, w in zip(doc_ids, word_lists)],
    })
    texts = pd.DataFrame({
        "doc_id": np.asarray(doc_ids, dtype=np.int64),
        "text": [" ".join(w) for w in word_lists],
    })
    return pages, texts


def _lengths(rng, n: int, mean_words: int, over_frac: float) -> np.ndarray:
    """Words per page: uniform around ``mean_words``, with ``over_frac``
    of pages drawn over the chunk word budget."""
    lo, hi = max(8, mean_words // 4), mean_words * 2 - max(8, mean_words // 4)
    n_words = rng.integers(lo, hi + 1, size=n)
    over = rng.random(n) < over_frac
    n_words[over] = rng.integers(CHUNK_WORDS + 10, CHUNK_WORDS * 2, size=over.sum())
    return n_words


def _unit_rows(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _emb_table(vectors: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({
        "vec_id": np.arange(len(vectors), dtype=np.int64),
        "embedding": list(vectors.astype(np.float32)),
    })


def vec_id(surface: str, n_vecs: int) -> int:
    """The surface -> embeddings row assignment the linking stage uses
    (md5 of the lowercased surface, first 8 hex digits, mod table size)."""
    return int(hashlib.md5(surface.lower().encode()).hexdigest()[:8], 16) % n_vecs


def _triples_in(ents: list, templates: dict) -> int:
    """Templated pairs among one doc's (start, end, label) entities under
    the relation-window rule (before chunk merging)."""
    ents = sorted(ents)
    n = 0
    for i, (sa, ea, la) in enumerate(ents):
        for sb, eb, lb in ents[i + 1:]:
            gap = sb - ea
            if gap > RELATION_WINDOW:
                break
            if gap >= 0 and (la, lb) in templates:
                n += 1
    return n


def _flagship_docs(rng, doc_ids, mean_words: int, over_frac: float):
    """Docs over the 16-term flagship lexicon plus filler words."""
    vocab = np.array(list(OPERATOR_TERMS) + list(OBJECT_TERMS) + FILLER)
    label_of = {t: "operator" for t in OPERATOR_TERMS}
    label_of.update({t: "object" for t in OBJECT_TERMS})
    templates = RelationConfig().templates
    n_words = _lengths(rng, len(doc_ids), mean_words, over_frac)
    word_lists, n_trip = [], 0
    for k in n_words:
        words = vocab[rng.integers(0, len(vocab), size=k)].tolist()
        ents, pos = [], 0
        for w in words:
            if w in label_of:
                ents.append((pos, pos + len(w), label_of[w]))
            pos += len(w) + 1
        n_trip += _triples_in(ents, templates)
        word_lists.append(words)
    return word_lists, n_words, n_trip


def _flagship_props(n_words, n_docs, n_trip, **extra) -> dict:
    return {
        "pages": int(n_docs),
        "words_per_page": round(float(np.mean(n_words)), 2),
        "share_over_chunk_budget": round(float(np.mean(n_words > CHUNK_WORDS)), 4),
        "share_over_subword_window": 0.0,
        "distinct_surfaces": len(OPERATOR_TERMS) + len(OBJECT_TERMS),
        "mean_family_size": 1.0,
        "triples_per_doc": round(n_trip / n_docs, 2),
        **extra,
    }


def pages_flagship(seed: int) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    n_pages = FLAGSHIP_PAGES
    ids = list(range(n_pages))
    words, n_words, n_trip = _flagship_docs(rng, ids, 56, 0.05)
    pages, texts = _pages(ids, words)
    return Inputs(
        "pages_flagship", "flagship", list(FLAGSHIP_LABELS), 0.5, pages, texts,
        _emb_table(_unit_rows(rng, 512)),
        properties=_flagship_props(n_words, n_pages, n_trip),
    )


_SYLLABLES = (
    "ka lo mir ven tor sha bel dru nix pra quo zel fin gar hul jes rom sta "
    "wen yor ast bri cal dov eph gli isk jun kel"
).split()
_LINK_LABELS = ["person", "organization", "location"]


def _variant(rng, base: str) -> str:
    i = int(rng.integers(2, len(base)))
    c = "abcdefghijklmnoprstuvy"[int(rng.integers(0, 22))]
    op = int(rng.integers(0, 4))
    if op == 0:
        return base[:i] + c + base[i + 1:]
    if op == 1:
        return base[:i] + c + base[i:]
    if op == 2:
        return base[:i] + base[i + 1:]
    return base[:i] + base[i] + base[i:]


def _families(rng, n_families: int, max_family: int):
    """A vocabulary of spelling-variant families with a matching lexicon
    and embeddings table. Variants of one family get nearby vectors (most
    pairs verify, some do not); different families get unrelated ones.
    Returns (lexicon, vectors, [(surface, label), ...])."""
    seen: set = set()
    families = []  # (label, [variant, ...], centroid)
    while len(families) < n_families:
        base = "".join(rng.choice(_SYLLABLES, size=int(rng.integers(3, 5))))
        if base in seen:
            continue
        size = min(int(rng.geometric(1.0 / LINK_MEAN_FAMILY)), max_family)
        members = [base]
        for _ in range(8 * size):
            if len(members) >= size:
                break
            v = _variant(rng, base)
            if v not in seen and v not in members and len(v) >= 5:
                members.append(v)
        seen.update(members)
        label = _LINK_LABELS[int(rng.integers(0, len(_LINK_LABELS)))]
        families.append((label, members, _unit_rows(rng, 1)[0]))

    n_surf = sum(len(m) for _, m, _ in families)
    n_vecs = 4 * n_surf + 1
    vectors = _unit_rows(rng, n_vecs)
    used: set = set()
    lexicon, surfaces = {}, []
    for label, members, centroid in families:
        for v in members:
            vid = vec_id(v, n_vecs)
            if vid in used:
                continue  # keep the surface -> vector map injective
            used.add(vid)
            noise = _unit_rows(rng, 1)[0] * rng.uniform(0.2, 0.6)
            vec = centroid + noise
            vectors[vid] = vec / np.linalg.norm(vec)
            lexicon[(v, label)] = round(float(rng.uniform(0.6, 0.95)), 4)
            surfaces.append((v, label))
    return lexicon, vectors, surfaces


def _family_docs(rng, n_docs: int, surfaces: list, tail_vocab: list):
    """Docs of 2-4 sentences: filler, entity, short filler, entity, then a
    24-word tail from ``tail_vocab`` that keeps pairs of different
    sentences apart. Surfaces stay lowercase, as the oracle's exact token
    match needs. Returns (word lists, words per doc, triples, surfaces
    used)."""
    label_of = {t: "operator" for t in OPERATOR_TERMS}
    label_of.update({t: "object" for t in OBJECT_TERMS})
    templates = RelationConfig().templates
    word_lists, n_words, n_trip, present = [], [], 0, set()
    for _ in range(n_docs):
        words, ents, pos = [], [], 0
        for _ in range(int(rng.integers(2, 5))):
            for surf, label in (surfaces[int(rng.integers(0, len(surfaces)))]
                                for _ in range(2)):
                for w in rng.choice(FILLER, size=int(rng.integers(2, 6))):
                    words.append(str(w))
                    pos += len(w) + 1
                words.append(surf)
                ents.append((pos, pos + len(surf), label))
                pos += len(surf) + 1
                present.add(surf)
            for w in rng.choice(tail_vocab, size=24):
                w = str(w)
                if w in label_of:
                    ents.append((pos, pos + len(w), label_of[w]))
                words.append(w)
                pos += len(w) + 1
        n_trip += _triples_in(ents, templates)
        word_lists.append(words)
        n_words.append(len(words))
    return word_lists, np.asarray(n_words), n_trip, present


def _family_props(n_words, n_trip, present, surfaces, n_families, **extra) -> dict:
    return {
        "pages": len(n_words),
        "words_per_page": round(float(np.mean(n_words)), 2),
        "share_over_chunk_budget": round(float(np.mean(n_words > CHUNK_WORDS)), 4),
        "share_over_subword_window": 0.0,
        "distinct_surfaces": len(present),
        "mean_family_size": round(len(surfaces) / n_families, 3),
        "triples_per_doc": round(n_trip / len(n_words), 2),
        **extra,
    }


def incremental_update(seed: int) -> Inputs:
    """A prior corpus and a new batch over spelling-variant families plus
    the flagship lexicon: the families give the global re-link real
    blocking, verification and components work; the flagship terms in
    each sentence's tail give templated triples. The new batch also uses
    surfaces the prior corpus never saw, which join existing families."""
    rng = np.random.default_rng([seed, 4])
    lexicon, vectors, surfaces = _families(rng, INCREMENTAL_FAMILIES, INCREMENTAL_MAX_FAMILY)
    in_base = rng.random(len(surfaces)) < 0.85
    base_surfaces = [s for s, keep in zip(surfaces, in_base) if keep]
    lexicon.update({(t, "operator"): term_score(t) for t in OPERATOR_TERMS})
    lexicon.update({(t, "object"): term_score(t) for t in OBJECT_TERMS})
    tail = list(OPERATOR_TERMS) + list(OBJECT_TERMS) + FILLER
    n_base, n_new = INCREMENTAL_BASE_PAGES, INCREMENTAL_NEW_PAGES
    bw, _, bt, bp = _family_docs(rng, n_base, base_surfaces, tail)
    nw, nn, nt, new_present = _family_docs(rng, n_new, surfaces, tail)
    base_pages, base_texts = _pages(list(range(n_base)), bw)
    pages, texts = _pages(list(range(n_base, n_base + n_new)), nw)
    return Inputs(
        "incremental_update", "gazetteer", _LINK_LABELS + list(FLAGSHIP_LABELS), 0.5,
        pages, texts, _emb_table(vectors), lexicon=lexicon,
        base_pages=base_pages, base_texts=base_texts,
        properties=_family_props(
            nn, nt, new_present, surfaces, INCREMENTAL_FAMILIES,
            prior_pages=n_base, prior_distinct_surfaces=len(bp),
            prior_triples_per_doc=round(bt / n_base, 2),
            batch_surfaces_not_in_prior=len(new_present - bp)),
    )


def linking_vocab(seed: int) -> Inputs:
    """Docs over a large vocabulary of spelling-variant families, few
    triples per doc."""
    rng = np.random.default_rng([seed, 2])
    lexicon, vectors, surfaces = _families(rng, LINK_FAMILIES, LINK_MAX_FAMILY)
    words, n_words, n_trip, present = _family_docs(rng, LINK_DOCS, surfaces, FILLER)
    pages, texts = _pages(list(range(LINK_DOCS)), words)
    return Inputs(
        "linking_vocab", "gazetteer", list(_LINK_LABELS), 0.5, pages, texts,
        _emb_table(vectors), lexicon=lexicon,
        properties=_family_props(n_words, n_trip, present, surfaces, LINK_FAMILIES),
    )


def _random_word(rng, lo: int, hi: int) -> str:
    k = int(rng.integers(lo, hi + 1))
    return "".join(rng.choice(list("abcdefghiklmnoprstuvwyz"), size=k))


def encoder_pages(seed: int) -> Inputs:
    """Pages for the file-loaded encoder: mostly short, some over the
    chunk word budget, some under it in words but over the subword window
    (long tokens), so chunking and overflow re-chunking both run."""
    rng = np.random.default_rng([seed, 3])
    n_pages = ENCODER_PAGES
    vocab = [_random_word(rng, 3, 8) for _ in range(400)]
    names = [_random_word(rng, 4, 7).capitalize() for _ in range(120)]
    kinds = rng.choice(3, size=n_pages, p=[0.85, 0.07, 0.08])
    word_lists = []
    for kind in kinds:
        if kind == 1:  # over the chunk word budget
            k = int(rng.integers(CHUNK_WORDS + 10, CHUNK_WORDS + 120))
        elif kind == 2:  # within the word budget, long tokens over the subword window
            k = int(rng.integers(90, 160))
        else:
            k = int(rng.integers(12, 60))
        words = []
        for _ in range(k):
            if rng.random() < 0.15:
                words.append(names[int(rng.integers(0, len(names)))])
            elif kind == 2:
                words.append(_random_word(rng, 7, 12))
            else:
                words.append(vocab[int(rng.integers(0, len(vocab)))])
        word_lists.append(words)
    ids = list(range(n_pages))
    pages, texts = _pages(ids, word_lists)
    n_words = np.array([len(w) for w in word_lists])
    # characters + word-boundary pieces: the char-level fallback vocab
    # gives about one subword per character
    n_sub = np.array([sum(len(x) for x in w) + len(w) for w in word_lists])
    return Inputs(
        "encoder_pages", "encoder", ["person", "organization"], 0.3, pages,
        texts, _emb_table(_unit_rows(rng, 512)),
        properties={
            "pages": n_pages,
            "words_per_page": round(float(np.mean(n_words)), 2),
            "share_over_chunk_budget": round(float(np.mean(n_words > CHUNK_WORDS)), 4),
            "share_over_subword_window": round(float(np.mean(
                (n_words <= CHUNK_WORDS) & (n_sub > SUBWORD_WINDOW))), 4),
            "distinct_surfaces": None,
            "mean_family_size": None,
            "triples_per_doc": None,
        },
    )


GENERATORS = {
    "pages_flagship": pages_flagship,
    "linking_vocab": linking_vocab,
    "encoder_pages": encoder_pages,
    "incremental_update": incremental_update,
}
