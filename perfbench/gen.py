"""Seeded corpus, query and bulk-batch generator for the benchmark.

Everything here is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical parquet / query / NDJSON files, a different seed different
ones. The program under test only ever sees the files written by
:func:`write_inputs`. The identifier lexicon and its frequency ranks are
fixed — the language the code is written in — so seeds vary the documents,
repos, duplicates, hot and tail queries and bulk batches, not which
identifiers are hot; that keeps per-seed query costs comparable. The typo
list and the query shapes (identifier count, lang filter) are fixed too.

Corpus shape
- ~10^5 code-shaped identifiers (camelCase, PascalCase, snake_case,
  ALL_CAPS, numerics, a few accented / Cyrillic words), drawn Zipfian so the
  head identifiers (and their shared sub-tokens) sit in most documents and
  their posting lists span every block of the corpus (47 blocks of 128 at
  6000 docs);
- log-normal, multi-line document lengths;
- skewed repo sizes (Zipf over repos) and lang shares;
- an injected share of near-duplicate files: copies of an earlier file with
  one or two small edits. The injected (copy, source) pairs are returned so
  the dedup workload can report recall against them.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np

LANGS = ("python", "java", "javascript", "go", "rust", "c")
LANG_SHARE = (0.38, 0.22, 0.16, 0.11, 0.08, 0.05)
LANG_EXT = {"python": "py", "java": "java", "javascript": "js", "go": "go",
            "rust": "rs", "c": "c"}

LEXICON_SEED = 0
_CONS = "bcdfghklmnprstvwz"
_VOW = "aeiou"
_CYR_CONS = "бвгдклмнпрст"
_CYR_VOW = "аеиоу"
_ACCENT = {"e": "é", "a": "à", "o": "ö", "u": "ü", "i": "î"}
# letter-only marker alphabet (no digits: the analyzer splits letter/digit
# boundaries, a pure-letter token stays one term)
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _letters(n: int, width: int) -> str:
    out = []
    for _ in range(width):
        n, r = divmod(n, 26)
        out.append(_ALPHA[r])
    return "".join(reversed(out))


def key_token(i: int) -> str:
    """Per-document unique token: finds exactly one live version of a file."""
    return "qk" + _letters(i, 5)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct pronounceable lowercase base words (2-4 syllables)."""
    sylls = [c + v for c in _CONS for v in _VOW]
    out = list(dict.fromkeys(
        "".join(sylls[int(x)] for x in row[:k])
        for row, k in zip(rng.integers(0, len(sylls), (n * 2, 4)),
                          rng.integers(2, 5, n * 2))
    ))
    return out[:n]


def vocabulary(rng: np.random.Generator, n_ids: int) -> list[str]:
    """n_ids distinct code-shaped identifiers, in random (rank) order."""
    base = _words(rng, 6000)
    cyr = [c + v for c in _CYR_CONS for v in _CYR_VOW]
    m = n_ids * 2
    kinds = rng.choice(7, size=m, p=[0.36, 0.12, 0.24, 0.08, 0.10, 0.06, 0.04])
    nparts = rng.integers(2, 4, m)
    pidx = rng.integers(0, len(base), (m, 3))
    num = rng.integers(0, 1 << 20, m)
    sub = rng.integers(0, 3, m)
    pos = rng.random(m)
    cyi = rng.integers(0, len(cyr), (m, 3))
    seen: set[str] = set()
    out: list[str] = []
    for j in range(m):
        kind = int(kinds[j])
        parts = [base[int(x)] for x in pidx[j, : nparts[j]]]
        if kind == 0:  # camelCase
            s = parts[0] + "".join(p.capitalize() for p in parts[1:])
        elif kind == 1:  # PascalCase
            s = "".join(p.capitalize() for p in parts)
        elif kind == 2:  # snake_case
            s = "_".join(parts)
        elif kind == 3:  # ALL_CAPS constant
            s = "_".join(p.upper() for p in parts[:2])
        elif kind == 4:  # plain word
            s = parts[0]
        elif kind == 5:  # numerics: decimal, hex, versioned names
            x = int(num[j])
            s = (str(x), f"0x{x:x}", f"{parts[0]}{x % 1000}")[int(sub[j])]
        elif pos[j] < 0.5:  # accented word
            w = parts[0]
            i = int(pos[j] * 2 * len(w))
            s = w[:i] + _ACCENT.get(w[i], w[i]) + w[i + 1:] + parts[1].capitalize()
        else:  # Cyrillic word
            s = "".join(cyr[int(x)] for x in cyi[j, : nparts[j]])
        if s not in seen:
            seen.add(s)
            out.append(s)
            if len(out) == n_ids:
                return out
    raise ValueError("vocabulary too small for n_ids")


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def zipf_draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


_SEPS = (" ", ", ", ".", "(", ") ", " = ", " + ", "->", "::", "; ")
_BREAKS = ("\n", "\n    ", "\n        ", "\n            ")


def _render(rng: np.random.Generator, vocab: list[str], ids: np.ndarray) -> str:
    """Identifiers -> multi-line code-ish text (about 5 per line)."""
    n = len(ids)
    seps = rng.integers(0, len(_SEPS), n)
    brk = rng.random(n) < 0.2
    ind = rng.integers(0, len(_BREAKS), n)
    out = [vocab[int(ids[0])]]
    for k in range(1, n):
        out.append(_BREAKS[ind[k]] if brk[k] else _SEPS[seps[k]])
        out.append(vocab[int(ids[k])])
    return "".join(out)


def make_corpus(seed: int, n_docs: int, n_ids: int = 100_000,
                n_repos: int = 120, dup_share: float = 0.06) -> dict:
    """The seeded corpus: rows, vocabulary, and the injected dup pairs."""
    vocab = vocabulary(np.random.default_rng(LEXICON_SEED), n_ids)
    rng = np.random.default_rng([seed, 1])
    cdf = zipf_cdf(n_ids, 1.0)
    lens = np.clip(rng.lognormal(3.0, 0.7, n_docs), 4, 400).astype(np.int64)
    repo_of = zipf_draw(rng, zipf_cdf(n_repos, 1.1), n_docs)
    lang_of = rng.choice(len(LANGS), size=n_docs, p=LANG_SHARE)
    all_ids = zipf_draw(rng, cdf, int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    is_dup = rng.random(n_docs) < dup_share
    is_dup[:50] = False
    dup_src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    repos, paths, commits, langs, contents = [], [], [], [], []
    dup_pairs = []
    id_lists: list[np.ndarray] = []
    for i in range(n_docs):
        if is_dup[i]:
            src = int(dup_src[i])
            ids = id_lists[src].copy()
            # small edits: replace 1-2 identifiers, maybe append one
            for p in rng.integers(0, len(ids), int(rng.integers(1, 3))):
                ids[int(p)] = zipf_draw(rng, cdf, 1)[0]
            if rng.random() < 0.5:
                ids = np.append(ids, zipf_draw(rng, cdf, 1))
            dup_pairs.append((i, src))
        else:
            ids = all_ids[offs[i] : offs[i + 1]]
        id_lists.append(ids)
        lang = LANGS[int(lang_of[i])]
        r = int(repo_of[i])
        repos.append(f"org{r % 17}/repo{r:03d}")
        paths.append(f"src/m{i % 97}/{vocab[int(ids[0])].lower()}_{i}.{LANG_EXT[lang]}")
        commits.append(hashlib.sha1(f"{seed}:{i}".encode()).hexdigest())
        langs.append(lang)
        contents.append(key_token(i) + "\n" + _render(rng, vocab, ids))
    counts = np.bincount(np.concatenate(id_lists), minlength=n_ids)
    return {
        "repo": repos, "path": paths, "commit": commits, "lang": langs,
        "content": contents, "vocab": vocab, "counts": counts,
        "id_lists": id_lists, "dup_pairs": dup_pairs,
    }


# query shapes by position in a query list, so every seed gets the same
# shares: 35/45/20% of queries name one/two/three identifiers, 15% filter
# on the source doc's lang
_K_CYCLE = (1, 2, 3, 2, 1, 2, 1, 2, 3, 2, 1, 2, 1, 2, 3, 2, 1, 2, 3, 1)
_LANG_AT = (6, 13, 19)


def _shape(j: int) -> tuple[int, bool]:
    """Shape of the j-th query of a list: identifier count, and whether it
    filters on the source doc's lang."""
    return _K_CYCLE[j % 20], j % 20 in _LANG_AT


def make_typos(vocab: list[str], n_typo: int = 200) -> list[dict]:
    """Typo queries: one-letter substitutions inside six-letter lowercase
    identifiers (one token each) that match no identifier or identifier
    part, so only the fuzzy rung answers them. The list is the same for
    every seed, like the lexicon: a misspelling's fuzzy-rung cost depends
    on its dictionary neighbourhood and varies about 2x between words, so
    a fixed list keeps runs of different seeds comparable. One word length,
    so every expansion scans the same length band of the term dictionary."""
    known = set()
    for v in vocab:
        known.add(v.lower())
        known.update(re.findall(r"[a-z]+", re.sub(r"(?<=[a-z])(?=[A-Z])", " ", v).lower()))
    words = [v for v in vocab if len(v) == 6 and v.isascii() and v.isalpha() and v.islower()]
    rng = np.random.default_rng([LEXICON_SEED, 5])
    out: list[dict] = []
    for k in rng.permutation(len(words)).tolist():
        w = words[k]
        i = int(rng.integers(1, len(w) - 1))
        t = w[:i] + _ALPHA[int(rng.integers(0, 26))] + w[i + 1:]
        if t in known:
            continue
        known.add(t)
        q = {"q": t}
        if _shape(len(out))[1]:
            q["lang"] = LANGS[len(out) % len(LANGS)]
        out.append(q)
        if len(out) == n_typo:
            break
    return out


def make_queries(seed: int, corpus: dict, n_hot: int = 1024,
                 n_tail: int = 4000) -> dict:
    """Queries are identifiers that co-occur in one source document, as a
    user searching for code that exists would type them.

    hot: a pool of head/mid identifier combinations (served Zipf-repeated).
    tail: distinct queries, each a long-tail identifier (1-3 occurrences)
    beside hot identifiers of the same document.
    typo: :func:`make_typos`, misspelled identifiers alone. The fuzzy rung
    expands every query token against the term dictionary, so a typo beside
    hot identifiers costs several times more; alone, enough typos to reach
    the tail percentile fit in a run."""
    rng = np.random.default_rng([seed, 2])
    vocab, counts, id_lists = corpus["vocab"], corpus["counts"], corpus["id_lists"]
    n = len(id_lists)

    def hot_of(d: int, k: int) -> list[str]:
        pool = [t for t in dict.fromkeys(id_lists[d].tolist()) if counts[t] >= 40]
        return [vocab[pool[int(j)]] for j in rng.permutation(len(pool))[:k]]

    def query(d: int, terms: list[str], lang: bool) -> dict:
        q = {"q": " ".join(terms)}
        if lang:
            q["lang"] = corpus["lang"][d]
        return q

    hot = []
    while len(hot) < n_hot:
        d = int(rng.integers(0, n))
        k, lang = _shape(len(hot))
        terms = hot_of(d, k)
        if len(terms) == k:
            hot.append(query(d, terms, lang))
    home: dict[int, int] = {}
    for d, ids in enumerate(id_lists):
        for t in ids.tolist():
            if counts[t] <= 3:
                home.setdefault(t, d)
    tail_ids = np.array(sorted(home), dtype=np.int64)
    rng.shuffle(tail_ids)
    tail: list[dict] = []
    seen: set[str] = set()
    for t in tail_ids.tolist():
        d = home[t]
        k, lang = _shape(len(tail))
        terms = [vocab[t]] + hot_of(d, k - 1)
        if len(terms) < k:
            continue
        rng.shuffle(terms)
        q = query(d, terms, lang)
        if q["q"] not in seen:
            seen.add(q["q"])
            tail.append(q)
            if len(tail) == n_tail:
                break
    return {"hot": hot, "tail": tail, "typo": make_typos(vocab)}


def marker_token(seed: int, batch: int) -> str:
    return "zmark" + _letters(seed % (26 ** 3), 3) + _letters(batch, 3)


BULK_OPS = 40  # ops per /bulk batch


def make_bulk(seed: int, corpus: dict, n_batches: int) -> list[dict]:
    """/bulk batches of BULK_OPS ops: new docs, updates of existing (repo,
    path) keys and deletes. Every indexed doc of batch b carries ``marker_token(seed, b)``
    and its own key token; keys are never touched twice in a run, so each
    batch's expected live set is exact."""
    rng = np.random.default_rng([seed, 3])
    vocab = corpus["vocab"]
    cdf = zipf_cdf(len(vocab), 1.0)
    n = len(corpus["repo"])
    touch = rng.permutation(n)
    tp = 0
    batches = []
    for b in range(n_batches):
        mark = marker_token(seed, b)
        n_upd = int(BULK_OPS * 0.3)
        n_del = int(BULK_OPS * 0.1)
        n_new = BULK_OPS - n_upd - n_del
        ops = []
        for i in touch[tp : tp + n_upd]:
            i = int(i)
            ids = zipf_draw(rng, cdf, int(rng.integers(8, 60)))
            ops.append({"op": "index", "key_id": i, "doc": {
                "repo": corpus["repo"][i], "path": corpus["path"][i],
                "commit": hashlib.sha1(f"{seed}:u{b}:{i}".encode()).hexdigest(),
                "lang": corpus["lang"][i],
                "content": f"{key_token(i)} {mark}\n" + _render(rng, vocab, ids),
            }})
        tp += n_upd
        for i in touch[tp : tp + n_del]:
            ops.append({"op": "delete", "key_id": int(i), "doc": {
                "repo": corpus["repo"][int(i)], "path": corpus["path"][int(i)]}})
        tp += n_del
        for j in range(n_new):
            i = n + b * BULK_OPS + j
            ids = zipf_draw(rng, cdf, int(rng.integers(8, 60)))
            lang = LANGS[int(rng.choice(len(LANGS), p=LANG_SHARE))]
            ops.append({"op": "index", "key_id": i, "doc": {
                "repo": f"org{b % 17}/fresh{b:03d}",
                "path": f"src/new/{vocab[int(ids[0])].lower()}_{i}.{LANG_EXT[lang]}",
                "commit": hashlib.sha1(f"{seed}:n{i}".encode()).hexdigest(),
                "lang": lang,
                "content": f"{key_token(i)} {mark}\n" + _render(rng, vocab, ids),
            }})
        order = rng.permutation(len(ops))
        batches.append({"marker": mark, "ops": [ops[int(k)] for k in order]})
    return batches


def bulk_body(batch: dict) -> bytes:
    """ES-style NDJSON action lines for one batch."""
    lines = []
    for op in batch["ops"]:
        if op["op"] == "delete":
            lines.append(json.dumps({"delete": op["doc"]}, sort_keys=True))
        else:
            lines.append(json.dumps({"index": {}}))
            lines.append(json.dumps(op["doc"], sort_keys=True, ensure_ascii=False))
    return ("\n".join(lines) + "\n").encode("utf-8")


def write_inputs(out_dir: str, seed: int, n_docs: int, n_bulks: int) -> dict:
    """Write corpus.parquet, queries.json and one bulk_NNN.ndjson body per
    /bulk batch (``n_bulks`` of them) under out_dir; each batch records its
    file as ``file``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    corpus = make_corpus(seed, n_docs)
    table = pa.table({k: corpus[k] for k in ("repo", "path", "commit", "lang", "content")})
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"),
                   row_group_size=8192)
    queries = make_queries(seed, corpus)
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump(queries, f, sort_keys=True)
    batches = make_bulk(seed, corpus, n_batches=n_bulks)
    for i, b in enumerate(batches):
        b["file"] = os.path.join(out_dir, f"bulk_{i:03d}.ndjson")
        with open(b["file"], "wb") as f:
            f.write(bulk_body(b))
    return {"corpus": corpus, "queries": queries, "bulk": batches}
