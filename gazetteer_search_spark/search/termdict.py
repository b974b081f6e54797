"""Driver-side term dictionary: the one implementation of every
dictionary-only operation (prefix / fuzzy / regexp expansion, ``suggest``,
the df lookup) for every engine form.

The reference expands prefix (P3) and fuzziness-1 (P15,
MainAddressQueryBuilder.java:291-293) terms against one term dictionary;
so does this engine. ``TermDict`` reads ``(term, df)`` from the
``term_stats`` parquet of every generation an engine answers from — one for
a plain Spark or serving engine, base plus segments for a multi-generation
engine — and sums df per term (Lucene df-with-deletes: superseded docs keep
counting until compaction rewrites the stats, which then serves exactly
these expansions). Reads go through pyarrow on the driver; no operation
here schedules a Spark job.

Layout, built once from the parquet:

- every term, sorted lexicographically (code-point order, the order Spark,
  pandas and Python all compare strings in): a prefix is a bisect range;
- each term's df and its rank in the expansion order (df desc, term asc);
- the content-namespace terms in rank order with their lengths: fuzzy and
  regexp scans walk them best-first and stop at the cap. ``field:term``
  entries are reachable only through an explicit ``field:`` prefix and the
  df lookup.

Expansion results are memoized in an LRU: a serving node sees the same
prefixes and typos again and again, but the key space (every typo ever
typed) is unbounded.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from collections import OrderedDict

import numpy as np

MAX_PREFIX_EXPANSIONS = 128
MAX_FUZZY_EXPANSIONS = 32
MAX_REGEX_EXPANSIONS = 128  # Lucene top_terms_N rewrite cap (wildcard/regexp)

#: Largest dictionary an engine loads onto the driver: uncompressed parquet
#: bytes of the ``term`` and ``df`` column chunks, summed over generations,
#: read from the parquet footers before any data. Loaded, the dictionary
#: takes about 5x these bytes (a Python string per term plus int64/bool
#: arrays), so the bound caps it near 0.7 GB, roughly 7M terms. Sizes the
#: repo's workloads produce (bytes / terms): perfbench ingest_mixed seed 1
#: 705,257 / 41,899; perfbench batch_build_dedup seed 1 357,645 / 22,221;
#: bench.py's 5,000-doc synthetic build 259,604 / 26,218; the sf0.1
#: documents corpus 941 / 31. Above the bound, every dictionary operation
#: raises ValueError naming both sizes.
MAX_TERMDICT_BYTES = 128 << 20

_TOP = "\U0010ffff"  # sorts after every analyzer character


def _footer_bytes(ts_dir: str) -> int:
    """Uncompressed size of the term/df column chunks of one term_stats
    dataset, from the parquet footers alone."""
    import pyarrow.dataset as ds

    total = 0
    for frag in ds.dataset(ts_dir, partitioning="hive").get_fragments():
        md = frag.metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema in ("term", "df"):
                    total += col.total_uncompressed_size
    return total


def transpositions(term: str) -> set[str]:
    """All distinct strings one ADJACENT TRANSPOSITION away from ``term``
    (excluding term itself). OSA distance <= 1 == Levenshtein <= 1 OR
    membership here — the decomposition the fuzzy expansion and the DuckDB
    oracle (its native damerau_levenshtein) agree on."""
    return {
        term[:i] + term[i + 1] + term[i] + term[i + 2 :]
        for i in range(len(term) - 1)
        if term[i] != term[i + 1]
    }


def damerau_levenshtein(a: str, b: str, cap: int = 2) -> int:
    """UNRESTRICTED Damerau-Levenshtein distance (transposed letters may be
    edited again — e.g. dl("ca", "abc") == 2 where the restricted/OSA form
    gives 3), truncated at ``cap + 1``: once the row minimum exceeds the
    cap the exact value doesn't matter and the scan exits early. This is
    the variant DuckDB's native ``damerau_levenshtein`` implements, so the
    fuzziness=2 expansion and the DuckDB oracle agree exactly."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    # Lowrance-Wagner: full (la+2) x (lb+2) table with the "last occurrence"
    # row/col registers; strings here are dictionary terms (short), so the
    # quadratic table is a handful of ints
    inf = la + lb
    da: dict[str, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        best = inf
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            m = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,              # substitute / match
                d[i + 1][j] + 1,             # insert
                d[i][j + 1] + 1,             # delete
                d[k][m] + (i - k - 1) + 1 + (j - m - 1),  # transpose
            )
            best = min(best, d[i + 1][j + 1])
        da[a[i - 1]] = i
        if best > cap:
            return cap + 1
    return d[la + 1][lb + 1]


def _levenshtein(a: str, b: str) -> int:
    """Classic edit distance — same function as Spark's levenshtein and
    DuckDB's. The fuzzy expansion combines it with the adjacent-transposition
    set (:func:`transpositions`) for OSA/Damerau<=1 semantics."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TermDict:
    def __init__(self, term_stats_dirs: list[str]):
        """Load and sum ``(term, df)`` over the given term_stats datasets
        (one per generation). Raises ValueError, before reading any data,
        when their footers put the dictionary above MAX_TERMDICT_BYTES."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        nbytes = sum(_footer_bytes(d) for d in term_stats_dirs)
        if nbytes > MAX_TERMDICT_BYTES:
            raise ValueError(
                f"term dictionary is {nbytes} bytes (term/df columns over "
                f"{len(term_stats_dirs)} generation(s)), above the "
                f"MAX_TERMDICT_BYTES bound of {MAX_TERMDICT_BYTES} bytes"
            )
        schema = pa.schema([("term", pa.string()), ("df", pa.int64())])
        t = pa.concat_tables(
            ds.dataset(d, partitioning="hive")
            .to_table(columns=["term", "df"])
            .cast(schema)
            for d in term_stats_dirs
        )
        if len(term_stats_dirs) > 1:
            g = t.group_by("term").aggregate([("df", "sum")])
            t = pa.table({"term": g["term"], "df": g["df_sum"]})
        t = t.take(pc.sort_indices(t, [("term", "ascending")])).combine_chunks()
        # via numpy: ~10x faster than to_pylist for short strings
        self.terms: list[str] = t["term"].to_numpy(zero_copy_only=False).tolist()
        self.df = t["df"].to_numpy()
        order = pc.sort_indices(
            t, [("df", "descending"), ("term", "ascending")]
        ).to_numpy()
        self.rank = np.empty(len(order), dtype=np.int64)
        self.rank[order] = np.arange(len(order))
        self.is_field = pc.match_substring(t["term"], ":").to_numpy(
            zero_copy_only=False
        )
        # content terms, best-first, and their lengths (the fuzzy band)
        self._content = order[~self.is_field[order]]
        self._content_len = pc.utf8_length(t["term"]).to_numpy()[self._content]
        self._memo: OrderedDict[tuple, list[str]] = OrderedDict()
        self.memo_max = 4096

    def _memoized(self, key: tuple, compute) -> list[str]:
        if key in self._memo:
            self._memo.move_to_end(key)
        else:
            self._memo[key] = compute()
            while len(self._memo) > self.memo_max:
                self._memo.popitem(last=False)
        return self._memo[key]

    def _prefixed(self, prefix: str, content: bool = True) -> np.ndarray:
        """Positions of the terms starting with ``prefix``, best-first;
        ``content`` drops ``field:term`` entries."""
        lo = bisect_left(self.terms, prefix)
        hi = bisect_right(self.terms, prefix + _TOP, lo)
        idx = np.arange(lo, hi)
        if content:
            idx = idx[~self.is_field[lo:hi]]
        return idx[np.argsort(self.rank[idx])]

    def _first(self, idx: np.ndarray, keep, cap: int) -> list[str]:
        """The first ``cap`` terms (in ``idx`` order) that ``keep`` accepts."""
        out: list[str] = []
        for i in idx:
            t = self.terms[i]
            if keep(t):
                out.append(t)
                if len(out) == cap:
                    break
        return out

    def expand_prefix(self, prefix: str) -> list[str]:
        """Prefix expansion (P3): the df-ranked top MAX_PREFIX_EXPANSIONS
        terms starting with ``prefix``, like Lucene's rewrite cap. A bare
        prefix expands in the content namespace only; a prefix containing
        ``:`` explicitly targets that field's namespace."""
        return self._memoized(
            ("p", prefix),
            lambda: [
                self.terms[i]
                for i in self._prefixed(prefix, ":" not in prefix)[
                    :MAX_PREFIX_EXPANSIONS
                ]
            ],
        )

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Content terms starting with ``prefix``, (df desc, term asc), with
        their df."""
        if not prefix:
            raise ValueError("suggest: empty prefix")
        return [
            (self.terms[i], int(self.df[i])) for i in self._prefixed(prefix)[:k]
        ]

    def df_for_terms(self, terms: list[str]) -> dict[str, int]:
        """df of each listed term present in the dictionary (any
        namespace)."""
        out: dict[str, int] = {}
        for t in terms:
            i = bisect_left(self.terms, t)
            if i < len(self.terms) and self.terms[i] == t:
                out[t] = int(self.df[i])
        return out

    def expand_fuzzy(self, term: str, max_edits: int = 1) -> list[str]:
        """Content terms within ``max_edits`` Damerau edits of ``term``
        (P15), df-ranked, capped at MAX_FUZZY_EXPANSIONS. 1 edit is OSA<=1,
        decomposed as Levenshtein <= 1 OR adjacent-transposition membership
        (a transposition is ONE edit: plain Levenshtein would cost "teh" ->
        "the" two and miss the most common typo class); 2 edits (the Lucene
        automaton ceiling) is unrestricted Damerau-Levenshtein <= 2. Only
        the length band n +- max_edits is scanned."""
        if max_edits <= 0:
            return []

        def compute() -> list[str]:
            n = len(term)
            lens = self._content_len
            band = self._content[(lens >= n - max_edits) & (lens <= n + max_edits)]
            if max_edits == 1:
                trans = transpositions(term)
                return self._first(
                    band,
                    lambda t: _levenshtein(t, term) <= 1 or t in trans,
                    MAX_FUZZY_EXPANSIONS,
                )
            return self._first(
                band,
                lambda t: damerau_levenshtein(t, term, cap=2) <= 2,
                MAX_FUZZY_EXPANSIONS,
            )

        return self._memoized(("f", term, max_edits), compute)

    def expand_regexp(self, regex_body: str) -> list[str]:
        """Content terms the pattern fully matches, case-insensitively,
        df-ranked, capped at MAX_REGEX_EXPANSIONS (Lucene's ``top_terms_N``
        rewrite). The anchored form (patterns.anchored_ci) is the one the
        DuckDB RE2 oracle runs too; the pattern's leading literal run narrows
        the scan to a prefix range (Lucene's commonPrefix extraction)."""
        from gazetteer_search_spark.search import patterns as _pat

        anchored = _pat.anchored_ci(regex_body)  # validates up front

        def compute() -> list[str]:
            pre = _pat.literal_prefix(regex_body)
            rx = re.compile(anchored)
            return self._first(
                self._prefixed(pre) if pre else self._content,
                lambda t: rx.match(t) is not None,
                MAX_REGEX_EXPANSIONS,
            )

        return self._memoized(("r", anchored), compute)
