"""HTTP serving front over the engine — REST route parity.

Analog of the reference's RestExpress server (server/REServerRoutes.java:40-67
registers GET /search on an always-on process; api/SearchAPIAdapter.java:22-102
adapts request params to SearchOptions; api/ResultsWrapper.java:10-151 is the
response envelope). Here: stdlib ``http.server`` over a SearchEngine whose
LocalExecutor answers each request driver-side in milliseconds — no Spark job
per request, matching the reference's always-on serving shape.

Routes:
    GET /search?q=...&size=k&page=n&lang=...&repo=...&distinct=true&
            prefix=false&near=...&mark=...&verbose=true&snippet=true|N&
            explain=true&class=X[&class=Y]&no_class=Z&classify=true
        snippet=true|N (<= 5): per-hit best matching lines with <em>-marked
        terms (ES highlight analog; requires a store_content index)
        explain=true: per-hit per-term BM25 contributions (ES Explain-API
        analog) — term, clause, raw contrib, weighted contrib
        facet=key (repeatable, with facet_size=N): terms-agg buckets over
        the FULL match set of the winning rung (ES aggregations-on-query
        analog) — repo/path/lang on a serving node, any docs column on
        Spark
        class params (SearchAPIAdapter.java:48-55,81-85): ``class`` is the
        poiclass[] analog (one value filters, several boost — the two-phase
        fold's rule), ``no_class`` the no_poi class-exclusion analog, and
        ``classify=true`` runs the two-phase class-dimension plan (matched
        dimension tokens demote to optional, matched class filters/boosts)
    GET /classes / GET /classes/{id}
        dimension browse — the osmdoc hierarchy/poi-class analog
        (REServerRoutes.java:52-62, OSMDocAPI.java:12-40)
    GET /ui?q=...
        minimal server-rendered HTML results page (SearchHtml analog)
        -> the ``search_response`` envelope (parsed_query, total_hits +
           relation, trimmed, answer_time_ms, hits with matched_queries[]);
           ``page`` is the reference's 1-based from/size offset paging
           (PAGE_PARAM) — keyset pagination (search_after) remains the
           scale form
    POST /sendq  body {"groups": [{"group_id", "terms", "required"?,
            "weight"?, "term_weights"?, "name"?}], "msm"?, "k"?, "lang"?,
            "repo"?, "distinct"?, "near"?}
        -> raw structured query executed directly against the executor,
           bypassing the analyzer ladder — the SendQAPI analog
           (api/SendQAPI.java wraps a raw ES query body verbatim;
           REServerRoutes.java:69)
    GET /count?q=...&lang=...&repo=...
        exact match count of the ladder's winning rung (ES _count /
        track_total_hits analog); /search also takes track_total=true
    GET /mlt?text=...|doc_id=N&max_terms=25&size=10
        more-like-this (ES _mlt analog): top tf-idf terms of the input (or
        of the seed doc's stored content; the seed is dropped from the
        page) searched with a 30% minimum_should_match
    GET /stats?key=lang&min_doc_count=1&size=10
        -> histogram over an arbitrary docs metadata column — the generic
           tag-statistics endpoint (api/stats/TagStatisticsAPI.java:44-100
           serves aggs over arbitrary more_tags.* keys with
           minDocCount/size)
    GET /termvectors?doc_id=N
        per-doc (term, tf, df) from the stored-content sidecar — the ES
        _termvectors analog; point read, k-bounded
    GET /spell?q=...&size=K
        did-you-mean (ES term-suggester analog): OOV tokens -> OSA<=1
        dictionary suggestions ranked by df + the assembled corrected query
    POST /msearch   NDJSON of /search-param objects, one envelope per line
        (ES _msearch analog; per-line error isolation)
    POST /bulk      NDJSON documents (repo/path/commit/lang/content) -> one
        new segment generation + live engine reopen (ES _bulk + refresh
        analog; Spark-backed servers only — started with an index path)
    /search also takes rescore_q=TEXT&rescore_w=F&rescore_window=N — the ES
        rescore-API analog (secondary-query window re-ranking)
    GET /healthz -> {"ok": true}

Hardening parity (``make_server`` kwargs):
    ``auth="user:pass"``   HTTP Basic auth on every route except /healthz —
                           the BasikAuthPreprocessor analog
                           (server/BasikAuthPreprocessor.java)
    ``cors_origin="*"``    Access-Control-Allow-Origin on every response —
                           the AllowOriginPP analog
                           (server/postprocessor/AllowOriginPP.java)
    Last-Modified          sent on every 200 from the index build time
                           (index_meta.json mtime), with If-Modified-Since
                           -> 304 — the LastModifiedHeaderPostprocessor
                           analog

Concurrency: ThreadingHTTPServer accepts connections concurrently, but the
engine's LocalExecutor caches (block/payload/expansion/doc-meta LRUs, byte
counters) are single-threaded state — every engine call is serialized behind
one lock (ADVICE r3: concurrent eviction races could pop a term another
request was reading). IO-bound handlers (slow clients) still overlap; a
multi-core serving node runs one process per shard, as the sharding bench
does.
"""

from __future__ import annotations

import base64
import json
import os
import sys
import threading
from dataclasses import replace
from time import perf_counter as _now
from email.utils import formatdate, parsedate_to_datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


# ES index.max_result_window default: the deepest size*page any one
# /search request may demand (keyset paging is the unbounded-depth form)
MAX_RESULT_WINDOW = 10_000


def _endpoint(url: str, name: str, method: str = "GET", **params) -> dict:
    """One EndpointMeta row (api/meta/EndpointMeta.java:13-31): url + human
    name + ordered {parameter: description} map (the reference keeps a
    LinkedHashMap for declaration order; dicts preserve it here)."""
    return {"url": url, "name": name, "method": method, "parameters": params}


#: Self-describing API registry (EndpointMeta / QueryParameter analog —
#: api/meta/EndpointMeta.java, api/meta/QueryParameter.java: the reference
#: reflects @QueryParameter-annotated constants into a url/name/parameters
#: listing). Served verbatim at GET /api.
API_ENDPOINTS: tuple[dict, ...] = (
    _endpoint(
        "/search", "ranked full-text search",
        q="query string (analyzed; quotes = phrase, '-w' = must_not, "
          "trailing '*' = prefix)",
        size="page size (1..1000; default = serving k)",
        page="1-based offset page; size*page capped at the result window "
             "— use search_after for unbounded depth",
        lang="hard language/class filter (term exact)",
        **{"class": "repeatable poiclass[] analog: one value filters, "
                    "several become boosts",
           "no_class": "repeatable class exclusion (no_poi analog)",
           "not": "repeatable must_not word (analyzed)"},
        demote="repeatable negative-boost word (boosting-query analog)",
        demote_factor="score multiplier for demoted matches (default 0.5)",
        tie_breaker="dis_max tie_breaker in [0,1] (0 = pure max)",
        fuzziness="0|1|2|auto max edits per term on the fuzzy rung",
        repo="refs containment filter (repo equality)",
        path_prefix="path starts-with filter",
        distinct="true = collapse duplicate-name hits (distinct ordinal)",
        collapse="field collapsing: keep each key value's best hit",
        prefix="true|false: last-token prefix expansion",
        near="path-proximity re-sort anchor (lat/lon distance-sort analog)",
        timeout_ms="best-effort budget; partial results + timed_out flag",
        terminate_after="deterministic collection cut + terminated_early",
        classify="true = two-phase class-dimension search",
        mark="opaque client token echoed back (mark header analog)",
        verbose="true = full doc detail per hit (verbose_address analog)",
        snippet="true|N best matching lines per hit (highlight analog)",
        explain="true = per-term BM25 contributions per hit",
        facet="repeatable terms-agg key over the full match set",
        facet_size="buckets per facet key (1..100, default 10)",
        track_total="true = exact match count instead of gte page total",
        rescore_q="secondary query re-ranking the top window",
        rescore_window="rescore depth (1..10000, default 100)",
        rescore_w="rescore weight (default 1.0)",
        profile="true = block decode/skip deltas for this answer",
        after="keyset cursor '<score>,<doc_id>' (search_after analog)",
        sort="asc|desc secondary doc_id order within equal scores",
    ),
    _endpoint("/suggest", "term-dictionary autocomplete",
              q="prefix to complete", size="completions (default 15)"),
    _endpoint("/near", "unordered proximity search",
              q="terms (all required within the window)",
              window="max token span (default 4)", size="page size"),
    _endpoint("/sorted", "field-ordered match set with keyset paging",
              q="query string", by="sort field (path | repo | doc_id)",
              size="page size", after="keyset cursor (last field value)"),
    _endpoint("/mapping", "index settings + field mapping (GET _mapping)"),
    _endpoint("/segments", "per-generation segment stats (GET _segments)"),
    _endpoint("/mlt", "more-like-this", doc_id="seed document id",
              like="verbatim seed text (alternative to doc_id)",
              max_terms="query terms mined from the seed (default 12)",
              size="page size"),
    _endpoint("/count", "exact match count (GET _count)",
              q="query string", lang="class filter", repo="repo filter"),
    _endpoint("/composite", "paged composite aggregation",
              q="query string", key="repeatable bucket key",
              size="buckets per page", after="composite key cursor"),
    _endpoint("/tophits", "per-bucket best hits", q="query string",
              key="bucket key", n="hits per bucket"),
    _endpoint("/facetcard", "per-bucket cardinality", q="query string",
              key="bucket key", metric="distinct-counted field"),
    _endpoint("/sigtext", "significant text of the best hits (ES sampler + "
                          "significant_text; needs a store_content index)",
              q="query string", size="terms returned (default 10)",
              sample="best hits re-analyzed (1..200, default 50)",
              min_doc_count="minimum sample df per term (default 2)",
              lang="class filter", repo="repo filter"),
    _endpoint("/sigmeta", "significant keyword-field values of the match "
                          "set (ES significant_terms on a keyword field)",
              q="query string", key="docs metadata column (default lang)",
              size="values returned (default 10)",
              min_doc_count="minimum match-set df per value (default 2)"),
    _endpoint("/explain", "why does THIS doc match/not match (GET "
                          "_explain/{id}): per-term BM25 contributions + "
                          "msm verdict for an arbitrary document",
              q="query string", doc_id="document id",
              lang="class filter", repo="repo filter"),
    _endpoint("/termvectors", "stored term vector for one document",
              doc_id="document id"),
    _endpoint("/doc", "single-document fetch (GET _doc/{id})",
              id="document id",
              content="false = omit stored content (default true)",
              index="federated index name (default: the primary)",
              fields="_source_includes projection (comma-separated; "
                     "doc_id always kept)"),
    _endpoint("/mget", "multi-document fetch (GET _mget)",
              ids="comma-separated ids (or repeated id=; cap 1000)",
              content="false = omit stored content (default true)",
              index="federated index name (default: the primary)",
              fields="_source_includes projection (comma-separated; "
                     "doc_id always kept)"),
    _endpoint("/spell", "did-you-mean suggestions", q="query string",
              mode="term|phrase (phrase = whole-query rewrites)",
              size="suggestions (default 5)"),
    _endpoint("/analyze", "analyzer debug (GET _analyze)",
              q="text to run through the index analyzer"),
    _endpoint("/stats", "terms aggregation / corpus stats",
              key="group-by key (lang | repo | ...)",
              min_doc_count="minimum bucket size", size="bucket count",
              numeric="true = stats+percentiles over a numeric column "
                      "(count/min/max/sum/mean/p50/p95)"),
    _endpoint("/classes", "class-dimension browse (OSMDocAPI analog); "
                          "/classes/{id} looks one class up"),
    _endpoint("/knn", "vector sidecar cosine KNN (lang/repo = the ES "
                      "filtered-kNN pre-filter)", q="query text",
              size="neighbors", lang="class filter", repo="repo filter"),
    _endpoint("/hybrid", "BM25 + KNN reciprocal-rank fusion (lang/repo "
                         "scope BOTH legs)",
              q="query text", size="page size",
              lang="class filter", repo="repo filter"),
    _endpoint("/fsearch", "federated multi-index search",
              q="query string", index="restrict to one named index",
              size="merged page size"),
    _endpoint("/ui", "HTML results page (SearchHtml analog)",
              q="query string"),
    _endpoint("/validate", "query plan validation without execution "
                           "(GET _validate/query; POST body = ES DSL)",
              q="query string", prefix="true|false trailing-token prefix",
              fuzziness="0|1|2|auto (reported, rung-2 only)"),
    _endpoint("/field_caps", "field capabilities (GET _field_caps): term "
                             "namespaces + docs-store columns with "
                             "searchable/filterable/aggregatable flags"),
    _endpoint("/healthz", "liveness probe (never auth-gated)"),
    _endpoint("/api", "this endpoint registry"),
    _endpoint("/sendq", "stored-query registry search (SendQAPI analog)",
              method="POST"),
    _endpoint("/msearch", "NDJSON multi-search (POST _msearch)",
              method="POST"),
    _endpoint("/bulk", "NDJSON live segment ingest + deletes (POST _bulk: "
                       "bare document lines, or {\"index\":{}} / "
                       "{\"delete\":{repo,path}} action lines)",
              method="POST"),
    _endpoint("/rank_eval", "rated-query evaluation (POST _rank_eval)",
              method="POST"),
    _endpoint("/dsl", "ES query-DSL passthrough", method="POST"),
    _endpoint("/percolate", "reverse search: doc against stored queries",
              method="POST"),
)


def classify_agent(user_agent: str | None) -> str:
    """Access-log marker from the User-Agent (HttpLogger.java:44-60: the
    reference tags each access-log line HUMAN / BOT.GOOGLE / BOT.YANDEX /
    BOT.BING by UA substring so bot traffic can be split out of latency
    stats downstream)."""
    ua = user_agent or ""
    if "Googlebot" in ua:
        return "BOT.GOOGLE"
    if "YandexBot" in ua:
        return "BOT.YANDEX"
    if "msnbot" in ua or "BingPreview" in ua or "bingbot" in ua:
        return "BOT.BING"
    return "HUMAN"


def _index_mtime(engine) -> float | None:
    """Index build time for the Last-Modified header, from index metadata
    file mtimes (works for both Spark-backed and Spark-free engines)."""
    try:
        root = engine.index.paths.root
    except AttributeError:
        return None
    for rel in ("index_meta.json", "manifest/_SUCCESS", "corpus_stats/_SUCCESS"):
        p = os.path.join(root, rel)
        if os.path.exists(p):
            return os.path.getmtime(p)
    return None


def _snippet_lines(v: str) -> int:
    """snippet param -> line count: 'true' = 1, integer N = min(N, 5),
    anything else = 0 (off)."""
    v = (v or "").lower()
    if v == "true":
        return 1
    try:
        return max(0, min(int(v), 5))
    except ValueError:
        return 0


def _parse_fuzziness(v: str | int) -> int | str:
    """fuzziness=0|1|2|auto query/CLI parameter -> SearchOptions value
    (validation itself happens in engine.resolve_fuzziness)."""
    s = str(v).strip().lower()
    return "auto" if s == "auto" else int(s)


class _UnknownIndex(LookupError):
    """index=NAME named no known index — the routes' 404, kept distinct
    from internal KeyErrors so corruption never masquerades as not-found."""


def _fields_param(qs) -> list[str] | None:
    """fields= (repeatable or comma-separated) -> the ES _source_includes
    projection for doc fetches; None = all stored fields."""
    raw = [x for chunk in (qs.get("fields") or []) for x in chunk.split(",")]
    vals = [x.strip() for x in raw if x.strip()]
    return vals or None


def _not_param_terms(words) -> tuple[str, ...]:
    """not=WORD params -> analyzed excluded terms (cli._not_terms twin)."""
    if not words:
        return ()
    from gazetteer_search_spark.analyzer.query_ir import extract_negations

    _, terms = extract_negations(" ".join(f"-{w}" for w in words))
    return terms


def _filter_opts(default_opts, qs):
    """A match-set route's filters: lang / repo / path_prefix (an absent
    param keeps the serving default, where a filtered alias puts its scope)
    and not=WORD exclusions — the same filters /search applies."""
    return replace(
        default_opts,
        lang=(qs.get("lang") or [default_opts.lang])[0],
        repo=(qs.get("repo") or [default_opts.repo])[0],
        path_prefix=(qs.get("path_prefix") or [default_opts.path_prefix])[0],
        exclude_terms=_not_param_terms(qs.get("not")),
    )


def _make_handler(
    engine, default_opts, auth=None, cors_origin=None, index_path=None,
    alias_path=None, reopen=None, federated=None, access_log=None,
    slow_ms=None,
):
    lock = threading.Lock()
    # access log writes are single lines behind their own lock so concurrent
    # handler threads never interleave mid-line (HttpLogger is the analog;
    # RestExpress serializes through slf4j there)
    log_lock = threading.Lock()
    mtime = _index_mtime(engine)
    # alias hot-swap (ES zero-downtime flow): when the server was started
    # on an ALIAS file, each request stats it (one os.stat — cheap) and a
    # repointed alias reopens the engine over the new target under the
    # lock; in-flight requests finish on the handle they grabbed, exactly
    # the ES behavior. /bulk follows the swap too (index_path tracks it).
    # swap detection keys on (st_ino, st_mtime_ns): set_alias writes via
    # tmp+rename so every repoint is a NEW inode — two repoints inside one
    # coarse-mtime tick (1s NFS) still differ by inode, where bare st_mtime
    # would permanently miss the second swap.
    def _alias_sig():
        st = os.stat(alias_path)
        return (st.st_ino, st.st_mtime_ns)

    alias_sig = None
    current_target = None
    knn_handle = None  # lazy KnnIndex over the vector sidecar (if built)
    # filtered alias (ES multi-tenancy pattern): the alias chain's merged
    # lang/repo/path_prefix scope becomes the serving default; base_opts is
    # the pre-alias baseline a repoint resets against (a repoint may change
    # or DROP the filter without changing the target)
    from dataclasses import replace as _dc_replace

    base_opts = default_opts

    def _with_filter(opts):
        from gazetteer_search_spark.index.alias import resolve_filter

        flt = resolve_filter(alias_path)
        return _dc_replace(opts, **flt) if flt else opts

    if alias_path is not None:
        try:
            alias_sig = _alias_sig()
            from gazetteer_search_spark.index.alias import resolve_index

            current_target = resolve_index(alias_path)
            default_opts = _with_filter(base_opts)
        except (OSError, ValueError):
            alias_sig = None
    last_modified = formatdate(mtime, usegmt=True) if mtime else None
    # ES request-cache analog: full /search responses keyed by the raw
    # query string, validated against the index's Last-Modified stamp —
    # any ingest that advances the stamp (/bulk live reopen) invalidates
    # every entry at once, exactly the ES cache's refresh semantics. LRU,
    # bounded; disabled when the index carries no build-time stamp (no
    # way to validate). `answer_time_ms` is the ORIGINAL computation's
    # time on a hit (ES caches `took` the same way); X-Cache: HIT|MISS.
    from collections import OrderedDict as _OD

    req_cache: dict = _OD()
    REQ_CACHE_MAX = 256
    auth_header = (
        "Basic " + base64.b64encode(auth.encode("utf-8")).decode("ascii")
        if auth
        else None
    )

    class Handler(BaseHTTPRequestHandler):
        def _send(
            self, code: int, payload: dict, cache: str | None = None
        ) -> None:
            body = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            if cors_origin:
                self.send_header("Access-Control-Allow-Origin", cors_origin)
            if last_modified and code == 200:
                self.send_header("Last-Modified", last_modified)
            if cache is not None:
                self.send_header("X-Cache", cache)
            self.end_headers()
            self.wfile.write(body)

        def _authorized(self) -> bool:
            """Basic auth gate (except /healthz); 401 + WWW-Authenticate on
            missing/wrong credentials, exactly the RestExpress preprocessor
            contract."""
            if auth_header is None:
                return True
            if self.headers.get("Authorization") == auth_header:
                return True
            body = b'{"error": "unauthorized"}'
            self.send_response(401)
            self.send_header("WWW-Authenticate", 'Basic realm="gss"')
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            if cors_origin:
                self.send_header("Access-Control-Allow-Origin", cors_origin)
            self.end_headers()
            self.wfile.write(body)
            return False

        def _not_modified_short_circuit(self) -> bool:
            """If-Modified-Since >= index build time -> 304 with no body (the
            LastModifiedHeaderPostprocessor conditional-GET contract)."""
            if not last_modified:
                return False
            ims = self.headers.get("If-Modified-Since")
            if not ims:
                return False
            try:
                if (
                    parsedate_to_datetime(ims)
                    >= parsedate_to_datetime(last_modified)
                ):
                    self.send_response(304)
                    if cors_origin:
                        self.send_header(
                            "Access-Control-Allow-Origin", cors_origin
                        )
                    self.end_headers()
                    return True
            except (TypeError, ValueError):
                return False
            return False

        def _search_response(self, qs) -> dict:
            """Shared /search core (JSON route and the HTML page both use
            it): param adaptation + class-dimension wiring + engine call.
            Runs inside the caller's try; raises on bad params."""

            def _one(name, default=None):
                v = qs.get(name)
                return v[0] if v else default

            # ES's index.max_result_window rule: size and size*page are
            # bounded so one request can't demand an arbitrarily large
            # top-k (unbounded driver-side heap + serialization)
            size = max(1, min(int(_one("size", default_opts.k)), 1000))
            # page is NOT pre-clamped: an over-deep request must hit the
            # window error below, not silently serve the clamp page's data
            page = max(1, int(_one("page", 1)))
            if size * page > MAX_RESULT_WINDOW:
                raise ValueError(
                    f"size*page ({size * page}) exceeds the result window "
                    f"({MAX_RESULT_WINDOW}) — use search_after keyset "
                    "paging for unbounded depth"
                )
            # class-filter params (SearchAPIAdapter.java:48-55,81-85):
            #   class=X (repeatable)    poiclass[] analog — one value is a
            #                           hard filter, several become boosts
            #                           (the two-phase fold's own rule)
            #   no_class=X (repeatable) no_poi analog — class exclusion
            classes = qs.get("class") or []
            # absent request params FALL BACK to the serving defaults (a
            # filtered alias installs its tenant scope there) instead of
            # clobbering them with None
            lang = _one("lang", default_opts.lang)
            lang_boosts = dict(default_opts.lang_boosts)
            if len(classes) == 1:
                lang = classes[0]
            elif classes:
                lang_boosts.update({c: 1.5 for c in classes})
            opts = replace(
                default_opts,
                # from/size offset paging (PAGE_PARAM): fetch page*size,
                # return the last `size` — the reference pages the same
                # way; keyset (search_after) is the unbounded-depth form
                k=size * page,
                lang=lang,
                lang_boosts=lang_boosts,
                exclude_langs=tuple(qs.get("no_class") or ()),
                # not=WORD (repeatable): must_not clause — same analyzed
                # expansion as inline -WORD query syntax (BooleanPart
                # must_not analog)
                exclude_terms=_not_param_terms(qs.get("not") or ()),
                # demote=WORD (repeatable) + demote_factor=F: negative
                # boost (ES boosting-query analog) — matches stay, score
                # multiplies by the factor before the k-cut
                demote_terms=_not_param_terms(qs.get("demote") or ()),
                demote_factor=float(_one("demote_factor", "0.5")),
                # tie_breaker=F: ES dis_max/multi_match tie_breaker — a
                # group scores max + F * (sum of losing variants)
                tie_breaker=float(_one("tie_breaker", "0")),
                # fuzziness=0|1|2|auto: max edits per term on the fuzzy
                # rung (ES fuzziness param; auto = the ES AUTO ladder)
                fuzziness=_parse_fuzziness(
                    _one("fuzziness", str(default_opts.fuzziness))
                ),
                repo=_one("repo", default_opts.repo),
                path_prefix=_one("path_prefix", default_opts.path_prefix),
                distinct=_one("distinct", "false").lower() == "true",
                # collapse=KEY: ES field-collapsing — keep each key value's
                # best-scoring hit (repo / path / lang)
                collapse=_one("collapse"),
                prefix=_one("prefix", str(default_opts.prefix)).lower()
                == "true",
                # lat/lon distance-sort analog (SearchAPIAdapter
                # LAT_PARAM/LON_PARAM): closer-in-the-tree wins ties
                near_path=_one("near"),
                # ES budget params: timeout (ms, best-effort partials +
                # timed_out flag) and terminate_after (deterministic
                # collection cut + terminated_early flag)
                timeout_ms=(
                    float(_one("timeout_ms")) if _one("timeout_ms") else None
                ),
                # ES semantics: terminate_after=0 (or absent) = disabled
                terminate_after=(
                    int(_one("terminate_after"))
                    if _one("terminate_after")
                    and int(_one("terminate_after")) > 0
                    else None
                ),
            )
            q = _one("q", "")
            # classify=true: two-phase class-dimension search — query
            # tokens probed against the lang-class dimension; a matched
            # class becomes a filter/boost and its token goes optional
            # (ESDefaultSearch.java:90-100 wired into the route)
            if _one("classify", "false").lower() == "true":
                from gazetteer_search_spark.sources.dims import LANG_CLASS_ROWS

                q, opts = engine.two_phase_plan_rows(q, LANG_CLASS_ROWS, opts)
            with lock:
                resp = engine.search_response(
                    q,
                    opts,
                    # mark: opaque client token echoed back (the
                    # reference's "mark" header); verbose: full doc
                    # detail per hit (verbose_address analog)
                    mark=_one("mark"),
                    verbose=_one("verbose", "false").lower() == "true",
                    # snippet=true|N: per-hit best matching lines with
                    # <em>-marked terms (ES highlight analog; needs a
                    # store_content index), capped at 5 lines per hit
                    snippet_lines=_snippet_lines(_one("snippet", "false")),
                    # explain=true: per-hit per-term BM25 contributions
                    # (ES Explain-API analog; a <= k block point-lookup)
                    explain=_one("explain", "false").lower() == "true",
                    # facet=key (repeatable): terms-agg buckets over the
                    # FULL match set (ES aggregations-on-query analog)
                    facet_keys=tuple(qs.get("facet") or ()),
                    facet_size=max(
                        1, min(int(_one("facet_size", "10")), 100)
                    ),
                    # track_total=true: exact match count instead of the
                    # 'gte' page total (track_total_hits=true analog)
                    track_total=_one("track_total", "false").lower() == "true",
                    # rescore_q=TEXT (+ rescore_w, rescore_window): re-rank
                    # the winning rung's top-window with the secondary
                    # query folded in (ES rescore-API analog)
                    rescore_q=_one("rescore_q"),
                    rescore_window=max(
                        1, min(int(_one("rescore_window", "100")), 10_000)
                    ),
                    rescore_weight=float(_one("rescore_w", "1.0")),
                    # profile=true: serving-tier block decode/skip deltas
                    # for THIS answer (ES profile-API analog)
                    profile=_one("profile", "false").lower() == "true",
                )
            if page > 1:
                resp["page"] = page
                resp["hits"] = resp["hits"][(page - 1) * size :]
            return resp

        def _send_html(self, code: int, html: str) -> None:
            body = html.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            if cors_origin:
                self.send_header("Access-Control-Allow-Origin", cors_origin)
            self.end_headers()
            self.wfile.write(body)

        def _maybe_swap(self) -> None:
            """Follow an alias repoint: reopen over the new target once,
            invalidate the request cache, advance the Last-Modified stamp.
            A broken alias (dangling target, cycle) must NOT take the node
            down — serve the handle we already hold and retry next request."""
            nonlocal engine, mtime, last_modified, alias_sig
            nonlocal current_target, index_path, knn_handle, default_opts
            if alias_path is None or reopen is None:
                return
            try:
                m = _alias_sig()
            except OSError:
                return
            if m == alias_sig:
                return
            with lock:
                try:
                    m = _alias_sig()
                except OSError:
                    return
                if m == alias_sig:
                    return  # another thread already swapped
                from gazetteer_search_spark.index.alias import resolve_index

                try:
                    tgt = resolve_index(alias_path)
                    new_opts = _with_filter(base_opts)
                except (ValueError, OSError) as exc:
                    # dangling/cyclic alias: keep serving the open engine
                    # (the ES behavior — in-flight + new requests stay on
                    # the old index until the alias is fixed); alias_sig is
                    # NOT advanced, so every request retries the resolve.
                    self.log_message("alias swap deferred: %s", exc)
                    return
                if tgt != current_target:
                    engine = reopen(tgt)
                    current_target = tgt
                    index_path = tgt
                    knn_handle = None
                    import time as _time

                    mtime = _time.time()
                    last_modified = formatdate(mtime, usegmt=True)
                    req_cache.clear()
                if new_opts != default_opts:
                    # filter-only repoint (same target, new/dropped tenant
                    # scope): cached pages were computed under the OLD
                    # scope — invalidate
                    default_opts = new_opts
                    req_cache.clear()
                alias_sig = m

        def do_GET(self) -> None:  # noqa: N802 — http.server API
            self._t0 = _now()
            self._maybe_swap()
            u = urlparse(self.path)
            if u.path == "/healthz":
                self._send(200, {"ok": True})
                return
            if not self._authorized():
                return
            if u.path == "/api":
                # EndpointMeta analog: the self-describing endpoint
                # registry (url + name + ordered parameter descriptions)
                self._send(200, {"endpoints": list(API_ENDPOINTS)})
                return
            if u.path == "/stats":
                self._do_stats(u)
                return
            if u.path == "/classes" or u.path.startswith("/classes/"):
                self._do_classes(u)
                return
            if u.path in ("/", "/ui"):
                self._do_html(u)
                return
            if u.path == "/suggest":
                self._do_suggest(u)
                return
            if u.path == "/near":
                self._do_near(u)
                return
            if u.path == "/sorted":
                self._do_sorted(u)
                return
            if u.path == "/mapping":
                self._do_mapping(u)
                return
            if u.path == "/segments":
                self._do_segments(u)
                return
            if u.path == "/mlt":
                self._do_mlt(u)
                return
            if u.path == "/count":
                self._do_count(u)
                return
            if u.path == "/composite":
                self._do_composite(u)
                return
            if u.path == "/tophits":
                self._do_tophits(u)
                return
            if u.path == "/facetcard":
                self._do_facetcard(u)
                return
            if u.path == "/sigtext":
                self._do_sigtext(u)
                return
            if u.path == "/sigmeta":
                self._do_sigmeta(u)
                return
            if u.path == "/explain":
                self._do_explain(u)
                return
            if u.path == "/termvectors":
                self._do_termvectors(u)
                return
            if u.path == "/doc":
                self._do_doc(u)
                return
            if u.path == "/mget":
                self._do_mget(u)
                return
            if u.path == "/spell":
                self._do_spell(u)
                return
            if u.path == "/analyze":
                self._do_analyze(u)
                return
            if u.path == "/knn":
                self._do_knn(u)
                return
            if u.path == "/fsearch":
                if self._authorized():
                    self._do_fsearch(u)
                return
            if u.path == "/hybrid":
                self._do_hybrid(u)
                return
            if u.path == "/validate":
                self._do_validate_get(u)
                return
            if u.path == "/field_caps":
                self._do_field_caps(u)
                return
            if u.path != "/search":
                self._send(
                    404,
                    {
                        "error": "not found",
                        "routes": [
                            "/search", "/suggest", "/near", "/sorted",
                            "/mapping", "/segments", "/mlt",
                            "/count", "/composite", "/tophits", "/facetcard",
                            "/sigtext", "/sigmeta", "/explain",
                            "/termvectors", "/spell", "/analyze", "/stats",
                            "/classes", "/ui", "/knn", "/hybrid", "/api",
                            "/doc", "/mget", "/validate", "/field_caps"
                        ],
                    },
                )
                return
            if self._not_modified_short_circuit():
                return
            try:
                # capture the stamp BEFORE computing: a concurrent /bulk
                # ingest or alias swap mid-compute advances last_modified,
                # and storing the pre-swap response under the NEW stamp
                # would poison the cache with stale hits — a response is
                # stored under the stamp of the index state it was
                # computed against, and reads validate against the CURRENT
                # stamp, so the stale entry simply never hits
                stamp = last_modified
                if stamp is not None:
                    with lock:
                        ent = req_cache.get(u.query)
                        if ent is not None and ent[0] == last_modified:
                            req_cache.move_to_end(u.query)
                            payload = ent[1]
                        else:
                            payload = None
                    if payload is not None:
                        self._send(200, payload, cache="HIT")
                        return
                resp = self._search_response(parse_qs(u.query))
                # never cache a timed-out partial page (the ES request
                # cache's own rule): the next identical request should get
                # a fresh shot at completing within its budget
                if stamp is not None and not resp.get("timed_out"):
                    with lock:
                        req_cache[u.query] = (stamp, resp)
                        while len(req_cache) > REQ_CACHE_MAX:
                            req_cache.popitem(last=False)
                self._send(200, resp, cache="MISS")
            except Exception as e:  # surface the reason, keep serving
                self._send(400, {"error": str(e)})

        def _do_analyze(self, u) -> None:
            """ES _analyze API analog: GET /analyze?text=...&prefix=true —
            the index-side token stream and the query-side IR (variants,
            optional marking, removal) under THIS index's persisted analyzer
            rules. Driver-side string work only."""
            qs = parse_qs(u.query)
            text = (qs.get("text") or qs.get("q") or [""])[0]
            if not text:
                self._send(400, {"error": "missing text= parameter"})
                return
            prefix = (qs.get("prefix") or ["false"])[0].lower() == "true"
            self._send(200, engine.analyze(text, prefix=prefix))

        def _do_spell(self, u) -> None:
            """Did-you-mean route (ES term-suggester analog): GET
            /spell?q=...&size=K returns per-token OSA<=1 dictionary
            suggestions plus the assembled corrected query — dictionary-only
            work, zero postings decode."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "q parameter required"})
                return
            try:
                k = max(1, min(int((qs.get("size") or ["3"])[0]), 10))
                phrase = (
                    qs.get("mode") or ["term"]
                )[0].lower() == "phrase"
                collate = (
                    qs.get("collate") or ["false"]
                )[0].lower() == "true"
                # compute under the lock, SEND after releasing it (every
                # route's rule — a stalled client consuming the response
                # must not hold the engine lock)
                with lock:
                    if phrase:
                        # ES phrase-suggester: whole-query rewrites ranked
                        # by the smoothed unigram LM (engine.phrase_suggest)
                        sug = engine.phrase_suggest(q, k=k, collate=collate)
                        resp = {
                            "suggestions": [
                                {"text": p, "score": s} for p, s in sug
                            ]
                        }
                    else:
                        resp = engine.spell_suggest(q, k=k)
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, {"query": q, **resp})

        def _do_termvectors(self, u) -> None:
            """Term-vectors route (ES _termvectors analog): GET
            /termvectors?doc_id=N returns (term, tf, df) for one stored
            document — a point content read + index-kernel re-analysis +
            dictionary df lookup, k-bounded."""
            qs = parse_qs(u.query)
            raw = (qs.get("doc_id") or [None])[0]
            if raw is None:
                self._send(400, {"error": "doc_id parameter required"})
                return
            try:
                did = int(raw)
                with lock:
                    rows = engine.term_vectors(did)
            except KeyError as e:
                self._send(404, {"error": str(e)})
                return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "doc_id": did,
                    "terms": [
                        {"term": t, "tf": tf, "df": df} for t, tf, df in rows
                    ],
                },
            )

        def _primary_name(self) -> str:
            """The live primary's addressable name (basename of the
            CURRENT index_path — hot-swaps repoint it). Callers must hold
            ``lock``: index_path is reassigned by _maybe_swap under it."""
            return (
                os.path.basename(index_path.rstrip("/"))
                if index_path
                else "primary"
            )

        def _pick_doc_engine(self, qs):
            """index=NAME routes a doc fetch at a named federated index
            (the ES ``GET /{index}/_doc/{id}`` shape); absent -> the
            hot-swappable primary, pinned under the lock. Raises
            _UnknownIndex on an unknown name (routes map it to 404) —
            never bare KeyError, which the routes' generic handler would
            misreport."""
            name = (qs.get("index") or [None])[0]
            with lock:  # index_path and engine both swap under this lock
                primary_name = self._primary_name()
                if federated and primary_name in federated:
                    # same invariant /fsearch enforces: a federated entry
                    # must not SHADOW the live primary (cli serve forbids
                    # it; a direct make_server caller could still collide)
                    raise RuntimeError(
                        f"federated index {primary_name!r} shadows the "
                        "primary — rename the --also entry"
                    )
                if name is None or name == primary_name:
                    return engine
            if federated and name in federated:
                return federated[name]
            known = sorted({primary_name, *(federated or {})})
            raise _UnknownIndex(
                f"unknown index {name!r}; known: {', '.join(known)}"
            )

        def _do_doc(self, u) -> None:
            """Single-document fetch (ES ``GET _doc/{id}`` analog): GET
            /doc?id=N[&content=false][&index=NAME] — stored fields of one
            LIVE document across all generations (tombstoned/missing ->
            404 with ``found: false``, the ES not-found body shape);
            ``index=`` addresses a federated index by name."""
            qs = parse_qs(u.query)
            raw = (qs.get("id") or [None])[0]
            if raw is None:
                self._send(400, {"error": "id parameter required"})
                return
            try:
                did = int(raw)
                content = (
                    (qs.get("content") or ["true"])[0].lower() == "true"
                )
                # pin the engine handle under the lock (a /bulk or alias
                # swap may replace it mid-request), but run the pyarrow
                # reads OUTSIDE it — fetch_docs touches no engine mutable
                # state, and seconds of disk I/O must not stall /search
                eng = self._pick_doc_engine(qs)
                docs = eng.get_docs(
                    [did], include_content=content,
                    columns=_fields_param(qs),
                )
            except _UnknownIndex as e:
                self._send(404, {"error": str(e)})
                return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            if did not in docs:
                self._send(404, {"doc_id": did, "found": False})
                return
            self._send(200, {"doc_id": did, "found": True, "doc": docs[did]})

        def _do_mget(self, u) -> None:
            """Multi-document fetch (ES ``_mget`` analog): GET
            /mget?ids=1,2,3 (or repeated id=) — one partition-pruned point
            read per generation for the whole batch; the response preserves
            REQUEST order with per-doc ``found`` flags (the _mget
            contract)."""
            qs = parse_qs(u.query)
            try:
                ids = [
                    int(x)
                    for chunk in (qs.get("ids") or []) + (qs.get("id") or [])
                    for x in chunk.split(",")
                    if x.strip()
                ]
                if not ids:
                    raise ValueError("ids parameter required (ids=1,2,3)")
                if len(ids) > 1000:
                    raise ValueError(
                        f"{len(ids)} ids exceeds the mget cap (1000)"
                    )
                content = (
                    (qs.get("content") or ["true"])[0].lower() == "true"
                )
                eng = self._pick_doc_engine(qs)  # I/O outside the lock
                docs = eng.get_docs(
                    ids, include_content=content, columns=_fields_param(qs)
                )
            except _UnknownIndex as e:
                self._send(404, {"error": str(e)})
                return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "docs": [
                        {"doc_id": i, "found": i in docs, **docs.get(i, {})}
                        for i in ids
                    ]
                },
            )

        def _do_count(self, u) -> None:
            """Exact-count route (ES _count analog): GET /count?q=... runs
            the ladder's winning rung and returns the FULL match count —
            no page, no scores. Filters (lang/repo/path_prefix/not) apply
            like /search's."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                opts = _filter_opts(default_opts, qs)
                n = None
                with lock:  # sends happen AFTER release (send-after-release rule)
                    _rows, meta = engine._search_ladder(q, opts)
                    if "msm" in meta:
                        n = engine.count_matches(
                            meta["groups"], meta["msm"], opts
                        )
                if n is None:
                    self._send(
                        400,
                        {"error": "exact count unsupported for this "
                                  "query shape (phrase rung)"},
                    )
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, {"query": q, "count": int(n), "relation": "eq"})

        def _do_composite(self, u) -> None:
            """Composite-agg route (ES composite analog): GET /composite?
            q=...&key=lang&key=repo&size=N&after_facet=F&after_value=V —
            buckets of the winning rung's FULL match set, key-ordered, with
            deterministic after-key paging. The response's last bucket is
            the next page's cursor."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            keys = tuple(qs.get("key") or ("lang",))
            size = int((qs.get("size") or ["10"])[0])
            af = (qs.get("after_facet") or [None])[0]
            av = (qs.get("after_value") or [None])[0]
            after = (af, av) if af is not None and av is not None else None
            try:
                opts = _filter_opts(default_opts, qs)
                rows = None
                with lock:  # sends happen AFTER release
                    _rows, meta = engine._search_ladder(q, opts)
                    if "msm" in meta:
                        rows = engine.composite_rows(
                            meta["groups"], meta["msm"], opts, keys, size,
                            after,
                        )
                if rows is None:
                    self._send(400, {"error": "unsupported query shape"})
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, {
                "query": q,
                "buckets": [
                    {"facet": f, "value": v, "doc_count": int(c)}
                    for f, v, c in rows
                ],
                "after": (
                    {"facet": rows[-1][0], "value": rows[-1][1]}
                    if rows else None
                ),
            })

        def _do_tophits(self, u) -> None:
            """Per-bucket top hits route (ES top_hits-inside-terms-agg
            analog): GET /tophits?q=...&key=lang&n=3 — each bucket's best-n
            docs of the FULL match set by the rank key."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            key = (qs.get("key") or ["lang"])[0]
            n = int((qs.get("n") or ["3"])[0])
            try:
                opts = _filter_opts(default_opts, qs)
                rows = None
                with lock:  # sends happen AFTER release
                    _rows, meta = engine._search_ladder(q, opts)
                    if "msm" in meta:
                        rows = engine.top_hits_rows(
                            meta["groups"], meta["msm"], opts, key, n
                        )
                if rows is None:
                    self._send(400, {"error": "unsupported query shape"})
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            buckets: dict[str, list] = {}
            for v, rk, d, sc in rows:
                buckets.setdefault(v, []).append(
                    {"bucket_rank": int(rk), "doc_id": int(d),
                     "score": round(float(sc), 4)}
                )
            self._send(200, {"query": q, "key": key, "buckets": buckets})

        def _do_facetcard(self, u) -> None:
            """Per-bucket cardinality route (ES terms-agg + cardinality
            sub-agg analog): GET /facetcard?q=...&key=lang&metric=repo —
            each bucket's doc count and distinct-metric count over the FULL
            match set."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            key = (qs.get("key") or ["lang"])[0]
            metric = (qs.get("metric") or ["repo"])[0]
            try:
                opts = _filter_opts(default_opts, qs)
                rows = None
                with lock:  # sends happen AFTER release
                    _rows, meta = engine._search_ladder(q, opts)
                    if "msm" in meta:
                        rows = engine.facet_cardinality_rows(
                            meta["groups"], meta["msm"], opts, key, metric
                        )
                if rows is None:
                    self._send(400, {"error": "unsupported query shape"})
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, {
                "query": q, "key": key, "metric": metric,
                "buckets": [
                    {"value": v, "doc_count": int(c), "n_distinct": int(d)}
                    for v, c, d in rows
                ],
            })

        def _do_sigtext(self, u) -> None:
            """Significant-text route (ES sampler + significant_text
            analog): GET /sigtext?q=...&sample=50&size=10 — terms
            over-represented in the stored content of the query's best
            ``sample`` hits relative to the corpus dictionary, JLH-scored.
            Bounded per request: ``sample`` point content reads + one
            term-dictionary df lookup per distinct sample term; no
            corpus-shaped work (that form is the Spark tier's
            significant_terms). 400 on a no-stored-content index, with the
            rebuild hint."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                sample = max(
                    1, min(int((qs.get("sample") or ["50"])[0]), 200)
                )
                mdc = max(
                    1, int((qs.get("min_doc_count") or ["2"])[0])
                )
                opts = _filter_opts(default_opts, qs)
                rows = None
                with lock:  # sends happen AFTER release
                    _rows, meta = engine._search_ladder(q, opts)
                    if "msm" in meta:
                        rows = engine.significant_text_rows(
                            meta["groups"], meta["msm"], opts,
                            sample_size=sample, size=size,
                            min_doc_count=mdc,
                        )
                if rows is None:
                    self._send(400, {"error": "unsupported query shape"})
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, {
                "query": q, "sample": sample,
                "terms": [
                    {"term": t, "fg_count": int(c), "bg_count": int(b),
                     "score": round(float(s), 6)}
                    for t, c, b, s in rows
                ],
            })

        def _do_sigmeta(self, u) -> None:
            """Significant keyword-field route (ES significant_terms on a
            keyword field): GET /sigmeta?q=...&key=lang — values of a docs
            metadata column over-represented in the match set vs the
            corpus, JLH-scored. One facet pass over the match set + the
            cached corpus value counts; unknown columns 400 with the
            available list (tag_stats' contract)."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            key = (qs.get("key") or ["lang"])[0]
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                mdc = max(
                    1, int((qs.get("min_doc_count") or ["2"])[0])
                )
                opts = _filter_opts(default_opts, qs)
                rows = None
                with lock:  # sends happen AFTER release
                    _rows, meta = engine._search_ladder(q, opts)
                    if "msm" in meta:
                        rows = engine.significant_meta_rows(
                            meta["groups"], meta["msm"], opts,
                            key=key, size=size, min_doc_count=mdc,
                        )
                if rows is None:
                    self._send(400, {"error": "unsupported query shape"})
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, {
                "query": q, "key": key,
                "values": [
                    {"value": v, "fg_count": int(c), "bg_count": int(b),
                     "score": round(float(s), 6)}
                    for v, c, b, s in rows
                ],
            })

        def _do_explain(self, u) -> None:
            """Single-document explain route (ES GET /{index}/_explain/{id}
            analog — the /search?explain=true form only covers RETURNED
            hits; this one answers for an arbitrary document, including a
            non-matching one): per-term BM25 contributions from the same
            k-bounded block point-lookup the envelope explain uses, plus
            the msm verdict ("matched") and the term-level score the doc
            would carry (sum over clauses of max weighted contribution —
            doc-side boosts/demotions excluded, like ES's per-field
            explanation). 404 for a doc_id that is missing or tombstoned."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            did = (qs.get("doc_id") or [None])[0]
            if not q or did is None:
                self._send(400, {"error": "need q= and doc_id="})
                return
            try:
                doc_id = int(did)
                opts = _filter_opts(default_opts, qs)
                out = None
                with lock:  # sends happen AFTER release
                    found = doc_id in engine.get_docs(
                        [doc_id], include_content=False
                    )
                    if found:
                        _rows, meta = engine._search_ladder(q, opts)
                        if "msm" in meta:
                            contribs = engine.explain_hits(
                                [doc_id], meta["groups"], opts
                            ).get(doc_id, [])
                            best: dict[int, float] = {}
                            for c in contribs:
                                g = int(c["group"])
                                best[g] = max(
                                    best.get(g, 0.0), float(c["weighted"])
                                )
                            req = {
                                g.group_id
                                for g in meta["groups"]
                                if g.required
                            }
                            n_req = len(req & set(best))
                            out = {
                                "doc_id": doc_id,
                                "query": q,
                                "matched": n_req >= int(meta["msm"]),
                                "matched_required": n_req,
                                "msm": int(meta["msm"]),
                                "score": round(sum(best.values()), 4),
                                "contributions": contribs,
                            }
                if not found:
                    self._send(404, {"error": "doc not found",
                                     "doc_id": doc_id})
                    return
                if out is None:
                    self._send(400, {"error": "unsupported query shape"})
                    return
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(200, out)

        def _do_mlt(self, u) -> None:
            """More-like-this route (ES _mlt analog): GET /mlt with either
            ``text=<free text>`` or ``doc_id=<id>`` (the latter needs a
            store_content index — the seed doc's stored content is the
            input, and the seed itself is dropped from the page);
            ``max_terms``/``size`` mirror max_query_terms and page size."""
            qs = parse_qs(u.query)
            text = (qs.get("text") or [""])[0]
            doc_id = (qs.get("doc_id") or [None])[0]
            if not text and doc_id is None:
                self._send(400, {"error": "need text= or doc_id="})
                return
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                max_terms = max(
                    1, min(int((qs.get("max_terms") or ["25"])[0]), 63)
                )
                seed = None
                # engine access serialized like every other route (the lazy
                # caches are not thread-safe; /bulk swaps the engine under
                # this same lock)
                missing = False
                with lock:  # sends happen AFTER release
                    if not text:
                        seed = int(doc_id)
                        content = engine._doc_content([seed])
                        missing = seed not in content
                        text = content.get(seed, "")
                    groups = (
                        engine.mlt_groups(text, max_terms)
                        if not missing
                        else []
                    )
                    opts = replace(
                        default_opts, k=size + (1 if seed is not None else 0)
                    )
                    rows = (
                        engine.search_rung_rows(
                            groups, max(1, int(0.3 * len(groups))), opts
                        )
                        if groups
                        else []
                    )
                if missing:
                    self._send(
                        404, {"error": f"doc {seed} has no stored content"}
                    )
                    return
                page_rows = [r for r in rows if r.doc_id != seed][:size]
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "selected_terms": [g.terms[0] for g in groups],
                    "total_hits": len(page_rows),
                    "hits": [
                        {
                            "doc_id": r.doc_id,
                            "score": round(float(r.score), 4),
                            "repo": r.repo,
                            "path": r.path,
                            "lang": r.lang,
                        }
                        for r in page_rows
                    ],
                },
            )

        def _do_near(self, u) -> None:
            """Unordered-proximity route (ES span_near in_order=false
            analog): GET /near?q=...&window=N&size=K — all analyzed terms
            within an N-position span in ANY order, BM25-ranked
            (engine.search_near_unordered_rows; needs a positions-sidecar
            index)."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                window = max(0, int((qs.get("window") or ["4"])[0]))
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                from gazetteer_search_spark.analyzer.tokenizer import (
                    tokenize_text,
                )

                terms = tokenize_text(q, joined_identifiers=False)
                with lock:
                    hits = engine.search_near_unordered_rows(
                        terms, window, replace(default_opts, k=size)
                    )
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "query": q,
                    "window": window,
                    "hits": [
                        {
                            "doc_id": int(h.doc_id),
                            "score": round(float(h.score), 4),
                            "repo": h.repo,
                            "path": h.path,
                        }
                        for h in hits
                    ],
                },
            )

        def _do_sorted(self, u) -> None:
            """Sort-by-field route (ES sort:[{field}] + search_after
            analog): GET /sorted?q=...&by=path&order=asc&size=K
            [&after_value=V&after_id=N] — the match set ordered by a doc
            field with keyset paging. Serving engines answer from the
            cached doc-values arrays (zero Spark jobs); the Spark
            formulation is the TakeOrdered over match_set."""
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                by = (qs.get("by") or ["path"])[0]
                order = (qs.get("order") or ["asc"])[0].lower()
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                av = (qs.get("after_value") or [None])[0]
                aid = (qs.get("after_id") or [None])[0]
                if av is not None and by == "doc_id":
                    av = int(av)  # numeric keyset cursor for the id sort
                after = (av, int(aid)) if av is not None and aid else None
                from gazetteer_search_spark.analyzer.tokenizer import (
                    tokenize_text,
                )
                from gazetteer_search_spark.search.engine import TermGroup

                terms = tokenize_text(q, joined_identifiers=False)
                groups = [
                    TermGroup(group_id=i, terms=(t,), required=True)
                    for i, t in enumerate(dict.fromkeys(terms))
                ]
                with lock:
                    res = engine.search_sorted(
                        groups, len(groups),
                        replace(default_opts, k=size),
                        by=by, ascending=order != "desc", after=after,
                    )
                    # serving engines without Spark return plain rows
                    rows = res if isinstance(res, list) else res.collect()
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "query": q, "by": by, "order": order,
                    "hits": [
                        {
                            "doc_id": int(r[0]), "repo": r[1],
                            "path": r[2], "lang": r[3],
                        }
                        for r in rows
                    ],
                },
            )

        def _do_suggest(self, u) -> None:
            """Autocomplete route: GET /suggest?q=<prefix>&size=N returns
            the top-N content-dictionary completions (df desc, term asc)
            with their doc frequencies — engine.suggest at the HTTP
            surface."""
            qs = parse_qs(u.query)
            prefix = (qs.get("q") or [""])[0]
            if not prefix:
                self._send(400, {"error": "missing q"})
                return
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                with lock:  # expansion caches mutate; engine may hot-swap
                    out = engine.suggest(prefix, size)
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "prefix": prefix,
                    "suggestions": [
                        {"term": t, "df": df} for t, df in out
                    ],
                },
            )

        def _do_classes(self, u) -> None:
            """Dimension browse endpoints — the osmdoc hierarchy/poi-class
            analog (server/REServerRoutes.java:52-62, api/osmdoc/
            OSMDocAPI.java:12-40 serve the class dimension the importer
            loaded at startup). /classes lists every class with the
            dimension terms that map to it; /classes/{id} is the single-
            class lookup (404 on unknown id)."""
            from gazetteer_search_spark.sources.dims import LANG_CLASS_ROWS

            by_class: dict[str, list[str]] = {}
            for term, cls in LANG_CLASS_ROWS:
                by_class.setdefault(cls, []).append(term)
            rest = u.path[len("/classes") :].strip("/")
            if not rest:
                self._send(
                    200,
                    {
                        "classes": [
                            {"class": c, "terms": sorted(ts)}
                            for c, ts in sorted(by_class.items())
                        ]
                    },
                )
                return
            if rest not in by_class:
                self._send(404, {"error": f"unknown class {rest!r}"})
                return
            self._send(
                200, {"class": rest, "terms": sorted(by_class[rest])}
            )

        def _do_html(self, u) -> None:
            """Minimal server-rendered results page — the SearchHtml analog
            (server/SearchHtml.java renders GET /search results as a thin
            HTML shell for human smoke-testing; REServerRoutes.java:74)."""
            import html as _html

            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            # the page shows matched lines by default when the index can
            # serve them (store_content build); JSON callers opt in per
            # request with &snippet=
            if "snippet" not in qs and engine.index.meta.get("stored_content"):
                qs["snippet"] = ["true"]
            rows_html = ""
            err = None
            if q:
                try:
                    resp = self._search_response(qs)

                    from gazetteer_search_spark.search.snippets import (
                        mark_line_html,
                    )

                    hl = {
                        t
                        for tok in resp["parsed_query"]["tokens"]
                        for t in (tok["text"], *tok["variants"])
                    } - set(resp["parsed_query"]["removed"])

                    def _snip_html(h) -> str:
                        # raw snippet re-marked HTML-safe (escape + <em>
                        # in one pass — never trust pre-built markup)
                        return "".join(
                            f"<div><b>:{s['line_no']}</b> "
                            + mark_line_html(s["snippet"], hl)
                            + "</div>"
                            for s in h.get("snippets", [])
                        )

                    rows_html = "".join(
                        "<tr><td>{r}</td><td>{s}</td><td>{repo}</td>"
                        "<td>{path}</td><td>{lang}</td><td>{snip}</td></tr>".format(
                            r=i + 1,
                            s=h["score"],
                            repo=_html.escape(str(h["repo"] or "")),
                            path=_html.escape(str(h["path"] or "")),
                            lang=_html.escape(str(h["lang"] or "")),
                            snip=_snip_html(h),
                        )
                        for i, h in enumerate(resp["hits"])
                    )
                except Exception as e:
                    err = str(e)
            page = (
                "<!doctype html><html><head><meta charset='utf-8'>"
                "<title>gazetteer-search-spark</title></head><body>"
                "<h1>gazetteer-search-spark</h1>"
                "<form action='/ui' method='get'>"
                f"<input name='q' value='{_html.escape(q)}' size='40'>"
                "<button type='submit'>Search</button></form>"
                + (f"<p class='error'>{_html.escape(err)}</p>" if err else "")
                + (
                    "<table border='1'><tr><th>#</th><th>score</th>"
                    "<th>repo</th><th>path</th><th>lang</th>"
                    "<th>snippet</th></tr>"
                    + rows_html
                    + "</table>"
                    if q and not err
                    else ""
                )
                + "</body></html>"
            )
            self._send_html(200, page)

        def _get_knn(self):
            """Lazy KnnIndex over the vector sidecar; None when the index
            has no vectors (run the vectorize CLI first)."""
            nonlocal knn_handle
            if knn_handle is None:
                from gazetteer_search_spark.index.vectors import (
                    KnnIndex, has_vectors,
                )

                # read index_path INSIDE the lock: an alias swap between the
                # read and the cache-fill would otherwise pin a KnnIndex over
                # the pre-swap target while /search serves the new one
                with lock:
                    if knn_handle is None:
                        root = index_path
                        if root is None:
                            try:
                                root = engine.index.paths.root
                            except AttributeError:
                                root = None
                        if root is None or not has_vectors(root):
                            return None
                        knn_handle = KnnIndex(root)
            return knn_handle

        def _knn_filter_mask(self, h, qs):
            """ES filtered kNN: lang=/repo= restrict the candidate set
            BEFORE the top-k cut (the page fills with the best ALLOWED
            docs). The allowed ids come from one predicate-pushdown scan
            of the docs store; at bitmap-worthy scale the same mask would
            persist per value like the index's attr bits. Sidecar snapshot
            contract: vectors and the filter scan both reflect the corpus
            at vectorize time. Returns (mask-or-None, filter dict)."""
            flt = {
                p: (qs.get(p) or [None])[0]
                for p in ("lang", "repo")
                if (qs.get(p) or [None])[0]
            }
            if not flt:
                return None, flt
            import pyarrow.dataset as ds_mod

            with lock:
                docs_path = engine.index.paths.docs
            dset = ds_mod.dataset(
                docs_path, format="parquet", partitioning="hive"
            )
            cond = None
            for kcol, v in flt.items():
                if kcol not in dset.schema.names:
                    raise ValueError(f"unknown filter column {kcol!r}")
                c = ds_mod.field(kcol) == v
                cond = c if cond is None else cond & c
            ids = dset.to_table(
                filter=cond, columns=["doc_id"]
            )["doc_id"].to_numpy()
            return h.mask_for_ids(ids), flt

        def _do_knn(self, u) -> None:
            """Exact-KNN route (ES knn search analog): hashed-TF-IDF query
            embedding + cosine top-k over the persisted vector sidecar —
            Spark-free, one matmul."""
            h = self._get_knn()
            if h is None:
                self._send(
                    409,
                    {"error": "index has no vector sidecar; run the "
                     "vectorize CLI (or build_vectors) first"},
                )
                return
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
            except ValueError:
                self._send(400, {"error": "size must be an integer"})
                return
            t0 = _now()
            try:
                mask, flt = self._knn_filter_mask(h, qs)
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            rows = h.knn(q, k=size, mask=mask)
            self._send(200, {
                "query": q,
                **({"filter": flt} if flt else {}),
                "answer_time_ms": round((_now() - t0) * 1000, 3),
                "hits": [
                    {"doc_id": d, "cosine": round(round(c, 9), 4)}
                    for d, c in rows
                ],
            })

        def _do_hybrid(self, u) -> None:
            """Hybrid retrieval (ES 8 retriever analog): BM25 serving page +
            KNN page fused by reciprocal rank (rrf_fuse_rows — the pinned
            twin of the Spark-side similarity.rrf_fuse)."""
            h = self._get_knn()
            if h is None:
                self._send(
                    409,
                    {"error": "index has no vector sidecar; run the "
                     "vectorize CLI (or build_vectors) first"},
                )
                return
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
                k0 = max(1, min(int((qs.get("k0") or ["60"])[0]), 10_000))
            except ValueError:
                self._send(400, {"error": "size/k0 must be integers"})
                return
            from dataclasses import replace as _replace

            from gazetteer_search_spark.index.vectors import rrf_fuse_rows

            t0 = _now()
            # the same lang=/repo= filter scopes BOTH legs (ES retriever
            # filters apply per retriever): BM25 through SearchOptions,
            # kNN through the pre-filter mask
            try:
                mask, flt = self._knn_filter_mask(h, qs)
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            # engine calls are serialized like every other route — the
            # serving engine's lazy caches are not thread-safe
            with lock:
                bm25 = engine.search_hits(
                    q,
                    _replace(
                        default_opts, k=size,
                        lang=flt.get("lang", default_opts.lang),
                        repo=flt.get("repo", default_opts.repo),
                    ),
                )
            bm25_page = [(int(r.doc_id), float(r.score)) for r in bm25]
            knn_page = h.knn(q, k=size, mask=mask)
            fused = rrf_fuse_rows([bm25_page, knn_page], k0=k0, topk=size)
            self._send(200, {
                "query": q,
                **({"filter": flt} if flt else {}),
                "answer_time_ms": round((_now() - t0) * 1000, 3),
                "k0": k0,
                "lexical_hits": len(bm25_page),
                "knn_hits": len(knn_page),
                "hits": [
                    {"doc_id": d, "score": round(round(sc, 9), 6)}
                    for d, sc in fused
                ],
            })

        def _do_fsearch(self, u) -> None:
            """Federated multi-index search (the ES ``GET /idx1,idx2/
            _search`` shape): the primary index plus every ``--also``
            index run the same query — each against its OWN corpus/BM25
            statistics (ES query_then_fetch semantics: scores are
            per-index, with the same documented comparability caveat) —
            and the labeled pages merge deterministically by
            (round(score, 9) desc, index name asc, doc_id asc).
            ``index=`` (repeatable) restricts to a subset by name."""
            if not federated:
                self._send(
                    409,
                    {"error": "no federated indexes configured; start "
                     "serve with --also NAME=PATH"},
                )
                return
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._send(400, {"error": "missing q"})
                return
            try:
                size = max(1, min(int((qs.get("size") or ["10"])[0]), 100))
            except ValueError:
                self._send(400, {"error": "size must be an integer"})
                return
            with lock:  # index_path swaps under the lock
                primary_name = self._primary_name()
            if primary_name in federated:
                # a federated entry must not SHADOW the live (hot-swappable)
                # primary — results from the primary would silently vanish
                self._send(
                    500,
                    {"error": f"federated index name {primary_name!r} "
                     "collides with the primary index's name"},
                )
                return
            engines = {primary_name: None, **federated}  # None = live primary
            # dedupe repeated index= params (order-preserving) — the same
            # index queried twice would duplicate every hit in the merge
            wanted = list(dict.fromkeys(qs.get("index") or list(engines)))
            bad = sorted(set(wanted) - set(engines))
            if bad:
                self._send(
                    400,
                    {"error": f"unknown index {bad}; available: "
                     f"{sorted(engines)}"},
                )
                return
            from dataclasses import replace as _replace

            t0 = _now()
            pages: list = []
            with lock:
                for name in wanted:
                    e = engines[name] if engines[name] is not None else engine
                    for h in e.search_hits(q, _replace(default_opts, k=size)):
                        pages.append((name, h))
            pages.sort(
                key=lambda p: (-round(p[1].score, 9), p[0], p[1].doc_id)
            )
            self._send(200, {
                "query": q,
                "indices": sorted(wanted),
                "answer_time_ms": round((_now() - t0) * 1000, 3),
                "hits": [
                    {
                        "index": name,
                        "doc_id": int(h.doc_id),
                        "score": round(float(h.score), 4),
                        "repo": h.repo,
                        "path": h.path,
                        "lang": h.lang,
                    }
                    for name, h in pages[:size]
                ],
            })

        def _do_stats(self, u) -> None:
            """Generic tag-statistics route: histogram over an arbitrary docs
            metadata column (TagStatisticsAPI.java:44-100 analog —
            minDocCount/size semantics included)."""
            qs = parse_qs(u.query)

            def _one(name, default=None):
                v = qs.get(name)
                return v[0] if v else default

            key = _one("key")
            if not key:
                self._send(400, {"error": "missing ?key= parameter"})
                return
            try:
                if (_one("numeric", "false") or "").lower() == "true":
                    # ES stats+percentiles agg over a numeric docs column
                    with lock:
                        stats = engine.numeric_tag_stats(key)
                    self._send(200, {"key": key, "stats": stats})
                    return
                with lock:
                    rows = engine.tag_stats(
                        key,
                        min_doc_count=int(_one("min_doc_count", 1)),
                        size=int(_one("size", 10)),
                    )
                self._send(200, {"key": key, "buckets": rows})
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_percolate(self) -> None:
            """Percolate route (ES percolate-query analog): POST a document
            plus a stored-query registry, get back which queries it
            triggers — the alerting/routing primitive at the serving tier,
            Spark-free (python tokenizer kernel; twin-equality with the
            batch operator pinned by tests). Body: {"content": "...",
            "queries": [{"id", "msm", "groups": [{"group_id", "terms",
            "required"}]}]}."""
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                content = body.get("content")
                raw = body.get("queries")
                if not isinstance(content, str) or not content:
                    self._send(400, {"error": "missing content"})
                    return
                if not isinstance(raw, list) or not raw:
                    self._send(400, {"error": "missing queries registry"})
                    return
                from gazetteer_search_spark.operators.percolate import (
                    parse_registry, percolate_doc,
                )

                t0 = _now()
                matches = percolate_doc(content, parse_registry(raw))
                self._send(200, {
                    "matches": matches,
                    "queries": len(raw),
                    "answer_time_ms": round((_now() - t0) * 1000, 3),
                })
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_dsl(self) -> None:
            """ES query-DSL route: POST the reference's own ES query JSON
            — ``{"dsl": {...}, "field_map": {...}, "strict": false}`` or
            the bare DSL body itself — translated onto the engine's group
            algebra (search/dsl.py) and executed. The response carries
            the hits plus the translation's ``notes`` (anything the
            mapping dropped) so callers see exactly what ran."""
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                if "dsl" in body:
                    dsl_body = body["dsl"]
                    field_map = body.get("field_map") or {}
                    strict = bool(body.get("strict", False))
                else:
                    dsl_body, field_map, strict = body, {}, False
                from gazetteer_search_spark.search import dsl as _dsl

                with lock:
                    res, plan = _dsl.run_dsl(
                        engine, dsl_body, field_map=field_map,
                        strict=strict, options=default_opts,
                    )
                    rows = res if isinstance(res, list) else res.collect()
                self._send(
                    200,
                    {
                        "total": len(rows),
                        "msm": plan.msm,
                        "groups": len(plan.groups),
                        "notes": plan.notes,
                        "hits": [
                            {
                                "doc_id": int(r.doc_id),
                                "score": round(float(r.score), 4),
                            }
                            for r in rows
                        ],
                    },
                )
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_rank_eval(self) -> None:
            """ES _rank_eval API analog: POST a body of rated queries —
            ``{"k": 5, "queries": [{"id": "q1", "q": "merge sort",
            "relevant": [3, 17]}, ...]}`` — each query runs through the
            ordinary serving ladder, and per-query RR / recall@k / NDCG@k
            plus macro averages come back. Metrics are the pure-python
            twin of operators/evaluation_ir.retrieval_metrics (equality
            pinned by test); k-bounded driver work throughout."""
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                k = max(1, min(int(body.get("k", 10)), 100))
                queries = body.get("queries") or []
                if not queries:
                    self._send(400, {"error": "queries[] required"})
                    return
                from gazetteer_search_spark.operators.evaluation_ir import (
                    metrics_rows,
                )

                run: list[tuple] = []
                qrels: list[tuple] = []
                with lock:
                    for spec in queries:
                        qid = str(spec["id"])
                        hits = engine.search_hits(
                            str(spec["q"]), replace(default_opts, k=k)
                        )
                        run += [
                            (qid, int(h.doc_id), i + 1)
                            for i, h in enumerate(hits)
                        ]
                        qrels += [
                            (qid, int(d)) for d in spec.get("relevant", [])
                        ]
                per_q = metrics_rows(run, qrels, k=k)
                macro = {
                    "n_queries": len(per_q),
                    "mrr": round(
                        sum(m["rr"] for m in per_q) / len(per_q), 6
                    ) if per_q else 0.0,
                    "macro_recall": round(
                        sum(m["recall"] for m in per_q) / len(per_q), 6
                    ) if per_q else 0.0,
                    "macro_ndcg": round(
                        sum(m["ndcg"] for m in per_q) / len(per_q), 6
                    ) if per_q else 0.0,
                }
                self._send(200, {"k": k, "queries": per_q, **macro})
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_mapping(self, u) -> None:
            """Index-configuration route (ES GET index/_mapping +
            _settings analog): the persisted index metadata — format,
            codec, analyzer hash, attribute dimension + dictionary,
            clustering, positions/stored-content flags, doc count."""
            try:
                meta = dict(getattr(engine.index, "meta", {}) or {})
                out = {
                    k: meta.get(k)
                    for k in (
                        # the builder's persisted key names
                        # (builder.py: clustered_by / stored_content /
                        # name_key_sql)
                        "format", "postings_codec", "analyzer_hash",
                        "attr_dim", "attr_values", "attr_overflow",
                        "clustered_by", "positions", "stored_content",
                        "name_key_sql", "fields",
                    )
                    if k in meta
                }
                out["n_docs"] = int(getattr(engine.index, "n_docs", 0))
                self._send(200, out)
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_validate_get(self, u) -> None:
            """Query-plan validation (ES GET _validate/query?explain=true
            analog): parse + plan the query WITHOUT executing — clauses
            with per-term dictionary df, msm, phrase/pattern expansions,
            estimated postings cost, unsatisfiable flag. Always 200 with
            ``valid`` true/false (the ES envelope); 400 only for a missing
            ``q``. POST /validate is the DSL-body twin."""
            try:
                qs = parse_qs(u.query)

                def _one(name, default=None):
                    v = qs.get(name)
                    return v[0] if v else default

                q = _one("q")
                if q is None:
                    self._send(400, {"error": "q required"})
                    return
                opts = replace(
                    default_opts,
                    prefix=_one("prefix", str(default_opts.prefix)).lower()
                    == "true",
                    fuzziness=_parse_fuzziness(
                        _one("fuzziness", str(default_opts.fuzziness))
                    ),
                )
                with lock:  # compute under the lock, send after releasing
                    body = engine.validate_query(q, opts)
                self._send(200, body)
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_validate_post(self) -> None:
            """POST /validate: the ES _validate/query DSL-body form — the
            body (bare DSL, or {"dsl":..., "field_map":..., "strict":...},
            the same envelope /dsl takes) runs through the translator
            WITHOUT executing; the response reports the translated group
            algebra + per-clause df + the translation notes. A translator
            error answers 200 with valid:false (ES semantics)."""
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                if "dsl" in body:
                    dsl_body = body["dsl"]
                    field_map = body.get("field_map") or {}
                    strict = bool(body.get("strict", False))
                else:
                    dsl_body, field_map, strict = body, {}, False
                from gazetteer_search_spark.search import dsl as _dsl

                try:
                    with lock:
                        plan = _dsl.translate(
                            dsl_body, engine, field_map, strict
                        )
                        terms = sorted(
                            {t for g in plan.groups for t in g.terms}
                        )
                        dfs = (
                            engine._df_for_terms(terms) if terms else {}
                        )
                except Exception as e:  # noqa: BLE001 — ES valid:false envelope
                    self._send(
                        200,
                        {"valid": False, "error": f"{type(e).__name__}: {e}"},
                    )
                    return
                clauses = [
                    {
                        "name": g.name or f"g{g.group_id}",
                        "required": bool(g.required),
                        "weight": float(g.weight),
                        "n_terms": len(g.terms),
                        "df": int(sum(dfs.get(t, 0) for t in g.terms)),
                        "sample": list(g.terms[:5]),
                    }
                    for g in plan.groups
                ]
                self._send(
                    200,
                    {
                        "valid": True,
                        "clauses": clauses,
                        "msm": int(plan.msm),
                        "notes": list(plan.notes),
                        "estimated_postings": int(
                            sum(c["df"] for c in clauses)
                        ),
                        "unsatisfiable": any(
                            c["required"] and c["df"] == 0 for c in clauses
                        ),
                    },
                )
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_field_caps(self, u) -> None:
            """Field-capabilities route (ES GET _field_caps analog): every
            queryable term namespace (full_text + the per-field postings
            namespaces the builder persisted) plus every docs-store column
            with its storage type and capability flags — searchable (the
            query algebra reaches it), filterable (a SearchOptions / route
            filter exists), aggregatable (usable as a facet / stats /
            sort key). Schema-only metadata reads — no data scan."""
            try:
                # snapshot swap-mutable state under the lock (index_path and
                # engine are reassigned by _maybe_swap under it), then do
                # the pyarrow schema read OUTSIDE it — same discipline as
                # /doc//mget
                with lock:
                    meta = dict(getattr(engine.index, "meta", {}) or {})
                    ipath = index_path
                    docs = getattr(engine.index, "docs", None)
                out: dict[str, dict] = {}
                for fld in ("full_text", *sorted(meta.get("fields") or ())):
                    out[fld] = {
                        "type": "text",
                        "searchable": True,
                        "filterable": False,
                        "aggregatable": False,
                    }
                filterable = {"repo", "path", "lang", "doc_id"}
                cols: list[tuple[str, str]] = []
                if ipath is not None:
                    import pyarrow.dataset as ds_mod

                    sch = ds_mod.dataset(
                        os.path.join(ipath, "docs"),
                        format="parquet",
                        partitioning="hive",
                    ).schema
                    cols = [(nm, str(sch.field(nm).type)) for nm in sch.names]
                elif docs is not None:
                    cols = [
                        (f.name, f.dataType.simpleString())
                        for f in docs.schema.fields
                    ]
                for nm, tp in cols:
                    if nm.startswith("_"):
                        continue
                    out.setdefault(
                        nm,
                        {
                            "type": tp,
                            "searchable": nm == "content",
                            "filterable": nm in filterable,
                            "aggregatable": True,
                        },
                    )
                self._send(200, {"fields": out, "n_fields": len(out)})
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_segments(self, u) -> None:
            """Generation listing (ES _cat/segments analog): one row per
            live generation with docs/tombstones, plus the total."""
            try:
                rows = []
                if index_path is not None:
                    from gazetteer_search_spark.index import (
                        segments as _segs,
                    )

                    for s in _segs.list_segments(index_path):
                        rows.append(
                            {
                                "seg_id": int(s["seg_id"]),
                                "n_docs": int(s["n_docs"]),
                                "n_tombstones": int(s["n_tombstones"]),
                            }
                        )
                self._send(
                    200,
                    {
                        "generations": len(rows) + 1,
                        "base_docs": int(getattr(engine.index, "n_docs", 0)),
                        "segments": rows,
                    },
                )
            except Exception as e:
                self._send(400, {"error": str(e)})

        def do_POST(self) -> None:  # noqa: N802 — http.server API
            self._t0 = _now()
            self._maybe_swap()
            p = urlparse(self.path).path
            if p == "/msearch":
                if self._authorized():
                    self._do_msearch()
                return
            if p == "/bulk":
                if self._authorized():
                    self._do_bulk()
                return
            if p == "/rank_eval":
                if self._authorized():
                    self._do_rank_eval()
                return
            if p == "/dsl":
                if self._authorized():
                    self._do_dsl()
                return
            if p == "/percolate":
                if self._authorized():
                    self._do_percolate()
                return
            if p == "/validate":
                if self._authorized():
                    self._do_validate_post()
                return
            if p != "/sendq":
                self._send(
                    404,
                    {
                        "error": "not found",
                        "routes": [
                            "/sendq", "/msearch", "/bulk", "/rank_eval",
                            "/dsl", "/percolate", "/validate",
                        ],
                    },
                )
                return
            if not self._authorized():
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                from gazetteer_search_spark.search.engine import TermGroup

                groups = [
                    TermGroup(
                        group_id=int(g["group_id"]),
                        terms=tuple(g["terms"]),
                        required=bool(g.get("required", True)),
                        weight=float(g.get("weight", 1.0)),
                        term_weights=(
                            tuple(float(w) for w in g["term_weights"])
                            if g.get("term_weights")
                            else None
                        ),
                        name=g.get("name"),
                    )
                    for g in body.get("groups", [])
                ]
                opts = replace(
                    default_opts,
                    k=int(body.get("k", default_opts.k)),
                    # absent keys fall back to the serving defaults (a
                    # filtered alias installs its tenant scope there)
                    lang=body.get("lang", default_opts.lang),
                    exclude_langs=tuple(body.get("no_class", ())),
                    repo=body.get("repo", default_opts.repo),
                    path_prefix=body.get(
                        "path_prefix", default_opts.path_prefix
                    ),
                    distinct=bool(body.get("distinct", False)),
                    near_path=body.get("near"),
                )
                msm = int(body.get("msm", sum(1 for g in groups if g.required)))
                with lock:
                    rows = engine.search_rung_rows(groups, msm, opts)
                self._send(
                    200,
                    {
                        "hits": [
                            {
                                "doc_id": r.doc_id,
                                "score": round(float(r.score), 4),
                                "repo": r.repo,
                                "path": r.path,
                                "lang": r.lang,
                            }
                            for r in rows
                        ]
                    },
                )
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_msearch(self) -> None:
            """Multi-search route (ES _msearch analog): body is NDJSON, one
            search-request object per line with the same keys as /search's
            query params (``q``, ``size``, ``lang``, ``repo``, ``not``,
            ``facet``, ``rescore_q``, ...); repeatable params take a JSON
            list. One response envelope per line, order-preserving — a
            batching front for clients amortizing round-trips."""
            try:
                n = int(self.headers.get("Content-Length", "0"))
                lines = [
                    ln
                    for ln in self.rfile.read(n).decode("utf-8").splitlines()
                    if ln.strip()
                ]
                if not lines:
                    self._send(400, {"error": "empty msearch body"})
                    return
                responses = []
                for ln in lines:
                    req = json.loads(ln)
                    if not isinstance(req, dict):
                        responses.append({"error": "request must be an object"})
                        continue
                    qs = {
                        k: [str(x) for x in v] if isinstance(v, list) else [str(v)]
                        for k, v in req.items()
                    }
                    try:
                        responses.append(self._search_response(qs))
                    except Exception as e:  # per-line isolation, like ES
                        responses.append({"error": str(e)})
                self._send(200, {"responses": responses})
            except Exception as e:
                self._send(400, {"error": str(e)})

        def _do_bulk(self) -> None:
            """Bulk-ingest route (ES _bulk analog): body is NDJSON. Two
            accepted shapes, mixable line by line:

            - a bare document line (repo, path, commit, lang, content — the
              corpus shape): an implicit index action (the original form);
            - ES action lines: ``{"index": {}}`` followed by a document
              line, or a standalone ``{"delete": {"repo": R, "path": P}}``.

            ES applies actions in order; per upsert key that reduces to
            last-action-wins, which is exactly how the batch executes:
            index survivors land as ONE new segment generation
            (add_segment: frozen stats, (repo, path)-keyed supersession),
            delete survivors become one tombstone-only generation
            (delete_by_keys), and the serving engine reopens over all
            generations — subsequent searches see the changes, ES refresh
            semantics. The whole body validates BEFORE any mutation (a 400
            leaves the index untouched); a failure after the first manifest
            row landed still reopens the engine (the committed part is
            served) and answers 500. The mutation schedules no Spark job:
            the batch is an in-memory Arrow table whose row derivations
            (doc_id hash, content_sha256, name key) Catalyst evaluates on
            the driver, deletes resolve through pyarrow, and the reopen
            reuses the loaded base handle. Those derivations still need a
            SparkSession, so Spark-free nodes answer 501 and defer to the
            add-segment CLI."""
            nonlocal engine, mtime, last_modified
            spark = getattr(engine, "spark", None)
            if index_path is None or spark is None:
                self._send(
                    501,
                    {
                        "error": "bulk ingest needs a Spark-backed server "
                        "started with an index path (cli serve --http, "
                        "without --local-only); use the add-segment CLI "
                        "on Spark-free nodes"
                    },
                )
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                lines = [
                    json.loads(ln)
                    for ln in self.rfile.read(n).decode("utf-8").splitlines()
                    if ln.strip()
                ]
                required = {"repo", "path", "commit", "lang", "content"}

                def _action(d):
                    """The action verb when the line is an ES action-meta
                    line (exactly one top-level key in the action
                    vocabulary), else None (a bare document line)."""
                    if isinstance(d, dict) and len(d) == 1:
                        k = next(iter(d))
                        if k in ("index", "delete"):
                            return k
                    return None

                # parse the whole body to an ordered op list BEFORE any
                # mutation: a malformed line 400s with the index untouched
                ops: list[tuple[str, tuple[str, str], dict | None]] = []
                bad: list[int] = []
                i = 0
                while i < len(lines):
                    act = _action(lines[i])
                    if act == "delete":
                        m = lines[i]["delete"] or {}
                        if not (
                            isinstance(m.get("repo"), str)
                            and isinstance(m.get("path"), str)
                        ):
                            self._send(
                                400,
                                {
                                    "error": "delete action needs repo and "
                                    "path (the upsert key)",
                                    "line": i,
                                },
                            )
                            return
                        ops.append(("delete", (m["repo"], m["path"]), None))
                        i += 1
                        continue
                    if act == "index":
                        if i + 1 >= len(lines) or _action(lines[i + 1]):
                            self._send(
                                400,
                                {
                                    "error": "index action needs a document "
                                    "on the following line",
                                    "line": i,
                                },
                            )
                            return
                        i += 1  # fall through to the document line
                    d = lines[i]
                    if not (isinstance(d, dict) and required <= set(d)):
                        bad.append(i)
                    else:
                        ops.append(("index", (d["repo"], d["path"]), d))
                    i += 1
                if not ops or bad:
                    self._send(
                        400,
                        {
                            "error": "each document line needs repo/path/"
                            "commit/lang/content",
                            **({"bad_lines": bad[:10]} if bad else {}),
                        },
                    )
                    return
                # ES applies actions in order -> last action per key wins
                last: dict[tuple[str, str], tuple[str, dict | None]] = {}
                for op, key, doc in ops:
                    last[key] = (op, doc)
                docs = [d for op, d in last.values() if op == "index"]
                del_keys = [
                    k for k, (op, _) in last.items() if op == "delete"
                ]
                import pyarrow as pa

                cols = ("repo", "path", "commit", "lang", "content")
                batch = pa.Table.from_pylist(
                    [{c: d[c] for c in cols} for d in docs],
                    schema=pa.schema([(c, pa.string()) for c in cols]),
                )
            except Exception as e:
                self._send(400, {"error": str(e)})
                return
            from gazetteer_search_spark.index import segments as _segs

            seg_docs = 0
            deleted = 0
            failure = None
            with lock:
                n_segs0 = len(_segs.list_segments(index_path))
                try:
                    if del_keys:
                        deleted = int(
                            _segs.delete_by_keys(
                                spark, index_path, del_keys
                            )["n_tombstones"]
                        )
                    if docs:
                        seg_docs = int(
                            _segs.add_segment(spark, batch, index_path).n_docs
                        )
                except Exception as e:
                    failure = e
                n_segs = len(_segs.list_segments(index_path))
                if n_segs != n_segs0:
                    # any landed manifest row is live on disk: serve it,
                    # even when a later step of this body failed
                    try:
                        engine = _segs.open_multi_search(
                            index_path, spark, base=engine.index
                        )
                    except Exception as e:
                        failure = failure or e
                    else:
                        import time as _time

                        # refresh the conditional-GET watermark: a client
                        # whose If-Modified-Since predates this ingest must
                        # get a fresh 200, not a stale 304 of the pre-bulk
                        # corpus
                        mtime = _time.time()
                        last_modified = formatdate(mtime, usegmt=True)
                        # the new stamp invalidates by comparison, but a
                        # bulk landing within the SAME second would leave
                        # entries stamp-equal — drop them outright
                        req_cache.clear()
            if failure is not None:
                self._send(500, {"error": str(failure)})
                return
            self._send(
                200,
                {
                    "indexed": len(docs),
                    "deleted": deleted,
                    "seg_docs": seg_docs,
                    "generations": n_segs + 1,
                },
            )

        def log_request(self, code="-", size="-") -> None:
            """Access log (HttpLogger.java:38-74 analog): one line per
            completed response — UA-classified marker, client ip (X-Real-IP
            preferred, the reference's proxy-aware rule), status, method,
            url, User-Agent — plus a WARN line for non-200s. Silent when no
            --access-log sink is configured (the prior behavior).

            ES search-slowlog analog: with ``slow_ms`` set, any request
            whose compute time (request start to response headers — the
            "took", not the body transfer) reaches the threshold writes a
            SLOW line with the elapsed ms. Slow lines go to the access-log
            sink when one exists, else stderr — so the slowlog works
            without enabling the full access log, like ES's independent
            slowlog thresholds."""
            try:
                status = int(code)
            except (TypeError, ValueError):
                status = 0
            t0 = getattr(self, "_t0", None)
            if slow_ms is not None and t0 is not None:
                ms = (_now() - t0) * 1000.0
                if ms >= slow_ms:
                    sink = access_log if access_log is not None else sys.stderr
                    try:
                        with log_lock:
                            sink.write(
                                f"SLOW {ms:.1f}ms {status} {self.command} "
                                f"{self.path}\n"
                            )
                            sink.flush()
                    except (OSError, ValueError):
                        pass
            if access_log is None:
                return
            ua = self.headers.get("User-Agent") if self.headers else None
            ip = (
                self.headers.get("X-Real-IP") if self.headers else None
            ) or self.client_address[0]
            lines = (
                f"{classify_agent(ua)} {ip} - {status} {self.command} "
                f"{self.path} User-Agent: {ua or '-'}\n"
            )
            # WARN echo for client/server ERRORS only — 304 Not Modified
            # is a healthy cache validation, and flooding the log with it
            # would drown real failures (the reference warns any non-200;
            # its clients never used conditional GETs)
            if status >= 400:
                lines += (
                    f"WARN {self.command} {self.path} responded with "
                    f"{status}\n"
                )
            try:
                with log_lock:
                    access_log.write(lines)
                    access_log.flush()
            except (OSError, ValueError):
                # a dead/closed sink must never break the response path
                # (the reference's logger contract: onComplete is advisory)
                pass

        def log_message(self, fmt, *args) -> None:
            """Handler-internal notices (socket errors, deferred alias
            swaps) go to the access-log sink when one exists — the
            HttpLogger onException channel; silent otherwise."""
            if access_log is None:
                return
            try:
                with log_lock:
                    access_log.write("NOTICE " + (fmt % args) + "\n")
                    access_log.flush()
            except (OSError, ValueError):
                pass

    return Handler


def make_server(
    engine,
    options,
    host: str = "127.0.0.1",
    port: int = 0,
    auth: str | None = None,
    cors_origin: str | None = None,
    index_path: str | None = None,
    alias_path: str | None = None,
    reopen=None,
    federated: dict | None = None,
    access_log=None,
    slow_ms: float | None = None,
):
    """Build (not start) the HTTP server; port 0 binds an ephemeral port
    (``server_address[1]`` reports it). Caller runs ``serve_forever()``.
    ``auth``: "user:pass" enables HTTP Basic auth on every route except
    /healthz; ``cors_origin``: value for Access-Control-Allow-Origin;
    ``index_path``: enables POST /bulk live segment ingest (Spark-backed
    engines only); ``alias_path`` + ``reopen(target)->engine``: the server
    was addressed via an index ALIAS — a repointed alias hot-swaps the
    serving engine on the next request (zero-downtime reindex flow);
    ``federated``: {name: engine} of EXTRA indexes — enables GET /fsearch
    (the ES multi-index ``GET /idx1,idx2/_search`` shape); ``access_log``:
    a path (opened append, line-buffered), ``"-"`` for stderr, or an open
    text sink — one HttpLogger-style line per response; ``slow_ms``: the
    ES search-slowlog threshold — requests at or above it log a SLOW line
    (to the access-log sink, else stderr)."""
    if isinstance(access_log, str):
        access_log = (
            sys.stderr
            if access_log == "-"
            else open(access_log, "a", buffering=1, encoding="utf-8")
        )
    return ThreadingHTTPServer(
        (host, port),
        _make_handler(
            engine, options, auth, cors_origin, index_path,
            alias_path=alias_path, reopen=reopen, federated=federated,
            access_log=access_log, slow_ms=slow_ms,
        ),
    )
