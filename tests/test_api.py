"""Service-layer parity: the reference's endpoint lifecycle
(insert -> search -> tenant isolation -> deletes -> classify), i.e. the
run_tests.py / test_qdrant.py scenarios re-run against the Spark engine."""

import pytest

from vectordb_cloud_spark.api import VectorService


@pytest.fixture()
def svc(spark, tmp_path):
    return VectorService(spark, str(tmp_path / "cat"), index_name="TestVDB", dim=16)


def _typed(rows):
    """Hit dicts with key order and value types made comparable."""
    return [[(k, type(v), v) for k, v in r.items()] for r in rows]


def _assert_pins_within_budget(svc):
    stats = svc.memo_stats()
    assert stats["pinned_bytes"] <= stats["pin_budget_bytes"]
    assert stats["pinned_bytes"] == sum(p.nbytes for p in svc._pins.values())


def test_construction_leaves_session_config_alone(spark, tmp_path):
    """Building a service changes neither the session's call-site
    capture conf nor PySpark's process-wide cache of it."""
    import pyspark.errors.utils as peu

    key = "spark.python.sql.dataFrameDebugging.enabled"
    peu.is_debugging_enabled()  # fill the cache from the session
    before = (spark.conf.get(key, None), peu._enable_debugging_cache)
    VectorService(spark, str(tmp_path / "cat"), index_name="ConfVDB", dim=16)
    assert (spark.conf.get(key, None), peu._enable_debugging_cache) == before


def test_insert_search_tenant_isolation(svc):
    """/root/reference/run_tests.py:21-28: user 332 inserts, user 332 finds
    it, user 333 sees nothing."""
    assert svc.insert(1, 332, "Game of Thrones is a fantasy series", "site1", "en") == 1
    hits = svc.search(332, "Game", limit=5).collect()
    assert len(hits) == 1 and hits[0]["id"] == 1
    assert svc.search(333, "Game", limit=5).count() == 0


def test_search_optional_filters(svc):
    svc.insert(1, 7, "alpha doc", "siteA", "en")
    svc.insert(2, 7, "alpha doc two", "siteB", "en")
    assert svc.search(7, "alpha", limit=5).count() == 2
    got = svc.search(7, "alpha", limit=5, site="siteA").collect()
    assert [r["id"] for r in got] == [1]


def test_search_query_filter_dsl(svc):
    """The qdrant-client filter document the reference builds
    (/root/reference/search.py:38-44) goes straight through ``query_filter``."""
    svc.insert(31, 77, "gamma doc one", "siteA", "en")
    svc.insert(32, 77, "gamma doc two", "siteB", "en")
    svc.insert(33, 77, "gamma doc three", "siteB", "de")
    got = svc.search(77, "gamma", limit=5, query_filter={
        "must": [{"key": "site", "match": {"value": "siteB"}}],
        "must_not": [{"key": "lang", "match": {"value": "de"}}],
    }).collect()
    assert [r["id"] for r in got] == [32]
    assert svc.count(77, query_filter={
        "must": [{"key": "site", "match": {"any": ["siteA", "siteB"]}}]
    }) == 3


def test_upsert_replaces_by_id(svc):
    svc.insert(5, 9, "original text", "s", "en")
    svc.insert(5, 9, "replaced text", "s", "en")
    hits = svc.search(9, "text", limit=5).collect()
    assert len(hits) == 1 and hits[0]["string"] == "replaced text"


def test_remove_by_user(svc):
    svc.insert(1, 11, "to be removed", "s", "en")
    svc.insert(2, 12, "to be kept", "s", "en")
    assert svc.remove_by_user(11) == 1
    assert svc.search(11, "removed", limit=5).count() == 0
    assert svc.search(12, "kept", limit=5).count() == 1


def test_remove_by_word_scoped_to_tenant(svc):
    """Intended D2 semantics (/root/reference/app.py:94-117 is broken —
    SURVEY.md documents the bug; we implement the contract)."""
    svc.insert(1, 21, "spark engine doc", "s", "en")
    svc.insert(2, 21, "other doc", "s", "en")
    svc.insert(3, 22, "spark doc of another tenant", "s", "en")
    assert svc.remove_all_by_word(21, "spark") == 1
    assert {r["id"] for r in svc.search(21, "doc", limit=5).collect()} == {2}
    assert svc.search(22, "spark", limit=5).count() == 1


def test_remove_by_regex(svc):
    svc.insert(1, 31, "error code 404 found", "s", "en")
    svc.insert(2, 31, "all fine here", "s", "en")
    assert svc.remove_all_by_regex(31, r"code \d+") == 1
    assert {r["id"] for r in svc.search(31, "text", limit=5).collect()} == {2}


def test_classify_returns_a_category(svc):
    cat = svc.get_category_for_title(1, "sports\\npolitics\\nscience", "football match results")
    assert cat in {"sports", "politics", "science"}


def test_insert_batch_microbatch(svc):
    n = svc.insert_batch([
        {"id": 100 + i, "user_id": 50, "text": f"batch doc {i}", "site": "s", "lang": "en"}
        for i in range(5)
    ])
    assert n == 5
    assert svc.search(50, "batch", limit=10).count() == 5


def test_count_and_set_payload_tenant_scoped(svc):
    """Qdrant-surface extensions: /points/count and set_payload compose
    with the mandatory tenant filter — one user's update never leaks into
    another's rows."""
    assert svc.insert(1, 1, "alpha doc one", "siteA", "en") == 1
    assert svc.insert(2, 1, "alpha doc two", "siteA", "en") == 1
    assert svc.insert(3, 2, "other tenant doc", "siteA", "en") == 1
    n1 = svc.count(1)
    assert n1 == 2
    assert svc.count(1, word="zzz-not-there") == 0
    other_before = svc.count(2)

    updated = svc.set_payload(1, {"site": "relabeled"})
    assert updated == n1
    from pyspark.sql import functions as F

    rows = svc.catalog.read(svc.index_name).collect()
    for r in rows:
        if r["user_id"] == 1:
            assert r["site"] == "relabeled"
        else:
            assert r["site"] != "relabeled"
    assert svc.count(2) == other_before


def test_query_universal_endpoint_tenant_scoped(svc):
    """Qdrant POST /points/query through the service: text queries embed
    via the service's embedder, prefetch funnels run tenant-scoped, vector
    columns never leave the envelope."""
    for i, (uid, text) in enumerate([
        (9, "spark joins data"), (9, "spark shuffles data"),
        (9, "cats and dogs"), (10, "spark joins data"),
    ], start=1):
        assert svc.insert(i, uid, text, "s", "en") == 1
    # dense text query == /search ordering for the same tenant
    hits = svc.query(9, {"query": {"text": "spark joins"}, "limit": 2})
    want = [r["id"] for r in svc.search(9, "spark joins", limit=2).collect()]
    assert [h["id"] for h in hits] == want
    assert all("embedding" not in h for h in hits)
    # tenant isolation: user 10's doc never appears for user 9
    assert all(h["id"] != 4 for h in
               svc.query(9, {"query": {"text": "spark joins"}, "limit": 10}))
    # fusion over two text prefetch legs
    fused = svc.query(9, {
        "query": {"fusion": "rrf"},
        "prefetch": [{"query": {"text": "spark joins"}, "limit": 3},
                     {"query": {"text": "cats"}, "limit": 3}],
        "limit": 3,
    })
    assert len(fused) == 3 and all("rrf_score" in h for h in fused)
    # nested funnel: prefetch-of-prefetch translates text at every level
    funnel = svc.query(9, {
        "query": {"text": "spark joins"},
        "prefetch": [{"query": {"text": "spark"}, "limit": 3,
                      "prefetch": [{"query": {"text": "data"}, "limit": 3}]}],
        "limit": 2,
    })
    assert len(funnel) == 2
    # scroll branch (no query): id-ordered page, filter DSL applies
    page = svc.query(9, {"limit": 2,
                         "filter": {"must": [{"key": "lang",
                                              "match": {"value": "en"}}]}})
    assert [h["id"] for h in page] == [1, 2]


def test_query_batch_matches_per_request(svc):
    """Qdrant /points/query/batch: plain dense requests share one scan but
    return exactly what per-request query() returns, in input order; mixed
    batches interleave fast-path and dispatched entries correctly."""
    for i, (uid, text) in enumerate([
        (21, "red apples"), (21, "green apples"), (21, "blue cars"),
        (21, "fast trains"), (22, "red apples"),
    ], start=41):
        assert svc.insert(i, uid, text, "s", "en") == 1
    bodies = [
        {"query": {"text": "apples"}, "limit": 2},
        {"query": {"fusion": "rrf"},
         "prefetch": [{"query": {"text": "apples"}, "limit": 3},
                      {"query": {"text": "cars"}, "limit": 3}],
         "limit": 2},
        {"query": {"text": "trains"}, "limit": 3},
        {"limit": 2},  # scroll — not a dense body, dispatches per-request
        # r13 batchable forms (VERDICT r12 #5): by-id (bare and
        # nearest-wrapped) and recommend average_vector join the shared
        # scan; their example ids resolve in ONE bounded probe
        {"query": 41, "limit": 3},
        {"query": {"nearest": 42}, "limit": 2},
        {"query": {"recommend": {"positive": [41, 42],
                                 "negative": [43]}}, "limit": 3},
        {"query": {"recommend": {"positive": [41],
                                 "strategy": "best_score"}},
         "limit": 2},  # best_score is NOT plain dense -> per-request
    ]
    got = svc.query_batch(21, bodies)
    want = [svc.query(21, b) for b in bodies]
    assert len(got) == len(want) == 8
    for g, w in zip(got, want):
        assert [r["id"] for r in g] == [r["id"] for r in w]
        assert [round(r["dist"], 9) for r in g if "dist" in r] == \
            [round(r["dist"], 9) for r in w if "dist" in r]
    # dense rows carry dist + payload, no vectors, no query_id leak
    assert all("dist" in r and "embedding" not in r and "query_id" not in r
               for r in got[0] + got[4] + got[6])
    # self/example exclusion held on the shared-scan path
    assert 41 not in [r["id"] for r in got[4]]
    assert 42 not in [r["id"] for r in got[5]]
    assert not {41, 42, 43} & {r["id"] for r in got[6]}
    # tenant isolation holds on the shared-scan path
    assert all(r["id"] != 45 for r in got[0] + got[2] + got[4] + got[6])


def test_query_batch_negative_limit_matches_per_request(svc):
    """A degenerate negative limit must NOT enter the shared-scan path:
    the shared window's final [:k] slice would return all-but-|k| of the
    over-fetched rows while per-request raises a clean client error
    (ADVICE r13). Both paths now raise ValueError (422 over HTTP)."""
    import pytest

    for i, text in enumerate(["one doc", "two doc", "three doc"]):
        assert svc.insert(81 + i, 24, text, "s", "en") == 1
    with pytest.raises(ValueError, match="limit must be non-negative"):
        svc.query(24, {"query": {"text": "doc"}, "limit": -1})
    with pytest.raises(ValueError, match="limit must be non-negative"):
        svc.query_batch(24, [{"query": {"text": "doc"}, "limit": -1},
                             {"query": {"text": "doc"}, "limit": 2}])


def test_query_batch_routing_rule(svc, monkeypatch):
    """The measured routing rule (r14, SCALE.md query_batch_mixed
    series): >= 2 batchable entries engage the shared scan; a lone
    batchable body dispatches per-request (one scan either way, and the
    per-request path rides the warm shape template)."""
    from vectordb_cloud_spark.operators import knn as knn_mod

    for i, text in enumerate(["rare alpha", "rare beta", "rare gamma"]):
        assert svc.insert(61 + i, 26, text, "s", "en") == 1
    calls = []
    orig = knn_mod.knn_batch

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(knn_mod, "knn_batch", spy)
    one = svc.query_batch(26, [{"query": {"text": "alpha"}, "limit": 2}])
    assert len(one) == 1 and not calls  # single body: per-request path
    two = svc.query_batch(26, [{"query": {"text": "alpha"}, "limit": 2},
                               {"query": {"text": "beta"}, "limit": 2}])
    assert len(two) == 2 and calls == [1]  # >=2: ONE shared scan


def test_query_batch_missing_id_is_not_found(svc):
    """A batch referencing a missing point id fails with the
    404-mappable PointNotFoundError, same as per-request (r13)."""
    import pytest

    from vectordb_cloud_spark.errors import PointNotFoundError

    assert svc.insert(71, 23, "solo doc", "s", "en") == 1
    assert svc.insert(72, 23, "other doc", "s", "en") == 1
    with pytest.raises(PointNotFoundError):
        svc.query_batch(23, [{"query": 71, "limit": 2},
                             {"query": 9_999_999, "limit": 2}])


def test_query_response_shaping_and_offset(svc):
    """Qdrant with_payload / with_vectors selectors + offset paging through
    the universal endpoint."""
    for i, text in enumerate(["aa bb", "aa cc", "aa dd", "ee ff"], start=61):
        assert svc.insert(i, 30, text, "s", "en") == 1
    full = svc.query(30, {"query": {"text": "aa"}, "limit": 4})
    page = svc.query(30, {"query": {"text": "aa"}, "limit": 2, "offset": 2})
    assert [h["id"] for h in page] == [h["id"] for h in full][2:4]
    # payload off: only id + score-like keys
    bare = svc.query(30, {"query": {"text": "aa"}, "limit": 2,
                          "with_payload": False})
    assert set(bare[0]) <= {"id", "dist"}
    # payload field list
    some = svc.query(30, {"query": {"text": "aa"}, "limit": 2,
                          "with_payload": ["lang"]})
    assert set(some[0]) == {"id", "dist", "lang"}
    # vectors on request
    vec = svc.query(30, {"query": {"text": "aa"}, "limit": 1,
                         "with_vectors": True})
    assert "embedding" in vec[0] and len(vec[0]["embedding"]) == svc.dim


def test_search_routes_text_index_clauses(svc):
    """A match.text clause on a text-INDEXED field routes through the
    postings sidecar with whole-token semantics (Qdrant indexed
    MatchText); unindexed fields keep the scan-stage substring form."""
    svc.create_index("text", "text")
    rows = [
        (71, 40, "spark joins shuffle data"),
        (72, 40, "database joins only"),      # 'data' only as a substring
        (73, 40, "spark data pipelines"),
        (74, 41, "spark data elsewhere"),     # other tenant
    ]
    for i, uid, text in rows:
        assert svc.insert(i, uid, text, "s", "en") == 1
    flt = {"must": [{"key": "text", "match": {"text": "spark data"}}]}
    got = sorted(r["id"] for r in
                 svc.search(40, "spark", limit=10,
                            query_filter=flt).collect())
    assert got == [71, 73]  # 72 excluded under token semantics
    # residual clauses still apply scan-stage alongside the routed one
    flt2 = {"must": [{"key": "text", "match": {"text": "spark data"}},
                     {"key": "id", "range": {"gt": 71}}]}
    got2 = sorted(r["id"] for r in
                  svc.search(40, "spark", limit=10,
                             query_filter=flt2).collect())
    assert got2 == [73]
    # the text-filter rewrite leaves unindexed clauses alone (no has_id
    # cut), and search() keeps their scan-stage substring semantics
    unindexed = {"must": [{"key": "lang", "match": {"text": "en"}}]}
    assert svc.catalog.rewrite_text_filter(
        svc.index_name, unindexed) == {
        "must": [{"key": "lang", "match": {"text": "en"}}]}
    got3 = sorted(r["id"] for r in
                  svc.search(40, "spark", limit=10,
                             query_filter=unindexed).collect())
    assert got3 == [71, 72, 73]


def test_search_plan_memo_and_invalidation(svc):
    """Serving plan cache (VERDICT r9 #4): a repeat /search request reuses
    the compiled DataFrame (zero plan reconstruction); any write publishes
    a new data version and naturally invalidates, so new points appear."""
    for i, text in [(201, "alpha data"), (202, "beta data")]:
        assert svc.insert(i, 50, text, "s", "en") == 1
    df1 = svc.search(50, "alpha data", limit=5)
    r1 = [r["id"] for r in df1.collect()]
    df2 = svc.search(50, "alpha data", limit=5)
    assert df2 is df1  # memo hit: literally the same compiled plan
    # different tenant / k / vector -> different plan
    assert svc.search(51, "alpha data", limit=5) is not df1
    assert svc.search(50, "alpha data", limit=3) is not df1
    assert svc.search(50, "other words", limit=5) is not df1
    # a write advances the version: memo key misses, fresh plan sees the row
    assert svc.insert(203, 50, "alpha data twin", "s", "en") == 1
    df3 = svc.search(50, "alpha data", limit=5)
    assert df3 is not df1
    ids = [r["id"] for r in df3.collect()]
    assert 203 in ids and set(r1) <= set(ids + r1)


def test_plan_memo_invalidates_on_index_and_recreate(svc, spark):
    """Two memo holes from the r10 review: (a) create/drop_payload_index
    changes match.text ROUTING semantics without a data-version bump — the
    payload-index state rides in the memo key; (b) drop+recreate restarts
    the version counter, so a recurring data.v{N} path must not hit the
    first incarnation's cached file listing — the dir inode rides too."""
    assert svc.insert(301, 70, "memo cookies probe", "s", "en") == 1
    flt = {"must": [{"key": "text", "match": {"text": "cookies"}}]}
    df1 = svc.search(70, "memo", limit=5, query_filter=flt)
    assert svc.search(70, "memo", limit=5, query_filter=flt) is df1
    # (a) declaring the index flips the clause from substring to routed
    svc.create_index("text", "text")
    df2 = svc.search(70, "memo", limit=5, query_filter=flt)
    assert df2 is not df1
    svc.catalog.drop_payload_index(svc.index_name, "text")
    df3 = svc.search(70, "memo", limit=5, query_filter=flt)
    assert df3 is not df2
    # (b) drop + recreate + reinsert: same data.v path, different files
    svc.catalog.drop(svc.index_name)
    svc.catalog.create(svc.index_name, svc.dim)
    assert svc.insert(302, 70, "memo cookies probe", "s", "en") == 1
    df4 = svc.search(70, "memo", limit=5, query_filter=flt)
    assert [r["id"] for r in df4.collect()] == [302]  # not stale, not FNF


def test_query_with_lookup_object_form(svc, spark):
    """with_lookup accepts Qdrant's object form {"collection": name} on
    the execution path too (the memo-key builder already did)."""
    import pyspark.sql.functions as SF

    assert svc.insert(311, 75, "alpha group doc", "s", "en") == 1
    assert svc.insert(312, 75, "beta group doc", "s", "en") == 1
    # lookup collection keyed by the group value (user_id)
    svc.catalog.create("profiles75", dim=2)
    svc.catalog.upsert("profiles75", spark.createDataFrame(
        [(75, [0.0, 0.0], "tenant seventy-five", 75)],
        "id long, embedding array<float>, text string, user_id long"))
    body = {"query": {"text": "alpha"}, "limit": 2, "group_by": "user_id",
            "group_size": 1, "with_lookup": {"collection": "profiles75"}}
    hits = svc.query(75, body)
    assert hits and hits[0]["lookup_text"] == "tenant seventy-five"
    # bare-string form unchanged
    body2 = dict(body, with_lookup="profiles75")
    assert svc.query(75, body2) == hits


def test_query_plan_memo_and_invalidation(svc):
    """The /query endpoint memoizes compiled plans like /search (r10):
    repeat bodies reuse the DataFrame (construction — including any
    filter-rewrite postings probe — is skipped), and a write invalidates
    via the immutable data-dir key component."""
    for i, text in [(211, "gamma data"), (212, "delta data")]:
        assert svc.insert(i, 60, text, "s", "en") == 1
    body = {"query": {"text": "gamma data"}, "limit": 3}
    before = len(svc._plan_memo)
    r1 = svc.query(60, body)
    assert len(svc._plan_memo) == before + 1
    r2 = svc.query(60, body)
    assert len(svc._plan_memo) == before + 1  # memo hit, no new entry
    assert r1 == r2
    # different body / tenant -> different plan entries
    svc.query(60, {"query": {"text": "gamma data"}, "limit": 2})
    svc.query(61, body)
    assert len(svc._plan_memo) == before + 3
    # write invalidates: the new point appears on the same body
    assert svc.insert(213, 60, "gamma data twin", "s", "en") == 1
    r3 = svc.query(60, body)
    assert 213 in [h["id"] for h in r3]


def test_query_memo_invalidates_on_lookup_recreate(svc, spark):
    """ADVICE r10 (medium): the /query memo keys each LOOKUP collection by
    (data dir, incarnation nonce) — drop+recreate of a lookup collection
    restarts its version counter (same data.v1 path, different files), so
    without the nonce the memoized plan would serve the first
    incarnation's cached file listing (FileNotFoundException or stale
    lookup rows)."""
    assert svc.insert(401, 80, "alpha lookup doc", "s", "en") == 1
    svc.catalog.create("prof80", dim=2)
    svc.catalog.upsert("prof80", spark.createDataFrame(
        [(80, [0.0, 0.0], "first incarnation", 80)],
        "id long, embedding array<float>, text string, user_id long"))
    body = {"query": {"text": "alpha"}, "limit": 2, "group_by": "user_id",
            "group_size": 1, "with_lookup": {"collection": "prof80"}}
    r1 = svc.query(80, body)
    assert r1[0]["lookup_text"] == "first incarnation"
    assert svc.query(80, body) == r1  # memo hit path exercised
    svc.catalog.drop("prof80")
    svc.catalog.create("prof80", dim=2)
    svc.catalog.upsert("prof80", spark.createDataFrame(
        [(80, [0.0, 0.0], "second incarnation", 80)],
        "id long, embedding array<float>, text string, user_id long"))
    r2 = svc.query(80, body)  # same path, new nonce -> fresh plan
    assert r2[0]["lookup_text"] == "second incarnation"


def test_collection_nonce_distinguishes_incarnations(svc):
    """Every create() persists a creation nonce; drop+recreate of the same
    name yields a different one (the memo-stamp primitive — inodes can
    recycle and st_ino is meaningless on object-store mounts)."""
    n1 = svc.catalog.meta(svc.index_name).nonce
    assert n1
    svc.catalog.drop(svc.index_name)
    svc.catalog.create(svc.index_name, svc.dim)
    n2 = svc.catalog.meta(svc.index_name).nonce
    assert n2 and n2 != n1


def test_search_template_serves_distinct_texts(svc):
    """VERDICT r10 wrong#1: distinct query texts must not rebuild the
    serving plan — the shape memo reuses one candidate frame per
    (data version, tenant, filter shape, k); only the distance literal
    changes. Results must be bit-equal to the full-construction path, and
    a write must still invalidate (new version -> new shape -> fresh
    frame over the new files)."""
    from vectordb_cloud_spark.functions.embedding import mock_vector
    from vectordb_cloud_spark.operators.knn import knn_search, search_response

    for i, text in [(501, "epsilon data"), (502, "zeta data")]:
        assert svc.insert(i, 90, text, "s", "en") == 1
    svc.search(90, "epsilon data", limit=5).collect()
    n_shp = len(svc._shape_memo)
    assert n_shp >= 1
    df2 = svc.search(90, "totally different words", limit=5)
    assert len(svc._shape_memo) == n_shp  # same shape: frame reused
    qv = mock_vector("totally different words", svc.dim)
    pts = svc.catalog.read_for_user(svc.index_name, 90)
    ref = search_response(knn_search(pts, qv, k=5, tiebreak="id")).collect()
    got = df2.collect()
    assert [(r["id"], r["string"], r["score"]) for r in got] == \
        [(r["id"], r["string"], r["score"]) for r in ref]  # bit-equal
    # a write advances the version: the same text now sees the new row
    assert svc.insert(503, 90, "totally different words twin", "s", "en") == 1
    df3 = svc.search(90, "totally different words", limit=5)
    assert 503 in [r["id"] for r in df3.collect()]
    assert len(svc._shape_memo) == n_shp + 1  # new version -> new shape


def test_search_template_respects_filters_and_k(svc):
    """The template path composes with site/lang/filter-DSL predicates
    (they live in the view, not the per-request SQL) and with k."""
    rows = [(601, "red apple pie", "s1", "en"), (602, "red apple tart", "s2", "en"),
            (603, "green pear pie", "s1", "de")]
    for i, (pid, text, site, lang) in enumerate(rows):
        assert svc.insert(pid, 95, text, site, lang) == 1
    flt = {"must": [{"key": "text", "match": {"text": "red"}}]}
    hits = svc.search(95, "apple dessert", limit=2, site="s1",
                      query_filter=flt).collect()
    assert [r["id"] for r in hits] == [601]
    # distinct text, same shape: template reused, same filtering
    hits2 = svc.search(95, "completely new query", limit=2, site="s1",
                       query_filter=flt).collect()
    assert [r["id"] for r in hits2] == [601]


def test_search_survives_unserializable_filter(svc):
    """A filter document json.dumps(sort_keys=True) cannot serialize
    (mixed str/int keys are unorderable) must SKIP the memo, not crash:
    the r11 review found the except branch set memo_key=None and the
    shape-memo probe then evaluated memo_key[:8] -> TypeError."""
    assert svc.insert(701, 97, "alpha beta", "s", "en") == 1
    flt = {"must": [{"key": "site", "match": {"value": "s"}}], 2: "ignored"}
    for _ in range(2):  # twice: full construction both times, still correct
        hits = svc.search(97, "alpha beta", limit=3,
                          query_filter=flt).collect()
        assert [r["id"] for r in hits] == [701]


def test_search_template_tiebreaks_on_point_id(svc, spark):
    """The templated shape-SQL must tiebreak tied distances on the POINT
    id, like the built path (knn_search tiebreak='id') — not on the
    `text_id AS id` OUTPUT alias the outer ORDER BY would capture first
    (r11 review). Two rows with identical embeddings and text_id ordering
    OPPOSITE to point-id ordering pin the difference."""
    from vectordb_cloud_spark.functions.embedding import mock_embed

    df = spark.createDataFrame(
        [(1, 900, "same text", 98, "s", "en"),
         (2, 100, "same text", 98, "s", "en")],
        "id long, text_id long, text string, user_id long, "
        "site string, lang string",
    ).withColumn("embedding", mock_embed("text", svc.dim))
    svc.catalog.upsert(svc.index_name, df)
    built = svc.search(98, "anything", limit=2).collect()  # stores the shape
    templ = svc.search(98, "other words", limit=2).collect()  # template path
    # the rows path: a first template hit marks the set, the second pins it
    marked = svc.search_hits(98, "marking words", limit=2)
    pinned = svc.search_hits(98, "more words", limit=2)
    assert svc.memo_stats()["pin_hits"] == 1
    # tied distances -> point-id order (1 then 2), i.e. text_ids [900, 100]
    assert [r["id"] for r in built] == [900, 100]
    assert [r["id"] for r in templ] == [900, 100]
    assert [r["id"] for r in marked] == [900, 100]
    assert [r["id"] for r in pinned] == [900, 100]


def test_search_template_survives_cleared_temp_views(svc):
    """If the host clears the session's temp views under a live shape memo,
    the next distinct-text request must rebuild (and re-store) instead of
    raising AnalysisException from the dead view name."""
    assert svc.insert(801, 99, "gamma delta", "s", "en") == 1
    svc.search(99, "gamma delta", limit=3).collect()
    assert len(svc._shape_memo) >= 1
    for (view, _sql) in list(svc._shape_memo.values()):
        svc.spark.catalog.dropTempView(view)
    hits = svc.search(99, "fresh words here", limit=3).collect()
    assert [r["id"] for r in hits] == [801]


def test_query_template_serves_distinct_texts(svc):
    """r11: /query's plain dense subset gets the /search shape-template
    treatment — a body differing only in query text/vector reuses the
    shape's candidate view + SQL (one spark.sql), bit-equal to full
    construction, invalidated by writes."""
    rows = [(901, "alpha beta", "s0"), (902, "gamma delta", "s1"),
            (903, "epsilon zeta", "s0"), (904, "eta theta", "s0")]
    for pid, text, site in rows:
        assert svc.insert(pid, 77, text, site, "en") == 1
    body = {"query": {"text": "first query"}, "limit": 2, "offset": 1,
            "filter": {"must": [{"key": "site", "match": {"value": "s0"}}]}}
    svc.query(77, body)  # full construction + shape store
    assert svc._shape_hits == 0
    body2 = dict(body, query={"text": "second distinct query"})
    got = svc.query(77, body2)
    assert svc._shape_hits == 1  # template path taken
    # ground truth: a FRESH service (empty memos) builds the same body
    ref_svc = VectorService(svc.spark, svc.catalog.root,
                            index_name=svc.index_name, dim=svc.dim)
    assert got == ref_svc.query(77, body2)  # bit-equal incl. offset paging
    # write -> new data version -> template rebuilt over the new files
    assert svc.insert(905, 77, "second distinct query twin", "s0", "en") == 1
    got3 = svc.query(77, dict(body2, offset=0, limit=4))
    assert 905 in [h["id"] for h in got3]


def test_query_template_params_exact_true_is_eligible(svc):
    """ADVICE r11: a body carrying the explicit Qdrant-client default
    ``params: {"exact": true}`` (or empty/null params) is exact-path
    identical to one without params — it must not silently disqualify
    the distinct-text template. The shape keys on the NORMALIZED body,
    so params-default and params-free bodies SHARE one template."""
    for pid, text in [(931, "iota kappa"), (932, "lambda mu"),
                      (933, "nu xi")]:
        assert svc.insert(pid, 79, text, "s0", "en") == 1
    base = {"query": {"text": "warmup text"}, "limit": 2}
    svc.query(79, dict(base, params={"exact": True}))  # stores the shape
    before = svc._shape_hits
    # distinct text + the other params spellings all hit the SAME shape
    got_default = svc.query(
        79, {"query": {"text": "second text"}, "limit": 2,
             "params": {"exact": True}})
    assert svc._shape_hits == before + 1
    got_empty = svc.query(
        79, {"query": {"text": "third text"}, "limit": 2, "params": {}})
    assert svc._shape_hits == before + 2
    got_none = svc.query(
        79, {"query": {"text": "fourth text"}, "limit": 2, "params": None})
    assert svc._shape_hits == before + 3
    got_bare = svc.query(79, {"query": {"text": "fifth text"}, "limit": 2})
    assert svc._shape_hits == before + 4
    # parity: template answers equal a fresh-service full construction
    ref = VectorService(svc.spark, svc.catalog.root,
                        index_name=svc.index_name, dim=svc.dim)
    for got, body in [
        (got_default, {"query": {"text": "second text"}, "limit": 2,
                       "params": {"exact": True}}),
        (got_empty, {"query": {"text": "third text"}, "limit": 2}),
        (got_none, {"query": {"text": "fourth text"}, "limit": 2}),
        (got_bare, {"query": {"text": "fifth text"}, "limit": 2}),
    ]:
        assert got == ref.query(79, body)
    # real knobs still keep full routing — no template probe/store
    before = svc._shape_hits
    svc.query(79, {"query": {"text": "sixth text"}, "limit": 2,
                   "params": {"exact": False}})
    assert svc._shape_hits == before


def test_query_template_nearest_spelling_shares_shape(svc):
    """r12: {"query": {"nearest": ...}} is the same plain dense body —
    it shares the distinct-text template with the bare spelling; an mmr
    sibling or a scalar (by-id) nearest stays on full construction."""
    for pid, text in [(941, "omicron pi"), (942, "rho sigma")]:
        assert svc.insert(pid, 81, text, "s0", "en") == 1
    svc.query(81, {"query": {"text": "warm text"}, "limit": 2})
    before = svc._shape_hits
    got = svc.query(81, {"query": {"nearest": {"text": "other text"}},
                         "limit": 2})
    assert svc._shape_hits == before + 1  # template served
    ref = VectorService(svc.spark, svc.catalog.root,
                        index_name=svc.index_name, dim=svc.dim)
    assert got == ref.query(81, {"query": {"nearest": {"text": "other text"}},
                                 "limit": 2})
    # mmr sibling and by-id nearest keep full construction
    before = svc._shape_hits
    svc.query(81, {"query": {"nearest": {"text": "x"}, "mmr": {}},
                   "limit": 2})
    svc.query(81, {"query": {"nearest": 941}, "limit": 2})
    assert svc._shape_hits == before


def test_query_template_ineligible_bodies_keep_full_construction(svc):
    """Prefetch/fusion/group_by/sparse bodies never store or probe the
    /query shape template — only the plain dense subset does."""
    for pid, text in [(911, "red apple"), (912, "green pear")]:
        assert svc.insert(pid, 78, text, "s", "en") == 1
    hits_before = svc._shape_hits
    shapes_before = len([k for k in svc._shape_memo if k[0] == "qshape"])
    body = {"prefetch": [{"query": {"text": "apple"}, "limit": 2}],
            "query": {"fusion": "rrf"}, "limit": 2}
    svc.query(78, body)
    svc.query(78, dict(body, prefetch=[{"query": {"text": "pear"},
                                        "limit": 2}]))
    assert svc._shape_hits == hits_before
    assert len([k for k in svc._shape_memo if k[0] == "qshape"]) == \
        shapes_before


def test_service_close_drops_shape_views(svc):
    """close() drops the shape-template views from the session catalog and
    clears the memos; the service still serves afterwards (rebuild)."""
    assert svc.insert(921, 61, "closing time", "s", "en") == 1
    svc.search(61, "closing time", limit=2).collect()
    views = [v for (v, _) in svc._shape_memo.values()]
    assert views
    svc.close()
    assert not svc._shape_memo and not svc._plan_memo
    listed = {t.name for t in svc.spark.catalog.listTables()}
    assert not (set(views) & listed)
    svc.close()  # idempotent
    hits = svc.search(61, "closing time again", limit=2).collect()
    assert [r["id"] for r in hits] == [921]


def test_query_template_randomized_parity(svc):
    """Seeded sweep: for random (filter, limit, offset, threshold,
    selector) shapes, a template-served body — answered from the pinned
    block — must equal a fresh-service full construction of the same
    body, keys, key order and value types included."""
    import random

    rng = random.Random(11)
    texts = ["amber wolf", "basalt ridge", "cedar grove", "dune sky",
             "ember coast", "fjord light"]
    for i, t in enumerate(texts):
        assert svc.insert(950 + i, 55, t, f"s{i % 2}", "en") == 1
    ref_svc = VectorService(svc.spark, svc.catalog.root,
                            index_name=svc.index_name, dim=svc.dim)
    for trial in range(6):
        flt = rng.choice([
            None,
            {"must": [{"key": "site", "match": {"value": "s0"}}]},
            {"must_not": [{"key": "text", "match": {"text": "wolf"}}]},
        ])
        body = {"query": {"text": f"warm {trial}"},
                "limit": rng.randint(1, 4)}
        if flt is not None:
            body["filter"] = flt
        if rng.random() < 0.5:
            body["offset"] = rng.randint(0, 2)
        if rng.random() < 0.5:
            body["with_payload"] = rng.choice([False, ["text"]])
        if rng.random() < 0.5:
            body["score_threshold"] = rng.choice([2.9, 3.3])
        svc.query(55, body)                      # store this shape
        # a first template hit marks the candidate set, the probe pins it
        svc.query(55, dict(body, query={"text": f"mark {trial}"}))
        probe = dict(body, query={"text": f"distinct {trial}"})
        before = (svc._shape_hits, svc.memo_stats()["pin_hits"])
        got = svc.query(55, probe)               # template path
        assert (svc._shape_hits, svc.memo_stats()["pin_hits"]) == \
            (before[0] + 1, before[1] + 1), f"trial {trial}: not pinned"
        ref_svc.close()                          # full construction
        assert _typed(got) == _typed(ref_svc.query(55, probe)), \
            f"trial {trial} mismatch"
    _assert_pins_within_budget(svc)


def test_query_batch_pinned_matches_knn_batch(svc, monkeypatch):
    """Once a read has pinned the tenant's unfiltered set, the batch's
    shared exact leg — dense, by-id and recommend bodies, one with a raw
    negative vector — is answered from the block with no knn_batch scan,
    equal (key order and value types included) to a fresh service's
    knn_batch answer; batches do not count as shape hits; a missing id
    still raises PointNotFoundError."""
    from vectordb_cloud_spark.errors import PointNotFoundError
    from vectordb_cloud_spark.operators import knn as knn_mod

    for i, t in enumerate(["red fox", "blue jay", "green frog", "red kite",
                           "grey wolf", "gold fish"]):
        assert svc.insert(1100 + i, 57, t, f"s{i % 2}", "en") == 1
    assert svc.insert(1199, 58, "red fox", "s0", "en") == 1
    bodies = [
        {"query": {"text": "red animal"}, "limit": 3},
        {"query": 1100, "limit": 2},
        {"query": {"nearest": 1101}, "limit": 4},
        {"query": {"recommend": {"positive": [1100, 1103],
                                 "negative": [[0.25] * svc.dim]}},
         "limit": 3},
        {"query": {"recommend": {"positive": [1102]}}, "limit": 2},
    ]
    calls = []
    orig = knn_mod.knn_batch

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(knn_mod, "knn_batch", spy)
    ref = VectorService(svc.spark, svc.catalog.root,
                        index_name=svc.index_name, dim=svc.dim)
    want = ref.query_batch(57, bodies)
    assert calls == [1]  # no pin: the shared knn_batch scan
    svc.query(57, {"query": {"text": "warm"}, "limit": 2})  # stores a shape
    svc.query(57, {"query": {"text": "mark"}, "limit": 2})  # marks the set
    svc.query(57, {"query": {"text": "pin"}, "limit": 2})   # pins it
    assert svc.memo_stats()["pinned_sets"] == 1
    shape_hits = svc._shape_hits
    pin_hits = svc.memo_stats()["pin_hits"]
    got = svc.query_batch(57, bodies)
    assert calls == [1]  # served from the pin
    assert svc._shape_hits == shape_hits
    assert svc.memo_stats()["pin_hits"] == pin_hits + len(bodies)
    assert [_typed(g) for g in got] == [_typed(w) for w in want]
    with pytest.raises(PointNotFoundError):  # 1199 is another tenant's
        svc.query_batch(57, [{"query": 1100, "limit": 2},
                             {"query": 1199, "limit": 2}])
    _assert_pins_within_budget(svc)


def test_pin_over_set_cap_stays_on_template(svc, monkeypatch):
    """A candidate set over 1/8 of the pin budget is never pinned: its
    reads stay template-served, one bounded collect (on the set's second
    template hit) leaves one negative mark per set (no re-collect on
    later hits, after a write either), and marks are bounded by the
    shape-memo cap."""
    for i in range(9):
        assert svc.insert(1200 + i, 59, f"doc number {i}", f"s{i % 3}",
                          "en") == 1
    # per-set cap = budget / 8: two rows of id + 16 float32 dims
    monkeypatch.setattr(VectorService, "_PIN_BUDGET_BYTES",
                        8 * 2 * (8 + 4 * svc.dim))
    svc._SHAPE_MEMO_CAP = 2
    collects = []
    orig = svc._collect_pin

    def spy(shape, cap):
        collects.append(shape.slot)
        return orig(shape, cap)

    monkeypatch.setattr(svc, "_collect_pin", spy)
    body = {"query": {"text": "warm"}, "limit": 3}
    svc.query(59, body)
    ref = VectorService(svc.spark, svc.catalog.root,
                        index_name=svc.index_name, dim=svc.dim)
    for n in range(3):
        probe = dict(body, query={"text": f"probe {n}"})
        before = svc._shape_hits
        got = svc.query(59, probe)
        assert svc._shape_hits == before + 1
        ref.close()
        assert _typed(got) == _typed(ref.query(59, probe))
    assert len(collects) == 1
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 0 and stats["pin_hits"] == 0
    assert list(svc._pin_marks.values()) == [("no", None)]
    for site in ("s0", "s1", "s2"):  # three more sets, each over the cap
        flt = {"must": [{"key": "site", "match": {"value": site}}]}
        svc.query(59, dict(body, filter=flt))
        svc.query(59, dict(body, filter=flt, query={"text": "again"}))
        svc.query(59, dict(body, filter=flt, query={"text": "third"}))
    assert len(collects) == 4
    assert len(svc._pin_marks) <= svc._SHAPE_MEMO_CAP
    assert svc.memo_stats()["pinned_sets"] == 0
    # the negative mark outlives a write: no collect at the new version
    assert svc.insert(1209, 59, "one more", "s2", "en") == 1
    flt = {"must": [{"key": "site", "match": {"value": "s2"}}]}
    svc.query(59, dict(body, filter=flt, query={"text": "after write"}))
    before = svc._shape_hits
    svc.query(59, dict(body, filter=flt, query={"text": "template"}))
    assert svc._shape_hits == before + 1
    assert len(collects) == 4
    _assert_pins_within_budget(svc)


def test_pin_budget_admits_without_evicting(svc, monkeypatch):
    """More sets than the budget holds, read in turn: the sets that found
    room stay pinned, the rest stay on the template, and no set is
    collected twice at one data version (no eviction thrash). A new data
    version drops the stale pins first and gives every set one more
    collect, again on its second hit. The collect is faked (a set's size
    is the first item of its slot)."""
    import numpy as np

    from vectordb_cloud_spark.api import _Pin, _Shape

    monkeypatch.setattr(VectorService, "_PIN_BUDGET_BYTES", 8_000)
    collects = []

    def fake_collect(shape, cap):
        collects.append((shape.slot, shape.at, cap))
        nbytes = shape.slot[0]
        if nbytes > cap:
            return None
        return _Pin(shape.at, "embedding", np.zeros(0, np.int64),
                    np.zeros((0, 0)), {}, ("id",), nbytes)

    monkeypatch.setattr(svc, "_collect_pin", fake_collect)

    sizes = (900, *[1_000] * 8, 990)  # 8 fit in the budget, then 100 left

    def read_all(v):
        for t, size in enumerate(sizes):
            svc._pin(_Shape("", None, "embedding", (), 10, 0, None,
                            slot=(size, "embedding", t),
                            at=(f"data.v{v}", None)))

    for _ in range(3):  # round-robin over 10 sets
        read_all(1)
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 8 and stats["pinned_bytes"] == 7_900
    assert len(collects) == 10  # one each; the last two had 100 bytes
    assert [c[2] for c in collects[-2:]] == [100, 100]
    read_all(2)  # a write: the first hit at the new version marks
    assert len(collects) == 10
    read_all(2)  # the second drops the stale pins and collects
    assert len(collects) == 20
    assert all(p.at == ("data.v2", None) for p in svc._pins.values())
    assert svc.memo_stats()["pinned_sets"] == 8
    _assert_pins_within_budget(svc)


def test_pin_collect_is_bounded_by_bytes(svc, monkeypatch):
    """A set of few rows with large text payloads — well under the row
    bound — is declined without its payload reaching the driver: no
    collect brings more than the per-set cap of text, and the reads stay
    template-served."""
    cap = 16_384
    monkeypatch.setattr(VectorService, "_PIN_BUDGET_BYTES", 8 * cap)
    for i in range(5):
        assert svc.insert(1500 + i, 63, "x" * 6000 + f" {i}", "s", "en") == 1
    fetched = []
    frame = type(svc.spark.range(1))
    orig = frame.collect

    def spy(self):
        rows = orig(self)
        fetched.append(sum(len(v) for r in rows for v in r.asDict().values()
                           if isinstance(v, str)))
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    body = {"query": {"text": "warm"}, "limit": 1}
    svc.query(63, body)
    for n in range(2):
        before = svc._shape_hits
        got = svc.query(63, dict(body, query={"text": f"probe {n}"}))
        assert svc._shape_hits == before + 1 and len(got) == 1
    assert 0 < max(fetched) <= cap
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 0 and stats["pin_hits"] == 0
    assert list(svc._pin_marks.values()) == [("no", None)]


def test_pin_empty_candidate_sets_answer_empty(svc):
    """An empty candidate set — a tenant with no points, or a filter that
    matches nothing — pins as an empty block: repeated distinct-text reads
    through query() and the rows-level /search (cold, marking, pinning,
    pinned), and a dense batch on the pinned tenant, answer [] as the
    template does."""
    assert svc.insert(1400, 61, "only doc", "news", "en") == 1
    for n in range(4):
        assert svc.query(62, {"query": {"text": f"empty {n}"},
                              "limit": 3}) == []
        assert svc.search_hits(61, f"blog {n}", limit=3, site="blog") == []
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 2 and stats["pin_hits"] == 4
    assert svc.query_batch(62, [{"query": {"text": "a"}, "limit": 2},
                                {"query": {"text": "b"}, "limit": 2}]) \
        == [[], []]
    assert svc.memo_stats()["pin_hits"] == 6
    _assert_pins_within_budget(svc)


def test_pin_follows_writes_and_close_drops_it(svc):
    """A write between two reads: the new row is visible, and the set's
    new pin replaces the old one in place (pinned_sets does not grow).
    close() releases every pin and mark."""
    for i, t in enumerate(["alpha one", "beta two", "gamma three"]):
        assert svc.insert(1300 + i, 60, t, "s", "en") == 1
    body = {"query": {"text": "warm"}, "limit": 10}
    svc.query(60, body)
    svc.query(60, dict(body, query={"text": "mark"}))  # marks the set
    svc.query(60, dict(body, query={"text": "first"}))  # pins it
    assert svc.memo_stats()["pinned_sets"] == 1
    assert svc.insert(1303, 60, "delta four", "s", "en") == 1
    cold = svc.query(60, dict(body, query={"text": "after write"}))
    assert 1303 in [h["id"] for h in cold]
    marked = svc.query(60, dict(body, query={"text": "mark again"}))
    assert 1303 in [h["id"] for h in marked]  # template-served
    probe = dict(body, query={"text": "second"})
    got = svc.query(60, probe)  # the second hit at the new version re-pins
    assert 1303 in [h["id"] for h in got]
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 1 and stats["pin_hits"] == 2
    ref = VectorService(svc.spark, svc.catalog.root,
                        index_name=svc.index_name, dim=svc.dim)
    assert _typed(got) == _typed(ref.query(60, probe))
    _assert_pins_within_budget(svc)
    svc.close()
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 0 and stats["pinned_bytes"] == 0
    assert not svc._pin_marks


def test_pin_memo_bytes_hold_under_threads(svc, monkeypatch):
    """First hits, version changes, declines and full-budget declines
    racing on threads (create_app serves from FastAPI's threadpool) keep
    pinned_bytes equal to the held pins' sum and within the budget, and
    negative entries within their cap. The collect is faked: the lock
    around the memo is what is under test."""
    import random
    import sys
    import threading

    import numpy as np

    from vectordb_cloud_spark.api import _Pin, _Shape

    monkeypatch.setattr(VectorService, "_PIN_BUDGET_BYTES", 8_000)
    svc._SHAPE_MEMO_CAP = 3

    def fake_collect(shape, cap):
        nbytes = shape.slot[0] % 7 * 100  # every 7th set does not fit
        if not nbytes or nbytes > cap:
            return None
        return _Pin(shape.at, "embedding", np.zeros(0, np.int64),
                    np.zeros((0, 0)), {}, ("id",), nbytes)

    monkeypatch.setattr(svc, "_collect_pin", fake_collect)
    shapes = [_Shape("", None, "embedding", (), 10, 0, None,
                     slot=(t, "embedding", None), at=(f"data.v{v}", None))
              for t in range(40) for v in range(3)]
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(400):
                svc._pin(rng.choice(shapes))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(svc._pin_marks) <= svc._SHAPE_MEMO_CAP
    _assert_pins_within_budget(svc)
    # the memo still admits after the race, whatever its last
    # interleaving left: a fitting set hit twice at a fresh data version
    # is pinned (the second hit drops the older versions' pins first)
    fresh = _Shape("", None, "embedding", (), 10, 0, None,
                   slot=(1, "embedding", None), at=("data.v9", None))
    svc._pin(fresh)
    assert svc._pin(fresh) is svc._pins[fresh.slot]
    assert svc._pins[fresh.slot].at == fresh.at
    _assert_pins_within_budget(svc)


def _l2_block_by_column(block, q):
    """The distance loop ``_l2_block`` replaced: one column op per
    dimension, accumulated in dimension order."""
    import numpy as np

    acc = np.zeros(block.shape[1])
    if not block.shape[1]:
        return acc
    for j, y in enumerate(q):
        d = block[j].astype(np.float64) - y
        acc += d * d
    return np.sqrt(acc)


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_l2_block_bit_equal_to_column_loop(dtype):
    """The broadcast distance kernel is bit-equal to the per-dimension
    loop at every width, including n = 1 (where a pairwise axis-0 sum
    would differ), for float32 and float64 blocks of several magnitudes."""
    import numpy as np

    from vectordb_cloud_spark.api import _l2_block

    rng = np.random.default_rng(5)
    for dim in (16, 64):
        for n in (0, 1, 2, 7, 8, 9, 203, 609, 5000):
            for mag in (1e-2, 1e-1, 1.0, 1e1, 1e2):
                block = (rng.standard_normal((dim, n)) * mag).astype(dtype)
                q = rng.standard_normal(dim) * mag
                got = _l2_block(block, q)
                assert got.dtype == np.float64
                assert np.array_equal(got, _l2_block_by_column(block, q)), \
                    (dim, n, mag)


def _jobs(spark) -> int:
    """Spark jobs the application has run so far: the newest job id + 1.
    The store keeps only the last ``spark.ui.retainedJobs`` jobs, so its
    size stops counting (and can shrink) in a long test session."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the status store updates async
    jobs = sc.statusStore().jobsList(None)  # sorted by job id
    n = jobs.size()
    return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) + 1 if n else 0


def _pinned_tenant(svc, uid, n=90):
    """Load tenant ``uid`` (``n`` points; some null sites, some empty
    langs) and pin its unfiltered set: a cold read, a marking template
    hit and a pinning one."""
    from vectordb_cloud_spark.functions.embedding import mock_embed

    words = ("river", "stone", "cloud", "maple", "ember", "quartz", "willow")
    rows = [(3000 + 1000 * uid + i, 7000 + i,
             f"{words[i % 7]} {words[i * 3 % 5]} item{i}", uid,
             None if i % 11 == 0 else f"s{i % 3}",
             "" if i % 7 == 0 else ("en" if i % 2 else "de"))
            for i in range(n)]
    df = svc.spark.createDataFrame(
        rows, "id long, text_id long, text string, user_id long, "
        "site string, lang string",
    ).withColumn("embedding", mock_embed("text", svc.dim))
    svc.catalog.upsert(svc.index_name, df)
    for text in ("warm", "mark", "pin"):
        svc.query(uid, {"query": {"text": text}, "limit": 5})
    assert svc._tenant_pin(uid) is not None
    return [r[0] for r in rows]


def _template_ref(svc):
    """A service on the same collection that never pins: its template
    hits run the shape's SQL."""
    ref = VectorService(svc.spark, svc.catalog.root,
                        index_name=svc.index_name, dim=svc.dim)
    ref._PIN_BUDGET_BYTES = 0
    return ref


def _templated(ref, fn, *args, **kw):
    """``fn``'s answer, asserted to be a shape-template hit of ``ref``."""
    before = ref._shape_hits
    got = fn(*args, **kw)
    assert ref._shape_hits == before + 1, "not template-served"
    return got


def _wsgi_get(app, path, **params):
    """One GET through the WSGI app, in-process: (status, JSON body)."""
    import json
    import urllib.parse
    from wsgiref.util import setup_testing_defaults

    env = {"PATH_INFO": path, "QUERY_STRING": urllib.parse.urlencode(params)}
    setup_testing_defaults(env)
    status = []
    body = b"".join(app(env, lambda s, h, exc=None: status.append(s)))
    return int(status[0].split()[0]), json.loads(body)


def _derive_steps(svc, ref, uid, flt, tag, limit=8):
    """A filtered set's cold read, then its first and second template
    hits, each equal to the template SQL's answer; returns the jobs the
    two hits ran and the last answer."""
    body = {"query": {"text": f"cold {tag}"}, "limit": limit, "filter": flt}
    svc.query(uid, body)
    ref.query(uid, body)
    jobs = 0
    for step in ("first", "second"):
        probe = dict(body, query={"text": f"{step} {tag}"})
        j0 = _jobs(svc.spark)
        got = svc.query(uid, probe)
        jobs += _jobs(svc.spark) - j0
        assert _typed(got) == _typed(_templated(ref, ref.query, uid, probe)), \
            (tag, step)
    return jobs, got


_DERIVED_FILTERS = {
    "match_value": {"must": [{"key": "site", "match": {"value": "s1"}}]},
    "match_any": {"must": [{"key": "lang", "match": {"any": ["en", ""]}}]},
    "match_except": {"must": [{"key": "site",
                               "match": {"except": ["s0"]}}]},
    "match_text": {"must": [{"key": "text", "match": {"text": "river"}}]},
    "regex": {"must": [{"key": "text", "match": {"regex": "item[1-3]\\d$"}}]},
    "range": {"must": [{"key": "text_id",
                        "range": {"gte": 7010, "lt": 7050}}]},
    "is_null": {"must": [{"is_null": {"key": "site"}}]},
    "is_empty": {"must": [{"is_empty": {"key": "lang"}}]},
    "must_not": {"must_not": [{"key": "site", "match": {"value": "s2"}}]},
    "should": {"should": [{"key": "site", "match": {"value": "s0"}},
                          {"key": "lang", "match": {"value": "de"}}]},
}


def test_derived_sets_match_template_without_jobs(svc):
    """On a tenant whose unfiltered set is pinned, each filtered set —
    every filter-DSL form the scan stage compiles, has_id over 64 ids
    (the parsed SQL IN form) and a filter matching nothing included — is
    cut from the tenant's block: its first and second template hits run
    no Spark job, the second stores it as a pin, and query(),
    search_hits and HTTP /search answer exactly as the template SQL does
    (ids, order, float scores)."""
    import json

    from vectordb_cloud_spark.http_app import make_wsgi_app

    ids = _pinned_tenant(svc, 71)
    ref = _template_ref(svc)
    app = make_wsgi_app(svc)
    filters = dict(_DERIVED_FILTERS,
                   has_id={"must": [{"has_id": ids[10:85] + [1]}]},
                   nothing={"must": [{"key": "site",
                                      "match": {"value": "none"}}]})
    assert len(filters["has_id"]["must"][0]["has_id"]) > 64
    for tag, flt in filters.items():
        sets, hits = (svc.memo_stats()[k] for k in ("pinned_sets",
                                                    "pin_hits"))
        jobs, got = _derive_steps(svc, ref, 71, flt, tag)
        assert jobs == 0, tag
        stats = svc.memo_stats()
        assert (stats["pinned_sets"], stats["pin_hits"]) == \
            (sets + 1, hits + 2), tag
        assert (got == []) == (tag == "nothing"), tag
        svc.search_hits(71, f"cold {tag}", limit=6, query_filter=flt)
        ref.search_hits(71, f"cold {tag}", limit=6, query_filter=flt)
        text = f"search {tag}"
        want = _templated(ref, ref.search_hits, 71, text, limit=6,
                          query_filter=flt)
        assert _typed(svc.search_hits(71, text, limit=6,
                                      query_filter=flt)) == _typed(want), tag
        status, http = _wsgi_get(app, "/search", user_id=71, text=text,
                                 limit=6, filter=json.dumps(flt))
        assert status == 200 and _typed(http) == _typed(want), tag
    _assert_pins_within_budget(svc)


def test_derived_set_falls_back_when_block_cannot_evaluate(svc):
    """A filter the tenant's block cannot evaluate (a vector column, which
    the block does not carry) keeps today's path — a template query on
    the first hit, a collect on the second — and still answers as the
    template SQL does."""
    _pinned_tenant(svc, 72)
    ref = _template_ref(svc)
    flt = {"must_not": [{"is_empty": {"key": "embedding"}}]}
    sets = svc.memo_stats()["pinned_sets"]
    jobs, got = _derive_steps(svc, ref, 72, flt, "vector")
    assert jobs > 0 and len(got) == 8
    assert svc.memo_stats()["pinned_sets"] == sets + 1  # collected


def test_derived_pins_follow_writes_and_close(svc):
    """A write drops a derived pin together with its base: at the new
    version the filtered set is re-derived — without a job, the new point
    included — once the base is pinned again. close() drops derived pins
    and their marks."""
    _pinned_tenant(svc, 73)
    ref = _template_ref(svc)
    flt = _DERIVED_FILTERS["match_value"]
    assert _derive_steps(svc, ref, 73, flt, "v1")[0] == 0
    assert svc.memo_stats()["pinned_sets"] == 2
    assert svc.insert(99_001, 73, "river river river", "s1", "en") == 1
    for text in ("warm", "mark", "pin"):  # the base, re-pinned
        svc.query(73, {"query": {"text": text}, "limit": 5})
    assert svc.memo_stats()["pinned_sets"] == 1  # the stale pins dropped
    jobs, got = _derive_steps(svc, ref, 73, flt, "v2", limit=90)
    assert jobs == 0 and 99_001 in [h["id"] for h in got]
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 2
    assert all(p.at == svc._tenant_pin(73).at for p in svc._pins.values())
    _assert_pins_within_budget(svc)
    svc.close()
    stats = svc.memo_stats()
    assert stats["pinned_sets"] == 0 and stats["pinned_bytes"] == 0
    assert not svc._pin_marks


def test_derived_set_without_room_is_served_unstored(svc):
    """A derived set that does not fit the room the live pins leave is
    never stored and evicts no live pin, yet every template hit on it is
    still cut from the tenant's block without a job."""
    _pinned_tenant(svc, 74)
    ref = _template_ref(svc)
    assert _derive_steps(svc, ref, 74, _DERIVED_FILTERS["match_value"],
                         "fits")[0] == 0
    live = dict(svc._pins)
    assert len(live) == 2  # the base and one derived set
    # leave 100 bytes of room: less than any derived set
    svc._PIN_BUDGET_BYTES = svc.memo_stats()["pinned_bytes"] + 100
    flt = _DERIVED_FILTERS["must_not"]
    hits = svc.memo_stats()["pin_hits"]
    assert _derive_steps(svc, ref, 74, flt, "tight")[0] == 0
    probe = {"query": {"text": "third tight"}, "limit": 8, "filter": flt}
    j0 = _jobs(svc.spark)
    got = svc.query(74, probe)
    assert _jobs(svc.spark) == j0
    assert _typed(got) == _typed(_templated(ref, ref.query, 74, probe))
    assert svc._pins.keys() == live.keys()  # nothing stored or evicted
    assert all(svc._pins[slot] is pin for slot, pin in live.items())
    assert svc.memo_stats()["pin_hits"] == hits + 3
    _assert_pins_within_budget(svc)


def test_derived_pins_hold_under_threads(svc, monkeypatch):
    """Derived and collected sets racing on threads, across two data
    versions, keep pinned_bytes equal to the held pins' sum and within
    the budget, and marks within their cap; a set is only derived from a
    base pin of its own data version. Collect and derive are faked: the
    lock around the memo is what is under test."""
    import random
    import sys
    import threading

    import numpy as np

    from vectordb_cloud_spark.api import _Pin, _Shape

    monkeypatch.setattr(VectorService, "_PIN_BUDGET_BYTES", 8_000)
    svc._SHAPE_MEMO_CAP = 3
    derives = []

    def fake_pin(shape, nbytes):
        return _Pin(shape.at, "embedding", np.zeros(0, np.int64),
                    np.zeros((0, 0)), {}, ("id",), nbytes)

    def fake_collect(shape, cap):
        nbytes = 300 * (1 + shape.slot[0] % 3)
        return fake_pin(shape, nbytes) if nbytes <= cap else None

    def fake_derive(shape, base):
        derives.append(base.at == shape.at)
        return fake_pin(shape, 50 * (1 + shape.slot[2]))

    monkeypatch.setattr(svc, "_collect_pin", fake_collect)
    monkeypatch.setattr(svc, "_derive_pin", fake_derive)
    shapes = [_Shape("", None, "embedding", (), 10, 0, None,
                     slot=(t, "embedding", f), at=(f"data.v{v}", None),
                     flt=None if f is None else f"filter {f}")
              for t in range(6) for f in (None, 0, 1, 2) for v in range(2)]
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(400):
                svc._pin(rng.choice(shapes))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert derives and all(derives)
    assert len(svc._pin_marks) <= svc._SHAPE_MEMO_CAP
    _assert_pins_within_budget(svc)


def test_query_template_noncanonical_selectors_stay_cold(svc):
    """Shape-key hygiene (r11 review #2): object-form with_payload must
    NOT collide with with_payload=True under one shape key, unhashable
    selector values must not crash the probe, and a malformed offset must
    fail identically whether the shape is warm or cold."""
    import pytest as _pytest

    for i, t in enumerate(["ash grove", "birch knoll"]):
        assert svc.insert(970 + i, 44, t, "s", "en") == 1
    base = {"query": {"text": "seed"}, "limit": 2}
    svc.query(44, base)  # warm the plain shape (with_payload=True)
    # object form: ineligible -> full construction (score cols only),
    # never served from the with_payload=True template
    got = svc.query(44, {"query": {"text": "x"}, "limit": 2,
                         "with_payload": {"include": ["text"]}})
    assert got and set(got[0]) == {"id", "dist"}
    # and it must not have poisoned the True-form shape
    got2 = svc.query(44, {"query": {"text": "y"}, "limit": 2})
    assert "text" in got2[0]
    # unhashable selector values: no TypeError, request still served
    got3 = svc.query(44, {"query": {"text": "z"}, "limit": 2,
                          "with_payload": [{"weird": 1}]})
    assert got3 and "id" in got3[0]
    # malformed offset: same error warm as cold
    with _pytest.raises(TypeError):
        svc.query(44, {"query": {"text": "w"}, "limit": 2, "offset": None})


def test_query_score_threshold_recommend_discover_endpoint(svc):
    """r12: score_threshold now threads through VectorService.query into
    the recommend and discover branches (Qdrant accepts it there) — the
    endpoint-level twin of test_query_api's operator ground truth."""
    for i, t in enumerate(["apple orchard", "apple pie", "pear tart",
                           "plum jam", "quince paste"]):
        assert svc.insert(990 + i, 34, t, "s", "en") == 1
    body = {"query": {"recommend": {"positive": [990]}}, "limit": 4}
    full = svc.query(34, body)
    assert len(full) == 4
    thr = (full[1]["dist"] + full[2]["dist"]) / 2  # keep top-2
    cut = svc.query(34, dict(body, score_threshold=thr))
    assert [h["id"] for h in cut] == [h["id"] for h in full[:2]]
    # discover: cut on context_score (higher-is-better)
    dbody = {"query": {"discover": {
        "target": [0.0] * svc.dim,
        "context": [{"positive": [0.1] * svc.dim,
                     "negative": [-0.1] * svc.dim}],
    }}, "limit": 5}
    dfull = svc.query(34, dbody)
    assert dfull
    td = dfull[min(1, len(dfull) - 1)]["context_score"]
    dcut = svc.query(34, dict(dbody, score_threshold=td))
    assert [h["id"] for h in dcut] == \
        [h["id"] for h in dfull if h["context_score"] >= td]


def test_query_score_threshold_through_template(svc):
    """Qdrant score_threshold on /query (r11): applied on the built path
    AND baked into the shape template's WHERE clause — distinct-text
    requests with the same threshold serve from the template with
    identical cuts; a different threshold is a different shape."""
    import math as _math

    for i, t in enumerate(["sun spot", "moon dust", "star sand"]):
        assert svc.insert(980 + i, 33, t, "s", "en") == 1
    ranked = svc.query(33, {"query": {"text": "probe"}, "limit": 3})
    assert len(ranked) == 3
    thr = (ranked[1]["dist"] + ranked[2]["dist"]) / 2  # keep top-2
    body = {"query": {"text": "probe"}, "limit": 3, "score_threshold": thr}
    got = svc.query(33, body)  # stores the thresholded shape
    assert [h["id"] for h in got] == [h["id"] for h in ranked[:2]]
    before = svc._shape_hits
    got2 = svc.query(33, dict(body, query={"text": "different probe"}))
    assert svc._shape_hits == before + 1  # template served
    assert all(h["dist"] <= thr for h in got2) and got2
    ref_svc = VectorService(svc.spark, svc.catalog.root,
                            index_name=svc.index_name, dim=svc.dim)
    assert got2 == ref_svc.query(33, dict(body,
                                          query={"text": "different probe"}))
    # non-finite thresholds are rejected loudly on every path (fourth
    # review pass: NaN compares false and would silently empty results)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="finite"):
        svc.query(33, {"query": {"text": "x"}, "limit": 3,
                       "score_threshold": _math.inf})


def test_query_params_exact_false_routes_through_sidecar(spark, tmp_path):
    """Qdrant /query params.exact=false (r11): a plain dense body serves
    through the collection's ANN sidecar like /search's exact=False; with
    no sidecar configured it silently stays exact; non-plain bodies keep
    the exact grammar path."""
    svc = VectorService(spark, str(tmp_path / "annq"), index_name="A",
                        dim=8, ann_index={"ivf": {"k_centroids": 4,
                                                  "nprobe": 4}})
    assert svc.insert_batch([
        {"id": i, "user_id": 9, "text": f"point number {i}", "site": "s",
         "lang": "en"} for i in range(40)]) == 40
    body = {"query": {"text": "point number 7"}, "limit": 5,
            "params": {"exact": False}}
    got = svc.query(9, body)
    assert len(got) == 5 and "dist" in got[0] and "text" in got[0]
    # nprobe == k_centroids: the full probe equals exact search
    exact = svc.query(9, {"query": {"text": "point number 7"}, "limit": 5})
    assert [h["id"] for h in got] == [h["id"] for h in exact]
    # exact-repeat body hits the plan memo
    before = svc._plan_hits
    assert svc.query(9, body) == got and svc._plan_hits == before + 1
    # no sidecar: silently exact
    svc2 = VectorService(spark, str(tmp_path / "noq"), index_name="B", dim=8)
    assert svc2.insert(1, 9, "solo", "s", "en") == 1
    assert svc2.query(9, {"query": {"text": "solo"}, "limit": 2,
                          "params": {"exact": False}})


def test_query_params_quantization_and_hnsw_ef(spark, tmp_path):
    """The rest of Qdrant's search params on the /query sidecar path:
    quantization.ignore falls back to exact originals, rescore/
    oversampling pass through, hnsw_ef overrides the graph beam."""
    svc = VectorService(spark, str(tmp_path / "qz"), index_name="Q", dim=8,
                        quantization={"scalar": {"type": "int8"}})
    assert svc.insert_batch([
        {"id": i, "user_id": 4, "text": f"quantized point {i}", "site": "s",
         "lang": "en"} for i in range(30)]) == 30
    body = {"query": {"text": "quantized point 3"}, "limit": 5}
    exact = svc.query(4, body)
    via_codes = svc.query(4, dict(
        body, params={"exact": False,
                      "quantization": {"rescore": True, "oversampling": 4}}))
    assert [h["id"] for h in via_codes] == [h["id"] for h in exact]
    ignored = svc.query(4, dict(
        body, params={"exact": False, "quantization": {"ignore": True}}))
    assert ignored == exact  # codes disabled -> plain exact path
    svg = VectorService(spark, str(tmp_path / "gz"), index_name="G", dim=8,
                        ann_index={"graph": {"degree": 8, "beam": 4,
                                             "max_hops": 3}})
    assert svg.insert_batch([
        {"id": i, "user_id": 4, "text": f"graph point {i}", "site": "s",
         "lang": "en"} for i in range(60)]) == 60
    wide = svg.query(4, dict(body, params={"exact": False, "hnsw_ef": 48}))
    assert len(wide) == 5 and "dist" in wide[0]


def test_query_ann_zero_limit_on_graph_is_empty(spark, tmp_path):
    """A filtered ``limit: 0`` ANN body on a graph collection whose tenant
    is above ``full_scan_threshold`` takes the navigated band and answers
    ``[]``, like the exact path — not an IndexError from the audit."""
    svc = VectorService(spark, str(tmp_path / "gz0"), index_name="G0",
                        dim=8, ann_index={"graph": {
                            "degree": 4, "beam": 4, "max_hops": 2,
                            "full_scan_threshold": 4}})
    assert svc.insert_batch([
        {"id": i, "user_id": 3, "text": f"graph point {i}", "site": "s",
         "lang": "en"} for i in range(30)]) == 30
    body = {"query": {"text": "graph point 7"}, "limit": 0,
            "params": {"exact": False}}
    assert svc.query(3, body) == []


def test_query_batch_ann_shared_parity(spark, tmp_path):
    """r14: >=2 plain dense bodies carrying params {"exact": false} —
    Qdrant's ANN default — share the plain-IVF sidecar: one planning
    count, one pruned scan of the union of probed inverted lists, one
    batched sample audit. Results must equal per-request query() exactly
    (ids, distances, envelope) in BOTH planner bands."""
    # probed band: tenant m=30 > full_scan_threshold=4, audit on
    svc = VectorService(spark, str(tmp_path / "annb"), index_name="AnnB",
                        dim=16, ann_index={"ivf": {
                            "k_centroids": 4, "nprobe": 2,
                            "full_scan_threshold": 4}})
    assert svc.insert_batch([
        {"id": i, "user_id": 5, "text": f"doc number {i} about topic {i % 7}",
         "site": "s", "lang": "en"} for i in range(30)]) == 30
    bodies = [
        {"query": {"text": "topic 3"}, "limit": 4,
         "params": {"exact": False}},
        {"query": {"text": "doc number 11"}, "limit": 2,
         "params": {"exact": False}},
        {"query": {"nearest": {"text": "topic 5"}}, "limit": 3,
         "params": {"exact": False}},
        {"query": {"text": "topic 5"}, "limit": 3},  # exact body: shared
        # hnsw_ef changes the serve plan -> per-request dispatch
        {"query": {"text": "topic 1"}, "limit": 2,
         "params": {"exact": False, "hnsw_ef": 64}},
    ]
    got = svc.query_batch(5, bodies)
    want = [svc.query(5, b) for b in bodies]
    for g, w in zip(got, want):
        assert [r["id"] for r in g] == [r["id"] for r in w]
        assert [round(r["dist"], 12) for r in g] == \
            [round(r["dist"], 12) for r in w]
        assert all(set(rg) == set(rw) for rg, rw in zip(g, w))  # envelope
    assert all("query_id" not in r and "embedding" not in r
               for rows in got for r in rows)
    # exact band: default full_scan_threshold (10k) >> m — the ann bodies
    # fold into the shared exact scan and still match per-request
    svc2 = VectorService(spark, str(tmp_path / "annb2"), index_name="AnnB2",
                         dim=16, ann_index={"ivf": {
                             "k_centroids": 4, "nprobe": 2}})
    assert svc2.insert_batch([
        {"id": i, "user_id": 6, "text": f"piece {i} of corpus {i % 5}",
         "site": "s", "lang": "en"} for i in range(20)]) == 20
    bodies2 = [
        {"query": {"text": "corpus 2"}, "limit": 3,
         "params": {"exact": False}},
        {"query": {"text": "piece 7"}, "limit": 2,
         "params": {"exact": False}},
    ]
    got2 = svc2.query_batch(6, bodies2)
    want2 = [svc2.query(6, b) for b in bodies2]
    for g, w in zip(got2, want2):
        assert [r["id"] for r in g] == [r["id"] for r in w]
        assert [round(r["dist"], 12) for r in g] == \
            [round(r["dist"], 12) for r in w]
    # non-IVF sidecar (graph): the shared path declines, per-request
    # serves — parity still holds
    svc3 = VectorService(spark, str(tmp_path / "annb3"), index_name="AnnB3",
                         dim=16, ann_index={"graph": {
                             "degree": 4, "beam": 8, "max_hops": 2,
                             "full_scan_threshold": 0}})
    assert svc3.insert_batch([
        {"id": i, "user_id": 7, "text": f"graph doc {i}", "site": "s",
         "lang": "en"} for i in range(15)]) == 15
    bodies3 = [
        {"query": {"text": "graph doc 3"}, "limit": 3,
         "params": {"exact": False}},
        {"query": {"text": "graph doc 9"}, "limit": 3,
         "params": {"exact": False}},
    ]
    got3 = svc3.query_batch(7, bodies3)
    want3 = [svc3.query(7, b) for b in bodies3]
    for g, w in zip(got3, want3):
        assert [r["id"] for r in g] == [r["id"] for r in w]


def _assert_search_is_query(svc, user_id, body, templated=True, **kw):
    """``svc.search(**kw)`` equals ``svc.query(body)`` in the reference's
    {id, string, score} projection — on the cold first request and on a
    second request with a different text, which the shape template
    serves when ``templated``."""
    for i, text in enumerate(("first probe text", "second probe text")):
        before = svc._shape_hits
        got = [(r["id"], r["string"], r["score"]) for r in
               svc.search(user_id, text, limit=body["limit"], **kw).collect()]
        if i and templated:
            assert svc._shape_hits == before + 1, "search not templated"
        want = [(h["text_id"], h["text"], h["dist"]) for h in
                svc.query(user_id, dict(body, query={"text": text}))]
        assert got and got == want


def test_search_is_query_site_lang_and_filter(svc):
    """/search folds site/lang into the filter document as match.value
    clauses, next to the caller's own filter document."""
    rows = [(1001, "red apple pie", "s1", "en"),
            (1002, "red apple tart", "s2", "en"),
            (1003, "green pear pie", "s1", "de"),
            (1004, "blue plum pie", "s1", "en")]
    svc.insert_batch([{"id": pid, "user_id": 45, "text": text, "site": site,
                       "lang": lang} for pid, text, site, lang in rows])
    site_lang = {"must": [{"key": "site", "match": {"value": "s1"}},
                          {"key": "lang", "match": {"value": "en"}}]}
    _assert_search_is_query(svc, 45, {"limit": 3, "filter": site_lang},
                            site="s1", lang="en")
    flt = {"must_not": [{"key": "text", "match": {"text": "plum"}}]}
    _assert_search_is_query(svc, 45, {"limit": 3, "filter": flt},
                            query_filter=flt)
    both = {"must": [{"key": "site", "match": {"value": "s1"}},
                     {"key": "text", "match": {"text": "pie"}}],
            "must_not": [{"key": "lang", "match": {"value": "de"}}]}
    _assert_search_is_query(
        svc, 45, {"limit": 3, "filter": both}, site="s1",
        query_filter={"must": {"key": "text", "match": {"text": "pie"}},
                      "must_not": both["must_not"]})


def test_search_is_query_text_indexed_and_text_id(svc, spark):
    """A match.text clause on a text-indexed field is served by the same
    rewrite on both routes, and /search's `id` is the point's text_id
    while the tiebreak stays the point id."""
    from vectordb_cloud_spark.functions.embedding import mock_embed

    svc.create_index("text", "text")
    df = spark.createDataFrame(
        [(1, 5001, "spark joins shuffle data", 46, "s", "en"),
         (2, 5002, "database joins only", 46, "s", "en"),
         (3, 5003, "spark data pipelines", 46, "s", "en"),
         (4, 5000, "spark data pipelines", 46, "s", "en")],
        "id long, text_id long, text string, user_id long, "
        "site string, lang string",
    ).withColumn("embedding", mock_embed("text", svc.dim))
    svc.catalog.upsert(svc.index_name, df)
    flt = {"must": [{"key": "text", "match": {"text": "spark data"}}]}
    _assert_search_is_query(svc, 46, {"limit": 4, "filter": flt},
                            query_filter=flt)
    _assert_search_is_query(svc, 46, {"limit": 4})
    ids = [r["id"] for r in svc.search(46, "spark data pipelines",
                                       limit=4).collect()]
    assert ids[:2] == [5003, 5000]  # tied: point id 3 before 4


def test_search_is_query_exact_false(spark, tmp_path):
    """exact=False maps to params {"exact": false}: with an IVF sidecar
    both routes take the same ANN route; with no sidecar /search stays
    exact and template-served."""
    svc = VectorService(spark, str(tmp_path / "ivf"), index_name="I", dim=8,
                        ann_index={"ivf": {"k_centroids": 4, "nprobe": 2,
                                           "full_scan_threshold": 0}})
    rows = [{"id": i, "user_id": 9, "text": f"point number {i}", "site": "s",
             "lang": "en"} for i in range(40)]
    svc.insert_batch(rows)
    _assert_search_is_query(svc, 9, {"limit": 5,
                                     "params": {"exact": False}},
                            templated=False, exact=False)
    plain = VectorService(spark, str(tmp_path / "plain"), index_name="P",
                          dim=8)
    plain.insert_batch(rows[:10])
    _assert_search_is_query(plain, 9, {"limit": 5}, exact=False)

