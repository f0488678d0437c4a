"""Live HTTP surface: the six reference endpoints served over a REAL socket
(wsgiref server in a thread, urllib client) — the run_tests.py / test_app.py
smoke scenarios (/root/reference/run_tests.py:21-28, test_app.py:1-27)
executed against the Spark engine end-to-end, plus the 422/10422 validation
contract (/root/reference/app.py:28-33)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from wsgiref.simple_server import WSGIRequestHandler, make_server

import pytest

from vectordb_cloud_spark.api import VectorService
from vectordb_cloud_spark.http_app import create_app, make_wsgi_app


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture()
def server(spark, tmp_path):
    svc = VectorService(spark, str(tmp_path / "cat"), index_name="HttpVDB", dim=16)
    httpd = make_server("127.0.0.1", 0, make_wsgi_app(svc), handler_class=_QuietHandler)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}"
    httpd.shutdown()
    t.join(timeout=5)


def _get(base: str, path: str, **params):
    url = base + path
    if params:
        url += "?" + urllib.parse.urlencode(params)
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_root(server):
    status, body = _get(server, "/")
    assert status == 200 and body == {"message": "Hello World"}


def test_insert_search_tenant_isolation(server):
    status, body = _get(server, "/insert", id=1, user_id=332,
                        text="Game of Thrones is a fantasy series",
                        site="site1", lang="en")
    assert (status, body) == (200, 1)
    status, hits = _get(server, "/search", user_id=332, text="Game", limit=5)
    assert status == 200
    assert [h["id"] for h in hits] == [1]
    assert hits[0]["string"] == "Game of Thrones is a fantasy series"
    assert isinstance(hits[0]["score"], float)
    # tenant isolation: user 333 sees nothing (run_tests.py:21-28)
    _, empty = _get(server, "/search", user_id=333, text="Game", limit=5)
    assert empty == []


def test_remove_all_by_word_intended_semantics(server):
    """The reference endpoint always returned 0 (scroll mis-unpack,
    app.py:102); we serve the INTENDED delete (SURVEY.md §2.7 D2)."""
    _get(server, "/insert", id=1, user_id=5, text="keep this doc", site="s", lang="en")
    _get(server, "/insert", id=2, user_id=5, text="drop banana doc", site="s", lang="en")
    _get(server, "/insert", id=3, user_id=6, text="other tenant banana", site="s", lang="en")
    status, body = _get(server, "/remove_all_by_word", user_id=5, word="banana")
    assert (status, body) == (200, 1)
    _, hits5 = _get(server, "/search", user_id=5, text="doc", limit=10)
    assert [h["id"] for h in hits5] == [1]
    # other tenant untouched
    _, hits6 = _get(server, "/search", user_id=6, text="banana", limit=10)
    assert [h["id"] for h in hits6] == [3]


def test_remove_all_by_regex_and_by_user(server):
    _get(server, "/insert", id=1, user_id=9, text="error code 404", site="s", lang="en")
    _get(server, "/insert", id=2, user_id=9, text="all fine here", site="s", lang="en")
    status, body = _get(server, "/remove_all_by_regex", user_id=9, regex=r"\d{3}")
    assert (status, body) == (200, 1)
    _, hits = _get(server, "/search", user_id=9, text="fine", limit=10)
    assert [h["id"] for h in hits] == [2]
    status, body = _get(server, "/remove_by_user", user_id=9)
    assert (status, body) == (200, 1)
    _, hits = _get(server, "/search", user_id=9, text="fine", limit=10)
    assert hits == []


def test_classify_literal_backslash_n_quirk(server):
    """cats split on the TWO-CHAR sequence backslash-n, exactly as received
    in a query string (/root/reference/app.py:162, F3)."""
    status, cat = _get(server, "/get_category_for_title", user_id=1,
                       cats=r"science\nsports\npolitics", title="election results")
    assert status == 200
    assert cat in ("science", "sports", "politics")


def test_validation_422_envelope(server):
    # missing required param
    status, body = _get(server, "/search", user_id=1, text="x")  # no limit
    assert status == 422
    assert body["status_code"] == 10422 and body["data"] is None
    assert "limit" in body["message"]
    # uncoercible int
    status, body = _get(server, "/insert", id="notanint", user_id=1,
                        text="t", site="s", lang="en")
    assert status == 422 and body["status_code"] == 10422
    # /insert requires site AND lang (app.py:41-42 Query(...))
    status, body = _get(server, "/insert", id=1, user_id=1, text="t")
    assert status == 422
    assert "site" in body["message"] and "lang" in body["message"]


def test_search_422_validation_contract(server):
    """The reference app.py:28-33 contract on the /search route: bad params ->
    422 + {status_code: 10422, message, data: None}, never a 500 —
    including a limit that is not positive."""
    status, bad = _get(server, "/search", user_id="not-an-int", text="x",
                       limit=5)
    assert status == 422
    assert bad["status_code"] == 10422 and bad["data"] is None
    status, missing = _get(server, "/search", text="x", limit=5)
    assert status == 422 and missing["status_code"] == 10422
    for limit in (0, -1):
        status, neg = _get(server, "/search", user_id=1, text="x",
                           limit=limit)
        assert status == 422 and neg["status_code"] == 10422
        assert "limit" in neg["message"]
    _get(server, "/insert", id=1, user_id=77, text="valid document",
         site="s", lang="en")
    status, ok = _get(server, "/search", user_id="77", text="document",
                      limit="5")
    assert status == 200 and len(ok) == 1
    # a filter document the filter DSL rejects is a client error too
    status, body = _get(server, "/search", user_id=77, text="document",
                        limit=5, filter=json.dumps(
                            {"must": [{"bogus": 1}]}))
    assert status == 422 and body["status_code"] == 10422


def test_unknown_route_404(server):
    status, body = _get(server, "/nope")
    assert status == 404


@pytest.mark.real
def test_fastapi_twin_end_to_end(spark, tmp_path):
    """The FastAPI twin served in-process via TestClient — runs only where
    the [real] extra (fastapi + httpx) is installed; the stdlib WSGI app
    above carries the same route contract everywhere else."""
    fastapi = pytest.importorskip("fastapi")  # noqa: F841
    testclient = pytest.importorskip("fastapi.testclient")

    svc = VectorService(spark, str(tmp_path / "cat3"), index_name="RealVDB", dim=16)
    client = testclient.TestClient(create_app(svc))
    r = client.get("/insert", params={
        "id": 10, "user_id": 1, "text": "hello vector world",
        "site": "s1", "lang": "en",
    })
    assert r.status_code == 200 and r.json() == 1
    r = client.get("/search", params={"user_id": 1, "text": "hello", "limit": 5})
    assert r.status_code == 200
    hits = r.json()
    assert [h["id"] for h in hits] == [10]


def test_create_app_import_gate(spark, tmp_path):
    """Without fastapi installed create_app must raise the documented gate;
    with it installed it must build an app exposing the same routes."""
    svc = VectorService(spark, str(tmp_path / "cat2"), index_name="GateVDB", dim=16)
    try:
        import fastapi  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="fastapi"):
            create_app(svc)
    else:  # pragma: no cover - fastapi absent in this container
        app = create_app(svc)
        paths = {r.path for r in app.routes}
        assert {"/insert", "/search", "/remove_by_user", "/remove_all_by_word",
                "/remove_all_by_regex", "/get_category_for_title"} <= paths


def test_count_and_filter_dsl_over_http(server):
    """Qdrant-surface extensions over the same socket: /count and the
    filter DSL document URL-encoded into /search?filter=..."""
    _get(server, "/insert", id=1, user_id=9, text="red apple pie", site="a", lang="en")
    _get(server, "/insert", id=2, user_id=9, text="green apple tart", site="b", lang="en")
    _get(server, "/insert", id=3, user_id=9, text="red brick wall", site="a", lang="de")
    status, body = _get(server, "/count", user_id=9)
    assert (status, body) == (200, {"count": 3})
    status, body = _get(server, "/count", user_id=9, word="apple")
    assert body == {"count": 2}
    flt = json.dumps({"must": [{"key": "site", "match": {"value": "a"}}],
                      "must_not": [{"key": "lang", "match": {"value": "de"}}]})
    status, body = _get(server, "/count", user_id=9, filter=flt)
    assert body == {"count": 1}
    status, body = _get(server, "/search", user_id=9, text="apple", limit=5,
                        filter=flt)
    assert status == 200 and [h["id"] for h in body] == [1]
    # bad JSON -> the 422/10422 envelope, same as every validation failure
    status, body = _get(server, "/search", user_id=9, text="x", limit=5,
                        filter="{not json")
    assert status == 422 and body["status_code"] == 10422


def test_collection_info_and_index_endpoints(server):
    """Payload-index DDL + collection info over the same socket (Qdrant
    PUT /collections/{c}/index, GET /collections/{c}, flattened to this
    app's GET convention)."""
    _get(server, "/insert", id=1, user_id=4, text="alpha", site="s1", lang="en")
    _get(server, "/insert", id=2, user_id=4, text="beta", site="s2", lang="en")
    status, info = _get(server, "/collection_info")
    assert status == 200 and info["points_count"] == 2
    assert info["payload_schema"] == {}

    status, body = _get(server, "/create_index", field="site", schema="keyword")
    assert status == 200 and body["payload_indexes"] == {"site": "keyword"}
    status, info = _get(server, "/collection_info")
    assert info["payload_schema"]["site"]["data_type"] == "keyword"
    assert info["payload_schema"]["site"]["points"] == 2

    # results unchanged under the re-clustered layout
    status, body = _get(server, "/count", user_id=4,
                        filter=json.dumps({"must": [{"key": "site", "match": {"value": "s1"}}]}))
    assert body == {"count": 1}

    status, body = _get(server, "/delete_index", field="site")
    assert status == 200 and body["payload_indexes"] == {}
    # bad schema type -> 422 envelope
    status, body = _get(server, "/create_index", field="site", schema="btree")
    assert status == 422 and body["status_code"] == 10422


def test_facet_endpoint(server):
    """Qdrant /facet flattened to this app's GET convention: tenant-scoped
    value counts of one payload field, optional filter DSL."""
    for i, (site, lang) in enumerate([("a", "en"), ("a", "de"), ("b", "en"),
                                      ("a", "en"), ("c", "en")]):
        _get(server, "/insert", id=50 + i, user_id=6, text=f"t{i}",
             site=site, lang=lang)
    status, body = _get(server, "/facet", user_id=6, key="site")
    assert status == 200
    assert body["hits"][0] == {"value": "a", "count": 3}
    assert {h["value"]: h["count"] for h in body["hits"]} == {"a": 3, "b": 1, "c": 1}
    flt = json.dumps({"must": [{"key": "lang", "match": {"value": "en"}}]})
    status, body = _get(server, "/facet", user_id=6, key="site", filter=flt)
    assert {h["value"]: h["count"] for h in body["hits"]} == {"a": 2, "b": 1, "c": 1}
    # other tenants see nothing
    status, body = _get(server, "/facet", user_id=7, key="site")
    assert body == {"hits": []}


def test_query_endpoint(server):
    """Qdrant POST /points/query flattened to this app's GET convention:
    the full request document rides in the `body` JSON param."""
    for i, text in enumerate(["red apples", "green apples", "blue cars"]):
        _get(server, "/insert", id=70 + i, user_id=8, text=text,
             site="s", lang="en")
    body = json.dumps({"query": {"text": "apples"}, "limit": 2})
    status, hits = _get(server, "/query", user_id=8, body=body)
    assert status == 200 and len(hits) == 2
    assert all("dist" in h and "embedding" not in h for h in hits)
    # fusion document
    body = json.dumps({
        "query": {"fusion": "rrf"},
        "prefetch": [{"query": {"text": "apples"}, "limit": 2},
                     {"query": {"text": "cars"}, "limit": 2}],
        "limit": 2,
    })
    status, hits = _get(server, "/query", user_id=8, body=body)
    assert status == 200 and len(hits) == 2 and "rrf_score" in hits[0]
    # malformed body -> 422 envelope
    status, body_out = _get(server, "/query", user_id=8, body="{not json")
    assert status == 422 and body_out["status_code"] == 10422
    # r13: a scalar query is query-by-stored-point — a MISSING id is a
    # loud 404 with Qdrant's error envelope (Qdrant returns Not Found for
    # a missing point referenced by a query id, not a validation 422)
    status, body_out = _get(server, "/query", user_id=8,
                            body=json.dumps({"query": 42}))
    assert status == 404
    assert "not found" in body_out["status"]["error"]
    assert body_out["result"] is None
    # ...and an existing id resolves + self-excludes through HTTP
    status, hits = _get(server, "/query", user_id=8,
                        body=json.dumps({"query": 70, "limit": 3}))
    assert status == 200 and hits and 70 not in [h["id"] for h in hits]
    # nearest + mmr: diversity rerank rides the same endpoint; mmr_rank
    # is part of the response envelope
    status, hits = _get(server, "/query", user_id=8, body=json.dumps({
        "query": {"nearest": {"text": "apples"}, "mmr": {"diversity": 0.5}},
        "limit": 2}))
    assert status == 200 and [h["mmr_rank"] for h in hits] == [0, 1]
    # context-only query with ID-form examples
    status, hits = _get(server, "/query", user_id=8, body=json.dumps({
        "query": {"context": {"positive": 70, "negative": 72}},
        "limit": 5}))
    assert status == 200 and hits
    assert not {70, 72} & {h["id"] for h in hits}
    assert all("context_score" in h for h in hits)
    # bad mmr diversity -> 422, not a 500
    status, body_out = _get(server, "/query", user_id=8, body=json.dumps({
        "query": {"nearest": {"text": "x"}, "mmr": {"diversity": 7}},
        "limit": 2}))
    assert status == 422


def test_query_batch_endpoint(server):
    for i, text in enumerate(["alpha one", "alpha two", "beta three"]):
        _get(server, "/insert", id=90 + i, user_id=9, text=text,
             site="s", lang="en")
    bodies = json.dumps([
        {"query": {"text": "alpha"}, "limit": 2},
        {"query": {"text": "beta"}, "limit": 1},
    ])
    status, out = _get(server, "/query_batch", user_id=9, bodies=bodies)
    assert status == 200 and len(out) == 2
    assert len(out[0]) == 2 and len(out[1]) == 1
    status, body = _get(server, "/query_batch", user_id=9,
                        bodies=json.dumps({"query": [1.0]}))
    assert status == 422 and body["status_code"] == 10422


def test_search_matrix_endpoints(server):
    """Qdrant /points/search/matrix/{pairs,offsets} flattened to this
    app's GET convention (r13): pair records and the CSR envelope carry
    the SAME sampled computation, tenant-scoped."""
    for i, text in enumerate(["aa", "bb", "cc", "dd", "ee", "ff"]):
        _get(server, "/insert", id=120 + i, user_id=14, text=text,
             site="s", lang="en")
    status, pairs = _get(server, "/search_matrix_pairs", user_id=14,
                         sample=4, limit=2)
    assert status == 200 and len(pairs["pairs"]) == 8  # 4 rows x k=2
    assert all(p["a"] != p["b"] for p in pairs["pairs"])
    status, off = _get(server, "/search_matrix_offsets", user_id=14,
                       sample=4, limit=2)
    assert status == 200
    got = {(off["ids"][r], off["ids"][c], round(s, 9))
           for r, c, s in zip(off["offsets_row"], off["offsets_col"],
                              off["scores"])}
    want = {(p["a"], p["b"], round(p["score"], 9)) for p in pairs["pairs"]}
    assert got == want
    # tenant isolation: a different tenant has no sampled points
    status, empty = _get(server, "/search_matrix_pairs", user_id=15,
                         sample=4, limit=2)
    assert status == 200 and empty["pairs"] == []
    # bad param -> 422 envelope
    status, body = _get(server, "/search_matrix_pairs", user_id=14,
                        sample="many")
    assert status == 422 and body["status_code"] == 10422
    # degenerate sample (service-layer ValueError) -> 422, not a 500
    # (ADVICE r13: both matrix routes wrap service ValueErrors)
    status, body = _get(server, "/search_matrix_pairs", user_id=14,
                        sample=1, limit=2)
    assert status == 422 and body["status_code"] == 10422
    status, body = _get(server, "/search_matrix_offsets", user_id=14,
                        sample=0, limit=2)
    assert status == 422 and body["status_code"] == 10422


def test_query_endpoint_malformed_specs_are_422(server):
    _get(server, "/insert", id=99, user_id=11, text="x y z", site="s",
         lang="en")
    # well-formed JSON, malformed spec: missing discover 'target' -> KeyError
    status, body = _get(server, "/query", user_id=11,
                        body=json.dumps({"query": {"discover": {}}}))
    assert status == 422 and body["status_code"] == 10422
    # null limit -> TypeError
    status, body = _get(server, "/query", user_id=11,
                        body=json.dumps({"limit": None}))
    assert status == 422 and body["status_code"] == 10422


def test_metrics_reports_memo_tiers_and_pins(server):
    """/metrics serves VectorService.memo_stats(): the third distinct-
    text /search on a tenant is its second template hit, which pins its
    candidate set; a batch on the pinned tenant naming a missing id is
    still 404."""
    for i, text in enumerate(["alpha doc", "beta doc", "gamma doc"], 1):
        _get(server, "/insert", id=i, user_id=8, text=text, site="s",
             lang="en")
    status, m0 = _get(server, "/metrics")
    assert status == 200
    assert set(m0) == {"plan_hits", "shape_hits", "pin_hits", "pinned_sets",
                       "pinned_bytes", "pin_budget_bytes"}
    assert m0["pinned_sets"] == 0 and m0["pinned_bytes"] == 0
    _get(server, "/search", user_id=8, text="first words", limit=2)
    _get(server, "/search", user_id=8, text="marking words", limit=2)
    status, hits = _get(server, "/search", user_id=8, text="second words",
                        limit=2)
    assert status == 200 and len(hits) == 2
    assert list(hits[0]) == ["id", "string", "score"]
    _, m = _get(server, "/metrics")
    assert m["shape_hits"] == m0["shape_hits"] + 2
    assert m["pin_hits"] == m0["pin_hits"] + 1
    assert m["pinned_sets"] == 1
    assert 0 < m["pinned_bytes"] <= m["pin_budget_bytes"]
    status, body = _get(server, "/query_batch", user_id=8, bodies=json.dumps(
        [{"query": 1, "limit": 2}, {"query": 999, "limit": 2}]))
    assert status == 404 and "999" in body["status"]["error"]


def test_repeated_reads_over_empty_set_are_empty(server):
    """A filter that matches nothing, and a tenant with no points, pin an
    empty candidate set: repeated distinct-text /search, /query and
    /query_batch requests on them stay 200 [] instead of failing in the
    ranking."""
    _get(server, "/insert", id=1, user_id=9, text="news doc", site="news",
         lang="en")
    for n in range(4):  # cold, marking, pinning, pinned
        status, hits = _get(server, "/search", user_id=9, text=f"words {n}",
                            limit=2, site="blog")
        assert (status, hits) == (200, [])
        status, hits = _get(server, "/query", user_id=10, body=json.dumps(
            {"query": {"text": f"words {n}"}, "limit": 2}))
        assert (status, hits) == (200, [])
    status, hits = _get(server, "/query_batch", user_id=10, bodies=json.dumps(
        [{"query": {"text": "a"}, "limit": 2},
         {"query": {"text": "b"}, "limit": 2}]))
    assert (status, hits) == (200, [[], []])
