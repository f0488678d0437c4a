"""Live HTTP layer: the reference's FastAPI surface over ``VectorService``.

The reference is first and foremost a running web service
(/root/reference/app.py:19 creates the app, :36-169 mount the six GET
endpoints, :28-33 the 422 envelope, :173-178 the uvicorn entry); every real
user hits it over HTTP. This module provides that surface twice:

- ``make_wsgi_app(service)`` — a dependency-free WSGI app (stdlib only) with
  the same routes, query-param coercion, and response shapes. Runnable and
  fully testable in any Python environment (tests/test_http.py drives a real
  socket server); serve it with ``serve()`` (wsgiref) or any WSGI container
  (gunicorn, mod_wsgi).
- ``create_app(service)`` — the FastAPI twin for production deployments,
  import-gated like the torch embedder (functions/embedding.py): importing
  this module never requires fastapi; calling ``create_app`` without it
  raises with install instructions.

Contract notes (all cited against /root/reference/app.py):
- ``/`` returns ``{"message": "Hello World"}`` (:23-25).
- ``/insert`` requires ALL of id, user_id, text, site, lang (:36-43 uses
  required ``Query(...)`` for each) and returns 1/0 with a bare-except 0
  (:46-55).
- ``/search`` requires user_id, text, limit (a positive int); site/lang
  optional (:58-65); returns ``[{id, string, score}]`` (:73-75).
- the three removes return 1/0; /remove_all_by_word implements the INTENDED
  semantics (the reference's scroll mis-unpack at :102 made it always 0 —
  SURVEY.md §2.7 D2).
- ``/metrics`` (not in the reference) returns ``VectorService.memo_stats()``:
  hit counts per read-path memo tier and the pinned tier's sets and bytes.
- validation failures return HTTP 422 with
  ``{"status_code": 10422, "message": ..., "data": None}`` (:28-33).
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable
from urllib.parse import parse_qs

from vectordb_cloud_spark.api import VectorService
from vectordb_cloud_spark.errors import PointNotFoundError

_MISSING = object()


class ValidationError(Exception):
    """Raised when query-param coercion fails — mapped to the reference's
    422/10422 envelope (/root/reference/app.py:28-33)."""


class NotFoundError(Exception):
    """Raised when a request references a stored point id that doesn't
    exist — mapped to 404 with Qdrant's error envelope (Qdrant returns
    404 Not Found for a missing point referenced by a query/recommend id,
    not a validation 422; ADVICE r12)."""


def _coerce(params: dict[str, str], spec: list[tuple[str, type, Any]]) -> dict[str, Any]:
    """FastAPI-style coercion: required params must be present and castable;
    optional ones default. Errors collect into one message like
    RequestValidationError's flattened string."""
    out: dict[str, Any] = {}
    errors: list[str] = []
    for name, typ, default in spec:
        raw = params.get(name, _MISSING)
        if raw is _MISSING:
            if default is _MISSING:
                errors.append(f"query.{name}: field required")
            else:
                out[name] = default
            continue
        try:
            out[name] = typ(raw)
        except (TypeError, ValueError):
            errors.append(
                f"query.{name}: value is not a valid {typ.__name__}"
            )
    if errors:
        raise ValidationError("; ".join(errors))
    return out


def _routes(service: VectorService) -> dict[str, Callable[[dict[str, str]], Any]]:
    """Path -> handler taking raw string params, returning a JSON-able value.
    Shared by the WSGI and FastAPI fronts so semantics can't drift."""

    def index(_params):
        return {"message": "Hello World"}

    def insert(params):
        p = _coerce(params, [
            ("id", int, _MISSING), ("user_id", int, _MISSING),
            ("text", str, _MISSING), ("site", str, _MISSING),
            ("lang", str, _MISSING),
        ])
        return service.insert(p["id"], p["user_id"], p["text"], p["site"], p["lang"])

    def search(params):
        p = _coerce(params, [
            ("user_id", int, _MISSING), ("text", str, _MISSING),
            ("limit", int, _MISSING), ("site", str, None), ("lang", str, None),
            ("filter", str, None),
        ])
        if p["limit"] <= 0:
            raise ValidationError("query.limit: must be positive")
        try:
            return service.search_hits(
                p["user_id"], p["text"], p["limit"], p["site"], p["lang"],
                query_filter=_parse_filter(p["filter"]))
        except (ValueError, KeyError, TypeError) as exc:
            # a malformed filter document is a client error, as on /query
            raise ValidationError(f"bad search request: {exc}") from exc

    def count(params):
        # Qdrant POST /collections/{c}/points/count, tenant-scoped like
        # every endpoint here; `filter` takes the same DSL document as
        # /search
        p = _coerce(params, [
            ("user_id", int, _MISSING), ("word", str, None),
            ("filter", str, None),
        ])
        return {"count": service.count(
            p["user_id"], p["word"], query_filter=_parse_filter(p["filter"])
        )}

    def remove_by_user(params):
        p = _coerce(params, [("user_id", int, _MISSING)])
        return service.remove_by_user(p["user_id"])

    def remove_all_by_word(params):
        p = _coerce(params, [("user_id", int, _MISSING), ("word", str, _MISSING)])
        return service.remove_all_by_word(p["user_id"], p["word"])

    def remove_all_by_regex(params):
        p = _coerce(params, [("user_id", int, _MISSING), ("regex", str, _MISSING)])
        return service.remove_all_by_regex(p["user_id"], p["regex"])

    def get_category_for_title(params):
        p = _coerce(params, [
            ("user_id", int, _MISSING), ("cats", str, _MISSING),
            ("title", str, _MISSING),
        ])
        return service.get_category_for_title(p["user_id"], p["cats"], p["title"])

    def collection_info(_params):
        # Qdrant GET /collections/{name}, flattened to this app's
        # single-collection GET convention
        return service.info()

    def create_index(params):
        p = _coerce(params, [("field", str, _MISSING),
                             ("schema", str, "keyword")])
        try:
            return service.create_index(p["field"], p["schema"])
        except ValueError as exc:
            raise ValidationError(str(exc)) from exc

    def delete_index(params):
        p = _coerce(params, [("field", str, _MISSING)])
        return service.delete_index(p["field"])

    def facet(params):
        # Qdrant POST /collections/{c}/facet, flattened to GET params
        p = _coerce(params, [("user_id", int, _MISSING),
                             ("key", str, _MISSING),
                             ("limit", int, 20), ("filter", str, None)])
        return service.facet(p["user_id"], p["key"], p["limit"],
                             query_filter=_parse_filter(p["filter"]))

    def search_matrix_pairs(params):
        # Qdrant POST /points/search/matrix/pairs, flattened to this
        # app's GET convention (optional filter DSL rides URL-encoded)
        p = _coerce(params, [("user_id", int, _MISSING),
                             ("sample", int, 10), ("limit", int, 3),
                             ("filter", str, None)])
        try:
            return service.search_matrix_pairs(
                p["user_id"], p["sample"], p["limit"],
                query_filter=_parse_filter(p["filter"]))
        except ValueError as exc:
            raise ValidationError(str(exc)) from exc

    def search_matrix_offsets(params):
        # Qdrant POST /points/search/matrix/offsets — the CSR envelope
        p = _coerce(params, [("user_id", int, _MISSING),
                             ("sample", int, 10), ("limit", int, 3),
                             ("filter", str, None)])
        try:
            return service.search_matrix_offsets(
                p["user_id"], p["sample"], p["limit"],
                query_filter=_parse_filter(p["filter"]))
        except ValueError as exc:
            raise ValidationError(str(exc)) from exc

    def query(params):
        # Qdrant POST /points/query, flattened to GET params: `body` is
        # the full request document as JSON (query/prefetch/filter/limit/
        # using), tenant-scoped by user_id
        import json as _json

        p = _coerce(params, [("user_id", int, _MISSING),
                             ("body", str, _MISSING)])
        try:
            body = _json.loads(p["body"])
        except ValueError as exc:
            raise ValidationError(f"body is not valid JSON: {exc}") from exc
        if not isinstance(body, dict):
            raise ValidationError("body must be a JSON object")
        try:
            return service.query(p["user_id"], body)
        except PointNotFoundError as exc:
            raise NotFoundError(str(exc)) from exc
        except (ValueError, KeyError, TypeError) as exc:
            # malformed-but-valid-JSON specs (missing 'target', null limit,
            # wrong types) are client errors: 422 envelope, never a 500
            raise ValidationError(f"bad query document: {exc}") from exc

    def query_batch(params):
        # Qdrant POST /points/query/batch: `bodies` is a JSON ARRAY of
        # request documents; plain dense entries share one corpus scan
        import json as _json

        p = _coerce(params, [("user_id", int, _MISSING),
                             ("bodies", str, _MISSING)])
        try:
            bodies = _json.loads(p["bodies"])
        except ValueError as exc:
            raise ValidationError(f"bodies is not valid JSON: {exc}") from exc
        if not isinstance(bodies, list) or not all(
                isinstance(b, dict) for b in bodies):
            raise ValidationError("bodies must be a JSON array of objects")
        try:
            return service.query_batch(p["user_id"], bodies)
        except PointNotFoundError as exc:
            raise NotFoundError(str(exc)) from exc
        except (ValueError, KeyError, TypeError) as exc:
            raise ValidationError(f"bad query document: {exc}") from exc

    def metrics(_params):
        # what the read-path memos served and pin (ROADMAP aim 4)
        return service.memo_stats()

    return {
        "/": index,
        "/insert": insert,
        "/search": search,
        "/remove_by_user": remove_by_user,
        "/remove_all_by_word": remove_all_by_word,
        "/remove_all_by_regex": remove_all_by_regex,
        "/get_category_for_title": get_category_for_title,
        "/count": count,
        "/collection_info": collection_info,
        "/create_index": create_index,
        "/delete_index": delete_index,
        "/facet": facet,
        "/search_matrix_pairs": search_matrix_pairs,
        "/search_matrix_offsets": search_matrix_offsets,
        "/query": query,
        "/query_batch": query_batch,
        "/metrics": metrics,
    }


def _parse_filter(raw: str | None) -> dict | None:
    """Decode the optional `filter` query param (a Qdrant filter JSON
    document, URL-encoded). Bad JSON is a 422, same envelope as every
    other validation failure."""
    if raw is None or raw == "":
        return None
    try:
        spec = json.loads(raw)
    except json.JSONDecodeError as exc:
        raise ValidationError(f"filter must be valid JSON: {exc}") from exc
    if not isinstance(spec, dict):
        raise ValidationError("filter must be a JSON object")
    return spec


def _validation_body(message: str) -> dict:
    # exc_str whitespace normalization mirrors /root/reference/app.py:30
    msg = re.sub("   ", " ", message.replace("\n", " "))
    return {"status_code": 10422, "message": msg, "data": None}


def make_wsgi_app(service: VectorService):
    """Build the WSGI callable. Stateless per request; Spark work happens in
    VectorService (driver-side coordination — executors do the scans)."""
    routes = _routes(service)

    def app(environ, start_response):
        path = environ.get("PATH_INFO", "/")
        handler = routes.get(path)
        if handler is None:
            body = json.dumps({"detail": "Not Found"}).encode()
            start_response("404 Not Found", [("Content-Type", "application/json")])
            return [body]
        qs = parse_qs(environ.get("QUERY_STRING", ""), keep_blank_values=True)
        params = {k: v[0] for k, v in qs.items()}
        try:
            result = handler(params)
            status = "200 OK"
        except NotFoundError as exc:
            # Qdrant's missing-point envelope: 404 + {"status": {"error": ..}}
            result = {"status": {"error": str(exc)}, "result": None}
            status = "404 Not Found"
        except ValidationError as exc:
            result = _validation_body(str(exc))
            status = "422 Unprocessable Entity"
        body = json.dumps(result).encode()
        start_response(status, [
            ("Content-Type", "application/json"),
            ("Content-Length", str(len(body))),
        ])
        return [body]

    return app


def serve(service: VectorService, host: str = "0.0.0.0", port: int = 8000):
    """Blocking stdlib server (/root/reference/app.py:173-178's uvicorn run,
    minus the dependency). For production put make_wsgi_app behind gunicorn,
    or create_app behind uvicorn."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, make_wsgi_app(service)) as httpd:
        httpd.serve_forever()


def create_app(service: VectorService):
    """FastAPI twin (import-gated): identical routes/handlers, FastAPI's own
    coercion replaced by the shared ``_routes`` layer so both fronts return
    byte-identical payloads. Run with uvicorn."""
    try:
        from fastapi import FastAPI, Request
        from fastapi.responses import JSONResponse
    except ImportError as exc:  # pragma: no cover - absent in this container
        raise NotImplementedError(
            "create_app requires fastapi (pip install fastapi uvicorn); "
            "use make_wsgi_app/serve for the dependency-free server"
        ) from exc

    app = FastAPI()
    routes = _routes(service)

    def _bind(path: str, handler):
        # plain def, NOT async: handlers run blocking Spark driver work
        # (collect() can take seconds); FastAPI dispatches sync endpoints to
        # its threadpool, keeping the event loop free — an async def here
        # would freeze every concurrent request for the job duration
        def endpoint(request: Request):
            params = {k: v for k, v in request.query_params.items()}
            try:
                return handler(params)
            except NotFoundError as e:
                return JSONResponse(
                    {"status": {"error": str(e)}, "result": None},
                    status_code=404)
            except ValidationError as e:
                return JSONResponse(_validation_body(str(e)), status_code=422)

        app.get(path)(endpoint)

    for path, handler in routes.items():
        _bind(path, handler)
    return app
