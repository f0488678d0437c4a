"""Service layer: the reference's six endpoints as engine calls.

Maps the FastAPI contract (/root/reference/app.py) 1:1 onto the Spark
operators, preserving observable semantics — including the 1/0 success
codes and the mandatory tenant filter — while fixing the documented
reference bugs (SURVEY.md §2.7 D2: the scroll mis-unpack that made
/remove_all_by_word always return 0; we implement the intended delete).

Batch-of-1 inserts are pathological on Spark; a real deployment micro-batches
via Structured Streaming (see streaming/ingest.py). This layer keeps the
per-request API for parity and tests.
"""

from __future__ import annotations

import copy
import sys
import threading
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_cloud_spark.collections import CollectionCatalog
from vectordb_cloud_spark.filters import compile_filter
from vectordb_cloud_spark.functions.embedding import DEFAULT_DIM, mock_embed, mock_vector
from vectordb_cloud_spark.operators.classify import classify_title
from vectordb_cloud_spark.session import local_df


class _Shape(NamedTuple):
    """What a shape-template memo entry holds beside its view name: the
    rendered SQL and everything the pinned tier needs to answer the same
    request without it — by collecting ``cand`` or, for a filtered set,
    by deriving it from the tenant's unfiltered pin with ``flt`` (see
    ``VectorService._pin``)."""
    sql: str
    cand: DataFrame       # the candidate frame the view was registered on
    vcol: str             # the ranked vector column
    proj: tuple           # (source, alias) pairs the SQL projects
    k: int
    off: int
    thr: float | None
    slot: tuple           # (user_id, vcol, filter JSON): the candidate set
    at: tuple             # (data_dir, stamp): the data version it reads
    flt: Column | None = None  # the compiled rewritten filter cand applies


class _Pin(NamedTuple):
    """A candidate set held on the driver: point ids, the vectors one
    dimension per row (so the distance is one broadcast op), and the
    non-vector response columns. Filled one of two ways under one
    admission rule (``VectorService._pin``): collected from the set's
    candidate frame, or derived — a filtered set cut from its tenant's
    unfiltered pin."""
    at: tuple
    vcol: str
    ids: np.ndarray
    block: np.ndarray     # (dim, n), the column's own float width
    cols: dict            # payload column -> values, row order
    resp: tuple           # the response columns in schema order, with id
    nbytes: int

    @classmethod
    def of(cls, at, vcol, ids, block, cols, resp) -> _Pin:
        """A pin with its held bytes counted: the arrays plus every
        payload value's Python objects."""
        return cls(at, vcol, ids, block, cols, resp, ids.nbytes + block.nbytes
                   + sum(_nbytes(v) for vs in cols.values() for v in vs))

    def value(self, src: str, i: int):
        """Row ``i``'s ``src`` column as ``Row.asDict(recursive=True)``
        gives it (mutable values copied: the caller owns its response)."""
        if src == "id":
            return int(self.ids[i])
        if src == self.vcol:
            return self.block[:, i].tolist()
        v = self.cols[src][i]
        return copy.deepcopy(v) if isinstance(v, (list, dict)) else v

    def ranked(self, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """``(dist, order)``: distances to ``q`` and row indexes ordered
        by (dist, point id) — the template's ORDER BY dist, __pid."""
        dist = _l2_block(self.block, q)
        return dist, np.lexsort((self.ids, dist))


# a payload value's Python object header and list slot, about (a str
# holds 49 bytes + its text, an int 28), as Spark sizes a row to pin
_OBJ_BYTES = 64


def _nbytes(v) -> int:
    """Driver bytes a pinned payload value holds: its Python objects,
    headers included, plus its 8-byte slot in the column list."""
    if v is None:
        return 8
    if isinstance(v, dict):
        return 8 + sys.getsizeof(v) + sum(
            _nbytes(k) + _nbytes(x) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return 8 + sys.getsizeof(v) + sum(map(_nbytes, v))
    return 8 + sys.getsizeof(v)


def _l2_block(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """L2 distances from every column of ``block`` to ``q`` (a float64
    array), bit-equal to the template's ``zip_with``/``aggregate`` (and
    ``l2_distance``): in float64, ``(x - y) * (x - y)`` accumulated left
    to right from 0.0, then the square root. The differences and squares
    are one broadcast op each (float32 widens exactly); the rows are then
    added in dimension order. Pairwise or fused sums (``sum(axis=0)``,
    norm, BLAS, einsum) change the last bits and reorder near-ties."""
    acc = np.zeros(block.shape[1])
    if not block.shape[1]:
        return acc  # an empty set: no rows, whatever the query length
    d = block - q[:, None]
    d *= d
    for row in d:
        acc += row
    return np.sqrt(acc)


class VectorService:
    """One prod collection, multi-tenant via user_id filter — the
    reference's deployment shape (/root/reference/QdrantCloud.py:24,
    README.md:22).

    The service leaves its session's configuration as it finds it. A
    serving session should be built with
    ``spark.python.sql.dataFrameDebugging.enabled=false``, as
    ``session.get_spark`` does: that static conf turns off PySpark's
    per-op call-site capture (SPARK-47274: 3-4 extra py4j round trips
    on every DataFrame method, ~3 ms each), which alone turns the ~4 ms
    distinct-text tail into ~40 ms."""

    def __init__(self, spark: SparkSession, catalog_root: str,
                 index_name: str = "EverGrowingVDB", dim: int = DEFAULT_DIM,
                 quantization: dict | None = None,
                 ann_index: dict | None = None):
        self.spark = spark
        self.catalog = CollectionCatalog(spark, catalog_root)
        self.index_name = index_name
        self.dim = dim
        self.catalog.create(index_name, dim, quantization=quantization,
                            ann_index=ann_index)
        # Four tiers on the one read path (_query_rows / _query_df, which
        # serve /query and, through the {id, string, score} projection,
        # /search), cheapest first: pinned block, plan memo, shape
        # template, full construction.
        #
        # The compiled-plan memo (VERDICT r9 #4) keys on the IMMUTABLE
        # data.v{N} dir (every write publishes a new one, so a version
        # advance naturally invalidates), the tenant, the request body —
        # query vector included — and the projection. A repeat request
        # re-collects the SAME DataFrame — zero plan re-construction.
        # LRU-bounded; DataFrames are lazy plans (a few KB), not data.
        from collections import OrderedDict
        self._plan_memo: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._PLAN_MEMO_CAP = 512
        # The shape-template memo (VERDICT r10 wrong#1) keys a plain
        # dense body on everything EXCEPT the query vector, so a distinct
        # query text skips the full construction — catalog meta reads,
        # tenant read, text-filter rewrite, filter-DSL compile, and the
        # eagerly-analyzed DataFrame ops. The vector-independent
        # candidate frame (tenant-pruned + filtered) registers once per
        # shape as a temp view, and a distinct-text request costs ONE
        # spark.sql() whose only per-request piece is the query vector as
        # a `from_json('<json>', 'array<double>')` constant (one string
        # literal instead of 64 literal nodes; ConstantFolding folds it
        # out of the physical plan — bit-equality pinned in test_api).
        # Same invalidation as the plan memo: the immutable data.v dir +
        # incarnation stamp ride in the key.
        self._shape_memo: OrderedDict[tuple, tuple[str, _Shape]] = \
            OrderedDict()
        self._SHAPE_MEMO_CAP = 128
        self._shape_seq = 0
        # The pinned tier: even a template hit runs a Spark query, and
        # on small tenants its driver-side cost (Catalyst + JIT, ~100-
        # 500 ms CPU per request) dwarfs the scan. The second template
        # hit at one data version on a candidate set (tenant read +
        # rewritten filter, shared by every shape that differs only in
        # limit/offset/threshold/projection) collects it ONCE, bounded,
        # and later hits rank it with NumPy, bit-equal to _QSHAPE_SQL. A
        # filtered set of a tenant whose unfiltered set is pinned is cut
        # from that block instead (Spark's filter over a local relation,
        # no job), from its first template hit on.
        # Keyed by (tenant, vector column, filter JSON); the entry carries
        # its data version, so a write re-pins in place. One byte budget,
        # first come first served within a data version (no eviction of
        # live pins, see _pin); a set above 1/8 of it gets a negative mark
        # and stays on the template. One lock: create_app serves from
        # FastAPI's threadpool.
        self._pins: dict[tuple, _Pin] = {}
        # slot -> ("seen" | "no", data version or None), see _pin
        self._pin_marks: OrderedDict[tuple, tuple] = OrderedDict()
        self._pin_bytes = 0
        self._pin_hits = 0
        self._pin_lock = threading.Lock()
        # observability: how often requests were served WITHOUT plan
        # construction (exact-repeat plan-memo hits vs distinct-text
        # shape-template hits, pinned ones included) — asserted by the
        # oracle rows and tests, reported by memo_stats()
        self._plan_hits = 0
        self._shape_hits = 0

    # GET /insert (/root/reference/app.py:36-55)
    def insert(self, id: int, user_id: int, text: str, site: str = "", lang: str = "") -> int:
        try:
            df = self.spark.createDataFrame(
                [(id, id, text, user_id, site, lang)],
                "id long, text_id long, text string, user_id long, site string, lang string",
            ).withColumn("embedding", mock_embed("text", self.dim))
            self.catalog.upsert(self.index_name, df)
            return 1
        except Exception:
            return 0  # reference bare-except contract (/root/reference/app.py:53-55)

    def insert_batch(self, rows: list[dict]) -> int:
        """Micro-batched ingest — the Spark-appropriate write path (one MERGE
        for N requests instead of N table rewrites; SURVEY.md §3.2). Returns
        the number of rows upserted."""
        from vectordb_cloud_spark.sources.readers import read_insert_requests

        df = read_insert_requests(self.spark, rows).withColumn(
            "embedding", mock_embed("text", self.dim)
        )
        self.catalog.upsert(self.index_name, df)
        return len(rows)

    # GET /search (/root/reference/app.py:58-75)
    def search(self, user_id: int, text: str, limit: int = 5,
               site: str | None = None, lang: str | None = None,
               query_filter: dict | None = None,
               exact: bool = True) -> DataFrame:
        """``query_filter`` accepts the full Qdrant filter JSON the
        reference's client library speaks (/root/reference/search.py:9,
        38-44 builds exactly such a document) — compiled to scan-stage
        column predicates by :mod:`vectordb_cloud_spark.filters`.

        ``exact=False`` (Qdrant ``params: {"exact": false}``) routes
        through the collection's ANN or quantized codes sidecar; with no
        sidecar configured it silently stays exact, as in Qdrant.

        /search is the plain dense /query body in the reference's
        ``{id, string, score}`` projection: ``site``/``lang`` fold into
        the filter document as ``match.value`` clauses (search.py:38-41),
        and the request runs through :meth:`_query_df` — the same plan
        memo, shape template, ANN route and text-index rewrite."""
        return self._query_df(
            user_id, self._search_body(text, limit, site, lang, query_filter,
                                       exact), self._SEARCH_COLS)

    def search_hits(self, user_id: int, text: str, limit: int = 5,
                    site: str | None = None, lang: str | None = None,
                    query_filter: dict | None = None,
                    exact: bool = True) -> list[dict]:
        """:meth:`search`'s answer as ``{id, string, score}`` dicts — the
        HTTP /search response — served from the pinned tier when it holds
        the candidate set, else collected from :meth:`search`'s plan."""
        return self._query_rows(
            user_id, self._search_body(text, limit, site, lang, query_filter,
                                       exact), self._SEARCH_COLS)

    def _search_body(self, text, limit, site, lang, query_filter,
                     exact) -> dict:
        """The /query body of a /search request."""
        must = [{"key": key, "match": {"value": v}}
                for key, v in (("site", site), ("lang", lang))
                if v is not None]
        if must:
            m = (query_filter or {}).get("must")
            must += [m] if isinstance(m, dict) else list(m or [])
            query_filter = dict(query_filter or {}, must=must)
        body = {"query": {"text": text}, "limit": limit}
        if query_filter:
            body["filter"] = query_filter
        if not exact:
            # without a sidecar exact=False IS the exact scan: leave the
            # body plain so it keeps the shape template (a /query body
            # that spells params.exact=false keeps full routing)
            meta = self._safe_meta()
            if meta is not None and (meta.ann_index or meta.quantization):
                body["params"] = {"exact": False}
        return body

    # the reference's response shape (operators.knn.search_response) as
    # (source, alias) pairs over a /query hit frame
    _SEARCH_COLS = (("text_id", "id"), ("text", "string"), ("dist", "score"))

    # the pinned tier's byte budget (ids + vectors + payload, all pins);
    # one candidate set may take at most 1/8 of it
    _PIN_BUDGET_BYTES = 64 << 20

    @staticmethod
    def _sql_cols(proj) -> list[str]:
        """(source, alias) pairs as SQL select items."""
        return [f"`{src}` AS `{alias}`" for src, alias in proj]

    def _register_shape(self, shape_key: tuple, shape: _Shape) -> None:
        """Register ``shape.cand`` as this shape's temp view and memoize
        the per-request SQL (only ``{view}`` is formatted here; the
        ``{qjson}`` slot survives for ``_serve_from_shape`` to bind each
        request's vector). One LRU, one eviction policy; superseded and
        evicted views are dropped rather than leaked in the session
        catalog."""
        prior = self._shape_memo.get(shape_key)
        if prior is not None:
            # re-store of a live shape (a non-finite-vector request falls
            # through the fast path to here) — drop the superseded view
            try:
                self.spark.catalog.dropTempView(prior[0])
            except Exception:  # pragma: no cover - already dropped
                pass
        view = f"vdb_search_shape_{id(self):x}_{self._shape_seq}"
        self._shape_seq += 1
        shape.cand.createOrReplaceTempView(view)
        self._shape_memo[shape_key] = (
            view, shape._replace(sql=shape.sql.format(view=view)))
        while len(self._shape_memo) > self._SHAPE_MEMO_CAP:
            _, (old_view, _) = self._shape_memo.popitem(last=False)
            try:
                self.spark.catalog.dropTempView(old_view)
            except Exception:  # pragma: no cover - already dropped
                pass

    # The shape template of the plain dense /query subset (vector or
    # {"text":...} query + filter/limit/offset/using/response selectors —
    # the high-QPS shape /search is one of; prefetch/fusion/group_by/
    # recommend/... keep full construction). The view holds the tenant
    # read filtered by the REWRITTEN filter document (rewrite_text_filter
    # is deterministic per data version, which rides in the shape key),
    # so a distinct-text request costs one spark.sql. The distance is the
    # EXACT SQL twin of functions.vector.l2_distance_to, and the order/
    # offset/limit mirror query_points' plain dense leg (knn_search
    # metric='l2', tiebreak='id'), so the template is bit-equal to the
    # built path. {cols} is the response projection, baked at store time.
    # The point id rides as __pid so the ORDER BY cannot capture an
    # output alias (/search projects `text_id AS id`, and Spark resolves
    # sort references against the projection's aliases first): the
    # tiebreak is the POINT id even where text_id != id.
    _QSHAPE_SQL = """
    SELECT {cols}
    FROM (
      SELECT *, id AS __pid,
           SQRT(aggregate(zip_with(CAST({vcol} AS ARRAY<DOUBLE>),
           from_json('{{qjson}}', 'array<double>'),
           (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),
           (acc, v) -> acc + v)) AS dist
      FROM {view}
    )
    {where}ORDER BY dist ASC, __pid ASC
    LIMIT {k}{off}
    """

    _QSHAPE_KEYS = frozenset({"query", "filter", "limit", "offset",
                              "using", "with_payload", "with_vectors",
                              "score_threshold"})

    def _dense_vec(self, q):
        """The vector of a dense query value — a ``{"text": ...}`` query
        (embedded) or a flat numeric vector — else None."""
        if isinstance(q, dict) and set(q) == {"text"}:
            return mock_vector(q["text"], self.dim)
        if (isinstance(q, (list, tuple)) and q
                and not isinstance(q[0], (list, tuple, dict))):
            try:
                return [float(x) for x in q]
            except (TypeError, ValueError):
                return None
        return None

    def _query_dense_vec(self, body: dict):
        """The query vector of a template-eligible /query body, else None
        (any other grammar branch, or a non-dense query)."""
        if (not isinstance(body, dict) or set(body) - self._QSHAPE_KEYS
                or "query" not in body):
            return None
        q = body["query"]
        if isinstance(q, dict) and set(q) == {"nearest"}:
            # the explicit NearestQuery spelling of the same plain dense
            # body shares the template (an "mmr" sibling — or any other
            # key — keeps full construction); scalar ids stay cold too
            q = q["nearest"]
        return self._dense_vec(q)

    def _query_shape_key(self, data_dir, stamp, user_id, body: dict,
                         cols) -> tuple | None:
        """Everything about a template-eligible /query body EXCEPT the
        query vector, plus the response projection ``cols``.
        Returns None for any slot value outside the canonical forms (the
        body keeps full construction): selector/using forms must be
        EXACT — a lax coercion here would collide distinct shapes under
        one key (e.g. an object-form with_payload hashing like True) or
        put unhashables in the key, and coercions must match the built
        path exactly so a malformed body fails identically whether the
        shape is warm or cold (offset=None must 422 both times)."""
        import json as _json
        import math

        using = body.get("using")
        if using is not None and not isinstance(using, str):
            return None
        wp = body.get("with_payload", True)
        if isinstance(wp, (list, tuple)):
            if not all(isinstance(c, str) for c in wp):
                return None
            wp_key = tuple(wp)
        elif isinstance(wp, bool):
            wp_key = wp
        else:
            return None  # object/other forms: full construction decides
        wv = body.get("with_vectors", False)
        if not isinstance(wv, bool):
            return None
        try:
            filt_key = (_json.dumps(body.get("filter"), sort_keys=True)
                        if body.get("filter") else None)
            # same coercions as the built path (query() / query_points):
            # a value int() rejects must raise identically when warm
            k = int(body.get("limit", 10))
            off = int(body.get("offset", 0))
            thr = body.get("score_threshold")
            thr = None if thr is None else float(thr)
            if thr is not None and not math.isfinite(thr):
                return None  # not renderable as a SQL literal
        except (TypeError, ValueError):
            return None
        return ("qshape", data_dir, stamp, user_id, using,
                filt_key, k, off, wp_key, wv, thr, cols)

    def _serve_from_shape(self, shape_key: tuple, qvec) -> DataFrame | None:
        import json as _json
        import math

        memo = self._shape_memo.get(shape_key)
        if memo is None:
            return None
        vals = [float(v) for v in qvec]
        if not vals or not all(map(math.isfinite, vals)):
            return None  # not JSON-expressible; the built path handles it
        self._shape_memo.move_to_end(shape_key)
        try:
            return self.spark.sql(
                memo[1].sql.replace("{qjson}", _json.dumps(vals)))
        except Exception:
            # the temp view is gone (e.g. the host called
            # spark.catalog.clearTempViews or dropped it by name): evict
            # the stale shape and let the caller rebuild + re-store —
            # a robustness fallback, never the expected path
            self._shape_memo.pop(shape_key, None)
            return None

    def _safe_meta(self, name: str | None = None):
        """One ``_meta.json`` read, or None when unreadable (collection
        missing / concurrently dropped / malformed) — memo callers skip
        the memo on None instead of raising off the serving path."""
        try:
            return self.catalog.meta(name or self.index_name)
        except (OSError, TypeError, ValueError):
            return None

    def close(self) -> None:
        """Drop this service's shape-template temp views from the session
        catalog, clear the plan and shape memos and release the pinned
        blocks. Optional hygiene for hosts that build many short-lived
        services on one long-lived SparkSession — eviction already bounds
        the view count (_SHAPE_MEMO_CAP) and the budget the pinned bytes,
        but a dropped service's views and pins would otherwise linger
        until the session ends. Idempotent; the service keeps working
        after close() (the next request simply rebuilds its shape)."""
        while self._shape_memo:
            _, (view, _) = self._shape_memo.popitem(last=False)
            try:
                self.spark.catalog.dropTempView(view)
            except Exception:  # pragma: no cover - already dropped
                pass
        self._plan_memo.clear()
        with self._pin_lock:
            self._pins.clear()
            self._pin_marks.clear()
            self._pin_bytes = 0

    def memo_stats(self) -> dict:
        """What the read-path memos served and what they pin: hit counts
        per tier and the pinned tier's sets and bytes against its budget
        (the HTTP /metrics route)."""
        with self._pin_lock:
            return {"plan_hits": self._plan_hits,
                    "shape_hits": self._shape_hits,
                    "pin_hits": self._pin_hits,
                    "pinned_sets": len(self._pins),
                    "pinned_bytes": self._pin_bytes,
                    "pin_budget_bytes": self._PIN_BUDGET_BYTES}

    def _pin(self, shape: _Shape) -> _Pin | None:
        """The pinned block of ``shape``'s candidate set at its data
        version, filled one of two ways under one admission rule. A
        filtered set whose tenant's unfiltered set is pinned at the same
        version is derived from that block (:meth:`_derive_pin`: no scan,
        no Spark job); any other set is collected from its candidate
        frame (:meth:`_collect_pin`: one bounded Spark job). Either way
        the set is stored on its SECOND template hit at one data version
        — the first only marks it (a derived set still answers that hit)
        — so a set read once per version (a write between reads makes
        every shape cold again) never pays a collect. A pin never evicts a
        live one: it is admitted only into the room the live pins leave
        (within the per-set cap), and pins of an older data version are
        dropped first. So a set costs at most one collect per data
        version, and a working set larger than the budget cannot thrash —
        the sets that found no room stay on the template, or, when
        derived, keep being cut from their tenant's block unstored. None
        keeps the set on the template; a negative mark remembers a
        collected set that did not fit: for every version when it is over
        the per-set cap or cannot be ranked in NumPy, for this
        version when the room was short."""
        per_set = self._PIN_BUDGET_BYTES // 8
        with self._pin_lock:
            pin = self._pins.get(shape.slot)
            if pin is not None and pin.at == shape.at:
                return pin
            mark = self._pin_marks.get(shape.slot)
            if mark in (("no", None), ("no", shape.at)):
                return None
            base = self._pins.get(shape.slot[:2] + (None,))
            if shape.flt is None or base is None or base.at != shape.at:
                base = None  # nothing to derive from
            first = mark != ("seen", shape.at)
            if first:
                self._mark(shape.slot, ("seen", shape.at))
                if base is None:
                    return None
            else:
                for old in [s for s, p in self._pins.items()
                            if p.at != shape.at]:
                    self._pin_bytes -= self._pins.pop(old).nbytes
                cap = min(per_set, self._PIN_BUDGET_BYTES - self._pin_bytes)
        # outside the lock: the optimizer's work on the tenant's rows
        derived = self._derive_pin(shape, base) if base is not None else None
        if first:
            return derived
        pin = derived
        if pin is None and cap > 0:  # outside the lock: a Spark job
            pin = self._collect_pin(shape, cap)
        with self._pin_lock:
            held = self._pins.pop(shape.slot, None)
            if held is not None and held.at == shape.at:
                self._pins[shape.slot] = held  # pinned meanwhile
                return held
            if held is not None:
                self._pin_bytes -= held.nbytes
            if (pin is not None and self._pin_bytes + pin.nbytes
                    <= self._PIN_BUDGET_BYTES):
                self._pins[shape.slot] = pin
                self._pin_bytes += pin.nbytes
                self._pin_marks.pop(shape.slot, None)
                return pin
            if derived is not None:
                return derived  # still marked: offered again next hit
            self._mark(shape.slot, (
                "no", None if pin is None and cap == per_set else shape.at))
            return None

    def _mark(self, slot: tuple, mark: tuple) -> None:
        """Record ``slot``'s newest pin mark, keeping at most
        ``_SHAPE_MEMO_CAP`` marks (the caller holds the pin lock)."""
        self._pin_marks.pop(slot, None)
        self._pin_marks[slot] = mark
        while len(self._pin_marks) > self._SHAPE_MEMO_CAP:
            self._pin_marks.popitem(last=False)

    def _collect_pin(self, shape: _Shape, cap: int) -> _Pin | None:
        """One bounded collect of a candidate set: ``limit(max_rows + 1)``
        of the point id, the vector column and the non-vector response
        columns, bounded by bytes too. Spark sizes each row (its share of
        the block, and each payload value's text plus ``_OBJ_BYTES``) and
        gathers the rows into one list that it returns only when their
        sizes sum to at most ``cap``: an oversized set never reaches the
        driver. None — the set stays on the template — when it is over
        ``cap`` in rows, in Spark's sizes or in the driver bytes it would
        hold, or when the ranking could differ from Spark's: non-integer
        ids, a vector that is null, ragged or non-finite."""
        from pyspark.sql.types import (
            ArrayType, DoubleType, FloatType, IntegerType, LongType,
        )

        schema = shape.cand.schema
        vtype = schema[shape.vcol].dataType
        if not (isinstance(vtype, ArrayType)
                and isinstance(vtype.elementType, (FloatType, DoubleType))
                and isinstance(schema["id"].dataType,
                               (IntegerType, LongType))):
            return None
        dtype = (np.float32 if isinstance(vtype.elementType, FloatType)
                 else np.float64)
        width = np.dtype(dtype).itemsize
        max_rows = cap // (8 + width * self.dim)
        resp = self._response_columns(shape.cand.columns)
        payload = [c for c in resp if c != "id"]
        cols = [f"`{c}`" for c in ["id", shape.vcol, *payload]]
        size = " + ".join([f"8 + greatest(size({cols[1]}), 0) * {width}"] + [
            f"{_OBJ_BYTES} + coalesce(octet_length(CAST({c} AS STRING)), 0)"
            for c in cols[2:]])
        # SQL strings, not Column objects: one py4j call per step instead
        # of one per expression node. coalesce(1) keeps the limit and the
        # global aggregate in one stage (no exchange, one job).
        rows = (shape.cand.coalesce(1)
                .selectExpr(f"struct({', '.join(cols)}) AS r", f"{size} AS b")
                .limit(max_rows + 1)
                .selectExpr(f"CASE WHEN count(1) <= {max_rows} AND "
                            f"coalesce(sum(b), 0) <= {cap} "
                            f"THEN collect_list(r) END AS rows")
                .collect()[0]["rows"])
        if rows is None:
            return None
        rows = [r.asDict(recursive=True) for r in rows]
        vecs = [r[shape.vcol] for r in rows]
        if (any(r["id"] is None for r in rows) or any(v is None for v in vecs)
                or len({len(v) for v in vecs}) > 1
                or any(x is None for v in vecs for x in v)):
            return None
        block = (np.array(vecs, dtype=dtype).T.copy() if rows
                 else np.zeros((0, 0), dtype=dtype))
        if not np.isfinite(block).all():
            return None
        pin = _Pin.of(shape.at, shape.vcol,
                      np.array([r["id"] for r in rows], dtype=np.int64),
                      block, {c: [r[c] for r in rows] for c in payload},
                      tuple(resp))
        return pin if pin.nbytes <= cap else None

    def _derive_pin(self, shape: _Shape, base: _Pin) -> _Pin | None:
        """``shape``'s filtered candidate set cut from ``base``, the
        tenant's unfiltered pin at the same data version. The base's rows
        — an internal row index, the point id and the payload columns,
        typed as the candidate frame types them — go to the JVM once as a
        local relation; ``shape.flt`` filters it and the surviving indexes
        come back. The optimizer folds a filter over a local relation into
        a new local relation, which Spark answers without a job, so the
        set costs no scan, no Spark job and no second collect, and the
        filter keeps Spark's own semantics. None — the set takes the
        collect path — when the relation cannot evaluate the filter: an
        analysis error (e.g. a filter on a vector column, which the
        relation does not carry), an optimized plan that is not a local
        relation (e.g. ``local_df`` fell back to a Python RDD), an empty
        base, or a timestamp column (its Python value does not round-trip
        exactly)."""
        from pyspark.errors import AnalysisException
        from pyspark.sql.types import LongType, StructField, StructType

        if not len(base.ids):
            return None
        try:
            schema = StructType(
                [StructField("__ri", LongType(), False)]
                + [shape.cand.schema[c] for c in ["id", *base.cols]])
            if "timestamp" in schema.simpleString():
                return None
            rows = list(zip(range(len(base.ids)), base.ids.tolist(),
                            *base.cols.values()))
            cut = (local_df(self.spark, rows, schema)
                   .filter(shape.flt).select("__ri"))
            plan = cut._jdf.queryExecution().optimizedPlan()
            if plan.getClass().getSimpleName() != "LocalRelation":
                return None
            idx = np.array([r[0] for r in cut.collect()], dtype=np.int64)
        except (AnalysisException, KeyError, TypeError, ValueError):
            return None  # a column the rows lack or cannot type: collect
        return _Pin.of(base.at, base.vcol, base.ids[idx], base.block[:, idx],
                       {c: [vs[i] for i in idx.tolist()]
                        for c, vs in base.cols.items()}, base.resp)

    def _incarnation(self, name: str, data_dir: str | None, meta=None):
        """Which INCARNATION of a collection name a data dir belongs to:
        the creation nonce persisted in ``_meta.json`` (drop+recreate
        restarts the version counter, so a recurring ``data.v1`` path must
        not hit the old incarnation's cached file listing). Legacy
        catalogs without a nonce fall back to the dir's inode — best
        effort only (inodes recycle; meaningless on object-store mounts),
        which is exactly why create() now persists a nonce. Returns None
        when unstampable — caller skips the memo. ``meta`` lets hot-path
        callers reuse an already-read CollectionMeta instead of paying
        another disk read per request."""
        import os as _os

        if meta is None:
            meta = self._safe_meta(name)
        if meta is None:
            return None
        if meta.nonce is not None:
            return meta.nonce
        if data_dir is None:
            return None
        try:
            return _os.stat(data_dir).st_ino
        except OSError:
            return None

    def _memo_stamp(self, data_dir: str | None, meta=None):
        """Memo-key components beyond the path of the current data version:
        the collection's incarnation (see ``_incarnation``) and the
        payload-index declaration state (create/drop_payload_index changes
        match.text ROUTING semantics without any data rewrite). Returns
        None when unstampable — caller skips the memo. Pass the request's
        already-read ``meta`` so the hot serving path pays ONE meta read
        (nonce and payload_indexes live on the same CollectionMeta)."""
        if data_dir is None:
            return None
        if meta is None:
            meta = self._safe_meta()
        if meta is None:
            return None
        inc = self._incarnation(self.index_name, data_dir, meta=meta)
        if inc is None:
            return None
        return (inc, tuple(sorted((meta.payload_indexes or {}).items())))

    def _memo_plan(self, key, df: DataFrame) -> DataFrame:
        if key is not None:
            self._plan_memo[key] = df
            while len(self._plan_memo) > self._PLAN_MEMO_CAP:
                self._plan_memo.popitem(last=False)
        return df

    # GET /remove_by_user (/root/reference/app.py:78-91)
    def remove_by_user(self, user_id: int) -> int:
        try:
            self.catalog.delete_where(self.index_name, F.col("user_id") == F.lit(user_id))
            return 1
        except Exception:
            return 0

    # GET /remove_all_by_word — intended semantics (/root/reference/app.py:94-117)
    def remove_all_by_word(self, user_id: int, word: str) -> int:
        try:
            self.catalog.delete_where(
                self.index_name,
                (F.col("user_id") == F.lit(user_id)) & F.col("text").contains(word),
            )
            return 1
        except Exception:
            return 0

    # GET /remove_all_by_regex (/root/reference/app.py:120-143)
    def remove_all_by_regex(self, user_id: int, regex: str) -> int:
        try:
            self.catalog.delete_where(
                self.index_name,
                (F.col("user_id") == F.lit(user_id)) & F.col("text").rlike(regex),
            )
            return 1
        except Exception:
            return 0

    # GET /get_category_for_title (/root/reference/app.py:146-169)
    def get_category_for_title(self, user_id: int, cats: str, title: str) -> str:
        return classify_title(self.spark, user_id, cats, title, self.dim)

    # Qdrant-surface extensions the reference reaches through its client:
    # /points/count (tenant-scoped filtered count, a pruned scan) and
    # /points/payload set_payload (tenant-scoped field update; vectors/ids
    # refused by the catalog — vectors go through insert/upsert).
    def sample(self, user_id: int, n: int, seed: int = 42) -> DataFrame:
        """Qdrant random-sampling query (``query: {"sample": "random"}``),
        tenant-scoped and deterministic per seed."""
        from vectordb_cloud_spark.sources.readers import random_sample

        return random_sample(
            self.catalog.read_for_user(self.index_name, user_id), n,
            seed=seed, id_col="id",
        )

    def count(self, user_id: int, word: str | None = None,
              query_filter: dict | None = None) -> int:
        pred = F.col("user_id") == F.lit(user_id)
        if word is not None:
            pred = pred & F.col("text").contains(word)
        extra = compile_filter(query_filter, id_col="id")
        if extra is not None:
            pred = pred & extra
        return self.catalog.count_where(self.index_name, pred)

    def set_payload(self, user_id: int, values: dict,
                    word: str | None = None) -> int:
        pred = F.col("user_id") == F.lit(user_id)
        if word is not None:
            pred = pred & F.col("text").contains(word)
        return self.catalog.update_payload(self.index_name, values, pred)

    def facet(self, user_id: int, key: str, limit: int = 20,
              query_filter: dict | None = None) -> dict:
        """Qdrant POST /collections/{c}/facet: value counts of one payload
        field under the tenant scope (+ optional filter DSL), served by the
        one-pass facet_counts operator."""
        from vectordb_cloud_spark.operators.knn import facet_counts

        points = self.catalog.read_for_user(self.index_name, user_id)
        pred = compile_filter(query_filter, id_col="id")
        rows = facet_counts(points, [key], filters=pred,
                            max_values_per_facet=limit).collect()
        return {"hits": [{"value": r["value"], "count": r["n"]}
                         for r in rows]}

    def search_matrix_pairs(self, user_id: int, sample: int = 10,
                            limit: int = 3,
                            query_filter: dict | None = None) -> dict:
        """Qdrant POST /collections/{c}/points/search/matrix/pairs,
        tenant-scoped: sample `sample` points under the filter, return
        each sample's `limit` nearest other samples as pair records
        (the API behind payload-similarity exploration UIs). The
        quadratic stays sample-local — sample² pairs, never corpus²."""
        from vectordb_cloud_spark.operators.knn import distance_matrix_pairs

        points = self.catalog.read_for_user(self.index_name, user_id)
        pred = compile_filter(query_filter, id_col="id")
        rows = distance_matrix_pairs(
            points, sample_size=sample, k=limit, vector_col="embedding",
            id_col="id", filters=pred,
        ).collect()
        return {"pairs": [{"a": r["id_a"], "b": r["id_b"],
                           "score": float(r["dist"])} for r in rows]}

    def search_matrix_offsets(self, user_id: int, sample: int = 10,
                              limit: int = 3,
                              query_filter: dict | None = None) -> dict:
        """Qdrant POST /collections/{c}/points/search/matrix/offsets —
        the same sampled computation in the CSR-style envelope (r13)."""
        from vectordb_cloud_spark.operators.knn import (
            distance_matrix_offsets,
        )

        points = self.catalog.read_for_user(self.index_name, user_id)
        pred = compile_filter(query_filter, id_col="id")
        return distance_matrix_offsets(
            points, sample_size=sample, k=limit, vector_col="embedding",
            id_col="id", filters=pred)

    def query(self, user_id: int, body: dict) -> list[dict]:
        """Qdrant POST /points/query, tenant-scoped: the universal query
        API (vector / sparse / multivector / fusion / recommend / discover
        / sample / scroll, with recursive ``prefetch`` funnels, plus
        ``score_threshold`` on the scored branches) over the
        tenant-pruned collection read. ``body`` is the Qdrant request
        document; a ``{"text": ...}`` TOP-LEVEL or PREFETCH query (at any
        nesting depth) embeds through the service's embedder (the
        reference's text-in/ids-out shape); recommend/discover documents
        take point ids / raw vectors, as in the operators. Returns
        JSON-ready hit dicts with vector columns dropped (Qdrant returns
        vectors only on request)."""
        return self._query_rows(user_id, body)

    def _query_rows(self, user_id: int, body: dict,
                    cols: tuple | None = None) -> list[dict]:
        """The rows-level read: :meth:`_query_df`'s answer as hit dicts.
        The pinned tier answers first — ahead of the plan memo, since an
        exact repeat of a pinned shape is cheaper to rank than to
        re-collect — else the DataFrame tiers are collected."""
        keys = self._read_keys(user_id, body, cols)
        _, shape_key, qvec = keys
        rows = self._serve_pinned(shape_key, qvec)
        if rows is not None:
            return rows
        return [r.asDict(recursive=True)
                for r in self._query_df(user_id, body, cols, keys).collect()]

    def _serve_pinned(self, shape_key: tuple | None, qvec) -> list | None:
        """A shape-template hit answered from its candidate set's pinned
        block: the rows, keys, key order and Python types that collecting
        the shape's SQL gives. The second hit on a set at one data
        version pins it; a filtered set of a pinned tenant is answered
        from its tenant's block from the first (see :meth:`_pin`). None
        falls through to the DataFrame tiers: no live shape, a set not
        (yet) pinned, a query vector the template declines (non-finite or
        empty) or one whose length differs from the stored vectors (Spark
        ranks the null distances that gives)."""
        entry = (self._shape_memo.get(shape_key)
                 if shape_key is not None else None)
        if entry is None:
            return None
        q = np.asarray(qvec, dtype=np.float64)
        if not len(q) or not np.isfinite(q).all():
            return None
        shape = entry[1]
        pin = self._pin(shape)
        if pin is None or (len(pin.ids) and len(q) != pin.block.shape[0]):
            return None
        if any(src not in pin.cols and src not in ("id", "dist", pin.vcol)
               for src, _ in shape.proj):
            return None  # e.g. with_vectors over another vector column
        self._shape_memo.move_to_end(shape_key)
        dist, order = pin.ranked(q)
        if shape.thr is not None:
            order = order[dist[order] <= shape.thr]
        rows = [{alias: float(dist[i]) if src == "dist" else pin.value(src, i)
                 for src, alias in shape.proj}
                for i in order[shape.off:shape.off + shape.k].tolist()]
        with self._pin_lock:
            self._pin_hits += 1
            self._shape_hits += 1
        return rows

    def _read_keys(self, user_id: int, body: dict, cols) -> tuple:
        """``(memo_key, shape_key, qvec)`` of a read: the plan-memo key
        (None: no memo), and for a template-eligible plain dense body its
        shape key and query vector (else None, None)."""
        import json as _json

        # compiled-plan memo: everything downstream is a deterministic
        # function of (data versions, tenant, body, projection) — the RAW
        # body keys the memo (text embedding + filter rewrite are
        # deterministic), lookup collections' immutable data dirs ride in
        # the key so their writes invalidate too. A repeat body skips the
        # whole construction, including the filter-rewrite postings probe.
        memo_key = None
        meta0 = self._safe_meta()
        data_dir = self.catalog._current_data_dir(self.index_name, meta=meta0)
        stamp = self._memo_stamp(data_dir, meta0)
        if stamp is not None:
            try:
                body_key = _json.dumps(body, sort_keys=True, default=None)
            except (TypeError, ValueError):
                body_key = None  # non-JSON body (e.g. a DataFrame) — no memo
            if body_key is not None:
                extra = []
                for slot in ("with_lookup", "lookup_from"):
                    v = body.get(slot)
                    if v:
                        try:
                            name = self.catalog.resolve(
                                str(v["collection"])
                                if isinstance(v, dict) else str(v))
                            ldir = self.catalog._current_data_dir(name)
                            # incarnation rides with the path: a lookup
                            # collection dropped+recreated reuses data.v1,
                            # and serving its OLD memoized plan would read
                            # deleted part files (ADVICE r10, the same
                            # hazard _memo_stamp closes for the primary)
                            linc = self._incarnation(name, ldir)
                            if linc is None:
                                extra = None
                                break
                            extra.append((ldir, linc))
                        except (KeyError, FileNotFoundError, ValueError):
                            extra = None  # malformed/unknown: no memo;
                            break         # execution raises its own error
                if extra is not None:
                    memo_key = ("query", data_dir, stamp, user_id,
                                body_key, tuple(extra), cols)
        if memo_key is None:
            return None, None, None
        # distinct-text fast path: a plain dense body differing only in
        # its query vector/text reuses this shape's candidate view + SQL.
        # A body carrying params:{exact:true} (or empty params) is
        # exact-path identical to one without params — THIS engine's
        # no-params default is an exact scan, so strip it before the shape
        # checks, keying the shape on the NORMALIZED body. NOTE: Qdrant's
        # own SearchParams default is exact=FALSE (ANN); {"exact": false}
        # must NOT join this benign set — it requests ANN routing and
        # keeps the full path (ADVICE r11/r12)
        tbody = body
        if "params" in body and body["params"] in (None, {}, {"exact": True}):
            tbody = {k: v for k, v in body.items() if k != "params"}
        qvec = self._query_dense_vec(tbody)
        if qvec is None:
            return memo_key, None, None
        return (memo_key,
                self._query_shape_key(data_dir, stamp, user_id, tbody, cols),
                qvec)

    def _query_df(self, user_id: int, body: dict, cols: tuple | None = None,
                  keys: tuple | None = None) -> DataFrame:
        """The read path behind /query and /search: a /query ``body`` as
        a lazy, response-shaped DataFrame. ``cols`` is an optional fixed
        projection ((source, alias) pairs over the hit frame — /search
        asks for ``_SEARCH_COLS``); None shapes the response by the
        body's with_payload / with_vectors selectors. ``keys`` are the
        request's :meth:`_read_keys` when the caller already has them.
        Three DataFrame tiers, cheapest first: the plan memo (an
        exact-repeat request), the shape template (a plain dense body
        that differs only in its query text/vector), and full
        construction."""
        from vectordb_cloud_spark.query_api import query_points

        memo_key, qshape_key, qvec = (
            keys or self._read_keys(user_id, body, cols))
        if memo_key is not None:
            hit = self._plan_memo.get(memo_key)
            if hit is not None:
                self._plan_memo.move_to_end(memo_key)
                self._plan_hits += 1
                return hit
        if qshape_key is not None:
            df = self._serve_from_shape(qshape_key, qvec)
            if df is not None:
                self._shape_hits += 1
                return self._memo_plan(memo_key, df)

        # Qdrant params.exact=false: a plain dense body routes through the
        # collection's ANN/quantized sidecar (with no sidecar configured
        # it silently stays exact, as in Qdrant). Non-plain bodies
        # (prefetch/fusion/sparse/...) keep the exact grammar path —
        # Qdrant applies params per vector leg; here the universal
        # endpoint supports the high-QPS plain shape, the one the
        # sidecars exist for.
        qparams = body.get("params")
        if (isinstance(qparams, dict)
                and qparams.get("exact", True) is False):
            served = self._query_ann(user_id, body, cols)
            if served is not None:
                return self._memo_plan(memo_key, served)

        def _embed_text(q):
            # {"text": ...} queries — bare or as NearestQuery's "nearest"
            # (an mmr sibling rides through) — embed through the service's
            # embedder; other query values pass through
            if isinstance(q, dict) and "nearest" in q:
                return dict(q, nearest=_embed_text(q["nearest"]))
            v = self._dense_vec(q)
            return q if v is None else v

        def _translate(spec: dict) -> dict:
            out = dict(spec)
            if "query" in out:
                out["query"] = _embed_text(out["query"])
            if out.get("filter"):
                # text-INDEXED match.text clauses keep their whole-token
                # index semantics (no indexed-vs-unindexed behavior flip
                # between endpoints): top-level must clauses rewrite to
                # has_id (postings-served) when the match set is small,
                # every other one to the match.tokens filter-DSL
                # equivalent, which threads through fusion/prefetch
                # filter semantics unchanged (rewrite_text_filter)
                out["filter"] = self.catalog.rewrite_text_filter(
                    self.index_name, out["filter"])
            inner = out.get("prefetch")
            if inner:
                inner = [inner] if isinstance(inner, dict) else list(inner)
                out["prefetch"] = [_translate(s) for s in inner]
            return out

        body = _translate(dict(body))
        if int(body.get("limit", 10)) < 0:
            # client error, not a raw Spark INVALID_LIMIT AnalysisException
            # (and the HTTP layer maps ValueError to the 422 envelope);
            # query_batch's shared-scan path dispatches k<0 here too, so
            # batch and per-request agree on degenerate input (ADVICE r13)
            raise ValueError("limit must be non-negative")
        points = self.catalog.read_for_user(self.index_name, user_id)
        lookup = None
        if body.get("with_lookup"):
            # Qdrant group-by lookup: another collection's name — bare
            # string or the object form {"collection": name} (same grammar
            # as lookup_from); its point ids are the group values
            wl = body["with_lookup"]
            lookup = self.catalog.read(
                str(wl["collection"]) if isinstance(wl, dict) else str(wl))
        example_src = None
        if body.get("lookup_from"):
            # Qdrant recommend lookup_from: {"collection": name} or a bare
            # name — example ids resolve against that collection
            lf = body["lookup_from"]
            name = lf["collection"] if isinstance(lf, dict) else str(lf)
            example_src = self.catalog.read(name)
        hits = query_points(
            points, body.get("query"), prefetch=body.get("prefetch"),
            using=body.get("using"), query_filter=body.get("filter"),
            limit=int(body.get("limit", 10)), id_col="id",
            group_by=body.get("group_by"),
            group_size=int(body.get("group_size", 3)),
            with_lookup=lookup,
            lookup_id_col="id" if lookup is not None else None,
            order_by=body.get("order_by"),
            offset=int(body.get("offset", 0)),
            lookup_from=example_src,
            score_threshold=body.get("score_threshold"),
        )
        if cols is None:
            keep = self._select_response(
                hits.columns,
                with_vectors=bool(body.get("with_vectors", False)),
                with_payload=body.get("with_payload", True),
            )
            shaped = hits.select(*keep)
            proj = tuple((c, c) for c in keep)
        else:
            shaped = hits.selectExpr(*self._sql_cols(cols))
            proj = cols
        if qshape_key is not None and "dist" not in points.columns:
            # remember this shape's candidate frame (tenant read + the
            # REWRITTEN filter — body was _translate()d above) + rendered
            # SQL so the next distinct-text body with the same shape skips
            # construction. `dist` as a stored payload column would
            # collide with the computed column — such schemas (unseen in
            # practice) just keep full construction.
            from vectordb_cloud_spark.query_api import _vector_col

            vcol = _vector_col(body.get("using"))
            # column names containing braces would break the {view}
            # .format in _register_shape and backticks would break the
            # rendered SQL — such schemas (unseen in practice) keep full
            # construction rather than 500 on the store path
            names = [n for pair in proj for n in pair] + [vcol]
            safe = not any(ch in c for c in names for ch in "{}`")
            if vcol in points.columns and "id" in points.columns and safe:
                flt = compile_filter(body.get("filter"), id_col="id")
                cand = points if flt is None else points.filter(flt)
                k = int(body.get("limit", 10))
                off = int(body.get("offset", 0))
                thr = body.get("score_threshold")
                thr = None if thr is None else float(thr)
                sql = (
                    self._QSHAPE_SQL
                    .replace("{cols}", ", ".join(self._sql_cols(proj)))
                    .replace("{vcol}", f"`{vcol}`")
                    .replace("{k}", str(k))
                    .replace("{off}", f" OFFSET {off}" if off else "")
                    # l2 distances rank ascending: threshold keeps <= t
                    .replace("{where}",
                             f"WHERE dist <= {thr!r}D\n    "
                             if thr is not None else "")
                )
                _, data_dir, stamp, _, _, filt_key, *_ = qshape_key
                self._register_shape(qshape_key, _Shape(
                    sql, cand, vcol, proj, k, off, thr,
                    slot=(user_id, vcol, filt_key), at=(data_dir, stamp),
                    flt=flt))
        return self._memo_plan(memo_key, shaped)

    # response-shaping: Qdrant's with_payload / with_vectors selectors.
    # id + score/rank columns always ride; payload columns follow
    # with_payload (True = all, False = none, list = those fields);
    # vector columns only when with_vectors.
    _SCORE_COLS = frozenset({
        "id", "dist", "score", "rrf_score", "dbsf_score", "maxsim",
        "new_score", "context_score", "sq_dist", "group_rank", "hit_rank",
        "query_id", "mmr_rank",
    })

    def _select_response(self, cols: list[str], with_vectors: bool = False,
                         with_payload=True) -> list[str]:
        nonvec = set(self._response_columns(cols))
        keep = []
        for c in cols:
            if c.startswith("__"):
                continue
            if c in self._SCORE_COLS:
                keep.append(c)
            elif c not in nonvec:  # vector-typed
                if with_vectors:
                    keep.append(c)
            elif with_payload is True or (
                isinstance(with_payload, (list, tuple)) and c in with_payload
            ):
                keep.append(c)
        return keep

    @staticmethod
    def _response_columns(cols: list[str]) -> list[str]:
        """The JSON response envelope's column set: everything except
        vector-typed columns (dense, named, multivector, sparse pairs —
        also behind a ``lookup_`` prefix) and internal ``__*`` columns.
        Shared by query() and query_batch() so the envelope doesn't depend
        on which path served the request."""
        return [
            c for c in cols
            if not c.endswith(("embedding", "token_vectors",
                               "_indices", "_values"))
            and not c.startswith(("vec_", "mv_", "sparse_", "__",
                                  "lookup_vec_", "lookup_mv_"))
        ]

    def _query_ann(self, user_id: int, body: dict,
                   cols: tuple[str, ...] | None) -> DataFrame | None:
        """Serve a ``params.exact=false`` /query body through the
        collection's ANN or quantized sidecar, shaped like ``_query_df``
        shapes it (``cols`` or the selectors). Returns None when the body
        is not the supported plain-dense shape, no sidecar is configured,
        or the collection is empty — the caller falls through to the
        exact path (Qdrant's silent-exact behavior). ``with_vectors`` and
        named ``using`` vectors also fall back (the sidecars index the
        default dense column).

        Honors the rest of Qdrant's search ``params`` on this path:
        ``hnsw_ef`` overrides the graph config's beam width (ignored by
        IVF, as in Qdrant); ``quantization: {ignore, rescore,
        oversampling}`` — ignore=true skips the codes sidecar (exact over
        originals), rescore/oversampling pass into search_quantized.

        ``score_threshold`` on this path cuts on the distances the
        sidecar RETURNS: on the quantized path with ``rescore=false``
        those are the approximate (affine-decoded) distances, so cuts
        near the boundary can admit/drop different points than the exact
        path would for the same body — exactly Qdrant's behavior, where
        the threshold applies to the scores the (possibly quantized)
        search produced. Request ``quantization: {"rescore": true}`` for
        an exact-distance cut (ADVICE r11, documented deviation-free)."""
        meta = self._safe_meta()
        if meta is None or not (meta.ann_index or meta.quantization):
            return None
        qp = body.get("params") if isinstance(body.get("params"), dict) \
            else {}
        quant = qp.get("quantization") if isinstance(
            qp.get("quantization"), dict) else {}
        if not meta.ann_index and quant.get("ignore"):
            return None  # quantized codes disabled: exact over originals
        core = {k: v for k, v in body.items() if k != "params"}
        qvec = self._query_dense_vec(core)
        if (qvec is None or core.get("using")
                or core.get("with_vectors")
                or not self.catalog._has_data(self.index_name)):
            return None
        import math as _math

        try:
            k = int(core.get("limit", 10))
            off = int(core.get("offset", 0))
            thr = core.get("score_threshold")
            thr = None if thr is None else float(thr)
        except (TypeError, ValueError):
            return None
        if thr is not None and not _math.isfinite(thr):
            return None  # the exact path rejects NaN/inf with a 422
        pred = F.col("user_id") == F.lit(user_id)
        extra = compile_filter(
            self.catalog.rewrite_text_filter(self.index_name,
                                             core.get("filter")),
            id_col="id")
        if extra is not None:
            pred = pred & extra
        if meta.ann_index:
            # malformed values raise ValueError/TypeError — the same loud
            # coercion style as limit above; the HTTP layer maps both to
            # the 422 envelope (Qdrant validates params the same way)
            ef = qp.get("hnsw_ef")
            hits = self.catalog.search_ann(
                self.index_name, qvec, k=k + off, predicate=pred,
                beam=int(ef) if ef else None)
        else:
            # Qdrant oversampling is a FLOAT (e.g. 2.4) — float(), not
            # int(): truncation would silently shrink the rescore pool
            ov = quant.get("oversampling")
            hits = self.catalog.search_quantized(
                self.index_name, qvec, k=k + off, predicate=pred,
                rescore=bool(quant.get("rescore", False)),
                oversampling=float(ov) if ov else None)
        payload = self.catalog.read_for_user(self.index_name, user_id)
        joined = (payload.join(F.broadcast(hits.select("id", "dist")), "id")
                  .orderBy(F.col("dist").asc(), F.col("id").asc()))
        if thr is not None:
            joined = joined.filter(F.col("dist") <= F.lit(thr))
        if off:
            joined = joined.offset(off)
        joined = joined.limit(k)
        if cols is not None:
            return joined.selectExpr(*self._sql_cols(cols))
        return joined.select(*self._select_response(
            joined.columns, with_vectors=False,
            with_payload=core.get("with_payload", True)))

    def query_batch(self, user_id: int, bodies: list[dict]) -> list[list[dict]]:
        """Qdrant POST /points/query/batch, tenant-scoped. Requests whose
        primary ranking is a plain dense L2 top-k share ONE corpus scan —
        ``operators.knn.knn_batch`` broadcasts the query batch and
        window-ranks per query, so N requests cost one pass over the
        tenant's buckets instead of N (the Spark-first batching the
        per-request endpoint can't give you). The batchable set (r13,
        VERDICT r12 #5 — was plain dense only):

        - a vector or ``{"text": ...}`` query (optionally wrapped in
          Qdrant's explicit ``{"nearest": X}``), only ``limit`` beside it;
        - query-by-stored-point-ID (bare scalar or nearest-wrapped): ALL
          referenced ids across the batch resolve in ONE bounded probe,
          and each request's self-exclusion is applied after the shared
          window (the scan over-fetches by the batch's widest exclusion
          set, so the final top-k equals the per-request answer);
        - ``{"recommend": {...}}`` with the default ``average_vector``
          strategy and id/vector examples: example ids join the same
          shared probe, the derived mean(pos)−mean(neg) vector joins the
          shared scan, id-form examples are excluded like the
          per-request path.

        When a read has pinned the tenant's unfiltered candidate set,
        that block serves the shared leg instead, with no Spark job (ids
        resolve from it; a batch never creates a pin).

        Anything else (prefetch, filters, fusion, group_by, best_score,
        lookup_from, mmr, ``params``, ...) dispatches through
        :meth:`query` per request; a ``params.exact=false`` body thus
        takes the one ANN route (``_query_ann`` → the collection's
        sidecar search), one per body. Results align with the input
        order; a missing referenced point raises ``PointNotFoundError``
        exactly as per-request (the HTTP layer maps it to 404).

        ROUTING RULE (r14, measured — VERDICT r13 #2): the shared scan
        engages at >= 2 batchable entries; a single batchable body
        dispatches per-request (one scan either way, and the per-request
        path rides the warm shape template). The SCALE.md
        query_batch_mixed series measured shared vs per-request on
        single-tenant collections at 100k/1M/4M rows: shared wins at
        every size (2.02/3.80/12.97 s vs 2.26/4.09/13.50 s) — there is
        no crossover where per-request wins a >=2 batch, so no upper
        routing bound exists; the sf0.1 bench pair's apparent parity is
        the plan-bound tiny-tenant regime, not the scan-bound one."""
        from vectordb_cloud_spark.errors import PointNotFoundError

        def _is_id(x):
            return isinstance(x, int) and not isinstance(x, bool)

        def _split_examples(xs):
            # ids vs raw vectors, the recommend grammar; any other element
            # type opts the body out of the fast path (per-request raises)
            ids, vecs = [], []
            for x in xs:
                if isinstance(x, (list, tuple)) and x:
                    vecs.append([float(v) for v in x])
                elif _is_id(x):
                    ids.append(x)
                else:
                    return None
            return ids, vecs

        def _classify(b: dict):
            """(kind, payload, excl_ids, k) for batchable bodies, else
            None. kind: 'dense' (payload = vector), 'by_id' (payload =
            point id), 'rec' (payload = (pos_ids, pos_vecs, neg_ids,
            neg_vecs))."""
            if set(b) - {"query", "limit"}:
                return None
            try:
                k = int(b.get("limit", 10))
            except (TypeError, ValueError):
                return None  # per-request path raises the client error
            if k < 0:
                # degenerate limit: the shared window's final [:k] slice
                # would mean all-but-|k| rows while per-request returns
                # empty — dispatch per-request so both paths agree
                return None
            v = self._query_dense_vec(b)
            if v is not None:
                return ("dense", v, [], k)
            q = b.get("query")
            if isinstance(q, dict) and set(q) == {"nearest"}:
                q = q["nearest"]
            if _is_id(q):
                return ("by_id", q, [q], k)
            if isinstance(q, dict) and set(q) == {"recommend"}:
                spec = q["recommend"]
                if not isinstance(spec, dict) or (
                        set(spec) - {"positive", "negative", "strategy"}):
                    return None
                if spec.get("strategy",
                            "average_vector") != "average_vector":
                    return None  # best_score is not a plain dense top-k
                pos = _split_examples(list(spec.get("positive") or []))
                neg = _split_examples(list(spec.get("negative") or []))
                if pos is None or neg is None or not (pos[0] or pos[1]):
                    return None
                return ("rec", (pos[0], pos[1], neg[0], neg[1]),
                        pos[0] + neg[0], k)
            return None

        results: list[list[dict] | None] = [None] * len(bodies)
        entries = [(i, c) for i, c in
                   ((i, _classify(b)) for i, b in enumerate(bodies))
                   if c is not None]
        if len(entries) >= 2:
            # the tenant's unfiltered pin, when a read made one, serves
            # the whole shared leg on the driver (a batch never pins)
            pin = self._tenant_pin(user_id)
            points = (self.catalog.read_for_user(self.index_name, user_id)
                      if pin is None else None)
            # ONE bounded probe resolves every point id the batch
            # references (by-id targets + recommend examples) — the
            # per-request path pays one probe per request
            need = sorted({pid for _, c in entries for pid in c[2]})
            found: dict[int, list] = {}
            if need and pin is not None:
                at = {p: j for j, p in enumerate(pin.ids.tolist())}
                found = {p: pin.block[:, at[p]].astype(np.float64).tolist()
                         for p in need if p in at}
            elif need:
                rows = (
                    points.filter(F.col("id").isin(need))
                    .select("id", F.col("embedding").cast("array<double>")
                            .alias("__v"))
                    .collect()
                )
                found = {r["id"]: r["__v"] for r in rows}
            if need:
                missing = [i for i in need if i not in found]
                if missing:
                    raise PointNotFoundError(
                        f"example ids not found in collection: {missing}")
            batch = []  # (idx, qvec, k, excl_ids)
            for i, (kind, payload, excl, k) in entries:
                if kind == "dense":
                    qv = payload
                elif kind == "by_id":
                    qv = [float(x) for x in found[payload]]
                else:  # rec — the recommend average_vector derivation
                    pos_ids, pos_vecs, neg_ids, neg_vecs = payload
                    pos_pool = [np.asarray(found[p], dtype=np.float64)
                                for p in pos_ids] + [
                        np.asarray(v, dtype=np.float64) for v in pos_vecs]
                    neg_pool = [np.asarray(found[p], dtype=np.float64)
                                for p in neg_ids] + [
                        np.asarray(v, dtype=np.float64) for v in neg_vecs]
                    qnp = np.mean(pos_pool, axis=0)
                    if neg_pool:
                        qnp = qnp - np.mean(neg_pool, axis=0)
                    qv = [float(x) for x in qnp]
                batch.append((i, qv, k, excl))
            if pin is None or not self._serve_batch_pinned(
                    pin, batch, results):
                if points is None:
                    points = self.catalog.read_for_user(self.index_name,
                                                        user_id)
                self._scan_batch(points, batch, results)
        for i, body in enumerate(bodies):
            if results[i] is None:
                results[i] = self.query(user_id, body)
        return results  # type: ignore[return-value]

    def _scan_batch(self, points: DataFrame, batch, results) -> None:
        """Fill ``results`` for the shared leg's ``(idx, qvec, k,
        excl_ids)`` entries from ONE ``knn_batch`` scan of ``points``."""
        from vectordb_cloud_spark.operators.knn import knn_batch

        # array<double>, not <float>: the recommend-derived mean
        # vector is float64 in the per-request path — a float32
        # round-trip here would perturb near-tie distances vs
        # per-request parity (l2_distance casts everything to double
        # anyway; plain float32-exact vectors are unaffected)
        queries = local_df(
            self.spark,
            [(i, qv) for i, qv, _, _ in batch],
            "query_id int, embedding array<double>",
        )
        # the shared window over-fetches by the widest exclusion set:
        # dropping a request's excluded ids from its top
        # (k + |excl|) leaves at least its true top-k
        scan_k = max(k + len(excl) for _, _, k, excl in batch)
        hits = knn_batch(points, queries, k=scan_k,
                         points_vec="embedding", metric="l2",
                         tiebreak="id")
        keep = self._response_columns(hits.columns)
        if "query_id" not in keep:
            keep.append("query_id")
        rows = hits.select(*keep).collect()
        per_query: dict[int, list] = {i: [] for i, _, _, _ in batch}
        for r in rows:
            per_query[r["query_id"]].append(r)
        limits = {i: k for i, _, k, _ in batch}
        excls = {i: set(excl) for i, _, _, excl in batch}
        for i, lst in per_query.items():
            lst.sort(key=lambda r: (r["dist"], r["id"]))
            results[i] = [
                {k: v for k, v in r.asDict(recursive=True).items()
                 if k != "query_id"}
                for r in lst if r["id"] not in excls[i]
            ][: limits[i]]

    def _tenant_pin(self, user_id: int) -> _Pin | None:
        """The tenant's unfiltered default-vector pin at the current data
        version, if one is held."""
        meta = self._safe_meta()
        data_dir = self.catalog._current_data_dir(self.index_name, meta=meta)
        at = (data_dir, self._memo_stamp(data_dir, meta))
        slot = (user_id, "embedding", None)
        with self._pin_lock:
            pin = self._pins.get(slot)
            return pin if pin is not None and pin.at == at else None

    def _serve_batch_pinned(self, pin: _Pin, batch, results) -> bool:
        """Fill ``results`` for the shared leg's ``(idx, qvec, k,
        excl_ids)`` entries from ``pin``: the rows and key order of the
        ``knn_batch`` answer (response columns, then dist). False — the
        caller scans — when a query vector would give Spark null or
        non-finite distances."""
        qs = [np.asarray(qv, dtype=np.float64) for _, qv, _, _ in batch]
        if len(pin.ids) and not all(
                len(q) == pin.block.shape[0] and np.isfinite(q).all()
                for q in qs):
            return False
        for (i, _, k, excl), q in zip(batch, qs):
            dist, order = pin.ranked(q)
            skip = set(excl)
            hits = []
            for j in order.tolist():
                if len(hits) == k:
                    break
                if int(pin.ids[j]) not in skip:
                    hits.append({**{c: pin.value(c, j) for c in pin.resp},
                                 "dist": float(dist[j])})
            results[i] = hits
        with self._pin_lock:
            self._pin_hits += len(batch)
        return True

    def info(self) -> dict:
        """Qdrant GET /collections/{name} over the service's collection."""
        return self.catalog.collection_info(self.index_name)

    def create_index(self, field: str, field_schema: str = "keyword") -> dict:
        """Qdrant PUT /collections/{name}/index: declare a payload field
        indexed (re-clusters the collection's file layout by it)."""
        meta = self.catalog.create_payload_index(
            self.index_name, field, field_schema)
        return {"result": {"status": "completed"},
                "payload_indexes": dict(meta.payload_indexes or {})}

    def delete_index(self, field: str) -> dict:
        """Qdrant DELETE /collections/{name}/index/{field}."""
        meta = self.catalog.drop_payload_index(self.index_name, field)
        return {"result": {"status": "completed"},
                "payload_indexes": dict(meta.payload_indexes or {})}
