"""Load generator and correctness oracle for the serving workloads.

Requests go out in a closed loop on one connection at a time: each is
sent when the previous one has returned, until the run's time is up.
Latency runs from the send. A shadow copy of the generated points checks
every response against a NumPy brute-force L2 top-k per tenant.
"""

from __future__ import annotations

import http.client
import itertools
import json
import random
import time
from urllib.parse import urlencode

import numpy as np

import gen
from workloads import LIMIT, SEARCH_FILTERS, WORKLOADS

# warm-up requests after the shapes: ten cycles of the mix. After one
# cycle the JVM's optimizing compiler was still busy through the window:
# CPU per request 660-875 ms, against 380-390 ms after ten
WARM_REQUESTS = 60


def _site_filter(site: str) -> str:
    return json.dumps({"must": [{"key": "site", "match": {"value": site}}]})


def interleave(counts: dict[str, int]) -> list[str]:
    """A sequence holding each kind ``counts[kind]`` times, each kind
    spread evenly: slot ``i`` goes to the kind furthest behind its even
    share. Every run then sends the kinds in the same order, and a run cut
    short by its time limit still holds the mix's shares."""
    total = sum(counts.values())
    made = dict.fromkeys(counts, 0)
    out = []
    for i in range(total):
        kind = max(counts, key=lambda k: counts[k] * (i + 1) / total - made[k])
        made[kind] += 1
        out.append(kind)
    return out


class Requests:
    """Builds the request stream of a serving workload: reads on the
    largest tenants, the hot set."""

    def __init__(self, name: str, seed: int, pts: list[dict]):
        self.cfg = WORKLOADS[name]
        self.rng = random.Random(seed * 31 + 7)
        self.vocab = gen.vocabulary()
        self.by_tenant: dict[int, list[dict]] = {}
        for p in pts:
            self.by_tenant.setdefault(p["user_id"], []).append(p)
        largest = sorted(self.by_tenant, key=lambda t: -len(self.by_tenant[t]))
        self.tenants = largest[:self.cfg["tenants"]]

    def make(self, kind: str, tenant: int | None = None,
             site: str | None = None) -> dict:
        rng = self.rng
        t = rng.choice(self.tenants) if tenant is None else tenant
        text = gen.sentence(rng, self.vocab, 6)
        r = {"kind": kind, "tenant": t}
        if kind in ("search", "search_filter"):
            if kind == "search_filter" and site is None:
                site = rng.choice(SEARCH_FILTERS)
            q = {"user_id": t, "text": text, "limit": LIMIT}
            if site:
                q["filter"] = _site_filter(site)
            r.update(path="/search", params=q, text=text, site=site)
        elif kind == "query":
            body = {"query": {"text": text}, "limit": LIMIT}
            r.update(path="/query", text=text,
                     params={"user_id": t, "body": json.dumps(body)})
        else:  # batch: dense, by-id and recommend bodies
            pid = rng.choice(self.by_tenant[t])["id"]
            bodies = [{"query": {"text": text}, "limit": LIMIT},
                      {"query": pid, "limit": 5},
                      {"query": {"recommend": {"positive": [pid]}}, "limit": 5}]
            r.update(path="/query_batch", text=text, pid=pid,
                     params={"user_id": t, "bodies": json.dumps(bodies)})
        return r

    def warmup(self) -> list[dict]:
        """Requests sent one at a time before the measured window: every
        template shape of every hot tenant, then ``WARM_REQUESTS`` more in
        the mix's shares (at least one of each kind), so the JVM has
        compiled most of the read path before timing starts."""
        out = []
        for t in self.tenants:
            out.append(self.make("search", t))
            out += [self.make("search_filter", t, site) for site in SEARCH_FILTERS]
            out.append(self.make("query", t))
        return out + [self.make(kind) for kind in interleave(
            {k: max(1, round(share * WARM_REQUESTS))
             for k, share in self.cfg["mix"].items()})]

    def stream(self):
        """Requests without end, kinds in the mix's shares: a short
        ``interleave`` cycle repeated."""
        denom = min(self.cfg["mix"].values())
        cycle = interleave({k: round(share / denom)
                            for k, share in self.cfg["mix"].items()})
        for kind in itertools.cycle(cycle):
            yield self.make(kind)


def send(port: int, r: dict) -> None:
    """One GET; records status, body, and when the server's WSGI app
    started and returned (``app_in`` / ``app_out``, same clock as ours)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", r["path"] + "?" + urlencode(r["params"]))
        resp = conn.getresponse()
        raw = resp.read()
        r["done"] = time.perf_counter()
        r["status"] = resp.status
        stamps = resp.getheader("X-Bench-App")
        if stamps:
            r["app_in"], r["app_out"] = map(float, stamps.split())
        r["body"] = json.loads(raw) if resp.status == 200 else None
    except (OSError, http.client.HTTPException, ValueError) as exc:
        r.update(done=time.perf_counter(), status=0, body=None,
                 error=repr(exc))
    finally:
        conn.close()


def closed_loop(port: int, reqs, seconds: float) -> list[dict]:
    """Send requests from ``reqs`` one at a time, each as soon as the
    previous one has returned, until ``seconds`` have passed; returns the
    requests sent, each with its ``sent`` time."""
    end = time.perf_counter() + seconds
    out = []
    for r in reqs:
        if time.perf_counter() >= end:
            break
        r["sent"] = time.perf_counter()
        send(port, r)
        out.append(r)
    return out


def control(port: int, what: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"/_bench/{what}")
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


class Shadow:
    """The collection as generated, for checking responses."""

    def __init__(self, pts: list[dict]):
        vecs = gen.embed([p["text"] for p in pts])
        self.tenants: dict[int, dict[int, tuple]] = {}
        for p, v in zip(pts, vecs):
            self._put(p, v)

    def _put(self, p: dict, v) -> None:
        self.tenants.setdefault(p["user_id"], {})[p["id"]] = (
            v, p["site"], p["text"], p["lang"])

    def candidates(self, tenant: int, site: str | None = None,
                   exclude: int | None = None):
        rows = [(pid, v) for pid, (v, s, _, _) in
                self.tenants.get(tenant, {}).items()
                if (site is None or s == site) and pid != exclude]
        ids = np.array([pid for pid, _ in rows], dtype=np.int64)
        vecs = (np.stack([v for _, v in rows]) if rows
                else np.zeros((0, gen.DIM), dtype=np.float32))
        return ids, vecs

    def user_bytes(self) -> int:
        """Bytes of the live points as a user sent them: the JSON insert
        document of each."""
        return sum(len(json.dumps({"id": pid, "user_id": t, "text": text,
                                   "site": site, "lang": lang}).encode())
                   for t, pts in self.tenants.items()
                   for pid, (_, site, text, lang) in pts.items())

    def _topk_ok(self, tenant, q, got, site=None, k=LIMIT,
                 exclude=None) -> bool:
        ids, vecs = self.candidates(tenant, site, exclude)
        return gen.check_topk(ids, gen.l2(vecs, q), got, k)

    def check(self, r: dict) -> bool:
        """True when a completed request's response is right."""
        body = r["body"]
        if r["status"] != 200 or body is None:
            return False
        kind, t = r["kind"], r["tenant"]
        q = gen.embed([r["text"]])[0]
        if kind in ("search", "search_filter"):
            got = [(h["id"], h["score"]) for h in body]
            return self._topk_ok(t, q, got, r.get("site"))
        if kind == "query":
            return self._topk_ok(t, q, [(h["id"], h["dist"]) for h in body])
        # by-id and single-positive recommend both rank the point's own
        # vector against the rest of the tenant, excluding the point
        pid = r["pid"]
        pvec = self.tenants[t][pid][0]
        return (self._topk_ok(t, q, [(h["id"], h["dist"]) for h in body[0]])
                and all(self._topk_ok(t, pvec, [(h["id"], h["dist"]) for h in b],
                                      k=5, exclude=pid) for b in body[1:]))
