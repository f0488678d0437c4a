"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import http.server
import os
import threading
import time

import numpy as np
import pytest

import client
import gen
import storage
from spans import self_times
from stats import spread, tail_percentile


@pytest.mark.parametrize("n, p", [
    (0, 50.0), (39, 50.0), (40, 75.0), (50, 80.0), (67, 85.0), (99, 85.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p > 50.0:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_tail_percentile_with_fewer_samples_beyond():
    assert tail_percentile(15, beyond=3) == 80.0
    assert tail_percentile(14, beyond=3) == 75.0
    assert tail_percentile(11, beyond=3) == 50.0


def test_spread_is_iqr_over_median():
    q1, med, q3, sp = spread([1, 2, 3, 4, 5])
    assert (q1, med, q3) == (1.5, 3, 4.5)
    assert sp == pytest.approx(1.0)


class _SlowHandler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):
        t0 = time.perf_counter()
        time.sleep(0.2)
        body = b"1"
        self.send_response(200)
        self.send_header("X-Bench-App", f"{t0!r} {time.perf_counter()!r}")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def test_closed_loop_sends_one_at_a_time_until_time_is_up():
    # a 0.2 s server and a 0.5 s budget: three requests, each sent when
    # the previous one returned, each timed from its own send; the
    # server's stamps put almost nothing outside the app
    srv = http.server.HTTPServer(("127.0.0.1", 0), _SlowHandler)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        reqs = ({"path": "/", "params": {}} for _ in range(100))
        sent = client.closed_loop(srv.server_port, reqs, 0.5)
    finally:
        srv.shutdown()
        th.join(timeout=5)
    assert not th.is_alive()
    assert len(sent) == 3 and all(r["status"] == 200 for r in sent)
    for prev, r in zip(sent, sent[1:]):
        assert r["sent"] >= prev["done"]
    for r in sent:
        assert r["done"] - r["sent"] == pytest.approx(0.2, abs=0.1)
        assert 0 <= r["app_in"] - r["sent"] < 0.1
        assert 0 <= r["done"] - r["app_out"] < 0.1


def test_interleave_keeps_counts_and_spreads_rare_kinds():
    counts = {"search": 17, "search_filter": 8, "query": 15, "batch": 2}
    seq = client.interleave(counts)
    assert {k: seq.count(k) for k in counts} == counts
    batch_at = [i for i, k in enumerate(seq) if k == "batch"]
    assert batch_at[1] - batch_at[0] >= len(seq) // 3


def _write(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * n)


def test_write_delta_counts_only_new_inodes(tmp_path):
    v1 = tmp_path / "data.v1"
    _write(str(v1 / "__bucket=0" / "a.parquet"), 100)
    _write(str(v1 / "__bucket=1" / "b.parquet"), 200)
    before = storage.inodes(str(tmp_path))
    v2 = tmp_path / "data.v2"
    os.makedirs(v2 / "__bucket=0")
    os.link(v1 / "__bucket=0" / "a.parquet", v2 / "__bucket=0" / "a.parquet")
    _write(str(v2 / "__bucket=1" / "c.parquet"), 50)
    _write(str(v2 / "__bucket=1" / "d.parquet"), 25)
    after = storage.inodes(str(tmp_path))
    assert storage.newest_data_dir(str(tmp_path)) == str(v2)
    assert storage.write_delta(before, after, str(v2)) == (75, 1)
    # the hard link is stored once
    assert storage.stored_bytes(str(tmp_path)) == 100 + 200 + 50 + 25


def test_self_time_subtracts_covered_children():
    spans = [("root", 0.0, 10.0, -1),
             ("a", 1.0, 4.0, 0), ("b", 3.0, 5.0, 0),  # overlap: 1..5 covered
             ("c", 2.0, 3.0, 1)]
    assert self_times(spans) == pytest.approx([6.0, 2.0, 2.0, 1.0])


def test_check_topk_accepts_ties_and_rejects_misses():
    ids = np.array([1, 2, 3, 4])
    d = np.array([0.5, 0.1, 0.3, 0.3])
    assert gen.check_topk(ids, d, [(2, 0.1), (3, 0.3)], k=2)
    assert gen.check_topk(ids, d, [(2, 0.1), (4, 0.3)], k=2)  # tie at k
    assert not gen.check_topk(ids, d, [(3, 0.3), (4, 0.3)], k=2)  # misses 2
    assert not gen.check_topk(ids, d, [(2, 0.1), (3, 0.31)], k=2)  # score
    assert not gen.check_topk(ids, d, [(2, 0.1)], k=2)  # too few


def test_points_fix_tenant_sizes_across_seeds():
    def sizes(pts):
        return sorted((t, sum(p["user_id"] == t for p in pts))
                      for t in {p["user_id"] for p in pts})

    a, b = gen.points(1, 500, 40), gen.points(2, 500, 40)
    assert a == gen.points(1, 500, 40) and a != b
    assert len(a) == 500 and sizes(a) == sizes(b)
    assert sizes(a)[0][1] == max(s for _, s in sizes(a))


def test_corpus_is_seeded_and_counts_survivors():
    rows, expected = gen.corpus(7, 200)
    assert rows == gen.corpus(7, 200)[0]
    assert rows != gen.corpus(8, 200)[0]
    assert expected == 200 and len(rows) == 200 + 3 * 10
    assert len({r[0] for r in rows}) == len(rows)
