"""Per-corpus memos must invalidate when a fixture is regenerated in place:
the one fixture memo (fixtures.py) stamps every entry with ``corpus_key`` —
the corpus path plus each parquet entry's (name, mtime, size) — so a
rewritten fixture can never serve stale collected scalars or oracle
artifacts, and the replaced entry does not linger."""

import glob
import os
import shutil
import tempfile
import time

import pandas as pd
import pytest

from vectordb_cloud_spark import fixtures as fx


def _write_embeddings(sf_dir: str, base: float,
                      file: str = "embeddings.parquet") -> None:
    pd.DataFrame({
        "vec_id": [0, 1, 2],
        "embedding": [
            [base, 0.0], [0.0, base], [base, base],
        ],
        "label": [0, 1, 0],
    }).to_parquet(os.path.join(sf_dir, file))


def test_corpus_key_changes_when_fixture_rewritten(tmp_path):
    sf = str(tmp_path)
    _write_embeddings(sf, 1.0)
    k1 = fx.corpus_key(sf)
    time.sleep(0.01)  # ensure a distinct mtime even on coarse filesystems
    _write_embeddings(sf, 2.0)
    k2 = fx.corpus_key(sf)
    assert k1 != k2
    assert k1[0] == k2[0] == os.path.abspath(sf)


def test_query_vec_memo_invalidates_on_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    _write_embeddings(sf, 1.0)
    v1 = fx.query_vec(spark, sf, 0)
    assert v1 == [1.0, 0.0]
    # memo hit: same corpus state returns the cached list (a copy)
    assert fx.query_vec(spark, sf, 0) == v1
    time.sleep(0.01)
    _write_embeddings(sf, 2.0)
    v2 = fx.query_vec(spark, sf, 0)
    assert v2 == [2.0, 0.0], "rewritten fixture must invalidate the memo"


def test_read_relation_memo_reuses_then_invalidates(spark, tmp_path):
    sf = str(tmp_path)
    _write_embeddings(sf, 1.0)
    df1 = fx.table(spark, sf, "embeddings")
    assert fx.table(spark, sf, "embeddings") is df1  # memo hit
    time.sleep(0.01)
    _write_embeddings(sf, 3.0)
    df2 = fx.table(spark, sf, "embeddings")
    assert df2 is not df1
    row = df2.filter("vec_id = 0").first()
    assert list(row["embedding"]) == [3.0, 0.0]


def test_corpus_key_changes_when_directory_dataset_rewritten(tmp_path):
    """A directory-style dataset's own stat does not change when a part
    file is rewritten in place; the key must look one level down."""
    ds = tmp_path / "embeddings.parquet"
    ds.mkdir()
    _write_embeddings(str(ds), 1.0, "part-00000.parquet")
    k1 = fx.corpus_key(str(tmp_path))
    time.sleep(0.01)
    _write_embeddings(str(ds), 2.0, "part-00000.parquet")  # same size
    assert fx.corpus_key(str(tmp_path)) != k1


def test_memo_bounded_across_regenerations(spark, sf_dir, tmp_path):
    """Regenerating a corpus in place replaces memo entries instead of
    adding them, and no index artifact lands outside the artifact root
    (where the atexit hook would miss it)."""
    sf = str(tmp_path / "corpus")
    os.makedirs(sf)
    pattern = [os.path.join(tempfile.gettempdir(), p)
               for p in ("bm25_idx_*", "passage_idx_*")]
    strays_before = {d for p in pattern for d in glob.glob(p)}
    sizes = []
    for _ in range(3):
        for name in ("documents", "embeddings"):
            shutil.copyfile(os.path.join(sf_dir, f"{name}.parquet"),
                            os.path.join(sf, f"{name}.parquet"))
        fx.bm25_index(spark, sf)
        fx.passage_index(spark, sf)
        fx.query_vec(spark, sf, 0)
        fx.lsh_model(spark, sf)
        sizes.append(len(fx._MEMO))
    assert sizes[0] == sizes[1] == sizes[2], sizes
    assert {d for p in pattern for d in glob.glob(p)} == strays_before
    for name in ("bm25", "passage", "lsh_planes"):
        assert os.path.isdir(fx.art_path(name)), name
