"""Collection lifecycle: create/list/drop/copy-init, dim check, upsert LWW,
predicate deletes (SURVEY.md §2.7 U1-U4, D1-D4)."""

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.collections import CollectionCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return CollectionCatalog(spark, str(tmp_path / "collections"))


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "id long, embedding array<float>, text string, user_id long"
    )


def test_create_list_drop(catalog):
    catalog.create("a", dim=4)
    catalog.create("b", dim=8)
    assert catalog.list_collections() == ["a", "b"]
    # idempotent create-if-absent (/root/reference/insert.py:68-73)
    catalog.create("a", dim=4)
    assert catalog.meta("a").dim == 4
    assert catalog.drop("a") is True
    assert catalog.drop("a") is False
    assert catalog.list_collections() == ["b"]


def test_dim_validation(catalog, spark):
    catalog.create("c", dim=4)
    bad = _rows(spark, [(1, [1.0, 2.0], "x", 1)])
    with pytest.raises(ValueError, match="dim"):
        catalog.upsert("c", bad)


def test_upsert_last_write_wins(catalog, spark):
    catalog.create("c", dim=2)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "one", 7), (2, [2.0, 2.0], "two", 7)]))
    catalog.upsert("c", _rows(spark, [(1, [9.0, 9.0], "one-v2", 7)]))
    got = {r["id"]: r["text"] for r in catalog.read("c").collect()}
    assert got == {1: "one-v2", 2: "two"}


def test_upsert_lww_within_batch(catalog, spark):
    catalog.create("c", dim=2)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "v1", 7), (1, [2.0, 2.0], "v2", 7)]))
    got = catalog.read("c").collect()
    assert len(got) == 1 and got[0]["text"] == "v2"


def test_copy_init_then_grow(catalog, spark):
    """The ever-growing pattern (/root/reference/test_qdrant.py:128-133)."""
    catalog.create("base", dim=2)
    catalog.upsert("base", _rows(spark, [(1, [1.0, 1.0], "a", 1)]))
    catalog.create_from("grown", "base")
    catalog.upsert("grown", _rows(spark, [(2, [2.0, 2.0], "b", 1)]))
    assert catalog.read("grown").count() == 2
    assert catalog.read("base").count() == 1  # source untouched


def test_delete_where_and_by_ids(catalog, spark):
    catalog.create("c", dim=2)
    catalog.upsert("c", _rows(spark, [
        (1, [1.0, 1.0], "spark rocks", 1),
        (2, [2.0, 2.0], "plain text", 1),
        (3, [3.0, 3.0], "spark again", 2),
    ]))
    # delete-by-word within tenant (intended D2 semantics)
    n = catalog.delete_where("c", (F.col("user_id") == 1) & F.col("text").contains("spark"))
    assert n == 1
    assert {r["id"] for r in catalog.read("c").collect()} == {2, 3}
    n = catalog.delete_by_ids("c", [2, 3])
    assert n == 2
    assert catalog.read("c").count() == 0


def test_tenant_bucket_partitioning(catalog, spark, tmp_path):
    catalog.create("c", dim=2, n_buckets=4)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 10) for i in range(40)]))
    df = catalog.read("c")
    assert "__bucket" in df.columns  # partition column present for pruning
    assert df.count() == 40


def _bucket_files(catalog, name):
    """{bucket_dir: {file: (size, mtime_ns)}} snapshot of the data layout.
    Resolves the CURRENT snapshot version; carried (hardlinked) files share
    inodes across versions so (size, mtime_ns) equality still proves the
    bytes were not rewritten."""
    import os

    data = catalog._current_data_dir(name)
    out = {}
    for d in os.listdir(data):
        if not d.startswith("__bucket="):
            continue
        files = {}
        for f in os.listdir(os.path.join(data, d)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(data, d, f))
                files[f] = (st.st_size, st.st_mtime_ns)
        out[d] = files
    return out


def test_upsert_rewrites_only_touched_buckets(catalog, spark):
    """A small batch must leave unrelated tenants' bucket partitions
    byte-identical on disk (same files, sizes, mtimes) — the O(batch)
    write path, not O(table)."""
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(200)]))
    before = _bucket_files(catalog, "c")
    assert len(before) > 2
    # single-tenant batch: touches exactly one user_id -> one bucket
    catalog.upsert("c", _rows(spark, [(1000, [9.0, 9.0], "new", 3)]))
    after = _bucket_files(catalog, "c")
    from pyspark.sql import functions as F2

    bucket = catalog.spark.range(1).select(
        F2.pmod(F2.hash(F2.lit(3).cast("long")), F2.lit(8))
    ).first()[0]
    touched = f"__bucket={bucket}"
    assert after[touched] != before[touched]  # the tenant's bucket was rewritten
    for d in before:
        if d != touched:
            assert after[d] == before[d], f"untouched bucket {d} was rewritten"
    assert catalog.read("c").count() == 201


def test_delete_rewrites_only_matched_buckets(catalog, spark):
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(200)]))
    before = _bucket_files(catalog, "c")
    n = catalog.delete_where("c", F.col("user_id") == 3)
    assert n == 10
    after = _bucket_files(catalog, "c")
    bucket = catalog.spark.range(1).select(
        F.pmod(F.hash(F.lit(3).cast("long")), F.lit(8))
    ).first()[0]
    touched = f"__bucket={bucket}"
    for d in before:
        if d != touched:
            assert after[d] == before[d], f"untouched bucket {d} was rewritten"
    assert catalog.read("c").count() == 190


def test_delete_where_zero_matches_is_noop(catalog, spark):
    catalog.create("c", dim=2, n_buckets=4)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "t", 1)]))
    before = _bucket_files(catalog, "c")
    assert catalog.delete_where("c", F.col("user_id") == 999) == 0
    assert _bucket_files(catalog, "c") == before


def test_delete_null_predicate_rows_survive(catalog, spark):
    """Rows where the predicate is NULL (NULL text under contains) never
    matched — they must not be deleted."""
    catalog.create("c", dim=2)
    catalog.upsert("c", _rows(spark, [
        (1, [1.0, 1.0], "spark rocks", 1),
        (2, [2.0, 2.0], None, 1),
        (3, [3.0, 3.0], "plain", 1),
    ]))
    n = catalog.delete_where("c", F.col("text").contains("spark"))
    assert n == 1
    assert {r["id"] for r in catalog.read("c").collect()} == {2, 3}


def test_upsert_schema_drift_raises(catalog, spark):
    catalog.create("c", dim=2)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "a", 1)]))
    drifted = spark.createDataFrame(
        [(2, [2.0, 2.0], "b")], "id long, embedding array<float>, text string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        catalog.upsert("c", drifted)
    assert catalog.read("c").count() == 1  # collection untouched


def test_string_id_collection_lifecycle(catalog, spark):
    """End-to-end uuid string-id collection — the reference's test_qdrant.py
    lifecycle (str(uuid3) point ids, /root/reference/test_qdrant.py:26,55):
    create(id_type=string) -> upsert content-addressed ids -> re-upsert same
    text dedups -> search -> delete by id."""
    import uuid as _uuid

    from vectordb_cloud_spark.functions.ids import uuid3_dns
    from vectordb_cloud_spark.operators.knn import knn_search

    catalog.create("s", dim=2, id_type="string")
    texts = ["alpha doc", "beta doc", "gamma doc"]

    def batch(ts):
        df = spark.createDataFrame(
            [(t, [float(len(t)), 1.0], 7) for t in ts],
            "text string, embedding array<float>, user_id long",
        )
        return df.select(uuid3_dns("text").alias("id"), "embedding", "text", "user_id")

    catalog.upsert("s", batch(texts))
    assert catalog.read("s").count() == 3
    # content addressing: same text -> same uuid -> upsert dedups, not grows
    catalog.upsert("s", batch(["alpha doc"]))
    got = catalog.read("s")
    assert got.count() == 3
    ids = {r["id"] for r in got.select("id").collect()}
    assert ids == {str(_uuid.uuid3(_uuid.NAMESPACE_DNS, t)) for t in texts}
    # search over the string-id schema
    hits = knn_search(got, [9.0, 1.0], k=1, tiebreak="id").collect()
    assert hits[0]["text"] == "alpha doc"
    # delete by (string) id list
    n = catalog.delete_by_ids("s", [str(_uuid.uuid3(_uuid.NAMESPACE_DNS, "beta doc"))])
    assert n == 1
    assert catalog.read("s").count() == 2


def test_compact_crowded_buckets(catalog, spark):
    """A wide-parallelism write leaves one file per task in a bucket;
    compact() must collapse crowded buckets to one file each without
    changing data or touching tidy buckets."""
    import os

    catalog.create("c", dim=2, n_buckets=2)
    # many write tasks -> many files per bucket dir (AQE would coalesce the
    # tiny shuffle to one task locally; at real scale each bucket rewrite IS
    # many tasks, so pin it off for the setup write)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _rows(spark, [(i, [1.0, 1.0], f"t{i}", i % 8) for i in range(160)]).repartition(8)
        catalog.upsert("c", df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    before = catalog.read("c").orderBy("id").collect()
    data = catalog._current_data_dir("c")
    n_files = {
        d: sum(1 for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet"))
        for d in os.listdir(data) if d.startswith("__bucket=")
    }
    assert any(n > 4 for n in n_files.values()), n_files
    n_compacted = catalog.compact("c", max_files_per_bucket=4)
    assert n_compacted >= 1
    data = catalog._current_data_dir("c")  # compact committed a new snapshot
    after_files = {
        d: sum(1 for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet"))
        for d in os.listdir(data) if d.startswith("__bucket=")
    }
    assert all(n == 1 for d, n in after_files.items() if n_files[d] > 4)
    assert catalog.read("c").orderBy("id").collect() == before
    # second compact is a no-op
    assert catalog.compact("c", max_files_per_bucket=4) == 0


def test_compact_preserves_time_travel_and_vacuum_counting(catalog, spark):
    """VERDICT r3 #8: compaction is an MVCC write like any other — a
    pre-compaction snapshot must stay byte-readable via read_version (its
    many small files untouched, hardlinked nowhere), the compaction snapshot
    counts toward vacuum retention, and vacuuming past the pre-compaction
    version reclaims it while the compacted current stays intact."""
    import os

    catalog.create("tt", dim=2, n_buckets=2)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _rows(spark, [(i, [1.0, 1.0], f"t{i}", i % 8) for i in range(160)]).repartition(8)
        catalog.upsert("tt", df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    v_pre = catalog.meta("tt").version
    pre_rows = catalog.read("tt").orderBy("id").collect()
    pre_dir = catalog._data_dir_v("tt", v_pre)
    pre_files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(pre_dir) for f in fs if f.endswith(".parquet")
    )
    assert catalog.compact("tt", max_files_per_bucket=4) >= 1
    v_post = catalog.meta("tt").version
    assert v_post == v_pre + 1  # compaction committed one new snapshot
    # time travel: pre-compaction snapshot returns the same rows from the
    # same (uncompacted, many-file) physical files
    assert catalog.read_version("tt", v_pre).orderBy("id").collect() == pre_rows
    post_pre_files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(pre_dir) for f in fs if f.endswith(".parquet")
    )
    assert post_pre_files == pre_files  # old snapshot's bytes untouched
    assert set(catalog.list_versions("tt")) >= {v_pre, v_post}
    # vacuum keep=2 retains the pre-compaction version; keep=1 reclaims it
    assert v_pre not in catalog.vacuum("tt", keep=2)
    assert catalog.read_version("tt", v_pre).count() == 160
    dropped = catalog.vacuum("tt", keep=1)
    assert v_pre in dropped
    with pytest.raises(ValueError, match="no version"):
        catalog.read_version("tt", v_pre)
    # current compacted snapshot unaffected by reclaiming the old one
    assert catalog.read("tt").orderBy("id").collect() == pre_rows
    assert catalog.compact("tt", max_files_per_bucket=4) == 0


def test_upsert_evicts_old_row_when_tenant_changes(catalog, spark):
    """Replace-by-id must hold even when the row's user_id (and therefore
    its bucket) changes: the stale row in the OLD bucket is evicted."""
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(100)]))
    # move id=7 (user 7) to user 13 — different bucket
    catalog.upsert("c", _rows(spark, [(7, [9.0, 9.0], "moved", 13)]))
    rows = catalog.read("c").filter(F.col("id") == 7).collect()
    assert len(rows) == 1  # no duplicate id across buckets
    assert rows[0]["user_id"] == 13 and rows[0]["text"] == "moved"
    assert catalog.read("c").count() == 100


def test_upsert_with_int_typed_user_id_batch(catalog, spark):
    """A batch declaring user_id as INT must land in the same buckets as the
    stored LONG data: F.hash(int) != F.hash(long) for equal values, so
    hashing without the long cast would bucket the batch differently and the
    bucket swap would silently discard it."""
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "a", 3)]))
    raw_int = spark.createDataFrame(
        [(2, [2.0, 2.0], "b", 3)],
        "id long, embedding array<float>, text string, user_id int",
    )
    catalog.upsert("c", raw_int)
    got = {r["id"] for r in catalog.read("c").collect()}
    assert got == {1, 2}  # nothing silently discarded
    # both rows of tenant 3 live in ONE bucket dir
    import os

    data = catalog._current_data_dir("c")
    dirs = [d for d in os.listdir(data) if d.startswith("__bucket=")]
    assert len(dirs) == 1


def test_first_write_int_typed_user_id_readable_by_tenant(catalog, spark):
    """The FIRST write to an empty collection goes through _swap_in; if that
    path hashed user_id without the long cast, an int-typed first batch would
    land in int-hash buckets that read_for_user's long-hash probe can never
    find — silent empty tenant reads (round-2 verdict, What's wrong #2)."""
    catalog.create("c", dim=2, n_buckets=8)
    raw_int = spark.createDataFrame(
        [(1, [1.0, 1.0], "a", 3), (2, [2.0, 2.0], "b", 4)],
        "id long, embedding array<float>, text string, user_id int",
    )
    catalog.upsert("c", raw_int)
    rows = catalog.read_for_user("c", 3).collect()
    assert [(r["id"], r["text"]) for r in rows] == [(1, "a")]
    assert catalog.read_for_user("c", 4).count() == 1


def test_upsert_manifest_skips_probe_for_disjoint_ids(catalog, spark):
    """The per-bucket id min/max manifest must prove that a batch whose ids
    lie outside every other bucket's range cannot have stale copies there —
    the probe scan is skipped entirely, not just pruned."""
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(100)]))
    before = _bucket_files(catalog, "c")
    # ids 1000+ are above every bucket's max id -> zero overlap
    catalog.upsert("c", _rows(spark, [(1000, [9.0, 9.0], "new", 3)]))
    assert catalog.last_upsert_probe == {"probe_buckets": [], "skipped": True}
    after = _bucket_files(catalog, "c")
    bucket = catalog.spark.range(1).select(
        F.pmod(F.hash(F.lit(3).cast("long")), F.lit(8))
    ).first()[0]
    for d in before:
        if d != f"__bucket={bucket}":
            assert after[d] == before[d], f"untouched bucket {d} was rewritten"
    assert catalog.read("c").count() == 101


def test_upsert_manifest_prunes_probe_to_overlapping_buckets(catalog, spark):
    """When batch ids do overlap other buckets, the probe runs only over the
    overlapping ones, and cross-bucket eviction still works."""
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(100)]))
    # move id=7 (user 7) to user 13: its old bucket must be probed + evicted
    catalog.upsert("c", _rows(spark, [(7, [9.0, 9.0], "moved", 13)]))
    probe = catalog.last_upsert_probe
    assert probe["skipped"] is False
    assert probe["probe_buckets"] is not None  # manifest existed -> pruned probe
    rows = catalog.read("c").filter(F.col("id") == 7).collect()
    assert len(rows) == 1 and rows[0]["user_id"] == 13
    assert catalog.read("c").count() == 100


def test_manifest_tracks_deletes(catalog, spark):
    """delete_where rewrites buckets through _swap_buckets; the manifest's
    entries for those buckets must be refreshed so later upserts don't probe
    ranges that no longer exist."""
    import json as _json
    import os as _os

    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(100)]))
    catalog.delete_where("c", F.col("id") >= 50)
    with open(_os.path.join(catalog.root, "c", "_buckets.json")) as f:
        man = _json.load(f)
    assert all(hi < 50 for lo, hi in man["buckets"].values())
    # a batch with only deleted-range ids now skips the probe
    catalog.upsert("c", _rows(spark, [(75, [2.0, 2.0], "back", 3)]))
    assert catalog.last_upsert_probe["skipped"] is True
    assert catalog.read("c").count() == 51


def test_mvcc_time_travel_and_vacuum(catalog, spark):
    """Every write commits a new snapshot; read_version reaches retained
    history; vacuum enforces retention."""
    catalog.create("c", dim=2, n_buckets=4)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "v1", 1)]))
    v1 = catalog.meta("c").version
    catalog.upsert("c", _rows(spark, [(1, [2.0, 2.0], "v2", 1)]))
    v2 = catalog.meta("c").version
    assert v2 == v1 + 1
    # current read sees v2; time travel sees v1's text
    assert catalog.read("c").first()["text"] == "v2"
    assert catalog.read_version("c", v1).first()["text"] == "v1"
    # default retention keeps 2 snapshots; a third write drops v1
    catalog.upsert("c", _rows(spark, [(1, [3.0, 3.0], "v3", 1)]))
    assert catalog.list_versions("c") == [v2, v2 + 1]
    with pytest.raises(ValueError, match="no version"):
        catalog.read_version("c", v1)
    # explicit vacuum down to the current snapshot only
    assert catalog.vacuum("c", keep=1) == [v2]
    assert catalog.list_versions("c") == [v2 + 1]


def test_mvcc_inflight_reader_survives_concurrent_write(catalog, spark):
    """A DataFrame opened before an upsert must stay collectable AND see its
    snapshot's data after the write commits — the torn-read window of the
    old delete-then-rename swap is gone."""
    catalog.create("c", dim=2, n_buckets=4)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "old", i % 5) for i in range(50)]))
    reader = catalog.read("c")  # pins the current snapshot's file listing
    catalog.upsert("c", _rows(spark, [(i, [9.0, 9.0], "new", i % 5) for i in range(50)]))
    got = reader.collect()  # files of the old snapshot are retained
    assert len(got) == 50
    assert {r["text"] for r in got} == {"old"}
    assert {r["text"] for r in catalog.read("c").collect()} == {"new"}


def test_mvcc_bucket_swap_hardlinks_untouched_buckets(catalog, spark):
    """Bucket-scoped writes carry untouched buckets into the new snapshot as
    hardlinks (same inode, zero bytes copied)."""
    import os

    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(200)]))
    v_before = catalog.meta("c").version
    before_dir = catalog._data_dir_v("c", v_before)
    inodes_before = {}
    for d in os.listdir(before_dir):
        if d.startswith("__bucket="):
            for f in os.listdir(os.path.join(before_dir, d)):
                if f.endswith(".parquet"):
                    inodes_before[(d, f)] = os.stat(os.path.join(before_dir, d, f)).st_ino
    catalog.upsert("c", _rows(spark, [(1000, [9.0, 9.0], "new", 3)]))
    after_dir = catalog._current_data_dir("c")
    bucket = catalog.spark.range(1).select(
        F.pmod(F.hash(F.lit(3).cast("long")), F.lit(8))
    ).first()[0]
    touched = f"__bucket={bucket}"
    shared = 0
    for d in os.listdir(after_dir):
        if d.startswith("__bucket=") and d != touched:
            for f in os.listdir(os.path.join(after_dir, d)):
                if f.endswith(".parquet"):
                    assert os.stat(os.path.join(after_dir, d, f)).st_ino == inodes_before[(d, f)]
                    shared += 1
    assert shared > 0


def test_legacy_unversioned_layout_migrates(catalog, spark):
    """A catalog written before MVCC (bare data/ dir, meta without a version
    field) must stay readable, and the first write must carry its rows into
    the v1 snapshot instead of silently replacing them."""
    import json as _json
    import os as _os

    cdir = _os.path.join(catalog.root, "legacy")
    _os.makedirs(cdir)
    with open(_os.path.join(cdir, "_meta.json"), "w") as f:
        _json.dump({"name": "legacy", "dim": 2, "metric": "l2",
                    "id_type": "long", "n_buckets": 4}, f)  # no "version" key
    _rows(spark, [(1, [1.0, 1.0], "old", 3)]).write.parquet(_os.path.join(cdir, "data"))
    assert catalog.read("legacy").count() == 1  # legacy dir served
    catalog.upsert("legacy", _rows(spark, [(2, [2.0, 2.0], "new", 3)]))
    got = {r["id"]: r["text"] for r in catalog.read("legacy").collect()}
    assert got == {1: "old", 2: "new"}
    assert catalog.meta("legacy").version >= 1


def test_stale_manifest_version_falls_back_to_full_probe(catalog, spark):
    """A manifest whose version doesn't match the meta pointer (crash
    between version commit and manifest write) must degrade to the full
    probe — never to a stale skip that would leave duplicate ids."""
    import json as _json
    import os as _os

    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20) for i in range(100)]))
    mpath = _os.path.join(catalog.root, "c", "_buckets.json")
    with open(mpath) as f:
        man = _json.load(f)
    man["version"] = man["version"] - 1  # simulate missed manifest update
    with open(mpath, "w") as f:
        _json.dump(man, f)
    # ids far outside every range would normally skip; stale manifest must
    # force the full probe instead
    catalog.upsert("c", _rows(spark, [(5000, [9.0, 9.0], "new", 3)]))
    assert catalog.last_upsert_probe["probe_buckets"] is None  # full probe
    assert catalog.read("c").count() == 101


def test_vacuum_removes_uncommitted_orphans_not_current(catalog, spark):
    """A data.v{N} dir above the meta pointer is a crashed write's orphan:
    excluded from list_versions/read_version, removed by vacuum — which must
    never remove the committed current snapshot."""
    import os as _os

    catalog.create("c", dim=2, n_buckets=4)
    catalog.upsert("c", _rows(spark, [(1, [1.0, 1.0], "a", 1)]))
    cur = catalog.meta("c").version
    orphan = catalog._data_dir_v("c", cur + 5)
    _os.makedirs(orphan)
    assert catalog.list_versions("c") == [cur]
    with pytest.raises(ValueError, match="no version"):
        catalog.read_version("c", cur + 5)
    removed = catalog.vacuum("c", keep=1)
    assert cur + 5 in removed and not _os.path.isdir(orphan)
    assert catalog.read("c").count() == 1  # current snapshot intact


def test_probe_telemetry_reset_between_upserts(catalog, spark):
    catalog.create("a", dim=2, n_buckets=4)
    catalog.upsert("a", _rows(spark, [(i, [1.0, 1.0], "t", i) for i in range(20)]))
    catalog.upsert("a", _rows(spark, [(100, [2.0, 2.0], "x", 1)]))
    assert catalog.last_upsert_probe is not None
    catalog.create("b", dim=2, n_buckets=4)
    catalog.upsert("b", _rows(spark, [(1, [1.0, 1.0], "first", 1)]))  # first write path
    assert catalog.last_upsert_probe is None  # not the previous call's dict


def test_update_payload_bucket_scoped(spark, tmp_path):
    """set_payload surface (Qdrant /points/payload): scoped fields change,
    everything else — including vectors and untouched rows — is
    byte-identical; id/embedding updates are refused."""
    import pytest
    from pyspark.sql import functions as F

    from vectordb_cloud_spark.collections import CollectionCatalog
    from vectordb_cloud_spark.functions.embedding import mock_embed

    cat = CollectionCatalog(spark, str(tmp_path / "cat_up"))
    cat.create("up_col", dim=64)
    rows = spark.range(40).select(
        F.col("id"),
        F.col("id").alias("text_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
        (F.col("id") % 4).alias("user_id"),
        F.lit("siteA").alias("site"),
        F.lit("en").alias("lang"),
    ).withColumn("embedding", mock_embed("text", 64))
    cat.upsert("up_col", rows)

    before = {r["id"]: r for r in cat.read("up_col").collect()}
    n = cat.update_payload(
        "up_col", {"site": "siteB", "lang": F.lit("de")},
        predicate=F.col("user_id") == 2,
    )
    assert n == 10
    after = {r["id"]: r for r in cat.read("up_col").collect()}
    assert set(after) == set(before)
    for i, r in after.items():
        if before[i]["user_id"] == 2:
            assert (r["site"], r["lang"]) == ("siteB", "de")
        else:
            assert (r["site"], r["lang"]) == ("siteA", "en")
        assert r["text"] == before[i]["text"]
        assert list(r["embedding"]) == list(before[i]["embedding"])

    # count API (Qdrant /points/count)
    assert cat.count_where("up_col", F.col("site") == "siteB") == 10
    assert cat.count_where("up_col") == 40

    # no match -> no rewrite, returns 0
    assert cat.update_payload("up_col", {"site": "x"},
                              predicate=F.col("user_id") == 99) == 0
    # NULL predicate rows never match (NULL-safe)
    assert cat.update_payload("up_col", {"site": "y"},
                              predicate=F.col("text").contains("zzz")) == 0
    # vectors/ids refused
    with pytest.raises(ValueError, match="upsert"):
        cat.update_payload("up_col", {"embedding": F.lit(None)})
    with pytest.raises(ValueError, match="unknown payload"):
        cat.update_payload("up_col", {"nope": 1})


def test_snapshot_restore_roundtrip(catalog, spark, tmp_path):
    """Qdrant snapshot API: export the committed version, restore into a
    new collection; post-snapshot mutations never leak into the snapshot."""
    catalog.create("snap_src", dim=2)
    catalog.upsert("snap_src", _rows(spark, [
        (1, [1.0, 1.0], "alpha", 1), (2, [2.0, 2.0], "beta", 2),
    ]))
    snap = catalog.snapshot("snap_src", str(tmp_path / "snaps"))
    assert snap.endswith(".snapshot")
    # mutate the source AFTER the snapshot
    catalog.upsert("snap_src", _rows(spark, [(3, [3.0, 3.0], "gamma", 1)]))
    catalog.delete_where("snap_src", F.col("id") == 1)
    # restore under a new name: snapshot-time contents exactly
    meta = catalog.restore("snap_restored", snap)
    assert meta.dim == 2 and meta.version == 1
    got = {r["id"]: r["text"] for r in catalog.read("snap_restored").collect()}
    assert got == {1: "alpha", 2: "beta"}
    # restored collection is a full citizen: upsert + tenant read work
    catalog.upsert("snap_restored", _rows(spark, [(4, [4.0, 4.0], "delta", 1)]))
    assert catalog.read("snap_restored").count() == 3
    assert catalog.read("snap_src").count() == 2  # src history untouched


def test_snapshot_restore_guards(catalog, spark, tmp_path):
    catalog.create("snap_g", dim=2)
    snap = catalog.snapshot("snap_g", str(tmp_path / "s2"))  # empty: version 0
    meta = catalog.restore("snap_g2", snap)
    assert meta.version == 0 and catalog.read("snap_g2").count() == 0
    # same-version snapshot collides loudly
    with pytest.raises(ValueError, match="already exists"):
        catalog.snapshot("snap_g", str(tmp_path / "s2"))
    # restore over an existing collection needs overwrite=True
    with pytest.raises(ValueError, match="overwrite"):
        catalog.restore("snap_g2", snap)
    catalog.upsert("snap_g2", _rows(spark, [(1, [1.0, 1.0], "x", 1)]))
    meta = catalog.restore("snap_g2", snap, overwrite=True)
    assert catalog.read("snap_g2").count() == 0


def test_aliases_blue_green_switch(catalog, spark):
    """Qdrant alias API: readers address the alias; the switch is one
    atomic pointer flip (the blue/green reindex primitive)."""
    catalog.create("blue", dim=2)
    catalog.upsert("blue", _rows(spark, [(1, [1.0, 1.0], "blue doc", 1)]))
    catalog.create("green", dim=2)
    catalog.upsert("green", _rows(spark, [(2, [2.0, 2.0], "green doc", 1)]))
    catalog.create_alias("prod", "blue")
    assert catalog.resolve("prod") == "blue"
    assert [r["text"] for r in catalog.read("prod").collect()] == ["blue doc"]
    # writes through the alias hit the target
    catalog.upsert("prod", _rows(spark, [(3, [3.0, 3.0], "via alias", 1)]))
    assert catalog.read("blue").count() == 2
    # atomic switch
    catalog.switch_alias("prod", "green")
    assert [r["text"] for r in catalog.read("prod").collect()] == ["green doc"]
    assert catalog.count_where("prod") == 1
    # copy-init through an alias resolves to the physical source
    catalog.create_from("clone", "prod")
    assert catalog.read("clone").count() == 1
    # snapshot through the alias works too
    assert catalog.meta("prod").name == "green"


def test_alias_guards_and_cleanup(catalog, spark, tmp_path):
    catalog.create("a1", dim=2)
    catalog.create("a2", dim=2)
    with pytest.raises(ValueError, match="does not exist"):
        catalog.create_alias("x", "nope")
    catalog.create_alias("x", "a1")
    with pytest.raises(ValueError, match="shadow"):
        catalog.create_alias("a2", "a1")
    with pytest.raises(ValueError, match="is an alias"):
        catalog.create("x", dim=2)
    with pytest.raises(ValueError, match="does not exist"):
        catalog.delete_alias("y")
    # batch is all-or-nothing: a bad second action rolls back the first
    with pytest.raises(ValueError):
        catalog.update_aliases([
            {"create_alias": {"alias_name": "y", "collection_name": "a2"}},
            {"delete_alias": {"alias_name": "zzz"}},
        ])
    assert "y" not in catalog.list_aliases()
    # dropping the physical collection removes its aliases
    catalog.drop("a1")
    assert catalog.list_aliases() == {}
    # drop takes the physical name: dropping via an alias is a no-op
    catalog.create_alias("z", "a2")
    assert catalog.drop("z") is False
    assert catalog.exists("a2")


def test_named_vectors_create_upsert_search(catalog, spark):
    """Qdrant named vectors: per-name dims, independent checks, per-name
    search via vector_col; points may omit a named vector (null)."""
    from vectordb_cloud_spark.operators.knn import knn_search

    catalog.create("nv", dim=2, vectors={"title": 2, "body": 4})
    assert catalog.meta("nv").vectors == {"title": 2, "body": 4}
    df = spark.createDataFrame(
        [(1, [1.0, 1.0], [1.0, 0.0], [1.0, 0.0, 0.0, 0.0], "a", 1),
         (2, [2.0, 2.0], [0.0, 1.0], None, "b", 1)],
        "id long, embedding array<float>, vec_title array<float>, "
        "vec_body array<float>, text string, user_id long",
    )
    catalog.upsert("nv", df)
    pts = catalog.read("nv")
    hits = knn_search(pts, [1.0, 0.1], k=1, vector_col="vec_title",
                      tiebreak="id")
    assert hits.first()["id"] == 1
    # the null body vector never crashes a body search; non-null rows rank
    hits = knn_search(pts.filter("vec_body is not null"), [1.0, 0.0, 0.0, 0.0],
                      k=1, vector_col=catalog.vector_col_of("body"), tiebreak="id")
    assert hits.first()["id"] == 1


def test_named_vectors_dim_checked_per_name(catalog, spark):
    catalog.create("nv2", dim=2, vectors={"title": 3})
    bad = spark.createDataFrame(
        [(1, [1.0, 1.0], [1.0, 2.0], "a", 1)],  # title dim 2 != 3
        "id long, embedding array<float>, vec_title array<float>, "
        "text string, user_id long",
    )
    with pytest.raises(ValueError, match="dim mismatch"):
        catalog.upsert("nv2", bad)
    # the unnamed vector is still checked too
    bad2 = spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0], [1.0, 2.0, 3.0], "a", 1)],
        "id long, embedding array<float>, vec_title array<float>, "
        "text string, user_id long",
    )
    with pytest.raises(ValueError, match="dim mismatch"):
        catalog.upsert("nv2", bad2)
    # named vector columns are refused by set_payload
    ok = spark.createDataFrame(
        [(1, [1.0, 1.0], [1.0, 2.0, 3.0], "a", 1)],
        "id long, embedding array<float>, vec_title array<float>, "
        "text string, user_id long",
    )
    catalog.upsert("nv2", ok)
    with pytest.raises(ValueError, match="upsert"):
        catalog.update_payload("nv2", {"vec_title": None})
    # copy-init carries the named-vector config
    catalog.create_from("nv2_copy", "nv2")
    assert catalog.meta("nv2_copy").vectors == {"title": 3}
    with pytest.raises(ValueError):
        catalog.create("nv3", dim=2, vectors={"bad": 0})



def _jobs_during(spark, group, fn):
    """Spark job ids ``fn`` fires (job-group tagged)."""
    import uuid as _uuid

    group = f"{group}-{_uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _committed_state(catalog, name):
    """Everything a failed write must leave as it was."""
    import os as _os

    cdir = _os.path.join(catalog.root, name)
    try:
        with open(_os.path.join(cdir, "_buckets.json"), "rb") as f:
            manifest = f.read()
    except FileNotFoundError:
        manifest = None
    rows = sorted(tuple(map(str, r)) for r in catalog.read(name).collect())
    return catalog.meta(name).version, sorted(_os.listdir(cdir)), manifest, rows


def _assert_write_refused(catalog, name, write, match):
    import os as _os

    before = _committed_state(catalog, name)
    with pytest.raises(ValueError, match=match) as err:
        write()
    assert err.value.__cause__ is not None  # chained to the Spark error
    assert _committed_state(catalog, name) == before
    assert not [d for d in _os.listdir(_os.path.join(catalog.root, name))
                if "staging" in d]


@pytest.mark.parametrize("path", ["bulk", "bucket", "update_batch"])
def test_failed_dim_check_leaves_previous_snapshot(catalog, spark, path):
    """A batch with one wrong-dim row among valid ones publishes nothing,
    whichever write path runs it: the meta version, the dir listing, the
    manifest bytes and the readable rows stay the previous snapshot's, no
    staging dir is left, and the next valid write goes through. The check
    itself fires no job — it runs inside the write's own jobs."""
    # "bulk": rows without the shard key write the full-image path
    schema = ("id long, embedding array<float>, text string" if path == "bulk"
              else "id long, embedding array<float>, text string, user_id long")

    def rows(rs):
        return spark.createDataFrame(
            [r if path != "bulk" else r[:3] for r in rs], schema)

    catalog.create("c", dim=2, n_buckets=4)
    catalog.upsert("c", rows([(i, [1.0, float(i)], "t", i % 3) for i in range(20)]))
    bad = rows([(100, [1.0, 2.0], "n", 1), (101, [1.0, 2.0, 3.0], "n", 2)])
    assert _jobs_during(spark, "validate_probe",
                        lambda: catalog._validate("c", bad)) == []
    if path == "update_batch":
        write = lambda: catalog.update_batch(  # noqa: E731
            "c", [{"delete": {"points": [0]}}, {"upsert": {"points": bad}}])
    else:
        write = lambda: catalog.upsert("c", bad)  # noqa: E731
    _assert_write_refused(catalog, "c", write, "dim mismatch")
    catalog.upsert("c", rows([(100, [1.0, 2.0], "n", 1)]))
    assert catalog.read("c").count() == 21


@pytest.mark.parametrize("path", ["bucket", "update_batch"])
def test_failed_sparse_check_leaves_previous_snapshot(catalog, spark, path):
    """The sparse-vector check refuses a write the same way."""
    def rows(rs):
        return spark.createDataFrame(
            rs, "id long, embedding array<float>, text string, user_id long, "
            "sparse_text_indices array<int>, sparse_text_values array<float>")

    catalog.create("c", dim=2, n_buckets=4, sparse_vectors={"text": {}})
    catalog.upsert("c", rows([(i, [1.0, 0.0], "t", i % 3, [i], [1.0])
                              for i in range(10)]))
    bad = rows([(50, [1.0, 0.0], "n", 1, [3, 9], [1.0, 2.0]),
                (51, [1.0, 0.0], "n", 2, [9, 3], [1.0, 2.0])])  # not ascending
    assert _jobs_during(spark, "validate_probe",
                        lambda: catalog._validate("c", bad)) == []
    if path == "update_batch":
        write = lambda: catalog.update_batch(  # noqa: E731
            "c", [{"upsert": {"points": bad}}])
    else:
        write = lambda: catalog.upsert("c", bad)  # noqa: E731
    _assert_write_refused(catalog, "c", write, "sparse vector invalid")
    catalog.upsert("c", rows([(50, [1.0, 0.0], "n", 1, [3, 9], [1.0, 2.0])]))
    assert catalog.read("c").count() == 11


def _scan_manifest(catalog, name):
    """The manifest as a Spark scan of the current snapshot computes it:
    per-bucket min/max id (the implementation the footer read replaced)."""
    df = catalog.spark.read.parquet(catalog._current_data_dir(name))
    stats = df.groupBy("__bucket").agg(F.min("id").alias("lo"),
                                       F.max("id").alias("hi")).collect()
    return {str(r["__bucket"]): [r["lo"], r["hi"]] for r in stats}


def _footer_manifest(catalog, name):
    import json as _json
    import os as _os

    with open(_os.path.join(catalog.root, name, "_buckets.json")) as f:
        man = _json.load(f)
    assert man["version"] == catalog.meta(name).version
    assert man["id_col"] == "id"
    return man["buckets"]


def test_manifest_from_footers_matches_spark_scan(catalog, spark):
    """The footer-read manifest equals a Spark min/max scan of the snapshot
    after a bulk insert, a bucket-scoped upsert, a delete that empties a
    bucket, and writes to a string-id collection; refreshing it fires no
    Spark job."""
    catalog.create("c", dim=2, n_buckets=8)
    catalog.upsert("c", _rows(spark, [(i, [1.0, 1.0], "t", i % 20)
                                      for i in range(200)]))
    assert _footer_manifest(catalog, "c") == _scan_manifest(catalog, "c")
    catalog.upsert("c", _rows(spark, [(1000, [2.0, 2.0], "n", 3),
                                      (7, [2.0, 2.0], "moved", 13)]))
    assert _footer_manifest(catalog, "c") == _scan_manifest(catalog, "c")
    # every row of user 3's bucket goes: its entry must go with it
    bucket = catalog._shard_bucket_value(catalog.meta("c"), catalog.read("c"), 3)
    n_buckets_before = len(_footer_manifest(catalog, "c"))
    catalog.delete_where("c", F.col("__bucket") == bucket)
    man = _footer_manifest(catalog, "c")
    assert str(bucket) not in man and len(man) == n_buckets_before - 1
    assert man == _scan_manifest(catalog, "c")
    assert _jobs_during(spark, "manifest_probe",
                        lambda: catalog._update_manifest("c")) == []
    assert _footer_manifest(catalog, "c") == man

    catalog.create("s", dim=2, n_buckets=4, id_type="string")
    srows = [(f"id-{i:03d}", [1.0, 1.0], "t", i % 5) for i in range(40)]
    catalog.upsert("s", spark.createDataFrame(
        srows, "id string, embedding array<float>, text string, user_id long"))
    catalog.upsert("s", spark.createDataFrame(
        [("zz-new", [1.0, 1.0], "n", 2), ("aa-new", [1.0, 1.0], "n", 1)],
        "id string, embedding array<float>, text string, user_id long"))
    assert _footer_manifest(catalog, "s") == _scan_manifest(catalog, "s")
    assert all(isinstance(v, str) for r in _footer_manifest(catalog, "s").values()
               for v in r)


def test_footer_id_range_edge_cases(tmp_path):
    """Row groups without statistics make the range unknown, all-null row
    groups are skipped (an all-null bucket reads [None, None], as Spark's
    min/max answer), an empty dir has no range and a file without an id
    column has none to give."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordb_cloud_spark.collections import _footer_id_range

    def write(d, name, ids, **kw):
        (tmp_path / d).mkdir(exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       str(tmp_path / d / name), **kw)

    write("mixed", "a.parquet", [9, 5, None])
    write("mixed", "b.parquet", [None, None])
    write("mixed", "c.parquet", [12, 7], row_group_size=1)
    assert _footer_id_range(str(tmp_path / "mixed")) == [5, 12]
    write("nostats", "a.parquet", [3, 4])
    write("nostats", "b.parquet", [1, 2], write_statistics=False)
    assert _footer_id_range(str(tmp_path / "nostats")) == [None, None]
    write("allnull", "a.parquet", [None])
    assert _footer_id_range(str(tmp_path / "allnull")) == [None, None]
    (tmp_path / "empty").mkdir()
    assert _footer_id_range(str(tmp_path / "empty")) is None
    (tmp_path / "noid").mkdir()
    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "noid" / "a.parquet"))
    assert _footer_id_range(str(tmp_path / "noid")) is False
