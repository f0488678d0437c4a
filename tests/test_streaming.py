"""Streaming: file-source ingest -> embed -> upsert; windowed aggregates in
both streaming (memory sink) and batch form."""

import json

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.collections import CollectionCatalog
from vectordb_cloud_spark.streaming.ingest import (
    session_windows,
    sessionize_batch,
    sliding_window_counts,
    start_ingest_stream,
    streaming_dedup,
    tumbling_window_stats,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.cache()


def test_ingest_stream_upserts(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    rows = [
        {"id": 1, "text_id": 1, "text": "streamed doc one", "user_id": 5, "site": "s", "lang": "en"},
        {"id": 2, "text_id": 2, "text": "streamed doc two", "user_id": 5, "site": "s", "lang": "en"},
    ]
    (src / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

    catalog = CollectionCatalog(spark, str(tmp_path / "cat"))
    catalog.create("stream_col", dim=64)
    q = start_ingest_stream(
        spark, str(src), catalog, "stream_col",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)

    got = catalog.read("stream_col")
    assert got.count() == 2
    assert got.filter(F.size("embedding") == 64).count() == 2

    # second file replaces id=2 (last-write-wins across micro-batches)
    (src / "batch2.json").write_text(json.dumps(
        {"id": 2, "text_id": 2, "text": "replaced", "user_id": 5, "site": "s", "lang": "en"}
    ))
    q2 = start_ingest_stream(
        spark, str(src), catalog, "stream_col",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(60)
    texts = {r["id"]: r["text"] for r in catalog.read("stream_col").collect()}
    assert texts[2] == "replaced" and texts[1] == "streamed doc one"


def test_tumbling_window_streaming_matches_batch(spark, events, tmp_path):
    # batch form
    batch = tumbling_window_stats(events).collect()
    batch_map = {(r["window_start"], r["event_type"]): r["n"] for r in batch}

    # streaming form over the same parquet, complete output to memory sink
    events.write.mode("overwrite").parquet(str(tmp_path / "stream_src"))
    stream = (
        spark.readStream.schema(events.schema)
        .parquet(str(tmp_path / "stream_src"))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("tumbling_out").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from tumbling_out").collect()
    got_map = {(r["window_start"], r["event_type"]): r["n"] for r in got}
    assert got_map == batch_map


def test_sliding_windows_cover_events(events):
    n_events = events.count()
    total = sliding_window_counts(events, "1 hour", "30 minutes").agg(F.sum("n")).collect()[0][0]
    assert total == 2 * n_events  # each event falls in exactly 2 sliding windows


def test_session_window_and_batch_sessionize_agree(events):
    sw = session_windows(events, gap="30 minutes")
    sb = sessionize_batch(events, gap_minutes=30)
    # same number of sessions and same total event count per user
    a = {r["user_id"]: r["n"] for r in
         sw.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    b = {r["user_id"]: r["n"] for r in
         sb.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert a == b


def test_stateful_running_totals(spark, events, tmp_path):
    """applyInPandasWithState: state carries across micro-batches — two
    files + maxFilesPerTrigger=1 = two batches in one run; running totals
    must accumulate, and the final row per user must equal the batch
    ground truth."""
    import glob
    import shutil

    from vectordb_cloud_spark.streaming.ingest import running_user_totals

    src = tmp_path / "state_src"
    src.mkdir()

    def _drop_file(df, name):
        # file stream sources don't recurse into nested dataset dirs; write
        # then move the single part file into the watched dir as a plain file
        staging = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / name))
        shutil.rmtree(staging)

    sub = events.filter(F.col("user_id") < 5).select("user_id", "value").cache()
    half1 = sub.limit(100)
    _drop_file(half1, "f1.parquet")
    _drop_file(sub.exceptAll(half1), "f2.parquet")

    stream = spark.readStream.schema(sub.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("state_out").option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from state_out").collect()
    assert rows
    # multiple emissions per user (one per batch it appeared in) prove the
    # operator ran across batches; the max-n row is the final state
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    truth = {r["user_id"]: (r["n"], r["t"]) for r in sub.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("t")).collect()}
    assert final.keys() == truth.keys()
    for uid, (n, t) in final.items():
        assert n == truth[uid][0]
        assert abs(t - truth[uid][1]) < 1e-6
    assert len(rows) > len(final)  # at least one user emitted in both batches


def test_streaming_dedup_across_batches(spark, events, tmp_path):
    """Duplicated event ids delivered in LATER micro-batches must be dropped
    (watermark-bounded dedup state) — the effectively-once ingest guard."""
    import glob
    import shutil

    src = tmp_path / "dedup_src"
    src.mkdir()

    def _drop_file(df, name):
        staging = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / name))
        shutil.rmtree(staging)

    sub = events.select("event_id", "ts", "user_id").limit(200).cache()
    first = sub.limit(120)
    _drop_file(first, "f1.parquet")
    # second file: 80 new rows + 40 replayed duplicates of the first file
    _drop_file(sub.exceptAll(first).union(first.limit(40)), "f2.parquet")

    stream = spark.readStream.schema(sub.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = (
        streaming_dedup(stream, ["event_id"])
        .writeStream.outputMode("append").format("memory")
        .queryName("dedup_out").option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup_out").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == 200  # replays dropped, nothing lost

    # batch fallback keeps the same contract
    assert streaming_dedup(sub.union(sub.limit(50)), ["event_id"]).count() == 200


def test_rollup_stream_converges_to_batch_truth(spark, events, tmp_path):
    """Continuous rollup: two micro-batches of events MERGE into a parquet
    rollup that must equal the batch windowed aggregate once drained."""
    import glob
    import shutil

    from vectordb_cloud_spark.streaming.ingest import start_rollup_stream

    src = tmp_path / "rollup_src"
    src.mkdir()
    dest = str(tmp_path / "rollup_out")

    sub = events.select("event_id", "ts", "event_type", "value").cache()
    first = sub.limit(5000)

    def _drop_file(df, name):
        staging = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / name))
        shutil.rmtree(staging)

    _drop_file(first, "f1.parquet")
    _drop_file(sub.exceptAll(first), "f2.parquet")

    stream_schema = sub.schema
    q = start_rollup_stream(
        spark, str(src), dest, stream_schema,
        checkpoint_dir=str(tmp_path / "ck3"),
        max_files_per_trigger=1,  # force 2 micro-batches -> the MERGE runs twice
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["total_value"], 6))
        for r in spark.read.parquet(dest).collect()
    }
    truth = {
        (r["ws"], r["event_type"]): (r["n"], round(r["tv"], 6))
        for r in sub.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "tv")
        .collect()
    }
    assert got == truth


def test_stream_static_enrich_broadcasts(spark, events, tmp_path):
    """Stream-static join: each micro-batch hash-joins the broadcast dim;
    streamed result matches the batch join exactly."""
    from vectordb_cloud_spark.streaming.joins import stream_static_enrich

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("view", "engagement")],
        "event_type string, category string",
    )
    batch = {(r["event_id"], r["category"])
             for r in stream_static_enrich(events, dim, "event_type").collect()}

    events.write.mode("overwrite").parquet(str(tmp_path / "enrich_src"))
    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "enrich_src"))
    out = stream_static_enrich(stream, dim, "event_type")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("enrich_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["event_id"], r["category"]) for r in spark.sql("select * from enrich_out").collect()}
    assert got == batch and len(got) > 0


def test_stream_stream_interval_join_matches_batch(spark, events, tmp_path):
    """Watermarked stream-stream interval join (purchase within 1 hour
    before a click, same user) must produce exactly the batch join rows."""
    from vectordb_cloud_spark.streaming.joins import stream_stream_interval_join

    clicks_b = (events.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", F.col("ts").alias("click_ts")))
    purch_b = (events.filter(F.col("event_type") == "purchase")
               .select("user_id", F.col("ts").alias("purchase_ts"),
                       F.col("value").alias("purchase_value")))
    batch = stream_stream_interval_join(
        clicks_b, purch_b, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts", max_lag="1 hour",
    ).collect()
    batch_set = {(r["event_id"], r["purchase_ts"], r["purchase_value"]) for r in batch}
    assert batch_set, "fixture should produce at least one joined pair"

    events.write.mode("overwrite").parquet(str(tmp_path / "ssj_src"))
    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ssj_src"))
    clicks_s = (stream.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", F.col("ts").alias("click_ts")))
    purch_s = (stream.filter(F.col("event_type") == "purchase")
               .select("user_id", F.col("ts").alias("purchase_ts"),
                       F.col("value").alias("purchase_value")))
    out = stream_stream_interval_join(
        clicks_s, purch_s, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts", max_lag="1 hour",
    )
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("ssj_out").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["event_id"], r["purchase_ts"], r["purchase_value"])
           for r in spark.sql("select * from ssj_out").collect()}
    assert got == batch_set


def test_interval_join_rejects_ambiguous_columns(spark, events):
    from vectordb_cloud_spark.streaming.joins import stream_stream_interval_join

    a = events.select("user_id", F.col("ts").alias("t1"), "value")
    b = events.select("user_id", F.col("ts").alias("t2"), "value")
    with pytest.raises(ValueError, match="ambiguous"):
        stream_stream_interval_join(a, b, key="user_id", left_ts="t1", right_ts="t2")
    with pytest.raises(ValueError, match="rename"):
        stream_stream_interval_join(a, a, key="user_id", left_ts="t1", right_ts="t1")


def test_indexed_ingest_stream_keeps_ivf_fresh(spark, tmp_path):
    """Streaming index maintenance: the stream upserts the collection AND
    appends to the persisted IVF layout, so ivf_search_persisted finds the
    new vectors without a rebuild; epoch markers make replays no-ops."""
    from vectordb_cloud_spark.functions.embedding import mock_embed
    from vectordb_cloud_spark.operators.ann import (
        ivf_build,
        ivf_persist,
        ivf_search_persisted,
    )
    from vectordb_cloud_spark.streaming.ingest import (
        index_maintaining_batch,
        start_indexed_ingest_stream,
    )

    # seed collection + initial IVF layout from a small base corpus
    base = spark.range(100).select(
        F.col("id"),
        F.concat(F.lit("base doc "), F.col("id")).alias("text"),
    ).withColumn("embedding", mock_embed("text", 64))
    centers, assigned = ivf_build(base.select("id", "embedding"),
                                  k_centroids=4)
    ivf_path = str(tmp_path / "ivf")
    ivf_persist(assigned, ivf_path)

    catalog = CollectionCatalog(spark, str(tmp_path / "cat"))
    catalog.create("idx_col", dim=64)
    catalog.upsert("idx_col", base.select(
        "id", F.lit(0).alias("text_id"), "text",
        F.lit(1).alias("user_id"), F.lit("s").alias("site"),
        F.lit("en").alias("lang"), "embedding",
    ))

    src = tmp_path / "incoming"
    src.mkdir()
    rows = [
        {"id": 1000 + i, "text_id": i, "text": f"streamed indexed doc {i}",
         "user_id": 5, "site": "s", "lang": "en"}
        for i in range(20)
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    rebuilds = []
    q = start_indexed_ingest_stream(
        spark, str(src), catalog, "idx_col", centers, ivf_path,
        checkpoint_dir=str(tmp_path / "ckpt_idx"),
        on_rebuild_needed=lambda stats: rebuilds.append(stats),
        max_imbalance=1000.0,  # don't trigger in this small test
    )
    q.awaitTermination(60)

    assert catalog.read("idx_col").count() == 120
    # a streamed doc's own embedding must come back as its top hit
    target = next(r for r in rows if r["id"] == 1005)
    qv = [float(x) for x in
          spark.range(1).select(
              mock_embed(F.lit(target["text"]), 64).alias("e")
          ).first()["e"]]
    hits = ivf_search_persisted(spark, ivf_path, centers, qv, k=3, nprobe=4,
                                vector_col="embedding", tiebreak="id")
    assert hits.first()["id"] == 1005
    assert not rebuilds

    # replaying the same epoch is a no-op for the index (marker skip)
    n_before = spark.read.parquet(ivf_path).count()
    batch = spark.createDataFrame(
        [(r["id"], r["text_id"], r["text"], r["user_id"], r["site"],
          r["lang"]) for r in rows],
        "id long, text_id long, text string, user_id long, site string, "
        "lang string",
    ).withColumn("embedding", mock_embed("text", 64))
    ran = index_maintaining_batch(batch, 0, catalog, "idx_col", centers,
                                  ivf_path)
    assert ran is False
    assert spark.read.parquet(ivf_path).count() == n_before


def test_indexed_ingest_rebuild_trigger_fires(spark, tmp_path):
    """A skewed append (every new vector lands in one list) trips the
    imbalance trigger and invokes the callback with the stats frame."""
    from vectordb_cloud_spark.functions.embedding import mock_embed
    from vectordb_cloud_spark.operators.ann import ivf_build, ivf_persist
    from vectordb_cloud_spark.streaming.ingest import start_indexed_ingest_stream

    base = spark.range(40).select(
        F.col("id"), F.concat(F.lit("seed "), F.col("id")).alias("text"),
    ).withColumn("embedding", mock_embed("text", 64))
    centers, assigned = ivf_build(base.select("id", "embedding"),
                                  k_centroids=4)
    ivf_path = str(tmp_path / "ivf_skew")
    ivf_persist(assigned, ivf_path)

    catalog = CollectionCatalog(spark, str(tmp_path / "cat_skew"))
    catalog.create("skew_col", dim=64)

    src = tmp_path / "in_skew"
    src.mkdir()
    # identical text => identical embedding => one inverted list gets all
    rows = [
        {"id": 2000 + i, "text_id": i, "text": "same text every time",
         "user_id": 1, "site": "s", "lang": "en"}
        for i in range(400)
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    rebuilds = []
    q = start_indexed_ingest_stream(
        spark, str(src), catalog, "skew_col", centers, ivf_path,
        checkpoint_dir=str(tmp_path / "ckpt_skew"),
        on_rebuild_needed=lambda stats: rebuilds.append(stats.collect()),
        max_imbalance=2.0,
    )
    q.awaitTermination(60)
    assert len(rebuilds) == 1
    counts = sorted(r["n"] for r in rebuilds[0])
    assert counts[-1] > 2.0 * (sum(counts) / len(counts))


def test_indexed_ingest_epoch_collision_fails_loudly(spark, tmp_path):
    """Same epoch id + DIFFERENT content (reused checkpoint / restarted
    backfill) must raise, not silently drop the index append."""
    from vectordb_cloud_spark.functions.embedding import mock_embed
    from vectordb_cloud_spark.operators.ann import ivf_build, ivf_persist
    from vectordb_cloud_spark.streaming.ingest import index_maintaining_batch

    base = spark.range(30).select(
        F.col("id"), F.concat(F.lit("seed "), F.col("id")).alias("text"),
    ).withColumn("embedding", mock_embed("text", 64))
    centers, assigned = ivf_build(base.select("id", "embedding"),
                                  k_centroids=2)
    ivf_path = str(tmp_path / "ivf_coll")
    ivf_persist(assigned, ivf_path)
    catalog = CollectionCatalog(spark, str(tmp_path / "cat_coll"))
    catalog.create("coll_col", dim=64)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.concat(F.lit("doc "), F.col("id")).alias("text"),
        ).withColumn("embedding", mock_embed("text", 64))

    assert index_maintaining_batch(batch(100, 110), 0, catalog, "coll_col",
                                   centers, ivf_path) is True
    # exact replay: no-op
    assert index_maintaining_batch(batch(100, 110), 0, catalog, "coll_col",
                                   centers, ivf_path) is False
    # different rows under the same epoch id: loud failure
    with pytest.raises(ValueError, match="already committed"):
        index_maintaining_batch(batch(200, 210), 0, catalog, "coll_col",
                                centers, ivf_path)

    # legacy (unversioned, id-only-hash era) marker migration: a replay of
    # an epoch committed by the OLD fingerprint code must skip-by-count and
    # upgrade the marker in place — an in-place code upgrade cannot wedge a
    # live stream (ADVICE r7 #1)
    import os

    marker = os.path.join(ivf_path, "_epochs", "0")
    with open(marker, "w") as f:
        f.write("10:123456789")  # legacy format, count matches batch(100,110)
    n_before = spark.read.parquet(ivf_path).count()
    assert index_maintaining_batch(batch(100, 110), 0, catalog, "coll_col",
                                   centers, ivf_path) is False
    assert spark.read.parquet(ivf_path).count() == n_before  # no re-append
    with open(marker) as f:
        assert f.read().startswith("v2:")  # marker upgraded in place
    # legacy marker whose COUNT differs is a genuine collision: still loud
    with open(marker, "w") as f:
        f.write("7:123456789")
    with pytest.raises(ValueError, match="legacy marker"):
        index_maintaining_batch(batch(100, 110), 0, catalog, "coll_col",
                                centers, ivf_path)


def test_streaming_hourly_counts_reuses_child_session(spark, sf_dir):
    """The registry's streaming row runs in one child session per parent
    session (not a new session and memory sink per call), and a rerun
    replaces the previous sink's rows instead of adding to them."""
    from vectordb_cloud_spark.queries import streaming_hourly_counts

    first = streaming_hourly_counts(spark, sf_dir)
    rows = sorted(first.collect())
    second = streaming_hourly_counts(spark, sf_dir)
    assert second.sparkSession is first.sparkSession
    assert second.sparkSession is not spark
    assert sorted(second.collect()) == rows
