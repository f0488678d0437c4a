"""The shared blocked-pair primitive pins nothing past a call."""

from pyspark.sql import functions as F

from vectordb_cloud_spark.operators.ann import lsh_fit, lsh_self_join_pairs
from vectordb_cloud_spark.operators.dedup import (
    embedding_near_dup_lsh,
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
)


def test_generators_leave_no_cache_entries(spark, documents, embeddings):
    """Three calls of each banded generator on fresh inputs add no entry to
    the session's cache: the only state a call leaves is its checkpointed
    result."""
    docs = documents.limit(300)
    vecs = embeddings.limit(300)
    model, _ = lsh_fit(vecs, bucket_length=4.0, num_hash_tables=4)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for i in range(3):
        d = docs.filter(F.col("doc_id") % 3 != i)
        v = vecs.filter(F.col("vec_id") % 3 != i)
        minhash_lsh_pairs(d, jaccard_threshold=0.2).collect()
        simhash_near_dup_pairs(d, max_hamming=6).collect()
        embedding_near_dup_lsh(v, threshold=0.2, bucket_length=4.0).collect()
        lsh_self_join_pairs(model, v, threshold=2.0).collect()
    assert cache.numCachedEntries() <= before
