"""Similarity tier (operators/similarity.py): pinned outputs, the
``emb_col`` parameter, ANN recall floors, IVF index and k-means plan
shape, and the sizing and dimension guards."""

import hashlib

import pytest
from pyspark.sql import functions as F

from readabilityimproved_spark.operators.similarity import (
    ann_bucketed_topk,
    ann_multiprobe_topk,
    build_ivf_index,
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    ivf_topk_from_index,
    kmeans_centroids,
)

EMB_SF = "/root/testdata/sf0.001/embeddings.parquet"

# (row count, sha256 of the sorted row reprs, schema simpleString) at
# sf0.001 with the driver entries' parameters: k=5, num_queries=10,
# 8 centroids, nprobe=2, neardup threshold 0.2.
_PINNED = {
    "cosine_topk": (
        50,
        "907509367363b83a066bdee5425af10934300e4668eefcb75a07e5005d54ab34",
        "struct<query_id:bigint,cand_id:bigint,cosine:double,rank:int>",
    ),
    "ann_bucketed_topk": (
        20,
        "750176c92120b7e9f4a84e50340887ac51fdb564512155ecbbbb18e68361391d",
        "struct<query_id:bigint,cand_id:bigint,cosine:double,rank:int>",
    ),
    "ann_multiprobe_topk": (
        50,
        "ba5f1cf55ecccda1b243a50fab931036dfb703b5522b0ea204b91aadb23dc9ed",
        "struct<query_id:bigint,cand_id:bigint,cosine:double,rank:int>",
    ),
    "embedding_neardup_pairs": (
        7,
        "c5a0153bb5674b83f7710002e350b29e646e61f17304af40c04b3392a78305c6",
        "struct<id_a:bigint,id_b:bigint,cosine:double>",
    ),
    "ivf_topk": (
        50,
        "134c659a2eb71634e36e0e88320a504f6a46a9be3c1e9f618ad818227d5626a5",
        "struct<query_id:bigint,cand_id:bigint,cosine:double,rank:int>",
    ),
    "ivf_topk_from_index": (
        50,
        "134c659a2eb71634e36e0e88320a504f6a46a9be3c1e9f618ad818227d5626a5",
        "struct<query_id:bigint,cand_id:bigint,cosine:double,rank:int>",
    ),
    "kmeans_centroids": (
        8,
        "f9c4daac4d0682fde9cb0e4ca8a252f9941088243ee7f70a749c9bc3ed1f8780",
        "struct<cent_id:int,cvec:array<bigint>,cnorm:bigint>",
    ),
    "index_corpus": (
        500,
        "c202538e76fbcce97ed406b1f8a23dd6341d522c90236596dbe4909f7efcddd3",
        "struct<cand_id:bigint,evec:array<bigint>,enorm:bigint,cluster:int>",
    ),
}


def _digest(df):
    rows = sorted(repr(r) for r in df.collect())
    return (
        len(rows),
        hashlib.sha256("\n".join(rows).encode()).hexdigest(),
        df.schema.simpleString(),
    )


def test_operator_rows_are_pinned(spark, tmp_path):
    """Every similarity output, and the index corpus as written, keeps
    the rows and schema it had before the module shared one search."""
    emb = spark.read.parquet(EMB_SF)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, num_centroids=8, kmeans_iters=2, sample_mod=5)
    outputs = {
        "cosine_topk": cosine_topk(emb, k=5, num_queries=10),
        "ann_bucketed_topk": ann_bucketed_topk(emb, k=5, num_queries=10),
        "ann_multiprobe_topk": ann_multiprobe_topk(
            emb, k=5, num_queries=10, bits=8
        ),
        "embedding_neardup_pairs": embedding_neardup_pairs(
            emb, threshold=0.2, tables=4, bits=16, max_bucket_size=100
        ),
        "ivf_topk": ivf_topk(
            emb, k=5, num_queries=10, num_centroids=8, nprobe=2,
            kmeans_iters=2, sample_mod=5,
        ),
        "ivf_topk_from_index": ivf_topk_from_index(
            spark, idx, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2
        ),
        "kmeans_centroids": kmeans_centroids(emb, 8, 2, 5),
        "index_corpus": spark.read.parquet(f"{idx}/corpus"),
    }
    assert {name: _digest(df) for name, df in outputs.items()} == _PINNED


def test_ivf_index_corpus_assigns_from_written_centroids(spark, tmp_path, monkeypatch):
    """The corpus write reads back the centroids it just wrote instead of
    replanning the sampled k-means lineage (its init top-k and every
    Lloyd's round) a second time."""
    from readabilityimproved_spark.operators import similarity

    captured = []
    ivf_corpus = similarity._ivf_corpus

    def capture(*args):
        captured.append(ivf_corpus(*args))
        return captured[-1]

    monkeypatch.setattr(similarity, "_ivf_corpus", capture)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        spark.read.parquet(EMB_SF), idx, num_centroids=8, kmeans_iters=2, sample_mod=5
    )
    (corpus,) = captured
    plan = corpus.repartition("cluster")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    # the embeddings twice (vectors joined to their nearest centroid) + the centroids
    assert plan.count("FileScan") == 3
    assert "ReadSchema: struct<cent_id:int,cvec:array<bigint>,cnorm:bigint>" in plan


@pytest.mark.parametrize(
    "operator, kw",
    [
        pytest.param(op, kw, id=op.__name__)
        for op, kw in [
            (cosine_topk, {}),
            (ann_bucketed_topk, {}),
            (ann_multiprobe_topk, {}),
            (embedding_neardup_pairs, {"threshold": 0.2}),
            (ivf_topk, {}),
            (kmeans_centroids, {}),
        ]
    ],
)
def test_emb_col_names_the_embedding_column(spark, operator, kw):
    """``emb_col`` selects the embedding column: the same vectors under
    another name give the same rows."""
    emb = spark.read.parquet(EMB_SF)
    renamed = emb.withColumnRenamed("embedding", "e")
    want = sorted(tuple(r) for r in operator(emb, **kw).collect())
    got = sorted(tuple(r) for r in operator(renamed, emb_col="e", **kw).collect())
    assert want and got == want


def test_embedding_neardup_cap_bounds_join(spark):
    rows = [(i, [1.0] * 16) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    kw = dict(threshold=0.5, tables=2, bits=8, dim=16)
    assert embedding_neardup_pairs(df, max_bucket_size=100, **kw).count() == 0
    assert (
        embedding_neardup_pairs(df, max_bucket_size=200, **kw).count()
        == 150 * 149 // 2
    )


def test_embedding_neardup_banded_tables_union_candidates(spark):
    """A pair colliding in table 1 but not table 0 is still found, and
    pairs are emitted once (deduped across tables)."""
    emb = spark.read.parquet(EMB_SF)
    out = embedding_neardup_pairs(emb, threshold=0.0, tables=4, bits=16)
    pairs = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert len(pairs) == len(set(pairs))
    single = embedding_neardup_pairs(emb, threshold=0.0, tables=1, bits=16)
    assert out.count() >= single.count()


def test_ivf_kmeans_recall_on_clustered_data(spark):
    """On genuinely clustered vectors IVF must find nearly everything at
    nprobe=2: 8 tight clusters around orthogonal axes."""
    rows = []
    for i in range(400):
        c = i % 8
        base = [0.0] * 16
        base[c * 2] = 10.0
        base[c * 2 + 1] = ((i * 37) % 13 - 6) / 10.0  # small jitter
        rows.append((i, base))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    gt = {(r["query_id"], r["cand_id"])
          for r in cosine_topk(df, k=5, num_queries=10).collect()}
    iv = {(r["query_id"], r["cand_id"])
          for r in ivf_topk(df, k=5, num_queries=10, num_centroids=8,
                            nprobe=2, sample_mod=1).collect()}
    assert len(gt & iv) / len(gt) >= 0.9


def test_ivf_recall_floor_on_near_random_embeddings(spark):
    """The synthetic embeddings are near-random (no cluster structure:
    max pairwise cosine ~0.5), which caps any IVF recall; pin the
    measured floor so centroid-quality regressions still show."""
    emb = spark.read.parquet(EMB_SF)
    gt = {(r["query_id"], r["cand_id"])
          for r in cosine_topk(emb, k=5, num_queries=10).collect()}
    iv = {(r["query_id"], r["cand_id"])
          for r in ivf_topk(emb, k=5, num_queries=10, num_centroids=8,
                            nprobe=2).collect()}
    assert len(gt & iv) / len(gt) >= 0.45


def test_kmeans_centroids_deterministic_and_sized(spark):
    emb = spark.read.parquet(EMB_SF)
    a = kmeans_centroids(emb, num_centroids=8).collect()
    b = kmeans_centroids(emb, num_centroids=8).collect()
    assert sorted(r["cent_id"] for r in a) == list(range(8))
    assert {r["cent_id"]: r["cvec"] for r in a} == {
        r["cent_id"]: r["cvec"] for r in b
    }


def test_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 probing must recover at least as many true neighbors as
    single-probe LSH on the same hash (usually strictly more)."""
    from readabilityimproved_spark.operators.similarity import (
        ann_multiprobe_topk,
    )

    emb = spark.read.parquet(EMB_SF)
    gt = {(r["query_id"], r["cand_id"])
          for r in cosine_topk(emb, k=5, num_queries=10).collect()}
    multi = {(r["query_id"], r["cand_id"])
             for r in ann_multiprobe_topk(emb, k=5, num_queries=10,
                                          bits=8).collect()}
    single = {(r["query_id"], r["cand_id"])
              for r in ann_bucketed_topk(emb, k=5, num_queries=10,
                                         bits=8).collect()}
    assert len(gt & multi) >= len(gt & single)


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    """The persisted-index query must read ONLY the probed clusters'
    partition dirs (PartitionFilters on cluster), and return exactly
    what the index-free ivf_topk computes."""
    from readabilityimproved_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, num_centroids=8)
    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_topk_from_index(spark, idx, queries, k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the corpus scan is the only partitioned source in this plan
    assert "PartitionFilters: [cluster" in plan, plan[:3000]
    want = {tuple(r) for r in ivf_topk(emb, k=5, num_queries=10).collect()}
    assert {tuple(r) for r in got.collect()} == want


def test_kmeans_init_avoids_global_window(spark):
    """Centroid init must use a distributed top-k (TakeOrderedAndProject),
    never a row_number over the full unpartitioned sample."""
    from readabilityimproved_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = kmeans_centroids(emb)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_short_embedding_fails_loudly(spark):
    """A vector shorter than the hyperplane index's highest probe must
    raise, not silently zero sketch bits (collapsed LSH buckets)."""
    from readabilityimproved_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    short = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim|assert"):
        embedding_neardup_pairs(short).collect()


def test_ivf_sizing_requires_explicit_k_on_plain_scans(spark):
    """num_centroids=None must NOT trigger a full corpus count() pass:
    on a plain parquet scan (no CBO rowCount statistics) it raises with
    sizing guidance instead of silently scanning 10^12 rows."""
    from readabilityimproved_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="num_centroids"):
        ivf_topk(emb, num_centroids=None)


def test_resolve_num_centroids_survives_internal_api_loss(spark):
    """_resolve_num_centroids reads Catalyst plan stats through py4j
    internals; if a Spark upgrade moves that surface the helper must
    degrade to the explicit-k ValueError, not crash with a Py4JError."""
    from readabilityimproved_spark.operators import similarity as S

    class Broken:
        def __getattr__(self, name):  # any internals access explodes
            raise RuntimeError("internal API moved")

    class FakeDF:
        _jdf = Broken()

    # explicit k passes straight through, no internals touched
    assert S._resolve_num_centroids(FakeDF(), 7) == 7
    with pytest.raises(ValueError, match="num_centroids"):
        S._resolve_num_centroids(FakeDF(), None)
    # and the happy path still resolves from an ANALYZE'd table's stats
    # (catalog rowCount reaches plan stats only under CBO; set/restore
    # the conf on the shared session -- never stop() it)
    spark.createDataFrame(
        [(i, [0.1, 0.2]) for i in range(9)],
        "vec_id long, embedding array<double>",
    ).write.mode("overwrite").saveAsTable("r5_emb_stats")
    prev = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.sql("ANALYZE TABLE r5_emb_stats COMPUTE STATISTICS")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        assert S._resolve_num_centroids(spark.table("r5_emb_stats"), None) == 3
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS r5_emb_stats")
