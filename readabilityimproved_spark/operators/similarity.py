"""Similarity search over embedding columns (array<float>).

  * cosine_topk      -- brute-force cosine top-k: broadcast the (small)
                        query set against the corpus; the scan side never
                        shuffles. The baseline ANN path.
  * ann_bucketed_topk-- sign-bit LSH (hyperplanes = first B axes): corpus
                        and queries bucket by the sign pattern of their
                        leading dimensions; top-k within the query's
                        bucket only. Recall < 1 by design; at 10^12 rows
                        the bucket join replaces the full scan.
  * ann_multiprobe_topk -- hyperplane LSH that also probes every
                        hamming-1 neighbor of the query's bucket.
  * kmeans_centroids / ivf_topk -- deterministic sampled Lloyd's k-means
                        (exact integer arithmetic, DuckDB-reproducible)
                        feeding IVF cluster-probed search.
  * build_ivf_index / ivf_topk_from_index -- the same IVF search with the
                        centroids and the cluster-partitioned corpus
                        persisted once, then probed with a
                        partition-pruned scan per query batch.
  * embedding_neardup_pairs -- banded multi-table hyperplane LSH
                        (4 x 16-bit default) with a per-bucket size cap
                        bounding the self-join.

Every top-k operator is a candidate-side build plus one ``_search``
(broadcast queries, drop self-matches, rank per query), and every
similarity is the one rounded cosine ``_cosine``.

Determinism across engines (the DuckDB oracle must hash-match): floats
are scaled to integers with floor(x*1000 + 0.5) before the dot product,
so the sum is exact in both engines; the final cosine is rounded to 6dp
and ties break on the candidate id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import bucket_pairs

_SCALED = "transform({col}, x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint))"
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
)
_NORM2 = "aggregate(transform({a}, x -> x * x), 0L, (acc, v) -> acc + v)"


def _vectors(
    df: DataFrame, id_col: str, emb_col: str, id_name: str, prefix: str, *carry
) -> DataFrame:
    """``(id_name, *carry, {prefix}vec, {prefix}norm)``: the embedding
    scaled to integers and its exact squared norm."""
    vec = f"{prefix}vec"
    return df.select(
        F.col(id_col).alias(id_name), *carry, F.expr(_SCALED.format(col=emb_col)).alias(vec)
    ).withColumn(f"{prefix}norm", F.expr(_NORM2.format(a=vec)))


def _cosine(a: str, b: str) -> F.Column:
    """Cosine of ``{a}vec`` and ``{b}vec`` rounded to 6dp: the exact
    integer dot product over correctly-rounded square roots of the exact
    norms, so Spark and DuckDB agree bit for bit."""
    dot = F.expr(_DOT.format(a=f"{a}vec", b=f"{b}vec"))
    return F.round(
        dot
        / (F.sqrt(F.col(f"{a}norm").cast("double")) * F.sqrt(F.col(f"{b}norm").cast("double"))),
        6,
    )


def _search(corpus: DataFrame, queries: DataFrame, k: int, on: str | None = None) -> DataFrame:
    """Top-k candidates per query: ``(query_id, cand_id, cosine, rank)``.

    ``corpus`` is ``(cand_id, evec, enorm, ...)`` and ``queries`` is
    ``(query_id, qvec, qnorm, ...)``. The query side is broadcast (small
    by construction) and crossJoined with the corpus, or joined on the
    ``on`` column both sides carry, so the scan side never shuffles until
    the per-query top-k, which AQE coalesces. Self-matches are dropped;
    ranks order by (cosine desc, cand_id asc)."""
    q = F.broadcast(queries)
    pairs = corpus.crossJoin(q) if on is None else corpus.join(q, on)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        pairs.filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _cosine("q", "e").alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors for the first ``num_queries`` ids.

    The query side is broadcast (small by construction); the corpus scan
    is embarrassingly parallel -- no shuffle until the final per-query
    top-k, which AQE coalesces.
    """
    corpus = _vectors(embeddings, id_col, emb_col, "cand_id", "e")
    queries = _vectors(
        embeddings.filter(F.col(id_col) < num_queries), id_col, emb_col, "query_id", "q"
    )
    return _search(corpus, queries, k)


def sign_bucket(emb_col: str, bits: int = 8) -> F.Column:
    """LSH bucket id: sign pattern of the first ``bits`` dimensions."""
    expr = " + ".join(
        f"(CASE WHEN element_at({emb_col}, {i + 1}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return F.expr(f"cast({expr} as int)")


def ann_bucketed_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket."""
    bucket = sign_bucket(emb_col, bits).alias("bucket")
    corpus = _vectors(embeddings, id_col, emb_col, "cand_id", "e", bucket)
    queries = _vectors(
        embeddings.filter(F.col(id_col) < num_queries), id_col, emb_col, "query_id", "q", bucket
    )
    return _search(corpus, queries, k, "bucket")


def kmeans_centroids(
    embeddings: DataFrame,
    num_centroids: int = 8,
    iters: int = 2,
    sample_mod: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Deterministic sampled Lloyd's k-means over the SCALED-INT vectors:
    (cent_id, cvec, cnorm), reproducible bit-exactly in DuckDB.

    * sample: ``vec_id % sample_mod == 0`` (at 10^12 rows swap for a
      hash-mod sample; id-mod keeps the oracle SQL-expressible);
    * init: the first ``num_centroids`` sample vectors in id order;
    * ``iters`` unrolled Lloyd steps: assign each sample vector to its
      nearest centroid by the same rounded-cosine ordering the search
      uses, recompute each centroid as the elementwise
      ``floor(avg(component))`` (sums stay < 2^52, so the double mean is
      exact and floor() agrees across engines); empty clusters keep
      their previous centroid;
    * everything downstream of the (small) sample is exact integer /
      correctly-rounded-double arithmetic => Spark and the DuckDB oracle
      produce identical centroids, assignments and top-k.
    """
    sample = _vectors(embeddings, id_col, emb_col, "vid", "").filter(
        F.col("vid") % sample_mod == 0
    )
    # init = the num_centroids smallest sample vids. orderBy+limit plans
    # as TakeOrderedAndProject (distributed per-partition top-k, then a
    # k-row merge on the driver) -- a row_number over a global window
    # here would funnel the ENTIRE sample through one partition at
    # 10^12 rows. The remaining unpartitioned window is bounded by
    # num_centroids rows.
    w0 = Window.orderBy("vid")
    cent = (
        sample.orderBy("vid")
        .limit(num_centroids)
        .withColumn("cent_id", F.row_number().over(w0) - 1)
        .select("cent_id", F.col("vec").alias("cvec"))
    )
    for _ in range(iters):
        cent_n = cent.withColumn("cnorm", F.expr(_NORM2.format(a="cvec")))
        asg = _nearest_centroids(sample, cent_n, 1, "cent_id")
        means = (
            asg.join(sample, "vid")
            .select("cent_id", F.posexplode("vec").alias("dim", "x"))
            .groupBy("cent_id", "dim")
            .agg(F.floor(F.avg("x")).cast("long").alias("mval"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mval"))),
                    lambda s: s["mval"],
                ).alias("mvec")
            )
        )
        cent = (
            cent.join(means, "cent_id", "left")
            .select(
                "cent_id",
                F.coalesce(F.col("mvec"), F.col("cvec")).alias("cvec"),
            )
        )
    return cent.withColumn("cnorm", F.expr(_NORM2.format(a="cvec")))


def _nearest_centroids(
    points: DataFrame,
    centroids: DataFrame,
    n: int,
    out_name: str,
    key: str = "vid",
    prefix: str = "",
) -> DataFrame:
    """``(key, out_name)``: the ``n`` nearest centroids of each point
    (``key``, ``{prefix}vec``, ``{prefix}norm``) by the rounded-cosine
    ordering, ties on the lower ``cent_id`` (centroids broadcast; the
    point side never shuffles before the per-point window)."""
    w = Window.partitionBy(key).orderBy(F.col("csim").desc(), F.col("cent_id").asc())
    return (
        points.crossJoin(F.broadcast(centroids))
        .withColumn("csim", _cosine(prefix, "c"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n)
        .select(key, F.col("cent_id").alias(out_name))
    )


def _resolve_num_centroids(embeddings: DataFrame, num_centroids) -> int:
    """Resolve ``num_centroids=None`` to ~sqrt(N) WITHOUT a corpus
    scan: the round-3 version ran a full ``embeddings.count()`` -- an
    extra pass over 10^12 rows just to size k. N is taken from the
    optimized plan's CBO row-count statistic when one exists (ANALYZE'd
    tables under spark.sql.cbo.enabled); a plain file scan has no row count, and
    the only way to get one would be that forbidden pass -- so the
    caller must size k explicitly (~sqrt(N) is the standard IVF
    sizing)."""
    import math

    if num_centroids is not None:
        return num_centroids
    try:
        # py4j access to Catalyst internals -- not public API, so a
        # Spark minor bump may move it; degrade to the explicit-k error
        # rather than crash with an AttributeError/Py4JError
        stats = embeddings._jdf.queryExecution().optimizedPlan().stats()
        row_count = stats.rowCount()
        defined = row_count.isDefined()
    except Exception:
        defined = False
    if defined:
        return max(2, int(math.isqrt(int(str(row_count.get())))))
    raise ValueError(
        "num_centroids=None needs a plan row-count statistic (ANALYZE the "
        "table) -- on a plain file scan, pass num_centroids explicitly "
        "(~sqrt(N)); implicit sizing would cost a full corpus count() pass"
    )


def _ivf_corpus(
    embeddings: DataFrame, centroids: DataFrame, id_col: str, emb_col: str
) -> DataFrame:
    """The IVF corpus, the layout ``build_ivf_index`` persists:
    ``(cand_id, evec, enorm, cluster)``, each vector in the cluster of
    its nearest centroid. The assignment is one broadcast-join map over
    the corpus -- the corpus itself never shuffles on vectors."""
    vectors = _vectors(embeddings, id_col, emb_col, "cand_id", "e")
    return vectors.join(
        _nearest_centroids(vectors, centroids, 1, "cluster", "cand_id", "e"), "cand_id"
    )


def _probed_queries(
    queries: DataFrame, centroids: DataFrame, nprobe: int, id_col: str, emb_col: str
) -> DataFrame:
    """``(query_id, qvec, qnorm, cluster)``: each query once per each of
    its ``nprobe`` nearest clusters."""
    vectors = _vectors(queries, id_col, emb_col, "query_id", "q")
    return vectors.join(
        _nearest_centroids(vectors, centroids, nprobe, "cluster", "query_id", "q"), "query_id"
    )


def build_ivf_index(
    embeddings: DataFrame,
    index_dir: str,
    num_centroids: int | None = 8,
    kmeans_iters: int = 2,
    sample_mod: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Materialize the IVF index: ``{index_dir}/centroids`` plus the
    corpus (scaled vectors + norms) written PARTITIONED BY cluster to
    ``{index_dir}/corpus``.

    Build-once / query-many: at 10^12 vectors the k-means + assignment
    pass is the expensive step and must not be re-paid per query — and
    because the corpus is laid out by cluster, a query's scan is
    PARTITION-PRUNED to its nprobe clusters' files (reading
    nprobe/num_centroids of the index, not filtering it post-scan).
    The corpus and probe steps are ivf_topk's own, so results are
    identical (pinned by the shared driver oracle)."""
    num_centroids = _resolve_num_centroids(embeddings, num_centroids)
    centroids = kmeans_centroids(
        embeddings, num_centroids, kmeans_iters, sample_mod, id_col, emb_col
    )
    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    # assign from the centroids just written: the lazy ``centroids`` would
    # replan (and rerun) the whole sampled Lloyd's lineage for the corpus
    centroids = embeddings.sparkSession.read.schema(centroids.schema).parquet(
        f"{index_dir}/centroids"
    )
    corpus = _ivf_corpus(embeddings, centroids, id_col, emb_col)
    corpus.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(f"{index_dir}/corpus")


def ivf_topk_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF index (build_ivf_index).

    The probed cluster ids are a bounded control-plane collect
    (num_queries x nprobe values), turned into an isin() partition
    filter so the corpus scan reads ONLY those clusters' files."""
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    probed = _probed_queries(queries, centroids, nprobe, id_col, emb_col)
    probe_clusters = sorted(
        r["cluster"] for r in probed.select("cluster").distinct().collect()
    )
    corpus = spark.read.parquet(f"{index_dir}/corpus").filter(
        F.col("cluster").isin(probe_clusters)
    )
    return _search(corpus, probed, k, "cluster")


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    num_centroids: int | None = 8,
    nprobe: int = 2,
    kmeans_iters: int = 2,
    sample_mod: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: k-means centroids from a deterministic sample, assign
    every vector to its nearest centroid, then each query probes only
    its ``nprobe`` nearest clusters.

    ``num_centroids=None`` defaults to ~sqrt(N) from plan statistics
    (never a count() pass -- see _resolve_num_centroids), the
    standard IVF sizing -- at 10^12 rows that is ~10^6 clusters, keeping
    both the centroid broadcast (~10^6 * dim ints) and the per-cluster
    list (~10^6 vectors) tractable; the search then touches
    nprobe/num_centroids of the corpus. The cluster assignment is one
    broadcast-join map over the corpus -- the corpus itself never
    shuffles on vectors.
    """
    num_centroids = _resolve_num_centroids(embeddings, num_centroids)
    centroids = kmeans_centroids(
        embeddings, num_centroids, kmeans_iters, sample_mod, id_col, emb_col
    )
    corpus = _ivf_corpus(embeddings, centroids, id_col, emb_col)
    queries = _probed_queries(
        embeddings.filter(F.col(id_col) < num_queries), centroids, nprobe, id_col, emb_col
    )
    # no dedup needed: each candidate lives in exactly one cluster, so it
    # joins at most one of a query's probe rows
    return _search(corpus, queries, k, "cluster")


def hyperplane_pairs(tables: int, bits: int, dim: int) -> list[list[tuple[int, int]]]:
    """Deterministic sparse-hyperplane index pairs: table t, bit i tests
    sign(e[p1] - e[p2]). The (17 + t) stride is coprime-ish to dim=64 and
    never 0 mod dim for small t, so p1 != p2 always; different tables use
    disjoint phase offsets so their bits are distinct projections."""
    out = []
    for t in range(tables):
        row = []
        for i in range(bits):
            p1 = (t * bits + i) % dim
            p2 = (t * bits + i + 17 + t) % dim
            assert p1 != p2
            row.append((p1, p2))
        out.append(row)
    return out


def hyperplane_bucket(emb_col: str, pairs: list[tuple[int, int]]) -> F.Column:
    """LSH bucket id for one table: bits-wide sign pattern of the
    hyperplane projections. Sign of (float - float) is exact, so Spark
    and DuckDB agree bit-for-bit on every bucket id.

    Guarded: a vector shorter than the highest probed index would (ANSI
    off) make element_at return NULL, NULL-NULL>=0 evaluate NULL, and
    the CASE silently zero that sketch bit -- collapsed buckets with no
    error. assert_true makes the dimension mismatch fail loudly."""
    max_idx = max(max(p1, p2) for p1, p2 in pairs) + 1
    expr = " + ".join(
        f"(CASE WHEN element_at({emb_col}, {p1 + 1})"
        f" - element_at({emb_col}, {p2 + 1}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, (p1, p2) in enumerate(pairs)
    )
    guard = (
        f"assert_true(size({emb_col}) >= {max_idx},"
        f" 'embedding dim >= {max_idx} required by hyperplane index')"
    )
    return F.expr(f"case when {guard} is null then cast({expr} as int) end")


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    tables: int = 4,
    bits: int = 16,
    dim: int = 64,
    max_bucket_size: int = 100,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded multi-table
    hyperplane LSH.

    Scale design (the single 8-bit sign bucket this replaces was a
    scale-killer: 256 buckets -> O(n^2/256) self-join pairs at 10^12
    rows):

    * ``tables`` independent ``bits``-wide hyperplane sketches; a pair is
      a candidate if it collides in ANY table (banding: recall compounds
      across tables, precision comes from the 2^bits bucket space);
    * hot buckets larger than ``max_bucket_size`` are dropped via a
      window count BEFORE the self-join (same guard as
      dedup.minhash_lsh_pairs), so join output is bounded by
      tables * buckets * max_bucket_size^2;
    * the bucket table is 3 narrow columns (id, tbl, bucket) -- vectors
      do NOT travel through the LSH shuffle; candidate pairs (small by
      the cap bound) are joined back to the vector table, and Catalyst/
      AQE broadcasts the candidate side so the corpus never shuffles.
    """
    all_pairs = hyperplane_pairs(tables, bits, dim)
    bucket_structs = [
        F.struct(
            F.lit(t).alias("tbl"),
            hyperplane_bucket(emb_col, all_pairs[t]).alias("bucket"),
        )
        for t in range(tables)
    ]
    buckets = embeddings.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*bucket_structs)).alias("tb"),
    ).select("id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    # window cap + in-row combination explode (see dedup.bucket_pairs):
    # one corpus scan, no self-join re-evaluating the bucket subtree;
    # the groupBy dedupes pairs across tables before any cosine math
    cand = bucket_pairs(
        buckets.withColumnRenamed("tbl", "band"), max_bucket_size
    ).select("id_a", "id_b")
    return (
        cand.join(_vectors(embeddings, id_col, emb_col, "id_a", "a"), "id_a")
        .join(_vectors(embeddings, id_col, emb_col, "id_b", "b"), "id_b")
        .select("id_a", "id_b", _cosine("a", "b").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ann_multiprobe_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Multiprobe hyperplane-LSH ANN: each query searches its own bucket
    PLUS every hamming-1 neighbor bucket (flip one sign bit).

    Single-probe LSH loses exactly the neighbors that sit across one
    hyperplane; probing the ``bits`` adjacent buckets recovers most of
    them at (bits+1)x the candidate cost -- the standard multiprobe
    trade. The corpus is bucketed ONCE (no explode on the big side);
    only the small query side fans out, stays broadcast, and the corpus
    never shuffles. Probe buckets are distinct by construction, so no
    candidate dedupe is needed.
    """
    bucket = hyperplane_bucket(emb_col, hyperplane_pairs(1, bits, dim)[0])
    corpus = _vectors(embeddings, id_col, emb_col, "cand_id", "e", bucket.alias("bucket"))
    probe_arr = F.array(
        F.col("bucket0"),
        *[F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
    )
    queries = _vectors(
        embeddings.filter(F.col(id_col) < num_queries),
        id_col, emb_col, "query_id", "q", bucket.alias("bucket0"),
    ).withColumn("bucket", F.explode(probe_arr))
    return _search(corpus, queries, k, "bucket")
