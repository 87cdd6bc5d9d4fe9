"""Table IO: Iceberg-shaped layout with a parquet fallback.

The production design point is an Iceberg table partitioned by
``bucket(N, doc_id)`` (SURVEY.md §4 partition pruning); this sandbox has
no Iceberg runtime jars, so the same schema + stored ``part`` column is
materialized as parquet with directory partitioning -- identical
pruning behavior for the resume/wave filters. Set
``spark.sql.catalog.<name>`` configs and pass ``table=`` to use a real
catalog unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


#: supported file formats: parquet is the production default (columnar,
#: predicate pushdown, the Iceberg file format); orc is the drop-in
#: columnar alternative; json is the interchange edge (schema must be
#: provided on read for span structs -- inference can't see nulls)
CORPUS_FORMATS = ("parquet", "orc", "json")


def read_corpus(
    spark: SparkSession,
    path: str | None = None,
    table: str | None = None,
    fmt: str = "parquet",
    schema=None,  # DDL string or StructType; required for json spans
) -> DataFrame:
    if table is not None:
        return spark.read.table(table)
    if path is None:
        raise ValueError("need path= or table=")
    if fmt not in CORPUS_FORMATS:
        raise ValueError(f"fmt must be one of {CORPUS_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)


def write_corpus(
    df: DataFrame,
    path: str | None = None,
    table: str | None = None,
    mode: str = "append",
    partition_col: str = "part",
    fmt: str = "parquet",
) -> None:
    if table is not None:
        writer = df.writeTo(table)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    if path is None:
        raise ValueError("need path= or table=")
    if fmt not in CORPUS_FORMATS:
        raise ValueError(f"fmt must be one of {CORPUS_FORMATS}")
    w = df.write.mode(mode)
    if partition_col and partition_col in df.columns:
        w = w.partitionBy(partition_col)
    w.format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "doc_id",
    num_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join key.

    THE lever for repeated joins at 10^12 rows: two tables bucketed the
    same way on the same key join with ZERO exchanges (and zero sorts
    when also sorted) -- the shuffle is paid once at write time instead
    of once per query. Equivalent to Iceberg's bucket(N, col) partition
    transform; parquet bucketing needs the session catalog
    (saveAsTable), which the embedded local metastore provides.
    tests/test_round3.py pins the exchange-free join plan."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def read_html_files(
    spark: SparkSession,
    glob: str,
    num_parts: int = 64,
    base_uri_from_path: bool = True,
) -> DataFrame:
    """Raw-HTML file source: one document per file, in the engine's span
    shape (the reference's input mode -- Extractor.java:77-130 iterates a
    directory of fetched pages; file path stands in for the URL).

    ``wholetext`` keeps file = row (no line splitting); doc_id is the
    file path, so the derived ``part`` (xxhash64 % num_parts) is stable
    across runs and the pipeline's resume filter works unchanged. At
    10^12 docs you would land files into the span-table layout first --
    this reader is the ingest edge, not the steady-state scan.
    """
    from pyspark.sql import functions as F

    # _metadata.file_path, not input_file_name(): the latter is
    # task-thread-local state that can intermittently yield '' (collapsing
    # every doc onto one doc_id); the metadata column is plan-level and
    # deterministic for all file sources since Spark 3.2
    raw = spark.read.text(glob, wholetext=True).withColumn(
        "path", F.col("_metadata.file_path")
    )
    span = F.struct(
        F.lit("html").alias("kind"),
        F.col("value").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    out = raw.select(
        F.col("path").alias("doc_id"),
        F.array(span).alias("spans"),
        F.pmod(F.xxhash64("path"), F.lit(num_parts)).cast("int").alias("part"),
    )
    if base_uri_from_path:
        out = out.withColumn("base_uri", F.col("doc_id"))
    return out
