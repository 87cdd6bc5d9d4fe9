"""Pins for the wave pipeline's resume plan, its driver-side fixed cost
and its lineage/metrics contract (plans/pipeline.py)."""

import logging
import os
import shutil

import pytest
from pyspark.sql import functions as F

import readabilityimproved_spark.plans.pipeline as P
from readabilityimproved_spark.sources.synth import write_synth_corpus

N_DOCS = 60


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("resume") / "corpus")
    write_synth_corpus(spark, N_DOCS, path)
    return path


@pytest.fixture(scope="module")
def uninterrupted(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "full")
    P.run_extraction(spark, corpus, out, waves=4, resume=False)
    return _extracted(spark, out)


def _extracted(spark, out):
    rows = spark.read.parquet(os.path.join(out, "extracted")).collect()
    return {r["doc_id"]: (r["status"], r["spans"]) for r in rows}


def _lineage(spark, out):
    return spark.read.parquet(os.path.join(out, "lineage"))


def _assert_each_part_once(spark, corpus, out):
    rows = _lineage(spark, out).select("part", "status").collect()
    assert sorted(r["part"] for r in rows) == sorted(_visible_sizes(corpus))
    assert {r["status"] for r in rows} == {"ok"}


def test_resume_finishes_the_original_wave_plan(
    spark, corpus, uninterrupted, tmp_path
):
    """A job killed after wave 2 of 4 resumes with waves 2 and 3 of the
    SAME plan: two waves run, not a re-split of the remaining parts into
    four new ones, and lineage keeps the original wave indices."""
    out = str(tmp_path / "out")
    first = P.run_extraction(
        spark, corpus, out, waves=4, resume=False, fail_after_wave=2
    )
    assert first.get("failed_injected") and first["waves_run"] == 2
    second = P.run_extraction(spark, corpus, out, waves=4, resume=True)
    assert second["waves_run"] == 2

    lineage = _lineage(spark, out).collect()
    waves_by_attempt = {}
    for r in lineage:
        waves_by_attempt.setdefault(r["attempt"], set()).add(r["wave"])
    assert len(waves_by_attempt) == 2
    killed, resumed = (waves_by_attempt[a] for a in sorted(waves_by_attempt))
    assert killed == {0, 1}
    assert resumed == {2, 3}
    _assert_each_part_once(spark, corpus, out)
    assert first["docs"] + second["docs"] == N_DOCS
    assert _extracted(spark, out) == uninterrupted

    # one file per part directory, as in an uninterrupted run
    ext = os.path.join(out, "extracted")
    for d in os.listdir(ext):
        if d.startswith("part="):
            files = [
                f for f in os.listdir(os.path.join(ext, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)


def test_resume_with_other_wave_count_runs_each_unfinished_part_once(
    spark, corpus, uninterrupted, tmp_path
):
    """Resuming under a different ``waves`` plans differently, but the
    done parts are still dropped: every unfinished part is extracted
    exactly once and the output equals an uninterrupted run."""
    out = str(tmp_path / "out")
    P.run_extraction(
        spark, corpus, out, waves=4, resume=False, fail_after_wave=1
    )
    done = {r["part"] for r in _lineage(spark, out).collect()}
    second = P.run_extraction(spark, corpus, out, waves=3, resume=True)
    assert second["parts_skipped"] == len(done)
    _assert_each_part_once(spark, corpus, out)
    assert _extracted(spark, out) == uninterrupted


def test_kill_and_resume_runs_no_python_worker_outside_the_kernel(
    spark, corpus, tmp_path, monkeypatch
):
    """Lineage rows reach the JVM as Arrow data: a kill-and-resume run
    never calls SparkContext.parallelize (which would start Python
    workers to write a handful of rows). The lineage schema, its
    per-part counts and the metrics/job_summary totals are unchanged."""
    from pyspark import SparkContext

    calls = {"parallelize": 0}
    orig = SparkContext.parallelize

    def counting(self, *a, **kw):
        calls["parallelize"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(SparkContext, "parallelize", counting)
    out = str(tmp_path / "out")
    first = P.run_extraction(
        spark, corpus, out, waves=4, resume=False, fail_after_wave=2
    )
    second = P.run_extraction(spark, corpus, out, waves=4, resume=True)
    monkeypatch.setattr(SparkContext, "parallelize", orig)
    assert calls["parallelize"] == 0, calls

    lineage = _lineage(spark, out)
    assert [(f.name, f.dataType.simpleString()) for f in lineage.schema] == [
        ("part", "int"),
        ("doc_count", "bigint"),
        ("span_count", "bigint"),
        ("image_count", "bigint"),
        ("error_count", "bigint"),
        ("status", "string"),
        ("attempt", "int"),
        ("wave", "int"),
        ("wall_ms", "int"),
    ]

    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    direct = {
        r["part"]: (r["d"], r["s"], r["i"], r["e"])
        for r in extracted.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("d"),
            F.sum("n_spans").alias("s"),
            F.sum("n_images").alias("i"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("e"),
        )
        .collect()
    }
    recorded = {
        r["part"]: (
            r["doc_count"], r["span_count"], r["image_count"], r["error_count"]
        )
        for r in lineage.collect()
        if r["doc_count"] > 0
    }
    assert recorded == direct

    by_attempt = [first, second]
    metrics = sorted(
        spark.read.parquet(os.path.join(out, "metrics")).collect(),
        key=lambda r: r["attempt"],
    )
    summary = P.job_summary(spark, out).collect()
    assert [r["attempt"] for r in metrics] == [r["attempt"] for r in summary]
    for stats, m, s in zip(by_attempt, metrics, summary):
        assert m["docs"] == s["docs"] == stats["docs"]
        assert s["waves"] == stats["waves_run"]
        assert m["wall_ms_sum"] == s["wall_ms_sum"]
    assert sum(r["docs"] for r in summary) == N_DOCS


def test_unreadable_lineage_is_logged_then_redone(
    spark, corpus, tmp_path, caplog
):
    """A corrupt lineage still falls back to "nothing done" (every part
    is redone), but the fallback is logged with the lineage path and
    the exception type instead of passing silently."""
    out = tmp_path / "out"
    lineage = out / "lineage"
    lineage.mkdir(parents=True)
    (lineage / "part-x.parquet").write_bytes(b"not a parquet file")
    caplog.set_level(logging.WARNING, logger=P.__name__)
    stats = P.run_extraction(spark, corpus, str(out), waves=2, resume=True)
    assert stats["parts_skipped"] == 0 and stats["docs"] == N_DOCS
    warnings = [
        r.getMessage() for r in caplog.records
        if r.levelno == logging.WARNING
        and r.getMessage().startswith("lineage at ")
    ]
    assert warnings, caplog.text
    assert str(lineage) in warnings[0]
    with pytest.raises(Exception) as raised:
        spark.read.parquet(str(lineage / "part-x.parquet")).collect()
    assert f"({type(raised.value).__name__}:" in warnings[0], warnings[0]


def _visible_sizes(root):
    """Bytes of the visible files in each ``part=<int>`` directory."""
    sizes = {}
    for d in os.listdir(root):
        if not (d.startswith("part=") and d[5:].isdigit()):
            continue
        for f in os.listdir(os.path.join(root, d)):
            if not f.startswith((".", "_")):
                part = int(d[5:])
                sizes[part] = sizes.get(part, 0) + os.path.getsize(
                    os.path.join(root, d, f)
                )
    return sizes


def test_part_sizes_equal_visible_data_files(spark, corpus, tmp_path):
    """The size map is the summed size of the data files in each part=N
    directory (checksum .crc files excluded), also under a root whose
    name contains glob metacharacters."""
    sizes, unparsed = P._fs_part_sizes(spark, corpus)
    assert unparsed == set()
    assert sizes and sizes == _visible_sizes(corpus)

    odd = str(tmp_path / "c[1]{a,b}*?")
    spark.read.parquet(corpus).write.partitionBy("part").parquet(odd)
    assert _visible_sizes(odd)
    assert P._fs_part_sizes(spark, odd) == (_visible_sizes(odd), set())

    assert P._fs_part_sizes(spark, str(tmp_path / "missing")) == ({}, set())
    flat = str(tmp_path / "flat")
    spark.read.parquet(corpus).write.parquet(flat)
    assert P._fs_part_sizes(spark, flat) == ({}, set())


def test_part_sizes_report_null_part_directory(spark, corpus, tmp_path):
    broken = str(tmp_path / "broken")
    (
        spark.read.parquet(corpus)
        .withColumn(
            "part",
            F.when(F.col("part") % 7 == 0, F.lit(None)).otherwise(F.col("part")),
        )
        .write.partitionBy("part")
        .parquet(broken)
    )
    sizes, unparsed = P._fs_part_sizes(spark, broken)
    assert unparsed == {"part=__HIVE_DEFAULT_PARTITION__"}
    assert sizes == _visible_sizes(broken)
    assert sizes and all(k % 7 for k in sizes)


def _jobs_run(spark, group, fn):
    """Number of Spark jobs ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def resumed_twice(spark, corpus, tmp_path_factory):
    """Kill after wave 2 of 4, resume, append a wave-less legacy attempt
    (id 111, two waves of wall 800 and 900, non-zero errors), resume
    with every part done (the lineage changed, so the metrics rollup
    runs), then resume once more with nothing changed. Returns the
    output dir and the number of Spark jobs that last resume ran."""
    out = str(tmp_path_factory.mktemp("rollup") / "out")
    P.run_extraction(
        spark, corpus, out, waves=4, resume=False, fail_after_wave=2
    )
    P.run_extraction(spark, corpus, out, waves=4, resume=True)
    spark.createDataFrame(
        [
            (90, 7, 30, 3, 1, "ok", 111, 800),
            (91, 5, 20, 2, 2, "ok", 111, 900),
        ],
        "part int, doc_count bigint, span_count bigint, image_count bigint,"
        " error_count bigint, status string, attempt int, wall_ms int",
    ).write.mode("append").parquet(os.path.join(out, "lineage"))
    P.run_extraction(spark, corpus, out, waves=4, resume=True)
    jobs = _jobs_run(
        spark, "resume-all-done",
        lambda: P.run_extraction(spark, corpus, out, waves=4, resume=True),
    )
    return out, jobs


def test_lineage_reads_run_one_job(spark, corpus, resumed_twice):
    """``completed_parts`` reads lineage with its declared schema in one
    job (no footer inference, no shuffle distinct), and a resume with
    every part done and the metrics table current runs at most 3 jobs:
    the input listing, its footer read and ``completed_parts``."""
    out, resume_jobs = resumed_twice
    lineage = os.path.join(out, "lineage")
    done = set()
    jobs = _jobs_run(
        spark, "completed-parts",
        lambda: done.update(P.completed_parts(spark, lineage)),
    )
    assert done == set(_visible_sizes(corpus)) | {90, 91}
    assert jobs == 1
    assert resume_jobs <= 3


def test_resume_rewrites_a_missing_metrics_table(
    spark, corpus, resumed_twice, tmp_path
):
    """A resume that runs no wave still writes the metrics table when it
    is missing, with the rows the rollup gives."""
    out, _ = resumed_twice
    copy = str(tmp_path / "out")
    shutil.copytree(out, copy)
    want = sorted(spark.read.parquet(os.path.join(copy, "metrics")).collect())
    shutil.rmtree(os.path.join(copy, "metrics"))
    stats = P.run_extraction(spark, corpus, copy, waves=4, resume=True)
    assert stats["waves_run"] == 0
    got = spark.read.parquet(os.path.join(copy, "metrics")).collect()
    assert sorted(got) == want


def _by_rank(rows, wall_fields):
    """Rows as dicts with attempt ids replaced by their rank; the
    wall-dependent fields are dropped except for the legacy attempt
    (rank 0), whose wall_ms_sum is fixed by the fixture."""
    rank = {a: i for i, a in enumerate(sorted(r["attempt"] for r in rows))}
    out = []
    for r in sorted(rows, key=lambda r: r["attempt"]):
        d = {**r.asDict(), "attempt": rank[r["attempt"]]}
        for k in wall_fields:
            if not (d["attempt"] == 0 and k == "wall_ms_sum"):
                del d[k]
        out.append(d)
    return out


def test_metrics_and_job_summary_rows_are_pinned(spark, resumed_twice):
    """The metrics table and job_summary over a killed, resumed run plus a
    wave-less legacy attempt: rows and schemas as the rollup has always
    produced them."""
    out, _ = resumed_twice
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.schema.simpleString() == (
        "struct<attempt:int,docs:bigint,spans:bigint,images:bigint,"
        "errors:bigint,wall_ms_sum:bigint,parts:bigint>"
    )
    assert _by_rank(metrics.collect(), ["wall_ms_sum"]) == [
        dict(attempt=0, docs=12, spans=50, images=5, errors=3,
             wall_ms_sum=1700, parts=2),
        dict(attempt=1, docs=30, spans=270, images=53, errors=0, parts=26),
        dict(attempt=2, docs=30, spans=287, images=56, errors=0, parts=26),
    ]

    summary = P.job_summary(spark, out, num_parts=64)
    assert summary.schema.simpleString() == (
        "struct<attempt:int,waves:bigint,parts_done:bigint,docs:bigint,"
        "spans:bigint,images:bigint,errors:bigint,wall_ms_sum:bigint,"
        "docs_per_sec:double,completion:double>"
    )
    rows = summary.collect()
    assert [r["attempt"] for r in rows] == sorted(r["attempt"] for r in rows)
    assert _by_rank(rows, ["wall_ms_sum", "docs_per_sec"]) == [
        dict(attempt=0, waves=2, parts_done=2, docs=12, spans=50, images=5,
             errors=3, wall_ms_sum=1700, completion=0.0313),
        dict(attempt=1, waves=2, parts_done=26, docs=30, spans=270,
             images=53, errors=0, completion=0.4063),
        dict(attempt=2, waves=2, parts_done=26, docs=30, spans=287,
             images=56, errors=0, completion=0.4063),
    ]
