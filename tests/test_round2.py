"""Round-2 regression tests: ADVICE fixes (float32 parity, idempotent
wave writes, attribute escaping) and VERDICT asks (LSH bucket caps bound
the join). Short-doc shingle tests live in test_dedup.py, similarity
tests in test_similarity.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from readabilityimproved_spark.operators.dedup import minhash_lsh_pairs
from readabilityimproved_spark.operators.extract import reconstruct_html


def test_minhash_portable_matches_xxhash_pairs_semantics(spark):
    """portable_hash changes the hash family, not the contract: identical
    docs always collide in every band under either hash."""
    rows = [(str(i), "alpha beta gamma delta epsilon zeta") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    for portable in (False, True):
        pairs = minhash_lsh_pairs(df, portable_hash=portable).collect()
        assert len(pairs) == 6  # C(4,2), all 4 bands matching
        assert all(r["matching_bands"] == 4 for r in pairs)


# --- VERDICT: bucket caps bound the self-joins ------------------------------

def test_minhash_lsh_cap_bounds_join(spark):
    """150 identical docs all land in the same 4 band buckets; with the
    cap at 100 those hot buckets are dropped (join bounded), with the cap
    raised the C(150,2) pairs appear -- red if the cap predicate is
    removed."""
    rows = [(str(i), "same text in every document here okay") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    assert minhash_lsh_pairs(df, max_bucket_size=100).count() == 0
    assert minhash_lsh_pairs(df, max_bucket_size=200).count() == 150 * 149 // 2


# --- ADVICE medium: float32 scoring parity ----------------------------------

def test_link_density_is_float32():
    from readabilityimproved_spark.dom import parse
    from readabilityimproved_spark.kernel.readability import get_link_density

    doc = parse("<html><body><div><a>x</a>yz</div></body></html>")
    div = doc.get_elements_by_tag("div")[0]
    # 1/3 in float32 is 0.33333334f (Java), NOT 0.3333333333333333
    assert get_link_density(div) == float(np.float32(1.0) / np.float32(3.0))


def test_scale_content_score_truncates_in_float32():
    """score=30, density=1/3: Java computes 30 * 0.6666666f = 19.9999...
    -> 19; float64 would give 20 (the +/-1 divergences ADVICE measured)."""
    from readabilityimproved_spark.dom import parse
    from readabilityimproved_spark.kernel.readability import (
        CONTENT_SCORE,
        get_content_score,
        scale_content_score,
    )

    doc = parse("<html><body><div>t</div></body></html>")
    div = doc.get_elements_by_tag("div")[0]
    div.set_attr(CONTENT_SCORE, "30")
    d32 = float(np.float32(1.0) / np.float32(3.0))
    scale_content_score(div, float(np.float32(1.0) - np.float32(d32)))
    assert get_content_score(div) == 19


# --- ADVICE medium: idempotent wave writes -----------------------------------

def test_wave_rerun_replaces_not_duplicates(spark, tmp_path):
    """Crash between the extracted write and the lineage write: the wave
    re-runs on resume and must REPLACE its partitions (dynamic partition
    overwrite), not append duplicates."""
    import shutil

    from readabilityimproved_spark.plans.pipeline import run_extraction
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    write_synth_corpus(spark, 60, corpus)
    run_extraction(spark, corpus, out, num_parts=64, waves=4, fail_after_wave=2)
    # simulate the lineage write never landing: drop ALL commit markers,
    # so resume re-runs every wave over the already-written partitions
    shutil.rmtree(f"{out}/lineage")
    stats = run_extraction(spark, corpus, out, num_parts=64, waves=4)
    assert stats["parts_skipped"] == 0
    extracted = spark.read.parquet(f"{out}/extracted")
    assert extracted.count() == 60
    assert extracted.select("doc_id").distinct().count() == 60


def test_observe_lineage_counts_match_output(spark, tmp_path):
    from readabilityimproved_spark.plans.pipeline import run_extraction
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    write_synth_corpus(spark, 40, corpus)
    stats = run_extraction(spark, corpus, out, num_parts=64, waves=2)
    assert stats["docs"] == 40
    lineage = spark.read.parquet(f"{out}/lineage")
    extracted = spark.read.parquet(f"{out}/extracted")
    per_part = {
        r["part"]: r["cnt"]
        for r in extracted.groupBy("part").agg(F.count("*").alias("cnt")).collect()
    }
    for r in lineage.collect():
        assert r["doc_count"] == per_part.get(r["part"], 0)
    assert lineage.agg(F.sum("span_count")).collect()[0][0] == \
        extracted.agg(F.sum("n_spans")).collect()[0][0]


# --- ADVICE low: attribute escaping ------------------------------------------

def test_reconstruct_html_escapes_media_ref():
    spans = [
        {"kind": "image", "text": None,
         "media_ref": 'http://x/a"onerror="p.jpg>', "offset": 0},
    ]
    html = reconstruct_html(spans)
    assert html == '<img src="http://x/a&quot;onerror=&quot;p.jpg&gt;">'


def test_media_ref_roundtrips_through_kernel_attrs():
    """Entity-escaped src must decode back to the original ref when the
    tokenizer reads the attribute (URLs with & are the common case)."""
    from readabilityimproved_spark.dom import parse

    ref = "http://x/img.jpg?a=1&b=2"
    doc = parse(reconstruct_html(
        [{"kind": "image", "text": None, "media_ref": ref, "offset": 0}]
    ))
    img = doc.get_elements_by_tag("img")[0]
    assert img.attrs.get("src") == ref


# --- ADVICE low: ASCII-only whitespace (nbsp is not Java whitespace) ---------

def test_text_preserves_nbsp_like_jsoup():
    from readabilityimproved_spark.dom import parse

    doc = parse("<html><body><p>a&nbsp;&nbsp;b   c　d</p></body></html>")
    p = doc.get_elements_by_tag("p")[0]
    # ASCII runs collapse; nbsp and ideographic space survive untouched
    assert p.text() == "a\xa0\xa0b c　d"


# --- simhash hamming near-dup -------------------------------------------------

def test_simhash_neardup_finds_exact_and_near(spark):
    from readabilityimproved_spark.operators.dedup import simhash_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [("a", base), ("b", base), ("c", base + " zz"),
            ("d", "completely different words about unrelated topics entirely"
                  " nothing shared here at all with anything else")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_neardup_pairs(df, max_hamming=3).collect()}
    assert out[("a", "b")] == 0  # exact duplicate
    assert ("a", "d") not in out and ("b", "d") not in out


def test_simhash_neardup_requires_pigeonhole_completeness(spark):
    from readabilityimproved_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame([("a", "x y z")], "doc_id string, text string")
    with pytest.raises(ValueError):
        simhash_neardup_pairs(df, max_hamming=4, bands=4)


# --- plan guards: the cap is a window count BEFORE the self-join -------------

def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_plans_contain_window_cap(spark):
    from readabilityimproved_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_neardup_pairs,
    )
    from readabilityimproved_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    docs = spark.createDataFrame(
        [("a", "one two three four five")], "doc_id string, text string"
    )
    emb = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id bigint, embedding array<float>"
    )
    for df in (
        minhash_lsh_pairs(docs),
        simhash_neardup_pairs(docs),
        embedding_neardup_pairs(emb),
    ):
        plan = _physical_plan(df).lower()
        # windowed count + <= filter = the hot-bucket cap; red if removed
        assert "window" in plan, plan[:2000]
        assert "_bsz" in plan or "bsz" in plan, plan[:2000]


# --- raw-HTML file source (the reference's input mode) -----------------------

def test_read_html_files_roundtrip(spark, tmp_path):
    from readabilityimproved_spark.operators.extract import extract_spans
    from readabilityimproved_spark.sources.io import read_html_files

    for i in range(6):
        (tmp_path / f"p{i}.html").write_text(
            f'<html><body><div class="article content"><p>words {i}, long'
            " enough to pass the twenty-five char gate, with commas, more"
            " text here truly</p></div>"
            '<div class="sidebar">junk</div></body></html>'
        )
    df = read_html_files(spark, str(tmp_path / "*.html"), num_parts=8)
    assert set(df.columns) == {"doc_id", "spans", "part", "base_uri"}
    assert df.count() == 6
    parts = {r["part"] for r in df.select("part").collect()}
    assert parts <= set(range(8))
    out = extract_spans(df).collect()
    assert len(out) == 6 and all(r["status"] == "ok" for r in out)
    texts = [s["text"] for r in out for s in r["spans"]]
    assert all("junk" not in (t or "") for t in texts)


def test_minhash_signature_stage_is_shuffle_free(spark):
    """The signature computation is a pure per-row map: no Exchange may
    appear in its plan (the first shuffle belongs to the band-bucket
    stage). Red if someone reintroduces explode/distinct/groupBy."""
    from readabilityimproved_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [("a", "one two three four five")], "doc_id string, text string"
    )
    plan = _physical_plan(minhash_signatures(docs))
    assert "Exchange" not in plan, plan[:2000]


# --- stateful sessionizer == batch twin ---------------------------------------

def test_stateful_sessionizer_matches_batch_twin(spark, tmp_path):
    """Over a single availableNow batch, the applyInPandasWithState
    sessionizer's closed+open sessions must EQUAL the relational
    lag+cumsum twin (event-time gap semantics, ns precision)."""
    from readabilityimproved_spark.streaming.stream import (
        sessionize_events,
        sessionize_events_batch,
    )

    events_dir = str(tmp_path / "ev")
    # enough users/sessions for real gap boundaries; capped so the
    # per-group stateful pass keeps the suite fast
    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("user_id") % 7 == 0)
    )
    events.write.parquet(events_dir)
    want = {
        (r["user_id"],
         r["session_start"].replace(tzinfo=None) if r["session_start"].tzinfo
         else r["session_start"],
         r["session_end"].replace(tzinfo=None) if r["session_end"].tzinfo
         else r["session_end"],
         r["n_events"])
        for r in sessionize_events_batch(events).collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = str(tmp_path / "out")
    q = (
        sessionize_events(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # pending ProcessingTimeTimeouts keep availableNow scheduling empty
    # batches (the query never self-terminates while state is open), so
    # poll the sink until all sessions landed, then stop explicitly
    import time

    rows = []
    deadline = time.time() + 150
    while time.time() < deadline:
        try:
            rows = spark.read.parquet(out).collect()
        except Exception:
            rows = []
        if len(rows) >= len(want):
            break
        time.sleep(2)
    q.stop()
    got = {
        (r["user_id"],
         r["session_start"].replace(tzinfo=None) if r["session_start"].tzinfo
         else r["session_start"],
         r["session_end"].replace(tzinfo=None) if r["session_end"].tzinfo
         else r["session_end"],
         r["n_events"])
        for r in rows
    }
    assert got == want


# --- adversarial inputs: the operators must never crash the job --------------

def test_dedup_family_survives_adversarial_text(spark):
    from readabilityimproved_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        minhash_verified_pairs,
        simhash64,
        simhash_neardup_pairs,
    )

    rows = [
        ("n", None),                       # null text
        ("e", ""),                         # empty
        ("w", " \t\n "),                   # whitespace only
        ("u", "\xa0　\xa0"),           # unicode-ws only (1 'token')
        ("g", "x" * 100_000),              # one giant token
        ("m", "héllo wörld 你好 مرحبا 🎉 ok"),  # multilingual + emoji
        ("q", "a'b\"c\\d,e;f"),            # quoting/regex metachars
        ("ok1", "one two three four five six"),
        ("ok2", "one two three four five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    assert exact_dedup(df).count() >= 1
    assert minhash_lsh_pairs(df).count() >= 1          # (ok1, ok2)
    assert minhash_verified_pairs(df, threshold=0.5).count() >= 1
    assert simhash64(df).count() >= 1
    assert simhash_neardup_pairs(df).count() >= 1


# --- comments participate in innerHTML regex scans (Java parity) --------------

def test_comment_content_triggers_div_to_p_like_java(spark):
    """Java's DIV_TO_P check regex-scans innerHTML INCLUDING comments
    (jsoup html() serializes them): a div whose only block-trigger tag
    lives inside a comment must NOT be converted to <p> -- it keeps its
    div scoring prior. With comments dropped (round-1 behavior), the div
    would have converted and scored as a paragraph parent instead."""
    from readabilityimproved_spark.kernel.readability import extract_document

    # the comment contains '<div' -> DIV_TO_P_ELEMENTS matches innerHTML
    # -> the outer div is NOT div->p converted (matches Java)
    html_with = ('<html><body><div class="content"><p>words here with '
                 'commas, enough to pass the gate truly, ok</p>'
                 '<!-- <div>hidden</div> --></div></body></html>')
    r = extract_document(html_with, base_uri="http://h/a.html")
    assert r.status == "ok"
    texts = [sp[1] for sp in r.spans if sp[0] == "text"]
    assert any("words here" in (t or "") for t in texts)
    # and the comment text itself never leaks into output spans
    assert not any("hidden" in (t or "") for t in texts)
