"""The four benchmark workloads. Each rep is one closed-loop job through the
package's public calls; each workload checks its own outputs.

``extract``  synth articles -> operators.extract.extract_spans -> noop
``pipeline`` part-partitioned articles -> plans.pipeline.run_extraction,
             killed after wave 2, then resumed to completion
``links``    link-heavy pages -> operators.links.extract_outlinks ->
             host_link_graph and anchor_text_topk -> noop
``neardup``  texts with planted chain families ->
             operators.dedup.simhash_neardup_pairs ->
             operators.graph.neardup_clusters -> dedup_keep_representative -> noop
"""

from __future__ import annotations

import os
import random
import shutil
import time
from itertools import count

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from readabilityimproved_spark.dom import parse
from readabilityimproved_spark.kernel.readability import ReadabilityKernel, extract_document
from readabilityimproved_spark.operators.dedup import simhash64, simhash_neardup_pairs
from readabilityimproved_spark.operators.extract import extract_spans, reconstruct_html
from readabilityimproved_spark.operators.graph import dedup_keep_representative, neardup_clusters
from readabilityimproved_spark.operators.links import (
    anchor_text_topk,
    extract_outlinks,
    host_link_graph,
)
from readabilityimproved_spark.plans.pipeline import run_extraction

from . import inputs

_obs_ids = count()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observation() -> Observation:
    return Observation(f"perfbench_{next(_obs_ids)}")


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def _id_hash_sum(ids) -> int:
    """Sum of Spark's xxhash64 over string ids, computed in-process."""
    return sum(_signed(inputs.xxhash64(str(i).encode())) for i in ids)


def _read_docs(path: str) -> list[dict]:
    """The corpus rows, read in-process (hive ``part=`` dirs included)."""
    return pq.read_table(path).to_pylist()


class _Capture:
    """Stands in for a DataFrame to capture the per-batch function an
    operator hands to ``mapInPandas``, so it can be timed in-process."""

    def __init__(self, schema=None):
        self.schema = schema
        self.fn = None

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _weighted_sample(rng: random.Random, docs: list[dict], per_stratum: int = 24):
    """Stratified sample: (doc, weight) with weights summing to len(docs).
    Giants, hostile pages and normal pages are sampled apart so the
    per-document means carry each class at its corpus share."""
    strata: dict[str, list[dict]] = {}
    for d in docs:
        spans = d["spans"] or [{"text": ""}]
        if len(spans) > 200:  # plans.pipeline.GIANT_SPAN_THRESHOLD
            key = "giant"
        elif "<div>" * 10 in (spans[0]["text"] or ""):
            key = "hostile"
        else:
            key = "normal"
        strata.setdefault(key, []).append(d)
    out = []
    for members in strata.values():
        picked = rng.sample(members, min(per_stratum, len(members)))
        out.extend((d, len(members) / len(picked)) for d in picked)
    return out


def _weighted_quantile(values: list[tuple[float, float]], q: float) -> float:
    values = sorted(values)
    total = sum(w for _, w in values)
    acc = 0.0
    for v, w in values:
        acc += w
        if acc >= q * total:
            return v
    return values[-1][0] if values else 0.0


def kernel_layers(docs: list[dict], seed: int, n_docs: int) -> dict:
    """In-process per-document layer times (ms/doc) on a seeded sample:
    reconstruct, DOM parse, and the kernel's prep, grab_article, images and
    the remainder of extract_document (span emission)."""
    sample = _weighted_sample(random.Random(seed + 2), docs)
    acc = dict.fromkeys(("reconstruct", "parse", "prep", "grab", "images", "emit", "batch"), 0.0)
    totals = []
    batch_fn = extract_spans(_Capture()).fn
    import pandas as pd

    for d, w in sample:
        html, t_rec = _timed(reconstruct_html, d["spans"])
        _, t_total = _timed(extract_document, html, base_uri=d["base_uri"] or "")
        parts = {"parse": 0.0, "prep": 0.0, "grab": 0.0, "images": 0.0}
        try:
            k, parts["parse"] = _timed(ReadabilityKernel, html, d["base_uri"] or "")
            _, parts["prep"] = _timed(k.prep_document)
            _, parts["grab"] = _timed(k.grab_article, False)
            _, parts["images"] = _timed(k.accepted_images)
        except RecursionError:
            pass  # a hostile page stops where the kernel gives up on it
        pdf = pd.DataFrame([{k2: d[k2] for k2 in ("doc_id", "base_uri", "spans")}])
        _, t_batch = _timed(lambda: list(batch_fn(iter([pdf]))))
        acc["reconstruct"] += w * t_rec
        for key, v in parts.items():
            acc[key] += w * v
        acc["emit"] += w * max(t_total - sum(parts.values()), 0.0)
        acc["batch"] += w * t_batch
        totals.append((t_total * 1000, w))
    per_doc = {k: v * 1000 / n_docs for k, v in acc.items()}
    return {
        "extract.reconstruct_ms_per_doc": per_doc["reconstruct"],
        "dom.parse_ms_per_doc": per_doc["parse"],
        "kernel.prep_ms_per_doc": per_doc["prep"],
        "kernel.grab_article_ms_per_doc": per_doc["grab"],
        "kernel.images_ms_per_doc": per_doc["images"],
        "kernel.emit_ms_per_doc": per_doc["emit"],
        "kernel.doc_ms_p50": _weighted_quantile(totals, 0.5),
        "kernel.doc_ms_p99": _weighted_quantile(totals, 0.99),
        "_batch_ms_per_doc": per_doc["batch"],
    }


def _statuses(rows) -> dict:
    ok = sum(1 for r in rows if r == "ok")
    oversize = sum(1 for r in rows if r == "oversize")
    return {
        "kernel.status_ok": ok,
        "kernel.status_oversize": oversize,
        "kernel.status_error": len(rows) - ok - oversize,
    }


class Workload:
    """One workload: ``rep`` runs a job and returns its result summary;
    ``check`` validates outputs after the timed loop and returns errors."""

    name = ""

    def __init__(self, spark, docs_path: str, expected: dict, work_dir: str, seed: int):
        self.spark = spark
        self.path = docs_path
        self.expected = expected
        self.work = work_dir
        self.seed = seed
        self.n_docs = expected["docs"]
        self.errors: list[str] = []

    def _expect(self, cond: bool, msg: str) -> None:
        if not cond and msg not in self.errors:
            self.errors.append(msg)

    def prepare(self) -> None:
        """Untimed per-run work (reference values the reps compare to)."""

    def warm_up(self, tracer) -> None:
        """An untimed job that finishes lazy set-up (JIT, caches) first."""
        self.rep(tracer)

    def rep(self, tracer) -> dict:
        raise NotImplementedError

    def check(self) -> dict:
        """Post-loop checks; returns metrics they measure."""
        return {}

    def in_process_layers(self) -> dict:
        return {}


class Extract(Workload):
    name = "extract"

    def prepare(self):
        ids = [r["doc_id"] for r in pq.read_table(self.path, columns=["doc_id"]).to_pylist()]
        self.id_sum = _id_hash_sum(ids)

    def rep(self, tracer):
        obs = _observation()
        with tracer.span("read"):
            docs = self.spark.read.parquet(self.path)
        with tracer.span("operators.extract.extract_spans"):
            out = extract_spans(docs).observe(
                obs,
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")).alias("id_sum"),
                F.sum((F.col("status") == "ok").cast("int")).alias("ok"),
                F.sum((F.col("status") == "oversize").cast("int")).alias("oversize"),
            )
        with tracer.span("sink.noop"):
            _noop(out)
        m = obs.get
        self._expect(m["docs"] == self.n_docs, f"extract emitted {m['docs']} rows for {self.n_docs} docs")
        self._expect(int(m["id_sum"]) == self.id_sum, "extract output doc_ids differ from the input's")
        failed = m["docs"] - m["ok"]
        self._expect(failed == self.expected["hostile"], f"{failed} non-ok docs, planted {self.expected['hostile']}")
        self.status = {
            "kernel.status_ok": m["ok"],
            "kernel.status_oversize": m["oversize"],
            "kernel.status_error": m["docs"] - m["ok"] - m["oversize"],
        }
        return {"docs": self.n_docs, "failed_docs": self.n_docs - m["ok"]}

    def check(self):
        sample = self.expected["sample"]
        docs = self.spark.read.parquet(self.path).filter(F.col("doc_id").isin(list(sample)))
        rows = extract_spans(docs).select("doc_id", "status", "spans").collect()
        got = {r["doc_id"]: inputs.result_hash(r["status"], r["spans"]) for r in rows}
        self._expect(got == sample, "extract spans differ from in-process extract_document on the sample")
        return self.status

    def in_process_layers(self):
        return kernel_layers(_read_docs(self.path), self.seed, self.n_docs)


class Pipeline(Workload):
    name = "pipeline"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.reps = 0
        self.input_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.path)
            for f in fs
        )

    def _out(self, k: int) -> str:
        return os.path.join(self.work, f"pipeline-rep{k}")

    def warm_up(self, tracer) -> None:
        # every code path of a rep (wave write, commit, lineage, resume
        # read, rollup) in a fraction of its Spark jobs: one wave, then a
        # resume that finds every part done
        out = os.path.join(self.work, "pipeline-warm-up")
        run_extraction(self.spark, self.path, out, waves=1, resume=False)
        run_extraction(self.spark, self.path, out, waves=1, resume=True)
        shutil.rmtree(out, ignore_errors=True)

    def rep(self, tracer):
        out = self._out(self.reps)
        shutil.rmtree(self._out(self.reps - 1), ignore_errors=True)
        self.reps += 1
        t0 = time.perf_counter()
        with tracer.span("plans.pipeline.run_extraction[killed]"):
            first = run_extraction(self.spark, self.path, out, waves=4, resume=False, fail_after_wave=2)
        t1 = time.perf_counter()
        with tracer.span("plans.pipeline.run_extraction[resume]"):
            second = run_extraction(self.spark, self.path, out, waves=4, resume=True)
        t2 = time.perf_counter()
        docs = first["docs"] + second["docs"]
        self._expect(first.get("failed_injected") is True, "the first attempt was not interrupted")
        self._expect(docs == self.n_docs, f"pipeline committed {docs} docs of {self.n_docs}")
        lineage = self.spark.read.parquet(os.path.join(out, "lineage")).collect()
        errors = sum(r["error_count"] for r in lineage)
        self._expect(errors == self.expected["hostile"], f"{errors} non-ok docs, planted {self.expected['hostile']}")
        waves = {(r["attempt"], r["wave"]): r["wall_ms"] / 1000 for r in lineage}
        files, out_bytes = 0, 0
        for d, _, fs in os.walk(out):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    out_bytes += os.path.getsize(os.path.join(d, f))
        self.last_out = out
        return {
            "docs": docs,
            "failed_docs": errors,
            "job_s": t2 - t0,  # both attempts, without the checks above
            "resume_s": t2 - t1,
            "layers": {
                "pipeline.wave_s": sum(waves.values()) / max(len(waves), 1),
                "pipeline.commit_s": (t2 - t0) - sum(waves.values()),
                "pipeline.files_written": files,
                "pipeline.write_amplification": out_bytes / self.input_bytes,
                "pipeline.parts_skipped": second["parts_skipped"],
            },
        }

    def check(self):
        rows = (
            self.spark.read.parquet(os.path.join(self.last_out, "extracted"))
            .select("doc_id", "status", "spans")
            .collect()
        )
        ids = [r["doc_id"] for r in rows]
        self._expect(len(ids) == len(set(ids)), "a doc_id appears twice in the resumed output")
        got = {r["doc_id"]: inputs.result_hash(r["status"], r["spans"]) for r in rows}
        self._expect(
            got == self.expected["all"],
            "killed-and-resumed output differs from one uninterrupted pass",
        )
        return _statuses([r["status"] for r in rows])

    def in_process_layers(self):
        return kernel_layers(_read_docs(self.path), self.seed, self.n_docs)


class Links(Workload):
    name = "links"

    def rep(self, tracer):
        obs = _observation()
        with tracer.span("read"):
            docs = self.spark.read.parquet(self.path)
        with tracer.span("operators.links.extract_outlinks"):
            outlinks = extract_outlinks(docs)
            observed = outlinks.observe(
                obs,
                F.count(F.lit(1)).alias("links"),
                F.sum((F.col("link_no") == 0).cast("int")).alias("docs_with_links"),
            )
        with tracer.span("operators.links.host_link_graph"):
            _noop(host_link_graph(observed.join(docs.select("doc_id", "base_uri"), "doc_id")))
        with tracer.span("operators.links.anchor_text_topk"):
            _noop(anchor_text_topk(outlinks))
        m = obs.get
        self._expect(m["links"] == self.expected["links"], f"{m['links']} outlinks, expected {self.expected['links']}")
        self._expect(
            m["docs_with_links"] == self.expected["docs_with_links"],
            f"{m['docs_with_links']} docs with links, expected {self.expected['docs_with_links']}",
        )
        self.links = m["links"]
        return {"docs": self.n_docs, "failed_docs": self.n_docs - m["docs_with_links"]}

    def check(self):
        sample = self.expected["sample"]
        docs = self.spark.read.parquet(self.path).filter(F.col("doc_id").isin(list(sample)))
        got: dict[str, list] = {i: [] for i in sample}
        for r in extract_outlinks(docs).orderBy("doc_id", "link_no").collect():
            got[r["doc_id"]].append([r["link_no"], r["url"], r["anchor"], r["rel"]])
        bad = sorted(i for i in sample if got[i] != sample[i])
        self._expect(not bad, f"outlinks of {bad[:3]} differ from the in-process dom.parse anchor walk")
        return {"links.links_per_doc": self.links / self.n_docs}

    def in_process_layers(self):
        docs = _read_docs(self.path)
        sample = random.Random(self.seed + 2).sample(docs, min(64, len(docs)))
        acc = {"reconstruct": 0.0, "parse": 0.0, "walk": 0.0, "batch": 0.0}
        batch_fn = extract_outlinks(_Capture(self.spark.read.parquet(self.path).schema)).fn
        import pandas as pd

        for d in sample:
            html, t = _timed(reconstruct_html, d["spans"])
            acc["reconstruct"] += t
            tree, t = _timed(parse, html, base_uri=d["base_uri"] or "")
            acc["parse"] += t
            t0 = time.perf_counter()
            for a in tree.get_elements_by_tag("a", include_self=False):
                if a.attr("href"):
                    a.abs_url("href")
                    a.text()
                    a.attr("rel")
            acc["walk"] += time.perf_counter() - t0
            pdf = pd.DataFrame([{k: d[k] for k in ("doc_id", "base_uri", "spans")}])
            acc["batch"] += _timed(lambda: list(batch_fn(iter([pdf]))))[1]
        per_doc = {k: v * 1000 / len(sample) for k, v in acc.items()}
        return {
            "extract.reconstruct_ms_per_doc": per_doc["reconstruct"],
            "dom.parse_ms_per_doc": per_doc["parse"],
            "links.walk_ms_per_doc": per_doc["walk"],
            "_batch_ms_per_doc": per_doc["batch"],
        }


def _union_find_labels(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class NearDup(Workload):
    name = "neardup"

    def rep(self, tracer):
        obs = _observation()
        with tracer.span("read"):
            docs = self.spark.read.parquet(self.path)
        with tracer.span("operators.dedup.simhash_neardup_pairs"):
            pairs = simhash_neardup_pairs(docs)
            pair_rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
        with tracer.span("operators.graph.neardup_clusters"):
            labels = {r["doc_id"]: r["cluster_id"] for r in neardup_clusters(pairs).collect()}
        with tracer.span("operators.graph.dedup_keep_representative"):
            kept = dedup_keep_representative(docs, pairs).observe(obs, F.count(F.lit(1)).alias("kept"))
            _noop(kept)
        expected_pairs = {tuple(p) for p in self.expected["pairs"]}
        self._expect(set(pair_rows) == expected_pairs, f"{len(pair_rows)} pairs, planted {len(expected_pairs)}")
        self._expect(labels == _union_find_labels(pair_rows), "cluster labels differ from union-find over the pairs")
        clusters = [{labels.get(d) for d in fam} for fam in self.expected["families"]]
        self._expect(
            all(len(c) == 1 and None not in c for c in clusters)
            and len({next(iter(c)) for c in clusters}) == len(clusters),
            "planted near-duplicate families did not come back as clusters",
        )
        losers = sum(len(f) - 1 for f in self.expected["families"])
        self._expect(obs.get["kept"] == self.n_docs - losers, f"kept {obs.get['kept']} docs")
        self.pairs, self.components = len(pair_rows), len(set(labels.values()))
        return {"docs": self.n_docs, "failed_docs": self.no_fingerprint}

    def prepare(self):
        # documents the pair stage cannot fingerprint (no text): the same
        # simhash64 the pair operator runs, counted once per run
        fingerprinted = simhash64(self.spark.read.parquet(self.path)).count()
        self.no_fingerprint = self.n_docs - fingerprinted
        self._expect(self.no_fingerprint == self.expected["no_text"], "fingerprint-less docs differ from planted")

    def check(self):
        return {"dedup.pairs": self.pairs, "graph.components": self.components}


WORKLOADS = {w.name: w for w in (Extract, Pipeline, Links, NearDup)}
