"""Seeded input generation for the benchmark workloads, with a digest-checked cache.

Every corpus is a pure function of (workload, seed, size): the seed picks the
``sources.synth.make_document`` index range and the benchmark's own choices
(hostile documents, link-farm pages, near-duplicate families). Inputs are
written as many parquet files, or ``part=N`` directories for the pipeline,
never as one file, so scans split the way a production layout does.

Alongside the files, each corpus stores the answers the correctness gate
compares against, computed in-process with the package's own per-document
functions. A cache entry is reused only when every file's sha256 matches
its manifest and the generator source is unchanged; anything else is
regenerated, so a stale corpus is never measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from readabilityimproved_spark.dom import parse
from readabilityimproved_spark.kernel.readability import extract_document
from readabilityimproved_spark.operators.extract import reconstruct_html
from readabilityimproved_spark.sources import synth

SIZES = {"extract": 1000, "pipeline": 600, "links": 1200, "neardup": 2000}
# parquet files per unpartitioned corpus: many small files, so the
# byte-based split packing leaves no large leftover task to straggle
FILES = 64
SAMPLE = 16  # documents in the correctness sample
HOSTILE_EVERY = 100  # one hostile document per this many
NEST_DEPTH = 400  # nesting that the kernel reports as status 'oversize'

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOC_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("base_uri", pa.string()), ("spans", SPAN_TYPE)]
)


def _generator_hash() -> str:
    h = hashlib.sha256()
    for path in (__file__, synth.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def result_hash(status: str, spans) -> str:
    """Order-sensitive digest of one document's extraction output."""
    body = repr((status, [tuple(s) for s in spans]))
    return hashlib.sha1(body.encode()).hexdigest()


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _hostile_spans() -> list[dict]:
    # deep nesting around a short paragraph: the kernel's recursion limit
    # trips and it reports 'oversize' instead of extracting
    html = (
        f"<html><body>{'<div>' * NEST_DEPTH}<p>deep, nested</p>"
        f"{'</div>' * NEST_DEPTH}</body></html>"
    )
    return [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]


# --- extract / pipeline ---------------------------------------------------


def _paragraph_multiplier(doc: dict) -> int:
    paras = sum(1 for s in doc["spans"] if (s["text"] or "").startswith("<p>"))
    return paras // 100


def _article_docs(seed: int, n: int) -> tuple[list[dict], list[str]]:
    """n synth documents: normal pages from a seeded index range, ~1%
    giants (100x paragraphs) and one hostile page per HOSTILE_EVERY.

    The giants' sizes follow a fixed mix (multipliers 3, 4, ... 12 in
    turn), found by scanning giant indices from a seeded start, and each
    lands in its own stretch of the corpus: giants carry about half of the
    kernel work, so a seed that drew only large giants, or packed them
    into one task, would move docs_per_s more than most code changes do."""
    rng = random.Random(seed)
    start = rng.randrange(10**7)
    n_giants = max(1, n // 100)
    docs, i = [], start
    while len(docs) < n - n_giants:
        if i % synth.GIANT_EVERY != synth.GIANT_EVERY - 1:
            docs.append(synth.make_document(i))
        i += 1
    wanted = [3 + k % 10 for k in range(n_giants)]
    giants = []
    i = (10**8 + rng.randrange(10**8)) // synth.GIANT_EVERY * synth.GIANT_EVERY
    i += synth.GIANT_EVERY - 1  # the giant slot of that block
    while wanted:
        giant = synth.make_document(i)
        mult = _paragraph_multiplier(giant)
        if mult in wanted:
            wanted.remove(mult)
            giants.append(giant)
        i += synth.GIANT_EVERY
    rng.shuffle(giants)
    # one giant at a random place in each equal stretch of the corpus, so
    # no seed piles several giants into one file's task
    stretch = len(docs) // n_giants
    for k, giant in reversed(list(enumerate(giants))):
        docs.insert(k * stretch + rng.randrange(stretch), giant)
    normal = [k for k, d in enumerate(docs) if len(d["spans"]) <= 200]
    hostile = []
    for k in sorted(rng.sample(normal, n // HOSTILE_EVERY)):
        docs[k]["spans"] = _hostile_spans()
        hostile.append(docs[k]["doc_id"])
    return docs, hostile


def _sample_ids(rng: random.Random, docs: list[dict], hostile: list[str]) -> list[str]:
    giants = [
        d["doc_id"] for d in docs if len(d["spans"]) > 200
    ]  # same cut as plans.pipeline.GIANT_SPAN_THRESHOLD
    ids = [d["doc_id"] for d in docs]
    picked = set(rng.sample(hostile, min(2, len(hostile))))
    picked.update(rng.sample(giants, min(2, len(giants))))
    while len(picked) < SAMPLE:
        picked.add(rng.choice(ids))
    return sorted(picked)


def _extract_expected(docs: list[dict], ids) -> dict[str, str]:
    by_id = {d["doc_id"]: d for d in docs}
    out = {}
    for i in ids:
        d = by_id[i]
        r = extract_document(reconstruct_html(d["spans"]), base_uri=d["base_uri"])
        out[i] = result_hash(r.status, r.spans)
    return out


def _gen_extract(seed: int, n: int, root: str) -> dict:
    docs, hostile = _article_docs(seed, n)
    per = -(-n // FILES)
    schema = DOC_SCHEMA.append(pa.field("part", pa.int32()))
    for f in range(FILES):
        chunk = docs[f * per : (f + 1) * per]
        _write(pa.Table.from_pylist(chunk, schema=schema), f"{root}/docs/f{f:02d}.parquet")
    sample = _sample_ids(random.Random(seed + 1), docs, hostile)
    return {
        "docs": n,
        "hostile": len(hostile),
        "giants": sum(len(d["spans"]) > 200 for d in docs),
        "sample": _extract_expected(docs, sample),
    }


def _gen_pipeline(seed: int, n: int, root: str) -> dict:
    docs, hostile = _article_docs(seed, n)
    by_part: dict[int, list[dict]] = {}
    for d in docs:
        by_part.setdefault(d["part"], []).append(
            {k: d[k] for k in ("doc_id", "base_uri", "spans")}
        )
    for p, rows in sorted(by_part.items()):
        _write(
            pa.Table.from_pylist(rows, schema=DOC_SCHEMA),
            f"{root}/docs/part={p}/f0.parquet",
        )
    return {
        "docs": n,
        "hostile": len(hostile),
        "parts": len(by_part),
        "giants": sum(len(d["spans"]) > 200 for d in docs),
        # the reference for the resumed output: every document through
        # the kernel in one uninterrupted in-process pass
        "all": _extract_expected(docs, [d["doc_id"] for d in docs]),
    }


# --- links ------------------------------------------------------------------

LINK_WORDS = (
    "home world sport weather opinion video archive latest more partner "
    "review market travel science health culture"
).split()


def _link_page(rng: random.Random, k: int, hosts: list[str], hostile: bool) -> dict:
    site = rng.choice(hosts)
    doc_id = f"link-{k:07d}"
    parts = [f"<html><head><title>page {k}</title></head><body><div id='nav'>"]
    for j in range(rng.randrange(20, 60)):
        text = " ".join(rng.choice(LINK_WORDS) for _ in range(rng.randrange(1, 4)))
        if hostile or rng.random() < 0.3:
            href = f"/{rng.choice(LINK_WORDS)}/{j}.html"  # relative
        else:
            href = f"http://{rng.choice(hosts)}/{rng.choice(LINK_WORDS)}/{j}.html"
        rel = ' rel="nofollow"' if rng.random() < 0.1 else ""
        parts.append(f'<a href="{href}"{rel}>{text}</a>')
        if j % 7 == 6:
            parts.append(f"</div><p>{synth._paragraph(rng)}</p><div>")
    parts.append("</div></body></html>")
    return {
        "doc_id": doc_id,
        # a page with no base URI and only relative hrefs has no
        # resolvable outlink: it is the link workload's failure case
        "base_uri": None if hostile else f"http://{site}/{k}.html",
        "spans": [
            {"kind": "html", "text": "".join(parts), "media_ref": None, "offset": 0}
        ],
    }


def outlinks_in_process(doc: dict) -> list[tuple]:
    """The anchor walk the link operator performs, run in-process."""
    html = reconstruct_html(doc["spans"])
    tree = parse(html, base_uri=doc["base_uri"] or "")
    out = []
    for a in tree.get_elements_by_tag("a", include_self=False):
        if not a.attr("href"):
            continue
        url = a.abs_url("href")
        if url:
            out.append((len(out), url, a.text(), a.attr("rel")))
    return out


def _gen_links(seed: int, n: int, root: str) -> dict:
    rng = random.Random(seed)
    hosts = [f"h{rng.randrange(10**6)}.example.{t}" for t in ("com", "org", "net") for _ in range(12)]
    phase = rng.randrange(HOSTILE_EVERY)
    docs = [
        _link_page(rng, seed * 100_000 + k, hosts, k % HOSTILE_EVERY == phase)
        for k in range(n)
    ]
    per = -(-n // FILES)
    for f in range(FILES):
        _write(
            pa.Table.from_pylist(docs[f * per : (f + 1) * per], schema=DOC_SCHEMA),
            f"{root}/docs/f{f:02d}.parquet",
        )
    walks = [outlinks_in_process(d) for d in docs]
    sample = sorted(random.Random(seed + 1).sample(range(n), SAMPLE))
    return {
        "docs": n,
        "links": sum(len(w) for w in walks),
        "docs_with_links": sum(1 for w in walks if w),
        "sample": {docs[i]["doc_id"]: walks[i] for i in sample},
    }


# --- neardup ----------------------------------------------------------------

_M = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for a string (seed 42);
    unsigned. Used to plant near-duplicate families at known distances."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def simhash(token_ids: list[int], bits: np.ndarray) -> int:
    """operators.dedup.simhash64 in-process: bit b (0..62) is set when
    more than half of the tokens' hashes have it set. ``bits`` holds one
    row of 63 hash bits per vocabulary word."""
    ones = bits[token_ids].sum(axis=0)
    return sum(1 << b for b in np.nonzero(2 * ones > len(token_ids))[0].tolist())


def hamming_pairs(sims: dict[int, int], bands: int = 4, max_hamming: int = 3) -> set[tuple[int, int]]:
    """All id pairs (a < b) within ``max_hamming`` bits, by pigeonhole banding."""
    width = 64 // bands
    out = set()
    for b in range(bands):
        buckets: dict[int, list[int]] = {}
        for i, s in sims.items():
            buckets.setdefault((s >> (b * width)) & ((1 << width) - 1), []).append(i)
        for ids in buckets.values():
            ids.sort()
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    a, c = ids[x], ids[y]
                    if bin(sims[a] ^ sims[c]).count("1") <= max_hamming:
                        out.add((a, c))
    return out


FAMILIES_PER_1000 = 10
CHAIN = 8  # documents per planted family, each within 3 bits of the previous only


def _gen_neardup(seed: int, n: int, root: str) -> dict:
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choice(letters) for _ in range(rng.randrange(3, 10))) for _ in range(3000)}
    )
    hashes = [xxhash64(w.encode()) for w in vocab]
    bits = np.array([[(h >> b) & 1 for b in range(63)] for h in hashes], dtype=np.int32)

    def ham(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    def random_doc() -> list[int]:
        return [rng.randrange(len(vocab)) for _ in range(rng.randrange(60, 120))]

    docs: list[tuple[list[int] | None, int | None]] = []
    families: list[list[int]] = []
    while len(families) < n * FAMILIES_PER_1000 // 1000:
        chain = [random_doc()]
        sims = [simhash(chain[0], bits)]
        for _ in range(4000):
            if len(chain) == CHAIN:
                break
            cand = list(chain[-1])
            for _ in range(rng.randrange(1, 3)):
                cand[rng.randrange(len(cand))] = rng.randrange(len(vocab))
            s = simhash(cand, bits)
            # a path, not a clique: close to the previous member only, so
            # label propagation has to walk the chain
            if 1 <= ham(s, sims[-1]) <= 3 and all(ham(s, p) > 3 for p in sims[:-1]):
                chain.append(cand)
                sims.append(s)
        if len(chain) == CHAIN:
            families.append(list(range(len(docs), len(docs) + CHAIN)))
            docs.extend(zip(chain, sims))
    hostile = set(rng.sample(range(len(docs), n), n // HOSTILE_EVERY))
    while len(docs) < n:
        if len(docs) in hostile:
            docs.append((None, None))  # no text, so no fingerprint
        else:
            toks = random_doc()
            docs.append((toks, simhash(toks, bits)))
    # shuffle positions so families spread over files, then assign ids
    order = list(range(n))
    rng.shuffle(order)
    base = 1_000_000
    doc_id = {k: base + pos for pos, k in enumerate(order)}
    families = [[doc_id[k] for k in f] for f in families]
    texts = {
        doc_id[k]: None if toks is None else " ".join(vocab[t] for t in toks)
        for k, (toks, _) in enumerate(docs)
    }
    sims_by_id = {doc_id[k]: s for k, (_, s) in enumerate(docs) if s is not None}
    pairs = hamming_pairs(sims_by_id)
    planted = {tuple(sorted((f[i], f[i + 1]))) for f in families for i in range(CHAIN - 1)}
    if pairs != planted:
        # random 63-bit fingerprints collide within 3 bits with odds
        # ~1e-7 per corpus; refuse rather than plant an unknown cluster
        raise RuntimeError(f"seed {seed}: stray near-duplicate pairs {sorted(pairs - planted)[:3]}")
    ids = sorted(texts)
    per = -(-len(ids) // FILES)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    for f in range(FILES):
        chunk = ids[f * per : (f + 1) * per]
        _write(
            pa.Table.from_pylist([{"doc_id": i, "text": texts[i]} for i in chunk], schema=schema),
            f"{root}/docs/f{f:02d}.parquet",
        )
    return {
        "docs": len(ids),
        "no_text": sum(1 for t in texts.values() if t is None),
        "families": families,
        "pairs": sorted(pairs),
    }


GENERATORS = {
    "extract": _gen_extract,
    "pipeline": _gen_pipeline,
    "links": _gen_links,
    "neardup": _gen_neardup,
}


def _verified(root: str) -> dict | None:
    """The manifest when every listed file is present and unmodified."""
    try:
        with open(f"{root}/manifest.json") as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    found = set()
    for dirpath, _, names in os.walk(f"{root}/docs"):
        for name in names:
            found.add(os.path.relpath(os.path.join(dirpath, name), root))
    if found != set(manifest["files"]):
        return None
    for rel, digest in manifest["files"].items():
        if _sha256(f"{root}/{rel}") != digest:
            return None
    return manifest


def corpus(cache_dir: str, workload: str, seed: int, size: int | None = None) -> tuple[str, dict]:
    """(docs path, expected answers) for the workload's corpus, from the
    cache when its digests verify, else freshly generated."""
    size = size or SIZES[workload]
    root = os.path.join(cache_dir, f"{workload}-s{seed}-n{size}-g{_generator_hash()}")
    manifest = _verified(root)
    if manifest is None:
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        expected = GENERATORS[workload](seed, size, tmp)
        files = {}
        for dirpath, _, names in os.walk(f"{tmp}/docs"):
            for name in names:
                rel = os.path.relpath(os.path.join(dirpath, name), tmp)
                files[rel] = _sha256(os.path.join(tmp, rel))
        manifest = {"files": files, "expected": expected}
        with open(f"{tmp}/manifest.json", "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, root)
        manifest = _verified(root)  # answers as every later run reads them
    return os.path.join(root, "docs"), manifest["expected"]
