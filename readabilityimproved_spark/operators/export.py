"""Training-export operators: deterministic global shuffle into balanced
shards, and deterministic hash splits (train/val/test).

Training pipelines need the corpus in pseudo-random order — adjacent
documents from one crawl/source bias a batch — but the shuffle must be
REPRODUCIBLE: the same corpus + seed must yield the same order on any
cluster, any partitioning, any day, or training runs aren't comparable.
A `df.orderBy(rand())` is neither reproducible nor scalable (one global
sort). Both operators here key on a deterministic per-id mix instead.

Scale shape:

* `shuffle_shards`: shard = mix(id) % n is a narrow map; the in-shard
  position is a row_number window PER SHARD — one exchange on the shard
  key and an in-partition sort, never a global sort. At 10^12 docs pick
  n_shards ~ corpus/shard_size_target; each shard sorts independently
  and writes independently (`partitionBy("shard")`).
* `hash_split` is a pure narrow map (one CASE over the mix) — zero
  shuffle, partitioning-invariant, and stable under corpus growth: a
  document's split never changes when other documents are added, unlike
  fraction-based `randomSplit`.

Two mixes:

* ``mix='xxhash64'`` (default): Spark's 64-bit xxHash — best avalanche,
  use in production.
* ``mix='portable'``: a 31-bit LCG (Knuth/glibc constants) expressible
  in ANSI SQL — the same permutation is replayable in any engine, which
  is what the driver's DuckDB oracle does. Mixing quality is lower but
  fine for shuffling; the LCG folds the id to 31 bits first so the
  arithmetic never overflows a signed 64-bit intermediate at any id.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_LCG_MOD = 2_147_483_648  # 2^31
_LCG_MUL = 1_103_515_245
_LCG_INC = 12_345
_SPLIT_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _mix_col(id_col: str, seed: int, mix: str) -> Column:
    idc = F.col(id_col).cast("bigint")
    if mix == "xxhash64":
        return F.xxhash64(idc, F.lit(seed))
    if mix == "portable":
        folded = F.pmod(idc + F.lit(seed), F.lit(_LCG_MOD))
        # folded <= 2^31-1, * MUL ~ 2.4e18 < 2^63-1: no overflow
        return F.pmod(
            folded * F.lit(_LCG_MUL) + F.lit(_LCG_INC), F.lit(_LCG_MOD)
        )
    raise ValueError(f"mix must be 'xxhash64' or 'portable', got {mix!r}")


def portable_mix_sql(id_expr: str, seed: int = 0) -> str:
    """The ``mix='portable'`` expression in ANSI SQL (DuckDB-ready), for
    oracle replays: ``((id + seed) % 2^31 * MUL + INC) % 2^31``. Assumes
    a non-negative id (the %-operator's negative semantics differ across
    engines; Spark-side `pmod` normalizes, plain SQL `%` does not)."""
    return (
        f"(({id_expr} + {seed}) % {_LCG_MOD} * {_LCG_MUL} + {_LCG_INC})"
        f" % {_LCG_MOD}"
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    mix: str = "xxhash64",
) -> DataFrame:
    """All input columns plus ``(shard, pos)``: a deterministic
    pseudo-random permutation of the corpus as ``n_shards`` balanced
    shards with dense in-shard positions 0..k-1. Reading shards in
    order (shard, pos) replays the same global order anywhere. Ties on
    the mix (hash collisions) break on the id itself, so the order is
    total and reproducible even across colliding ids.

    SIZE n_shards TO THE DATA: dense in-shard positions require each
    shard to sort within one window partition, so a shard is a
    single-task sort — n_shards=8 over 10^12 docs means 8 tasks sorting
    ~10^11 rows each. Pick n_shards = corpus_size / shard_size_target
    (at trillion-doc scale that is 10^4-10^6 shards of 10^6-10^8 docs),
    which also matches how training readers consume shards.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if id_col not in df.columns:
        raise ValueError(
            f"id column {id_col!r} not in input; columns: {df.columns}"
        )
    h = F.pmod(_mix_col(id_col, seed, mix), F.lit(_LCG_MOD))
    # shard by the mix's HIGH bits (range bucket), not h % n: an LCG's
    # low bits have short periods (sequential ids stripe perfectly),
    # while the high bits are well mixed; floor(h*n / 2^31) is the
    # shift below — exact integer math in any engine (h < 2^31, so
    # h*n < 2^63 for any sane n_shards, and / 2^31 == >> 31 for >= 0)
    out = df.withColumn("_mix", h).withColumn(
        "shard",
        F.shiftright(F.col("_mix") * F.lit(n_shards), 31).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("_mix", F.col(id_col))
    return (
        out.withColumn("pos", F.row_number().over(w) - F.lit(1))
        .drop("_mix")
        .select(*df.columns, "shard", "pos")
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    seed: int = 0,
    id_col: str = "doc_id",
    mix: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """All input columns plus ``split_col``: each row deterministically
    labeled by hash bucket, e.g. ``{"train": 0.9, "val": 0.05,
    "test": 0.05}``. Fractions must sum to 1 (±1e-9). Buckets are
    contiguous ranges of ``mix(id) % 2^31`` in the dict's iteration
    order, so a document's label depends only on (id, seed) — stable
    under corpus growth and across engines with ``mix='portable'``.
    """
    if not fractions:
        raise ValueError("fractions must be a non-empty dict")
    bad_names = [k for k in fractions if not _SPLIT_NAME.fullmatch(k)]
    if bad_names:
        # split names are rendered into SQL string literals by oracle /
        # replay code: a quote, a trailing backslash or a newline would
        # break the literal, so only a plain identifier-ish set passes
        raise ValueError(
            "split names must match [A-Za-z0-9_.-]+ (no quotes, backslashes"
            f" or whitespace): {bad_names}"
        )
    bad = {k: v for k, v in fractions.items() if v < 0}
    if bad:
        raise ValueError(f"negative fractions: {bad}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if id_col not in df.columns:
        raise ValueError(
            f"id column {id_col!r} not in input; columns: {df.columns}"
        )
    # xxhash64 is signed; fold both mixes onto [0, 2^31) so the bucket
    # thresholds below are uniform integer cutoffs for either
    h = F.pmod(_mix_col(id_col, seed, mix), F.lit(_LCG_MOD))
    pairs = split_cutoffs(fractions)
    names = [n for n, _ in pairs]
    cuts = [c for _, c in pairs]
    case = None
    for name, hi in zip(names[:-1], cuts[:-1]):
        cond = h < F.lit(hi)
        case = F.when(cond, F.lit(name)) if case is None else case.when(cond, F.lit(name))
    labeled = case.otherwise(F.lit(names[-1])) if case is not None else F.lit(names[-1])
    return df.withColumn(split_col, labeled)


def split_cutoffs(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive_upper_cutoff) pairs on [0, 2^31) matching
    `hash_split`'s bucketing — exposed so an oracle (or another engine)
    can replay the exact CASE thresholds. Cutoffs are
    ``floor(cum_fraction * 2^31)`` with the last forced to 2^31."""
    names = list(fractions)
    cuts, acc = [], 0.0
    for name in names:
        acc += fractions[name]
        cuts.append(int(acc * _LCG_MOD))
    cuts[-1] = _LCG_MOD
    return list(zip(names, cuts))
