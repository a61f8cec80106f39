"""Corpus sampling operators.

Not part of the reference engine (SURVEY.md §2.10); a training-data
pipeline samples constantly — per-language quotas, per-source caps,
eval holdouts — and at 100 TB the sample must be DETERMINISTIC (a
re-run or a resumed job must pick the same rows; ``rand()`` does not).

- ``stratified_sample``: hash-gate per row — map-only, no shuffle, no
  state; the keep decision is a pure function of the row key, so any
  subset of partitions can be recomputed independently.
- ``topk_per_group``: two-phase top-k.  A single window per group is a
  skew trap (one task per hot group); phase 1 splits each group into
  salt sub-buckets and takes a LOCAL top-k per sub-bucket (correct:
  the global top-k is contained in the union of sub-bucket top-ks),
  phase 2 re-ranks the surviving ≤ k·n_salts rows per group.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import md5_int


def stratified_sample(
    df: DataFrame,
    rates_pct: Mapping[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_pct: int = 0,
) -> DataFrame:
    """Keep each row iff md5(id) mod 100 < the group's percentage.

    ``rates_pct`` maps group value -> integer percent (0-100).  md5 is
    the gate (not ``xxhash64``) so a DuckDB oracle replays the exact
    sample: ``('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT % 100``.
    """
    gate = md5_int(F.col(id_col).cast("string")) % 100
    rate: Column = F.lit(default_pct)
    for g, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(group_col) == g, F.lit(int(pct))).otherwise(rate)
    return df.filter(gate < rate)


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    salt_col: Column | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Top-k rows per group under ``order_by``, skew-safe.

    ``order_by`` must be a total order within each group (append a
    unique id as the last sort key) — otherwise the kept set at the
    rank-k boundary is nondeterministic.  ``salt_col`` defaults to a
    hash of all non-group columns; it only affects the intermediate
    split, never the result.
    """
    gcols = list(group_cols)
    if salt_col is None:
        salt_col = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns if c not in gcols]),
            F.lit(n_salts),
        )
    w1 = Window.partitionBy(*gcols, "_salt").orderBy(*order_by)
    w2 = Window.partitionBy(*gcols).orderBy(*order_by)
    pruned = (
        df.withColumn("_salt", salt_col)
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_salt", "_r")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def resample_to_mix(
    docs: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture resampling (DoReMi-style domain
    reweighting at the data level): downsample each source so the
    OUTPUT source distribution is proportional to integer ``weights``,
    keeping as much data as the most-constrained source allows.

    With W = sum of weights over present sources, the largest feasible
    output is T = min_s floor(n_s * W / w_s); source s keeps documents
    whose 60-bit md5 hash satisfies ``h % (W * n_s) < w_s * T`` — an
    exact-integer, order-free gate (expected kept per source =
    w_s * T / W), reproducible in DuckDB.  Zero-weight sources drop.

    Scale shape: one tiny per-source count aggregate (the catalog-stats
    stand-in), then a broadcast join of the (source, modulus,
    threshold) plan — the corpus itself is filtered map-only and never
    shuffles.  Sources absent from ``weights`` raise (silent drops of
    an unknown domain would skew the mix unnoticed).
    """
    from .dedup import md5_int

    counts = {
        r["_s"]: r["_n"]
        for r in docs.groupBy(F.col(source_col).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    missing = sorted(set(counts) - set(weights))
    if missing:
        raise ValueError(f"resample_to_mix: no weight for sources {missing}")
    W = sum(int(weights[s]) for s in counts)
    pos = {s: int(weights[s]) for s in counts if weights[s] > 0}
    if not pos or W <= 0:
        raise ValueError("resample_to_mix: need at least one positive weight")
    T = min(counts[s] * W // w for s, w in pos.items())
    plan = local_frame(
        docs.sparkSession,
        [(s, W * counts[s], w * T) for s, w in pos.items()],
        f"{source_col} string, _mod long, _thr long",
    )
    h = md5_int(F.col(id_col).cast("string"))
    return (
        docs.join(F.broadcast(plan), on=source_col)
        .filter(F.pmod(h, F.col("_mod")) < F.col("_thr"))
        .drop("_mod", "_thr")
    )
