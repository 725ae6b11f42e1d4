"""Shared plumbing for partition-scan Arrow folds.

The engine's sequential-per-key operators (watch-time fold
``fact.fact_media_engagement_fold_scan``, Holt fit/backtest in
``timeseries``) all follow one physical shape: repartition by key,
sortWithinPartitions, then ONE ``mapInPandas`` pass that slices
contiguous key-groups out of each Arrow batch, carrying the (possibly
straddling) last group into the next batch. The width-pinning and the
carry loop live here so the semantics stay in the operators and the
plumbing stays in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned_partitions(df: DataFrame) -> int:
    """Explicit repartition width for partition-scan folds.

    A bare ``repartition(cols)`` exchange is fair game for AQE
    coalescing, which at small SF collapses to ONE partition and
    serializes the Python fold — so the fold pins the session's
    configured shuffle width, capped at 4x the cluster parallelism so
    an untuned default (200) doesn't fan a small input into hundreds
    of near-empty Python workers. Deployments where
    ``spark.sql.shuffle.partitions`` is non-numeric (e.g. ``auto``
    under AQE-managed partitioning) fall back to the 4x-cores cap
    instead of raising.
    """
    sess = df.sparkSession
    cores = max(sess.sparkContext.defaultParallelism, 1)
    try:
        configured = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        configured = cores * 4
    return min(configured, cores * 4)


def group_bounds(pdf, key_cols: list[str]):
    """Row offsets where each key-group of a key-sorted frame starts,
    followed by ``len(pdf)``: group ``i`` is rows
    ``bounds[i]:bounds[i + 1]``."""
    import numpy as np

    change = np.zeros(max(len(pdf) - 1, 0), dtype=bool)
    for k in key_cols:
        ks = pdf[k].to_numpy()
        change |= ks[1:] != ks[:-1]
    return np.r_[np.flatnonzero(np.r_[True, change]), len(pdf)]


def group_carry_scan(batches, key_cols: list[str], fold_groups):
    """Iterate Arrow batches of a key-sorted partition, yielding
    ``fold_groups(pdf)`` over complete key-groups only: the trailing
    (possibly incomplete) group of each batch is carried into the
    next, so ``fold_groups`` always sees every row of each key it is
    handed, in partition sort order. O(carry) extra memory — one
    group, never the partition.
    """
    import pandas as pd

    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        tail = int(group_bounds(pdf, key_cols)[-2])
        carry = pdf.iloc[tail:]
        if tail:
            yield fold_groups(pdf.iloc[:tail])
    if carry is not None and len(carry):
        yield fold_groups(carry)
