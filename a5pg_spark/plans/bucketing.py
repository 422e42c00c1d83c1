"""Bucketed co-located joins — the shuffle-free repeat-join layout.

The third leg of the brief's shuffle-control triad (broadcast small dims —
``spatial_join``/everywhere; salt hot keys — ``partitioning.py``; BUCKET
co-located joins — here).  A fact table that is repeatedly joined on the
same key pays that key's shuffle on EVERY query; bucketing pays it ONCE at
write time: ``bucketBy(n, key).sortBy(key)`` hash-splits each output task's
rows into n files by ``hash(key) % n`` and records the layout in the
catalog.  When two tables share bucket count and key, Catalyst proves both
sides are already co-partitioned AND co-sorted, so the sort-merge join plans
with NO Exchange and NO Sort — the scan itself satisfies the join's
distribution requirement (`EnsureRequirements` sees
``HashPartitioning(key, n)`` on both children).

At 100 TB this is the difference between re-shuffling 100 TB per join and
streaming n pre-sorted file pairs: the join becomes embarrassingly parallel
with zero network cost, and bucket pruning (``spark.sql.sources.
bucketing.enabled``) skips files for point lookups on the key.  The same
layout is what Iceberg's ``bucket(n, key)`` partition transform and Hive
bucketing express.

Caveats encoded here rather than left to the caller: bucketBy REQUIRES
``saveAsTable`` (path-only writers can't record layout metadata); an
explicit ``option("path", …)`` keeps the data external/inspectable while the
in-memory catalog session holds the metadata; joining a bucketed table to a
NON-bucketed one still shuffles only the non-bucketed side (one-sided
benefit) — both sides bucketed is the zero-shuffle case.  Sort elimination
(not just Exchange elimination) additionally needs ONE file per bucket —
``write_bucketed`` guarantees that by pre-repartitioning on the bucket
hash — and, since Spark 3.0, the scan only advertises its write-time order
with the legacy bucketed-scan output-ordering flag on (off in Spark
because proving one-file-per-bucket costs a listing; on in
``session.SQL_CONF``); with it the joint plan is Exchange-free AND
Sort-free (both pinned in tests).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: str | Sequence[str],
    n_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed (and per-bucket sorted) on ``keys``.
    One shuffle now; zero shuffles on every later equi-join/aggregate on
    ``keys`` against any table sharing the layout."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = (
        df.repartition(n_buckets, *keys)  # one writer task per bucket: n files, not tasks×n
        .write.mode("overwrite")
        .option("path", os.path.abspath(path))
        .bucketBy(n_buckets, *keys)
    )
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str
) -> DataFrame:
    """Equi-join two co-bucketed catalog tables.  With matching layouts the
    physical plan carries no Exchange and no Sort under the join — the
    property tests/test_bucketing.py pins."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])
