"""Bucketed (pre-partitioned) table layout — shuffle-free co-located joins.

The reference's sink table is ``PARTITION BY HASH PARTITIONS 4`` on the
primary key (ddl/create_impala_kudu_table.sql:14): Kudu co-locates rows
by key hash so upserts and key lookups never cross tablets. Spark's
native analog for *fact-to-fact joins* is bucketing: both tables are
written hash-bucketed (and sorted) by the join key, and a join on that
key becomes a zero-Exchange sort-merge join — each task reads bucket i
of both sides locally.

At 100 TB this is the difference between re-shuffling the whole fact
table on every join and shuffling it ONCE at write time, amortized over
every subsequent join/aggregation on that key. The write itself costs
one repartition; break-even is roughly "joined more than once".

Bucket-count guidance: pick so each bucket's *largest file* stays in
the 128 MB - 1 GB range at target scale (100 TB / 1 GB ~ 100k buckets);
both join sides must use the SAME count (Spark does not yet coalesce
mismatched bucket counts without an exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    keys: list[str],
    num_buckets: int,
    sort: bool = True,
) -> None:
    """Write ``df`` as an external parquet table hash-bucketed by ``keys``.

    ``sort=True`` also sorts within buckets by the same keys, which lets
    the co-located sort-merge join skip its per-task sort.
    """
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *keys)
    )
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(name)
