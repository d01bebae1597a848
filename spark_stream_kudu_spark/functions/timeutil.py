"""Time expressions shared by batch and streaming operators.

The reference works in epoch-millis longs end-to-end
(``UNIX_TIMESTAMP() * 1000`` at kafka_to_kudu.py:32; BIGINT columns at
ddl/create_impala_kudu_table.sql:6,10,11). The engine uses native
TimestampType internally and converts at boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_millis(ts: Column) -> Column:
    """TimestampType -> epoch milliseconds (BIGINT), truncating."""
    return F.unix_millis(ts)
