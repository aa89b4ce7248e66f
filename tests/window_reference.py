"""Reference plan for the ``window_suite`` tests.

The window family spelled the way the DuckDB oracle spells it: the
trailing 30 minutes are one sliding RANGE frame (1,800 s preceding to
the current second). ``window_suite`` takes that column from two growing
frames instead, and must return exactly these rows, bit for bit. The
sliding frame re-sums as it advances, which is why the engine does not
run it; on the small corpora the tests use that costs nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gcp_map_reduce_spark.functions.numeric import dec
from gcp_map_reduce_spark.sources.tables import load_table


def sliding_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``window_suite`` columns with ``value_30min`` summed over a
    sliding ``RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW`` frame."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrows = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wrange = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-1800, Window.currentRow)
    )
    val = dec("value", precision=12)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(wo)).alias("delta"),
        F.sum(val).over(wrows).cast("double").alias("running_value"),
        F.sum(val).over(wrange).cast("double").alias("value_30min"),
        F.ntile(4).over(wo).alias("value_quartile"),
        F.percent_rank().over(wo).alias("pct_rank"),
        F.cume_dist().over(wo).alias("cume"),
    )
