"""As-of join: nearest-earlier event matching by key + time.

Spark has no native batch as-of join (SURVEY.md §2.B "Joins — as-of"); the
engine expresses it as a composite: union both sides with a marker, one
window pass per key ordered by time carrying the last-seen left-side value
(``last(..., ignoreNulls=True)``).  This shape shuffles each input exactly
once on the key — the same cost as the equi-join it replaces — so it holds
at 100 TB, unlike a range-join rewrite (quadratic per key) or per-group
``pd.merge_asof`` (Python boundary; kept as the documented fallback for
semantics DataFrame ops can't express).

Oracle: DuckDB's native ``ASOF LEFT JOIN``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

_ASOF_ORACLE = """
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       s.signup_ts_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT user_id, ts, epoch_us(ts) AS signup_ts_us
      FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@query("join_asof_purchase_signup", oracle=_ASOF_ORACLE, tags=("relational", "join", "asof"))
def join_asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the latest signup of the same user at or before it.

    Union-and-carry as-of join: tag signups 1 / purchases 0, sort within
    user by (time, signup-first) so an equal-timestamp signup is visible to
    the purchase (inclusive as-of, matching DuckDB ``>=`` semantics), and
    carry the last signup time forward.
    """
    e = load_table(spark, sf_dir, "events")
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", "ts_us", F.lit(1).alias("is_signup"), F.lit(None).cast("bigint").alias("event_id")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", F.lit(0).alias("is_signup"), "event_id"
    )
    unioned = signups.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts_us"), F.desc("is_signup"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn(
        "signup_ts_us",
        F.last(F.when(F.col("is_signup") == 1, F.col("ts_us")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("is_signup") == 0).select(
        "event_id", "user_id", F.col("ts_us").alias("purchase_ts_us"), "signup_ts_us"
    )


# --- cogrouped-pandas as-of merge (the Python-boundary twin) -----------------

_COGROUP_ORACLE = """
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       c.click_ts_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT user_id, ts, epoch_us(ts) AS click_ts_us
      FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _merge_asof_clicks(p: "pd.DataFrame", c: "pd.DataFrame") -> "pd.DataFrame":
    """One user's purchases, each with its latest click at or before it
    (``cogroup_merge_asof``'s kernel).  Module-level, so the Python worker
    receives it by reference and imports the package."""
    import pandas as pd

    if p.empty:
        return pd.DataFrame(
            {"event_id": [], "user_id": [], "purchase_ts_us": [], "click_ts_us": []}
        )
    p = p.sort_values("purchase_ts_us", kind="mergesort")
    out = pd.merge_asof(
        p,
        c.sort_values("click_ts_us", kind="mergesort").rename(
            columns={"click_ts_us": "t"}
        )[["t"]].assign(click_ts_us=lambda x: x["t"]),
        left_on="purchase_ts_us",
        right_on="t",
        direction="backward",  # latest click with click_ts <= purchase_ts
    ).drop(columns=["t"])
    out["click_ts_us"] = out["click_ts_us"].astype("Int64")
    return out[["event_id", "user_id", "purchase_ts_us", "click_ts_us"]]


@query("cogroup_merge_asof", oracle=_COGROUP_ORACLE, tags=("relational", "join", "asof", "udf"))
def cogroup_merge_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same nearest-earlier semantics as ``join_asof_purchase_signup``
    (clicks→purchases here), expressed through the one Pandas API the rest
    of the engine doesn't exercise: ``groupBy().cogroup().applyInPandas``
    with a per-user ``pd.merge_asof`` kernel.

    This is the documented escape hatch for as-of-like semantics that the
    union-and-carry window rewrite can NOT express (interpolation, nearest
    in either direction, tolerance bands): both sides shuffle exactly once
    on the key — identical exchange cost to the native rewrite — and
    cogrouped Arrow batches hand each user's two sorted frames to one
    vectorized kernel.  Prefer ``asof.py``'s window form when semantics
    allow (it stays in codegen); this is the API-parity path, oracle-checked
    against the same DuckDB ASOF JOIN.
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_us").alias("purchase_ts_us")
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_ts_us")
    )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            _merge_asof_clicks,
            schema="event_id bigint, user_id bigint, purchase_ts_us bigint, click_ts_us bigint",
        )
    )
