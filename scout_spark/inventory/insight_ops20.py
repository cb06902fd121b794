"""Round-5 closing wave: session bounce/depth profile and Lorenz
curve points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.inventory import register
from scout_spark.inventory.core import _t

_SESS_GAP_US = 1_800_000_000


@register(
    "sessions_bounce_depth_profile",
    "Session bounce rate and depth profile — the product-analytics "
    "companion to sessionize_30min_gap: per-session event counts "
    "from the standard 30-min-gap sessionization, then the bounce "
    "rate (single-event sessions), mean depth, and discrete "
    "p50/p90/max depth by exact integer ranks over the DEPTH "
    "HISTOGRAM (depths are small integers — the bounded-histogram "
    "discipline, never a global sort of sessions). 100 TB: one "
    "per-user window pass + two map-side-combinable aggs + bounded-"
    "frame math.",
    oracle=f"""
      WITH seq AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                         > {_SESS_GAP_US}
                    OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      ),
      sess AS (
        SELECT user_id, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us) AS sid
        FROM seq
      ),
      depth AS (
        SELECT user_id, sid, count(*)::BIGINT AS d
        FROM sess GROUP BY user_id, sid
      ),
      h AS (SELECT d, count(*)::BIGINT AS c FROM depth GROUP BY d),
      cum AS (
        SELECT d, c,
               sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT
                 AS cum,
               sum(c) OVER ()::BIGINT AS n,
               sum(d * c) OVER ()::BIGINT AS total_events
        FROM h
      )
      SELECT max(n)::BIGINT AS n_sessions,
             max(CASE WHEN d = 1 THEN c ELSE 0 END)::BIGINT AS n_bounces,
             round(max(CASE WHEN d = 1 THEN c ELSE 0 END)::DOUBLE
                   / max(n), 6) AS bounce_rate,
             round(max(total_events)::DOUBLE / max(n), 6) AS mean_depth,
             min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN d END)
               ::BIGINT AS p50_depth,
             min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN d END)
               ::BIGINT AS p90_depth,
             max(d)::BIGINT AS max_depth
      FROM cum
    """,
)
def sessions_bounce_depth_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (
            F.lag(F.unix_micros("ts")).over(wu).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
                > _SESS_GAP_US
            )
        )
        .cast("int")
        .alias("is_new"),
    )
    depth = (
        seq.select(
            "user_id",
            F.sum("is_new")
            .over(Window.partitionBy("user_id").orderBy("us"))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    h = depth.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # bounded depth histogram (depths are small integers)
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = h.select(
        "d",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum(F.col("d") * F.col("c")).over(wall).cast("long").alias(
            "total_events"
        ),
    )
    rank = lambda p: F.expr(f"(n * {p} + 99) div 100")  # noqa: E731
    bounces = F.max(F.when(F.col("d") == 1, F.col("c")).otherwise(0))
    return cum.agg(
        F.max("n").cast("long").alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        F.round(bounces.cast("double") / F.max("n"), 6).alias(
            "bounce_rate"
        ),
        F.round(
            F.max("total_events").cast("double") / F.max("n"), 6
        ).alias("mean_depth"),
        F.min(F.when(F.col("cum") >= rank(50), F.col("d")))
        .cast("long")
        .alias("p50_depth"),
        F.min(F.when(F.col("cum") >= rank(90), F.col("d")))
        .cast("long")
        .alias("p90_depth"),
        F.max("d").cast("long").alias("max_depth"),
    )


@register(
    "dist_lorenz_curve_points",
    "Lorenz curve points at fixed deciles — the distribution curve "
    "behind agg_gini_concentration's single number: customers "
    "ordered by exact revenue cents, the cumulative revenue share at "
    "each population decile. Ranks and running sums come from "
    "operators/rank.py::global_prefix_sum (range shuffle + pid "
    "windows + broadcast offsets — the SAME distributed machinery "
    "the Pareto entry uses; a second consumer proving the operator "
    "generalizes), decile cutoffs are exact integer rank ceilings, "
    "and the reported shares are integer-cent ratios rounded 6dp. "
    "100 TB: no global single-partition sort anywhere; output is 10 "
    "rows.",
    oracle="""
      WITH rev AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey
      ),
      ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rn,
               sum(cents) OVER (ORDER BY cents, o_custkey
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM rev
      ),
      tot AS (
        SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS total FROM rev
      ),
      pts AS (
        SELECT dec, (tot.n * dec + 9) // 10 AS cutoff, tot.n, tot.total
        FROM (SELECT unnest(range(1, 11)) AS dec), tot
      )
      SELECT p.dec AS decile,
             max(r.cum)::BIGINT AS cum_cents,
             round(max(r.cum)::DOUBLE / max(p.total), 6) AS cum_share
      FROM pts p JOIN ranked r ON r.rn <= p.cutoff
      GROUP BY p.dec
      ORDER BY decile
    """,
)
def dist_lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.rank import global_prefix_sum

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.expr("sum(cast(round(o_totalprice * 100) as bigint))").alias(
            "cents"
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    # |per-custkey agg| <= |orders rows| (parquet-footer bound, no
    # job) — the global_prefix_sum small-frame gate (FLOOR_r11)
    from scout_spark.sources.tables import parquet_rows

    ranked = global_prefix_sum(
        rev,
        ["cents", "o_custkey"],
        "cents",
        rn_out="rn",
        cum_out="cum",
        known_count=parquet_rows(spark, sf_dir, "orders"),
    )
    decs = spark.range(1, 11).select(F.col("id").alias("dec"))
    pts = decs.crossJoin(F.broadcast(tot)).select(
        "dec",
        F.expr("(n * dec + 9) div 10").alias("cutoff"),
        "total",
    )
    # per-decile max-cum via a broadcast theta-join of 10 cutoff rows
    # against the ranked frame (rn <= cutoff) — the ranked side
    # shuffles once in global_prefix_sum and is filtered map-side here
    j = ranked.join(F.broadcast(pts), ranked.rn <= pts.cutoff)
    return (
        j.groupBy("dec")
        .agg(
            F.max("cum").cast("long").alias("cum_cents"),
            F.round(
                F.max("cum").cast("double") / F.max("total"), 6
            ).alias("cum_share"),
        )
        .select(F.col("dec").alias("decile"), "cum_cents", "cum_share")
        .orderBy("decile")
    )
