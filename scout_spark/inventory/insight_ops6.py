"""Round-5 eighth wave: forecast backtesting, CUPED experiment
analysis, Pareto contribution, and behavioral profile similarity.
Exactness doctrine unchanged: integer sufficient statistics all the
way up (counts, cents, dot products), scalar double math only at the
single final row(s), deterministic tie-breaks everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.inventory import register
from scout_spark.inventory.core import _t


# ------------------------------ seasonal-naive forecast backtest

_FC_EVAL_HOURS = 168  # evaluate over the last 7 days of the series


@register(
    "forecast_seasonal_naive_backtest",
    "Forecast BACKTESTING with seasonal-naive baselines — the "
    "evaluation harness every forecasting pipeline needs before any "
    "model earns its keep: predict each hour's event count by the "
    "count 24h earlier (daily-seasonal naive) and 168h earlier "
    "(weekly-seasonal naive), scored over the final week of the "
    "series. Metrics are MAE, WAPE (sum|err|/sum actual — the "
    "aggregate-ratio form chosen over MAPE precisely because both "
    "numerator and denominator are EXACT INTEGER sums, no per-row "
    "rational rounding), and bias. Absent base hours count as their "
    "true zero via coalesce. 100 TB: the series collapses to |hours| "
    "rows at the first groupBy; the lag alignment is an equi "
    "self-join on the integer hour index (co-partitioned), not a "
    "global-sort window.",
    oracle=f"""
      WITH hours AS (
        SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1
      ),
      bounds AS (SELECT min(hi) AS lo, max(hi) AS hih FROM hours),
      eval AS (
        SELECT h.hi, h.cnt,
               coalesce(b24.cnt, 0) AS pred24,
               coalesce(b168.cnt, 0) AS pred168
        FROM hours h
        LEFT JOIN hours b24 ON b24.hi = h.hi - 24
        LEFT JOIN hours b168 ON b168.hi = h.hi - 168
        WHERE h.hi > (SELECT hih FROM bounds) - {_FC_EVAL_HOURS}
          AND h.hi - 168 >= (SELECT lo FROM bounds)
      ),
      m AS (
        SELECT 24 AS horizon_h, count(*) AS n_hours,
               sum(abs(cnt - pred24))::BIGINT AS sae,
               sum(pred24 - cnt)::BIGINT AS serr,
               sum(cnt)::BIGINT AS sact
        FROM eval
        UNION ALL
        SELECT 168, count(*),
               sum(abs(cnt - pred168))::BIGINT,
               sum(pred168 - cnt)::BIGINT,
               sum(cnt)::BIGINT
        FROM eval
      )
      SELECT horizon_h, n_hours,
             round(sae::DOUBLE / n_hours, 6) AS mae,
             round(sae::DOUBLE / sact, 6) AS wape,
             round(serr::DOUBLE / sact, 6) AS bias
      FROM m ORDER BY horizon_h
    """,
)
def forecast_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # the |hours| frame feeds four consumers (base, both lag sides,
    # bounds — one of them a BROADCAST future): eager checkpoint, not
    # lazy persist. Under AQE-off the broadcast future raced the lazy
    # cache population and re-ran the events scan per consumer (the
    # r10 lazy-fence trap; FLOOR_r11 measured sp1 2.36 s vs noop
    # 0.99 s from exactly this). |hours| rows — trivially small.
    hours = (
        ev.groupBy(
            F.expr(
                "unix_micros(date_trunc('hour', ts)) div 3600000000"
            ).alias("hi")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bounds = hours.agg(F.min("hi").alias("lo"), F.max("hi").alias("hih"))
    h24 = hours.select(
        (F.col("hi") + 24).alias("hi"), F.col("cnt").alias("p24")
    )
    h168 = hours.select(
        (F.col("hi") + 168).alias("hi"), F.col("cnt").alias("p168")
    )
    eval_ = (
        hours.join(h24, "hi", "left")
        .join(h168, "hi", "left")
        .crossJoin(F.broadcast(bounds))
        .where(
            (F.col("hi") > F.col("hih") - _FC_EVAL_HOURS)
            & (F.col("hi") - 168 >= F.col("lo"))
        )
        .select(
            "cnt",
            F.coalesce("p24", F.lit(0)).alias("pred24"),
            F.coalesce("p168", F.lit(0)).alias("pred168"),
        )
    )
    # both horizons' sufficient statistics in ONE aggregation pass,
    # reshaped to two rows afterwards — eval_ is scanned exactly once
    stats = eval_.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(F.col("cnt") - F.col("pred24"))).alias("sae24"),
        F.sum(F.col("pred24") - F.col("cnt")).alias("serr24"),
        F.sum(F.abs(F.col("cnt") - F.col("pred168"))).alias("sae168"),
        F.sum(F.col("pred168") - F.col("cnt")).alias("serr168"),
        F.sum("cnt").alias("sact"),
    )
    m = stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(24).alias("horizon_h"),
                    F.col("n_hours").alias("n_hours"),
                    F.col("sae24").alias("sae"),
                    F.col("serr24").alias("serr"),
                    F.col("sact").alias("sact"),
                ),
                F.struct(
                    F.lit(168).alias("horizon_h"),
                    F.col("n_hours").alias("n_hours"),
                    F.col("sae168").alias("sae"),
                    F.col("serr168").alias("serr"),
                    F.col("sact").alias("sact"),
                ),
            )
        ).alias("s")
    ).select("s.horizon_h", "s.n_hours", "s.sae", "s.serr", "s.sact")
    return m.select(
        "horizon_h",
        "n_hours",
        F.round(F.col("sae").cast("double") / F.col("n_hours"), 6).alias(
            "mae"
        ),
        F.round(F.col("sae").cast("double") / F.col("sact"), 6).alias(
            "wape"
        ),
        F.round(F.col("serr").cast("double") / F.col("sact"), 6).alias(
            "bias"
        ),
    ).orderBy("horizon_h")


# ------------------------------------ CUPED experiment analysis


@register(
    "stats_cuped_adjusted_lift",
    "A/B experiment lift with CUPED variance reduction (Deng et al., "
    "Microsoft) — the production experimentation stack's standard "
    "adjustment: users split into variants by md5 parity "
    "(deterministic on both engines), the metric is each user's "
    "purchase cents in the SECOND half of the timeline, the "
    "covariate the same in the first half; theta = cov(x,y)/var(x) "
    "from pooled integer sufficient statistics, and because CUPED "
    "is linear, the adjusted lift reduces to aggregate algebra — "
    "(yB-yA) - theta*(xB-xA) — computed from per-variant integer "
    "sums, no per-row adjusted column at all. Output: one row with "
    "raw lift, adjusted lift, theta, and the theoretical variance "
    "reduction rho^2. 100 TB: two map-side-combinable groupBys "
    "(per-user rollup, then per-variant sums); the final row is "
    "scalar math over 2 variant rows.",
    oracle="""
      WITH span AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
      ),
      per_user AS (
        SELECT user_id,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2
                 AS variant,
               sum(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) < (SELECT (lo + hi) // 2 FROM span)
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
               sum(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) >= (SELECT (lo + hi) // 2 FROM span)
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id
      ),
      pooled AS (
        SELECT count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
               sum(x * y)::BIGINT AS sxy
        FROM per_user
      ),
      variants AS (
        SELECT variant, count(*)::BIGINT AS nv,
               sum(x)::BIGINT AS sxv, sum(y)::BIGINT AS syv
        FROM per_user GROUP BY variant
      ),
      wide AS (
        SELECT max(CASE WHEN variant = 0 THEN nv END) AS n_a,
               max(CASE WHEN variant = 1 THEN nv END) AS n_b,
               max(CASE WHEN variant = 0 THEN sxv END) AS sx_a,
               max(CASE WHEN variant = 1 THEN sxv END) AS sx_b,
               max(CASE WHEN variant = 0 THEN syv END) AS sy_a,
               max(CASE WHEN variant = 1 THEN syv END) AS sy_b
        FROM variants
      )
      SELECT w.n_a, w.n_b,
             round((w.sy_b::DOUBLE / w.n_b - w.sy_a::DOUBLE / w.n_a)
                   / 100, 6) AS raw_lift,
             round(((w.sy_b::DOUBLE / w.n_b - w.sy_a::DOUBLE / w.n_a)
                    - ((p.n * p.sxy - p.sx::DOUBLE * p.sy)
                       / (p.n * p.sxx - p.sx::DOUBLE * p.sx))
                      * (w.sx_b::DOUBLE / w.n_b - w.sx_a::DOUBLE / w.n_a))
                   / 100, 6) AS cuped_lift,
             round((p.n * p.sxy - p.sx::DOUBLE * p.sy)
                   / (p.n * p.sxx - p.sx::DOUBLE * p.sx), 6) AS theta,
             round((p.n * p.sxy - p.sx::DOUBLE * p.sy)
                   * (p.n * p.sxy - p.sx::DOUBLE * p.sy)
                   / ((p.n * p.sxx - p.sx::DOUBLE * p.sx)
                      * (p.n * p.syy - p.sy::DOUBLE * p.sy)), 6)
               AS var_reduction
      FROM wide w, pooled p
    """,
)
def stats_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .withColumn("mid", F.expr("(lo + hi) div 2"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") < F.col("mid")),
                    cents,
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("mid")),
                    cents,
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
        .withColumn(
            "variant",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    wide = per_user.groupBy().agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0)).alias(
            "sx_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0)).alias(
            "sx_b"
        ),
        F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(0)).alias(
            "sy_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(0)).alias(
            "sy_b"
        ),
    )
    ymean_diff = (
        F.col("sy_b").cast("double") / F.col("n_b")
        - F.col("sy_a").cast("double") / F.col("n_a")
    )
    xmean_diff = (
        F.col("sx_b").cast("double") / F.col("n_b")
        - F.col("sx_a").cast("double") / F.col("n_a")
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    varx_n = F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col(
        "sx"
    )
    vary_n = F.col("n") * F.col("syy") - F.col("sy").cast("double") * F.col(
        "sy"
    )
    theta = cov_n / varx_n
    return wide.crossJoin(pooled).select(
        "n_a",
        "n_b",
        F.round(ymean_diff / 100, 6).alias("raw_lift"),
        F.round((ymean_diff - theta * xmean_diff) / 100, 6).alias(
            "cuped_lift"
        ),
        F.round(theta, 6).alias("theta"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias(
            "var_reduction"
        ),
    )


# ---------------------------------- Pareto 80/20 contribution


@register(
    "agg_pareto_8020_contribution",
    "Pareto / 80-20 contribution analysis — 'how few customers drive "
    "80% of revenue': customers rank by revenue cents (custkey "
    "tie-break), the running share accumulates as exact integers, "
    "and the 80% threshold is found by the INTEGER comparison "
    "cum*5 >= total*4 (no double share ever enters a predicate). "
    "Output: one row — customer count, the 80% head count and its "
    "share of customers, and the top-1%/top-10-customer revenue "
    "shares. Complements skyline_pareto_orders (the frontier) with "
    "the concentration curve. 100 TB: per-customer rollup is "
    "map-side-combinable; the ranked cumulative pass is the one "
    "|customers|-sized sort — swap in the bucketed boundary trick "
    "(audit_sequence_gaps) or a quantile-sketch approximation at "
    "real scale, as the docstring plan notes.",
    oracle="""
      WITH rev AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey
      ),
      ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cents) OVER () AS total,
               count(*) OVER () AS n
        FROM rev
      )
      SELECT max(n)::BIGINT AS n_customers,
             min(CASE WHEN cum * 5 >= total * 4 THEN rn END)::BIGINT
               AS k80_count,
             round(min(CASE WHEN cum * 5 >= total * 4 THEN rn END)::DOUBLE
                   / max(n), 6) AS k80_customer_share,
             round(max(CASE WHEN rn <= 10 THEN cum END)::DOUBLE
                   / max(total), 6) AS top10_share,
             round(max(CASE WHEN rn * 100 <= n THEN cum END)::DOUBLE
                   / max(total), 6) AS top1pct_share
      FROM ranked
    """,
)
def agg_pareto_8020_contribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    # exact distributed rank + prefix sum (operators/rank.py):
    # |customers| grows with data — the former unpartitioned
    # rank/cumsum/total windows were the single-partition class;
    # totals become a scalar agg crossJoin-broadcast (the PMI fix)
    from scout_spark.operators.rank import global_prefix_sum

    totals = rev.agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    # gate bound: |per-custkey agg| <= |orders rows|, read from the
    # parquet footer driver-side (no job) — fires the single-
    # partition path at bench scale, no-op at real scale
    from scout_spark.sources.tables import parquet_rows

    ranked = global_prefix_sum(
        rev,
        [F.col("cents").desc(), "o_custkey"],
        "cents",
        rn_out="rn",
        cum_out="cum",
        known_count=parquet_rows(spark, sf_dir, "orders"),
    ).crossJoin(F.broadcast(totals))
    k80 = F.min(
        F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rn"))
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        k80.cast("long").alias("k80_count"),
        F.round(k80.cast("double") / F.max("n"), 6).alias(
            "k80_customer_share"
        ),
        F.round(
            F.max(F.when(F.col("rn") <= 10, F.col("cum"))).cast("double")
            / F.max("total"),
            6,
        ).alias("top10_share"),
        F.round(
            F.max(
                F.when(F.col("rn") * 100 <= F.col("n"), F.col("cum"))
            ).cast("double")
            / F.max("total"),
            6,
        ).alias("top1pct_share"),
    )


# ------------------------------- behavioral profile similarity

_PROF_TOPK = 15


@register(
    "profile_similarity_nations",
    "Behavioral profile similarity — which nations order alike over "
    "time: each nation's profile is its monthly order-count vector "
    "(exact integers), and nation pairs rank by cosine similarity "
    "computed from INTEGER dot products (a month-key equi self-join "
    "accumulates sum(ca*cb); norms come from one per-nation pass), "
    "so the only double is the final dot/sqrt(na*nb). The cohort-"
    "level cousin of the embedding ANN family: same cosine kernel, "
    "but the vectors are aggregates, not stored arrays. Output: the "
    "15 most similar pairs. 100 TB: profiles are |nations| x "
    "|months| — tiny after the first map-side-combinable rollup; "
    "every join below it is broadcast-sized.",
    oracle=f"""
      WITH prof AS (
        SELECT n.n_name AS nation,
               strftime(o.o_orderdate, '%Y-%m') AS month,
               count(*)::BIGINT AS c
        FROM orders o
        JOIN customer cu ON o.o_custkey = cu.c_custkey
        JOIN nation n ON cu.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, strftime(o.o_orderdate, '%Y-%m')
      ),
      norms AS (
        SELECT nation, sum(c * c)::BIGINT AS nn FROM prof GROUP BY nation
      ),
      dots AS (
        SELECT a.nation AS nation_a, b.nation AS nation_b,
               sum(a.c * b.c)::BIGINT AS dot
        FROM prof a JOIN prof b
          ON a.month = b.month AND a.nation < b.nation
        GROUP BY a.nation, b.nation
      )
      SELECT d.nation_a, d.nation_b,
             round(d.dot / sqrt(na.nn::DOUBLE * nb.nn), 6) AS cosine
      FROM dots d
      JOIN norms na ON d.nation_a = na.nation
      JOIN norms nb ON d.nation_b = nb.nation
      ORDER BY round(d.dot / sqrt(na.nn::DOUBLE * nb.nn), 6) DESC,
               d.nation_a, d.nation_b
      LIMIT {_PROF_TOPK}
    """,
)
def profile_similarity_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    prof = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = prof.groupBy("nation").agg(
        F.sum(F.col("c") * F.col("c")).alias("nn")
    )
    a = prof.select(
        F.col("nation").alias("nation_a"), "month", F.col("c").alias("ca")
    )
    b = prof.select(
        F.col("nation").alias("nation_b"), "month", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "month")
        .where(F.col("nation_a") < F.col("nation_b"))
        .groupBy("nation_a", "nation_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    cos = F.round(
        F.col("dot")
        / F.sqrt(F.col("na_nn").cast("double") * F.col("nb_nn")),
        6,
    )
    return (
        dots.join(
            F.broadcast(norms.select(F.col("nation").alias("nation_a"),
                                     F.col("nn").alias("na_nn"))),
            "nation_a",
        )
        .join(
            F.broadcast(norms.select(F.col("nation").alias("nation_b"),
                                     F.col("nn").alias("nb_nn"))),
            "nation_b",
        )
        .select("nation_a", "nation_b", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "nation_a", "nation_b")
        .limit(_PROF_TOPK)
    )


# ------------------------------- retrieval quality: NDCG / MRR

# discounted-gain constants quantized to 1e-9: g(r) = round(1e9 /
# log2(r+1)) for ranks 1..10, plus prefix sums for the ideal DCG —
# injected as literals so BOTH engines sum exact integers.
_NDCG_G = [1000000000, 630929754, 500000000, 430676558, 386852807, 356207187, 333333333, 315464877, 301029996, 289064826]
_NDCG_PS = [1000000000, 1630929754, 2130929754, 2561606312, 2948459119, 3304666306, 3637999639, 3953464516, 4254494512, 4543559338]
_NDCG_CASE_G = "CASE rank WHEN 1 THEN 1000000000 WHEN 2 THEN 630929754 WHEN 3 THEN 500000000 WHEN 4 THEN 430676558 WHEN 5 THEN 386852807 WHEN 6 THEN 356207187 WHEN 7 THEN 333333333 WHEN 8 THEN 315464877 WHEN 9 THEN 301029996 WHEN 10 THEN 289064826 ELSE 0 END"
_NDCG_CASE_PS = "CASE m WHEN 1 THEN 1000000000 WHEN 2 THEN 1630929754 WHEN 3 THEN 2130929754 WHEN 4 THEN 2561606312 WHEN 5 THEN 2948459119 WHEN 6 THEN 3304666306 WHEN 7 THEN 3637999639 WHEN 8 THEN 3953464516 WHEN 9 THEN 4254494512 WHEN 10 THEN 4543559338 ELSE 0 END"
_EVAL_TERMS = ("spark", "table", "merge", "fast")  # == retrieval._BM25_TERMS
_EVAL_TOPN = 20


@register(
    "retrieval_eval_ndcg_mrr",
    "Ranking-quality evaluation — NDCG@10, reciprocal rank, and "
    "precision@10 for a deliberately WEAK lexical ranker (first query term only) against a deterministic "
    "relevance oracle (a document is relevant iff it contains ALL "
    "four query terms — the conjunctive-match labeling every offline "
    "eval starts from; same query as bm25_topk_retrieval, cf. "
    "reference app.py's ranked /search responses). The log2 discount "
    "table is QUANTIZED to integer 1e-9 gains injected as CASE "
    "literals, so DCG and ideal-DCG are exact integer sums on both "
    "engines — no per-row transcendental ever aggregates. Output: "
    "one row of metrics plus the corpus relevant count. 100 TB: the "
    "candidate list is a TakeOrdered top-20; the corpus relevance "
    "count is one map-side-combinable agg.",
    oracle=f"""
      WITH scored AS (
        SELECT doc_id,
               ({" + ".join(
                   f"(length(lower(text)) - length(replace(lower(text),"
                   f" '{t}', ''))) // {len(t)}"
                   for t in _EVAL_TERMS[:1]
               )}) AS lex,
               ({" AND ".join(
                   f"(length(lower(text)) - length(replace(lower(text),"
                   f" '{t}', ''))) >= {len(t)}"
                   for t in _EVAL_TERMS
               )})::INT AS rel
        FROM documents
      ),
      corpus AS (SELECT sum(rel)::BIGINT AS n_rel FROM scored),
      top AS (
        SELECT rel,
               row_number() OVER (ORDER BY lex DESC, doc_id) AS rank
        FROM scored ORDER BY lex DESC, doc_id LIMIT {_EVAL_TOPN}
      ),
      m AS (
        SELECT sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END)::BIGINT
                 AS rel10,
               sum(CASE WHEN rank <= 10 AND rel = 1
                   THEN {_NDCG_CASE_G} ELSE 0 END)::BIGINT AS dcg_q,
               min(CASE WHEN rel = 1 THEN rank END) AS first_rel
        FROM top
      ),
      ideal AS (
        SELECT (SELECT {_NDCG_CASE_PS.replace("m ", "least(n_rel, 10) ")}
                FROM corpus) AS idcg_q
      )
      SELECT c.n_rel AS n_relevant_corpus,
             m.rel10 AS n_relevant_top10,
             round(m.rel10 / 10.0, 6) AS precision_at_10,
             round(coalesce(1.0 / m.first_rel, 0.0), 6)
               AS reciprocal_rank,
             round(CASE WHEN i.idcg_q > 0
                   THEN m.dcg_q::DOUBLE / i.idcg_q ELSE 0.0 END, 6)
               AS ndcg_at_10
      FROM m, corpus c, ideal i
    """,
)
def retrieval_eval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    lex = F.expr(
        " + ".join(
            f"(length(lower(text)) - length(replace(lower(text),"
            f" '{t}', ''))) div {len(t)}"
            for t in _EVAL_TERMS[:1]
        )
    )
    rel = F.expr(
        "cast(("
        + " AND ".join(
            f"(length(lower(text)) - length(replace(lower(text),"
            f" '{t}', ''))) >= {len(t)}"
            for t in _EVAL_TERMS
        )
        + ") as int)"
    )
    scored = d.select("doc_id", lex.alias("lex"), rel.alias("rel"))
    corpus = scored.agg(F.sum("rel").cast("long").alias("n_rel"))
    top = (
        scored.orderBy(F.col("lex").desc(), "doc_id")
        .limit(_EVAL_TOPN)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.col("lex").desc(), "doc_id"))
            .alias("rank"),
        )
    )
    m = top.agg(
        F.sum(F.when(F.col("rank") <= 10, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("rel10"),
        F.sum(
            F.when(
                (F.col("rank") <= 10) & (F.col("rel") == 1),
                F.expr(_NDCG_CASE_G),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg_q"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
    )
    joined = m.crossJoin(F.broadcast(corpus)).withColumn(
        "idcg_q", F.expr(_NDCG_CASE_PS.replace("m ", "least(n_rel, 10) "))
    )
    return joined.select(
        F.col("n_rel").alias("n_relevant_corpus"),
        F.col("rel10").alias("n_relevant_top10"),
        F.round(F.col("rel10") / 10.0, 6).alias("precision_at_10"),
        F.round(
            F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
        F.round(
            F.when(
                F.col("idcg_q") > 0,
                F.col("dcg_q").cast("double") / F.col("idcg_q"),
            ).otherwise(0.0),
            6,
        ).alias("ndcg_at_10"),
    )


# --------------------------- proxy-classifier confusion matrix

_CONF_TOK_THRESHOLD = 150


@register(
    "quality_score_confusion_eval",
    "Classifier evaluation as a confusion matrix — precision / recall "
    "/ F1 / accuracy for the CHEAP filter every curation pipeline "
    "actually deploys (estimate token count as n_chars div 6, a "
    "metadata-only predicate) against the EXPENSIVE truth (real "
    "whitespace token count >= 150): TP/FP/FN/TN are exact integer "
    "counts, and every metric derives from them in one rounded "
    "division (F1 directly as 2TP/(2TP+FP+FN) — never from the "
    "rounded P and R). The eval shape behind every "
    "quality_model_score threshold choice. 100 TB: one scan, "
    "map-side-combinable conditional counts; the truth column is the "
    "only expression touching text.",
    oracle=f"""
      WITH labeled AS (
        SELECT CASE WHEN n_chars // 6 >= {_CONF_TOK_THRESHOLD}
                    THEN 1 ELSE 0 END AS pred,
               CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                         >= {_CONF_TOK_THRESHOLD}
                    THEN 1 ELSE 0 END AS truth
        FROM documents
      ),
      cm AS (
        SELECT sum(CASE WHEN pred = 1 AND truth = 1 THEN 1 ELSE 0 END)
                 ::BIGINT AS tp,
               sum(CASE WHEN pred = 1 AND truth = 0 THEN 1 ELSE 0 END)
                 ::BIGINT AS fp,
               sum(CASE WHEN pred = 0 AND truth = 1 THEN 1 ELSE 0 END)
                 ::BIGINT AS fn,
               sum(CASE WHEN pred = 0 AND truth = 0 THEN 1 ELSE 0 END)
                 ::BIGINT AS tn
        FROM labeled
      )
      SELECT tp, fp, fn, tn,
             round(CASE WHEN tp + fp > 0
                   THEN tp::DOUBLE / (tp + fp) ELSE 0.0 END, 6)
               AS precision,
             round(CASE WHEN tp + fn > 0
                   THEN tp::DOUBLE / (tp + fn) ELSE 0.0 END, 6) AS recall,
             round(CASE WHEN 2 * tp + fp + fn > 0
                   THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0.0 END, 6)
               AS f1,
             round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 6) AS accuracy
      FROM cm
    """,
)
def quality_score_confusion_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pred = (
        F.expr("n_chars div 6") >= _CONF_TOK_THRESHOLD
    ).cast("int")
    truth = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" ")))
        + 1
        >= _CONF_TOK_THRESHOLD
    ).cast("int")
    cm = d.select(pred.alias("pred"), truth.alias("truth")).agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("truth") == 1), 1)
              .otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("truth") == 0), 1)
              .otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("truth") == 1), 1)
              .otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("truth") == 0), 1)
              .otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.when(tp + fp > 0, tp.cast("double") / (tp + fp)).otherwise(
                0.0
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(tp + fn > 0, tp.cast("double") / (tp + fn)).otherwise(
                0.0
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(
                2 * tp + fp + fn > 0, 2.0 * tp / (2 * tp + fp + fn)
            ).otherwise(0.0),
            6,
        ).alias("f1"),
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6).alias(
            "accuracy"
        ),
    )


# ------------------------------------ business-day arithmetic

# business days in [epoch, epoch + m) for m = dd % 7, given that day 0
# (1970-01-01) was a THURSDAY: Thu,Fri count; Sat,Sun don't; Mon-Wed do.
_BD_CORR = [0, 1, 2, 2, 2, 3, 4]


def _busdays_sql(dd: str) -> str:
    case = " ".join(
        f"WHEN {m} THEN {c}" for m, c in enumerate(_BD_CORR)
    )
    return (
        f"(5 * (({dd}) // 7) + CASE ({dd}) % 7 {case} ELSE 0 END)"
    )


def _busdays_spark(dd: str) -> str:
    case = " ".join(
        f"WHEN {m} THEN {c}" for m, c in enumerate(_BD_CORR)
    )
    return (
        f"(5 * (({dd}) div 7) + CASE ({dd}) % 7 {case} ELSE 0 END)"
    )


@register(
    "scalar_business_days",
    "Business-day (weekday) calendar arithmetic WITHOUT a calendar "
    "table: the count of weekdays between order and ship date comes "
    "from a closed-form g(d) = 5*(d div 7) + correction[d mod 7] on "
    "the integer epoch-day index (day 0 = Thursday), so busdays = "
    "g(ship) - g(order) is pure integer expression work — no "
    "generate_series spine, no dayofweek() (whose numbering differs "
    "between engines; epoch-day mod 7 is engine-neutral by "
    "construction). Aggregated per order priority: count, mean and "
    "max weekday shipping delay. 100 TB: one equi join and a "
    "map-side-combinable groupBy; the calendar math is whole-stage "
    "codegen.",
    oracle=f"""
      WITH pairs AS (
        SELECT o.o_orderpriority AS priority,
               {_busdays_sql("epoch_us(l.l_shipdate) // 86400000000")}
               - {_busdays_sql("epoch_us(o.o_orderdate) // 86400000000")}
                 AS busdays
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      )
      SELECT priority,
             count(*) AS n_lineitems,
             round(sum(busdays)::DOUBLE / count(*), 6) AS mean_busdays,
             max(busdays)::BIGINT AS max_busdays
      FROM pairs GROUP BY priority ORDER BY priority
    """,
)
def scalar_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).selectExpr(
        "o_orderpriority AS priority",
        f"{_busdays_spark('unix_micros(l_shipdate) div 86400000000')}"
        f" - {_busdays_spark('unix_micros(o_orderdate) div 86400000000')}"
        " AS busdays",
    )
    return (
        pairs.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum("busdays").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_busdays"),
            F.max("busdays").cast("long").alias("max_busdays"),
        )
        .orderBy("priority")
    )


# -------------------------------- Wilson conversion intervals

_WILSON_Z2 = 3.8416  # z = 1.96, z^2 exact literal shared by both engines


@register(
    "stats_wilson_conversion_ci",
    "Conversion rates with WILSON SCORE intervals — the binomial CI "
    "that behaves at small n and extreme rates (what a naive normal "
    "interval gets wrong): users are attributed to their FIRST-TOUCH "
    "channel (min-of-struct over (ts, event_id, type) — the "
    "deterministic argmin idiom), conversion is any later-or-equal "
    "purchase, and per channel the lower/upper Wilson bounds come "
    "from the closed form on exact integer (n, x) with z^2 = 3.8416 "
    "injected as a shared literal — the only doubles are the final "
    "per-channel scalar expressions. 100 TB: two map-side-combinable "
    "per-user aggs, then scalar math over |channels| rows.",
    oracle=f"""
      WITH per_user AS (
        SELECT user_id,
               (min(struct_pack(t := ts, e := event_id,
                                c := event_type))).c AS channel,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted
        FROM events GROUP BY user_id
      ),
      rates AS (
        SELECT channel, count(*)::BIGINT AS n,
               sum(converted)::BIGINT AS x
        FROM per_user GROUP BY channel
      )
      SELECT channel, n, x,
             round(x::DOUBLE / n, 6) AS rate,
             round(((x::DOUBLE / n) + {_WILSON_Z2} / (2 * n)
                    - sqrt({_WILSON_Z2}) * sqrt((x::DOUBLE / n)
                        * (1 - x::DOUBLE / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                   / (1 + {_WILSON_Z2} / n), 6) AS wilson_lo,
             round(((x::DOUBLE / n) + {_WILSON_Z2} / (2 * n)
                    + sqrt({_WILSON_Z2}) * sqrt((x::DOUBLE / n)
                        * (1 - x::DOUBLE / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                   / (1 + {_WILSON_Z2} / n), 6) AS wilson_hi
      FROM rates ORDER BY channel
    """,
)
def stats_wilson_conversion_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    first = F.min(
        F.struct(
            F.col("ts").alias("t"),
            F.col("event_id").alias("e"),
            F.col("event_type").alias("c"),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        first.getField("c").alias("channel"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    rates = per_user.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    p = F.col("x").cast("double") / F.col("n")
    z2 = F.lit(_WILSON_Z2)
    half = F.sqrt(z2) * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    center = p + z2 / (2 * F.col("n"))
    return rates.select(
        "channel",
        "n",
        "x",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("channel")
