"""Round-5 analytics wave: recursive-hierarchy traversal (pointer
jumping — Spark's answer to WITH RECURSIVE), Welch's t-test,
autocorrelation, CUSUM changepoint, and k-core peeling.  Every entry is
oracle-backed; the iterative ones (hierarchy, k-core) run a FIXED round
count so a DuckDB recursive/unrolled twin can reproduce them exactly —
the to-convergence variants live in operators/ with delta guards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.inventory import register
from scout_spark.inventory.core import _t, _th

_HOUR_US = 3_600_000_000


# --------------------------------------------- recursive hierarchy

# Synthetic forest over customers: parent(k) = 1 + md5(k) % (k - 1)
# for k >= 2 (always < k, so the relation is acyclic with root 1).
# md5-derived, so there is NO closed form for depth — both engines must
# genuinely traverse. Random recursive trees have expected max depth
# ~e*ln(n) (~26 at n=150k), far under the 2^6 = 64 the doubling rounds
# cover.
_PJ_ROUNDS = 6
# r12: broadcast the per-round pointer table when the node frame is
# small (slim 3-long columns, ~24 B/row -> <=24 MB at the bound). The
# SSSP state-broadcast precedent; past the bound the shipped shuffle
# self-join is the production plan (the gate is a no-op at real scale).
_PJ_BROADCAST_ROWS = 1_000_000


@register(
    "hierarchy_depth_pointer_jumping",
    "Recursive hierarchy traversal WITHOUT a recursive CTE — the "
    "org-chart / BOM-explosion query Spark famously lacks WITH "
    "RECURSIVE for, answered with POINTER JUMPING: each node starts "
    "pointing at its parent with distance 1, and every round "
    "re-joins the frame to itself (ptr -> ptr's ptr, distances add), "
    "so after R rounds every pointer has traveled 2^R ancestors — "
    "O(log depth) shuffles instead of the naive O(depth) join loop, "
    "the classic Wyllie list-ranking construction. The parent "
    "function is md5-scrambled (no closed-form depth; both engines "
    "traverse) and the root's self-loop carries distance 0 so "
    "converged nodes are fixpoints. Output: the depth histogram "
    "(bounded by tree height). The DuckDB twin walks the same forest "
    "with WITH RECURSIVE — two independent traversal strategies, one "
    "exact integer answer. 100 TB: 6 self-joins of a slim (node, ptr, "
    "d) frame, each checkpointed; no driver-side state (the per-round "
    "broadcast is row-count-gated off past 1M nodes).",
    oracle="""
      WITH RECURSIVE nodes AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey >= 2
                    THEN 1 + ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))
                             ::BIGINT % (c_custkey - 1)
               END AS parent
        FROM customer WHERE c_custkey >= 1
      ),
      walk AS (
        SELECT k AS node, 0::BIGINT AS depth FROM nodes WHERE k = 1
        UNION ALL
        SELECT n.k, w.depth + 1
        FROM nodes n JOIN walk w ON n.parent = w.node
      )
      SELECT depth, count(*)::BIGINT AS n_nodes,
             min(node) AS min_node, max(node) AS max_node
      FROM walk GROUP BY depth ORDER BY depth
    """,
)
def hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") >= 1)
    k = F.col("c_custkey")
    parent = F.lit(1) + F.conv(
        F.substring(F.md5(k.cast("string")), 1, 8), 16, 10
    ).cast("bigint") % (k - 1)
    f = c.select(
        k.alias("node"),
        F.when(k >= 2, parent).otherwise(F.lit(1)).alias("ptr"),
        F.when(k >= 2, F.lit(1)).otherwise(F.lit(0)).alias("d"),
    ).localCheckpoint()
    # r12 (VERDICT item 7, MST-lesson check): the per-round checkpoint
    # STAYS — an unfenced doubling round references the previous frame
    # on BOTH join sides, so lineage doubles per round (the PageRank
    # chained-DAG A/B: 2.5x worse). What the A/B did find: broadcasting
    # the round's pointer table turns the shuffle self-join into a
    # map-side join (no sort, no probe-side exchange) — interleaved
    # fresh-build medians 1.36-1.47 s -> 1.16-1.37 s across 3 blocks
    # (rows identical). Gated on the footer row count: past the bound
    # the shuffle join below is the production plan.
    from scout_spark.sources.tables import parquet_rows

    n_nodes = parquet_rows(spark, sf_dir, "customer")
    bcast = n_nodes is not None and n_nodes <= _PJ_BROADCAST_ROWS
    for _ in range(_PJ_ROUNDS):
        g = f.select(
            F.col("node").alias("g_node"),
            F.col("ptr").alias("g_ptr"),
            F.col("d").alias("g_d"),
        )
        if bcast:
            g = F.broadcast(g)
        f = (
            f.join(g, f.ptr == g.g_node)
            .select(
                "node",
                F.col("g_ptr").alias("ptr"),
                (F.col("d") + F.col("g_d")).alias("d"),
            )
            .localCheckpoint()
        )
    return (
        f.groupBy(F.col("d").alias("depth"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("depth")
    )


# --------------------------------------------------- Welch's t-test


@register(
    "stats_welch_ttest",
    "Welch's unequal-variance t-test on document length (en vs de) — "
    "the A/B-comparison staple: per-group count/mean/sample-variance "
    "from ONE map-side-combined aggregation over integer n_chars "
    "(exact sums of x and x², variance assembled in double once per "
    "group), then the t statistic and Welch-Satterthwaite degrees of "
    "freedom computed row-locally on the 1x2 result. Degenerate "
    "groups (n < 2) are filtered identically on both engines (the "
    "ADVICE r04 guard discipline). 100 TB: the agg is the only "
    "distributed work; everything after is constant-size.",
    oracle="""
      WITH g AS (
        SELECT lang,
               count(*)::BIGINT AS n,
               sum(n_chars)::BIGINT AS s,
               sum(n_chars::BIGINT * n_chars)::BIGINT AS ss
        FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
      ),
      m AS (
        SELECT lang, n, s::DOUBLE / n AS mean,
               (ss - s::DOUBLE * s / n) / (n - 1) AS var
        FROM g WHERE n >= 2
      )
      SELECT a.n AS n_en, b.n AS n_de,
             round(a.mean, 6) AS mean_en, round(b.mean, 6) AS mean_de,
             round((a.mean - b.mean)
                   / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
             round(pow(a.var / a.n + b.var / b.n, 2)
                   / (pow(a.var / a.n, 2) / (a.n - 1)
                      + pow(b.var / b.n, 2) / (b.n - 1)), 6) AS df_welch
      FROM m a, m b WHERE a.lang = 'en' AND b.lang = 'de'
    """,
)
def stats_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("lang").isin("en", "de"))
    x = F.col("n_chars").cast("bigint")
    g = (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("s"),
            F.sum(x * x).alias("ss"),
        )
        .where(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    m = g.select(
        "lang",
        "n",
        (F.col("s").cast("double") / nd).alias("mean"),
        (
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nd)
            / (nd - 1)
        ).alias("var"),
    )
    a = m.where(F.col("lang") == "en").select(
        F.col("n").alias("n_en"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.where(F.col("lang") == "de").select(
        F.col("n").alias("n_de"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    na = F.col("n_en").cast("double")
    nb = F.col("n_de").cast("double")
    se2a = F.col("var_a") / na
    se2b = F.col("var_b") / nb
    return a.crossJoin(b).select(
        "n_en",
        "n_de",
        F.round("mean_a", 6).alias("mean_en"),
        F.round("mean_b", 6).alias("mean_de"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2a + se2b), 6
        ).alias("t_stat"),
        F.round(
            F.pow(se2a + se2b, 2)
            / (F.pow(se2a, 2) / (na - 1) + F.pow(se2b, 2) / (nb - 1)),
            6,
        ).alias("df_welch"),
    )


# ------------------------------------------------ autocorrelation


_ACF_MAX_LAG = 6


@register(
    "timeseries_acf_hourly",
    "Autocorrelation function of the hourly event-count series at lags "
    "1..6 — the seasonality screen before any forecasting model: "
    "events collapse to integer (hour_index, count) once (the same "
    "pre-agg discipline as the anomaly z-score entry), then each lag's "
    "Pearson r comes from EXACT integer sums (n, Σx, Σy, Σxx, Σyy, "
    "Σxy) over pairs matched by an hour_index + lag equi-join — "
    "missing hours drop out of the join on both engines identically, "
    "and one double division per lag at the end keeps the FP "
    "summation-order surface at zero. 100 TB: the hourly frame is "
    "bounded by the time domain (a year is 8.8k rows); the 6-lag "
    "expansion and joins are constant-size after the one real "
    "aggregation over raw events.",
    oracle=f"""
      WITH h AS (
        SELECT epoch_us(ts) // {_HOUR_US} AS hi, count(*)::BIGINT AS c
        FROM events GROUP BY 1
      ),
      p AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag) l
        JOIN h a ON true
        JOIN h b ON b.hi = a.hi + l.lag
      ),
      s AS (
        SELECT lag, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
               sum(x * y)::BIGINT AS sxy
        FROM p GROUP BY lag
      )
      SELECT lag::BIGINT AS lag, n,
             round((n * sxy - sx * sy)::DOUBLE
                   / (sqrt((n * sxx - sx * sx)::DOUBLE)
                      * sqrt((n * syy - sy * sy)::DOUBLE)), 6) AS acf
      FROM s WHERE n * sxx > sx * sx AND n * syy > sy * sy
      ORDER BY lag
    """,
)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # integer-µs floor division (CLAUDE.md: div, never double division)
    h = e.groupBy(
        F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = h.select(F.col("hi").alias("a_hi"), F.col("c").alias("x"))
    b = h.select(F.col("hi").alias("b_hi"), F.col("c").alias("y"))
    p = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("b_hi") == F.col("a_hi") + F.col("lag")
    )
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return (
        s.where((n * sxx > sx * sx) & (n * syy > sy * sy))
        .select(
            "lag",
            "n",
            F.round(
                (n * sxy - sx * sy).cast("double")
                / (
                    F.sqrt((n * sxx - sx * sx).cast("double"))
                    * F.sqrt((n * syy - sy * sy).cast("double"))
                ),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ------------------------------------------------- CUSUM changepoint


@register(
    "changepoint_cusum_max",
    "CUSUM changepoint detection over the hourly event-count series: "
    "the classic level-shift locator argmax_i |S_i| with S_i = "
    "prefix_i - i*mean is computed in SCALED INTEGER arithmetic — "
    "m*S_i = m*prefix_i - i*total is exact in bigint, so the argmax "
    "(the changepoint) cannot flap on FP summation order; the "
    "statistic is divided back to a rounded double only in the final "
    "projection. The prefix sum runs over the PRE-COLLAPSED hourly "
    "frame (cardinality = the hour domain, ~8.8k/year at any corpus "
    "size — the documented bounded-window exemption), ordered by hour "
    "index with the smallest index winning ties deterministically. "
    "100 TB: one real aggregation over events; the window never sees "
    "raw rows.",
    oracle=f"""
      WITH h AS (
        SELECT epoch_us(ts) // {_HOUR_US} AS hi, count(*)::BIGINT AS c
        FROM events GROUP BY 1
      ),
      t AS (SELECT count(*)::BIGINT AS m, sum(c)::BIGINT AS total FROM h),
      p AS (
        SELECT hi,
               row_number() OVER (ORDER BY hi) AS i,
               sum(c) OVER (ORDER BY hi
                            ROWS UNBOUNDED PRECEDING) AS prefix,
               t.m, t.total
        FROM h, t
      ),
      s AS (
        SELECT hi, i, m, total,
               m * prefix - i * total AS scaled,
               abs(m * prefix - i * total) AS mag
        FROM p
      )
      SELECT hi AS at_hour_index, m AS n_hours, total AS n_events,
             scaled::BIGINT AS cusum_scaled,
             round(scaled::DOUBLE / m, 6) AS cusum
      FROM s ORDER BY mag DESC, hi LIMIT 1
    """,
)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # integer-µs floor division (CLAUDE.md: div, never double division)
    h = e.groupBy(
        F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    t = h.agg(
        F.count(F.lit(1)).alias("m"), F.sum("c").alias("total")
    )
    # unpartitioned windows below are scale-safe: the frame is the
    # hourly histogram (bounded by the hour domain), never raw events
    w = Window.orderBy("hi")
    p = h.crossJoin(F.broadcast(t)).select(
        "hi",
        "m",
        "total",
        F.row_number().over(w).alias("i"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
    )
    scaled = F.col("m") * F.col("prefix") - F.col("i") * F.col("total")
    return (
        p.select(
            F.col("hi").alias("at_hour_index"),
            F.col("m").alias("n_hours"),
            F.col("total").alias("n_events"),
            scaled.alias("cusum_scaled"),
            F.round(scaled.cast("double") / F.col("m"), 6).alias("cusum"),
            F.abs(scaled).alias("_mag"),
        )
        .orderBy(F.col("_mag").desc(), "at_hour_index")
        .drop("_mag")
        .limit(1)
    )


# ----------------------------------------------------- k-core peeling


_KCORE_K = 3
_KCORE_ROUNDS = 3


@register(
    "graph_kcore_peel_rounds",
    "k-core decomposition (k=3) of the part co-purchase graph by "
    "iterative peeling — the standard community-density filter before "
    "graph embedding: each round drops every node whose CURRENT degree "
    "is below k and re-induces the edge set, for a FIXED 3 rounds so "
    "the DuckDB twin can unroll the identical peels (the "
    "to-convergence variant belongs with the delta-guarded CC loop). "
    "Per round the output records surviving node and edge counts — "
    "integers, engine-exact. 100 TB: each peel is one degree "
    "aggregation plus two semi-joins of the edge list against the "
    "surviving-node set; edges shrink monotonically, and the round "
    "count is O(peel depth), bounded for the fixed-round entry.",
    oracle=f"""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      d1 AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0
        ) _u GROUP BY node
      ),
      k1 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
      e1 AS (
        SELECT e.src, e.dst FROM e0 e
        JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node
      ),
      d2 AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1
        ) _u GROUP BY node
      ),
      k2 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K}),
      e2 AS (
        SELECT e.src, e.dst FROM e1 e
        JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node
      ),
      d3 AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT src AS node FROM e2 UNION ALL SELECT dst FROM e2
        ) _u GROUP BY node
      ),
      k3 AS (SELECT node FROM d3 WHERE deg >= {_KCORE_K}),
      e3 AS (
        SELECT e.src, e.dst FROM e2 e
        JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node
      )
      SELECT 1::BIGINT AS round, (SELECT count(*) FROM k1)::BIGINT AS n_nodes,
             (SELECT count(*) FROM e1)::BIGINT AS n_edges
      UNION ALL
      SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
      UNION ALL
      SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
      ORDER BY round
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.inventory.graph_ops import _edges

    e = _edges(spark, sf_dir).localCheckpoint()
    rows = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # checkpoint the survivor set: it has THREE consumers (two
        # broadcast join sides + the count) and Spark has no cross-
        # consumer CSE — uncheckpointed, the degree agg re-runs 3x per
        # round (measured 15.8 s vs 2.5 s at sf0.1)
        keep = (
            deg.where(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint()
        )
        # keep is |surviving nodes|-sized — shrinks every round but
        # starts at |V|; the hints hold while it fits the broadcast
        # budget, past that drop them and the semi-filter becomes a
        # shuffle join on the already-src-partitioned edge frame.
        e = (
            e.join(
                F.broadcast(keep.withColumnRenamed("node", "src")), "src"
            )
            .join(
                F.broadcast(keep.withColumnRenamed("node", "dst")), "dst"
            )
            .select("src", "dst")
            .localCheckpoint()
        )
        n_nodes = keep.count()
        n_edges = e.count()
        rows.append((rnd, n_nodes, n_edges))
    return spark.createDataFrame(
        rows, "round bigint, n_nodes bigint, n_edges bigint"
    ).orderBy("round")


# ------------------------------------------------- feature hashing

_FH_TOK = "[a-z0-9]+"

_FH_BUCKETS = 64


@register(
    "feature_hash_tf_md5",
    "Feature hashing (the hashing trick) with a CROSS-ENGINE kernel: "
    "every token maps to bucket md5(token) mod 64 with a ±1 sign from "
    "the next hash hex digit's parity (the collision-unbiasing signed "
    "variant of Weinberger et al.), and the corpus-level hashed "
    "feature profile aggregates token mass, distinct vocabulary, and "
    "the SIGNED sum per bucket — integers end to end, so the oracle "
    "hash-matches the exact kernel a hashed-TF featurizer applies "
    "per-document. 100 TB: token explode into a 64-ary "
    "map-side-combined groupBy — the output is bounded by the bucket "
    "count, never the vocabulary.",
    oracle=f"""
      WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '{_FH_TOK}')) AS tok
        FROM documents
      ),
      h AS (
        SELECT tok,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_FH_BUCKETS}
                 AS bucket,
               CASE WHEN ('0x' || substr(md5(tok), 9, 1))::INT % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM tok
      )
      SELECT bucket,
             count(*)::BIGINT AS n_tokens,
             count(DISTINCT tok)::BIGINT AS n_vocab,
             sum(sign)::BIGINT AS signed_mass
      FROM h GROUP BY bucket ORDER BY bucket
    """,
)
def feature_hash_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _th(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_FH_TOK), 0)
        ).alias("tok")
    )
    md = F.md5(F.col("tok"))
    bucket = (
        F.conv(F.substring(md, 1, 8), 16, 10).cast("bigint")
        % _FH_BUCKETS
    )
    sign = F.when(
        F.conv(F.substring(md, 9, 1), 16, 10).cast("int") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select(
            bucket.alias("bucket"), sign.alias("sign"), "tok"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_vocab"),
            F.sum("sign").alias("signed_mass"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------ bitmap retention

_DAY_US = 86_400_000_000


@register(
    "retention_bitmap_daily",
    "Retention analysis via BIT-PACKED activity masks — the ClickHouse/"
    "Druid trick for cohort math without row explosions: each user's "
    "30-day event history collapses to ONE bigint (bit k = active on "
    "day-offset k, bit_or-aggregated map-side), and every retention "
    "question becomes integer bit arithmetic on the 1-row-per-user "
    "mask frame — here the day-0 retention curve (users active on day "
    "0 AND day k) plus per-day actives, via a broadcast crossJoin of "
    "the bounded day spine. Offsets are clamped to the 64-bit window "
    "identically on both engines (segment masks per month at longer "
    "horizons). 100 TB: raw events reduce to |users| bigints in one "
    "combine-heavy agg; everything after is constant-size.",
    oracle=f"""
      WITH d0 AS (
        SELECT min(epoch_us(ts) // {_DAY_US}) AS day0 FROM events
      ),
      m AS (
        SELECT user_id,
               bit_or(1::BIGINT << ((epoch_us(ts) // {_DAY_US}) - day0)
                      ::INT) AS mask
        FROM events, d0
        WHERE (epoch_us(ts) // {_DAY_US}) - day0 < 64
        GROUP BY user_id
      ),
      spine AS (SELECT unnest(range(0, 64)) AS k)
      SELECT k::BIGINT AS day_k,
             count(*) FILTER (WHERE (mask >> k::INT) & 1 = 1)::BIGINT
               AS n_active,
             count(*) FILTER (WHERE mask & 1 = 1
                              AND (mask >> k::INT) & 1 = 1)::BIGINT
               AS n_retained_from_day0
      FROM m, spine
      GROUP BY k HAVING count(*) FILTER (WHERE (mask >> k::INT) & 1 = 1) > 0
      ORDER BY day_k
    """,
)
def retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    d0 = e.agg(F.min(day).alias("day0"))
    m = (
        e.crossJoin(F.broadcast(d0))
        .select("user_id", (day - F.col("day0")).cast("int").alias("off"))
        .where(F.col("off") < 64)
        .groupBy("user_id")
        .agg(
            F.expr("bit_or(shiftleft(1L, off))").alias("mask")
        )
    )
    spine = spark.range(0, 64).select(F.col("id").alias("day_k"))
    # F.shiftright only takes a literal shift — the column-shift form
    # goes through expr (and the bit test needs a BIGINT literal)
    active = F.expr("(shiftright(mask, cast(day_k AS INT)) & 1L) = 1L")
    day0 = F.expr("(mask & 1L) = 1L")
    return (
        m.crossJoin(F.broadcast(spine))
        .groupBy("day_k")
        .agg(
            F.count_if(active).alias("n_active"),
            F.count_if(active & day0).alias("n_retained_from_day0"),
        )
        .where(F.col("n_active") > 0)
        .orderBy("day_k")
    )


# ----------------------------------------------- Theil–Sen estimator


@register(
    "stats_theil_sen_slope",
    "Theil–Sen robust trend estimator over the hourly event-count "
    "series: the median of all pairwise slopes (c_j - c_i)/(h_j - h_i) "
    "— insensitive to the outlier hours that wreck OLS. The pair "
    "expansion runs on the PRE-COLLAPSED hourly frame (bounded by the "
    "time domain: 720 hours -> 259k pairs; a year -> 38M, still one "
    "task's work after the real aggregation over raw events), each "
    "slope is a single double division (identical in both engines), "
    "and the median interpolates the same sorted multiset. 100 TB: "
    "one event-level agg, then constant-bounded pair math.",
    oracle=f"""
      WITH h AS (
        SELECT epoch_us(ts) // {_HOUR_US} AS hi, count(*)::BIGINT AS c
        FROM events GROUP BY 1
      ),
      s AS (
        SELECT (b.c - a.c)::DOUBLE / (b.hi - a.hi) AS slope
        FROM h a JOIN h b ON b.hi > a.hi
      )
      SELECT count(*)::BIGINT AS n_pairs,
             round(median(slope), 6) AS theil_sen_slope,
             round(min(slope), 6) AS min_slope,
             round(max(slope), 6) AS max_slope
      FROM s
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    h = e.groupBy(
        F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    a = h.select(F.col("hi").alias("a_hi"), F.col("c").alias("a_c"))
    b = h.select(F.col("hi").alias("b_hi"), F.col("c").alias("b_c"))
    s = a.join(b, F.col("b_hi") > F.col("a_hi")).select(
        (
            (F.col("b_c") - F.col("a_c")).cast("double")
            / (F.col("b_hi") - F.col("a_hi"))
        ).alias("slope")
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
            "theil_sen_slope"
        ),
        F.round(F.min("slope"), 6).alias("min_slope"),
        F.round(F.max("slope"), 6).alias("max_slope"),
    )


# ------------------------------------------- association rules


@register(
    "market_basket_association_rules",
    "A-Priori association rules over order baskets — support, "
    "confidence (both directions), and lift for every part pair "
    "co-occurring in >= 3 orders: pair counts come from a SHUFFLE_HASH "
    "self-join of the distinct (order, part) stream on orderkey (one "
    "reused exchange; fanout bounded by basket size squared — the r08 "
    "floor capture retired the earlier HOF basket expansion, whose "
    "interpreted lambdas and extra collect_list exchange cost 1.5x), "
    "per-item order counts BROADCAST onto the pair frame twice (item "
    "marginals are dimension-sized), and the ratios assemble from "
    "exact integers with one rounded division each. 100 TB: the "
    "item-stream shuffle on orderkey is the only fact-scale exchange; "
    "candidate pairs above min-support are sparse by construction.",
    oracle="""
      WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ),
      n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders
            FROM items),
      cnt AS (
        SELECT l_partkey, count(*)::BIGINT AS c FROM items GROUP BY 1
      ),
      p AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*)::BIGINT AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 3
      )
      SELECT p.part_a, p.part_b, p.n_ab,
             ca.c AS n_a, cb.c AS n_b,
             round(p.n_ab::DOUBLE / n.n_orders, 6) AS support,
             round(p.n_ab::DOUBLE / ca.c, 6) AS conf_a_to_b,
             round(p.n_ab::DOUBLE / cb.c, 6) AS conf_b_to_a,
             round(p.n_ab::DOUBLE * n.n_orders / (ca.c * cb.c), 6)
               AS lift
      FROM p JOIN cnt ca ON ca.l_partkey = p.part_a
             JOIN cnt cb ON cb.l_partkey = p.part_b
             CROSS JOIN n
      ORDER BY lift DESC, part_a, part_b
      LIMIT 25
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    # pair stream via SHUFFLE_HASH self-join on orderkey (exchange
    # reused across the identical sides): the earlier collect_list +
    # SQL-lambda HOF expansion — 3× faster than a SORT-MERGE self-join
    # when measured in r04 — lost 1.5× to this hash join on the
    # regenerated corpus (r08 floor capture: 2.5 s -> 1.7 s at sf0.1,
    # identical output; the interpreted nested-transform lambdas and
    # the extra collect_list exchange were the cost). localCheckpoint
    # of items measured SLOWER (2.4 s — the butterfly-persist
    # counterexample: materialization breaks codegen fusion).
    ia = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    ib = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    ).hint("shuffle_hash")
    pairs = (
        ia.join(ib, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    n = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    ca = cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a")
    )
    cb = cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b")
    )
    nab = F.col("n_ab").cast("double")
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(nab / F.col("n_orders"), 6).alias("support"),
            F.round(nab / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(nab / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                nab * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(25)
    )


# --------------------------------------------- positional phrase search


@register(
    "text_phrase_search_positional",
    "Exact phrase search via a POSITIONAL inverted index — the "
    "search-engine primitive BM25 can't express (bag-of-words loses "
    "adjacency): the probe phrase is the first 3 tokens of doc 0 "
    "(derived identically on both engines, so regenerated corpora "
    "re-derive it), the token stream explodes WITH positions, rows are "
    "pre-filtered to the 3 phrase terms (a broadcast-able dictionary "
    "at any corpus size), and occurrences assemble by doc-local "
    "position adjacency equi-joins (pos, pos+1, pos+2) — counting "
    "OVERLAPPING matches correctly. The oracle scans each doc's token "
    "array with a range fold instead of an index — independent "
    "formulations, same integer counts. 100 TB: the posting stream "
    "shuffles once on (doc_id) for the adjacency joins and is "
    "term-filtered BEFORE the shuffle, so volume is the phrase terms' "
    "posting lists, never the corpus.",
    oracle="""
      WITH tk AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
      ),
      ph AS (
        SELECT t[1] AS p1, t[2] AS p2, t[3] AS p3 FROM tk
        WHERE doc_id = 0 AND len(t) >= 3
      ),
      hits AS (
        SELECT tk.doc_id,
               len(list_filter(range(1, greatest(len(t) - 2, 0) + 1),
                               i -> t[i] = ph.p1 AND t[i+1] = ph.p2
                                    AND t[i+2] = ph.p3))::BIGINT AS n_occ
        FROM tk, ph
      )
      SELECT doc_id, n_occ FROM hits WHERE n_occ > 0
      ORDER BY n_occ DESC, doc_id
      LIMIT 50
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _th(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
        ).alias("t"),
    )
    # the probe phrase resolves driver-side (the ANN build-time
    # parameter pattern): one pushed-down point lookup, then the term
    # filter is three string LITERALS evaluated in the same scan
    phrase = (
        tk.where((F.col("doc_id") == 0) & (F.size("t") >= 3))
        .select(F.slice("t", 1, 3).alias("p"))
        .collect()
    )
    if not phrase:
        return tk.where(F.lit(False)).select(
            "doc_id", F.lit(0).cast("bigint").alias("n_occ")
        )
    p1, p2, p3 = phrase[0][0]
    # positional postings, term-filtered before any shuffle: only the
    # 3 phrase terms' posting lists survive the scan. The barrier is
    # load-bearing — three consumers (t1/t2/t3) and no cross-consumer
    # CSE means the corpus tokenize+posexplode pipeline would run 3x
    # without it (measured 2.96 s vs 1.0 s warm at sf0.1)
    post = (
        tk.select(
            "doc_id",
            F.posexplode("t").alias("pos", "tok"),
        )
        .where(F.col("tok").isin(p1, p2, p3))
        .localCheckpoint()
    )
    t1 = post.where(F.col("tok") == p1).select(
        "doc_id", F.col("pos").alias("i")
    )
    t2 = post.where(F.col("tok") == p2).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("j")
    )
    t3 = post.where(F.col("tok") == p3).select(
        F.col("doc_id").alias("d3"), F.col("pos").alias("k")
    )
    return (
        t1.join(
            t2,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("j") == F.col("i") + 1),
        )
        .join(
            t3,
            (F.col("doc_id") == F.col("d3"))
            & (F.col("k") == F.col("i") + 2),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "doc_id")
        .limit(50)
    )


# ------------------------------------------------ TextRank keywords

_TR_SCALE = 10**15
_TR_ITERS = 4


def _textrank_oracle_sql() -> str:
    """Unrolled integer PageRank over the word-adjacency graph — the
    graph_ops.py::_pr_oracle_sql discipline (scaled 1e15 ranks, floor
    division, fixed iterations) applied to TEXT: nodes are corpus
    tokens, edges are distinct adjacent-token pairs (the TextRank
    window-2 co-occurrence graph), canonicalized src < dst by string
    order (ASCII-only tokens — both engines collate identically)."""
    steps = []
    prev = "r0"
    for k in range(1, _TR_ITERS + 1):
        steps.append(
            f"""
      r{k} AS (
        SELECT d.node,
               ((15 * {_TR_SCALE}) // (100 * p.n)
                + (85 * COALESCE(s.c, 0)) // 100)::BIGINT AS r
        FROM deg d
        CROSS JOIN params p
        LEFT JOIN (
          SELECT e.dst AS node, sum(pr.r // dg.deg)::BIGINT AS c
          FROM e
          JOIN {prev} pr ON pr.node = e.src
          JOIN deg dg ON dg.node = e.src
          GROUP BY e.dst
        ) s ON s.node = d.node
      )"""
        )
        prev = f"r{k}"
    chain = ",".join(steps)
    return f"""
      WITH tk AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
      ),
      pairs AS (
        SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                     i -> struct_pack(a := t[i],
                                                      b := t[i+1]))) AS p
        FROM tk
      ),
      e0 AS (
        SELECT DISTINCT least(p.a, p.b) AS src, greatest(p.a, p.b) AS dst
        FROM pairs WHERE p.a <> p.b
      ),
      e AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
      ),
      deg AS (
        SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY src
      ),
      params AS (SELECT count(*)::BIGINT AS n FROM deg),
      r0 AS (
        SELECT node, ({_TR_SCALE} // p.n)::BIGINT AS r
        FROM deg CROSS JOIN params p
      ),{chain}
      SELECT node AS word, r AS rank_scaled
      FROM {prev}
      ORDER BY r DESC, node
      LIMIT 15
    """


@register(
    "text_textrank_keywords",
    "TextRank keyword extraction (Mihalcea & Tarau '04) with ENGINE-"
    "EXACT arithmetic — corpus-level composition of two proven "
    "kernels: the arrays_zip adjacent-pair expansion builds the "
    "window-2 word co-occurrence graph (distinct undirected edges, "
    "string-canonicalized), and the scaled-integer fixed-iteration "
    "PageRank (graph_pagerank_integer_fixedpoint's discipline: 1e15 "
    "scale, floor division, per-round checkpoint) ranks the "
    "vocabulary; top-15 words ARE the keywords. The DuckDB twin "
    "unrolls the identical 4 iterations, so ranks match bit for bit. "
    "100 TB: the pair stream is one corpus scan; the graph is "
    "vocabulary-sized (edges bounded by |V|², in practice Zipf-"
    "sparse), so every iteration shuffles a vocabulary-bounded frame, "
    "never the corpus.",
    oracle=_textrank_oracle_sql(),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _th(spark, sf_dir, "documents")
    tk = d.select(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
        ).alias("t")
    )
    pair_expr = (
        "transform(arrays_zip("
        "slice(t, 1, greatest(size(t) - 1, 0)), "
        "slice(t, 2, greatest(size(t) - 1, 0))), "
        "s -> struct(s['0'] AS a, s['1'] AS b))"
    )
    e0 = (
        tk.select(F.explode(F.expr(pair_expr)).alias("p"))
        .where(F.col("p.a") != F.col("p.b"))
        .select(
            F.least("p.a", "p.b").alias("src"),
            F.greatest("p.a", "p.b").alias("dst"),
        )
        .distinct()
    )
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    e = e.repartition("src").localCheckpoint()
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    n = deg.count()  # vocabulary size — bounded driver scalar
    base = (15 * _TR_SCALE) // (100 * n)
    # deg / per-round r are |vocab-of-window-cooccurring-tokens|-sized;
    # broadcast holds while that fits the budget (TextRank practice
    # caps candidate tokens first). Past it, drop the hints — ed is
    # checkpointed src-partitioned, so rounds flip to shuffle-hash
    # joins (same switch as operators/graph.py::pagerank).
    ed = e.join(F.broadcast(deg), "src").localCheckpoint()
    nodes = deg.select(F.col("src").alias("node"))
    r = deg.select(
        F.col("src").alias("node"),
        F.lit(_TR_SCALE // n).cast("bigint").alias("r"),
    )
    for _ in range(_TR_ITERS):
        contribs = ed.join(
            F.broadcast(r.withColumnRenamed("node", "src")), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("r div deg").alias("cc"),
        )
        c = contribs.groupBy("node").agg(F.sum("cc").alias("c"))
        r = (
            nodes.join(c, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(c, 0L)) div 100")
                ).cast("bigint").alias("r"),
            )
            .localCheckpoint()
        )
    return (
        r.orderBy(F.desc("r"), "node")
        .limit(15)
        .select(F.col("node").alias("word"), F.col("r").alias("rank_scaled"))
    )


# ------------------------------------------------- key-skew audit


@register(
    "audit_key_skew_profile",
    "Join-key skew audit — the pre-flight check a 1000-executor join "
    "plan needs before choosing salt factors / AQE thresholds: for "
    "lineitem's three join keys (orderkey, partkey, suppkey) in one "
    "pass each, the profile reports distinct keys, max/mean per-key "
    "row counts, the skew factor (max*distinct/total, exact rational "
    "reported as a rounded double), and the share of rows owned by "
    "the single heaviest key (deterministic tie-break on key value). "
    "Two-level aggregation with map-side combine; the per-key frame "
    "collapses to one row per audited key column. 100 TB: this IS the "
    "query you run to decide the salting strategy — it must never "
    "itself be skew-fragile, and two-level agg isn't.",
    oracle="""
      WITH p AS (
        SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
        UNION ALL
        SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', l_suppkey FROM lineitem
      ),
      c AS (
        SELECT key_col, k, count(*)::BIGINT AS n
        FROM p GROUP BY key_col, k
      ),
      h AS (
        SELECT key_col, k AS heaviest_key
        FROM (SELECT key_col, k,
                     row_number() OVER (PARTITION BY key_col
                                        ORDER BY n DESC, k) AS rn
              FROM c) _r
        WHERE rn = 1
      )
      SELECT c.key_col,
             count(*)::BIGINT AS n_distinct,
             sum(n)::BIGINT AS n_rows,
             max(n)::BIGINT AS max_key_rows,
             round(max(n) * count(*)::DOUBLE / sum(n), 6) AS skew_factor,
             round(max(n)::DOUBLE / sum(n), 6) AS top_key_share,
             min(h.heaviest_key)::BIGINT AS heaviest_key
      FROM c JOIN h ON h.key_col = c.key_col
      GROUP BY c.key_col ORDER BY c.key_col
    """,
)
def audit_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = None
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        sel = li.select(
            F.lit(col).alias("key_col"), F.col(col).alias("k")
        )
        p = sel if p is None else p.unionAll(sel)
    c = p.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_key_rows"),
            F.round(
                F.max("n")
                * F.count(F.lit(1)).cast("double")
                / F.sum("n"),
                6,
            ).alias("skew_factor"),
            F.round(
                F.max("n").cast("double") / F.sum("n"), 6
            ).alias("top_key_share"),
            F.max_by("k", F.struct(F.col("n"), (-F.col("k"))))
            .cast("bigint")
            .alias("heaviest_key"),
        )
        .orderBy("key_col")
    )


# --------------------------------------------------- Zipf slope


@register(
    "text_zipf_slope",
    "Zipf's-law fit of the corpus token distribution: rank tokens by "
    "frequency (deterministic tie-break on token), then OLS slope of "
    "ln(freq) on ln(rank) over the top 200 — the standard "
    "natural-language sanity check on a training corpus (synthetic or "
    "over-deduplicated corpora show distinctive non-Zipf slopes). "
    "Exact integer (rank, freq) pairs feed double log sums identically "
    "ordered on both engines? NO — sums of logs ARE order-sensitive, "
    "so the sufficient statistics aggregate over the rounded 12dp logs "
    "via a deterministic ordered list fold (the chi-square entry's "
    "discipline), keeping the FP surface to one canonical order. "
    "100 TB: vocabulary agg + a 200-row bounded tail.",
    oracle="""
      WITH f AS (
        SELECT tok, count(*)::BIGINT AS freq
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS tok FROM documents) _t
        GROUP BY tok
      ),
      r AS (
        SELECT row_number() OVER (ORDER BY freq DESC, tok) AS rank, freq
        FROM f
      ),
      top AS (SELECT * FROM r WHERE rank <= 200),
      s AS (
        SELECT list_aggregate(ls, 'sum') AS sx,
               list_aggregate(lf, 'sum') AS sy,
               list_aggregate(list_transform(ls, x -> x * x), 'sum') AS sxx,
               list_aggregate(list_transform(range(1, len(ls) + 1),
                                             i -> ls[i] * lf[i]), 'sum')
                 AS sxy,
               len(ls)::BIGINT AS n
        FROM (
          SELECT list(round(ln(rank), 12) ORDER BY rank) AS ls,
                 list(round(ln(freq), 12) ORDER BY rank) AS lf
          FROM top
        ) _l
      )
      SELECT n AS n_ranks,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS zipf_slope
      FROM s WHERE n >= 2
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _th(spark, sf_dir, "documents")
    f = (
        d.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # ADVICE r05: vocabulary grows with corpus size (unlike the
    # fixed-domain KS/PSI histograms), so take the top 200 with a
    # TakeOrderedAndProject limit FIRST (parallel partial top-k), then
    # rank the <=200-row frame — the unpartitioned window now touches a
    # LIMIT-bounded frame only
    top = f.orderBy(F.col("freq").desc(), "tok").limit(200)
    r = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "tok"))
        .alias("rank"),
        "freq",
    )
    lists = r.agg(
        F.array_sort(
            F.collect_list(F.struct("rank", "freq"))
        ).alias("z")
    )
    ls = F.transform(
        "z", lambda s: F.round(F.log(s["rank"].cast("double")), 12)
    )
    lf = F.transform(
        "z", lambda s: F.round(F.log(s["freq"].cast("double")), 12)
    )
    def _fold(arr):
        return F.aggregate(
            arr, F.lit(0.0), lambda a, x: a + x
        )
    prod = F.zip_with(ls, lf, lambda a, b: a * b)
    sq = F.transform(ls, lambda x: x * x)
    stats = lists.select(
        F.size("z").cast("bigint").alias("n"),
        _fold(ls).alias("sx"),
        _fold(lf).alias("sy"),
        _fold(sq).alias("sxx"),
        _fold(prod).alias("sxy"),
    )
    n = F.col("n").cast("double")
    # degenerate-corpus guard (ADVICE r04 discipline): <2 ranks makes
    # the denominator 0 — filter identically on both engines
    return stats.where(F.col("n") >= 2).select(
        F.col("n").alias("n_ranks"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


# ----------------------------------------- embedding drift (centroids)


@register(
    "embedding_drift_centroid_shift",
    "Embedding distribution drift between two corpus snapshots "
    "(vec_id parity stands in for before/after): per-label centroids "
    "from ONE (label, half, dim) integer-count + double-sum "
    "aggregation over posexploded dims (dims bounded at 64 — the "
    "explode multiplies rows by a constant), then the L2 centroid "
    "shift per label with per-dim deltas rounded 9dp before the "
    "squared sum (one canonical FP order per dim on both engines, "
    "dim-indexed aggregation is order-free). The monitoring query "
    "every embedding pipeline runs on re-encode. 100 TB: map-side "
    "combine on (label, half, dim); output bounded by |labels|.",
    oracle="""
      WITH e AS (
        SELECT label, vec_id % 2 AS half,
               u.i - 1 AS dim, embedding[u.i]::DOUBLE AS v
        FROM embeddings,
             unnest(range(1, len(embedding) + 1)) u(i)
      ),
      c AS (
        SELECT label, half, dim,
               sum(v) / count(*) AS mu
        FROM e GROUP BY label, half, dim
      ),
      d AS (
        SELECT a.label, a.dim,
               round(a.mu - b.mu, 9) AS delta
        FROM c a JOIN c b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 0 AND b.half = 1
      )
      SELECT label,
             count(*)::BIGINT AS n_dims,
             round(sqrt(sum(delta * delta)), 6) AS centroid_shift_l2
      FROM d GROUP BY label ORDER BY label
    """,
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    c = e.groupBy("label", "half", "dim").agg(
        (F.sum("v") / F.count(F.lit(1))).alias("mu")
    )
    a = c.where(F.col("half") == 0).select(
        "label", "dim", F.col("mu").alias("mu_a")
    )
    b = c.where(F.col("half") == 1).select(
        F.col("label").alias("lb"),
        F.col("dim").alias("db"),
        F.col("mu").alias("mu_b"),
    )
    d = a.join(
        b, (a.label == b.lb) & (a.dim == b.db)
    ).select(
        "label", F.round(F.col("mu_a") - F.col("mu_b"), 9).alias("delta")
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.round(
                F.sqrt(F.sum(F.col("delta") * F.col("delta"))), 6
            ).alias("centroid_shift_l2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------- interval union coverage

_SPAN_US = 600_000_000  # each event covers [ts, ts + 10 min)


@register(
    "interval_union_coverage",
    "Interval-union coverage (the uptime/SLA sweep-line classic, and "
    "the missing sibling of the interval-overlap JOIN): each event "
    "opens a 10-minute activity interval; per user, overlapping "
    "intervals merge into islands (start > running max of prior ends "
    "opens a new island — lag-free sweep line via an EXCLUSIVE-frame "
    "running max + conditional cumsum, the sessionize discipline) and "
    "the report gives island count, total covered microseconds "
    "(exact integers), and the covered share of the user's active "
    "span. Two window passes over ONE shuffle on user_id. 100 TB: "
    "partitioned by the entity key; per-partition sort is the "
    "algorithm's intrinsic cost, no self-join, no explosion.",
    oracle=f"""
      WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_SPAN_US} AS e,
               event_id
        FROM events
      ),
      flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN s > coalesce(
                      max(e) OVER (PARTITION BY user_id
                                   ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
      ),
      islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id
                                     ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW)::BIGINT
                 AS island_id
        FROM flagged
      ),
      merged AS (
        SELECT user_id, island_id,
               min(s)::BIGINT AS island_s, max(e)::BIGINT AS island_e
        FROM islands GROUP BY user_id, island_id
      )
      SELECT user_id,
             count(*)::BIGINT AS n_islands,
             sum(island_e - island_s)::BIGINT AS covered_us,
             round(sum(island_e - island_s)::DOUBLE
                   / (max(island_e) - min(island_s)), 6) AS coverage_ratio
      FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(_SPAN_US)).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prior_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(
            F.col("s") > F.coalesce(prior_max_e, F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    span = F.col("island_e") - F.col("island_s")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(span).alias("covered_us"),
            F.round(
                F.sum(span).cast("double")
                / (F.max("island_e") - F.min("island_s")),
                6,
            ).alias("coverage_ratio"),
        )
        .orderBy("user_id")
    )


# ------------------------------------- row pattern matching (V-shapes)


@register(
    "window_pattern_vshape_runs",
    "SQL:2016 row pattern matching (MATCH_RECOGNIZE's DOWN+ UP+ "
    "V-shape, which Spark lacks) COMPILED to runs + windows: per-user "
    "value sequences get a sign-of-delta direction, monotone runs "
    "form islands (direction-change flag + cumsum — the sessionize "
    "discipline), and a V is a strict-down run immediately followed "
    "by a strict-up run; the report counts Vs per user and the "
    "deepest trough (run-start value minus run-min, one rounded "
    "subtraction). Three window passes over ONE shuffle on user_id — "
    "the standard compilation of variable-length row patterns onto a "
    "distributed engine, no self-join, no per-row UDF state machine. "
    "100 TB: everything is keyed by the entity; per-key sort is the "
    "pattern semantics' intrinsic cost.",
    oracle="""
      WITH d AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN value > lag(value) OVER w THEN 1
                    WHEN value < lag(value) OVER w THEN -1
                    ELSE 0 END AS dir
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      flagged AS (
        SELECT user_id, ts, event_id, value, dir,
               CASE WHEN dir IS DISTINCT FROM lag(dir) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM d WHERE dir IS NOT NULL AND dir <> 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      runs AS (
        SELECT user_id, ts, event_id, value, dir,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS run_id
        FROM flagged
      ),
      r AS (
        SELECT user_id, run_id, min(dir) AS dir,
               arg_min(value, ts) AS v_start,
               min(value) AS v_min,
               count(*)::BIGINT AS run_len
        FROM runs GROUP BY user_id, run_id
      ),
      v AS (
        SELECT a.user_id,
               round(a.v_start - a.v_min, 2) AS depth
        FROM r a JOIN r b
          ON b.user_id = a.user_id AND b.run_id = a.run_id + 1
        WHERE a.dir = -1 AND b.dir = 1
      )
      SELECT user_id, count(*)::BIGINT AS n_vshapes,
             round(max(depth), 2) AS max_depth
      FROM v GROUP BY user_id ORDER BY user_id
    """,
)
def window_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagv = F.lag("value").over(w)
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("value") > lagv, 1)
        .when(F.col("value") < lagv, -1)
        .otherwise(F.when(lagv.isNull(), F.lit(None)).otherwise(0))
        .alias("dir"),
    ).where(F.col("dir").isNotNull() & (F.col("dir") != 0))
    flagged = d.withColumn(
        "chg",
        F.when(
            ~F.col("dir").eqNullSafe(F.lag("dir").over(w)), 1
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    r = runs.groupBy("user_id", "run_id").agg(
        F.min("dir").alias("dir"),
        F.min_by("value", "ts").alias("v_start"),
        F.min("value").alias("v_min"),
        F.count(F.lit(1)).alias("run_len"),
    )
    a = r.where(F.col("dir") == -1).select(
        "user_id",
        F.col("run_id").alias("rid"),
        F.round(F.col("v_start") - F.col("v_min"), 2).alias("depth"),
    )
    b = r.where(F.col("dir") == 1).select(
        F.col("user_id").alias("ub"), F.col("run_id").alias("rid_b")
    )
    v = a.join(
        b,
        (F.col("user_id") == F.col("ub"))
        & (F.col("rid_b") == F.col("rid") + 1),
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_vshapes"),
            F.round(F.max("depth"), 2).alias("max_depth"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------ BFS frontier levels

_BFS_LEVELS = 4


def _bfs_oracle_sql() -> str:
    """Unrolled BFS as chained CTEs over the word-adjacency graph: the
    hub is the highest-degree word (tie: lexicographically first);
    frontier k+1 = neighbors of frontier k minus everything visited.
    Cycles make the recursive-CTE-with-min formulation inexpressible,
    but FIXED levels unroll (the integer-PageRank discipline applied
    to traversal)."""
    ctes = []
    visited = "f0"
    for k in range(1, _BFS_LEVELS + 1):
        prev = f"f{k-1}"
        ctes.append(
            f"""
      f{k} AS (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN {prev} p ON e.src = p.node
        WHERE e.dst NOT IN (SELECT node FROM {visited})
      ),
      v{k} AS (SELECT node FROM {visited} UNION SELECT node FROM f{k})"""
        )
        visited = f"v{k}"
    chain = ",".join(ctes)
    levels = "\n      UNION ALL\n".join(
        f"      SELECT {k}::BIGINT AS level, count(*)::BIGINT AS n_nodes,"
        f" min(node) AS first_node FROM f{k}"
        for k in range(_BFS_LEVELS + 1)
    )
    return f"""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      e AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst, src FROM e0
      ),
      deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
      hub AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
      f0 AS (SELECT node FROM hub),{chain}
      SELECT * FROM (
{levels}
      ) _l WHERE n_nodes > 0 ORDER BY level
    """


@register(
    "graph_bfs_levels_from_hub",
    "Distributed BFS — frontier expansion with a visited-set "
    "anti-join, the canonical iterative-traversal shape Pregel/"
    "GraphX popularized: from the highest-degree part of the "
    "co-purchase graph, each of 4 fixed rounds joins the frontier to "
    "the edge list and anti-joins the visited set (both "
    "localCheckpointed: each has two consumers per round). Cycles "
    "make recursive-CTE-with-min inexpressible, but fixed levels "
    "unroll into the DuckDB twin — the integer-PageRank oracle "
    "discipline applied to traversal. Output: nodes reached per "
    "level with a deterministic witness. 100 TB: per round one "
    "frontier-edge join keyed on the node id + one anti-join; "
    "frontier and visited frames are node-bounded, never edge-"
    "bounded.",
    oracle=_bfs_oracle_sql(),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.inventory.graph_ops import _edges

    e0 = _edges(spark, sf_dir)
    e = (
        e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("src")
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = (
        deg.orderBy(F.col("d").desc(), "src")
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    frontier = hub.localCheckpoint()
    visited = frontier
    rows = [(0, frontier.count(), frontier.collect()[0]["node"])]
    for lvl in range(1, _BFS_LEVELS + 1):
        # frontier is |current BFS level|-sized — can approach |V| on
        # small-diameter graphs; the hint holds while it fits the
        # broadcast budget, past that drop it and the expansion flips
        # to a shuffle join on the src-keyed edges (SSSP-site rule,
        # insight_ops10).
        nxt = (
            e.join(
                F.broadcast(
                    frontier.withColumnRenamed("node", "src")
                ),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint()
        )
        stats = nxt.agg(
            F.count(F.lit(1)).alias("n"), F.min("node").alias("w")
        ).collect()[0]
        if stats["n"] > 0:
            rows.append((lvl, stats["n"], stats["w"]))
        # visited stays a LAZY union of already-checkpointed frontier
        # frames: the anti-join just scans cached blocks, and skipping
        # the per-round materialization saves one job per level
        # (measured 5.1 s -> 4.4 s at sf0.1); the union depth is the
        # level count, so lineage stays O(levels), not exponential
        visited = visited.union(nxt)
        frontier = nxt
    return spark.createDataFrame(
        rows, "level bigint, n_nodes bigint, first_node bigint"
    ).orderBy("level")


# ------------------------------------------- funnel time-to-convert


@register(
    "funnel_time_to_convert",
    "Funnel latency distribution — the metric behind 'median time "
    "from first view to purchase': per user, the first 'view' "
    "timestamp (a conditional min carried by a user-partitioned "
    "window) anchors the funnel, the first subsequent 'purchase' "
    "closes it, and the corpus-level digest reports funnel entry/"
    "conversion counts, the conversion rate, and median / p90 "
    "conversion delay in seconds (integer-microsecond delays; one "
    "percentile interpolation over the per-user delay multiset). ONE "
    "shuffle on user_id does everything before the constant-size "
    "digest. 100 TB: per-entity windows + a bounded final agg — the "
    "delay frame is one row per converted user.",
    oracle="""
      WITH fv AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                 AS first_view
        FROM events GROUP BY user_id
      ),
      conv AS (
        SELECT e.user_id,
               min(epoch_us(e.ts)) - fv.first_view AS delay_us
        FROM events e JOIN fv ON fv.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND fv.first_view IS NOT NULL
          AND epoch_us(e.ts) >= fv.first_view
        GROUP BY e.user_id, fv.first_view
      )
      SELECT (SELECT count(*) FROM fv WHERE first_view IS NOT NULL)
               ::BIGINT AS n_entered,
             count(*)::BIGINT AS n_converted,
             round(count(*)::DOUBLE
                   / (SELECT count(*) FROM fv
                      WHERE first_view IS NOT NULL), 6) AS conversion_rate,
             round(median(delay_us) / 1e6, 3) AS median_delay_sec,
             round(quantile_cont(delay_us, 0.9) / 1e6, 3) AS p90_delay_sec
      FROM conv
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id")
    first_view = F.min(
        F.when(F.col("event_type") == "view", us)
    ).over(w)
    rows = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        first_view.alias("first_view"),
    )
    conv = (
        rows.where(
            (F.col("event_type") == "purchase")
            & F.col("first_view").isNotNull()
            & (F.col("us") >= F.col("first_view"))
        )
        .groupBy("user_id", "first_view")
        .agg((F.min("us") - F.col("first_view")).alias("delay_us"))
    )
    entered = (
        rows.where(F.col("first_view").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    # `entered` is a bounded driver scalar (one count over the same
    # shuffled frame); inlining it keeps the digest a single row
    return conv.agg(
        F.lit(entered).cast("bigint").alias("n_entered"),
        F.count(F.lit(1)).alias("n_converted"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.lit(entered), 6
        ).alias("conversion_rate"),
        F.round(F.expr("percentile(delay_us, 0.5)") / 1e6, 3).alias(
            "median_delay_sec"
        ),
        F.round(F.expr("percentile(delay_us, 0.9)") / 1e6, 3).alias(
            "p90_delay_sec"
        ),
    )
