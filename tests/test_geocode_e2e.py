"""End-to-end forward-geocode tests (SURVEY.md §5.4): the reference's
canonical request shape (app.py:76-84 — candidates=["Monograph Dining"],
country="my", limit=3) against the planted fixture clusters, plus the
edge-case battery of SURVEY.md §2.12."""

from __future__ import annotations

import uuid
from dataclasses import replace
from functools import reduce
from operator import and_

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.plans.geocode import GeocodeSettings, ScoutEngine, _tokens


@pytest.fixture(scope="module", params=["pandas_udf", "proxy"])
def engine(request, spark):
    raw = raw_osm_fixture(spark, n_pois=300)
    settings = GeocodeSettings(use_pandas_udf=request.param == "pandas_udf")
    return ScoutEngine(
        spark, build_pois(raw).cache(), build_admin(raw), settings
    )


def test_exact_match_ranks_first(engine):
    hits = engine.forward(["Monograph Dining"], country="malaysia", limit=3).collect()
    assert len(hits) == 3
    assert hits[0]["name"] == "Monograph Dining"
    assert hits[0]["score"] >= hits[1]["score"] >= hits[2]["score"]


def test_fuzzy_near_match_found(engine):
    # 1-edit typo still retrieves the cluster (verify phase does the work;
    # note the token filter requires substring containment, so the typo'd
    # token must still be contained — use the real name's tokens)
    hits = engine.forward(["monograph"], limit=5).collect()
    names = [h["name"] for h in hits]
    assert any("Monograph" in n for n in names)


def test_multilingual_name(engine):
    hits = engine.forward(["美食中心"], limit=3).collect()
    assert hits and hits[0]["name"] == "美食中心"


def test_empty_tokens_early_return(engine):
    # reference app.py:96-97 — punctuation-only text → no scan, no hits
    assert engine.forward(["!!! ...  "], limit=5).collect() == []


def test_unknown_hint_unrestricted(engine):
    # reference repo.py:45 — unknown hint → bbox None → global scan,
    # no proximity term in score
    hits = engine.forward(
        ["Monograph Dining"], city_hint="atlantis zzz", limit=3
    ).collect()
    assert hits and hits[0]["name"] == "Monograph Dining"


def test_city_hint_restricts_bbox(engine):
    # with a KL hint, all hits fall inside the KL bbox (reference
    # repo.py:57-61 bbox predicate)
    hits = engine.forward(["Monograph Dining"], city_hint="kuala lumpur", limit=5).collect()
    assert hits
    for h in hits:
        assert 3.139 - 0.25 <= h["lat"] <= 3.139 + 0.25
        assert 101.6869 - 0.25 <= h["lon"] <= 101.6869 + 0.25


def test_city_tried_before_country(engine):
    # city (admin_level >= 6) wins over country (= 2) when both resolve
    bbox_city = engine.resolve_area_bbox("singapore", None)
    bbox_country = engine.resolve_area_bbox(None, "singapore")
    assert bbox_city is not None and bbox_country is not None
    # city_hint='singapore' matches admin_level 6 (area 0.6²) not 2
    # (country bbox 0.8²); largest-area-wins applies within a level —
    # fixture plants level 8 (0.25°) and level 6 (0.3°): 6 is larger
    assert bbox_city != bbox_country


def test_largest_area_tiebreak(engine):
    # two admins named 'singapore' at levels >= 6 (0.3° and 0.125° half-
    # width): the larger bbox wins (reference repo.py:28-30)
    minx, miny, maxx, maxy, _, _ = engine.resolve_area_bbox("singapore", None)
    assert (maxx - minx) * (maxy - miny) == pytest.approx(0.6 * 0.6, rel=1e-6)


def test_score_exceeds_one_with_bbox(engine):
    # weights sum to 1.15 when bbox present (SURVEY.md §2.12) — an exact
    # match with max type boost can exceed 1.0; at minimum scores differ
    # between hinted and unhinted runs on the same query
    hinted = engine.forward(["Monograph Dining"], city_hint="kuala lumpur", limit=1).collect()
    unhinted = engine.forward(["Monograph Dining"], limit=1).collect()
    assert hinted and unhinted
    assert hinted[0]["score"] > unhinted[0]["score"] - 1e-9


def test_limit_respected(engine):
    assert len(engine.forward(["kedai"], limit=2).collect()) <= 2


def test_deterministic_across_runs(engine):
    a = engine.forward(["Monograph Dining"], country="malaysia", limit=5).collect()
    b = engine.forward(["Monograph Dining"], country="malaysia", limit=5).collect()
    assert a == b


def test_reverse_geocode_nearest(engine):
    # KL center: nearest hits must be inside the prefilter box, sorted by
    # distance, and include only POIs genuinely closest
    hits = engine.reverse(3.139, 101.6869, limit=5).collect()
    assert len(hits) == 5
    dists = [h["distance_km"] for h in hits]
    assert dists == sorted(dists)
    assert all(abs(h["lat"] - 3.139) <= 1.0 and abs(h["lon"] - 101.6869) <= 1.0 for h in hits)


def test_reverse_geocode_brute_force_agreement(engine, spark):
    # top-1 must equal the brute-force nearest over the full table
    import math

    hits = engine.reverse(5.4141, 100.3288, limit=1).collect()
    assert hits
    rows = engine.pois.select("osm_id", "lat", "lon").collect()

    def hav(lat1, lon1, lat2, lon2):
        R = 6371.0088
        p1, p2 = math.radians(lat1), math.radians(lat2)
        a = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(
            math.radians(lon2 - lon1) / 2
        ) ** 2
        return 2 * R * math.asin(math.sqrt(a))

    best = min(rows, key=lambda r: (hav(r["lat"], r["lon"], 5.4141, 100.3288), r["osm_id"]))
    assert hits[0]["osm_id"] == best["osm_id"]


# -- plan shape: one job, one Python scoring task ------------------------


def _jobs_run(spark, action):
    """(result of ``action``, number of Spark jobs it started on this
    thread), counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_nodes(df) -> list:
    """Every node of ``df``'s executed physical plan, through adaptive
    and query-stage wrappers (a cached relation's own plan excluded)."""
    nodes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _capped(engine, spark, cap):
    """An engine over the same cached tables with ``limit_scan=cap``."""
    return ScoutEngine(
        spark, engine.pois, engine.admin, replace(engine.settings, limit_scan=cap)
    )


@pytest.mark.parametrize(
    "hints",
    [{}, {"country": "malaysia"}, {"city_hint": "kuala lumpur"}],
    ids=["unhinted", "country", "city"],
)
def test_forward_runs_at_most_one_job(engine, spark, hints):
    hits, jobs = _jobs_run(
        spark, lambda: engine.forward(["Monograph Dining"], limit=3, **hints).collect()
    )
    assert hits and hits[0]["name"] == "Monograph Dining"
    assert jobs <= 1


def test_hinted_resolve_runs_no_job(engine, spark):
    bbox, jobs = _jobs_run(
        spark, lambda: engine.resolve_area_bbox("kuala lumpur", "malaysia")
    )
    assert bbox is not None
    assert jobs == 0


def test_punctuation_only_runs_no_job(engine, spark):
    df = engine.forward(["!!! ...  "], limit=5)
    hits, jobs = _jobs_run(spark, df.collect)
    assert hits == []
    assert jobs == 0
    # same columns and types as a scanning request
    assert df.schema == engine.forward(["kedai"], limit=5).schema


def test_cap_plans_as_top_k_without_range_partitioning(engine, spark):
    # broad token on the 300-POI fixture: far more matches than the cap
    cap = 5
    df = _capped(engine, spark, cap).forward(["kedai"], limit=3)
    assert len(df.collect()) == 3
    nodes = _plan_nodes(df)
    exchanges = [n.outputPartitioning().toString() for n in nodes if n.nodeName() == "Exchange"]
    assert not [e for e in exchanges if e.startswith("rangepartitioning")]
    # the cap is a top-k heap, not a global sort
    assert cap in [n.limit() for n in nodes if n.nodeName() == "TakeOrderedAndProject"]
    scorers = [n for n in nodes if n.nodeName() == "ArrowEvalPython"]
    if engine.settings.use_pandas_udf:
        # the scorer sits above the cap: it receives at most cap rows
        assert len(scorers) == 1
        received = scorers[0].metrics().apply("pythonNumRowsReceived").value()
        assert 0 < received <= cap
    else:
        assert scorers == []


def test_cap_scores_exactly_the_top_matches(engine, spark):
    # forward() under a cap below the match count returns what scoring
    # exactly the top-cap matches by (importance desc, osm_id) returns
    cap = 5
    matches = engine.pois.where(
        F.col("name_local_norm").contains("kedai") | F.col("name_en_norm").contains("kedai")
    )
    assert matches.count() > cap
    top_ids = [
        r["osm_id"]
        for r in matches.orderBy(F.col("importance").desc(), F.col("osm_id"))
        .limit(cap)
        .select("osm_id")
        .collect()
    ]
    only_top = ScoutEngine(
        spark, engine.pois.where(F.col("osm_id").isin(top_ids)), engine.admin, engine.settings
    )
    try:
        got = _capped(engine, spark, cap).forward(["kedai"], limit=3).collect()
        want = only_top.forward(["kedai"], limit=3).collect()
    finally:
        only_top.pois.unpersist()
    assert len(got) == 3
    assert {h["osm_id"] for h in got} <= set(top_ids)
    assert got == want


# -- driver-side area resolver vs the Spark query it replaced ------------


def _spark_resolve(admin, city_hint, country):
    """The per-request Spark query resolve_area_bbox used to run: the
    oracle for the driver-side admin snapshot."""
    for hint, level_pred in (
        (city_hint, F.col("admin_level") >= 6),
        (country, F.col("admin_level") == 2),
    ):
        toks = _tokens(hint)
        if not toks:
            continue
        pred = reduce(
            and_,
            [
                (
                    F.coalesce(F.col("name_local_norm"), F.lit("")).contains(t)
                    | F.coalesce(F.col("name_en_norm"), F.lit("")).contains(t)
                )
                for t in toks
            ],
        )
        row = (
            admin.where(pred & level_pred)
            .orderBy(
                ((F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))).desc(),
                F.col("osm_id"),
            )
            .select("minx", "miny", "maxx", "maxy", "center_lat", "center_lon")
            .limit(1)
            .collect()
        )
        if row:
            return tuple(float(v) for v in row[0])
    return None


_ADMIN_SCHEMA = (
    "osm_id bigint, name_local_norm string, name_en_norm string, admin_level int,"
    " minx double, miny double, maxx double, maxy double,"
    " center_lat double, center_lon double"
)
_ADMIN_WORDS = ["kuala", "lumpur", "george", "town", "singapore", "johor", "malaysia"]
_names = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_ADMIN_WORDS), min_size=1, max_size=3).map(" ".join),
)
# (local norm, English norm, level, minx, miny, width, height): dyadic
# sizes, so equal areas are exact and the osm_id tie-break decides
_admin_rows = st.lists(
    st.tuples(
        _names,
        _names,
        st.sampled_from([None, 2, 4, 6, 8, 10]),
        st.sampled_from([0.0, 1.0, 2.5]),
        st.sampled_from([0.0, -1.5]),
        st.sampled_from([0.5, 1.0, 2.0]),
        st.sampled_from([0.5, 1.0, 2.0]),
    ),
    max_size=12,
)
# multi-token, partial-token, punctuated, empty and never-matching hints
_hints = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from(_ADMIN_WORDS + ["lum", "Kuala-Lumpur!", "zzz", "..."]),
        min_size=1,
        max_size=3,
    ).map(" ".join),
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_admin_rows, requests=st.lists(st.tuples(_hints, _hints), min_size=1, max_size=4))
@example(
    # both hints resolve: the city (level >= 6) must win over the country
    rows=[
        ("singapore", None, 2, 0.0, 0.0, 2.0, 2.0),
        (None, "singapore", 6, 1.0, 0.0, 0.5, 0.5),
        ("singapore", "singapore", 8, 2.5, -1.5, 0.5, 0.5),
    ],
    requests=[("singapore", "singapore"), (None, "singapore"), ("zzz", "singapore")],
)
def test_resolver_matches_spark_query(spark, rows, requests):
    admin = spark.createDataFrame(
        [
            ((i * 7919) % 1000 + 1, local, en, level, x, y, x + w, y + h, y + h / 2, x + w / 2)
            for i, (local, en, level, x, y, w, h) in enumerate(rows)
        ],
        _ADMIN_SCHEMA,
    )
    # the resolver reads admin alone; pois is an empty stand-in
    pois = spark.createDataFrame([], "osm_id bigint").cache()
    engine = ScoutEngine(spark, pois, admin, GeocodeSettings())
    try:
        for city_hint, country in requests:
            assert engine.resolve_area_bbox(city_hint, country) == _spark_resolve(
                admin, city_hint, country
            ), (city_hint, country)
    finally:
        engine.admin.unpersist()
        pois.unpersist()
