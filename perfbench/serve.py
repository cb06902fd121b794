"""``serve``: the HTTP geocoder under closed-loop load.

``plans.http_service.serve(ScoutEngine)`` runs on loopback over the
dataset gazetteer. ``nproc`` client threads in this process each send
one request, wait for the reply, then send the next, for the measured
window. Requests come from a seeded schedule over a pool of distinct
texts (``gen.query_pool``): exact planted names, near misses, city and
country hints, a broad token that hits the scan cap, no-hit words and
punctuation only.
"""

from __future__ import annotations

import http.client
import json
import re
import threading
import time
from dataclasses import dataclass

from perfbench import common, env, gen
from perfbench.tracing import SparkLedger, Tracer, job_group, metric_number, union_ms

PATH = "/v1/geocode/forward"
TIMEOUT_S = 60.0
# settling load before the window: a number of requests, not seconds,
# so a run on a slow stretch of the machine is as warm as any other when
# its window opens; the cap bounds the run time
SETTLE_REQUESTS = 30
SETTLE_MAX_S = 20.0
_DUR_RE = re.compile(r"app;dur=([\d.]+)")


@dataclass
class Reply:
    rid: str
    klass: str
    t0: float
    t1: float
    status: int
    server_ms: float
    body: bytes
    query: gen.Query
    error: str | None = None
    hits: int = 0

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def _post(port: int, body: dict, rid: str) -> tuple[float, float, int, float, bytes]:
    payload = json.dumps(body).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request(
            "POST", PATH, payload,
            {"Content-Type": "application/json", "X-Request-Id": rid},
        )
        resp = conn.getresponse()
        data = resp.read()
        status = resp.status
        timing = resp.getheader("Server-Timing") or ""
    finally:
        conn.close()
    t1 = time.perf_counter()
    m = _DUR_RE.search(timing)
    return t0, t1, status, float(m.group(1)) if m else 0.0, data


class Serve:
    def __init__(self, root: str, work: str, seed: int, traced: bool):
        self.gaz, planted = common.dataset(root, work)
        self.pool = gen.query_pool(seed, planted)
        self.schedule = gen.request_schedule(seed, self.pool, 20_000)
        self.clients = env.nproc()
        self.server = None
        self.tracer = Tracer() if traced else None

    # -- set-up ---------------------------------------------------------
    def instrument(self) -> None:
        """Spans around each layer's public functions, and a job group
        per request, for the traced run."""
        from pyspark.sql.classic.dataframe import DataFrame

        from scout_spark.plans import http_service
        from scout_spark.plans.geocode import ScoutEngine

        tr = self.tracer
        orig_make = http_service.make_handler

        def make_handler(engine):
            base = orig_make(engine)

            class Traced(base):
                def do_POST(self):  # noqa: N802
                    tr.rid = self.headers.get("X-Request-Id")
                    try:
                        with tr.span("http.handler"), job_group(tr.rid):
                            super().do_POST()
                    finally:
                        tr.rid = None

                def _respond(self, status, payload, t0):
                    with tr.span("http.respond"):
                        super()._respond(status, payload, t0)

            return Traced

        http_service.make_handler = make_handler
        tr._patches.append((http_service, "make_handler", orig_make))
        tr.wrap(http_service, "validate_forward", "openapi.validate")
        tr.wrap(http_service, "forward_geocode", "api.forward_geocode")
        tr.wrap(ScoutEngine, "forward", "geocode.forward")
        tr.wrap(
            ScoutEngine, "resolve_area_bbox", "geocode.resolve",
            around=lambda *a, **k: job_group(f"{tr.rid}/resolve"),
        )
        tr.wrap(ScoutEngine, "fetch_candidates", "geocode.fetch_candidates")
        tr.wrap(ScoutEngine, "_scored", "fuzzy.score_plan")
        tr.wrap(DataFrame, "collect", "spark.collect")

    def setup(self, spark) -> None:
        """Engine over the gazetteer tables, the HTTP service, and its
        first successful reply: the cold request that starts the Python
        workers."""
        from scout_spark.etl.gazetteer import poi_view
        from scout_spark.plans.geocode import ScoutEngine
        from scout_spark.plans.http_service import serve

        engine = ScoutEngine(
            spark, poi_view(spark, f"{self.gaz}/pois"), spark.read.parquet(f"{self.gaz}/admin")
        )
        self.server = serve(engine)
        port = self.server.server_address[1]
        deadline = time.perf_counter() + TIMEOUT_S
        while time.perf_counter() < deadline:
            try:
                if _post(port, self.schedule[-1].body, "warm")[2] == 200:
                    return
            except (OSError, http.client.HTTPException):
                time.sleep(0.5)
        raise RuntimeError("the service gave no successful reply during set-up")

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def cleanup(self) -> None:
        pass

    # -- measured window ------------------------------------------------
    def _load(self, schedule: list[gen.Query], prefix: str, seconds: float, traced: bool) -> list[Reply]:
        """``clients`` closed-loop threads sending ``schedule`` in order
        until ``seconds`` have passed or ``schedule`` runs out; every
        request started is awaited."""
        port = self.server.server_address[1]
        replies: list[Reply] = []
        lock = threading.Lock()
        nxt = iter(enumerate(schedule))
        deadline = time.perf_counter() + seconds

        def client():
            while time.perf_counter() < deadline:
                with lock:
                    item = next(nxt, None)
                if item is None:
                    return
                i, q = item
                rid = f"{prefix}{i}"
                try:
                    if traced:
                        with self.tracer.span("client.request", rid=rid):
                            t0, t1, status, sms, body = _post(port, q.body, rid)
                    else:
                        t0, t1, status, sms, body = _post(port, q.body, rid)
                    r = Reply(rid, q.klass, t0, t1, status, sms, body, q)
                except (OSError, http.client.HTTPException) as e:
                    now = time.perf_counter()
                    r = Reply(rid, q.klass, now, now, 0, 0.0, b"", q, repr(e))
                with lock:
                    replies.append(r)

        threads = [threading.Thread(target=client, name=f"client{k}") for k in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(TIMEOUT_S + seconds + 30)
        return replies

    def measure(self, spark, seconds: float) -> dict:
        # settle first: requests keep getting faster for 30 s or more of
        # load while the JIT compiles the request path and the scorer's
        # per-worker caches fill; the settle replies are dropped
        half = len(self.schedule) // 2
        self._load(self.schedule[half:half + SETTLE_REQUESTS], "s", SETTLE_MAX_S, traced=False)
        if self.tracer:
            self.tracer.spans.clear()
        t_start = time.perf_counter()
        replies = self._load(self.schedule[:half], "r", seconds, traced=self.tracer is not None)
        t_end = max((r.t1 for r in replies), default=time.perf_counter())
        failed = self.check(replies)
        lat = [r.ms for r in replies]
        out = {
            "attempted": len(replies),
            "failed": failed,
            "call_p50_ms": common.median(lat),
            "call_p75_ms": common.percentile(lat, 75),
            "items_per_s": len(replies) / (t_end - t_start),
            "gazetteer_mb": common.gazetteer_mb(self.gaz),
            "samples": len(lat),
            "beyond_p75": sum(1 for x in lat if x > common.percentile(lat, 75)),
            "requests": [[r.klass, round(r.t0 - t_start, 3), round(r.ms, 1)] for r in replies],
            "class_p50_ms": class_p50([(r.klass, r.ms) for r in replies]),
        }
        self.replies = replies
        return out

    def check(self, replies: list[Reply]) -> int:
        """Every reply is a 200 with at most ``limit`` hits; exact
        planted queries return the planted name first."""
        failed = 0
        for r in replies:
            ok = r.error is None and r.status == 200
            if ok:
                try:
                    hits = json.loads(r.body)["hits"]
                except (ValueError, KeyError):
                    hits, ok = None, False
            if ok:
                ok = len(hits) <= r.query.body["limit"]
                if r.query.expect is not None:
                    ok = ok and bool(hits) and hits[0]["name"] == r.query.expect
            r.hits = len(hits) if ok else 0
            failed += not ok
        return failed

    # -- traced-run analysis ----------------------------------------------
    def layers(self, spark) -> dict:
        tr = self.tracer
        ledger = SparkLedger(spark)
        self_ms = tr.self_ms()
        spans = tr.by_rid()
        rows = []
        for r in self.replies:
            ss = spans.get(r.rid, [])
            client = next((s for s in ss if s.name == "client.request"), None)
            if client is None:
                continue
            # handler spans run on the server's thread: parent them to
            # the client span of the same request
            for s in ss:
                if s.parent is None and s is not client:
                    s.parent = client.sid
            by_id = {s.sid: s for s in ss}
            names: dict[str, float] = {}
            dur: dict[str, float] = {}
            for s in ss:
                names[s.name] = names.get(s.name, 0.0) + self_ms[s.sid]
                dur[s.name] = dur.get(s.name, 0.0) + s.ms
            api_collect = sum(
                s.ms for s in ss
                if s.name == "spark.collect" and s.parent in by_id
                and by_id[s.parent].name == "api.forward_geocode"
            )
            main = ledger.totals(ledger.jobs(r.rid))
            resolve = ledger.totals(ledger.jobs(f"{r.rid}/resolve"))
            nodes = ledger.sql_nodes(ledger.jobs(r.rid))
            scored = sum(metric_number(m.get("number of output rows", "0")) for n, m in nodes if n == "ArrowEvalPython")
            st = main["stage_list"]
            rows.append({
                "klass": r.klass,
                "wall_ms": client.ms,
                "self": names,
                "dur": dur,
                "server_ms": r.server_ms,
                "hits": r.hits,
                "api_collect_ms": api_collect,
                "hinted": "geocode.resolve" in dur
                and bool(r.query.body.get("city_hint") or r.query.body.get("country")),
                "resolve_jobs": resolve["jobs"],
                "jobs": main["jobs"] + resolve["jobs"],
                "stages": main["stages"] + resolve["stages"],
                "tasks": main["tasks"] + resolve["tasks"],
                "run_ms": main["run_ms"] + resolve["run_ms"],
                "cpu_ms": main["cpu_ms"] + resolve["cpu_ms"],
                "gc_ms": main["gc_ms"] + resolve["gc_ms"],
                "rows_scanned": main["input_records"],
                "scanned": any("Scan parquet" in s["ops"] for s in st),
                "scan_ms": union_ms([(s["t0_ms"], s["t1_ms"]) for s in st if "Scan parquet" in s["ops"]]),
                "score_ms": union_ms([(s["t0_ms"], s["t1_ms"]) for s in st if "ArrowEvalPython" in s["ops"]]),
                "candidates": scored,
            })
        return summarize(rows)


def class_p50(lat: list[tuple[str, float]]) -> dict[str, float]:
    """``serve.<class>_ms.p50`` for every query class: the latency of
    each class on its own, apart from the assumed mix."""
    return {
        f"serve.{k}_ms.p50": common.median([ms for c, ms in lat if c == k])
        for k in gen.SERVE_MIX
    }


def summarize(rows: list[dict]) -> dict:
    """Per-layer metrics over the traced requests."""
    from scout_spark.plans.geocode import GeocodeSettings

    cap = GeocodeSettings().limit_scan
    p50 = common.median
    n = max(len(rows), 1)
    hinted = [r for r in rows if r["hinted"]]
    scanned = [r for r in rows if r["scanned"]]
    cands = sum(r["candidates"] for r in scanned)
    score_s = sum(r["score_ms"] for r in scanned) / 1e3
    server = ("http.handler", "http.respond", "openapi.validate", "api.forward_geocode",
              "geocode.forward", "geocode.resolve", "geocode.fetch_candidates",
              "fuzzy.score_plan", "spark.collect")
    unattributed = [r["wall_ms"] - sum(r["self"].get(k, 0.0) for k in server) for r in rows]
    out = {
        "http.server_ms.p50": p50([r["server_ms"] for r in rows]),
        "http.wait_ms.p50": p50([r["wall_ms"] - r["server_ms"] for r in rows]),
        "openapi.validate_ms.p50": p50([r["dur"].get("openapi.validate", 0.0) for r in rows]),
        "geocode.resolve_ms.p50": p50([r["dur"]["geocode.resolve"] for r in hinted]),
        "geocode.resolve_jobs_per_req": sum(r["resolve_jobs"] for r in hinted) / max(len(hinted), 1),
        "geocode.scan_ms.p50": p50([r["scan_ms"] for r in scanned]),
        "geocode.candidates_per_req": cands / max(len(scanned), 1),
        "geocode.capped_share": sum(r["candidates"] >= cap for r in scanned) / max(len(scanned), 1),
        "geocode.rows_scanned_per_req": sum(r["rows_scanned"] for r in rows) / n,
        "fuzzy.score_ms.p50": p50([r["score_ms"] for r in scanned]),
        "fuzzy.candidates_per_s": cands / score_s if score_s else 0.0,
        "fuzzy.hits_per_candidate": sum(r["hits"] for r in scanned) / cands if cands else 0.0,
        "api.collect_ms.p50": p50([r["api_collect_ms"] for r in scanned]),
        "api.serialize_ms.p50": p50([r["self"].get("api.forward_geocode", 0.0) + r["dur"].get("http.respond", 0.0) for r in rows]),
        "spark.jobs_per_req": sum(r["jobs"] for r in rows) / n,
        "spark.stages_per_req": sum(r["stages"] for r in rows) / n,
        "spark.tasks_per_req": sum(r["tasks"] for r in rows) / n,
        "spark.executor_run_ms_per_req": sum(r["run_ms"] for r in rows) / n,
        "spark.executor_cpu_ms_per_req": sum(r["cpu_ms"] for r in rows) / n,
        "spark.gc_ms_per_req": sum(r["gc_ms"] for r in rows) / n,
        "spark.unattributed_ms_per_req": sum(unattributed) / n,
        "trace.call_p50_ms": p50([r["wall_ms"] for r in rows]),
        "trace.call_p75_ms": common.percentile([r["wall_ms"] for r in rows], 75),
        **class_p50([(r["klass"], r["wall_ms"]) for r in rows]),
    }
    # the request wall split into layer self times; with the
    # unattributed rest these add up to the wall by construction
    ledger = {k: sum(r["self"].get(k, 0.0) for r in rows) / n for k in server}
    ledger["unattributed"] = out["spark.unattributed_ms_per_req"]
    ledger["wall"] = sum(r["wall_ms"] for r in rows) / n
    return {"metrics": out, "self_ms_per_req": ledger}
