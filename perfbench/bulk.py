"""``bulk``: the offline paths, end to end.

One call builds a seeded ``.osm.pbf`` into the gazetteer tables
(``sources.osmpbf.pbf_features`` → ``etl.gazetteer.build_gazetteer`` →
sorted parquet), builds the token index over them
(``operators.inverted_index``), and answers a seeded request table with
``plans.batch_geocode.forward_geocode_batch``: the re-build and
re-geocode a user runs on a fresh extract. It then curates a seeded
document corpus through the registry entries of the LLM-data pipeline
(``curate.Curation``). The first call in the run is cold (fresh JVM,
no Python workers), as it is for that user; calls repeat while the
window lasts.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import common, gen
from perfbench.curate import ENTRIES, N_DOCS, Curation
from perfbench.tracing import SparkLedger, Tracer, phase

SIZES = {"n_poi_nodes": 6_000, "n_poi_ways": 300, "n_planted": 100}
N_REQUESTS = 150
SCHEMA = "req_id long, query string, country string"


class Bulk:
    def __init__(self, root: str, work: str, seed: int, traced: bool):
        self.dir = os.path.join(work, f"bulk-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.data = gen.osm_data(seed, **SIZES)
        self.pbf = os.path.join(self.dir, "input.osm.pbf")
        self.blobs = common.write_pbf(self.pbf, self.data)
        self.rows, self.expect = gen.batch_requests(seed, self.data.planted, N_REQUESTS)
        self.curation = Curation(os.path.join(self.dir, "documents"), seed)
        self.tracer = Tracer() if traced else None
        self.index = None
        self.curate_passes: dict[str, dict] = {}

    def instrument(self) -> None:
        from scout_spark.etl import gazetteer
        from scout_spark.plans import batch_geocode
        from scout_spark.sources import osmpbf

        tr = self.tracer
        tr.wrap(osmpbf, "pbf_features", "osmpbf.pbf_features")
        tr.wrap(osmpbf, "scan_blobs", "osmpbf.scan_blobs")
        tr.wrap(gazetteer, "build_pois", "gazetteer.build_pois")
        tr.wrap(gazetteer, "build_admin", "gazetteer.build_admin")
        tr.wrap(gazetteer, "write_parquet_sorted", "writers.write_parquet_sorted")
        tr.wrap(batch_geocode, "forward_geocode_batch", "batch.forward_geocode_batch")

    def _call(self, spark, out: str, rid: str):
        from scout_spark.etl import gazetteer
        from scout_spark.etl.gazetteer import poi_view
        from scout_spark.operators.inverted_index import build_token_index
        from scout_spark.plans import batch_geocode
        from scout_spark.sources import osmpbf

        if self.index is not None:
            self.index.unpersist()
        with phase(self.tracer, "bulk.build", f"{rid}/build"):
            gazetteer.build_gazetteer(spark, osmpbf.pbf_features(spark, self.pbf), out)
        pois = poi_view(spark, f"{out}/pois")
        admin = spark.read.parquet(f"{out}/admin")
        with phase(self.tracer, "bulk.index", f"{rid}/index"):
            self.index = build_token_index(pois).cache()
            self.index_rows = self.index.count()
        with phase(self.tracer, "bulk.batch", f"{rid}/batch"):
            requests = spark.createDataFrame(self.rows, SCHEMA)
            hits = batch_geocode.forward_geocode_batch(
                requests, pois, admin, token_index=self.index
            ).collect()
        group = f"{rid}/curate"
        self.curate_passes[group] = self.curation.run(spark, self.tracer, group)
        return hits

    def setup(self, spark) -> None:
        """Load the inventory registry. No warm-up: the first call is the
        cold one its user waits for."""
        self.curation.load()

    def close(self) -> None:
        pass

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def measure(self, spark, seconds: float) -> dict:
        if self.tracer:
            self.tracer.spans.clear()
        walls, outs, results = [], [], []
        t_end = time.perf_counter() + seconds
        while common.another_call_fits(walls, t_end):
            rid = f"c{len(walls)}"
            out = os.path.join(self.dir, rid)
            t0 = time.perf_counter()
            if self.tracer:
                self.tracer.rid = rid
                with self.tracer.span("bulk.call"):
                    hits = self._call(spark, out, rid)
                self.tracer.rid = None
            else:
                hits = self._call(spark, out, rid)
            walls.append(time.perf_counter() - t0)
            outs.append(out)
            results.append(hits)
        self.outs, self.results = outs, results
        curated = self.curation.check(spark)
        failed = sum(not (curated and self.check(spark, out, hits)) for out, hits in zip(outs, results))
        med = common.median(walls)
        return {
            "attempted": len(walls),
            "failed": failed,
            "call_p50_ms": med * 1e3,
            "call_p75_ms": common.percentile(walls, 75) * 1e3,
            "items_per_s": self.data.n_entities / med,
            "gazetteer_mb": common.gazetteer_mb(outs[-1]),
            "samples": len(walls),
            "entities": self.data.n_entities,
            "blobs": self.blobs,
            "requests_per_call": len(self.rows),
            "documents_per_call": N_DOCS,
            "curate_median_s": {
                n: round(common.median([p[n][1] for p in self.curate_passes.values()]) / 1e3, 4)
                for n in ENTRIES
            },
        }

    def check(self, spark, out: str, hits: list) -> bool:
        """The built ``pois``/``admin`` row counts equal what the
        generator planted; every planted query ranks its planted POI
        first, with at most ``limit`` hits per request."""
        counts = (spark.read.parquet(f"{out}/pois").count(), spark.read.parquet(f"{out}/admin").count())
        top = {h["req_id"]: h["name"] for h in hits if h["rank"] == 1}
        per_req: dict[int, int] = {}
        for h in hits:
            per_req[h["req_id"]] = per_req.get(h["req_id"], 0) + 1
        return (
            counts == (self.data.expected_pois, self.data.expected_admin)
            and all(top.get(r) == name for r, name in self.expect.items())
            and all(n <= 5 for n in per_req.values())
        )

    def layers(self, spark) -> dict:
        from pyspark.sql import functions as F

        from scout_spark.functions.normalize import tokens

        ledger = SparkLedger(spark)
        per = []
        for rid, spans in sorted(self.tracer.by_rid().items()):
            build = ledger.totals(ledger.jobs(f"{rid}/build"))
            batch = ledger.totals(ledger.jobs(f"{rid}/batch"))
            decode = [s for s in build["stage_list"] if "MapInPandas" in s["ops"]]
            decode_ms = sum(s["run_ms"] for s in decode)
            passes = sum(s["tasks"] for s in decode) / self.blobs
            ms: dict[str, float] = {}
            for s in spans:
                ms[s.name] = ms.get(s.name, 0.0) + s.ms
            writes = [s.ms for s in spans if s.name == "writers.write_parquet_sorted"]
            per.append({
                "osmpbf.index_ms": ms.get("osmpbf.scan_blobs", 0.0),
                "osmpbf.decode_ms": decode_ms,
                "osmpbf.entities_per_s": self.data.n_entities * passes / (decode_ms / 1e3) if decode_ms else 0.0,
                "osmpbf.features_ms": ms.get("osmpbf.pbf_features", 0.0),
                "osmpbf.decode_passes": passes,
                "gazetteer.pois_ms": ms.get("gazetteer.build_pois", 0.0) + sum(writes[:1]),
                "gazetteer.admin_ms": ms.get("gazetteer.build_admin", 0.0) + sum(writes[1:]),
                "writers.write_ms": sum(writes),
                "writers.rows_written": build["output_records"],
                "writers.bytes_written": build["output_bytes"],
                "build.jobs": build["jobs"],
                "build.tasks": build["tasks"],
                "build.executor_cpu_s": build["cpu_ms"] / 1e3,
                "build.shuffle_write_mb": build["shuffle_write_bytes"] / 2**20,
                "batch.index_ms": ms.get("bulk.index", 0.0),
                "batch.jobs": batch["jobs"],
                "batch.tasks": batch["tasks"],
                "batch.shuffle_write_mb": batch["shuffle_write_bytes"] / 2**20,
                "batch.executor_cpu_s": batch["cpu_ms"] / 1e3,
                "trace.call_p50_ms": ms["bulk.call"],
            })
        out = {k: common.median([p[k] for p in per]) for k in per[0]}
        out["trace.call_p75_ms"] = common.percentile([p["trace.call_p50_ms"] for p in per], 75)
        # posting pairs: request tokens joined to the last call's index,
        # the step the covering-AND filter then narrows
        req = spark.createDataFrame(self.rows, SCHEMA)
        pairs = (
            req.select(F.explode(F.array_distinct(tokens(F.col("query")))).alias("token"))
            .join(self.index, "token")
            .count()
        )
        n = len(self.rows)
        out.update(self.curation.layers(ledger, self.curate_passes))
        out.update({
            "osmpbf.blobs": self.blobs,
            "writers.files_written": sum(
                common.dir_bytes(os.path.join(self.outs[-1], t))[1] for t in ("pois", "admin")
            ),
            "batch.index_rows": self.index_rows,
            "batch.pairs_per_req": pairs / n,
            "batch.hits_per_req": len(self.results[-1]) / n,
        })
        return {"metrics": out}
