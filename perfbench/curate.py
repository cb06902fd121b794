"""The curate phase of the ``bulk`` call: registry entries of the
LLM-data pipeline.

The entries in ``ENTRIES`` — dedup, retrieval, quality features, the
quality-filter-then-dedup pipeline and the flagship fuzzy search — come
from ``inventory.load_all()`` and run over a seeded ``documents`` table
shaped like the registry's test corpus (``gen.documents``), each with a
freshly built plan to the noop sink, as ``bench.py`` times them.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

from perfbench import common, gen
from perfbench.tracing import SparkLedger, Tracer, phase

ENTRIES = (
    "pipeline_curate_end_to_end",
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh",
    "bm25_topk_retrieval",
    "text_quality_features",
    "flagship_fuzzy_search",
)
N_DOCS = 3000


def _digest(pdf) -> str:
    from scout_spark.testing import canonical_rows

    return hashlib.sha256(repr(canonical_rows(pdf)).encode()).hexdigest()


class Curation:
    def __init__(self, dir: str, seed: int):
        """Write the seeded corpus to ``dir`` (one ``documents.parquet``)."""
        self.sf = dir
        os.makedirs(dir)
        gen.write_documents(os.path.join(dir, "documents.parquet"), seed, N_DOCS)
        self.registry = None

    def load(self) -> None:
        from scout_spark.inventory import load_all

        t0 = time.perf_counter()
        self.registry = load_all()
        self.load_all_ms = (time.perf_counter() - t0) * 1e3

    def run(self, spark, tracer: Tracer | None, group: str) -> dict[str, tuple[float, float]]:
        """One pass: entry → (plan construction ms, wall ms). Some
        entries run jobs while they build their plan; the wall covers
        both. Each entry runs under its own job group ``group/entry``."""
        out = {}
        for name in ENTRIES:
            with phase(tracer, f"curate.{name}", f"{group}/{name}"):
                t0 = time.perf_counter()
                df = self.registry[name].spark(spark, self.sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            out[name] = ((t1 - t0) * 1e3, (t2 - t0) * 1e3)
        return out

    def check(self, spark) -> bool:
        """Each entry once more: one with an oracle must match DuckDB
        over the same documents file; ``dedup_minhash_lsh`` has none, so
        a second run must give the same result hash."""
        from scout_spark.testing import compare_frames, oracle_connection

        con = oracle_connection(self.sf)
        ok_all = True
        for name in ENTRIES:
            item = self.registry[name]
            got = item.spark(spark, self.sf).toPandas()
            if item.oracle:
                ok, msg = compare_frames(got, con.execute(item.oracle).df(), name)
            else:
                ok = len(got) > 0 and _digest(got) == _digest(item.spark(spark, self.sf).toPandas())
                msg = f"{name}: {len(got)} rows, result hash {'stable' if ok else 'differs or empty'}"
            if not ok:
                print(f"check failed: {msg}", file=sys.stderr)
                ok_all = False
        con.close()
        return ok_all

    def layers(self, ledger: SparkLedger, passes: dict[str, dict[str, tuple[float, float]]]) -> dict:
        """Per-entry medians over ``passes`` (job group → pass)."""
        med = common.median
        out = {"inventory.load_all_ms": self.load_all_ms}
        for name in ENTRIES:
            runs = [ledger.totals(ledger.jobs(f"{g}/{name}")) for g in passes]
            out.update({
                f"curate.{name}.s": med([p[name][1] for p in passes.values()]) / 1e3,
                f"curate.{name}.plan_ms": med([p[name][0] for p in passes.values()]),
                f"curate.{name}.jobs": med([r["jobs"] for r in runs]),
                f"curate.{name}.shuffle_write_mb": med([r["shuffle_write_bytes"] for r in runs]) / 2**20,
                f"curate.{name}.executor_cpu_s": med([r["cpu_ms"] for r in runs]) / 1e3,
            })
        return out
