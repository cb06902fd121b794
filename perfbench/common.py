"""Helpers shared by the workloads: percentiles, Spark start-up, the
serve/batch gazetteer built once per checkout, and directory sizes."""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from perfbench import gen

# the serve gazetteer: a fixed dataset, like a scale factor.
# --seed drives the request stream; the dataset only changes with
# these sizes or with the program's source.
DATASET = {"seed": 20231017, "n_poi_nodes": 80_000, "n_poi_ways": 2_000, "n_planted": 1_500}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def another_call_fits(walls: list[float], t_end: float) -> bool:
    """Window rule for workloads whose calls take seconds: always make
    one call, then another only while one more call of the median
    length still ends inside the window."""
    return not walls or time.perf_counter() + median(walls) <= t_end


def start_spark():
    from scout_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this run
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench import env

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    env.wait_descendants(timeout_s=30)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    total = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def gazetteer_mb(gaz: str) -> float:
    """Bytes on disk of the ``pois`` and ``admin`` tables, in MB."""
    return sum(dir_bytes(os.path.join(gaz, t))[0] for t in ("pois", "admin")) / 2**20


def write_pbf(path: str, data: gen.OsmData) -> int:
    from scout_spark.sources.osmpbf_write import write_pbf as _write

    return _write(path, data.nodes, data.ways, data.relations)


def _source_hash(root: str) -> str:
    """Hash of the program's and the generator's source: a cached
    gazetteer is reused only by the code that built it."""
    h = hashlib.sha256(json.dumps(DATASET, sort_keys=True).encode())
    files = []
    for d, _dirs, names in os.walk(os.path.join(root, "scout_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    files.append(os.path.join(root, "perfbench", "gen.py"))
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def dataset(root: str, work: str) -> tuple[str, list[gen.Planted]]:
    """The serve gazetteer directory (``pois``, ``admin``) and its
    planted POIs. Built on first use in a checkout from the dataset PBF,
    through the same PBF → tables path the ``bulk`` workload times,
    then reused."""
    out = os.path.join(work, "dataset", _source_hash(root))
    done = os.path.join(out, "_done.json")
    if not os.path.exists(done):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(os.path.join(work, "dataset.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(done):
                shutil.rmtree(out, ignore_errors=True)
                os.makedirs(out)
                # in a child process, so the measuring run starts its own
                # JVM cold like every other run
                subprocess.run([sys.executable, __file__, out, done], check=True)
    with open(done) as f:
        planted = [gen.Planted(*p) for p in json.load(f)["planted"]]
    return out, planted


def _build_dataset(out: str, done: str) -> None:
    from scout_spark.etl.gazetteer import build_gazetteer
    from scout_spark.sources.osmpbf import pbf_features

    t0 = time.perf_counter()
    data = gen.osm_data(
        DATASET["seed"], DATASET["n_poi_nodes"], DATASET["n_poi_ways"], DATASET["n_planted"]
    )
    pbf = os.path.join(out, "dataset.osm.pbf")
    write_pbf(pbf, data)
    spark = start_spark()
    build_gazetteer(spark, pbf_features(spark, pbf), out)
    pois = spark.read.parquet(os.path.join(out, "pois")).count()
    if pois != data.expected_pois:
        raise RuntimeError(f"dataset build gave {pois} pois, expected {data.expected_pois}")
    stop_spark(spark)
    os.remove(pbf)
    with open(done, "w") as f:
        json.dump({
            "build_s": time.perf_counter() - t0,
            **DATASET,
            "planted": [[p.osm_id, p.name, p.word, p.country, p.city] for p in data.planted],
        }, f)


if __name__ == "__main__":
    # child process of dataset(), which has exported PYTHONPATH and the
    # Spark settings: build the serve gazetteer into argv[1]
    _build_dataset(sys.argv[1], sys.argv[2])
