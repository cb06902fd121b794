# Dev targets mirroring the reference's Makefile:17-29 (install / run /
# test / lint) adapted to a PySpark engine: there is no server process to
# `run`; the equivalents are the benchmark and the gazetteer build.

PY       ?= python3
SF_DIR   ?= /root/testdata/sf0.1
TESTDATA ?= /root/testdata/sf0.01
# build-gaz: INPUT = raw source (.osm.pbf or (Geo)Parquet), required
OUT      ?= data/gazetteer

.PHONY: install test test-fast parity lint bench build-gaz clean

# Dependencies are preinstalled in the target environment (pyspark,
# pyarrow, pandas, numpy, duckdb, pytest, hypothesis). On a fresh
# machine: pip install pyspark pyarrow pandas numpy duckdb pytest hypothesis
install:
	$(PY) -c "import pyspark, duckdb, pytest" && echo "deps ok"

# Full suite (~16 min, 946 s, on a 4-core machine)
test:
	$(PY) -m pytest tests/ -q

# The pre-commit correctness gate: local replica of the driver's
# sf0.01 DuckDB differential over every oracle-backed query
parity:
	$(PY) -m pytest tests/test_oracle_parity.py -q

# Syntax/import sanity without external linters; CI adds ruff
lint:
	$(PY) -m compileall -q scout_spark scripts tests bench.py __spark_entry__.py

bench:
	SPARK_GRAFT_SF_DIR=$(SF_DIR) $(PY) bench.py

# Build the parquet gazetteer from a raw source (reference build-gaz)
build-gaz:
	@test -n "$(INPUT)" || { echo "usage: make build-gaz INPUT=<source> [OUT=dir]"; exit 2; }
	$(PY) -m scripts.build_gazetteer $(INPUT) --out $(OUT)

clean:
	rm -rf __pycache__ .pytest_cache .hypothesis spark-warehouse
	find . -name '__pycache__' -type d -prune -exec rm -rf {} +
