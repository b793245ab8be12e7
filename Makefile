# One-command round verification (round-6 verdict item 6).
#
#   make verify        — oracle gate (34 queries vs DuckDB at sf0.01)
#                        + full pytest + a smoke bench at sf0.001
#   make gate          — oracle gate only (~2 min)
#   make test          — the ROADMAP tier-1 pytest command (~5 min)
#   make perfbench     — a tiny, 1-second pass of the benchmark
#                        (perfbench/run.py) + its own tests
#   make smoke         — tiny-corpus bench only (~1 min)
#   make bench         — the full driver-protocol bench at sf0.1
#                        (what the driver runs; ~10 min + probes)
#
# No pip/apt targets on purpose: the sandbox is frozen (pyspark 4.1.2,
# duckdb, pyarrow, pandas, numpy, pytest baked in).

SF_DIR ?= /root/testdata/sf0.01
SMOKE_SF_DIR ?= /root/testdata/sf0.001
PY ?= python

.PHONY: verify gate test smoke bench perfbench

verify: gate test smoke
	@echo "verify: oracle gate + pytest + smoke bench all green"

gate:
	$(PY) tools/check_oracles.py $(SF_DIR)

test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

smoke:
	SPARK_GRAFT_SF_DIR=$(SMOKE_SF_DIR) SPARK_GRAFT_SCALING=0 \
	SPARK_GRAFT_QUERY_REPEATS=1 SPARK_GRAFT_ER_PAGES=6000 \
	SPARK_GRAFT_ER_BOILER_KB=8 $(PY) bench.py

bench:
	$(PY) bench.py

perfbench:
	python3 perfbench/run.py --workload all --tiny --seconds 1
	$(PY) -m pytest perfbench/test_perfbench.py -q
