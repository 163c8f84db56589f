# Pre-driver checklist — run before a round ends. Each target is the
# exact command the committed evidence files were produced with.

SF_DRIVER ?= /root/testdata/sf0.01
SF_SMOKE  ?= /root/testdata/sf0.001

.PHONY: test sweep sweep-smoke bench bench-scaling perfbench all

# Full suite: unit/property/streaming/chaos + the complete
# queries()/oracle_sql() board vs DuckDB at sf0.001 — the ROADMAP
# tier-1 command (Spark sized to the host's cores).
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	  SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q \
	  --continue-on-collection-errors -p no:cacheprovider

# Pre-driver board sweep at the driver's exact tier (sf0.01) —
# the source of docs/SWEEP_sf0.01_r*.md. Pass query names to target.
sweep:
	python scripts/check_oracle.py $(SF_DRIVER)

sweep-smoke:
	python scripts/check_oracle.py $(SF_SMOKE)

# Graded-config benchmark (sf0.1, local[32] + interleaved scale pair).
bench:
	python bench.py

# Just the graded scaling pair (median of 3 interleaved ratios).
bench-scaling:
	python bench.py --scaling-only

# The BENCHMARK.json workloads, one seeded run each, at its
# run_seconds.
perfbench:
	python3 perfbench/run.py --workload backfill --seed 1 --seconds 10
	python3 perfbench/run.py --workload graph_batch --seed 1 --seconds 10

all: test sweep bench
