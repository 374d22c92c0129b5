# Convenience entry points for the per-round gates. Every target is a
# thin wrapper over a tools/ script so a judge can run the identical
# command directly.

ROUND ?= 7
SEED ?= $(ROUND)
SF ?= /root/testdata/sf0.01
WL ?= llm-notebook-sf0.001

.PHONY: test check certify-sample bench perfbench scale-ladder

# The Tier-1 verify command, unchanged (see ROADMAP.md)
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Full driver-replica oracle gate at $(SF)
check:
	python tools/check_correctness.py $(SF)

# Seeded certification of never-driver-sampled queries -> CERTIFY_r$(ROUND).json
certify-sample:
	python tools/certify_sample.py --round $(ROUND) --seed $(SEED) --sf-dir $(SF)

bench:
	python bench.py

# One benchmark run of workload $(WL) (see BENCHMARK.json, perfbench/run.py)
perfbench:
	python3 perfbench/run.py --workload $(WL) --seed $(SEED) --seconds 16

# sf0.01 -> sf0.1 -> sf1 growth ratios -> SCALE_LADDER_r$(ROUND).json
# (inputs: bench_detail files produced by `SPARK_GRAFT_SF_DIR=... make bench`)
scale-ladder:
	python tools/scale_ladder.py --out $(shell printf 'SCALE_LADDER_r%02d.json' $(ROUND)) \
	    bench_detail_sf001.json bench_detail.json bench_detail_sf1.json \
	    bench_detail_sf10.json
