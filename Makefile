# mirrors the reference's Makefile targets (reference Makefile:12-13)
.PHONY: test budgets bench pipeline clean

# the tier-1 command of ROADMAP.md: all host CPUs, Spark scratch in /tmp
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	  SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q \
	  --continue-on-collection-errors -p no:cacheprovider

# the exact Spark job counts alone (about a minute), same environment
budgets:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	  SPARK_LOCAL_DIRS=/tmp/spark-local; \
	python -m pytest tests/test_job_budgets.py tests/test_lineage.py -q \
	  -p no:cacheprovider

bench:
	python bench.py

# the demo pipeline on all host CPUs
pipeline:
	python scripts/run_pipeline.py \
	  --master "local[$$(env -u OMP_NUM_THREADS nproc)]" \
	  --generate-convs 1000 --input .bench/demo/in \
	  --output .bench/demo/out --state .bench/demo/state

clean:
	rm -rf .bench .pytest_cache $(shell find . -name __pycache__)
