.PHONY: test perfbench-test bench dist clean

# the Tier-1 command of ROADMAP.md
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perfbench-test:
	python3 -m pytest perfbench/tests -q -p no:cacheprovider

bench:
	python bench.py

dist:
	python -c "from ehr_ner_spark.pyfiles import build_zip; print(build_zip('dist'))"

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
