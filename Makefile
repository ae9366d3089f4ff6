# spark-transcript-dedup -- build/test/bench entrypoints
# (mirrors the reference's Makefile task shape, /root/reference/Makefile,
# without the Docker indirection)

PY ?= python

.PHONY: test bench bench-scaling dist check-entry clean

# same command as the ROADMAP tier-1 gate
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

check-entry:
	$(PY) tools/check_entry.py /root/testdata/sf0.01

bench:
	$(PY) bench.py

bench-scaling:
	$(PY) tools/bench_scaling.py 4 /root/testdata/sf0.1 24000 3 threads

# Package for spark-submit --py-files dist/dedup.zip dedup/cli.py run ...
dist:
	mkdir -p dist
	rm -f dist/dedup.zip
	cd . && zip -q -r dist/dedup.zip dedup -i 'dedup/*.py'
	@echo "spark-submit --py-files dist/dedup.zip dedup/cli.py run --input ... --warehouse ..."

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
