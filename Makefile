# Judge-reproducibility harness: one command, one JSON artifact
# (VERIFY.json). See scripts/judge_verify.py.

.PHONY: verify verify-fast test sweep bench

verify:
	python scripts/judge_verify.py

verify-fast:
	python scripts/judge_verify.py --fast

# The tier-1 verify command from ROADMAP.md.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

sweep:
	python scripts/check_correctness.py /root/testdata/sf0.01

bench:
	python bench.py
