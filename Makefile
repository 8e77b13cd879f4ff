.PHONY: test package bench scaling oracle

# Tier-1 (ROADMAP.md): size Spark to this host's cores, not the
# session.py fallback, and report every failure instead of stopping.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

package:
	rm -f engine.zip
	zip -qr engine.zip harvester_fgp_spark -x '*__pycache__*'
	@echo "spark-submit --py-files engine.zip jobs/run_pipeline.py ..."

bench:
	python bench.py

scaling:
	python bench/bench_scaling.py

oracle:
	python tools/check_oracle.py
