.PHONY: test package bench scaling oracle loc

# Tier-1 (ROADMAP.md): size Spark to this host's cores, not the
# session.py fallback, and report every failure instead of stopping.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the echoed command line carries the JIT policy build_session sets: under
# spark-submit the driver JVM is up before build_session runs
package:
	rm -f engine.zip
	zip -qr engine.zip harvester_fgp_spark -x '*__pycache__*'
	@echo "spark-submit --py-files engine.zip --driver-java-options \"$$(python -c \
	  'from harvester_fgp_spark.session import JIT_POLICY; print(JIT_POLICY)')\" jobs/run_pipeline.py ..."

bench:
	python bench.py

scaling:
	python bench/bench_scaling.py

# same core sizing as `test`: an unset SPARK_GRAFT_CPUS means local[32]
oracle:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" python tools/check_oracle.py

# engine lines of code, the figure CHANGES.md records for every change
loc:
	@find harvester_fgp_spark __spark_entry__.py -name '*.py' -not -path '*__pycache__*' \
	  | xargs cat | wc -l
