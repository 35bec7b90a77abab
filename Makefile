.PHONY: test kernels gate bench package submit-example

# the ROADMAP tier-1 command: one local slot per core, every test reported
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the calibration/scoring kernels: their oracle, property, streaming,
# golden-hash, plan, pipeline and run-aggregate (TPR) tests, then the
# DuckDB gate on the three kernel queries
kernels:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_calibrate.py tests/test_property.py tests/test_streaming.py \
	  tests/test_scoring.py tests/test_golden_hashes.py tests/test_plans.py \
	  tests/test_pipeline.py tests/test_aggregate.py
	python scripts/check_entry.py adwin_drift_per_user transformer_calibrate hash_embed_scores

gate:
	python scripts/check_entry.py

bench:
	python bench.py

package:
	sh scripts/build_pyfiles.sh

submit-example: package
	/opt/spark/bin/spark-submit --master 'local[8]' \
	  --py-files dist/log_project_spark.zip jobs/run_pipeline.py \
	  --synth-rows 20000 --mode len --out-dir /tmp/lps_sinks \
	  --summary-out /tmp/lps_summary.csv
