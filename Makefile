.PHONY: test gate bench package submit-example

# the ROADMAP tier-1 command: one local slot per core, every test reported
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

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
