.PHONY: test kernels ngrams gate bench package submit-example

# the ROADMAP tier-1 command: one local slot per core, every test reported
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the grouped kernels on the walk (calibration, scoring, SemDeDup) and
# the centroid argmax: their oracle, property, streaming, golden-hash,
# plan, pipeline and run-aggregate (TPR) tests, then the DuckDB gate on
# every query that runs the walk or the argmax
kernels:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_calibrate.py tests/test_property.py tests/test_streaming.py \
	  tests/test_scoring.py tests/test_golden_hashes.py tests/test_plans.py \
	  tests/test_pipeline.py tests/test_aggregate.py tests/test_semdedup.py \
	  tests/test_similarity.py
	python scripts/check_entry.py adwin_drift_per_user transformer_calibrate hash_embed_scores \
	  conformal_per_user conformal_pruned fixed_thr_per_user flagship_route \
	  semdedup_embeddings ivf_assign ivf_topk

# the gram builder (parse.ngram_windows/ngram_text) and every operator
# that reads grams, then the DuckDB gate on their queries
ngrams:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_parse.py tests/test_dedup.py tests/test_decontam.py \
	  tests/test_text_analysis.py tests/test_lm_score.py tests/test_dsir.py
	python scripts/check_entry.py minhash_signatures lsh_band_buckets lsh_candidate_pairs \
	  repetition_stats decontam_hits lm_perplexity dsir_select

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
