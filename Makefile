.PHONY: test kernels ngrams metrics curation pairs gate lines bench package submit-example

# the ROADMAP tier-1 command: one local slot per core, every test reported
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# each test-and-gate target below runs its DuckDB gate queries even
# when a test failed, and fails when either step did

# the grouped kernels on the walk (calibration, scoring, SemDeDup) and
# the centroid argmax: their oracle, property, streaming, golden-hash,
# plan, pipeline and run-aggregate (TPR, and the TPR tally the job's
# walk counts) tests, then the DuckDB gate on every query that runs
# the walk or the argmax
kernels:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_calibrate.py tests/test_property.py tests/test_streaming.py \
	  tests/test_scoring.py tests/test_golden_hashes.py tests/test_plans.py \
	  tests/test_pipeline.py tests/test_aggregate.py tests/test_semdedup.py \
	  tests/test_similarity.py; tests=$$?; \
	python scripts/check_entry.py adwin_drift_per_user transformer_calibrate hash_embed_scores \
	  conformal_per_user conformal_pruned fixed_thr_per_user flagship_route \
	  semdedup_embeddings ivf_assign ivf_topk; gate=$$?; \
	[ $$tests -eq 0 ] && [ $$gate -eq 0 ]

# the gram builder (parse.ngram_windows/ngram_text) and every operator
# that reads grams, then the DuckDB gate on their queries
ngrams:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_parse.py tests/test_dedup.py tests/test_decontam.py \
	  tests/test_text_analysis.py tests/test_lm_score.py tests/test_dsir.py; tests=$$?; \
	python scripts/check_entry.py minhash_signatures lsh_band_buckets lsh_candidate_pairs \
	  repetition_stats decontam_hits lm_perplexity dsir_select; gate=$$?; \
	[ $$tests -eq 0 ] && [ $$gate -eq 0 ]

# the run-level metrics (the lower-index pick, TPR@FPR, salted
# aggregates, the pipeline counters, the summary row and its CSV) and
# the streaming fan-out: their tests, then the DuckDB gate on every
# query that reads them
metrics:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_aggregate.py tests/test_property.py tests/test_pipeline.py \
	  tests/test_streaming.py tests/test_sources.py; tests=$$?; \
	python scripts/check_entry.py tpr_at_fpr exact_percentiles exact_percentiles_global \
	  quality_percentile_filter salted_counts salted_agg_sums conformal_per_user \
	  conformal_pruned fixed_thr_per_user pipeline_summary; gate=$$?; \
	[ $$tests -eq 0 ] && [ $$gate -eq 0 ]

# the curation operators (sampling, dedup, similarity, text analysis,
# keep-last, parse) and the declared queries that call them: their
# tests, then the DuckDB gate on those queries
curation:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_sampling.py tests/test_dedup.py tests/test_similarity.py \
	  tests/test_text_analysis.py tests/test_aggregate.py tests/test_parse.py; tests=$$?; \
	python scripts/check_entry.py parse_norm_documents parse_pandas_udf parse_mask_events \
	  fingerprint flagship_route iforest_scores token_count_regex ngram_jaccard_pairs \
	  ann_cosine_topk keep_last_per_user corpus_curation lang_id_heuristic quality_score \
	  quality_percentile_filter stratified_sample_k token_budget_cap token_budget_ranked \
	  sample_fraction_det sample_by_stratum mixing_weights hash_split_counts; gate=$$?; \
	[ $$tests -eq 0 ] && [ $$gate -eq 0 ]

# the banded index and the pair join (dedup.band_rows / pairs_sharing)
# and every near-duplicate operator on them: their tests, then the
# DuckDB gate on the queries that build or join candidate pairs
pairs:
	SPARK_LOCAL_DIRS=/tmp/spark-local python -m pytest -q -p no:cacheprovider \
	  tests/test_dedup.py tests/test_similarity.py tests/test_decontam.py; tests=$$?; \
	python scripts/check_entry.py lsh_candidate_pairs lsh_band_buckets minhash_signatures \
	  simhash_near_pairs near_dup_components corpus_curation embedding_near_dups_lsh \
	  embedding_near_dups jaccard_pairs_capped ngram_jaccard_pairs srp_buckets; gate=$$?; \
	[ $$tests -eq 0 ] && [ $$gate -eq 0 ]

gate:
	python scripts/check_entry.py

# code-only lines (comments, docstrings and blank lines excluded) of
# log_project_spark/ and __spark_entry__.py, per path and in total
lines:
	python scripts/code_lines.py

bench:
	python bench.py

package:
	sh scripts/build_pyfiles.sh

# run from outside the checkout, so the driver and the Python workers
# see the package only through the --py-files zip; local[N] needs 2N
# threads (a JVM task thread and a Python worker per slot); the driver
# heap is spark-submit's to set, since its JVM is running before
# get_spark builds the session
submit-example: package
	cd /tmp && spark-submit --master 'local[2]' --driver-memory 2g \
	  --py-files $(CURDIR)/dist/log_project_spark.zip $(CURDIR)/jobs/run_pipeline.py \
	  --synth-rows 20000 --mode len --out-dir /tmp/lps_sinks \
	  --summary-out /tmp/lps_summary.csv
