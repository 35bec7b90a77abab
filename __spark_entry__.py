"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship parse -> score -> fixed-threshold ->
route query on sf0.001. `queries()` exposes one callable per
implemented operator family from SURVEY.md §2; `oracle_sql()` gives
the DuckDB-equivalent SQL for every SQL-expressible one (the grouped
stateful kernels with drift, the isolation forest, and the
hash-embedding scorer are rows-only by nature and are instead checked
against per-event oracles in tests/).

Column names and types are aligned between both sides (counts cast to
bigint, float aggregates rounded where accumulation order could
differ; per-row float picks are exact and left unrounded).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_project_spark.config import PipelineConfig
from log_project_spark.operators import aggregate as agg_ops
from log_project_spark.operators import parse as parse_ops
from log_project_spark.operators import route as route_ops
from log_project_spark.operators import scoring
from log_project_spark.operators import sessionize
from log_project_spark.operators import text_analysis as ta
from log_project_spark.operators.calibrate import calibrate
from log_project_spark.pipeline import parse_stage
from log_project_spark.session import local_frame

SF_DEFAULT = "/root/testdata/sf0.001"

# DuckDB rendering of the reference mask chain (P1-P6,
# /root/reference/src/log_tokenize.py:12-17): strip -> lower -> hex ->
# ip -> num -> whitespace split -> drop empties.
_DUCK_TOKENS = (
    "list_filter(string_split_regex("
    "regexp_replace(regexp_replace(regexp_replace("
    "lower(regexp_replace({col}, '^\\s+|\\s+$', '', 'g')),"
    "'0x[0-9A-Fa-f]+', '<hex>', 'g'),"
    "'\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<ip>', 'g'),"
    "'\\d+', '<num>', 'g'),"
    "'\\s+'), x -> x != '')"
)

# DuckDB list literal of the package's English stopwords
_DUCK_STOP_LIST = "[" + ",".join(f"'{w}'" for w in ta.STOPWORDS) + "]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive input spread (guide §2.5, 'input skew: one huge
    unsplittable file'). The gate/bench tables are single-file parquet
    with a SINGLE row group, so the scan is one task no matter how many
    cores the session has — every downstream narrow transformation
    (regex masking, HOF hashing, scoring UDFs) then runs single-
    threaded. Round-robin repartition to defaultParallelism moves only
    the raw rows once (tiny vs the per-row compute it unlocks) and the
    CPU-heavy work fans out across the cluster. No-op when the scan
    already has enough splits — a real multi-file table at scale keeps
    its layout and pays nothing. Row-preserving, so query results are
    unchanged."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        # file count as the layout probe (5x cheaper than converting
        # to an RDD for the split count; listing is already cached):
        # fewer files than half the cores means the layout cannot feed
        # the cluster (our gate tables are single-file single-row-group
        # parquet, where even byte-range splits collapse to one task)
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover — defensive only
        return df
    if n_files * 2 >= par:
        return df
    return df.repartition(par)


def _parsed_docs(spark: SparkSession, sf_dir: str, pandas_variant: bool = False) -> DataFrame:
    """Documents through the job's own parse (`pipeline.parse_stage`);
    the pandas variant tokenizes in an Arrow UDF and rejoins."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    if not pandas_variant:
        return parse_stage(docs)
    return parse_ops.with_tokens_pandas(docs, text_col="text").withColumn(
        "norm_text", F.concat_ws(" ", "tokens")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_parse_norm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed_docs(spark, sf_dir).select(
        "doc_id", "norm_text", F.size("tokens").cast("long").alias("n_tokens")
    )


def q_parse_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed_docs(spark, sf_dir, pandas_variant=True).select(
        "doc_id", "norm_text", F.size("tokens").cast("long").alias("n_tokens")
    )


def q_parse_mask_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events")).withColumn(
        "text", F.concat_ws(" ", "event_type", "props", F.col("user_id").cast("string"))
    )
    return parse_stage(ev).select(
        "event_id", "norm_text", F.size("tokens").cast("long").alias("n_tokens")
    )


def q_flagship_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: parse -> len score -> fixed-threshold warmup (C6) ->
    route -> per-sink counts, all through the engine kernel."""
    parsed = _parsed_docs(spark, sf_dir)
    scored = scoring.with_len_score(parsed, text_col="norm_text")
    cfg = PipelineConfig(calibration="no_calib", warmup=200, alpha=0.01, drift_detector="none")
    # needed_cols=(): downstream consumes only (is_anom, is_drift) via
    # with_sink, so the single-partition gather + Arrow socket carry
    # (doc_id, score) instead of the full parsed row (text + tokens +
    # norm_text) — same rows out, ~20x fewer bytes through the
    # inherently sequential global-scope kernel (guide §2.3/§4.1).
    calibrated = calibrate(
        scored, cfg, group_keys=[], order_cols=("doc_id",), needed_cols=()
    )
    return (
        route_ops.with_sink(calibrated)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


def q_labels_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "left")
    return joined.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


def q_conformal_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2/C5 grouped kernel on real keys: per-user sliding conformal
    thresholds over event values, oracle-checked against a window-SQL
    restatement. Also registered as conformal_pruned, which pins the
    plan of the declarative projection pushdown through the mapInArrow
    boundary (operators/calibrate.py): the events scan ReadSchema
    shrinks to the 4 consumed columns (event_type/props never leave
    the files) and the exchange + Arrow socket carry 4 columns instead
    of 6. Catalyst cannot prune through a Python map node, so the
    operator declares the projection (plan-pinned in PLANS.md)."""
    ev = _t(spark, sf_dir, "events")
    cfg = PipelineConfig(
        alpha=0.05, window=100, warmup=10, drift_detector="none", calibration="conformal"
    )
    # needed_cols: the select below consumes 4 columns, so event_type/
    # props need not ride the exchange and the Arrow socket.
    out = calibrate(
        ev, cfg, score_col="value", order_cols=("ts", "event_id"),
        group_keys=["user_id"], needed_cols=("event_id",),
    )
    return out.select("user_id", "event_id", "thr", "is_anom")


def q_fixed_thr_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 per-user two-pass frozen threshold + flag counts."""
    ev = _t(spark, sf_dir, "events")
    cfg = PipelineConfig(alpha=0.02, warmup=40, calibration="no_calib", drift_detector="none")
    # needed_cols=(): the aggregate below reads only (user_id, thr,
    # is_anom) — drop the 3 passthrough columns from the exchange +
    # Arrow socket (guide §2.3 'project before the exchange').
    out = calibrate(
        ev, cfg, score_col="value", order_cols=("ts", "event_id"),
        group_keys=["user_id"], needed_cols=(),
    )
    return out.groupBy("user_id").agg(
        F.min("thr").alias("thr"),
        F.sum(F.col("is_anom").cast("long")).alias("n_flagged"),
    )


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # One collect_list + one sort shared by all three picks instead of
    # three independent sorted buffers (3x agg memory + 3x sort at 1M
    # rows/group) — element_at picks use the same A1 lower-index
    # formula as agg_ops.exact_percentile_col, values identical.
    arr = F.sort_array(F.collect_list("value"))

    def pick(p: float) -> F.Column:
        k = agg_ops.lower_index_col(p / 100.0, F.size("__arr")).cast("int")
        return F.element_at(F.col("__arr"), k + F.lit(1))

    return (
        ev.groupBy("event_type")
        .agg(arr.alias("__arr"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            pick(50.0).alias("p50"),
            pick(95.0).alias("p95"),
            pick(99.0).alias("p99"),
            "n",
        )
    )


def q_tpr_at_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 TPR@1%FPR through aggregate.tpr_at_fpr, the function the job
    ships, as one (tpr, thr) row."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).cast("int").alias("label"),
    )
    tpr, thr = agg_ops.tpr_at_fpr(scored, "score", "label", target_fpr=0.01)
    return local_frame(spark, [(tpr, thr)], "tpr double, thr double")


def q_eps_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.count(F.lit(1)) / F.sum("value"), 6).alias("eps_like"),
    )


def q_keep_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return agg_ops.keep_last(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type"
    )


def q_median_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med_value"),
        F.count(F.lit(1)).alias("n"),
    )


def q_categorical_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ranked = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return ranked.select(
        "event_type",
        "n",
        agg_ops.categorical_rank(F.col("event_type"), ["error", "purchase", "signup"])
        .cast("int")
        .alias("rank"),
    )


def q_filter_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("click", "error") & (F.col("value") > 10) & (F.col("value") <= 500))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


def q_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return agg_ops.salted_agg(orders, ["o_orderpriority"], [], salt_col="o_orderkey", buckets=16)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct"),
    )


def _doc_word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collapse-then-single-char-split: no HOF filter lambda in the plan
    docs = _spread(_t(spark, sf_dir, "documents"))
    return docs.withColumn("toks", parse_ops.word_tokens_col(F.col("text")))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash over 3-token shingles: 4 hashes via lexicographic min of
    salted md5 hex (a valid min-hash family, identical in both
    engines)."""
    # >=3 words <=> the raw text contains (non-ws run, ws run) x2 +
    # non-ws — same proof shape as parse.has_token_col: word_tokens_col
    # only collapses Java-\s whitespace, so token count == count of
    # \S+ runs. The cheap probe pushes to the scan and drops short docs
    # before the spread exchange. with_shingles' own size >= 3 row
    # filter is pushed there too, with the split inlined, so the
    # split also runs once at raw-scan parallelism on the rows that
    # pass the probe (guide §2.3/§4.4).
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir).where(
        F.col("text").rlike(r"\S+\s+\S+\s+\S")
    )
    sig = dedup.minhash_signature(dedup.with_shingles(toked, "toks", 3), num_hashes=4)
    return sig.select("doc_id", *[f"m{k}" for k in range(4)])


def q_lsh_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the minhash signature: bucket cardinality per
    band of `dedup.band_rows`, the index the candidate-pair operators
    join (string buckets here, so the oracle can restate them)."""
    from log_project_spark.operators import dedup

    sig = q_minhash_signatures(spark, sf_dir)
    buckets = [F.concat("m0", "m1"), F.concat("m2", "m3")]
    return (
        dedup.band_rows(sig, "doc_id", buckets)
        .groupBy("band")
        .agg(F.countDistinct("bucket").alias("n_buckets"), F.count(F.lit(1)).alias("n_rows"))
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs via the inverted-index
    self-join (`dedup.jaccard_pairs` uncapped, on the raw token text)."""
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir)
    return dedup.jaccard_pairs(
        toked, tokens_col="toks", threshold=0.8, max_item_df=None, hash_items=False
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector:
    `similarity.topk_cosine` with the Catalyst fold (impl="expr"; "auto"
    would pick the BLAS path at dim 64, whose summation order is not
    DuckDB's), ranked on the unrounded cosine."""
    from log_project_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    top = similarity.topk_cosine(
        _spread(emb).where(F.col("vec_id") != 0), qvec, k=10, impl="expr"
    )
    return top.select("vec_id", F.round("cos", 6).alias("cos"))


def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language flag (`text_analysis.with_lang_id`,
    en/other); confusion counts against the table's lang column."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    return (
        ta.with_lang_id(docs, out_col="pred")
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality features of `text_analysis.with_quality_features`:
    token count, mean token length, stopword ratio."""
    docs = _t(spark, sf_dir, "documents")
    return ta.with_quality_features(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "stop_ratio"
    )


def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting: words + standalone punctuation."""
    docs = _t(spark, sf_dir, "documents")
    return ta.with_bpe_token_count(docs).select("doc_id", "n_bpe")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (`text_analysis.with_fingerprint`) over the
    parsed norm text, which its whitespace collapse leaves unchanged."""
    return ta.with_fingerprint(_parsed_docs(spark, sf_dir), "norm_text").select("doc_id", "fp")


def q_multimodal_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text -> binary column -> the Arrow-batched
    decode stub `multimodal.extract_features` (n_bytes, header_byte)."""
    from log_project_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )
    return multimodal.extract_features(docs)


# ---- rows-only (non-SQL-expressible; pytest oracles in tests/) ----------

def q_iforest_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = _parsed_docs(spark, sf_dir)
    cfg = PipelineConfig(mode="baseline", iso_n_estimators=100)
    model = scoring.fit_baseline_model(parsed, cfg)
    return scoring.with_iforest_score(parsed, model).select("doc_id", "score")


def q_hash_embed_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    # the transformer-mode kernel with calibration and drift switched
    # off: only its hash-embed context scores are read
    cfg = PipelineConfig(
        mode="transformer", scope="global", calibration="no_calib", drift_detector="none"
    )
    return scoring.with_transformer_calibrate(
        toked, cfg, order_cols=("doc_id",), reset_on_drift=False
    ).select("doc_id", "score")


def q_adwin_drift_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cfg = PipelineConfig(alpha=0.05, window=100, warmup=10, drift_detector="adwin", adwin_delta=0.002)
    # needed_cols=(): the aggregate below reads only (user_id, is_drift,
    # is_anom), as in fixed_thr_per_user
    out = calibrate(
        ev, cfg, score_col="value", order_cols=("ts", "event_id"),
        group_keys=["user_id"], needed_cols=(),
    )
    return out.groupBy("user_id").agg(
        F.sum(F.col("is_drift").cast("long")).alias("n_drift"),
        F.sum(F.col("is_anom").cast("long")).alias("n_anom"),
    )


def q_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_project_spark import synth
    from log_project_spark.pipeline import run_pipeline, summary_from_result

    t = synth.transcripts(spark, 2000, n_convs=40, anom_ratio=0.03, seed=20250819)
    cfg = PipelineConfig(mode="len", window=200, warmup=20, scope="conv_id")
    res = run_pipeline(spark, t, cfg, dataset_name="synth_transcripts")
    return summary_from_result(spark, res, cfg, dataset="synth_transcripts")


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship_route(spark, SF_DEFAULT)


def _core_oracles() -> dict[str, str]:
    doc_toks = _DUCK_TOKENS.format(col="text")
    ev_text = "concat_ws(' ', event_type, props, CAST(user_id AS VARCHAR))"
    ev_toks = _DUCK_TOKENS.format(col=ev_text)
    parse_docs_sql = f"""
        WITH norm AS (SELECT doc_id, {doc_toks} AS toks FROM documents)
        SELECT doc_id, array_to_string(toks, ' ') AS norm_text,
               len(toks) AS n_tokens
        FROM norm WHERE len(toks) > 0
    """
    word_toks = (
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"
    )
    return {
        "parse_norm_documents": parse_docs_sql,
        "parse_pandas_udf": parse_docs_sql,
        "parse_mask_events": f"""
            WITH norm AS (SELECT event_id, {ev_toks} AS toks FROM events)
            SELECT event_id, array_to_string(toks, ' ') AS norm_text,
                   len(toks) AS n_tokens
            FROM norm WHERE len(toks) > 0
        """,
        "flagship_route": f"""
            WITH norm AS (SELECT doc_id, {doc_toks} AS toks FROM documents),
            scored AS (
              SELECT doc_id,
                     CAST(length(array_to_string(toks, ' ')) AS DOUBLE) AS score,
                     row_number() OVER (ORDER BY doc_id) AS rn
              FROM norm WHERE len(toks) > 0),
            warm AS (SELECT score FROM scored WHERE rn <= 200),
            t AS (SELECT list_sort(list(score))[1 + CAST(floor(0.99 * (count(*) - 1)) AS INT)] AS thr
                  FROM warm)
            SELECT CASE WHEN rn >= 200 AND score > t.thr THEN 'anomalous'
                        ELSE 'nominal' END AS sink,
                   count(*) AS n
            FROM scored, t GROUP BY 1
        """,
        "enrich_broadcast": """
            SELECT r_name, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "labels_left_join": """
            SELECT label, count(*) AS n
            FROM documents LEFT JOIN embeddings ON doc_id = vec_id
            GROUP BY label
        """,
        "conformal_per_user": """
            WITH w AS (
              SELECT user_id, event_id, value,
                     list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS buf,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events),
            thr AS (
              SELECT user_id, event_id, value, rn,
                     list_sort(buf)[greatest(1, CAST(round_even(0.95 * len(buf), 0) AS INT))] AS thr
              FROM w)
            SELECT user_id, event_id, thr,
                   (rn >= 10 AND value > thr) AS is_anom
            FROM thr
        """,
        "fixed_thr_per_user": """
            -- LEFT join + infinity so under-warmup users (< 40 events)
            -- still emit (thr=inf, n_flagged=0) like the kernel does
            -- (ADVICE r1: the old inner join + HAVING relied on every
            -- testdata user having >= 40 events)
            WITH o AS (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events),
            f AS (
              SELECT user_id,
                     list_sort(list(value) FILTER (WHERE rn <= 40))[1 + CAST(floor(0.98 * 39) AS INT)] AS thr
              FROM o GROUP BY user_id HAVING count(*) >= 40)
            SELECT o.user_id, coalesce(f.thr, 'infinity'::DOUBLE) AS thr,
                   count(*) FILTER (WHERE rn >= 40 AND value > f.thr) AS n_flagged
            FROM o LEFT JOIN f ON o.user_id = f.user_id
            GROUP BY o.user_id, f.thr
        """,
        "exact_percentiles": """
            SELECT event_type,
                   list_sort(list(value))[1 + CAST(floor(0.50 * (count(*) - 1)) AS INT)] AS p50,
                   list_sort(list(value))[1 + CAST(floor(0.95 * (count(*) - 1)) AS INT)] AS p95,
                   list_sort(list(value))[1 + CAST(floor(0.99 * (count(*) - 1)) AS INT)] AS p99,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "tpr_at_fpr": """
            WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS score,
                              CASE WHEN label >= 5 THEN 1 ELSE 0 END AS lab
                       FROM embeddings),
            neg AS (SELECT list_sort(list(score)) AS arr, count(*) AS n FROM s WHERE lab = 0),
            t AS (SELECT arr[1 + greatest(0, least(CAST(floor(0.99 * (n - 1)) AS INT), n - 1))] AS thr FROM neg)
            SELECT CAST(sum(CASE WHEN score >= t.thr THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS tpr,
                   t.thr AS thr
            FROM s, t WHERE lab = 1 GROUP BY t.thr
        """,
        "eps_throughput": """
            SELECT count(*) AS n, round(count(*) / sum(value), 6) AS eps_like
            FROM events
        """,
        "keep_last_per_user": """
            SELECT user_id, event_id, event_type
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "median_collapse": """
            SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med_value,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "categorical_sort": """
            SELECT event_type, count(*) AS n,
                   CASE event_type WHEN 'error' THEN 0 WHEN 'purchase' THEN 1
                        WHEN 'signup' THEN 2 ELSE 3 END AS rank
            FROM events GROUP BY event_type
        """,
        "filter_combo": """
            SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
            FROM events
            WHERE event_type IN ('click', 'error') AND value > 10 AND value <= 500
            GROUP BY event_type
        """,
        "salted_counts": """
            SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "dedup_exact": """
            SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct FROM documents
        """,
        "minhash_signatures": f"""
            WITH toks AS (SELECT doc_id, {word_toks} AS t FROM documents),
            sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
                   FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
                   WHERE len(t) >= 3)
            SELECT doc_id,
                   min(md5(s || '|0')) AS m0, min(md5(s || '|1')) AS m1,
                   min(md5(s || '|2')) AS m2, min(md5(s || '|3')) AS m3
            FROM sh GROUP BY doc_id
        """,
        "lsh_band_buckets": f"""
            WITH toks AS (SELECT doc_id, {word_toks} AS t FROM documents),
            sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
                   FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
                   WHERE len(t) >= 3),
            sig AS (SELECT doc_id,
                           min(md5(s || '|0')) AS m0, min(md5(s || '|1')) AS m1,
                           min(md5(s || '|2')) AS m2, min(md5(s || '|3')) AS m3
                    FROM sh GROUP BY doc_id),
            bands AS (
              SELECT 0 AS band, m0 || m1 AS bucket FROM sig
              UNION ALL
              SELECT 1 AS band, m2 || m3 AS bucket FROM sig)
            SELECT band, count(DISTINCT bucket) AS n_buckets, count(*) AS n_rows
            FROM bands GROUP BY band
        """,
        "ngram_jaccard_pairs": f"""
            WITH tok AS (
              SELECT DISTINCT doc_id, unnest({word_toks}) AS tok FROM documents),
            sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b,
                   round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.8
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            c AS (SELECT vec_id,
                         list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
                         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
                  FROM embeddings, q WHERE vec_id != 0)
            SELECT vec_id, round(cos_raw, 6) AS cos
            FROM c ORDER BY cos_raw DESC, vec_id LIMIT 10
        """,
        "lang_id_heuristic": f"""
            WITH toked AS (SELECT lang, {word_toks} AS toks FROM documents),
            p AS (SELECT lang,
                         CASE WHEN CAST(len(list_filter(toks, x -> list_contains({_DUCK_STOP_LIST}, x))) AS DOUBLE)
                                   / greatest(len(toks), 1) > 0.08
                              THEN 'en' ELSE 'other' END AS pred
                  FROM toked)
            SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred
        """,
        "quality_score": f"""
            WITH toked AS (SELECT doc_id, {word_toks} AS toks FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS avg_token_len,
                   round(CAST(len(list_filter(toks, x -> list_contains({_DUCK_STOP_LIST}, x))) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS stop_ratio
            FROM toked
        """,
        "token_count_regex": r"""
            SELECT doc_id, len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe
            FROM documents
        """,
        "fingerprint": f"""
            WITH norm AS (SELECT doc_id, {doc_toks} AS toks FROM documents)
            SELECT doc_id, substring(sha256(array_to_string(toks, ' ')), 1, 16) AS fp
            FROM norm WHERE len(toks) > 0
        """,
        "multimodal_stub": """
            -- first UTF-8 BYTE (hex of the blob), not the first code
            -- point: ascii() diverges on non-ASCII text and returns 0
            -- (not -1) for empty strings (ADVICE r1)
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   CAST(CASE WHEN octet_length(encode(text)) = 0 THEN -1
                             ELSE CAST(('0x' || substring(hex(encode(text)), 1, 2)) AS INT)
                        END AS BIGINT) AS header_byte
            FROM documents
        """,
    }


# ---------------------------------------------------------------------------
# round-1 additions: similarity partitioning + dedup + integrated kernels
# ---------------------------------------------------------------------------

def _det_vectors(n: int, dim: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim))
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    return [[float(x) for x in v] for v in V]


_IVF_CENTROIDS = _det_vectors(4, 64, 101)
_SRP_PLANES = _det_vectors(4, 64, 202)


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_project_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_assign(emb, _IVF_CENTROIDS).select(
        "vec_id", F.col("ivf_cell").cast("int").alias("ivf_cell")
    )


def q_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_project_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", sim.srp_bucket(F.col("embedding"), _SRP_PLANES).alias("bucket")
    )


def q_simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit SimHash (md5-prefix token hash, grouped on
    doc_id only) — bit-identical to the DuckDB restatement."""
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    return dedup.simhash60(toked.select("doc_id", "tokens")).select("doc_id", "simhash")


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-pairs over the portable simhash; max_hamming=3
    with 4x15-bit bands so the pigeonhole recall guarantee holds
    (ADVICE r1: 4 bands cannot cover hamming 8)."""
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    sig = dedup.simhash60(toked.select("doc_id", "tokens"))
    pairs = dedup.hamming_near_pairs(sig, max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    sh = dedup.with_shingles(toked, tokens_col="tokens", n=3)
    sig = dedup.minhash_signature(sh, num_hashes=4)
    return dedup.lsh_candidate_pairs(sig, num_hashes=4, band_size=2)


def q_transformer_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrated transformer-mode kernel (M4-M6 + C1-C7 + C10) over
    the documents table as one global stream."""
    from log_project_spark.operators import scoring as scoring_ops

    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    base = toked.select(
        F.lit("c0").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        "tokens",
    )
    cfg = PipelineConfig(
        scope="global", mode="transformer", alpha=0.05, window=200, warmup=20,
        drift_detector="adwin",
    )
    out = scoring_ops.with_transformer_calibrate(base, cfg)
    return out.select("turn_idx", "score", "thr", "is_anom", "is_drift")


def _ivf_sql() -> str:
    def lit(vec):
        return "[" + ",".join(repr(x) for x in vec) + "]"

    dots = ", ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {lit(c)}) AS d{i}"
        for i, c in enumerate(_IVF_CENTROIDS)
    )
    # sequential argmax with the same strict-> tie-break as the Spark fold
    return f"""
        WITH d AS (SELECT vec_id, {dots} FROM embeddings),
        s1 AS (SELECT vec_id, d2, d3,
                      CASE WHEN d1 > d0 THEN 1 ELSE 0 END AS b,
                      CASE WHEN d1 > d0 THEN d1 ELSE d0 END AS v FROM d),
        s2 AS (SELECT vec_id, d3,
                      CASE WHEN d2 > v THEN 2 ELSE b END AS b,
                      CASE WHEN d2 > v THEN d2 ELSE v END AS v FROM s1),
        s3 AS (SELECT vec_id,
                      CASE WHEN d3 > v THEN 3 ELSE b END AS b FROM s2)
        SELECT vec_id, CAST(b AS INT) AS ivf_cell FROM s3
    """


def _srp_sql() -> str:
    def lit(vec):
        return "[" + ",".join(repr(x) for x in vec) + "]"

    bits = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_SRP_PLANES)
    )
    return f"SELECT vec_id, CAST({bits} AS BIGINT) AS bucket FROM embeddings"


def q_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard with the document-frequency cap ON (VERDICT
    r1 #3): items with df > 150 leave the sets before the inverted-
    index self-join."""
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    return dedup.jaccard_pairs(toked, threshold=0.8, max_item_df=150)


_EMB_BANDS, _EMB_BAND_BITS = 4, 4
_EMB_PLANES = None  # built lazily per embedding dim


def _emb_planes(dim: int) -> list[list[float]]:
    global _EMB_PLANES
    if _EMB_PLANES is None or len(_EMB_PLANES[0]) != dim:
        from log_project_spark.operators.similarity import make_planes

        _EMB_PLANES = make_planes(dim, _EMB_BANDS * _EMB_BAND_BITS, seed=20250819)
    return _EMB_PLANES


def q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SRP-LSH near-dup path (VERDICT r1 #2): candidates from
    OR-of-4x4-bit bands with shared deterministic planes, exact cosine
    verify. bucket_impl='expr' keeps the dot-product fold sequential,
    bit-identical to the DuckDB restatement."""
    from log_project_spark.operators import dedup

    emb = _t(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    return dedup.embedding_near_dups(
        emb,
        threshold=0.35,
        n_bands=_EMB_BANDS,
        band_bits=_EMB_BAND_BITS,
        exact=False,
        planes=_emb_planes(dim),
        bucket_impl="expr",
    )


def q_exact_percentiles_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-only distributed exact-percentile path (VERDICT r1 #1)
    under the DuckDB gate: whole-column lower-index p50/p95/p99."""
    ev = _t(spark, sf_dir, "events")
    ps = agg_ops.exact_percentile_distributed(ev, "value", [50.0, 95.0, 99.0])
    return local_frame(
        spark, [(ps[50.0], ps[95.0], ps[99.0])], "p50 double, p95 double, p99 double"
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (12 h gap) + per-session rollup:
    one shuffle on user_id, lag + running sum in a single Window
    stage, micros-precision gap arithmetic."""
    ev = _t(spark, sf_dir, "events")
    return sessionize.session_stats(ev, "user_id", "ts", gap_seconds=43200)


def q_tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts per event_type via F.window (the
    same expression a watermarked streaming agg uses)."""
    ev = _t(spark, sf_dir, "events")
    return sessionize.tumbling_counts(ev, "ts", 3600, keys=["event_type"])


def q_approx_percentiles_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch percentile path (scale counterpart of
    exact_percentiles_global): one scan, mergeable O(accuracy)
    partials, NO range shuffle. At accuracy >= n the GK sketch retains
    every point, so the result is EXACTLY the lower-index element
    (verified against DuckDB quantile_disc); the low-accuracy rank
    bound is pinned in tests/test_aggregate.py."""
    ev = _t(spark, sf_dir, "events")
    return agg_ops.approx_percentiles(
        ev, "value", [50.0, 95.0, 99.0], accuracy=10_000_000
    ).select(
        F.col("p50_0").alias("p50"),
        F.col("p95_0").alias("p95"),
        F.col("p99_0").alias("p99"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search end-to-end: top-2 cells by centroid dot with
    the vec_id=0 query, exact cosine top-10 within the probed cells."""
    from log_project_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    out = sim.ivf_topk(
        emb.where(F.col("vec_id") != 0),
        query,
        _IVF_CENTROIDS,
        k=10,
        n_probe=2,
        impl="expr",
    )
    return out.select("vec_id", F.round("cos", 6).alias("cos"))


def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the simhash near-pair graph
    (iterative min-label propagation in Spark; transitive-closure
    recursive CTE in DuckDB): (id, component=min reachable id) for
    every doc in a near-dup cluster."""
    from log_project_spark.operators import dedup

    toked = _doc_word_tokens(spark, sf_dir).withColumnRenamed("toks", "tokens")
    sig = dedup.simhash60(toked.select("doc_id", "tokens"))
    pairs = dedup.hamming_near_pairs(sig, max_hamming=3)
    return dedup.connected_components(pairs)


def _components_sql(max_hamming: int = 3, n_bands: int = 4) -> str:
    sums, sig_expr = _simhash_fragments()
    width = 60 // n_bands
    mask = (1 << width) - 1
    bands = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {width * b}) & {mask} AS bucket FROM sig"
        for b in range(n_bands)
    )
    return f"""
        WITH RECURSIVE
        toked AS (SELECT doc_id, {_DUCK_WORD_TOKS} AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
        h AS (SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        sig0 AS (SELECT doc_id, CAST({sig_expr} AS BIGINT) AS simhash FROM bits),
        sig AS (SELECT t.doc_id, coalesce(s.simhash, 0) AS simhash
                FROM toked t LEFT JOIN sig0 s USING (doc_id)),
        bands AS (
{bands}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        SELECT src AS id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
    """


def q_salted_agg_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted sum/count (the salted_counts query with a sum
    column) — result provably equals the plain groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.salted_agg(
        li, ["l_returnflag"], ["l_quantity"], salt_col="l_orderkey", buckets=16
    )
    return out.select(
        "l_returnflag", "n", F.round("sum_l_quantity", 2).alias("sum_qty")
    )


def q_dedup_keep_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level exact dedup: the surviving (min doc_id per identical
    text) rows themselves, not just group counts."""
    from log_project_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.dedup_exact(docs, "text", "doc_id").select("doc_id")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data-pipeline composition, end to end: fingerprint
    exact-dedup (keep min doc_id) -> simhash60 near-dup clustering
    (connected components at hamming <= 3, keep each cluster's min id)
    -> heuristic quality gate. Returns the surviving (doc_id, quality)
    rows. Every stage is the library operator the individual gates
    already check."""
    from log_project_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = ta.with_fingerprint(docs)
    exact = dedup.dedup_exact(fp, "fp", "doc_id").drop("fp")
    toked = exact.withColumn("tokens", parse_ops.word_tokens_col(F.col("text")))
    sig = dedup.simhash60(toked.select("doc_id", "tokens"))
    pairs = dedup.hamming_near_pairs(sig, max_hamming=3)
    survivors = dedup.dedup_near(exact, pairs)
    scored = ta.with_quality_score(survivors)
    return scored.where(F.col("quality") >= 0.2).select("doc_id", "quality")


def _corpus_curation_sql(max_hamming: int = 3, n_bands: int = 4, min_q: float = 0.2) -> str:
    sums, sig_expr = _simhash_fragments()
    width = 60 // n_bands
    mask = (1 << width) - 1
    bands = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {width * b}) & {mask} AS bucket FROM sig"
        for b in range(n_bands)
    )
    return f"""
        WITH RECURSIVE norm0 AS (
          SELECT doc_id, text,
                 array_to_string({_DUCK_WORD_TOKS}, ' ') AS norm
          FROM documents),
        fp AS (SELECT doc_id, text, norm,
                      substring(sha256(norm), 1, 16) AS fp FROM norm0),
        exact AS (
          SELECT doc_id, text, norm FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp)
          WHERE rn = 1),
        tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
                FROM exact WHERE norm != ''),
        h AS (SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        sig0 AS (SELECT doc_id, CAST({sig_expr} AS BIGINT) AS simhash FROM bits),
        sig AS (SELECT e.doc_id, coalesce(s.simhash, 0) AS simhash
                FROM exact e LEFT JOIN sig0 s USING (doc_id)),
        bands AS (
{bands}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        dropped AS (
          SELECT src AS doc_id FROM reach
          GROUP BY src HAVING least(src, min(dst)) != src),
        surv AS (
          SELECT e.doc_id, e.text, e.norm FROM exact e
          LEFT JOIN dropped d USING (doc_id) WHERE d.doc_id IS NULL),
        feat0 AS (
          SELECT doc_id, text, norm,
                 CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_tok,
                 length(text) AS n_chars,
                 len(regexp_extract_all(text, '[.,!?;:''"()\\[\\]{{}}]')) AS n_punct,
                 len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
                 len(regexp_extract_all(text, '[0-9]')) AS n_digit,
                 len(list_filter(string_split(norm, ' '), x -> list_contains({_DUCK_STOP_LIST}, x))) AS n_stop
          FROM surv),
        feat AS (
          SELECT doc_id,
                 round(CAST(CASE WHEN n_tok > 0 THEN length(norm) - (n_tok - 1) ELSE 0 END AS DOUBLE)
                       / (CASE WHEN n_tok > 0 THEN n_tok ELSE 1 END), 6) AS avg_token_len,
                 round(CAST(n_punct AS DOUBLE) / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END), 6) AS punct_ratio,
                 round(CAST(n_digit AS DOUBLE) / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END), 6) AS digit_ratio,
                 round(CAST(n_stop AS DOUBLE) / (CASE WHEN n_tok > 0 THEN n_tok ELSE 1 END), 6) AS stop_ratio
          FROM feat0),
        q AS (
          SELECT doc_id,
                 round(((1.0 - least(abs(avg_token_len - 5.0) / 5.0, 1.0))
                        + least(stop_ratio * 4.0, 1.0)
                        + greatest(0.0, 1.0 - (punct_ratio + digit_ratio) * 2.0)) / 3.0, 6) AS quality
          FROM feat)
        SELECT doc_id, quality FROM q WHERE quality >= {min_q}
    """


def q_sample_fraction_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-fraction sample (operators/sampling.py): 20%
    of documents by the portable md5-prefix hash of doc_id — the same
    row set at any parallelism, in any engine (no reference
    counterpart; engine addition for corpus curation)."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.sample_fraction(docs, 0.2, "doc_id", seed=42).select("doc_id", "lang")


def q_stratified_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sample: 20 documents per lang,
    chosen as the k smallest portable hashes within each stratum."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    got = sampling.stratified_sample_exact(docs, ["lang"], 20, "doc_id", seed=42)
    return got.select("lang", "doc_id")


def q_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split at 0.8 — per-side counts
    (leak-free across reruns: a doc_id's side is a pure function of
    (key, seed))."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    train, hold = sampling.hash_split(docs, 0.8, "doc_id", seed=42)
    return (
        train.select(F.lit("train").alias("side"))
        .unionAll(hold.select(F.lit("holdout").alias("side")))
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _hash60_sql(key: str = "doc_id", seed: int = 42) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({key} AS VARCHAR) || '|{seed}'), 1, 15)) AS BIGINT)"
    )


def q_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language char-budget cap (data-mixing primitive): greedy
    deterministic prefix of each lang's hash-ordered rows with
    cumulative n_chars <= 5000."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    got = sampling.token_budget_cap(docs, 5000, ["lang"], "n_chars", "doc_id", seed=42)
    return got.select("lang", "doc_id", "n_chars")


def q_sample_by_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum fraction rebalancing (sampleBy
    analogue): keep 10% of en, all of zh, half of es; other langs
    dropped."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    got = sampling.sample_by_stratum(
        docs, {"en": 0.1, "zh": 1.0, "es": 0.5}, "lang", "doc_id", seed=42
    )
    return got.select("lang", "doc_id")


def q_token_budget_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked (longest-first) per-language budget cap: the
    quality-ordered variant of the data-mixing primitive."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    got = sampling.token_budget_cap(
        docs, 5000, ["lang"], "n_chars", "doc_id", seed=42, order_col="n_chars"
    )
    return got.select("lang", "doc_id", "n_chars")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals over word
    2-grams (default hash-keyed scale path; the oracle groups the raw
    gram strings — identical values absent a 64-bit in-doc
    collision)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    return ta.repetition_stats(docs, n=2)


def q_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-train-doc count of distinct
    5-grams shared with a held-out benchmark slice (the hash-split
    12.5% of documents), via the broadcast-semi-join gram path."""
    from log_project_spark.operators import decontam, sampling

    docs = _spread(_t(spark, sf_dir, "documents")).withColumn(
        "toks", parse_ops.word_tokens_col(F.col("text"))
    )
    train, bench = sampling.hash_split(docs, 0.875, "doc_id", seed=7)
    return decontam.contamination_hits(train, bench, tokens_col="toks", n=5)


def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.3) per-language mixing weights over
    char mass — the weight-COMPUTATION step of data mixing (share,
    sampling weight, implied epochs per language), feeding
    token_budget_cap / sample_by_stratum."""
    from log_project_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.mixing_weights(docs, ["lang"], weight_col="n_chars", alpha=0.3)


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language percentile curation gate: keep the top
    20% (q=80) of each language by `with_quality_features`' stopword
    ratio, rank-deterministic (ties by doc_id), lower-index k formula."""
    from log_project_spark.operators.aggregate import percentile_rank_filter

    docs = _t(spark, sf_dir, "documents")
    scored = ta.with_quality_features(docs).select("lang", "doc_id", "stop_ratio")
    return percentile_rank_filter(scored, "stop_ratio", 80.0, ["lang"], "doc_id")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: fit an add-k bigram model on the
    documents corpus (vocab 256, k=0.5) and score every >=2-token doc's
    cross-entropy in bits/bigram. Feeds percentile_rank_filter(...,
    keep_low=True) for the per-language perplexity bucket gate."""
    from log_project_spark.operators import lm_score

    docs = _spread(_t(spark, sf_dir, "documents"))
    lm = lm_score.fit_bigram_lm(docs, "text", vocab_size=256, id_col="doc_id")
    return lm_score.score_bigram_lm(docs, lm, "text", id_col="doc_id", k=0.5)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision (Abbas et al. 2023) over the shared
    deterministic IVF centroids: cluster by nearest centroid, then drop
    any vector whose cosine to a lower-(centroid_sim, id)-ordered
    cluster-mate is >= 0.35. impl='expr' keeps every dot product a
    sequential Catalyst fold, bit-identical to list_dot_product."""
    from log_project_spark.operators import semdedup as sd

    emb = _t(spark, sf_dir, "embeddings")
    return sd.semdedup(emb, _IVF_CENTROIDS, eps=0.35, impl="expr")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed {1,2}-gram
    models of the lang='en' target vs the full corpus, per-doc
    log-likelihood-ratio weights, deterministic Gumbel-top-50
    selection. Returns ALL weighted docs with the selected flag so the
    oracle verifies weights, keys, and the cut."""
    from log_project_spark.operators import dsir

    docs = _spread(_t(spark, sf_dir, "documents"))
    target = docs.where(F.col("lang") == "en")
    return dsir.dsir_select(docs, target, k=50, buckets=4096)


def _dsir_sql(
    k: int = 50, buckets: int = 4096, seed: int = 7, gumbel_seed: int = 99
) -> str:
    """Restates dsir_select exactly: same md5-prefix feature hash, the
    same add-1 model algebra over both corpora, the same rounded
    Gumbel keys, the same (gkey desc, id asc) top-k cut."""
    hash60 = (
        lambda expr, s: f"CAST(('0x' || substring(md5({expr} || '|{s}'), 1, 15)) AS BIGINT)"
    )
    u_denom = repr(float((1 << 60) + 2))
    return f"""
        WITH toked AS (SELECT doc_id, lang, {_DUCK_WORD_TOKS} AS toks FROM documents),
        g1 AS (SELECT doc_id, lang, unnest(toks) AS gram FROM toked),
        g2 AS (
          SELECT doc_id, lang, array_to_string(toks[i:i+1], ' ') AS gram
          FROM toked, unnest(range(1, len(toks))) AS t(i)
          WHERE len(toks) >= 2),
        feats AS (
          SELECT doc_id, lang,
                 {hash60('gram', seed)} % {buckets} AS feature
          FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
        raw_counts AS (SELECT feature, count(*) AS c FROM feats GROUP BY feature),
        raw_total AS (SELECT CAST(sum(c) AS DOUBLE) + {buckets} AS denom FROM raw_counts),
        tgt_counts AS (SELECT feature, count(*) AS c FROM feats
                       WHERE lang = 'en' GROUP BY feature),
        tgt_total AS (SELECT CAST(sum(c) AS DOUBLE) + {buckets} AS denom FROM tgt_counts),
        scored AS (
          SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                 round(sum(
                   ln(coalesce(t.c + 1.0, 1.0) / (SELECT denom FROM tgt_total))
                   - ln(coalesce(r.c + 1.0, 1.0) / (SELECT denom FROM raw_total))
                 ), 6) AS logw
          FROM feats f
          LEFT JOIN tgt_counts t ON f.feature = t.feature
          LEFT JOIN raw_counts r ON f.feature = r.feature
          GROUP BY f.doc_id),
        keyed AS (
          SELECT doc_id, n_feats, logw,
                 round(logw + -ln(-ln(
                   ({hash60('CAST(doc_id AS VARCHAR)', gumbel_seed)} + 1.0)
                   / {u_denom})), 6) AS gkey
          FROM scored),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY gkey DESC, doc_id ASC) AS rn
          FROM keyed)
        SELECT doc_id, n_feats, logw, gkey,
               CAST(CASE WHEN rn <= {k} THEN 1 ELSE 0 END AS INT) AS selected
        FROM ranked
    """


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing manifest over the documents corpus
    (word-token counts, 256-token chunks, 4 hash shards): which token
    span of which doc lands where in which training sequence. Pure
    integer window arithmetic — exact in both engines."""
    from log_project_spark.operators import packing
    from log_project_spark.operators.parse import word_tokens_col

    docs = _spread(_t(spark, sf_dir, "documents"))
    ntok = docs.select(
        "doc_id", F.size(word_tokens_col(F.col("text"))).alias("n_tok")
    )
    return packing.pack_sequences(ntok, "n_tok", chunk_len=256, n_shards=4, seed=11)


def _pack_sql(chunk_len: int = 256, n_shards: int = 4, seed: int = 11) -> str:
    h = _hash60_sql("doc_id", seed)
    return f"""
        WITH toked AS (
          SELECT doc_id, len({_DUCK_WORD_TOKS}) AS n, {h} AS h FROM documents),
        base AS (
          SELECT doc_id, n, h, CAST(h % {n_shards} AS INT) AS shard
          FROM toked WHERE n > 0),
        placed AS (
          SELECT doc_id, shard, n,
                 CAST(sum(n) OVER (PARTITION BY shard ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n
                      AS BIGINT) AS start
          FROM base),
        chunks AS (
          SELECT doc_id, shard, n, start, c
          FROM placed,
               unnest(range(start // {chunk_len},
                            (start + n - 1) // {chunk_len} + 1)) AS t(c))
        SELECT shard, CAST(c AS BIGINT) AS chunk, doc_id,
               CAST(greatest(start, c * {chunk_len}) - start AS BIGINT) AS doc_off,
               CAST(greatest(start, c * {chunk_len}) - c * {chunk_len} AS BIGINT)
                 AS chunk_off,
               CAST(least(start + n, (c + 1) * {chunk_len})
                    - greatest(start, c * {chunk_len}) AS BIGINT) AS len
        FROM chunks
    """


def _semdedup_sql(eps: float = 0.35) -> str:
    """Same argmax chain as _ivf_sql, carrying the winning dot and the
    vector so centroid_sim and the dominance pairs restate exactly."""

    def lit(vec):
        return "[" + ",".join(repr(x) for x in vec) + "]"

    dots = ", ".join(
        f"list_dot_product(v, {lit(c)}) AS d{i}"
        for i, c in enumerate(_IVF_CENTROIDS)
    )
    return f"""
        WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {dots}
                   FROM embeddings),
        s1 AS (SELECT vec_id, v, d2, d3,
                      CASE WHEN d1 > d0 THEN 1 ELSE 0 END AS b,
                      CASE WHEN d1 > d0 THEN d1 ELSE d0 END AS bv FROM d),
        s2 AS (SELECT vec_id, v, d3,
                      CASE WHEN d2 > bv THEN 2 ELSE b END AS b,
                      CASE WHEN d2 > bv THEN d2 ELSE bv END AS bv FROM s1),
        s3 AS (SELECT vec_id, v, CASE WHEN d3 > bv THEN 3 ELSE b END AS b,
                      CASE WHEN d3 > bv THEN d3 ELSE bv END AS bv FROM s2),
        base AS (
          SELECT vec_id, v, CAST(b AS INT) AS cluster,
                 round(CASE WHEN sqrt(list_dot_product(v, v)) <> 0
                            THEN bv / sqrt(list_dot_product(v, v)) END, 6)
                   AS centroid_sim
          FROM s3),
        dropped AS (
          SELECT DISTINCT late.vec_id
          FROM base early JOIN base late
            ON early.cluster = late.cluster
           AND (early.centroid_sim < late.centroid_sim
                OR (early.centroid_sim = late.centroid_sim
                    AND early.vec_id < late.vec_id))
          WHERE sqrt(list_dot_product(early.v, early.v)) <> 0
            AND sqrt(list_dot_product(late.v, late.v)) <> 0
            AND round(list_dot_product(early.v, late.v)
                      / (sqrt(list_dot_product(early.v, early.v))
                         * sqrt(list_dot_product(late.v, late.v))), 6) >= {eps})
        SELECT base.vec_id, cluster, centroid_sim,
               CAST(CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS INT)
                 AS kept
        FROM base LEFT JOIN dropped ON base.vec_id = dropped.vec_id
    """


def _repetition_sql(n: int = 2) -> str:
    return f"""
        WITH toked AS (SELECT doc_id, {_DUCK_WORD_TOKS} AS toks FROM documents),
        g AS (
          SELECT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS gram
          FROM toked, unnest(range(1, len(toks) - {n - 2})) AS t(i)
          WHERE len(toks) >= {n}),
        pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
               count(*) AS n_distinct_grams,
               round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_gram_frac,
               round(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_gram_frac
        FROM pg GROUP BY doc_id
    """


def _decontam_sql(n: int = 5, frac: float = 0.875, seed: int = 7) -> str:
    from log_project_spark.operators.sampling import fraction_threshold

    h = _hash60_sql("doc_id", seed)
    thr = fraction_threshold(frac)
    return f"""
        WITH toked AS (SELECT doc_id, {_DUCK_WORD_TOKS} AS toks FROM documents),
        tr AS (SELECT * FROM toked WHERE {h} < {thr}),
        be AS (SELECT * FROM toked WHERE NOT ({h} < {thr})),
        bg AS (SELECT DISTINCT array_to_string(toks[i:i+{n - 1}], ' ') AS gram
               FROM be, unnest(range(1, len(toks) - {n - 2})) AS t(i)
               WHERE len(toks) >= {n}),
        tg AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS gram
               FROM tr, unnest(range(1, len(toks) - {n - 2})) AS t(i)
               WHERE len(toks) >= {n})
        SELECT doc_id, count(*) AS n_hit_grams
        FROM tg JOIN bg USING (gram) GROUP BY doc_id
    """


_DUCK_WORD_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"


def _simhash_fragments() -> tuple[str, str]:
    """(per-bit sign sums over column h, signature from b0..b59)."""
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(60)
    )
    sig = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60))
    return sums, sig


def _simhash_sql() -> str:
    """DuckDB restatement of the portable 60-bit simhash: md5-hex
    prefix -> BIGINT per token, per-bit sign sums grouped by doc_id."""
    sums, sig = _simhash_fragments()
    return f"""
        WITH toked AS (SELECT doc_id, {_DUCK_WORD_TOKS} AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
        h AS (SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits)
        SELECT t.doc_id, coalesce(s.simhash, 0) AS simhash
        FROM toked t LEFT JOIN sig s USING (doc_id)
    """


def _simhash_pairs_sql(max_hamming: int = 3, n_bands: int = 4) -> str:
    width = 60 // n_bands
    mask = (1 << width) - 1
    bands = "\n              UNION ALL\n".join(
        f"              SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {width * b}) & {mask} AS bucket FROM sig"
        for b in range(n_bands)
    )
    return f"""
        WITH s0 AS ({_simhash_sql()}),
        sig AS (SELECT doc_id, simhash FROM s0),
        bands AS (
{bands}),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cands WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


_MINHASH_SIG_SQL = f"""
            WITH toks AS (SELECT doc_id, {_DUCK_WORD_TOKS} AS t FROM documents),
            sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
                   FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
                   WHERE len(t) >= 3),
            sig AS (SELECT doc_id,
                           min(md5(s || '|0')) AS m0, min(md5(s || '|1')) AS m1,
                           min(md5(s || '|2')) AS m2, min(md5(s || '|3')) AS m3
                    FROM sh GROUP BY doc_id)
"""


def _lsh_pairs_sql() -> str:
    """Banded minhash-LSH candidate pairs (VERDICT r1 #7: this is pure
    md5/SQL, so it gets a DuckDB oracle)."""
    return f"""
        {_MINHASH_SIG_SQL},
        bands AS (
          SELECT doc_id, 0 AS band, m0 || m1 AS bucket FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, m2 || m3 AS bucket FROM sig)
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


def _jaccard_capped_sql(max_df: int = 150, threshold: float = 0.8) -> str:
    return f"""
        WITH tok AS (
          SELECT DISTINCT doc_id, unnest({_DUCK_WORD_TOKS}) AS tok FROM documents),
        freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        kept AS (SELECT t.doc_id, t.tok FROM tok t JOIN freq USING (tok)
                 WHERE freq.c <= {max_df}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}
    """


def _emb_lsh_sql(threshold: float = 0.35) -> str:
    """Banded SRP-LSH near-dups with the shared deterministic planes;
    dot products via list_dot_product (sequential fold, matching the
    Spark 'expr' bucket path bit-for-bit)."""
    planes = _emb_planes(64)

    def lit(vec):
        return "[" + ",".join(repr(x) for x in vec) + "]"

    band_rows = []
    for b in range(_EMB_BANDS):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {lit(planes[b * _EMB_BAND_BITS + j])}) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j in range(_EMB_BAND_BITS)
        )
        band_rows.append(f"          SELECT vec_id, {b} AS band, ({bits}) AS bucket FROM e")
    bands = "\n          UNION ALL\n".join(band_rows)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bands AS (
{bands}),
        cands AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        verified AS (
          SELECT id_a, id_b,
                 round(list_dot_product(ea.v, eb.v)
                       / (sqrt(list_dot_product(ea.v, ea.v))
                          * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos
          FROM cands JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
        SELECT id_a, id_b, cos FROM verified WHERE cos >= {threshold}
    """


_PCTL_GLOBAL_SQL = """
    SELECT list_sort(list(value))[1 + CAST(floor(0.50 * (count(*) - 1)) AS INT)] AS p50,
           list_sort(list(value))[1 + CAST(floor(0.95 * (count(*) - 1)) AS INT)] AS p95,
           list_sort(list(value))[1 + CAST(floor(0.99 * (count(*) - 1)) AS INT)] AS p99
    FROM events
"""


def _ivf_topk_sql(n_probe: int = 2, k: int = 10) -> str:
    def lit(vec):
        return "[" + ",".join(repr(x) for x in vec) + "]"

    cd = "\n          UNION ALL\n".join(
        f"          SELECT {i} AS cell, list_dot_product(q.qv, {lit(c)}) AS d FROM q"
        for i, c in enumerate(_IVF_CENTROIDS)
    )
    return f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        cd AS (
{cd}),
        cells AS (
          SELECT cell FROM (
            SELECT cell, row_number() OVER (ORDER BY d DESC, cell) AS rn FROM cd)
          WHERE rn <= {n_probe}),
        assign AS ({_ivf_sql()}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id != 0),
        c AS (
          SELECT e.vec_id,
                 list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
          FROM e JOIN assign USING (vec_id), q
          WHERE assign.ivf_cell IN (SELECT cell FROM cells))
        SELECT vec_id, round(cos_raw, 6) AS cos
        FROM c ORDER BY cos_raw DESC, vec_id LIMIT {k}
    """


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact verification path) —
    oracle-checked against the same formula in DuckDB."""
    from log_project_spark.operators import dedup

    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dups(emb, threshold=0.35, exact=True)


_EMB_DUPS_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.35
"""


# The declared queries, in gate order: queries() returns this mapping,
# and a query is registered here and nowhere else.
#
# Driver-gate ordering protocol (VERDICT r4 "What's wrong #1"): the
# driver's correctness gate witnesses only the FIRST 50 entries of
# queries(), so every distinct operator family must sit within the
# first 50. The entries past the window are deliberately
# oracle-redundant family siblings — each has a same-family query
# inside the window, named beside it below. All 64 are additionally
# witnessed each round by a full scripts/check_entry.py sweep committed
# as CORRECTNESS_full_rNN.json. A new query therefore goes into the
# window, rotating a sibling out, unless its family is already there.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # pipeline core: parse -> enrich -> calibrate -> route -> aggregate
    "parse_norm_documents": q_parse_norm_documents,
    "parse_mask_events": q_parse_mask_events,
    "flagship_route": q_flagship_route,
    "enrich_broadcast": q_enrich_broadcast,
    "labels_left_join": q_labels_left_join,
    "conformal_per_user": q_conformal_per_user,
    "fixed_thr_per_user": q_fixed_thr_per_user,
    "exact_percentiles": q_exact_percentiles,
    "tpr_at_fpr": q_tpr_at_fpr,
    "eps_throughput": q_eps_throughput,
    "keep_last_per_user": q_keep_last_per_user,
    "median_collapse": q_median_collapse,
    "categorical_sort": q_categorical_sort,
    "filter_combo": q_filter_combo,
    "salted_counts": q_salted_counts,
    "tpch_q1": q_tpch_q1,
    # kernels (rows-only, golden-pinned)
    "iforest_scores": q_iforest_scores,
    "hash_embed_scores": q_hash_embed_scores,
    "adwin_drift_per_user": q_adwin_drift_per_user,
    "pipeline_summary": q_pipeline_summary,
    "transformer_calibrate": q_transformer_calibrate,
    # dedup / similarity
    "dedup_exact": q_dedup_exact,
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "jaccard_pairs_capped": q_jaccard_pairs_capped,
    "simhash_near_pairs": q_simhash_near_pairs,
    "near_dup_components": q_near_dup_components,
    "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
    "corpus_curation": q_corpus_curation,
    "ann_cosine_topk": q_ann_cosine_topk,
    "semdedup_embeddings": q_semdedup,
    "ivf_topk": q_ivf_topk,
    # text analysis / multimodal
    "lang_id_heuristic": q_lang_id_heuristic,
    "quality_score": q_quality_score,
    "quality_percentile_filter": q_quality_percentile_filter,
    "lm_perplexity": q_lm_perplexity,
    "dsir_select": q_dsir_select,
    "token_count_regex": q_token_count_regex,
    "fingerprint": q_fingerprint,
    "repetition_stats": q_repetition_stats,
    "decontam_hits": q_decontam_hits,
    "multimodal_stub": q_multimodal_stub,
    # sampling / data mixing
    "sample_fraction_det": q_sample_fraction_det,
    "sample_by_stratum": q_sample_by_stratum,
    "token_budget_cap": q_token_budget_cap,
    "token_budget_ranked": q_token_budget_ranked,
    "stratified_sample_k": q_stratified_sample_k,
    "mixing_weights": q_mixing_weights,
    # sessionization / sketches
    "sessionize_events": q_sessionize_events,
    "pack_sequences": q_pack_sequences,
    "approx_percentiles_global": q_approx_percentiles_global,
    # --- position 51+ (past the driver's 50-query cap): redundant
    # --- family siblings only, witnessed by CORRECTNESS_full_rNN.json
    "parse_pandas_udf": q_parse_pandas_udf,  # <-> parse_norm_documents (same oracle SQL)
    "exact_percentiles_global": q_exact_percentiles_global,  # <-> exact_percentiles
    "salted_agg_sums": q_salted_agg_sums,  # <-> salted_counts
    "dedup_keep_min": q_dedup_keep_min,  # <-> dedup_exact
    "embedding_near_dups": q_embedding_near_dups,  # <-> embedding_near_dups_lsh
    # r5: rotated out to make window room for repetition_stats +
    # decontam_hits (new families). In-window siblings:
    # <-> sample_fraction_det (same hash family)
    "hash_split_counts": q_hash_split_counts,
    # <-> lsh_candidate_pairs (banding end-to-end)
    "lsh_band_buckets": q_lsh_band_buckets,
    # r5b: rotated out for mixing_weights + quality_percentile_filter
    # (new families). In-window siblings:
    # <-> lsh_candidate_pairs (minhash end-to-end)
    "minhash_signatures": q_minhash_signatures,
    # <-> ivf_topk (assignment is its first stage)
    "ivf_assign": q_ivf_assign,
    # r5c: rotated out for lm_perplexity (new family). In-window sibling:
    # <-> simhash_near_pairs (signature is its first stage)
    "simhash60": q_simhash60,
    # r5d: rotated out for semdedup_embeddings (new family). In-window sibling:
    # <-> embedding_near_dups_lsh (SRP banding end-to-end)
    "srp_buckets": q_srp_buckets,
    # r5e: rotated out for dsir_select (new family). In-window sibling:
    # <-> jaccard_pairs_capped (same kernel, cap ON)
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    # r5f: rotated out for pack_sequences (new family). In-window sibling:
    # <-> sessionize_events (same module, single-shuffle window plans)
    "tumbling_event_counts": q_tumbling_event_counts,
    # r5g: projection-pushdown sibling of conformal_per_user (same
    # results, same oracle; the variant pins the pruned PLAN)
    "conformal_pruned": q_conformal_per_user,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = dict(_core_oracles())
    out["embedding_near_dups"] = _EMB_DUPS_SQL
    out["ivf_assign"] = _ivf_sql()
    out["srp_buckets"] = _srp_sql()
    out["exact_percentiles_global"] = _PCTL_GLOBAL_SQL
    # at accuracy >= n the sketch is exact; quantile_disc picks the
    # same lower-index element on distinct-valued columns
    out["approx_percentiles_global"] = """
        SELECT quantile_disc(value, 0.50) AS p50,
               quantile_disc(value, 0.95) AS p95,
               quantile_disc(value, 0.99) AS p99
        FROM events
    """
    out["sessionize_events"] = """
        WITH flag AS (
            SELECT user_id, ts,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             <= 43200000000
                        THEN 0 ELSE 1 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_seq
            FROM flag
        )
        SELECT user_id, session_seq,
               count(*) AS n_events,
               min(ts) AS t_first,
               max(ts) AS t_last,
               (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0
                   AS span_seconds
        FROM sess
        GROUP BY user_id, session_seq
    """
    # width=3600s tumbling buckets are hour-aligned for both engines
    # (Spark's F.window origin is the epoch, which is on the hour)
    out["tumbling_event_counts"] = """
        SELECT date_trunc('hour', ts) AS w_start, event_type,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
    """
    out["ivf_topk"] = _ivf_topk_sql()
    out["corpus_curation"] = _corpus_curation_sql()
    out["salted_agg_sums"] = """
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """
    out["dedup_keep_min"] = """
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn = 1
    """
    out["simhash60"] = _simhash_sql()
    out["simhash_near_pairs"] = _simhash_pairs_sql()
    out["lsh_candidate_pairs"] = _lsh_pairs_sql()
    out["jaccard_pairs_capped"] = _jaccard_capped_sql()
    out["embedding_near_dups_lsh"] = _emb_lsh_sql()
    out["near_dup_components"] = _components_sql()
    out["repetition_stats"] = _repetition_sql()
    out["decontam_hits"] = _decontam_sql()
    from log_project_spark.operators.sampling import fraction_threshold

    out["sample_fraction_det"] = f"""
        SELECT doc_id, lang FROM documents
        WHERE {_hash60_sql()} < {fraction_threshold(0.2)}
    """
    out["stratified_sample_k"] = f"""
        SELECT lang, doc_id FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang ORDER BY {_hash60_sql()}, doc_id) AS rn
          FROM documents)
        WHERE rn <= 20
    """
    out["hash_split_counts"] = f"""
        SELECT CASE WHEN {_hash60_sql()} < {fraction_threshold(0.8)}
                    THEN 'train' ELSE 'holdout' END AS side,
               count(*) AS n
        FROM documents GROUP BY 1
    """
    out["sample_by_stratum"] = f"""
        SELECT lang, doc_id FROM documents
        WHERE {_hash60_sql()} <
              CASE lang WHEN 'en' THEN {fraction_threshold(0.1)}
                        WHEN 'zh' THEN {fraction_threshold(1.0)}
                        WHEN 'es' THEN {fraction_threshold(0.5)}
                        ELSE 0 END
    """
    out["token_budget_cap"] = f"""
        SELECT lang, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
                 sum(n_chars) OVER (PARTITION BY lang
                                    ORDER BY {_hash60_sql()}, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        WHERE cum <= 5000
    """
    out["token_budget_ranked"] = f"""
        SELECT lang, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
                 sum(n_chars) OVER (PARTITION BY lang
                                    ORDER BY n_chars DESC, {_hash60_sql()}, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        WHERE cum <= 5000
    """
    out["mixing_weights"] = """
        WITH s AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tokens
                   FROM documents GROUP BY lang),
        t AS (SELECT lang, tokens,
                     CAST(tokens AS DOUBLE) / sum(tokens) OVER () AS p,
                     power(CAST(tokens AS DOUBLE) / sum(tokens) OVER (), 0.3) AS r
              FROM s)
        SELECT lang, tokens, round(p, 6) AS share,
               round(r / sum(r) OVER (), 6) AS weight,
               round((r / sum(r) OVER ()) / p, 6) AS epochs
        FROM t
    """
    out["quality_percentile_filter"] = f"""
        WITH toked AS (SELECT lang, doc_id, {_DUCK_WORD_TOKS} AS toks FROM documents),
        scored AS (
          SELECT lang, doc_id,
                 round(CAST(len(list_filter(toks, x -> list_contains({_DUCK_STOP_LIST}, x))) AS DOUBLE)
                       / greatest(len(toks), 1), 6) AS stop_ratio
          FROM toked),
        ranked AS (
          SELECT lang, doc_id, stop_ratio,
                 row_number() OVER (PARTITION BY lang ORDER BY stop_ratio, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM scored)
        SELECT lang, doc_id, stop_ratio FROM ranked
        WHERE rn >= CAST(floor(0.8 * (n - 1)) AS BIGINT) + 1
    """
    out["lm_perplexity"] = f"""
        WITH toked AS (SELECT doc_id, {_DUCK_WORD_TOKS} AS toks FROM documents),
        uni AS (SELECT doc_id, unnest(toks) AS tok,
                       generate_subscripts(toks, 1) AS pos
                FROM toked),
        raw_uni AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        vocab AS (SELECT tok FROM raw_uni ORDER BY c DESC, tok LIMIT 256),
        big AS (
          SELECT doc_id,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                 tok AS w2
          FROM uni QUALIFY w1 IS NOT NULL),
        vb AS (
          SELECT doc_id,
                 CASE WHEN w1 IN (SELECT tok FROM vocab) THEN w1 ELSE '<unk>' END AS v1,
                 CASE WHEN w2 IN (SELECT tok FROM vocab) THEN w2 ELSE '<unk>' END AS v2
          FROM big),
        c2 AS (SELECT v1, v2, count(*) AS c2 FROM vb GROUP BY v1, v2),
        c1 AS (SELECT v1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY v1),
        vs AS (SELECT count(*) + 1 AS v FROM vocab),
        scored AS (
          SELECT vb.doc_id,
                 log2((c2.c2 + 0.5) / (c1.c1 + 0.5 * vs.v)) AS logp
          FROM vb JOIN c2 USING (v1, v2) JOIN c1 USING (v1) CROSS JOIN vs)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(-avg(logp), 6) AS xent
        FROM scored GROUP BY doc_id
    """
    out["semdedup_embeddings"] = _semdedup_sql()
    out["dsir_select"] = _dsir_sql()
    out["pack_sequences"] = _pack_sql()
    # the same function as conformal_per_user (q_conformal_per_user),
    # registered a second time for its pinned plan
    out["conformal_pruned"] = out["conformal_per_user"]
    return out


