"""Deterministic synthetic fixtures (FIXTURES.md).

Two generators:

1. `reference_corpus(n, anom_ratio, seed)` — driver-side, reproducing
   the reference's synthetic corpus semantics exactly
   (/root/reference/scripts/make_synth.py:26-53): k = int(n*ratio)
   anomalies drawn from 4 anomaly templates, n-k normals from 4 normal
   templates, seeded choice then a seeded shuffle. Used by pytest for
   bit-exact kernel comparisons against the pure-Python oracle.

2. `transcripts(spark, ...)` — fully distributed (spark.range +
   Catalyst expressions only, no driver loop, no Python UDF), producing
   the (conv_id, turn_idx, role, text, tool, ts, label) table of
   BASELINE.json's input_hint at any scale. Raw log-style text lines
   (like /root/reference/data/raw/mini.log) whose masked token streams
   reproduce the reference template token sequences. Exact anomaly
   count k = int(n*ratio) via a modular bijection (i -> i*a mod n with
   gcd(a, n) = 1: a permutation of [0, n), so `pos < k` marks exactly k
   rows). Zipf-ish skew: `hot_frac` of all rows concentrated on
   `n_hot_convs` conversations to exercise salting.

At 10^12-row scale the same expressions hold; the bijection multiply
would need 128-bit math (or a Feistel round) — noted here, irrelevant
below 10^9 rows.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

# Reference template pools (make_synth.py:6-18). The masked-token
# sequences of our concrete lines equal tok(template) for these.
NORMAL_TEMPLATES = [
    "serviceA INFO user <num> connected from <hex>",
    "serviceB WARN disk <num> nearing capacity",
    "serviceC ERROR timeout after <num> ms",
    "auth INFO login user <num> from <ip>",
]
ANOMALY_TEMPLATES = [
    "serviceC ERROR kernel panic code <hex>",
    "serviceB CRITICAL RAID failure device <num>",
    "serviceA ALERT unauthorized root access from <hex>",
    "auth ALERT brute force attempt from <ip>",
]

BASE_TS = "2025-08-19 10:00:00"

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "browser", "python", "bash", "calculator", "sql", "editor", "mailer"]


def reference_corpus(
    n: int, anom_ratio: float = 0.03, seed: int = 20250819
) -> tuple[list[list[str]], list[int]]:
    """Reference-identical synthetic corpus: (token_seqs, labels).

    Semantics of make_synth.py:26-53 — exact anomaly count, seeded
    template choice, seeded index shuffle.
    """
    if n <= 0:
        return [], []
    ratio = min(1.0, max(0.0, anom_ratio))
    k = int(n * ratio)
    rng = random.Random(seed)
    seqs = [rng.choice(NORMAL_TEMPLATES).lower().strip().split() for _ in range(n - k)]
    seqs += [rng.choice(ANOMALY_TEMPLATES).lower().strip().split() for _ in range(k)]
    labels = [0] * (n - k) + [1] * k
    order = list(range(n))
    rng.shuffle(order)
    return [seqs[i] for i in order], [labels[i] for i in order]


def _coprime_multiplier(n: int, seed: int) -> int:
    """Odd multiplier coprime to n (driver-side gcd walk)."""
    a = (2654435761 ^ (seed * 0x9E3779B9)) % max(n, 3)
    a |= 1
    while math.gcd(a, n) != 1:
        a += 2
    return a


def transcripts(
    spark: SparkSession,
    n_turns: int,
    n_convs: int = 1000,
    anom_ratio: float = 0.03,
    seed: int = 20250819,
    hot_frac: float = 0.10,
    n_hot_convs: int = 4,
    partitions: int | None = None,
    drift_convs_mod: int = 0,
    drift_from: int = 0,
) -> DataFrame:
    """Distributed transcripts table: (conv_id, turn_idx, role, text,
    tool, ts, label). label=1 on exactly int(n*ratio) rows.

    Layout: the first `hot_frac` of row-ids round-robin over
    `n_hot_convs` hot conversations (skew), the rest round-robin over
    `n_convs` normal ones — (conv_id, turn_idx) is dense and unique by
    construction.

    Drift injection (`drift_convs_mod` > 0): conversations where
    hash(conv_id) % mod == 0 switch their TEXT to the anomaly template
    pool from `drift_from` onward — a persistent distribution shift
    that drives the scorer mean up so ADWIN fires. Labels are NOT
    changed (the exact-count invariant stays); this knob exists so
    benches can exercise non-empty anomalous AND drifting sinks
    deterministically (VERDICT r1 #8)."""
    n = int(n_turns)
    if n <= 0:
        raise ValueError("n_turns must be positive")
    k_anom = int(n * min(1.0, max(0.0, anom_ratio)))
    a = _coprime_multiplier(n, seed)
    hot_rows = int(n * hot_frac)
    n_hot_convs = max(1, min(n_hot_convs, max(hot_rows, 1)))

    df = spark.range(0, n, 1, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    # permutation position -> exact anomaly marking + template pick
    pos = (i * F.lit(a)) % F.lit(n)
    is_anom = pos < F.lit(k_anom)
    tmpl_idx = F.pmod(pos, F.lit(4))

    # conversation assignment (hot block first, then round-robin)
    in_hot = i < F.lit(hot_rows)
    conv_id = F.when(
        in_hot, F.concat(F.lit("hot"), F.lpad((i % n_hot_convs).cast("string"), 4, "0"))
    ).otherwise(
        F.concat(
            F.lit("conv"),
            F.lpad(((i - hot_rows) % n_convs).cast("string"), 8, "0"),
        )
    )
    turn_idx = (
        F.when(in_hot, (i / n_hot_convs).cast("long"))
        .otherwise(((i - hot_rows) / n_convs).cast("long"))
        .cast("int")
    )

    # concrete slot values, deterministic functions of the row id
    num_val = F.pmod(i * 7 + 13, F.lit(100000)).cast("string")
    hex_val = F.concat(F.lit("0x"), F.lower(F.hex(F.pmod(i * 2654435761 + 97, F.lit(1 << 32)))))
    ip_val = F.concat_ws(
        ".",
        F.lit("10"),
        F.pmod(i, F.lit(256)).cast("string"),
        F.pmod(i / 256, F.lit(256)).cast("int").cast("string"),
        F.pmod(i * 31 + 7, F.lit(254)).cast("string"),
    )

    normal_body = (
        F.when(tmpl_idx == 0, F.concat(F.lit("serviceA INFO user "), num_val, F.lit(" connected from "), hex_val))
        .when(tmpl_idx == 1, F.concat(F.lit("serviceB WARN disk "), num_val, F.lit(" nearing capacity")))
        .when(tmpl_idx == 2, F.concat(F.lit("serviceC ERROR timeout after "), num_val, F.lit(" ms")))
        .otherwise(F.concat(F.lit("auth INFO login user "), num_val, F.lit(" from "), ip_val))
    )
    anom_body = (
        F.when(tmpl_idx == 0, F.concat(F.lit("serviceC ERROR kernel panic code "), hex_val))
        .when(tmpl_idx == 1, F.concat(F.lit("serviceB CRITICAL RAID failure device "), num_val))
        .when(tmpl_idx == 2, F.concat(F.lit("serviceA ALERT unauthorized root access from "), hex_val))
        .otherwise(F.concat(F.lit("auth ALERT brute force attempt from "), ip_val))
    )
    body = F.when(is_anom, anom_body).otherwise(normal_body)
    if drift_convs_mod > 0:
        drifted = (F.pmod(F.xxhash64(conv_id), F.lit(drift_convs_mod)) == 0) & (
            turn_idx >= F.lit(drift_from)
        )
        body = F.when(drifted, anom_body).otherwise(body)

    # timestamps: per-conv monotone in turn_idx, deterministic
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS), "yyyy-MM-dd HH:mm:ss")
        + turn_idx * 7
        + F.pmod(F.xxhash64(conv_id), F.lit(5))
    )
    text = F.concat(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"), F.lit(" "), body)

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), (F.pmod(pos * 13 + i, F.lit(4)) + 1).cast("int")
    )
    tool = F.when(
        role == "tool",
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), (F.pmod(i, F.lit(8)) + 1).cast("int")),
    ).otherwise(F.lit("NA"))

    return df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
        is_anom.cast("int").alias("label"),
    )


def labels_of(transcripts_df: DataFrame) -> DataFrame:
    """Ground-truth labels table (FIXTURES.md §2)."""
    return transcripts_df.select("conv_id", "turn_idx", "label")


def role_dim(spark: SparkSession) -> DataFrame:
    """Role lookup table for the broadcast enrich join. Built with
    `session.local_frame` so it plans as a `LocalTableScan`: a
    `createDataFrame(list)` PythonRDD would run Python-worker tasks on
    every broadcast of it."""
    rows = [
        ("user", "human", 0),
        ("assistant", "model", 1),
        ("tool", "automation", 1),
        ("system", "control", 1),
    ]
    return local_frame(spark, rows, "role string, role_group string, is_automated int")


def tool_dim(spark: SparkSession) -> DataFrame:
    """Tool lookup table for the broadcast enrich join; a
    `LocalTableScan` for the same reason as `role_dim`."""
    rows = [
        ("search", "retrieval", 1),
        ("browser", "retrieval", 2),
        ("python", "execution", 3),
        ("bash", "execution", 3),
        ("calculator", "compute", 1),
        ("sql", "data", 2),
        ("editor", "workspace", 2),
        ("mailer", "external", 3),
        ("NA", "none", 0),
    ]
    return local_frame(spark, rows, "tool string, tool_family string, risk_tier int")
