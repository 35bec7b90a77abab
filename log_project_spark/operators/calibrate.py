"""Grouped stateful calibration + drift kernel (SURVEY.md C1-C10).

The reference runs ONE sequential stream with a sliding conformal
calibrator, a fixed-threshold ablation, and an ADWIN drift detector
that resets the calibrator (/root/reference/src/stream.py:335-374,
src/calibration.py:13-53). Spark has no built-in operator for
"rolling exact quantile with reset-on-drift", so this module holds
that event loop once, as `CalibrationState`, and the one transport for
batch per-group kernels, `walk_groups`: a mapInArrow walk over
group-sorted partitions that hands each complete group to a callback.
`calibrate` runs one fresh state per group on it; state is sharded by
`conv_id` (the north-rule contract) or kept global (scope="global",
test/parity mode — a single group degenerates to the reference's
semantics exactly), rows ordered by `turn_idx` inside each group.
Transformer mode (scoring.with_transformer_calibrate) runs on the same
walk: its stateful hash-embed scorer feeds this state inside the one
kernel, so score and calibration share one exchange and one Arrow round
trip. The Structured Streaming kernel (streaming/stream_pipeline.py)
drives the same state object.

Semantics preserved bit-for-bit (see oracle.py for the per-event
statement):
- C1/C2 conformal: the row's own score enters the window BEFORE the
  threshold read; threshold k = max(1, int(round_half_even((1-a)*n)))
  over the sorted window (src/calibration.py:46-53) — NOT Spark's
  interpolating percentile.
- C5 warmup: is_anom = (1-based event count within scope >= warmup)
  AND score > thr (strict >) (src/stream.py:363).
- C6 no-calib: threshold frozen ONCE from the first `warmup` scores
  with the *different* index formula int((1-a)*(n-1))
  (src/stream.py:351-359).
- C7/C3 drift: detector update AFTER the anomaly decision; on drift
  the conformal buffer clears starting with the NEXT row
  (src/stream.py:365-368).

Scale notes: groups are conversations — bounded by turns-per-conv,
not by table size, so a 10^12-row table shards into ~10^8 modest
groups. The kernel is O(n * window) worst case per group via a
bisect-maintained sorted buffer (C-speed memmove); the Arrow exchange
is columnar. Hot conv_ids do not break this operator (state is
inherently sequential per conversation); skew salting applies to the
downstream per-sink aggregates (operators/aggregate.py).
"""

from __future__ import annotations

import bisect
import pickle
import time
from collections import deque
from typing import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..adwin import make_detector
from ..config import PipelineConfig
from .aggregate import lower_index

GLOBAL_KEY = "__scope__"


class CalibrationState:
    """One scope's resumable calibration state: the reference event
    loop (src/stream.py:335-374) as an object that batch, streaming and
    transformer mode all drive through `run`.

    Conformal (C1/C2): `arrivals` is the window in arrival order (the
    eviction order) and `ordered` its sorted view, both since the last
    drift reset. No-calib (C6): `warm` holds the scores until `seen`
    reaches max(warmup, 1), then `frozen` holds the one threshold. A
    drift (C7/C3) clears only the conformal window, never the warm list
    or the frozen threshold (oracle.run_stream)."""

    def __init__(
        self,
        alpha: float,
        window: int,
        warmup: int,
        no_calib: bool,
        drift_kind: str,
        adwin_delta: float,
        sleep_ms: float = 0.0,
    ):
        self.alpha, self.window, self.warmup = alpha, window, warmup
        self.no_calib = no_calib
        # --sleep_ms pacing (src/stream.py:268-270,373-374): simulation
        # only, never set in throughput paths
        self.sleep_ms = sleep_ms
        self.arrivals: deque[float] = deque()
        self.ordered: list[float] = []
        self.warm: list[float] = []
        self.frozen: float | None = None
        self.seen = 0  # 1-based event count in scope (C5)
        self.detector = make_detector(drift_kind, adwin_delta) if drift_kind != "none" else None

    @classmethod
    def from_config(cls, cfg: PipelineConfig) -> "CalibrationState":
        return cls(
            cfg.alpha, cfg.window, cfg.warmup, cfg.calibration == "no_calib",
            cfg.drift_detector, cfg.adwin_delta, cfg.sleep_ms,
        )

    def checkpoint(self) -> tuple[list[float], int, bytes]:
        """The (arrivals, seen, det) row of stream_pipeline.STATE_SCHEMA.
        Under no_calib `arrivals` carries the warm scores until the
        freeze and the single frozen threshold after it."""
        if not self.no_calib:
            arrivals = list(self.arrivals)
        else:
            arrivals = list(self.warm) if self.frozen is None else [self.frozen]
        det = pickle.dumps(self.detector) if self.detector is not None else b""
        return arrivals, self.seen, det

    def restore(self, row) -> None:
        """Inverse of `checkpoint`."""
        arrivals, self.seen, det = row
        self.detector = pickle.loads(bytes(det)) if det else None
        if not self.no_calib:
            self.arrivals = deque(arrivals)
            self.ordered = sorted(arrivals)
        elif self.seen >= max(self.warmup, 1):
            self.frozen = arrivals[0]
        else:
            self.warm = list(arrivals)

    def run(
        self, scores: Iterable[float], n: int, on_drift=None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Feed the next `n` scores in order; returns (thr, is_anom,
        is_drift). `scores` may be a generator: each score is pulled
        only after the previous row's drift reset, so an `on_drift`
        hook (transformer mode's context reset, C10) acts before the
        next row is scored."""
        thr = np.empty(n)
        anom = np.zeros(n, dtype=bool)
        drift = np.zeros(n, dtype=bool)
        alpha, window, warmup = self.alpha, self.window, self.warmup
        no_calib, detector = self.no_calib, self.detector
        arrivals, ordered, warm = self.arrivals, self.ordered, self.warm
        seen, frozen = self.seen, self.frozen
        freeze_at = max(warmup, 1)
        pause = self.sleep_ms / 1000.0
        for i, s in enumerate(scores):
            seen += 1
            if no_calib:
                if frozen is None:
                    warm.append(s)
                    if seen >= freeze_at:
                        # C6 freeze: k = int((1-alpha)*(n-1)) (stream.py:354-357)
                        frozen = float(np.sort(warm)[lower_index(1.0 - alpha, len(warm))])
                        warm.clear()
                t = np.inf if frozen is None else frozen
                anom[i] = frozen is not None and s > t
            else:
                # update BEFORE the threshold read: the row's own score
                # is in its window (C1)
                bisect.insort(ordered, s)
                arrivals.append(s)
                if len(arrivals) > window:
                    del ordered[bisect.bisect_left(ordered, arrivals.popleft())]
                t = ordered[max(1, int(round((1.0 - alpha) * len(ordered)))) - 1]
                anom[i] = seen >= warmup and s > t
            thr[i] = t
            # drift update AFTER the decision; the reset applies from
            # the next row (C7/C3)
            if detector is not None and detector.update(s):
                drift[i] = True
                arrivals.clear()
                ordered.clear()
                if on_drift is not None:
                    on_drift()
            if pause:
                time.sleep(pause)
        self.seen, self.frozen = seen, frozen
        return thr, anom, drift


# the fields calibrate (and transformer mode) attach to every row
CALIBRATED_FIELDS = [
    T.StructField("score", T.DoubleType()),
    T.StructField("thr", T.DoubleType()),
    T.StructField("is_anom", T.BooleanType()),
    T.StructField("is_drift", T.BooleanType()),
]


def walk_groups(
    df: DataFrame,
    group_keys: Iterable[str],
    order_cols: Iterable[str | Column],
    new_fields: list[T.StructField],
    run_group,
    batch_scores=None,
    drop: Iterable[str] = (),
    num_partitions: int | None = None,
    layout: str = "shuffle",
    tally=None,
) -> DataFrame:
    """The one transport for batch per-group kernels: arrange `df` so
    each group's rows are contiguous and ordered by `order_cols` (names
    or sort expressions, e.g. F.desc_nulls_last("sim")), then stream
    the partitions through one mapInArrow walk that calls
    `run_group(group, scores)` once per complete group.

    `group` is the group's rows as a pyarrow RecordBatch, and `scores`
    is its slice of `batch_scores(batch)`, a float64 array computed
    once per incoming Arrow batch (None without `batch_scores`).
    `run_group` returns one array per entry of `new_fields`, each as
    long as the group. The output is every input column except `drop`,
    with each new field at the position of the input column of its name
    or else appended. Passthrough columns — every string column
    included — are zero-copy slices that never become Python objects.
    No group keys means one global group. `tally`, when given, is called
    on the executor with every output batch (e.g. an
    `aggregate.TprTally`), so a run-level count rides the walk.

    Arrangement: layout="shuffle" hash-repartitions by the group keys
    and sorts within partitions by keys + `order_cols`. Without
    `num_partitions` the exchange carries no count, so AQE sizes it by
    shuffle bytes: coalescing merges whole reducer partitions (a group
    is never split) and the sort runs after the coalesced read (groups
    stay contiguous and ordered). Every reducer partition is one Python
    task, and each task pays a fixed setup cost (~0.05 CPU-s of
    process-tree CPU on a 4-vCPU host with `session.get_spark`'s daemon,
    which keeps the archives PySpark's per-task
    `importlib.invalidate_caches()` would re-read off the workers' path)
    that matches the kernel on small inputs, so the count
    follows the data, not spark.sql.shuffle.partitions. An explicit
    `num_partitions` pins exactly that many reducer partitions. Global
    scope is ONE sequential stream (reference parity,
    src/stream.py:313-315), so it gathers into exactly one partition
    (upstream stages stay parallel) instead of hashing a constant key
    over N mostly empty reducers.
    layout="clustered" declares that the input is ALREADY group-
    contiguous and ordered (each group's rows contiguous within one
    input split, sorted by `order_cols`) — the layout a write-
    distributed/sorted Iceberg table gives you — and adds no exchange
    or sort. The walk only needs contiguity (boundaries are key
    changes), so packing several hash-disjoint sorted files into one
    read split stays correct. The caller owns that guarantee; keep input
    files under spark.sql.files.maxPartitionBytes so splits never
    bisect a file.

    Deliberately NOT groupBy().applyInPandas(): conversations are tiny
    (tens of rows), and applyInPandas pays per-GROUP pandas overhead
    (sort, frame assembly) that dwarfs the kernel at millions of
    groups. The walk passes over each sorted partition once, detects
    group boundaries on the raw key arrays, and pays per-BATCH overhead
    instead — one shuffle either way. A group that runs past the end of
    a batch stays open: its pieces are buffered and concatenated once,
    when a later row's key differs, so a group spanning k batches is
    copied once, not O(k^2) times."""
    group_keys, order_cols, drop = list(group_keys), list(order_cols), set(drop)
    keys = group_keys or [GLOBAL_KEY]
    work = df if group_keys else df.withColumn(GLOBAL_KEY, F.lit(0))
    fields = {f.name: f for f in work.schema.fields if f.name not in drop}
    fields.update((f.name, f) for f in new_fields)
    out_schema = T.StructType(list(fields.values()))
    new_types = {f.name: (i, to_arrow_type(f.dataType)) for i, f in enumerate(new_fields)}

    if layout == "clustered":
        arranged = work
    elif not group_keys:
        arranged = work.repartition(1).sortWithinPartitions(*order_cols)
    elif num_partitions is None:
        # no count: AQE coalesces this exchange by shuffle bytes (see
        # docstring); a count would pin it to that many Python tasks
        arranged = work.repartition(*keys).sortWithinPartitions(*keys, *order_cols)
    else:
        arranged = work.repartition(num_partitions, *keys).sortWithinPartitions(
            *keys, *order_cols
        )

    def cut(batch, scores, start, end):
        return batch.slice(start, end - start), None if scores is None else scores[start:end]

    def group_starts(batch, last) -> np.ndarray:
        # rows of `batch` whose key differs from the row before; `last`
        # is the open group's last piece, None when no group is open
        change = np.zeros(batch.num_rows, dtype=bool)
        change[0] = last is None
        for k in keys:
            col = batch.column(k)
            if last is not None:
                col = pa.concat_arrays([last.column(k).slice(last.num_rows - 1), col])
            neq = pc.not_equal(col.slice(1), col.slice(0, len(col) - 1))
            change[len(change) - len(neq):] |= neq.to_numpy(zero_copy_only=False)
        return np.flatnonzero(change)

    def emit(batch, scores, starts) -> pa.RecordBatch:
        bounds = [*map(int, starts), batch.num_rows]
        outs = [run_group(*cut(batch, scores, s, e)) for s, e in zip(bounds, bounds[1:])]
        arrays = []
        for name in out_schema.names:
            if name in new_types:
                i, typ = new_types[name]
                arrays.append(pa.array(np.concatenate([o[i] for o in outs]), type=typ))
            else:
                arrays.append(batch.column(name))
        return pa.RecordBatch.from_arrays(arrays, names=out_schema.names)

    def emit_open(pieces) -> pa.RecordBatch:
        batch = pieces[0][0]
        if len(pieces) > 1:
            batch = pa.Table.from_batches([b for b, _ in pieces]).combine_chunks().to_batches()[0]
        scores = None if pieces[0][1] is None else np.concatenate([s for _, s in pieces])
        return emit(batch, scores, [0])

    def stream_arrow(batches):
        pieces = []  # the open group's rows so far, as (batch, scores)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            scores = None if batch_scores is None else batch_scores(batch)
            starts = group_starts(batch, pieces[-1][0] if pieces else None)
            if len(starts) == 0:  # the whole batch continues the open group
                pieces.append((batch, scores))
                continue
            head, tail = int(starts[0]), int(starts[-1])
            if pieces:
                if head:
                    pieces.append(cut(batch, scores, 0, head))
                yield emit_open(pieces)
            if tail > head:
                yield emit(*cut(batch, scores, head, tail), starts[:-1] - head)
            pieces = [cut(batch, scores, tail, batch.num_rows)]
        if pieces:
            yield emit_open(pieces)

    def stream_tallied(batches):
        for out in stream_arrow(batches):
            tally(out)
            yield out

    walk = stream_arrow if tally is None else stream_tallied
    result = arranged.mapInArrow(walk, schema=out_schema)
    return result if group_keys else result.drop(GLOBAL_KEY)


def calibrate(
    df: DataFrame,
    cfg: PipelineConfig,
    score_col: str = "score",
    order_cols: Iterable[str] = ("turn_idx",),
    group_keys: Iterable[str] | None = None,
    num_partitions: int | None = None,
    batch_score_fn=None,
    batch_score_input: str | None = None,
    layout: str = "shuffle",
    needed_cols: Iterable[str] | None = None,
    tally=None,
) -> DataFrame:
    """Attach (score, thr, is_anom, is_drift) to every row: one fresh
    `CalibrationState` per group, run on `walk_groups` (the one
    grouped-kernel transport; `num_partitions` and `layout` are its
    arrangement, and `tally` its per-output-batch hook). All input
    columns pass through, so no re-join is needed afterwards.
    `group_keys` overrides the cfg scope (e.g. per-user streams on a
    non-transcript table).

    By default (`num_partitions=None`) AQE sizes the per-group exchange
    by its shuffle bytes, so a small input runs as one or a few Python
    tasks instead of spark.sql.shuffle.partitions of them: each Python
    task costs a fixed worker setup that, on small inputs, is as much
    as the kernel itself (walk_groups' docstring has the figures).

    Fused scoring: when `batch_score_fn` is given (a
    list[str] -> np.ndarray batch scorer, e.g. the broadcast iforest
    model), scores are computed INSIDE the same Python pass from
    `batch_score_input` (default 'norm_text'), which is then dropped
    from the output — one Arrow round trip for score+calibrate instead
    of two. Each Arrow batch's distinct texts are scored once (Arrow
    dictionary_encode, C++). Semantics are identical to scoring first
    (the scorer is per-row/stateless).

    Projection pushdown through the UDF boundary: `needed_cols`, when
    given, prunes the input to exactly (group keys + order cols + the
    score input/column + needed_cols) BEFORE the kernel, and the
    output carries only those plus (score, thr, is_anom, is_drift).
    mapInArrow is opaque to Catalyst, so without this the full row rides the Arrow socket JVM->Python->JVM twice (and the
    exchange, in layout="shuffle") even when downstream consumes two
    columns — at 100 TB the dead passthrough bytes, not the kernel,
    are the bottleneck (measured on the sf1 bench: 12 columns shipped,
    2 consumed). Kernel semantics never depend on passthrough columns,
    so results are bit-identical to the full-width run (pytest-pinned).
    Default None keeps full passthrough for callers that persist whole
    rows (fan-out sinks)."""
    order_cols = list(order_cols)
    scope_keys = list(group_keys) if group_keys is not None else cfg.scope_keys()
    input_col = (batch_score_input or "norm_text") if batch_score_fn is not None else None

    if needed_cols is not None:
        # manual projection pushdown (see docstring): keep only what
        # the kernel reads plus what the caller declared downstream
        keep: list[str] = []
        for c in [*scope_keys, *order_cols, input_col or score_col, *needed_cols]:
            if c not in keep:
                keep.append(c)
        missing = [c for c in keep if c not in df.columns]
        if missing:
            raise ValueError(f"needed_cols not in input: {missing}")
        df = df.select(*keep)

    if input_col is not None:
        def batch_scores(batch) -> np.ndarray:
            enc = pc.dictionary_encode(batch.column(input_col))
            uniq = ["" if u is None else u for u in enc.dictionary.to_pylist()]
            idx = enc.indices.to_numpy(zero_copy_only=False)
            return np.asarray(batch_score_fn(uniq), dtype=np.float64)[idx]
    else:
        df = df.withColumn("score", F.col(score_col).cast("double"))

        def batch_scores(batch) -> np.ndarray:
            col = batch.column("score").to_numpy(zero_copy_only=False)
            return col.astype(np.float64, copy=False)

    def run_group(group, scores):
        return scores, *CalibrationState.from_config(cfg).run(scores.tolist(), len(scores))

    return walk_groups(
        df, scope_keys, order_cols, CALIBRATED_FIELDS, run_group,
        batch_scores=batch_scores, drop=[input_col] if input_col else (),
        num_partitions=num_partitions, layout=layout, tally=tally,
    )
