"""The two closed-loop, single-client workloads.

Each workload has ``warm_and_check`` (one untimed pass that fills the
JVM's caches and checks every output against its reference) and
``measure`` (whole passes until the ops have taken the time budget; a
pass that has started is finished, so a budget shorter than a pass
measures exactly one). Every call into the engine goes through
``Tracer.call``, and an op's time is its span's ``seconds``: wall time
less the host's CPU steal. An exception fails that op, is counted, and
the run carries on.

Workloads:

* ``medallion_pipeline`` — the paper's flow, one pass per iteration:
  bronze ingest into an ``AcidTable`` (appends, CDC MERGEs, a retention
  delete, an update, a compaction, a snapshot read after every write,
  one streaming CDC apply), then the batch DAG in fixed order — silver
  grid/fill, gold features, ML-prep split — each step forced through
  the noop sink. The only workload that runs ``sources.acid``,
  ``streaming``, ``plans.silver``, ``plans.features`` and
  ``plans.mlprep_plans``.
* ``analyst_queries`` — one client issuing an ad-hoc EDA mix, each
  query timed from its builder call to completion. The mix is a fixed
  multiset; the seed shuffles its order on every pass. Interleaving
  twelve different plans overflows the JVM's generated-class cache, so
  every query pays plan build and code generation; it touches none of
  the pipeline's layers.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import check, datagen
from perfbench import ledger
from perfbench.ledger import Tracer

PIPELINE = (
    ("plans.silver", "g01_grid_fill_hourly"),
    ("plans.silver", "g02_trading_day_grid"),
    ("plans.features", "a01_ordered_ohlcv_rollup"),
    ("plans.features", "f20_gold_matrix"),
    ("plans.features", "w04_lag_ladder"),
    ("plans.mlprep_plans", "ml02_onehot_label"),
    ("plans.mlprep_plans", "ml04_median_impute"),
    ("plans.mlprep_plans", "ml19_purged_kfold"),
)
ANALYST_MIX = (
    "q1_pricing_summary", "j01_equi_inner_join", "j05_interval_tag_join",
    "o04_topk", "j12_asof_join", "w08_rolling_median",
    "a11_quality_invariants", "t02_quality_score", "d01_exact_dedup",
    "d03_minhash_lsh_pairs", "sim01_bruteforce_topk", "sim04_ivf_ann_topk",
)
STREAM_QUERY = "st21_stream_cdc_apply"
_PKG = "equity_volatility_lakehouse_platform_spark."


@dataclass
class Context:
    spark: object
    tracer: Tracer
    input_dir: str
    work_dir: str
    seed: int
    seconds: float
    tiny: bool
    queries: dict
    oracles: dict


@dataclass
class Outcome:
    """What a workload hands back: per-op samples (``inf`` = failed op),
    check failures, and workload-specific figures."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)
    measure_s: float = 0.0
    cpu_s: float = 0.0
    pass_total: float = 0.0

    def record(self, key: str, seconds: float | None) -> None:
        x = math.inf if seconds is None else seconds
        self.samples.setdefault(key, []).append(x)
        self.pass_total += x
        self.attempted += 1
        if seconds is None:
            self.failed += 1


def _run_passes(ctx: Context, out: Outcome, one_pass) -> None:
    """Closed loop: whole passes until the passes' times add up to
    ``ctx.seconds``. A pass's time is the sum of its ops' latencies
    (``inf`` if any op failed), so the benchmark's own input generation
    is not counted. The budget is counted in op time, not wall time, so
    that host steal cannot change how many passes a run measures."""
    cpu0, t0 = ledger.cpu_s(os.getpid()), time.perf_counter()
    while True:
        ctx.tracer.pass_no += 1
        out.pass_total = 0.0
        one_pass()
        out.samples.setdefault("pass", []).append(out.pass_total)
        if ctx.tiny or sum(out.samples["pass"]) >= ctx.seconds:
            break
    out.measure_s = time.perf_counter() - t0
    out.cpu_s = ledger.cpu_s(os.getpid()) - cpu0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(ctx: Context, layer: str, name: str, phase: str, fn, *args):
    """(result, seconds) of one traced call, or (None, None) if it raised."""
    try:
        out = ctx.tracer.call(layer, name, phase, fn, *args)
    except Exception:  # an op failure is counted, never fatal
        traceback.print_exc(file=sys.stderr)
        return None, None
    return out, ctx.tracer.spans[-1].seconds


def _build_and_run(ctx: Context, layer: str, name: str) -> float | None:
    """Build query ``name`` then force it through the noop sink; the
    latency of the two together."""
    df, b = _timed(ctx, layer, name, "measure:build", ctx.queries[name], ctx.spark, ctx.input_dir)
    if b is None:
        return None
    _, e = _timed(ctx, layer, name, "measure", _noop, df)
    return None if e is None else b + e


def _check_query(ctx: Context, layer: str, name: str, out: Outcome, con) -> None:
    """Run ``name`` to the driver and compare with its DuckDB oracle."""
    def collect():
        return ctx.queries[name](ctx.spark, ctx.input_dir).toPandas()

    frame, _ = _timed(ctx, layer, name, "check", collect)
    if frame is None:
        out.mismatches.append(f"{name}: raised")
    elif check.digest(frame) != check.oracle_digest(con, ctx.oracles[name]):
        out.mismatches.append(f"{name}: output differs from its DuckDB oracle")


def _layer_of(ctx: Context, name: str) -> str:
    return ctx.queries[name].__module__.removeprefix(_PKG)


# --------------------------------------------------------------- pipeline --
class MedallionPipeline:
    name = "medallion_pipeline"

    def __init__(self):
        self.bronze = BronzeIngest()

    def warm_and_check(self, ctx: Context, out: Outcome) -> None:
        con = check.duck_connection(ctx.input_dir)
        try:
            self.bronze.setup_and_check(ctx, out, con)
            for layer, q in PIPELINE:
                _check_query(ctx, layer, q, out, con)
        finally:
            con.close()

    def _pass(self, ctx: Context, out: Outcome) -> None:
        self.bronze.cycle(ctx, out)
        for layer, q in PIPELINE:
            out.record("step", _build_and_run(ctx, layer, q))

    def measure(self, ctx: Context, out: Outcome) -> None:
        bronze0 = self.bronze.totals()
        _run_passes(ctx, out, lambda: self._pass(ctx, out))
        out.extra.update(self.bronze.figures(bronze0))
        self.bronze.final_check(ctx, out)


# --------------------------------------------------------------- analyst --
class AnalystQueries:
    name = "analyst_queries"

    def warm_and_check(self, ctx: Context, out: Outcome) -> None:
        con = check.duck_connection(ctx.input_dir)
        try:
            for q in ANALYST_MIX:
                _check_query(ctx, _layer_of(ctx, q), q, out, con)
        finally:
            con.close()

    def measure(self, ctx: Context, out: Outcome) -> None:
        rng = np.random.default_rng([ctx.seed, 1])

        def one_pass():
            for q in rng.permutation(ANALYST_MIX):
                out.record("query", _build_and_run(ctx, _layer_of(ctx, q), q))

        _run_passes(ctx, out, one_pass)


# ---------------------------------------------------------------- bronze --
class BronzeIngest:
    """The pipeline's bronze stage: one ``AcidTable`` seeded from the
    events table, then per pass: append, merge_upsert, merge_full with
    tombstones, delete_where (retention: drop the oldest keys, as many
    as appended), update_where and compact, each followed by a snapshot
    read, then one streaming CDC apply over the input dir. MERGE keys
    skew toward recent event ids, as a CDC feed's do. Appends and the
    retention delete balance, so the table size, and with it the bytes
    each pass rewrites, stays level."""

    ACID = "sources.acid"
    STREAM = "streaming.events_stream"

    def setup_and_check(self, ctx: Context, out: Outcome, con) -> None:
        from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable
        from equity_volatility_lakehouse_platform_spark.sources.readers import load_table
        from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
            run_cdc_apply_stream,
        )

        self.spark = ctx.spark
        scale = datagen.TINY if ctx.tiny else datagen.FULL
        self.batch_rows = max(scale.events // 50, 20)
        self.users = scale.users
        self.next_id = scale.events
        self.low_id = 0
        self.cycle_no = 0
        self.batch_bytes = 0
        self.batch_dir = os.path.join(ctx.input_dir, "ingest")
        os.makedirs(self.batch_dir)
        self.root = os.path.join(ctx.work_dir, "acid_table")
        self.table = AcidTable(ctx.spark, self.root)
        ctx.tracer.call(
            self.ACID, "overwrite", "setup",
            lambda: self.table.overwrite(load_table(ctx.spark, ctx.input_dir, "events")),
        )
        self.replay = check.IngestReplay(os.path.join(ctx.input_dir, "events.parquet"))

        frame, _ = _timed(ctx, self.STREAM, "run_cdc_apply_stream", "check",
                          lambda: run_cdc_apply_stream(ctx.spark, ctx.input_dir).toPandas())
        if frame is None or check.digest(frame) != check.oracle_digest(con, ctx.oracles[STREAM_QUERY]):
            out.mismatches.append(f"{STREAM_QUERY}: output differs from its DuckDB oracle")

    def _batch(self, kind: str, table, apply) -> tuple[str, object]:
        """Land ``table`` as a batch file; returns its path and a call
        that reads the batch through the engine's reader and passes it
        to ``apply``."""
        from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

        name = f"c{self.cycle_no:04d}_{kind}"
        path = os.path.join(self.batch_dir, f"{name}.parquet")
        datagen.write_parquet(table, path)
        self.batch_bytes += os.path.getsize(path)
        return path, lambda: apply(load_table(self.spark, self.batch_dir, name))

    def _skewed_keys(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """Distinct ids biased toward the newest; about a tenth fall past
        the newest id and insert."""
        back = np.floor(rng.exponential(self.batch_rows * 4, 3 * n)).astype(np.int64)
        keys = self.next_id + n // 10 - 1 - back
        return np.unique(keys[keys >= self.low_id])[:n]

    def _events(self, rng: np.random.Generator, ids: np.ndarray):
        t = datagen.events_table(rng, len(ids), self.users)
        return t.set_column(0, "event_id", datagen.pa.array(ids, datagen.pa.int64()))

    def cycle(self, ctx: Context, out: Outcome) -> None:
        from pyspark.sql import functions as F

        from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
            run_cdc_apply_stream,
        )

        rng = np.random.default_rng([ctx.seed, 2, self.cycle_no])
        n = self.batch_rows
        ops = []  # (layer op name, call, replay op)

        new = datagen.events_table(rng, n, self.users, first_id=self.next_id)
        path, call = self._batch("append", new, self.table.append)
        ops.append(("append", call, ("append", path)))
        self.next_id += n

        upsert = self._events(rng, self._skewed_keys(rng, n))
        path, call = self._batch("upsert", upsert, lambda d: self.table.merge_upsert(d, ["event_id"]))
        ops.append(("merge", call, ("merge", path, False)))

        tomb = self._events(rng, self._skewed_keys(rng, n))
        tomb = tomb.append_column("_tombstone", datagen.pa.array(rng.random(len(tomb)) < 0.3))
        path, call = self._batch(
            "cdc", tomb,
            lambda d: self.table.merge_full(d, ["event_id"], tombstone_col="_tombstone"),
        )
        ops.append(("merge", call, ("merge", path, True)))

        self.low_id += n
        cond = f"event_id < {self.low_id}"
        ops.append(("delete_update", lambda c=cond: self.table.delete_where(F.expr(c)), ("delete", cond)))

        cond = f"user_id = {int(rng.integers(0, self.users))} AND event_type = 'view'"
        ops.append((
            "delete_update",
            lambda c=cond: self.table.update_where(F.expr(c), {"value": F.expr("value + 1.0")}),
            ("update", cond, "value = value + 1.0"),
        ))
        ops.append(("compact", self.table.compact, None))

        for kind, fn, replay_op in ops:
            _, s = _timed(ctx, self.ACID, kind, "measure", fn)
            out.record("compact" if kind == "compact" else "write", s)
            if s is not None and replay_op is not None:
                self._replay(replay_op)
            _, r = _timed(ctx, self.ACID, "read", "measure", lambda: _noop(self.table.read()))
            out.record("read", r)
        _, s = _timed(ctx, self.STREAM, "run_cdc_apply_stream", "measure",
                      run_cdc_apply_stream, ctx.spark, ctx.input_dir)
        out.record("stream", s)
        self.cycle_no += 1

    def _replay(self, op: tuple) -> None:
        kind, *args = op
        {
            "append": self.replay.append,
            "merge": self.replay.merge,
            "delete": self.replay.delete_where,
            "update": self.replay.update_where,
        }[kind](*args)

    def totals(self) -> tuple[int, int]:
        """(bytes under the table root, bytes of input batches) so far."""
        table_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.root)
            for f in files
        )
        return table_bytes, self.batch_bytes

    def figures(self, since: tuple[int, int]) -> dict[str, float]:
        """Space figures of the passes since ``totals()`` returned ``since``."""
        table_bytes, batch_bytes = self.totals()
        written = table_bytes - since[0]
        return {
            "write_amp": written / (batch_bytes - since[1]),
            "bytes_written_mb": written / 2**20,
            "versions": self.table.latest_version() + 1,
            "files_live": len(self.table.read().inputFiles()),
        }

    def final_check(self, ctx: Context, out: Outcome) -> None:
        """Final snapshot against the DuckDB replay of the op log."""
        frame, _ = _timed(ctx, self.ACID, "read", "check", lambda: self.table.read().toPandas())
        if frame is None or check.digest(frame) != self.replay.snapshot_digest():
            out.mismatches.append("bronze: final AcidTable snapshot differs from the DuckDB replay")
        self.replay.close()


WORKLOADS = {w.name: w for w in (MedallionPipeline, AnalystQueries)}
