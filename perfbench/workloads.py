"""The workloads. Each is a closed loop in one driver thread: the next
operation starts when the previous one has returned.

A workload function gets a :class:`Ctx` whose session is already set up and
returns a :class:`Result`: the wall seconds of every measured operation,
its per-layer numbers (most of them only when tracing) and the output check
errors. Checks run after the timed region.

- ``pit_tokens``: ``feature_pipeline(seq, ref)`` sunk to noop. When traced,
  each pipeline operator is also run alone, and one checkpoint cycle
  (commit, crash, abort, resume, verify) writes the same pipeline output
  through ``sources.checkpoint``.
- ``registry_mix``: one pass over registry queries, build and exec timed
  apart; exactly one pass is measured, the first in a fresh session.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

import checks
import gen
from tracing import STAGE_FIELDS, Tracer, cpu_between, job_ids, stage_counters, thread_cpu

from audio_feature_extraction_spark.oracle import ASOF_TOL_SEC, GAP_SEC, ROLL_WINDOW

# input sizes, chosen so one run fits the time budget of a 4-core host
PIT_DOCS = 6_000  # ~45k rows, ~2.2M tokens
# untimed pipeline passes before measuring: the JIT takes about ten to
# settle on a 4-core host, and a run cannot afford more
PIT_WARMUP = 8
ORACLE_DOCS = 40  # docs compared against oracle.oracle_features
REG_DOCS, REG_EVENTS = 500, 10_000  # the sf0.01 sizes
CKPT_SLICES, CKPT_COMMITTED = 4, 2  # doc-hash slices; slices committed pre-crash
KEY = ["doc_id", "seq"]
OUT_COLS = ["doc_id", "seq", "ts", "session_id", "feature_vector", "tokens"]

# ann_auto_topk, session_overlap, ann_topk_arrow, doc_repetition,
# dedup_minhash_lsh and packed_sequences are left out: together they add
# ~23 s to the first (cold) pass on a 4-core host, more than a run affords.
REGISTRY_MIX = [
    # iterative builders
    "bpe_merges", "dedup_clusters",
    # Arrow / pandas kernels
    "dtw_band_cost", "media_features",
    # JVM-heavy, shares operators.asof with the pipeline
    "asof_range_merge",
]
PY_KERNELS = ("dtw_band_cost", "media_features")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    data_dir: str
    work_dir: str
    tracer: Tracer
    fingerprint: dict = field(default_factory=dict)
    host: list = field(default_factory=list)
    rss: object = None  # tracing.RssSampler, frozen when measuring ends
    phases: dict = field(default_factory=dict)  # wall seconds per run phase
    op_cpu: list = field(default_factory=list)  # CPU seconds per measured op

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def call(self, layer: str, group: str, fn, *args):
        """``fn(*args)`` inside span ``layer``; when tracing, its Spark jobs
        run under job group ``group`` and no other job does."""
        if not self.traced:
            return fn(*args)
        sc = self.spark.sparkContext
        with self.tracer.span(layer):
            sc.setJobGroup(group, layer)
            try:
                return fn(*args)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class Result:
    times: list[float]  # wall seconds of each measured operation
    layers: dict[str, float]
    errors: list[str]
    attempted: int
    failed: int


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure(ctx: Ctx, op, warmup: int = 0, seconds: float | None = None) -> None:
    """Run ``op(i)`` ``warmup`` times untimed (negative ``i``), then for
    ``seconds`` (default ``ctx.seconds``) and at least once, so ``seconds=0``
    measures exactly one repetition. Each measured repetition records its
    CPU seconds and the host condition; the host condition never drops or
    retries a sample."""
    from tools.hostcond import HostWindow

    t0 = time.perf_counter()
    for i in range(warmup):
        op(-1 - i)
    ctx.phases["warmup_s"] = time.perf_counter() - t0
    n = 0
    t0 = time.perf_counter()
    deadline = t0 + (ctx.seconds if seconds is None else seconds)
    while not n or time.perf_counter() < deadline:
        hw = HostWindow().start()
        c0 = thread_cpu()
        op(n)
        ctx.op_cpu.append(cpu_between(c0, thread_cpu()))
        ctx.host.append(hw.stop())
        n += 1
    ctx.phases["measure_s"] = time.perf_counter() - t0
    if ctx.rss is not None:
        ctx.rss.freeze()


def _content(df, cols) -> dict:
    """Row count and order-independent xxhash64 sum over ``cols``."""
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    ).collect()[0]
    return {"rows": int(r["rows"]), "hash": int(r["hash"] or 0)}


def _stages(ctx: Ctx, prefix: str, groups_per_op: list[list[str]]) -> dict:
    """Median over operations of the summed stage counters of each
    operation's job groups."""
    per_op = [stage_counters(ctx.spark, gs) for gs in groups_per_op]
    return {f"{prefix}.{k}": median([c[k] for c in per_op]) for k in STAGE_FIELDS}


# ------------------------------------------------------------------ inputs


def sequence_inputs(ctx: Ctx) -> list[str]:
    ctx.fingerprint = gen.write_sequences(ctx.seed, PIT_DOCS, ctx.data_dir)
    return [os.path.join(ctx.data_dir, f"{t}.parquet") for t in gen.SEQ_TABLES]


def registry_inputs(ctx: Ctx) -> list[str]:
    ctx.fingerprint = gen.write_registry(ctx.seed, REG_DOCS, REG_EVENTS, ctx.data_dir)
    return [os.path.join(ctx.data_dir, f"{t}.parquet") for t in gen.REG_TABLES]


def _read_seq(ctx: Ctx):
    return [
        ctx.spark.read.parquet(os.path.join(ctx.data_dir, f"{t}.parquet"))
        for t in gen.SEQ_TABLES
    ]


# ------------------------------------------------------------------ pit_tokens


def pit_tokens(ctx: Ctx):
    """``feature_pipeline(seq, ref)`` sunk to noop."""
    from audio_feature_extraction_spark.plans.pipeline import feature_pipeline

    seq, ref = _read_seq(ctx)
    times, groups = [], []

    def op(i: int) -> None:
        b, e = f"plans.pipeline.build#{i}", f"plans.pipeline.exec#{i}"
        t0 = time.perf_counter()
        with ctx.tracer.span("plans.pipeline"):
            out = ctx.call("plans.pipeline.build", b, feature_pipeline, seq, ref)
            ctx.call("plans.pipeline.exec", e, noop, out)
        if i >= 0:
            times.append(time.perf_counter() - t0)
            groups.append([b, e])

    measure(ctx, op, warmup=PIT_WARMUP)
    layers = {"pit_tokens_per_s": ctx.fingerprint["tokens"] / median(times)}
    errs = _pipeline_checks(ctx, seq, ref, feature_pipeline(seq, ref))
    if ctx.traced:
        t = ctx.tracer
        layers["plans.pipeline.build_s"] = median(
            [s.duration for s in t.by_name("plans.pipeline.build")][-len(times):]
        )
        layers["plans.pipeline.exec_s"] = median(
            [s.duration for s in t.by_name("plans.pipeline.exec")][-len(times):]
        )
        layers.update(_stages(ctx, "plans.pipeline", groups))
        layers.update(_operator_layers(ctx, seq, ref))
        ckpt_layers, ckpt_errs = _checkpoint_cycle(ctx, seq, ref)
        layers.update(ckpt_layers)
        errs += ckpt_errs
    return Result(times, layers, errs, len(times), len(times) if errs else 0)


def _pipeline_checks(ctx: Ctx, seq, ref, out) -> list[str]:
    """Totals, lag bounds and an oracle sample for one pipeline output."""
    from audio_feature_extraction_spark.oracle import oracle_features

    cols = ["doc_id", "seq", "tokens"]
    errs = checks.check_totals(
        "pipeline output vs input", _content(seq, cols), _content(out, cols)
    )
    lag = F.col("feature_vector")[checks.LAG_SLOT]
    errs += checks.check_lags(
        out.select(lag.alias("lag")).toPandas()["lag"].to_numpy(), ASOF_TOL_SEC
    )
    pick = np.random.default_rng([ctx.seed, 3]).choice(
        ctx.fingerprint["docs"], ORACLE_DOCS, replace=False
    )
    ids = F.col("doc_id").isin([f"doc{i:08d}" for i in sorted(pick)])
    want = oracle_features(seq.where(ids).toPandas(), ref.where(ids).toPandas())
    return errs + checks.check_features(out.where(ids).toPandas(), want)


def _operator_layers(ctx: Ctx, seq, ref, reps: int = 3) -> dict:
    """Each pipeline operator called alone on the pipeline input, sunk to
    noop; ``scan`` is the input alone, the floor."""
    from audio_feature_extraction_spark.operators import windows as W
    from audio_feature_extraction_spark.operators.asof import asof_join
    from audio_feature_extraction_spark.operators.backfill import locf
    from audio_feature_extraction_spark.operators.sessionize import with_session_id

    w = Window.partitionBy("doc_id").orderBy("ts", "seq")
    calls = {
        "operators.scan": lambda: seq,
        "operators.asof.asof_join": lambda: asof_join(
            seq, ref, on=["source", "doc_id"], left_ts="ts",
            tolerance_sec=ASOF_TOL_SEC, direction="backward",
            strategy="window", cluster_on=["doc_id"],
        ),
        "operators.backfill.locf": lambda: seq.withColumn(
            "v_filled", locf("value", w, default=0.0)
        ),
        "operators.windows.features": lambda: seq.select(
            "*",
            W.delta1("value", w).alias("delta1"),
            W.delta_trailing("value", w, half=4).alias("delta9"),
            W.rolling_mean("value", w, ROLL_WINDOW).alias("roll_mean"),
            W.rolling_std_pop("value", w, ROLL_WINDOW).alias("roll_std"),
            W.running_sum(F.col("n_tok").cast("long"), w).alias("cum_tokens"),
        ),
        "operators.sessionize.with_session_id": lambda: with_session_id(
            seq, keys=["doc_id"], ts="ts", order=["ts", "seq"], gap_sec=GAP_SEC
        ),
    }
    out = {}
    for name, build in calls.items():
        times = []
        for r in range(reps):
            t0 = time.perf_counter()
            ctx.call(name, f"{name}#{r}", lambda: noop(build()))
            times.append(time.perf_counter() - t0)
        out[f"{name}_s"] = median(times)
    return out


# ------------------------------------------------------------------ checkpoint


def _checkpoint_cycle(ctx: Ctx, seq, ref) -> tuple[dict, list[str]]:
    """Commit half the doc-hash slices of the pipeline output, crash, abort
    the uncommitted snapshot, resume and verify; then check the table."""
    from audio_feature_extraction_spark.plans.pipeline import feature_pipeline
    from audio_feature_extraction_spark.sources.checkpoint import CheckpointTable

    L = "sources.checkpoint"
    slice_of = F.pmod(F.xxhash64("doc_id"), F.lit(CKPT_SLICES))
    tbl = CheckpointTable(os.path.join(ctx.work_dir, "ckpt"))
    out = feature_pipeline(seq, ref)
    groups = []
    t0 = time.perf_counter()
    for s in range(CKPT_COMMITTED):
        groups.append(f"{L}.write_snapshot#{s}")
        ctx.call(f"{L}.write_snapshot", groups[-1], tbl.write_snapshot,
                 out.where(slice_of == s), KEY, None, "ts")
    t1 = time.perf_counter()

    # a crash mid-write: the next snapshot's data without its manifest
    crash = os.path.join(tbl.data_dir, f"snapshot_id={tbl.next_snapshot_id()}")
    ctx.call("perfbench.crash", "perfbench.crash",
             out.where(slice_of == CKPT_COMMITTED).write.parquet, crash)

    t2 = time.perf_counter()
    aborted = ctx.call(f"{L}.abort_uncommitted", f"{L}.abort", tbl.abort_uncommitted)
    t3 = time.perf_counter()
    resume_sid = ctx.call(
        f"{L}.resume_write", f"{L}.resume_write",
        lambda: tbl.write_snapshot(tbl.remaining(out, KEY), KEY, None, "ts"),
    )
    t4 = time.perf_counter()
    verify_rows = ctx.call(f"{L}.verify", f"{L}.verify",
                           lambda: tbl.verify(ctx.spark, KEY).count())
    t5 = time.perf_counter()

    snaps = (
        tbl.read(ctx.spark)
        .groupBy("snapshot_id")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.size("tokens")).alias("tokens"))
        .toPandas()
        .set_index("snapshot_id")
    )
    committed = snaps.drop(index=resume_sid)
    missing = ctx.fingerprint["rows"] - int(committed["rows"].sum())
    recommit = int(snaps.loc[resume_sid, "rows"]) / missing
    stored = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(tbl.data_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    errs = checks.check_resume(
        verify_rows,
        _content(out, OUT_COLS),
        _content(tbl.read(ctx.spark).drop("snapshot_id"), OUT_COLS),
        recommit,
    )
    if aborted != [CKPT_COMMITTED]:
        errs.append(f"checkpoint: aborted {aborted}, expected [{CKPT_COMMITTED}]")
    layers = {
        "ckpt_commit_tokens_per_s": int(committed["tokens"].sum()) / (t1 - t0),
        "ckpt_resume_s": t4 - t2,
        "ckpt_stored_bytes_per_token": stored / ctx.fingerprint["tokens"],
        f"{L}.write_snapshot_s": t1 - t0,
        f"{L}.abort_uncommitted_s": t3 - t2,
        f"{L}.resume_write_s": t4 - t3,
        f"{L}.verify_s": t5 - t4,
        f"{L}.bytes_written": stored,
        f"{L}.recommit_ratio": recommit,
        **_stages(ctx, f"{L}.write_snapshot", [groups]),
    }
    shutil.rmtree(tbl.base)
    return layers, errs


# ------------------------------------------------------------------ registry


def registry_mix(ctx: Ctx):
    """One pass over the registry queries, the first in the session, in a
    fixed order (the seed varies the data): build (the builder call, with
    any jobs it fires) and exec (run the plan, collect the result) timed
    apart. Every result is compared with its DuckDB oracle."""
    import __spark_entry__ as entry

    qs = entry.queries()
    passes: list[dict] = []

    def one_pass(i: int) -> None:
        p = {}
        with ctx.tracer.span("queries"):
            for q in REGISTRY_MIX:
                bg, eg = f"queries.{q}.build#{i}", f"queries.{q}.exec#{i}"
                t0 = time.perf_counter()
                df = ctx.call("queries.build", bg, qs[q], ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                pdf = ctx.call("queries.exec", eg, df.toPandas)
                t2 = time.perf_counter()
                p[q] = {"build_s": t1 - t0, "exec_s": t2 - t1, "pdf": pdf,
                        "groups": (bg, eg)}
        passes.append(p)

    # exactly one (cold) pass whatever its speed, so the metric keeps its
    # meaning when a change makes the pass faster than ctx.seconds
    measure(ctx, one_pass, seconds=0)
    cold = passes[0]
    wall = sum(r["build_s"] + r["exec_s"] for r in cold.values())
    layers = {"registry_wall_s": wall}
    if ctx.traced:
        # two more passes: do the builders fire the same jobs when warm?
        one_pass(1)
        one_pass(2)
        layers.update(_query_layers(ctx, passes))
    bad = _registry_checks(ctx, cold, entry.oracle_sql())
    errs = [f"{q}: {e}" for q, es in bad.items() for e in es]
    return Result([wall], layers, errs, len(REGISTRY_MIX), len(bad))


def _query_layers(ctx: Ctx, passes: list[dict]) -> dict:
    """Per-query numbers of the cold pass ``passes[0]``; job counts of the
    two warm passes after it."""
    def jobs(p, q, k):
        return len(job_ids(ctx.spark, p[q]["groups"][k]))

    cold = passes[0]
    out = {}
    for q in REGISTRY_MIX:
        out[f"queries.{q}.build_s"] = cold[q]["build_s"]
        out[f"queries.{q}.build_jobs"] = jobs(cold, q, 0)
        out[f"queries.{q}.exec_s"] = cold[q]["exec_s"]
        if q in PY_KERNELS:
            out[f"queries.{q}.cpu_frac"] = stage_counters(
                ctx.spark, [cold[q]["groups"][1]]
            )["cpu_frac"]
    for k, key in ((0, "build"), (1, "exec")):
        out[f"queries.{key}_s"] = sum(cold[q][f"{key}_s"] for q in REGISTRY_MIX)
        out[f"queries.{key}_jobs"] = sum(jobs(cold, q, k) for q in REGISTRY_MIX)
    out["queries.warm_build_jobs"] = sum(jobs(passes[-1], q, 0) for q in REGISTRY_MIX)
    out["queries.warm_build_jobs_repeat"] = float(all(
        jobs(passes[-1], q, 0) == jobs(passes[-2], q, 0) for q in REGISTRY_MIX
    ))
    out.update(_stages(ctx, "queries", [
        [g for q in REGISTRY_MIX for g in cold[q]["groups"]]
    ]))
    return out


def _registry_checks(ctx: Ctx, results: dict, oracle_sql: dict) -> dict:
    """{query: errors} for every result of one pass that differs from its
    DuckDB oracle."""
    import duckdb
    from tools.check_entry import compare

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{ctx.work_dir}/duckdb'")
    for t in gen.REG_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{ctx.data_dir}/{t}.parquet'"
        )
    bad = {}
    for q in REGISTRY_MIX:
        errs = compare(q, results[q]["pdf"], con.execute(oracle_sql[q]).fetchdf())
        if errs:
            bad[q] = errs
    con.close()
    return bad
