"""The benchmark's workloads, driven through the engine's public entry points.

Each workload makes its inputs from the seed during set-up, then runs
closed-loop passes (the next pass starts when the previous one ends).
Every pass checks its output; a pass that raises or fails its check counts
as failed. Per-layer numbers are taken outside the engine: spans around the
calls the benchmark makes, the Spark status store, the stage manifests the
pipeline writes, and single-thread kernel timings in subprocesses.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

from observe import SparkHarvester, Spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

# Pipeline stages in the order scripts/run_pipeline.py runs them.
STAGES = ["tier_1m", "tier_1m_gapfilled", "tier_1h", "tier_1d", "chunks_1h",
          "series_1h", "series_1d", "drift", "dba_reps"]

TIER_CONVERSATIONS = 4000   # ~260k turns
NN_CONVERSATIONS = 5000     # ~330k turns folded into the tenants below
NN_TENANTS = 200            # -> 200 gap-filled 1h series of ~700 points
NN_QUERIES = 128
NN_QUERY_LEN = 24
NN_RADIUS = 5
NN_PARTITIONS = 16          # pins the task split, so pruning work repeats
NN_BRUTE_QUERIES = 4
GEN_SLICES = 8
STREAM_TRANCHES = 2


class PassFailed(Exception):
    """A pass produced output that differs from the known-correct result."""


class Context:
    """Run-wide state the workloads share with run.py."""

    def __init__(self, spark, seed: int, work: str, trace: bool,
                 deadline: float):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace = trace
        self.deadline = deadline
        self.spans = Spans()
        self.harvester = SparkHarvester(spark) if trace else None
        self.layer: dict = {}      # per-layer metrics gathered outside passes
        self.kernel_detail: dict = {}  # raw kernel_pair output per side
        self.notes: list = []      # repeat-guard and skipped-step messages
        self.checks = 0            # output checks outside the pass loop
        self.check_failures = 0

    def extra_check(self, name: str, fn) -> None:
        """Run one correctness check outside the timed passes."""
        self.checks += 1
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failed check is reported, not fatal
            self.check_failures += 1
            print(f"perfbench: check {name} FAILED", file=sys.stderr)
            traceback.print_exc()


def _generate(ctx: Context, n_conv: int, path: str) -> int:
    from dynamicaxiswarping_jl_spark.sources import transcripts_df
    t0 = time.perf_counter()
    (transcripts_df(ctx.spark, n_conv, seed=ctx.seed, slices=GEN_SLICES)
     .write.parquet(path))
    ctx.layer["sources.generate_s"] = time.perf_counter() - t0
    return ctx.spark.read.parquet(path).count()


def _ragged(arrays: list) -> tuple:
    lens = np.array([len(a) for a in arrays], dtype=np.int64)
    off = np.concatenate([[0], np.cumsum(lens)])
    flat = (np.concatenate([np.asarray(a, dtype=np.float64) for a in arrays])
            if arrays else np.zeros(0))
    return flat, off


def kernel_pair(ctx: Context, inputs: dict) -> None:
    """Time each kernel single-threaded with C and with NumPy, on the
    workload's own inputs, in two identical subprocesses."""
    path = os.path.join(ctx.work, "kernel_inputs.npz")
    arrays = {}
    for name, seqs in inputs.items():
        arrays[name + "_flat"], arrays[name + "_off"] = _ragged(seqs)
    np.savez(path, **arrays)
    base = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
                MKL_NUM_THREADS="1")
    base.pop("SPARK_TSWARP_NO_NATIVE", None)
    for side, extra in (("c", {}), ("numpy", {"SPARK_TSWARP_NO_NATIVE": "1"})):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "kernel_pair.py"), path],
            env={**base, **extra}, capture_output=True, text=True,
            timeout=max(5.0, ctx.deadline - time.monotonic()))
        if proc.returncode != 0:
            raise RuntimeError(f"kernel_pair ({side}) failed:\n{proc.stderr}")
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        if got["native"] != (side == "c"):
            raise RuntimeError(f"kernel_pair ({side}) ran the wrong path")
        for key in ("dtwnn_us_per_pair", "dtw_cost_us",
                    "gorilla_encode_us_per_chunk"):
            if key in got:
                ctx.layer[f"kernels.{key}.{side}"] = got[key]
        if side == "c" and "dba_ms_per_group" in got:
            ctx.layer["kernels.dba_ms_per_group"] = got["dba_ms_per_group"]
        ctx.kernel_detail[side] = got


# --------------------------------------------------------------------------
# tier_rollup: scripts/run_pipeline.py main(), one fresh workdir per pass
# --------------------------------------------------------------------------

class TierRollup:
    name = "tier_rollup"
    warmup_passes = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.turns_dir = os.path.join(ctx.work, "turns")
        spec = importlib.util.spec_from_file_location(
            "perfbench_run_pipeline",
            os.path.join(ROOT, "scripts", "run_pipeline.py"))
        self.pipeline = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.pipeline)
        self.n_turns = 0
        self.reference = None
        self.last_workdir = None
        self.manifest_walls: dict = {}   # pass tag -> {stage: wall_sec}

    def setup(self) -> None:
        self.n_turns = _generate(self.ctx, TIER_CONVERSATIONS, self.turns_dir)

    def items(self) -> int:
        return self.n_turns

    def run_pass(self, tag: str, traced: bool) -> dict:
        """One pipeline run into a fresh workdir; stage spans if traced."""
        from dynamicaxiswarping_jl_spark.plans import CheckpointManager
        workdir = os.path.join(self.ctx.work, f"pipeline-{tag}")
        original = CheckpointManager.run_stage
        spans = self.ctx.spans

        def spanned(cm, stage, fn, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(cm, stage, fn, *args, **kwargs)
            finally:
                spans.add(f"plans.{stage}", t0, time.perf_counter(), tag)

        if traced:
            CheckpointManager.run_stage = spanned
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                rc = self.pipeline.main(
                    ["--input", self.turns_dir, "--workdir", workdir])
        finally:
            CheckpointManager.run_stage = original
        self.last_workdir = workdir
        if rc != 0:
            raise PassFailed(f"run_pipeline exited {rc}")
        summary = json.loads(out.getvalue().strip().splitlines()[-1])
        return {"summary": summary, "workdir": workdir, "tag": tag}

    def check(self, result: dict) -> dict:
        summary = dict(result["summary"])
        for volatile in ("elapsed_sec", "turns_per_sec"):
            summary.pop(volatile)
        if summary["turns"] != self.n_turns:
            raise PassFailed(f"sum(n_turns) {summary['turns']} != "
                             f"{self.n_turns} input turns")
        rows, walls = {}, {}
        for stage in STAGES:
            with open(os.path.join(result["workdir"], stage,
                                   "manifest.json")) as f:
                manifest = json.load(f)
            rows[stage] = manifest["rows"]
            walls[stage] = manifest["wall_sec"]
        self.manifest_walls[result["tag"]] = walls
        if self.reference is None:
            self.reference = summary
        else:
            # mean_drift_cost is a float AVG whose partial sums may merge
            # in any order; every other field is an exact count
            ref = self.reference
            drift_ok = np.isclose(summary["mean_drift_cost"],
                                  ref["mean_drift_cost"], rtol=1e-9, atol=0)
            exact = {k: v for k, v in summary.items()
                     if k != "mean_drift_cost"}
            exact_ref = {k: v for k, v in ref.items()
                         if k != "mean_drift_cost"}
            if exact != exact_ref or not drift_ok:
                raise PassFailed(f"summary {summary} != first pass {ref}")
        return {"stage_rows": rows}

    def discard(self, result: dict) -> None:
        if result and result.get("workdir") != self.last_workdir:
            shutil.rmtree(result["workdir"], ignore_errors=True)

    def stage_layer(self, tags: list) -> tuple:
        """Median per-stage span over the traced passes, and per stage the
        median of span minus the manifest's own wall_sec (the cross-check:
        run_stage's span encloses everything its manifest times)."""
        medians, gaps = {}, {}
        for stage in STAGES:
            spans = [self.ctx.spans.total(f"plans.{stage}", t) for t in tags]
            medians[f"plans.stage_s.{stage}"] = float(np.median(spans))
            gaps[stage] = float(np.median(
                [s - self.manifest_walls[t][stage]
                 for s, t in zip(spans, tags)]))
            if gaps[stage] < -0.01:
                self.ctx.notes.append(
                    f"stage {stage}: span shorter than manifest wall_sec")
        return medians, gaps

    def kernel_inputs(self) -> dict:
        """Drift pairs, Gorilla chunks and one DBA group, read back from
        the last pass's stage checkpoints (the shapes the operators saw)."""
        import pandas as pd
        wd = self.last_workdir
        fine = pd.read_parquet(os.path.join(wd, "series_1h", "data"))
        coarse = pd.read_parquet(os.path.join(wd, "series_1d", "data"))
        pairs = fine[["conv_id", "points"]].merge(
            coarse[["conv_id", "points"]], on="conv_id",
            suffixes=("_a", "_b")).sort_values("conv_id").head(256)
        drift_a, drift_b = [], []
        for a, b in zip(pairs["points_a"], pairs["points_b"]):
            a = np.asarray(a, dtype=np.float64)
            b = np.asarray(b, dtype=np.float64)
            bi = (np.interp(np.linspace(0, 1, len(a)),
                            np.linspace(0, 1, len(b)), b)
                  if len(b) > 1 else np.full(len(a), b[0]))
            drift_a.append(a)
            drift_b.append(bi)
        tier = pd.read_parquet(os.path.join(wd, "tier_1h", "data"),
                               columns=["conv_id", "bucket", "turn_rate"])
        tier["t"] = tier["bucket"].astype("datetime64[s]").astype(np.int64)
        tier["w"] = tier["t"] // (7 * 86400)
        chunk_t, chunk_v = [], []
        for _, g in sorted(tier.groupby(["conv_id", "w"]),
                           key=lambda kv: kv[0])[:512]:
            g = g.sort_values("t")
            chunk_t.append(g["t"].to_numpy(np.float64))
            chunk_v.append(g["turn_rate"].to_numpy(np.float64))
        # the pipeline's DBA group "0": pmod(xxhash64(conv_id), 8) == 0
        from pyspark.sql import functions as F
        group = (self.ctx.spark.read.parquet(os.path.join(wd, "series_1h",
                                                          "data"))
                 .where(F.pmod(F.xxhash64("conv_id"), F.lit(8)) == 0)
                 .select("conv_id", "points").toPandas()
                 .sort_values("conv_id"))
        return {"drift_a": drift_a, "drift_b": drift_b,
                "chunk_t": chunk_t, "chunk_v": chunk_v,
                "dba": [np.asarray(p, dtype=np.float64)
                        for p in group["points"]]}


# --------------------------------------------------------------------------
# nn_search: dtwnn_search over cached tenant series
# --------------------------------------------------------------------------

class NNSearch:
    name = "nn_search"
    warmup_passes = 3   # walls keep falling ~20% over the first four passes

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.turns_dir = os.path.join(ctx.work, "turns")
        self.series = None
        self.series_pd = None
        self.queries_df = None
        self.queries = []
        self.reference = None

    def _build_series(self):
        from pyspark.sql import functions as F
        from dynamicaxiswarping_jl_spark.operators import (
            assemble_series, gapfill, rollup_turns)
        spark = self.ctx.spark
        turns = spark.read.parquet(self.turns_dir).withColumn(
            "conv_id", F.format_string(
                "tenant_%03d", F.pmod(F.xxhash64("conv_id"),
                                      F.lit(NN_TENANTS))))
        series = assemble_series(
            gapfill(rollup_turns(turns, "1h"), 3600, policy="zero"),
            "turn_rate", step_s=3600).select("conv_id", "points").cache()
        series.count()
        return series

    def setup(self) -> None:
        _generate(self.ctx, NN_CONVERSATIONS, self.turns_dir)
        self.series = self._build_series()
        self.series_pd = (self.series.toPandas().sort_values("conv_id")
                          .reset_index(drop=True))
        # queries: seeded 24-point windows with some activity, taken from
        # the series, plus small seeded noise so no query is an exact copy
        # (an exact copy makes every search a trivial zero-cost hit)
        rng = np.random.default_rng(self.ctx.seed)
        pts = [np.asarray(p, dtype=np.float64)
               for p in self.series_pd["points"]]
        while len(self.queries) < NN_QUERIES:
            y = pts[rng.integers(len(pts))]
            if len(y) < NN_QUERY_LEN:
                continue
            s = int(rng.integers(0, len(y) - NN_QUERY_LEN + 1))
            w = y[s:s + NN_QUERY_LEN]
            if np.count_nonzero(w) < 4:
                continue
            q = w + rng.normal(0.0, 0.05 * float(np.std(w)), NN_QUERY_LEN)
            self.queries.append((f"q{len(self.queries):03d}", q.tolist()))
        self._make_query_df()

    def _make_query_df(self):
        self.queries_df = self.ctx.spark.createDataFrame(
            self.queries, "query_id string, q array<double>")

    def restart(self) -> None:
        """Rebuild the cached series in a new session (local[1] probe)."""
        self.series = self._build_series()
        self._make_query_df()

    def items(self) -> int:
        return NN_QUERIES

    def run_pass(self, tag: str, traced: bool) -> dict:
        from dynamicaxiswarping_jl_spark.operators import dtwnn_search
        res = dtwnn_search(self.queries_df, self.series, radius=NN_RADIUS,
                           n_queries=NN_QUERIES,
                           partitions=NN_PARTITIONS).toPandas()
        return {"winners": res}

    def check(self, result: dict) -> dict:
        res = result["winners"].sort_values("query_id").reset_index(drop=True)
        if len(res) != NN_QUERIES:
            raise PassFailed(f"{len(res)} winners for {NN_QUERIES} queries")
        win = res[["query_id", "conv_id", "cost", "loc"]]
        if self.reference is None:
            self.reference = win
        elif not win.equals(self.reference):
            raise PassFailed("winners differ from the first pass")
        pruned = int(res["prune_end"].sum() + res["prune_env"].sum())
        return {"nn_pruned_windows": pruned}

    def discard(self, result: dict) -> None:
        pass

    def windows_total(self) -> int:
        """All query x window pairs: the base of the prune ratio."""
        return NN_QUERIES * int(sum(
            max(0, len(p) - NN_QUERY_LEN + 1)
            for p in self.series_pd["points"]))

    def brute_force_check(self) -> None:
        """A seeded sample of queries against single-thread kernels.dtwnn
        over every series, with the operator's tie rule (cost, key, loc)."""
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        rng = np.random.default_rng(self.ctx.seed + 1)
        picks = sorted(rng.choice(NN_QUERIES, NN_BRUTE_QUERIES,
                                  replace=False).tolist())
        ref = self.reference.set_index("query_id")
        for i in picks:
            qid, q = self.queries[i]
            q = np.asarray(q, dtype=np.float64)
            best = None
            for key, y in zip(self.series_pd["conv_id"],
                              self.series_pd["points"]):
                y = np.asarray(y, dtype=np.float64)
                if len(y) < len(q):
                    continue
                r = dtwnn(q, y, "sqeuclidean", NN_RADIUS)
                cand = (float(r.cost), key, int(r.loc))
                if best is None or cand < best:
                    best = cand
            got = ref.loc[qid]
            if (float(got["cost"]), got["conv_id"], int(got["loc"])) != best:
                raise PassFailed(f"{qid}: operator {tuple(got)} != "
                                 f"brute force {best}")

    def kernel_inputs(self) -> dict:
        pts = [np.asarray(p, dtype=np.float64)
               for p in self.series_pd["points"]]
        return {"nn_q": [np.asarray(q, dtype=np.float64)
                         for _, q in self.queries[:8]],
                "nn_y": pts[:32]}


WORKLOADS = {"tier_rollup": TierRollup, "nn_search": NNSearch}


# --------------------------------------------------------------------------
# streaming probe (traced tier_rollup runs only)
# --------------------------------------------------------------------------

class TimedCatalog:
    """Delegates to a TableCatalog and times every merge() call."""

    def __init__(self, inner):
        self._inner = inner
        self._lock = threading.Lock()
        self.merge_s = 0.0
        self.merges = 0

    def merge(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self._inner.merge(*args, **kwargs)
        finally:
            with self._lock:
                self.merge_s += time.perf_counter() - t0
                self.merges += 1

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _progress(query) -> list:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else p)
    return out


def stream_probe(ctx: Context, turns_dir: str) -> None:
    """The pipeline's turns through Structured Streaming in time-ordered
    tranches (file ingest, then incremental chunk compression, each
    awaited), then the same equality check as run_pipeline.run_streaming:
    catalog tier_1m and chunks_1m against batch rollup_turns and
    compress_chunks."""
    from pyspark.sql import functions as F
    from dynamicaxiswarping_jl_spark.operators import (
        compress_chunks, rollup_turns)
    from dynamicaxiswarping_jl_spark.sources import TRANSCRIPT_SCHEMA
    from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
    from dynamicaxiswarping_jl_spark.streaming import (
        start_chunk_compress, start_file_ingest)

    spark = ctx.spark
    wd = os.path.join(ctx.work, "stream")
    src, feed = os.path.join(wd, "src"), os.path.join(wd, "feed")
    turns = spark.read.parquet(turns_dir)
    lo, hi = turns.agg(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / STREAM_TRANCHES
    staged = []
    for k in range(STREAM_TRANCHES):
        cond = F.lit(True)
        if k:
            cond = cond & (F.col("ts") > F.lit(lo + step * k))
        if k < STREAM_TRANCHES - 1:
            cond = cond & (F.col("ts") <= F.lit(lo + step * (k + 1)))
        d = os.path.join(wd, f"tranche-{k}")
        turns.filter(cond).write.parquet(d)
        staged.append(d)
    catalog = TimedCatalog(TableCatalog(spark, os.path.join(wd, "catalog")))
    ingest, chunking = [], []
    os.makedirs(src)
    for k, d in enumerate(staged):
        for f in sorted(os.listdir(d)):  # the tranche's files land
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f),
                            os.path.join(src, f"t{k}-{f}"))
        t0 = time.perf_counter()
        q = start_file_ingest(spark, src, feed, os.path.join(wd, "ck_in"),
                              TRANSCRIPT_SCHEMA, catalog=catalog,
                              table="tier_1m")
        q.awaitTermination()
        t1 = time.perf_counter()
        q2 = start_chunk_compress(spark, feed, catalog, "chunks_1m",
                                  os.path.join(wd, "ck_chunks"), tier="1m",
                                  chunk="7 days", source_table="tier_1m")
        q2.awaitTermination()
        t2 = time.perf_counter()
        ctx.spans.add("streaming.ingest", t0, t1, f"tranche-{k}")
        ctx.spans.add("streaming.chunk", t1, t2, f"tranche-{k}")
        ingest += _progress(q)
        chunking += _progress(q2)
    progress = ingest + chunking

    def durations(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress)

    ctx.layer.update({
        "streaming.ingest_s": ctx.spans.total("streaming.ingest"),
        "streaming.chunk_s": ctx.spans.total("streaming.chunk"),
        "streaming.microbatches": float(len(progress)),
        "streaming.add_batch_ms": float(durations("addBatch")),
        "streaming.wal_commit_ms": float(durations("walCommit")),
        "streaming.query_planning_ms": float(durations("queryPlanning")),
        # rows held in the ingest aggregation's state after the last batch
        "streaming.state_rows": float(sum(
            s.get("numRowsTotal", 0)
            for p in ingest[-1:] for s in p.get("stateOperators", []))),
        "streaming.rows_dropped_by_watermark": float(sum(
            s.get("numRowsDroppedByWatermark", 0)
            for p in progress for s in p.get("stateOperators", []))),
        "sources.catalog_merge_s": catalog.merge_s,
        "sources.catalog_merges": float(catalog.merges),
    })

    def equal_to_batch():
        def diff(a, b, cols):
            a, b = a.select(*cols), b.select(*cols)
            return a.exceptAll(b).count() + b.exceptAll(a).count()
        b1m = rollup_turns(turns, "1m")
        d_tier = diff(catalog.read("tier_1m"), b1m,
                      ["conv_id", "bucket", "n_turns", "tool_calls",
                       "turn_rate"])
        d_chunks = diff(catalog.read("chunks_1m"),
                        compress_chunks(b1m, "1m", "turn_rate",
                                        chunk="7 days"),
                        ["conv_id", "tier", "chunk_start", "n", "t0", "v0",
                         "crc"])
        if d_tier or d_chunks:
            raise PassFailed(f"streaming differs from batch: tier_1m "
                             f"{d_tier} rows, chunks_1m {d_chunks} rows")

    ctx.extra_check("stream_equals_batch", equal_to_batch)
    shutil.rmtree(wd, ignore_errors=True)
