"""Benchmark of the rollup + DTW engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see BENCHMARK.json for why each
was chosen):

- ``tier_rollup``: ``scripts/run_pipeline.py`` ``main()`` over seeded
  transcripts, one fresh workdir per pass (1m tier, gap-fill, 1h/1d
  cascade, Gorilla chunks, series, drift, DBA representatives).
- ``nn_search``: ``dtwnn_search`` of 128 seeded queries over 200 cached
  tenant series, with the task split pinned.

Each run is one process on ``local[nproc]``: session start, input
generation and a fixed number of warm-up passes are set-up (``setup_s``);
then closed-loop passes run until ``--seconds`` have passed (at least
three). Every pass checks its output against the first pass's and against
ground truth (input turn count; a brute-force NN sample outside the timed
window). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run alternates untraced and traced passes (ABBA, at least four)
over the window and reports the tracing overhead from the two medians.
It then times the kernels single-threaded with C and NumPy on the
workload's own inputs, runs a pass at ``local[1]`` for per-core
efficiency, and (``tier_rollup``) streams the same turns through
Structured Streaming. A per-layer metric whose layer the workload does
not run reads 0.

Everything the run writes goes under ``.perfbench/`` in the working
directory; the host record of each run (nproc, load average, every pass
wall) is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import workloads as W  # noqa: E402  (perfbench/ is sys.path[0])
from observe import MemorySampler  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(os.getcwd(), ".perfbench")
MIN_PASSES = 3            # measured passes per run, whatever --seconds says
MIN_TRACED_PASSES = 4     # one untraced-traced-traced-untraced round
HARD_LIMIT_S = 170.0      # the run is killed past this, result or not
LOCAL1_RESERVE_S = 45.0   # time a local[1] pass needs before the hard limit
JVM_HEAP = "2g"

# per-layer metrics a workload cannot produce, by name prefix
NOT_RUN = {
    "tier_rollup": ("kernels.nn_", "kernels.dtwnn_"),
    "nn_search": ("plans.", "streaming.", "sources.catalog_",
                  "kernels.dtw_cost", "kernels.gorilla", "kernels.dba"),
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every temporary location Spark, the JVM and the native-kernel
    build use at this checkout (must happen before the JVM starts)."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "XDG_CACHE_HOME": os.path.join(STATE, "cache"),
        "SPARK_DRIVER_MEMORY": JVM_HEAP,
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    os.environ.pop("SPARK_TSWARP_NO_NATIVE", None)


def _spark_conf(run_dir: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap is resident from the start, so peak memory does
        # not swing with when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def _start_spark(cpus: int, run_dir: str):
    from dynamicaxiswarping_jl_spark.plans import get_spark, warm_python_workers
    spark = get_spark("perfbench", cpus=cpus, extra_conf=_spark_conf(run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still running: kill and reap
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _watchdog():
    """Kill the JVM and exit non-zero if the run outlives HARD_LIMIT_S."""
    def fire():
        print("perfbench: hard time limit reached, aborting", file=sys.stderr)
        try:
            from pyspark import SparkContext
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.kill()
                proc.wait()
        finally:
            os._exit(3)
    t = threading.Timer(HARD_LIMIT_S - (time.perf_counter() - T_START), fire)
    t.daemon = True
    t.start()
    return t


class Runner:
    """Runs passes, checks them, and keeps walls and repeat-guard facts."""

    def __init__(self, ctx, workload):
        self.ctx = ctx
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.walls: list = []       # (phase, traced, wall_s, ok)
        self.facts: list = []       # repeat-guard facts per passing pass
        self.layers: list = []      # Spark harvests of traced passes
        self.traced_tags: list = []
        self._previous = None
        self._n = 0

    def one_pass(self, phase: str, traced: bool = False) -> float | None:
        ctx, wl = self.ctx, self.wl
        tag = f"{phase}-{self._n}"
        self._n += 1
        self.attempted += 1
        sc = ctx.spark.sparkContext
        sc.setJobGroup(tag, tag)
        mark = ctx.harvester.mark() if traced else None
        result = None
        t0 = time.perf_counter()
        try:
            result = wl.run_pass(tag, traced)
            wall = time.perf_counter() - t0
            fact = wl.check(result)
        except Exception:  # noqa: BLE001 — a failing pass is counted, the run goes on
            wall = time.perf_counter() - t0
            self.failed += 1
            self.walls.append((phase, traced, wall, False))
            print(f"perfbench: pass {tag} FAILED", file=sys.stderr)
            traceback.print_exc()
            return None
        finally:
            if self._previous is not None:
                wl.discard(self._previous)
            self._previous = result
        self.walls.append((phase, traced, wall, True))
        self.facts.append(fact)
        if traced:
            self.traced_tags.append(tag)
            h = ctx.harvester.harvest(mark, ctx.harvester.mark(), tag)
            self.layers.append(h)
        return wall

    def measured(self, traced: bool) -> list:
        return [w for phase, t, w, ok in self.walls
                if phase == "measure" and ok and t == traced]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _repeat_guard(workload: str, seed: int, facts: list, extra: dict,
                  notes: list) -> dict:
    """Work that must repeat exactly: within this run across passes, and
    across runs with the same seed (a ledger kept under .perfbench/)."""
    merged = {}
    for f in facts:
        for k, v in f.items():
            if k in merged and merged[k] != v:
                notes.append(f"REPEAT-GUARD: {k} varied between passes: "
                             f"{merged[k]} vs {v}")
            merged.setdefault(k, v)
    merged.update(extra)
    path = os.path.join(STATE, "ledger", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ledger = {}
    if os.path.exists(path):
        with open(path) as f:
            ledger = json.load(f)
    for k, v in merged.items():
        if k in ledger and ledger[k] != v:
            notes.append(f"REPEAT-GUARD: {k} differs from an earlier run "
                         f"with seed {seed}: {ledger[k]} vs {v}")
    ledger.update({k: v for k, v in merged.items() if k not in ledger})
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    for n in notes:
        if n.startswith("REPEAT-GUARD"):
            print(f"perfbench: {n}", file=sys.stderr)
    return merged


def main(argv=None) -> int:
    args = _args(argv)
    for need in ("dynamicaxiswarping_jl_spark/__init__.py",
                 "scripts/run_pipeline.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    sys.path.insert(0, ROOT)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    _watchdog()
    deadline = time.monotonic() + HARD_LIMIT_S - (time.perf_counter() - T_START)

    mem = MemorySampler().start()
    cpus = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
              "loadavg_before": load_before}
    spark = ctx = None
    try:
        # the native kernels compile once per checkout: a build, not set-up
        t0 = time.perf_counter()
        from dynamicaxiswarping_jl_spark.kernels import native
        record["native_kernels"] = native.available()
        build_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = _start_spark(cpus, run_dir)
        record["session_start_s"] = time.perf_counter() - t0
        ctx = W.Context(spark, args.seed, run_dir, bool(args.trace), deadline)
        wl = W.WORKLOADS[args.workload](ctx)
        runner = Runner(ctx, wl)
        wl.setup()
        if args.trace:  # worker warm-up and input generation
            h = ctx.harvester.harvest(0, ctx.harvester.mark(), None)
            ctx.layer["operators.setup_python_start_s"] = h["python_start_s"]
        for _ in range(wl.warmup_passes):
            runner.one_pass("warmup")
        setup_s = time.perf_counter() - T_START - build_s

        window = args.seconds
        floor = MIN_TRACED_PASSES if args.trace else MIN_PASSES
        t_measure = time.perf_counter()
        k = 0
        while (k < floor or time.perf_counter() - t_measure < window):
            # untraced/traced in ABBA order, so a wall still drifting down
            # with JIT warm-up does not bias either side of the overhead
            runner.one_pass("measure",
                            traced=bool(args.trace) and k % 4 in (1, 2))
            k += 1

        if args.workload == "nn_search" and wl.reference is not None:
            ctx.extra_check("nn_brute_force_sample", wl.brute_force_check)
        extra_facts = {}
        if args.trace:
            _traced_extras(ctx, wl, runner, run_dir, extra_facts)
        metrics_all = _metrics(ctx, wl, runner, setup_s, mem.stop(), record)
        record["peak_pss_parts_mb"] = mem.peak_parts
        record["repeat_facts"] = _repeat_guard(
            args.workload, args.seed, runner.facts, extra_facts, ctx.notes)
    finally:
        _stop_spark(ctx.spark if ctx is not None else spark)
        mem.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = runner.attempted + ctx.checks
    failed = runner.failed + ctx.check_failures
    record.update({
        "loadavg_after": os.getloadavg(),
        "build_s": build_s,
        "setup_s": setup_s,
        "passes": [{"phase": p, "traced": t, "wall_s": w, "ok": ok}
                   for p, t, w, ok in runner.walls],
        "notes": ctx.notes,
        "metrics_all": metrics_all,
        "attempted": attempted,
        "failed": failed,
    })
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        name = m["name"]
        if name in metrics_all:
            value = metrics_all[name]
        elif name.startswith(NOT_RUN[args.workload]):
            value = 0.0
        elif failed:  # a probe that failed its check left no figure
            value = 0.0
            ctx.notes.append(f"{name} not measured: its probe failed")
        else:
            raise KeyError(f"metric {name} was not measured")
        metrics[name] = {"value": value, "unit": m["unit"]}
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _traced_extras(ctx, wl, runner, run_dir, facts) -> None:
    """Per-layer probes that run after the measured window."""
    ctx.extra_check("kernel_pair", lambda: W.kernel_pair(ctx, wl.kernel_inputs()))
    if wl.name == "tier_rollup":
        ctx.extra_check("stream_probe", lambda: W.stream_probe(ctx, wl.turns_dir))
        if "streaming.microbatches" in ctx.layer:
            facts["stream_microbatches"] = ctx.layer["streaming.microbatches"]
    if ctx.deadline - time.monotonic() < LOCAL1_RESERVE_S:
        ctx.notes.append("local[1] pass skipped: not enough time left")
        ctx.layer["bench.local1_pass_s"] = 0.0
        return
    ctx.spark.stop()
    ctx.spark = _start_spark(1, run_dir)
    if wl.name == "nn_search":
        wl.restart()
    wall = runner.one_pass("local1")
    if wall is not None:
        ctx.layer["bench.local1_pass_s"] = wall


def _metrics(ctx, wl, runner, setup_s, peak_pss_mb, record) -> dict:
    untraced = runner.measured(False)
    op_wall = _median(untraced)
    ok_frac = 1.0 - ((runner.failed + ctx.check_failures)
                     / (runner.attempted + ctx.checks))
    out = {
        "op_wall_s": op_wall,
        "items_per_s": wl.items() / op_wall if op_wall else 0.0,
        "setup_s": setup_s,
        "peak_pss_mb": peak_pss_mb,
        "ok_frac": ok_frac,
    }
    if not ctx.trace:
        return out
    traced = runner.measured(True)
    out["bench.trace_overhead_pct"] = (
        100.0 * (_median(traced) / op_wall - 1.0) if op_wall and traced else 0.0)
    for key in runner.layers[0] if runner.layers else []:
        out[f"operators.{key}"] = _median([h[key] for h in runner.layers])
    if wl.name == "tier_rollup" and runner.traced_tags:
        stages, gaps = wl.stage_layer(runner.traced_tags)
        out.update(stages)
        out["plans.outside_stages_s"] = max(
            0.0, _median(traced) - sum(stages.values()))
        record["stage_span_minus_manifest_wall_s"] = gaps
    if wl.name == "nn_search" and runner.facts:
        pruned = runner.facts[0]["nn_pruned_windows"]
        total = wl.windows_total()
        out["kernels.nn_pruned_windows"] = float(pruned)
        out["kernels.nn_prune_ratio"] = pruned / total
        record["bases"] = {"kernels.nn_prune_ratio":
                           f"{pruned} pruned windows / {total} query x "
                           f"window pairs ({W.NN_QUERIES} queries)"}
    local1 = ctx.layer.get("bench.local1_pass_s")
    out["bench.core_efficiency"] = (local1 / (record["nproc"] * op_wall)
                                    if local1 and op_wall else 0.0)
    out.update(ctx.layer)
    record["kernel_pair"] = ctx.kernel_detail
    return out


if __name__ == "__main__":
    sys.exit(main())
