"""Single-thread kernel timings on a workload's own inputs.

Run as a subprocess, once with the C kernels and once with
``SPARK_TSWARP_NO_NATIVE=1`` (the NumPy fallback), so both sides pay the
same harness::

    python3 perfbench/kernel_pair.py <inputs.npz>

Prints one JSON object: per-call microseconds (milliseconds for DBA) for
each kernel whose inputs the file holds, and whether the C library loaded.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

MIN_SECONDS = 0.3  # repeat a call list until at least this much time passed
MAX_REPEATS = 5


def _ragged(z, name: str) -> list:
    flat, off = z[name + "_flat"], z[name + "_off"]
    return [flat[off[i]:off[i + 1]] for i in range(len(off) - 1)]


def _per_call(calls: list, fn) -> float:
    """Median over repeats of the mean seconds per call."""
    per_call = []
    spent = 0.0
    while len(per_call) < MAX_REPEATS and (spent < MIN_SECONDS
                                           or len(per_call) < 2):
        t0 = time.perf_counter()
        for args in calls:
            fn(*args)
        dt = time.perf_counter() - t0
        spent += dt
        per_call.append(dt / len(calls))
    return statistics.median(per_call)


def main(path: str) -> dict:
    from dynamicaxiswarping_jl_spark.kernels import dba, dtw_cost, dtwnn, native
    from dynamicaxiswarping_jl_spark.operators.compression import gorilla_encode

    z = np.load(path)
    out = {"native": bool(native.available()), "pid": os.getpid()}
    if "nn_q_flat" in z:
        qs, ys = _ragged(z, "nn_q"), _ragged(z, "nn_y")
        calls = [(q, y) for q in qs for y in ys]
        out["dtwnn_us_per_pair"] = 1e6 * _per_call(
            calls, lambda q, y: dtwnn(q, y, "sqeuclidean", 5))
        out["dtwnn_pairs"] = len(calls)
    if "drift_a_flat" in z:
        calls = list(zip(_ragged(z, "drift_a"), _ragged(z, "drift_b")))
        out["dtw_cost_us"] = 1e6 * _per_call(
            calls, lambda a, b: dtw_cost(a, b, "sqeuclidean", 5))
        out["dtw_cost_pairs"] = len(calls)
    if "chunk_t_flat" in z:
        calls = list(zip([t.astype(np.int64) for t in _ragged(z, "chunk_t")],
                         _ragged(z, "chunk_v")))
        out["gorilla_encode_us_per_chunk"] = 1e6 * _per_call(
            calls, gorilla_encode)
        out["gorilla_chunks"] = len(calls)
    if "dba_flat" in z:
        seqs = _ragged(z, "dba")
        out["dba_ms_per_group"] = 1e3 * _per_call(
            [(seqs,)], lambda s: dba(s, "sqeuclidean", init_center=s[0],
                                     iterations=100, rtol=1e-5))
        out["dba_members"] = len(seqs)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: kernel_pair.py <inputs.npz>")
    print(json.dumps(main(sys.argv[1])))
