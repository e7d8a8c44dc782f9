"""Per-layer metrics of a traced run.

Every traced run reports every name in PER_LAYER; a layer the workload
does not exercise reads 0 (the ``py_*`` zeros on the queries workload
are the bypass check).  Sources:

* spans recorded by the benchmark around each public call
  (``<query>.build``, ``extract_meta.build``, ``pip_join.build``,
  ``tiles.build``, the op itself);
* Spark's event log, reduced by ``trace.reduce_log`` to one row per op
  and stage, plus SQL metrics per plan node;
* prefix timings of the ingest pipeline materialized to ``noop``.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from perfbench import trace
from perfbench.workloads import SPATIAL_OPS, TEXT_OPS

_WORKLOAD = {
    "py_start_s": "s", "py_init_s": "s", "py_run_s": "s", "py_to_mb": "MB", "py_from_mb": "MB",
    "jobs": "count", "tasks": "count", "task_s": "s", "task_skew": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
    "trace_overhead": "ratio", "trace_coverage_min": "ratio", "peak_rss_mb": "MB",
}
_INGEST = {
    "ingest.decode_s": "s", "ingest.pip_s": "s", "ingest.tiles_s": "s", "ingest.write_s": "s",
    "ingest.fresh_s": "s", "ingest.resume_s": "s", "ingest.images_per_s": "img/s",
    "ingest.out_bytes_per_image": "B",
    "extract_meta.build_s": "s", "tiles.build_s": "s",
    "lineage.resume_scan_ratio": "ratio", "pip_join.candidates_per_match": "ratio",
}
_COUNTS = {"knn.candidate_pairs": "count", "bbox_join.candidate_pairs": "count",
           "ngram_jaccard.candidate_pairs": "count"}
PER_LAYER: dict[str, str] = {
    "setup_wall_s": "s", "pass_wall_s": "s", "op_wall_geomean_s": "s", "steal_share": "ratio",
    "jit_cpu_s": "s",
    "setup.session_s": "s", "setup.stage_s": "s", "setup.warmup_s": "s",
    **_WORKLOAD, **_INGEST, **_COUNTS,
    **{f"{q}.{k}": "s" for q in SPATIAL_OPS + TEXT_OPS for k in ("build_s", "exec_s")},
}


COVERAGE_MIN = 0.8


def med(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(per_op: dict) -> tuple[float, float]:
    """(sum, geometric mean) of each op's median: a pass, and a pass in
    which every op weighs the same."""
    meds = [med(v) for v in per_op.values()]
    return sum(meds), math.exp(statistics.fmean(math.log(max(v, 1e-6)) for v in meds))


def prefix_timings(bench, reps: int) -> dict:
    """Median wall of the ingest pipeline cut after each stage, interleaved."""
    out: dict[int, list[float]] = {1: [], 2: [], 3: []}
    for r in range(reps):
        for depth in (1, 2, 3):
            bench.spark.sparkContext.setJobGroup(f"prefix{depth}#{r}", f"prefix{depth}")
            t0 = time.time()
            bench.wl.prefix(bench.spark, depth, bench.tracer)
            out[depth].append(time.time() - t0)
    return {d: med(v) for d, v in out.items()}


def _span_time(spans, op_id: str, suffix: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["op"] == op_id and s["name"].endswith(suffix))


def per_layer(bench, setup: dict, m: dict, tm: dict, prefixes: dict) -> dict:
    """m: the untraced measurement after set-up; tm: the traced phase.  An
    op whose layer times cover less than COVERAGE_MIN of its wall counts
    as failed."""
    vals = {k: 0.0 for k in PER_LAYER}
    vals["setup.session_s"] = setup["session_s"]
    vals["setup.stage_s"] = setup["stage_s"]
    vals["setup.warmup_s"] = setup["warmup_s"]
    vals["setup_wall_s"] = setup["session_s"] + setup["stage_s"] + setup["warmup_s"]
    vals["pass_wall_s"], vals["op_wall_geomean_s"] = summarize(m["samples"])
    vals["steal_share"] = m["steal_share"]
    vals["jit_cpu_s"] = summarize(m["jit"])[0]
    # CPU, like the end-to-end metrics, so host steal does not enter it
    vals["trace_overhead"] = summarize(tm["cpu"])[0] / summarize(m["cpu"])[0] - 1.0
    vals["peak_rss_mb"] = bench.peak_rss_mb

    log = trace.reduce_log(trace.read_events(_event_file(bench.event_dir)))
    ops = log["ops"]
    empty = trace.empty_op()
    spans = bench.tracer.spans
    n_pass = len(tm["passes"])
    per_pass: dict[str, list[float]] = {k: [] for k in (
        "jobs", "tasks", "task_s", "shuffle_mb", "spill_mb", "gc_s", *trace.PY_METRICS.values())}
    skew: dict[str, list[float]] = {op: [] for op in bench.wl.ops}
    coverage = []
    for p in range(n_pass):
        acc = {k: 0.0 for k in per_pass}
        for op in bench.wl.ops:
            rec = ops.get(f"{op}#{p}", empty)
            for k in ("jobs", "tasks", "task_s", "shuffle_mb", "spill_mb", "gc_s"):
                acc[k] += rec[k]
            for k, v in rec["py"].items():
                acc[k] += v
            skew[op].append(rec["task_skew"])
        for k, v in acc.items():
            per_pass[k].append(v)
    for op, op_id, t0, t1 in tm["op_spans"]:
        rec = ops.get(op_id, empty)
        builds = [(s["start"], s["end"]) for s in spans if s["op"] == op_id and s["name"].endswith(".build")]
        covered = trace.covered(builds + rec["exec_intervals"] + rec["job_intervals"], t0, t1)
        coverage.append(covered / max(t1 - t0, 1e-9))
        if coverage[-1] < COVERAGE_MIN:
            print(f"perfbench: {op_id} layer times cover {coverage[-1]:.2f} of its wall, "
                  f"below {COVERAGE_MIN}")
            bench.mark_failed(op, 1)
    for k, v in per_pass.items():
        vals[k] = med(v)
    vals["task_skew"] = max((med(v) for v in skew.values()), default=0.0)
    vals["trace_coverage_min"] = min(coverage) if coverage else 0.0
    bench.info["trace_coverage"] = {
        "min": vals["trace_coverage_min"], "median": med(coverage),
        "per_op": {op: min(c for (o, *_), c in zip(tm["op_spans"], coverage) if o == op)
                   for op in bench.wl.ops},
    }
    bench.info["stages"] = log["stages"]

    if bench.args.workload == "ingest":
        _ingest(vals, bench, m, tm, ops, prefixes, spans)
    else:
        for op in bench.wl.ops:
            ids = [f"{op}#{p}" for p in range(n_pass)]
            vals[f"{op}.build_s"] = med([_span_time(spans, i, f"{op}.build") for i in ids])
            vals[f"{op}.exec_s"] = med([_span_time(spans, i, f"{op}.exec") for i in ids])
        _counts(vals, ops, n_pass)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in vals.items()}


def _event_file(event_dir: str) -> str:
    entries = [os.path.join(event_dir, e) for e in os.listdir(event_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {entries}")
    return entries[0]


def _ingest(vals, bench, m, tm, ops, prefixes, spans) -> None:
    wl = bench.wl
    n_img = bench.info["inputs"]["rows"]["images"]
    fresh = med(m["samples"]["fresh"])
    vals["ingest.fresh_s"] = fresh
    vals["ingest.resume_s"] = med(m["samples"]["resume"])
    vals["ingest.images_per_s"] = n_img / fresh
    vals["ingest.out_bytes_per_image"] = med(wl.out_bytes) / n_img
    n_pass = len(tm["passes"])
    fresh_ids = [f"fresh#{p}" for p in range(n_pass)]
    resume_ids = [f"resume#{p}" for p in range(n_pass)]
    for name in ("extract_meta", "pip_join", "tiles"):
        vals[f"{name}.build_s"] = med([_span_time(spans, i, f"{name}.build") for i in fresh_ids])
    traced_fresh = med(tm["samples"]["fresh"])
    vals["ingest.pip_s"] = prefixes[2] - prefixes[1]
    vals["ingest.tiles_s"] = prefixes[3] - prefixes[2]
    vals["ingest.write_s"] = traced_fresh - prefixes[3]
    decode, cand, match, scan, kept = [], 0.0, 0.0, 0.0, 0.0
    for i in fresh_ids:
        rec = ops.get(i)
        if rec is None:
            continue
        decode.append(sum(n["value"] for n in rec["nodes"]
                          if n["node"] == "MapInPandas" and n["metric"] == "time to run Python workers") / 1e3)
        b, a = trace.around(rec, lambda n: n == "ArrowEvalPython")
        cand, match = cand + b, match + a
    for i in resume_ids:
        rec = ops.get(i)
        if rec is None:
            continue
        scanned = trace.rows_of(rec, _is_scan)
        _, survivors = trace.around(rec, _is_scan, lambda n: n == "Filter")
        scan, kept = scan + scanned, kept + survivors
    vals["ingest.decode_s"] = med(decode)
    vals["pip_join.candidates_per_match"] = cand / match if match else 0.0
    vals["lineage.resume_scan_ratio"] = scan / kept if kept else 0.0


def _is_scan(name: str) -> bool:
    return name.startswith("Scan parquet")


def _counts(vals, ops, n_pass) -> None:
    """Candidate pairs: rows out of the op's join nodes (the cell-ring,
    cell-cover and shingle joins), median over passes."""
    for q in ("knn", "bbox_join", "ngram_jaccard"):
        ids = [f"{q}#{p}" for p in range(n_pass) if f"{q}#{p}" in ops]
        if ids:
            vals[f"{q}.candidate_pairs"] = med(
                [trace.rows_of(ops[i], lambda n: n.endswith("Join")) for i in ids])
