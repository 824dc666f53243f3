"""Per-layer metrics of a traced run.

The traced build runs each layer on a materialized input, under one span
per call (the span covers the call plus the action that forces its
output; materializing the next layer's input is outside every layer
span). Engine counters come from the event log: `spark.*` over the
timed production window, per iteration, and task time per span, which
flags spans whose wall time and task time disagree.
"""

from __future__ import annotations

import statistics

import tracing

#: (metric, unit) in report order; the span that yields each `*_s`
#: metric is named in SPAN_OF
PER_LAYER = [
    ("splitting.self_s", "s"), ("splitting.chunks_out", "count"),
    ("scoring.self_s", "s"), ("scoring.kept_frac", "ratio"),
    ("extraction.self_s", "s"), ("extraction.items_out", "count"),
    ("extraction.errors", "count"), ("extraction.backend_calls", "count"),
    ("extraction.dedup_frac", "ratio"), ("extraction.cache_hit_frac", "ratio"),
    ("linking.self_s", "s"), ("linking.unlinked_frac", "ratio"),
    ("linking.residue_s", "s"), ("linking.residue_candidates", "count"),
    ("linking.residue_recovered_frac", "ratio"), ("linking.residue_wrong_frac", "ratio"),
    ("canonicalize.self_s", "s"), ("canonicalize.components", "count"),
    ("pipeline.write_s", "s"), ("pipeline.written_mb", "MB"), ("pipeline.files", "count"),
    ("dedup.simhash_s", "s"), ("dedup.candidates_s", "s"), ("dedup.verify_s", "s"),
    ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
    ("dedup.verify_yield", "ratio"), ("dedup.max_bucket", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.slot_util", "ratio"),
    ("trace.overhead_s", "s"), ("trace.span_coverage", "ratio"),
]

SPAN_OF = {
    "splitting.self_s": ["splitting"],
    "scoring.self_s": ["scoring"],
    "extraction.self_s": ["extraction", "extraction.triples"],
    "linking.self_s": ["linking"],
    "linking.residue_s": ["linking.residue"],
    "canonicalize.self_s": ["canonicalize"],
    "pipeline.write_s": ["pipeline.write"],
    "dedup.simhash_s": ["dedup.simhash"],
    "dedup.candidates_s": ["dedup.candidates"],
    "dedup.verify_s": ["dedup.verify"],
}

#: a span's engine task time per wall second outside this range is flagged:
#: above `cores` the span missed work it caused, below 0.1 the wall is
#: mostly driver-side time rather than engine work
_BUSY_MIN = 0.1


def traced_metrics(spans, counts, log_dir, window, samples, cores):
    """Per-layer metrics from a finished traced build and the event log
    of its (stopped) session. Returns (metrics, detail)."""
    by_id = {s["id"]: s for s in spans.spans}
    self_t = spans.self_times()
    wins = {"window": window}
    wins.update({f"span{s['id']}": (s["start"], s["end"]) for s in spans.spans})
    eng = tracing.task_windows(str(log_dir), wins)

    values: dict[str, float] = dict(counts)
    for metric, names in SPAN_OF.items():
        ids = [s["id"] for s in spans.spans if s["name"] in names]
        if ids:
            values[metric] = sum(self_t[i] for i in ids)

    n_iter = max(len(samples["build"]), 1)
    w = eng["window"]
    for k in ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        values[f"spark.{k}"] = w[k] / n_iter
    values["spark.slot_util"] = w["task_s"] / max((window[1] - window[0]) * cores, 1e-9)

    root = next(s for s in spans.spans if s["name"] == "build")
    root_wall = root["end"] - root["start"]
    kids = [s for s in spans.spans if s["parent"] == root["id"]]
    values["trace.overhead_s"] = root_wall - statistics.median(samples["build"] or [0.0])
    values["trace.span_coverage"] = sum(self_t[s["id"]] for s in kids) / root_wall

    span_report, flagged = [], []
    for s in spans.spans:
        task = eng[f"span{s['id']}"]["task_s"] - sum(
            eng[f"span{c['id']}"]["task_s"] for c in spans.spans if c["parent"] == s["id"]
        )
        wall = self_t[s["id"]]
        busy = task / wall if wall > 0 else 0.0
        rec = {"span": s["name"], "parent": by_id[s["parent"]]["name"] if s["parent"] is not None else None,
               "self_s": round(wall, 4), "task_s": round(task, 4), "busy_slots": round(busy, 3)}
        span_report.append(rec)
        if s["name"] != "build" and not (_BUSY_MIN <= busy <= cores * 1.05):
            flagged.append(rec)

    names = [m for m, _ in PER_LAYER]
    not_exercised = [m for m in names if m not in values]
    metrics = {m: {"value": float(values.get(m, 0.0)), "unit": u} for m, u in PER_LAYER}
    detail = {
        "spans": span_report,
        "flagged_spans": flagged,
        "not_exercised": not_exercised,
        "layer_counts": {k: v for k, v in counts.items() if k not in names},
    }
    return metrics, detail
