"""Turns a run's measurements into the result the benchmark prints.

``PER_LAYER`` is the benchmark's map from each per-layer metric to the
end-to-end metric it should move and the workload it should move it
on, written down before measuring.  The traced run names each
workload's dominant layer from the spans themselves.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .checks import percentile
from .curation import ENTRIES, short
from .podcast import DASHBOARD
from .trace import BENCH_PREFIX, self_times

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "batch_s": "s"}

_SPARK = "op_p50_ms on dashboard (fixed cost per job) and curation"
# the write path runs only when the cached warehouse is built and in
# traced runs, so no end-to-end metric measures it
_LOAD = "none: the backfill is the traced dashboard preload"
_TRICKLE = "none: trickle.fresh_message_s in the traced dashboard run"
_FILES = _TRICKLE + "; small files also slow op_p50_ms on dashboard; peak_rss_mb"
_DASH = "op_p50_ms and batch_s on dashboard"
_CUR = "op_p50_ms and batch_s on curation"
_WORK = "higher"  # a count of work the inputs fix; a change shows as a drop
# (name, unit, better, the end-to-end metric and workload it should move)
PER_LAYER = (
    # memory is no end-to-end metric: how far the JVM heap grows differs
    # from run to run (1.25 or 1.6 GB on dashboard), too much for a bound
    [("peak_rss_mb", "MB", "lower", "none: the driver JVM plus its Python workers")]
    + [(f"spark.{k}", "count", "lower", _SPARK) for k in ("jobs", "stages", "tasks", "failed_tasks")]
    + [
        ("spark.jobs_per_op", "count", "lower", _SPARK),
        ("trickle.spark_jobs_per_message", "count", "lower", _TRICKLE),
        ("trickle.fresh_message_s", "s", "lower", _TRICKLE),
        ("trickle.redelivery_s", "s", "lower", _TRICKLE),
    ]
    + [
        ("ingest.parse_rss_xml.self_s", "s", "lower", _LOAD),
        ("ingest.ingest_metadata.self_s", "s", "lower", _LOAD),
        ("ingest.rows_out", "count", _WORK, _LOAD),
        ("ingest.malformed_feeds_dropped", "count", _WORK, _LOAD),
    ]
    + [
        (f"transcripts.{f}.self_s", "s", "lower", _LOAD)
        for f in ("chunk_audio", "transcribe_chunks", "reduce_transcripts", "transcript_sentences")
    ]
    + [
        ("transcripts.chunks", "count", _WORK, _LOAD),
        ("transcripts.held_back_episodes", "count", "lower", _LOAD),
        ("ml_udfs.sentiment.self_s", "s", "lower", _LOAD),
        ("ml_udfs.entities.self_s", "s", "lower", _LOAD),
        ("ml_udfs.rows_in", "count", _WORK, _LOAD),
        ("nlp.align_sentiment.self_s", "s", "lower", _LOAD),
        ("nlp.align_entities.self_s", "s", "lower", _LOAD),
        ("nlp.entities_aligned_ratio", "ratio", "higher", _LOAD),
    ]
    + [
        (f"warehouse.{f}.self_s", "s", "lower", _TRICKLE)
        for f in ("insert_ignore", "update_rows", "next_surrogate_base")
    ]
    + [
        ("warehouse.insert_ignore.calls", "count", "lower", _TRICKLE),
        ("warehouse.rows_offered", "count", _WORK, _TRICKLE),
        ("warehouse.rows_appended", "count", _WORK, _TRICKLE),
        ("warehouse.files_written", "count", "lower", _FILES),
        ("warehouse.bytes_written", "B", "lower", _FILES),
        ("warehouse.bytes_per_row", "B", "lower", _FILES),
        ("warehouse.read.self_s", "s", "lower", _DASH),
    ]
    + [(f"analytics.{q[0]}.p50_ms", "ms", "lower", _DASH) for q in DASHBOARD]
    + [
        ("analytics.construct_ms", "ms", "lower", _DASH),
        ("analytics.collect_ms", "ms", "lower", _DASH),
        ("analytics.rows_returned", "count/query", _WORK, _DASH),
    ]
    + [(f"curation.{short(n)}.self_s", "s", "lower", _CUR) for n in ENTRIES]
    + [
        ("dedup.candidate_pairs", "count", "lower", _CUR),
        ("dedup.verified_pairs", "count", _WORK, _CUR),
        ("dedup.verified_ratio", "ratio", "higher", _CUR),
        ("trace.overhead_ratio", "ratio", "lower", "traced against untraced batch_s, same workload"),
        ("trace.dominant_layer_share", "ratio", "lower", "share of traced batch time in its dominant layer"),
    ]
)
_COUNTS = (
    "ingest.rows_out", "ingest.malformed_feeds_dropped", "transcripts.chunks",
    "transcripts.held_back_episodes", "ml_udfs.rows_in", "warehouse.insert_ignore.calls",
    "warehouse.rows_offered", "warehouse.rows_appended",
    "dedup.candidate_pairs", "dedup.verified_pairs",
)


def phase(span: dict) -> str:
    """Which part of a traced run a span belongs to: the preload, the
    workload's run, or the trickle messages."""
    req = span["request"] or ""
    if req == "preload":
        return "preload"
    return "trickle" if req.startswith("trickle") else "run"


def dominant(spans) -> tuple[str, float, str]:
    """The layer (module) with the most self time, that time, and the
    call with the most self time within it."""
    calls = {n: t for n, t in self_times(spans).items() if not n.startswith(BENCH_PREFIX)}
    by_layer = defaultdict(float)
    for name, t in calls.items():
        by_layer[name.split(".")[0]] += t
    top = max(by_layer, key=by_layer.get)
    call = max((n for n in calls if n.split(".")[0] == top), key=calls.get)
    return top, by_layer[top], call


def layers(runs, tracer) -> tuple[dict, dict]:
    """Per-layer metrics over the traced spans: the preload (set-up),
    one traced run of the workload and, on dashboard, the trickle messages;
    the tracing overhead against an untraced run made just after the
    traced one."""
    spans, counts = tracer.spans, tracer.counts
    own = [s for s in spans if not s["name"].startswith(BENCH_PREFIX)]
    by_phase = defaultdict(list)
    for s in spans:
        by_phase[phase(s)].append(s)
    self_s = self_times(spans)
    out = {name: 0.0 for name, *_ in PER_LAYER}
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = sum(s[k] for s in own)
    out["spark.jobs_per_op"] = sum(s["jobs"] for s in by_phase["run"]) / len(runs["traced"]["ops_s"])
    if "trickle" in runs:
        msgs = runs["trickle"]["ops_s"]
        out["trickle.spark_jobs_per_message"] = sum(s["jobs"] for s in by_phase["trickle"]) / len(msgs)
        out["trickle.fresh_message_s"], out["trickle.redelivery_s"] = msgs
    for name in out:
        if name.endswith(".self_s"):
            out[name] = self_s.get(name[: -len(".self_s")], 0.0)
    for name in _COUNTS:
        out[name] = counts.get(name, 0.0)
    if counts.get("nlp.entities_in"):
        out["nlp.entities_aligned_ratio"] = counts["nlp.entities_aligned"] / counts["nlp.entities_in"]
    if counts.get("dedup.candidate_pairs"):
        out["dedup.verified_ratio"] = counts["dedup.verified_pairs"] / counts["dedup.candidate_pairs"]

    written = [s for s in spans if "files_written" in s]
    rows = sum(s["rows_written"] for s in written)
    out["warehouse.files_written"] = sum(s["files_written"] for s in written)
    out["warehouse.bytes_written"] = sum(s["bytes_written"] for s in written)
    out["warehouse.bytes_per_row"] = out["warehouse.bytes_written"] / rows if rows else 0.0

    queries = [s for s in by_phase["run"] if s["name"].startswith("analytics.")]
    by_fn = defaultdict(list)
    for s in queries:
        by_fn[s["name"]].append(1e3 * (s["end"] - s["start"]))
    for fn, ms in by_fn.items():
        out[f"{fn}.p50_ms"] = statistics.median(ms)
    if queries:
        out["analytics.construct_ms"] = statistics.median(1e3 * s["construct_s"] for s in queries)
        out["analytics.collect_ms"] = statistics.median(1e3 * s["execute_s"] for s in queries)
        out["analytics.rows_returned"] = counts["analytics.rows_returned"] / len(queries)

    traced, untraced = runs["traced"], runs["untraced"]
    out["trace.overhead_ratio"] = (
        statistics.median(traced["batches_s"]) / statistics.median(untraced["batches_s"]) - 1
    )
    names = {}
    for ph, group in sorted(by_phase.items()):
        top, t, call = dominant(group)
        names[ph] = f"{top} ({call})"
        if ph == "run":
            out["trace.dominant_layer_share"] = t / sum(traced["batches_s"])
    return out, names


def tail_percentile(n: int) -> float | None:
    """The highest of p99, p95, p90 and p75 that has at least ten of
    ``n`` samples beyond it."""
    for q in (0.99, 0.95, 0.9, 0.75):
        if n * (1 - q) >= 10:
            return q
    return None


def build(setup_s, peak_mb, runs, tracer, problems) -> dict:
    """``runs``: the measured run (``base``) or, when traced, the
    ``traced`` run, the ``untraced`` one that followed it and, on
    dashboard, the ``trickle`` messages."""
    attempted = sum(len(r["ops_s"]) for r in runs.values())
    failed = sum(r["failed"] for r in runs.values())
    base = runs.get("base") or runs["untraced"]
    ops = base["ops_s"]
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": 1e3 * statistics.median(ops),
        "batch_s": statistics.median(base["batches_s"]),
    }
    summary = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    summary["peak_rss_mb"] = (peak_mb, "MB")
    q = tail_percentile(len(ops))
    if q is None:
        summary["op_tail_ms"] = ("none", f"({len(ops)} ops leave fewer than 10 beyond p75)")
    else:
        summary[f"op_p{round(100 * q)}_ms"] = (1e3 * percentile(ops, q), f"ms over {len(ops)} ops")
    summary["op_failure_ratio"] = (failed / attempted, f"ratio of {attempted} ops")
    result = {
        "setup_s": setup_s,
        "ops_s": ops,
        "batches_s": base["batches_s"],
        "problems": problems[:20],
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
    }
    if "traced" not in runs:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        values, names = layers(runs, tracer)
        values["peak_rss_mb"] = peak_mb
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, *_ in PER_LAYER}
        result["dominant_layer"] = names
        result["layer_map"] = {name: moves for name, _, _, moves in PER_LAYER}
        for ph, layer in names.items():
            summary[f"dominant_layer_{ph}"] = (layer, "")
        summary["trace_overhead_ratio"] = (values["trace.overhead_ratio"], "ratio")
    result["summary"] = summary
    result["metrics"] = metrics
    return result
