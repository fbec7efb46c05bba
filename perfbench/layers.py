"""Per-layer metrics of a traced pass, from its spans, the Spark event
log and each round's own records (progress.jsonl, metrics.jsonl,
manifest). Layers are named after the engine modules they cover:

- ``runner``: tartare_spark.streaming.runner, the Spark trigger loop;
- ``apply``: tartare_spark.operators.apply (apply path and fence);
- ``lake``: tartare_spark.lake.table (manifest, delta write, publish,
  compaction, reads);
- ``spark``: the executor work under them, from the event log.

A metric a workload does not exercise (no fence, no compaction) reads
0. README.md names the end-to-end metric each one
should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import PHASES, union_seconds

UNITS = {
    "runner.latest_offset_ms": "ms",
    "runner.query_planning_ms": "ms",
    "runner.wal_commit_ms": "ms",
    "runner.overhead_ms": "ms",
    "apply.self_s": "s",
    "apply.useful_row_ratio": "ratio",
    "apply.fence_s": "s",
    "lake.manifest_reads_per_trigger": "count",
    "lake.manifest_read_s": "s",
    "lake.manifest_bytes": "B",
    "lake.append_delta_driver_s": "s",
    "lake.compact_calls": "count",
    "lake.compact_s": "s",
    "lake.compact_bytes_rewritten": "B",
    "lake.dirty_bucket_share": "ratio",
    "lake.delta_depth_max": "count",
    "lake.files_per_read": "count",
    "lake.bytes_written_per_event": "B/event",
    "spark.jobs_per_trigger": "count",
    "spark.shuffle_write_bytes_per_event": "B/event",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.core_busy_share": "ratio",
    "trace.span_coverage": "ratio",
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(spans: list[dict], jobs: list[dict], rounds: list[dict],
                  k: int) -> dict:
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def dur(s) -> float:
        return s["end"] - s["start"]

    def ancestor(s, names) -> dict | None:
        """Nearest span at or above ``s`` whose name is in ``names``."""
        while s is not None:
            if s["name"] in names:
                return s
            s = by_id.get(s["parent"])
        return None

    def named(name) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    n_rounds = max(len(rounds), 1)
    applies = named("apply")
    n_trig = max(len(applies), 1)
    apply_manifests: dict[int, list[dict]] = defaultdict(list)
    for s in named("lake.manifest"):
        a = ancestor(s, ("apply",))
        if a is not None:
            apply_manifests[a["id"]].append(s)
    jobs_under: dict[int, list[dict]] = defaultdict(list)  # span id -> jobs
    for j in jobs:
        s = by_id.get(j["span"])
        while s is not None:
            jobs_under[s["id"]].append(j)
            s = by_id.get(s["parent"])

    # -- runner: Spark's own per-trigger durations; overhead = trigger
    # wall minus the apply_batch call it wraps (matched by batch id)
    progress = [p for r in rounds for p in r["progress"]]

    def duration_ms(key):  # mean: Spark reports whole milliseconds
        return statistics.fmean(
            p["durationMs"].get(key, 0) for p in progress
        ) if progress else 0.0

    overheads = []
    for r in rounds:
        write = next(s for s in named("phase.write") if s["round"] == r["tag"])
        by_trigger = {
            a["trigger"]: a for a in applies
            if ancestor(a, ("phase.write",)) is write
        }
        for p in r["progress"]:
            a = by_trigger.get(p["batchId"] + r["offset"])
            if a is not None:
                overheads.append(p["durationMs"]["triggerExecution"] - 1000 * dur(a))

    # -- apply ----------------------------------------------------------
    events_in = sum(r["events_in"] for r in rounds) or 1
    self_s = [dur(a) - sum(dur(c) for c in children[a["id"]]) for a in applies]
    fence_s = [
        sum(dur(c) for c in children[a["id"]] if c["name"] == "apply.fence")
        for a in applies
    ]

    # -- lake -----------------------------------------------------------
    manifests_in_apply = [m for ms in apply_manifests.values() for m in ms]
    driver_s = [
        dur(s) - union_seconds(
            (max(j["submit"], s["start"]), min(j["end"], s["end"]))
            for j in jobs_under[s["id"]]
        )
        for s in named("lake.append_delta")
    ]
    compacts = named("lake.compact")

    # -- spark ----------------------------------------------------------
    write_spans = named("phase.write")
    write_jobs = [j for w in write_spans for j in jobs_under[w["id"]]]
    load_jobs = write_jobs + [
        j for b in named("phase.bootstrap") for j in jobs_under[b["id"]]
    ]
    skews = []
    for s in named("lake.append_delta") + named("lake.bootstrap_base"):
        stages: dict[int, list[dict]] = defaultdict(list)
        for j in jobs_under[s["id"]]:
            for t in j["tasks"]:
                stages[t["stage"]].append(t)
        for tasks in stages.values():
            run = sorted(t["run_ms"] for t in tasks)
            if (len(run) >= 2 and any(t["shuffle_read"] for t in tasks)
                    and statistics.median(run) > 0):
                skews.append(run[-1] / statistics.median(run))
    write_wall = sum(dur(w) for w in write_spans) or 1.0
    busy_s = sum(t["run_ms"] for j in write_jobs for t in j["tasks"]) / 1000.0

    # -- coverage: share of the timed sections inside layer spans ------
    phases = [s for s in spans if s["name"] in PHASES]
    covered = 0.0
    for ph in phases:
        layer = [
            (max(s["start"], ph["start"]), min(s["end"], ph["end"]))
            for s in spans
            if s["name"] not in PHASES and s["name"] != "runner"
            and ancestor(s, PHASES) is ph
        ]
        covered += union_seconds(iv for iv in layer if iv[1] > iv[0])
    phase_wall = sum(dur(p) for p in phases) or 1.0

    return {
        "runner.latest_offset_ms": duration_ms("latestOffset"),
        "runner.query_planning_ms": duration_ms("queryPlanning"),
        "runner.wal_commit_ms": duration_ms("walCommit"),
        "runner.overhead_ms": _median(overheads),
        "apply.self_s": _median(self_s),
        "apply.useful_row_ratio": sum(r["keys_committed"] for r in rounds) / events_in,
        "apply.fence_s": _median(fence_s),
        "lake.manifest_reads_per_trigger": len(manifests_in_apply) / n_trig,
        "lake.manifest_read_s": _median(
            sum(dur(m) for m in apply_manifests[a["id"]]) for a in applies
        ),
        "lake.manifest_bytes": _median(m["bytes"] for m in manifests_in_apply),
        "lake.append_delta_driver_s": _median(driver_s),
        "lake.compact_calls": len(compacts) / n_rounds,
        "lake.compact_s": _median(dur(c) for c in compacts),
        "lake.compact_bytes_rewritten": sum(c["bytes_written"] for c in compacts) / n_rounds,
        "lake.dirty_bucket_share": _median(r["dirty_bucket_share"] for r in rounds),
        "lake.delta_depth_max": _median(r["delta_depth_max"] for r in rounds),
        "lake.files_per_read": _median(r["files_per_read"] for r in rounds),
        "lake.bytes_written_per_event": sum(r["data_bytes_written"] for r in rounds) / events_in,
        "spark.jobs_per_trigger": sum(len(jobs_under[a["id"]]) for a in applies) / n_trig,
        "spark.shuffle_write_bytes_per_event": sum(
            t["shuffle_write"] for j in write_jobs for t in j["tasks"]
        ) / events_in,
        "spark.spill_bytes": sum(
            t["spill"] for j in load_jobs for t in j["tasks"]
        ) / n_rounds,
        "spark.task_skew": _median(skews),
        "spark.core_busy_share": busy_s / (write_wall * k),
        "trace.span_coverage": covered / phase_wall,
        "trace.uncovered_s": (phase_wall - covered) / n_rounds,
    }
