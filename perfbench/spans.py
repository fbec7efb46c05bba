"""Span tracing for the traced run, recorded from the benchmark's side.

The engine source is not touched: :class:`Tracer` wraps the engine's
public entry points where their callers look them up (module globals
and ``LakeTable`` methods), keeps every span in memory and writes them
out once the run ends. Spark's own work is read afterwards from a local
event log and each job is attributed to the innermost span open when
the job was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

# spans a run's wall is divided into: ``phase.*`` mark the benchmark's
# timed sections, ``runner`` the run_stream call; every other name is a
# layer span whose time counts as covered
PHASES = ("phase.bootstrap", "phase.write", "phase.read")


class NullTracer:
    """Stand-in for untraced runs: spans cost one context-manager call."""

    active = False

    def span(self, name, trigger=None, **attrs):
        return contextlib.nullcontext()


class Tracer:
    active = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name, trigger=None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if trigger is None and parent is not None:
            trigger = parent["trigger"]
        s = {
            "id": len(self.spans), "name": name, "start": time.time(),
            "end": None, "parent": parent["id"] if parent else None,
            "trigger": trigger, **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def install(self) -> None:
        """Wrap the engine's entry points. Each name is patched where its
        caller resolves it: the runner calls its own module's
        ``apply_batch``; ``apply_batch`` calls the apply module's
        ``manifest_watermark_fence``; the benchmark calls the apply
        module's ``bootstrap_load``; lake methods resolve on the class."""
        from tartare_spark.lake import table as table_mod
        from tartare_spark.operators import apply as apply_mod
        from tartare_spark.streaming import runner as runner_mod

        tr = self

        def apply_wrapper(orig):
            def wrapped(spark, lake, events, batch_id, *a, **kw):
                with tr.span("apply", trigger=int(batch_id)) as s:
                    rec = orig(spark, lake, events, batch_id, *a, **kw)
                    s["rows"] = int(rec.get("rows", 0))
                    return rec
            return wrapped

        self._patch(runner_mod, "apply_batch", apply_wrapper)

        def plain(name):
            def make(orig):
                def wrapped(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapped
            return make

        self._patch(apply_mod, "manifest_watermark_fence", plain("apply.fence"))
        self._patch(apply_mod, "bootstrap_load", plain("apply.bootstrap"))
        LakeTable = table_mod.LakeTable
        self._patch(LakeTable, "append_delta", plain("lake.append_delta"))
        self._patch(LakeTable, "bootstrap_base", plain("lake.bootstrap_base"))

        def manifest_wrapper(orig):
            def wrapped(lake, version=None):
                with tr.span("lake.manifest") as s:
                    m = orig(lake, version)
                s["bytes"] = os.path.getsize(
                    table_mod._manifest_path(lake.root, int(m["version"]))
                )
                return m
            return wrapped

        read_manifest = LakeTable.manifest  # unwrapped: not counted as reads
        self._patch(LakeTable, "manifest", manifest_wrapper)

        def compact_wrapper(orig):
            def wrapped(lake, spark, *a, **kw):
                before = {
                    f for fl in read_manifest(lake)["files"].values() for f in fl
                }
                with tr.span("lake.compact") as s:
                    n = orig(lake, spark, *a, **kw)
                after = read_manifest(lake)["files"].values()
                s["bytes_written"] = sum(
                    os.path.getsize(f) for fl in after for f in fl
                    if f not in before
                )
                return n
            return wrapped

        self._patch(LakeTable, "compact", compact_wrapper)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------
def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (single) application event log in ``log_dir``, each
    ``{id, submit, end, tasks: [...], stages: {id: {...}}}`` with times in
    epoch seconds and per-task run time, shuffle and spill figures."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    for name in names:
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": [],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    jobs[jid]["tasks"].append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return [j for j in jobs.values() if j["end"] is not None]


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job["span"]`` to the innermost span open at submission."""
    ordered = sorted(spans, key=lambda s: s["start"])
    for j in jobs:
        best = None
        for s in ordered:
            if s["start"] > j["submit"]:
                break
            if s["end"] is not None and s["end"] >= j["submit"]:
                best = s  # later start = deeper nesting
        j["span"] = best["id"] if best else None


def union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
