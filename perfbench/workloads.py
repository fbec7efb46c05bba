"""The workloads and one round of each.

A round is one table's life: create a fresh merge-on-read lake and
``bootstrap_load`` the initial snapshot (set-up), apply the tail
(write), then, in a run's first round, read the result (read). Every
round of a run replays the same generated input into a fresh lake and
checkpoint, so rounds are replicates. The set-up, write and read
sections are timed; the correctness check that follows each round is
not.

The workloads are closed loops with a single client: each trigger,
commit or read starts only after the previous one returned.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from referee import Referee, lww


@dataclass(frozen=True)
class Workload:
    name: str
    buckets: int
    snapshot_events: int  # events with lsn <= this form the bootstrap snapshot
    tail_events: int  # events after the snapshot, shipped as tail files
    file_events: int  # events per tail file
    reship_share: float  # share of tail files shipped a second time, later
    max_files_per_trigger: int | None
    fence: bool  # manifest watermark fence, lateness = reorder horizon
    snapshot_reads: int  # read calls of the run's first round
    lookups: int
    changes_reads: int
    min_rounds: int = 1
    setup_reps: int = 1  # set-ups per round, for a steadier setup_s


# key space of every workload: 200k (repo, path) keys, zipf over repos
N_REPOS, PATHS_PER_REPO = 100, 2000
# The fixture generator moves ~5% of events back by up to 1000 LSNs.
REORDER_HORIZON = 1000
# a re-shipped file arrives this many files after its first shipment,
# past the reorder horizon, so the fence sees it as redelivery
RESHIP_GAP = 3

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "bulk_catchup", buckets=8, snapshot_events=50_000,
            tail_events=150_000, file_events=75_000, reship_share=0.0,
            max_files_per_trigger=None, fence=False,
            snapshot_reads=4, lookups=12, changes_reads=4, min_rounds=3,
        ),
        Workload(
            "steady_tail", buckets=8, snapshot_events=20_000,
            tail_events=17_500, file_events=2_500, reship_share=0.25,
            max_files_per_trigger=1, fence=True,
            snapshot_reads=4, lookups=10, changes_reads=3, setup_reps=3,
        ),
    )
}


def warmup_of(w: Workload) -> Workload:
    """A small copy of ``w`` that runs every code path, untimed: a small
    snapshot, and one tail file of the workload's size so the write path
    also warms up on a full-size batch."""
    return Workload(
        w.name + "_warmup", buckets=w.buckets, snapshot_events=2_000,
        tail_events=w.file_events, file_events=w.file_events,
        reship_share=0.0, max_files_per_trigger=w.max_files_per_trigger,
        fence=w.fence, snapshot_reads=1, lookups=3, changes_reads=1,
    )


@dataclass
class Inputs:
    snapshot_path: str
    snapshot_rows: int
    tail_dir: str
    tail_rows: int
    lookup_keys: list[tuple[str, str]]
    referee: Referee


def make_inputs(w: Workload, seed: int, work: str) -> Inputs:
    """Generate the workload's change log from ``seed`` and write the
    bootstrap snapshot and the mtime-ordered tail files under ``work``."""
    from tartare_spark.fixtures import (
        FixtureSpec,
        generate_change_events_fast,
        stamp_files_in_order,
    )

    spec = FixtureSpec(
        n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
        n_events=w.snapshot_events + w.tail_events, seed=seed,
    )
    events = generate_change_events_fast(spec)  # arrival order
    os.makedirs(work, exist_ok=True)

    con = duckdb.connect()
    snapshot = (
        lww(con, events, max_lsn=w.snapshot_events)
        .filter("op <> 'delete'")
        .select('repo, path, "commit", lang, content, lsn, ts')
        .arrow()
    )
    con.close()
    snapshot_path = os.path.join(work, "snapshot.parquet")
    pq.write_table(snapshot, snapshot_path)

    tail = events.filter(pc.greater(events["lsn"], w.snapshot_events))
    chunks = [
        tail.slice(i, w.file_events)
        for i in range(0, tail.num_rows, w.file_events)
    ]
    rng = np.random.default_rng(seed)
    n_reship = round(w.reship_share * len(chunks))
    candidates = len(chunks) - RESHIP_GAP
    reship = set(
        rng.choice(candidates, size=n_reship, replace=False).tolist()
    ) if n_reship else set()
    order: list[int] = []
    pending: dict[int, list[int]] = {}
    for i in range(len(chunks)):
        order.append(i)
        order.extend(pending.pop(i, []))
        if i in reship:
            pending.setdefault(i + RESHIP_GAP, []).append(i)
    tail_dir = os.path.join(work, "tail")
    os.makedirs(tail_dir)
    for n, i in enumerate(order):
        pq.write_table(chunks[i], os.path.join(tail_dir, f"tail-{n:05d}.parquet"))
    stamp_files_in_order(tail_dir)

    # lookup keys drawn from the events themselves, so they follow the
    # fixture's zipf repo skew; some are deleted keys (expect no row)
    picks = rng.choice(events.num_rows, size=w.lookups, replace=False)
    repos, paths = events["repo"].to_pylist(), events["path"].to_pylist()
    keys = [(repos[i], paths[i]) for i in picks.tolist()]
    return Inputs(
        snapshot_path=snapshot_path, snapshot_rows=snapshot.num_rows,
        tail_dir=tail_dir,
        tail_rows=sum(chunks[i].num_rows for i in order),
        lookup_keys=keys, referee=Referee(events),
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_round(spark, w: Workload, inp: Inputs, work: str, tag: str, tracer,
              rss=None, reads: bool = True) -> dict:
    """One round; returns its timings, counts and check results. With
    ``reads`` false the round sets up and writes only."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators import apply as apply_mod
    from tartare_spark.streaming import runner as runner_mod

    root = os.path.join(work, f"lake-{tag}")
    ckpt = os.path.join(work, f"ckpt-{tag}")
    out: dict = {"attempted": 0, "failed": 0, "errors": []}
    perf = time.perf_counter

    # -- set-up: fresh table + bootstrap of the initial snapshot, done
    # ``setup_reps`` times; the last table is the one the round uses
    out["setup_s"], out["bootstrap_s"] = [], []
    with tracer.span("phase.bootstrap", round=tag):
        for _ in range(w.setup_reps):
            shutil.rmtree(root, ignore_errors=True)
            t0 = perf()
            lake = LakeTable.create(root, num_buckets=w.buckets)
            tb = perf()
            out["attempted"] += 1
            apply_mod.bootstrap_load(
                spark, lake, spark.read.parquet(inp.snapshot_path), batch_id=0
            )
            out["bootstrap_s"].append(perf() - tb)
            out["setup_s"].append(perf() - t0)
    boot_version = int(lake.manifest()["version"])
    offset = lake.stream_batch_offset()
    data_before = dir_bytes(os.path.join(root, "data"))

    # -- write: the tail, through the streaming runner ------------------
    tw = perf()
    with tracer.span("phase.write", round=tag):
        try:
            with tracer.span("runner"):
                runner_mod.run_stream(
                    spark, inp.tail_dir, lake, ckpt,
                    max_files_per_trigger=w.max_files_per_trigger,
                    manifest_fence=w.fence,
                    fence_lateness=REORDER_HORIZON if w.fence else 0,
                )
        except Exception as e:  # noqa: BLE001 - a failed op, reported
            out["failed"] += 1
            out["errors"].append(f"run_stream: {e!r}")
    out["write_s"] = perf() - tw
    progress = read_jsonl(os.path.join(root, "_metrics", "progress.jsonl"))
    out["attempted"] += max(len(progress), 1)
    commit_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    out["commit_s"] = commit_s
    out["progress"] = progress
    out["offset"] = offset
    out["events_in"] = inp.tail_rows
    records = read_jsonl(os.path.join(root, "_metrics", "metrics.jsonl"))
    out["keys_committed"] = sum(
        int(r.get("rows", 0)) for r in records
        if r.get("batch_id", -1) >= offset and not r.get("maintenance")
        and not r.get("bootstrap") and not r.get("skipped")
    )
    out["data_bytes_written"] = dir_bytes(os.path.join(root, "data")) - data_before
    m = lake.manifest()
    deltas = [fl for fl in m.get("deltas", {}).values() if fl]
    out["dirty_bucket_share"] = len(deltas) / w.buckets
    out["delta_depth_max"] = max((len(fl) for fl in deltas), default=0)
    out["files_per_read"] = sum(len(fl) for fl in m["files"].values()) + sum(
        len(fl) for fl in deltas
    )

    # -- read: snapshot count, point lookups, change feed ----------------
    n_snap, keys, n_chg = (
        (w.snapshot_reads, inp.lookup_keys, w.changes_reads) if reads else (0, [], 0)
    )
    snap_s, look_s, chg_s = [], [], []
    looked: list = []
    n_changes = None
    tr = perf()
    with tracer.span("phase.read", round=tag):
        try:
            for _ in range(n_snap):
                out["attempted"] += 1
                with tracer.span("lake.snapshot"):
                    t = perf()
                    lake.snapshot(spark).count()
                    snap_s.append(perf() - t)
            for repo, path in keys:
                out["attempted"] += 1
                with tracer.span("lake.lookup"):
                    t = perf()
                    rows = lake.lookup(spark, repo, path).collect()
                    look_s.append(perf() - t)
                looked.append(rows)
            for _ in range(n_chg):
                out["attempted"] += 1
                with tracer.span("lake.changes"):
                    t = perf()
                    n_changes = lake.changes(spark, boot_version).count()
                    chg_s.append(perf() - t)
        except Exception as e:  # noqa: BLE001
            out["failed"] += 1
            out["errors"].append(f"read: {e!r}")
    out["read_s"] = perf() - tr
    out.update(snapshot_s=snap_s, lookup_s=look_s, changes_s=chg_s)
    out["measured_s"] = sum(out["setup_s"]) + out["write_s"] + out["read_s"]

    # -- check (untimed) --------------------------------------------------
    if rss is not None:
        rss.pause()
    try:
        out["check"] = check_round(
            spark, lake, inp, reads, keys, looked, n_changes, out
        )
    except Exception as e:  # noqa: BLE001
        out["failed"] += 1
        out["errors"].append(f"check: {e!r}")
        out["check"] = {"ok": False}
    if rss is not None:
        rss.resume()
    live = out["check"].get("engine_rows") or 0
    out["bytes_per_live_row"] = (
        sum(os.path.getsize(f) for fl in list(m["files"].values()) + deltas for f in fl)
        / live if live else 0.0
    )
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def check_round(spark, lake, inp: Inputs, reads: bool, keys: list,
                looked: list, n_changes, out: dict) -> dict:
    """Compare the round's table with the referee: snapshot per-key
    ``(lsn, sha256)``, every lookup of ``keys``, and the change-feed row
    count when the round read it."""
    engine = lake.snapshot(spark).select(
        "repo", "path", "_lsn", "_content_sha"
    ).toArrow()
    res = inp.referee.snapshot_mismatches(engine)
    snap_ok = (
        res["engine_rows"] == res["expected_rows"]
        and res["duplicate_keys"] == 0 and res["differing_keys"] == 0
    )
    if not snap_ok:
        out["failed"] += 1
        out["errors"].append(f"snapshot differs from referee: {res}")

    bad_lookups, lookups_ok, changes_ok = 0, True, True
    if reads:
        expected = inp.referee.rows_for(keys)
        for key, rows in zip(keys, looked):
            want = expected.get(key)
            got = [(r["_lsn"], r["_content_sha"]) for r in rows]
            if got != ([want] if want else []):
                bad_lookups += 1
        lookups_ok = not bad_lookups and len(looked) == len(keys)
        if not lookups_ok:
            out["failed"] += max(bad_lookups, 1)
            out["errors"].append(f"{bad_lookups} lookups differ from referee")
        changes_ok = n_changes == out["keys_committed"]
        if not changes_ok:
            out["failed"] += 1
            out["errors"].append(
                f"changes() returned {n_changes} rows, "
                f"{out['keys_committed']} committed since bootstrap"
            )
    res.update(
        ok=bool(snap_ok and lookups_ok and changes_ok),
        bad_lookups=bad_lookups, changes_rows=n_changes,
    )
    return res
