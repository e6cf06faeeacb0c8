"""Workload ``ingest``: bulk catch-up replay, then an open-loop tail.

Both loops drive the engine only through its public API
(``run_tailer``, ``LakeTable``); the engine sees only generated inputs.

1. Replay loop (closed, one pass at a time).  A seq-ordered change log of
   ``REPLAY_EVENTS`` events in ``REPLAY_SEGMENTS`` large parquet segments
   (about 1 KB of content per event, a 20% hot repo, 5% at-least-once
   duplicates) is replayed by ``run_tailer(mode="replay")``
   (``availableNow``) into a fresh ``write_mode="auto"`` table, which
   picks copy-on-write at this shape.  ``REPLAY_PASSES`` passes run, each
   into a fresh table; ``pass_s`` is the median pass time.

2. Tail loop (open, one segment of ``TAIL_SEGMENT_EVENTS`` events every
   ``TAIL_INTERVAL_S`` for the measured seconds).  The last replay table becomes the base of a
   ``run_tailer(mode="tail")`` stream with a zero-second trigger.  The
   generator moves pre-written segments into the watched directory with
   ``os.replace`` on a fixed schedule that does not slow when the engine
   does.  Each segment's freshness runs from the moment it was due until
   the ``SnapshotLog.commit`` call returns whose snapshot watermarks first
   cover all of its events.  The offered rate keeps the engine busy: each
   micro-batch takes every segment that has landed, so freshness samples
   come in groups, one group per micro-batch.  A delta-file cap of two
   makes debt-triggered compaction run whenever a micro-batch leaves more
   than two delta files pending.  The two warm-up segments leave two
   pending, so the first measured micro-batch compacts.  Compaction is
   bounded to the buckets with the most debt and leaves one delta file
   pending, so it then runs in about every other micro-batch.  A run
   without a compaction fails.

Correctness, checked after the timed loops: every replay table and the
final tail table equal ``oracle.state_digest(oracle.replay_events(...))``
over exactly the events offered to them (content-hash equality).
"""

from __future__ import annotations

import os
import time

import pandas as pd

from harness import (
    disk_bytes,
    hi_percentile,
    median,
    read_event_log,
    spark_rollup,
    tree_cpu_s,
    write_segments,
)

REPLAY_EVENTS = 12_000
REPLAY_SEGMENTS = 3
REPLAY_PASSES = 3
WARMUP_EVENTS = 2_000
TAIL_SEGMENT_EVENTS = 20
TAIL_INTERVAL_S = 0.2
TAIL_WARMUP_SEGMENTS = 2
FIXTURE = dict(n_repos=50, paths_per_repo=200, hot_pct=20, content_bytes=1024)
DUP_PCT = 5
TABLE = dict(n_buckets=8, salt=4, write_mode="auto", mor_max_delta_files=2)
DRAIN_TIMEOUT_S = 60.0


def _oracle_digest(rows: list[dict]) -> tuple[str, int]:
    """State digest of the oracle's replay, and its live content bytes."""
    from etl_spark import oracle

    state = oracle.replay_events(pd.DataFrame(rows))
    live = int(sum(len(c.encode("utf-8")) for c in state["content"] if c is not None))
    return oracle.state_digest(state), live


def _table_digest(table, version: int | None = None) -> str:
    from etl_spark import oracle

    df = table.read(version=version).select(*oracle.FINAL_COLUMNS)
    return oracle.state_digest(df.toPandas())


def _covered(wm: dict[int, int], seg_wm: dict[int, int]) -> bool:
    return all(wm.get(p, -1) >= s for p, s in seg_wm.items())


def run(ctx) -> dict:
    from etl_spark.catalog.table import LakeTable
    from etl_spark.fixtures_local import gen_events
    from etl_spark.streaming.tailer import run_tailer

    spark, work, seed, tracer, hooks = ctx.spark, ctx.work, ctx.seed, ctx.tracer, ctx.hooks
    tail_s = ctx.seconds
    n_tail = TAIL_WARMUP_SEGMENTS + int(tail_s / TAIL_INTERVAL_S) + 1

    # ---- setup: inputs, warm-up, everything the timed loops reuse -------- #
    warm_rows = gen_events(WARMUP_EVENTS, seed=seed + 7919, **FIXTURE)
    write_segments(warm_rows, 2, DUP_PCT, os.path.join(work, "warm_src"), seed)
    replay_rows = gen_events(REPLAY_EVENTS, seed=seed, **FIXTURE)
    replay_segs = write_segments(
        replay_rows, REPLAY_SEGMENTS, DUP_PCT, os.path.join(work, "replay_src"), seed
    )
    tail_rows = gen_events(
        n_tail * TAIL_SEGMENT_EVENTS, seed=seed, start_seq=REPLAY_EVENTS, **FIXTURE
    )
    tail_segs = write_segments(
        tail_rows, n_tail, DUP_PCT, os.path.join(work, "tail_staging"), seed
    )
    # warm-up: one small replay pays JIT/codegen and Python-worker start
    wt = LakeTable.create(spark, os.path.join(work, "warm_table"), **TABLE)
    ctx.log("inputs written")
    run_tailer(wt, os.path.join(work, "warm_src"), os.path.join(work, "warm_ckpt"), mode="replay")
    ctx.setup_done()
    ctx.log("setup done")

    # ---- timed loop 1: bulk replay passes -------------------------------- #
    passes: list[dict] = []
    for i in range(REPLAY_PASSES):
        root = os.path.join(work, f"replay_table_{i}")
        w0, t0, cpu0 = time.time(), time.monotonic(), tree_cpu_s()
        with tracer.span("replay.pass", i):
            table = LakeTable.create(spark, root, **TABLE)
            _, sink = run_tailer(
                table, os.path.join(work, "replay_src"),
                os.path.join(work, f"replay_ckpt_{i}"), mode="replay",
            )
        passes.append(
            {
                "s": time.monotonic() - t0,
                "cpu_s": tree_cpu_s() - cpu0,
                "sink": id(sink),
                "window": (w0, time.time()),
                "table": table,
                "version": table.log.current_version(),
                "stats": [s for s in sink.applied if not s.get("skipped")],
            }
        )
    table = passes[-1]["table"]
    ctx.log(f"replay loop done: {len(passes)} passes")

    # ---- setup (untimed): start the tail stream and warm its batch path -- #
    t_setup = time.monotonic()
    src = os.path.join(work, "tail_src")
    os.makedirs(src)
    q, sink = run_tailer(
        table, src, os.path.join(work, "tail_ckpt"), mode="tail",
        processing_interval="0 seconds", await_termination=False,
    )

    def drop(seg: dict) -> float:
        name = os.path.basename(seg["path"])
        os.utime(seg["path"])
        os.replace(seg["path"], os.path.join(src, name))
        return time.monotonic()

    def wait_covered(segs: list[dict], deadline: float) -> bool:
        while time.monotonic() < deadline:
            last = next((c for c in reversed(hooks.commits) if c["root"] == table.root), None)
            if last and all(_covered(last["wm"], s["wm"]) for s in segs):
                return True
            if q.exception() is not None:
                return False
            time.sleep(0.02)
        return False

    for seg in tail_segs[:TAIL_WARMUP_SEGMENTS]:
        drop(seg)
        wait_covered([seg], time.monotonic() + DRAIN_TIMEOUT_S)
    ctx.add_setup(time.monotonic() - t_setup)
    ctx.log("tail stream warm")

    # ---- timed loop 2: open-loop tail ------------------------------------ #
    measured = tail_segs[TAIL_WARMUP_SEGMENTS:]
    n_commits0 = len(hooks.commits)
    n_warm = len(sink.applied)
    t_start = time.monotonic() + 0.05
    dropped: list[dict] = []
    late_ms: list[float] = []
    for k, seg in enumerate(measured):
        due = t_start + k * TAIL_INTERVAL_S
        if due - t_start >= tail_s:
            break
        pause = due - time.monotonic()
        if pause > 0:
            time.sleep(pause)
        seg["due"] = due
        late_ms.append((drop(seg) - due) * 1000.0)
        dropped.append(seg)
    t_end = t_start + tail_s
    pause = t_end - time.monotonic()
    if pause > 0:
        time.sleep(pause)

    def first_cover(seg: dict):
        for c in hooks.commits[n_commits0:]:
            if c["root"] == table.root and _covered(c["wm"], seg["wm"]):
                return c
        return None

    backlog_end = sum(
        1 for s in dropped
        if (c := first_cover(s)) is None or c["t"] > t_end
    )
    half = t_start + tail_s / 2
    backlog_half = sum(
        1 for s in dropped
        if s["due"] <= half and ((c := first_cover(s)) is None or c["t"] > half)
    )
    ctx.log(f"tail loop done: {len(dropped)} segments, backlog {backlog_end}")
    wait_covered(dropped, time.monotonic() + DRAIN_TIMEOUT_S)
    q.stop()
    ctx.log("tail drained")
    stream_error = q.exception()
    tail_progress = _progress(q)
    tail_stats = [s for s in sink.applied[n_warm:] if not s.get("skipped")]

    # ---- correctness (untimed) ------------------------------------------ #
    failed = 0
    replay_digest, _ = _oracle_digest(replay_rows)
    for p in passes:
        if _table_digest(p["table"], p["version"]) != replay_digest:
            failed += 1
    fresh_ms: list[float] = []
    for seg in dropped:
        c = first_cover(seg)
        seg["commit"] = c
        if c is None:
            failed += 1
        else:
            fresh_ms.append((c["t"] - seg["due"]) * 1000.0)
    offered = replay_rows + [
        r for s in tail_segs[:TAIL_WARMUP_SEGMENTS] + dropped for r in s["rows"]
    ]
    tail_digest, live_bytes = _oracle_digest(offered)
    final_ok = stream_error is None and _table_digest(table) == tail_digest
    if not final_ok:
        failed += len(dropped) - sum(1 for s in dropped if s["commit"] is None)
    attempted = len(passes) + len(dropped)
    compactions = sum(1 for s in tail_stats if s.get("compacted"))
    ctx.log(f"checked: {failed} failed of {attempted}, {compactions} compactions")

    hi = hi_percentile(fresh_ms)
    pass_s = median([p["s"] for p in passes])
    out = {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and compactions > 0,
        "e2e": {
            "latency_p50_ms": median(fresh_ms),
            "latency_hi_ms": hi["value"],
            "pass_s": pass_s,
            "space_amp": disk_bytes(table) / max(1, live_bytes),
        },
        "report": {
            "replay_events_per_s": REPLAY_EVENTS / pass_s,
            "replay_passes": len(passes),
            "cpu_s_per_pass": median([p["cpu_s"] for p in passes]),
            "freshness_p50_ms": median(fresh_ms),
            "freshness_hi_ms": hi["value"],
            "freshness_hi_pct": hi["pct"],
            "freshness_n": hi["n"],
            "tail_segments": len(dropped),
            "tail_offered_events_per_s": TAIL_SEGMENT_EVENTS / TAIL_INTERVAL_S,
            "tail.generator_late_ms_max": max(late_ms) if late_ms else 0.0,
            "tail.backlog_segments_half": backlog_half,
            "tail.backlog_segments_end": backlog_end,
            # a backlog of about one batch's worth of segments is normal
            # pipelining; more than that on top of the mid-run backlog is growth
            "backlog_grew": backlog_end > backlog_half + len(dropped) / max(1, len(tail_stats)),
            "tail_batches": len(tail_stats),
            "tail_compactions": compactions,
        },
    }
    if tracer.enabled:
        tail = {
            "sink": id(sink),
            "n_warm": n_warm,
            "stats": sink.applied[n_warm:],
            "progress": tail_progress,
            "root": table.root,
            "t_start": t_start,
            "dropped": dropped,
        }
        out["layers"] = lambda: _layers(ctx, passes, replay_segs, tail, late_ms, backlog_end)
    return out


def _layers(ctx, passes, replay_segs, tail, late_ms, backlog_end) -> dict:
    hooks = ctx.hooks
    log = read_event_log(os.path.join(ctx.work, "eventlog"))
    m: dict[str, float] = {}

    def calls_of(sink_id: int) -> list[dict]:
        return [c for c in hooks.sink_calls if c["sink"] == sink_id]

    def inside(c: dict, t0: float, t1: float) -> bool:
        return c["t_enter"] <= t0 and t1 <= c["t_exit"]

    # replay loop: one value per pass, median across passes
    seg_rows = sum(len(s["rows"]) for s in replay_segs)
    seg_bytes = sum(s["bytes"] for s in replay_segs)
    per_pass: list[dict] = []
    for p in passes:
        st, calls = p["stats"], calls_of(p["sink"])
        events = sum(s.get("events", 0) for s in st)
        roll = spark_rollup(log, [p["window"]])
        per_pass.append(
            {
                "replay.sink_apply_ms": sum(c["t_exit"] - c["t_enter"] for c in calls) * 1000.0,
                "replay.apply_batch_ms": sum(
                    a["t1"] - a["t0"] for a in hooks.apply_calls
                    if any(inside(c, a["t0"], a["t1"]) for c in calls)
                ) * 1000.0,
                **_phases(st, "replay", sum),
                "replay.mor_batch_frac": sum(s.get("mode") == "mor" for s in st) / max(1, len(st)),
                "replay.bytes_written_per_input_byte": _written_bytes(
                    [c for c in hooks.commits if c["root"] == p["table"].root]
                ) / max(1, seg_bytes),
                "operators.admitted_frac": events / max(1, seg_rows),
                "operators.lww_keys_per_event": sum(s.get("delta_keys", 0) for s in st)
                / max(1, events),
                "functions.python_bytes_sent": roll["python_bytes_sent"],
                **{
                    f"spark.{k}": roll[k]
                    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                              "input_bytes", "task_skew", "busy_frac")
                },
            }
        )
    for k in per_pass[0]:
        m[k] = median([pp[k] for pp in per_pass])
    m["process.cpu_s_per_pass"] = median([p["cpu_s"] for p in passes])

    # tail loop: one value per micro-batch after the warm-up (drain
    # included), median across them; calls and stats align one to one
    calls = calls_of(tail["sink"])[tail["n_warm"]:]
    batches = []
    for c, st in zip(calls, tail["stats"]):
        if st.get("skipped"):
            continue
        apply_ms = sum(
            a["t1"] - a["t0"] for a in hooks.apply_calls if inside(c, a["t0"], a["t1"])
        ) * 1000.0
        comp = [x for x in hooks.compactions if inside(c, x["t0"], x["t1"])]
        comp_ms = sum(x["t1"] - x["t0"] for x in comp) * 1000.0
        phase_ms = sum(float(v) for v in st.get("phases", {}).values()) * 1000.0
        sink_ms = (c["t_exit"] - c["t_enter"]) * 1000.0
        batches.append(
            {
                "call": c,
                "stats": st,
                "sink_ms": sink_ms,
                "apply_ms": apply_ms,
                "sink_self_ms": sink_ms - apply_ms,
                "apply_self_ms": apply_ms - phase_ms - comp_ms,
                "compactions": comp,
                "commit_ms": [
                    x["ms"] for x in hooks.commits
                    if x["root"] == tail["root"] and c["t_enter"] <= x["t"] <= c["t_exit"]
                ],
            }
        )
    st = [b["stats"] for b in batches]
    comps = [x for b in batches for x in b["compactions"]]
    # a segment's micro-batch is the one during which the commit that
    # first covered it returned
    pickup = []
    for seg in tail["dropped"]:
        cov = seg["commit"]
        b = cov and next(
            (b for b in batches if b["call"]["t_enter"] <= cov["t"] <= b["call"]["t_exit"]),
            None,
        )
        if b:
            pickup.append((b["call"]["t_enter"] - seg["due"]) * 1000.0)
    epochs = {b["call"]["epoch"] for b in batches}
    prog = [p for p in tail["progress"] if p.get("batchId") in epochs]
    roll = spark_rollup(log, [(b["call"]["w_enter"], b["call"]["w_exit"]) for b in batches])
    n_b = max(1, len(batches))
    sink_ms = [b["sink_ms"] for b in batches]
    m.update(
        {
            "streaming.pickup_ms.p50": median(pickup),
            "streaming.pickup_ms.hi": hi_percentile(pickup)["value"],
            "streaming.sink_apply_ms.p50": median(sink_ms),
            "streaming.sink_apply_ms.hi": hi_percentile(sink_ms)["value"],
            "streaming.sink_self_ms": median([b["sink_self_ms"] for b in batches]),
            "sources.latest_offset_ms": median(
                [p["durationMs"].get("latestOffset", 0) for p in prog]
            ),
            "sources.wal_commit_ms": median([p["durationMs"].get("walCommit", 0) for p in prog]),
            "catalog.apply_batch_ms": median([b["apply_ms"] for b in batches]),
            "catalog.apply_batch_self_ms": median([b["apply_self_ms"] for b in batches]),
            **_phases(st, "catalog", median),
            "catalog.snapshot_commit_ms": median([x for b in batches for x in b["commit_ms"]]),
            "catalog.mor_batch_frac": sum(s.get("mode") == "mor" for s in st) / n_b,
            "catalog.compactions": len(comps),
            "catalog.compact_ms": median([(x["t1"] - x["t0"]) * 1000.0 for x in comps]),
            "catalog.compact_bytes": sum(x["bytes"] for x in comps),
            "catalog.files_rewritten": median([s.get("rewrote_files", 0) for s in st]),
            "catalog.files_carried": median([s.get("carried_files", 0) for s in st]),
            "catalog.files_new": median([s.get("new_files", 0) for s in st]),
            "catalog.delta_files_pending_end": st[-1].get("delta_files_pending", 0) if st else 0,
            "catalog.bytes_written_per_input_byte": _written_bytes(
                [c for c in hooks.commits if c["root"] == tail["root"]],
                after=tail["t_start"],
            ) / max(1, sum(s["bytes"] for s in tail["dropped"])),
            "spark.jobs_per_batch": roll["jobs"] / n_b,
            "spark.tasks_per_batch": roll["tasks"] / n_b,
            "tail.generator_late_ms_max": max(late_ms) if late_ms else 0.0,
            "tail.backlog_segments_end": backlog_end,
        }
    )
    ctx.trace_extra["span_kinds"] = {
        kind: spark_rollup(log, [(s["start"], s["end"]) for s in ctx.tracer.of(kind)])
        for kind in (
            "replay.pass", "streaming.sink_apply", "catalog.apply_batch", "catalog.compact"
        )
    }
    # where freshness goes, per tail segment and batch (medians)
    ctx.trace_extra["tail_accounting_ms"] = {
        "freshness_p50": median(
            [(s["commit"]["t"] - s["due"]) * 1000.0 for s in tail["dropped"] if s["commit"]]
        ),
        "pickup_p50": median(pickup),
        "sink_apply_p50": median(sink_ms),
        "sink_self_p50": m["streaming.sink_self_ms"],
        "apply_batch_p50": m["catalog.apply_batch_ms"],
        "apply_batch_self_p50": m["catalog.apply_batch_self_ms"],
        "phases_p50": {k: v for k, v in m.items() if k.startswith("catalog.phase.")},
        "compact_ms_per_batch_mean": sum((x["t1"] - x["t0"]) * 1000.0 for x in comps) / n_b,
        "segments_per_batch": len(tail["dropped"]) / n_b,
    }
    return m


def _phases(stats: list[dict], prefix: str, agg) -> dict:
    names = ["stats_job", "stage_delta", "bucket_job", "merge_write", "scan_written", "commit"]
    return {
        f"{prefix}.phase.{n}_ms": agg(
            [float(s.get("phases", {}).get(n, 0.0)) * 1000.0 for s in stats]
        )
        for n in names
    }


def _written_bytes(commits: list[dict], after: float = 0.0) -> int:
    """Bytes of the data files each commit of one table added over its
    predecessor, summed over the commits that returned after ``after``."""
    total, prev = 0, {}
    for c in commits:
        files = c.get("files", {})
        if c["t"] > after:
            total += sum(b for p, b in files.items() if p not in prev)
        prev = files
    return total


def _progress(q) -> list[dict]:
    import json

    return [json.loads(p.json) for p in q.recentProgress]
