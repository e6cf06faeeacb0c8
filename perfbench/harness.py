"""Shared machinery of the benchmark: session, clocks, tracing, sampling.

The engine's code is not modified.  Spans are recorded by wrapping the
engine's public entry points (``CdcSink.apply``, ``LakeTable.apply_batch``,
``LakeTable.compact``, ``SnapshotLog.commit``) from outside for the length
of one run, and are kept in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time

# Spark cores and shuffle partitions: small and fixed, so runs on
# different hosts do the same work with the same parallelism.
CORES = max(1, min(4, os.cpu_count() or 1))
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEMORY = "1g"
# how often the peak-memory sampler reads /proc
RSS_INTERVAL_S = 0.2


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def hi_percentile(values) -> dict:
    """The highest percentile with at least ten samples beyond it.

    With ``n`` sorted samples that is the value at rank ``n - 11`` (0-based),
    i.e. percentile ``100 * (n - 10) / n``.  With fewer than 11 samples no
    such percentile exists; the maximum is returned and ``pct`` is 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return {"value": 0.0, "pct": 0.0, "n": 0}
    if n < 11:
        return {"value": float(v[-1]), "pct": 100.0, "n": n}
    return {"value": float(v[n - 11]), "pct": round(100.0 * (n - 10) / n, 1), "n": n}


class Tracer:
    """In-memory spans: name, start, end, parent and an id per batch/read.

    Disabled tracers cost one attribute test per call site, so the same
    code path runs with tracing off (the end-to-end runs)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, sid=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {
            "name": name,
            "id": sid,
            "parent": stack[-1]["name"] if stack else None,
            "parent_id": stack[-1]["id"] if stack else None,
            "start": time.time(),
            "start_mono": time.monotonic(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            rec["ms"] = (time.monotonic() - rec["start_mono"]) * 1000.0
            self.spans.append(rec)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` (default: this process) and its live descendants.  Unlike
    wall time, this does not count time the hypervisor withheld."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


class RssSampler:
    """Peak resident memory of this process plus all its descendants (the
    Spark driver JVM and its Python workers), sampled from /proc.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): Spark's Python workers are forked from one daemon
    and share most pages with it, so summing plain RSS would count those
    pages once per worker."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss_kb(root: int) -> int:
        total = 0
        for pid in process_tree(root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb(me))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate CPU tick counters of the host (the ``cpu`` line of
    /proc/stat); the 8th field is time stolen by the hypervisor."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def start_spark(work: str, trace: bool):
    """One local SparkSession whose every file lives under ``work``."""
    from etl_spark.config import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        "perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EngineHooks:
    """Wraps engine entry points for one run and restores them after.

    Always on (the end-to-end metrics need it): every ``SnapshotLog.commit``
    return is recorded with its clock time, version, operation and
    watermarks.  Freshness is timed from that return, never from
    ``Snapshot.ts``, which is stamped before the merge runs.

    With tracing on, spans are added around ``CdcSink.apply``,
    ``LakeTable.apply_batch``, ``LakeTable.compact`` and the commit, and
    the entry and exit times of each call are kept for attribution."""

    def __init__(self, tracer: Tracer):
        from etl_spark.catalog.snapshot import SnapshotLog
        from etl_spark.catalog.table import LakeTable
        from etl_spark.streaming.sink import CdcSink

        self.commits: list[dict] = []
        self.sink_calls: list[dict] = []
        self.apply_calls: list[dict] = []
        self.compactions: list[dict] = []
        self._saved = []
        hooks = self

        orig_commit = SnapshotLog.commit

        def commit(log_self, snap, expect_parent):
            t0 = time.monotonic()
            with tracer.span("catalog.snapshot_commit", snap.version, op=snap.op):
                orig_commit(log_self, snap, expect_parent)
            rec = {
                "t": time.monotonic(),
                "ms": (time.monotonic() - t0) * 1000.0,
                "root": log_self.root,
                "version": snap.version,
                "op": snap.op,
                "wm": {int(k): int(v) for k, v in snap.watermarks.items()},
            }
            if tracer.enabled:
                rec["files"] = {
                    e.path: e.bytes for e in list(snap.files) + list(snap.delta_files)
                }
            hooks.commits.append(rec)

        self._patch(SnapshotLog, "commit", commit)
        if not tracer.enabled:
            return

        orig_apply = CdcSink.apply

        def apply(sink_self, batch_df, batch_id):
            rec = {
                "sink": id(sink_self),
                "epoch": batch_id,
                "t_enter": time.monotonic(),
                "w_enter": time.time(),
            }
            hooks.sink_calls.append(rec)
            with tracer.span("streaming.sink_apply", batch_id):
                orig_apply(sink_self, batch_df, batch_id)
            rec["t_exit"], rec["w_exit"] = time.monotonic(), time.time()

        self._patch(CdcSink, "apply", apply)

        orig_apply_batch = LakeTable.apply_batch

        def apply_batch(tbl_self, batch_df, batch_id, *a, **kw):
            t0 = time.monotonic()
            with tracer.span("catalog.apply_batch", batch_id):
                out = orig_apply_batch(tbl_self, batch_df, batch_id, *a, **kw)
            hooks.apply_calls.append({"t0": t0, "t1": time.monotonic()})
            return out

        self._patch(LakeTable, "apply_batch", apply_batch)

        orig_compact = LakeTable.compact

        def compact(tbl_self, *a, **kw):
            t0 = time.monotonic()
            with tracer.span("catalog.compact"):
                out = orig_compact(tbl_self, *a, **kw)
            hooks.compactions.append(
                {
                    "t0": t0,
                    "t1": time.monotonic(),
                    "bytes": int(out.get("rewrote_bytes", 0) or 0),
                }
            )
            return out

        self._patch(LakeTable, "compact", compact)

    def _patch(self, cls, name: str, fn) -> None:
        self._saved.append((cls, name, cls.__dict__[name]))
        setattr(cls, name, fn)

    def restore(self) -> None:
        for cls, name, fn in reversed(self._saved):
            setattr(cls, name, fn)
        self._saved.clear()


# ---------------------------------------------------------------------- #
# inputs and tables
# ---------------------------------------------------------------------- #


def write_segments(
    rows: list[dict], n: int, dup_pct: int, out_dir: str, seed: int
) -> list[dict]:
    """Write ``rows`` as ``n`` seq-ordered segments with duplicates; returns
    per segment its path, rows and per-partition max seq."""
    from etl_spark.fixtures_local import assign_batches, write_batches

    batches = assign_batches(rows, n, order="seq", duplicate_pct=dup_pct, seed=seed)
    paths = write_batches(batches, out_dir)
    segs = []
    for p, b in zip(paths, batches):
        wm: dict[int, int] = {}
        for r in b:
            wm[r["part_id"]] = max(wm.get(r["part_id"], -1), r["seq"])
        segs.append({"path": p, "rows": b, "wm": wm, "bytes": os.path.getsize(p)})
    return segs


def disk_bytes(table) -> int:
    snap = table.snapshot()
    return sum(
        os.path.getsize(os.path.join(table.root, e.path))
        for e in list(snap.files) + list(snap.delta_files)
    )


# ---------------------------------------------------------------------- #
# Spark event log (traced runs only)
# ---------------------------------------------------------------------- #

_PY_BYTES = "data sent to Python workers"


def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the (single) event log file in ``log_dir``.

    Times are epoch milliseconds, comparable with span ``start``/``end``
    (epoch seconds)."""
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(log_dir)
        for f in sorted(names)
        if not f.startswith(".") and not f.startswith("appstatus")
    ]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for name in files:
        with open(name) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"t": ev["Submission Time"], "stages": ev["Stage IDs"]}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    py = sum(
                        int(a.get("Update", 0) or 0)
                        for a in info.get("Accumulables", [])
                        if a.get("Name") == _PY_BYTES
                    )
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "t0": info["Launch Time"],
                            "t1": info["Finish Time"],
                            "shuffle_read": int(sr.get("Remote Bytes Read", 0))
                            + int(sr.get("Local Bytes Read", 0)),
                            "shuffle_write": int(sw.get("Shuffle Bytes Written", 0)),
                            "spill": int(m.get("Memory Bytes Spilled", 0))
                            + int(m.get("Disk Bytes Spilled", 0)),
                            "input": int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                            "py_bytes": py,
                        }
                    )
    for t in tasks:
        t["job_t"] = jobs.get(stage_job.get(t["stage"], -1), {}).get("t", t["t0"])
    return {"jobs": jobs, "tasks": tasks}


def _within(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    s = t_ms / 1000.0
    return any(a <= s <= b for a, b in windows)


def spark_rollup(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Event-log totals for the jobs submitted inside ``windows`` (epoch
    seconds): job and task counts, shuffle/spill/input/Python bytes, task
    skew and the share of core time that ran tasks."""
    jobs = [j for j in log["jobs"].values() if _within(j["t"], windows)]
    tasks = [t for t in log["tasks"] if _within(t["job_t"], windows)]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(max(0, t["t1"] - t["t0"]))
    skews = [
        max(d) / max(1.0, statistics.median(d))
        for d in by_stage.values()
        if len(d) >= 2
    ]
    wall = sum(b - a for a, b in windows) * 1000.0
    task_ms = sum(max(0, t["t1"] - t["t0"]) for t in tasks)
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "input_bytes": sum(t["input"] for t in tasks),
        "python_bytes_sent": sum(t["py_bytes"] for t in tasks),
        "task_skew": median(skews) if skews else 1.0,
        "busy_frac": task_ms / (CORES * wall) if wall > 0 else 0.0,
    }


# ---------------------------------------------------------------------- #
# result checking
# ---------------------------------------------------------------------- #


def canon_cell(v) -> str:
    """Engine-independent rendering of one result cell (numpy scalars to
    Python, NaN as null, -0.0 as 0.0, dates as ISO), so Spark and DuckDB
    results of one query hash equal exactly when their values are equal.
    The rules are those of the oracle parity test's cell canonicalization
    (``tests/test_oracle_parity.py``), whose module cannot be imported here
    because it materializes every oracle at import."""
    import datetime

    item = getattr(v, "item", None)
    if item is not None and type(v).__module__ == "numpy":
        v = item()
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == datetime.time():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return f"{type(v).__name__}:{v!r}"


def frame_digest(pdf) -> str:
    """Order-insensitive sha256 of a pandas frame: column names sorted,
    rows canonicalized and sorted."""
    import hashlib

    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(canon_cell(c) for c in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode("utf-8"))
    return h.hexdigest()
