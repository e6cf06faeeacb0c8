"""Workload ``serve``: a closed loop of lake-table reads and headline queries.

One client issues one operation at a time and waits for its result; no
operation writes.  Setup builds, with the engine's own writes
(``LakeTable.apply_batch``), a ``write_mode="auto"`` table with history:
one large copy-on-write base batch, then small batches that the engine
routes to merge-on-read deltas and leaves pending.  It also writes the
star-schema tables the headline queries read (``querydata.py``).

A round is a seeded permutation of a fixed mix:

* ``POINT_READS`` × ``read(repo=)``  (manifest load, bucket pruning, the
  base ∪ delta resolve window on one bucket),
* ``TIME_TRAVEL_READS`` × ``read(version=k)``,
* ``CHANGELOG_READS`` × ``read_changes(a, b)``,
* ``SCAN_READS`` × full ``read()``,
* every query of ``HEADLINE`` once (``ops/`` and ``queries/``).

Each operation ends in an action that brings its result to the driver.
Rounds repeat, always whole, until the measured time is used and at
least ``MIN_ROUNDS`` have run; one more round runs in setup as a
warm-up.  ``latency_p50_ms`` and ``latency_hi_ms`` are taken over all
operations.  ``pass_s``, the time of one pass over the query suite, is
the sum over the queries of each query's median time across rounds.

Correctness, checked after the timed loop: each read equals the oracle's
state for the batch prefix its version covers (and its repo), each
changelog equals the diff of two prefixes, and each query result equals
its DuckDB oracle, all by content hash.  A table left without pending
merge-on-read deltas fails the run, because the reads would then not
exercise the base ∪ delta window.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd

from harness import (
    disk_bytes,
    frame_digest,
    hi_percentile,
    median,
    read_event_log,
    spark_rollup,
    tree_cpu_s,
    write_segments,
)
from querydata import TABLES, write_tables

# Headline queries, pinned here so that editing ``bench.py`` cannot change
# the benchmark.  ``bench.py``'s HEADLINE has 14; a warm pass of all 14
# plus their cold warm-up would take about half of a run's time budget, so
# this is the subset with one query per operator family and ops module:
# aggregation, a five-way join and a window (queries/relational.py), LWW
# over the click log (queries/cdc.py), text quality (ops/text.py), MinHash
# LSH (ops/dedup.py), cosine top-k (ops/similarity.py) and the secret-scan
# iterator UDF with its anti-join (ops/secrets.py).
HEADLINE = [
    "agg_pricing_summary",
    "join_region_revenue",
    "window_top3_orders",
    "cdc_lww_latest_state",
    "docs_quality",
    "dedup_minhash_lsh_pairs",
    "ann_cosine_topk",
    "docs_redact_clean",
]
READ_KINDS = ["point", "time_travel", "changelog", "scan"]
POINT_READS = 4
TIME_TRAVEL_READS = 2
CHANGELOG_READS = 1
SCAN_READS = 1
MIN_ROUNDS = 2
BASE_EVENTS = 2_000
DELTA_BATCHES = 2
DELTA_EVENTS = 200
FIXTURE = dict(n_repos=50, paths_per_repo=200, hot_pct=20, content_bytes=1024)
DUP_PCT = 5
TABLE = dict(n_buckets=8, salt=4, write_mode="auto")
STATE_COLS = ["repo", "path", "commit", "lang", "content_sha"]
CHANGE_COLS = ["change_op", "repo", "path", "content_sha"]


class Oracle:
    """Expected table state after every batch prefix.

    Each event's canonical row (normalized content, tagged lang, sha256)
    comes from ``oracle.replay_events`` run once over all events, each
    under its own key; last-write-wins by seq over each prefix then gives
    the state.  The final prefix is cross-checked against a plain
    ``oracle.replay_events`` of all events, so the prefix states rest on
    the oracle's own semantics."""

    def __init__(self, segments: list[dict]):
        from etl_spark import oracle

        events = [r for s in segments for r in s["rows"]]
        per_event = pd.DataFrame(events).drop_duplicates("seq")
        per_event["repo"] = per_event["repo"] + "|#" + per_event["seq"].astype(str)
        canon = oracle.replay_events(per_event)
        canon["seq"] = canon["repo"].str.split("|#", regex=False).str[1].astype(int)
        canon["repo"] = canon["repo"].str.split("|#", regex=False).str[0]
        rows = {int(r.seq): r for r in canon.itertuples(index=False)}

        self.states: list[dict] = [{}]  # states[b] = after batches 1..b
        state: dict[tuple, tuple] = {}
        winner: dict[tuple, int] = {}
        for seg in segments:
            for e in sorted(seg["rows"], key=lambda r: r["seq"]):
                key = (e["repo"], e["path"])
                if e["seq"] < winner.get(key, -1):
                    continue
                winner[key] = e["seq"]
                if e["op"] == "delete":
                    state.pop(key, None)
                else:
                    state[key] = (e["seq"], rows[e["seq"]])
            self.states.append(dict(state))
        final = self.frame(len(segments))
        want = oracle.replay_events(pd.DataFrame(events))[STATE_COLS]
        if frame_digest(final) != frame_digest(want):
            raise RuntimeError("prefix oracle disagrees with oracle.replay_events")

    def frame(self, prefix: int, repo: str | None = None) -> pd.DataFrame:
        recs = [
            {c: getattr(r, c) for c in STATE_COLS}
            for (rp, _), (_, r) in self.states[prefix].items()
            if repo is None or rp == repo
        ]
        return pd.DataFrame(recs, columns=STATE_COLS)

    def changes(self, a: int, b: int) -> pd.DataFrame:
        sa, sb = self.states[a], self.states[b]
        recs = []
        for key in set(sa) | set(sb):
            old, new = sa.get(key), sb.get(key)
            if old is None:
                op = "insert"
            elif new is None:
                op = "delete"
            elif old[0] != new[0]:
                op = "update"
            else:
                continue
            sha = new[1].content_sha if new is not None else None
            recs.append({"change_op": op, "repo": key[0], "path": key[1], "content_sha": sha})
        return pd.DataFrame(recs, columns=CHANGE_COLS)

    def live_content_bytes(self, prefix: int) -> int:
        return sum(len(r.content.encode("utf-8")) for _, r in self.states[prefix].values())


def _round(rng: random.Random, repos: list[str], n_versions: int) -> list[tuple]:
    ops: list[tuple] = [("query", q) for q in HEADLINE]
    ops += [("point", rng.choice(repos)) for _ in range(POINT_READS)]
    ops += [("time_travel", rng.randint(1, n_versions)) for _ in range(TIME_TRAVEL_READS)]
    for _ in range(CHANGELOG_READS):
        a = rng.randint(1, n_versions - 1)
        ops.append(("changelog", (a, rng.randint(a + 1, n_versions))))
    ops += [("scan", None)] * SCAN_READS
    rng.shuffle(ops)
    return ops


def _execute(ctx, table, qdir: str, kind: str, arg) -> pd.DataFrame:
    from etl_spark.queries import LOCAL_QUERIES

    if kind == "query":
        return LOCAL_QUERIES[arg](ctx.spark, qdir).toPandas()
    if kind == "point":
        return table.read(repo=arg).select(*STATE_COLS).toPandas()
    if kind == "time_travel":
        return table.read(version=arg).select(*STATE_COLS).toPandas()
    if kind == "changelog":
        return table.read_changes(*arg).select(*CHANGE_COLS).toPandas()
    return table.read().select(*STATE_COLS).toPandas()


def _query_oracles(qdir: str) -> dict[str, str]:
    """DuckDB result digest of every headline query on ``qdir``."""
    import duckdb

    from etl_spark.queries import LOCAL_ORACLES, resolved_oracles

    sql = resolved_oracles({n: LOCAL_ORACLES[n] for n in HEADLINE}, strict=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{qdir}/{t}.parquet')"
            )
        return {n: frame_digest(con.execute(sql[n]).df()) for n in HEADLINE}
    finally:
        con.close()


def run(ctx) -> dict:
    from etl_spark.catalog.table import LakeTable
    from etl_spark.fixtures_local import gen_events
    from etl_spark.pipeline import canonicalize
    from etl_spark.sources.events import read_event_batch

    spark, work, seed, tracer = ctx.spark, ctx.work, ctx.seed, ctx.tracer

    # ---- setup: query tables, a table with history and pending deltas ---- #
    qdir = write_tables(os.path.join(work, "qdata"), seed)
    base = gen_events(BASE_EVENTS, seed=seed, **FIXTURE)
    segs = write_segments(base, 1, 0, os.path.join(work, "base_src"), seed)
    deltas = gen_events(
        DELTA_BATCHES * DELTA_EVENTS, seed=seed, start_seq=BASE_EVENTS, **FIXTURE
    )
    segs += write_segments(deltas, DELTA_BATCHES, DUP_PCT, os.path.join(work, "delta_src"), seed)
    ctx.log("inputs written")
    table = LakeTable.create(spark, os.path.join(work, "table"), **TABLE)
    for b, seg in enumerate(segs, start=1):
        table.apply_batch(read_event_batch(spark, seg["path"]), b, canonicalizer=canonicalize)
    versions = [v for v in table.history() if v >= 1]
    prefix_of = {v: table.snapshot(v).last_batch_id for v in versions}
    n_versions = max(versions)
    repos = sorted({r["repo"] for r in base})
    ctx.log(f"table built: {n_versions} versions")
    # warm-up: one whole round, with its own seed
    for kind, arg in _round(random.Random(-1 - seed), repos, n_versions):
        _execute(ctx, table, qdir, kind, arg)
    ctx.setup_done()
    ctx.log("setup done")

    # ---- timed loop: whole rounds until the measured time is used, and at
    # least MIN_ROUNDS, so that every median has more than one sample ---- #
    ops: list[dict] = []
    rounds: list[dict] = []
    t_loop = time.monotonic()
    while len(rounds) < MIN_ROUNDS or time.monotonic() - t_loop < ctx.seconds:
        r = len(rounds)
        w0, t0, cpu0 = time.time(), time.monotonic(), tree_cpu_s()
        for i, (kind, arg) in enumerate(_round(random.Random(seed * 1000 + r), repos, n_versions)):
            name = f"queries.{arg}" if kind == "query" else f"catalog.read.{kind}"
            t_op = time.monotonic()
            with tracer.span(name, f"{r}.{i}"):
                result = _execute(ctx, table, qdir, kind, arg)
            ops.append(
                {"kind": kind, "arg": arg, "round": r,
                 "ms": (time.monotonic() - t_op) * 1000.0, "result": result}
            )
        rounds.append(
            {"s": time.monotonic() - t0, "cpu_s": tree_cpu_s() - cpu0, "window": (w0, time.time())}
        )
        ctx.log(f"round {r}: {rounds[-1]['s']:.2f} s")

    # ---- correctness (untimed) ------------------------------------------ #
    ctx.log("checking")
    oracle = Oracle(segs)
    want_q = _query_oracles(qdir)
    cur = prefix_of[n_versions]
    failed = 0
    for op in ops:
        kind, arg = op["kind"], op["arg"]
        if kind == "query":
            want = want_q[arg]
        elif kind == "point":
            want = frame_digest(oracle.frame(cur, repo=arg))
        elif kind == "time_travel":
            want = frame_digest(oracle.frame(prefix_of[arg]))
        elif kind == "changelog":
            want = frame_digest(oracle.changes(prefix_of[arg[0]], prefix_of[arg[1]]))
        else:
            want = frame_digest(oracle.frame(cur))
        op["ok"] = frame_digest(op.pop("result")) == want
        failed += not op["ok"]

    lat = [op["ms"] for op in ops]
    hi = hi_percentile(lat)
    reads = [o["ms"] for o in ops if o["kind"] != "query"]
    pass_s = sum(
        median([o["ms"] for o in ops if o["kind"] == "query" and o["arg"] == q])
        for q in HEADLINE
    ) / 1000.0
    snap = table.snapshot()
    shape_ok = len(snap.delta_files) > 0
    out = {
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0 and shape_ok,
        "e2e": {
            "latency_p50_ms": median(lat),
            "latency_hi_ms": hi["value"],
            "pass_s": pass_s,
            "space_amp": disk_bytes(table) / max(1, oracle.live_content_bytes(cur)),
        },
        "report": {
            "rounds": len(rounds),
            "round_s": [r["s"] for r in rounds],
            "cpu_s_per_pass": median([r["cpu_s"] for r in rounds]),
            "ops": len(ops),
            "latency_hi_pct": hi["pct"],
            "latency_n": hi["n"],
            "read_p50_ms": median(reads),
            **{
                f"read_{k}_p50_ms": median([o["ms"] for o in ops if o["kind"] == k])
                for k in READ_KINDS
            },
            "query_pass_s": pass_s,
            "delta_files_pending": len(snap.delta_files),
            "shape_ok": shape_ok,
            "versions": n_versions,
            "failed_ops": [f"{o['kind']}:{o['arg']}" for o in ops if not o["ok"]],
        },
    }
    if tracer.enabled:
        out["layers"] = lambda: _layers(ctx, ops, rounds, snap)
    return out


def _layers(ctx, ops, rounds, snap) -> dict:
    log = read_event_log(os.path.join(ctx.work, "eventlog"))
    m: dict[str, float] = {
        f"catalog.read.{k}_ms": median([o["ms"] for o in ops if o["kind"] == k])
        for k in READ_KINDS
    }
    m.update(
        {
            f"queries.{q}_ms": median([o["ms"] for o in ops if o["arg"] == q])
            for q in HEADLINE
        }
    )
    per_round = [spark_rollup(log, [r["window"]]) for r in rounds]
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes", "task_skew", "busy_frac"):
        m[f"spark.{k}"] = median([p[k] for p in per_round])
    m["functions.python_bytes_sent"] = median([p["python_bytes_sent"] for p in per_round])
    m["catalog.delta_files_pending_end"] = len(snap.delta_files)
    m["process.cpu_s_per_pass"] = median([r["cpu_s"] for r in rounds])
    ctx.trace_extra["span_kinds"] = {
        kind: spark_rollup(
            log, [(s["start"], s["end"]) for s in ctx.tracer.spans if s["name"].startswith(kind)]
        )
        for kind in ("catalog.read", "queries")
    }
    return m
