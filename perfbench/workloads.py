"""The two closed-loop workloads, each with one client.

``bulk_replay``
    The ``bench.py`` shape: replay a seeded change log through
    ``streaming.ingest.replay_files`` (pipeline depth 2, MOR table, 32
    buckets) and fold it with ``compact(drop_tombstones=False)``, into a
    fresh table each time; then run the 12 ``bench.BENCH_QUERIES`` once
    over the seeded analytics tables, each fully evaluated and collected.

``trickle_serve``
    Many small batches, each applied by ``replay_files(start_batch=k,
    stop_after=1)``; after each commit one round of reads runs: point
    lookups on seeded ``conv_id`` values, a projected aggregate scan and
    the change-feed tail since the previous version. Rounds run in whole
    fold cycles.

A run does a fixed amount of work for a given ``--seconds``: the number
of replays or fold cycles that fill it at their nominal wall.

Every call is timed with ``time.perf_counter`` around the public API;
results stay in the returned record for the correctness gate, which
runs after the timed loop.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _table(spark, root: str, schema, n_buckets: int):
    from etl_pipeline_spark.lake.minilake import MiniLakeTable

    return MiniLakeTable.create(
        spark, root, schema, key_cols=["conv_id", "turn_idx"],
        n_buckets=n_buckets, write_mode="mor",
    )


def run_query(spark, name: str, tables: str, tracer):
    """One analytics query, fully evaluated and collected to the driver
    with ``toPandas``; returns (wall seconds, result frame). The frame is
    what the correctness gate compares with DuckDB afterwards, so the
    gate never runs a query twice. Traced: build, plan and execute are
    split, and the plan phases come from the query execution's tracker
    (``toPandas`` reuses that execution, so ``exec_ms`` holds no
    planning)."""
    from etl_pipeline_spark.queries import QUERIES

    if not tracer.enabled:
        t0 = time.perf_counter()
        out = QUERIES[name](spark, tables).toPandas()
        return time.perf_counter() - t0, out
    with tracer.span("bench.query", trace_id=f"query:{name}",
                     label=f"query:{name}", query=name) as sp:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, tables)
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        plan_ms = sum(
            phases.apply(p).durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        )
        t2 = time.perf_counter()
        out = df.toPandas()
        t3 = time.perf_counter()
        sp["attrs"].update(
            build_ms=(t1 - t0) * 1000.0, plan_ms=float(plan_ms),
            exec_ms=(t3 - t2) * 1000.0,
        )
    return t3 - t0, out


# Nominal wall of one measured unit on four cores: a bulk replay + fold
# and a trickle fold cycle of three rounds. A run does the number
# of units that fills ``--seconds`` at these walls (at least one), so
# every run of a given ``--seconds`` does the same work whatever the
# host's speed, and lake_bytes_per_row, which grows with the rounds
# applied, is the same kind of table in every run.
NOMINAL_REPLAY_S = 16.0
NOMINAL_CYCLE_S = 7.5


def units(seconds: float, nominal_s: float) -> int:
    return max(1, int(seconds // nominal_s))


def bulk_table(spark, root: str):
    from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA

    return _table(spark, root, TRANSCRIPT_SCHEMA, 32)


def bulk_replay(spark, ctx: dict, seconds: float, tracer) -> dict:
    """Replay + final compact into a fresh table, as many times as fill
    ``seconds`` at the nominal wall, then one pass of the 12 analytics
    queries."""
    from etl_pipeline_spark.pipeline import ApplyConfig
    from etl_pipeline_spark.streaming import ingest

    import bench

    cfg = ApplyConfig(skew_probe_min_bytes=ctx["scale"]["bulk_probe_min_bytes"])
    rec = {"replay_s": [], "compact_s": [], "queries": {}, "results": {},
           "tables": []}
    n = units(seconds, NOMINAL_REPLAY_S)
    for it in range(n):
        table = bulk_table(spark, os.path.join(ctx["run_dir"], f"bulk{it}"))
        t0 = time.perf_counter()
        ingest.replay_files(spark, ctx["clog"], table, cfg=cfg, pipeline_depth=2)
        t1 = time.perf_counter()
        with tracer.span("bench.final_compact", trace_id=f"compact:{it}",
                         label=f"final_compact:{it}"):
            table.compact(drop_tombstones=False)
        rec["replay_s"].append(t1 - t0)
        rec["compact_s"].append(time.perf_counter() - t1)
        rec["tables"].append(table)
    for name in bench.BENCH_QUERIES:
        rec["queries"][name], rec["results"][name] = run_query(
            spark, name, ctx["tables"], tracer
        )
    rec["ops"] = 2 * n + len(bench.BENCH_QUERIES)
    return rec


def point_keys(seed: int, n_conversations: int) -> list[str]:
    """Four seeded conv_ids: the hottest key plus three drawn at random."""
    rng = np.random.default_rng(seed + 1)
    picks = [0] + sorted(rng.choice(np.arange(1, n_conversations), 3, replace=False))
    return [f"conv-{int(i):06d}" for i in picks]


# Every trickle batch touches all 8 buckets, and maybe_compact folds a
# bucket once its chain holds more than TRICKLE_MAX_FILES files: the
# fourth commit into a new table folds, and from then on every third.
# The warm-up applies the first WARM_ROUNDS rounds (two fold cycles) to
# the table the run measures: the first round pays the JVM's first-use
# cost (about 13 s), and the rounds after it keep getting faster until
# about the seventh, by a fifth. The measured rounds then come in whole
# fold cycles of CYCLE rounds, the last one folding.
TRICKLE_BUCKETS = 8
TRICKLE_MAX_FILES = 3
CYCLE = TRICKLE_MAX_FILES
WARM_ROUNDS = 1 + 2 * CYCLE


def trickle_table(spark, root: str):
    from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA_V0

    return _table(spark, root, TRANSCRIPT_SCHEMA_V0, TRICKLE_BUCKETS)


def trickle_rounds(spark, ctx: dict, table, start: int, n: int, tracer) -> dict:
    """Rounds ``start`` .. ``start + n - 1``: each applies batch k by
    ``replay_files(start_batch=k, stop_after=1)`` and then reads the
    seeded point keys, a projected aggregate and the change-feed tail
    since the version before the commit."""
    from pyspark.sql import functions as F

    from etl_pipeline_spark.pipeline import ApplyConfig
    from etl_pipeline_spark.streaming import ingest

    keys = ctx["point_keys"]
    cfg = ApplyConfig(auto_compact_max_files=TRICKLE_MAX_FILES)
    rec = {"commit_s": [], "point_s": [], "scan_s": [], "feed_s": [],
           "point_rows": None}

    def timed(name: str, k: int, fn):
        with tracer.span(f"bench.{name}", trace_id=f"round:{k}",
                         label=f"{name}:{k}", round=k):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    for k in range(start, start + n):
        prev = table.current_version()
        _, dt = timed("commit", k, lambda: ingest.replay_files(
            spark, ctx["clog"], table, cfg=cfg, start_batch=k, stop_after=1))
        rec["commit_s"].append(dt)
        rows, dt = timed("point_read", k, lambda: table.read_for_keys(keys).collect())
        rec["point_s"].append(dt)
        rec["point_rows"] = rows
        _, dt = timed("scan_read", k, lambda: (
            table.read(columns=["role", "turn_idx"]).groupBy("role")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("turn_idx").alias("s"))
            .collect()))
        rec["scan_s"].append(dt)
        _, dt = timed("feed_read", k, lambda: table.read_changes_since(prev).count())
        rec["feed_s"].append(dt)
    return rec


def trickle_serve(spark, ctx: dict, seconds: float, tracer) -> dict:
    """Whole fold cycles of rounds on the table the warm-up began
    (``ctx["trickle_table"]``), as many as fill ``seconds`` at the
    nominal wall and the change log holds (at least one). Whole cycles
    give every run the same mix of folding and plain commits, and of
    reads before and after a fold."""
    from etl_pipeline_spark.sources.changelog import list_batch_files

    n_files = len(list_batch_files(ctx["clog"]))
    cycles = min(units(seconds, NOMINAL_CYCLE_S), (n_files - WARM_ROUNDS) // CYCLE)
    table = ctx["trickle_table"]
    rec = trickle_rounds(spark, ctx, table, WARM_ROUNDS, cycles * CYCLE, tracer)
    rec["tables"] = [table]
    rec["batches"] = WARM_ROUNDS + cycles * CYCLE  # applied, warm-up included
    rec["ops"] = 4 * cycles * CYCLE
    return rec


WORKLOADS = {"bulk_replay": bulk_replay, "trickle_serve": trickle_serve}


def read_geomean_ms(rec: dict) -> float:
    """Geometric mean latency of the workload's read calls: of the
    median point, scan and feed read over trickle_serve's whole fold
    cycles, or of the 12 analytics queries of bulk_replay."""
    if "point_s" in rec:
        meds = [float(np.median(rec[k])) for k in ("point_s", "scan_s", "feed_s")]
        return _geomean(meds) * 1000.0
    return _geomean(list(rec["queries"].values())) * 1000.0


def changelog_events(clog: str, n_batches: int | None = None) -> int:
    import pyarrow.parquet as pq

    from etl_pipeline_spark.sources.changelog import list_batch_files

    files = list_batch_files(clog)[:n_batches]
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def typical_cycle_s(commit_s: list[float]) -> float:
    """Commit wall of a typical measured fold cycle: the median plain
    commit times the plain commits of a cycle, plus the median folding
    commit (the last of each cycle). Medians keep a commit that a burst
    of host load slowed from moving the whole figure."""
    plain = [x for i, x in enumerate(commit_s) if i % CYCLE != CYCLE - 1]
    fold = commit_s[CYCLE - 1::CYCLE]
    return (CYCLE - 1) * float(np.median(plain)) + float(np.median(fold))


def ingest_events_per_s(rec: dict, clog: str) -> float:
    """Events applied per second of commit (or replay + fold) wall: the
    mean events of a trickle_serve fold cycle over its typical commit
    wall (folds included), or the change log's events over the median
    bulk_replay iteration."""
    if "commit_s" in rec:
        measured = len(rec["commit_s"])
        events = (changelog_events(clog, rec["batches"])
                  - changelog_events(clog, rec["batches"] - measured))
        return events / (measured // CYCLE) / typical_cycle_s(rec["commit_s"])
    walls = [r + c for r, c in zip(rec["replay_s"], rec["compact_s"])]
    return changelog_events(clog) / float(np.median(walls))


def percentile_tail(xs: list[float]) -> tuple[float | None, float | None, int]:
    """The highest nearest-rank percentile with at least ten samples
    above it: (percentile, value, n); (None, None, n) below 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    rank = n - 10
    return 100.0 * rank / n, sorted(xs)[rank - 1], n

