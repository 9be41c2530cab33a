"""The repository benchmark.

    python3 perfbench/run.py --workload bulk_replay|trickle_serve \\
        --seed N --seconds S --trace 0|1 [--scale full|toy]

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/cache``) in a child process, then the
workload runs as a closed loop with one client against the public API
of ``etl_pipeline_spark`` on ``local[4]`` for ``--seconds`` seconds, the
correctness gate checks every output against the independent oracles,
and the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public entry points (``tracing.py``), enables Spark's event log
and reports the per-layer metrics instead, writing every span to
``.perfbench_work/traces/``. Lines before the last one are information:
every named metric with its unit, tail percentiles with their sample
counts, input generation time and, in a traced run, the tracing
overhead against an untraced run of the same workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
# end-to-end metrics (trace 0) and per-layer metrics (trace 1) that the
# last output line carries; BENCHMARK.json lists the same names. Every
# workload reports each of them, so PER_LAYER holds the layer metrics
# that have a source on both workloads.
END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "read_geomean_ms": "ms",
    "lake_bytes_per_row": "B/row",
}
PER_LAYER = {
    "ingest.driver_gap_ms": "ms",
    "ingest.batches": "count",
    "pipeline.apply_ms_p50": "ms",
    "pipeline.apply_ms_sum": "ms",
    "pipeline.apply_driver_ms": "ms",
    "pipeline.spark_jobs_per_batch": "jobs/batch",
    "cleaning.kernel_rows_per_s": "rows/s",
    "cleaning.python_rows": "count",
    "minilake.merge_ms": "ms",
    "minilake.commit_ms": "ms",
    "minilake.manifest_reads_per_batch": "reads/batch",
    "minilake.manifest_ms": "ms",
    "minilake.manifest_bytes": "B/read",
    "minilake.folds": "count",
    "minilake.max_delta_chain": "files",
    "minilake.files_total": "count",
    "minilake.bytes_written_per_event": "B/event",
    "lineage.append_ms": "ms",
    "spark.shuffle_write_bytes_per_event": "B/event",
    "spark.merge_task_skew": "ratio",
    "spark.executor_busy_share": "ratio",
}
# layer metrics with a source on one workload only: printed and written
# to the trace file. A traced run fails when any metric of PER_LAYER or
# of its workload's list here has no source.
WORKLOAD_LAYER = {
    "bulk_replay": [
        "pipeline.skew_probe_calls", "pipeline.skew_probe_ms",
        "minilake.gate_wait_ms", "minilake.final_compact_ms",
        "queries.spark_jobs", "queries.plan_share",
    ],
    "trickle_serve": [
        "pipeline.dead_lettered", "minilake.maybe_compact_ms",
        "minilake.read_fold_skipped_ratio", "minilake.point_read_jobs",
        "minilake.files_scanned_per_lookup",
    ],
}
QUERY_LAYER = ("build_ms", "plan_ms", "exec_ms", "spark_jobs")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_replay", "trickle_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "toy"], default="full")
    return p.parse_args(argv)


# ----------------------------------------------------------- spark side


def start_spark(run_dir: str, trace: bool):
    from etl_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES, extra_conf=conf,
    )


# The query bench.py warms up with, plus the two whose first run in a JVM
# costs 1.5-1.9 s more than a warm run (the document dedup operators);
# for each of the other nine the first run costs under 0.4 s more.
WARM_QUERIES = ["q1_pricing_summary", "docs_exact_dedup", "docs_minhash_near_dups"]


def warm_up(spark, ctx: dict, workload: str) -> float:
    """Table creation + an untimed warm-up of the calls the workload
    times: for ``bulk_replay`` a one-batch replay, compact and the
    ``WARM_QUERIES``, all at tiny size; for ``trickle_serve`` the first
    ``WARM_ROUNDS`` rounds of the run's own change log, on the table the
    run then measures (``ctx["trickle_table"]``), and one tiny query.
    Returns its wall in seconds."""
    from etl_pipeline_spark.streaming import ingest

    from perfbench import workloads
    from perfbench.tracing import NullTracer

    t0 = time.perf_counter()
    if workload == "bulk_replay":
        table = workloads.bulk_table(spark, os.path.join(ctx["run_dir"], "warm"))
        ingest.replay_files(spark, ctx["warm_clog"], table, stop_after=1)
        table.compact(drop_tombstones=False)
        queries = WARM_QUERIES
    else:
        ctx["trickle_table"] = workloads.trickle_table(
            spark, os.path.join(ctx["run_dir"], "trickle"))
        workloads.trickle_rounds(spark, ctx, ctx["trickle_table"], 0,
                                 workloads.WARM_ROUNDS, NullTracer())
        queries = ["q1_pricing_summary"]
    for name in queries:
        workloads.run_query(spark, name, ctx["warm_tables"], NullTracer())
    return time.perf_counter() - t0


def rss_mb(spark) -> float:
    """Driver JVM + Python high-water RSS."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM; wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def parquet_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def cleaning_kernel_rows_per_s(n: int = 200_000, reps: int = 5) -> float:
    """The Arrow cleaning kernel (``clean_text_pudf.func``) on a
    generated text column, driver-side, median of ``reps``."""
    import numpy as np
    import pandas as pd

    from etl_pipeline_spark.functions.cleaning import clean_text_pudf

    rng = np.random.default_rng(0)
    words = np.array(["alpha", " beta ", "n/a", "", "  gamma delta  ", "not rated"])
    s = pd.Series(words[rng.integers(0, len(words), n)])
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        clean_text_pudf.func(s)
        walls.append(time.perf_counter() - t0)
    return n / statistics.median(walls)


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (BENCH_QUERIES: the 12 analytics queries)
        import etl_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    cache = os.path.join(work, "cache")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM the run starts keeps its temp files in the checkout and
    # writes no perf-data file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    try:
        result = run(args, work, cache, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run wall {time.perf_counter() - t_main:.1f} s")
    print(json.dumps(result))  # the result line is always the last line
    return 0


def run(args, work: str, cache: str, run_dir: str) -> dict:
    from perfbench import inputs, tracing, workloads

    scale = inputs.SCALES[args.scale]
    t0 = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", "--workload", args.workload,
         "--seed", str(args.seed), "--scale", args.scale, "--cache", cache],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    paths = json.loads(gen.stdout.strip().splitlines()[-1])
    log(f"input generation {time.perf_counter() - t0:.2f} s "
        f"(cache {'hit' if paths['hit'] else 'miss'}; untimed, not in setup_s)")
    ctx = {**paths, "scale": scale, "run_dir": run_dir}
    if args.workload == "trickle_serve":
        ctx["point_keys"] = workloads.point_keys(
            args.seed, inputs.trickle_gen_config(args.seed, scale).n_conversations
        )

    from etl_pipeline_spark.lake.lineage import LineageLog

    t0 = time.perf_counter()
    spark = start_spark(run_dir, bool(args.trace))
    tracer = tracing.NullTracer()
    try:
        setup = {"session_s": time.perf_counter() - t0,
                 "warm_up_s": warm_up(spark, ctx, args.workload)}
        if args.trace:
            tracer = tracing.Tracer(spark, args.workload)
            tracer.install()
        attempted = failed = 0
        errors: list[str] = []
        rec: dict = {}
        t_loop = time.perf_counter()
        try:
            rec = workloads.WORKLOADS[args.workload](
                spark, ctx, args.seconds, tracer
            )
            attempted += rec["ops"]
        except Exception as e:  # a raised op fails the run, reported below
            attempted += 1
            failed += 1
            errors.append(f"{type(e).__name__}: {e}")
        finally:
            if tracer.enabled:
                tracer.uninstall()
        loop_s = time.perf_counter() - t_loop
        peak_rss = rss_mb(spark)

        # ----------------------------------------- correctness gate (untimed)
        live_rows = 0
        table = rec["tables"][-1] if rec.get("tables") else None
        if table is not None:
            t0 = time.perf_counter()
            bad, live_rows = gate(ctx, rec, table)
            failed += len(bad)
            errors += bad
            log(f"correctness gate {time.perf_counter() - t0:.2f} s (untimed)")
        if tracer.enabled and table is not None:
            extra = {
                "cleaning_kernel_rows_per_s": cleaning_kernel_rows_per_s(),
                "files_total": parquet_files(table.root),
                "bytes_written": sum(dir_bytes(t.root) for t in rec["tables"]),
            }
            if "point_rows" in rec:
                extra["files_per_lookup"] = len(
                    table.read_for_keys(ctx["point_keys"]).inputFiles()
                )
            lineage = [
                r for t in rec["tables"] for r in LineageLog(t.root).records()
            ]
    finally:
        stop_spark(spark)

    e2e = None
    layer: dict = {}
    if not errors:
        e2e = {
            "setup_s": setup["session_s"] + setup["warm_up_s"],
            "ingest_events_per_s": workloads.ingest_events_per_s(rec, ctx["clog"]),
            "read_geomean_ms": workloads.read_geomean_ms(rec),
            "lake_bytes_per_row": dir_bytes(table.root) / max(live_rows, 1),
        }
        report(rec, e2e, setup, peak_rss, failed, attempted, loop_s)
        if tracer.enabled:
            ev = tracing.parse_event_log(
                tracing.find_event_log(os.path.join(run_dir, "eventlog"))
            )
            events = workloads.changelog_events(ctx["clog"], rec.get("batches"))
            per_events = events * len(rec["tables"])
            layer, attribution = tracing.layer_metrics(
                tracer, ev, cores=CORES, wall_s=loop_s,
                events_applied=per_events, lineage_records=lineage, extra=extra,
            )
            report_trace(args, work, layer, attribution, tracer, e2e)
            missing = [k for k in expected_layer(args.workload) if k not in layer]
            failed += len(missing)
            errors += [f"layer metric {k} has no source" for k in missing]
    for e in errors[:20]:
        log(f"FAILED {e}")

    ok = not errors
    values, units = (layer, PER_LAYER) if args.trace else (e2e or {}, END_TO_END)
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units.items() if k in values}
    save_result(work, args, {"e2e": e2e, "layer": layer})
    return {
        "correct": ok, "attempted": max(attempted, 1), "failed": failed,
        "metrics": metrics,
    }


def expected_layer(workload: str) -> list[str]:
    """Every layer metric a traced run of ``workload`` must report."""
    import bench

    names = list(PER_LAYER) + WORKLOAD_LAYER[workload]
    if workload == "bulk_replay":
        names += [f"queries.{q}.{m}" for q in bench.BENCH_QUERIES
                  for m in QUERY_LAYER]
    return names


def gate(ctx: dict, rec: dict, table) -> tuple[list[str], int]:
    """(mismatches, live rows): the final lake state against the oracle,
    the last point reads (trickle_serve) and every query (bulk_replay)
    against DuckDB. A raised error counts as one mismatch."""
    from etl_pipeline_spark.sources.changelog import list_batch_files

    from perfbench import oracle

    import bench

    files = list_batch_files(ctx["clog"])
    live_rows = 0
    try:
        if "batches" in rec:  # trickle_serve: the applied prefix
            applied = files[: rec["batches"]]
            bad, live_rows = oracle.check_state(table, applied)
            bad += oracle.check_point_rows(
                rec["point_rows"], ctx["point_keys"], applied
            )
        else:
            bad, live_rows = oracle.check_state(table, files, ctx["oracle"])
            if sorted(rec["results"]) != sorted(bench.BENCH_QUERIES):
                bad.append("not every analytics query produced a result")
            for name, qbad in oracle.check_queries(
                rec["results"], ctx["tables"]
            ).items():
                bad += [f"{name}: {b}" for b in qbad]
    except Exception as e:  # the gate reports, it does not crash the run
        bad = [f"check raised {type(e).__name__}: {e}"]
    return bad, live_rows


# -------------------------------------------------------------- reporting


def _ms(xs: list[float]) -> list[float]:
    return [x * 1000.0 for x in xs]


def report(rec: dict, e2e: dict, setup: dict, peak_rss: float,
           failed: int, attempted: int, loop_s: float) -> None:
    """Print every named end-to-end metric with its unit."""
    from perfbench.workloads import CYCLE, WARM_ROUNDS, percentile_tail

    for k, u in END_TO_END.items():
        log(f"{k} = {e2e[k]:.6g} {u}")
    log(f"setup_s = session start {setup['session_s']:.3f} s + table creation "
        f"and warm-up {setup['warm_up_s']:.3f} s (one cold set-up)")
    log(f"peak_rss_mb = {peak_rss:.6g} MB (driver JVM + Python high-water; "
        "not gated: JVM heap growth varies between runs)")
    log(f"failed_ops_ratio = {failed / max(attempted, 1):.6g} ratio "
        f"({failed} of {attempted} ops)")
    log(f"measured loop = {loop_s:.3f} s")
    if "replay_s" in rec:
        walls = [r + c for r, c in zip(rec["replay_s"], rec["compact_s"])]
        log(f"replay_events_per_s = {e2e['ingest_events_per_s']:.6g} events/s "
            f"(replay {[round(x, 3) for x in rec['replay_s']]} s + compact "
            f"{[round(x, 3) for x in rec['compact_s']]} s; median of {len(walls)})")
        log(f"query_suite_s = {sum(rec['queries'].values()):.6g} s")
        log(f"query_geomean_s = {e2e['read_geomean_ms'] / 1000.0:.6g} s")
        for q, wall in rec["queries"].items():
            log(f"  query {q} = {wall:.4f} s")
        return
    for name, key in [("commit", "commit_s"), ("point_read", "point_s"),
                      ("scan_read", "scan_s"), ("feed_read", "feed_s")]:
        xs = _ms(rec[key])
        line = (f"{name}_p50_ms = {statistics.median(xs):.6g} ms (n={len(xs)}; "
                f"rounds {[round(x) for x in xs]})")
        pct, val, n = percentile_tail(xs)
        if name in ("commit", "point_read"):
            line += (f"; {name}_tail_ms = {val:.6g} ms at p{pct:.1f} (n={n})"
                     if val is not None else
                     f"; {name}_tail_ms needs 11+ samples (n={n})")
        log(line)
    log(f"commit rounds = {len(rec['commit_s'])} measured in fold cycles of "
        f"{CYCLE} (the last one folding), after {WARM_ROUNDS} warm-up rounds")


def report_trace(args, work: str, layer: dict, attribution: dict,
                 tracer, e2e: dict) -> None:
    from perfbench import tracing

    counts = {
        "pipeline.spark_jobs_per_batch": "jobs per batch",
        "minilake.manifest_reads_per_batch": "manifest reads per batch",
        "minilake.manifest_bytes": "bytes per manifest read",
        "minilake.bytes_written_per_event": "bytes per applied event",
        "minilake.max_delta_chain": "files per bucket",
        "minilake.read_fold_skipped_ratio": "fold-skipped reads per read",
    }
    for k in sorted(layer):
        base = f" [count; base: {counts[k]}]" if k in counts else ""
        log(f"{k} = {layer[k]:.6g}{base}")
    log(f"attribution: apply_batch wall {attribution['apply_batch_wall_ms']:.1f} ms"
        f" = layer self times {attribution['accounted_ms']:.1f} ms"
        f" + residual {attribution['residual_ms']:.3f} ms; self ms by layer "
        + json.dumps({k: round(v, 1) for k, v in attribution["self_ms_by_layer"].items()})
        + f"; Spark jobs busy {attribution['spark_job_busy_ms_in_applies']:.1f} ms"
        " of that wall")
    untraced = os.path.join(work, "results", f"{args.workload}-s{args.seed}-t0.json")
    overhead = {}
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f).get("e2e") or {}
        if base:  # as a slowdown: > 0 means the traced run was slower
            overhead = {
                "ingest_events_per_s":
                    base["ingest_events_per_s"] / e2e["ingest_events_per_s"] - 1.0,
                "read_geomean_ms":
                    e2e["read_geomean_ms"] / base["read_geomean_ms"] - 1.0,
            }
        for k, v in overhead.items():
            log(f"tracing overhead on {k}: {100.0 * v:+.1f}% against the "
                "untraced run of this seed (> 0: the traced run was slower)")
    else:
        log("tracing overhead: run the same workload and seed with --trace 0 "
            "first to report it")
    path = os.path.join(work, "traces", f"{args.workload}-s{args.seed}.json")
    tracing.write_trace(path, tracer, {
        "workload": args.workload, "seed": args.seed, "layer_metrics": layer,
        "attribution": attribution, "end_to_end_traced": e2e,
        "tracing_overhead": overhead, "counters": tracer.counters,
    })
    log(f"spans written to {os.path.relpath(path, ROOT)}")


def save_result(work: str, args, payload: dict) -> None:
    d = os.path.join(work, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(payload, f)


if __name__ == "__main__":
    sys.exit(main())
