"""Seeded benchmark inputs, generated once per (kind, seed, scale) and cached.

Two kinds of input:

- change logs, written by the package's own generator
  (``sources.genlog.write_changelog``) from a ``GenConfig`` that carries
  the seed; the oracle digest of each is cached beside it;
- the analytics tables (TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``), written here with numpy so that the
  benchmark needs no data outside its checkout.

Generation is never timed. ``ensure_*`` returns the cached copy when
its ``_DONE`` marker exists.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# Input sizes per scale. "full" is what the benchmark command runs;
# "toy" is what the smoke test runs.
SCALES = {
    "full": {
        "bulk_events": 600_000,
        "bulk_batches": 4,
        # the skew-probe gate is a file-size threshold (64 MiB); the
        # ~4 MB bulk batch files pass a 2 MiB gate, so the probe and the
        # salted-reduce decision run, while the small tail file of
        # duplicate deliveries stays below it
        "bulk_probe_min_bytes": 2 << 20,
        "trickle_batch": 2_000,
        "trickle_batches": 40,
        "sf": 0.02,
    },
    "toy": {
        "bulk_events": 8_000,
        "bulk_batches": 4,
        "bulk_probe_min_bytes": 1 << 10,
        "trickle_batch": 400,
        "trickle_batches": 20,
        "sf": 0.002,
    },
}

ANALYTICS_TABLES = [
    "region", "nation", "customer", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def bulk_gen_config(seed: int, scale: dict):
    """The bench.py-shaped stream: hot keys, jitter, duplicates, no dead
    letters."""
    from etl_pipeline_spark.sources.genlog import GenConfig

    n = scale["bulk_events"]
    return GenConfig(
        seed=seed,
        n_events=n,
        n_conversations=max(200, n // 400),
        max_turns=50,
        batch_size=n // scale["bulk_batches"],
        hot_key_fraction=0.2,
        shuffle_window=1000,
        dup_delivery_rate=0.01,
        dead_letter_rate=0.0,
    )


def trickle_gen_config(seed: int, scale: dict):
    """Many small batches with dead letters and a mid-stream ``tool``
    column birth."""
    from etl_pipeline_spark.sources.genlog import GenConfig

    b = scale["trickle_batch"]
    return GenConfig(
        seed=seed,
        n_events=b * scale["trickle_batches"],
        n_conversations=500,
        max_turns=50,
        batch_size=b,
        hot_key_fraction=0.2,
        shuffle_window=100,
        dup_delivery_rate=0.01,
        dead_letter_rate=0.01,
        evolution_batch=8,
    )


def warm_gen_config():
    from etl_pipeline_spark.sources.genlog import GenConfig

    return GenConfig(seed=7, n_events=2_000, batch_size=1_000)


# ------------------------------------------------------------ oracle ----


def state_digest(df) -> dict:
    """Row count plus an order-insensitive hash of a transcript-state
    frame (engine read or oracle). Every value is rendered to text
    first, so pandas NA/None and timestamp units cannot differ."""
    import pandas as pd

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    df = df.copy()
    for c in cols:
        if c not in df.columns:
            df[c] = None
    ts = pd.to_datetime(df["ts"]).astype("datetime64[us]").astype("int64")
    parts = [
        df[c].astype(object).where(df[c].notna(), "\x00").astype(str)
        for c in cols[:-1]
    ]
    parts.append(ts.astype(str))
    line = parts[0]
    for p in parts[1:]:
        line = line + "\x1f" + p
    h = pd.util.hash_pandas_object(line, index=False).to_numpy(np.uint64)
    return {"rows": int(len(df)), "hash": int(h.sum(dtype=np.uint64))}


def oracle_state(batch_files: list[str]):
    """The independent expected final state of the stream prefix held
    in ``batch_files`` (genlog's pandas reduction; never engine code)."""
    import pandas as pd

    from etl_pipeline_spark.sources.genlog import expected_final_state

    frames = [pq.read_table(p).to_pandas() for p in batch_files]
    events = pd.concat(frames, ignore_index=True)
    return expected_final_state(events)


# ------------------------------------------------------------ caches ----


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str, info: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(info, f)


def ensure_changelog(cache: str, name: str, cfg) -> tuple[str, float]:
    """Write the change log for ``cfg`` once; returns (dir, seconds spent
    generating, 0.0 on a cache hit)."""
    from etl_pipeline_spark.sources.genlog import write_changelog

    # the whole config is in the key, so a changed generator setting
    # never reuses a stale log
    key = hashlib.sha1(repr(cfg).encode()).hexdigest()[:10]
    path = os.path.join(
        cache, f"{name}-s{cfg.seed}-n{cfg.n_events}-b{cfg.batch_size}-{key}"
    )
    if _done(path):
        return path, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    write_changelog(cfg, path)
    _mark_done(path, {"seed": cfg.seed, "n_events": cfg.n_events})
    return path, time.perf_counter() - t0


def stream_digest(clog: str) -> tuple[dict, float]:
    """Oracle digest of a whole change log, cached in its directory;
    returns (digest, seconds spent computing, 0.0 on a cache hit)."""
    from etl_pipeline_spark.sources.changelog import list_batch_files

    path = os.path.join(clog, "_oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), 0.0
    t0 = time.perf_counter()
    digest = state_digest(oracle_state(list_batch_files(clog)))
    with open(path, "w") as f:
        json.dump(digest, f)
    return digest, time.perf_counter() - t0


# ---------------------------------------------------- analytics tables ----

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "filter stream big merge group agg join hash vector query table row "
    "data slow customer string"
).split()


def _ts_us(rng, n, start: str, days: int, whole_days: bool) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    if whole_days:
        off = rng.integers(0, days, n).astype(np.int64) * 86_400_000_000
    else:
        off = rng.integers(0, days * 86_400_000_000, n)
    return base + off


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _documents(rng, n: int) -> dict:
    lens = rng.integers(8, 80, n)
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # planted duplicates: ~1% exact copies and ~3% one-word edits of an
    # earlier document, so exact-dedup and MinHash near-dup both find work
    for i in range(1, n):
        r = rng.random()
        if r < 0.01:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.04:
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
            texts[i] = " ".join(toks)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.reshape(-1)))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def write_analytics_tables(out: str, seed: int, sf: float) -> None:
    """The star schema the analytics queries read, at scale factor
    ``sf`` (sf0.1: 600k lineitem rows, 100k events, 5k documents)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 2_000)
    n_users = max(int(15_000 * sf), 30)
    n_docs = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 100)

    _write(os.path.join(out, "region.parquet"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(os.path.join(out, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(os.path.join(out, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-2000, 20000, n_cust) / 2.0),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(os.path.join(out, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(rng.integers(1800, 1_000_000, n_ord) / 2.0),
        "o_orderdate": pa.array(
            _ts_us(rng, n_ord, "1992-01-01", 3500, True), pa.timestamp("us")
        ),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    # Every double the analytics queries aggregate sits on a binary grid
    # (prices in halves, discount and tax in 64ths, event values whole),
    # so each sum is exact in any order: Spark and DuckDB add in
    # different orders, and with decimal cents round(avg, 6) flipped on
    # near-ties (events_hourly_stats, 4 values on seed 1). Event values
    # are whole numbers because the hourly groups are small (n <= 20):
    # k / n then has at most 4 decimals and never sits on a 6-decimal
    # rounding tie, where the two engines' round() disagree.
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(os.path.join(out, "lineitem.parquet"), {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(int(200_000 * sf), 50), n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(int(10_000 * sf), 10), n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * rng.integers(1800, 4200, n_li) / 2.0),
        "l_discount": pa.array(rng.integers(0, 7, n_li) / 64.0),
        "l_tax": pa.array(rng.integers(0, 6, n_li) / 64.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            _ts_us(rng, n_li, "1992-01-02", 3600, True), pa.timestamp("us")
        ),
    })
    _write(os.path.join(out, "events.parquet"), {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(
            np.sort(_ts_us(rng, n_ev, "2024-01-01", 30, False)), pa.timestamp("us")
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(os.path.join(out, "documents.parquet"), _documents(rng, n_docs))
    _write(os.path.join(out, "embeddings.parquet"), _embeddings(rng, n_emb))


def ensure_tables(cache: str, seed: int, sf: float) -> tuple[str, float]:
    path = os.path.join(cache, f"tables-s{seed}-sf{sf}")
    if _done(path):
        return path, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    write_analytics_tables(path, seed, sf)
    _mark_done(path, {"seed": seed, "sf": sf})
    return path, time.perf_counter() - t0


def prepare(workload: str, seed: int, scale_name: str, cache: str) -> dict:
    """Everything one run needs, generated or found in the cache."""
    scale = SCALES[scale_name]
    warm_clog, w1 = ensure_changelog(cache, "warm", warm_gen_config())
    warm_tables, w2 = ensure_tables(cache, 7, 0.0005)
    spent = [w1, w2]
    out = {"warm_clog": warm_clog, "warm_tables": warm_tables}
    if workload == "bulk_replay":
        clog, s = ensure_changelog(cache, "bulk", bulk_gen_config(seed, scale))
        tables, t = ensure_tables(cache, seed, scale["sf"])
        digest, o = stream_digest(clog)
        spent += [s, t, o]
        out.update(clog=clog, tables=tables, oracle=digest)
    else:
        clog, s = ensure_changelog(cache, "trickle", trickle_gen_config(seed, scale))
        spent.append(s)
        out.update(clog=clog)
    out["hit"] = not any(spent)
    return out


if __name__ == "__main__":
    import argparse
    import sys

    p = argparse.ArgumentParser(description="generate one run's inputs")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", required=True)
    p.add_argument("--cache", required=True)
    a = p.parse_args()
    os.makedirs(a.cache, exist_ok=True)
    print(json.dumps(prepare(a.workload, a.seed, a.scale, a.cache)))
    sys.exit(0)
