"""Seeded input generators for the benchmark.

Everything the engine sees is written here as parquet; the seed is the
only source of randomness, so one seed always yields byte-identical
files. Each generator returns its realised input properties (hot-key
share, out-of-order share, near-duplicate share) so a run records what
it actually measured, not what it asked for.

Run as a script, this module is the open-loop load generator of the
``ql_stream`` workload: it writes one parquet file per period into the
watched directory on a fixed wall-clock schedule, whether or not the
engine keeps up, and reports how late it ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
TYPE_MIX = np.array([0.40, 0.25, 0.15, 0.10, 0.10])
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)


def zipf_exponent(n_keys: int, hot_share: float) -> float:
    """The Zipf exponent whose top key holds ``hot_share`` of the mass
    over ``n_keys`` keys (bisection; the share falls as the exponent
    falls)."""
    lo, hi = 0.0, 3.0
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    for _ in range(60):
        mid = (lo + hi) / 2
        w = ranks**-mid
        if w[0] / w.sum() > hot_share:
            hi = mid
        else:
            lo = mid
    return (lo + hi) / 2


def events(
    seed: int,
    n: int,
    n_users: int,
    hot_share: float | None,
    ooo_share: float,
    span_s: float,
    max_disorder_s: float,
    chunk: int | None = None,
) -> tuple[pa.Table, dict]:
    """``n`` events in arrival order over ``span_s`` seconds of event time.

    User keys are uniform when ``hot_share`` is None, else Zipf-ranked
    with the top key holding ``hot_share`` of the events. ``ooo_share``
    of the events are moved back in event time by up to
    ``max_disorder_s`` (kept below the streaming watermark). With
    ``chunk``, arrival order is cut into files of ``chunk`` events and
    a displaced event never moves before its own file's first event
    time: the streaming pattern operator reorders within a micro-batch
    only, and a file is never split across micro-batches."""
    rng = np.random.default_rng(seed)
    if hot_share is None:
        ranks = rng.integers(0, n_users, n)
    else:
        w = np.arange(1, n_users + 1, dtype=np.float64) ** -zipf_exponent(
            n_users, hot_share
        )
        cdf = np.cumsum(w / w.sum())
        ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), n_users - 1)
    user_of_rank = rng.permutation(n_users)
    user_id = user_of_rank[ranks].astype(np.int64)
    kind = rng.choice(len(EVENT_TYPES), n, p=TYPE_MIX)
    value = np.round(rng.uniform(0.5, 500.0, n), 2)
    base = T0_US + np.sort(rng.integers(0, int(span_s * 1e6), n))
    late = rng.random(n) < ooo_share
    shift = rng.integers(1, int(max_disorder_s * 1e6), n)
    floor = np.full(n, T0_US, dtype=np.int64)
    if chunk is not None:
        floor = base[(np.arange(n) // chunk) * chunk]
    ts = np.where(late, np.maximum(base - shift, floor), base)
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": user_id,
            "event_type": EVENT_TYPES[kind],
            "value": value,
        },
        schema=EVENTS_SCHEMA,
    )
    counts = np.bincount(user_id, minlength=n_users)
    props = {
        "events": n,
        "hot_key_share": float(counts.max() / n),
        # realised disorder: events whose time is below the running
        # maximum of the events that arrived before them
        "out_of_order_share": float(
            np.mean(ts[1:] < np.maximum.accumulate(ts)[:-1]) if n > 1 else 0.0
        ),
    }
    return table, props


def vip_users(seed: int, n_users: int, share: float = 0.1) -> pa.Table:
    rng = np.random.default_rng(seed + 1)
    ids = np.sort(rng.choice(n_users, max(1, int(n_users * share)), replace=False))
    tier = np.where(rng.random(len(ids)) < 0.3, "gold", "silver")
    return pa.table({"user_id": ids.astype(np.int64), "tier": tier})


def documents(
    seed: int,
    n_docs: int,
    dup_share: float,
    cluster_size: int = 4,
    vocab: int = 3000,
    edit_share: float = 0.02,
) -> tuple[pa.Table, dict]:
    """Documents of 30–60 Zipf-drawn words with planted near-duplicate
    clusters: ``dup_share`` of the documents are copies of a cluster
    root with ``edit_share`` of their words replaced."""
    rng = np.random.default_rng(seed)
    w = np.arange(1, vocab + 1, dtype=np.float64) ** -1.0
    cdf = np.cumsum(w / w.sum())
    words = np.array([f"w{i}" for i in range(vocab)])

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), vocab - 1)

    n_copies = int(n_docs * dup_share)
    n_roots = n_docs - n_copies
    toks = [draw(int(rng.integers(30, 61))) for _ in range(n_roots)]
    roots = rng.choice(n_roots, max(1, n_copies // (cluster_size - 1)), replace=False)
    for i in range(n_copies):
        t = toks[roots[i % len(roots)]].copy()
        edits = rng.random(len(t)) < edit_share
        t[edits] = draw(int(edits.sum()))
        toks.append(t)
    order = rng.permutation(n_docs)
    text = [" ".join(words[toks[j]]) for j in order]
    table = pa.table(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": pa.array(text, pa.string())}
    )
    return table, {"documents": n_docs, "near_duplicate_share": n_copies / n_docs}


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def stream_files(
    seed: int, rate: float, period_s: float, n_files: int, n_users: int,
    ooo_share: float, max_disorder_s: float, event_speedup: float,
) -> list[pa.Table]:
    """The ``ql_stream`` feed, cut into the files the generator writes.
    Event time runs ``event_speedup`` times faster than the wall clock
    so that the app's 30-minute windows close within a run."""
    per_file = int(round(rate * period_s))
    table, _ = events(
        seed, per_file * n_files, n_users, None, ooo_share,
        span_s=n_files * period_s * event_speedup,
        max_disorder_s=max_disorder_s, chunk=per_file,
    )
    return [table.slice(i * per_file, per_file) for i in range(n_files)]


def main(argv: list[str] | None = None) -> int:
    """Open-loop writer: file ``j`` is due at ``t0 + j * period``. It
    builds the feed, prints ``ready``, then reads ``t0`` from stdin, so
    its own start-up never makes the first file late."""
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--period", type=float, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--first-file", type=int, default=0)
    p.add_argument("--users", type=int, required=True)
    p.add_argument("--ooo", type=float, required=True)
    p.add_argument("--disorder", type=float, required=True)
    p.add_argument("--speedup", type=float, required=True)
    a = p.parse_args(argv)
    files = stream_files(
        a.seed, a.rate, a.period, a.files, a.users, a.ooo, a.disorder, a.speedup
    )
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    late_ms = []
    for j in range(a.first_file, a.files):
        due = t0 + j * a.period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late_ms.append(max(0.0, (time.time() - due) * 1e3))
        # write beside the watched directory's listing, then rename in:
        # the file source must never see a half-written file
        tmp = os.path.join(a.out, f".part-{j:05d}.parquet")
        write(files[j], tmp)
        os.rename(tmp, os.path.join(a.out, f"part-{j:05d}.parquet"))
    print(json.dumps({"late_ms": late_ms}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
