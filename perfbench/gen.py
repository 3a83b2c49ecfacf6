"""Seeded input generators for the benchmark.

Everything the package sees is made here from the workload seed: the
same seed gives byte-identical parquet, another seed gives other data of
the same shape. The base ``events`` set has the shape of the sf0.1
landing zone (100k events, 1,500 users, 30 days of January 2024, five
event types, ``value`` in [0, 560]), which yields a ~40k-row fact.

Amplification replicates the base set with every replica's
``event_id``/``user_id`` offset past the previous one and a seeded
perturbation of ``value`` and ``event_type``. Offsetting ``user_id``
keeps the staging grain (one row per postal code and day) intact;
perturbing ``value`` moves rows across weather bands, so replicas are
neither exact duplicates nor identically banded.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EVENTS = 100_000
BASE_USERS = 1_500
DAYS = 30
START = dt.datetime(2024, 1, 1)
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VALUE_MAX = 560.0

BASE_DOCS = 5_000
VOCAB = (
    "a the data spark scan sort hash join group query value key table row "
    "column order line part filter window stream batch merge agg vector "
    "fast slow big small customer index shard token model train eval "
    "score label split pack"
).split()
LANGS = ("en", "en", "en", "de", "fr", "zh", "es")

_DAY_NS = 86_400 * 10**9


def _start_ns() -> int:
    return int(START.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9


def events(seed: int, replicas: int = 1) -> pa.Table:
    """The base events set, amplified ``replicas`` times (see module
    docstring). Timestamps are parquet TIMESTAMP(NANOS), like the
    landing zone's."""
    rng = np.random.default_rng([seed, 0])
    n = BASE_EVENTS
    ts = _start_ns() + np.sort(rng.integers(0, DAYS * _DAY_NS, n))
    user = rng.integers(0, BASE_USERS, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.uniform(0.0, VALUE_MAX, n), 2)
    props = rng.integers(0, 100, n)
    cols = {k: [] for k in ("event_id", "ts", "user_id", "event_type",
                            "value", "props")}
    for r in range(replicas):
        if r == 0:
            v, e = value, etype
        else:
            prng = np.random.default_rng([seed, 1, r])
            v = np.round(
                np.abs(value + prng.normal(0.0, 25.0, n)) % VALUE_MAX, 2
            )
            redraw = prng.random(n) < 0.2
            e = np.where(redraw, prng.integers(0, len(EVENT_TYPES), n), etype)
        cols["event_id"].append(np.arange(n, dtype=np.int64) + r * n)
        cols["ts"].append(ts)
        cols["user_id"].append(user + r * BASE_USERS)
        cols["event_type"].append(EVENT_TYPES[e])
        cols["value"].append(v)
        cols["props"].append(props)
    return pa.table({
        "event_id": pa.array(np.concatenate(cols["event_id"])),
        "ts": pa.array(np.concatenate(cols["ts"]), pa.timestamp("ns")),
        "user_id": pa.array(np.concatenate(cols["user_id"]).astype(np.int64)),
        "event_type": pa.array(np.concatenate(cols["event_type"])),
        "value": pa.array(np.concatenate(cols["value"])),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in np.concatenate(cols["props"])]
        ),
    })


def stream_events(seed: int, users: int, days: int, batch_rows: int) -> pa.Table:
    """An event stream with exactly one event per (user, day), ordered
    by time and cut into micro-batches of ``batch_rows`` (column
    ``batch_no``). With one event per staging grain, staging a batch
    gives exactly that batch's slice of staging over the whole stream,
    so folding batches one by one must equal recomputing over their
    union."""
    rng = np.random.default_rng([seed, 2])
    n = users * days
    day = np.repeat(np.arange(days), users)
    user = np.tile(np.arange(users), days)
    ts = _start_ns() + day * _DAY_NS + rng.integers(0, _DAY_NS, n)
    order = np.argsort(ts, kind="stable")
    ts, user = ts[order], user[order]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.0, VALUE_MAX, n), 2)),
        "props": pa.array(["{}"] * n),
        "batch_no": pa.array((np.arange(n) // batch_rows).astype(np.int64)),
    })


def documents(seed: int, n: int = BASE_DOCS) -> pa.Table:
    """A web-text-shaped corpus: word sequences over a small vocabulary,
    with ~1% exact copies and ~3% one-word edits of earlier documents,
    so exact dedup, near-dup clustering and quality filtering all have
    work to do."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 110))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 8, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(table: pa.Table, sf_dir: str, name: str) -> dict:
    """Write ``table`` as ``<sf_dir>/<name>.parquet`` (the landing-zone
    layout ``sources.load_table`` reads) and return its size."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}
