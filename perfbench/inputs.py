"""Seeded input generators and the reference models the checks compare to.

Everything here is a pure function of the seed, so the same seed gives
byte-identical files. Nothing here imports Spark or the package under
test: the self-tests run without a Spark session, and the connector
script only reads the files written here.

Batch files are Airbyte-protocol RECORD lines, one batch per file, named
``<stream>.<k:05d>.jsonl``; a sidecar ``<stream>.<k:05d>.meta.json``
holds the batch's first and last cursor values so the connector can
resume from a state cursor without scanning records.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

UTC = dt.timezone.utc

# -- connector stream descriptions --------------------------------------------

EVENTS_STREAM = {
    "name": "events",
    "json_schema": {
        "type": "object",
        "properties": {
            "event_id": {"type": "integer"},
            "user_id": {"type": "integer"},
            "ts": {"type": "string", "format": "date-time"},
            "kind": {"type": "string"},
            "amount": {"type": "number"},
        },
    },
    "primary_key": [],
    "cursor_field": "ts",
}

USERS_STREAM = {
    "name": "users",
    "json_schema": {
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "name": {"type": "string"},
            "tier": {"type": "string"},
            "score": {"type": "integer"},
            "updated_at": {"type": "string", "format": "date-time"},
        },
    },
    "primary_key": ["id"],
    "cursor_field": "updated_at",
}


def connector_config(data_dir: str, streams: list[dict]) -> dict:
    """The config document the benchmark connector takes."""
    return {"data_dir": data_dir, "streams": streams}


def batch_path(data_dir: str, stream: str, k: int) -> str:
    return os.path.join(data_dir, f"{stream}.{k:05d}.jsonl")


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _record_line(stream: str, body: str) -> str:
    # ``body`` is a pre-serialised JSON object; emitted_at is fixed so
    # the file is a pure function of the seed.
    return '{"type":"RECORD","record":{"stream":"%s","data":%s,"emitted_at":0}}\n' % (
        stream,
        body,
    )


def _write_batch(data_dir: str, stream: str, k: int, lines: list[str],
                 first_cursor: str | None, last_cursor: str | None) -> str:
    path = batch_path(data_dir, stream, k)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.writelines(lines)
    with open(path[: -len(".jsonl")] + ".meta.json", "w", encoding="utf-8") as f:
        json.dump({"first": first_cursor, "last": last_cursor}, f)
    return path


# -- incremental_sync -------------------------------------------------------------

T0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
T0_US = int(T0.timestamp()) * 1_000_000
USERS_T0 = dt.datetime(2024, 6, 1, tzinfo=UTC)
KINDS = ["view", "click", "cart", "purchase"]
TIERS = ["free", "basic", "pro", "team"]


def iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def event_ts(g: int) -> dt.datetime:
    """Event ``g`` (global index == event_id) happens ``g`` seconds
    after T0, so a ts range is an index range in the model."""
    return T0 + dt.timedelta(seconds=int(g))


@dataclass
class EventColumns:
    """Events by global index: ts and event_id are both the index."""

    user_id: np.ndarray
    kind: np.ndarray
    cents: np.ndarray


def event_columns(seed: int, salt: int, n: int, n_users: int) -> EventColumns:
    rng = _rng(seed, 2, salt)
    return EventColumns(
        user_id=rng.integers(0, n_users, size=n, dtype=np.int64),
        kind=rng.integers(0, len(KINDS), size=n, dtype=np.int64),
        cents=rng.integers(1, 100_000, size=n, dtype=np.int64),
    )


@dataclass
class User:
    name: str
    tier: str
    score: int
    updated_at: dt.datetime


def initial_users(seed: int, n_users: int) -> dict[int, User]:
    rng = _rng(seed, 3)
    tiers = rng.integers(0, len(TIERS), size=n_users).tolist()
    scores = rng.integers(0, 1_000_000, size=n_users).tolist()
    return {
        i: User(f"user-{i}", TIERS[tiers[i]], scores[i], USERS_T0)
        for i in range(n_users)
    }


def user_upserts(seed: int, k: int, n: int, n_users: int, hot: int) -> list[tuple[int, User]]:
    """Batch ``k`` of upserts: four in five keys come from the hot subset
    ``[0, hot)``; the rest are uniform over ``[0, 1.05 * n_users)`` so a
    few are inserts. ``updated_at`` strictly increases across batches."""
    rng = _rng(seed, 4, k)
    is_hot = rng.random(n) < 0.8
    ids = np.where(
        is_hot,
        rng.integers(0, hot, size=n),
        rng.integers(0, n_users + n_users // 20, size=n),
    ).tolist()
    tiers = rng.integers(0, len(TIERS), size=n).tolist()
    scores = rng.integers(0, 1_000_000, size=n).tolist()
    out = []
    for i in range(n):
        ts = USERS_T0 + dt.timedelta(seconds=k * n + i + 1)
        out.append((ids[i], User(f"user-{ids[i]}-v{k}", TIERS[tiers[i]], scores[i], ts)))
    return out


def cents_str(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def write_events_batch(data_dir: str, k: int, first_g: int, cols: EventColumns) -> None:
    lines = []
    for j in range(len(cols.cents)):
        g = first_g + j
        body = (
            f'{{"event_id":{g},"user_id":{int(cols.user_id[j])},'
            f'"ts":"{iso(event_ts(g))}","kind":"{KINDS[int(cols.kind[j])]}",'
            f'"amount":{cents_str(int(cols.cents[j]))}}}'
        )
        lines.append(_record_line("events", body))
    last = first_g + len(cols.cents) - 1
    _write_batch(data_dir, "events", k, lines, iso(event_ts(first_g)), iso(event_ts(last)))


def write_users_batch(data_dir: str, k: int, upserts: list[tuple[int, User]]) -> None:
    lines = [
        _record_line(
            "users",
            json.dumps(
                {
                    "id": uid,
                    "name": u.name,
                    "tier": u.tier,
                    "score": u.score,
                    "updated_at": iso(u.updated_at),
                },
                separators=(",", ":"),
            ),
        )
        for uid, u in upserts
    ]
    _write_batch(
        data_dir, "users", k, lines,
        iso(upserts[0][1].updated_at), iso(upserts[-1][1].updated_at),
    )


@dataclass
class StoreModel:
    """What the cache must hold after every step: events by global
    index (prefix sums answer range aggregates exactly) and users as
    latest-wins over every upsert."""

    cents: list[np.ndarray] = field(default_factory=list)
    user_ids: list[np.ndarray] = field(default_factory=list)
    kinds: list[np.ndarray] = field(default_factory=list)
    users: dict[int, User] = field(default_factory=dict)
    _prefix: np.ndarray | None = None

    @property
    def n_events(self) -> int:
        return sum(len(c) for c in self.cents)

    def add_events(self, cols: EventColumns) -> None:
        self.cents.append(cols.cents)
        self.user_ids.append(cols.user_id)
        self.kinds.append(cols.kind)
        self._prefix = None

    def prefix(self) -> np.ndarray:
        if self._prefix is None:
            self._prefix = np.concatenate(
                [[0], np.cumsum(np.concatenate(self.cents))]
            )
        return self._prefix

    def range_count(self, lo: int, hi: int) -> int:
        lo, hi = max(lo, 0), min(hi, self.n_events)
        return max(hi - lo, 0)

    def range_sum(self, lo: int, hi: int) -> Decimal:
        lo, hi = max(lo, 0), min(hi, self.n_events)
        p = self.prefix()
        return Decimal(int(p[hi] - p[lo])) / 100 if hi > lo else None

    def event_row(self, g: int) -> tuple:
        i = g
        for c, u, kd in zip(self.cents, self.user_ids, self.kinds):
            if i < len(c):
                return (g, int(u[i]), event_ts(g), KINDS[int(kd[i])],
                        Decimal(int(c[i])) / 100)
            i -= len(c)
        raise IndexError(g)

    def apply_upserts(self, upserts: list[tuple[int, User]]) -> None:
        for uid, u in upserts:
            self.users[uid] = u


# -- transform_pass -----------------------------------------------------------------

# The operator library's sf0.1 sample draws its text from a 31-word
# vocabulary; the generated documents do the same.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column small join customer query big filter "
    "stream group vector dup"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass(frozen=True)
class TransformShape:
    """Row counts and value ranges; the defaults are those of the
    operator library's sf0.1 sample (5k documents of 10-100 words, 2k
    64-dim vectors in 10 clusters, TPC-H customer/orders/lineitem at
    scale 0.1 with orders over 1995-01-01 + 2404 days and 1-7 lines per
    order)."""

    docs: int = 5_000
    vecs: int = 2_000
    dim: int = 64
    clusters: int = 10
    customers: int = 15_000
    orders: int = 150_000
    max_lines_per_order: int = 7
    parts: int = 20_000
    suppliers: int = 1_000


def write_transform_tables(out_dir: str, seed: int, shape: TransformShape) -> dict[str, int]:
    """The tables the transform pass's seven rows read, in the schema of
    the operator library's sample data. Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 5)
    rows: dict[str, int] = {}

    def put(name: str, table: "pa.Table") -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    # documents: seeded word sequences; one doc in ten is an edited copy
    # of an earlier one, so dedup and contamination find real overlaps.
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(shape.docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = vocab[rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))].tolist()
        texts.append(" ".join(words))
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(shape.docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[x] for x in rng.choice(5, size=shape.docs, p=[0.41, 0.15, 0.15, 0.14, 0.15])]),
        "source": pa.array([f"src{x % 5}" for x in range(shape.docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))

    # embeddings: unit vectors around ``clusters`` centres.
    centres = rng.normal(0, 1, size=(shape.clusters, shape.dim))
    labels = rng.integers(0, shape.clusters, size=shape.vecs)
    vecs = centres[labels] + rng.normal(0, 0.7, size=(shape.vecs, shape.dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(shape.vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }))

    c = shape.customers
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(1, c + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, c + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=c), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, size=c)]),
    }))

    o = shape.orders
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 2405, size=o).astype("timedelta64[D]")
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(1, o + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, c + 1, size=o, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, size=o), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, size=o)]),
    }))

    per_order = rng.integers(1, shape.max_lines_per_order + 1, size=o)
    n = int(per_order.sum())
    okey = np.repeat(np.arange(1, o + 1, dtype=np.int64), per_order)
    # 1..k within each order: position minus the order's first position.
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, size=n), 2)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, size=n).astype("timedelta64[D]")
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, shape.parts + 1, size=n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, shape.suppliers + 1, size=n, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n)]),
        "l_shipdate": pa.array(ship),
    }))
    return rows
