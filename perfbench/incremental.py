"""incremental_sync: resumable syncs landing beside readers.

Set-up preloads an ``events`` history (append-only, many files) and a
``users`` table (merge by ``id``) into one commit-log cache. Each step
then runs one sync through the file-replaying connector, which resumes
from the state the cache passes it: ``events`` (cursor ``ts``, no key,
so APPEND) gets new rows and ``users`` (key ``id``, cursor
``updated_at``, so MERGE) gets upserts skewed toward a hot subset. After
the sync comes a fixed mix of reads of the same two tables:
``count_where`` over a recent ``ts`` range, ``agg_where`` (sum of
``amount``, max of ``ts``) over a window, point ``read_where`` lookups
on ``events.event_id`` and ``users.id``, ``plan_scan`` over a historic
range and ``get_dataset("users").with_filter(...).to_arrow()``.

One round of the mix is the six reads; the workload's ``latency_p50_ms``
is the median over rounds of a round's summed read time, so every read
kind moves it, the slowest (``agg_where``) and the fastest
(``plan_scan``) alike. The per-read p50 and p90 are in the summary.

Every read result is compared with ``inputs.StoreModel``, which the
benchmark keeps from the generated inputs; at the end ``users`` must
equal latest-wins over every upsert and ``events`` must hold every row.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pyairbyte_spark.catalog import StreamSpec
from pyairbyte_spark.records import conform_to_schema, with_metadata_columns
from pyairbyte_spark.strategies import WriteMethod

from perfbench import inputs, syncs
from perfbench.harness import Context, Result, median, percentile
from perfbench.inputs import UTC, event_ts
from perfbench.tracing import Tracer

HISTORY_EVENTS = 200_000
HISTORY_FILES = 100
USERS = 20_000
HOT_USERS = 200
EVENTS_PER_STEP = 5_000
UPSERTS_PER_STEP = 1_000
WARMUP_STEPS = 3
READ_ROUNDS = 3
SOURCE_NAME = "perfbench-incremental"
READ_KINDS = ("count_where", "agg_where", "read_where", "plan_scan", "to_arrow")


def _spec(stream: dict) -> StreamSpec:
    return StreamSpec(
        name=stream["name"],
        json_schema=stream["json_schema"],
        primary_keys=list(stream["primary_key"]),
        cursor_field=stream["cursor_field"],
        sync_mode="incremental",
    )


def prepare(ctx: Context) -> dict:
    """Generate the history files and the model before Spark starts."""
    model = inputs.StoreModel()
    cols = inputs.event_columns(ctx.seed, 0, HISTORY_EVENTS, USERS)
    model.add_events(cols)
    model.users = inputs.initial_users(ctx.seed, USERS)
    g = np.arange(HISTORY_EVENTS, dtype=np.int64)
    table = pa.table({
        "event_id": g,
        "user_id": cols.user_id,
        "ts": pa.array(inputs.T0_US + g * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        "kind": pa.array(np.array(inputs.KINDS)[cols.kind]),
        "cents": cols.cents,
    })
    # One contiguous slice per core, so each write task emits
    # ts-clustered files without a shuffle.
    history = os.path.join(ctx.work, "history")
    os.makedirs(history)
    per_slice = -(-HISTORY_EVENTS // 4)
    for i in range(4):
        pq.write_table(table.slice(i * per_slice, per_slice), os.path.join(history, f"part-{i}.parquet"))
    ids = sorted(model.users)
    users = os.path.join(ctx.work, "users.parquet")
    pq.write_table(pa.table({
        "id": pa.array(ids, type=pa.int64()),
        "name": [model.users[i].name for i in ids],
        "tier": [model.users[i].tier for i in ids],
        "score": pa.array([model.users[i].score for i in ids], type=pa.int64()),
        "updated_at": pa.array([model.users[i].updated_at for i in ids], type=pa.timestamp("us", tz="UTC")),
    }), users)
    return {"model": model, "history": history, "users": users}


def preload(spark, cache, prepared: dict) -> None:
    """Land the history through the store's own write path, in the
    schema a sync produces: ``events`` as one append of many
    ts-clustered files, ``users`` as one merge."""
    events_spec = _spec(inputs.EVENTS_STREAM)
    events = spark.read.parquet(prepared["history"]).select(
        "event_id", "user_id", "ts", "kind",
        (F.col("cents").cast("decimal(38,9)") / 100).cast("decimal(38,9)").alias("amount"),
    )
    events = conform_to_schema(with_metadata_columns(events), events_spec.declared_columns)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(HISTORY_EVENTS // HISTORY_FILES))
    try:
        cache.write_dataframe(events, "events", WriteMethod.APPEND)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    cache.register_stream(events_spec)

    users_spec = _spec(inputs.USERS_STREAM)
    users = spark.read.parquet(prepared["users"])
    users = conform_to_schema(with_metadata_columns(users), users_spec.declared_columns)
    cache.write_dataframe(users, "users", WriteMethod.MERGE, ["id"])
    cache.register_stream(users_spec)


def _utc(v):
    if isinstance(v, dt.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=UTC)
    return v


class Reads:
    """The read mix, its checks against the model, and its accounting."""

    def __init__(self, cache, model: inputs.StoreModel, tracer: Tracer, res: Result) -> None:
        self.cache = cache
        self.store = cache.store
        self.model = model
        self.tracer = tracer
        self.res = res
        self.lat: dict[str, list[float]] = {k: [] for k in READ_KINDS}
        # Per round of the mix: the summed time of its reads, when every
        # one of them succeeded.
        self.rounds: list[float] = []
        self._round: list[float] = []
        self._round_ok = True
        self.files = {"total": 0, "scanned": 0, "metadata": 0, "plan_total": 0, "selected": 0}

    def _timed(self, kind: str, span: str, fn):
        self.res.attempted += 1
        self.tracer.phase = "read"
        t = time.monotonic()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception as exc:  # noqa: BLE001 - a failed read is counted, not fatal
            self.res.fail(f"{kind}: {exc!r}")
            self._round_ok = False
            return None
        finally:
            self.tracer.phase = "other"
        dt_s = time.monotonic() - t
        self.lat[kind].append(dt_s)
        self._round.append(dt_s)
        return out

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            self.res.fail(what)

    def reset(self) -> None:
        """Forget the warm-up's figures."""
        for xs in self.lat.values():
            xs.clear()
        self.rounds.clear()
        self.files = dict.fromkeys(self.files, 0)

    def mix(self, rng: np.random.Generator) -> None:
        """One round: six reads, each checked after its timer stops."""
        self._round = []
        self._round_ok = True
        self._mix(rng)
        if self._round_ok:
            self.rounds.append(sum(self._round))

    def _mix(self, rng: np.random.Generator) -> None:
        m, n = self.model, self.model.n_events

        lo = n - int(rng.integers(1_000, 20_000))
        hi = min(n, lo + int(rng.integers(500, 5_000)))
        preds = [("ts", ">=", event_ts(lo)), ("ts", "<", event_ts(hi))]
        r = self._timed("count_where", "writers.count_where",
                        lambda: self.store.count_where("events", preds))
        if r is not None:
            self._files(r)
            self._check(r["count"] == m.range_count(lo, hi),
                        f"count_where [{lo},{hi}) = {r['count']}, model {m.range_count(lo, hi)}")

        lo = int(rng.integers(0, n - 10_000))
        hi = lo + int(rng.integers(1_000, 10_000))
        preds = [("ts", ">=", event_ts(lo)), ("ts", "<", event_ts(hi))]
        r = self._timed("agg_where", "writers.agg_where", lambda: self.store.agg_where(
            "events", [("sum", "amount"), ("max", "ts")], preds))
        if r is not None:
            self._files(r)
            got = (Decimal(r["aggs"]["sum_amount"]), _utc(r["aggs"]["max_ts"]))
            want = (m.range_sum(lo, hi), event_ts(hi - 1))
            self._check(got == want, f"agg_where [{lo},{hi}) = {got}, model {want}")

        g = int(rng.integers(0, n))
        rows = self._timed("read_where", "writers.read_where", lambda: self.store.read_where(
            "events", [("event_id", "=", g)]).select(
                "event_id", "user_id", "ts", "kind", "amount").collect())
        if rows is not None:
            got = [(r[0], r[1], _utc(r[2]), r[3], Decimal(r[4])) for r in rows]
            self._check(got == [m.event_row(g)], f"events[{g}] = {got}, model {m.event_row(g)}")

        u = int(rng.integers(0, HOT_USERS)) if rng.random() < 0.5 else int(rng.integers(0, USERS))
        rows = self._timed("read_where", "writers.read_where", lambda: self.store.read_where(
            "users", [("id", "=", u)]).select("id", "name", "tier", "score", "updated_at").collect())
        if rows is not None:
            want = m.users[u]
            got = [(r[0], r[1], r[2], r[3], _utc(r[4])) for r in rows]
            self._check(got == [(u, want.name, want.tier, want.score, want.updated_at)],
                        f"users[{u}] = {got}, model {want}")

        lo = int(rng.integers(0, HISTORY_EVENTS - 10_000))
        hi = lo + int(rng.integers(1_000, 10_000))
        preds = [("ts", ">=", event_ts(lo)), ("ts", "<", event_ts(hi))]
        r = self._timed("plan_scan", "writers.plan_scan",
                        lambda: self.store.plan_scan("events", preds))
        if r is not None:
            self.files["plan_total"] += r["files_total"]
            self.files["selected"] += r["files_selected"]
            self._check(1 <= r["files_selected"] <= r["files_total"],
                        f"plan_scan [{lo},{hi}) selected {r['files_selected']} of {r['files_total']}")

        lo = int(rng.integers(0, USERS - 200))
        tbl = self._timed("to_arrow", "datasets.to_arrow", lambda: self.cache.get_dataset(
            "users").with_filter(F.col("id").between(lo, lo + 199)).to_arrow())
        if tbl is not None:
            got = sorted(zip(*(tbl.column(c).to_pylist() for c in ("id", "name", "tier", "score"))))
            want = sorted((i, v.name, v.tier, v.score) for i, v in m.users.items() if lo <= i <= lo + 199)
            self._check(got == want, f"users id in [{lo},{lo + 199}] differs from the model "
                                     f"({len(got)} vs {len(want)} rows)")

    def _files(self, r: dict) -> None:
        self.files["total"] += r["files_total"]
        self.files["scanned"] += r["files_scanned"]
        self.files["metadata"] += r["files_metadata"]

    def all_latencies(self) -> list[float]:
        return [x for k in READ_KINDS for x in self.lat[k]]


def final_check(cache, model: inputs.StoreModel, res: Result) -> None:
    res.attempted += 1
    tbl = cache.get_dataset("users").to_spark().select(
        "id", "name", "tier", "score", "updated_at").toArrow()
    got = {
        i: (n, t, s, _utc(u))
        for i, n, t, s, u in zip(*(tbl.column(c).to_pylist() for c in tbl.column_names))
    }
    want = {i: (u.name, u.tier, u.score, u.updated_at) for i, u in model.users.items()}
    if got != want:
        bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
        res.fail(f"users differs from latest-wins over all upserts on {bad} keys")
    rows = cache.store.table_stats("events")["rows"]
    if rows != model.n_events:
        res.fail(f"events holds {rows} rows, model {model.n_events}")


def run(ctx: Context, tracer: Tracer, prepared: dict) -> Result:
    res = Result()
    data = os.path.join(ctx.work, "data")
    os.makedirs(data)
    warehouse = os.path.join(ctx.work, "warehouse")
    cache = syncs.make_cache(ctx.spark, tracer, warehouse)
    model = prepared["model"]
    preload(ctx.spark, cache, prepared)
    ctx.mark("preloaded")
    config = inputs.connector_config(data, [inputs.EVENTS_STREAM, inputs.USERS_STREAM])
    source = syncs.make_source(SOURCE_NAME, config)
    syncs.instrument_cache(tracer, cache)
    syncs.instrument_source(tracer, source)
    reads = Reads(cache, model, tracer, res)

    sync_walls: list[float] = []
    sync_spans: list[int] = []
    expect_counts = {"events": EVENTS_PER_STEP, "users": UPSERTS_PER_STEP}

    def step(k: int, timed: bool) -> None:
        cols = inputs.event_columns(ctx.seed, k + 1, EVENTS_PER_STEP, USERS)
        inputs.write_events_batch(data, k, model.n_events, cols)
        ups = inputs.user_upserts(ctx.seed, k, UPSERTS_PER_STEP, USERS, HOT_USERS)
        inputs.write_users_batch(data, k, ups)
        res.attempted += 1
        try:
            wall, result, idx = syncs.sync(tracer, cache, source, "auto")
        except Exception as exc:  # noqa: BLE001 - a failed sync is counted, not fatal
            res.fail(f"sync {k}: {exc!r}")
            return
        model.add_events(cols)
        model.apply_upserts(ups)
        if result.record_counts != expect_counts:
            res.fail(f"sync {k} landed {result.record_counts}, expected {expect_counts}")
        elif timed:
            sync_walls.append(wall)
            if idx is not None:
                sync_spans.append(idx)
        rng = np.random.default_rng([ctx.seed, 6, k])
        for _ in range(READ_ROUNDS):
            reads.mix(rng)

    for k in range(WARMUP_STEPS):
        step(k, timed=False)
        ctx.mark(f"warmup_{k}")
    reads.reset()
    tracer.counters.clear()  # count the timed window only
    version0 = {t: cache.store.table_stats(t)["version"] for t in ("events", "users")}
    setup_s = time.monotonic() - ctx.t_process
    deadline = ctx.deadline()
    k = WARMUP_STEPS
    while time.monotonic() < deadline:
        step(k, timed=True)
        k += 1

    final_check(cache, model, res)
    stats = {t: cache.store.table_stats(t) for t in ("events", "users")}
    on_disk = sum(syncs.table_bytes_on_disk(cache, t) for t in stats)
    space_amp = on_disk / sum(s["bytes"] for s in stats.values())
    lat = reads.all_latencies()
    if sync_walls and reads.rounds:
        res.e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": median(reads.rounds) * 1000,
            "records_per_s": (EVENTS_PER_STEP + UPSERTS_PER_STEP) / median(sync_walls),
        }
        res.summary = {
            "sync_p50_s": (median(sync_walls), "s"),
            "read_p50_ms": (median(lat) * 1000, "ms"),
            "read_p90_ms": (percentile(lat, 90) * 1000, "ms"),
            "read_round_p50_ms": (median(reads.rounds) * 1000, "ms"),
            "space_amp": (space_amp, "ratio"),
            "syncs": (len(sync_walls), "count"),
            "reads": (len(lat), "count"),
            "read_rounds": (len(reads.rounds), "count"),
        }
    res.samples = {"sync_s": sync_walls, "read_round_s": reads.rounds, **{f"{k}_s": v for k, v in reads.lat.items()}}
    if tracer.enabled and sync_spans:
        layer, problems = syncs.sync_layer_metrics(tracer, sync_spans)
        for p in problems:
            res.fail(p)
        res.layers.update(layer)
        res.layers.update(syncs.fileio_per_op(tracer, "sync", len(sync_spans)))
        res.layers.update(syncs.fileio_per_op(tracer, "read", len(lat)))
        res.layers["writers.commits"] = sum(
            stats[t]["version"] - version0[t] for t in stats) / len(sync_spans)
        res.layers["writers.live_files"] = sum(s["files"] for s in stats.values())
        res.layers["writers.space_amp"] = space_amp
        res.layers["sources.drain_rec_per_s"] = syncs.drain_rate(
            SOURCE_NAME, config, ["events", "users"])
        for kind in READ_KINDS:
            layer_name = "datasets" if kind == "to_arrow" else "writers"
            _, jobs, calls = tracer.total(f"{layer_name}.{kind}")
            if reads.lat[kind]:
                res.layers[f"{layer_name}.{kind}_ms"] = median(reads.lat[kind]) * 1000
            if calls:
                res.layers[f"{layer_name}.{kind}_jobs"] = jobs / calls
        f = reads.files
        res.layers["writers.scan_ratio"] = f["scanned"] / max(f["total"], 1)
        res.layers["writers.metadata_ratio"] = f["metadata"] / max(f["total"], 1)
        res.layers["writers.select_ratio"] = f["selected"] / max(f["plan_total"], 1)
    return res
