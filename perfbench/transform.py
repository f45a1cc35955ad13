"""transform_pass: the operator library with no sync or store work.

Set-up writes fixed tables (generated from a constant seed) in the schema
and at the row counts of the operator library's sf0.1 sample
(``inputs.TransformShape``). A pass runs seven rows from
``queries.queries()`` in an order the run's seed sets, each materialised
by a ``noop``-format write (not ``count()``, which lets Catalyst drop
projected work): the four ``mapInArrow`` text kernels (minhash, n-gram
hash, BM25 postings, DSIR buckets) and an ANN, a join and a window row.
The timed loop runs rows pass after pass until the run's time is up and
every row has run; the pass time it reports is the sum of the rows'
median times.

The first execution of every row collects it and compares it,
order-insensitively, with its DuckDB oracle's answer from
``queries.oracle_sql()`` (``oracles.py``: a recorded digest of it while
the oracle SQL and the tables are unchanged, else the oracle run live
while the Spark session starts). That first execution, which pays the JIT
and the Python workers' start, is also the warm-up: every timed pass
runs each row for at least the second time. The traced run also times
one ``count()`` per row, to show how far ``count()`` under-times the row.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from pyairbyte_spark import queries

from perfbench import inputs, oracles
from perfbench.harness import Context, Result, median
from perfbench.tracing import Tracer

# Row → the tables it reads (its input rows count toward records_per_s).
ROWS = {
    "dedup_minhash_lsh": ("documents",),
    "contamination_check": ("documents",),
    "text_bm25_search": ("documents",),
    "dsir_importance_weights": ("documents",),
    "ann_ivf_topk": ("embeddings",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "window_topk_parts_per_supplier": ("lineitem",),
}
SHAPE = inputs.TransformShape()
# The tables are fixed, like the operator library's sample data; the run's
# seed sets the order of the rows in each pass.
DATA_SEED = 42
CHECK_THREADS = 4


def prepare(ctx: Context) -> dict:
    data = os.path.join(ctx.work, "data")
    table_rows = inputs.write_transform_tables(data, DATA_SEED, SHAPE)
    return {"data": data, "table_rows": table_rows, "refs": oracles.References(data, ROWS)}


def check_rows(spark, data: str, refs: oracles.References, res: Result) -> None:
    """Collect each row and compare it, order-insensitively, with its
    DuckDB oracle's answer. The rows' first executions run side by side:
    most of their time is per-query start-up (planning, code generation,
    Python workers), not work on the 4 cores."""
    fns = queries.queries()

    def collect(name: str) -> dict:
        return oracles.answer(fns[name](spark, data).toPandas())

    with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
        futures = {name: pool.submit(collect, name) for name in ROWS}
    for name, fut in futures.items():
        res.attempted += 1
        try:
            got = fut.result()
        except Exception as exc:  # noqa: BLE001 - a failed row is counted, not fatal
            res.fail(f"{name}: {exc!r}")
            continue
        want = refs.get(name)
        if isinstance(want, Exception):
            res.fail(f"{name}: oracle failed: {want!r}")
        elif got["columns"] != want["columns"]:
            res.fail(f"{name}: columns {got['columns']} != oracle {want['columns']}")
        elif got != want:
            res.fail(f"{name}: {got['rows']} rows differ from the oracle's {want['rows']}")
        elif got["rows"] == 0:
            res.fail(f"{name}: empty result; the inputs exercise nothing")


def run(ctx: Context, tracer: Tracer, prepared: dict) -> Result:
    res = Result()
    data = prepared["data"]
    table_rows = prepared["table_rows"]
    pass_input_rows = sum(table_rows[t] for tables in ROWS.values() for t in tables)
    spark = ctx.spark
    fns = queries.queries()
    names = list(ROWS)

    check_rows(spark, data, prepared["refs"], res)
    ctx.mark("warmup_checked")

    row_times: dict[str, list[float]] = {n: [] for n in names}

    def schedule():
        """Passes over the rows, each in an order the seed sets."""
        p = 0
        while True:
            yield from np.random.default_rng([ctx.seed, 7, p]).permutation(names).tolist()
            p += 1

    setup_s = time.monotonic() - ctx.t_process
    deadline = ctx.deadline()
    # Row by row until the deadline, and at least one full pass: a pass is
    # about as long as the run, so whole passes could double its length.
    for name in schedule():
        if time.monotonic() >= deadline and (res.failed or all(row_times.values())):
            break
        res.attempted += 1
        t = time.monotonic()
        try:
            with tracer.span(f"queries.{name}"):
                fns[name](spark, data).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a failed row is counted, not fatal
            res.fail(f"{name}: {exc!r}")
            continue
        row_times[name].append(time.monotonic() - t)

    if all(row_times.values()):
        # One pass is every row once: the sum of the rows' median times.
        pass_s = sum(median(xs) for xs in row_times.values())
        res.e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": pass_s * 1000,
            "records_per_s": pass_input_rows / pass_s,
        }
        res.summary = {
            "pass_s": (pass_s, "s"),
            "row_runs": (sum(map(len, row_times.values())), "count"),
        }
    res.samples = {f"{k}_s": v for k, v in row_times.items()}
    if tracer.enabled:
        for name in names:
            _, jobs, calls = tracer.total(f"queries.{name}")
            if row_times[name]:
                res.layers[f"queries.{name}_s"] = median(row_times[name])
            if calls:
                res.layers[f"queries.{name}_jobs"] = jobs / calls
            # count() after the timed window: how much less it times.
            t = time.monotonic()
            fns[name](spark, data).count()
            if row_times[name]:
                res.layers[f"queries.{name}_count_gap_s"] = (
                    median(row_times[name]) - (time.monotonic() - t))
    return res
