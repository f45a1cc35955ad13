"""The connector → cache sync path both sync workloads drive, and its
per-layer accounting.

A sync is ``ConnectorSource(SubprocessHost([...])).read(cache, ...)``
against the benchmark's file-replaying connector. In a traced run the
sync is one ``processor.sync`` span whose children are the connector
pump (``sources.pump``), the cache and store writes (``writers.*``), the
state flushes (``state.flush``) and the metadata I/O (``fileio.*``);
what is left of the sync's wall time is the processor's own work:
normalising records, gzip JSONL staging and building ``spark.read.json``.
"""

from __future__ import annotations

import os
import sys
import time

from pyairbyte_spark import SparkCache
from pyairbyte_spark.progress import ProgressTracker
from pyairbyte_spark.sources.connector import ConnectorSource
from pyairbyte_spark.sources.subprocess_host import SubprocessHost

from perfbench.harness import median
from perfbench.tracing import CountingFileIO, Tracer

CONNECTOR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "connector.py")


def make_cache(spark, tracer: Tracer, warehouse: str) -> SparkCache:
    """A fresh commit-log cache; traced runs inject the counting FileIO."""
    return SparkCache(
        spark,
        warehouse,
        table_format="commitlog",
        fileio=CountingFileIO(tracer) if tracer.enabled else None,
    )


def make_source(name: str, config: dict) -> ConnectorSource:
    return ConnectorSource(
        SubprocessHost([sys.executable, CONNECTOR], name=name),
        name=name,
        config=config,
    )


def instrument_cache(tracer: Tracer, cache: SparkCache) -> None:
    """Span the cache's and the store's public write methods."""
    tracer.wrap(cache, "write_dataframe", "writers.write_dataframe")
    tracer.wrap(cache.store, "write_append", "writers.write_append")
    tracer.wrap(cache.store, "write_merge", "writers.write_merge")


def instrument_source(tracer: Tracer, source: ConnectorSource) -> None:
    """Time the waits inside the connector's message iterator."""
    if not tracer.enabled:
        return
    inner = source.generate_messages

    def generate_messages(streams, state):
        return tracer.timed_iterator(inner(streams, state), "sources.pump")

    source.generate_messages = generate_messages


def drain_rate(name: str, config: dict, streams: list[str]) -> float:
    """Records per second of one connector drain with no processing:
    the ceiling a sync's records_per_s can approach."""
    source = make_source(name, config)
    t = time.monotonic()
    n = sum(1 for m in source.generate_messages(streams, None) if m.type == "RECORD")
    return n / (time.monotonic() - t)


def sync(tracer: Tracer, cache: SparkCache, source: ConnectorSource,
         write_strategy: str) -> tuple[float, object, int | None]:
    """One timed ``read()``; returns (wall seconds, ReadResult, index of
    its span or None when untraced)."""
    progress = ProgressTracker()
    state_writer = cache.get_state_writer(source.name)
    tracer.wrap(state_writer, "flush", "state.flush")
    tracer.phase = "sync"
    t = time.monotonic()
    with tracer.span("processor.sync") as sp:
        result = source.read(
            cache,
            write_strategy=write_strategy,
            state_writer=state_writer,
            progress=progress,
        )
    wall = time.monotonic() - t
    tracer.phase = "other"
    if sp is None:
        return wall, result, None
    sp.attrs["bytes"] = progress.total_bytes_read
    return wall, result, tracer.spans.index(sp)


def sync_layer_metrics(tracer: Tracer, sync_spans: list[int]) -> tuple[dict, list[str]]:
    """Per-sync medians of each layer's time and job count, and the
    accounting check of every sync's spans (``Tracer.accounting_problems``:
    no layer's self time is negative, the processor's included, and the
    pump is never busier than its own interval)."""
    problems = []
    per: dict[str, list[float]] = {}

    def push(k: str, v: float) -> None:
        per.setdefault(k, []).append(v)

    for idx in sync_spans:
        problems.extend(tracer.accounting_problems(idx))
        selfs = tracer.self_times(idx)
        for layer in ("processor", "writers", "fileio"):
            push(f"{layer}.self_s", selfs.get(layer, 0.0))
        sub = tracer.subtree(idx)
        for name, key in (("writers.write_append", "writers.append"),
                          ("writers.write_merge", "writers.merge")):
            hits = [i for i in sub if tracer.spans[i].name == name]
            push(f"{key}_s", sum(tracer.spans[i].duration for i in hits))
            push(f"{key}_jobs", sum(tracer.jobs(i) for i in hits))
        flushes = [i for i in sub if tracer.spans[i].name == "state.flush"]
        push("state.flush_s", sum(tracer.spans[i].duration for i in flushes))
        push("state.flushes", len(flushes))
        pumps = [tracer.spans[i] for i in sub if tracer.spans[i].name == "sources.pump"]
        push("sources.pump_s", sum(p.duration for p in pumps))
        push("sources.messages", sum(p.attrs["items"] for p in pumps))
        push("sources.bytes", tracer.spans[idx].attrs.get("bytes", 0))
        push("spark.sync_jobs", tracer.jobs(idx))
    out = {k: median(v) for k, v in per.items()}
    return out, problems


def fileio_per_op(tracer: Tracer, phase: str, ops: int) -> dict:
    """FileIO operation counts of one phase, per timed operation."""
    kinds = ("gets", "puts", "lists", "exists", "bytes_written")
    return {
        f"fileio.{phase}_{k}": tracer.counters.get(f"fileio.{phase}_{k}", 0) / max(ops, 1)
        for k in kinds
    }


def table_bytes_on_disk(cache: SparkCache, stream: str) -> int:
    """Bytes of every file under the stream table's directory: data,
    manifests, commit log and sidecars alike."""
    total = 0
    for dirpath, _, names in os.walk(cache.store.table_path(cache.table_name(stream))):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return total
