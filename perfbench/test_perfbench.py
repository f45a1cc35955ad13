"""Self-tests of the benchmark that need no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import inputs, metrics, oracles
from perfbench.tracing import Tracer
from pyairbyte_spark.sources.messages import parse_message

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONNECTOR = os.path.join(ROOT, "perfbench", "connector.py")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _read_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


# -- seeded inputs --------------------------------------------------------------


def _incremental_batch(tmp_path, seed: int) -> tuple[bytes, bytes]:
    d = tmp_path / f"s{seed}"
    d.mkdir()
    cols = inputs.event_columns(seed, 1, 500, 1_000)
    inputs.write_events_batch(str(d), 0, 10_000, cols)
    inputs.write_users_batch(str(d), 0, inputs.user_upserts(seed, 0, 200, 1_000, 20))
    return (_read_bytes(inputs.batch_path(str(d), "events", 0)),
            _read_bytes(inputs.batch_path(str(d), "users", 0)))


def test_same_seed_gives_identical_jsonl(tmp_path):
    (tmp_path / "x").mkdir()
    (tmp_path / "y").mkdir()
    assert _incremental_batch(tmp_path / "x", 5) == _incremental_batch(tmp_path / "y", 5)


def test_different_seed_gives_different_jsonl(tmp_path):
    ev5, us5 = _incremental_batch(tmp_path, 5)
    ev6, us6 = _incremental_batch(tmp_path, 6)
    assert ev5 != ev6 and us5 != us6


def test_transform_tables_are_seeded(tmp_path):
    shape = inputs.TransformShape(docs=50, vecs=40, customers=30, orders=60, parts=20, suppliers=5)
    rows = inputs.write_transform_tables(str(tmp_path / "a"), 3, shape)
    inputs.write_transform_tables(str(tmp_path / "b"), 3, shape)
    inputs.write_transform_tables(str(tmp_path / "c"), 4, shape)
    for t in rows:
        a = _read_bytes(str(tmp_path / "a" / f"{t}.parquet"))
        assert a == _read_bytes(str(tmp_path / "b" / f"{t}.parquet"))
        assert a != _read_bytes(str(tmp_path / "c" / f"{t}.parquet"))


def test_recorded_oracle_digests_are_current(tmp_path):
    """Every row's recorded oracle answer is keyed by the current oracle
    SQL and tables; a stale key would make every run compute the oracle
    live, at minutes of set-up."""
    from pyairbyte_spark import queries
    from perfbench.transform import DATA_SEED, ROWS, SHAPE

    inputs.write_transform_tables(str(tmp_path), DATA_SEED, SHAPE)
    recorded = oracles.load()
    sqls = queries.oracle_sql()
    assert set(recorded) == set(ROWS)
    for name, tables in ROWS.items():
        assert recorded[name]["key"] == oracles.input_key(str(tmp_path), sqls[name], tables), name


def test_batch_files_agree_with_the_model(tmp_path):
    model = inputs.StoreModel()
    model.add_events(inputs.event_columns(9, 0, 300, 1_000))
    cols = inputs.event_columns(9, 1, 100, 1_000)
    inputs.write_events_batch(str(tmp_path), 0, model.n_events, cols)
    model.add_events(cols)
    with open(inputs.batch_path(str(tmp_path), "events", 0), encoding="utf-8") as f:
        records = [parse_message(line).record.data for line in f]
    assert len(records) == 100
    total = 0
    for r in records:
        g = r["event_id"]
        want = model.event_row(g)
        assert (g, r["user_id"], inputs.iso(want[2]), r["kind"]) == (g, want[1], r["ts"], want[3])
        total += round(r["amount"] * 100)
    assert model.range_count(300, 400) == 100
    assert model.range_sum(300, 400) * 100 == total


# -- the connector --------------------------------------------------------------


def _connector(*args: str) -> list:
    out = subprocess.run([sys.executable, CONNECTOR, *args], capture_output=True,
                         text=True, check=True, timeout=60)
    msgs = [parse_message(line) for line in out.stdout.splitlines()]
    assert all(m is not None for m in msgs), out.stdout
    return msgs


@pytest.fixture
def connector_dir(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    for k in range(2):
        cols = inputs.event_columns(1, k + 1, 50, 100)
        inputs.write_events_batch(str(data), k, 1_000 + 50 * k, cols)
        inputs.write_users_batch(str(data), k, inputs.user_upserts(1, k, 30, 100, 5))
    config = tmp_path / "config.json"
    config.write_text(json.dumps(inputs.connector_config(
        str(data), [inputs.EVENTS_STREAM, inputs.USERS_STREAM])))
    return tmp_path, str(config)


def test_connector_speaks_the_protocol(connector_dir):
    tmp_path, config = connector_dir
    (spec,) = _connector("spec")
    assert spec.type == "SPEC" and "connectionSpecification" in spec.raw["spec"]
    (status,) = _connector("check", "--config", config)
    assert status.raw["connectionStatus"]["status"] == "SUCCEEDED"
    (catalog,) = _connector("discover", "--config", config)
    streams = {s["name"]: s for s in catalog.raw["catalog"]["streams"]}
    assert streams["users"]["source_defined_primary_key"] == [["id"]]
    assert streams["events"]["default_cursor_field"] == ["ts"]

    configured = tmp_path / "catalog.json"
    configured.write_text(json.dumps({"streams": [
        {"stream": {"name": n}, "sync_mode": "incremental"} for n in ("events", "users")]}))
    first = _connector("read", "--config", config, "--catalog", str(configured))
    records = [m.record for m in first if m.type == "RECORD"]
    assert [r.stream for r in records] == ["events"] * 50 + ["users"] * 30
    assert records[0].data["event_id"] == 1_000
    states = [m.state for m in first if m.type == "STATE"]
    assert [s.stream_name for s in states] == ["events", "users"]
    done = [m.trace for m in first if m.type == "TRACE"]
    assert [(t.stream_name, t.status) for t in done] == [("events", "COMPLETE"), ("users", "COMPLETE")]

    # Resuming from the emitted state replays the next batch.
    state = tmp_path / "state.json"
    state.write_text(json.dumps([
        {"type": "STREAM", "stream": {"stream_descriptor": {"name": s.stream_name},
                                      "stream_state": s.state}} for s in states]))
    second = _connector("read", "--config", config, "--catalog", str(configured),
                        "--state", str(state))
    records = [m.record for m in second if m.type == "RECORD"]
    assert records[0].data["event_id"] == 1_050 and len(records) == 80


# -- metric names -----------------------------------------------------------------


def test_metric_names_match_the_declared_set():
    bench = _bench()
    for section, code in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        declared = {m["name"]: (m["unit"], m["better"]) for m in bench[section]}
        assert len(declared) == len(bench[section]), f"duplicate name in {section}"
        assert declared == code
        for name, (unit, better) in declared.items():
            assert NAME.match(name), name
            assert re.fullmatch(r"[A-Za-z0-9_.-]+", name)
            assert UNIT.match(unit), unit
            assert better in ("lower", "higher")
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_benchmark_json_meets_its_contract():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/") and ".." not in p
    assert len(bench["command"]) <= 32 and all(len(c) <= 200 for c in bench["command"])
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert len(json.dumps(bench).encode()) <= 64 * 1024


# -- span accounting --------------------------------------------------------------


def _traced_sync() -> tuple[Tracer, int]:
    tr = Tracer("t", enabled=True)
    with tr.span("processor.sync") as root:
        for _ in tr.timed_iterator(iter(range(1_000)), "sources.pump"):
            pass
        with tr.span("writers.write_dataframe"):
            with tr.span("writers.write_append"):
                with tr.span("fileio.put_if_absent"):
                    sum(range(10_000))
        with tr.span("state.flush"):
            pass
    return tr, tr.spans.index(root)


def test_layer_self_times_add_up_to_the_root():
    tr, idx = _traced_sync()
    root = tr.spans[idx]
    selfs = tr.self_times(idx)
    assert set(selfs) == {"processor", "sources", "writers", "fileio", "state"}
    assert sum(selfs.values()) == pytest.approx(root.end - root.start, abs=1e-9)
    assert tr.accounting_problems(idx) == []
    assert tr.spans[1].attrs["items"] == 1_000


def test_accounting_flags_impossible_spans():
    tr, idx = _traced_sync()
    pump = tr.spans[1]
    pump.attrs["busy_s"] = pump.end - pump.start + 1.0
    problems = tr.accounting_problems(idx)
    # The pump claims more time than it had, and so more than the
    # processor had left: both are reported.
    assert any("sources.pump: busy" in p for p in problems)
    assert any("layer processor self time" in p for p in problems)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("processor.sync") as sp:
        assert sp is None
        assert list(tr.timed_iterator(iter([1, 2]), "sources.pump")) == [1, 2]
    tr.add("fileio.sync_gets")
    assert tr.spans == [] and tr.counters == {}
