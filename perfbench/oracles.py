"""The reference answers the transform pass's rows are checked against.

Each row's reference is its DuckDB oracle from ``queries.oracle_sql()``
over the pass's tables, compared order-insensitively the way
``scripts/oracle_sweep.py`` does: columns sorted, every value as a
string, rows sorted. At the sf0.1 shape the MinHash oracle alone runs
about 90 s on 2 threads, so ``oracle_digests.json`` records, per row, the
digest of the oracle's answer in that canonical form, keyed by the
digests of the oracle SQL and of the row's input tables. A row whose key
matches is checked against the recorded digest; the oracle of any other
row (its SQL or its tables changed) runs live, on a thread that overlaps
the Spark session's start.

Rewrite the recorded digests from the repository root with

    python3 -m perfbench.oracles
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import threading

import duckdb

from pyairbyte_spark import queries

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def answer(df) -> dict:
    """The canonical digest of one row's result (a pandas DataFrame)."""
    cols = sorted(df.columns)
    rows = sorted(map(tuple, df[cols].astype(str).itertuples(index=False)))
    return {"columns": cols, "rows": len(rows),
            "sha256": _sha(json.dumps(rows).encode("utf-8"))}


def input_key(data: str, sql: str, tables: tuple[str, ...]) -> str:
    """Digest of what a row's oracle answer depends on."""
    h = hashlib.sha256(sql.encode("utf-8"))
    for t in tables:
        with open(os.path.join(data, f"{t}.parquet"), "rb") as f:
            h.update(t.encode("utf-8"))
            h.update(f.read())
    return h.hexdigest()


def _run_oracles(data: str, rows: dict[str, tuple[str, ...]], names: list[str],
                 threads: int, out: dict[str, object]) -> None:
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        for t in {t for n in names for t in rows[n]}:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        sqls = queries.oracle_sql()
        for name in names:
            try:
                out[name] = answer(con.execute(sqls[name]).fetchdf())
            except Exception as exc:  # noqa: BLE001 - reported by the check
                out[name] = exc
    finally:
        con.close()


class References:
    """Per row, the recorded answer digest when its key matches, else the
    live oracle's, computed on a thread started here."""

    def __init__(self, data: str, rows: dict[str, tuple[str, ...]]) -> None:
        recorded = load()
        sqls = queries.oracle_sql()
        self.results: dict[str, object] = {}
        live = []
        for name, tables in rows.items():
            rec = recorded.get(name)
            if rec is not None and rec["key"] == input_key(data, sqls[name], tables):
                self.results[name] = rec["answer"]
            else:
                live.append(name)
        self.thread = None
        if live:
            self.thread = threading.Thread(
                target=_run_oracles, args=(data, rows, live, 2, self.results), name="oracles")
            self.thread.start()

    def get(self, name: str):
        """The answer digest of row ``name``, or the exception its oracle
        raised."""
        if self.thread is not None:
            self.thread.join()
        return self.results[name]


def load() -> dict:
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS, encoding="utf-8") as f:
        return json.load(f)


def main() -> int:
    from perfbench import inputs
    from perfbench.harness import CPUS
    from perfbench.transform import DATA_SEED, ROWS, SHAPE

    with tempfile.TemporaryDirectory() as data:
        inputs.write_transform_tables(data, DATA_SEED, SHAPE)
        answers: dict[str, object] = {}
        _run_oracles(data, ROWS, list(ROWS), CPUS, answers)
        failed = {n: a for n, a in answers.items() if isinstance(a, Exception)}
        if failed:
            print(f"oracles failed: {failed}")
            return 1
        sqls = queries.oracle_sql()
        out = {
            name: {"key": input_key(data, sqls[name], tables), "answer": answers[name]}
            for name, tables in ROWS.items()
        }
    with open(DIGESTS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} oracle answer digests to {DIGESTS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
