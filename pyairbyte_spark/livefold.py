"""One fold over a snapshot's live data files, two executors.

The store's metadata-answered reads — ``plan_scan``, ``count_where``,
``agg_where`` and ``table_stats`` — each walk a snapshot's live files
once and decide every file from its manifest record (zone maps, row
counts, harvested sums, bloom bits). Each read is an *op* here: a
per-file step that folds one file into a partial, and a ``merge`` of
two partials (counts and sums add, min/max fold, dead columns union,
file lists concatenate).

The same op runs in one of two places:

- on the driver, over a materialized manifest's ``entries``
  (:func:`manifest_rows`);
- on executors, inside one ``mapInArrow`` over the checkpoint
  sidecar's Arrow batches (:func:`sidecar_rows`). Each partition
  yields ONE pickled partial and the driver merges them, so driver
  memory is bounded by what the partials keep, never by the manifest.

An op's ``file`` step sees only LIVE files: superseded bucket data is
dropped by :func:`fold` before any op looks at it. Ops that collect
file lists take a ``cap``; a partial past its cap drops its lists and
sets ``overflow``, which the caller answers with a plan that needs no
per-file list (a pruned scan, or whole-dir groups). Since a partition's
count never exceeds the merged count, overflow anywhere proves the
merged count is past the cap too.
"""

from __future__ import annotations

import json
import pickle
from functools import reduce
from typing import Any, Iterable, Iterator

from pyairbyte_spark.bloom import dnf_may_match
from pyairbyte_spark.filestats import file_may_match_dnf, file_must_match_dnf

# Header fields the whole-dir collapse needs per entry (not the
# stage-time schema the sidecar header's ``extra`` JSON also carries).
_HEADER_KEYS = ("buckets", "base", "pruned")


def manifest_rows(man: dict) -> Iterator[tuple[dict, dict | None]]:
    """``(entry, None)`` for each entry, then ``(entry, file)`` for
    each of its files, in manifest order."""
    for e in man.get("entries") or []:
        yield e, None
        for f in e.get("files") or []:
            yield e, f


def sidecar_rows(batches: Iterable) -> Iterator[tuple[dict, dict | None]]:
    """The same pairs from checkpoint-sidecar Arrow batches (schema of
    ``manifest.entries_to_parquet_bytes``). A header row yields its
    entry; a file row yields an entry stub (path and live buckets —
    the header may sit in another partition) and the file record. A
    ``__blooms`` column, when joined on, becomes the file's ``bloom``
    map ``{col: (m, k, bits)}``."""
    stub: dict = {}
    for batch in batches:
        for r in batch.to_pylist():
            extra = json.loads(r["extra"]) if r.get("extra") else {}
            if r["file_path"] is None:
                yield {
                    "path": r["entry_path"],
                    "buckets": r["entry_buckets"],
                    "files": [] if r["has_files"] else None,
                    **extra,
                }, None
                continue
            if stub.get("path") != r["entry_path"]:
                stub = {"path": r["entry_path"], "buckets": r["entry_buckets"]}
            f = {
                "path": r["file_path"],
                "bucket": r["bucket"],
                "bytes": r["bytes"],
                "rows": r["rows"],
                "sv": r["sv"],
                "stats": json.loads(r["stats"]) if r["stats"] else None,
                **extra,
            }
            if r.get("__blooms"):
                f["bloom"] = {
                    b["col"]: (int(b["m"]), int(b["k"]), bytes(b["bits"]))
                    for b in r["__blooms"]
                }
            yield stub, f


def fold(op, rows: Iterable[tuple[dict, dict | None]]) -> dict:
    """Run ``op`` over ``(entry, file)`` pairs, skipping dead-bucket
    files, and return its partial."""
    acc = op.empty()
    for e, f in rows:
        if f is None:
            op.entry(acc, e)
        elif (
            e.get("buckets") is None
            or f.get("bucket") is None
            or f["bucket"] in e["buckets"]
        ):
            op.file(acc, e, f)
    return acc


def partition_fold(op):
    """The ``mapInArrow`` body: one pickled partial per partition."""

    def run(batches):
        import pyarrow as pa

        blob = pickle.dumps(fold(op, sidecar_rows(batches)))
        yield pa.RecordBatch.from_pydict({"partial": [blob]})

    return run


def merge_partials(op, blobs: Iterable[bytes]) -> dict:
    return reduce(op.merge, (pickle.loads(b) for b in blobs), op.empty())


def _header(e: dict) -> dict:
    return {k: e.get(k) for k in _HEADER_KEYS}


def _add_file(acc: dict, key: str, e: dict, item: Any, cap) -> None:
    """Append ``item`` to entry ``e``'s list in ``acc[key]`` unless
    the partial already overflowed ``cap`` (then drop every list)."""
    if acc["overflow"]:
        return
    if cap is not None and acc["listed"] >= cap:
        acc["overflow"] = True
        acc[key] = {p: v for p, v in acc[key].items() if v[1] is None}
        return
    acc["listed"] += 1
    acc[key].setdefault(e["path"], [e.get("buckets"), []])[1].append(item)


def _merge_lists(a: dict, b: dict, key: str) -> dict:
    overflow = a["overflow"] or b["overflow"]
    out = {} if overflow else dict(a[key])
    for src in ((a, b) if overflow else (b,)):
        for p, (buckets, items) in src[key].items():
            if items is None:
                out[p] = [buckets, None]
            elif not overflow:
                cur = out.get(p)
                out[p] = [buckets, items if cur is None else cur[1] + items]
    return {
        key: out,
        "overflow": overflow,
        "listed": a["listed"] + b["listed"],
    }


class ScanOp:
    """``plan_scan``: a live file survives unless its zone maps — or
    its bloom bits for ``=``/``in`` conjuncts — prove no row matches.

    ``kept`` maps entry path → ``[live buckets, survivor file paths]``
    in entry order; a pre-stats entry (no file list) maps to
    ``[buckets, None]`` (read whole). ``per_entry`` additionally counts
    ``[live, surviving, header]`` per entry for the whole-dir collapse;
    ``only`` restricts the recorded survivors to the given entries.
    ``blooms`` is a driver-side ``{(entry, file): bits}`` map; with
    ``bloom_rows`` the bits ride each sidecar row instead."""

    def __init__(
        self,
        preds: list,
        *,
        blooms: dict | None = None,
        bloom_rows: bool = False,
        cap: int | None = None,
        only: set | None = None,
        per_entry: bool = False,
    ) -> None:
        self.preds = preds
        self.blooms = blooms
        self.bloom = blooms is not None or bloom_rows
        self.cap = cap
        self.only = only
        self.per_entry = per_entry

    def empty(self) -> dict:
        return {
            "total": 0, "selected": 0, "uncovered": 0, "kept": {},
            "listed": 0, "overflow": False, "entries": {}, "first": None,
        }

    def entry(self, acc: dict, e: dict) -> None:
        if e.get("files") is None:
            acc["kept"][e["path"]] = [e.get("buckets"), None]
        if self.per_entry:
            acc["entries"].setdefault(e["path"], [0, 0, None])[2] = _header(e)

    def file(self, acc: dict, e: dict, f: dict) -> None:
        acc["total"] += 1
        if acc["first"] is None:
            acc["first"] = (e["path"], f["path"])
        fb = (
            f.get("bloom")
            if self.blooms is None
            else self.blooms.get((e["path"], f["path"]))
        )
        if self.bloom and fb is None:
            acc["uncovered"] += 1  # coverage watermark (live files)
        ok = file_may_match_dnf(f, self.preds) and not (
            fb and not dnf_may_match(fb, self.preds)
        )
        if self.per_entry:
            n = acc["entries"].setdefault(e["path"], [0, 0, None])
            n[0] += 1
            n[1] += ok
        if not ok:
            return
        acc["selected"] += 1
        if self.only is None or e["path"] in self.only:
            _add_file(acc, "kept", e, f["path"], self.cap)

    def merge(self, a: dict, b: dict) -> dict:
        entries = dict(a["entries"])
        for p, (n_live, n_surv, hdr) in b["entries"].items():
            cur = entries.get(p, [0, 0, None])
            entries[p] = [cur[0] + n_live, cur[1] + n_surv, cur[2] or hdr]
        return {
            **{k: a[k] + b[k] for k in ("total", "selected", "uncovered")},
            **_merge_lists(a, b, "kept"),
            "entries": entries,
            "first": a["first"] or b["first"],
        }


class HeaderOp:
    """The header records (base, buckets, pruned flag, schema) of the
    given entries — what a sidecar file row lacks."""

    def __init__(self, only: set) -> None:
        self.only = only

    def empty(self) -> dict:
        return {}

    def entry(self, acc: dict, e: dict) -> None:
        if e["path"] in self.only:
            acc[e["path"]] = e

    def file(self, acc: dict, e: dict, f: dict) -> None:
        pass

    @staticmethod
    def merge(a: dict, b: dict) -> dict:
        return {**a, **b}


def agg_alias(fn: str, col: str) -> str:
    return f"{fn}_star" if col == "*" else f"{fn}_{col}"


def agg_meta_answer(
    f: dict,
    specs: "list[tuple[str, str]]",
    phys_of: "dict[str, str]",
    exact_minmax: "set[str]",
) -> "dict | None":
    """Stats-tier contributions of a must-match file for EVERY
    requested aggregate, or None when any is unanswerable from the
    footer stats: ``count(*)`` from the row count, ``count(col)`` from
    rows − nulls, ``min/max(col)`` from the zone map when the column's
    type makes footer min/max exact values, ``sum(col)`` from the
    store-harvested per-file sum when present. :class:`AggOp`'s
    per-file step, on the driver and on executors alike."""
    rows = f.get("rows")
    if rows is None:
        return None
    if rows == 0:
        return {}
    stats = f.get("stats") or {}
    out: dict = {}
    for fn, col in specs:
        a = agg_alias(fn, col)
        if fn == "count" and col == "*":
            out[a] = rows
            continue
        cs = stats.get(phys_of[col])
        if fn == "count":
            nulls = (cs or {}).get("nulls")
            if nulls is None:
                return None
            out[a] = rows - nulls
            continue
        if fn == "avg":
            # agg_where expands avg -> sum + count before classifying;
            # a direct avg spec has no stats tier
            return None
        if fn == "sum":
            # harvested at staging (harvest_sums / build_sum_stats) —
            # parquet footers carry no sum, so absence = scan tier
            if cs is None:
                return None
            nulls = cs.get("nulls")
            if nulls is not None and nulls >= rows:
                continue  # all-null: SQL SUM ignores it
            s = cs.get("sum")
            if s is None:
                return None
            out[a] = s
            continue
        if col not in exact_minmax or cs is None:
            return None
        nulls = cs.get("nulls")
        if nulls is not None and nulls >= rows:
            continue  # all-null: contributes no candidate
        v = cs.get("min" if fn == "min" else "max")
        if v is None:
            return None
        out[a] = v
    return out


def _fold_aggs(specs, acc: dict, contrib: dict) -> None:
    """Fold metadata-tier values into ``acc``: counts and sums add,
    min/max keep the extreme. A missing alias contributes nothing."""
    for fn, col in specs:
        a = agg_alias(fn, col)
        if a not in contrib:
            continue
        v = contrib[a]
        if a not in acc:
            acc[a] = v
        elif fn in ("count", "sum"):
            acc[a] += v
        else:
            acc[a] = min(acc[a], v) if fn == "min" else max(acc[a], v)


class AggOp:
    """``count_where`` / ``agg_where``: each live file is pruned (no
    row may match), answered from its footer stats (every row matches
    and :func:`agg_meta_answer` covers every aggregate — only when
    ``meta_ok``), or a BOUNDARY file that must be scanned.

    ``scan`` maps entry path → ``[live buckets, boundary files]``
    (``None`` for a pre-stats entry, read whole); with ``keep_stats``
    each boundary record keeps its stats for dominance pruning."""

    def __init__(
        self,
        preds: list,
        specs: "list[tuple[str, str]]",
        phys_of: "dict[str, str]",
        exact_minmax: "set[str]",
        *,
        meta_ok: bool = True,
        cap: int | None = None,
        keep_stats: bool = False,
    ) -> None:
        self.preds = preds
        self.specs = specs
        self.phys_of = phys_of
        self.exact_minmax = exact_minmax
        self.meta_ok = meta_ok
        self.cap = cap
        self.keep_stats = keep_stats

    def empty(self) -> dict:
        return {
            "total": 0, "meta": 0, "aggs": {}, "n_scan": 0, "scan": {},
            "listed": 0, "overflow": False,
        }

    def entry(self, acc: dict, e: dict) -> None:
        if e.get("files") is None:
            acc["scan"][e["path"]] = [e.get("buckets"), None]

    def file(self, acc: dict, e: dict, f: dict) -> None:
        acc["total"] += 1
        if not file_may_match_dnf(f, self.preds):
            return
        contrib = (
            agg_meta_answer(f, self.specs, self.phys_of, self.exact_minmax)
            if self.meta_ok and file_must_match_dnf(f, self.preds)
            else None
        )
        if contrib is not None:
            acc["meta"] += 1
            _fold_aggs(self.specs, acc["aggs"], contrib)
            return
        acc["n_scan"] += 1
        rec = {"path": f["path"], "bucket": f.get("bucket")}
        if self.keep_stats:
            rec["stats"] = f.get("stats")
        _add_file(acc, "scan", e, rec, self.cap)

    def merge(self, a: dict, b: dict) -> dict:
        aggs = dict(a["aggs"])
        _fold_aggs(self.specs, aggs, b["aggs"])
        return {
            **{k: a[k] + b[k] for k in ("total", "meta", "n_scan")},
            **_merge_lists(a, b, "scan"),
            "aggs": aggs,
        }


def _merge_column_stats(acc: dict, c: str, s: dict) -> None:
    """Fold one column's stats ``s`` — a file's own, or a partial whose
    ``files`` counts the live files carrying them — into
    ``acc["columns"]``. Values that do not compare (a type change
    across files) mark the column dead: it is dropped, and stays
    dropped through every later merge."""
    if c in acc["dead"]:
        return
    cur = acc["columns"].get(c)
    if cur is None:
        acc["columns"][c] = {**s, "files": s.get("files", 1)}
        return
    cur["files"] += s.get("files", 1)
    try:
        cur["min"] = min(cur["min"], s["min"])
    except TypeError:
        acc["dead"].add(c)
        del acc["columns"][c]
        return
    if cur.get("max") is None or s.get("max") is None:
        cur["max"] = None
    else:
        cur["max"] = max(cur["max"], s["max"])
    if cur.get("nulls") is None or s.get("nulls") is None:
        cur["nulls"] = None
    else:
        cur["nulls"] += s["nulls"]


class StatsOp:
    """``table_stats``: live file, row and byte counts plus per-column
    min/max/nulls. ``exact`` turns False when a pre-stats entry or a
    file without a row count makes the totals unknowable."""

    def empty(self) -> dict:
        return {
            "files": 0, "rows": 0, "bytes": 0, "exact": True,
            "columns": {}, "dead": set(),
        }

    def entry(self, acc: dict, e: dict) -> None:
        if e.get("files") is None:
            acc["exact"] = False

    def file(self, acc: dict, e: dict, f: dict) -> None:
        acc["files"] += 1
        if f.get("rows") is None:
            acc["exact"] = False
        acc["rows"] += f.get("rows") or 0
        acc["bytes"] += f.get("bytes") or 0
        for c, s in (f.get("stats") or {}).items():
            _merge_column_stats(acc, c, s)

    @staticmethod
    def merge(a: dict, b: dict) -> dict:
        out = {
            **{k: a[k] + b[k] for k in ("files", "rows", "bytes")},
            "exact": a["exact"] and b["exact"],
            "columns": {c: dict(s) for c, s in a["columns"].items()},
            "dead": a["dead"] | b["dead"],
        }
        for c in b["dead"]:
            out["columns"].pop(c, None)
        for c, s in b["columns"].items():
            _merge_column_stats(out, c, s)
        return out
