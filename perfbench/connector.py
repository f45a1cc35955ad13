#!/usr/bin/env python3
"""A file-replaying source connector speaking the Airbyte protocol on stdio.

Verbs: ``spec``, ``check --config F``, ``discover --config F`` and
``read --config F --catalog F [--state F]``. The config names a data
directory and the streams it serves (see ``inputs.connector_config``).

``read`` replays one pre-generated batch file per configured stream,
byte for byte, so generating records stays off the sync's critical path.
A stream with a cursor resumes from the state it is given: it replays
the first batch whose first cursor value lies past the state's cursor,
then emits a STATE message carrying that batch's last cursor value. A
stream without a cursor replays batch 0. Every stream ends with a
COMPLETE stream-status trace.

Standard library only: the benchmark starts this script as a separate
process for every sync.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

SPEC = {
    "connectionSpecification": {
        "type": "object",
        "required": ["data_dir", "streams"],
        "properties": {
            "data_dir": {"type": "string"},
            "streams": {"type": "array"},
        },
    }
}


def _emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj, separators=(",", ":")) + "\n")


def _load(path: str):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _args(argv: list[str]) -> dict[str, str]:
    out = {}
    for flag, value in zip(argv[::2], argv[1::2]):
        out[flag.lstrip("-")] = value
    return out


def discover(config: dict) -> dict:
    streams = []
    for s in config["streams"]:
        cursor = s.get("cursor_field")
        streams.append(
            {
                "name": s["name"],
                "json_schema": s["json_schema"],
                "supported_sync_modes": (
                    ["full_refresh", "incremental"] if cursor else ["full_refresh"]
                ),
                "source_defined_primary_key": [[k] for k in s.get("primary_key") or []],
                "default_cursor_field": [cursor] if cursor else [],
            }
        )
    return {"streams": streams}


def pick_batch(data_dir: str, stream: str, cursor_value: str | None) -> tuple[str, dict] | None:
    """First batch of ``stream`` whose first cursor lies past
    ``cursor_value`` (batch 0 when there is no state)."""
    metas = sorted(glob.glob(os.path.join(data_dir, f"{stream}.*.meta.json")))
    for meta_path in metas:
        meta = _load(meta_path)
        if cursor_value is None or (meta["first"] is not None and meta["first"] > cursor_value):
            return meta_path[: -len(".meta.json")] + ".jsonl", meta
    return None


def read(config: dict, catalog: dict, state: list | None) -> None:
    by_name = {s["name"]: s for s in config["streams"]}
    cursors = {}
    for entry in state or []:
        desc = entry.get("stream", {})
        name = desc.get("stream_descriptor", {}).get("name")
        cursors[name] = desc.get("stream_state", {})
    out = sys.stdout
    for configured in catalog["streams"]:
        name = configured["stream"]["name"]
        cursor_field = by_name[name].get("cursor_field")
        prior = cursors.get(name, {}).get(cursor_field) if cursor_field else None
        picked = pick_batch(config["data_dir"], name, prior)
        if picked is not None:
            path, meta = picked
            out.flush()
            with open(path, "rb") as f:
                shutil.copyfileobj(f, out.buffer, 1 << 20)
            out.buffer.flush()
            if cursor_field:
                prior = meta["last"]
        if cursor_field and prior is not None:
            _emit(
                {
                    "type": "STATE",
                    "state": {
                        "type": "STREAM",
                        "stream": {
                            "stream_descriptor": {"name": name},
                            "stream_state": {cursor_field: prior},
                        },
                    },
                }
            )
        _emit(
            {
                "type": "TRACE",
                "trace": {
                    "type": "STREAM_STATUS",
                    "stream_status": {
                        "stream_descriptor": {"name": name},
                        "status": "COMPLETE",
                    },
                },
            }
        )


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: connector.py spec|check|discover|read [--config F] ...", file=sys.stderr)
        return 2
    verb, opts = argv[0], _args(argv[1:])
    if verb == "spec":
        _emit({"type": "SPEC", "spec": SPEC})
        return 0
    config = _load(opts["config"])
    if verb == "check":
        ok = os.path.isdir(config.get("data_dir", ""))
        _emit(
            {
                "type": "CONNECTION_STATUS",
                "connectionStatus": {"status": "SUCCEEDED" if ok else "FAILED"},
            }
        )
        return 0
    if verb == "discover":
        _emit({"type": "CATALOG", "catalog": discover(config)})
        return 0
    if verb == "read":
        state = _load(opts["state"]) if "state" in opts else None
        read(config, _load(opts["catalog"]), state)
        return 0
    print(f"unknown verb {verb!r}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
