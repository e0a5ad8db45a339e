"""Checkpoint log — resumable exactly-once batch application.

Generalizes the reference's crude checkpoint (reload previously staged CSVs
instead of recomputing, arches_rascoll/ref_collection.py:227-234) into an
append-only JSON-lines log of applied batch ids + snapshot versions: one
line per batch, appended *after* the lake commit, so a record costs
O(one line) however long the tail has run. The failure window is:

* crash before lake commit      → nothing happened; batch re-runs.
* crash after lake commit, before checkpoint → checkpoint is behind, but the
  lake's own committed ``batch-id`` summary makes the re-merge a no-op
  (two-level idempotence; covered by kill/resume tests).
* crash mid-append              → a torn line, which ``load`` skips: that
  batch reads as unrecorded and resolves as in the window above.

A checkpoint written as one JSON object (the earlier format) still loads,
and later records append after it.
"""

from __future__ import annotations

import json
import os
from typing import Any


class Checkpoint:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def load(self) -> dict[str, Any]:
        """Fold the log into ``{"applied": [ids in order], "last_snapshot":
        v, "batches": {id: stats}}``."""
        state: dict[str, Any] = {"applied": [], "last_snapshot": None, "batches": {}}
        try:
            with open(self.path) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            return state
        seen: set[str] = set()
        for line in lines:
            try:
                rec = json.loads(line)
            except ValueError:
                continue  # blank, or torn by a crash mid-append
            if "applied" in rec:  # single-object checkpoint of the earlier format
                state = rec
                seen = set(rec["applied"])
                continue
            bid = rec["batch"]
            if bid not in seen:
                seen.add(bid)
                state["applied"].append(bid)
            state["last_snapshot"] = rec["snapshot"]
            state["batches"][bid] = rec["stats"]
        return state

    def applied_batch_ids(self) -> set[str]:
        return set(self.load()["applied"])

    def record(self, batch_id: str, snapshot_version: int | None, stats: dict | None = None) -> None:
        line = json.dumps(
            {"batch": str(batch_id), "snapshot": snapshot_version, "stats": stats or {}}
        ).encode()
        # a file not ending in a newline (an earlier-format object, or a
        # line torn by a crash) gets one first, so this record parses alone
        try:
            with open(self.path, "rb") as f:
                f.seek(-1, os.SEEK_END)
                sep = b"" if f.read(1) == b"\n" else b"\n"
        except OSError:  # missing or empty file
            sep = b""
        with open(self.path, "ab") as f:
            f.write(sep + line + b"\n")
