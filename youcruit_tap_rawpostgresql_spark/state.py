"""JSON state store: per-stream replication bookmarks (reference R4).

The reference relies on the Singer SDK state system — a JSON document of
per-stream bookmarks advanced to the max replication-key value seen
(consumed at ``client.py:272`` via ``get_starting_replication_key_value``).
Here: a plain JSON file keyed by fully-qualified stream name. At cluster
scale this would live on a shared store (object store / DB); the interface
is the same.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from typing import Any


class StateStore:
    """Singer-style bookmark state, persisted as one JSON file."""

    def __init__(self, path: str | None = None):
        self.path = path
        self._state: dict[str, dict[str, Any]] = {"bookmarks": {}}
        if path and os.path.exists(path):
            with open(path) as f:
                self._state = json.load(f)
            self._state.setdefault("bookmarks", {})

    def get_bookmark(
        self, stream_id: str, replication_key: str | None = None
    ) -> Any | None:
        """Stored bookmark value; ``replication_key``, when given, must
        match the key the bookmark was stored under — a config that
        switched replication keys must NOT reuse the old key's value as
        the new key's starting point (wrong-typed comparison downstream)."""
        bm = self._state["bookmarks"].get(stream_id, {})
        if (
            replication_key is not None
            and bm.get("replication_key") is not None
            and bm["replication_key"] != replication_key
        ):
            return None
        return bm.get("replication_key_value")

    def set_bookmark(self, stream_id: str, replication_key: str, value: Any) -> None:
        if isinstance(value, (_dt.datetime, _dt.date)):
            value = value.isoformat(sep=" ") if isinstance(value, _dt.datetime) else value.isoformat()
        self._state["bookmarks"][stream_id] = {
            "replication_key": replication_key,
            "replication_key_value": value,
        }

    def to_dict(self) -> dict:
        return self._state

    def flush(self) -> None:
        """Replace the state file atomically: the state goes to a temp file,
        is fsynced, then renamed over the file. A failed write removes the
        temp file and re-raises; the state file stays as it was."""
        if self.path:
            tmp = self.path + ".tmp"
            try:
                with open(tmp, "w") as f:
                    json.dump(self._state, f, indent=2, default=str)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, self.path)
            except BaseException:
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise
