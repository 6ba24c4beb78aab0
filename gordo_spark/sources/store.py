"""S7/S8 — model/metadata store with revisions + config-hash build cache.

Reference semantics:
- ``serializer.dump/load``: directory-per-model with model.pkl +
  metadata.json + info.json, numbered revision dirs
  (gordo/serializer/serializer.py:120-196 in /root/reference; revision
  listing gordo/server/server.py:170-195).
- disk key-value registry: file-per-key mapping config-hash -> model path
  (gordo/util/disk_registry.py:17-115), keyed by sha3-512 of canonical JSON
  (gordo/builder/build_model.py:575-631) — a semantic build cache.

On a cluster the store directory lives on shared/object storage; the cache
check is a metadata read, never a data job.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import re
import time
from typing import Any

_REVISION_RE = re.compile(r"^\d{9,}$")


def calculate_cache_key(
    name: str, model_def: dict, dataset_def: dict, evaluation: dict, version: str = "0.1"
) -> str:
    """sha3-512 over canonical JSON of the build-relevant config."""
    payload = json.dumps(
        {
            "name": name,
            "model": model_def,
            "dataset": dataset_def,
            "evaluation": evaluation,
            "version": version,
        },
        sort_keys=True,
        default=str,
    )
    return hashlib.sha3_512(payload.encode()).hexdigest()


class ModelStore:
    """Revisioned model directory: <root>/<revision>/<name>/{model.pkl,
    metadata.json, info.json}."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @staticmethod
    def new_revision() -> str:
        """A revision name for a build starting now (epoch milliseconds)."""
        return str(int(time.time() * 1000))

    def dump(
        self, model: Any, name: str, metadata: dict | None = None, revision: str | None = None
    ) -> str:
        revision = revision or self.new_revision()
        d = os.path.join(self.root, revision, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "model.pkl"), "wb") as f:
            pickle.dump(model, f)
        with open(os.path.join(d, "metadata.json"), "w") as f:
            json.dump(metadata or {}, f, default=str)
        with open(os.path.join(d, "info.json"), "w") as f:
            json.dump({"checksum": None, "revision": revision, "name": name}, f)
        return d

    def load(self, name: str, revision: str | None = None) -> tuple[Any, dict]:
        revision = revision or self.latest_revision()
        if revision is None:
            raise FileNotFoundError(f"no revisions in {self.root}")
        d = os.path.join(self.root, revision, name)
        with open(os.path.join(d, "model.pkl"), "rb") as f:
            model = pickle.load(f)
        with open(os.path.join(d, "metadata.json")) as f:
            metadata = json.load(f)
        return model, metadata

    def revisions(self) -> list[str]:
        return sorted(
            e for e in os.listdir(self.root) if _REVISION_RE.match(e)
        )

    def latest_revision(self) -> str | None:
        revs = self.revisions()
        return revs[-1] if revs else None

    def delete_revision(self, revision: str) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.root, revision))


class DiskRegistry:
    """File-per-key registry (build cache): key -> stored string value."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def write_key(self, key: str, value: str) -> None:
        with open(self._path(key), "w") as f:
            f.write(value)

    def get_value(self, key: str) -> str | None:
        try:
            with open(self._path(key)) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def delete_key(self, key: str) -> bool:
        try:
            os.remove(self._path(key))
            return True
        except FileNotFoundError:
            return False
