"""Snapshot tables: Iceberg-style commit/append semantics on plain parquet.

The production design targets an Iceberg catalog (atomic append of results
+ metrics per epoch, resume = anti-join against the committed snapshot —
SURVEY.md §4.2 Custom #3). No Iceberg jars ship in this sandbox, so the
same contract is implemented as a parquet directory per epoch plus a JSON
manifest that is written **last** (rename-commit): an epoch is visible iff
its manifest entry exists, so a killed job never exposes partial output.

Reference analog: ``ConversionAssets.save/load`` zip snapshots
(docling/docling/datamodel/document.py:261-414) — replaced by table
snapshots because per-document files don't scale to 10^12 rows.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class SnapshotTable:
    """Append-only epoch-committed table under ``root``.

    Layout::

        root/
          manifest.json        # {"epochs": [{"epoch": 0, "dir": "epoch-0-<uuid>", ...}]}
          epoch-0-<uuid>/...   # parquet
    """

    spark: SparkSession
    root: str
    _manifest_path: str = field(init=False)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        self._manifest_path = os.path.join(self.root, "manifest.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"epochs": []}
        with open(self._manifest_path) as fh:
            return json.load(fh)

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    @property
    def last_epoch(self) -> int:
        eps = self.manifest()["epochs"]
        return max((e["epoch"] for e in eps), default=-1)

    # -- write ------------------------------------------------------------
    def stage(self, df: DataFrame, epoch: int) -> str:
        """Write an epoch's parquet WITHOUT committing it (no manifest
        entry → invisible to readers until :meth:`commit`)."""
        part = f"epoch-{epoch}-{uuid.uuid4().hex[:8]}"
        df.write.mode("errorifexists").parquet(os.path.join(self.root, part))
        return part

    def commit(self, part: str, epoch: int, extra: Optional[dict] = None,
               replace_epoch: bool = False) -> None:
        """Manifest append — the atomic commit point for a staged dir.

        ``replace_epoch=True`` drops any previous entry for the same epoch
        first: used by the metrics table so that an orphan entry left by a
        crash between the metrics commit and the results commit (the
        epoch's sole completion point) is superseded, never double-counted,
        when the epoch is redone. The orphan parquet dir stays on disk
        unreferenced — harmless.
        """
        m = self.manifest()
        if replace_epoch:
            m["epochs"] = [e for e in m["epochs"] if e["epoch"] != epoch]
        m["epochs"].append(
            {
                "epoch": epoch,
                "dir": part,
                "committed_at": time.time(),
                **(extra or {}),
            }
        )
        self._write_manifest(m)



    # -- read -------------------------------------------------------------
    def read(self) -> Optional[DataFrame]:
        """Union of all committed epochs; None if empty."""
        eps = self.manifest()["epochs"]
        if not eps:
            return None
        paths = [os.path.join(self.root, e["dir"]) for e in eps]
        return self.spark.read.parquet(*paths)

    def done_keys(self, key: str = "url") -> Optional[DataFrame]:
        df = self.read()
        return None if df is None else df.select(key).distinct()
