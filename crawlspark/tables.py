"""TableFormat seam: snapshot-committed tables (SURVEY §7 storage note).

Production path is Iceberg (`spark.read.format("iceberg")`, `MERGE
INTO`, snapshot time travel) — that is configuration, not code. This
sandbox has no Iceberg runtime jar, so ``SnapshotStore`` implements the
same *observable* semantics on plain Parquet + an atomically-swapped
JSON manifest:

- **Atomic multi-table commit**: a wave commits frontier + seen +
  jobs + lineage in ONE manifest swap (os.replace is atomic on POSIX).
  A crash mid-write leaves orphan data dirs that no manifest
  references — invisible, exactly like an uncommitted Iceberg
  snapshot.
- **Snapshot isolation / time travel**: every commit is a new
  snapshot id; readers name a snapshot or take the latest.
- **Resume-from-checkpoint** (north_rule, reference analogue: Redis
  AOF persistence, docker-compose.yml:30): restart reads the last
  committed snapshot and continues; the kill-resume test pins this.

Tables not rewritten by a commit carry forward by reference (the
manifest points at the previous snapshot's directory) — no data copy,
like Iceberg manifests reusing unchanged data files.

One write path and one read path: every table a commit touches is its
own parquet write (submitted concurrently), and a read is the union of
the table's base (read on its own, whatever its directory partitioning)
and its append deltas. A snapshot records ``sid``, ``wave``, ``tables``
and ``committed_at``; readers ignore any other key (older manifests
carry an empty ``select`` map and a ``layout`` map).

Schemas live in the manifest, as Iceberg keeps them in table metadata:
a top-level ``schemas`` map holds each table's schema as of its latest
write, and reads apply it, so a read runs no schema-inference job and
an empty partitioned write (no footer-bearing file) still reads. A
manifest without ``schemas`` falls back to inference.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str | Path):
        # created by the first commit: opening a store (a status read,
        # a refused crawl) leaves no directory behind
        self.root = Path(root)
        self._manifest_path = self.root / "_manifest.json"

    # -- manifest ---------------------------------------------------------
    def _read_manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"snapshots": []}
        return json.loads(self._manifest_path.read_text())

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def latest(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def latest_wave(self) -> int | None:
        s = self.latest()
        return None if s is None else s["wave"]

    # -- read -------------------------------------------------------------
    def _split(self, spark: SparkSession, table: str,
               snapshot_id: int | None = None
               ) -> tuple[DataFrame | None, DataFrame | None]:
        """(base, deltas) of a table at a snapshot, (None, None) if
        absent. The base is the first directory of the manifest entry
        (the last overwrite), read on its own so its directory
        partitioning needs no bookkeeping; deltas are the append
        directories committed since, oldest first, or None. Reads carry
        the manifest schema when there is one. An unknown snapshot_id
        raises KeyError — never mistaken for "table absent". ``read`` and
        ``read_split`` each call it (not one the other), so a tracer that
        wraps both times every read once."""
        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if snapshot_id is not None:
            snaps = [s for s in snaps if s["sid"] == snapshot_id]
            if not snaps:
                raise KeyError(f"no snapshot with sid {snapshot_id}")
        for s in reversed(snaps):
            if table in s["tables"]:
                entry = s["tables"][table]
                paths = [str(self.root / p) for p in
                         (entry if isinstance(entry, list) else [entry])]
                schema = manifest.get("schemas", {}).get(table)
                reader = spark.read
                if schema is not None:
                    reader = reader.schema(schema)
                base = reader.parquet(paths[0])
                if len(paths) == 1:
                    return base, None
                deltas = reader.parquet(*paths[1:])
                return base.select(*deltas.columns), deltas
        return None, None

    def read(self, spark: SparkSession, table: str,
             snapshot_id: int | None = None) -> DataFrame | None:
        """Read a table at a snapshot (default: latest). None if absent;
        KeyError if ``snapshot_id`` names no snapshot.

        Append-mode tables resolve to the union of all their batch
        directories (manifest entry is a list) — the parquet-sandbox
        equivalent of an Iceberg table's data-file list: the union by
        name of ``read_split``'s two halves.
        """
        base, deltas = self._split(spark, table, snapshot_id)
        return base if deltas is None else deltas.unionByName(base)

    def read_split(self, spark: SparkSession, table: str,
                   snapshot_id: int | None = None
                   ) -> tuple[DataFrame | None, DataFrame | None]:
        """(base, deltas) — the merge-on-read halves. base = the last
        overwrite (bootstrap or compaction, already one row per key);
        deltas = the appends since (each internally one row per key,
        `_wseq`-ordered across waves). The driver's views window-resolve
        ONLY the deltas and anti-join the base — the read-side exchange
        is O(delta chain), never O(total state) (Iceberg MoR analogue;
        the delta chain is bounded by compact_every)."""
        return self._split(spark, table, snapshot_id)

    # -- commit -----------------------------------------------------------
    def commit(self, wave: int, tables: dict[str, DataFrame],
               partition_by: dict[str, list[str]] | None = None,
               appends: dict[str, DataFrame] | None = None) -> int:
        """Write `tables` (overwrite semantics) and `appends` (the wave's
        batch joins the table's directory list — O(batch) IO instead of
        an O(total) rewrite, like Iceberg appending data files), then
        atomically publish ONE snapshot covering both plus every
        carried-forward table. Returns the new snapshot id.

        Each frame is written with the partitioning it arrives in (a
        wave's appends keep theirs; compaction sizes the frontier base)."""
        self.root.mkdir(parents=True, exist_ok=True)
        manifest = self._read_manifest()
        prev = manifest["snapshots"][-1] if manifest["snapshots"] else None
        sid = (prev["sid"] + 1) if prev else 1

        entry_tables: dict = dict(prev["tables"]) if prev else {}

        def _write(item):
            name, df = item
            rel = f"data/{sid}/{name}"
            writer = df.write.mode("overwrite")
            for col in (partition_by or {}).get(name, []):
                writer = writer.partitionBy(col)
            writer.parquet(str(self.root / rel))
            return name, rel

        appends = appends or {}

        def _append_entry(name, rel):
            prev_entry = entry_tables.get(name, [])
            prev_list = (prev_entry if isinstance(prev_entry, list)
                         else [prev_entry])
            entry_tables[name] = prev_list + [rel]

        # Spark accepts concurrent job submission from driver threads:
        # writing the wave's tables in parallel keeps all cores busy
        # instead of serializing N small parquet jobs (the serial
        # fraction is what kills N->4N scaling efficiency).
        from concurrent.futures import ThreadPoolExecutor

        all_items = list(tables.items()) + list(appends.items())
        manifest.setdefault("schemas", {}).update(
            (name, df.schema.toDDL()) for name, df in all_items)
        with ThreadPoolExecutor(max_workers=max(1, len(all_items))) as pool:
            for name, rel in pool.map(_write, all_items):
                if name in appends:
                    _append_entry(name, rel)
                else:
                    entry_tables[name] = rel

        manifest["snapshots"].append({
            "sid": sid,
            "wave": wave,
            "tables": entry_tables,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        })
        # durable before visible: fsync the tmp file, swap, then fsync
        # the directory so the rename itself survives a power loss
        tmp = self._manifest_path.with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest, indent=1))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)  # the atomic commit point
        dir_fd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        return sid
