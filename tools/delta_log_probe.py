"""Commit-metadata scaling probe for protocol-4 delta records.

Measures the _log/ byte growth of a table receiving N single-group
appends (the steady-state streaming-ingest shape) under the two
encodings:

- full manifests (the pre-round-10 format): every commit rewrites the
  complete file list + stats index -> log grows O(N^2);
- protocol 4 (delta records + checkpoint every 16): each commit is
  O(change), checkpoints are O(N) every 16 -> log grows O(N^2/16) in
  the worst case but the PER-COMMIT record is O(1), which is the term
  that matters on the 100 TB write path (commit latency and the
  metadata written per trigger, not total retained log, which vacuum
  bounds anyway).

Metadata-only: drives VersionedTable._commit with synthetic file
groups — no SparkSession, no data files — so the probe isolates
exactly the bytes the format writes per commit.

Usage: python tools/delta_log_probe.py [--groups 2048]
Prints one JSON object with per-commit record bytes at several table
sizes and the total log bytes for both encodings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from netflow_analysis_with_spark_streaming_spark.storage.versioned import (  # noqa: E402
    VersionedTable,
)

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _drive(t: VersionedTable, n: int, groups: list[str]) -> dict[int, int]:
    """n single-group appends via _commit; returns {version: record
    bytes} for each on-disk commit record."""
    files: list[str] = []
    stats: dict = {}
    sizes: dict[int, int] = {}
    for i in range(n):
        g = groups[i]
        files.append(g)
        stats[g] = {"k": [i * 10, i * 10 + 9], "__rows__": 10}
        v = t._commit(list(files), "append", SCHEMA_JSON, stats=dict(stats))
        sizes[v] = os.path.getsize(
            os.path.join(t.root, "_log", f"{v:08d}.json")
        )
    return sizes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--groups", type=int, default=2048)
    args = ap.parse_args()
    n = args.groups
    base = tempfile.mkdtemp(prefix="netflow_dlp_")
    try:
        full = VersionedTable(
            os.path.join(base, "full"), delta_log_min_files=1 << 60
        )
        delta = VersionedTable(os.path.join(base, "delta"))  # defaults
        groups = [f"data/{uuid.uuid4().hex}" for _ in range(n)]
        s_full = _drive(full, n, groups)
        s_delta = _drive(delta, n, groups)
        # sanity: same materialized snapshot either way
        assert len(delta._manifest(n - 1)["files"]) == n
        assert delta._manifest(n - 1)["files"] == full._manifest(n - 1)["files"]
        marks = [m for m in (64, 256, 1024, n - 1) if m < n]
        out = {
            "groups": n,
            "per_commit_bytes_full": {m: s_full[m] for m in marks},
            # report a NON-checkpoint delta record at each mark (the
            # steady-state commit; checkpoints are the amortized term);
            # step DOWN off a checkpoint so the version always exists
            "per_commit_bytes_delta": {
                (m if m % 16 else m - 1): s_delta[m if m % 16 else m - 1]
                for m in marks
                if m % 16 or m >= 1
            },
            "log_total_bytes_full": sum(s_full.values()),
            "log_total_bytes_delta": sum(s_delta.values()),
        }
        last_full = s_full[n - 1]
        last_delta = s_delta[n - 1 if (n - 1) % 16 else n - 2]
        out["last_commit_ratio_full_over_delta"] = round(
            last_full / last_delta, 1
        )
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
