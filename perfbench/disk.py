"""Directory walks for the storage metrics."""

from __future__ import annotations

import os


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (data, logs, indexes, checksums)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_count(path: str, suffix: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(f.endswith(suffix) for f in files)
    return n


def storage_amplification(live: dict, out_dir: str) -> float:
    """Bytes on disk under the tables (data, commit logs, indexes,
    checkpoints, checksums) divided by the bytes of their live rows
    written once as one sorted zstd parquet file per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    on_disk = compacted = 0
    for i, (path, df) in enumerate(sorted(live.items())):
        on_disk += dir_bytes(path)
        out = os.path.join(out_dir, f"{i}.parquet")
        rows = pa.Table.from_pandas(df.sort_values(list(df.columns)), preserve_index=False)
        pq.write_table(rows, out, compression="zstd")
        compacted += os.path.getsize(out)
    return on_disk / compacted
