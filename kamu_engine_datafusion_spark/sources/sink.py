"""Single-file Parquet sink (reference operators A17–A18).

The reference writes exactly one snappy Parquet file at the requested
path (``src/engine.rs:597-641``), working around writer-extension quirks
by writing then renaming (``src/engine.rs:610-627``), and returns the
written row count. Spark writes a directory of part files, so the
equivalent is: write to a temp dir with a single output partition, then
move the lone ``part-*.parquet`` to the requested path.

Encodings (A18): the reference forces dictionary encoding for ``op`` and
``system_time`` (``src/engine.rs:574-591``) — constant/low-cardinality
columns. Spark's Parquet writer enables dictionary encoding by default
(``parquet.enable.dictionary=true``), so these columns come out
RLE_DICTIONARY without extra configuration; tests assert this via
pyarrow metadata.

Scale note: single-file output is an ODF-protocol requirement for the
coordinator, not an engine limitation. ``write_parquet_single_file``
writes one partition; since ``coalesce(1)`` is a narrow dependency, the
single write task also runs everything back to the plan's last
exchange — for an exchange-free query, the whole scan and projection.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def write_parquet_single_file(df: DataFrame, path: str) -> int:
    """A17: write ``df`` as exactly one snappy Parquet file at ``path``;
    return the number of records written (``src/engine.rs:597-641``).

    The input is expected to already be single-partition when row order
    matters (the transform pipeline coalesces before offset assignment);
    we coalesce(1) defensively anyway — a no-op on one partition.
    """
    out_dir = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(out_dir, exist_ok=True)
    tmp_dir = tempfile.mkdtemp(prefix=".odf-write-", dir=out_dir)
    try:
        spark_dir = os.path.join(tmp_dir, "out")
        # Pin Parquet format v1 explicitly — the reference pins writer
        # version 1 (src/engine.rs:568-572); Spark's default is also v1,
        # but an ambient cluster conf could override it, so the protocol
        # sink does not rely on the default.
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("parquet.writer.version", "v1")
            .parquet(spark_dir)
        )
        parts = sorted(glob.glob(os.path.join(spark_dir, "part-*.parquet")))
        if len(parts) != 1:
            raise RuntimeError(
                f"expected exactly one part file, found {len(parts)} in {spark_dir}"
            )
        # Count from the written file footer — avoids recomputing the plan
        # (the reference likewise takes the count from the write result,
        # src/engine.rs:629-640).
        import pyarrow.parquet as pq

        num_records = pq.ParquetFile(parts[0]).metadata.num_rows
        # tmp_dir sits in the destination directory, so this is one
        # atomic rename: a crash leaves either the old file or the new
        os.replace(parts[0], path)
        return int(num_records)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
