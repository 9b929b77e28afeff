"""`df.write.format("checksum")` — a Spark 4 Python DataSource
WRITER (the sink counterpart of the custom reader in
hgt_datasource.py, completing the Python DataSource surface: batch
read, batch write, stream write).

The sink materializes an order/partitioning-independent integrity
manifest instead of the data itself: every executor task hashes its
partition's rows (stable '|'-joined rendering → md5 → 48-bit int,
xor-folded) and ships (row_count, checksum) back as its commit
message; the driver's commit() folds task messages into ONE manifest
JSON. Because xor is commutative/associative, the manifest is
identical under any row order or partition count — the same
portability contract as q119's table checksums, packaged as a sink.

Collision scope (ADVICE r6): xor-folding means any row appearing an
EVEN number of times cancels to zero — the manifest detects any
single wrong/missing/extra row, but two datasets that differ by
swapping one even-multiplicity row set for another hash identically.
The row_count field narrows (but does not close) that window; a
multiset-exact manifest would fold (hash, count) pairs or add a
sum-mod-2^64 component alongside the xor.

Scale: the executor→driver traffic is one tiny commit message per
task regardless of data volume; abort() leaves nothing behind
(the manifest writes atomically at commit via rename).
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType


class ChecksumCommit(WriterCommitMessage):
    def __init__(self, n_rows: int, checksum: int):
        self.n_rows = n_rows
        self.checksum = checksum


def _row_hash48(values) -> int:
    rendered = "|".join("\\N" if v is None else str(v) for v in values)
    digest = hashlib.md5(rendered.encode("utf-8")).hexdigest()
    return int(digest[:12], 16)


class ChecksumWriter(DataSourceWriter):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("checksum sink requires a path option")
        self.columns = [f.name for f in schema.fields]

    def write(self, iterator: Iterator[Row]) -> ChecksumCommit:
        n, acc = 0, 0
        for row in iterator:
            n += 1
            acc ^= _row_hash48([row[c] for c in self.columns])
        return ChecksumCommit(n, acc)

    def commit(self, messages) -> None:
        n = sum(m.n_rows for m in messages)
        acc = 0
        for m in messages:
            acc ^= m.checksum
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, "_manifest.json.tmp")
        final = os.path.join(self.path, "manifest.json")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "row_count": n,
                    "checksum48": acc,
                    "columns": self.columns,
                    "n_tasks": len(messages),
                },
                fh,
            )
        os.replace(tmp, final)

    def abort(self, messages) -> None:
        pass  # nothing durable is written before commit


class ChecksumDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "checksum"

    def writer(self, schema: StructType, overwrite: bool) -> ChecksumWriter:
        return ChecksumWriter(self.options, schema)


def register_checksum_sink(spark) -> None:
    """Idempotently register the sink on this session."""
    spark.dataSource.register(ChecksumDataSource)


# ---------------------------------------------------------------- streaming

class ChecksumStreamWriter(DataSourceStreamWriter):
    """Streaming counterpart (Spark 4 `DataSourceStreamWriter`):
    every micro-batch commits ONE manifest file named by its batch id
    (atomic rename), so a crash-replayed batch OVERWRITES its own
    manifest instead of duplicating it — the idempotent-sink contract
    (q331) expressed at the DataSource API level. Executor tasks ship
    (row_count, xor-fold) commit messages exactly like the batch
    writer; nothing row-sized reaches the driver."""

    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("checksum stream sink requires a path option")
        self.columns = [f.name for f in schema.fields]

    def write(self, iterator: Iterator[Row]) -> ChecksumCommit:
        n, acc = 0, 0
        for row in iterator:
            n += 1
            acc ^= _row_hash48([row[c] for c in self.columns])
        return ChecksumCommit(n, acc)

    def commit(self, messages, batchId: int) -> None:
        n = sum(m.n_rows for m in messages)
        acc = 0
        for m in messages:
            acc ^= m.checksum
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_batch_{batchId}.json.tmp")
        final = os.path.join(self.path, f"batch_{batchId}.json")
        with open(tmp, "w") as fh:
            json.dump({"batch_id": batchId, "row_count": n,
                       "checksum48": acc, "n_tasks": len(messages)}, fh)
        os.replace(tmp, final)

    def abort(self, messages, batchId: int) -> None:
        pass  # nothing durable before the rename


def _stream_writer(self, schema: StructType, overwrite: bool):
    return ChecksumStreamWriter(self.options, schema)


ChecksumDataSource.streamWriter = _stream_writer
