"""Custom Spark DataSource for the chunk store — the "optional
DataSource V2" from SURVEY §4/§7, implemented with PySpark 4's Python
DataSource API so the store is a first-class format:

    spark.dataSource.register(ChunkStoreDataSource)
    df = (spark.read.format("chunkstore")
          .option("path", store).load())           # parallel scan
    df.write.format("chunkstore").option("path", store).mode("append")

It is also the engine's one distributed scan: ``chunkstore.read_store``
returns it. This module is a thin adapter; the format (chunk names,
chunk decode/encode, region split) lives in ``sources/chunkstore.py``.

Scale properties mirrored from the reference's GTI metadata planning
(flytemosaic/mosaics.py:33-39):

- **planning is metadata-only** — partitions are derived from chunk
  file names (``chunk_files``), no chunk bytes are touched at plan time;
- **filter pushdown prunes files**: comparisons on the origin columns
  (t, b0, y0, x0) are consumed by ``pushFilters`` and applied to the
  file-name-derived origins, so pruned chunks are never opened — the
  same effect as parquet row-group min/max skipping;
- **tasks share the chunks evenly** (one task per core of the planning
  host; every Python task costs tens of milliseconds, so fewer beat
  one per chunk) and each yields Arrow batches of at most
  ``_CHUNKS_PER_BATCH`` chunks, so executor memory is bounded
  regardless of store size.

Spark keeps a relation's last pushdown result (the pruned partitions)
and reuses it for a later query on the same DataFrame that pushes no
filter, so a ``load()``-ed DataFrame reused that way returns the
previous query's chunks. ``read_store`` guards against it with an
always-true origin filter; direct users should ``load()`` per query.
"""

from __future__ import annotations

import operator
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import numpy as np
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from flytemosaic_spark.sources.chunkstore import (
    chunk_files,
    chunk_index,
    chunk_name,
    read_chunk,
    read_template,
    write_region,
)

SCHEMA = "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>"
_ORIGIN_COLS = ("t", "b0", "y0", "x0")
_CHUNKS_PER_BATCH = 32

# Origin-column comparisons the reader consumes: (origin, filter value)
# -> keep the chunk. Origins are never null.
_PRUNE = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
    In: lambda v, values: v in values,
    IsNotNull: lambda v, _: True,
}


def _scan_batch(path: str, meta: dict, chunks: list[tuple]):
    """Scan rows for ``chunks`` as one Arrow batch. Payloads go from
    the decoded numpy chunks straight into one Arrow buffer — no
    per-element Python objects."""
    import pyarrow as pa

    ct, cb, cy, cx = meta["chunks"]
    origins = np.asarray(chunks, np.int32).reshape(-1, 4) * np.asarray(
        meta["chunks"], np.int32
    )
    size = ct * cb * cy * cx
    flat = np.concatenate(
        [np.empty(0, "f4")] + [read_chunk(path, meta, i).ravel() for i in chunks]
    ).astype("f4", copy=False)
    offsets = pa.array(np.arange(0, flat.size + 1, size, dtype=np.int32))
    return pa.record_batch(
        {
            **{c: pa.array(origins[:, k]) for k, c in enumerate(_ORIGIN_COLS)},
            "shape": pa.array([[cb, cy, cx]] * len(chunks), pa.list_(pa.int32())),
            "payload": pa.ListArray.from_arrays(offsets, pa.array(flat)),
        }
    )


@dataclass
class _ChunkBatch(InputPartition):
    chunks: list[tuple]


class ChunkStoreReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.meta = read_template(self.path)
        self._pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume origin-column comparisons (they prune whole chunk
        files); return everything else for Spark to evaluate.

        Reset on every call: Spark re-plans a reused DataFrame through
        the same reader instance, and the previous query's pushed
        filters must not leak into this one."""
        self._pushed = []
        for f in filters:
            if len(f.attribute) == 1 and f.attribute[0] in _ORIGIN_COLS and type(f) in _PRUNE:
                self._pushed.append(f)
            else:
                yield f  # not consumed

    def _keep(self, idx: tuple) -> bool:
        origin = dict(zip(_ORIGIN_COLS, (i * c for i, c in zip(idx, self.meta["chunks"]))))
        return all(
            _PRUNE[type(f)](origin[f.attribute[0]], getattr(f, "value", None))
            for f in self._pushed
        )

    def partitions(self) -> Sequence[InputPartition]:
        keep = [idx for idx in chunk_files(self.path) if self._keep(idx)]
        per = max(1, -(-len(keep) // (os.cpu_count() or 1)))
        return [_ChunkBatch(keep[i : i + per]) for i in range(0, len(keep), per)] or [
            _ChunkBatch([])
        ]

    def read(self, partition: _ChunkBatch):
        chunks = partition.chunks
        for i in range(0, max(1, len(chunks)), _CHUNKS_PER_BATCH):
            yield _scan_batch(self.path, self.meta, chunks[i : i + _CHUNKS_PER_BATCH])


@dataclass
class _WroteChunks(WriterCommitMessage):
    n_chunks: int


class ChunkStoreWriter(DataSourceWriter):
    """Region-parallel writer: each task writes the disjoint,
    chunk-aligned regions of its rows (S10 semantics — atomic rename,
    idempotent). The template (.zarray) must exist."""

    def __init__(self, options):
        self.path = options["path"]
        self.meta = read_template(self.path)

    def write(self, rows) -> _WroteChunks:
        return _WroteChunks(sum(write_region(self.path, self.meta, row) for row in rows))

    def commit(self, messages):
        return None

    def abort(self, messages):
        # partial chunk files are replaced by the retry (idempotent)
        return None


class ChunkStoreStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch streaming over the chunk store: each batch is the
    set of chunk files not yet seen — the streaming twin of the S6/J4
    bulk-ingest listing anti-join (a region-parallel writer appends
    disjoint chunks; the stream tails them).

    The offset is the SET of seen file names (JSON dict), which makes
    replay (``readBetweenOffsets``) exact regardless of arrival order
    — chunk names carry grid indices, not timestamps, so no
    lexicographic high-water mark exists. The seen-set grows with the
    store; a production deployment compacts it exactly like Spark's
    own FileStreamSource seen-files log (bounded by maxFileAge). At
    the gate scale the offset is a few hundred names."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("chunkstore stream requires option 'path'")
        self.meta = read_template(self.path)

    def _chunk_files(self) -> list[str]:
        return [chunk_name(idx) for idx in chunk_files(self.path)]

    def _rows(self, names: list[str]) -> Iterator[tuple]:
        batch = _scan_batch(self.path, self.meta, [chunk_index(n) for n in names])
        return zip(*(col.to_pylist() for col in batch.columns))

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def read(self, start: dict):
        seen = dict(start.get("seen", {}))
        new = [n for n in self._chunk_files() if n not in seen]
        seen.update(dict.fromkeys(new, 1))
        return self._rows(new), {"seen": seen}

    def readBetweenOffsets(self, start: dict, end: dict):
        prev = start.get("seen", {})
        return self._rows([n for n in end.get("seen", {}) if n not in prev])


class ChunkStoreDataSource(DataSource):
    """``spark.read.format("chunkstore")`` / ``df.write.format(...)``
    / ``spark.readStream.format("chunkstore")``."""

    @classmethod
    def name(cls) -> str:
        return "chunkstore"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> ChunkStoreReader:
        return ChunkStoreReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> ChunkStoreWriter:
        return ChunkStoreWriter(self.options)

    def simpleStreamReader(self, schema: StructType) -> ChunkStoreStreamReader:
        return ChunkStoreStreamReader(self.options)


def register(spark) -> None:
    """Make ``format("chunkstore")`` available in ``spark``. Pushdown
    must be on: the reader consumes filters."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChunkStoreDataSource)
