"""Custom Python DataSource: the reference's line-chunked storage
model as a first-class Spark source.

The reference DFS splits every stored file into fixed-size chunks on
line boundaries and runs one map task per chunk with per-chunk line
numbers (client.go SendLineChunks; wordcountjob.go `Map(lineNumber,
line)`). This module reproduces that contract through Spark's Python
DataSource API (pyspark 4.x): `refchunks` plans one InputPartition
per chunk from parquet FOOTER metadata only (no data read at plan
time — the controller-side chunk map), and each partition's reader
yields `(chunk_id, line_no, value)` with line numbers local to the
chunk, exactly the tuple the reference hands its mappers.

Scale posture: partition planning is O(row-count/lines_per_chunk)
driver-side arithmetic; each task reads the column-pruned corpus and
slices its own row range. At 100 TB the slice would push down to
parquet row groups (the chunk map IS the row-group map); the fixture
is a single row group, so each task prunes columns but scans the
file — documented, and irrelevant beyond fixture scale where real
files have thousands of row groups.
"""

from __future__ import annotations

import sys as _sys

from pyspark import cloudpickle as _cloudpickle

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def _num_rows(path: str) -> int:
    """Row count from parquet footer metadata, for a single file or a
    Spark-written directory of part files (no data pages read)."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


class ChunkPartition(InputPartition):
    def __init__(self, chunk_id: int, start: int, end: int):
        self.chunk_id = chunk_id
        self.start = start
        self.end = end


class ChunkedTextReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.lines_per_chunk = int(options.get("lines_per_chunk", "100"))

    def partitions(self):
        step = self.lines_per_chunk
        n = _num_rows(self.path)  # footers only
        return [
            ChunkPartition(i // step, i, min(i + step, n))
            for i in range(0, n, step)
        ]

    def read(self, partition):
        import pyarrow.parquet as pq

        if partition is None:  # empty source: Spark calls read() once
            return
        t = pq.read_table(self.path, columns=["doc_id", "text"])
        # Deterministic line order = doc_id order (the fixture writes
        # rows in doc_id order; sorting makes that a contract, not an
        # accident of file layout).
        t = t.sort_by("doc_id").slice(
            partition.start, partition.end - partition.start
        )
        for line_no, text in enumerate(t.column("text").to_pylist()):
            yield (partition.chunk_id, line_no, text)


class ChunkFileCommit(WriterCommitMessage):
    def __init__(self, paths: list, n_lines: int):
        self.paths = paths
        self.n_lines = n_lines


class _ChunkFileWriter(DataSourceWriter):
    """Commit and abort of the chunk writers: each task writes its
    chunk files in place and reports their paths in a ChunkFileCommit,
    so commit has nothing to finalize and abort removes the files."""

    def commit(self, messages):
        pass  # files are already in place; nothing to finalize

    def abort(self, messages):
        import os

        for m in messages:
            if m is None:
                continue
            for p in m.paths:
                if os.path.exists(p):
                    os.remove(p)


class ChunkedTextWriter(_ChunkFileWriter):
    """The reference's chunked `put` as a Spark sink: each task writes
    its rows as line-oriented chunk files of at most `lines_per_chunk`
    lines (client.go SendLineChunks splits on line boundaries at a
    byte budget; here the budget is the same line count the reader
    plans by). One file per chunk, distributed one task per input
    partition — the replication/placement half of `put` is the file
    system's job (SURVEY.md §1.3)."""

    def __init__(self, options):
        self.path = options["path"]
        self.lines_per_chunk = int(options.get("lines_per_chunk", "100"))

    def write(self, iterator):
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        task_id = uuid.uuid4().hex
        paths: list[str] = []
        n = 0
        f = None
        try:
            for row in iterator:
                if n % self.lines_per_chunk == 0:
                    if f is not None:
                        f.close()
                    p = os.path.join(
                        self.path,
                        f"chunk-{task_id}-{n // self.lines_per_chunk:05d}.txt",
                    )
                    paths.append(p)
                    f = open(p, "w")
                f.write(row.value + "\n")
                n += 1
        finally:
            if f is not None:
                f.close()
        return ChunkFileCommit(paths, n)


class BytesChunkPartition(InputPartition):
    def __init__(self, entries: list):
        self.entries = entries  # manifest dicts, a bounded batch per task


class ChunkedBytesReader(DataSourceReader):
    """Byte-chunk `get`: plan from the manifest (controller-side chunk
    map), verify each chunk's SHA-256 against its recorded checksum on
    read (client.go:606-615 recomputes and compares before accepting a
    chunk), and yield the raw chunk bytes. Partitions batch
    `chunks_per_task` manifest entries so task count stays
    O(chunks/batch), not O(chunks)."""

    def __init__(self, options):
        self.path = options["path"]
        self.chunks_per_task = int(options.get("chunks_per_task", "256"))

    def partitions(self):
        import json
        import os

        entries: list = []
        for f in sorted(os.listdir(self.path)):
            if f.startswith("manifest-") and f.endswith(".json"):
                with open(os.path.join(self.path, f)) as fh:
                    entries.extend(json.load(fh))
        entries.sort(key=lambda e: (e["file_name"], e["chunk_idx"]))
        step = self.chunks_per_task
        return [
            BytesChunkPartition(entries[i : i + step])
            for i in range(0, len(entries), step)
        ]

    def read(self, partition):
        import hashlib
        import os

        if partition is None:  # empty source: Spark calls read() once
            return
        for e in partition.entries:
            with open(os.path.join(self.path, e["chunk_name"]), "rb") as fh:
                data = fh.read()
            ck = hashlib.sha256(data).hexdigest()
            if len(data) != e["n_bytes"] or ck != e["checksum"]:
                raise ValueError(
                    f"chunk {e['chunk_name']!r} corrupt: "
                    f"{len(data)}B/{ck[:12]} vs manifest "
                    f"{e['n_bytes']}B/{e['checksum'][:12]}"
                )
            yield (e["file_name"], e["chunk_idx"], len(data), ck, data)


class ChunkedBytesWriter(_ChunkFileWriter):
    """The reference's BINARY `put` path (client.go SendByteChunks:
    335-384, reached via the is-text dispatch at client.go:461-469 —
    dead in the reference only because IsTextFile is hardcoded true,
    client.go:70-72): each logical file is split into FIXED-SIZE byte
    chunks (the last one short), chunk files named
    `{counter}_{fileName}` exactly as the reference names them, with a
    per-chunk SHA-256 recorded at put time (check_sum.go:22-29). The
    checksum map is persisted as one manifest per task — the
    controller-side metadata the reader plans and verifies from. Rows
    are (file_name string, payload binary); chunking is per-row, so
    tasks never coordinate and the file count is row-bounded."""

    def __init__(self, options):
        self.path = options["path"]
        self.bytes_per_chunk = int(options.get("bytes_per_chunk", "4096"))

    def write(self, iterator):
        import hashlib
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        task_id = uuid.uuid4().hex
        entries: list = []
        paths: list[str] = []
        for row in iterator:
            payload = bytes(row.payload)
            for counter, off in enumerate(
                range(0, len(payload), self.bytes_per_chunk)
            ):
                chunk = payload[off : off + self.bytes_per_chunk]
                cname = f"{counter}_{row.file_name}"
                p = os.path.join(self.path, cname)
                with open(p, "wb") as fh:
                    fh.write(chunk)
                paths.append(p)
                entries.append(
                    {
                        "file_name": row.file_name,
                        "chunk_idx": counter,
                        "chunk_name": cname,
                        "n_bytes": len(chunk),
                        "checksum": hashlib.sha256(chunk).hexdigest(),
                    }
                )
        mpath = os.path.join(self.path, f"manifest-{task_id}.json")
        with open(mpath, "w") as fh:
            json.dump(entries, fh)
        paths.append(mpath)
        return ChunkFileCommit(paths, len(entries))


class ChunkedTextStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of the chunk store — the reference's chunked
    `get` as a Structured Streaming SOURCE: the offset is the number
    of chunks already consumed, each micro-batch drains every chunk
    that exists beyond it, and replay between two committed offsets
    re-reads exactly those chunks (deterministic doc_id order makes
    chunk membership a contract). This is what ingest-time pipelines
    actually tail: a growing chunk directory, exactly-once per chunk.

    Scale posture: the offset is one integer; per-batch work reads
    only the new chunks' row ranges (column-pruned); nothing scans
    from zero on restart."""

    def __init__(self, options):
        self.path = options["path"]
        self.lines_per_chunk = int(options.get("lines_per_chunk", "100"))
        self._order_cache = None  # sorted doc_id array
        self._order_n = -1  # row count the cache was built at

    def _n_chunks(self) -> int:
        n = _num_rows(self.path)
        step = self.lines_per_chunk
        return (n + step - 1) // step

    def initialOffset(self) -> dict:
        return {"chunk": 0}

    def _order(self):
        """Sorted doc_id array — the chunk-membership contract —
        computed from the (cheap, single-int-column) doc_id read and
        cached per file version, so replays and successive batches
        never re-derive it while the file is unchanged."""
        import numpy as np
        import pyarrow.parquet as pq

        n = _num_rows(self.path)
        if self._order_cache is None or self._order_n != n:
            ids = pq.read_table(self.path, columns=["doc_id"])
            self._order_cache = np.sort(ids.column("doc_id").to_numpy())
            self._order_n = n
        return self._order_cache

    def _rows(self, first_chunk: int, last_chunk: int):
        # returns iter(list) — Spark's simple-stream prefetch cache
        # calls next() on the result AND copy.copy()s it for replay:
        # a plain list fails next(), a generator fails copy; a
        # CPython list_iterator satisfies both. The simple reader API
        # is documented driver-side prefetch for modest-throughput
        # sources; a chunk batch is bounded by lines_per_chunk *
        # new-chunk count, and the partition-planned batch reader
        # (ChunkedTextReader) remains the bulk path.
        import pyarrow.parquet as pq

        if last_chunk <= first_chunk:
            return iter([])
        step = self.lines_per_chunk
        order = self._order()
        start, stop = first_chunk * step, min(last_chunk * step, len(order))
        if stop <= start:
            return iter([])
        # rank range -> contiguous doc_id range (doc_ids are unique),
        # so the text column — the dominant payload — is read only for
        # the new chunks' rows via row-group predicate pushdown
        lo, hi = order[start].item(), order[stop - 1].item()
        t = pq.read_table(
            self.path,
            columns=["doc_id", "text"],
            filters=[("doc_id", ">=", lo), ("doc_id", "<=", hi)],
        ).sort_by("doc_id")
        # chunk id derives from the absolute row rank alone:
        # start already equals first_chunk * step, so adding
        # first_chunk again would double-count it for any replay or
        # grown-file read that starts past chunk 0
        return iter([
            ((start + j) // step, (start + j) % step, text)
            for j, text in enumerate(t.column("text").to_pylist())
        ])

    def read(self, start: dict):
        end = self._n_chunks()
        return self._rows(start["chunk"], end), {"chunk": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["chunk"], end["chunk"])


class ChunkedTextDataSource(DataSource):
    """`refchunks`: mode=lines (default) is the reference's text path
    (SendLineChunks); mode=bytes is its binary path (SendByteChunks) —
    the same dispatch the reference does on IsTextFile
    (client.go:461-469)."""

    @classmethod
    def name(cls) -> str:
        return "refchunks"

    def _mode(self) -> str:
        # option key is chunk_mode, not mode: `mode` is the
        # DataFrameWriter save-mode knob and must not be overloaded
        return self.options.get("chunk_mode", "lines")

    def schema(self) -> str:
        if self._mode() == "bytes":
            return (
                "file_name string, chunk_idx int, n_bytes int, "
                "checksum string, payload binary"
            )
        return "chunk_id int, line_no int, value string"

    def reader(self, schema) -> DataSourceReader:
        if self._mode() == "bytes":
            return ChunkedBytesReader(self.options)
        return ChunkedTextReader(self.options)

    def writer(self, schema, overwrite) -> DataSourceWriter:
        if self._mode() == "bytes":
            return ChunkedBytesWriter(self.options)
        return ChunkedTextWriter(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        # streaming supports the line path only (the reference tails
        # text files; the binary path is a batch roundtrip)
        return ChunkedTextStreamReader(self.options)


# Worker processes deserialize the DataSource by value: the driver's
# session has no importable copy of this repo on its executors' path
# (same coupling as operators/multimodal.py).
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
