"""Exe-compat MapReduce path: run Hadoop-Streaming-style executables on
Spark RDDs with the reference's exact dataflow semantics.

Reference semantics reproduced (SURVEY.md §2.A, §3.2):
- input = directory of text files; files sorted by name, split round-robin
  into map tasks (task i gets files i, i+m, ...)
  [ref tests/test_manager_02.py:166-190]
- one mapper subprocess per input FILE, stdin = the file's lines
  [ref tests/test_worker_11.py:152-154]
- intermediate record = ``key\\tvalue`` line; key = text before the FIRST
  tab [ref tests/testdata/exec/wc_reduce.py:20-22]
- partition p = int(md5(key).hexdigest(), 16) % num_reducers
  [ref tests/test_worker_08.py:226-243]
- each partition sorted in C-locale byte order (Python str ordering over
  UTF-8 text == unsigned byte order, so Spark's sort matches sort(1)
  LC_ALL=C) [ref tests/test_worker_11.py:105]
- one reducer subprocess per reduce partition, stdin = merged sorted
  lines; output file ``part-{p:05d}`` in the output dir, exactly
  num_reducers files [ref tests/test_worker_08.py:92-111,246-257;
  tests/test_integration_02.py:31-37]

Spark mapping: ``sc.parallelize`` of the round-robin file groups, one
partition per map task -> per file, a mapper subprocess with the file as
stdin, its stdout streamed into the shuffle ->
``repartitionAndSortWithinPartitions`` (md5 partitioner, full-line sort ==
the reference's line-wise external sort) -> per reduce partition, a
reducer subprocess whose stdout is the ``part-NNNNN`` file itself.  The
manager/worker control plane (registration, heartbeats, reassignment:
§2.A8-A13) is subsumed by Spark's scheduler and is deliberately not
rebuilt.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import subprocess
from dataclasses import dataclass

from pyspark.sql import SparkSession


def keyof(line: str) -> str:
    """Key of an intermediate record: text before the first tab.

    Parity target: reference tests/testdata/exec/wc_reduce.py:20-22
    (``line.partition("\\t")[0]``); empty string is a valid key and sorts
    first [ref tests/test_worker_04.py:119-125].
    """
    return line.partition("\t")[0]


def md5_partition(line: str, num_partitions: int) -> int:
    """Reference hash partitioner: md5 of the key, mod partition count.

    Parity target: placement matrix in ref tests/test_worker_08.py:226-243
    ('', 'bye', 'hello' -> p0; 'world', 'goodbye', 'hadoop' -> p1 at P=2).
    """
    key = keyof(line)
    # surrogateescape round-trips the mapper's RAW key bytes, so the md5
    # placement matches the reference even for non-UTF-8 mapper output
    return int(
        hashlib.md5(key.encode("utf-8", "surrogateescape")).hexdigest(), 16
    ) % num_partitions


def round_robin_groups(files: list[str], num_groups: int) -> list[list[str]]:
    """Sorted filenames split round-robin: group i gets files i, i+m, ...
    [ref tests/test_manager_02.py:166-190]."""
    ordered = sorted(files)
    n = max(1, min(num_groups, len(ordered)))
    return [ordered[i::n] for i in range(n)]


def stream_mapper_lines(cmd: list[str], path: str, chunk_size: int = 1 << 20):
    """Run one mapper subprocess over one input file, streaming both sides.

    stdin = the file ITSELF -- exactly the reference's Popen(stdin=open(file))
    contract [ref tests/test_worker_11.py:152-154] -- so the kernel streams
    input with zero Python-side buffering; stdout is consumed in
    ``chunk_size`` chunks and yielded line-by-line.  Python heap stays
    O(chunk_size) regardless of file size, matching the reference's < 1 MiB
    map-stage ceiling [ref tests/test_worker_11.py:160-165] (pinned by
    tests/test_mapreduce_parity.py::test_mapper_stream_memory_bounded).

    Framing: \\n is the ONE record separator, matching the reference
    (str.splitlines would also split on \\x0b, \\x0c, U+2028 etc. inside
    values); surrogateescape keeps the pipeline byte-transparent -- the
    reference pipes raw bytes, so non-UTF-8 mapper output survives the
    shuffle and is restored bit-exact for the reducer.  One caveat vs a raw
    byte sort: an invalid byte 0x80-0xFF decodes to U+DC80+, which orders
    after valid multi-byte sequences instead of between them -- only
    observable for mixed invalid/multibyte keys, which the reference's own
    corpora never contain.
    """
    with open(path, "rb") as src:
        proc = subprocess.Popen(cmd, stdin=src, stdout=subprocess.PIPE)
    assert proc.stdout is not None
    tail = b""
    while True:
        chunk = proc.stdout.read(chunk_size)
        if not chunk:
            break
        lines = (tail + chunk).split(b"\n")
        tail = lines.pop()
        for ln in lines:
            yield ln.decode("utf-8", "surrogateescape")
    rc = proc.wait()
    if rc != 0:
        raise RuntimeError(f"mapper exited {rc} on {path}")
    if tail:
        yield tail.decode("utf-8", "surrogateescape")


@dataclass
class MapReduceJob:
    """One two-stage streaming-executable job (the reference's
    ``new_manager_job`` message shape, mapreduce/submit.py:81-89)."""

    input_directory: str
    output_directory: str
    mapper_executable: str
    reducer_executable: str
    num_mappers: int = 4
    num_reducers: int = 2

    def run(self, spark: SparkSession) -> list[str]:
        """Execute; returns the list of output part files."""
        sc = spark.sparkContext
        files = [
            os.path.join(self.input_directory, f)
            for f in os.listdir(self.input_directory)
            if os.path.isfile(os.path.join(self.input_directory, f))
        ]
        if not files:
            raise FileNotFoundError(f"no input files in {self.input_directory}")
        groups = round_robin_groups(files, self.num_mappers)

        # Map stage: one streamed mapper subprocess per input FILE
        # (stream_mapper_lines above; bounded memory on both sides of the
        # subprocess, lines pipeline straight into the shuffle write).
        # rdd.pipe would re-terminate the final line with a newline, which
        # diverges for files whose last line is unterminated (the
        # reference's input_large corpus exposes this); binaryFiles -- the
        # round-1/2 implementation -- buffered the whole file per task.
        #
        # Task topology: partition i IS map task i and processes its
        # round-robin file group sequentially -- the reference's exact
        # task shape [ref tests/test_manager_02.py:166-190].
        cmd = shlex.split(self.mapper_executable)

        def run_map_task(task_files):
            for path in task_files:
                yield from stream_mapper_lines(cmd, path)

        inter = sc.parallelize(groups, len(groups)).flatMap(run_map_task)

        nred = self.num_reducers
        shuffled = (
            inter.map(lambda line: (line, None))
            .repartitionAndSortWithinPartitions(
                numPartitions=nred,
                partitionFunc=lambda line: md5_partition(line, nred),
                ascending=True,
            )
            .keys()
        )

        # Reduce stage + sink in one executor-side pass: one reducer
        # subprocess per reduce partition, stdin = the merged sorted lines
        # re-encoded surrogateescape (bit-exact restore of the mapper's
        # bytes), stdout streamed STRAIGHT into the final ``part-NNNNN``
        # file [ref tests/test_integration_02.py:31-37].  Replaces the old
        # rdd.pipe + saveAsTextFile + driver rename: rdd.pipe encodes
        # strict UTF-8 (crashes on non-UTF-8 bytes) and saveAsTextFile
        # cannot carry surrogates.  A reducer that exits nonzero fails the
        # job (the reference surfaces worker failures), never silently
        # truncates.  Executors write to the output dir directly -- the
        # same shared-filesystem assumption the reference's workers make.
        out_dir = self.output_directory
        rcmd = shlex.split(self.reducer_executable)
        os.makedirs(out_dir, exist_ok=True)

        def run_reducer(idx, lines):
            dst = os.path.join(out_dir, f"part-{idx:05d}")
            with open(dst, "wb") as sink:
                proc = subprocess.Popen(rcmd, stdin=subprocess.PIPE, stdout=sink)
                assert proc.stdin is not None
                for line in lines:
                    proc.stdin.write(line.encode("utf-8", "surrogateescape"))
                    proc.stdin.write(b"\n")
                proc.stdin.close()
                rc = proc.wait()
            if rc != 0:
                raise RuntimeError(f"reducer exited {rc} on partition {idx}")
            return [dst]

        return sorted(shuffled.mapPartitionsWithIndex(run_reducer).collect())
