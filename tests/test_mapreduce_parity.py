"""Reference-parity tests for the exe-compat MapReduce path.

Runs the reference's OWN unmodified executables (read at test time from
/root/reference, never copied) through MapReduceJob and compares against
the reference's golden outputs, plus unit pins of the partition function
and file-split semantics the reference's tests specify.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from collections import Counter

import pytest

from eecs485_p4_mapreduce_spark.mapreduce import (
    MapReduceJob,
    keyof,
    md5_partition,
    round_robin_groups,
)

REF = "/root/reference"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REF, "tests", "testdata")),
    reason="reference repo not available",
)


def test_keyof_first_tab_and_empty_key():
    # key = text before FIRST tab [ref wc_reduce.py:20-22]; empty key valid
    # [ref test_worker_04.py:119-125]; tabless line -> whole line is key.
    assert keyof("hello\t1") == "hello"
    assert keyof("a\tb\tc") == "a"
    assert keyof("\t1") == ""
    assert keyof("notab") == "notab"


def test_md5_partition_matrix():
    # Placement pinned by ref tests/test_worker_08.py:226-243 at P=2:
    # '', 'bye', 'hello' -> partition 0; 'world', 'goodbye', 'hadoop' -> 1.
    for key, part in [("", 0), ("bye", 0), ("hello", 0),
                      ("world", 1), ("goodbye", 1), ("hadoop", 1)]:
        assert md5_partition(f"{key}\t1", 2) == part, key


def test_round_robin_split():
    # Task i gets sorted files i, i+m, ... [ref test_manager_02.py:166-190].
    files = [f"file{i:02d}" for i in range(1, 9)]
    groups = round_robin_groups(files, 2)
    assert groups[0] == ["file01", "file03", "file05", "file07"]
    assert groups[1] == ["file02", "file04", "file06", "file08"]
    # more groups than files: no empty groups
    assert round_robin_groups(["a"], 4) == [["a"]]


def _read_parts(out_dir: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


@needs_ref
def test_wordcount_golden_parity(spark, tmp_path):
    """Reference wc executables + reference input -> reference golden
    (order-insensitive, as in ref test_integration_01.py:34-40)."""
    out = str(tmp_path / "out")
    job = MapReduceJob(
        input_directory=os.path.join(REF, "tests", "testdata", "input"),
        output_directory=out,
        mapper_executable=os.path.join(REF, "tests", "testdata", "exec", "wc_map.sh"),
        reducer_executable=os.path.join(REF, "tests", "testdata", "exec", "wc_reduce.sh"),
        num_mappers=4,
        num_reducers=2,
    )
    outputs = job.run(spark)
    assert [os.path.basename(p) for p in outputs] == ["part-00000", "part-00001"]
    assert sorted(os.listdir(out)) == ["part-00000", "part-00001"]  # nothing else
    golden = os.path.join(REF, "tests", "testdata", "correct", "word_count_correct.txt")
    with open(golden, encoding="utf-8") as fh:
        expected = fh.read().splitlines()
    assert sorted(_read_parts(out)) == sorted(expected)
    # the empty key ("\t9") partitions to p0 (md5('')%2==0) and sorts first
    # [ref test_worker_04.py:119-125, test_worker_08.py:226-243]
    with open(os.path.join(out, "part-00000"), encoding="utf-8") as fh:
        assert fh.readline().startswith("\t")


@needs_ref
def test_wordcount_parts_sorted_c_locale(spark, tmp_path):
    """Each part file is key-sorted in C-locale byte order with the empty
    key first [ref test_worker_07.py:131-135, test_worker_11.py:105]."""
    out = str(tmp_path / "out")
    MapReduceJob(
        input_directory=os.path.join(REF, "tests", "testdata", "input"),
        output_directory=out,
        mapper_executable=os.path.join(REF, "tests", "testdata", "exec", "wc_map.py"),
        reducer_executable=os.path.join(REF, "tests", "testdata", "exec", "wc_reduce.py"),
        num_mappers=2,
        num_reducers=2,
    ).run(spark)
    for name in ["part-00000", "part-00001"]:
        with open(os.path.join(out, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        assert lines, f"{name} empty"
        assert lines == sorted(lines), f"{name} not byte-sorted"


@needs_ref
def test_grep_golden_parity(spark, tmp_path):
    """Reference grep executables -> golden, byte-exact content
    [ref test_integration_00.py:33-38]."""
    out = str(tmp_path / "out")
    MapReduceJob(
        input_directory=os.path.join(REF, "tests", "testdata", "input"),
        output_directory=out,
        mapper_executable=os.path.join(REF, "tests", "testdata", "exec", "grep_map.py"),
        reducer_executable=os.path.join(REF, "tests", "testdata", "exec", "grep_reduce.py"),
        num_mappers=4,
        num_reducers=1,
    ).run(spark)
    golden = os.path.join(REF, "tests", "testdata", "correct", "grep_correct.txt")
    with open(golden, encoding="utf-8") as fh:
        expected = fh.read().splitlines()
    assert sorted(_read_parts(out)) == sorted(expected)


def test_mr_query_removes_its_input_copy(spark, sf_dir, monkeypatch):
    """An mr_* query writes documents as text files into a temp work
    dir.  That input copy is removed as soon as the job returns; the
    part files stay for the returned frame, which reads them lazily,
    and the work dir is registered for removal at exit."""
    import shutil

    from eecs485_p4_mapreduce_spark.operators import mapreduce as mr

    made, registered = [], []
    real_mkdtemp = mr.tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(mr.tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(
        mr.atexit, "register", lambda fn, *a, **k: registered.append(a)
    )
    try:
        df = mr.mr_grep(spark, sf_dir)
        (work,) = [m for m in made if "spark-graft-mr-" in m]
        assert not os.path.exists(os.path.join(work, "input"))
        assert not os.path.exists(os.path.join(work, "input.staging"))
        assert os.path.isdir(os.path.join(work, "output"))
        assert (work,) in registered
        assert df.count() > 0  # the frame still reads its part files
    finally:
        for w in made:
            shutil.rmtree(w, ignore_errors=True)


def test_bundled_executables_start_without_site():
    """The bundled executables import only ``sys`` and ``itertools``, so
    they start with ``python -S`` (no ``site`` import), and they still
    run that way."""
    import shlex

    from eecs485_p4_mapreduce_spark.operators.mapreduce import _EXE_DIR, _exe

    names = sorted(n for n in os.listdir(_EXE_DIR) if n.endswith(".py"))
    assert len(names) == 6
    for name in names:
        argv = shlex.split(_exe(name))
        assert argv[:2] == [sys.executable, "-S"], argv
        done = subprocess.run(argv, input="product\t1\n", capture_output=True, text=True)
        assert done.returncode == 0 and done.stdout, (name, done.stderr)


def _exe_path(name: str) -> str:
    from eecs485_p4_mapreduce_spark.mapreduce import job

    return os.path.join(os.path.dirname(job.__file__), "executables", name)


def test_multi_file_job_places_keys_and_counts(spark, tmp_path):
    """Eight input files (one with an unterminated last line) through
    four map tasks and two reducers, with the package's own word-count
    executables: exactly two part files, every key in its md5 part, and
    the counts equal to the mapper run over each file on its own."""
    in_dir, out = tmp_path / "input", tmp_path / "out"
    in_dir.mkdir()
    for i in range(1, 9):
        words = " ".join(f"w{(i * j) % 13} Shared" for j in range(1, 6 + i))
        text = f"{words}\nfile {i} Tail\n"
        if i == 5:
            text += "unterminated last line"
        (in_dir / f"file{i:02d}").write_text(text, encoding="utf-8")
    mapper, reducer = _exe_path("tokenize_map.py"), _exe_path("tokenize_reduce.py")
    outputs = MapReduceJob(
        input_directory=str(in_dir),
        output_directory=str(out),
        mapper_executable=f"{sys.executable} {mapper}",
        reducer_executable=f"{sys.executable} {reducer}",
        num_mappers=4,
        num_reducers=2,
    ).run(spark)
    assert sorted(os.listdir(out)) == ["part-00000", "part-00001"]
    assert [os.path.basename(p) for p in outputs] == ["part-00000", "part-00001"]

    got: dict[str, int] = {}
    for p in (0, 1):
        with open(out / f"part-{p:05d}", encoding="utf-8") as fh:
            for line in fh.read().splitlines():
                assert md5_partition(line, 2) == p, line
                key, _, cnt = line.partition("\t")
                got[key] = int(cnt)

    expected: Counter[str] = Counter()
    for path in sorted(in_dir.iterdir()):
        with open(path, "rb") as src:
            run = subprocess.run(
                [sys.executable, mapper], stdin=src, capture_output=True, check=True
            )
        expected.update(keyof(ln) for ln in run.stdout.decode().splitlines())
    assert expected["line"] == 1  # the unterminated line reached its mapper
    assert got == dict(expected)


def test_materialize_docs_writes_one_file_per_scan_split(spark, sf_dir, tmp_path):
    """The MapReduce input copy follows the scan: one file per non-empty
    split, written by one Spark job with no shuffle stage, holding
    exactly the documents' lines, with no Spark bookkeeping file left.
    The table is rewritten with small row groups and scanned with a
    small split size, so that several splits, split 0 among them, hold
    no row group."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from eecs485_p4_mapreduce_spark.operators.mapreduce import _materialize_docs

    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    split_dir = tmp_path / "sf"
    split_dir.mkdir()
    path = split_dir / "documents.parquet"
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 6))
    child = spark.newSession()
    child.conf.set("spark.sql.files.maxPartitionBytes", str(os.path.getsize(path) // 20))
    scan = child.read.parquet(str(path))
    filled = {r[0] for r in scan.groupBy(F.spark_partition_id()).count().collect()}
    assert 0 not in filled and 1 < len(filled) < scan.rdd.getNumPartitions()

    dest = tmp_path / "input"
    dest.mkdir()
    sc = spark.sparkContext
    group = "test-materialize-docs"
    sc.setJobGroup(group, "materialize documents")
    try:
        _materialize_docs(child, str(split_dir), str(dest))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The status tracker follows the listener bus, which may lag behind
    # the write's return: wait for the write job to show as finished.
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = [[tracker.getStageInfo(s) for s in i.stageIds] for i in infos]
        writes = [st for st in stages if any(s and s.name.startswith("text") for s in st)]
        done = all(str(i.status) == "SUCCEEDED" for i in infos)
        if (writes and done) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    # one write job of one stage: the scan's schema comes from the footer
    # on the driver, so no other job runs
    assert len(writes) == 1 and len(writes[0]) == 1, stages
    assert len(stages) == 1, stages

    names = sorted(os.listdir(dest))
    assert names == [f"file{i:02d}" for i in range(len(filled))]
    assert not os.path.exists(f"{dest}.staging")
    lines: Counter[str] = Counter()
    for name in names:
        data = (dest / name).read_bytes()
        assert data and data.endswith(b"\n")
        lines.update(data.decode("utf-8").split("\n")[:-1])
    assert lines == Counter(table.column("text").to_pylist())


def test_job_module_import_leaves_registry_unloaded():
    """A PySpark worker that unpickles a job's map or reduce function
    imports ``mapreduce.job``; that must not load the query registry
    (every operators module) into the worker."""
    code = (
        "import sys, eecs485_p4_mapreduce_spark.mapreduce.job; "
        "print(sorted(m for m in sys.modules if m.startswith("
        "'eecs485_p4_mapreduce_spark.plans')))"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    )
    assert run.stdout.strip() == "[]"


def test_package_import_leaves_pyspark_unloaded():
    """``python -m eecs485_p4_mapreduce_spark.pydaemon`` imports the
    package before the daemon chooses where PySpark comes from, so the
    package ``__init__`` must import no ``pyspark`` module."""
    code = (
        "import sys, eecs485_p4_mapreduce_spark; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    )
    assert run.stdout.strip() == "[]"


@needs_ref
def test_two_jobs_fifo_isolated_outputs(spark, tmp_path):
    """Back-to-back job submission (ref tests/test_manager_03.py:58-104:
    queued jobs run FIFO with isolated job-{id:05d} dirs): wordcount then
    grep on one cluster/session must produce isolated outputs with exact
    part naming, and job 0's bytes must be untouched by job 1."""
    exe = os.path.join(REF, "tests", "testdata", "exec")
    correct = os.path.join(REF, "tests", "testdata", "correct")
    out0, out1 = str(tmp_path / "job0"), str(tmp_path / "job1")
    MapReduceJob(
        input_directory=os.path.join(REF, "tests", "testdata", "input"),
        output_directory=out0,
        mapper_executable=os.path.join(exe, "wc_map.sh"),
        reducer_executable=os.path.join(exe, "wc_reduce.sh"),
        num_mappers=4,
        num_reducers=2,
    ).run(spark)
    snapshot = {
        name: open(os.path.join(out0, name), "rb").read()
        for name in sorted(os.listdir(out0))
    }
    MapReduceJob(
        input_directory=os.path.join(REF, "tests", "testdata", "input"),
        output_directory=out1,
        mapper_executable=os.path.join(exe, "grep_map.py"),
        reducer_executable=os.path.join(exe, "grep_reduce.py"),
        num_mappers=4,
        num_reducers=1,
    ).run(spark)
    # exact part naming per job, nothing cross-contaminated
    assert sorted(os.listdir(out0)) == ["part-00000", "part-00001"]
    assert sorted(os.listdir(out1)) == ["part-00000"]
    # job 0's output unchanged by job 1 (isolation)
    for name, data in snapshot.items():
        assert open(os.path.join(out0, name), "rb").read() == data
    # both jobs produced their goldens
    with open(os.path.join(correct, "word_count_correct.txt"), encoding="utf-8") as fh:
        assert sorted(_read_parts(out0)) == sorted(fh.read().splitlines())
    with open(os.path.join(correct, "grep_correct.txt"), encoding="utf-8") as fh:
        assert sorted(_read_parts(out1)) == sorted(fh.read().splitlines())


@needs_ref
def test_concurrent_slow_exe_jobs_one_cluster(spark, tmp_path):
    """Two exe-jobs CONCURRENTLY on one cluster with the reference's
    SLOW executables (wc_map_slow.sh / wc_reduce_slow.sh sleep 3 s per
    subprocess — the busy-worker scenario ref tests/test_manager_03.py:
    58-104 drives through its FSM): submitted from two threads, both
    must complete with the wordcount golden and exact part naming,
    fully isolated.  Spark's scheduler plays the manager's task-queue
    role (SURVEY §3.4); this pins the LIVE semantics — concurrent jobs
    on busy executors neither interleave outputs nor starve.  Overlap is
    proven STRUCTURALLY: each submission thread tags its Spark actions
    with a job group (thread-local under pinned-thread mode) and a
    monitor polls the status tracker until it observes BOTH groups with
    a RUNNING job at the same instant — load-independent, unlike the
    old fixed 18 s wall-clock bound, which a busy shared host could push
    two genuinely-overlapping 9 s-of-sleep jobs past (CLAUDE.md's own
    ambient-noise warning)."""
    import threading
    import time

    exe = os.path.join(REF, "tests", "testdata", "exec")
    correct = os.path.join(REF, "tests", "testdata", "correct")
    outs = [str(tmp_path / f"job{i}") for i in range(2)]
    errs: list[Exception] = []
    groups = [f"conc-exe-{i}" for i in range(2)]

    def submit(out: str, group: str) -> None:
        try:
            spark.sparkContext.setJobGroup(group, "concurrent exe job")
            MapReduceJob(
                input_directory=os.path.join(REF, "tests", "testdata", "input"),
                output_directory=out,
                mapper_executable=os.path.join(exe, "wc_map_slow.sh"),
                reducer_executable=os.path.join(exe, "wc_reduce_slow.sh"),
                num_mappers=4,
                num_reducers=2,
            ).run(spark)
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append(e)

    overlap = threading.Event()
    done = threading.Event()

    def monitor() -> None:
        st = spark.sparkContext.statusTracker()
        while not done.is_set() and not overlap.is_set():
            running = 0
            for g in groups:
                infos = (
                    st.getJobInfo(jid) for jid in st.getJobIdsForGroup(g)
                )
                if any(
                    i is not None and str(i.status) == "RUNNING"
                    for i in infos
                ):
                    running += 1
            if running == 2:
                overlap.set()
            time.sleep(0.1)

    threads = [
        threading.Thread(target=submit, args=(o, g))
        for o, g in zip(outs, groups)
    ]
    mon = threading.Thread(target=monitor, daemon=True)
    mon.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    done.set()
    mon.join(timeout=5)
    assert not errs, errs
    with open(
        os.path.join(correct, "word_count_correct.txt"), encoding="utf-8"
    ) as fh:
        golden = sorted(fh.read().splitlines())
    for out in outs:
        assert sorted(os.listdir(out)) == ["part-00000", "part-00001"]
        assert sorted(_read_parts(out)) == golden
    assert overlap.is_set(), (
        "never observed both job groups RUNNING simultaneously — "
        "two slow jobs ran serially?"
    )


@needs_ref
def test_identity_mapper_partition_placement(spark, tmp_path):
    """cat-as-mapper repartition+sort (the reference's test_worker_11
    shape): every intermediate line lands in the md5-chosen partition."""
    out = str(tmp_path / "out")
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "file01"), "w", encoding="utf-8") as fh:
        fh.write("hello\t1\nworld\t1\nbye\t1\ngoodbye\t1\nhadoop\t1\n\t1\n")
    MapReduceJob(
        input_directory=src,
        output_directory=out,
        mapper_executable="cat",
        reducer_executable="cat",
        num_mappers=1,
        num_reducers=2,
    ).run(spark)
    with open(os.path.join(out, "part-00000"), encoding="utf-8") as fh:
        p0 = fh.read().splitlines()
    with open(os.path.join(out, "part-00001"), encoding="utf-8") as fh:
        p1 = fh.read().splitlines()
    assert p0 == ["\t1", "bye\t1", "hello\t1"]  # ref test_worker_08.py:226-243
    assert p1 == ["goodbye\t1", "hadoop\t1", "world\t1"]


@needs_ref
def test_baseline_map_stage_ceiling(spark, tmp_path):
    """BASELINE.md row 1: identity mapper over ~5.14 MB
    (input_large_intermediate, 4 files), 2 partitions, < 10 s wall.

    The engine runs the WHOLE job (map + shuffle-sort + reduce + sink)
    inside the reference's map-stage-only budget.  Output must be
    C-locale sorted per part with every input line preserved."""
    import time

    src = os.path.join(REF, "tests", "testdata", "input_large_intermediate")
    out = str(tmp_path / "out")
    t0 = time.time()
    MapReduceJob(
        input_directory=src,
        output_directory=out,
        mapper_executable="cat",
        reducer_executable="cat",
        num_mappers=4,
        num_reducers=2,
    ).run(spark)
    wall = time.time() - t0
    assert wall < 10.0, f"took {wall:.1f}s, reference ceiling is 10s"
    n_out = 0
    for name in ["part-00000", "part-00001"]:
        with open(os.path.join(out, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        assert lines == sorted(lines), f"{name} not byte-sorted"
        n_out += len(lines)
    n_in = 0
    for f in sorted(os.listdir(src)):
        with open(os.path.join(src, f), encoding="utf-8") as fh:
            n_in += sum(1 for _ in fh)
    assert n_out == n_in


@needs_ref
def test_baseline_wordcount_large(spark, tmp_path):
    """Wordcount over input_large (~3.7 MB of novels) with the reference's
    own executables, against the reference's 10s E2E ceiling (x2 grace for
    full-corpus input 650x larger than the ceiling's 5.5 kB)."""
    import time

    out = str(tmp_path / "out")
    t0 = time.time()
    MapReduceJob(
        input_directory=os.path.join(REF, "tests", "testdata", "input_large"),
        output_directory=out,
        mapper_executable=os.path.join(REF, "tests", "testdata", "exec", "wc_map.sh"),
        reducer_executable=os.path.join(REF, "tests", "testdata", "exec", "wc_reduce.sh"),
        num_mappers=4,
        num_reducers=2,
    ).run(spark)
    wall = time.time() - t0
    assert wall < 20.0, f"took {wall:.1f}s"
    total = 0
    for name in ["part-00000", "part-00001"]:
        with open(os.path.join(out, name), encoding="utf-8") as fh:
            for line in fh:
                total += int(line.rsplit("\t", 1)[1])
    # every token the reference mapper emits is counted exactly once
    # (ground truth = the mapper itself run per file, matching the
    # one-subprocess-per-file contract; wc -w would miss the empty-key
    # tokens awk emits for blank lines and unterminated final lines)
    import subprocess

    expected = 0
    mapper = os.path.join(REF, "tests", "testdata", "exec", "wc_map.sh")
    for f in sorted(os.listdir(os.path.join(REF, "tests", "testdata", "input_large"))):
        r = subprocess.run(
            ["bash", "-c", f"{mapper} < {REF}/tests/testdata/input_large/{f} | wc -l"],
            capture_output=True, text=True, check=True,
        )
        expected += int(r.stdout.strip())
    assert total == expected


@needs_ref
def test_mapper_stream_memory_bounded(tmp_path):
    """The streamed mapper feed keeps Python heap O(chunk_size) no matter
    the input size -- the reference's < 1 MiB map-stage ceiling
    [ref tests/test_worker_11.py:160-165, profiler tests/utils/memory.py].

    Runs an identity mapper (cat) over a ~8 MiB file with a small chunk
    size and asserts the tracemalloc heap delta while draining the
    generator stays far below the file size (whole-file buffering --
    the round-1/2 binaryFiles implementation -- would show ~8 MiB+).
    """
    import tracemalloc

    from eecs485_p4_mapreduce_spark.mapreduce.job import stream_mapper_lines

    big = tmp_path / "big.txt"
    with open(big, "w", encoding="utf-8") as fh:
        for i in range(200_000):
            fh.write(f"line-{i:07d} payload payload payload\n")
    size = os.path.getsize(big)
    assert size > 4 * 1024 * 1024

    tracemalloc.start()
    base = tracemalloc.get_traced_memory()[0]
    peak_delta = 0
    n = 0
    for _line in stream_mapper_lines(["cat"], str(big), chunk_size=64 * 1024):
        n += 1
        if n % 50_000 == 0:
            cur = tracemalloc.get_traced_memory()[0]
            peak_delta = max(peak_delta, cur - base)
    tracemalloc.stop()
    assert n == 200_000
    assert peak_delta < 1024 * 1024, f"heap delta {peak_delta} bytes"


def test_mapper_stream_byte_transparent_and_unterminated(tmp_path):
    """The streamed feed must round-trip arbitrary non-UTF-8 bytes
    (surrogateescape, the reference pipes raw bytes) and must NOT invent
    a trailing record separator for an unterminated final line."""
    from eecs485_p4_mapreduce_spark.mapreduce.job import stream_mapper_lines

    raw_lines = [b"plain", b"\xff\xfe invalid utf8 \x80", b"tab\tkey", b"last-no-newline"]
    p = tmp_path / "mixed.bin"
    p.write_bytes(b"\n".join(raw_lines))  # final line unterminated
    got = list(stream_mapper_lines(["cat"], str(p), chunk_size=7))
    assert [g.encode("utf-8", "surrogateescape") for g in got] == raw_lines


def test_mapper_nonzero_exit_fails_task(tmp_path):
    """A mapper that exits nonzero must fail the task loudly (the
    reference surfaces worker failures), never silently truncate."""
    import pytest as _pytest

    from eecs485_p4_mapreduce_spark.mapreduce.job import stream_mapper_lines

    p = tmp_path / "in.txt"
    p.write_text("a\nb\n")
    with _pytest.raises(RuntimeError, match="exited"):
        list(stream_mapper_lines(["bash", "-c", "cat; exit 3"], str(p)))
