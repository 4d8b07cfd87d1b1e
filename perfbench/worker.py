"""One benchmark run in a fresh process: set-up, timed passes, check.

Started by ``perfbench/run.py`` with the run's own working directory,
``SPARK_LOCAL_DIRS`` and ``TMPDIR``; reads its settings from the JSON file
named on the command line and writes its raw measurements to the path
given there.  Everything it measures is a call into the program's public
entry points: ``get_spark``, the registry callables, the noop write and,
when tracing, ``MapReduceJob.run`` and the streaming start/await calls.
Before each cold pass it empties the stores the program keeps, through
``functions.memo.clear_all_caches`` and by deleting the warehouse's
entries.
"""

from __future__ import annotations

import json
import os
import random
import resource
import shutil
import sys
import time
import traceback

from eventlog import PASS_PROPERTY, group_tag

MIN_ROUNDS = 2


def warm_up(spark, registry, sf_dir: str) -> None:
    """The untimed warm-up ``bench.py`` runs: q1 plus a trivial pandas_udf."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    registry["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    @pandas_udf("long")
    def _warm(s):  # noqa: ANN001
        return s

    spark.range(32, numPartitions=32).select(_warm(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()


def pass_order(queries: list[str], seed: int) -> list[str]:
    """The seed's query order, the same in every pass of a run, so that
    work shared by several queries (a derived frame the first of them
    builds) is charged to the same query in every cold pass."""
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order


def reset_cold_state(spark) -> None:
    """Return the session to the state a new corpus would meet: empty
    memo LRUs, no cached frames and an empty warehouse (derived-frame
    and model store, bucketed index tables)."""
    from eecs485_p4_mapreduce_spark.functions.memo import clear_all_caches
    from eecs485_p4_mapreduce_spark.functions.modelstore import warehouse_path

    clear_all_caches()
    spark.catalog.clearCache()
    root = warehouse_path(spark)
    if os.path.isdir(root):
        for name in os.listdir(root):
            path = os.path.join(root, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


def peak_rss_mb(spark) -> dict:
    """Peak resident memory of the driver JVM (VmHWM) and this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}


class Tracer:
    """Per-layer observations that the event log does not hold.

    Wraps ``MapReduceJob.run`` and the streaming start/await calls.
    Times are charged to the (pass, query) the benchmark is running when
    the call starts; each stream's id is recorded with it, so that the
    stream's progress events in the event log can be matched to it.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.current: tuple[int, str] | None = None
        self.mapreduce_runs: list[list] = []
        self.stream_runs: list[list] = []
        self.stream_ids: dict[str, tuple[int, str]] = {}
        self.store: list[dict] = []
        self._stream_t0: dict[str, float] = {}

    def install(self) -> None:
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from eecs485_p4_mapreduce_spark.mapreduce.job import MapReduceJob

        tracer = self
        mr_run = MapReduceJob.run
        start = DataStreamWriter.start
        await_termination = StreamingQuery.awaitTermination

        def timed_mr_run(job, spark):  # noqa: ANN001
            key, t0 = tracer.current, time.perf_counter()
            try:
                return mr_run(job, spark)
            finally:
                if key is not None:
                    tracer.mapreduce_runs.append([*key, time.perf_counter() - t0])

        def timed_start(writer, *args, **kwargs):  # noqa: ANN001
            t0 = time.perf_counter()
            q = start(writer, *args, **kwargs)
            if tracer.current is not None:
                tracer.stream_ids[str(q.id)] = tracer.current
                tracer._stream_t0[str(q.id)] = t0
            return q

        def timed_await(q, *args, **kwargs):  # noqa: ANN001
            try:
                return await_termination(q, *args, **kwargs)
            finally:
                t0 = tracer._stream_t0.pop(str(q.id), None)
                key = tracer.stream_ids.get(str(q.id))
                if t0 is not None and key is not None:
                    tracer.stream_runs.append([*key, time.perf_counter() - t0])

        MapReduceJob.run = timed_mr_run
        DataStreamWriter.start = timed_start
        StreamingQuery.awaitTermination = timed_await

    def pinned_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def store_state(self) -> tuple[int, int]:
        """(sg_model_* entries, bytes) under the session warehouse dir."""
        root = self.spark.conf.get("spark.sql.warehouse.dir")
        root = root[len("file:"):] if root.startswith("file:") else root
        if not os.path.isdir(root):
            return 0, 0
        models = sum(1 for n in os.listdir(root) if n.startswith("sg_model_"))
        size = 0
        for d, _, files in os.walk(root):
            size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return models, size


def cpu_counters() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this host since boot, summed over its
    CPUs, from the first line of /proc/stat: ``busy`` is user, nice,
    system, irq and softirq time; ``stolen`` the time the hypervisor ran
    something else while a CPU had work."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, f[7] / tick


def run_pass(spark, registry, cfg, pass_no, spans, cpu, errors, tracer, results=None):
    """Build and noop-write every query once, in ``cfg["order"]``.

    Returns the pass time: the sum of the query executions, so that the
    benchmark's own work between queries is not counted.  With
    ``results``, each query's rows are also collected right after its
    timed write, untimed, and their canonical digest (or the error) is
    stored there for the correctness check.
    """
    from oracle import digest

    workload, sf_dir = cfg["workload"], cfg["sf_dir"]
    sc = spark.sparkContext
    pinned = 0
    models0 = tracer.store_state()[0] if tracer else 0
    wall = 0.0
    for name in cfg["order"]:
        if tracer:
            tracer.current = (pass_no, name)
        sc.setLocalProperty(PASS_PROPERTY, str(pass_no))
        df = None
        c0 = cpu_counters()
        t0 = time.time()
        t1 = None
        try:
            sc.setJobGroup(group_tag(workload, name, "build"), name)
            df = registry[name].fn(spark, sf_dir)
            t1 = time.time()
            sc.setJobGroup(group_tag(workload, name, "exec"), name)
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 -- a failing query is counted, not fatal
            errors.append([pass_no, name, traceback.format_exc(limit=3)])
            df = None
        t2 = time.time()
        c2 = cpu_counters()
        cpu.append([pass_no, name, c2[0] - c0[0], c2[1] - c0[1]])
        wall += t2 - t0
        spans.append([pass_no, name, "build", t0, t1 or t2])
        if t1 is not None:
            spans.append([pass_no, name, "exec", t1, t2])
        for key in ("spark.jobGroup.id", "spark.job.description", PASS_PROPERTY):
            sc.setLocalProperty(key, None)
        if tracer:
            tracer.current = None
            pinned = max(pinned, tracer.pinned_rdds())
        if results is not None:
            try:
                if df is None:
                    raise RuntimeError("the timed execution failed")
                results[name] = digest(df.collect(), df.columns)
            except Exception:  # noqa: BLE001 -- a failing check is counted, not fatal
                results[name] = "error: " + traceback.format_exc(limit=3)
    if tracer:
        models, size = tracer.store_state()
        tracer.store.append(
            {"builds": models - models0, "mb": size / 1048576.0, "pinned": pinned}
        )
    return wall


def check(registry, cfg, results: dict) -> dict:
    """Compare each query's digest with its DuckDB oracle's: None if equal."""
    from oracle import OracleCache

    oracles = OracleCache(cfg["sf_dir"], cfg["oracle_cache"])
    verdicts = {}
    for name in cfg["queries"]:
        got = results[name]
        if got.startswith("error: "):
            verdicts[name] = got
            continue
        try:
            want = oracles.expected(name, registry[name].oracle)
        except Exception:  # noqa: BLE001 -- a broken oracle is counted, not fatal
            verdicts[name] = "oracle error: " + traceback.format_exc(limit=3)
            continue
        verdicts[name] = None if got == want else f"digest {got} != oracle {want}"
    return verdicts


def main(cfg_path: str) -> None:
    with open(cfg_path, encoding="utf-8") as fh:
        cfg = json.load(fh)
    from eecs485_p4_mapreduce_spark import get_spark
    from eecs485_p4_mapreduce_spark.plans import REGISTRY
    from eecs485_p4_mapreduce_spark.sources.tables import DEFAULT_SF_DIR

    cfg["sf_dir"] = DEFAULT_SF_DIR
    if not os.path.isdir(DEFAULT_SF_DIR):
        raise SystemExit(f"corpus directory {DEFAULT_SF_DIR} not found")

    missing = [q for q in cfg["queries"] if q not in REGISTRY]
    if missing:
        raise SystemExit(f"workload queries missing from REGISTRY: {missing}")

    t0 = time.time()
    spark = get_spark("perfbench", cpus=cfg["cpus"])
    session_start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    warm_up(spark, REGISTRY, cfg["sf_dir"])
    t_setup_end = time.time()
    warmup_s = t_setup_end - t0

    tracer = Tracer(spark) if cfg["trace"] else None
    if tracer:
        tracer.install()
    cfg["order"] = pass_order(cfg["queries"], cfg["seed"])
    spans: list[list] = []
    errors: list[list] = []
    passes: list[float] = []
    kinds: list[str] = []
    results: dict[str, str] = {}

    cpu: list[list] = []

    def timed_pass(kind: str, check: bool = False) -> None:
        kinds.append(kind)
        passes.append(run_pass(
            spark, REGISTRY, cfg, len(passes), spans, cpu, errors, tracer,
            results if check else None,
        ))

    # The first pass meets a fresh process as well as empty stores.  The
    # pass after it collects each query for the check and lets the JIT
    # settle: the CPU time of a query still fell by a fifth from the
    # second pass to the fourth.  Neither is counted in the cold and warm
    # metrics.  Then rounds of a cold pass (stores emptied first) and a
    # warm pass, at least MIN_ROUNDS of them and until `seconds` have
    # gone by.
    t_measure = time.time()
    timed_pass("first")
    timed_pass("check", check=True)
    rounds = 0
    while rounds < MIN_ROUNDS or time.time() - t_measure < cfg["seconds"]:
        reset_cold_state(spark)
        timed_pass("cold")
        timed_pass("warm")
        rounds += 1
    t_measure_end = time.time()
    rss = peak_rss_mb(spark)
    verdicts = check(REGISTRY, cfg, results)
    out = {
        "t_setup_end": t_setup_end,
        "t_measure_end": t_measure_end,
        "kinds": kinds,
        "cpu": cpu,
        "cpus": cfg["cpus"],
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "passes": passes,
        "spans": spans,
        "errors": errors,
        "verdicts": verdicts,
        "rss_mb": rss,
        "modules": {q: REGISTRY[q].fn.__module__.rsplit(".", 1)[-1] for q in cfg["queries"]},
    }
    if tracer:
        out.update(
            mapreduce_runs=tracer.mapreduce_runs,
            stream_runs=tracer.stream_runs,
            stream_ids={k: list(v) for k, v in tracer.stream_ids.items()},
            store=tracer.store,
        )
    spark.stop()
    with open(cfg["out"], "w", encoding="utf-8") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv[1])
