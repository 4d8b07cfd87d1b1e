"""spark-graft benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run is a single-client closed loop
on ``local[<cores>]``: the worker process sets up the session (timed as
``setup_s``), runs a first pass over the workload's queries (a fresh
process and empty stores) and a check pass (warm; it lets the JIT
settle and collects the rows for the check), then rounds of a cold pass
(memo caches and warehouse emptied first, so every derived frame and
model is built again) and a warm pass, at least two rounds and until
``--seconds`` have gone by.  A query execution is its build
(``REGISTRY[name].fn``) plus a noop write.  Passes are reported as
median passes: the sum over the queries of each one's median in the
passes of that kind.  The bounded ``cold_pass_cpu_s`` and
``warm_pass_cpu_s`` count the CPU time the program got in the median
pass: the time the host's CPUs were busy (user and system time of every
process: driver JVM, Python driver, Python and MapReduce workers) less
the time the hypervisor stole from them for other guests.  On a shared
4-vCPU host, steal moved wall time by a quarter from run to run, and
busy time grew about one for one with it (threads spin while the one
they wait for is descheduled); the difference spread a third as much.
The wall times (``cold_pass_s``, ``warm_pass_s``) and the stolen CPU
time are printed with them.  In the check pass each query's rows are
also collected, untimed, and checked against its DuckDB oracle.  The seed sets the query order, the same in every pass.
Queries read the program's default corpus (``$SPARK_GRAFT_SF_DIR``,
else ``sources.tables.DEFAULT_SF_DIR``).

Each run gets its own working directory (so ``spark.sql.warehouse.dir``
starts empty), ``SPARK_LOCAL_DIRS`` and temp dir under ``.perfbench/`` in
the checkout, all deleted at exit.  With ``--trace 1`` the session also
writes an uncompressed Spark event log there and the worker observes
MapReduce jobs and streams; the per-layer metrics come from both.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Untraced runs report
the end-to-end metrics, traced runs the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from eventlog import Counters, Span, span_counters, stream_progress
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170.0
T_START = time.time()


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def stop_group(pgid: int) -> None:
    """Stop every process of the worker's group and wait for them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5.0
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def launch(args, run_dir: str, queries: list[str]) -> dict:
    """Run the worker in its own process group; return its measurements."""
    dirs = {k: os.path.join(run_dir, k) for k in ("wd", "local", "tmp", "events")}
    for d in dirs.values():
        os.makedirs(d)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']}"]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['events']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYSPARK_SUBMIT_ARGS=shlex.join([*submit, "pyspark-shell"]),
        SPARK_GRAFT_CPUS=str(cpus),
    )
    out_path = os.path.join(run_dir, "result.json")
    cfg = {
        "workload": args.workload,
        "queries": queries,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cpus": cpus,
        "out": out_path,
        "oracle_cache": os.path.join(STATE, "oracle"),
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(run_dir, "worker.log")
    t_launch = time.time()
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=dirs["wd"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S - (t_launch - T_START))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path, "rb") as fh:
            tail = fh.read()[-4000:].decode("utf-8", "replace")
        fail(f"worker {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(out_path, encoding="utf-8") as fh:
        res = json.load(fh)
    res["setup_s"] = res["t_setup_end"] - t_launch
    res["tail_s"] = time.time() - res["t_measure_end"]
    res["events_dir"] = dirs["events"]
    return res


def query_tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum and 100 when there are ten or fewer."""
    ordered = sorted(samples)
    rank = len(ordered) - 11 if len(ordered) > 10 else len(ordered) - 1
    return ordered[rank], 100.0 * (rank + 1) / len(ordered)


def query_times(res: dict) -> dict[tuple[int, str], float]:
    """Wall time of each (pass, query) execution: build plus noop write."""
    times: dict[tuple[int, str], float] = defaultdict(float)
    for pass_no, query, _phase, t0, t1 in res["spans"]:
        times[(pass_no, query)] += t1 - t0
    return times


def cpu_times(res: dict, stolen: bool = False) -> dict[tuple[int, str], float]:
    """CPU time the program got during each (pass, query) execution: the
    time the host's CPUs were busy less the time the hypervisor stole
    from them.  With ``stolen``, the stolen time alone."""
    return {(p, q): st if stolen else busy - st for p, q, busy, st in res["cpu"]}


def passes_of(res: dict, kind: str) -> list[int]:
    return [p for p, k in enumerate(res["kinds"]) if k == kind]


def samples_of(res: dict, kind: str) -> list[float]:
    wanted = set(passes_of(res, kind))
    return [t for (p, _), t in query_times(res).items() if p in wanted]


def median_pass(res: dict, kind: str, times: dict | None = None) -> float:
    """The sum over the queries of each one's median time (by default
    wall time) in the passes of ``kind``: a pass with every query at its
    typical time, so that a stall of the host during one execution does
    not move it."""
    wanted = set(passes_of(res, kind))
    per_query = defaultdict(list)
    for (p, q), t in (query_times(res) if times is None else times).items():
        if p in wanted:
            per_query[q].append(t)
    return sum(statistics.median(ts) for ts in per_query.values())


def end_to_end(res: dict) -> tuple[dict, str]:
    samples = samples_of(res, "warm")
    tail, pct = query_tail(samples)
    rss = res["rss_mb"]
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_cpu_s": (median_pass(res, "cold", cpu_times(res)), "s"),
        "warm_pass_cpu_s": (median_pass(res, "warm", cpu_times(res)), "s"),
    }
    note = (
        f"cold_pass_s={median_pass(res, 'cold'):.4g} "
        f"warm_pass_s={median_pass(res, 'warm'):.4g} "
        f"stolen_cpu_s={median_pass(res, 'warm', cpu_times(res, stolen=True)):.4g} "
        f"first_pass_s={res['passes'][0]:.4g} cold_passes={len(passes_of(res, 'cold'))} "
        f"warm_passes={len(passes_of(res, 'warm'))} "
        f"query_samples={len(samples)} "
        f"query_p50_s={statistics.median(samples):.4g} "
        f"query_tail_s={tail:.4g} (p{pct:.0f}) "
        f"peak_rss_mb={rss['jvm'] + rss['python']:.1f} "
        f"(jvm {rss['jvm']:.1f}, python {rss['python']:.1f})"
    )
    return metrics, note


def _pass_layers(res: dict, counters: dict, pass_no: int) -> dict[str, float]:
    """Per-layer totals of one pass."""
    spans = [s for s in res["spans"] if s[0] == pass_no]
    phase_s = defaultdict(float)
    module_s = defaultdict(float)
    for _, query, phase, t0, t1 in spans:
        phase_s[phase] += t1 - t0
        module_s[res["modules"][query]] += t1 - t0
    tot, side = Counters(), {"build": Counters(), "exec": Counters()}
    for (p, _query, phase), c in counters.items():
        if p == pass_no:
            tot.add(c)
            side[phase].add(c)
    wall = res["passes"][pass_no]
    m = {
        "plans.build_s": phase_s["build"],
        "plans.exec_s": phase_s["exec"],
        "plans.build_jobs": side["build"].jobs,
        "plans.exec_jobs": side["exec"].jobs,
        "spark.jobs": tot.jobs,
        "spark.stages": tot.stages,
        "spark.tasks": tot.tasks,
        "spark.failed_tasks": tot.failed_tasks,
        "spark.in_job_s": tot.in_job_s,
        "spark.build_in_job_s": side["build"].in_job_s,
        "spark.exec_in_job_s": side["exec"].in_job_s,
        "spark.driver_s": wall - tot.in_job_s,
        "spark.task_run_s": tot.task_run_s,
        "spark.task_cpu_s": tot.task_cpu_s,
        "spark.gc_s": tot.gc_s,
        "spark.cores_busy": tot.task_run_s / tot.in_job_s if tot.in_job_s else 0.0,
        "spark.single_task_stage_ratio": (
            tot.single_task_stages / tot.stages if tot.stages else 0.0
        ),
        "spark.shuffle_read_mb": tot.shuffle_read_mb,
        "spark.shuffle_write_mb": tot.shuffle_write_mb,
        "spark.spill_mb": tot.spill_mb,
        "sources.scan_mb": tot.scan_mb,
        "sources.scan_tasks": tot.scan_tasks,
        "mapreduce.run_s": sum(dt for p, _q, dt in res["mapreduce_runs"] if p == pass_no),
    }
    m.update(_stream_layers(res, pass_no))
    store = res["store"][pass_no]
    m["functions.store_builds_warm"] = store["builds"]
    m["functions.pinned_rdds"] = store["pinned"]
    m["functions.store_mb"] = store["mb"]
    for module, seconds in module_s.items():
        m[f"operators.{module}.wall_s"] = seconds
    return m


def _stream_layers(res: dict, pass_no: int) -> dict[str, float]:
    """Streaming totals of one pass from the streams' progress events."""
    ids = {k for k, v in res["stream_ids"].items() if v[0] == pass_no}
    dur = defaultdict(float)
    batches = 0
    state_ms = 0.0
    for p in res["progress"]:
        if p.get("id") in ids:
            batches += 1
            for k, v in (p.get("durationMs") or {}).items():
                dur[k] += v
            state_ms += sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators") or [])
    run_s = sum(dt for p, _q, dt in res["stream_runs"] if p == pass_no)
    return {
        "streaming.run_s": run_s,
        "streaming.batches": batches,
        "streaming.add_batch_s": dur["addBatch"] / 1000.0,
        "streaming.query_planning_s": dur["queryPlanning"] / 1000.0,
        "streaming.wal_commit_s": dur["walCommit"] / 1000.0,
        "streaming.commit_offsets_s": dur["commitOffsets"] / 1000.0,
        "streaming.state_commit_s": state_ms / 1000.0,
        "streaming.startup_s": run_s - dur["triggerExecution"] / 1000.0,
    }


def per_layer(res: dict, names: list[str], workload: str) -> tuple[dict, str]:
    spans = [Span(*s) for s in res["spans"]]
    counters = span_counters(res["events_dir"], workload, spans)
    res["progress"] = stream_progress(res["events_dir"])
    if not counters:
        fail("the event log holds no jobs of the timed passes")
    warm = [_pass_layers(res, counters, p) for p in passes_of(res, "warm")]
    values = {n: statistics.median(m.get(n, 0.0) for m in warm) for n in names}
    samples = samples_of(res, "warm")
    values["run.first_pass_s"] = res["passes"][0]
    values["run.query_p50_s"] = statistics.median(samples)
    values["run.query_tail_s"] = query_tail(samples)[0]
    values["run.jvm_rss_mb"] = res["rss_mb"]["jvm"]
    values["run.python_rss_mb"] = res["rss_mb"]["python"]
    values["run.peak_rss_mb"] = values["run.jvm_rss_mb"] + values["run.python_rss_mb"]
    values["session.start_s"] = res["session_start_s"]
    values["session.warmup_s"] = res["warmup_s"]
    values["functions.store_builds"] = statistics.median(
        res["store"][p]["builds"] for p in passes_of(res, "cold")
    )
    values["run.cold_pass_s"] = median_pass(res, "cold")
    values["run.warm_pass_s"] = median_pass(res, "warm")
    values["run.stolen_cpu_s"] = median_pass(res, "warm", cpu_times(res, stolen=True))
    traced = {
        "warm_pass_s": values["run.warm_pass_s"],
        "warm_pass_cpu_s": median_pass(res, "warm", cpu_times(res)),
    }
    base, source = _untraced_warm(workload)
    values["trace.warm_pass_s"] = traced["warm_pass_s"]
    values["trace.warm_pass_cpu_s"] = traced["warm_pass_cpu_s"]
    values["trace.overhead_s"] = traced["warm_pass_s"] - base["warm_pass_s"]
    values["trace.overhead_cpu_s"] = traced["warm_pass_cpu_s"] - base["warm_pass_cpu_s"]
    return values, (
        f"tracing overhead {values['trace.overhead_s']:+.3f} s wall, "
        f"{values['trace.overhead_cpu_s']:+.3f} s CPU against {source}"
    )


def _untraced_warm(workload: str) -> tuple[dict, str]:
    """The untraced warm pass (wall and CPU) to compare a traced one with:
    the last untraced run of this workload in this checkout, else the
    baseline."""
    try:
        with open(os.path.join(STATE, f"last-{workload}.json"), encoding="utf-8") as fh:
            last = json.load(fh)
        return {k: last[k] for k in ("warm_pass_s", "warm_pass_cpu_s")}, "the last untraced run here"
    except (OSError, ValueError, KeyError):
        pass
    with open(os.path.join(HERE, "baseline.json"), encoding="utf-8") as fh:
        base = json.load(fh)["workloads"][workload]
    return {k: base[k]["median"] for k in ("warm_pass_s", "warm_pass_cpu_s")}, "perfbench/baseline.json"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    for path in ("eecs485_p4_mapreduce_spark/__init__.py", "tools/canon.py"):
        if not os.path.isfile(os.path.join(ROOT, path)):
            fail(f"{path} not found under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    queries = WORKLOADS[args.workload]
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = launch(args, run_dir, queries)
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            values, note = per_layer(res, names, args.workload)
            metrics = {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in spec["per_layer"]
            }
        else:
            measured, note = end_to_end(res)
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in measured.items()}
            with open(os.path.join(STATE, f"last-{args.workload}.json"), "w", encoding="utf-8") as fh:
                json.dump({
                    "warm_pass_s": median_pass(res, "warm"),
                    "warm_pass_cpu_s": measured["warm_pass_cpu_s"][0],
                }, fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report(args, res, metrics, note)


def report(args, res: dict, metrics: dict, note: str) -> None:
    """Diagnostics on stderr; a summary line, then the result line, on stdout."""
    times = query_times(res)
    per_query = defaultdict(list)
    for (_, q), t in sorted(times.items()):
        per_query[q].append(f"{t:.3f}")
    print(f"perfbench: passes: {' '.join(res['kinds'])}", file=sys.stderr)
    busy, stolen = cpu_times(res), cpu_times(res, stolen=True)
    for q, ts in per_query.items():
        print(f"perfbench: {q} pass times: {' '.join(ts)}", file=sys.stderr)
        for label, times in (("CPU", busy), ("stolen CPU", stolen)):
            shown = " ".join(f"{t:.2f}" for (_, qq), t in sorted(times.items()) if qq == q)
            print(f"perfbench: {q} {label}: {shown}", file=sys.stderr)
    print(
        f"perfbench: setup {res['setup_s']:.1f} s, passes {sum(res['passes']):.1f} s, "
        f"check and stop {res['tail_s']:.1f} s",
        file=sys.stderr,
    )
    for p, q, tb in res["errors"]:
        print(f"perfbench: pass {p} {q} raised:\n{tb}", file=sys.stderr)
    failed = len(res["errors"])
    for q, v in res["verdicts"].items():
        if v is not None:
            failed += 1
            print(f"perfbench: check {q} failed: {v}", file=sys.stderr)
    attempted = len(times) + len(res["verdicts"])
    shown = " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items())
    print(
        f"{args.workload} seed={args.seed} trace={args.trace} {shown} "
        f"failed_ratio={failed / attempted:.4g} ({failed}/{attempted}) {note}"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))

if __name__ == "__main__":
    main()
