"""Dev-loop mirror of the driver's DuckDB-oracle correctness gate.

Runs every registered query at a given sf dir through Spark AND its oracle
SQL through DuckDB, then compares row count, column names, and values
(order-insensitive, driver-strict type-tagged render -- see tools/canon.py;
a tolerance fallback is reported for diagnosis only).  Usage:

    python tools/oracle_check.py [--vanilla] [--chunk N] [sf_dir] [query ...]

A full-registry run (no query filter) additionally writes
``CORRECTNESS_LOCAL.json`` at the repo root (``CORRECTNESS_LOCAL_<sf>.json``
for non-default scale factors) -- the driver-schema
per-query artifact (rows/schema/hash match + row counts + error), with a
``_meta`` entry recording HEAD, sf_dir, and timestamp -- so the local
full-registry sweep is a checked-in, diffable record rather than a prose
claim.

``--vanilla`` runs on a bare ``SparkSession.builder.getOrCreate()`` with
NONE of the engine's session confs, then imports ``__spark_entry__`` --
the driver's exact environment -- so any query that silently depends on
get_spark's configuration fails here first.

``--chunk N`` (full-registry runs) executes the sweep as subprocess
batches of N queries, each in a FRESH JVM, and merges the partial
results into the one artifact.  It is needed only at high core counts.
The per-query release (:func:`_release_blocks`) bounds a sweep's heap
to about one query's state, and on ``local[4]`` the whole sf0.1
registry runs on one vanilla JVM with the default 1g driver heap.  On
``local[32]`` the same heap once OOM'd on accumulated pinned blocks
plus one heavy wedge enumeration, even though every query passed in
isolation; chunking bounds that while every query still runs on a
vanilla session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from eecs485_p4_mapreduce_spark import get_spark  # noqa: E402
from eecs485_p4_mapreduce_spark.plans import REGISTRY  # noqa: E402
from eecs485_p4_mapreduce_spark.session import default_cpus  # noqa: E402
from eecs485_p4_mapreduce_spark.sources import TABLES  # noqa: E402
from tools.canon import canon as _canon  # noqa: E402
from tools.canon import close as _close  # noqa: E402
from tools.canon import duck_type_violations as _duck_type_violations  # noqa: E402
from tools.canon import spark_type_violations as _spark_type_violations  # noqa: E402


def _run_chunked(vanilla: bool, sf_dir: str, chunk: int) -> int:
    """Parent mode for --chunk: sweep the full registry in fresh-JVM
    subprocess batches, merge the partial JSONs, write the artifact."""
    import tempfile

    names = list(REGISTRY)
    results: dict[str, dict] = {}
    failures = 0
    for i in range(0, len(names), chunk):
        batch = names[i:i + chunk]
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
            part = f.name
        cmd = [sys.executable, os.path.abspath(__file__)]
        if vanilla:
            cmd.append("--vanilla")
        cmd += ["--partial", part, sf_dir, *batch]
        rc = subprocess.run(cmd).returncode
        # a child that is OOM-killed or crashes before its end-of-run
        # dump leaves an empty/partial file — the exact scenario --chunk
        # exists for.  Record the batch as failed and keep sweeping
        # instead of aborting the parent and losing the merged results.
        try:
            with open(part) as f:
                results.update(json.load(f))
        except (OSError, json.JSONDecodeError):
            for n in batch:
                results.setdefault(n, {"err": "batch crashed before dump"})
            rc = rc or 1
        try:
            os.unlink(part)
        except OSError:
            pass
        if rc:
            failures += sum(
                1 for n in batch
                if results.get(n, {}).get("err") is not None
            )
    print(f"\n{len(names) - failures}/{len(names)} passed (chunked x{chunk})")
    _write_artifact(
        results, sf_dir, len(names) - failures, len(names),
        vanilla=vanilla, chunked=chunk,
    )
    return 1 if failures else 0


def _write_artifact(
    results: dict, sf_dir: str, passed: int, total: int, **meta
) -> None:
    """Write a full-registry sweep's per-query ``results`` plus a
    ``_meta`` entry (HEAD, sf_dir, ``meta``, timestamp, pass count) to
    ``CORRECTNESS_LOCAL[_<sf>].json`` at the repo root."""
    head = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    results["_meta"] = {
        "head": head,
        "sf_dir": sf_dir,
        **meta,
        "when": time.strftime("%Y-%m-%d %H:%M:%S"),
        "passed": passed,
        "total": total,
    }
    base = os.path.basename(os.path.normpath(sf_dir))
    suffix = "" if base == "sf0.01" else f"_{base}"
    out = os.path.join(REPO, f"CORRECTNESS_LOCAL{suffix}.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"wrote {out}")


def _release_blocks(spark) -> None:
    """Per-query block release (round 10): a sweep used to accumulate
    every prior query's pinned RDD blocks in the driver heap —
    at --chunk 48 on a vanilla 1g JVM, ~20 predecessors' blocks OOM'd
    graph_centrality_2hop even though it passes isolated.  Once a
    query's rows are collected its blocks are garbage (stored models
    and derived frames are parquet on disk, never session memory) — so
    clear the SQL cache, then unpersist whatever persistent RDDs remain.
    Heap is now bounded by ONE query's state; chunk size is no longer
    load-bearing."""
    try:
        spark.catalog.clearCache()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in list(jmap.keys()):
            jmap[k].unpersist(False)
        # Broadcasts and freed block references are reclaimed by the
        # ContextCleaner only after a JVM GC notices them — on a 1g
        # vanilla child the next heavy query can OOM before that
        # happens naturally, so nudge one explicitly (measured: the
        # chunk-48 batch holding graph_centrality_2hop OOM'd without
        # this and passes with it).
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass  # release is best-effort hygiene, never a sweep error


def main() -> int:
    argv = sys.argv[1:]
    vanilla = "--vanilla" in argv
    argv = [a for a in argv if a != "--vanilla"]
    chunk = None
    partial = None
    if "--chunk" in argv:
        i = argv.index("--chunk")
        chunk = int(argv[i + 1])
        del argv[i:i + 2]
    if "--partial" in argv:
        i = argv.index("--partial")
        partial = argv[i + 1]
        del argv[i:i + 2]
    args = argv
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = [a for a in args if not os.path.isdir(a)] or list(REGISTRY)
    if chunk and set(names) == set(REGISTRY):
        return _run_chunked(vanilla, sf_dir, chunk)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(f"local[{default_cpus()}]").getOrCreate()
        # as the driver does: build the session, then import the contract
        import __spark_entry__  # noqa: F401
    else:
        spark = get_spark("oracle-check")
    failures = 0
    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        if i and len(names) > 1:
            # release the PREVIOUS query's blocks (loop-top placement so
            # every exit path of the previous iteration — errors,
            # no-oracle continues — still gets released)
            _release_blocks(spark)
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            sviol = _spark_type_violations(sdf.schema)
            if sviol:
                raise TypeError(
                    f"pandas-lossy Spark final column types {sviol} -- "
                    "the driver canonicalizes through pandas; cast to "
                    "bigint/double or project through array_join/to_json"
                )
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": f"spark error: {e}"}
            failures += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            # no oracle: nothing was compared — record only that it ran
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(srows),
                             "oracle_rows": None, "err": None}
            continue
        try:
            rel = con.sql(spec.oracle)
            dviol = _duck_type_violations(rel)
            if dviol:
                raise TypeError(
                    f"pandas-lossy DuckDB final column types {dviol} -- "
                    "the driver canonicalizes through pandas (HUGEINT -> "
                    "float64); CAST the final column AS BIGINT/DOUBLE"
                )
            drows = rel.fetchall()
            dcols = rel.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(srows),
                             "oracle_rows": None, "err": f"duckdb error: {e}"}
            failures += 1
            continue
        try:
            s_canon, s_cols = _canon(srows, scols)
            d_canon, d_cols = _canon(drows, dcols)
        except TypeError as e:
            print(f"FAIL  {name}: canonicalize error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(srows),
                             "oracle_rows": len(drows),
                             "err": f"canonicalize error: {e}"}
            failures += 1
            continue
        status = []
        if s_cols != d_cols:
            status.append(f"cols {s_cols} != {d_cols}")
        if len(s_canon) != len(d_canon):
            status.append(f"rowcount {len(s_canon)} != {len(d_canon)}")
        if not status and s_canon != d_canon:
            exact_bad = sum(1 for a, b in zip(s_canon, d_canon) if a != b)
            near = all(
                all(_close(x, y) for x, y in zip(a, b)) for a, b in zip(s_canon, d_canon)
            )
            diffs = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:3]
            status.append(
                f"{exact_bad}/{len(s_canon)} rows differ ({'within 1e-9' if near else 'VALUE MISMATCH'}); e.g. {diffs}"
            )
        results[name] = {
            "rows_match": len(s_canon) == len(d_canon),
            "schema_match": s_cols == d_cols,
            "hash_match": not status and s_canon == d_canon,
            "spark_rows": len(s_canon),
            "oracle_rows": len(d_canon),
            "err": "; ".join(status) if status else None,
        }
        if status:
            print(f"FAIL  {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
            failures += 1
        else:
            print(f"ok    {name}: {len(s_canon)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    if partial is not None:
        with open(partial, "w") as f:
            json.dump(results, f)
    if set(names) == set(REGISTRY):
        _write_artifact(
            results, sf_dir, len(names) - failures, len(names),
            vanilla=vanilla,
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
