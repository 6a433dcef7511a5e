"""Benchmark of the product path and the corpus registry.

    python3 perfbench/run.py --workload services_product --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):

* ``services_product``: the anonymization product path over inputs made from
  the seed. A cycle is one bulk CSV run (batch) and three JSONL deltas
  (incremental), the third planted with defects the gate must catch.
* ``corpus_registry``: eight registry queries over a corpus made from the
  seed. A cycle is the seven document queries (batch) and the sessionize
  streaming replay (incremental).

Each run starts one Spark session at ``local[nproc]`` (``SPARK_GRAFT_CPUS``
overrides), generates its inputs under ``.perfbench/`` in the repository,
warms up, then runs ``round(--seconds / CYCLE_S)`` whole cycles (at least
one), one operation at a time from one closed-loop client. ``CYCLE_S`` is a
cycle's wall time on an unloaded 4-core host; the cycle count does not
follow the clock, so a loaded host does not change how much warm-up the
measured operations get. Outputs are checked outside the timed part and
deleted between runs; there is no fsync. An operation fails when it raises
or its output check fails.

Operation cost is CPU seconds (user + system) of the whole process tree:
this process, the Spark JVM and its Python workers. On a shared host, wall
time measures the neighbours as much as the program; CPU time moves much
less with them. ``--trace 0`` prints the end-to-end metrics: ``setup_s``
(wall seconds of session start, input generation, warm-up and its checks),
``batch_cpu_ms_per_row`` (CPU ms per input row of a cycle's batch
operations) and ``incremental_cpu_s`` (mean CPU seconds per incremental
operation of a cycle), each the median over cycles. ``--trace 1`` runs one
traced cycle and prints the per-layer metrics. Layer times are shares (%)
of the traced cycle's wall time, so that no time reads a constant 0 on the
workload that never calls the layer; those layers' counts read 0.
``cpu.jit_pct`` is the JIT compiler threads' share of the cycle's CPU: what
is left of the JVM's warm-up. Streaming ``commit_pct`` sums state-store
commit time over partitions, so it can pass 100. ``trace.overhead_pct`` is
the time the probes themselves took. The last stdout line is the result
JSON; the line before it is a detail record (environment, inputs,
operations with wall and CPU seconds, per-layer seconds). A traced run also
writes its spans to ``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import probe as pb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbt_gdpr_anonymizer_spark"
SALT = "perfbench-pinned-salt"
WORKLOADS = ("services_product", "corpus_registry")
CYCLE_S = 20.0  # a cycle's wall time, either workload, on an unloaded 4-core host


def _git_head(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def _environment(cpus: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "git_head": _git_head(ROOT),
        "write_policy": "local dir under the checkout, no fsync, outputs deleted between runs",
    }


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _engine_metrics(spans: list[dict], ops: list[dict], cores: int) -> dict:
    calls = [s for s in spans if "jobs" in s]
    jobs = [j for s in calls for j in s["jobs"]]
    stages = [st for s in calls for st in s["stages"]]
    op_spans = [s for s in spans if s["name"] == "op"]
    cycle_s = sum(o["wall_s"] for o in ops)
    t = pb.stage_totals(jobs, stages, cycle_s, cores)
    m = {f"spark.{k}": t[k] for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "core_util",
        "gc_s", "shuffle_bytes", "spill_bytes", "peak_exec_mem_bytes",
    )}
    m["driver.s"] = cycle_s - sum(
        pb.job_wall_s([j for s in calls if op["start"] <= s["start"] <= op["end"] for j in s["jobs"]])
        for op in op_spans
    )
    m["cpu.cycle_s"] = sum(o["cpu_s"] for o in ops)
    jit_s = sum(o["jit_s"] for o in ops)
    m["cpu.jit_pct"] = 100.0 * jit_s / (m["cpu.cycle_s"] + jit_s)
    m["py4j.calls"] = sum(s.get("py4j_calls", 0) for s in spans)
    release = [s for s in spans if s["name"] == "operators.caching.release_caches"]
    m["caching.release_s"] = sum(s["end"] - s["start"] for s in release)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=work,
        SPARK_LOCAL_DIRS=work,
        ANONYMIZATION_SALT=SALT,
        ENGINE_ENV="dev",
    )
    sys.path.insert(0, ROOT)
    load_before = os.getloadavg()[0]
    spark = None
    try:
        t_setup = time.perf_counter()
        from dbt_gdpr_anonymizer_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # Compiler threads that never exit keep their CPU time
                # readable, so that it can be told apart (probe.jit_cpu_s).
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={work} -XX:-UseDynamicNumberOfCompilerThreads"
                ),
            },
        )
        session_start_s = time.perf_counter() - t_setup
        quiet = pb.Probe(spark, "untraced", enabled=False)
        if args.workload == "services_product":
            from services import Services

            wl = Services(spark, work, args.seed, SALT, quiet)
        else:
            from corpus import Corpus

            wl = Corpus(spark, work, args.seed, ROOT, quiet)
        t_gen = time.perf_counter()
        inputs = wl.generate()
        generate_s = time.perf_counter() - t_gen
        warm = wl.warm_up()
        setup_s = time.perf_counter() - t_setup

        ops: list[list[dict]] = []
        detail: dict = {}
        spans: list[dict] = []
        if args.trace:
            wl.p = pb.Probe(spark, f"{args.workload}-{args.seed}", enabled=True)
            blocks0 = _cached_partitions(spark)
            ops.append(wl.cycle())
            measured = ops[0]
            leaked = _cached_partitions(spark) - blocks0
            rss = pb.peak_rss_mb(pb.jvm_pid(spark))
            spans = wl.p.tracer.finish()
            evicted = [s["name"] for s in spans if s.get("evicted")]
            if evicted:
                raise RuntimeError(f"status store evicted stages inside {evicted}")
            layer, detail = wl.layer_metrics(spans, measured)
            traced_s = sum(o["wall_s"] for o in measured)
            metrics = {
                "session.start_s": session_start_s,
                **_engine_metrics(spans, measured, wl.p.cores),
                "caching.leaked_blocks": leaked,
                "memory.jvm_hwm_mb": rss[0],
                "memory.python_maxrss_mb": rss[1],
                **layer,
                "trace.cycle_s": traced_s,
                "trace.overhead_pct": 100.0 * wl.p.overhead_s / traced_s,
            }
            wl.p.close(spark)
            # Layers this workload never calls read 0; any other gap is a bug.
            for name in spec_units("per_layer"):
                if name not in metrics and name.startswith(wl.UNTOUCHED):
                    metrics[name] = 0
        else:
            for _ in range(max(1, round(args.seconds / CYCLE_S))):
                ops.append(wl.cycle())
            measured = [o for c in ops for o in c]
            per_cycle = [_cycle_metrics(c) for c in ops]
            metrics = {
                "setup_s": setup_s,
                **{k: statistics.median(m[k] for m in per_cycle) for k in per_cycle[0]},
            }
        failed = sum(1 for o in measured if not o["ok"])
        correct = not wl.errors and all(o["ok"] for o in warm) and failed == 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    env = _environment(cpus)
    env["loadavg_1m"] = [load_before, os.getloadavg()[0]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "inputs": inputs,
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "generate_s": generate_s,
        "warm_up": warm,
        "cycles": ops,
        "errors": wl.errors,
        "layer_seconds": detail,
    }
    if args.trace:
        with open(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(spans, fh)
    units = spec_units("per_layer" if args.trace else "end_to_end")
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    print(json.dumps({"detail": record}, default=str))
    result = {
        "correct": correct,
        "attempted": len(measured),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def _cycle_metrics(cycle: list[dict]) -> dict:
    """CPU cost of one cycle: per input row of its batch operations, and per
    incremental operation."""
    batch = [o for o in cycle if o["class"] == "batch"]
    incremental = [o for o in cycle if o["class"] == "incremental"]
    return {
        "batch_cpu_ms_per_row": 1e3 * sum(o["cpu_s"] for o in batch) / sum(o["rows"] for o in batch),
        "incremental_cpu_s": statistics.fmean(o["cpu_s"] for o in incremental),
    }


def _cached_partitions(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos)


def spec_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


if __name__ == "__main__":
    sys.exit(main())
