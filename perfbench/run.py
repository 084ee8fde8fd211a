"""Benchmark of the dff validation engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload micro_batches --seed 1 --seconds 10 --trace 0

One process, one client, a closed loop: each operation is submitted only
after the previous one returned.  Spark runs in ``local[<nproc>]`` with a
driver heap sized from physical memory.  Every input is generated from
``--seed`` by ``dff.sources``.  All files live under ``.perfbench/`` in the
working directory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every dff call, attributes Spark jobs to them and prints the
per-layer metrics.  Human-readable lines come first; the last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Both modes also write a JSON record under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: End-to-end metrics, as named in BENCHMARK.json.
END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("batch_p50_s", "s"),
    ("resume_p50_s", "s"),
    ("stored_bytes_per_input_byte", "ratio"),
)
#: Names the workload's own vocabulary uses for the batch latency.
BATCH_ALIAS = {"table_ingest": "ingest"}
#: Tail percentiles tried, highest first.
TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
SETUP_REPS = 3
WARM_STEPS = 2
#: an operation during which the hypervisor stole more than this share of
#: CPU time from the guest is not used for latency while calmer ones exist
STEAL_LIMIT = 0.05


def host_facts(heap_mb: int, cores: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "phys_mem_mb": _phys_mb(),
        "driver_heap_mb": heap_mb,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _phys_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def heap_mb_for_host() -> int:
    """A quarter of physical memory, between 1 and 4 GiB.  Shuffle and
    fixtures live on disk under the working directory, not in tmpfs."""
    return max(1024, min(4096, _phys_mb() // 4 // 256 * 256))


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """Highest ladder percentile with at least ten samples beyond it, as
    ``(percentile, value)``; ``(None, None)`` below twenty samples."""
    n = len(samples)
    for p in TAIL_LADDER:
        if n * (1 - p) >= 10:
            return p, statistics.quantiles(samples, n=1000, method="inclusive")[
                round(p * 1000) - 1
            ]
    return None, None


def start_spark(work: str, cores: int, heap_mb: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("dff-perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        b = (
            b.config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "10")
            .config("spark.ui.retainedTasks", "1000")
        )
    else:
        b = b.config("spark.ui.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dff", "runner.py")):
        print(f"dff package not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(base, "work", run_id)
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    # keep Python's temporary files (py4j handshake) inside the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import SCALES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    cores = os.cpu_count() or 1
    heap = heap_mb_for_host()

    spark = start_spark(work, cores, heap, bool(args.trace))
    try:
        out = run(spark, args, work, results, cores, heap, run_id,
                  SCALES[args.scale], WORKLOADS)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump(out["record"], f, indent=1)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0


def run(spark, args, work, results, cores, heap, run_id, scale, workloads) -> dict:
    from spans import NullTracer, Tracer, per_layer_names
    from workloads import cpu_ticks

    session_s = time.perf_counter() - T_START
    ticks0 = cpu_ticks()
    tracer = Tracer(spark, run_id) if args.trace else NullTracer()
    wl = workloads[args.workload](spark, work, args.seed, scale, tracer)

    # set-up: fixtures + baseline repeated, median kept; then one-time
    # preparation and warm-up operations
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup_data()
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    tracer.recording = False
    for _ in range(WARM_STEPS):
        wl.step(measured=False)
    prep_warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(reps) + prep_warm_s

    tracer.recording = True
    # closed loop of a fixed number of steps, sized so that the run measures
    # about --seconds on the reference host: every run then samples the
    # same positions on the JIT warm-up curve, whatever the host's speed
    t_loop = time.perf_counter()
    for _ in range(max(1, round(args.seconds / wl.step_s))):
        wl.step(measured=True)
    loop_s = time.perf_counter() - t_loop

    ticks1 = cpu_ticks()
    t_check = time.perf_counter()
    wl.check()
    check_s = time.perf_counter() - t_check
    measured = [o for o in wl.ops if o["measured"]]
    failed = sum(1 for o in wl.ops if o["error"])
    errors = [(o["kind"], o.get("snapshot"), o["error"]) for o in wl.ops if o["error"]]
    # latency counts every operation that returned, mismatched or not,
    # taken while the host was calm if any operation of its kind was
    done = [o for o in measured if not o["raised"]]
    ok = _calm(done, wl.batch_kind) + _calm(done, "resume")
    batches = [o["wall"] for o in ok if o["kind"] == wl.batch_kind]
    resumes = [o["wall"] for o in ok if o["kind"] == "resume"]
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": wl.rows_per_s(ok) if batches else 0.0,
        "batch_p50_s": _median(batches),
        "resume_p50_s": _median(resumes),
        "stored_bytes_per_input_byte": wl.stored_bytes() / max(wl.input_bytes, 1),
    }
    tail_p, tail_v = tail(batches)
    facts = host_facts(heap, cores) | {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": args.scale,
        "fixture_rows": wl.fixture_rows,
        "fixture_bytes": wl.fixture_bytes,
        "unplanted_duplicate_keys": wl.unplanted_dups,
        # share of CPU time the hypervisor gave to other guests while this
        # run set up and measured: runs on a contended host are not comparable
        "cpu_steal_share": (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1),
    }
    attempted = len(wl.ops)
    lines = [f"# host {json.dumps(facts)}"]
    units = dict(END_TO_END)
    alias = BATCH_ALIAS.get(args.workload, "batch")
    for name, val in e2e.items():
        lines.append(f"{args.workload} {name} {val:.6g} {units[name]}")
    if alias != "batch":
        lines.append(f"{args.workload} {alias}_p50_s {e2e['batch_p50_s']:.6g} s")
    lines.append(
        f"{args.workload} {alias}_tail_s "
        + (f"{tail_v:.6g} s (p{tail_p * 100:g}, n={len(batches)})" if tail_p
           else f"n/a (n={len(batches)} < 20 samples)")
    )
    lines.append(f"{args.workload} error_rate {failed / max(attempted, 1):.6g} ratio")
    lines.append(f"# ops attempted={attempted} measured={len(measured)} "
                 f"used={len(ok)} (steal <= {STEAL_LIMIT:.0%}) loop_s={loop_s:.3f}")
    if wl.unplanted_dups:
        lines.append(f"# NOTE the fixtures hold {wl.unplanted_dups} duplicate key "
                     "copies that dff.sources did not tag as planted")
    for kind, sid, err in errors[:10]:
        lines.append(f"# MISMATCH {kind} {sid}: {err}")

    record = {
        "host": facts,
        "trace": args.trace,
        "metrics": e2e,
        "batch_tail": {"percentile": tail_p, "value": tail_v, "samples": len(batches)},
        "error_rate": failed / max(attempted, 1),
        "errors": errors,
        "samples": {"batch": batches, "resume": resumes, "setup_reps": reps,
                    "steal": [(o["kind"], o["wall"], o["steal"]) for o in measured]},
        "phases_s": {"session": session_s, "prepare_and_warm": prep_warm_s,
                     "loop": loop_s, "check": check_s},
    }
    if tracer.enabled:
        tracer.collect()
        per_layer = tracer.per_layer(cores)
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in per_layer_names()}
        composed = {
            "batch_p50_s": _median(tracer.composed(f"op.{wl.batch_kind}")),
            "resume_p50_s": _median(tracer.composed("op.resume")),
        }
        overhead = _overhead(composed, os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace0.json"))
        record |= {"per_layer": per_layer, "composed": composed,
                   "overhead_vs_untraced": overhead}
        for k, v in composed.items():
            lines.append(f"# traced {k} {v:.6g} s (composed from spans)")
        if overhead:
            for k, v in overhead.items():
                lines.append(f"# tracing overhead {k} {v:+.1%} vs untraced run")
        else:
            lines.append("# tracing overhead: no untraced record for this workload "
                         "and seed; run with --trace 0 first")
        spans_path = os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json")
        tracer.dump(spans_path, {"host": facts, "per_layer": per_layer,
                                 "composed": composed})
        lines.append(f"# spans written to {os.path.relpath(spans_path)}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return {"lines": lines, "record": record, "result": result}


def _calm(ops: list[dict], kind: str) -> list[dict]:
    """The operations of ``kind`` with at most ``STEAL_LIMIT`` steal, or
    all of them if none has."""
    of_kind = [o for o in ops if o["kind"] == kind]
    return [o for o in of_kind if o["steal"] <= STEAL_LIMIT] or of_kind


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def _overhead(traced: dict, untraced_path: str) -> dict | None:
    """Relative change of each traced latency against the untraced record
    for the same workload and seed, if one exists."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)["metrics"]
    except (OSError, ValueError, KeyError):
        return None
    return {
        k: traced[k] / base[k] - 1.0
        for k in traced
        if base.get(k)
    }


if __name__ == "__main__":
    sys.exit(main())
