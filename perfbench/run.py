#!/usr/bin/env python3
"""tippecanoe-spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tile_plain --seed 3 --seconds 20 --trace 0

Run from the root of a checkout.  The run starts one Spark session on
``local[<cores>]``, generates its inputs from ``--seed`` into a scratch
directory inside the checkout, warms up, then runs ops back to back
(a closed loop with one caller) for ``--seconds`` seconds and checks
every op's output.  The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` alternates untraced and traced ops in the window and
reports the per-layer metrics (the spans are written to
``.perfbench_out/``).  The line before it is a human-readable summary
with sample counts and the host fingerprint.  The exit code is non-zero
when an output check fails or the program cannot be run.

``--pin 0-39,42`` prints the output digests of the listed seeds instead
(one op each) for ``expected.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# ops keep speeding up for several ops after the first (JIT, codegen and
# per-worker caches): a fixed warm-up count and a minimum op count put
# the measured ops at the same place on that curve in every run
WARMUP_OPS = 2
MIN_OPS = 2
# a session that fails this many ops in a row is broken: stop the window
MAX_FAILS_IN_A_ROW = 3
# stage counters reported for every span
SPAN_COUNTERS = ("jobs", "tasks", "failed_tasks", "exec_cpu_s", "gc_s")


def die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def host_fingerprint(cores: int) -> dict:
    import pyspark

    ref = os.path.join(ROOT, ".refbuild")
    return {
        "nproc": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "refbuild_binaries": sorted(
            f for f in ("tippecanoe", "tippecanoe-decode", "clean_test")
            if os.path.isfile(os.path.join(ref, f))),
        "tippecanoe_on_path": shutil.which("tippecanoe") is not None,
    }


def prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files under
    # the checkout, no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its workers are gone."""
    import proctree

    kids = proctree.descendants(os.getpid())
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for pid in proctree.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proctree.wait_gone(kids, timeout_s=30)


def median(xs):
    # no sample (every op failed): 0, and the run reports correct=false
    return statistics.median(xs) if xs else 0.0


def traced_layer_metrics(workload, tracer, op_id: int) -> dict:
    """Per-layer numbers of one traced op, from its spans."""
    spans = {s.name: s for s in tracer.spans if s.op == op_id}
    out = {}
    for name, s in spans.items():
        if name == "op":
            continue
        out[f"{name}.wall_s"] = s.wall_s
        for c in SPAN_COUNTERS:
            out[f"{name}.{c}"] = s.counters[c]
        if name.startswith("dedup."):
            out[f"{name}.shuffle_write_mb"] = s.counters["shuffle_write_mb"]
    if workload.name == "tile_plain":
        b, c = spans["build"], spans["cascade"]
        out["pages.features"] = workload.last["features"]
        out["encode.tiles"] = workload.last["tiles"]
        out["encode.wall_s"] = b.wall_s - c.wall_s
        for k in ("pyworker_cpu_s", "shuffle_write_mb", "spill_mb"):
            out[f"encode.{k}"] = b.counters[k] - c.counters[k]
        out["export.mb_written"] = os.path.getsize(workload.out_path) / 2 ** 20
        out["encode.tile_mb"] = workload.last["tile_bytes"] / 2 ** 20
        covered = sum(spans[n].wall_s for n in ("pages", "minzoom", "build", "export"))
        out["trace.coverage"] = covered / spans["op"].wall_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", help="seed list, e.g. 0-39,42")
    args = ap.parse_args(argv)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "tippecanoe_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        die(f"no tippecanoe_spark checkout at {ROOT}")
    with open(bench_path) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)

    import proctree
    import workloads

    if args.workload not in workloads.WORKLOADS:
        die(f"unknown workload {args.workload!r}")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected_all = json.load(f)

    cores = len(os.sched_getaffinity(0))
    proctree.kill_leftovers(ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    prepare_env(cores)

    from tippecanoe_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]")
    session_start_s = time.perf_counter() - t0
    try:
        if args.pin:
            return pin(spark, args.workload, parse_seeds(args.pin))
        return run(spark, bench, args, cores, session_start_s,
                   expected_all.get(args.workload, {}).get(str(args.seed)))
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


def pin(spark, name: str, seeds: list[int]) -> int:
    import workloads
    from spans import Tracer

    off = Tracer(spark, False)
    out = {}
    for seed in seeds:
        data = os.path.join(WORK, "data")
        workloads.clean_dir(data)
        w = workloads.WORKLOADS[name](spark, data, seed)
        w.setup()
        out[str(seed)] = w.op(off, 0)
        print(f"perfbench: pinned {name} seed {seed}", file=sys.stderr, flush=True)
    print(json.dumps({name: out}, sort_keys=True))
    return 0


def run(spark, bench, args, cores, session_start_s, expected) -> int:
    import proctree
    import workloads
    from spans import Tracer

    data = os.path.join(WORK, "data")
    workloads.clean_dir(data)
    w = workloads.WORKLOADS[args.workload](spark, data, args.seed)
    w.setup()

    off = Tracer(spark, False)
    on = Tracer(spark, True)
    errors: list[str] = []
    reference = {"value": expected}

    def one(tracer, op_id):
        """(ok, wall_s, cpu_s) of one op; failures are logged, not raised."""
        c0 = proctree.snapshot()
        t0 = time.perf_counter()
        try:
            got = w.op(tracer, op_id)
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            traceback.print_exc(file=sys.stderr)
            return False, 0.0, 0.0
        wall = time.perf_counter() - t0
        cpu = (proctree.snapshot() - c0).total_s
        if reference["value"] is None:
            reference["value"] = got
        if got != reference["value"]:
            errors.append(f"op {op_id}: output {got} != {reference['value']}")
            return False, wall, cpu
        return True, wall, cpu

    with proctree.PeakRss() as rss:
        for i in range(WARMUP_OPS):
            one(off, -1 - i)
        setup_s = time.perf_counter() - T_START

        timed = {"off": [], "on": []}
        layer_rows = []
        op_id = 0
        fails_in_a_row = 0
        ticks0 = proctree.cpu_ticks()
        t_end = time.perf_counter() + args.seconds
        while True:
            tracer = on if (args.trace and op_id % 2 == 1) else off
            ok, wall, cpu = one(tracer, op_id)
            timed["on" if tracer.enabled else "off"].append((ok, wall, cpu))
            if tracer.enabled and ok:
                probes = w.layer_probes(on, op_id)
                layer_rows.append({**traced_layer_metrics(w, on, op_id), **probes})
            op_id += 1
            fails_in_a_row = 0 if ok else fails_in_a_row + 1
            if fails_in_a_row >= MAX_FAILS_IN_A_ROW or (
                    time.perf_counter() >= t_end and op_id >= MIN_OPS):
                break
        steal, total = (b - a for a, b in zip(ticks0, proctree.cpu_ticks()))
        if reference["value"] is not None:
            errors.extend(w.final_check(reference["value"]))
        once = w.once_probes(on) if args.trace else {}
        run_cpu = proctree.snapshot()

    ops = timed["off"]
    good = [o for o in ops if o[0]]
    attempted = len(ops) + len(timed["on"])
    failed = sum(1 for o in ops + timed["on"] if not o[0])
    op_s = median([o[1] for o in good])
    op_cpu_s = median([o[2] for o in good])
    walls = [o[1] for o in good]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pinned": expected is not None,
        "setup_s": setup_s,
        "op_s": {"median": op_s, "n": len(good), "walls": walls},
        "op_cpu_s": {"median": op_cpu_s, "n": len(good)},
        "fail_share": failed / attempted,
        # co-tenant load while the timed ops ran
        "steal_share": steal / total if total else 0.0,
        "host": host_fingerprint(cores),
        "errors": errors[:5],
    }
    if args.workload == "tile_plain" and good:
        summary["tiles_per_s"] = reference["value"]["tiles"] / op_s
        summary["features_per_s"] = w.last["features"] / op_s if w.last else None

    if args.trace:
        traced = [o for o in timed["on"] if o[0]]
        layer = {k: median([r[k] for r in layer_rows if k in r])
                 for k in sorted({k for r in layer_rows for k in r})}
        layer.update(once)
        layer["session.start_s"] = session_start_s
        layer["proc.driver_cpu_s"] = run_cpu.driver_s
        layer["proc.jvm_cpu_s"] = run_cpu.jvm_s
        layer["proc.pyworker_cpu_s"] = run_cpu.pyworker_s
        layer["proc.peak_rss_mb"] = rss.peak_mb
        layer["trace.overhead_s"] = median([o[1] for o in traced]) - op_s
        declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
        extra = set(layer) - set(declared)
        if extra:
            die(f"undeclared per-layer metrics: {sorted(extra)}")
        # a layer the workload does not run did zero work in this run
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in declared.items()}
        summary["trace_overhead_s"] = layer["trace.overhead_s"]
        os.makedirs(OUT, exist_ok=True)
        on.write(os.path.join(OUT, f"trace_{args.workload}_s{args.seed}.json"),
                 {"summary": summary, "layers": layer})
    else:
        values = {"setup_s": setup_s, "op_s": op_s, "op_cpu_s": op_cpu_s,
                  "ok_share": 1.0 - failed / attempted}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    correct = not errors and bool(good)
    print("perfbench summary: " + json.dumps(summary, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
