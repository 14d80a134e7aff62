"""Scene-pipeline benchmark: one workload, one process, one closed-loop client.

    python3 scenebench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 scenebench/run.py --workload all --seconds 10   # every workload, a table

Run from the root of a checkout.  The process starts a Spark session with
the engine's own ``session.get_spark`` settings on ``local[nproc]``, makes
the workload's inputs from ``--seed``, runs untimed warm-up ops, then runs
timed ops back to back until their summed time reaches ``--seconds``.
Every op's output is checked.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``.  The line before it records the environment and
inputs.  See README.md in this directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from spans import Tracer, self_time, session_metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest", "pipeline")
# untimed ops before the first timed op: past the steep part of each
# workload's op-to-op drift in a fresh session (README.md, "Noise")
WARMUP = {"ingest": 5, "pipeline": 1}
# timed ops at least, however long they take: a pipeline op takes longer
# than --seconds, and a fixed count times the same ops in every run
MIN_OPS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "input_mb_per_s": "MB/s",
    "bytes_written_per_input_byte": "ratio",
    "success_rate": "ratio",
}

# span name -> per-layer self-time metric
LAYER_SPANS = [
    "sources.netcdf.read_scenes",
    "sources.ledger.unprocessed",
    "sources.ledger.commit",
    "sink.write",
    "functions.encoding.encode_polygon_codes",
    "plans.build_pipeline.decode_icechart",
    "operators.regrid.bilinear_regrid",
    "operators.patching.clean_patches",
    "plans.build_pipeline.build_patches",
    "operators.split.fraction_split",
    "operators.batching.assemble_batches",
    "operators.batching.pivot_patches",
    "operators.batching.predict_batches",
    "operators.stitch.stitch_full_image",
]
LAYER_COUNTS = {
    "sources.netcdf.files": "count",
    "sources.netcdf.rows": "count",
    "sources.netcdf.decode_mb_per_s": "MB/s",
    "sources.ledger.decoded_per_new": "ratio",
    "sink.files": "count",
    "sink.mb": "MB",
    "operators.patching.clean_ratio": "ratio",
    "operators.batching.batches": "count",
    "operators.batching.full_batch_ratio": "ratio",
    "operators.stitch.covered_ratio": "ratio",
}
SESSION_UNITS = {
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.failed_tasks": "count",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.cpu_util": "ratio",
    "session.no_stage_s": "s",
    "session.gc_s": "s",
    "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB",
    "session.codegen_compiles": "count",
    "session.codegen_s": "s",
}
TRACE_UNITS = {"trace.op_p50_s": "s", "trace.overhead_s": "s"}


def per_layer_units() -> dict:
    units = dict(SESSION_UNITS)
    units.update({f"{name}_s": "s" for name in LAYER_SPANS})
    units.update(LAYER_COUNTS)
    units.update(TRACE_UNITS)
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # Python workers unpickle engine and benchmark functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)


def descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def env_record(spark, args, wl, warmup: int, ops: int) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "generator": dataclasses.asdict(wl.settings),
        "warmup_ops": warmup,
        "timed_ops": ops,
    }


def run_one(args) -> dict:
    work = os.path.join(ROOT, ".scenebench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        sys.path.insert(0, ROOT)
        from asid_v2_data_pipeline_spark.session import get_spark

        import workloads

        spark = get_spark(master=f"local[{nproc()}]")
        print(f"session ready at {time.time() - PROCESS_START:.2f} s", file=sys.stderr)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
            tracer = Tracer(spark) if args.trace else None
            return measure(spark, wl, args, tracer)
        finally:
            stop_spark(spark)
            print(f"session stopped at {time.time() - PROCESS_START:.2f} s", file=sys.stderr)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def one_op(wl, k: int, tracer=None) -> tuple[float, bool, int, int, object]:
    """Prepare op ``k``, run it (timed) and check it.  An exception or a
    mismatch fails the op; the caller goes on and cleans up."""
    t_prep = time.perf_counter()
    op = wl.prepare(k)
    failed, in_b, out_b = [], 0, 0
    t0 = time.perf_counter()
    try:
        if tracer is None:
            wl.run(op)
        else:
            wl.run_traced(op, tracer)
    except Exception as e:
        failed = [f"{type(e).__name__}: {e}"]
    t1 = time.perf_counter()
    dt = t1 - t0
    if not failed:
        try:
            checks, in_b, out_b = wl.check(op)
            failed = [name for name, passed in checks.items() if not passed]
        except Exception as e:
            failed = [f"check {type(e).__name__}: {e}"]
    ok = not failed
    print(f"op {k}: {dt:.4f} s{' traced' if tracer else ''}"
          f" (prepare {t0 - t_prep:.2f} s, check {time.perf_counter() - t1:.2f} s)"
          f"{'' if ok else ' FAILED: ' + '; '.join(failed)}", file=sys.stderr)
    return dt, ok, in_b, out_b, op


def measure(spark, wl, args, tracer) -> dict:
    wl.setup()
    print(f"inputs ready at {time.time() - PROCESS_START:.2f} s", file=sys.stderr)
    warmup = WARMUP[args.workload]
    for k in range(warmup):
        wl.cleanup(one_op(wl, k)[-1])
    k = warmup
    if tracer is not None:  # the traced path has plans of its own to warm
        wl.cleanup(one_op(wl, k, tracer)[-1])
        k += 1
    setup_s = time.time() - PROCESS_START

    times, traced, layer_rows = [], [], []
    passed = attempted = in_bytes = out_bytes = 0
    busy = 0.0
    min_ops = MIN_OPS if tracer is None else 1
    while busy < args.seconds or len(times) < min_ops or (tracer is not None and not traced):
        use_tracer = tracer is not None and k % 2 == 1
        dt, ok, in_b, out_b, op = one_op(wl, k, tracer if use_tracer else None)
        busy += dt
        if use_tracer:
            traced.append(dt)
            if ok:
                layer_rows.append(layer_metrics(wl, op, tracer))
        else:
            times.append(dt)
            attempted += 1
            passed += ok
            in_bytes += in_b
            out_bytes += out_b
        wl.cleanup(op)
        k += 1

    print(json.dumps(env_record(spark, args, wl, warmup, attempted + len(traced))))
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "input_mb_per_s": in_bytes / 1e6 / sum(times),
            "bytes_written_per_input_byte": out_bytes / in_bytes,
            "success_rate": passed / attempted,
        }
        units = END_TO_END_UNITS
    else:
        out = os.path.join(ROOT, ".scenebench", "traces")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        units = per_layer_units()
        metrics = {m: statistics.median(r.get(m, 0.0) for r in layer_rows) if layer_rows else 0.0
                   for m in units}
        metrics["trace.op_p50_s"] = statistics.median(traced) if traced else 0.0
        metrics["trace.overhead_s"] = metrics["trace.op_p50_s"] - statistics.median(times)
        attempted += len(traced)
        passed += len(layer_rows)
    return {
        "correct": passed == attempted,
        "attempted": attempted,
        "failed": attempted - passed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }


def layer_metrics(wl, op, tracer) -> dict:
    tracer.collect(op.k)
    spans = [s for s in tracer.spans if s.op == op.k]
    root = next(s for s in spans if s.name == "op")
    row = session_metrics(spans, root, nproc())
    self_s: dict = {}
    for s in spans:
        if s.name in LAYER_SPANS:
            key = f"{s.name}_s"
            self_s[key] = self_s.get(key, 0.0) + self_time(spans, s)
    row.update(self_s)
    row.update(wl.layer_counts(op, self_s))
    return row


def run_all(args) -> int:
    """Every workload in its own process; prints one row per metric."""
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"{name}: failed with exit code {p.returncode}")
            code = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for m, v in res["metrics"].items():
            print(f"  {m:45s} {v['value']:14.6g} {v['unit']}")
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    print(json.dumps(run_one(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
