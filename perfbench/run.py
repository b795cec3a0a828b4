"""Benchmark of the semhash_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload selfdedup_minhash --seed 1 --seconds 12 --trace 0

Run it from the root of a source checkout. It starts one Spark session
on ``local[2]`` (fewer slots on a host with under 4 cores), runs untimed
warm-up passes on a small corpus, generates the seeded corpus, then
times passes of the workload for ``--seconds`` (at least three passes),
checking every pass's outputs. With ``--trace 1`` it then makes the
pass's calls once more, each layer under its own Spark job group, and
reads the layers' task metrics from the event log.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before it
holds the details: every pass, the host state and the checks.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
# untimed warm-up: passes of the workload on a small corpus of the same
# seed. Most of a cold pass's extra cost is fixed (Python workers, class
# loading, planning code the JVM has not compiled yet), so a small pass
# warms the session nearly as much as a full one, in less time
WARM_PASSES = 2
WARM_FILES = 300
# at least this many timed passes, whatever --seconds says: with a fixed
# number the median sits at the same place on the session's slow
# warm-up curve in every run, where a count set by the clock would
# give a slow spell of the host fewer, earlier (slower) passes
MIN_TIMED_PASSES = 3
# a run stops timing once it has lasted this long, whatever the pass
# count, so that a slow spell of the host cannot stretch it much past
# 70 s: all the runs of a full evaluation must fit one time budget
MAX_RUN_S = 70.0
# task slots: two on the 4-core host leave the driver JVM (query
# planning, JIT, GC) and the Python driver cores of their own; passes
# were no slower than with three
CORES = max(1, min(2, (os.cpu_count() or 1) - 2))
HEAP = "1536m"


def prepare_env(work: str, trace: bool) -> dict[str, str]:
    """Point every scratch path of Python, the JVM and Spark into
    ``work``, and let the Python workers import the checkout's package."""
    import tempfile

    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "jvm-tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is touched whole at start, so no timed pass pays for
        # first-touch page faults and the JVM's memory is the same in
        # every run
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['jvm-tmp']} -Dderby.system.home={work}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(conf: dict[str, str]):
    """The benchmark's session. The driver heap is fixed in size (``-Xms``
    equal to ``-Xmx``): a heap left to grow reached a different size in
    every run and swung the peak memory of the process tree by ±25%."""
    from semhash_spark.session import get_spark

    return get_spark("perfbench", cores=CORES, shuffle_partitions=max(8, CORES),
                     driver_memory=HEAP, extra_conf=conf)


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / 1e6


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver started, and wait until
    every process below this one has ended."""
    from pyspark import SparkContext

    import hoststate

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the JVM exits once the stdin the driver holds is closed
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in hoststate.descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.2)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "semhash_spark", "__init__.py")):
        print(f"perfbench: no semhash_spark package under {ROOT}; run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import hoststate
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "pins.json")) as f:
        pin = json.load(f).get(args.workload, {}).get(str(args.seed))

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        conf = prepare_env(work, bool(args.trace))
        return _run(args, conf, work, pin, hoststate, workloads)
    finally:
        remove_work(work)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run still uses it
        pass


def _run(args, conf, work, pin, hoststate, workloads) -> int:
    host = hoststate.HostWindow()
    host.start()
    spark = start_spark(conf)
    try:
        cls = workloads.WORKLOADS[args.workload]
        setup_steps = {"session_s": time.perf_counter() - T_START}
        warm = cls(spark, args.seed, n_files=WARM_FILES)
        warm.setup()
        setup_steps["warm_passes"] = [warm.run_pass()[0] for _ in range(WARM_PASSES)]
        warm.teardown()
        t = time.perf_counter()
        wl = cls(spark, args.seed)
        wl.setup()
        setup_steps["corpus_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        # a pinned seed must reproduce its pinned outputs; any other seed
        # must reproduce its own first timed pass
        expected = pin["outputs"] if pin else None

        passes, first_out, attempted, failed, errors = [], None, 0, 0, []
        t0 = time.perf_counter()
        with hoststate.Sampler(os.getpid()) as mem:
            while True:
                attempted += 1
                try:
                    timing, out = wl.run_pass()
                except Exception as e:  # a failed call is counted, not fatal
                    traceback.print_exc()
                    failed += 1
                    errors.append(repr(e))
                else:
                    passes.append(timing)
                    first_out = first_out or out
                    expected = expected or wl.comparable(out)
                    if wl.comparable(out) != expected:
                        failed += 1
                        errors.append(f"pass {attempted} outputs {wl.comparable(out)} "
                                      f"differ from {expected}")
                elapsed = time.perf_counter() - t0
                if (elapsed >= args.seconds and len(passes) >= MIN_TIMED_PASSES) \
                        or time.perf_counter() - T_START > MAX_RUN_S:
                    break
        if first_out is None:
            raise RuntimeError(f"every timed pass failed: {errors}")

        traced = None
        if args.trace:
            tr = workloads.Tracer(spark.sparkContext)
            scratch0 = _dir_mb(os.environ["TMPDIR"])
            t1 = time.perf_counter()
            traced_out = wl.traced_pass(tr)
            traced_s = time.perf_counter() - t1
            scratch_mb = _dir_mb(os.environ["TMPDIR"]) - scratch0
            traced = (tr, traced_s, scratch_mb)
            attempted += 1
            if wl.comparable(traced_out) != expected:
                failed += 1
                errors.append(f"traced outputs {wl.comparable(traced_out)} differ "
                              f"from {expected}")

        problems, recall = wl.check(first_out)
        if pin and abs(recall - pin["dup_pair_recall"]) > 1e-12:
            problems.append(f"recall {recall} differs from pinned {pin['dup_pair_recall']}")
        if problems:  # every pass reproduced outputs the oracle rejects
            failed = attempted
        wl.teardown()
        host_state = host.finish()
        host_state.update(memcpy_gb_s=hoststate.memcpy_gb_s(), loop_s=hoststate.loop_s(),
                          load1_mean=statistics.fmean(mem.loads) if mem.loads else None)
    finally:
        stop_spark(spark)

    end_to_end = _end_to_end(wl, passes, setup_s, recall, mem.peak_mb)
    metrics = end_to_end if traced is None else _per_layer(work, traced, passes, workloads)
    details = {
        "workload": wl.name, "seed": args.seed, "pinned": pin is not None,
        "input_files": wl.n_files, "host_cores": os.cpu_count(), "spark_cores": CORES,
        "setup": setup_steps, "passes": passes, "counts": first_out["counts"],
        "recall": recall, "problems": problems, "errors": errors[:5], "host": host_state,
        "pss_sample_s": statistics.fmean(mem.sample_s), "end_to_end": end_to_end,
    }
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _end_to_end(wl, passes, setup_s, recall, peak_mb) -> dict:
    vals = {"setup_s": setup_s, "dup_pair_recall": recall, "peak_pss_mb": peak_mb,
            "files_per_s": wl.n_files / statistics.median(p["pass_s"] for p in passes)}
    return {k: {"value": vals[k], "unit": unit} for k, unit in wl.end_to_end.items()}


def _per_layer(work, traced, passes, workloads) -> dict:
    import eventlog

    tr, traced_s, scratch_mb = traced
    groups = eventlog.group_metrics(eventlog.read_log(os.path.join(work, "eventlog")))
    vals = {}
    for layer in workloads.LAYERS:
        span = tr.layers.get(layer, {"wall_s": 0.0, "rows": 0})
        g = groups.get(layer, {})
        vals[f"{layer}.wall_s"] = span["wall_s"]
        vals[f"{layer}.rows"] = span["rows"]
        for f in ("executor_s", "shuffle_write_mb", "spill_mb", "gc_s", "task_skew"):
            vals[f"{layer}.{f}"] = g.get(f, 0.0)
    c = tr.counters
    vals["operators.lsh.pairs"] = c.get("operators.lsh.pairs", 0)
    vals["operators.verify.edges"] = c.get("operators.verify.edges", 0)
    pairs = c.get("operators.lsh.pairs", 0)
    vals["operators.verify.pass_ratio"] = vals["operators.verify.edges"] / pairs if pairs else 0.0
    vals["operators.containment.edges"] = c.get("operators.containment.edges", 0)
    vals["operators.components.clusters"] = c.get("operators.components.clusters", 0)
    vals["operators.verify.scratch_mb"] = scratch_mb
    vals["trace.overhead_s"] = traced_s - statistics.median(p["pass_s"] for p in passes)
    return {k: {"value": vals[k], "unit": u} for k, u in workloads.per_layer_units().items()}


if __name__ == "__main__":
    sys.exit(main())
