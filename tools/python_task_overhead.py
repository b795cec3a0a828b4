#!/usr/bin/env python
"""Fixed cost of a Python job: trivial ``mapInArrow`` jobs against the
same jobs without Python, in one session.

Usage: python tools/python_task_overhead.py [n_jobs]   (default 30)

Starts one ``local[2]`` session, runs a few untimed warm-up jobs (they
start the Python workers and import the library in them), then times
``n_jobs`` trivial 2-task ``mapInArrow`` jobs interleaved with
``n_jobs`` 2-task jobs that do the same in the JVM. Each Python task
reports whether its worker re-reads only changed zip archives
(``semhash_spark._pyworker``) and how many zip directories its worker
has read so far, by archive, so the reads per task come out of the same
jobs. Prints one JSON line: both medians in ms, their difference,
whether the wrapper was live in every timed task, and the zip directory
reads per task by archive. Run it from the root of the tree to measure:
the workers import the ``semhash_spark`` of their working directory.
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARM_JOBS = 4


def _probe(batches):
    """A trivial library task: drains its input and reports its worker."""
    import json
    import os
    import zipimport

    import pyarrow as pa

    import semhash_spark  # noqa: F401  (what every library task imports)

    if not hasattr(zipimport, "_reads"):
        # count this worker's zip directory reads from here on
        read = zipimport._read_directory
        zipimport._reads = {}

        def counted(archive):
            name = os.path.basename(archive)
            zipimport._reads[name] = zipimport._reads.get(name, 0) + 1
            return read(archive)

        zipimport._read_directory = counted
    for _ in batches:
        pass
    live = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "reads": [json.dumps(zipimport._reads)], "live": [live]})


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.environ.get("PYTHONPATH"), ROOT) if p)
    sys.path[:0] = os.environ["PYTHONPATH"].split(os.pathsep)
    from semhash_spark.session import get_spark

    spark = get_spark("python_task_overhead", cores=2, shuffle_partitions=2,
                      driver_memory="1g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    src = spark.range(0, 2, 1, numPartitions=2)

    def python_job():
        return src.mapInArrow(_probe, "pid long, reads string, live boolean").collect()

    def jvm_job():
        return src.selectExpr("id > 0 AS live").collect()

    for _ in range(WARM_JOBS):
        python_job()
        jvm_job()
    py_ms, jvm_ms, rows = [], [], []
    for _ in range(n):
        for job, times in ((python_job, py_ms), (jvm_job, jvm_ms)):
            t0 = time.perf_counter()
            out = job()
            times.append((time.perf_counter() - t0) * 1e3)
            if job is python_job:
                rows.extend(out)
    spark.stop()

    # a worker runs one task at a time, so the reads between its first
    # and its last report were made by the tasks after the first
    first: dict[int, collections.Counter] = {}
    last: dict[int, collections.Counter] = {}
    for r in rows:
        first.setdefault(r.pid, collections.Counter(json.loads(r.reads)))
        last[r.pid] = collections.Counter(json.loads(r.reads))
    reads = collections.Counter()
    for pid in last:
        reads.update(last[pid] - first[pid])
    tasks = len(rows) - len(last)
    print(json.dumps({
        "n_jobs": n,
        "cores": 2,
        "python_job_ms_median": round(statistics.median(py_ms), 1),
        "jvm_job_ms_median": round(statistics.median(jvm_ms), 1),
        "python_minus_jvm_ms": round(statistics.median(py_ms) - statistics.median(jvm_ms), 1),
        "wrapper_live": all(r.live for r in rows),
        "zip_reads_per_task": {
            k: round(v / tasks, 2) for k, v in sorted(reads.items())} if tasks else None,
    }))


if __name__ == "__main__":
    main()
