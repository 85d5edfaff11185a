"""Layered benchmark for lucene_1_spark.

    python3 layerbench/run.py --workload query --seed 1 --seconds 10 --trace 0
    python3 layerbench/selftest.py     # tests of the benchmark's statistics

Run from the root of a checkout; every file a run writes stays under
``.bench_work/`` there and is removed at exit.  Workloads (see
``workloads.py``):

- ``query``: a warm read-only session.  One searcher over a positions
  index answers single boolean and phrase queries and ``search_many``
  batches; HNSW searches run over a graph built beside it.
- ``ingest``: appends, merges and deletes; after each iteration's
  commits a freshly opened reader answers queries.

Each workload is one closed-loop client in one driver process; Spark
runs as ``local[nproc]`` with ``nproc`` shuffle partitions.  With
``--trace 0`` the last stdout line carries the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics.  Earlier
stdout lines record the environment, the raw latency samples, the time
of each phase and the check results that are reported, not gated.

End-to-end metrics carry the same names on every workload:

- ``setup_s``: session start and worker warm-up, plus one cold
  set-up build (index, and for query the HNSW graph), plus the warm-up
  operations;
- ``peak_rss_mb``: VmHWM of the driver Python process plus the JVM;
- ``op_p50_ms``: a boolean or term query (query; the first ten of the
  window, in the reference class shares), a query on a fresh reader
  after a commit (ingest; the first two iterations, as for all ingest
  metrics);
- ``op2_p50_ms``: a phrase query (query; the first two of the window,
  one exact and one sloppy), an ``append`` commit (ingest);
- ``op3_p50_ms``: an ``hnsw_search`` (query; the first four), a
  ``delete_by_term`` commit (ingest);
- ``work_per_s``: ``search_many`` queries per second (query; the first
  two batches), documents per second of append, ``maybe_merge`` and
  delete time (ingest);
- ``index_bytes_per_input_byte``: index bytes, each inode once, per
  byte of input text (ingest: after the first two iterations).

The loop runs past ``--seconds`` until it holds the samples these
medians are taken over.

Failed operations and wrong answers count in ``failed`` out of
``attempted``; the output's ``correct`` is true when none failed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time

NPROC = len(os.sched_getaffinity(0))   # what `nproc` prints
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 155   # a run must exit within 180 s, shutdown included


def configure_env(work: str) -> None:
    """Size Spark for the host it runs on and keep every file it writes inside
    the checkout.  Must run before numpy or pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(2, ram // 4 // 2 ** 30))
    os.environ.update({
        # every JVM, the spark-submit launcher's too: temp files in the
        # checkout, no perf-data file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # single-threaded BLAS: Spark already runs one task per core
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}"),
            # a fixed heap and young generation: the JVM's peak RSS then
            # follows the data it retains, not G1's resizing decisions,
            # which moved it by +-15% from run to run
            "--conf", shlex.quote("spark.driver.extraJavaOptions="
                                  f"-Xms{heap_gb}g -Xmn{heap_gb * 256}m"),
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "pyspark-shell"]),
    })


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def environment(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark
    jvm = spark.sparkContext._jvm
    return {
        "nproc": NPROC,
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE")
                        * os.sysconf("SC_PHYS_PAGES") / 2 ** 30, 1),
        "driver_heap": os.environ["SPARK_DRIVER_MEM"],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "java": jvm.System.getProperty("java.version"),
    }


def jvm_process():
    """The Spark JVM, as the Popen that started the py4j gateway."""
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited; the Python
    worker daemon under it exits when the JVM closes its pipe."""
    import subprocess
    import traceback

    from pyspark import SparkContext
    proc = jvm_process()
    try:
        spark.stop()
        SparkContext._gateway.shutdown()
    except Exception:   # a run cut short may leave py4j unusable
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    lib = importlib.util.find_spec("lucene_1_spark")
    if lib is None or not (lib.origin or "").startswith(ROOT + os.sep):
        sys.exit(f"lucene_1_spark is not importable from {ROOT}")
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    configure_env(work)

    import stats
    from workloads import WORKLOADS, Run
    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    run = Run(args.seed, args.seconds, bool(args.trace), work)
    t_start = time.perf_counter()
    try:
        e2e = WORKLOADS[args.workload](run)
        run.phases["checks"] = time.perf_counter()
        rss = {"python": vm_hwm_mb("self")}
        proc = jvm_process()
        if proc is not None:
            rss["jvm"] = vm_hwm_mb(proc.pid)
        run.info["peak_rss_mb"] = rss
        e2e["peak_rss_mb"] = sum(rss.values())
        env = environment(run.spark)
        if run.traced:
            start, end = run.window
            run.layer["trace.coverage_share"] = run.tracer.coverage(start, end)
            run.layer["trace.overhead_share"] = \
                run.window_overhead / (end - start)
            run.info["spans_file"] = run.tracer.write(os.path.join(
                ROOT, ".bench_work", "spans",
                f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        signal.alarm(0)
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # unless another run uses it
        except OSError:
            pass
    run.phases["stop"] = time.perf_counter()
    marks = sorted(run.phases.items(), key=lambda kv: kv[1])
    phases, prev = {}, t_start
    for name, t in marks:
        phases[name] = round(t - prev, 3)
        prev = t

    print(json.dumps({"environment": env}))
    print(json.dumps({"latency_ms": {k: stats.summary(v)
                                     for k, v in run.samples.items()},
                      "samples": {k: [round(x, 1) for x in v]
                                  for k, v in run.samples.items()},
                      "phase_s": phases,
                      **run.info}))
    if run.traced:
        print(json.dumps({"traced_end_to_end": e2e}))
        unused = [m["name"] for m in spec["per_layer"]
                  if m["name"] not in run.layer]
        print(json.dumps({"layers_not_exercised": unused}))
        table = spec["per_layer"]
        values = {m["name"]: float(run.layer.get(m["name"], 0.0))
                  for m in table}
    else:
        table = spec["end_to_end"]
        values = {m["name"]: float(e2e[m["name"]]) for m in table}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in table},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
