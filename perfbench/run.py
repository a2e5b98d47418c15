"""Benchmark of the podcast system: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root.  Set-up (session start, input
generation, warehouse preload, warm-up) is timed as ``setup_s``; then
the workload runs as a closed loop from this one client, in whole
batches, until ``--seconds`` have passed (at least one batch); then
its outputs are checked.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the preload, one batch of the workload and its extra traced calls
(trickle messages on dashboard, pair counts on curation) are traced,
and the metrics are the per-layer ones, including the tracing overhead
against an untraced batch made just after.  Spans and a stamped result
are written under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".bench_out")
CACHE = os.path.join(ROOT, ".bench_cache")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_to_checkout() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and the JVM heap small."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def stamp(nproc: int, seed: int, digest: str) -> dict:
    import pyarrow
    import pyspark

    head = None
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        head = ref
    except OSError:
        pass
    return {
        "git_head": head,
        # identifies the program in a checkout that is not a repository
        "source_sha256": digest,
        "nproc": nproc,
        "seed": seed,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def source_digest() -> str:
    """Digest of the Python sources of the program and of this
    benchmark: the key of everything kept in the cache."""
    h = hashlib.sha256()
    for top in ("serverless_podcast_etl_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(f"{os.path.relpath(path, ROOT)}\0".encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main(argv) -> int:
    args = parse_args(argv)
    confine_to_checkout()
    try:
        from pyspark import SparkContext

        from perfbench import curation, podcast, report
        from perfbench.trace import RssSampler, Tracer
        from serverless_podcast_etl_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        remove_work()
        return 2

    workloads = {"dashboard": podcast.Dashboard, "curation": curation.Curation}
    nproc = len(os.sched_getaffinity(0))
    digest = source_digest()
    info = stamp(nproc, args.seed, digest)
    info["loadavg_start"] = loadavg()

    spark = sampler = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc
        )
        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        tracer = Tracer(spark, requested=bool(args.trace))
        wl = workloads[args.workload](
            spark, tracer, args.seed, WORK, os.path.join(CACHE, digest)
        )
        tracer.enabled = bool(args.trace)
        info["input_sizes"] = wl.load()
        tracer.enabled = False
        wl.warm_up()
        setup_s = time.perf_counter() - t0

        if not args.trace:
            runs = {"base": wl.run(args.seconds)}
        else:
            # one batch each, to keep a traced run within its time limit
            tracer.enabled = True
            runs = {"traced": wl.run(0)}
            tracer.enabled = False
            # as warm as the traced run: the baseline of the tracing overhead
            runs["untraced"] = wl.run(0)
            tracer.enabled = True
            extra = wl.trace_extras()
            tracer.enabled = False
            if extra is not None:
                runs["trickle"] = extra
            os.makedirs(OUT, exist_ok=True)
            tracer.write(os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.jsonl"))
        sampler.stop()
        info["loadavg_end"] = loadavg()
        result = report.build(setup_s, sampler.peak_mb, runs, tracer, wl.problems)
    finally:
        if sampler is not None:
            sampler.stop()
        stop_spark(spark)
        remove_work()

    result["workload"] = args.workload
    os.makedirs(OUT, exist_ok=True)
    name = f"result-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump({"stamp": info, **result}, f, indent=1)
    for key, (value, unit) in result["summary"].items():
        print(f"{key} {value} {unit}")
    print(json.dumps({"stamp": info}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def remove_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))
    except OSError:
        pass  # another run's directory is still there


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
