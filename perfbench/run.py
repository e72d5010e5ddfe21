"""Crawl+extract and headline-query benchmark.

    python3 perfbench/run.py --workload crawl-extract --seed 1 --seconds 5 --trace 0

Runs one workload on ``local[<cores>]`` from this single driver process,
in a closed loop with one caller, and checks every output against the
repository's own oracles.  ``--trace 0`` measures the end-to-end metrics
through the user-facing entry points only; ``--trace 1`` adds a traced
repetition of the operation and reports the per-layer metrics.  Each
metric is printed to stderr by name and unit; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Exits non-zero when any operation fails or any output mismatches.

Workloads, metrics and the layer map are described in perfbench/README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl-extract", "queries")
END_TO_END = {"op_s": "s", "items_per_s": "items/s", "setup_s": "s"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Session settings, fixed before pyspark is imported: every core of
    this host, a 3 GB driver heap unless one is set, scratch space inside
    the work dir, and no engine tracing (SPARK_GRAFT_TRACE adds count()
    jobs to the plans being timed)."""
    os.environ.pop("SPARK_GRAFT_TRACE", None)
    cores = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ["SPARK_GRAFT_SHUFFLE"] = cores
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]


def _start_spark():
    """The user's set-up: session, JVM and Arrow-worker warm-up (the same
    warm-up bench.py does)."""
    from bench import _warm_python_workers
    from mlscraper_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1000).selectExpr("sum(id)").collect()
    _warm_python_workers(spark)
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _become_subreaper() -> None:
    """Make orphaned descendants (a Python worker the JVM leaves behind, say)
    children of this process, so ``_reap`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(pid))
    return out


def _reap(grace_s: float = 20.0) -> None:
    """Wait until no child process is left.  Children still running after
    ``grace_s`` get SIGTERM, and SIGKILL five seconds later."""
    t0 = time.monotonic()
    while True:
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - t0
        for pid in kids:
            try:
                if waited > grace_s:
                    os.kill(pid, signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM)
                os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


class Tally:
    """Operations and checks attempted and failed."""

    def __init__(self):
        self.attempted = self.failed = 0

    def record(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def call(self, what: str, fn, *args):
        """fn(*args), counting an exception as a failed operation."""
        try:
            out = fn(*args)
        except Exception:
            traceback.print_exc()
            self.record(what, False)
            return None
        self.record(what, True)
        return out

    def checks(self, what: str, fn, *args) -> None:
        results = self.call(what, fn, *args)
        for name, ok in (results or {}).items():
            self.record(f"{what} {name}", ok)


def _measure(name: str, wl, spark, seconds: int, tally: Tally) -> list:
    """Closed loop with one caller: the next operation starts when the
    previous one returns, until ``seconds`` have passed and at least
    ``wl.MIN_OPS`` operations have run.  An operation that raises ends the
    loop."""
    outputs = []
    t0 = time.perf_counter()
    while len(outputs) < wl.MIN_OPS or time.perf_counter() < t0 + seconds:
        out = tally.call(f"{name} op", wl.op, spark)
        if out is None:
            break
        outputs.append(out)
        _phase(f"op {len(outputs)}", t0)
    return outputs


def _phase(what: str, t0: float) -> None:
    print(f"perfbench: {what} done at {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "mlscraper_spark")):
        print(f"perfbench: no mlscraper_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _become_subreaper()
    try:
        return _run(args, work)
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    _environment(work)
    from workloads import CrawlExtract, Queries, per_layer_units, traced_run

    wl = {"crawl-extract": CrawlExtract, "queries": Queries}[args.workload](work, args.seed)
    t0 = time.perf_counter()
    import mlscraper_spark.crawl.engine  # noqa: F401  the package import, in setup_s
    import mlscraper_spark.queries  # noqa: F401
    import_s = time.perf_counter() - t0
    wl.prepare()
    t0 = time.perf_counter() - import_s
    spark = _start_spark()
    try:
        _phase("session", t0)
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        _phase("setup", t0)
        tally = Tally()
        outputs = _measure(args.workload, wl, spark, args.seconds, tally)
        if not outputs:
            return 1
        op_s, items_per_s = wl.summary(outputs)
        wl.report(outputs)
        _phase(f"{len(outputs)} measured op(s)", t0)
        tally.checks(f"{args.workload} check", wl.check, spark, outputs)
        _phase("checks", t0)
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            metrics = traced_run(wl, spark, tracer, outputs, tally)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{tracer.run_id}.json"))
            units = per_layer_units()
            _phase("traced op", t0)
        else:
            metrics = {"op_s": op_s, "items_per_s": items_per_s, "setup_s": setup_s}
            units = END_TO_END
    finally:
        _stop_spark(spark)
    for name, unit in units.items():
        print(f"{name} {metrics[name]:.6g} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
