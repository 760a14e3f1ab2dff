"""Benchmark of llm_rankers_spark: seeded workloads, correctness-gated.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1729 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The lines before
it report the host, every metric the workload measures, the checks and the
output digests. README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
}
SPANS = (
    "session.get_spark", "corpus.generate_corpus", "dedup.minhash", "dedup.candidate_pairs",
    "index_stream.append", "index_stream.search_segments", "index_stream.compact",
    "index_build.build_index", "tokenize.term_counts", "bm25.search", "bm25.bulk",
    "runs.attach_text", "rerank.rerank",
)
SPAN_UNITS = {
    "wall_s": "s", "self_s": "s", "driver_s": "s", "jobs": "count", "executor_cpu_s": "s",
    "python_worker_s": "s", "shuffle_write_bytes": "bytes", "gc_s": "s",
}
COUNTERS = {
    "index_build.slim_ordinals_s": "s",
    "index_build.doc_map_write_stats_s": "s",
    "index_build.pack_write_s": "s",
    "index_build.postings_bytes": "bytes",
    "index_build.doc_map_bytes": "bytes",
    "trace.attributed_frac": "ratio",
}


class Run:
    """State of one benchmark process: session, spans, ops, checks, digests."""

    def __init__(self, args, work: str) -> None:
        from perfbench.spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.ops: dict = {}
        self.checks: list[dict] = []
        self.digests: dict[str, str] = {}
        self.counters: dict[str, float] = {}
        self.plans: list = []  # bm25.search's chosen plan per call, via plan_out

    @contextlib.contextmanager
    def op(self, key):
        """One timed operation. An exception fails the op and is reported;
        the closed loop goes on."""
        rec = {"ok": True, "t0": time.time()}
        self.ops[key] = rec
        try:
            yield rec
        except Exception:
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["t1"] = time.time()

    def expect(self, key, ok: bool, what: str) -> None:
        """A correctness check on the output of op ``key``; failing it fails the op."""
        self.checks.append({"op": str(key), "ok": bool(ok), "what": what})
        if not ok:
            self.ops[key]["ok"] = False


def isolate_temp_files(work: str) -> None:
    """Keep the files Spark and the JVM write (shuffle, temp dirs, the
    package's shipped zip, sockets) in ``work``, so the run writes only
    inside the checkout and leaves nothing behind.

    The JVM options are appended to any the caller set. ``-XX:-UsePerfData``
    only turns off the JVM's ``/tmp/hsperfdata_<user>`` counters file (read
    by ``jstat``), the one file it would otherwise write outside the
    checkout. Unix socket paths are limited to 107 bytes and the JVM names
    its sockets ``<tmpdir>/.<uuid>.sock`` (43 more), so its tmpdir moves
    into ``work`` only when that fits; otherwise it stays the default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    java_opts = [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]
    if len(tmp) + 43 <= 100:
        java_opts.append(f"-Djava.io.tmpdir={tmp}")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(o for o in java_opts if o)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process they started."""
    from pyspark import SparkContext

    from perfbench.spans import descendants

    kids = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = kids
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for pid in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while any(_running(p) for p in alive):
        time.sleep(0.1)


def measure(run: Run, workload: str) -> dict:
    """Set up, run the closed loop, check; returns the report."""
    from llm_rankers_spark import get_spark

    from perfbench import spans
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    event_dir = os.path.join(run.work, "eventlog")
    ticks0 = spans.cpu_ticks()
    t0 = time.time()
    with spans.RssSampler() as rss:
        with run.tracer.span("session.get_spark"):
            if run.trace:
                os.makedirs(event_dir)
                run.spark = get_spark(master=master, extra_conf=spans.event_log_conf(event_dir))
                run.tracer.sc = run.spark.sparkContext
            else:
                run.spark = get_spark(master=master)
        wl = WORKLOADS[workload](run)
        wl.setup()
        setup_s = time.time() - t0
        loop_t0 = time.time()
        rounds = 0
        while rounds < wl.max_rounds and (rounds < wl.min_rounds or time.time() - loop_t0 < run.seconds):
            wl.round(rounds)
            rounds += 1
        loop_s = time.time() - loop_t0
        if run.trace:
            wl.traced_passes()
        t1 = time.time()
    ticks1 = spans.cpu_ticks()
    if not any(o["ok"] for o in run.ops.values()):
        raise RuntimeError("every timed operation failed")
    wl.check()
    check_s = time.time() - t1
    heap = run.spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    stop_spark(run.spark)
    run.spark = None

    values = dict(wl.metrics())
    values["setup_s"] = setup_s
    values["peak_rss_mb"] = rss.peak_bytes / 2**20
    values["failed_ops_frac"] = sum(not o["ok"] for o in run.ops.values()) / len(run.ops)
    report = {
        "host": {
            "nproc": nproc, "master": master, "seed": run.seed,
            "steal_pct": round(spans.steal_pct(ticks0, ticks1), 2),
            "loadavg": os.getloadavg(), "git_commit": spans.git_commit(ROOT),
            "jvm_max_heap_mb": heap // 2**20, "rounds": rounds, "loop_s": round(loop_s, 3),
            "workload_wall_s": round(t1 - t0, 3), "check_s": round(check_s, 3),
            "bm25_plans": run.plans,
            "op_s": {str(k): round(o["t1"] - o["t0"], 3) for k, o in run.ops.items()},
        },
        "values": values,
    }
    if run.trace:
        layers = spans.rollup(run.tracer.spans, spans.read_jobs(event_dir))
        counters = {k: run.counters.get(k, 0.0) for k in COUNTERS}
        counters["trace.attributed_frac"] = spans.attributed_fraction(run.tracer.spans, t0, t1)
        report["metrics"] = {
            f"{s}.{f}": {"value": layers.get(s, {}).get(f, 0.0), "unit": u}
            for s in SPANS for f, u in SPAN_UNITS.items()
        }
        report["metrics"].update({k: {"value": counters[k], "unit": u} for k, u in COUNTERS.items()})
    else:
        report["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query"))
    p.add_argument("--seed", type=int, default=1729)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[0] = ROOT  # import the package and perfbench from the checkout
    try:
        import llm_rankers_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import llm_rankers_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    isolate_temp_files(work)
    run = Run(args, work)
    try:
        report = measure(run, args.workload)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    failed = sum(not o["ok"] for o in run.ops.values())
    print("host " + json.dumps(report["host"]))
    for k, v in sorted(report["values"].items()):
        print(f"metric {k} = {v:.6g}")
    for c in run.checks:
        print(f"check {'ok' if c['ok'] else 'FAIL'} op={c['op']}" + ("" if c["ok"] else f" {c['what']}"))
    print("digests " + json.dumps(run.digests, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0 and all(c["ok"] for c in run.checks),
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
