"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload index --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py and perfbench/METRICS.md for why each exists):
  index   build fresh indexes of a Zipf webtext corpus, then serve a query
          stream on one (local path, decode cache smaller than the working
          set); the traced run adds distributed point and batch queries
  ingest  fold a 2k-doc delta into a 4k-doc base index with
          incremental_index + compact(mode="append"); read it with a fresh
          reader and with a reader opened before the fold

With --trace 0 the last stdout line is a JSON object holding every
end-to-end metric (the timed work's CPU time, which varies far less than
wall time on a shared host); with --trace 1 it holds every per-layer
metric, wall-clock throughput and latency among them, read
from spans recorded around each call into the engine, and the spans are
written to .perfbench_work/traces/.  Everything else goes to stderr.  The
exit code is 0 when every answer checked was correct, 1 when one was not
or the run failed, 2 when the checkout holds no engine to measure.
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

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "index_cpu_ms_per_doc": "ms",
    "serve_cpu_ms": "ms",
    "index_bytes_per_text_byte": "ratio",
    "ops_ok_share": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "fixtures.gen_s": "s",
    "mem.peak_rss_mb": "MB",
    "host.steal_ratio": "ratio",
    "trace.overhead_s": "s",
    "build.docs_per_s": "docs/s",
    "build.doc_terms_s": "s",
    "build.postings_s": "s",
    "build.term_stats_s": "s",
    "build.field_stats_s": "s",
    "build.shuffle_write_bytes": "bytes",
    "build.spill_bytes": "bytes",
    "build.executor_run_s": "s",
    "build.cpu_util": "ratio",
    "build.task_skew": "ratio",
    "build.doc_terms_rows": "count",
    "build.block_rows": "count",
    "build.postings_bytes": "bytes",
    "serve.p50_ms": "ms",
    "serve.cache_hit_ratio": "ratio",
    "serve.blocks_decoded_per_query": "count",
    "serve.block_skip_ratio": "ratio",
    "serve.essential_terms_per_query": "count",
    "serve.and_p50_ms": "ms",
    "serve.cold_p50_ms": "ms",
    "serve.p90_ms": "ms",
    "serve.p98_ms": "ms",
    "dist.p50_ms": "ms",
    "dist.batch_qps": "1/s",
    "dist.jobs_per_query": "count",
    "dist.tasks_per_query": "count",
    "dist.executor_ms_per_query": "ms",
    "dist.shuffle_bytes_per_query": "bytes",
    "dist.driver_ms_per_query": "ms",
    "dist.batch_executor_s": "s",
    "dist.batch_shuffle_bytes": "bytes",
    "ingest.docs_per_s": "docs/s",
    "ingest.delta_s": "s",
    "ingest.ttq_s": "s",
    "fold.s": "s",
    "fold.postings_s": "s",
    "fold.term_stats_s": "s",
    "fold.defrag_s": "s",
    "fold.defrag_buckets": "count",
    "fold.first_query_ms": "ms",
    "fold.bytes_written_per_delta_byte": "ratio",
    "fold.stale_read_failures": "count",
}


class Run:
    """State of one benchmark run, passed to the workload function."""

    def __init__(self, args, work: str, cpus: int):
        from perfbench.metrics import OpLedger

        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.work = work
        self.cpus = cpus
        # a reader opened before a fold fails today (it raises
        # FileNotFoundError); those reads are counted as failed ops and
        # lower ops_ok_share, but do not make the run incorrect
        self.ledger = OpLedger(tolerated=frozenset({"stale_read"}))
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}            # extra context for the stderr summary
        self.spark = None
        self.tracer = None
        self.t_setup = self.t_measure = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_done(self) -> None:
        self.t_setup = time.perf_counter()
        self.e2e["setup_s"] = self.t_setup - T_START

    def measure_done(self) -> None:
        self.t_measure = time.perf_counter()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["index", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0,
                   help="minimum length of the index workload's serving stream")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "knowledgeir_spark", "__init__.py")):
        print(f"perfbench: no knowledgeir_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # Spark's Python workers import the engine from this checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import perfbench.workloads as W
    from perfbench import sparkprobe
    from perfbench.tracer import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.setdefault("KIR_DRIVER_MEM", "2g")
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    run = Run(args, work, cpus)
    jiffies0 = sparkprobe.cpu_jiffies()

    code = 1
    try:
        t0 = time.perf_counter()
        run.spark = sparkprobe.start_session(cpus, work)
        run.layer["session.start_s"] = time.perf_counter() - t0
        run.tracer = Tracer(bool(args.trace), run.spark.sparkContext)
        W.WORKLOADS[args.workload](run)
        code = 0
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        peak = sparkprobe.tree_rss_mb()
        try:
            if run.spark is not None:
                left = sparkprobe.stop_session(run.spark)
                if left:
                    print(f"perfbench: processes still alive: {left}",
                          file=sys.stderr)
                    code = 1
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if code:
        return code

    total, steal = (b - a for a, b in zip(jiffies0, sparkprobe.cpu_jiffies()))
    steal_ratio = steal / total if total else 0.0
    ledger = run.ledger
    run.e2e["ops_ok_share"] = ledger.ok_share()
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "steal_ratio": round(steal_ratio, 5),
        "timed_s": round(run.t_measure - run.t_setup, 4),
        "e2e": run.e2e, **run.info,
        "failed_by_kind": ledger.failed_by_kind, "errors": ledger.errors,
    }
    print(f"perfbench: {json.dumps(info)}", file=sys.stderr)

    if args.trace:
        run.layer.update({
            "mem.peak_rss_mb": max(peak, run.tracer.peak_rss_mb),
            "host.steal_ratio": steal_ratio,
            "trace.overhead_s": run.tracer.overhead_s,
        })
        run.tracer.dump(
            os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"),
            {**info, "layer": run.layer},
        )
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": ledger.correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0 if ledger.correct else 1


if __name__ == "__main__":
    sys.exit(main())
