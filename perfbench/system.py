"""The system-under-test process: builds the Spark session and runs the
system side of one workload, driven by JSON lines on stdin and answering
with protocol lines on stdout (see ``common.emit``).

Started by ``run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

from .common import WORK, emit, host_cores, host_facts
from .trace import Tracer

WORKLOADS = {
    "ingest_ref": "perfbench.ingest_ref",
    "analytics_spine": "perfbench.spine",
}


class SystemContext:
    def __init__(self, args) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(WORK, "run")
        self.tracer = Tracer()
        self.warmup_s = 0.0
        self.spark = None
        self.cores = 0
        self.started = time.time()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when a phase ended, in seconds since the process began."""
        self.phases[phase] = round(time.time() - self.started, 3)

    def send(self, msg: dict) -> None:
        emit(msg)

    def expect(self, kind: str) -> dict:
        line = sys.stdin.readline()
        if not line:
            raise RuntimeError(f"load generator went away while waiting for {kind!r}")
        msg = json.loads(line)
        if msg.get("type") != kind:
            raise RuntimeError(f"expected {kind!r}, got {msg!r}")
        return msg


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    ctx = SystemContext(args)
    os.makedirs(ctx.work, exist_ok=True)
    try:
        module = importlib.import_module(WORKLOADS[args.workload])
        from vsphere_event_streaming_spark.session import get_spark

        t = time.time()
        spark = get_spark("perfbench", cpus=host_cores())
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t
        ctx.spark = spark
        ctx.mark("session")
        ctx.cores = spark.sparkContext.defaultParallelism
        if ctx.cores != host_cores():
            raise RuntimeError(
                f"defaultParallelism {ctx.cores} != nproc {host_cores()}"
            )
        result = module.system(ctx)
        ctx.mark("workload")
        result["report"].update(phases=ctx.phases, session_s=session_s,
                                warmup_s=ctx.warmup_s)
        result["facts"] = host_facts(ctx.cores, spark.version, args.seed)
        result["setup_s"] = session_s + ctx.warmup_s + result.pop("setup_unit_s")
        if ctx.trace:
            result.setdefault("layers", {}).update(
                {"setup.session_s": session_s, "setup.warmup_s": ctx.warmup_s}
            )
            result["spans"] = ctx.tracer.spans
        emit({"type": "result", **result})
        spark.stop()
        return 0
    except Exception:  # the boundary: report the failure to the load generator
        emit({"type": "error", "error": traceback.format_exc()})
        return 1


if __name__ == "__main__":
    sys.exit(main())
