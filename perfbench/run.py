"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <ingest_ref|serve_ref|analytics_spine>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. This process is the load generator; the
system under test runs in a child process (``perfbench/system.py``).
Every line before the last is a human-readable report; the last line is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric of BENCHMARK.json with ``--trace 0``,
every per-layer metric with ``--trace 1``. The exit code is non-zero when
a correctness check fails or the run cannot complete.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    MSG_PREFIX,
    RESULTS,
    ROOT,
    WORK,
    library_present,
    load_spec,
    median,
    metric_units,
    system_env,
)
from perfbench.trace import Tracer, check_spans  # noqa: E402

MESSAGE_TIMEOUT_S = 170.0


class SystemProcess:
    """The child running the system under test, with a message queue."""

    def __init__(self, args, log_path: str) -> None:
        cmd = [
            sys.executable, "-m", "perfbench.system",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=system_env(os.path.join(WORK, "run")),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, start_new_session=True,
        )
        self.log_path = log_path
        self.messages: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(MSG_PREFIX):
                self.messages.put(json.loads(line[len(MSG_PREFIX):]))
        self.messages.put(None)

    def send(self, msg: dict) -> None:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()

    def expect(self, kind: str, timeout: float = MESSAGE_TIMEOUT_S) -> dict:
        try:
            msg = self.messages.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"system process sent no {kind!r} within {timeout:.0f} s")
        if msg is None:
            raise RuntimeError(f"system process exited before {kind!r}")
        if msg.get("type") == "error":
            raise RuntimeError("system process failed:\n" + msg["error"])
        if msg.get("type") != kind:
            raise RuntimeError(f"expected {kind!r} from the system, got {msg.get('type')!r}")
        return msg

    def close(self) -> None:
        """Stop the child and everything it started (its JVM included)."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(1.0)
        self.proc.wait()
        self._reader.join(5)
        self.log.close()


class LoadContext:
    def __init__(self, args) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = Tracer()


def _load_module(workload: str):
    import importlib

    from perfbench.system import WORKLOADS

    return importlib.import_module(WORKLOADS[workload])


def _end_to_end(result: dict) -> dict[str, float]:
    lat = result["op_latencies"]
    if not lat or not result["ops_per_s"]:
        raise RuntimeError("the workload completed no operation")
    return {
        "op_p50_s": median(lat),
        "op_tail_s": result["op_tail_s"],
        "op_samples": len(lat),
        "ops_per_s": result["ops_per_s"],
        "setup_s": result["setup_s"],
    }


def _overhead(workload: str, traced: dict, cores: int, seconds: float) -> dict | None:
    """Traced minus the latest untraced run of the same workload, cores
    and run length."""
    runs = []
    for path in glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace0.json")):
        with open(path) as fh:
            r = json.load(fh)
        if r["facts"]["cores"] == cores and r["seconds"] == seconds:
            runs.append((os.path.getmtime(path), r))
    if not runs:
        return None
    base = max(runs, key=lambda x: x[0])[1]["end_to_end"]
    return {k: traced[k] - base[k] for k in ("op_p50_s", "op_tail_s", "ops_per_s")}


def _ensure_fixture() -> None:
    """Build the served log for this checkout if it is missing, in a
    process of its own."""
    from perfbench.serve_ref import cached_log_dir

    if os.path.isdir(cached_log_dir()):
        return
    with open(os.path.join(WORK, "run", "fixture.log"), "w") as log:
        subprocess.run(
            [sys.executable, "-m", "perfbench.serve_ref"], cwd=ROOT,
            env=system_env(os.path.join(WORK, "run")), stdout=log, stderr=log,
            check=True, timeout=800,
        )


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def run(args) -> int:
    if not library_present():
        print("perfbench: the library under test is not in this directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "run"))
    os.makedirs(RESULTS, exist_ok=True)
    module = _load_module(args.workload)
    ctx = LoadContext(args)
    signal.signal(signal.SIGTERM, _terminate)
    # only ingest_ref's traced serve phase reads the log; any ingest_ref
    # run builds it, so the build lands on the first run in a checkout
    # instead of adding a minute to the traced one
    if args.workload == "ingest_ref":
        try:
            _ensure_fixture()
        except (subprocess.SubprocessError, OSError) as exc:
            print(f"perfbench: building the serve log failed: {exc}", file=sys.stderr)
            return 1
    system = SystemProcess(args, os.path.join(WORK, "run", "system.log"))
    try:
        if hasattr(module, "load"):
            result = module.load(ctx, system)
        else:
            result = system.expect("result")
    except Exception as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        with open(system.log_path) as fh:
            tail = fh.read()[-3000:]
        print(f"--- system log tail ---\n{tail}", file=sys.stderr)
        return 1
    finally:
        system.close()

    facts = result["facts"]
    if facts["cores"] != facts["nproc"]:
        print(f"perfbench: refusing result: cores {facts['cores']} != nproc "
              f"{facts['nproc']}", file=sys.stderr)
        return 1
    e2e = _end_to_end(result)
    gate = result["gate"]
    stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}")
    record = {"workload": args.workload, "facts": facts, "gate": gate,
              "report": result["report"], "end_to_end": e2e,
              "seconds": args.seconds, "trace": args.trace}
    if args.trace:
        units = metric_units(spec, "per_layer")
        layers = {name: 0.0 for name in units}  # 0: layer not exercised here
        unknown = sorted(set(result.get("layers", {})) - set(units))
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        layers.update(result.get("layers", {}))
        layers["trace.op_p50_s"] = e2e["op_p50_s"]
        layers["trace.op_tail_s"] = e2e["op_tail_s"]
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        spans = ctx.tracer.spans + result["spans"]
        problems = check_spans(spans)
        # the span file is one more checked output of a traced run
        gate["attempted"] += 1
        gate["failed"] += 1 if problems else 0
        record.update(layers=layers, span_problems=problems[:20],
                      tracing_overhead=_overhead(args.workload, e2e, facts["cores"],
                                                 args.seconds))
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in units.items()}
    else:
        units = metric_units(spec, "end_to_end")
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in units.items()}
    correct = gate["failed"] == 0
    with open(stem + f"-trace{args.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  host {json.dumps(facts)}")
    print("report " + json.dumps(result["report"]))
    print("gate " + json.dumps(gate))
    if args.trace:
        for name, m in metrics.items():
            print(f"  {name:<48} {m['value']:>14.6g} {m['unit']}")
        print(f"spans {len(spans)} written to "
              f"{os.path.relpath(stem + '-spans.json', ROOT)}; problems: "
              f"{len(record['span_problems'])}")
        print("tracing overhead vs latest untraced run: "
              + json.dumps(record["tracing_overhead"]))
    print(json.dumps({"correct": correct, "attempted": int(gate["attempted"]),
                      "failed": int(gate["failed"]), "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
