"""Helpers shared by the load generator and the system-under-test process."""

from __future__ import annotations

import json
import math
import os
import platform
import sys

PKG_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PKG_DIR)
WORK = os.path.join(PKG_DIR, ".work")
RESULTS = os.path.join(PKG_DIR, "results")
LIBRARY = "vsphere_event_streaming_spark"

#: Prefix of protocol lines on the system process's stdout; anything else
#: on that stream (library prints) is ignored.
MSG_PREFIX = "@@perfbench "


def library_present(root: str = ROOT) -> bool:
    return os.path.isfile(os.path.join(root, LIBRARY, "__init__.py"))


def host_cores() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metric_units(spec: dict, kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[kind]}


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail(values, beyond: int = 10) -> float:
    """The highest order statistic with ``beyond`` samples above it (the
    largest value when the sample is smaller than that)."""
    xs = sorted(values, reverse=True)
    if not xs:
        raise ValueError("tail of an empty sample")
    return float(xs[min(beyond, len(xs) - 1)])


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def median_or_zero(values) -> float:
    """Median, or 0.0 when the workload never exercised the layer."""
    return median(values) if values else 0.0


def system_env(work: str) -> dict[str, str]:
    """Environment for the system process: the checkout on the Python path
    (Spark's Python workers import the library and the benchmark's own
    source class) and every temporary directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    env["PYTHONUNBUFFERED"] = "1"
    return env


def host_facts(cores: int, spark_version: str, seed: int) -> dict:
    return {
        "cores": cores,
        "nproc": host_cores(),
        "spark": spark_version,
        "python": platform.python_version(),
        "seed": seed,
    }


def emit(msg: dict) -> None:
    """Send one protocol message from the system process."""
    sys.stdout.write(MSG_PREFIX + json.dumps(msg) + "\n")
    sys.stdout.flush()
