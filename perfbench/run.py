"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench/``, starts the program's own Spark session, measures
closed-loop operations for ``--seconds`` seconds, checks the outputs against
the repo's DuckDB oracles, and prints one JSON result as the last line of
standard output. ``--trace 1`` makes the separate traced run that reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
NPROC = len(os.sched_getaffinity(0))


def _git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _source_digest() -> str:
    """sha256 over the program's and the benchmark's Python sources: the
    commit stand-in for checkouts that are not git repositories."""
    h = hashlib.sha256()
    files = glob.glob(os.path.join(ROOT, "trading_etl_spark", "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(HERE, "*.py")) + [os.path.join(ROOT, "__spark_entry__.py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def host_stamp(settings: dict[str, str], spark_version: str) -> dict:
    """What a result depends on besides the code: comparisons refuse two
    records whose ``host`` parts differ."""
    import pandas
    import pyarrow

    return {
        "host": {
            "nproc": NPROC,
            "mem_total_kb": _mem_total_kb(),
            "machine": platform.machine(),
        },
        "commit": _git_commit(),
        "source_sha256": _source_digest(),
        "versions": {
            "spark": spark_version,
            "python": platform.python_version(),
            "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__,
        },
        "settings": settings,
    }


def configure_env(work: str, trace: bool) -> dict[str, str]:
    """Environment and Spark defaults the benchmark sets before the JVM
    starts; every value is recorded in the result's stamp."""
    conf_dir = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (conf_dir, tmp, events):
        os.makedirs(d, exist_ok=True)
    defaults = {
        # a fixed-size heap: G1 heap growth otherwise makes peak RSS depend
        # on GC timing more than on the work done; no JVM files outside
        # the checkout (hsperfdata, java.io.tmpdir)
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        defaults |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        }
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in defaults.items():
            f.write(f"{k} {v}\n")
    env = {
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "spark-warehouse"),
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    os.environ.update(env)
    return env | {f"spark-defaults:{k}": v for k, v in defaults.items()}


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "trading_etl_spark")):
        print(f"error: no trading_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = configure_env(work, bool(args.trace))
    try:
        # numpy seeds must be non-negative
        wl = WORKLOADS[args.workload](work, args.seed % (1 << 63))
        result = wl.run(args.seconds, bool(args.trace))
        from pyspark import __version__ as spark_version

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "inputs": wl.inputs_description(),
            "stamp": host_stamp(settings, spark_version),
            **result.record,
        }
        records = os.path.join(ROOT, ".perfbench", "records")
        os.makedirs(records, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        with open(os.path.join(
            records, f"{stamp}-{args.workload}-{args.seed}-t{args.trace}.json"
        ), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(json.dumps(result.summary, sort_keys=True), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result.line))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
