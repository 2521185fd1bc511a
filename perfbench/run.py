#!/usr/bin/env python3
"""Run one benchmark workload (or all three) and print its metrics.

    python3 perfbench/run.py --workload ingest|interactive|batch|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run.  The lines before it name every metric with
its unit.  Any answer that disagrees with the oracle, or an analyzer
that does not reproduce the frozen goldens, makes the exit code 1.
All files the run writes stay under ``.perfbench_work/`` and are
removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "php_lucene_analyzer_spark"
WORKLOADS = ("ingest", "interactive", "batch")
SPARK_DRIVER_MEM = "1g"
HASH_SEED = "0"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # string hashing is randomized per process by default, and the
        # engine's speed depends on it (measured: up to a quarter on
        # `batch` between processes with equal inputs); fix it for this
        # process and, through the environment, for the Python workers
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable] + sys.argv)
    if not (ROOT / PKG).is_dir():
        print(f"perfbench: package {PKG}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM, as when run alone);
    metrics are prefixed with the workload name."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        code = code or proc.returncode
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            merged["correct"] = False
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v
                                  for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return code


# ------------------------------------------------------------- one run
def _environment(work: Path) -> None:
    """Keep every file Spark and the workers write inside ``work`` and
    make the package importable by the Python workers.  The JVM heap is
    committed and touched up front, so its RSS does not depend on when
    the collector chose to grow the heap; the RSS that varies is the
    driver's and the Python workers'."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEM"] = SPARK_DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{SPARK_DRIVER_MEM} -XX:+AlwaysPreTouch' "
        "pyspark-shell")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


# kcmp(2), to tell whether two processes share one address space
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_LIBC = ctypes.CDLL(None, use_errno=True)


def _shares_vm(a: int, b: int) -> bool:
    return (_SYS_KCMP is not None
            and _LIBC.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled every ``interval`` seconds.

    Each address space counts once.  The JVM starts short-lived helpers
    (Hadoop's local file system runs ``chmod`` and the like through
    ``posix_spawn``), and until such a child calls exec it shares the
    JVM's memory, so its RSS reads as the JVM's.  Counting them made two
    of ten ``ingest`` runs report 1.2–1.5 GB more than the rest."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample(page))
            self._stop.wait(self.interval)

    @staticmethod
    def _sample(page: int) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [(os.getpid(), None)]
        while todo:
            pid, parent = todo.pop()
            todo += [(c, pid) for c in children.get(pid, [])]
            if parent is not None and _shares_vm(pid, parent):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                continue
        return total

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    from perfbench.goldens import check_goldens
    bad = check_goldens(ROOT / "tests" / "fixtures")
    if bad:
        for line in bad:
            print(f"GOLDEN MISMATCH: {line}")
        print("perfbench: the analyzer does not reproduce the goldens",
              file=sys.stderr)
        return 1
    from perfbench.workloads import Run
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from php_lucene_analyzer_spark.session import get_spark
            spark = get_spark(app="perfbench",
                              cpus=len(os.sched_getaffinity(0)))
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            try:
                run = Run(spark, args.workload, args.seed, args.seconds,
                          str(work), bool(args.trace))
                run.execute()
                e2e = run.end_to_end(rss.peak_mb)
                layers = run.per_layer() if args.trace else None
            finally:
                _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):      # other runs may share it
            work.parent.rmdir()
    report = {"session_start_s": (session_s, "s"), **run.report}
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"attempted={run.attempted} failed={run.failed}")
    for name, (v, unit) in report.items():
        print(f"{args.workload}.{name} {_fmt(v)} {unit}")
    print(f"{args.workload}.op_s " + " ".join(_fmt(v) for v in run.op_times))
    metrics = e2e
    if layers is not None:
        for name, (v, unit) in layers.items():
            print(f"{args.workload}.layer.{name} {_fmt(v)} {unit}")
        metrics = layers
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def _fmt(v: float) -> str:
    return "nan" if isinstance(v, float) and math.isnan(v) else f"{v:.6g}"


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
