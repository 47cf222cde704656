"""Where a perfbench workload's peak memory sits, process by process.

perfbench's ``peak_rss_mb`` is one sum: the VmHWM (peak resident set) of
every process in the benchmark's tree.  This tool runs the same passes
as ``perfbench/run.py`` (its session, warm-up passes and closed timed
loop, through perfbench's own classes) and then prints each process's
VmHWM and VmRSS by role: the driver (this process), the JVM, the PySpark
daemon and each Python worker, and for every Python process whether it
has loaded pandas.  VmRSS is split into RssAnon (heap and other private
memory) and RssFile (file pages mapped in, such as a memory-mapped
parquet file's), so a file mapping's share of a process shows.  The per-role sums show which processes a memory
change moved.

    python3 tools/rss_breakdown.py --workload tokens_read --seed 11

Runs from the root of a checkout, on the inputs perfbench caches under
``.perfbench/``.  The last stdout line is a JSON object of the same
figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _status_kb(pid: int) -> dict[str, int]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("VmHWM", "VmRSS", "RssAnon", "RssFile"):
                out[key] = int(rest.split()[0])
    return out


def _has_pandas(pid: int) -> bool:
    """Whether the process has pandas' extension modules mapped, i.e. has
    imported pandas."""
    with open(f"/proc/{pid}/maps") as f:
        return any("/pandas/_libs/" in line for line in f)


def processes() -> list[dict]:
    """Role, VmHWM, VmRSS, RssAnon and RssFile (MB) and pandas state of
    this process and every process under it."""
    from perfbench.proctree import _snapshot, _tree

    me = os.getpid()
    tree = _tree(_snapshot(), me)
    jvms = {pid for pid, (comm, _, _) in tree.items() if comm == "java"}
    rows = []
    for pid, (comm, ppid, _) in sorted(tree.items()):
        if pid == me:
            role = "driver"
        elif pid in jvms:
            role = "jvm"
        elif ppid in jvms:
            role = "daemon"
        else:
            role = "worker"
        try:
            kb = _status_kb(pid)
            pandas = None if role == "jvm" else _has_pandas(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while we listed it
        rows.append({"pid": pid, "role": role, "hwm_mb": kb.get("VmHWM", 0) / 1024,
                     "rss_mb": kb.get("VmRSS", 0) / 1024,
                     "anon_mb": kb.get("RssAnon", 0) / 1024,
                     "file_mb": kb.get("RssFile", 0) / 1024, "pandas": pandas})
    return rows


def run_passes(workload: str, seed: int, seconds: float) -> list[dict]:
    """Set up the run as perfbench does, run its warm-up passes and timed
    loop, and return ``processes()`` read where perfbench reads its peak."""
    from perfbench.checks import Tally
    from perfbench.inputs import WORK, n_workers
    from perfbench.run import WARMUP_PASSES, Session, timed_loop
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Lap

    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(n_workers())
    os.environ["PYSPARK_PYTHON"] = sys.executable

    wl = WORKLOADS[workload](seed, "full")
    tally = Tally()
    session = Session(WORK, tmp)
    try:
        spark = session.start()
        off = Tracer(enabled=False)
        for k in range(WARMUP_PASSES):
            tally.attempt(f"warm-up pass {k}", lambda: wl.run_pass(spark, Lap(off)) or True)
        timed_loop(wl, spark, seconds, off, tally)
        rows = processes()
    finally:
        session.shutdown()
    if tally.failed:
        raise SystemExit(f"rss_breakdown: {tally.failed} failed passes: {tally.reasons}")
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tokens_write", "tokens_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    args = ap.parse_args()
    os.chdir(REPO)
    rows = run_passes(args.workload, args.seed, args.seconds)
    print(f"{'role':8s} {'pid':>8s} {'VmHWM MB':>10s} {'VmRSS MB':>10s} "
          f"{'RssAnon MB':>11s} {'RssFile MB':>11s}  pandas")
    for r in rows:
        pandas = "-" if r["pandas"] is None else ("yes" if r["pandas"] else "no")
        print(f"{r['role']:8s} {r['pid']:>8d} {r['hwm_mb']:>10.1f} {r['rss_mb']:>10.1f} "
              f"{r['anon_mb']:>11.1f} {r['file_mb']:>11.1f}  {pandas}")
    sums = {}
    for r in rows:
        sums[r["role"]] = sums.get(r["role"], 0.0) + r["hwm_mb"]
    sums["total"] = sum(r["hwm_mb"] for r in rows)
    print("VmHWM sums (MB): " + ", ".join(f"{k} {v:.1f}" for k, v in sums.items()))
    workers = [r for r in rows if r["role"] == "worker"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "hwm_mb_by_role": sums,
        "workers": len(workers),
        "workers_with_pandas": sum(bool(r["pandas"]) for r in workers),
        "processes": rows,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
