"""zebra-spark benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload tokens_write --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout.  The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``): end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  The line
before it reports the workload's metrics under their own names, with sample
counts.  Result and span files go to ``.perfbench/results/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# excluded warm-up passes in the set-up: after a JVM launch, pass CPU falls
# (JIT, heap growth) for about five passes; on tokens_read the JVM CPU of
# the 4th and 5th passes was still 15-40% above that of later ones
WARMUP_PASSES = 5

# pass wall time is reported but not gated: it follows the host's CPU grant
# (steal), which moved it by 30% between runs whose CPU moved 5%
END_TO_END = {
    "setup_s": "s",
    "setup_cpu_s": "s",
    "pass_cpu_s": "s",
    "bytes_vs_zebra": "ratio",
    "enc_bytes_per_raw_byte": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.checks import CENSUS_KEYS
    from perfbench.workloads import QUERY_NAMES

    units = {
        "session.start_s": "s",
        "sources.read_cpu_s": "s",
        "sources.read_share": "ratio",
        "codec.encode_ints_ns_per_value": "ns",
        "codec.decode_ints_ns_per_value": "ns",
        "codec.select_share": "ratio",
        "codec.encode_strings_ns_per_byte": "ns",
        "codec.decode_strings_ns_per_byte": "ns",
        "blocks.encode_mtok_per_cpu_s": "Mval/cpu-s",
        "blocks.decode_mtok_per_cpu_s": "Mval/cpu-s",
        "blocks.encode_block_ms_p50": "ms",
        "blocks.encode_block_ms_p90": "ms",
        "blocks.self_share": "ratio",
        "blocks.enc_bytes_spread": "ratio",
        "operators.job_cpu_s": "s",
        "operators.python_cpu_s": "s",
        "operators.jvm_cpu_s": "s",
        "operators.overhead_share": "ratio",
        "operators.blocks_scanned": "count",
        "operators.blocks_skipped": "count",
        "trace.overhead_share": "ratio",
    }
    units.update({f"codec.selected.{k}": "count" for k in CENSUS_KEYS + ("other",)})
    units.update({f"queries.{n}_s": "s" for n in QUERY_NAMES})
    return units


class Session:
    """The Spark session of a run, shut down with every process it started."""

    def __init__(self, work: Path, tmp: Path):
        self.spark = None
        self.conf = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def start(self):
        from zebra_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        from perfbench.proctree import tree_pids
        from pyspark import SparkContext

        started = set(tree_pids()) - {os.getpid()}
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 20
        while time.time() < deadline:
            alive = [p for p in started if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")


def timed_loop(wl, spark, seconds: float, tracer, tally) -> list[dict]:
    """Closed loop: passes back to back until ``seconds`` have elapsed.  A
    traced run alternates traced and untraced passes (at least one each),
    so the tracing overhead is their difference."""
    from perfbench.proctree import cpu_by_kind, cpu_delta
    from perfbench.trace import Tracer
    from perfbench.workloads import Lap

    off = Tracer(enabled=False)
    laps, i = [], 0
    end = time.perf_counter() + seconds
    while True:
        traced = tracer.enabled and i % 2 == 0
        lap = Lap(tracer if traced else off)
        c0, t0 = cpu_by_kind(), time.perf_counter()
        with (tracer if traced else off).span("pass", index=i):
            ok = tally.attempt(f"pass {i}", lambda: wl.run_pass(spark, lap) or True)
        if ok:
            laps.append({"wall": time.perf_counter() - t0, "cpu": cpu_delta(c0, cpu_by_kind()),
                         "parts": lap.wall, "parts_cpu": lap.cpu, "traced": traced})
        i += 1
        if time.perf_counter() >= end and (not tracer.enabled or i >= 2):
            return laps


def _m(value, unit, n=None):
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def workload_report(wl, laps, setup_s, setup_cpu_s, stored, rss, tally) -> dict:
    """The workload's metrics under their own names, with sample counts."""
    n = len(laps)

    def part(name, kind="wall"):
        if kind == "wall":
            return _median(l["parts"].get(name) for l in laps)
        return _median(l["parts_cpu"].get(name, {}).get("total") for l in laps)

    rep = {
        "setup_s": _m(setup_s, "s", 1),
        "setup_cpu_s": _m(setup_cpu_s, "s", 1),
        "failed_frac": _m(tally.failed / max(1, tally.attempted), "ratio", tally.attempted),
        "peak_rss_mb": _m(rss, "MB", 1),
        "pass_s": _m(_median(l["wall"] for l in laps), "s", n),
        "pass_cpu_s": _m(_median(l["cpu"]["total"] for l in laps), "s", n),
    }
    if stored:
        rep["bytes_vs_zebra"] = _m(stored["enc"] / stored["zebra"], "ratio", stored["blocks"])
        rep["enc_bytes_per_raw_byte"] = _m(stored["enc"] / stored["raw"], "ratio", stored["blocks"])
    if wl.name == "tokens_write":
        mtok = wl.tokens / 1e6
        rep["encode_mtok_s"] = _m(mtok / part("encode"), "Mtok/s", n)
        rep["encode_mtok_per_cpu_s"] = _m(mtok / part("encode", "cpu"), "Mtok/cpu-s", n)
    elif wl.name == "tokens_read":
        mtok = wl.tokens / 1e6
        rep["decode_mtok_s"] = _m(mtok / part("full"), "Mtok/s", n)
        rep["decode_mtok_per_cpu_s"] = _m(mtok / part("full", "cpu"), "Mtok/cpu-s", n)
        rep["projected_read_s"] = _m(part("projected"), "s", n)
        rep["range_read_s"] = _m(part("range"), "s", n)
    else:
        rep["query_total_s"] = _m(_median(l["wall"] for l in laps), "s", n)
    return rep


def layer_metrics(wl, args, size, spark, laps, stored, tracer, tally, session_start_s) -> dict:
    """Per-layer metrics of a traced run.  The query layer runs in the same
    session first; the Spark-free replays run after it is shut down."""
    from perfbench.checks import codec_census
    from perfbench.trace import Tracer
    from perfbench.workloads import QUERY_NAMES, DriverQueries, Lap

    out = {"session.start_s": session_start_s}
    traced = [l for l in laps if l["traced"]]
    untraced = [l for l in laps if not l["traced"]]
    if wl.name == "driver_queries":
        q_laps = traced
    else:  # the query layer on the sf tables of the same seed
        dq = DriverQueries(args.seed, size)
        with tracer.span("queries.warmup_check"):
            dq.check_results(spark, tally)
        lap = Lap(tracer)
        with tracer.span("queries.pass"):
            tally.attempt("query layer pass", lambda: dq.run_pass(spark, lap) or True)
        q_laps = [{"parts": lap.wall}]
    for n in QUERY_NAMES:
        out[f"queries.{n}_s"] = _median(l["parts"].get(f"queries.{n}") for l in q_laps)
    out["operators.job_cpu_s"] = _median(l["cpu"]["total"] for l in traced)
    out["operators.python_cpu_s"] = _median(l["cpu"]["python"] for l in traced)
    out["operators.jvm_cpu_s"] = _median(l["cpu"]["jvm"] for l in traced)
    scanned, skipped = wl.blocks_read(spark, stored) if stored else (float("nan"),) * 2
    out["operators.blocks_scanned"], out["operators.blocks_skipped"] = scanned, skipped
    out["trace.overhead_share"] = (
        _median(l["wall"] for l in traced) / _median(l["wall"] for l in untraced) - 1.0
    )
    census = codec_census(stored["metas"]) if stored else {}
    out.update({f"codec.selected.{k}": v for k, v in census.items()})
    return out


def replay_metrics(wl, args, size, tracer, op_cpu) -> dict:
    from perfbench.replay import blocks_replay, run_codec_replay

    with tracer.span("replay.blocks"):
        blk = blocks_replay(wl, tracer)
    with tracer.span("replay.codec"):
        cod = run_codec_replay(wl.name, args.seed, size)
    # the blocks work an operator pass does: encode on write, the three
    # decodes on read, both for the sf tables' round trips
    main = {"tokens_write": blk["encode_cpu_s"], "tokens_read": blk["decode_cpu_s"]}.get(
        wl.name, blk["encode_cpu_s"] + blk["decode_cpu_s"])
    out = {f"codec.{k}": cod[k] for k in (
        "encode_ints_ns_per_value", "decode_ints_ns_per_value", "select_share",
        "encode_strings_ns_per_byte", "decode_strings_ns_per_byte")}
    out.update({f"blocks.{k}": blk[k] for k in (
        "encode_mtok_per_cpu_s", "decode_mtok_per_cpu_s", "encode_block_ms_p50",
        "encode_block_ms_p90", "self_share", "enc_bytes_spread")})
    out["sources.read_cpu_s"] = blk["read_cpu_s"]
    out["sources.read_share"] = blk["read_cpu_s"] / (blk["read_cpu_s"] + main)
    out["operators.overhead_share"] = 1.0 - main / op_cpu
    detail = {"blocks": blk, "codec": cod, "blocks_cpu_per_pass_s": main}
    return out, detail


def run(args) -> tuple[dict, dict]:
    from perfbench.checks import Tally
    from perfbench.inputs import WORK, n_workers
    from perfbench.proctree import cpu_by_kind, cpu_delta, peak_rss_mb
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Lap

    size = "smoke" if args.smoke else "full"
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)  # Python workers and the JVM inherit it
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")  # wins over spark.local.dir
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(n_workers())  # local[n], n <= nproc
    os.environ["PYSPARK_PYTHON"] = sys.executable

    tracer = Tracer(enabled=bool(args.trace))
    tally = Tally()
    phases, t_phase = {}, time.perf_counter()

    def phase(name):  # wall seconds per run phase, for the results file
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    wl = WORKLOADS[args.workload](args.seed, size)
    phase("inputs")
    session = Session(WORK, tmp)
    try:
        with tracer.span("run", workload=wl.name, seed=args.seed):
            # set-up: JVM launch and session start through the excluded warm-up passes
            c0, t0 = cpu_by_kind(), time.perf_counter()
            with tracer.span("setup"):
                spark = session.start()
                session_start_s = time.perf_counter() - t0
                for k in range(WARMUP_PASSES):
                    tally.attempt(f"warm-up pass {k}",
                                  lambda: wl.run_pass(spark, Lap(Tracer(enabled=False))) or True)
            setup_s = time.perf_counter() - t0
            setup_cpu_s = cpu_delta(c0, cpu_by_kind())["total"]
            phase("setup")
            laps = timed_loop(wl, spark, args.seconds, tracer, tally)
            rss = peak_rss_mb()
            phase("timed")
            with tracer.span("check"):
                stored = tally.attempt("checks", wl.check, spark, tally)
            phase("check")
            layers = detail = None
            if args.trace:
                layers = layer_metrics(wl, args, size, spark, laps, stored, tracer, tally,
                                       session_start_s)
                phase("query_layer")
            session.shutdown()
            phase("shutdown")
            if args.trace:
                op_cpu = layers["operators.job_cpu_s"]
                more, detail = replay_metrics(wl, args, size, tracer, op_cpu)
                layers.update(more)
                phase("replays")
    finally:
        session.shutdown()

    report = workload_report(wl, [l for l in laps if not l["traced"]] or laps, setup_s,
                             setup_cpu_s, stored, rss, tally)
    if args.trace:
        metrics = {k: _m(layers.get(k, float("nan")), u) for k, u in per_layer_units().items()}
    else:
        metrics = {k: _m(report[k]["value"] if k in report else float("nan"), u)
                   for k, u in END_TO_END.items()}
    result = {"correct": tally.failed == 0, "attempted": tally.attempted,
              "failed": tally.failed, "metrics": metrics}

    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{wl.name}-seed{args.seed}{'-smoke' if args.smoke else ''}"
    extra = {"report": report, "failures": tally.reasons, "input": wl.input,
             "setup_s": setup_s, "passes": laps, "phases_s": phases, "session_start_s": session_start_s}
    if args.trace:
        shares = {
            "operator_of_pass": _median(
                sum(l["parts"].values()) / l["wall"] for l in laps if l["traced"]),
            "blocks_of_operator_cpu": 1.0 - layers["operators.overhead_share"],
            "codec_of_blocks": 1.0 - layers["blocks.self_share"],
            "sources_of_worker_cpu": layers["sources.read_share"],
        }
        extra.update({"layers": layers, "shares": shares, "replay": detail,
                      "trace_overhead_share": layers["trace.overhead_share"]})
        tracer.write(results / f"{stem}.spans.json", {"shares": shares})
    with open(results / f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump({"result": result, **extra}, f, indent=1, default=str)
    return result, report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tokens_write", "tokens_read", "driver_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    if not (ROOT / "zebra_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: {ROOT} is not a zebra-spark checkout", file=sys.stderr)
        return 2
    try:
        result, report = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: could not measure {bad}", file=sys.stderr)
        return 1
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
