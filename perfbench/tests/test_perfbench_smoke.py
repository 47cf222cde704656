"""End-to-end smoke runs of the benchmark command on tiny inputs."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

from perfbench.run import END_TO_END, per_layer_units

RUN = Path(__file__).resolve().parent.parent / "run.py"


def _run(*args) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--seed", "3", "--seconds", "1", "--smoke", *args],
        capture_output=True, text=True, timeout=300, cwd=RUN.parent.parent,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    *_, report, result = out.stdout.strip().splitlines()
    return json.loads(report), json.loads(result)


def _assert_result(result, names):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == names[name]


def test_tokens_write_end_to_end():
    report, result = _run("--workload", "tokens_write", "--trace", "0")
    _assert_result(result, END_TO_END)
    assert 0 < result["metrics"]["bytes_vs_zebra"]["value"] <= 1.0
    assert report["report"]["encode_mtok_s"]["value"] > 0


def test_tokens_read_traced_layers():
    report, result = _run("--workload", "tokens_read", "--trace", "1")
    _assert_result(result, per_layer_units())
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["operators.blocks_skipped"] > 0  # the 1% range skips blocks
    assert sum(v for k, v in m.items() if k.startswith("codec.selected.")) > 0
    assert report["report"]["failed_frac"]["value"] == 0
    spans = RUN.parent.parent / ".perfbench" / "results" / "tokens_read-seed3-smoke.spans.json"
    data = json.loads(spans.read_text())
    names = {s["name"] for s in data["spans"]}
    assert {"run", "setup", "pass", "full", "projected", "range", "replay.blocks"} <= names
    assert set(data["shares"]) == {"operator_of_pass", "blocks_of_operator_cpu",
                                   "codec_of_blocks", "sources_of_worker_cpu"}


def test_tampered_blocks_table_fails_tokens_read_check(tmp_path, monkeypatch):
    """One stored block whose payload is another block's: the reads'
    digests no longer match the input, so the check counts failures."""
    from perfbench.checks import Tally
    from perfbench.inputs import n_workers
    from perfbench.run import Session
    from perfbench.workloads import TokensRead

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(n_workers()))
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    wl = TokensRead(3, "smoke")
    tampered = tmp_path / "blocks"
    shutil.copytree(wl.blocks_dir, tampered)
    files = sorted(tampered.glob("*.parquet"))
    donor = pq.read_table(files[0]).column("payload")[0].as_py()
    victim = files[-1]
    table = pq.read_table(victim)
    payloads = table.column("payload").to_pylist()
    assert len(files) + len(payloads) >= 3  # donor and victim are two blocks
    payloads[-1] = donor
    i = table.schema.get_field_index("payload")
    pq.write_table(table.set_column(i, table.schema.field(i), [payloads]), victim)
    wl.blocks_dir = str(tampered)

    session = Session(tmp_path / "work", tmp_path)
    try:
        tally = Tally()
        wl.check(session.start(), tally)
    finally:
        session.shutdown()
    assert tally.failed >= 1
    assert "full read digest == input digest" in tally.reasons
