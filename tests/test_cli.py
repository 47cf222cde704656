"""zs CLI (zebra-cli parity): import/export/cat/merge/adapt/summary round."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo/tools")

import zs  # noqa: E402


def test_cli_roundtrip_and_commands(spark, tmp_path, capsys):
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.operators.textio import export_json
    from zebra_spark.operators.zschema import to_zschema

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    blocks_dir = str(tmp_path / "blocks")
    # key-ordered layout so the consistency command has ordered ranges
    ordered = docs.repartitionByRange(2, "doc_id").sortWithinPartitions("doc_id")
    encode_df(ordered, rows_per_block=64, key_col="doc_id").write.parquet(blocks_dir)

    # export -> text + sidecars
    text_dir = str(tmp_path / "text")
    zs.main(["export", "--input", blocks_dir, "--output", text_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["exported_rows"] == docs.count()

    # import the export back -> identical rows
    blocks2 = str(tmp_path / "blocks2")
    zs.main(["import", "--input", text_dir, "--output", blocks2])
    capsys.readouterr()
    from zebra_spark.operators.decode import decode_df

    df2 = decode_df(spark.read.parquet(blocks2))
    assert df2.exceptAll(docs).count() == 0 and docs.exceptAll(df2).count() == 0

    # cat prints JSON rows
    zs.main(["cat", "--input", blocks_dir, "--limit", "3", "--columns", "doc_id,lang"])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3 and set(lines[0]) == {"doc_id", "lang"}

    # cat --key-range: zone-map skip + exact row filter, projection kept
    zs.main([
        "cat", "--input", blocks_dir, "--columns", "lang",
        "--key-col", "doc_id", "--key-range", "10:29",
    ])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    want = docs.filter("doc_id between 10 and 29").count()
    assert len(lines) == want and set(lines[0]) == {"lang"}
    # unbounded lower side
    zs.main([
        "cat", "--input", blocks_dir,
        "--key-col", "doc_id", "--key-range", ":5",
    ])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == docs.filter("doc_id <= 5").count()

    # string-keyed table: bounds must stay strings (typed from the actual
    # key column, never int-coerced)
    sblocks = str(tmp_path / "sblocks")
    encode_df(
        docs.orderBy("source"), rows_per_block=64, key_col="source"
    ).write.parquet(sblocks)
    zs.main([
        "cat", "--input", sblocks,
        "--key-col", "source", "--key-range", "code:code",
    ])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == docs.filter("source = 'code'").count()

    # point-lookup via per-block Bloom filters (opt-in at encode)
    bblocks = str(tmp_path / "bblocks")
    encode_df(
        docs, rows_per_block=64, key_col="doc_id", key_bloom=True
    ).write.parquet(bblocks)
    zs.main([
        "cat", "--input", bblocks,
        "--key-col", "doc_id", "--key-equals", "7,42",
    ])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["doc_id"] for r in lines) == [7, 42]

    # range EXPORT shares the same pushdown path
    rexp = str(tmp_path / "rexp")
    zs.main([
        "export", "--input", blocks_dir, "--output", rexp,
        "--columns", "doc_id,lang", "--key-col", "doc_id",
        "--key-range", "10:29",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["exported_rows"] == docs.filter("doc_id between 10 and 29").count()

    # summary emits one JSON object with the totals
    zs.main(["summary", "--input", blocks_dir])
    s = json.loads(capsys.readouterr().out.strip())
    assert s["total_rows"] == docs.count() and s["n_blocks"] >= 1

    # consistency on key-ranged blocks: no violations
    zs.main(["consistency", "--input", blocks_dir])
    c = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c["violations"] == 0

    # merge blocks with themselves by doc_id: one row per key survives
    merged = str(tmp_path / "merged")
    zs.main(
        ["merge", "--inputs", f"{blocks_dir},{blocks_dir}", "--keys", "doc_id",
         "--output", merged]
    )
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["merged_keys"] == docs.count() and m["dropped_keys"] == 0

    # adapt to a widened .zschema (extra defaultable column)
    widened = docs.withColumn("extra", docs.doc_id.cast("long")).limit(0)
    zpath = str(tmp_path / "t.zschema")
    with open(zpath, "w") as f:
        f.write(to_zschema(widened.schema))
    adapted = str(tmp_path / "adapted")
    zs.main(["adapt", "--input", blocks_dir, "--schema", zpath, "--output", adapted])
    a = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert a["adapted_rows"] == docs.count()
    adf = decode_df(spark.read.parquet(adapted))
    assert "extra" in adf.columns

    # verify: distributed audit over the stored blocks
    zs.main(["verify", "--input", blocks_dir])
    v = json.loads(capsys.readouterr().out.strip())
    assert v["n_blocks"] == v["crc_ok"] == v["decode_ok"] >= 1

    # zwrite/zread binary container round-trip
    zdir = str(tmp_path / "zfiles")
    zs.main(["zwrite", "--input", blocks_dir, "--output", zdir])
    files = json.loads(capsys.readouterr().out.strip())["files"]
    assert files and all(p.endswith(".zebra") for p in files)
    pq = str(tmp_path / "fromz")
    zs.main(["zread", "--inputs", ",".join(files), "--output", pq])
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["rows"] == docs.count()


def test_iceberg_adapter_gating(spark, tmp_path):
    """Parquet fallback works; Iceberg-only features fail loudly without
    the runtime (none in this container) instead of silently degrading."""
    import pytest

    from zebra_spark.sources.iceberg import has_iceberg, read_input

    df = read_input(spark, "/root/testdata/sf0.001/orders.parquet")
    assert df.count() == spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).count()
    assert has_iceberg(spark) is False
    with pytest.raises(ValueError):  # time travel needs a table
        read_input(spark, "/root/testdata/sf0.001/orders.parquet", snapshot_id=1)
    with pytest.raises(NotImplementedError):
        read_input(spark, "zs.db.tokens")
