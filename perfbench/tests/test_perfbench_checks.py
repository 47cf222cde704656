"""The checks behind ``failed``: wrong outputs must count as failed."""

import json

import pandas as pd

from perfbench.checks import (
    CENSUS_KEYS,
    Tally,
    bound_violations,
    codec_census,
    digest_matches,
    frames_match,
)
from perfbench.workloads import _check_bounds


def _meta(**cols):
    return json.dumps({"cols": cols})


def test_tampered_digest_counts_as_failed():
    tally = Tally()
    expected = (1000, 123456789)
    assert tally.check("same digest", digest_matches, expected, (1000, 123456789))
    assert not tally.check("tampered hash", digest_matches, expected, (1000, 123456788))
    assert not tally.check("tampered count", digest_matches, expected, (999, 123456789))
    assert not tally.check("missing digest", digest_matches, expected, None)
    assert (tally.attempted, tally.failed) == (4, 3)


def test_over_bound_block_counts_as_failed():
    ok = _meta(x={"codec": "pfor", "bytes": 10, "zebra_bytes": 10, "n_runs": 3})
    over = _meta(x={"codec": "dict", "bytes": 9, "zebra_bytes": 10, "n_runs": 3},
                 s={"codec": "zstd", "bytes": 11, "zebra_bytes": 10})
    assert bound_violations([ok, over]) == ["1:s"]


def test_over_bound_block_fails_the_workload_check():
    ok = _meta(x={"codec": "pfor", "bytes": 10, "zebra_bytes": 10, "n_runs": 3})
    over = _meta(x={"codec": "zstd", "bytes": 11, "zebra_bytes": 10})
    tally = Tally()
    _check_bounds({"blocks": 3, "metas": [ok, over, ok]}, tally, "stored")
    assert (tally.attempted, tally.failed) == (3, 1)
    assert tally.reasons == ["stored block 1 payload <= zebra per column"]


def test_raising_check_is_one_failure():
    tally = Tally()

    def boom():
        raise ValueError("corrupt block")

    assert not tally.check("decode", boom)
    assert tally.attempt("pass", boom) is None
    assert (tally.attempted, tally.failed) == (2, 2)
    assert tally.reasons == ["decode", "pass raised"]


def test_codec_census_splits_int_and_string_sections():
    metas = [
        _meta(a={"codec": "dict", "bytes": 1, "zebra_bytes": 2, "n_runs": 1},
              b={"codec": "dict", "bytes": 1, "zebra_bytes": 2}),
        _meta(a={"codec": "zstd-bt", "bytes": 1, "zebra_bytes": 2, "n_runs": 1},
              b={"codec": "mystery", "bytes": 1, "zebra_bytes": 2}),
    ]
    census = codec_census(metas)
    assert set(census) == set(CENSUS_KEYS) | {"other"}
    assert census["int.dict"] == census["str.dict"] == census["int.zstd-bt"] == 1
    assert census["other"] == 1
    assert sum(census.values()) == 4


def test_frames_match_ignores_row_and_column_order_only():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert frames_match(a.iloc[::-1], a[["v", "k"]])
    assert not frames_match(a.assign(v=[0.5, 1.5, 2.5000001]), a)
    assert not frames_match(a.iloc[:2], a)
