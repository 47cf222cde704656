"""``session.plan_tasks``, the one task planner of every Python-read job,
as a pure function: no Spark session."""

from __future__ import annotations

from zebra_spark.session import plan_tasks

MB = 1 << 20
OPEN = 4 * MB  # spark.sql.files.openCostInBytes' default
CAP = 256 * MB  # spark.sql.files.maxPartitionBytes as get_spark sets it


def _check(plan: list[range], k: int) -> None:
    """Runs are non-empty, contiguous, and cover the list in order."""
    assert all(len(r) for r in plan)
    assert [i for r in plan for i in r] == list(range(k))


def test_equal_row_groups_give_one_run_per_core():
    plan = plan_tasks([MB] * 8, 4, OPEN, CAP)
    _check(plan, 8)
    assert [len(r) for r in plan] == [2, 2, 2, 2]


def test_tokens_read_table_shape_gives_four_ordered_runs():
    sizes = [int(mb * 1e6) for mb in (3.3, 7.2, 0.3, 19.9, 5.3)]
    plan = plan_tasks(sizes, 4, OPEN, CAP)
    _check(plan, 5)
    assert [list(r) for r in plan] == [[0, 1], [2], [3], [4]]


def test_whole_waves_keep_runs_under_the_cap():
    """32 x 17 MB at 2 cores cost 672 MB: one wave would put 336 MB in a
    task, two waves put 168 MB."""
    plan = plan_tasks([17 * MB] * 32, 2, OPEN, CAP)
    _check(plan, 32)
    assert len(plan) == 4
    assert all(len(r) * (17 * MB + OPEN) <= CAP for r in plan)


def test_only_a_single_item_exceeds_the_cap():
    sizes = [300 * MB, MB, MB, MB, MB, 400 * MB, MB, MB]
    plan = plan_tasks(sizes, 2, OPEN, CAP)
    _check(plan, 8)
    assert len(plan) % 2 == 0
    for r in plan:
        assert len(r) == 1 or sum(sizes[i] + OPEN for i in r) <= CAP


def test_fewer_items_than_cores_give_one_run_per_item():
    plan = plan_tasks([5 * MB, 0, 70 * MB], 8, OPEN, CAP)
    assert [list(r) for r in plan] == [[0], [1], [2]]


def test_zero_byte_items_are_charged_the_open_cost():
    """Six empty files and two of 4 MB: charged the open cost, the empty
    files spread over the runs; free, one run would take five items."""
    sizes = [0] * 6 + [4 * MB] * 2
    plan = plan_tasks(sizes, 4, OPEN, CAP)
    _check(plan, 8)
    assert [len(r) for r in plan] == [2, 3, 2, 1]
    assert max(len(r) for r in plan_tasks(sizes, 4, 0, CAP)) == 5


def test_no_run_is_ever_empty():
    for k in range(1, 40):
        for cores in (1, 2, 3, 4, 8, 32):
            sizes = [(i * 7919 % 13) * 40 * MB for i in range(k)]
            plan = plan_tasks(sizes, cores, OPEN, CAP)
            _check(plan, k)
            assert len(plan) >= min(k, cores)
            assert len(plan) == k or len(plan) % cores == 0
    assert plan_tasks([], 4, OPEN, CAP) == []
