import os

from kgbench.ledger import combined, read_event_log

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_tiny.jsonl")
CURATE = "kgbench:1:lineage.curate"


def test_groups_sum_their_own_tasks():
    groups = read_event_log(FIXTURE)
    assert set(groups) == {CURATE, None}
    g = groups[CURATE]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 2, 3, 1)
    assert g.run_ms == 90 + 250 + 400
    assert g.cpu_ns == 330_000_000
    assert g.shuffle_write_bytes == 1000
    assert g.shuffle_read_bytes == 1000
    assert (g.spill_disk_bytes, g.spill_mem_bytes) == (2048, 4096)
    assert sorted(g.task_ms) == [100, 300, 400]
    assert (g.task_p50_ms(), g.task_max_ms()) == (300.0, 400.0)
    other = groups[None]
    assert (other.jobs, other.tasks, other.run_ms) == (1, 1, 7)


def test_stage_filter_and_merge():
    groups = read_event_log(FIXTURE)
    udf = groups[CURATE].stages_matching("MapInPandas")
    assert (udf.stages, udf.tasks, udf.run_ms, udf.cpu_ns) == (
        1, 1, 400, 50_000_000)
    both = combined(groups, [CURATE, None, "kgbench:9:absent"])
    assert (both.jobs, both.tasks, both.run_ms) == (2, 4, 747)
