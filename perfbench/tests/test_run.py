"""The run's verdict: a workload's unit of work that never succeeded, or
failed once, can not make the run look fast and correct."""

import pytest

from perfbench.run import Recorder, _verdict, _work_p50


def _boom():
    raise RuntimeError("[FAILED_READ_FILE.FILE_NOT_EXIST] gone")


def _rec(batches_ok: int, batches_failed: int, reads_failed: int = 0) -> Recorder:
    rec = Recorder()
    for _ in range(batches_ok):
        rec.run("refresh", lambda: 1, lambda r: None)
    for _ in range(batches_failed):
        rec.run("refresh", _boom, lambda r: None)
    for _ in range(5):
        rec.run("reader_graph_node", lambda: 1, lambda r: None)
    for _ in range(reads_failed):
        rec.run("reader_similar", _boom, lambda r: None)
    return rec


def test_no_successful_unit_reports_no_metric():
    rec = _rec(0, 3)
    with pytest.raises(RuntimeError, match="no refresh succeeded"):
        _work_p50("refresh", rec)


def test_a_failed_unit_makes_the_run_incorrect():
    correct, attempted, failed = _verdict("refresh", _rec(2, 1))
    assert not correct and attempted == 8 and failed == 1


def test_a_wrong_result_makes_the_run_incorrect():
    rec = _rec(2, 0)
    rec.run("reader_movie_arc", lambda: 1, lambda r: "movie_arc: window ids out of order")
    assert not _verdict("refresh", rec)[0]


def test_failed_reads_count_but_keep_the_run_correct():
    rec = _rec(2, 0, reads_failed=1)
    assert _verdict("refresh", rec) == (True, 8, 1)
    assert _work_p50("refresh", rec) > 0
