"""Self-tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402


# -- event-log rollup --------------------------------------------------------
# fixture: job 0 is tagged operators.wcc#0 and runs stages 0 (two tasks,
# 100 + 300 ms) and 1 (one task, 200 ms); job 1 is untagged, submitted at
# t=1003 s inside the prepare span, lists the already-run stage 1 and runs
# stage 2 (400 ms); job 2 carries an unknown tag and falls in no span.
SPANS = [
    eventlog.Span("operators.wcc#0", "operators.wcc", 1000.5, 1002.5),
    eventlog.Span("plans.prepare_graph#1", "plans.prepare_graph", 1002.5, 1004.5),
]


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(str(HERE / "fixtures" / "eventlog.json"))


def test_jobs_attach_by_tag_then_by_submission_window(log):
    assert eventlog.assign_jobs(log, SPANS) == {0: "operators.wcc#0", 1: "plans.prepare_graph#1"}


def test_span_rollup_values(log):
    out = eventlog.rollup(log, SPANS, cores=2)
    wcc = out["operators.wcc"]
    assert wcc["jobs"] == 1 and wcc["stages"] == 2
    assert wcc["executor_run_s"] == pytest.approx(0.6)
    assert wcc["gc_s"] == pytest.approx(0.03)
    assert wcc["busy_share"] == pytest.approx(0.6 / (2.0 * 2))
    assert wcc["shuffle_write_mb"] == pytest.approx(2.0)
    assert wcc["shuffle_read_mb"] == pytest.approx(2.0)
    assert wcc["spill_mb"] == pytest.approx(0.5)
    assert wcc["task_skew"] == pytest.approx(300 / 200)  # only stage 0 has two tasks
    assert wcc["python_io_mb"] == pytest.approx(3.0)
    prep = out["plans.prepare_graph"]
    # stage 1 belongs to job 0, which ran it first; job 1 only ran stage 2
    assert (prep["jobs"], prep["stages"], prep["executor_run_s"]) == (1, 1, pytest.approx(0.4))
    assert prep["task_skew"] == 1.0 and prep["s"] == pytest.approx(2.0)


def test_superstep_windows(log):
    rows = eventlog.windows_rollup(log, [(1000.9, 1001.1), (1002.9, 1003.1), (1005.0, 1006.0)])
    assert [(round(w), r, j) for w, r, j in rows] == [(200, 600, 1), (200, 400, 1), (1000, 0, 0)]


# -- NumPy references on a hand-checkable micro graph -----------------------
# path 10-11-12, edge 20-21, isolated vertex 30 (ids deliberately not dense)
IDS = np.array([10, 11, 12, 20, 21, 30])
SRC = np.array([11, 12, 21])
DST = np.array([10, 11, 20])


def test_pagerank_one_round_by_hand():
    # n=6, p=1/6, one dangling vertex (30); round 1 gives
    # base = 0.15/6 + 0.85*(1/6)/6, path middle gathers both ends' p/1
    got = reference.pagerank(IDS, SRC, DST, rounds=1)
    p = 1 / 6
    base = 0.15 / 6 + 0.85 * p / 6
    end = 0.85 * (p / 2) + base  # an end vertex gathers the middle's p/2
    mid = 0.85 * (2 * p) + base
    pair = 0.85 * p + base
    want = [end, mid, end, pair, pair, base]
    np.testing.assert_allclose(got.to_numpy(), want, rtol=0, atol=1e-15)
    assert list(got.index) == list(IDS)


def test_pagerank_mass_is_conserved_over_ten_rounds():
    assert reference.pagerank(IDS, SRC, DST, rounds=10).sum() == pytest.approx(1.0)


def test_wcc_labels_each_vertex_with_its_component_min():
    got = reference.wcc(IDS, SRC, DST)
    assert got.to_dict() == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_traversals_on_micro_graph():
    assert reference.bfs(IDS, SRC, DST, 10).tolist() == [0, 1, 2] + [reference.INT64_MAX] * 3
    w = np.array([2.0, 0.5, 1.0])
    assert reference.sssp(IDS, SRC, DST, w, 12).tolist() == [2.5, 0.5, 0.0] + [np.inf] * 3


def test_cdlp_and_lcc_on_a_triangle_with_a_tail():
    ids = np.array([1, 2, 3, 4])
    s, d = np.array([1, 2, 3, 3]), np.array([2, 3, 1, 4])
    # round 1: 1 sees {2,3}->2, 2 sees {1,3}->1, 3 sees {1,2,4}->1, 4 sees {3}->3
    assert reference.cdlp(ids, s, d, rounds=1).tolist() == [2, 1, 1, 3]
    assert reference.lcc(ids, s, d).tolist() == pytest.approx([1.0, 1.0, 1 / 3, 0.0])


# -- pandas mutation reference ----------------------------------------------
def test_apply_mutation_semantics():
    base = pd.DataFrame({"src": [1, 1, 2, 3], "dst": [2, 2, 3, 1], "weight": [1.0, 1.0, 1.0, 4.0]})
    delta = pd.DataFrame(
        {"op": ["del", "upd", "add", "add"], "src": [1, 3, 1, 2], "dst": [2, 1, 2, 4],
         "weight": [1.0, 9.0, 5.0, 1.0]}
    )
    got = reference.apply_mutation(base, delta)
    # del drops both parallel copies of (1,2); the add re-inserts one copy
    want = pd.DataFrame({"src": [1, 2, 2, 3], "dst": [2, 3, 4, 1], "weight": [5.0, 1.0, 1.0, 9.0]})
    pd.testing.assert_frame_equal(got, want)


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.events_table(7, n_users=10), inputs.events_table(7, n_users=10)
    assert a.num_rows == 666 and a.equals(b) and not a.equals(inputs.events_table(8, n_users=10))
    t = inputs.transcripts_table(7, 50)
    assert t.equals(inputs.transcripts_table(7, 50)) and not t.equals(inputs.transcripts_table(8, 50))
    edges = pd.DataFrame({"src": np.arange(40), "dst": np.arange(1, 41), "weight": 1.0})
    delta = inputs.edge_delta(edges, np.arange(41), seed=3, n_ops=5)
    assert delta.equals(inputs.edge_delta(edges, np.arange(41), seed=3, n_ops=5))
    assert (delta["op"].value_counts() == 5).all() and (delta["src"] != delta["dst"]).all()
