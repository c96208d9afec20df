"""Tests of the benchmark's own code: input generation, the correctness
checks and the span arithmetic. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
from spans import (  # noqa: E402
    Job, Span, Task, Tracer, driver_time, layer_stats, read_event_log, self_time,
    task_skew, union_length,
)

# ------------------------------------------------------------ generator


@pytest.mark.parametrize("make", [
    lambda seed: gen.link_tables(seed, 300),
    lambda seed: gen.dedup_table(seed, 400),
    lambda seed: gen.serve_stream(seed, 200, 12),
])
def test_generator_deterministic_per_seed(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_link_tables_plant_one_perturbed_copy_per_left_row():
    t = gen.link_tables(3, 200)
    names = t["right"]["name"]
    assert len(set(names)) == len(names) == 200
    assert len(t["left"]["lid"]) == 400
    for name, rid in zip(t["left"]["name"], t["left"]["true_rid"]):
        assert name != names[rid]


def test_dedup_table_plants_clusters_and_clique():
    t = gen.dedup_table(5, 500)
    texts = t["docs"]["text"]
    assert len(texts) == 500
    clique = t["clusters"][0]
    assert len(clique) == gen.CLIQUE_SIZE and len({texts[i] for i in clique}) == 1
    planted = checks.planted_pairs(t["clusters"], dict(enumerate(texts)), 0.8)
    n = gen.CLIQUE_SIZE
    assert len(planted) > n * (n - 1) // 2  # the clique's pairs and more


def test_serve_stream_reads_after_writes_query_written_names():
    s = gen.serve_stream(2, 100, 12)
    reqs = s["requests"]
    kinds = [r["kind"] for r in reqs]
    assert kinds == ["write" if i % gen.WRITE_EVERY == gen.WRITE_AT else "read" for i in range(12)]
    for prev, req in zip(reqs, reqs[1:]):
        if prev["kind"] == "write":
            written = dict(zip(prev["vec_id"], prev["name"]))
            assert req["exact_ids"]
            # the probes lead the read's query list
            for j, vid in enumerate(req["exact_ids"]):
                assert req["name"][j] == written[vid]


# ------------------------------------------------------------ checks


def _unit(rows):
    a = np.array(rows, dtype=float)
    return a / np.linalg.norm(a, axis=1, keepdims=True)


def test_merge_check_accepts_exact_and_rejects_permuted_ids():
    R = _unit([[1, 0, 0], [0, 1, 0], [0, 0, 1], [1, 1, 0]])
    Q = _unit([[1, 0.1, 0], [0, 0.2, 1], [0.1, 1, 0]])
    best = (Q @ R.T).argmax(axis=1)
    rids = [10, 11, 12, 13]
    good = {lid: (rids[b], float((Q @ R.T)[i, b])) for i, (lid, b) in enumerate(zip([0, 1, 2], best))}
    assert checks.check_merge_top1(good, [0, 1, 2], Q, R, rids) == []
    ids = [good[i][0] for i in (0, 1, 2)]
    permuted = {lid: (ids[(i + 1) % 3], good[lid][1]) for i, lid in enumerate((0, 1, 2))}
    assert len(checks.check_merge_top1(permuted, [0, 1, 2], Q, R, rids)) == 3


def test_merge_check_allows_ties():
    R = _unit([[1, 0], [1, 0], [0, 1]])
    Q = _unit([[1, 0]])
    assert checks.check_merge_top1({0: (21, 1.0)}, [0], Q, R, [20, 21, 22]) == []


def test_dedup_check_rejects_low_jaccard_pair_and_wrong_survivors():
    texts = {
        0: "a b c d e f g h",
        1: "a b c d e f g h",
        2: "x y z w v u t s",
        3: "a b c d e f g q",
    }
    pairs = [(0, 1, 1.0)]
    assert checks.check_dedup(pairs, [0, 2, 3], texts, 0.8) == []
    low = pairs + [(0, 2, 0.9)]
    assert any("pair (0, 2)" in e for e in checks.check_dedup(low, [0, 3], texts, 0.8))
    assert checks.check_dedup(pairs, [1, 2, 3], texts, 0.8)  # kept the wrong member
    assert checks.check_dedup(pairs, [0, 1, 2, 3], texts, 0.8)  # kept both


def test_word_shingles_short_text_is_one_shingle():
    assert checks.word_shingles("One  two") == {"one two"}
    assert checks.word_shingles("a b c d") == {"a b c", "b c d"}


def test_read_your_writes_rejects_missing_and_demoted_ids():
    ranked = {1: [(100, 1.0), (5, 0.9)], 2: [(7, 0.99), (101, 0.95)]}
    assert checks.check_read_your_writes(ranked, [(1, 100)]) == []
    assert checks.check_read_your_writes(ranked, [(2, 101)])  # not rank 1
    assert checks.check_read_your_writes(ranked, [(1, 102)])  # missing
    tied = {3: [(7, 1.0), (102, 1.0)]}
    assert checks.check_read_your_writes(tied, [(3, 102)]) == []


def test_recall_at_k_counts_ties_at_the_kth_score():
    V = _unit([[1, 0], [1, 0], [0.9, 0.1], [0, 1]])
    q = np.array([1.0, 0.0])
    assert checks.recall_at_k([0, 1], q, V, 2) == 1.0
    assert checks.recall_at_k([0, 2], q, V, 2) == 0.5
    assert checks.recall_at_k([3], q, V, 1) == 0.0


def test_union_find_components():
    comps = sorted(sorted(c) for c in checks.components_of([(1, 2), (3, 4), (2, 5)]))
    assert comps == [[1, 2, 5], [3, 4]]


# ------------------------------------------------------------ spans


def test_self_and_driver_time_on_synthetic_trace():
    # parent 0..10 s; children 1..3 and 2..5 overlap (union 1..5) and
    # 8..9; a grandchild inside the first child must not count again
    spans = [
        Span("p", "merge", None, 0.0, 10.0),
        Span("c1", "child", "p", 1.0, 3.0),
        Span("g", "grandchild", "c1", 1.5, 2.5),
        Span("c2", "child", "p", 2.0, 5.0),
        Span("c3", "child", "p", 8.0, 9.0),
        Span("x", "other", None, 11.0, 12.0),
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 4 - 1)
    assert self_time(spans[1], spans) == pytest.approx(1.0)
    jobs = [
        Job(1, "p", 0.5, 1.5),    # own group
        Job(2, "g", 1.2, 2.0),    # nested group, overlaps job 1
        Job(3, "c3", 8.0, 8.5),
        Job(4, "x", 9.5, 11.5),   # another span's job: not counted
        Job(5, None, 6.0, 7.0),   # no group: not counted
    ]
    # busy: 0.5..2.0 and 8.0..8.5 -> 2.0 s
    assert driver_time(spans[0], spans, jobs) == pytest.approx(8.0)
    # clipped to the span: job 4 covers 11..11.5 of span x
    assert driver_time(spans[5], spans, jobs) == pytest.approx(0.5)


def test_union_length_clips_and_merges():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert union_length([], 0, 1) == 0.0


def test_layer_stats_attribute_jobs_and_tasks_by_group():
    spans = [Span("s0", "serving", None, 0.0, 2.0), Span("s1", "serving", None, 3.0, 4.0)]
    jobs = [Job(1, "s0", 0.0, 1.0), Job(2, "s1", 3.0, 3.5), Job(3, None, 2.0, 2.5)]
    t = dict(duration_s=1.0, failed=False, cpu_s=0.5, gc_s=0.0,
             shuffle_write=10, input_bytes=5, output_bytes=0, spill_bytes=0)
    tasks = [Task(stage=1, group="s0", **t), Task(stage=2, group="s1", **t), Task(stage=3, group=None, **t)]
    st = layer_stats(spans, jobs, tasks)["serving"]
    assert (st.calls, st.jobs, len(st.tasks)) == (2, 2, 2)
    assert st.wall_s == pytest.approx(3.0)
    assert st.driver_s == pytest.approx(1.5)


def test_task_skew_uses_widest_stage():
    t = dict(failed=False, cpu_s=0, gc_s=0, shuffle_write=0,
             input_bytes=0, output_bytes=0, spill_bytes=0, group="g")
    tasks = [Task(stage=1, duration_s=d, **t) for d in (1, 1, 1, 4)] + [Task(stage=2, duration_s=50, **t)]
    assert task_skew(tasks) == pytest.approx(4.0)


def test_tracer_nests_spans_and_restores_job_group():
    class FakeSc:
        def __init__(self):
            self.group = None

        def setJobGroup(self, gid, desc):
            self.group = gid

        def setLocalProperty(self, key, value):
            if key == "spark.jobGroup.id":
                self.group = value

    sc = FakeSc()
    tr = Tracer(sc)
    with tr.span("outer") as o:
        assert sc.group == o.id
        with tr.span("inner") as i:
            assert sc.group == i.id and i.parent == o.id
        assert sc.group == o.id
    assert sc.group is None
    assert o.t1 >= i.t1 >= i.t0 >= o.t0


def test_tracer_wrap_times_calls_and_undoes():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer()
    undo = tr.wrap(Box, "f", "box.f")
    assert Box().f(1) == 2
    assert [s.name for s in tr.spans] == ["box.f"]
    undo()
    Box().f(1)
    assert len(tr.spans) == 1


def test_read_event_log_tags_jobs_and_tasks_with_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "s3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "s3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1600, "Failed": False},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 30,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Input Metrics": {"Bytes Read": 11}, "Output Metrics": {"Bytes Written": 13},
                          "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [1]},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, tasks = read_event_log(str(path))
    assert jobs == [Job(0, "s3", 1.0, 2.0)]  # job 1 never ended
    (t,) = tasks
    assert (t.group, t.duration_s, t.cpu_s, t.gc_s) == ("s3", 0.5, 2.0, 0.03)
    assert (t.shuffle_write, t.input_bytes, t.output_bytes, t.spill_bytes) == (7, 11, 13, 7)
