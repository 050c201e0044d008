"""Event-log parser on a hand-written log."""

import json

import eventlog


def _write(tmp_path, events):
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def _task(stage, ms, shuffle_w=0, spill=0, remote=0, local=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Disk Bytes Spilled": spill,
        },
    }


def test_groups_stages_and_tasks(tmp_path):
    path = _write(tmp_path, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {eventlog.GROUP_KEY: "linking.lsh"}},
        _task(0, 10, shuffle_w=100),
        _task(0, 30, shuffle_w=50, spill=7),
        _task(0, 10),
        _task(1, 5, local=150),
        # job 1 lists stage 1 again (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {eventlog.GROUP_KEY: "canonicalize.cc"}},
        _task(2, 4, shuffle_w=9),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        _task(3, 1),
    ])
    stats = eventlog.parse(path)
    lsh = stats["linking.lsh"]
    assert (lsh.jobs, lsh.tasks, lsh.task_ms) == (1, 4, 55)
    assert (lsh.shuffle_bytes, lsh.shuffle_read_bytes, lsh.spill_bytes) == (150, 150, 7)
    assert lsh.task_skew == 3.0  # stage 0: max 30 / median 10
    cc = stats["canonicalize.cc"]
    assert (cc.jobs, cc.tasks, cc.shuffle_bytes, cc.task_skew) == (1, 1, 9, 1.0)
    assert stats[None].jobs == 1
    assert eventlog.merge(stats, "linking").tasks == 4
    assert eventlog.merge(stats, "canonicalize").jobs == 1
    assert eventlog.merge(stats, "canon").jobs == 0


def test_stage_submitted_properties_win(tmp_path):
    path = _write(tmp_path, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {eventlog.GROUP_KEY: "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {eventlog.GROUP_KEY: "b"}},
        _task(0, 2),
    ])
    stats = eventlog.parse(path)
    assert stats["b"].tasks == 1 and stats["a"].tasks == 0
