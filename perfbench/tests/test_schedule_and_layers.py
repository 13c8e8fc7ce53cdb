import json
import os

import pytest

import layers
import run
from workloads import LakeIngest, MirrorMor

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_blocks_rotate_pools_as_a_latin_square():
    wl = MirrorMor(None, seed=1)
    blocks = [wl.block() for _ in range(3)]
    slots = [i for i, kind in enumerate(MirrorMor.SKELETON) if kind == "rowdml"]
    # each class visits each rowdml slot once over three blocks
    for i in slots:
        assert sorted(b[i] for b in blocks) == ["eq_delete", "merge", "pos_delete"]
    for b in blocks:
        assert sorted(b[i] for i in slots) == ["eq_delete", "merge", "pos_delete"]
        assert b[-1] == "maint"


def test_every_block_runs_every_class():
    # warm-up runs whole blocks, so one block must warm every class
    for cls in (LakeIngest, MirrorMor):
        wl = cls(None, seed=0)
        for _ in range(5):
            assert set(wl.block()) == set(wl.classes())


def test_schedule_does_not_depend_on_the_seed():
    a, b = LakeIngest(None, seed=1), LakeIngest(None, seed=2)
    assert [a.block() for _ in range(4)] == [b.block() for _ in range(4)]


def test_every_class_has_an_op_and_every_group_names_classes():
    for cls in (LakeIngest, MirrorMor):
        wl = cls(None, seed=0)
        for c in wl.classes():
            assert callable(getattr(wl, f"op_{c}"))
        for members in cls.GROUPS.values():
            assert set(members) <= set(wl.classes())
        # every end-to-end group metric is produced by every workload
        assert {"append_p50_ms", "read_p50_ms", "rowdml_p50_ms"} <= set(cls.GROUPS)


def _span(sid, parent, name, start, end, **extra):
    return {"id": sid, "parent": parent, "op": 1, "name": name,
            "layer": name.split(".")[0], "start": start, "end": end, "ok": True, **extra}


def test_op_scoped_layer_metrics_on_a_synthetic_trace():
    op = {
        "id": 1, "cls": "read", "ms": 100.0, "ok": True,
        "jobs": [{"start": 0.06, "end": 0.09, "stages": 2, "tasks": 5, "run_ms": 40.0,
                  "cpu_ms": 30.0, "shuffle_write": 100, "spill": 0}],
        "cpu": {"driver": 10.0, "jvm": 20.0, "worker": 0.0},
        "dir_delta": 0,
    }
    spans = [
        _span(1, None, "spark_table.read", 0.0, 0.1),
        _span(2, 1, "fileio.read_bytes", 0.01, 0.02, bytes=500, path="t/metadata/snap-1.manifest.json"),
        _span(3, 1, "fileio.read_bytes", 0.02, 0.03, bytes=300, path="t/metadata/v3.metadata.json"),
        _span(4, 1, "spark_table._prune", 0.03, 0.04, live=10, planned=2),
        _span(8, 1, "fileio.read_bytes", 0.04, 0.05, ok=False),  # raised
        _span(5, None, "table_ops.commit", 0.2, 0.3, ok=False),
        _span(6, None, "table_ops.commit", 0.3, 0.35),
        _span(7, 6, "fileio.write_bytes", 0.31, 0.32, bytes=2000, path="t/metadata/x.tmp"),
    ]
    m = layers.op_scoped([op], spans)
    assert m["fileio.calls_per_op"] == 4
    assert m["fileio.read_bytes_per_op"] == 800
    assert m["fileio.self_ms_per_op"] == pytest.approx(40.0)
    assert m["spark_table.manifests_read_per_plan"] == 1
    assert m["spark_table.files_planned_per_read"] == 2
    assert m["spark_table.prune_keep_ratio"] == pytest.approx(0.2)
    # read span 100 ms minus the 30 ms Spark job inside it
    assert m["spark_table.plan_ms"] == pytest.approx(70.0)
    assert m["table_ops.commit_attempts_per_commit"] == 2
    assert m["table_ops.metadata_bytes_per_commit"] == 2000
    assert m["spark.jobs_per_op"] == 1
    assert m["spark.job_ms_per_op"] == pytest.approx(30.0)
    assert m["proc.jvm_cpu_ms_per_op"] == 20.0
    assert set(m) == set(layers.OP_SCOPED)


def test_overhead_ratio_is_a_geomean_of_median_ratios():
    traced = {"a": [2.0, 2.0, 2.0], "b": [10.0]}
    plain = {"a": [1.0, 1.0], "b": [10.0]}
    assert layers.overhead_ratio(traced, plain) == pytest.approx(2 ** 0.5)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]
    } == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
