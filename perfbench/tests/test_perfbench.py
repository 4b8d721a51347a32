"""The benchmark's own tests: deterministic inputs, metric names that
match BENCHMARK.json, and the event-log fold on a tiny recorded log.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from perfbench import inputs, layers, oracle, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    inputs.label_sync_inputs(seed, os.path.join(root, "label_sync"), n_labels=60, n_rows=50)
    inputs.curation_corpus(seed, os.path.join(root, "curation"), shards=2, docs=40, vecs=20, imgs=3)
    inputs.write_tables({"events": inputs.events(seed, 0.001)}, os.path.join(root, "sf"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_label_sync_invariants_are_consistent(tmp_path):
    info = inputs.label_sync_inputs(3, str(tmp_path), n_labels=80, n_rows=100, collide=0.3)
    with open(tmp_path / "spool" / "batch-seed.ndjson") as fh:
        spooled = [json.loads(line)["data_row"]["global_key"] for line in fh]
    assert len(spooled) == info["spool_pre"] == info["collisions"] + 100 // 10
    assert set(spooled) & set(info["keys"]) and len(set(spooled)) == len(spooled)
    frames = os.listdir(tmp_path / "platform" / "frames")
    assert len(frames) == info["n_video"] and info["n_frames"] >= info["n_video"]


def test_documents_plant_near_duplicates():
    rng = inputs.rng_for(1, "docs")
    docs = inputs.documents(rng, 400).column("text").to_pylist()
    near = [t for t in docs if t.endswith(" dup")]
    assert len(near) == 400 * inputs.DUP_RATE
    assert all(t[: -len(" dup")] in docs for t in near)


def test_png_is_decodable():
    import struct
    import zlib

    png = inputs.png_gray(bytes(range(16)), 4, 4)
    assert png.startswith(b"\x89PNG\r\n\x1a\n")
    width, height = struct.unpack(">II", png[16:24])
    idat_len = struct.unpack(">I", png[33:37])[0]
    raw = zlib.decompress(png[41:41 + idat_len])
    assert (width, height) == (4, 4) and raw == b"".join(
        b"\x00" + bytes(range(r * 4, r * 4 + 4)) for r in range(4))


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == layers.E2E_UNITS
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == layers.UNITS
    for m in spec["per_layer"]:
        want = "higher" if m["name"] in layers.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_fold_gives_known_totals_on_tiny_log():
    events = trace.read_event_log(os.path.join(DATA, "tiny_eventlog"))
    got = trace.fold(events, [("p1:a", 1000, 2000), ("p1:b", 2000, 3000)])
    a, b = got["p1:a"], got["p1:b"]
    assert (a["jobs"], a["stages"], a["tasks"], a["failed_tasks"]) == (1, 2, 3, 1)
    assert a["task_cpu_ns"] == 300_000_000 and a["task_run_ms"] == 560 and a["gc_ms"] == 15
    assert a["shuffle_write_bytes"] == 1000 and a["shuffle_read_bytes"] == 1000
    assert a["spill_bytes"] == 2048
    assert a["py_run_ms"] == 50 and a["py_sent_bytes"] == 4096 and a["py_start_ms"] == 0
    # stages 1100-1500 and 1400-1800 overlap: busy is their union
    assert a["stage_busy_ms"] == 700
    # job 1 carries a stream's group, not the step's: attributed by time
    assert (b["jobs"], b["stages"], b["tasks"], b["stage_busy_ms"]) == (1, 1, 1, 100)
    assert b["micro_batches"] == 2 and b["batch_ms"] == [120, 80]
    # state rows are the last progress of each stream run
    assert b["state_rows"] == 7 and a["micro_batches"] == 0


def test_tail_quantile_keeps_ten_samples_beyond():
    assert trace.tail_quantile(100) == 0.9
    assert trace.tail_quantile(40) == 0.75
    assert trace.tail_quantile(12) == 0.5
    with pytest.raises(ValueError):
        trace.tail_quantile(0)


def test_digest_ignores_row_and_column_order_but_not_types():
    import pandas as pd

    d = oracle.frame_digest(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
    assert d == oracle.frame_digest(pd.DataFrame({"b": ["y", "x"], "a": [2, 1]}))
    assert d != oracle.frame_digest(pd.DataFrame({"a": [1.0, 2.0], "b": ["x", "y"]}))
    assert d != oracle.frame_digest(pd.DataFrame({"a": [1, 1, 2], "b": ["x", "x", "y"]}))
    arr = pd.DataFrame({"a": [1], "v": [[0.5, 1.5]]})
    assert oracle.frame_digest(arr) != oracle.frame_digest(pd.DataFrame({"a": [1], "v": [[0.5]]}))


def test_recorded_digests_name_curation_steps():
    from perfbench.workloads import EXPECTED_DIGESTS, Curation10x

    with open(EXPECTED_DIGESTS) as fh:
        rec = json.load(fh)
    assert set(rec) == {Curation10x.name}
    for steps in rec[Curation10x.name].values():
        assert set(steps) <= set(layers.OPERATOR_CALLS)
