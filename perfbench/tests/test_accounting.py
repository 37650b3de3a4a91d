"""The benchmark's own accounting, checked on hand-made inputs.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root;
nothing here starts Spark.
"""

import json
import os
import time

import numpy as np
import pytest

import accounting as acc
import harness
import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def _checkpoint(tmp_path, offsets, source_batches, commit_mtimes):
    """A file-source checkpoint: ``offsets`` is query batch -> logOffset,
    ``source_batches`` source-log id -> files, ``commit_mtimes`` query batch
    -> commit-log mtime."""
    ck = str(tmp_path / "ckpt")
    meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}})
    for bid, off in offsets.items():
        _write(f"{ck}/offsets/{bid}", ["v1", meta, json.dumps({"logOffset": off})])
    for lid, files in source_batches.items():
        _write(f"{ck}/sources/0/{lid}", ["v1"] + [
            json.dumps({"path": f"file:///land/{f}", "timestamp": 0, "batchId": lid})
            for f in files])
    for bid, t in commit_mtimes.items():
        _write(f"{ck}/commits/{bid}", ["v1", json.dumps({"nextBatchWatermarkMs": 0})])
        os.utime(f"{ck}/commits/{bid}", (t, t))
    return ck


def test_file_maps_to_query_batch_through_log_offset_after_no_data_batch(tmp_path):
    # query batch 2 only advanced the watermark (logOffset repeats), so the
    # file the source logged as its batch 2 was read by QUERY batch 3
    ck = _checkpoint(tmp_path, {0: 0, 1: 1, 2: 1, 3: 2},
                     {0: ["a.parquet"], 1: ["b.parquet", "c.parquet"], 2: ["d.parquet"]},
                     {0: 100.0, 1: 101.0, 2: 102.0, 3: 103.5})
    batches = acc.file_batches(acc.batch_log_offsets(ck), acc.source_log_files(ck))
    assert batches == {"file:///land/a.parquet": 0, "file:///land/b.parquet": 1,
                       "file:///land/c.parquet": 1, "file:///land/d.parquet": 3}
    lat, of = acc.file_latencies_ms(ck, {"b.parquet": 100.5, "d.parquet": 101.0})
    assert of == {"b.parquet": 1, "d.parquet": 3}
    assert lat["b.parquet"] == pytest.approx(500.0)
    assert lat["d.parquet"] == pytest.approx(2500.0)


def test_uncommitted_files_have_no_latency(tmp_path):
    ck = _checkpoint(tmp_path, {0: 0, 1: 1}, {0: ["a.parquet"], 1: ["b.parquet"]}, {0: 10.0})
    lat, _ = acc.file_latencies_ms(ck, {"a.parquet": 9.0, "b.parquet": 9.5})
    assert set(lat) == {"a.parquet"}


def test_compacted_source_log_keeps_batch_ids(tmp_path):
    ck = str(tmp_path / "ckpt")
    _write(f"{ck}/sources/0/9.compact", ["v1"] + [
        json.dumps({"path": f"file:///land/f{i}", "timestamp": 0, "batchId": i}) for i in range(10)])
    assert acc.source_log_files(ck)["file:///land/f7"] == 7


def test_percentile_interpolates_and_sample_rule():
    xs = list(range(1, 101))
    assert acc.percentile(xs, 50) == pytest.approx(50.5)
    assert acc.percentile(xs, 90) == pytest.approx(90.1)
    assert acc.percentile([7.0], 90) == 7.0
    # ten samples must lie beyond the reported percentile
    assert acc.samples_needed(90) == 100
    assert acc.samples_needed(50) == 20
    assert not acc.tail_supported(99, 90)
    assert acc.tail_supported(100, 90)
    with pytest.raises(ValueError):
        acc.percentile([], 50)


def test_fold_upserts_orders_batches_numerically(tmp_path):
    d = tmp_path / "sink"
    d.mkdir()
    (d / "batch_9_p00000.jsonl").write_text(json.dumps({"_id": "k", "rating_count": 1}) + "\n")
    (d / "batch_10_p00001.jsonl").write_text(json.dumps({"_id": "k", "rating_count": 2}) + "\n")
    assert acc.fold_upserts(str(d))["k"]["rating_count"] == 2


def test_corrupted_sink_output_is_caught(tmp_path):
    d = tmp_path / "sink"
    d.mkdir()
    expected = {"2024-01-01 00:00:00|Customer#1 BUILDING": (2, "3,5"),
                "2024-01-01 00:15:00|Customer#1 BUILDING": (1, "8")}
    docs = [{"_id": k, "rating_count": n, "event_ids": ids} for k, (n, ids) in expected.items()]
    (d / "batch_0_p00000.jsonl").write_text("\n".join(json.dumps(x) for x in docs) + "\n")
    assert acc.window_mismatches(expected, acc.fold_upserts(str(d))) == []
    # a later batch that upserts a wrong count is caught, as is a stray doc
    bad = dict(docs[0], rating_count=3)
    stray = {"_id": "2024-01-01 00:30:00|nobody", "rating_count": 1, "event_ids": "9"}
    (d / "batch_1_p00000.jsonl").write_text(json.dumps(bad) + "\n" + json.dumps(stray) + "\n")
    wrong = acc.window_mismatches(expected, acc.fold_upserts(str(d)))
    assert sorted(wrong) == sorted([docs[0]["_id"], stray["_id"]])
    # and so is a window whose doc never arrived
    (d / "batch_0_p00000.jsonl").unlink()
    (d / "batch_1_p00000.jsonl").unlink()
    assert len(acc.window_mismatches(expected, acc.fold_upserts(str(d)))) == 2


def test_change_feed_batches_are_debezium_shaped():
    from cdc import BATCH_ROWS, ChangeFeed

    feed = ChangeFeed(np.random.default_rng(3), 1000)
    live = set(range(1000))
    last_seq = 0
    for _ in range(5):
        t = feed.batch(BATCH_ROWS).to_pydict()
        keys, seq, dele = t["c_custkey"], t["_seq"], t["_deleted"]
        assert len(set(keys)) == len(keys) == BATCH_ROWS
        assert min(seq) > last_seq and sorted(seq) == seq
        last_seq = max(seq)
        for k, d in zip(keys, dele):
            if d:
                assert k in live
                live.discard(k)
            else:
                live.add(k)
        assert set(feed.live.tolist()) == live


def test_interval_union_and_sql_timing_parse():
    assert harness.interval_union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert harness.interval_union_ms([]) == 0
    txt = "total (min, med, max (stageId: taskId))\n10.3 s (2.4 s, 2.6 s, 2.8 s (stage 0.0: task 3))"
    assert harness.parse_timing_ms(txt) == pytest.approx(10300.0)
    assert harness.parse_timing_ms("total\n997 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(997.0)


def test_benchmark_json_matches_the_metric_tables():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
