"""Tests of the event-log attribution on a captured log.

``fixtures/payload_decode_48docs.events.jsonl.gz`` is the event log of one
``job.main`` call under job group ``main.0``: the ``payload_decode`` flags
over the 48-document payload corpus of seed 5, at ``local[2]`` with 4
shuffle partitions, trimmed to the events ``eventlog.py`` reads.  Its
oracle: 40 documents out, 129 selected payload pages (102 distinct), one
decode-error chunk.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import gzip
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                       "payload_decode_48docs.events.jsonl.gz")


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    d = tmp_path_factory.mktemp("eventlog") / "eventlog_v2_local-1"
    d.mkdir()
    with gzip.open(FIXTURE, "rb") as src, open(d / "events_1_local-1", "wb") as dst:
        shutil.copyfileobj(src, dst)
    return eventlog.EventLog(eventlog.read_events(eventlog.log_files(str(d.parent))))


def test_group_jobs_and_stages(log):
    g = log.group("main.0")
    assert len(g.jobs) == 20 and len(g.stages) == 20
    assert log.group("no such group").jobs == {}
    assert 0 < g.busy_s() < 60


def test_operator_metrics_match_the_oracle(log):
    m = eventlog.operator_metrics(log.group("main.0"))
    # the policy UDF sees every document that passes the valid gate
    assert m["policy.rows"] == m["prepare.rows"] == 119
    # one decode pass: 129 rendered pages plus one error-chunk row
    assert m["decode.rows_out"] == 129 + 1
    assert m["chunk_shuffle.records"] == 27
    assert m["reassembly.records"] == 144
    assert m["write.rows"] == 761 and m["write.files"] == 8
    assert m["persist.bytes"] > 0
    for key in ("policy.py_run_s", "decode.py_run_s", "reassembly.task_s"):
        assert m[key] > 0
    assert m["decode.task_skew"] >= 1.0


def test_engine_metrics(log):
    g = log.group("main.0")
    m = eventlog.engine_metrics(g, wall_s=g.busy_s() + 1.0, cores=2)
    assert m["driver.gap_s"] == pytest.approx(1.0)
    assert 0 < m["executor.util"] <= 1.0
    assert m["executor.run_s"] >= m["executor.gc_s"]


def test_layer_map():
    assert eventlog.layer_of("ArrowEvalPython", "ArrowEvalPython [select_pages(...)]") == "policy"
    assert eventlog.layer_of("MapInPandas", "MapInPandas decode(...)") == "decode"
    assert eventlog.layer_of(
        "Exchange", "Exchange hashpartitioning(doc_id#2, chunk_id#82, 8)") == "chunk_shuffle"
    assert eventlog.layer_of(
        "Exchange", "Exchange hashpartitioning(doc_id#87, 8), ENSURE_REQUIREMENTS") == "reassembly"
    assert eventlog.layer_of("Exchange", "Exchange SinglePartition") is None
    assert eventlog.layer_of("HashAggregate", "HashAggregate(keys=[doc_id#1], functions=[])") is None
    assert eventlog.layer_of(
        "Execute InsertIntoHadoopFsRelationCommand",
        "Execute InsertIntoHadoopFsRelationCommand file:/b/out/1/spans, false, Parquet") == "write"
    assert eventlog.layer_of(
        "Execute InsertIntoHadoopFsRelationCommand",
        "Execute InsertIntoHadoopFsRelationCommand file:/b/out/1/staged_run0, false") == "checkpoint"


def test_compressed_log_is_refused(tmp_path):
    p = tmp_path / "events_1_app.zstd"
    p.write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        list(eventlog.read_events([str(p)]))
