"""Streaming pipeline tests (SURVEY §5.2 item 4): D1-D7 semantics over a
file-source micro-batch stream — latest-wins state after N batches, delete
apply, dedup under duplicate delivery, DLQ on corrupt payloads, checkpoint
restart without loss or duplication (A3/A6)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from cdc_worker_spark.streaming import LatestWinsState, run_cdc_pipeline
from cdc_worker_spark.streaming.envelope import ENVELOPE_SCHEMA, decode_envelope

from tests.test_cdc_event_model import make_envelope


def write_batch_file(input_dir: str, name: str, envelopes: list[dict]) -> None:
    os.makedirs(input_dir, exist_ok=True)
    with open(os.path.join(input_dir, name), "w") as f:
        for e in envelopes:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    return {
        "input": str(tmp_path / "input"),
        "state": str(tmp_path / "state"),
        "dlq": str(tmp_path / "dlq"),
        "chk": str(tmp_path / "chk"),
    }


def run_drain(spark, dirs):
    q = run_cdc_pipeline(
        spark,
        input_dir=dirs["input"],
        state_dir=dirs["state"],
        dlq_dir=dirs["dlq"],
        checkpoint_dir=dirs["chk"],
    )
    q.awaitTermination(120)
    assert not q.isActive


def read_state(spark, dirs):
    df = LatestWinsState(dirs["state"]).read(spark)
    return {} if df is None else {r.record_id: r for r in df.collect()}


def test_latest_wins_delete_and_dlq(spark, dirs):
    """D1 latest-wins, D2 delete apply, C4/D10 dead-letter — across multiple
    micro-batches (maxFilesPerTrigger=1 => one file per batch)."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"],
        "b1.jsonl",
        [
            make_envelope(100, record_id="A", change_type="CREATE", commit_ts=t0, city="NYC"),
            make_envelope(101, record_id="B", change_type="CREATE", commit_ts=t0 + 1),
        ],
    )
    write_batch_file(
        dirs["input"],
        "b2.jsonl",
        [
            make_envelope(102, record_id="A", change_type="UPDATE", commit_ts=t0 + 2,
                          city="San Francisco"),
            make_envelope(103, record_id="B", change_type="DELETE", commit_ts=t0 + 3),
            make_envelope(104, corrupt=True),
            # more corrupt payloads in the same batch: the dedup exchange
            # spreads them over several partitions
            *(make_envelope(r, corrupt=True) for r in range(105, 111)),
        ],
    )
    run_drain(spark, dirs)

    state = read_state(spark, dirs)
    assert set(state) == {"A"}  # B deleted (D2)
    assert int(state["A"].replay_id) == 102  # latest wins (D1)
    assert state["A"].event.BillingAddress.City == "San Francisco"

    dlq = spark.read.parquet(dirs["dlq"]).collect()
    assert sorted(int(r.replay_id) for r in dlq) == list(range(104, 111))
    assert {r.error for r in dlq} == {"payload JSON decode failed"}
    # the DLQ append is one task and one file per micro-batch (the committed
    # batches include no-data batches run for watermark advances)
    commits = os.listdir(os.path.join(dirs["chk"], "commits"))
    batches = [f for f in commits if f.isdigit()]
    assert len(glob.glob(os.path.join(dirs["dlq"], "*.parquet"))) <= len(batches)


def test_checkpoint_restart_resumes_without_loss_or_dup(spark, dirs):
    """A3/A6: stop, append new files (including a stale update and an exact
    redelivery), restart with the same checkpoint — state converges with no
    loss and no double-apply."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"], "b1.jsonl",
        [make_envelope(200, record_id="A", change_type="CREATE", commit_ts=t0 + 10)],
    )
    run_drain(spark, dirs)
    assert int(read_state(spark, dirs)["A"].replay_id) == 200

    write_batch_file(
        dirs["input"], "b2.jsonl",
        [
            make_envelope(200, record_id="A", change_type="CREATE", commit_ts=t0 + 10),  # redelivery
            make_envelope(199, record_id="A", change_type="UPDATE", commit_ts=t0 + 5),   # stale
            make_envelope(201, record_id="C", change_type="CREATE", commit_ts=t0 + 20),
        ],
    )
    run_drain(spark, dirs)

    state = read_state(spark, dirs)
    assert set(state) == {"A", "C"}
    assert int(state["A"].replay_id) == 200  # stale 199 did not win; 200 idempotent
    assert int(state["C"].replay_id) == 201


def test_late_predelete_does_not_resurrect(spark, dirs):
    """A late out-of-order UPDATE that pre-dates an applied DELETE (legal
    within the watermark; not an exact-replay-id redelivery) must NOT bring
    the record back — the DELETE tombstone keeps its (commit_ts, replay_id)
    and wins the latest-per-key comparison."""
    t0 = 1696444513000
    write_batch_file(dirs["input"], "b1.jsonl", [
        make_envelope(100, record_id="A", change_type="CREATE", commit_ts=t0),
        make_envelope(102, record_id="A", change_type="DELETE", commit_ts=t0 + 2),
    ])
    run_drain(spark, dirs)
    assert read_state(spark, dirs) == {}

    write_batch_file(dirs["input"], "b2.jsonl", [
        make_envelope(101, record_id="A", change_type="UPDATE", commit_ts=t0 + 1),
    ])
    run_drain(spark, dirs)
    assert read_state(spark, dirs) == {}


def test_dedup_within_watermark(spark, tmp_path):
    """D4: dropDuplicatesWithinWatermark on replay_id removes redeliveries
    before they reach the sink (observed via an in-batch collector)."""
    input_dir = str(tmp_path / "in")
    t0 = 1696444513000
    write_batch_file(
        input_dir, "b1.jsonl",
        [
            make_envelope(300, record_id="A", commit_ts=t0),
            make_envelope(300, record_id="A", commit_ts=t0),  # duplicate in-batch
            make_envelope(301, record_id="B", commit_ts=t0 + 1),
        ],
    )
    from cdc_worker_spark.streaming.pipeline import read_event_stream

    seen: list[int] = []

    def collect_batch(df, _bid):
        seen.extend(int(r.replay_id) for r in df.select("replay_id").collect())

    q = (
        decode_envelope(read_event_stream(spark, input_dir, max_files_per_trigger=None))
        .withWatermark("commit_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["replay_id"])
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(seen) == [300, 301]


def test_ordered_apply_within_batch(spark, dirs):
    """D7/O5: out-of-order arrival within one batch still applies in
    (commit_ts, replay_id) order — the within-key sort before merge."""
    t0 = 1696444513000
    write_batch_file(
        dirs["input"], "b1.jsonl",
        [
            # arrival order deliberately scrambled
            make_envelope(402, record_id="A", change_type="UPDATE", commit_ts=t0 + 2, city="v2"),
            make_envelope(400, record_id="A", change_type="CREATE", commit_ts=t0, city="v0"),
            make_envelope(401, record_id="A", change_type="UPDATE", commit_ts=t0 + 1, city="v1"),
        ],
    )
    run_drain(spark, dirs)
    state = read_state(spark, dirs)
    assert int(state["A"].replay_id) == 402
    assert state["A"].event.BillingAddress.City == "v2"


def test_missing_replay_id_is_corrupt_not_silently_dropped(spark, dirs):
    """An envelope whose replay id is missing or undecodable must surface as
    corrupt (DLQ), not vanish in NULL-valued offset predicates or collide in
    replay-id dedup."""
    t0 = 1696444513000
    good = make_envelope(500, record_id="A", commit_ts=t0)
    no_rid = dict(make_envelope(501, record_id="B", commit_ts=t0 + 1))
    no_rid["replay_id_b64"] = None
    write_batch_file(dirs["input"], "b1.jsonl", [good, no_rid])
    q = run_cdc_pipeline(
        spark, dirs["input"], dirs["state"], dirs["dlq"], dirs["chk"],
        start_after_replay_id=100,  # the NULL-trap filter path
    )
    q.awaitTermination(120)
    assert set(read_state(spark, dirs)) == {"A"}
    dlq = spark.read.parquet(dirs["dlq"]).collect()
    assert len(dlq) == 1 and dlq[0].replay_id is None


def test_avro_wire_pipeline_end_to_end(spark, dirs):
    """The reference's ACTUAL wire format through the full pipeline: Avro
    binary payloads (base64-framed in the file source, as the gRPC bridge
    hands them off) -> avro_py decode -> dedup -> latest-wins merge, with
    undecodable bytes dead-lettered. Final state equals what the same
    logical events produce through the JSON codec."""
    import base64

    from cdc_worker_spark.functions.avro_codec import encode as avro_encode, parse_schema
    from cdc_worker_spark.streaming.envelope import (
        account_payload_schema,
        avro_schema_json,
    )

    sch = parse_schema(avro_schema_json(account_payload_schema()))

    def avro_env(replay_id: int, **kw) -> dict:
        e = make_envelope(replay_id, **kw)
        wire = avro_encode(json.loads(e["payload"]), sch)
        return {
            "replay_id_b64": e["replay_id_b64"],
            "schema_id": e["schema_id"],
            "payload_b64": base64.b64encode(wire).decode(),
        }

    bad = make_envelope(104)
    write_batch_file(dirs["input"], "b0.jsonl", [
        avro_env(100, record_id="A", city="Lagos"),
        avro_env(101, record_id="B", city="Quito"),
    ])
    write_batch_file(dirs["input"], "b1.jsonl", [
        avro_env(102, record_id="A", city="Oslo"),   # A updates
        avro_env(102, record_id="A", city="Oslo"),   # duplicate delivery
        {  # undecodable avro bytes -> DLQ
            "replay_id_b64": bad["replay_id_b64"],
            "schema_id": bad["schema_id"],
            "payload_b64": base64.b64encode(b"\xde\xad").decode(),
        },
    ])
    q = run_cdc_pipeline(
        spark,
        input_dir=dirs["input"],
        state_dir=dirs["state"],
        dlq_dir=dirs["dlq"],
        checkpoint_dir=dirs["chk"],
        codec="avro_py",
    )
    q.awaitTermination(120)
    assert not q.isActive

    state = read_state(spark, dirs)
    assert set(state) == {"A", "B"}
    assert int(state["A"].replay_id) == 102
    assert state["A"].event.BillingAddress.City == "Oslo"
    dlq = spark.read.parquet(dirs["dlq"]).collect()
    assert len(dlq) == 1 and int(dlq[0].replay_id) == 104
    assert "avro_py decode failed" in dlq[0].error
