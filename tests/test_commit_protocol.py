"""Crash matrix for the engine's one commit protocol
(operators/index_layout.publish).

Every consumer commits with one ``publish(record_path, record, write)``
call whose ``write`` lays the data down before the record replaces the
live file. Each consumer here is crashed once at that call, at three
points: before the data write, after the write but before the publish,
and after the publish. The crashed attempt is then replayed the way the
engine replays it (same batch id / token / offset), and:

- right after the crash, the commit record shows exactly the old state
  (or the new one, after the publish), and every other reader view shows
  the old state or the new one — never a partial one;
- after the replay, every view equals one clean application.

The ingest corpus/rejects and the bridge inbox are appends that become
visible before their commit record does. The ingest replay skips appends
whose index segment is already published; the bridge replay redelivers
into the inbox, which the pipeline reads by replay id (it dedups
redeliveries on it), so the inbox view is the set of replay ids. Inputs
are a handful of rows so the matrix runs in the default gate.
"""

from __future__ import annotations

import base64
import glob
import json
import os
import shutil

import pytest

from cdc_worker_spark.functions.offsets import decode_replay_id
from cdc_worker_spark.operators import index_layout
from tests.test_cdc_event_model import make_envelope
from tests.test_state_store import batch as lw_batch
from tests.test_streaming_ingest import _doc, _write_batch

POINTS = ("before_write", "before_publish", "after_publish")


class InjectedCrash(RuntimeError):
    pass


def crash_once(monkeypatch, point: str, record_name: str) -> None:
    """Make the next commit crash at ``point`` inside the real publish:
    ``before_write`` fires on the first publish entered (every data write
    happens inside or after it), the other two on the publish of the file
    named ``record_name``. The crash replaces that publish's data-write
    step, so the real function decides what has landed when it raises."""
    real = index_layout.publish
    armed = [True]

    def publish(path, record, write=None):
        hit = point == "before_write" or os.path.basename(path) == record_name
        if not (armed[0] and hit):
            return real(path, record, write)
        armed[0] = False
        if point == "after_publish":
            real(path, record, write)
            raise InjectedCrash(f"injected crash {point}")

        def crash():
            if point == "before_publish" and write is not None:
                write()
            raise InjectedCrash(f"injected crash {point}")

        real(path, record, crash)

    monkeypatch.setattr(index_layout, "publish", publish)


def _parquet_rows(paths, cols=("doc_id",)):
    """Sorted rows of ``cols`` across the parquet files under ``paths``,
    read with pyarrow (no Spark job per view)."""
    import pyarrow.parquet as pq

    rows = []
    for p in paths:
        for f in glob.glob(f"{p}/**/*.parquet", recursive=True):
            t = pq.read_table(f, columns=list(cols))
            rows += zip(*(t.column(c).to_pylist() for c in cols))
    return sorted(rows)


class LatestWins:
    record = "_MANIFEST.json"

    def prepare(self, spark, root):
        from cdc_worker_spark.streaming import LatestWinsState, merge_latest_wins

        merge_latest_wins(
            LatestWinsState(f"{root}/state", n_buckets=4),
            lw_batch(spark, [(i, i, f"K{i}", "CREATE", f"v{i}") for i in range(6)]),
        )

    def apply(self, spark, root):
        from cdc_worker_spark.streaming import LatestWinsState, merge_latest_wins

        merge_latest_wins(
            LatestWinsState(f"{root}/state", n_buckets=4),
            lw_batch(spark, [
                (10, 10, "K1", "UPDATE", "new"),
                (11, 11, "K2", "DELETE", None),
                (12, 12, "K9", "CREATE", "v9"),
            ]),
        )

    def view(self, spark, root):
        from cdc_worker_spark.streaming import LatestWinsState

        df = LatestWinsState(f"{root}/state").read_full(spark)
        rows = df.select("record_id", "replay_id", "change_type", "payload")
        return {"commit": sorted(tuple(r) for r in rows.collect())}


class Scd2:
    record = "_MANIFEST.json"

    def _merge(self, spark, root, rows, batch_id):
        from cdc_worker_spark.streaming.scd2 import Scd2State

        cols = ["user_id", "event_type", "ts_ms", "event_id"]
        Scd2State(f"{root}/scd2", n_buckets=4).merge_batch(
            spark, spark.createDataFrame(rows, cols), batch_id=batch_id
        )

    def prepare(self, spark, root):
        self._merge(spark, root, [(1, "view", 1000, 1), (2, "click", 1500, 2)], 0)

    def apply(self, spark, root):
        self._merge(spark, root, [(1, "click", 3000, 3), (3, "view", 3500, 4)], 1)

    def view(self, spark, root):
        from cdc_worker_spark.streaming.scd2 import Scd2State

        state = Scd2State(f"{root}/scd2")
        rows = sorted(tuple(r) for r in state.read(spark).collect())
        return {"commit": (rows, sorted(state.committed_batch_ids()))}


def _docs(spark, docs):
    from cdc_worker_spark.streaming.ingest import DOC_SCHEMA

    return spark.createDataFrame(
        [(d["doc_id"], d["text"], d["lang"], d["source"], d["n_chars"]) for d in docs],
        DOC_SCHEMA,
    )


DOCS_OLD = [
    _doc(1, "first unique document about gardens and flowers today"),
    _doc(2, "second unique document about mountains and rivers yesterday"),
]
DOCS_NEW = [
    _doc(3, "third unique document about harbors and sailing ships"),
    _doc(4, "first unique document about gardens and flowers today"),  # dup of 1
    _doc(5, "fifth unique document about deserts and camels at noon"),
]


class IndexSegment:
    record = "_CURRENT.json"

    def prepare(self, spark, root):
        from cdc_worker_spark.operators.dedup_index import build_dedup_index

        build_dedup_index(_docs(spark, DOCS_OLD), f"{root}/idx")

    def apply(self, spark, root):
        from cdc_worker_spark.operators.dedup_index import extend_dedup_index

        extend_dedup_index(_docs(spark, DOCS_NEW), f"{root}/idx", token="b1")

    def view(self, spark, root):
        idx = f"{root}/idx"
        return {
            "commit": {
                t: _parquet_rows(index_layout.live_paths(idx, t))
                for t in ("digests", "signatures", "bands")
            }
        }


class IngestLedger:
    """The real streaming ingest loop; its input directory sits outside
    the copied state root, because Spark's checkpoint records input files
    by absolute path."""

    record = "_ingest_committed"

    def __init__(self):
        self.input_dir = None

    def _run(self, spark, root):
        from cdc_worker_spark.streaming.ingest import run_dedup_ingest_pipeline

        run_dedup_ingest_pipeline(
            spark,
            input_dir=self.input_dir,
            index_dir=f"{root}/idx",
            corpus_dir=f"{root}/corpus",
            rejects_dir=f"{root}/rejects",
            checkpoint_dir=f"{root}/chk",
        ).awaitTermination(120)

    def prepare(self, spark, root):
        self.input_dir = f"{root}_input"
        _write_batch(self.input_dir, "b0.jsonl", DOCS_OLD)
        self._run(spark, root)
        _write_batch(self.input_dir, "b1.jsonl", DOCS_NEW)
        t = os.path.getmtime(os.path.join(self.input_dir, "b0.jsonl")) + 1
        os.utime(os.path.join(self.input_dir, "b1.jsonl"), (t, t))

    def apply(self, spark, root):
        self._run(spark, root)

    def view(self, spark, root):
        try:
            with open(f"{root}/chk/{self.record}") as fh:
                ledger = sorted(int(line) for line in fh if line.strip())
        except FileNotFoundError:
            ledger = []
        return {
            "commit": ledger,
            "corpus": _parquet_rows([f"{root}/corpus"]),
            "index": _parquet_rows(index_layout.live_paths(f"{root}/idx", "digests")),
            "rejects": _parquet_rows([f"{root}/rejects"], ("doc_id", "match_id", "kind")),
        }


class BridgeOffset:
    """Receive from the committed offset into the inbox, then commit the
    new offset — the resume contract of the subscribe bridge."""

    record = "offset"
    BATCHES = [[1, 2], [3, 4]]

    class Source:
        def fetch(self, topic, replay_preset, replay_id_b64, num_requested):
            after = decode_replay_id(base64.b64decode(replay_id_b64)) if replay_id_b64 else 0
            for rids in BridgeOffset.BATCHES:
                if rids[0] > after:
                    yield {"events": [make_envelope(r) for r in rids]}

        def request_more(self, n):
            pass

    def _receive(self, root, max_responses=None):
        from cdc_worker_spark.sources.grpc_bridge import (
            commit_offset,
            load_committed_offset,
            run_subscribe_bridge,
        )

        off = f"{root}/{self.record}"
        status = run_subscribe_bridge(
            self.Source(), "topic", f"{root}/inbox", replay_preset="CUSTOM",
            replay_id_b64=load_committed_offset(off), max_responses=max_responses,
        )
        if status.last_replay_id_b64:  # nothing new: nothing to commit
            commit_offset(off, status.last_replay_id_b64)

    def prepare(self, spark, root):
        self._receive(root, max_responses=1)

    def apply(self, spark, root):
        self._receive(root)

    def view(self, spark, root):
        from cdc_worker_spark.sources.grpc_bridge import load_committed_offset

        inbox = set()
        for path in glob.glob(f"{root}/inbox/*"):
            with open(path) as fh:
                inbox |= {
                    decode_replay_id(base64.b64decode(json.loads(line)["replay_id_b64"]))
                    for line in fh
                }
        offset = load_committed_offset(f"{root}/{self.record}")
        return {
            "commit": decode_replay_id(base64.b64decode(offset)),
            "inbox": sorted(inbox),
        }


CONSUMERS = {
    "latest_wins": LatestWins(),
    "scd2": Scd2(),
    "index_segment": IndexSegment(),
    "ingest_ledger": IngestLedger(),
    "bridge_offset": BridgeOffset(),
}


@pytest.fixture(scope="module")
def baseline(spark, tmp_path_factory):
    """Per consumer, once: (prepared state root, its views, the views after
    one clean application on a copy). Inputs are a few rows, so the module
    runs with a few shuffle partitions."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    cache = {}

    def get(name):
        if name not in cache:
            c = CONSUMERS[name]
            root = str(tmp_path_factory.mktemp(name) / "root")
            c.prepare(spark, root)
            clean = root + "_clean"
            shutil.copytree(root, clean)
            c.apply(spark, clean)
            cache[name] = (root, c.view(spark, root), c.view(spark, clean))
        return cache[name]

    yield get
    spark.conf.set("spark.sql.shuffle.partitions", partitions)


@pytest.mark.parametrize("point", POINTS)
@pytest.mark.parametrize("name", list(CONSUMERS))
def test_crash_matrix(spark, baseline, tmp_path, monkeypatch, name, point):
    c = CONSUMERS[name]
    prepared, old, new = baseline(name)
    assert old["commit"] != new["commit"]
    root = str(tmp_path / "root")
    shutil.copytree(prepared, root)

    with monkeypatch.context() as m:
        crash_once(m, point, c.record)
        with pytest.raises(Exception, match=f"injected crash {point}"):
            c.apply(spark, root)

    seen = c.view(spark, root)
    want = new if point == "after_publish" else old
    assert seen["commit"] == want["commit"]
    for key, value in seen.items():
        assert value in (old[key], new[key]), f"{key} is a mix: {value}"

    c.apply(spark, root)  # the replay
    assert c.view(spark, root) == new


def test_latest_wins_on_disk_format(spark, tmp_path):
    """The layout perfbench/workloads.py:state_layers reads straight off
    disk: ``_MANIFEST.json`` with version/n_buckets/buckets, one
    ``_MANIFEST.v{N}.json`` per committed version, bucket data under
    ``v{N}/_bucket={b}``."""
    from cdc_worker_spark.streaming import LatestWinsState, merge_latest_wins

    root = str(tmp_path / "state")
    state = LatestWinsState(root, n_buckets=4)
    merge_latest_wins(state, lw_batch(spark, [(i, i, f"K{i}", "CREATE", "x") for i in range(8)]))
    merge_latest_wins(state, lw_batch(spark, [(20, 20, "K3", "UPDATE", "y")]))

    with open(os.path.join(root, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert set(manifest) == {"version", "n_buckets", "buckets"}
    assert manifest["version"] == 1 and manifest["n_buckets"] == 4
    assert set(manifest["buckets"]) <= {str(b) for b in range(4)}
    snaps = sorted(os.path.basename(p) for p in glob.glob(os.path.join(root, "_MANIFEST.v*.json")))
    assert snaps == ["_MANIFEST.v0.json", "_MANIFEST.v1.json"]
    with open(os.path.join(root, "_MANIFEST.v1.json")) as fh:
        assert json.load(fh) == manifest
    for b, v in manifest["buckets"].items():
        assert glob.glob(os.path.join(root, f"v{v}", f"_bucket={b}", "*.parquet"))
    touched = [b for b, v in manifest["buckets"].items() if v == 1]
    assert len(touched) == 1
    assert sorted(
        d for d in os.listdir(os.path.join(root, "v1")) if d.startswith("_bucket=")
    ) == [f"_bucket={touched[0]}"]
