"""The benchmark's own contract: deterministic inputs, the latest-wins
oracle's edge cases, the tail-percentile rule and span self time.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.stats import percentile, tail_percentile  # noqa: E402
from perfbench.trace import Tracer, union_length  # noqa: E402


def drain_bytes(seed: int) -> list[bytes]:
    stream = gen.cdc_drain_stream(seed, 3000, n_keys=3000, n_files=3)
    return [gen.file_bytes([gen.json_wire_line(e) for e in f]) for f in stream.files]


def paced_bytes(seed: int) -> list[bytes]:
    wire = gen.AvroWire()
    return [gen.file_bytes([wire.line(e) for e in gen.cdc_paced_file(seed, i, 40, gen.BASE_TS_MS + 250 * i)])
            for i in range(3)]


def test_same_seed_same_bytes():
    assert drain_bytes(7) == drain_bytes(7)
    assert paced_bytes(7) == paced_bytes(7)
    assert drain_bytes(7) != drain_bytes(8)
    assert paced_bytes(7) != paced_bytes(8)


def test_drain_stream_plants_every_case():
    stream = gen.cdc_drain_stream(3, 5000, n_keys=5000, n_files=3)
    planted = stream.planted
    assert all(planted[k] > 0 for k in ("corrupt", "redelivered", "deletes", "late_pre_delete_updates"))
    events = stream.events
    assert sum(e.corrupt for e in events) == planted["corrupt"]
    assert len(events) - len({e.replay_id for e in events}) == planted["redelivered"]
    # a late UPDATE follows its DELETE in wire order with an earlier commit_ts
    pos = {}
    late = 0
    for i, e in enumerate(events):
        if e.change_type == "DELETE":
            pos[e.key] = (i, e.commit_ts)
        elif e.key in pos and e.commit_ts < pos[e.key][1]:
            late += 1
    assert late >= planted["late_pre_delete_updates"]


def test_corrupt_avro_payload_never_decodes():
    from cdc_worker_spark.functions.avro_codec import decode

    with pytest.raises(Exception):
        decode(gen.AvroWire.CORRUPT, gen.AvroWire().schema)


def ev(rid, key, ts, ctype="UPDATE", city="A", corrupt=False):
    return gen.CdcEvent(rid, key, ctype, ts, name=None if ctype == "DELETE" else f"n{rid}",
                        city=None if ctype == "DELETE" else city, corrupt=corrupt)


def test_oracle_latest_commit_ts_wins_out_of_order():
    state = gen.latest_wins_oracle([ev(1, "k", 200, city="new"), ev(2, "k", 100, city="old")])
    assert state["k"].city == "new"


def test_oracle_tie_on_commit_ts_goes_to_higher_replay_id():
    state = gen.latest_wins_oracle([ev(5, "k", 100, city="b"), ev(4, "k", 100, city="a")])
    assert state["k"].replay_id == 5


def test_oracle_delete_removes_and_late_pre_delete_update_does_not_resurrect():
    events = [ev(1, "k", 100), ev(2, "k", 300, "DELETE"), ev(3, "k", 250, city="late")]
    assert "k" not in gen.latest_wins_oracle(events)
    # an update after the delete re-creates the key
    assert gen.latest_wins_oracle(events + [ev(4, "k", 400, city="again")])["k"].city == "again"


def test_oracle_redelivery_is_idempotent_and_corrupt_is_ignored():
    first = ev(1, "k", 100, city="x")
    base = gen.latest_wins_oracle([first])
    assert gen.latest_wins_oracle([first, ev(2, "j", 50), first]) == {**base, "j": ev(2, "j", 50)}
    assert gen.latest_wins_oracle([first, ev(9, "k", 900, corrupt=True)]) == base


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (2000, 99.5), (10_000, 99.9), (100_000, 99.99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 95) == 5


def test_self_time_subtracts_children_union():
    tr = Tracer("t")
    parent = tr.add("spark.batch", 0.0, 10.0)
    tr.add("a", 2.0, 5.0, parent=parent)
    tr.add("b", 4.0, 8.0, parent=parent)
    orphan = tr.add("c", 8.5, 9.0)  # no parent: adopted by the enclosing spark span
    assert orphan
    st = tr.self_times()
    assert st["spark.batch"] == pytest.approx(10.0 - 6.0 - 0.5)
    assert st["a"] == pytest.approx(3.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_inactive_wrapper_records_no_span():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer("t")
    tr.wrap(Owner, "f", "owner.f")
    tr.active = False
    assert Owner.f(1) == 2
    tr.active = True
    assert Owner.f(2) == 3
    tr.restore()
    assert Owner.f(3) == 4
    assert [s.name for s in tr.spans] == ["owner.f"]


def test_input_files_are_stamped_in_order(tmp_path):
    from perfbench.workloads import write_files

    write_files(str(tmp_path), [b"a", b"b", b"c"])
    names = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
