"""Pub/Sub subscribe bridge: the reference's gRPC entry point re-expressed
as a thin receiver that lands event batches into the file bus Spark streams
from.

Reference parity (public surface only): the reference client opens a
bidirectional Subscribe stream, sends FetchRequest{topicName, replayPreset,
replayId, numRequested} and receives FetchResponse{events[], latestReplayId,
pendingNumRequested} (docs/pub-sub-api-node-client/src/client.js:265-338;
pubsub_api.proto:133-178). Its flow control is a semaphore: the client
re-requests numRequested more events whenever the outstanding count drains
to zero (client.js:977-995), and keepalive responses with no events still
advance latestReplayId (client.js:846-857).

Spark-first shape: Structured Streaming cannot host a push gRPC stream as a
native source without a custom DataSource V2 — and does not need to. The
bridge is a tiny single-threaded receiver (one per topic-partition; run N
bridges for N subscriptions) that turns each FetchResponse into ONE
atomically-appearing jsonl file of wire envelopes; `read_event_stream` +
`run_cdc_pipeline` consume the inbox exactly as they consume any bus
directory, with Spark's checkpoint/offset tracking unchanged. Everything
after the socket — flow control, keepalive offset advance, envelope
mapping, atomic handoff, counters — is real and tested; only the wire
channel itself (`GrpcSubscribeTransport`) is stubbed at the grpcio seam,
the same declared-stub pattern as the media decode (multimodal.py).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Protocol

from cdc_worker_spark.operators import index_layout


class SubscribeTransport(Protocol):
    """The wire seam. ``fetch`` yields FetchResponse-like dicts:

    ``{"events": [{"replay_id_b64": str, "schema_id": str, "payload": str},
    ...], "latest_replay_id_b64": str | None}``

    An empty ``events`` list is a keepalive. ``request_more(n)`` is the
    client's flow-control signal (a new FetchRequest for ``n`` events).
    """

    def fetch(
        self,
        topic: str,
        replay_preset: str,
        replay_id_b64: str | None,
        num_requested: int,
    ) -> Iterator[dict]: ...

    def request_more(self, n: int) -> None: ...


class GrpcSubscribeTransport:
    """The real wire transport — STUB at the grpcio seam (the container has
    no grpcio and no network). A deployment implements ``fetch`` by opening
    the bidirectional Subscribe RPC from the public pubsub_api.proto with
    auth metadata, decoding each event's Avro payload against its
    schema_id (GetSchema RPC, memoized), and yielding the dicts above."""

    def __init__(self) -> None:
        try:
            import grpc  # noqa: F401
        except ImportError as e:  # pragma: no cover - exercised by test
            raise NotImplementedError(
                "grpcio is not available in this environment; "
                "GrpcSubscribeTransport is the declared wire seam — "
                "use a SubscribeTransport implementation bound to your "
                "Pub/Sub endpoint"
            ) from e


@dataclass
class BridgeStatus:
    """Receiver-side counters (reference C3: receivedEventCount / last
    replay id, client.js:747-748,778)."""

    received: int = 0
    keepalives: int = 0
    files: list[str] = field(default_factory=list)
    last_replay_id_b64: str | None = None
    fetch_requests: list[int] = field(default_factory=list)


def commit_offset(path: str, replay_id_b64: str) -> None:
    """A6 managed-subscription commit (client.js:515-541 commitReplayId):
    durably record the replay id to resume from. One atomic publish, so
    a crash mid-write never corrupts the stored offset."""
    index_layout.publish(path, replay_id_b64)


def load_committed_offset(path: str) -> str | None:
    """Read the last committed replay id (None = no commit yet → the caller
    falls back to its replay preset, the reference's subscribe default)."""
    try:
        with open(path) as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        return None


def run_subscribe_bridge(
    transport: SubscribeTransport,
    topic: str,
    inbox_dir: str,
    num_requested: int = 100,
    replay_preset: str = "LATEST",
    replay_id_b64: str | None = None,
    max_responses: int | None = None,
) -> BridgeStatus:
    """Drain the subscribe stream into ``inbox_dir``.

    Each FetchResponse becomes one jsonl file published atomically, so
    the Spark file source never observes a partial batch (the same atomic
    handoff as the publish sinks). Flow control mirrors the reference: the
    outstanding-event semaphore starts at ``num_requested`` and a new
    FetchRequest is issued the moment it drains to zero."""
    os.makedirs(inbox_dir, exist_ok=True)
    status = BridgeStatus(fetch_requests=[num_requested])
    outstanding = num_requested
    for i, resp in enumerate(
        transport.fetch(topic, replay_preset, replay_id_b64, num_requested)
    ):
        events = resp.get("events") or []
        if events:
            name = f"{topic.replace('/', '_')}-{uuid.uuid4().hex}.jsonl"
            path = os.path.join(inbox_dir, name)
            index_layout.publish(  # atomic appear
                path,
                "".join(
                    json.dumps(
                        {
                            "replay_id_b64": e["replay_id_b64"],
                            "schema_id": e["schema_id"],
                            "payload": e["payload"],
                        }
                    )
                    + "\n"
                    for e in events
                ),
            )
            status.files.append(path)
            status.received += len(events)
            status.last_replay_id_b64 = events[-1]["replay_id_b64"]
        else:
            # keepalive: no events, but the stream's latest replay id still
            # advances so a restart can resume without replaying the gap
            status.keepalives += 1
        if resp.get("latest_replay_id_b64"):
            status.last_replay_id_b64 = resp["latest_replay_id_b64"]
        outstanding -= len(events)
        if outstanding <= 0:
            transport.request_more(num_requested)
            status.fetch_requests.append(num_requested)
            outstanding += num_requested
        if max_responses is not None and i + 1 >= max_responses:
            break
    return status
