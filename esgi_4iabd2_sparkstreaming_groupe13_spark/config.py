"""Engine configuration.

Mirrors the consumer stream/output knobs of the reference's
``application.conf`` (:44-92) as a plain dataclass — no Typesafe-config
dependency, no hidden defaults. The producer's knobs are arguments of
``streaming.producer.replay_to_ndjson`` and the ``producer`` CLI.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ConsumerConfig:
    """Streaming-consumer knobs (reference ``taxi.consumer``)."""

    input_dir: str = "data/streaming"
    max_files_per_trigger: int = 1
    trigger_seconds: float = 10.0
    output_dir: str = "data/processed"
    output_format: str = "json"
    checkpoint_dir: str = "data/processed/checkpoints/raw"
    enable_console: bool = False
    #: False = reference parity: plain appends, at-least-once per dir
    #: on crash-replay (StreamProcessor.scala:148-192 semantics).
    #: True = scale mode: every sink partitioned by batch_id with
    #: dynamic partition overwrite — replaying a micro-batch
    #: overwrites its own partition, making recovery idempotent
    #: (exactly-once per directory).
    idempotent_sinks: bool = False
