from .processor import process_batch, start_consumer
from .producer import replay_to_ndjson

__all__ = [
    "process_batch",
    "start_consumer",
    "replay_to_ndjson",
]
