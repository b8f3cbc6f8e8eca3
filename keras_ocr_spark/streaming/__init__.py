from .extraction import read_transcript_stream, start_extraction, turn_rate_monitor
from .state import ROCKSDB_PROVIDER, use_rocksdb_state

__all__ = [
    "read_transcript_stream",
    "start_extraction",
    "turn_rate_monitor",
    "use_rocksdb_state",
    "ROCKSDB_PROVIDER",
]
