from .schema import (
    CHANGE_EVENT_SCHEMA,
    TARGET_SCHEMA,
    TARGET_SCHEMA_BASE,
    HISTORY_SCHEMA,
    HISTORY_SCHEMA_BASE,
    LINEAGE_SCHEMA,
    DEAD_LETTER_SCHEMA,
    END_OF_TIME,
)
from .dedup import lww_reduce
from .merge import merge_into
from .pipeline import CdcPipeline
from .scd2 import apply_history, as_of, current
from .stateful import running_doc_state
from .stream import (
    decode_kafka_value,
    kafka_reader_options,
    kafka_source,
    replay_batches,
    run_stream,
)

__all__ = [
    "CHANGE_EVENT_SCHEMA",
    "TARGET_SCHEMA",
    "TARGET_SCHEMA_BASE",
    "HISTORY_SCHEMA",
    "HISTORY_SCHEMA_BASE",
    "LINEAGE_SCHEMA",
    "DEAD_LETTER_SCHEMA",
    "END_OF_TIME",
    "lww_reduce",
    "merge_into",
    "CdcPipeline",
    "apply_history",
    "as_of",
    "current",
    "decode_kafka_value",
    "kafka_reader_options",
    "kafka_source",
    "replay_batches",
    "run_stream",
    "running_doc_state",
]
