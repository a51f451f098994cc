from .stateful_join import (
    batch_emission_trace,
    stateful_user_address_join,
    union_with_discriminator,
)
from .metrics import JsonlMetricsListener, read_metrics
from .sinks import KeyedUpsertSink, TransactionalKeyedUpsertSink, console_sink
from .stream_join import watermarked_stream_join

__all__ = [
    "batch_emission_trace",
    "stateful_user_address_join",
    "union_with_discriminator",
    "KeyedUpsertSink",
    "TransactionalKeyedUpsertSink",
    "console_sink",
    "JsonlMetricsListener",
    "read_metrics",
    "watermarked_stream_join",
]
