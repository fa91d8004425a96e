from kafka_streams_spark.sources.testdata import (
    PAYMENTS_FROM_EVENTS_SQL,
    load_table,
    payments_from_events,
)

# Default per-trigger file cap of every file stream in the package
# (``maxFilesPerTrigger``). ``get_spark`` sets the parallel-listing
# threshold to it, so a trigger's files are stat'ed on the driver.
MAX_FILES_PER_TRIGGER = 100

__all__ = [
    "load_table",
    "payments_from_events",
    "PAYMENTS_FROM_EVENTS_SQL",
    "MAX_FILES_PER_TRIGGER",
]
