from .catalog import Catalog  # noqa: F401
from .harvest_csv import read_harvest_csv, read_station_csv  # noqa: F401
from .jsonl import read_documents_jsonl, write_jsonl_sharded  # noqa: F401
from .skipping import (  # noqa: F401
    build_skipping,
    read_between,
    read_committed_between,
    read_committed_equals,
    read_equals,
    read_prefix,
    refresh_skipping,
)
from .warc import read_wet, wet_quarantine_counts  # noqa: F401
