from .ingest import (  # noqa: F401
    drain,
    idempotent_parquet_sink,
    read_pages_stream,
    stream_tile_rollup,
)
from .stateful import running_user_profiles  # noqa: F401
