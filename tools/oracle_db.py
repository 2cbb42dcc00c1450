"""The one way tools and tests open a DuckDB oracle connection.

An unconfigured in-memory DuckDB may grow to 80% of the host's RAM and
spills to ``./.tmp`` under the working directory. Next to a Spark JVM
that is enough to run a 16 GB host out of memory. ``connect()`` bounds
both: a fixed memory limit and thread count, and spill in a fresh
directory under the system temp dir, which DuckDB creates on the first
spill and removes when the connection closes.
"""

from __future__ import annotations

import itertools
import os
import tempfile

import duckdb

#: DuckDB's buffer-pool limit; operators past it spill to disk
MEMORY_LIMIT = "2GB"
#: worker threads per connection (DuckDB's memory use grows with them)
THREADS = 4

_SEQ = itertools.count()


def connect() -> duckdb.DuckDBPyConnection:
    spill = os.path.join(
        tempfile.gettempdir(), f"duckdb-oracle-{os.getpid()}-{next(_SEQ)}"
    )
    return duckdb.connect(config={
        "memory_limit": MEMORY_LIMIT,
        "threads": THREADS,
        "temp_directory": spill,
    })
