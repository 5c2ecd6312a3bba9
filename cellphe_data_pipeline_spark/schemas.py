"""Names of the driver-provided test tables (TESTDATA.md).

Engine tables carry their schemas where they are built (for example
``domain.images.FRAME_SCHEMA``); this module holds only the list of
parquet tables ``sources.tables.load_tables`` reads.
"""

from __future__ import annotations

#: Names of the driver-provided parquet tables at /root/testdata/sf*/.
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
