"""Golden-fixture I/O: oracle records ⇄ parquet (SURVEY.md §5.2 #1)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from .udfs import EXTRACTED_PA as _ROW_PA

# the extracted row format minus the columns that depend on the run
EXTRACTED_PA = pa.schema([f for f in _ROW_PA if f.name not in (
    "warc_ts", "bucket", "bytes_in", "_wall_ms")])


def write_golden(path: str, records: list[dict]) -> None:
    cols = {name: [r[name] for r in records] for name in EXTRACTED_PA.names}
    table = pa.Table.from_arrays(
        [pa.array(cols[n], type=EXTRACTED_PA.field(n).type) for n in EXTRACTED_PA.names],
        schema=EXTRACTED_PA,
    )
    pq.write_table(table, path)


def read_golden(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()
