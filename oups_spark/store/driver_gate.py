"""Driver gate: the one policy deciding when a store, CDC, sketch or
AggStream step runs driver-side with pyarrow instead of as a
distributed Spark plan. The sites: the store's merge write, merge_into,
delete/update_where, compact and zorder rewrites; the CDC sink's batch
probe; sketch register folds; and each AggStream chunk, aggregated
from one collected Arrow table.

Three bounds, each defined here once and read at call time (patch
``MAX_ROWS`` or ``MAX_BYTES`` on this module and every site follows):

- **row cap** ``MAX_ROWS``: rows a step collects to or decodes on the
  driver (new batch + the files it overlaps);
- **estimated-bytes cap** ``MAX_BYTES``: the Arrow bytes a step is
  priced at before it decodes anything — collected tables at their
  actual size, parquet files from their footer (:func:`decoded_bytes`);
- **hard bail** at ``2 × MAX_BYTES`` of bytes actually collected
  (:func:`collect`) or decoded (:func:`decode`). The footer estimate
  can be fooled (its "uncompressed" size is post-dictionary-encoding,
  so repeated strings decode far larger); this bound cannot, and it
  caps peak driver memory at the budget plus one record batch.

Binary and nested columns never take a driver path
(:func:`arrow_safe`): the row cap does not bound their bytes.

Over any bound the caller runs its distributed plan — a fallback is
never wrong, only slower. A collect counts as "too big" only when
Spark refuses the result (``spark.driver.maxResultSize``) or the
driver runs out of memory; every other error raises.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException

# batch + overlap row bound under which a step runs driver-side (one
# Spark collect job, or none) instead of the distributed job train —
# the frequent-small-flush latency path
MAX_ROWS = 100_000
# the row cap does not bound bytes when the payload is wide text
# (100k multi-KB documents is multi-GB)
MAX_BYTES = 128 << 20
# snappy-parquet -> in-memory Arrow inflation assumed for a file whose
# footer cannot be read
_INFLATION = 4
_BATCH_ROWS = 16384
# what a too-big collect looks like from Python: Spark's result-size
# refusal or a JVM heap exhaustion on the driver
_TOO_BIG = ("spark.driver.maxResultSize", "java.lang.OutOfMemoryError")


def arrow_safe(schema) -> bool:
    """No binary/array/map/struct column in the Spark ``schema``."""
    return not any(
        t in f.dataType.simpleString()
        for f in schema.fields
        for t in ("binary", "array", "map", "struct")
    )


def _hard_cap() -> int:
    return 2 * MAX_BYTES


def fits(rows: int, nbytes: int = 0, paths=()) -> bool:
    """``rows`` within the row cap and ``nbytes`` plus the footer
    estimate of ``paths`` within the byte cap. Footers are read only
    when the rows fit."""
    return rows <= MAX_ROWS and nbytes + decoded_bytes(paths) <= MAX_BYTES


def decoded_bytes(paths) -> int:
    """Estimated decoded Arrow bytes of parquet files: the footer's
    ``total_uncompressed_size`` (a local metadata read — exact even
    for highly compressible text, where on-disk size × a fixed factor
    undercounts 10-50×), falling back to on-disk size × ``_INFLATION``;
    effectively ∞ when neither can be read (stay distributed)."""
    total = 0
    for p in paths:
        try:
            md = pq.ParquetFile(p).metadata
            total += sum(
                md.row_group(g).column(c).total_uncompressed_size
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            )
        except (OSError, pa.ArrowException):
            try:
                total += os.path.getsize(p) * _INFLATION
            except OSError:
                return 1 << 62
    return total


def collect(df, *, max_rows: int | None = None, max_bytes: int | None = None):
    """``df`` as one Arrow table, or None when it is too big for the
    driver: more than ``max_rows`` rows (then collected as a
    ``limit(max_rows + 1)`` probe), more than ``max_bytes`` Arrow
    bytes (default: the hard bail), or refused by Spark or the driver
    heap. Any other collect error raises."""
    try:
        tbl = (df if max_rows is None else df.limit(max_rows + 1)).toArrow()
    except (Py4JError, PySparkException, MemoryError) as exc:
        if isinstance(exc, MemoryError) or any(m in str(exc) for m in _TOO_BIG):
            return None
        raise
    if max_rows is not None and tbl.num_rows > max_rows:
        return None
    if tbl.nbytes > (_hard_cap() if max_bytes is None else max_bytes):
        return None
    return tbl


def decode(paths, used: int = 0) -> list | None:
    """Each parquet file as one Arrow table under its own file schema,
    decoded a record batch at a time; None as soon as the decoded
    bytes plus ``used`` (bytes the caller already holds) pass the hard
    bail. Read and schema errors raise: schema policy is the
    caller's."""
    cap = _hard_cap()
    if used > cap:
        return None
    tables = []
    for p in paths:
        pf = pq.ParquetFile(p)
        batches = []
        for rb in pf.iter_batches(batch_size=_BATCH_ROWS):
            used += rb.nbytes
            if used > cap:
                return None
            batches.append(rb)
        tables.append(pa.Table.from_batches(batches, schema=pf.schema_arrow))
    return tables
