"""Parquet IO: the synthetic pages table is written with pyarrow (no Spark
needed at generation time; generation happens driver-side once), and
`read_spread` is the one Spark reader that decides a scan's layout.

At real scale this table is an Iceberg table partitioned by days(warc_ts) /
bucket(url); this sandbox has no Iceberg runtime jar, so plain parquet stands
in — the pipeline only relies on (a) columnar scan with pruning and (b)
partition-granular overwrite, both of which parquet provides.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.parquet as pq

from .synth import golden_rows, pages_rows

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

GOLDEN_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("seg_no", pa.int32(), nullable=False),
        pa.field("extracted_text", pa.string(), nullable=False),
    ]
)


def write_pages_parquet(path: str, n: int, seed: int = 42, row_group_size: int = 256) -> str:
    # small row groups: Spark can't split a file below row-group granularity,
    # and the scaling bench needs >= cores splits from one file.
    """Generate n synthetic pages and write one parquet file at `path`."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    rows = pages_rows(n, seed)
    table = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA)
    pq.write_table(table, path, row_group_size=row_group_size)
    return path


def write_golden_parquet(path: str, n: int, seed: int = 42) -> str:
    """Golden (url, seg_no, extracted_text) rows for the same generation."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    rows = golden_rows(n, seed)
    table = pa.Table.from_pylist(rows, schema=GOLDEN_ARROW_SCHEMA)
    pq.write_table(table, path)
    return path


def _row_groups_below(pages_path: str, cores: int) -> bool:
    """True iff the LOCAL parquet input's total row-group count is below
    `cores` — i.e. the scan cannot reach full parallelism no matter the
    split size (parquet is unsplittable below row-group granularity).
    Only reads footers when the file COUNT is already below `cores` (a
    many-file input is parallel enough without any probe), so at scale
    this never touches a footer.  Non-local paths, and files that cannot be
    read or are not parquet (OSError, pyarrow's ArrowException), give
    False; any other error propagates."""
    try:
        if os.path.isdir(pages_path):
            files = [
                os.path.join(root, f)
                for root, _dirs, fs in os.walk(pages_path)
                for f in fs
                if f.endswith(".parquet")
            ]
        elif os.path.isfile(pages_path):
            files = [pages_path]
        else:
            return False
        if len(files) >= cores:
            return False
        groups = 0
        for f in files:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            if groups >= cores:
                return False
        return True
    except (OSError, pa.ArrowException):
        return False


def read_spread(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet at `path`, round-robined once to defaultParallelism
    iff its row groups are fewer than the cores (`_row_groups_below`).

    Parquet cannot split below a row group, so a few single-row-group files
    would run every narrow stage that follows (regex passes, Python UDFs)
    on that many cores.  The layout is decided here, at ingress, so the
    operators downstream stay lazy transforms that never plan or run a job.
    Catalyst pushes projections and filters below the round-robin
    Exchange, so callers still read only the columns and rows they use.  A
    many-file input reads no footer and gets no Exchange.

    A driver-side probe (a first() row, a centroid sample) or a small
    broadcast/probe-side input reads the bare scan instead: over this
    frame the probe would run the whole round-robin shuffle to fetch a few
    rows, and the side input would add a second Exchange.  `queries._load`
    registers both layouts of a query table once per session, as the
    views `t` and `t_spread`."""
    df = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    return df.repartition(cores) if _row_groups_below(path, cores) else df
