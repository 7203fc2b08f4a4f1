"""Executor-side file access: content and size for exactly the paths in a
frame.

The Spark-native file sources need a path list (or glob) known at plan time;
when the file set is *data-dependent* (e.g. "the destination metadata files
of this insert batch", "the orphan data files of this pairing"), a glob
would over-read and a collected path list would round-trip through the
driver. Instead the path frame itself drives the read: an Arrow-batched
``mapInPandas`` opens each file on the executor that owns the row. On a
cluster the open() goes to the shared filesystem (NFS-style mounts here;
an object-store deployment swaps in fsspec) — nothing ever materializes
driver-side.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType


def fetch_text_files(df: DataFrame, path_col: str = "path") -> DataFrame:
    """Append a ``content`` column: the whole file at ``path_col`` as UTF-8
    text, NULL when the file is missing or unreadable."""
    out_schema = StructType(
        list(df.schema.fields) + [StructField("content", StringType(), True)]
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            contents = []
            for path in batch[path_col]:
                try:
                    with open(path, encoding="utf-8", errors="replace") as f:
                        contents.append(f.read())
                except OSError:
                    contents.append(None)
            out = batch.copy()
            out["content"] = contents
            yield out

    return df.mapInPandas(_read, schema=out_schema)


def file_size(path: Column | str) -> Column:
    """The size in bytes of the file at ``path``, stat-ed on the executor;
    NULL when the path is NULL or names no file. A stat, never a Spark
    listing: a listing skips paths with a component starting ``_`` or ``.``."""

    def sizes(paths: pd.Series) -> pd.Series:
        def size(p):
            try:
                return None if p is None else os.stat(p).st_size
            except OSError:
                return None

        return pd.Series([size(p) for p in paths], dtype="Int64")

    return pandas_udf(sizes, "long")(path)
