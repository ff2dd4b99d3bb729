"""Direct reads of a searcher's bucketed parquet tables, with no Spark job.

Lucene builds a query's TermContext and reads a shard's postings as
in-process file reads. Here the driver does the same for the two small
reads a query needs: the term-stats lookup and a small posting-block scan.
`BucketFiles` holds the files a Spark reader listed when the searcher
opened (`DataFrame.inputFiles()`, which runs no job), grouped by their
`bucket=N` directory, and reads the wanted buckets' files with
`pyarrow.dataset`. Row groups are pruned by the filter's column min/max
statistics, as Spark's parquet scan prunes them, and the files are read
with the Spark reader's own schema, so the rows are those a Spark scan of
the same snapshot returns. Files added later (an increment's `inc_*`
files) become visible at the next open, as they do to the Spark readers.
"""

from __future__ import annotations

import os
import pathlib
import re
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: the bucket=N directory a file sits in (its parent directory)
_BUCKET_DIR = re.compile(r"/bucket=(\d+)/[^/]*$")


def index_filesystem(root: str) -> pafs.FileSystem:
    """The filesystem the index root lives on, resolved once per searcher
    from the root's URI."""
    return pafs.FileSystem.from_uri(pathlib.Path(os.path.abspath(root)).as_uri())[0]


def _file_schema(spark_schema: T.StructType) -> pa.Schema:
    """The Arrow schema of a Spark reader's explicit schema, minus the
    `bucket` partition column (it lives in the path, not the file). Every
    field is nullable, as Spark reads every parquet column."""
    return pa.schema(
        f.with_nullable(True)
        for f in to_arrow_schema(
            T.StructType([f for f in spark_schema.fields if f.name != "bucket"])
        )
    )


def _uri_path(uri: str) -> str:
    """Filesystem path of a Spark file URI (`file:///a%20b/x` -> `/a b/x`)."""
    return unquote(urlsplit(uri).path)


class BucketFiles:
    """The file snapshot of one `partitionBy("bucket")` parquet table."""

    def __init__(self, fs: pafs.FileSystem, reader: DataFrame, spark_schema: T.StructType):
        self._fs = fs
        self._schema = _file_schema(spark_schema)
        self._files: dict[int, list[str]] = {}
        # a generation-0 (empty) table has no bucket files at all; a file
        # outside any bucket=N directory holds no rows a bucket filter keeps
        for uri in reader.inputFiles():
            m = _BUCKET_DIR.search(uri)
            if m is not None:
                self._files.setdefault(int(m.group(1)), []).append(_uri_path(uri))

    def read(self, buckets, columns: list[str], where: ds.Expression) -> pa.Table:
        """Rows of the given buckets' files that pass `where`."""
        files = [f for b in buckets for f in self._files.get(b, ())]
        if not files:
            return self._schema.empty_table().select(columns)
        return ds.FileSystemDataset.from_paths(
            files, schema=self._schema, format=ds.ParquetFileFormat(), filesystem=self._fs
        ).to_table(columns=columns, filter=where)
