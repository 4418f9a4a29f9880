"""Source registry — the StorageProvider analog.

Reference interface: ``StorageProvider{PrepareStorage, HasStorageLocally,
GetVolumeSize, ...}`` (`pkg/storage/types.go:7-18`) with IPFS api-copy,
FUSE, URL-download and noop drivers. Spark-first restatement: a format
registry over ``spark.read`` — lazy columnar scans replace eager CID copies
(column pruning + predicate pushdown are the lazy-mount analog).
"""

from __future__ import annotations

import urllib.parse

from pyspark.sql import DataFrame, SparkSession

# xml is native in Spark 4 (rowTag option); avro stays out — it ships as
# an external module this offline container does not carry.
_FORMATS = ("parquet", "csv", "json", "text", "orc", "binaryFile", "xml")


def read(spark: SparkSession, fmt: str, path: str, schema: str | None = None,
         **options) -> DataFrame:
    """Lazy scan of `path` in format `fmt`. Explicit schema preferred for the
    correctness gate (no runtime inference surprises)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def is_url_supported(raw_url: str) -> bool:
    """Scheme validation — mirrors IsURLSupported
    (`pkg/storage/url/urldownload/storage.go:109-120`)."""
    parsed = urllib.parse.urlparse(raw_url)
    return parsed.scheme in ("http", "https") and bool(parsed.netloc)

