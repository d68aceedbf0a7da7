from edspdf_spark.sources.readers import (
    read_pages_parquet,
    read_files_binary,
    from_pandas,
    from_iterable,
)
from edspdf_spark.sources.writers import (
    write_parquet,
    to_pandas,
    to_iterable,
    write_files,
    write_training_shards,
)
from edspdf_spark.sources.bucketed import write_bucketed_table
from edspdf_spark.sources.warc import (
    build_cdx,
    decode_payload,
    pages_to_warc,
    read_warc,
    read_warc_ranges,
    sniff_charset,
    update_cdx,
    write_warc,
)

__all__ = [
    "read_warc",
    "write_warc",
    "pages_to_warc",
    "build_cdx",
    "update_cdx",
    "read_warc_ranges",
    "sniff_charset",
    "decode_payload",
    "read_pages_parquet",
    "read_files_binary",
    "from_pandas",
    "from_iterable",
    "write_parquet",
    "to_pandas",
    "to_iterable",
    "write_files",
    "write_training_shards",
    "write_bucketed_table",
]
