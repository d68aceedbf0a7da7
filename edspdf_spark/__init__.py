"""edspdf_spark — a PySpark-native document/web-page text extraction engine.

Brand-new Spark-first engine with the query and data-processing capabilities
of EDS-PDF (``souleymane-mbaye/edspdf``, studied in SURVEY.md): an
extract → classify → aggregate pipeline over Common-Crawl-style pages
``(url, warc_ts, html, text, lang)``, expressed as DataFrame transformations
(broadcast joins, window argmax, groupBy) plus three vectorized Arrow-batch
UDF kernels (parse, ordered concat, forest inference). No per-row Python
anywhere.
"""

__version__ = "0.1.0"

# installs the stat-checked zipimporter.invalidate_caches in every process
# that imports the engine (drivers and Python workers alike)
from edspdf_spark import _zipimport  # noqa: F401
from edspdf_spark.session import get_spark
from edspdf_spark.schemas import (
    PAGES_SCHEMA,
    BLOC_SCHEMA,
    AGG_SCHEMA,
    METRICS_SCHEMA,
)

__all__ = [
    "get_spark",
    "PAGES_SCHEMA",
    "BLOC_SCHEMA",
    "AGG_SCHEMA",
    "METRICS_SCHEMA",
]
