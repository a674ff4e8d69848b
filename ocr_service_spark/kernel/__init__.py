"""Pure-Python extraction kernels (no Spark, no third-party deps).

Each kernel is a deterministic single-document function. The Spark
pipeline wraps these in one iterator Arrow UDF (pyarrow arrays)
(ocr_service_spark.operators.extract); pytest runs the same functions
in-process as the byte-identity oracle. This mirrors the reference's
split between the OCR kernel (reference core/ocr_engine.py:178-293) and
the orchestration layer (reference core/processor.py:97-398).
"""

from ocr_service_spark.kernel.extract_html import extract_html  # noqa: F401
from ocr_service_spark.kernel.extract_pdf import extract_pdf  # noqa: F401
from ocr_service_spark.kernel.dispatch import extract_document  # noqa: F401
