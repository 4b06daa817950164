"""Pure pandas/numpy kernels — unit-testable without a SparkSession.

Each kernel has one implementation, the scalar reference function the
single-process oracle calls. A pandas UDF on the cluster applies that
same function to every element of an Arrow batch (one Python call per
batch), so the two paths cannot drift apart.
"""

from docproc_spark.kernels.sanitize import (  # noqa: F401
    sanitize_text,
    sanitize_series,
    boilerplate_kind,
    DROP_KINDS_DEFAULT,
)
from docproc_spark.kernels.captions import caption_stub, caption_series  # noqa: F401
from docproc_spark.kernels.assembly import assemble_document  # noqa: F401
from docproc_spark.kernels.html import html_main_blocks  # noqa: F401
