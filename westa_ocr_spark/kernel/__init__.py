"""Pure-Python extraction kernels (no Spark imports).

These functions define the byte-exact extraction contract; the Spark
operators in ``westa_ocr_spark.operators`` merely batch them over Arrow
record batches. Keeping them dependency-free (stdlib only) freezes the
normalization rules against library version drift (SURVEY.md §7.3).
"""

from westa_ocr_spark.kernel.html_extract import extract_html  # noqa: F401
from westa_ocr_spark.kernel.pdf_mini import (  # noqa: F401
    extract_pdf_pages,
    write_pdf,
)

# One pixel cap for the image decoders (PNG, GIF, JPEG): each checks a
# header's w*h against it before any inflate or allocation, so a few
# header bytes cannot ask for gigabytes (4096x4096 still decodes).
MAX_PIXELS = 1 << 24


def check_pixels(fmt: str, w: int, h: int) -> None:
    """Raise ``ValueError`` when a ``w`` x ``h`` header exceeds
    :data:`MAX_PIXELS`."""
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"{fmt}: {w}x{h} exceeds the MAX_PIXELS cap of "
            f"{MAX_PIXELS} pixels"
        )
