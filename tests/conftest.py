from __future__ import annotations

import pytest

# the recognizer stem's im2col GEMMs for one ENCODE_CHUNK of 4 crops at
# 48x640 with the shipped channel widths: (rows per crop, K, N) per layer
_STEM_GEMMS = ((24 * 320, 9, 16), (12 * 160, 144, 32), (6 * 160, 288, 64))


def _gemm_row_stable(dtype) -> bool:
    """Are the first k rows of A @ B bitwise A[:k] @ B at the stem's
    shapes? The pad-splice stem and other bitwise-tier claims rely on it;
    a BLAS or CPU change can flip it."""
    import numpy as np

    rng = np.random.default_rng(0)
    for rows, k_dim, n in _STEM_GEMMS:
        a = rng.standard_normal((4 * rows, k_dim)).astype(dtype)
        b = rng.standard_normal((k_dim, n)).astype(dtype)
        full = a @ b
        # k >= 2: numpy routes a one-row product to GEMV, never a stem case
        for k in (7, rows // 3, rows + 5):
            if not np.array_equal(full[:k], a[:k] @ b):
                return False
    return True


def pytest_report_header(config):
    import numpy as np

    verdict = {
        name: "yes" if _gemm_row_stable(dt) else "no"
        for name, dt in (("fp32", np.float32), ("fp64", np.float64))
    }
    return f"gemm row-stable: fp32 {verdict['fp32']}, fp64 {verdict['fp64']}"


@pytest.fixture(scope="session")
def spark():
    from kiri_ocr_spark.session import get_spark

    s = get_spark(app_name="kiri-ocr-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_tiny() -> str:
    return "/root/testdata/sf0.001"
