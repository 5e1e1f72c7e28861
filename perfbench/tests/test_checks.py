import math

import pytest

pytest.importorskip("tsrollup")

from workloads import _same_rows  # noqa: E402


def _row(**kw):
    r = {"doc_id": "web-0001-00000000", "source": "web", "tier": "1m",
         "window_start": 0, "count": 3, "sum": 6, "sumsq": 14, "min": 1,
         "max": 3, "mean": 2.0, "var": 2 / 3, "spec_energy": 1.0,
         "spec_mass": 2.0, "spec_centroid": 2.0,
         "band_energy": [0.5, 0.25, 0.25, 0.0]}
    r.update(kw)
    return r


def test_rows_compare_order_free_and_nan_equal():
    a = [_row(window_start=64, spec_centroid=math.nan), _row()]
    b = [_row(), _row(window_start=64, spec_centroid=float("nan"))]
    assert _same_rows(a, b)


def test_rows_compare_floats_bitwise():
    assert not _same_rows([_row(mean=2.0)], [_row(mean=2.0000000000000004)])
    assert not _same_rows([_row(band_energy=[0.5, 0.25, 0.25, 1e-300])],
                          [_row()])
    assert not _same_rows([_row()], [_row(), _row(window_start=64)])
