"""The flagship array kernels in plain numpy: the QA-masked temporal
composite (reference flytemosaic/datasets/glad.py:259-282) and the
nan-aware block-average downsample (reference flyte/utils.py:100-109,
GDAL ``RESAMPLING=average``).

They import no Spark: ``pipeline.build_mosaic`` calls them inside its
fused ``mapInPandas`` kernel, once per output chunk, and tests run
them on local arrays.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np

QA_CLEAR = 1.0
REDUCERS = ("mean", "median")


def composite(scenes: Iterable[np.ndarray], reducer: str) -> np.ndarray:
    """Reduce a time stack of ``(bands, y, x)`` scenes, whose last band
    is the QA flag, to a float32 ``(bands - 1, y, x)`` composite of the
    values where QA == ``QA_CLEAR``; a pixel clear in no scene is NaN.

    ``mean`` streams: one scene is resident at a time, next to f8 sum
    and i4 count accumulators, so peak memory does not grow with the
    stack (the reference spills to local zarr for the same reason,
    utils.py:128-131). ``median`` needs the whole stack.
    """
    if reducer not in REDUCERS:
        raise ValueError(f"unknown reducer: {reducer!r}, expected one of {REDUCERS}")
    if reducer == "median":
        stack = np.stack(list(scenes))
        vals = np.where(stack[:, -1:] == QA_CLEAR, stack[:, :-1], np.nan)
        with np.errstate(invalid="ignore"):
            return np.nanmedian(vals, axis=0).astype("f4")
    acc = cnt = None
    for s in scenes:
        if acc is None:
            acc = np.zeros(s[:-1].shape, "f8")
            cnt = np.zeros(s.shape[1:], "i4")
        ok = s[-1] == QA_CLEAR
        np.add(acc, s[:-1], out=acc, where=ok[None, :, :])
        cnt += ok
    if acc is None:
        raise ValueError("composite of no scenes")
    with np.errstate(invalid="ignore", divide="ignore"):
        comp = (acc / cnt).astype("f4")
    comp[:, cnt == 0] = np.nan
    return comp


def coarsen(arr: np.ndarray, factor: int) -> np.ndarray:
    """Block-average ``(bands, y, x)`` down by ``factor`` on both axes,
    NaN-aware: NaN is excluded from a block's mean, and an all-NaN
    block stays NaN (GDAL ``average`` over nodata)."""
    b, ny, nx = arr.shape
    blocks = arr.reshape(b, ny // factor, factor, nx // factor, factor)
    with np.errstate(invalid="ignore"):
        return np.nanmean(blocks, axis=(2, 4)).astype("f4")
