"""The numpy array kernels against independent numpy oracles: the
QA-masked temporal composite (reference glad.py:259-282) and the
nan-aware block average. No Spark; the golden build tests in
test_pipeline.py check the same kernels end to end."""

from __future__ import annotations

import statistics
import weakref

import numpy as np
import pytest

from flytemosaic_spark.operators.raster import coarsen, composite

pytestmark = pytest.mark.filterwarnings(
    "ignore:All-NaN slice:RuntimeWarning", "ignore:Mean of empty slice:RuntimeWarning"
)

N_SCENES, N_BANDS, SIZE = 6, 4, 8
NEVER_CLEAR = (0, 0)  # pixel clear in no scene


def _scene(k: int) -> np.ndarray:
    """Scene ``k`` of a deterministic stack (bands, y, x); the last band
    is QA in {0, 1, 2}, so only QA == 1 counts as clear."""
    rng = np.random.default_rng(100 + k)
    s = rng.integers(0, 4000, size=(N_BANDS, SIZE, SIZE)).astype("f4")
    s[-1] = rng.integers(0, 3, size=(SIZE, SIZE))
    s[-1][NEVER_CLEAR] = 0
    return s


def _oracle(reducer: str) -> np.ndarray:
    stack = np.stack([_scene(k) for k in range(N_SCENES)]).astype("f8")
    masked = np.where(stack[:, -1:] == 1, stack[:, :-1], np.nan)
    return (np.nanmean if reducer == "mean" else np.nanmedian)(masked, axis=0)


def _long_oracle(reducer: str) -> np.ndarray:
    """The same reduction in long form: one (band, y, x, value) row per
    clear pixel of every scene, grouped and reduced in plain Python."""
    groups: dict[tuple[int, int, int], list[float]] = {}
    for k in range(N_SCENES):
        s = _scene(k)
        for b in range(N_BANDS - 1):
            for y in range(SIZE):
                for x in range(SIZE):
                    if s[-1, y, x] == 1:
                        groups.setdefault((b, y, x), []).append(float(s[b, y, x]))
    reduce = statistics.fmean if reducer == "mean" else statistics.median
    out = np.full((N_BANDS - 1, SIZE, SIZE), np.nan)
    for key, vals in groups.items():
        out[key] = reduce(vals)
    return out


@pytest.mark.parametrize("reducer", ["mean", "median"])
def test_long_model_matches_numpy(reducer):
    """composite over the whole scenes equals the long-form group-by
    reduction and the masked numpy reduction."""
    got = composite((_scene(k) for k in range(N_SCENES)), reducer)
    assert got.dtype == np.float32
    assert got.shape == (N_BANDS - 1, SIZE, SIZE)
    np.testing.assert_allclose(got, _long_oracle(reducer), rtol=1e-6, equal_nan=True)
    np.testing.assert_allclose(got, _oracle(reducer), rtol=1e-6, equal_nan=True)
    assert np.isnan(got[(slice(None), *NEVER_CLEAR)]).all()


@pytest.mark.parametrize("reducer", ["mean", "median"])
def test_chunk_model_matches_numpy(reducer):
    """The build kernel composites one spatial chunk at a time; the
    chunk results stitched together equal the masked numpy reduction
    over the whole scenes."""
    chunk = SIZE // 2
    got = np.full((N_BANDS - 1, SIZE, SIZE), -1.0, "f4")
    for y0 in range(0, SIZE, chunk):
        for x0 in range(0, SIZE, chunk):
            win = (slice(None), slice(y0, y0 + chunk), slice(x0, x0 + chunk))
            part = composite((_scene(k)[win] for k in range(N_SCENES)), reducer)
            assert part.dtype == np.float32
            assert part.shape == (N_BANDS - 1, chunk, chunk)
            got[win] = part
    np.testing.assert_allclose(got, _oracle(reducer), rtol=1e-6, equal_nan=True)
    assert np.isnan(got[(slice(None), *NEVER_CLEAR)]).all()


def test_composite_mean_keeps_one_scene_resident():
    """The mean streams: by the time scene k+1 is produced, scene k-1
    has been released."""
    refs = []

    def scenes():
        for k in range(N_SCENES):
            if k >= 2:
                assert refs[k - 2]() is None, f"scene {k - 2} alive at scene {k}"
            scene = _scene(k)
            refs.append(weakref.ref(scene))
            yield scene

    got = composite(scenes(), "mean")
    assert len(refs) == N_SCENES
    np.testing.assert_allclose(got, _oracle("mean"), rtol=1e-6, equal_nan=True)


def test_composite_rejects_unknown_reducer():
    def scenes():
        raise AssertionError("an unknown reducer must not read any scene")
        yield

    with pytest.raises(ValueError, match="unknown reducer"):
        composite(scenes(), "max")
    with pytest.raises(ValueError):
        composite(iter(()), "mean")


def test_coarsen_matches_numpy():
    factor = 4
    rng = np.random.default_rng(7)
    arr = rng.random((2, 8, 12)).astype("f4")
    arr[0, :4, :4] = np.nan  # all-NaN block: stays NaN
    arr[1, 4:8, 8:12][::2] = np.nan  # half-NaN block: NaN excluded
    got = coarsen(arr, factor)

    want = np.empty((2, 2, 3))
    for b in range(2):
        for yb in range(2):
            for xb in range(3):
                block = arr[b, yb * factor : (yb + 1) * factor, xb * factor : (xb + 1) * factor]
                vals = [float(v) for v in block.ravel() if not np.isnan(v)]
                want[b, yb, xb] = sum(vals) / len(vals) if vals else np.nan
    assert got.dtype == np.float32
    np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)
    assert np.isnan(got[0, 0, 0])
    assert np.isnan(got).sum() == 1
