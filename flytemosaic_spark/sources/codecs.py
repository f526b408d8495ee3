"""Chunk-payload codec registry — numcodecs-compatible ids.

The chunk store declares its compressor in ``.zarray`` exactly like
Zarr v2 / numcodecs, and ``sources/chunkstore.py:read_chunk`` /
``write_chunk`` are the store's only callers of this registry: ``None`` (raw), ``{"id": "zlib", "level": n}``,
``{"id": "lz4"}`` (4-byte LE size prefix + LZ4 block — the numcodecs
wire format, real-world Zarr's most common codec family), or
``{"id": "zstd", "level": n}`` (one zstd frame; encode through
libzstd when pyarrow is present, else a valid store-mode frame —
decode is always the pure-Python RFC 8878 tier). All are
dependency-free on the read path, and the lz4/zstd tiers are
validated against the real libraries in tests.
"""

from __future__ import annotations

import struct
import zlib


def _pa_codec(name: str):
    """The bundled real codec when pyarrow is importable, else None —
    the fast path for worker-side chunk WRITES (the pure-Python tiers
    are correct but ~50x slower per MB; at 100 TB the write path must
    ride the native library when one is present). Reads keep working
    dependency-free either way."""
    try:
        import pyarrow as pa

        if pa.Codec.is_available(name):
            return pa.Codec(name)
    except ImportError:
        pass
    return None


def normalize_compressor(spec) -> dict | None:
    """User-facing spec -> the ``.zarray`` compressor dict: ``None``,
    an int (back-compat: zlib level), a codec id string, or a full
    dict."""
    if spec is None:
        return None
    if isinstance(spec, int):
        return {"id": "zlib", "level": int(spec)}
    if isinstance(spec, str):
        return {"id": spec}
    return dict(spec)


def compress_chunk(data: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return data
    cid = comp.get("id")
    if cid == "zlib":
        return zlib.compress(data, int(comp.get("level", 1)))
    if cid == "lz4":
        c = _pa_codec("lz4_raw")
        if c is not None:  # numcodecs wire = LE size prefix + block
            return struct.pack("<I", len(data)) + c.compress(
                data, asbytes=True
            )
        from flytemosaic_spark.sources.lz4 import numcodecs_lz4_encode

        return numcodecs_lz4_encode(data)
    if cid == "zstd":
        from flytemosaic_spark.sources.zstd import encode_zstd

        return encode_zstd(data, int(comp.get("level", 3)))
    if cid == "snappy":
        c = _pa_codec("snappy")
        if c is not None:
            return c.compress(data, asbytes=True)
        from flytemosaic_spark.sources.snappy import compress

        return compress(data)
    raise NotImplementedError(
        f"chunk codec {cid!r} (zlib/lz4/zstd/snappy)"
    )


def decompress_chunk(data: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return data
    cid = comp.get("id")
    if cid == "zlib":
        return zlib.decompress(data)
    if cid == "lz4":
        from flytemosaic_spark.sources.lz4 import numcodecs_lz4_decode

        return numcodecs_lz4_decode(data)
    if cid == "zstd":
        from flytemosaic_spark.sources.zstd import decode_zstd

        return decode_zstd(data)
    if cid == "snappy":
        from flytemosaic_spark.sources.snappy import decompress

        return decompress(data)
    raise NotImplementedError(
        f"chunk codec {cid!r} (zlib/lz4/zstd/snappy)"
    )
