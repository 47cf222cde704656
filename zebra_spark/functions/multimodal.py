"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a metadata struct;
the Spark-side plumbing — schema, batching, partitioning, Arrow transfer,
UDF signatures — is real and tested.  Three containers decode for REAL:
binary PPM / P6 and 24-bit uncompressed BMP (both public formats, parsed
with numpy alone — see :func:`_parse_ppm_header` / :func:`ppm_image` /
:func:`_parse_bmp_header` / :func:`bmp_image`) and the deterministic
fake produced by :func:`fake_image` (encodes (height, width, channels) +
a seed so feature extraction / resizing are exactly testable).  Compressed
formats (JPEG/PNG/...) need an image library not present in this
container: ``decode_image`` raises ``NotImplementedError`` for them.

At scale the shape matters more than the decode: payloads stream through
``mapInArrow`` in bounded batches (a 100 MB video must not be row-wise
pickled), binary columns stay Arrow buffers end to end, and outputs are
fixed-size feature vectors that downstream similarity ops consume.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

FAKE_MAGIC = b"ZSIM"

MEDIA_DDL = (
    "media_id string, kind string, payload binary, "
    "meta struct<height:int, width:int, channels:int, duration_ms:int>"
)

FEATURES_DDL = (
    "media_id string, kind string, n_bytes long, hist array<int>, "
    "features array<float>"
)

N_FEATURES = 32


def fake_image(media_id: int, h: int, w: int, c: int = 3) -> bytes:
    """Deterministic stand-in payload: magic | h | w | c | seed."""
    head = FAKE_MAGIC + np.array([h, w, c, media_id], dtype="<i4").tobytes()
    rng = np.random.default_rng(media_id)
    return head + rng.integers(0, 256, size=min(h * w * c, 4096), dtype=np.uint8).tobytes()


def _parse_ppm_header(head: bytes):
    """Parse a binary PPM (P6) header: ``(h, w, body_offset)`` or None.

    Netpbm P6 grammar (public spec): ``P6`` then three whitespace-separated
    decimal fields (width, height, maxval), ``#`` comments allowed between
    fields, exactly ONE whitespace byte after maxval, then raw RGB bytes.
    Only maxval 255 (1 byte/sample) is supported — 2-byte-sample images
    return None and fall to the undecodable path.
    """
    if not head.startswith(b"P6"):
        return None
    i, vals = 2, []
    while len(vals) < 3 and i < len(head):
        while i < len(head):  # whitespace + comment runs between fields
            ch = head[i : i + 1]
            if ch == b"#":
                j = head.find(b"\n", i)
                if j < 0:
                    return None
                i = j + 1
            elif ch.isspace():
                i += 1
            else:
                break
        j = i
        while j < len(head) and head[j : j + 1].isdigit():
            j += 1
        if j == i:
            return None
        vals.append(int(head[i:j]))
        i = j
    if len(vals) < 3 or i >= len(head) or not head[i : i + 1].isspace():
        return None
    w, h, maxval = vals
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    return h, w, i + 1


def ppm_image(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6) bytes."""
    h, w, c = img.shape
    if c != 3:
        raise ValueError("PPM P6 carries exactly 3 channels")
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def _bmp_stride(w: int) -> int:
    """Bytes per 24-bit BMP row: 3 per pixel, padded to 4-byte boundary."""
    return (w * 3 + 3) & ~3


def bmp_image(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, BI_RGB): bottom-up rows, BGR pixel order, each row
    padded to a 4-byte boundary — the public Windows DIB layout."""
    h, w, c = img.shape
    if c != 3:
        raise ValueError("24-bit BMP carries exactly 3 channels")
    stride = _bmp_stride(w)
    body = np.zeros((h, stride), dtype=np.uint8)
    # bottom-up + RGB -> BGR
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    off = 14 + 40
    head = (
        b"BM"
        + np.uint32(off + h * stride).astype("<u4").tobytes()  # file size
        + b"\x00\x00\x00\x00"  # reserved
        + np.uint32(off).astype("<u4").tobytes()  # pixel-array offset
        + np.array([40, w, h], dtype="<i4").tobytes()  # DIB size, w, h
        + np.array([1, 24], dtype="<u2").tobytes()  # planes, bpp
        + np.array([0, h * stride, 2835, 2835, 0, 0], dtype="<u4").tobytes()
    )
    return head + body.tobytes()


def _parse_bmp_header(head: bytes):
    """(h, w, stride, body_offset, top_down) for a 24-bit BI_RGB BMP, or
    None when the payload is some other BMP flavor."""
    if len(head) < 54 or head[:2] != b"BM":
        return None
    off = int(np.frombuffer(head[10:14], dtype="<u4")[0])
    dib = int(np.frombuffer(head[14:18], dtype="<u4")[0])
    if dib < 40:
        return None  # BITMAPCOREHEADER and smaller: out of scope
    w = int(np.frombuffer(head[18:22], dtype="<i4")[0])
    h = int(np.frombuffer(head[22:26], dtype="<i4")[0])
    bpp = int(np.frombuffer(head[28:30], dtype="<u2")[0])
    comp = int(np.frombuffer(head[30:34], dtype="<u4")[0])
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    if off < 14 + dib:
        return None  # pixel array cannot overlap the headers — corrupt
    top_down = h < 0
    return abs(h), w, _bmp_stride(w), off, top_down


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a payload to an (h, w, c) uint8 array.

    Three containers decode for real: binary PPM / P6 and 24-bit
    uncompressed BMP (both public formats, parsed with numpy alone) and
    the deterministic ZSIM fake.  Compressed formats (JPEG/PNG/...) need
    an image library not present in this container — STUB: raises
    NotImplementedError for them.
    """
    if payload[:2] == b"BM":
        parsed = _parse_bmp_header(payload[:64])
        if parsed is None:
            raise NotImplementedError(
                "only 24-bit uncompressed (BI_RGB) BMPs decode here"
            )
        h, w, stride, off, top_down = parsed
        body = np.frombuffer(payload, dtype=np.uint8, offset=off)
        if len(body) < h * stride:
            raise ValueError("BMP payload shorter than height*stride")
        rows = body[: h * stride].reshape(h, stride)[:, : w * 3]
        img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        return img if top_down else img[::-1]
    if payload[:2] == b"P6":
        parsed = _parse_ppm_header(payload[:256])
        if parsed is None:
            raise ValueError("malformed PPM P6 header")
        h, w, off = parsed
        body = np.frombuffer(payload, dtype=np.uint8, offset=off)
        if len(body) < h * w * 3:
            raise ValueError("PPM P6 payload shorter than width*height*3")
        return body[: h * w * 3].reshape(h, w, 3)
    if payload[:4] != FAKE_MAGIC:
        raise NotImplementedError(
            "compressed image decoding requires an image library not "
            "available in this environment; PPM (P6) and the ZSIM fake "
            "format decode for real"
        )
    h, w, c, seed = (int(x) for x in np.frombuffer(payload[4:20], dtype="<i4"))
    body = np.frombuffer(payload[20:], dtype=np.uint8)
    if len(body) == h * w * c:
        return body.reshape(h, w, c)
    # truncated fake payload: pixels regenerate deterministically from seed
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


def _batch_features(payloads: pa.Array):
    """Byte-histogram features for a whole Arrow binary column at once.

    One pass over the CONCATENATED payload buffer — no per-row Python loop:
    bucket = byte >> 3 (256/N_FEATURES = 8 bytes per bucket), per-row counts
    via a single bincount over ``row_index * N_FEATURES + bucket``.  Returns
    (lengths int64[n], hist int64[n, N_FEATURES], features float32[n, N]).
    """
    barr = payloads.combine_chunks() if isinstance(payloads, pa.ChunkedArray) else payloads
    barr = barr.cast(pa.large_binary())
    bufs = barr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[
        barr.offset : barr.offset + len(barr) + 1
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    flat = data[offsets[0] : offsets[-1]]
    lengths = np.diff(offsets)
    n = len(barr)
    row_idx = np.repeat(np.arange(n, dtype=np.int64), lengths)
    buckets = (flat >> 3).astype(np.int64)
    hist = np.bincount(
        row_idx * N_FEATURES + buckets, minlength=n * N_FEATURES
    ).reshape(n, N_FEATURES)
    folded = hist.astype(np.float32)
    norms = np.sqrt((folded * folded).sum(axis=1))
    norms[norms == 0] = 1.0
    feats = folded / norms[:, None]
    return lengths, hist, feats


def extract_features(media: DataFrame) -> DataFrame:
    """media table -> byte-histogram feature vectors, batched via mapInArrow.

    ``hist`` carries the exact integer byte-bucket counts (oracle-checkable);
    ``features`` is the L2-normalized float view for similarity ops.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            lengths, hist, feats = _batch_features(rb.column("payload"))
            n = rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("media_id"),
                    rb.column("kind"),
                    pa.array(lengths, type=pa.int64()),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(hist.reshape(-1), type=pa.int32()), N_FEATURES
                    ).cast(pa.list_(pa.int32())),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(feats.reshape(-1), type=pa.float32()), N_FEATURES
                    ).cast(pa.list_(pa.float32())),
                ],
                names=["media_id", "kind", "n_bytes", "hist", "features"],
            )

    return media.mapInArrow(run, schema=FEATURES_DDL)


IMAGE_STATS_DDL = (
    "media_id string, n_bytes long, height int, width int, channels int, "
    "channel_sums array<long>"
)


def image_stats(media: DataFrame) -> DataFrame:
    """Decode each payload (PPM/P6, 24-bit BI_RGB BMP, ZSIM fake) and emit
    exact integer statistics: payload length, dimensions and per-channel
    pixel sums — the oracle-checkable face of the real decode path.

    Per row the python work is one bounded header parse + the numpy
    reshape/sum over that row's pixel buffer (the same header-per-row /
    pixels-vectorized discipline as :func:`resize_images`); rows whose
    payload cannot be decoded emit null stats so a real pipeline can
    quarantine them without failing the scan.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            starts, lengths, data, is_null = _binary_view(rb.column("payload"))
            n = rb.num_rows
            hs = np.full(n, -1, dtype=np.int64)
            ws = np.full(n, -1, dtype=np.int64)
            cs = np.full(n, -1, dtype=np.int64)
            sums: list[list[int] | None] = [None] * n
            for i in range(n):
                if is_null[i]:
                    continue
                try:
                    img = decode_image(
                        data[starts[i] : starts[i] + lengths[i]].tobytes()
                    )
                except (NotImplementedError, ValueError):
                    continue
                hs[i], ws[i], cs[i] = img.shape
                sums[i] = (
                    img.reshape(-1, img.shape[2])
                    .sum(axis=0, dtype=np.int64)
                    .tolist()
                )
            ok = hs >= 0
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("media_id"),
                    # NULL payload -> NULL n_bytes (Arrow offsets report a
                    # null slot as length 0, indistinguishable from a real
                    # 0-byte payload without the mask)
                    pa.array(lengths, type=pa.int64(), mask=is_null),
                    pa.array(
                        np.where(ok, hs, 0).astype(np.int32), mask=~ok
                    ),
                    pa.array(
                        np.where(ok, ws, 0).astype(np.int32), mask=~ok
                    ),
                    pa.array(
                        np.where(ok, cs, 0).astype(np.int32), mask=~ok
                    ),
                    pa.array(sums, type=pa.list_(pa.int64())),
                ],
                names=[
                    "media_id",
                    "n_bytes",
                    "height",
                    "width",
                    "channels",
                    "channel_sums",
                ],
            )

    return media.mapInArrow(run, schema=IMAGE_STATS_DDL)


def _binary_view(arr: pa.Array):
    """(starts, lengths, flat_data, is_null) numpy views over an Arrow
    binary column — zero copies of the payload bytes."""
    barr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    barr = barr.cast(pa.large_binary())
    bufs = barr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[
        barr.offset : barr.offset + len(barr) + 1
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    n = len(barr)
    is_null = np.zeros(n, dtype=bool)
    if bufs[0] is not None:
        bits = np.unpackbits(
            np.frombuffer(bufs[0], dtype=np.uint8), bitorder="little"
        )
        is_null = ~bits[barr.offset : barr.offset + n].astype(bool)
    return offs[:-1].copy(), np.diff(offs), data, is_null


def resize_images(media: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbour resize of decodable images (PPM/P6, 24-bit BMP +
    fake format); output is normalized to P6 for the real formats.

    Vectorized over the whole Arrow batch — no per-row ``.as_py()``:
    headers parse as one fancy-index gather off the flat payload buffer,
    rows are grouped by (h, w, c) and each group resizes with a single
    precomputed gather (``data[body_starts[:, None] + idx_map]``), and the
    output binary column is assembled directly from offsets + one flat
    buffer.  Only truncated fake payloads (pixels regenerate from a per-row
    rng seed) fall back to per-row work — a test fixture path, not a scale
    path.  Rows whose payload cannot be decoded are passed through with a
    null payload and an error kind so a real pipeline can quarantine them.
    """
    magic = np.frombuffer(FAKE_MAGIC, dtype=np.uint8)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            starts, lengths, data, is_null = _binary_view(rb.column("payload"))

            hwcs = np.zeros((n, 4), dtype=np.int64)  # h, w, c, seed
            fake_dec = np.zeros(n, dtype=bool)
            head_rows = np.flatnonzero(~is_null & (lengths >= 20))
            if len(head_rows):
                heads = data[starts[head_rows, None] + np.arange(20)]
                ok = (heads[:, :4] == magic).all(axis=1)
                vals = (
                    np.ascontiguousarray(heads[:, 4:20])
                    .view("<i4")
                    .astype(np.int64)
                    .reshape(-1, 4)
                )
                ok &= (vals[:, :3] > 0).all(axis=1)
                hwcs[head_rows] = vals
                fake_dec[head_rows] = ok

            # PPM / P6 rows: only the tiny HEADER parses per row (bounded
            # ~64 bytes of text grammar); the pixel gather below stays one
            # grouped fancy-index over the flat buffer, same as the fake
            # format
            is_ppm = np.zeros(n, dtype=bool)
            body_off = np.full(n, 20, dtype=np.int64)
            p6_rows = np.flatnonzero(~is_null & ~fake_dec & (lengths >= 11))
            if len(p6_rows):
                h0 = data[starts[p6_rows]] == ord("P")
                h1 = data[starts[p6_rows] + 1] == ord("6")
                p6_rows = p6_rows[h0 & h1]
            for i in p6_rows:
                head = data[starts[i] : starts[i] + min(int(lengths[i]), 64)]
                parsed = _parse_ppm_header(head.tobytes())
                if parsed is None:
                    continue
                h, w, off = parsed
                if lengths[i] - off >= h * w * 3:
                    hwcs[i] = (h, w, 3, 0)
                    body_off[i] = off
                    is_ppm[i] = True

            # 24-bit BI_RGB BMP rows: same header-only per-row parse; the
            # strided/bottom-up/BGR layout folds into the grouped gather's
            # index arithmetic below (resized output is normalized to PPM)
            is_bmp = np.zeros(n, dtype=bool)
            bmp_td = np.zeros(n, dtype=bool)
            bmp_rows = np.flatnonzero(
                ~is_null & ~fake_dec & ~is_ppm & (lengths >= 54)
            )
            if len(bmp_rows):
                h0 = data[starts[bmp_rows]] == ord("B")
                h1 = data[starts[bmp_rows] + 1] == ord("M")
                bmp_rows = bmp_rows[h0 & h1]
            for i in bmp_rows:
                head = data[starts[i] : starts[i] + min(int(lengths[i]), 64)]
                parsed = _parse_bmp_header(head.tobytes())
                if parsed is None:
                    continue
                h, w, stride, off, top_down = parsed
                if lengths[i] - off >= h * stride:
                    hwcs[i] = (h, w, 3, 0)
                    body_off[i] = off
                    is_bmp[i] = True
                    bmp_td[i] = top_down

            ppm_hdr = np.frombuffer(
                b"P6\n%d %d\n255\n" % (out_w, out_h), dtype=np.uint8
            )
            decodable = fake_dec | is_ppm | is_bmp
            out_hdr_len = np.where(is_ppm | is_bmp, len(ppm_hdr), 20)
            out_len = np.where(
                decodable, out_hdr_len + out_h * out_w * hwcs[:, 2], 0
            ).astype(np.int64)
            out_offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(out_len, out=out_offs[1:])
            out_flat = np.zeros(out_offs[-1], dtype=np.uint8)

            fake_rows = np.flatnonzero(fake_dec)
            if len(fake_rows):
                # ZSIM headers, all rows at once
                hdr = np.empty((len(fake_rows), 20), dtype=np.uint8)
                hdr[:, :4] = magic
                hdr[:, 4:] = (
                    np.stack(
                        [
                            np.full(len(fake_rows), out_h),
                            np.full(len(fake_rows), out_w),
                            hwcs[fake_rows, 2],
                            np.zeros(len(fake_rows)),
                        ],
                        axis=1,
                    )
                    .astype("<i4")
                    .view(np.uint8)
                )
                out_flat[out_offs[fake_rows, None] + np.arange(20)] = hdr
            ppm_out = np.flatnonzero(is_ppm | is_bmp)
            if len(ppm_out):
                out_flat[
                    out_offs[ppm_out, None] + np.arange(len(ppm_hdr))
                ] = ppm_hdr

            full = is_ppm | is_bmp | (
                fake_dec
                & (lengths - 20 == hwcs[:, 0] * hwcs[:, 1] * hwcs[:, 2])
            )
            trunc_rows = np.flatnonzero(fake_dec & ~full)
            body_starts = starts + body_off
            out_body = out_offs[:-1] + out_hdr_len
            for shape in np.unique(hwcs[full][:, :3], axis=0) if full.any() else []:
                h, w, c = (int(x) for x in shape)
                in_shape = full & (hwcs[:, :3] == shape).all(axis=1)
                ys = np.arange(out_h) * h // out_h
                xs = np.arange(out_w) * w // out_w
                stride = _bmp_stride(w)
                # (variant mask, per-(y,x,ch) source index map THUNK —
                # only built for variants that have rows): contiguous RGB
                # for fake/PPM; strided BGR rows, bottom-up or top-down,
                # for BMP — same one-gather shape either way
                contig = lambda: (
                    (ys[:, None] * w + xs[None, :]).reshape(-1)[:, None] * c
                    + np.arange(c)
                ).reshape(-1)
                bmp_map = lambda rows_src: (
                    (rows_src[:, None] * stride + xs[None, :] * 3).reshape(
                        -1
                    )[:, None]
                    + np.array([2, 1, 0])
                ).reshape(-1)
                for mask, mk_idx in (
                    (in_shape & ~is_bmp, contig),
                    (in_shape & is_bmp & ~bmp_td, lambda: bmp_map(h - 1 - ys)),
                    (in_shape & is_bmp & bmp_td, lambda: bmp_map(ys)),
                ):
                    grp = np.flatnonzero(mask)
                    if not len(grp):
                        continue
                    idx_map = mk_idx()
                    resized = data[body_starts[grp, None] + idx_map]
                    out_flat[
                        out_body[grp, None] + np.arange(len(idx_map))
                    ] = resized
            for i in trunc_rows:  # test-fixture path: rng per seed
                img = decode_image(
                    data[starts[i] : starts[i] + lengths[i]].tobytes()
                )
                ys = np.arange(out_h) * img.shape[0] // out_h
                xs = np.arange(out_w) * img.shape[1] // out_w
                out_flat[out_offs[i] + 20 : out_offs[i + 1]] = (
                    img[ys][:, xs].reshape(-1)
                )

            payload = pa.Array.from_buffers(
                pa.large_binary(),
                n,
                [
                    pa.py_buffer(
                        np.packbits(decodable, bitorder="little").tobytes()
                    ),
                    pa.py_buffer(out_offs.tobytes()),
                    pa.py_buffer(out_flat.tobytes()),
                ],
            ).cast(pa.binary())
            null_i32 = pa.nulls(n, pa.int32())
            mask = pa.array(~decodable)
            meta = pa.StructArray.from_arrays(
                [
                    pa.array(np.where(decodable, out_h, 0).astype(np.int32)),
                    pa.array(np.where(decodable, out_w, 0).astype(np.int32)),
                    pa.array(hwcs[:, 2].astype(np.int32)),
                    null_i32,
                ],
                names=["height", "width", "channels", "duration_ms"],
                mask=mask,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("media_id"),
                    pa.array(np.where(decodable, "image", "undecodable")),
                    payload,
                    meta,
                ],
                names=["media_id", "kind", "payload", "meta"],
            )

    return media.mapInArrow(run, schema=MEDIA_DDL)
