"""Multimodal (image/audio/video) operators over binary columns.

Design: payloads are opaque `binary` columns; metadata is typed columns
alongside.  Decode / feature-extract / resize / frame-sample run as
Arrow-batched Pandas UDFs via `mapInPandas` — one Python process per
executor core, whole Arrow record batches per call, never per-row Python.

No image/audio/video codec is a dependency.  Decode, resize, frame-sample
and audio-feature extraction are deterministic fakes (`fake_*`) that
exercise the real plumbing and are what the oracle-checked queries use;
swapping in a real codec changes ONE function body and nothing about the
distributed plan.  The codec-free operators (`byte_histogram`,
`audio_rms_features`, `image_ahash`, ...) do real content math.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd


def fake_decode_image_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for image decode: derives width/height/mode
    from the payload length (stable across runs and engines).

    Input batches: (doc_id: int64, payload: bytes).  Output:
    (doc_id, width, height, n_pixels, mode).  Vectorized pandas ops over
    each Arrow batch — the exact shape a real decoder would use."""
    for pdf in batches:
        n = pdf["payload"].str.len().astype("int64")
        width = n % 640 + 1
        height = (n * 7) % 480 + 1
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": width,
                "height": height,
                "n_pixels": width * height,
                "mode": "RGB",
            }
        )


# -- deterministic-fake pipelines (real mapInPandas plumbing, stub math) ----

_RESIZE_BYTES = 64  # fake "8x8 grayscale" target


def fake_resize_image(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize stand-in: 'resample' = truncate the payload to the target
    byte budget (8×8×1).  A real resizer decodes, interpolates, re-encodes —
    per-row work with identical batch shape; only this function body changes.

    Input batches: (doc_id, payload).  Output: (doc_id, width, height,
    n_bytes_out, resized_sha256).

    The digest is sha256 of the UPPERCASE HEX of the truncated bytes (not of
    the raw bytes): byte-truncation can split a multi-byte UTF-8 sequence,
    and the invalid-UTF-8 fragment would be inexpressible to a SQL oracle
    whose sha256 only takes VARCHAR — hex is always ASCII, so the digest is
    byte-exact for ANY payload, non-ASCII included."""
    import hashlib

    for pdf in batches:
        resized = pdf["payload"].str.slice(0, _RESIZE_BYTES)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": 8,
                "height": 8,
                "n_bytes_out": resized.str.len().astype("int64"),
                "resized_sha256": resized.map(
                    lambda b: hashlib.sha256(b.hex().upper().encode("ascii")).hexdigest()
                ),
            }
        )


_FRAME_BYTES = 16  # bytes per fake "frame"
_FRAME_STRIDE = 64  # sample every 4th frame


def fake_frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame-sampling stand-in: a 'frame' is a 16-byte slice; sample one
    every 64 bytes.  One input row fans out to 0..n output rows (the 1→N
    contract a real video sampler has).

    Input batches: (doc_id, payload).  Output: (doc_id, frame_no,
    frame_hex)."""
    for pdf in batches:
        frames = pdf["payload"].map(
            lambda b: [
                (i, b[i * _FRAME_STRIDE : i * _FRAME_STRIDE + _FRAME_BYTES].hex().upper())
                for i in range((len(b) - _FRAME_BYTES) // _FRAME_STRIDE + 1)
            ]
            if len(b) >= _FRAME_BYTES
            else []
        )
        out = (
            pd.DataFrame({"doc_id": pdf["doc_id"], "f": frames})
            .explode("f")
            .dropna(subset=["f"])
        )
        yield pd.DataFrame(
            {
                "doc_id": out["doc_id"].astype("int64"),
                "frame_no": out["f"].map(lambda t: t[0]).astype("int64"),
                "frame_hex": out["f"].map(lambda t: t[1]),
            }
        )


_SAMPLE_RATE = 16_000


def fake_audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio feature-extraction stand-in: treat each payload byte as one
    unsigned 8-bit sample; emit sample count, duration at 16 kHz, and RMS.
    The mean-of-squares uses an exact integer sum (numpy int64), and no
    decimal rounding is applied anywhere: both engines derive the doubles
    from identical integers with identical IEEE ops, so the raw values
    already match bit-for-bit (rounding would *break* parity — Python
    rounds half-to-even, SQL engines half-away).

    Input batches: (doc_id, payload).  Output: (doc_id, n_samples,
    duration_s, rms)."""
    import math

    import numpy as np

    def feats(b: bytes) -> tuple[int, float, float]:
        a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        n = int(a.size)
        sum_sq = int((a * a).sum())
        return n, n / _SAMPLE_RATE, math.sqrt(sum_sq / n)

    for pdf in batches:
        f = pdf["payload"].map(feats)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": f.map(lambda t: t[0]).astype("int64"),
                "duration_s": f.map(lambda t: t[1]),
                "rms": f.map(lambda t: t[2]),
            }
        )


def byte_histogram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL feature math over binary payloads (not a stub): 16-bucket byte
    histogram (high nibble) per payload, fully vectorized across the Arrow
    batch with numpy — no codec needed, so unlike the decode fakes this is
    genuine content math verified byte-exactly end to end.

    One `np.frombuffer` over the batch's concatenated payloads + a single
    `bincount` on (row_index * 16 + high_nibble) computes every payload's
    histogram at once — zero per-row Python.  Emits SPARSE rows (only
    non-empty buckets): (doc_id, bucket, n_in_bucket, pct); pct is an
    int/int division in double, exact on every engine.

    Input batches: (doc_id: int64, payload: bytes), payloads non-empty.
    """
    import numpy as np

    for pdf in batches:
        if len(pdf) == 0:
            continue
        payloads = pdf["payload"]
        lens = payloads.str.len().to_numpy(np.int64)
        all_bytes = np.frombuffer(b"".join(payloads.tolist()), dtype=np.uint8)
        row_of_byte = np.repeat(np.arange(len(pdf)), lens)
        codes = row_of_byte * 16 + (all_bytes >> 4)
        counts = np.bincount(codes, minlength=len(pdf) * 16).reshape(len(pdf), 16)
        rows, buckets = np.nonzero(counts)
        n_in_bucket = counts[rows, buckets].astype(np.int64)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy()[rows],
                "bucket": buckets.astype(np.int32),
                "n_in_bucket": n_in_bucket,
                "pct": n_in_bucket / lens[rows],
            }
        )


def audio_rms_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL signal math over binary payloads (the audio sibling of
    `byte_histogram`): interpret each payload's bytes as little-endian
    signed 16-bit PCM samples and compute per-payload sample count, exact
    sum of squares, peak amplitude, and RMS — the standard loudness
    features, with numpy doing the actual DSP arithmetic.

    Vectorized across the batch: one `np.frombuffer` over the (even-length
    trimmed) concatenated payloads, `add.reduceat` over the int64 squares
    for the square sums (pure integer arithmetic — a float64-weighted
    bincount would silently lose exactness once a per-doc sum passes 2^53,
    ~8.4 M samples), `maximum.reduceat` for peaks.  sum_squares is exact in
    int64; RMS = sqrt(sum_squares / n) is two correctly-rounded IEEE ops,
    so even the float column hash-matches across engines.

    Input batches: (doc_id: int64, payload: bytes) with >= 2 bytes each.
    """
    import numpy as np

    for pdf in batches:
        if len(pdf) == 0:
            continue
        payloads = pdf["payload"]
        n_samples = (payloads.str.len() // 2).to_numpy(np.int64)
        joined = b"".join(p[: len(p) - (len(p) % 2)] for p in payloads.tolist())
        samples = np.frombuffer(joined, dtype="<i2").astype(np.int64)
        sq = samples * samples
        starts = np.concatenate(([0], np.cumsum(n_samples)[:-1]))
        sum_squares = np.add.reduceat(sq, starts)
        peak = np.maximum.reduceat(np.abs(samples), starts)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": n_samples,
                "sum_squares": sum_squares,
                "peak": peak,
                "rms": np.sqrt(sum_squares / n_samples),
            }
        )


def image_ahash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL perceptual-hash math over binary payloads (the image sibling of
    `byte_histogram`): average-hash (aHash) over the payload's first 64
    bytes read as an 8x8 grayscale tile — bit i is set iff pixel i is
    STRICTLY brighter than the tile mean.  The mean comparison is kept in
    integers (byte * 64 > sum-of-64) so no float rounding can flip a bit,
    and the 64 bits are packed as two non-negative int32-range halves
    (hash_hi = bits 0..31, hash_lo = bits 32..63) to stay inside signed
    int64 on every engine.

    Fully vectorized: one concatenated `frombuffer`, a cumsum-offset gather
    of each row's first 64 bytes into an (n, 64) matrix, one matmul-free
    reduction — zero per-row Python.

    Input batches: (doc_id: int64, payload: bytes), payloads >= 64 bytes.
    """
    import numpy as np

    pow_hi = (1 << (31 - np.arange(32, dtype=np.int64))).astype(np.int64)

    for pdf in batches:
        if len(pdf) == 0:
            continue
        payloads = pdf["payload"]
        lens = payloads.str.len().to_numpy(np.int64)
        all_bytes = np.frombuffer(b"".join(payloads.tolist()), dtype=np.uint8)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        tiles = all_bytes[starts[:, None] + np.arange(64)].astype(np.int64)
        sums = tiles.sum(axis=1)
        bits = (tiles * 64 > sums[:, None]).astype(np.int64)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "sum64": sums,
                "hash_hi": bits[:, :32] @ pow_hi,
                "hash_lo": bits[:, 32:] @ pow_hi,
            }
        )


FRAME_BYTES = 32
CUT_THRESHOLD = 192


def frame_delta_cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL temporal-signal math over binary payloads (the video sibling of
    `byte_histogram` / `audio_rms_features`): treat each payload as a frame
    sequence of fixed 32-byte frames, compute per-frame brightness (exact
    integer byte sum) and the frame-over-frame delta, and flag scene cuts
    where |delta| exceeds a threshold — the shot-boundary-detection shape,
    with numpy doing the actual per-frame reductions.  With a real video
    decoder in front, "frame" becomes a decoded luma plane and nothing else
    changes: the batching, offsets and delta logic are format-agnostic.

    Vectorized across the batch: one `frombuffer` over the concatenated
    payloads, a cumsum prefix table so each frame's sum is two gathers
    (csum[start+32] - csum[start]), and a shifted difference with row
    boundaries reset — zero per-row Python.  Trailing partial frames are
    dropped (a decoder would not emit them).

    Input batches: (doc_id: int64, payload: bytes) with >= 32 bytes.
    Output: (doc_id, frame_idx, brightness, delta, is_cut: int 0/1); frame
    0 of every payload has delta 0 / is_cut 0 by convention.
    """
    import numpy as np

    for pdf in batches:
        if len(pdf) == 0:
            continue
        payloads = pdf["payload"]
        lens = payloads.str.len().to_numpy(np.int64)
        all_bytes = np.frombuffer(b"".join(payloads.tolist()), dtype=np.uint8)
        row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        n_frames = lens // FRAME_BYTES
        total = int(n_frames.sum())
        if total == 0:
            continue
        row_of_frame = np.repeat(np.arange(len(pdf)), n_frames)
        first_pos = np.concatenate(([0], np.cumsum(n_frames)[:-1]))
        frame_idx = np.arange(total) - np.repeat(first_pos, n_frames)
        starts = row_starts[row_of_frame] + frame_idx * FRAME_BYTES
        csum = np.concatenate(([0], np.cumsum(all_bytes, dtype=np.int64)))
        brightness = csum[starts + FRAME_BYTES] - csum[starts]
        delta = np.zeros(total, dtype=np.int64)
        delta[1:] = brightness[1:] - brightness[:-1]
        delta[first_pos[n_frames > 0]] = 0
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy()[row_of_frame],
                "frame_idx": frame_idx.astype(np.int64),
                "brightness": brightness,
                "delta": delta,
                "is_cut": (np.abs(delta) > CUT_THRESHOLD).astype(np.int32),
            }
        )


IMG_SIDE = 16   # synthetic grayscale image side (first IMG_SIDE² payload bytes)
POOL_GRID = 4   # output grid: POOL_GRID × POOL_GRID tile means


def tile_mean_pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL spatial-pooling math over binary payloads (the resize/thumbnail
    sibling of `image_ahash`): interpret each payload's first IMG_SIDE²
    bytes as a grayscale IMG_SIDE×IMG_SIDE image and average-pool it to a
    POOL_GRID×POOL_GRID grid — the downsampling step of every thumbnail /
    patch-embedding pipeline, with the arithmetic done for real: exact
    integer tile sums, one IEEE division per tile.  A real decoder swaps
    the frombuffer for a luma plane; the gather/reshape/mean pipeline is
    unchanged.

    Vectorized: one (n, SIDE, SIDE) gather via cumsum offsets, one
    4-D reshape, one sum over tile axes — no per-row Python.

    Input batches: (doc_id: int64, payload: bytes >= IMG_SIDE² bytes).
    Output: (doc_id, tile_row, tile_col, tile_sum, tile_mean) — one row
    per tile, tile_mean = tile_sum / (tile side)².
    """
    import numpy as np

    tile = IMG_SIDE // POOL_GRID
    for pdf in batches:
        if len(pdf) == 0:
            continue
        payloads = pdf["payload"]
        lens = payloads.str.len().to_numpy(np.int64)
        all_bytes = np.frombuffer(b"".join(payloads.tolist()), dtype=np.uint8)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        imgs = (
            all_bytes[starts[:, None] + np.arange(IMG_SIDE * IMG_SIDE)]
            .astype(np.int64)
            .reshape(len(pdf), POOL_GRID, tile, POOL_GRID, tile)
        )
        sums = imgs.sum(axis=(2, 4))  # (n, POOL_GRID, POOL_GRID)
        n = len(pdf)
        rows = np.repeat(np.arange(POOL_GRID), POOL_GRID)
        cols = np.tile(np.arange(POOL_GRID), POOL_GRID)
        yield pd.DataFrame(
            {
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), POOL_GRID * POOL_GRID),
                "tile_row": np.tile(rows, n).astype(np.int32),
                "tile_col": np.tile(cols, n).astype(np.int32),
                "tile_sum": sums.reshape(n, -1).ravel(),
                "tile_mean": sums.reshape(n, -1).ravel() / (tile * tile),
            }
        )


_SILENCE_THRESHOLD = 12288  # |int16 sample| below this is "silent"
_SILENCE_MIN_RUN = 2  # spans shorter than this are ignored


def audio_silence_spans(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Silence-span detection (the VAD primitive): payload bytes as
    little-endian int16 PCM, a sample is silent when |s| < threshold, and
    a SPAN is a maximal run of >= min_run consecutive silent samples.
    Emits one row per payload that has at least one span: span count,
    total silent samples inside spans, and the longest span — all exact
    integers (run boundaries via one `np.diff` over the silence mask per
    payload).

    Input batches: (doc_id: int64, payload: bytes).
    """
    import numpy as np

    for pdf in batches:
        out: dict[str, list[int]] = {
            "doc_id": [],
            "n_spans": [],
            "silent_samples": [],
            "longest_span": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            trimmed = payload[: len(payload) - (len(payload) % 2)]
            samples = np.frombuffer(trimmed, dtype="<i2").astype(np.int64)
            mask = np.abs(samples) < _SILENCE_THRESHOLD
            if mask.size == 0:
                continue
            d = np.diff(mask.astype(np.int8))
            starts = np.flatnonzero(d == 1) + 1
            ends = np.flatnonzero(d == -1) + 1
            if mask[0]:
                starts = np.concatenate(([0], starts))
            if mask[-1]:
                ends = np.concatenate((ends, [mask.size]))
            spans = ends - starts
            spans = spans[spans >= _SILENCE_MIN_RUN]
            if spans.size == 0:
                continue
            out["doc_id"].append(int(doc_id))
            out["n_spans"].append(int(spans.size))
            out["silent_samples"].append(int(spans.sum()))
            out["longest_span"].append(int(spans.max()))
        yield pd.DataFrame(out, dtype="int64")
