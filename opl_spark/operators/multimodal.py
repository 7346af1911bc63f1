"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed through Arrow-batched ``mapInPandas`` pipelines.

The Spark-side plumbing — schemas, batch iteration, partitioning — is
real and tested.  Decoding has three codecs: ``codec="real"`` decodes
actual images through Pillow when it is installed (optional import —
in environments without Pillow it raises ``NotImplementedError``
loudly rather than faking success); ``codec="bmp"`` is a dependency-
free pure-numpy decoder for uncompressed 24/32-bit BMP payloads (a
REAL bytes→pixels decode — header dims, BGR(A) unpadding, row-order —
so the real-decode pipeline is exercised in CI even where Pillow is
absent); and the default deterministic ``"fake"`` codec derives
metadata purely from the bytes so the distributed path stays
exercised on arbitrary payloads.  All three run the IDENTICAL
mapInPandas plan; only the per-record decode function differs.
Audio/video (ffmpeg) remain stub-only.

Scale notes: media bytes never pass through the driver; each Arrow
batch holds ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, so
executor memory bounds are explicit.  Decoded/derived columns travel
with the row — downstream operators (dedup on perceptual hash,
similarity on image embeddings) reuse the text/vector machinery.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the (stubbed) image decode stage.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def with_media_column(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Test-fixture ingestion: pack a text column into the canonical
    binary media layout (stand-in for reading real blobs; the driver
    environment ships no media files).

    Widened BY BYTES (r14): every downstream mapInPandas decode of a
    few-split input otherwise runs on one Python worker, but THIS
    tier's decodes are cheap enough that a full 32-way fan-out costs
    more than it buys on a sub-MB input (alternated two-scale pairing:
    sf0.1 audio 0.59 narrow vs 0.66 wide / phash 0.61 vs 0.91, while
    sf1 reads 2.54 → 0.81 and 1.77 → 1.03).  1 MiB/slice arbitrates:
    identity on the sub-MB sf0.1 input, ~5-way on sf1, and at real
    scale the scan is wider than the cluster anyway (identity).  The
    heavier BMP tier measured full-width fastest at BOTH scales and
    keeps the plain widen — see synthetic_bmp_media."""
    from opl_spark.operators.dedup import widen_narrow_scan

    df = widen_narrow_scan(df, bytes_per_slice=1 << 20)
    return df.select(
        F.struct(
            F.encode(F.col(text_col), "UTF-8").alias("media_bytes"),
            F.lit("application/octet-stream").alias("mime"),
            F.col(id_col).cast("long").alias("media_id"),
        ).alias("media")
    )


def media_metadata(df: DataFrame) -> DataFrame:
    """Cheap metadata pass — byte length + content hash — as built-in
    expressions (no Python): the dedup/bookkeeping columns every media
    pipeline wants before any decode."""
    m = F.col("media")
    return df.select(
        m["media_id"].alias("media_id"),
        m["mime"].alias("mime"),
        F.length(m["media_bytes"]).cast("long").alias("byte_len"),
        F.md5(m["media_bytes"]).alias("content_md5"),
    )


def _bmp_tools():
    """Pure-numpy BMP codec, packaged as closure-local functions.

    Returned as locals (not module-level defs) so that capturing them
    inside a ``mapInPandas`` batch closure makes cloudpickle ship them
    BY VALUE to executor Python workers — same self-containment rule
    as the decode closures below (workers may not have this module
    importable).  Returns ``(decode, encode)``:

    - ``decode(by) -> (width, height, rgba uint8 [h,w,4])`` for
      uncompressed (BI_RGB) 24/32-bit BMPs, bottom-up or top-down;
    - ``encode(arr) -> bytes`` writes a 24-bit bottom-up BMP from an
      RGB(A) uint8 array (alpha dropped — BMP24 has none).
    """
    import struct

    import numpy as np

    def decode(by: bytes):
        if by[:2] != b"BM":
            raise ValueError("not a BMP payload (missing 'BM' magic)")
        data_off = struct.unpack_from("<I", by, 10)[0]
        hdr_size = struct.unpack_from("<I", by, 14)[0]
        if hdr_size < 40:
            raise ValueError("unsupported BMP core header")
        w = struct.unpack_from("<i", by, 18)[0]
        h = struct.unpack_from("<i", by, 22)[0]
        bpp = struct.unpack_from("<H", by, 28)[0]
        comp = struct.unpack_from("<I", by, 30)[0]
        if comp not in (0, 3) or bpp not in (24, 32):
            raise ValueError(
                f"unsupported BMP variant bpp={bpp} compression={comp}"
            )
        if comp == 3:
            # BI_BITFIELDS: the channel masks live at absolute offset
            # 54 whether the DIB is BITMAPINFOHEADER (masks follow the
            # 40-byte header) or V4/V5 (masks at DIB offset 40).  The
            # decode below assumes little-endian BGR(A) memory layout,
            # i.e. R=0xFF0000 G=0xFF00 B=0xFF (A=0xFF000000 or absent);
            # any other mask set would silently swap channels, so the
            # fail-loud policy rejects it instead of decoding wrong.
            rm, gm, bm = struct.unpack_from("<III", by, 54)
            am = (
                struct.unpack_from("<I", by, 66)[0]
                if hdr_size >= 56 and data_off >= 70
                else 0
            )
            if (rm, gm, bm) != (0xFF0000, 0xFF00, 0xFF) or am not in (
                0,
                0xFF000000,
            ):
                raise ValueError(
                    "BI_BITFIELDS masks "
                    f"r={rm:#x} g={gm:#x} b={bm:#x} a={am:#x} "
                    "do not match the BGRA layout this codec assumes"
                )
        top_down = h < 0
        h = abs(h)
        if w <= 0 or h == 0:
            raise ValueError("degenerate BMP dimensions")
        nch = bpp // 8
        stride = ((w * nch) + 3) & ~3
        px = np.frombuffer(by, dtype=np.uint8, count=stride * h, offset=data_off)
        px = px.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
        if not top_down:
            px = px[::-1]
        rgba = np.empty((h, w, 4), dtype=np.uint8)
        rgba[..., 0] = px[..., 2]
        rgba[..., 1] = px[..., 1]
        rgba[..., 2] = px[..., 0]
        rgba[..., 3] = px[..., 3] if nch == 4 else 255
        return w, h, rgba

    def encode(arr) -> bytes:
        a = np.asarray(arr, dtype=np.uint8)
        if a.ndim != 3 or a.shape[2] not in (3, 4):
            raise ValueError("expected [h,w,3|4] uint8 array")
        h, w = a.shape[:2]
        bgr = a[..., (2, 1, 0)]
        stride = ((w * 3) + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr[::-1].reshape(h, w * 3)
        size = 14 + 40 + rows.size
        hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, rows.size, 2835, 2835, 0, 0
        )
        return hdr + dib + rows.tobytes()

    return decode, encode


def synthetic_bmp_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic synthetic BMP corpus: one REAL 24-bit BMP payload
    per row in the canonical media layout — solid color keyed off the
    id, dimensions keyed off the text byte length with the same
    ``(n % 64) + 1`` / ``(n % 48) + 1`` rule as the stub codec (so
    oracles share the formula).  This is the bench/test feed for the
    dependency-free real-decode path: the payloads are real BMP
    containers, so ``decode_images(codec='bmp')`` does full header
    parsing + pixel-array statistics, not stub passthrough.

    Scale shape: map-only — one Arrow-batched pandas UDF pass, no
    shuffle; payload size is bounded by the dim rule (≤ 64×48×3 B
    plus headers), so batch memory stays O(batch × 9 KiB).

    Widened (r14, reversing the r13 sf0.1-only revert with two-scale
    evidence): the encode AND every downstream mapInPandas decode are
    Python compute on a zero-shuffle plan, so a few-split input runs
    the whole tier on ONE Python worker.  Properly ALTERNATED 3-way
    pairing this round (none / bytes-proportional / full width, one
    session, both scales): full width is fastest at BOTH scales —
    sf0.1 2.00 → 1.74 s, sf1 9.74 → 1.89 s (5×) — i.e. the r13
    "+32-worker hand-off" revert does not reproduce; the hand-off
    cost is noise-level against even the sf0.1 tier's decode work.
    Identity at scale (widen_narrow_scan contract)."""
    from opl_spark.operators.dedup import widen_narrow_scan

    df = widen_narrow_scan(df)
    encode = _bmp_tools()[1]

    def make(ids: pd.Series, ns: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        out = []
        for i, n in zip(ids, ns):
            w, h = int(n % 64) + 1, int(n % 48) + 1
            rgb = _np.empty((h, w, 3), _np.uint8)
            rgb[..., 0] = i % 256
            rgb[..., 1] = (i * 7) % 256
            rgb[..., 2] = (i * 13) % 256
            out.append(encode(rgb))
        return _pd.Series(out)

    make_udf = F.pandas_udf(make, T.BinaryType())
    ident = F.col(id_col).cast("long")
    return df.select(
        F.struct(
            make_udf(ident, F.octet_length(F.col(text_col)).cast("long")).alias(
                "media_bytes"
            ),
            F.lit("image/bmp").alias("mime"),
            ident.alias("media_id"),
        ).alias("media")
    )


def decode_images(df: DataFrame, codec: str = "fake") -> DataFrame:
    """Decode / feature-extract stage over Arrow batches.

    ``codec="real"`` decodes through Pillow (optional import; raises
    ``NotImplementedError`` where Pillow is absent — never a silent
    fake).  ``codec="bmp"`` is the dependency-free real decode for
    uncompressed BMP payloads (pure numpy — see ``_bmp_tools``).
    ``codec="fake"`` exercises the identical mapInPandas plumbing
    with the deterministic stub.
    """
    if codec == "real":
        try:
            import PIL.Image  # noqa: F401 — driver-side availability gate
        except ImportError as exc:
            raise NotImplementedError(
                "codec='real' requires Pillow, which is not installed in "
                "this environment; use codec='fake' for the plumbing path "
                "or codec='bmp' for the dependency-free real decode"
            ) from exc
        return _decode_images_real(df)
    if codec == "bmp":
        return _decode_images_bmp(df)
    if codec != "fake":
        raise ValueError(f"unknown codec {codec!r}")

    # NOTE: the batch closure must be fully self-contained (no module
    # globals): cloudpickle serializes references to this module by
    # name, and executor Python workers may not have it importable.
    cols = [f.name for f in DECODED_SCHEMA.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def fake_decode(media_bytes: bytes):
            n = len(media_bytes)
            width = (n % 64) + 1
            height = (n % 48) + 1
            feat = [0.0] * 8
            for i, by in enumerate(media_bytes):
                feat[i % 8] += by
            total = sum(feat) or 1.0
            return width, height, [round(f / total, 6) for f in feat]

        for pdf in it:
            media = pdf["media"]
            rows = []
            for rec in media:
                by = bytes(rec["media_bytes"])
                w, h, feat = fake_decode(by)
                rows.append(
                    {
                        "media_id": rec["media_id"],
                        "mime": rec["mime"],
                        "byte_len": len(by),
                        "width": w,
                        "height": h,
                        "feature": feat,
                    }
                )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


def _decode_images_real(df: DataFrame) -> DataFrame:
    """Pillow decode over the same mapInPandas plan as the stub codec:
    real (width, height) from the image header and an 8-dim feature —
    per-channel mean + std of a 16×16 RGBA thumbnail (a deterministic,
    library-stable stand-in for a learned embedding).  Executors import
    Pillow inside the batch closure, so the cluster needs it installed
    wherever tasks run — exactly like any Python dependency of a
    Pandas UDF."""
    cols = [f.name for f in DECODED_SCHEMA.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as _np
        import pandas as _pd
        from PIL import Image

        for pdf in it:
            rows = []
            for rec in pdf["media"]:
                by = bytes(rec["media_bytes"])
                img = Image.open(io.BytesIO(by))
                width, height = img.size
                thumb = img.convert("RGBA").resize((16, 16))
                a = _np.asarray(thumb, dtype=_np.float64) / 255.0
                feat = [
                    round(float(x), 6)
                    for x in (*a.mean(axis=(0, 1)), *a.std(axis=(0, 1)))
                ]
                rows.append(
                    {
                        "media_id": rec["media_id"],
                        "mime": rec["mime"],
                        "byte_len": len(by),
                        "width": width,
                        "height": height,
                        "feature": feat,
                    }
                )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


def _decode_images_bmp(df: DataFrame) -> DataFrame:
    """Dependency-free real decode over the same mapInPandas plan:
    true (width, height) from the BMP header and the same 8-dim
    channel-statistics feature as the Pillow codec — per-channel mean
    + std of RGBA/255, computed over the FULL pixel array (exact,
    where the Pillow path approximates via a 16×16 thumbnail)."""
    cols = [f.name for f in DECODED_SCHEMA.fields]
    decode, _encode = _bmp_tools()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = []
            for rec in pdf["media"]:
                by = bytes(rec["media_bytes"])
                width, height, rgba = decode(by)
                a = rgba.astype(_np.float64) / 255.0
                feat = [
                    round(float(x), 6)
                    for x in (*a.mean(axis=(0, 1)), *a.std(axis=(0, 1)))
                ]
                rows.append(
                    {
                        "media_id": rec["media_id"],
                        "mime": rec["mime"],
                        "byte_len": len(by),
                        "width": width,
                        "height": height,
                        "feature": feat,
                    }
                )
            yield _pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


def resize_images(df: DataFrame, max_dim: int = 32) -> DataFrame:
    """Resize stage: recomputes target dimensions with aspect preserved
    and re-emits the payload unchanged (shape-only stand-in).  The
    Spark shape is the real one — map-only mapInPandas, media bytes
    never touching the driver."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("media_bytes", T.BinaryType()),
        ]
    )
    cap = int(max_dim)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # self-contained closure (see decode_images)

        for pdf in it:
            rows = []
            for rec in pdf["media"]:
                by = bytes(rec["media_bytes"])
                n = len(by)
                w, h = (n % 64) + 1, (n % 48) + 1  # fake-decode dims
                scale = min(1.0, cap / max(w, h))
                rows.append(
                    {
                        "media_id": rec["media_id"],
                        "width": max(1, int(w * scale)),
                        "height": max(1, int(h * scale)),
                        "media_bytes": by,
                    }
                )
            yield _pd.DataFrame(
                rows, columns=["media_id", "width", "height", "media_bytes"]
            )

    return df.mapInPandas(batches, schema=schema)


def frame_sample(df: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Video-frame-sampling stand-in: emits one row per sampled offset
    (the real implementation samples decoded frames; the shape —
    one-to-many mapInPandas with bounded batches — is identical)."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("offset", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # self-contained closure (see decode_images)

        for pdf in it:
            rows = []
            for rec in pdf["media"]:
                n = len(bytes(rec["media_bytes"]))
                for i, off in enumerate(range(0, n, every_n_bytes)):
                    rows.append(
                        {"media_id": rec["media_id"], "frame_no": i, "offset": off}
                    )
            yield _pd.DataFrame(rows, columns=["media_id", "frame_no", "offset"])

    return df.mapInPandas(batches, schema=schema)


def audio_frame_energy(df: DataFrame) -> DataFrame:
    """Audio feature extraction shape: framed short-time energy over
    the payload (``frame_bytes`` = 256-byte frames every ``hop_bytes``
    = 128 bytes) — one output row per (media, frame) with the frame's
    mean-square "energy" and a silence flag.  The codec is the
    deterministic byte-level stand-in (samples = raw bytes centered at
    128; a real pipeline decodes PCM first — same integration point as
    ``decode_images(codec="real")``), but the Spark shape is the real
    one: framing fan-out happens INSIDE the Arrow batch (numpy
    stride tricks, no per-frame Python), output rows are
    frame-granular, and downstream silence trimming / VAD filters are
    plain DataFrame predicates.
    """
    import numpy as np
    import pandas as pd

    frame_bytes, hop_bytes = 256, 128
    out_schema = (
        "media_id long, frame int, energy double, is_silence boolean"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames, energies = [], [], []
            for mid, payload in zip(
                pdf["media"].apply(lambda m: m["media_id"]),
                pdf["media"].apply(lambda m: m["media_bytes"]),
            ):
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.float64
                ) - 128.0
                if len(x) < frame_bytes:
                    x = np.pad(x, (0, frame_bytes - len(x)))
                n_frames = 1 + (len(x) - frame_bytes) // hop_bytes
                idx = (
                    np.arange(frame_bytes)[None, :]
                    + hop_bytes * np.arange(n_frames)[:, None]
                )
                e = np.square(x[idx]).mean(axis=1).round(6)
                ids.extend([mid] * n_frames)
                frames.extend(range(n_frames))
                energies.extend(e.tolist())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame": pd.Series(frames, dtype="int32"),
                    "energy": pd.Series(energies, dtype="float64"),
                    "is_silence": pd.Series(
                        [e < 1.0 for e in energies], dtype="bool"
                    ),
                }
            )

    return df.mapInPandas(batches, out_schema)


def image_phash(df: DataFrame) -> DataFrame:
    """Perceptual hash per image: 63-bit average-hash (aHash) — a grid
    of brightness cells thresholded at the grid mean, packed into a
    signed BIGINT (63 bits so the value stays positive, mirroring
    ``operators.dedup.simhash``).

    The 64-cell grid is derived deterministically from the payload
    bytes (position-mod-64 byte fold — the stand-in "image").  The
    downstream banding/hamming machinery is the text SimHash one —
    near-dup *image* dedup reuses the text dedup scale path unchanged.
    """
    out_schema = "media_id long, phash long"
    n_bits = 63

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def grid_of(by: bytes) -> "_np.ndarray":
            x = _np.frombuffer(by, dtype=_np.uint8).astype(_np.float64)
            if len(x) == 0:
                return _np.zeros(64)
            return _np.bincount(
                _np.arange(len(x)) % 64, weights=x, minlength=64
            )

        for pdf in it:
            ids, hashes = [], []
            for rec in pdf["media"]:
                g = grid_of(bytes(rec["media_bytes"]))
                above = g > g.mean()
                h = 0
                for b in range(n_bits):
                    if above[b]:
                        h |= 1 << b
                ids.append(rec["media_id"])
                hashes.append(h)
            yield _pd.DataFrame(
                {
                    "media_id": _pd.Series(ids, dtype="int64"),
                    "phash": _pd.Series(hashes, dtype="int64"),
                }
            )

    return df.mapInPandas(batches, out_schema)


def phash_dup_candidates(hashes: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup image pairs from perceptual hashes: the SimHash
    chunk-equality banding (pigeonhole on 16-bit chunks) bounds the
    candidate join, then exact hamming filters.  Exact byte-duplicates
    always hash identically (hamming 0), so recall on true copies is 1
    regardless of the banding."""
    from opl_spark.operators.dedup import simhash_candidates

    sim = hashes.select(
        F.col("media_id").alias("doc"), F.col("phash").alias("simhash")
    )
    return (
        simhash_candidates(sim)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("id_a").alias("media_a"),
            F.col("id_b").alias("media_b"),
            "hamming",
        )
    )


def video_scene_changes(
    df: DataFrame,
    frame_bytes: int = 256,
    threshold: float = 8.0,
) -> DataFrame:
    """Shot-boundary detection shape: per-frame brightness means over
    fixed-size payload windows (the stand-in for decoded frame luma —
    same integration point as ``decode_images(codec="real")``), then a
    lag-window difference cut at ``threshold`` and an island cumsum to
    number shots.  Returns one row per (media, shot): start frame and
    frame count.

    The Python stage is map-only framing inside Arrow batches; shot
    assembly is pure JVM window work partitioned by ``media_id`` —
    per-media frame counts are payload/frame_bytes, so no partition
    outgrows a single video's frame list.
    """
    from pyspark.sql import Window

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            ids, frames, lumas = [], [], []
            for rec in pdf["media"]:
                x = _np.frombuffer(
                    bytes(rec["media_bytes"]), dtype=_np.uint8
                ).astype(_np.float64)
                if len(x) == 0:
                    continue
                pad = (-len(x)) % frame_bytes
                if pad:
                    x = _np.pad(x, (0, pad))
                fr = x.reshape(-1, frame_bytes).mean(axis=1).round(6)
                ids.extend([rec["media_id"]] * len(fr))
                frames.extend(range(len(fr)))
                lumas.extend(fr.tolist())
            yield _pd.DataFrame(
                {
                    "media_id": _pd.Series(ids, dtype="int64"),
                    "frame": _pd.Series(frames, dtype="int32"),
                    "luma": _pd.Series(lumas, dtype="float64"),
                }
            )

    frames_df = df.mapInPandas(batches, "media_id long, frame int, luma double")
    w = Window.partitionBy("media_id").orderBy("frame")
    flagged = frames_df.withColumn(
        "is_cut",
        F.when(
            F.abs(F.col("luma") - F.lag("luma").over(w)) > threshold, 1
        ).otherwise(0),
    ).withColumn(
        "shot_no",
        F.sum("is_cut").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("media_id", "shot_no")
        .agg(
            F.min("frame").alias("start_frame"),
            F.count(F.lit(1)).alias("n_frames"),
        )
    )


def vad_segments(frames: DataFrame) -> DataFrame:
    """Voice-activity segments from framed energies: consecutive
    frames at-or-above ``threshold`` (1.0) merge into one segment per run
    (gaps-and-islands: ``frame − row_number`` is constant within a
    run) — the silence-trimming step an audio training pipeline runs
    between feature extraction and chunking.  Input is
    :func:`audio_frame_energy` output (or any ``(media_id, frame, energy)``
    frame table, batch or foreachBatch micro-batch).

    Exactness: energies arrive round-6 quantized, so re-quantizing to
    micro-units makes per-segment sums exact BIGINTs; the mean is one
    fixed-sequence division.  The only window is per-MEDIA (partitioned
    ranking, island arithmetic is map-side).  Emits
    ``(media_id, seg_start, seg_end, n_frames, mean_energy)``.
    """
    from pyspark.sql.window import Window

    threshold, id_col = 1.0, "media_id"
    act = frames.filter(F.col("energy") >= threshold).select(
        F.col(id_col),
        F.col("frame"),
        F.floor(F.col("energy") * 1000000 + F.lit(0.5)).cast("long").alias("e6"),
    )
    w = Window.partitionBy(id_col).orderBy("frame")
    isl = act.withColumn("g", F.col("frame") - F.row_number().over(w))
    segs = isl.groupBy(id_col, "g").agg(
        F.min("frame").cast("int").alias("seg_start"),
        F.max("frame").cast("int").alias("seg_end"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("e6").alias("se6"),
    )
    # mean at 6 decimals via integer HALF-UP division — a float
    # `round(sum/n, 6)` sits exactly on the .5 boundary whenever n∤sum
    # by a half and the two engines' round() disagree there (observed:
    # 2092.9042965 → …297 vs …296); (2s+n)//(2n) on positive BIGINTs
    # is boundary-free and identical everywhere
    return segs.select(
        id_col,
        "seg_start",
        "seg_end",
        F.col("n_frames").cast("long").alias("n_frames"),
        (
            F.expr("(2 * se6 + n_frames) DIV (2 * n_frames)").cast("double")
            / F.lit(1000000.0)
        ).alias("mean_energy"),
    )
