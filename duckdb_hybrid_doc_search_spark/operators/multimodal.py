"""Multimodal (image/audio/video) column operators for training-data
pipelines — north-star extension.

Media are opaque BINARY columns plus a typed metadata struct; all heavy
per-item work (decode, resize, feature extraction, frame sampling) runs as
Arrow-batched ``mapInPandas`` so bytes cross the JVM<->Python boundary once
per batch and the operator scales with partitions exactly like the text
chunker. The actual codec calls are STUBBED for this container (no
PIL/ffmpeg/librosa baked in): ``decode_backend="fake"`` is a deterministic
stand-in (bytes -> seeded arrays) that keeps schemas, batch shapes,
partitioning, and UDF signatures real and testable; ``decode_backend=
"real"`` raises NotImplementedError at the decode call site with the
dependency named, so swapping in the real library touches ONE function.

Layout guidance (mirrors §4.3): media bytes live in their own table keyed
by content hash — metadata/features tables stay narrow, and a feature
recompute never rescans payload bytes it does not need.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.catalog import read_table

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),  # sha256 of bytes
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 32


def _fake_decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for an image decoder: bytes -> HxWx3 uint8."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


def _real_decode_image(payload: bytes) -> np.ndarray:
    raise NotImplementedError(
        "real image decode requires Pillow (`PIL.Image.open`) which is not "
        "installed in this container; use decode_backend='fake' (seeded "
        "stand-in), 'auto_pure' (magic-byte dispatch), or one of the "
        "stdlib codecs: 'png_pure' (functions/png.py), 'bmp_pure', "
        "'gif_pure', 'jpeg_pure' (baseline sequential, functions/jpeg.py)"
    )


def _decode_image(payload: bytes, backend: str, width: int,
                  height: int) -> np.ndarray:
    """The decode seam every image operator dispatches through:
    'fake' = deterministic seeded stand-in (any bytes), 'png_pure' =
    REAL stdlib PNG decode (functions/png.py — bytes must be a PNG),
    'bmp_pure' = REAL stdlib BMP decode (functions/bmp.py — row
    padding / vertical flip / BGR swizzle, the layout failure class PNG
    doesn't cover), 'gif_pure' = REAL stdlib GIF decode (LZW +
    palettes), 'jpeg_pure' = REAL stdlib baseline-JPEG decode
    (functions/jpeg.py — Huffman + IDCT + chroma upsampling; r12),
    'auto_pure' = REAL decode with the codec picked by
    the payload's OWN magic bytes (sniff_image_format — the
    mixed-format ingest shape, where the reader, not the path, decides
    the codec), 'real' = the Pillow slot (raises until the wheel
    lands)."""
    if backend == "fake":
        return _fake_decode_image(payload, width, height)
    if backend == "auto_pure":
        backend = f"{sniff_image_format(payload)}_pure"
    if backend == "png_pure":
        from ..functions.png import decode_png

        return decode_png(payload)
    if backend == "bmp_pure":
        from ..functions.bmp import decode_bmp

        return decode_bmp(payload)
    if backend == "gif_pure":
        from ..functions.gif import decode_gif

        return decode_gif(payload)
    if backend == "jpeg_pure":
        from ..functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    return _real_decode_image(payload)


def _as_rgb(img: np.ndarray) -> np.ndarray:
    """Normalize a decoded image to HxWx3: gray replicates, RGBA drops
    alpha — so the pooling/resize math downstream is channel-stable
    across PNG color types."""
    if img.shape[2] == 1:
        return np.repeat(img, 3, axis=2)
    if img.shape[2] == 4:
        return img[:, :, :3]
    return img


def attach_media_ids(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Content-addressed ids: dedup and joins key on sha2(payload)."""
    return df.withColumn("media_id", F.sha2(F.col(payload_col), 256))


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-SQL metadata analytics — never touches payload bytes (column
    pruning keeps the binary column out of the scan)."""
    return (
        media.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.avg("meta.width").alias("avg_width"),
            F.avg("meta.duration_ms").alias("avg_duration_ms"),
        )
        .orderBy("kind")
    )


def extract_image_features(media: DataFrame,
                           decode_backend: str = "fake") -> DataFrame:
    """(media_id, feature array<float>) — decode + pooled color features.

    The fake backend decodes deterministically and then runs REAL numpy
    feature pooling (per-channel means over a 4x4 grid + dims), so the
    Spark-side contract (schema, batching, renormalization) is exercised
    end-to-end even without a codec library.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                img = _as_rgb(_decode_image(
                    bytes(payload), decode_backend,
                    int(meta["width"] or 16), int(meta["height"] or 16),
                ))
                h, w = img.shape[:2]  # true decoded dims, not metadata's
                # 4x4 grid per-channel means -> 48 dims, truncated/padded
                gh, gw = max(1, h // 4), max(1, w // 4)
                pooled = [
                    float(img[i * gh : (i + 1) * gh, j * gw : (j + 1) * gw, c].mean())
                    for i in range(4)
                    for j in range(4)
                    for c in range(3)
                ][: FEATURE_DIM - 2]
                feat = pooled + [float(w), float(h)]
                feat += [0.0] * (FEATURE_DIM - len(feat))
                out.append((media_id, feat))
            yield pd.DataFrame(out, columns=["media_id", "feature"])

    return media.select("media_id", "payload", "meta").mapInPandas(
        run, "media_id string, feature array<float>"
    )


def resize_images(media: DataFrame, target_w: int, target_h: int,
                  decode_backend: str = "fake") -> DataFrame:
    """(media_id, resized binary, width, height) — decode, nearest-neighbor
    resize (real numpy), re-encode as raw RGB bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                img = _as_rgb(_decode_image(
                    bytes(payload), decode_backend,
                    int(meta["width"] or 16), int(meta["height"] or 16),
                ))
                h, w = img.shape[:2]  # true decoded dims, not metadata's
                yi = (np.arange(target_h) * h // target_h).clip(0, h - 1)
                xi = (np.arange(target_w) * w // target_w).clip(0, w - 1)
                resized = img[yi][:, xi]
                out.append(
                    (media_id, resized.tobytes(), target_w, target_h)
                )
            yield pd.DataFrame(
                out, columns=["media_id", "resized", "width", "height"]
            )

    return media.select("media_id", "payload", "meta").mapInPandas(
        run, "media_id string, resized binary, width int, height int"
    )


VIDEO_FPS = 25  # fixed frame cadence of the concatenated-BMP container


def sample_video_frames(media: DataFrame, n_frames: int = 4,
                        decode_backend: str = "fake") -> DataFrame:
    """One row per sampled frame: (media_id, frame_idx, ts_ms, frame =
    raw RGB bytes of the decoded frame). The fan-out (explode one video
    row into n frame rows inside the batch) is the real Spark pattern
    in every backend.

    Backends: 'fake' = seeded stand-in frames (any bytes, ts spread
    over meta.duration_ms); 'bmpv_pure' = REAL frame extraction from a
    concatenated-BMP container (functions/bmp.split_bmp_container — the
    k-th sample pulls source frame ``k * m // n_frames`` of m, ts at a
    fixed VIDEO_FPS cadence, pixels decoded by the stdlib BMP codec);
    anything else raises with the missing dependency named (ffmpeg/
    pyav for real containers)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                if decode_backend == "bmpv_pure":
                    from ..functions.bmp import (decode_bmp,
                                                 split_bmp_container)

                    blobs = split_bmp_container(bytes(payload))
                    for k in range(n_frames):
                        src = k * len(blobs) // n_frames
                        frame = _as_rgb(decode_bmp(blobs[src]))
                        out.append((media_id, k, src * 1000 // VIDEO_FPS,
                                    frame.tobytes()))
                    continue
                dur = int(meta["duration_ms"] or 1000)
                for k in range(n_frames):
                    ts = dur * k // n_frames
                    if decode_backend == "fake":
                        frame = _fake_decode_image(
                            bytes(payload) + k.to_bytes(4, "big"), 8, 8
                        )
                    else:
                        raise NotImplementedError(
                            "real frame sampling beyond concatenated-BMP "
                            "containers requires ffmpeg/pyav"
                        )
                    out.append((media_id, k, ts, frame.tobytes()))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "ts_ms", "frame"]
            )

    return media.select("media_id", "payload", "meta").mapInPandas(
        run, "media_id string, frame_idx int, ts_ms int, frame binary"
    )


def png_decode_stats(spark, png_dir: str) -> DataFrame:
    """REAL bytes->pixels decode, driver-checkable: read every PNG under
    ``png_dir`` (Spark's binaryFile source), decode with the stdlib PNG
    codec (functions/png.py — zlib + all five scanline filters), and emit
    exact-integer facts per file: dimensions, channel count, per-channel
    pixel sums. The fixtures' pixel values are closed-form formulas over
    (x, y) (tools/gen_png_fixtures.py), so the DuckDB oracle recomputes
    the expected sums from generate_series — the driver row then pins the
    whole chain formula -> encoder -> bytes on disk -> decoder -> sums,
    with the oracle fully independent of the codec under test.

    Scale shape: binaryFile packs many small files per task
    (maxPartitionBytes), decode runs once per file inside an Arrow batch,
    and only the per-file scalar rows leave Python — the thumbnail-corpus
    ingest pattern. Output: file_name, width, height, channels,
    sum_c0..sum_c3 (absent channels sum to 0)."""
    from ..functions.png import decode_png

    return _decode_stats(spark, png_dir, "*.png", decode_png)


def bmp_decode_stats(spark, bmp_dir: str) -> DataFrame:
    """BMP twin of :func:`png_decode_stats`: REAL bytes->pixels decode
    via the stdlib BMP codec (functions/bmp.py). Where PNG pins the
    filter/entropy chain, BMP pins the LAYOUT chain — 4-byte row
    padding, bottom-up vs top-down storage, BGR(A)->RGB(A) swizzle —
    each broken rule flips a channel sum, and the oracle recomputes the
    sums from the fixtures' closed-form formulas
    (tools/gen_bmp_fixtures.py), independent of the codec."""
    from ..functions.bmp import decode_bmp

    return _decode_stats(spark, bmp_dir, "*.bmp", decode_bmp)


def gif_decode_stats(spark, gif_dir: str) -> DataFrame:
    """GIF twin of :func:`png_decode_stats`: REAL bytes->pixels decode
    via the stdlib GIF codec (functions/gif.py). Where PNG pins the
    filter/deflate chain and BMP the layout rules, GIF pins LZW entropy
    decoding (growing code widths) and PALETTE INDIRECTION — a palette
    mix-up permutes colors without touching one index, which exactly
    flips the per-channel sums the oracle recomputes from the fixtures'
    closed-form index and palette formulas (tools/gen_gif_fixtures.py),
    independent of the codec. One fixture is interlaced, one carries a
    local color table."""
    from ..functions.gif import decode_gif

    return _decode_stats(spark, gif_dir, "*.gif", decode_gif)


def jpeg_decode_stats(spark, jpeg_dir: str) -> DataFrame:
    """JPEG twin of :func:`png_decode_stats`: REAL bytes->pixels decode
    via the stdlib baseline-JPEG codec (functions/jpeg.py — Huffman
    entropy decoding, dequantized 8x8 IDCT blocks, chroma upsampling,
    restart markers, JFIF color conversion; ITU-T T.81). JPEG is lossy,
    but the fixtures are blockwise-CONSTANT at quality 100 (all-ones
    quant tables, DC-only blocks — see tools/gen_jpeg_fixtures.py), so
    their round-trip is bit-exact and the oracle recomputes the channel
    sums from the closed-form block formulas plus the verbatim JFIF
    floor(x+0.5) conversion, independent of the codec under test."""
    from ..functions.jpeg import decode_jpeg

    return _decode_stats(spark, jpeg_dir, "*.jpg", decode_jpeg)


def gif_frame_stats(spark, gif_dir: str) -> DataFrame:
    """ANIMATED-GIF demux + decode over real container bytes: every
    frame of every *.gif under ``gif_dir`` is composited onto the
    logical-screen canvas exactly as a viewer would show it
    (functions/gif.decode_gif_frames — frame rects, local palettes,
    transparency, disposal), and each composited frame emits
    exact-integer channel sums. The fixtures' frame indices and
    palettes are closed-form formulas (tools/gen_gifanim_fixtures.py),
    so the oracle recomputes every composited sum from generate_series
    + CASE — wrong offsets, a palette leak between frames, or broken
    transparency all flip a sum. Scale shape: same as _decode_stats
    (files packed per task, one Arrow crossing, the fan-out from one
    file row to n frame rows happens inside the batch), the
    media_video_frames pattern over a REAL public container format.
    Output: file_name, frame_idx, width, height, sum_c0..sum_c2."""
    from ..functions.gif import decode_gif_frames

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                frames = decode_gif_frames(bytes(content))
                n, h, w, _ = frames.shape
                for t in range(n):
                    sums = [int(frames[t, :, :, c].sum(dtype=np.int64))
                            for c in range(3)]
                    out.append((path.rsplit("/", 1)[-1], t, w, h, *sums))
            yield pd.DataFrame(
                out,
                columns=["file_name", "frame_idx", "width", "height",
                         "sum_c0", "sum_c1", "sum_c2"],
            )

    files = spark.read.format("binaryFile").load(
        gif_dir.rstrip("/") + "/*.gif"
    )
    return (
        files.select("path", "content")
        .mapInPandas(
            run,
            "file_name string, frame_idx int, width int, height int, "
            "sum_c0 long, sum_c1 long, sum_c2 long",
        )
        .orderBy("file_name", "frame_idx")
    )


def sniff_image_format(data: bytes) -> str:
    """Magic-bytes format dispatch — the FIRST thing a mixed-format
    media ingest does with an opaque payload column. Returns 'png',
    'bmp', 'gif', or raises ValueError (unknown bytes must fail loudly,
    not decode as garbage)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:2] == b"\xFF\xD8":
        return "jpeg"
    raise ValueError(f"unrecognized image signature {data[:8]!r}")


def mixed_decode_stats(spark, media_dirs: list[str]) -> DataFrame:
    """Mixed-format decode over one scan: binaryFile reads the GIVEN
    media dirs (explicit list, not a recursive tree walk — a future
    fixture dir, e.g. corrupt-file error-path fixtures, must not
    silently enter this oracle-pinned row), each payload is dispatched
    by ITS OWN magic bytes to the matching stdlib codec, and the
    per-file exact-integer facts come back with the detected format —
    the real shape of a 100 TB media ingest, where a single payload
    column carries many formats and the reader, not the path, decides
    the codec. Same scale contract as png/bmp_decode_stats (files
    packed per task, one Arrow crossing, scalar rows out)."""
    from ..functions.bmp import decode_bmp
    from ..functions.gif import decode_gif
    from ..functions.jpeg import decode_jpeg
    from ..functions.png import decode_png

    decoders = {"png": decode_png, "bmp": decode_bmp, "gif": decode_gif,
                "jpeg": decode_jpeg}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                fmt = sniff_image_format(data)
                img = decoders[fmt](data)
                h, w, c = img.shape
                sums = [int(img[:, :, i].sum(dtype=np.int64))
                        for i in range(c)] + [0] * (4 - c)
                out.append((fmt, path.rsplit("/", 1)[-1], w, h, c, *sums))
            yield pd.DataFrame(
                out,
                columns=["format", "file_name", "width", "height",
                         "channels", "sum_c0", "sum_c1", "sum_c2",
                         "sum_c3"],
            )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{png,bmp,gif,jpg}")
        .load(list(media_dirs))
    )
    return (
        files.select("path", "content")
        .mapInPandas(
            run,
            "format string, file_name string, width int, height int, "
            "channels int, sum_c0 long, sum_c1 long, sum_c2 long, "
            "sum_c3 long",
        )
        .orderBy("file_name")
    )


_PERMISSIVE_STATS_COLS = ["file_name", "format", "status", "width",
                          "height", "channels", "pix_sum"]


def decode_stats_permissive(spark, media_dirs: list[str],
                            bad_records_dir: str | None = None) -> DataFrame:
    """Mixed-format decode that treats codec failures as DATA, not task
    death — the mode a 100 TB ingest actually runs: an exception
    escaping the Python worker fails the Spark task, the task's retry
    budget, and then the whole job on the FIRST truncated file in a
    shard, so dirty payloads must become quarantine rows instead
    (Spark's own csv/json sources call this PERMISSIVE + badRecordsPath;
    binary media has no built-in equivalent, hence this operator).

    Per payload: sniff the magic bytes ('unrecognized' row if unknown),
    decode with the matching stdlib codec ('corrupt' row if the codec
    raises — zlib.error / struct.error / ValueError are all reachable
    from dirty bytes, so the net is Exception-wide BY DESIGN, scoped to
    exactly the one decode call), else an 'ok' row with the exact pixel
    facts. The strict operators (mixed_decode_stats et al.) keep their
    loud-failure contract for curated corpora; this is the quarantine
    path for uncurated ones.

    ``bad_records_dir`` completes the badRecordsPath analogy (r9 VERDICT
    #6): when set, the ONE decode pass writes a parquet decode LEDGER
    there — every file's stats row plus, on non-ok rows only, the error
    message and the raw payload bytes (ok rows carry NULL payload, so
    the ledger's size is stats + the dirty fraction, never a corpus
    copy) — and the returned stats frame is a projection OF the written
    ledger, so nothing decodes twice. read_quarantine / replay_quarantine
    serve the triage-and-redelivery half: the quarantined bytes re-decode
    to the same failure classes, driver-checkable end to end
    (tests/test_multimodal.py).

    Output: file_name, format ('unknown' when unrecognized), status
    ('ok' | 'unrecognized' | 'corrupt'), width, height, channels,
    pix_sum (all-channel sum; zeros on non-ok rows).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                name = path.rsplit("/", 1)[-1]
                fmt, status, err, img = _permissive_decode_one(data)
                if status != "ok":
                    out.append((name, fmt, status, 0, 0, 0, 0, err, data))
                    continue
                h, w, c = img.shape
                out.append((name, fmt, "ok", w, h, c,
                            int(img.sum(dtype=np.int64)), None, None))
            yield pd.DataFrame(
                out,
                columns=_PERMISSIVE_STATS_COLS + ["error", "payload"],
            )

    files = spark.read.format("binaryFile").load(list(media_dirs))
    ledger = files.select("path", "content").mapInPandas(
        run,
        "file_name string, format string, status string, width int, "
        "height int, channels int, pix_sum long, error string, "
        "payload binary",
    )
    if bad_records_dir is not None:
        ledger.write.mode("overwrite").parquet(bad_records_dir)
        ledger = read_table(spark, bad_records_dir)
    return ledger.select(*_PERMISSIVE_STATS_COLS).orderBy("file_name")


def _permissive_decoders() -> dict:
    from ..functions.bmp import decode_bmp
    from ..functions.gif import decode_gif
    from ..functions.jpeg import decode_jpeg
    from ..functions.png import decode_png

    # one dispatch table for every format the sniffer can return — a
    # sniffable format missing here would mis-route to another codec
    # and quarantine HEALTHY files as corrupt (r9 review finding: gif
    # payloads were falling through to decode_bmp; the same rule added
    # jpeg in r12 when the sniffer learned FFD8)
    return {"png": decode_png, "bmp": decode_bmp, "gif": decode_gif,
            "jpeg": decode_jpeg}


def _permissive_decode_one(data: bytes):
    """(format, status, error, img-or-None) for one payload — the single
    decode rule shared by the ingest pass and quarantine replay, so a
    replayed payload reproduces its original failure class by
    construction."""
    try:
        fmt = sniff_image_format(data)
    except ValueError as e:
        return "unknown", "unrecognized", f"{type(e).__name__}: {e}", None
    try:
        img = _permissive_decoders()[fmt](data)
    except Exception as e:
        return fmt, "corrupt", f"{type(e).__name__}: {e}", None
    return fmt, "ok", None, img


def read_quarantine(spark, bad_records_dir: str) -> DataFrame:
    """The quarantined rows of a decode ledger: (file_name, format,
    status, error, content) for every non-ok payload — a pushed-filter
    scan of the written parquet (status != 'ok' prunes at the row-group
    level; ok rows carry NULL payloads anyway)."""
    return (
        read_table(spark, bad_records_dir)
        .where(F.col("status") != "ok")
        .select("file_name", "format", "status", "error",
                F.col("payload").alias("content"))
    )


def replay_quarantine(spark, bad_records_dir: str) -> DataFrame:
    """Re-decode the quarantined payloads (the redelivery half of the
    badRecordsPath loop): each stored byte string goes back through the
    SAME sniff+decode rule, returning (file_name, format, status,
    error). A fixed payload re-decodes to 'ok'; a still-broken one
    reproduces its failure class — so triage can diff this frame against
    the ledger to see what a codec fix or upstream re-fetch resolved."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for name, content in zip(pdf["file_name"], pdf["content"]):
                fmt, status, err, _ = _permissive_decode_one(bytes(content))
                out.append((name, fmt, status, err))
            yield pd.DataFrame(
                out, columns=["file_name", "format", "status", "error"]
            )

    return read_quarantine(spark, bad_records_dir).select(
        "file_name", "content"
    ).mapInPandas(
        run, "file_name string, format string, status string, error string"
    ).orderBy("file_name")


def _decode_stats(spark, media_dir: str, glob: str, decoder) -> DataFrame:
    """Shared decode-stats shape: binaryFile scan -> one Arrow crossing
    -> per-file exact-integer facts (dims, channels, channel sums)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                img = decoder(bytes(content))
                h, w, c = img.shape
                sums = [int(img[:, :, i].sum(dtype=np.int64))
                        for i in range(c)] + [0] * (4 - c)
                out.append((path.rsplit("/", 1)[-1], w, h, c, *sums))
            yield pd.DataFrame(
                out,
                columns=["file_name", "width", "height", "channels",
                         "sum_c0", "sum_c1", "sum_c2", "sum_c3"],
            )

    files = spark.read.format("binaryFile").load(
        media_dir.rstrip("/") + "/" + glob
    )
    return (
        files.select("path", "content")
        .mapInPandas(
            run,
            "file_name string, width int, height int, channels int, "
            "sum_c0 long, sum_c1 long, sum_c2 long, sum_c3 long",
        )
        .orderBy("file_name")
    )


def synthesize_media(spark, docs: DataFrame, kind_mod: int = 3) -> DataFrame:
    """Deterministic media table derived from the documents table (test
    harness): payload = utf-8 text bytes, metadata from doc stats. Gives the
    multimodal operators a reproducible input at every scale factor."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % kind_mod + 1).cast("int"),
    )
    payload = F.encode("text", "utf-8")
    media = docs.select(
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            (F.col("n_chars") % 64 + 8).cast("int").alias("width"),
            (F.col("doc_id") % 48 + 8).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
    return attach_media_ids(media)


AUDIO_WINDOW_BYTES = 256
AUDIO_HOP_BYTES = 128


def audio_window_features(media: DataFrame,
                          decode_backend: str = "fake") -> DataFrame:
    """Windowed audio features: frame each audio payload into overlapping
    windows (window/hop, the STFT access pattern) and emit per-window
    energy statistics.

    The fake backend treats the raw bytes as the PCM stream, so the
    framing arithmetic, per-window pooling, and the one Arrow-batched
    Python crossing are all real; ``decode_backend="wav_pure"`` decodes
    REAL WAV bytes via the stdlib wave module (functions/wav.py,
    channels averaged to mono — proof the seam only replaces the
    bytes->samples step); a compressed-codec library slots into
    `_real_decode_audio` (raises with the missing-lib name, same
    contract as the image/video stubs).

    Output: media_id, window_idx, start_byte, rms, peak — one row per
    window, fanned out INSIDE the batch (no per-window task overhead).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if decode_backend == "wav_pure":
                    from ..functions.wav import decode_wav

                    samples = decode_wav(
                        bytes(payload)
                    )[0].astype(np.float64).mean(axis=1)
                elif decode_backend != "fake":
                    _real_decode_audio(bytes(payload))
                else:
                    samples = np.frombuffer(bytes(payload), dtype=np.uint8)
                    samples = samples.astype(np.float64) - 128.0
                n = len(samples)
                idx = 0
                for start in range(0, max(1, n - AUDIO_WINDOW_BYTES + 1),
                                   AUDIO_HOP_BYTES):
                    w = samples[start:start + AUDIO_WINDOW_BYTES]
                    if len(w) == 0:
                        break
                    out.append((
                        media_id,
                        idx,
                        start,
                        round(float(np.sqrt((w * w).mean())), 6),
                        round(float(np.abs(w).max()), 6),
                    ))
                    idx += 1
            yield pd.DataFrame(
                out,
                columns=["media_id", "window_idx", "start_byte", "rms",
                         "peak"],
            )

    return (
        media.where(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(
            run,
            "media_id string, window_idx int, start_byte int, "
            "rms double, peak double",
        )
    )


def _real_decode_audio(payload: bytes) -> "np.ndarray":
    raise NotImplementedError(
        "real COMPRESSED audio decode needs soundfile/pyav (not installed "
        "in this environment); uncompressed WAV/PCM is REAL here via the "
        "stdlib wave module (functions/wav.py, wav_window_stats)"
    )


WAV_WINDOW_FRAMES = 256
WAV_HOP_FRAMES = 128


def wav_window_stats(spark, wav_dir: str) -> DataFrame:
    """REAL bytes->samples audio decode, driver-checkable: read every
    WAV under ``wav_dir`` (binaryFile source), parse with CPython's own
    stdlib ``wave`` module (functions/wav.py), frame each channel into
    overlapping windows (256 frames, hop 128 — the STFT access pattern,
    ragged tail kept), and emit EXACT INTEGER facts per window: frame
    count, sum of squares, peak absolute sample. The fixtures' samples
    are closed-form integer formulas over the frame index
    (tools/gen_wav_fixtures.py), so the DuckDB oracle recomputes every
    window from generate_series — independent of the parser under test,
    no float parity surface at all.

    Scale shape: identical to png/bmp_decode_stats — binaryFile packs
    small files per task, one Arrow crossing per batch, only scalar
    rows leave Python. Output: file_name, channel, window_idx,
    start_frame, n_frames, sum_sq, peak."""
    from ..functions.wav import decode_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                samples, _rate = decode_wav(bytes(content))
                fname = path.rsplit("/", 1)[-1]
                n = samples.shape[0]
                for c in range(samples.shape[1]):
                    ch = samples[:, c].astype(np.int64)
                    for widx, start in enumerate(
                        range(0, n, WAV_HOP_FRAMES)
                    ):
                        w = ch[start:start + WAV_WINDOW_FRAMES]
                        out.append((
                            fname, c, widx, start, len(w),
                            int((w * w).sum()), int(np.abs(w).max()),
                        ))
            yield pd.DataFrame(
                out,
                columns=["file_name", "channel", "window_idx",
                         "start_frame", "n_frames", "sum_sq", "peak"],
            )

    files = spark.read.format("binaryFile").load(
        wav_dir.rstrip("/") + "/*.wav"
    )
    return (
        files.select("path", "content")
        .mapInPandas(
            run,
            "file_name string, channel int, window_idx int, "
            "start_frame int, n_frames int, sum_sq long, peak long",
        )
        .orderBy("file_name", "channel", "window_idx")
    )
