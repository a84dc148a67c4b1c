"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The container ships no codec libraries, so both decode paths are
from-scratch pure-Python codecs (round 6; no stub kernels remain):

* IMAGE — multimodal_decode renders payloads as genuine 8-bit palette
  BMPs and parses them back (_bmp_encode/_bmp_decode: header
  validation, palette mapping, stride + bottom-up/top-down rows,
  8/24-bit).
* AUDIO — multimodal_audio_features builds genuine RIFF/WAVE
  containers and parses them (_wav_encode/_wav_decode: chunk walk,
  fmt parse, 8/16-bit PCM extraction).

multimodal_meta stays a column-expression byte-math pass by design
(the metadata-only scan path that never touches a decoder); frames/
resize operate on raw payload bytes (no container format involved).
Everything Spark-side is real and load-bearing for every modality:
binary columns, metadata structs, Arrow-batched ``mapInPandas`` with
explicit output schemas, 1→N frame expansion, and partition sizing.
A production build swaps the codecs for PIL/ffmpeg bindings without
touching the plan shapes.

At 100 TB the rules encoded here: binaries ride in their own column
(columnar parquet keeps them out of metadata-only scans); decode is
mapInPandas (Arrow batches, no per-row Python); fan-out (frames) emits
rows, never driver-side lists.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kawa_spark.io import table
from kawa_spark.registry import register


# The 256-entry grayscale BGRA palette is a constant — building it
# per encode call was 44 of the 50 µs each image paid (256 bytes()
# constructions + a join; r15 optimization round, guide §4.2: the
# per-row Python work inside the Arrow stage IS this tier's CPU bill).
_BMP_PALETTE = b"".join(bytes((i, i, i, 0)) for i in range(256))  # BGRA


def _bmp_encode(payload: bytes, width: int = 64) -> bytes:
    """Minimal canonical BMP writer: 8-bit indexed pixels with a
    256-entry grayscale palette, rows bottom-up and 4-byte aligned —
    the container any image viewer opens. Payload bytes become pixel
    values row-major; the last row is zero-padded to full width.
    Pure stdlib; ships to workers via shipping.ensure_shipped."""
    import struct

    n = len(payload)
    height = max((n + width - 1) // width, 1)
    stride = (width + 3) & ~3  # rows pad to 4-byte boundaries
    rows = [
        payload[r * width : (r + 1) * width].ljust(stride, b"\x00")
        for r in range(height)
    ]
    pixels = b"".join(reversed(rows))  # positive height ⇒ bottom-up
    palette = _BMP_PALETTE
    offset = 14 + 40 + len(palette)
    header = (
        b"BM"
        + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(pixels),
            2835, 2835, 256, 0,
        )
    )
    return header + palette + pixels


def _bmp_decode(buf: bytes) -> dict:
    """From-scratch BMP parser: validates the BITMAPFILEHEADER, reads
    the 40-byte BITMAPINFOHEADER, handles 8-bit palette-indexed and
    24-bit BGR pixels, 4-byte row alignment, and both bottom-up
    (positive height) and top-down (negative height) row order — the
    contract any real uncompressed BMP satisfies, not just ones this
    module wrote. Returns {width, height, mode, pixels} with pixels a
    top-down (height, width) uint8 grayscale array (24-bit decodes to
    integer-mean gray). Unit-tested in tests/test_bmp_codec.py."""
    import struct

    import numpy as np

    if len(buf) < 54 or buf[0:2] != b"BM":
        raise ValueError("not a BMP file")
    (offset,) = struct.unpack("<I", buf[10:14])
    hdr_size, width, height_raw, _planes, bpp, compression = struct.unpack(
        "<IiiHHI", buf[14:34]
    )
    if hdr_size < 40:
        raise ValueError(f"unsupported header size {hdr_size}")
    if compression != 0:
        raise ValueError(f"unsupported compression {compression}")
    top_down = height_raw < 0
    height = abs(height_raw)
    if bpp == 8:
        # palette: BGRA entries between the header and the pixel data
        pal_raw = np.frombuffer(
            buf[14 + hdr_size : offset], dtype=np.uint8
        ).reshape(-1, 4)
        # grayscale value per index = integer mean of B,G,R
        pal_gray = (
            pal_raw[:, :3].astype(np.uint32).sum(axis=1) // 3
        ).astype(np.uint8)
        stride = (width + 3) & ~3
        raw = np.frombuffer(
            buf[offset : offset + stride * height], dtype=np.uint8
        ).reshape(height, stride)[:, :width]
        pixels = pal_gray[raw]
    elif bpp == 24:
        stride = (width * 3 + 3) & ~3
        raw = np.frombuffer(
            buf[offset : offset + stride * height], dtype=np.uint8
        ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
        pixels = (raw.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
    else:
        raise ValueError(f"unsupported bit depth {bpp}")
    if not top_down:
        pixels = pixels[::-1]
    mode = "L" if bpp == 8 else "RGB"
    return {"width": width, "height": height, "mode": mode, "pixels": pixels}


@register(
    "multimodal_meta",
    oracle="""
    SELECT
      doc_id,
      CAST(strlen(text) AS BIGINT) AS n_bytes,
      'image/fake' AS mime,
      CAST(64 + unicode(substring(text, 1, 1)) % 64 AS INTEGER) AS width,
      CAST(64 + unicode(text[-1]) % 64 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary ingestion + metadata extraction, column-expression path.

    `documents.text` is encoded to a binary column standing in for
    image bytes; width/height mimic header parsing (first/last byte).
    ASCII corpus ⇒ byte n == codepoint n, which is what the oracle's
    unicode() twin states.
    """
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.lit("image/fake").alias("mime"),
        (F.lit(64) + F.ascii(F.col("text")) % 64).cast("int").alias("width"),
        (F.lit(64) + F.ascii(F.substring(F.col("text"), -1, 1)) % 64)
        .cast("int")
        .alias("height"),
    )


@register(
    "multimodal_decode",
    # Exact SQL twin of the REAL BMP pipeline: pixel bytes are the
    # document's bytes laid out 64-wide with the last row zero-padded,
    # so width = 64, height = ceil(n/64), and mean_pixel = byte sum
    # over the full (padded) raster. Integer byte sums are exact in
    # float64; the single final division lands on the identical IEEE
    # double in both engines.
    oracle="""
    SELECT
      doc_id,
      CAST(64 AS INTEGER) AS width,
      CAST((strlen(text) + 63) // 64 AS INTEGER) AS height,
      'L' AS mode,
      list_sum([unicode(c) for c in string_split(text, '')])::DOUBLE
        / (64 * ((strlen(text) + 63) // 64)) AS mean_pixel
    FROM documents
    WHERE strlen(text) > 0
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode path (not a stub since round 6): stage 1
    renders each document's bytes as a genuine 8-bit palette BMP
    (64-wide grayscale raster — the bytes an actual image corpus
    would hold); stage 2 runs the from-scratch BMP parser
    (_bmp_decode: file/info header validation, palette mapping,
    bottom-up row unflip, stride handling) and emits the parsed
    dimensions plus the mean pixel value over the decoded raster.
    Both stages are Arrow-batched mapInPandas with explicit schemas —
    the production contract; codec functions ship to workers via
    shipping.ensure_shipped."""
    from kawa_spark.io import spread
    from kawa_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    # spread() before the codec stage (r15 optimization round): the
    # small-SF corpus scans as ONE partition, serializing the per-doc
    # Python codec on one core — guide §2.5's "repartition immediately
    # after the read" case; gated no-op at real scale
    d = spread(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        ),
        "doc_id",
    )

    def encode_bmp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kawa_spark.queries.llm_multimodal import _bmp_encode

        for pdf in batches:
            # empty payloads carry no raster — mirrors the oracle's
            # strlen(text) > 0 filter and multimodal_resize's behavior
            pdf = pdf[[len(p) > 0 for p in pdf["payload"]]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bmp": [_bmp_encode(bytes(p)) for p in pdf["payload"]],
                }
            )

    bmps = d.mapInPandas(encode_bmp, schema="doc_id long, bmp binary")

    schema = (
        "doc_id long, width int, height int, mode string, mean_pixel double"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kawa_spark.queries.llm_multimodal import _bmp_decode

        for pdf in batches:
            meta = [_bmp_decode(bytes(b)) for b in pdf["bmp"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [m["width"] for m in meta],
                    "height": [m["height"] for m in meta],
                    "mode": [m["mode"] for m in meta],
                    "mean_pixel": [
                        float(m["pixels"].astype("int64").sum())
                        / m["pixels"].size
                        for m in meta
                    ],
                }
            )

    return bmps.mapInPandas(decode, schema=schema)


def _wav_encode(pcm: bytes, sample_rate: int = 8000, bits: int = 8) -> bytes:
    """Minimal canonical RIFF/WAVE writer (PCM, mono): 12-byte RIFF
    descriptor + 16-byte fmt chunk + data chunk. Pure stdlib; the
    container bytes are what ``wave.open`` would produce for the same
    samples. Referenced from worker closures via shipping.py's
    ensure_shipped (the documented shared-helper path), so the tested
    function IS the one executors run."""
    import struct

    n = len(pcm)
    block_align = bits // 8
    # RIFF chunks are word-aligned: an odd-length data chunk carries a
    # trailing pad byte NOT counted in the chunk's declared size (the
    # decoder walks `sz + (sz & 1)`); the RIFF size counts it.
    pad = b"\x00" if n & 1 else b""
    return (
        b"RIFF" + struct.pack("<I", 36 + n + len(pad)) + b"WAVE"
        + b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, 1, sample_rate,
            sample_rate * block_align, block_align, bits,
        )
        + b"data" + struct.pack("<I", n) + pcm + pad
    )


def _wav_decode(buf: bytes) -> dict:
    """From-scratch WAV parser: validates the RIFF/WAVE descriptor,
    walks word-aligned chunks to find ``fmt `` and ``data``, and
    decodes 8-bit (unsigned, centered at 128) or 16-bit (signed LE)
    PCM. Returns {sample_rate, n_channels, bits, samples} with
    samples centered float64 — the contract any real WAV file
    satisfies, not just ones this module wrote. Shipped to workers
    via ensure_shipped; unit-tested round-trip against the stdlib
    ``wave`` module in tests/test_wav_codec.py."""
    import struct

    import numpy as np

    if len(buf) < 12 or buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (sz,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            audio_fmt, ch, rate, _brate, _balign, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise ValueError(f"non-PCM audio format {audio_fmt}")
            fmt = {"sample_rate": rate, "n_channels": ch, "bits": bits}
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if fmt["bits"] == 8:
        samples = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        )
    elif fmt["bits"] == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64)
    else:
        raise ValueError(f"unsupported bit depth {fmt['bits']}")
    return {**fmt, "samples": samples}


@register(
    "multimodal_audio_features",
    # Exact SQL twin of the real WAV pipeline: the 8-bit PCM data
    # chunk holds the document's bytes, so decoded centered samples
    # equal unicode(char) - 128. Squares of centered uint8 samples
    # are integers ≤ 128², window sums stay < 2^24 — exact in float64
    # under ANY summation order, so numpy's pairwise sum and DuckDB's
    # sequential sum agree bit-for-bit; sqrt and the one division are
    # both correctly rounded. Sign changes mirror np.signbit diffs
    # (s == 0.0 is positive-signbit on both sides). Header fields are
    # the encoder's constants, re-read from the parsed fmt chunk.
    oracle="""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, strlen(text))) AS i
      FROM documents
    ),
    chars AS (
      SELECT doc_id, i,
             unicode(substring(text, CAST(i AS INTEGER), 1)) - 128.0 AS s
      FROM idx
    ),
    w AS (
      SELECT doc_id, CAST((i - 1) // 1024 AS INTEGER) AS window_no, s,
             lag(s) OVER (
               PARTITION BY doc_id, (i - 1) // 1024 ORDER BY i
             ) AS prev
      FROM chars
    )
    SELECT doc_id, window_no,
      CAST(8000 AS INTEGER) AS sample_rate,
      CAST(8 AS INTEGER) AS bits,
      sqrt(sum(s * s) / count(*)) AS rms,
      CAST(
        count(*) FILTER (WHERE prev IS NOT NULL AND (s < 0) != (prev < 0))
        AS INTEGER
      ) AS sign_changes
    FROM w
    GROUP BY doc_id, window_no
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path (not a stub since round 6): stage 1
    wraps each document's bytes in a genuine RIFF/WAVE container
    (8-bit PCM mono @ 8 kHz — the bytes an actual audio corpus would
    hold); stage 2 runs the from-scratch WAV parser (_wav_decode:
    RIFF validation, chunk walk, fmt parse, PCM extraction) and
    numpy window features (RMS energy, zero-crossing-ish rate) over
    Arrow batches. One row in → one row per 1024-sample analysis
    window out, carrying the header fields the parser read. Both
    stages are mapInPandas with explicit schemas; the codec functions
    ship to workers via shipping.ensure_shipped."""
    from kawa_spark.io import spread
    from kawa_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    # spread() before the codec stage — see multimodal_decode (r15
    # optimization round: single-partition scan serialized the codec)
    d = spread(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("pcm")
        ),
        "doc_id",
    )

    def encode_wav(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kawa_spark.queries.llm_multimodal import _wav_encode

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "wav": [_wav_encode(bytes(p)) for p in pdf["pcm"]],
                }
            )

    wavs = d.mapInPandas(encode_wav, schema="doc_id long, wav binary")

    schema = (
        "doc_id long, window_no int, sample_rate int, bits int,"
        " rms double, sign_changes int"
    )

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from kawa_spark.queries.llm_multimodal import _wav_decode

        win = 1024
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "window_no": [], "sample_rate": [],
                "bits": [], "rms": [], "sign_changes": [],
            }
            for doc_id, wav in zip(pdf["doc_id"], pdf["wav"]):
                dec = _wav_decode(bytes(wav))
                samples = dec["samples"]
                for w in range(0, len(samples), win):
                    chunk = samples[w : w + win]
                    out["doc_id"].append(doc_id)
                    out["window_no"].append(w // win)
                    out["sample_rate"].append(dec["sample_rate"])
                    out["bits"].append(dec["bits"])
                    out["rms"].append(float(np.sqrt(np.mean(chunk**2))))
                    out["sign_changes"].append(
                        int(np.count_nonzero(np.diff(np.signbit(chunk))))
                    )
            yield pd.DataFrame(out)

    return wavs.mapInPandas(features, schema=schema)


@register(
    "multimodal_frames",
    # Each frame row is summarized by exact integer stats of its byte
    # slice (ASCII ⇒ byte == codepoint), so the 1→N fan-out has an
    # exact char-explode SQL twin.
    oracle="""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, strlen(text))) AS i
      FROM documents
    ),
    f AS (
      SELECT doc_id, CAST((i - 1) // 256 AS INTEGER) AS frame_no,
             unicode(substring(text, CAST(i AS INTEGER), 1)) AS b
      FROM idx
    )
    SELECT doc_id, frame_no,
      CAST(count(*) AS INTEGER) AS frame_len,
      CAST(sum(b) AS BIGINT) AS frame_byte_sum
    FROM f
    GROUP BY doc_id, frame_no
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: each binary expands to ceil(n_bytes/256) frame
    rows (stand-in for video frame extraction). Fan-out happens inside
    the Arrow batch — output rows stream out per partition, nothing
    accumulates on the driver. The binary slice itself stays inside the
    UDF; each emitted row carries exact integer stats of its frame so
    the fan-out is value-checkable cross-engine (raw BLOB columns
    canonicalize differently between engines)."""
    from kawa_spark.io import spread

    # spread() before the Python fan-out — see multimodal_decode (r15
    # optimization round: single-partition scan serialized the stage)
    d = spread(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        ),
        "doc_id",
    )

    schema = "doc_id long, frame_no int, frame_len int, frame_byte_sum long"

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = 256
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_no": [],
                "frame_len": [],
                "frame_byte_sum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i in range(0, len(payload), chunk):
                    frame = payload[i : i + chunk]
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(i // chunk)
                    out["frame_len"].append(len(frame))
                    out["frame_byte_sum"].append(sum(frame))
            yield pd.DataFrame(out)

    return d.mapInPandas(sample_frames, schema=schema)


@register(
    "multimodal_resize",
    # Nearest-neighbor index math is exact integer arithmetic, so the
    # resample has an exact SQL twin: out[i] = payload[(i*n)//64] for
    # i in 0..63 (upsampling repeats samples when n < 64, exactly as
    # the kernel does).
    oracle="""
    WITH idx AS (
      SELECT doc_id, text, strlen(text) AS n,
             unnest(generate_series(0, 63)) AS i
      FROM documents
      WHERE strlen(text) > 0
    ),
    sampled AS (
      SELECT doc_id, n, i,
             unicode(substring(text, CAST((i * n) // 64 AS INTEGER) + 1, 1))
               AS b
      FROM idx
    )
    SELECT doc_id,
      CAST(MAX(n) AS INTEGER) AS n_in,
      64 AS n_out,
      CAST(SUM(b) AS BIGINT) AS sample_sum,
      CAST(MAX(CASE WHEN i = 0 THEN b END) AS INTEGER) AS sample_first,
      CAST(MAX(CASE WHEN i = 63 THEN b END) AS INTEGER) AS sample_last
    FROM sampled
    GROUP BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: each payload (standing in for a pixel row) is
    nearest-neighbor resampled to a fixed 64 samples inside the Arrow
    batch — the downsample/upsample kernel a real build replaces with
    PIL.Image.resize. Emits exact integer stats of the resampled
    vector so the kernel execution is value-checkable cross-engine.

    Scale shape: map-only over partitions (mapInPandas, no shuffle);
    output size is fixed per row regardless of payload size — the
    property that makes resize the bandwidth-reducing first stage of
    an image pipeline."""
    from kawa_spark.io import spread

    # spread() before the Python kernel — see multimodal_decode (r15
    # optimization round: single-partition scan serialized the stage)
    d = spread(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        ),
        "doc_id",
    )

    schema = (
        "doc_id long, n_in int, n_out int, sample_sum long, "
        "sample_first int, sample_last int"
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        out_len = 64
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "n_in": [],
                "n_out": [],
                "sample_sum": [],
                "sample_first": [],
                "sample_last": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                if n == 0:
                    continue  # real decoder would have rejected it
                arr = np.frombuffer(payload, dtype=np.uint8)
                sel = (np.arange(out_len) * n) // out_len
                resized = arr[sel]
                out["doc_id"].append(doc_id)
                out["n_in"].append(n)
                out["n_out"].append(out_len)
                out["sample_sum"].append(int(resized.sum()))
                out["sample_first"].append(int(resized[0]))
                out["sample_last"].append(int(resized[-1]))
            yield pd.DataFrame(out)

    return d.mapInPandas(resize, schema=schema)


# ---------------------------------------------------------------------------
# Image dedup: perceptual difference-hash over the REAL BMP decode path
# ---------------------------------------------------------------------------

# dHash geometry: the top 64-wide x 8-row crop of the decoded raster
# (zero-padded, exactly the codec's own padding convention) reduced to
# 64 cells of 8 consecutive bytes; bit_k = cell_k > cell_{k+1}
# (k = 0..62) -- the gradient hash, pure integer comparisons. An
# average-hash variant was measured first and REJECTED: byte values of
# natural text cluster so tightly that cell-vs-mean thresholds
# collided 68% of the corpus into shared hashes (340/500 at sf0.001);
# the gradient form reads 12/500 -- the honest near-dup rate.
DHASH_CROP_ROWS = 8
DHASH_CELLS = 64
DHASH_CELL_BYTES = 8


def _dhash_plant_texts() -> tuple[str, str]:
    """Two planted documents with IDENTICAL first-512-byte crops but
    different tails: the same IMAGE carried by different byte streams
    -- the duplicate class byte-level dedup (dedup_exact) structurally
    misses and image-level dedup must catch. Fully literal (no corpus
    dependence), embedded verbatim in both engines."""
    base = "imagebase-plant"
    pad = "abcdefg"
    crop = (base + pad * ((512 - len(base)) // len(pad) + 1))[:512]
    return crop + "tail-a", crop + "tail-b"


def _dhash_ctes(plants: list[tuple[int, str]]) -> str:
    """The analytic dHash CTE chain (docs-with-plants → crop cells →
    63-bit gradient hashes) recomputed from the document bytes (ASCII
    corpus => byte n == codepoint n -- the multimodal_meta contract),
    so the REAL BMP-roundtrip path is checked against an engine that
    never runs the codec. ONE generator, parameterized on the plant
    set, shared by the exact-dedup and near-dup oracles (the shared-
    training-CTE rule from _pq_train_ctes)."""
    # SQL-literal discipline (ADVICE r12): the plant texts are
    # interpolated into single-quoted literals in BOTH engines, so a
    # quote would break (or inject into) the oracles; escape by SQL
    # doubling — a no-op for the current quote-free ASCII plants,
    # correctness for any future plant set.
    plant_rows = "".join(
        "\n      UNION ALL SELECT {}, '{}'".format(i, t.replace("'", "''"))
        for i, t in plants
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE strlen(text) > 0{plant_rows}
    ), cells AS (
      SELECT doc_id, t.k AS k,
        list_reduce(list_prepend(0, list_transform(generate_series(0, {DHASH_CELL_BYTES - 1}),
          j -> CASE WHEN t.k * {DHASH_CELL_BYTES} + j + 1 <= strlen(text)
                    THEN unicode(substring(text, t.k * {DHASH_CELL_BYTES} + j + 1, 1))
                    ELSE 0 END)), (a, b) -> a + b) AS cell_sum
      FROM docs, UNNEST(generate_series(0, {DHASH_CELLS - 1})) AS t(k)
    ), vecs AS (
      SELECT doc_id, list(cell_sum ORDER BY k) AS cs FROM cells GROUP BY doc_id
    ), hashes AS (
      SELECT doc_id,
             array_to_string(list_transform(generate_series(1, {DHASH_CELLS - 1}),
               k -> CASE WHEN cs[k] > cs[k + 1] THEN '1' ELSE '0' END), '')
               AS dhash
      FROM vecs
    )"""


def _image_dedup_sql() -> str:
    """DuckDB twin of the exact dHash dedup: the shared analytic hash
    chain, then hash-equality groups with min-id keepers."""
    ta, tb = _dhash_plant_texts()
    return f"""{_dhash_ctes([(-101, ta), (-102, tb)])}, grp AS (
      SELECT dhash, MIN(doc_id) AS keeper, COUNT(*) AS n_group
      FROM hashes GROUP BY dhash
    )
    SELECT h.doc_id, h.dhash, g.keeper, h.doc_id <> g.keeper AS is_dup,
           CAST(g.n_group AS BIGINT) AS n_group
    FROM hashes h JOIN grp g USING (dhash)
    """


def _dhash_bits(pixels) -> str:
    """63-bit difference-hash of a decoded raster: top DHASH_CROP_ROWS
    rows (zero-padded to the fixed 64x8 crop), 64 cells of 8
    consecutive bytes, bit_k = cell_k > cell_{k+1}."""
    import numpy as np

    crop = np.zeros((DHASH_CROP_ROWS, 64), dtype=np.int64)
    rows = min(pixels.shape[0], DHASH_CROP_ROWS)
    crop[:rows] = pixels[:rows].astype(np.int64)
    cells = crop.reshape(DHASH_CELLS, DHASH_CELL_BYTES).sum(axis=1)
    # vectorized bit string: 63 comparisons as one numpy op, bytes of
    # '0'/'1' (0x30/0x31) decoded once — the per-bit Python loop was
    # half the per-image hash cost (r15 optimization round, §4.2)
    return (
        (np.where(cells[:-1] > cells[1:], 0x31, 0x30))
        .astype(np.uint8)
        .tobytes()
        .decode("ascii")
    )


def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level duplicate detection -- the multimodal tier joined to
    the dedup tier: every payload rides the REAL codec round trip
    (render to a genuine 8-bit palette BMP, parse it back with the
    from-scratch decoder), the decoded raster is reduced to a 63-bit
    perceptual difference-hash (top-crop cell gradients -- integer
    comparisons only), and duplicates are hash-equality groups with
    min-id keepers -- the dedup_exact shape applied to IMAGE content.

    The planted pair (-101/-102) carries the class this key exists
    for: identical pixels, different byte streams (distinct tails) --
    dedup_exact's digest misses it, the image hash catches it. The
    natural corpus contributes ~12 colliding docs at sf0.001 (the
    re-crawl near-dups whose crops agree), so both classes are
    non-vacuous at every SF.

    Scale: encode/decode/hash are Arrow-batched mapInPandas over one
    corpus scan (map-only; in production the hash is computed at
    ingest and stored as a column); the dedup itself is ONE shuffle
    keyed on the 63-bit hash -- exactly dedup_exact's plan at any
    volume. Banked for a window-rotation registration
    (docs/STATUS.md round-13 candidates).

    kawa parity: none; mandate (M) multimodal + dedup extension."""
    from kawa_spark.io import spread

    ta, tb = _dhash_plant_texts()
    # spread() BEFORE the codec stage (r15 optimization round): the
    # small-SF corpus arrives as ONE scan partition, so the per-doc
    # Python codec chain — this tier's measured cost at every probe
    # scale — ran serially on one core (the union's plant-side
    # partitions are empty; they masked the skew from a partition
    # count check). The sibling shingling keys' convention (guide
    # §2.5 "input skew: repartition immediately after the read");
    # gated no-op at real scale where file splits already parallelize.
    d = spread(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0),
        "doc_id",
    )
    plants = spark.createDataFrame(
        [(-101, ta), (-102, tb)], schema="doc_id long, text string"
    )
    docs = d.unionByName(plants).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return image_dedup_from_hashes(image_hashes(docs))


def image_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → (doc_id, dhash): the fused codec
    round trip + dHash as ONE Arrow stage. The BMP bytes are consumed
    by nothing else, so materializing them as an intermediate binary
    column would ship the corpus across the JVM↔Python boundary twice
    for no reader (code review r12). A stateless 1:1 transform, so the
    SAME core hashes a batch frame and a document STREAM (the banked
    streaming twin maps it per microbatch — zero state-store rows)."""
    from kawa_spark.shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)

    def hash_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kawa_spark.queries.llm_multimodal import (
            _bmp_decode,
            _bmp_encode,
            _dhash_bits,
        )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "dhash": [
                        _dhash_bits(
                            _bmp_decode(_bmp_encode(bytes(p)))["pixels"]
                        )
                        for p in pdf["payload"]
                    ],
                }
            )

    return docs.mapInPandas(hash_images, schema="doc_id long, dhash string")


def image_dedup_from_hashes(hashed: DataFrame) -> DataFrame:
    """(doc_id, dhash) → the dedup verdict: hash-equality groups with
    min-id keepers — ONE shuffle keyed on the hash (dedup_exact's
    plan), as a WINDOW over the hash groups rather than a
    groupBy + join-back: the join form consumed the un-persisted
    hash frame twice, which re-ran the expensive codec+hash Arrow
    stage per side (code review r12 pass 2 — 2 MapInPandas nodes in
    the executed plan). The window reads the frame once; group sizes
    are corpus-dup-group-bounded. Shared by the batch key and the
    banked streaming twin so the two bindings cannot drift."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("dhash")
    return hashed.select(
        "doc_id",
        "dhash",
        F.min("doc_id").over(w).alias("keeper"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_group"),
    ).select(
        "doc_id",
        "dhash",
        "keeper",
        (F.col("doc_id") != F.col("keeper")).alias("is_dup"),
        "n_group",
    )


# ---------------------------------------------------------------------------
# Image NEAR-dup: Hamming-banded LSH over the perceptual hashes
# ---------------------------------------------------------------------------

IMG_HAM_T = 2        # near-dup threshold on the 63-bit gradient hash
IMG_BANDS = 3        # T+1 disjoint bands — the pigeonhole minimum
IMG_BAND_BITS = 21   # 63 = 3 x 21 exactly
IMG_BUCKET_CAP = 64  # the dedup tier's LSH bucket guard (measured below)


def _dhash_near_plants() -> list[tuple[int, str]]:
    """Trio with CONSTRUCTED pairwise Hamming distances: cells 0..62
    follow a fixed pseudo-random letter pattern (cell j = 8 copies of
    chr(97 + (j·37) mod 26)) and only the FINAL cell differs between
    the variants — low ('!'·8 = 264 ⇒ bit62 = 1, since cell62 =
    824 > 264) for the base pair, high ('~'·8 = 1008 ⇒ bit62 = 0) for
    the flip — so hamming(base, flip) == 1 EXACTLY by construction
    (cell 63 participates in no other comparison).

    The irregular body is load-bearing (code review r12 pass 2): a
    first all-equal-cells construction hashed to '0'*63 — whose
    interleaved bands are the corpus's CROWDED all-zero buckets, so
    the flip pair's only shared bands got cap-evicted as the corpus
    grew. The letter pattern's 63-bit signature gives the plants
    band strings essentially private buckets; survival is verified
    at both gate SFs by the tests and at the 100× probe build
    (SCALE.md r12)."""
    cells = [97 + (j * 37) % 26 for j in range(DHASH_CELLS - 1)]
    body = "".join(chr(c) * DHASH_CELL_BYTES for c in cells)
    base = body + "!" * DHASH_CELL_BYTES
    flip = body + "~" * DHASH_CELL_BYTES
    return [
        (-111, base + "tail-a"),
        (-112, base + "tail-b"),
        (-113, flip + "tail-c"),
    ]


def _band_of(h: str, b: int) -> str:
    """Band b of a bit string: the INTERLEAVED positions b, b+3,
    b+6, … (python h[b::3]). Interleaving is load-bearing: gradient
    hashes of text rasters are low-entropy at the tail (short docs
    zero-pad), so CONTIGUOUS bands put half the corpus into one
    trailing-zeros bucket; spreading each band across the whole hash
    mixes high- and low-entropy positions (measured at the 100×
    build: max contiguous-16-bit bucket 281k members vs interleaved
    6.4k). Disjoint position sets keep the pigeonhole guarantee
    exact: ≤ IMG_HAM_T flipped bits touch ≤ IMG_HAM_T of the
    IMG_BANDS = IMG_HAM_T + 1 bands, so every true pair shares ≥ 1
    untouched band."""
    return h[b::IMG_BANDS]


def _image_near_sql() -> str:
    """DuckDB twin of the banded near-dup search: the SHARED analytic
    hash chain (_dhash_ctes — the exact key's oracle embeds the same
    string), the Horner-fold integer form of each hash, interleaved
    band explode, bucket cap, distinct candidate pairs, and the
    integer xor/bit_count Hamming verify."""
    return f"""{_dhash_ctes(_dhash_near_plants())}, ints AS (
      SELECT doc_id, dhash,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, {DHASH_CELLS - 1}),
                 k -> CAST(CASE WHEN substring(dhash, k, 1) = '1'
                           THEN 1 ELSE 0 END AS BIGINT))),
               (a, x) -> a * 2 + x) AS dhash_int
      FROM hashes
    ), bands AS (
      SELECT doc_id, dhash_int, t.b AS band_id,
             array_to_string(list_transform(
               generate_series(0, {IMG_BAND_BITS - 1}),
               j -> substring(dhash, t.b + j * {IMG_BANDS} + 1, 1)), '')
               AS band_str
      FROM ints, UNNEST(generate_series(0, {IMG_BANDS - 1})) AS t(b)
    ), sized AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_str)
              <= {IMG_BUCKET_CAP}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.dhash_int AS ia, b.dhash_int AS ib
      FROM sized a JOIN sized b
        ON a.band_id = b.band_id AND a.band_str = b.band_str
       AND a.doc_id < b.doc_id
    ), scored AS (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(ia, ib)) AS INTEGER) AS hamming
      FROM cand
    )
    SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= {IMG_HAM_T}
    """


@register("multimodal_image_dedup_near", oracle=_image_near_sql())
def multimodal_image_dedup_near(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image NEAR-duplicate search — the scale-honest completion of
    multimodal_image_dedup: exact hash equality misses a re-encoded
    image whose perceptual hash flips a single bit, so the near form
    bands the 63-bit gradient hash into IMG_BANDS = T+1 disjoint
    INTERLEAVED 21-bit bands (pigeonhole-exact for T = IMG_HAM_T; see
    _band_of for why interleaving, not contiguity), pairs only inside
    bucket-capped shared bands (the dedup tier's LSH discipline —
    never all-pairs), and verifies candidates with one integer
    xor + bit_count per pair (the hash rides as a 63-bit BIGINT; no
    per-position work in the verify).

    Geometry was MEASURED, not guessed (docs/SCALE.md r12): a first
    form with four contiguous 16-bit bands and cap 200 sat in the
    fixed-cap drift window at the 100× build — 58M capped candidate
    pairs, 229 s — because text-raster hashes are low-entropy; the
    shipped 3×21 interleaved geometry with cap 64 reads 19k candidate
    pairs on the same build. The cap is the deliberate recall/scale
    tradeoff (it evicts crowded junk-gradient buckets), mirrored in
    the oracle, and the full capped semantics are replayed exactly by
    the pure-Python reference in tests/test_image_dedup.py.

    Plants: a constructed trio whose pairwise distances are 0 and
    EXACTLY 1 by design (_dhash_near_plants) — both the
    crop-identical class and the bit-flip class the exact key misses
    verify at every SF.

    Scale: hashes are the map-only codec scan, run once: the two
    self-join sides share the band-cap window's exchange through AQE
    reuse (the lazy tree beat caching the band table at sf0.1 and 10×;
    docs/SCALE.md, "Lazy cores"); bands explode
    IMG_BANDS narrow rows per doc; the bucket guard is the shared
    llm_dedup._cap_buckets window on the SAME (band_id, band_str)
    key the self-join shuffles on; the self-join moves (doc_id,
    21-bit band) rows inside capped buckets only; the verify is O(1)
    integer ops per candidate. Banked for a window-rotation
    registration (docs/STATUS.md round-13 candidates).

    kawa parity: none; mandate (M) multimodal + dedup extension."""
    return _image_near_pairs(_image_near_bands(spark, sf_dir))


def _image_near_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped (doc_id, dhash_int, band_id, band_str) band rows of the
    documents plus the planted trio: both self-join sides read them."""
    from kawa_spark.io import spread

    ta = _dhash_near_plants()
    # spread() before the codec stage — see multimodal_image_dedup
    # (r15 optimization round: the single-partition scan serialized
    # the per-doc codec chain on one core at every probe scale)
    d = spread(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0),
        "doc_id",
    )
    plants = spark.createDataFrame(
        ta, schema="doc_id long, text string"
    )
    docs = d.unionByName(plants).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    from kawa_spark.queries.llm_dedup import _cap_buckets

    hashed = image_hashes(docs).select(
        "doc_id",
        "dhash",
        F.conv(F.col("dhash"), 2, 10).cast("long").alias("dhash_int"),
    )
    bands = hashed.select(
        "doc_id",
        "dhash_int",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat(
                            *[
                                F.substring(
                                    F.col("dhash"), b + j * IMG_BANDS + 1, 1
                                )
                                for j in range(IMG_BAND_BITS)
                            ]
                        ).alias("band_str"),
                    )
                    for b in range(IMG_BANDS)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "dhash_int", "s.band_id", "s.band_str")
    # the shared bucket guard: a window count on the SAME key the
    # self-join shuffles on (llm_dedup._cap_buckets — not a third
    # hand-rolled copy of the cap)
    return _cap_buckets(bands, cap=IMG_BUCKET_CAP, keys=("band_id", "band_str"))


def _image_near_pairs(sized: DataFrame) -> DataFrame:
    """Band self-join → (doc_a, doc_b, hamming ≤ IMG_HAM_T)."""
    left = sized.select(
        "band_id",
        "band_str",
        F.col("doc_id").alias("doc_a"),
        F.col("dhash_int").alias("ia"),
    )
    right = sized.select(
        "band_id",
        "band_str",
        F.col("doc_id").alias("doc_b"),
        F.col("dhash_int").alias("ib"),
    )
    cand = (
        left.join(right, ["band_id", "band_str"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ia", "ib")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("ia").bitwiseXOR(F.col("ib")))
        .cast("int")
        .alias("hamming"),
    ).filter(F.col("hamming") <= IMG_HAM_T)


# ---------------------------------------------------------------------------
# Cross-snapshot image near-dup: the incremental family's 4th modality
# ---------------------------------------------------------------------------


def _inc_image_plants() -> tuple[list[tuple[int, str]], list[tuple[int, str]]]:
    """(prior plants, new plants) for the cross-snapshot image key:
    the SAME constructed trio as _dhash_near_plants (crop-identical
    pair + exact-1-bit flip), re-identified and side-split so the new
    batch carries both match classes against the prior corpus —
    (-122 → -121) at hamming 0 (same image, different byte tail: the
    class byte-level incremental dedup structurally misses) and
    (-123 → -121) at hamming 1 (the re-encode bit-flip class exact
    image dedup misses). Distinct ids from the self-join key's
    -111/-113 trio so the two keys' plant sets can never collide in
    a shared scratch universe."""
    (_, a), (_, b), (_, c) = _dhash_near_plants()
    return [(-121, a)], [(-122, b), (-123, c)]


def _inc_image_side_sql() -> str:
    """Side tag as SQL — plants by explicit id (negative ids never
    reach the %-split, whose semantics differ on negatives between
    engines), naturals by the shared snapshot predicate."""
    from kawa_spark.queries.llm_dedup import INC_PRIOR_MOD

    return (
        "CASE WHEN doc_id = -121 THEN 'p' "
        "WHEN doc_id IN (-122, -123) THEN 'n' "
        f"WHEN doc_id % 10 < {INC_PRIOR_MOD} THEN 'p' ELSE 'n' END"
    )


def _inc_image_sql() -> str:
    """DuckDB twin of the cross-snapshot banded search: the SHARED
    analytic hash chain (_dhash_ctes), integer hash fold, interleaved
    band explode, COMBINED-population bucket cap (a degenerate bucket
    is degenerate regardless of which snapshot its rows came from —
    the minhash_band_rows argument), new×prior candidate join, and
    the integer xor/bit_count Hamming verify."""
    prior, newb = _inc_image_plants()
    return f"""{_dhash_ctes(prior + newb)}, ints AS (
      SELECT doc_id, dhash, {_inc_image_side_sql()} AS side,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, {DHASH_CELLS - 1}),
                 k -> CAST(CASE WHEN substring(dhash, k, 1) = '1'
                           THEN 1 ELSE 0 END AS BIGINT))),
               (a, x) -> a * 2 + x) AS dhash_int
      FROM hashes
    ), bands AS (
      SELECT doc_id, side, dhash_int, t.b AS band_id,
             array_to_string(list_transform(
               generate_series(0, {IMG_BAND_BITS - 1}),
               j -> substring(dhash, t.b + j * {IMG_BANDS} + 1, 1)), '')
               AS band_str
      FROM ints, UNNEST(generate_series(0, {IMG_BANDS - 1})) AS t(b)
    ), sized AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_str)
              <= {IMG_BUCKET_CAP}
    ), cand AS (
      SELECT DISTINCT n.doc_id AS doc_id, p.doc_id AS prior_id,
                      n.dhash_int AS i_n, p.dhash_int AS i_p
      FROM sized n JOIN sized p
        ON n.band_id = p.band_id AND n.band_str = p.band_str
       AND n.side = 'n' AND p.side = 'p'
    )
    SELECT doc_id, prior_id,
           CAST(bit_count(xor(i_n, i_p)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(i_n, i_p)) <= {IMG_HAM_T}
    """


@register("dedup_incremental_image", oracle=_inc_image_sql())
def dedup_incremental_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot image near-dup — the FOURTH modality of the
    incremental-dedup family (exact digests, minhash shingles,
    embedding cosine, and now perceptual image hashes): today's
    document batch is image-hashed (the REAL BMP codec round trip,
    one Arrow-batched scan), banded into the near key's interleaved
    21-bit Hamming bands, and joined new×prior inside bucket-capped
    shared bands only; candidates verify with one integer
    xor/bit_count per pair. Output (doc_id, prior_id, hamming ≤
    IMG_HAM_T); novel images are absent. Same shape as
    dedup_incremental_minhash with the dHash replacing the signature.

    Scale: the production run hashes ONLY the day's batch (the prior
    side's (doc_id, dhash) table — 8 bytes + id per image — is what
    a deployment persists between snapshots, bucketed by band; this
    binding recomputes it from the corpus because the testdata has
    one snapshot). Candidates exist only inside shared capped bands —
    never quadratic, at any duplication rate. The combined-population
    cap, band geometry (IMG_BANDS = IMG_HAM_T + 1 disjoint
    interleaved bands — pigeonhole-exact recall), and plants are
    mirrored in the oracle, so the capped semantics are
    hash-verified.

    The registered form is the lazy tree: the n/p join sides share the
    band-cap window's exchange through AQE reuse, so the codec chain
    runs once, and the tree beat the materialized form at sf0.1 and
    10× (docs/SCALE.md, "Lazy cores"). Registered on an r15 free slot
    (docs/STATUS.md round-14 bank).

    kawa parity: none; mandate (M) multimodal + dedup extension."""
    return incremental_image_from_hashes(_inc_image_hashed(spark, sf_dir))


def _inc_image_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_image's side-tagged (doc_id, dhash, side,
    dhash_int) hash table over the documents plus the plants."""
    from kawa_spark.io import spread
    from kawa_spark.queries.llm_dedup import is_prior_doc

    prior_p, new_p = _inc_image_plants()
    # spread() before the codec stage — see multimodal_image_dedup
    # (r15 optimization round: the single-partition scan serialized
    # the per-doc codec chain on one core at every probe scale)
    d = spread(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0),
        "doc_id",
    )
    plants = spark.createDataFrame(
        prior_p + new_p, schema="doc_id long, text string"
    )
    docs = d.unionByName(plants).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    # side is a pure function of doc_id, so it attaches AFTER the
    # codec scan — the Arrow stage ships (doc_id, payload) only
    side = (
        F.when(F.col("doc_id") == -121, F.lit("p"))
        .when(F.col("doc_id").isin(-122, -123), F.lit("n"))
        .otherwise(
            F.when(is_prior_doc(F.col("doc_id")), F.lit("p")).otherwise(
                F.lit("n")
            )
        )
    )
    return image_hashes(docs).select(
        "doc_id", "dhash", side.alias("side"), _dhash_int().alias("dhash_int")
    )


def _dhash_int() -> F.Column:
    """The 63-bit hash string as a BIGINT (the Horner fold's Spark
    twin) — shared by every consumer that carries the integer form."""
    return F.conv(F.col("dhash"), 2, 10).cast("long")


def incremental_image_from_hashes(hashed: DataFrame) -> DataFrame:
    """The band/cap/join/verify half over an ALREADY-COMPUTED
    side-tagged hash table (doc_id, side, dhash, dhash_int), as a lazy
    tree — the incremental_embedding_from_sigs seam for the image
    modality, so a streaming twin can compute hashes ON the document
    stream (the stateless Arrow stage maps per microbatch), drain
    them, and feed the identical core."""
    return incremental_image_from_bands(incremental_image_bands(hashed))


def incremental_image_bands(hashed: DataFrame) -> DataFrame:
    """Side-tagged hashes → capped (doc_id, side, dhash_int, band_id,
    band_str) rows; both join sides read them."""
    bands = hashed.select(
        "doc_id",
        "side",
        "dhash_int",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat(
                            *[
                                F.substring(
                                    F.col("dhash"), b + j * IMG_BANDS + 1, 1
                                )
                                for j in range(IMG_BAND_BITS)
                            ]
                        ).alias("band_str"),
                    )
                    for b in range(IMG_BANDS)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "side", "dhash_int", "s.band_id", "s.band_str")
    from kawa_spark.queries.llm_dedup import _cap_buckets

    return _cap_buckets(bands, cap=IMG_BUCKET_CAP, keys=("band_id", "band_str"))


def incremental_image_from_bands(sized: DataFrame) -> DataFrame:
    """new×prior join inside shared capped bands, integer Hamming
    verify → (doc_id, prior_id, hamming ≤ IMG_HAM_T)."""
    n = sized.filter(F.col("side") == "n").select(
        "band_id",
        "band_str",
        F.col("doc_id").alias("n_id"),
        F.col("dhash_int").alias("i_n"),
    )
    p = sized.filter(F.col("side") == "p").select(
        "band_id",
        "band_str",
        F.col("doc_id").alias("prior_id"),
        F.col("dhash_int").alias("i_p"),
    )
    return (
        n.join(p, ["band_id", "band_str"])
        .select(F.col("n_id").alias("doc_id"), "prior_id", "i_n", "i_p")
        .dropDuplicates(["doc_id", "prior_id"])
        .select(
            "doc_id",
            "prior_id",
            F.bit_count(F.col("i_n").bitwiseXOR(F.col("i_p")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= IMG_HAM_T)
    )
