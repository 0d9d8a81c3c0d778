"""Multimodal (binary media) column operators.

A 100 TB training-data pipeline carries image/audio/video payloads as
opaque `binary` columns with typed metadata beside them. The reference
has no media handling (its only binary input is the citable Zip,
reference R/finbif_geo_convert.R:80-86 via finbif); these operators are
the graft's training-data surface.

What is REAL here (r5): header metadata. `media_metadata` parses
genuine PNG (IHDR), GIF87a/89a (logical screen descriptor) and JPEG
(JFIF segment walk to SOF0/1/2) byte layouts — pure built-in-function
arithmetic over the hex of the blob's first HEX_WINDOW bytes, inside
whole-stage codegen; width/height/channels are true by construction
for well-formed blobs and NULL for anything else. The Python decode
path re-implements the same formats independently (struct-style walk
over raw bytes), and `media_header_sql` emits a third, DuckDB-SQL
implementation for the contract oracle — three independent parsers
that must agree.

What is STILL a stub: pixel decoding. No image/audio library exists in
this container, so the decode feature vector is a deterministic
md5-of-bytes stand-in (shaped exactly like a real decoder's output)
and frame "sampling" hashes fixed byte windows instead of seeking
container keyframes. Every stub is deterministic in the blob bytes
alone, so results are reproducible across partitionings and resumable
runs.

Design rules:
- metadata that a header parse can yield is derived JVM-side with
  built-in functions (hex/substr/conv run in whole-stage codegen);
- batch-level work (decode, feature extraction, frame sampling) runs
  in `mapInPandas` so each Arrow batch of blobs is one numpy pass;
- content fingerprints hash the UPPERCASE HEX of the bytes (not the
  raw bytes) because the oracle engine (DuckDB 1.0) has no md5 over
  BLOB — hex is injective, so this is still an exact content hash.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

N_FEATURES = 8
FRAME_BYTES = 64
MAX_FRAMES = 8

# header parse reads only the first HEX_WINDOW bytes; a JPEG whose
# SOF marker sits past it (e.g. a multi-KB EXIF APP1) parses to NULL
# rather than garbage — raise the window for such corpora
HEX_WINDOW = 96
# JPEG segment walk depth: SOF must appear within this many segments
MAX_JPEG_SEGMENTS = 6

_PNG_MAGIC = "89504E470D0A1A0A"
_IHDR = "49484452"
_GIF_MAGIC = "47494638"
_JPEG_SOI = "FFD8"
_SOF_MARKERS = (0xC0, 0xC1, 0xC2)


# ---------------------------------------------------------------------------
# header parsing (pure JVM-side columns — no Python at all)
# ---------------------------------------------------------------------------


def _hx(col: Column) -> Column:
    """Uppercase hex of the blob's first HEX_WINDOW bytes."""
    return F.upper(F.hex(F.substring(col, 1, HEX_WINDOW)))


def _byte(hx: Column, off) -> Column:
    """Unsigned byte at 0-based offset `off` (int or Column); NULL when
    the offset falls outside the hex window."""
    off = F.lit(off) if isinstance(off, int) else off
    s = F.substr(hx, off * F.lit(2) + F.lit(1), F.lit(2))
    return F.when(F.length(s) == 2, F.conv(s, 16, 10).cast("int"))


def _be(hx: Column, off, nbytes: int) -> Column:
    """Big-endian unsigned integer of `nbytes` at 0-based offset."""
    off = F.lit(off) if isinstance(off, int) else off
    s = F.substr(hx, off * F.lit(2) + F.lit(1), F.lit(2 * nbytes))
    return F.when(
        F.length(s) == 2 * nbytes, F.conv(s, 16, 10).cast("long")
    ).cast("int")


def with_header_fields(df: DataFrame, col: str = "media") -> DataFrame:
    """Append (fmt, width, height, channels) parsed from real header
    bytes; every field NULL when the blob matches no known magic.

    The JPEG segment walk (marker, BE16 length, skip — a naive FFC0
    substring scan would misparse any file whose COM/APPn payload
    contains those bytes) is unrolled as MAX_JPEG_SEGMENTS successive
    NAMED projections: each step's offset/state are attributes, not
    inlined sub-expressions, so the plan stays linear — a single
    pure-column formulation quintuples the offset expression per step
    and blows the optimizer up exponentially (measured: minutes at
    2000 rows). The walk state is conditional (non-cheap), so
    CollapseProject keeps the steps separate."""
    hxc = F.col("_hx")
    df = (
        df.withColumn("_hx", _hx(F.col(col)))
        .withColumn("_off", F.lit(2).cast("long"))
        .withColumn("_jw", F.lit(None).cast("int"))
        .withColumn("_jh", F.lit(None).cast("int"))
        .withColumn("_jc", F.lit(None).cast("int"))
        .withColumn("_done", F.lit(False))
    )
    for _ in range(MAX_JPEG_SEGMENTS):
        off = F.col("_off")
        mk0 = _byte(hxc, off)
        mk1 = _byte(hxc, off + F.lit(1))
        df = df.withColumn(
            "_seg",
            F.coalesce((~F.col("_done")) & (mk0 == 0xFF) & mk1.isNotNull(), F.lit(False)),
        ).withColumn("_sof", F.col("_seg") & mk1.isin(*_SOF_MARKERS))
        # all-or-nothing, as in _parse_header: a SOF whose 10-byte
        # prefix crosses the window end sets no field
        fits = F.col("_sof") & _byte(hxc, off + F.lit(9)).isNotNull()
        df = (
            df.withColumn(
                "_jh", F.when(fits, _be(hxc, off + F.lit(5), 2)).otherwise(F.col("_jh"))
            )
            .withColumn(
                "_jw", F.when(fits, _be(hxc, off + F.lit(7), 2)).otherwise(F.col("_jw"))
            )
            .withColumn(
                "_jc", F.when(fits, _byte(hxc, off + F.lit(9))).otherwise(F.col("_jc"))
            )
            .withColumn(
                "_off",
                F.when(
                    F.col("_seg") & ~F.col("_sof"),
                    off + F.lit(2) + _be(hxc, off + F.lit(2), 2).cast("long"),
                ).otherwise(off),
            )
            .withColumn("_done", F.col("_done") | F.col("_sof") | ~F.col("_seg"))
        )
    is_png = (F.substr(hxc, F.lit(1), F.lit(16)) == _PNG_MAGIC) & (
        F.substr(hxc, F.lit(25), F.lit(8)) == _IHDR
    )
    is_gif = (F.substr(hxc, F.lit(1), F.lit(8)) == _GIF_MAGIC) & (
        F.substr(hxc, F.lit(9), F.lit(4)).isin("3761", "3961")
    )
    is_jpeg = F.substr(hxc, F.lit(1), F.lit(4)) == _JPEG_SOI
    png_ct = _byte(hxc, 25)
    png_channels = (
        F.when(png_ct == 0, 1)
        .when(png_ct == 2, 3)
        .when(png_ct == 3, 1)
        .when(png_ct == 4, 2)
        .when(png_ct == 6, 4)
    )
    df = (
        df.withColumn(
            "fmt", F.when(is_png, "png").when(is_gif, "gif").when(is_jpeg, "jpeg")
        )
        .withColumn(
            "width",
            F.when(is_png, _be(hxc, 16, 4))
            .when(is_gif, _byte(hxc, 6) + F.lit(256) * _byte(hxc, 7))
            .when(is_jpeg, F.col("_jw")),
        )
        .withColumn(
            "height",
            F.when(is_png, _be(hxc, 20, 4))
            .when(is_gif, _byte(hxc, 8) + F.lit(256) * _byte(hxc, 9))
            .when(is_jpeg, F.col("_jh")),
        )
        .withColumn(
            "channels",
            F.when(is_png, png_channels).when(is_gif, F.lit(3)).when(is_jpeg, F.col("_jc")),
        )
    )
    return df.drop("_hx", "_off", "_jw", "_jh", "_jc", "_done", "_seg", "_sof")


def media_metadata(df: DataFrame, col: str = "media", key: str = "url") -> DataFrame:
    """Typed metadata beside an opaque binary column: byte length,
    format + dimensions parsed from REAL header bytes (PNG IHDR /
    GIF LSD / JPEG SOF segment walk — NULL for malformed blobs), and
    a content fingerprint.

    Everything is built-in-function arithmetic over the blob: Catalyst
    keeps it inside whole-stage codegen, and at 100 TB the scan reads
    only (key, col) thanks to column pruning. The same parse exists in
    Python (`_parse_header`, the decode path) and in DuckDB SQL
    (`media_header_sql`, the oracle) — three independent
    implementations cross-check each other."""
    c = F.col(col)
    base = df.select(
        F.col(key),
        F.octet_length(c).cast("long").alias("n_bytes"),
        F.conv(F.substring(F.md5(F.upper(F.hex(c))), 1, 14), 16, 10)
        .cast("long")
        .alias("fp"),
        c.alias("_blob"),
    )
    return with_header_fields(base, "_blob").select(
        key, "n_bytes", "fmt", "width", "height", "channels", "fp"
    )


def media_header_sql(blob_col: str = "media") -> str:
    """DuckDB-SQL twin of `header_fields` over `hx` (the uppercase hex
    of the blob's first HEX_WINDOW bytes): returns a CTE chain ending
    in relation `hdr` with columns (…, fmt, width, height, channels).
    The JPEG walk is the same MAX_JPEG_SEGMENTS-step segment chain,
    one CTE per step so evaluation stays linear. Callers prepend their
    own source CTE providing (key cols, n_bytes, hx)."""

    def b(off: str) -> str:
        s = f"substring(hx, ({off})*2+1, 2)"
        return f"(CASE WHEN length({s})=2 THEN try_cast(concat('0x', {s}) AS BIGINT) END)"

    def be(off: str, nbytes: int) -> str:
        s = f"substring(hx, ({off})*2+1, {2 * nbytes})"
        return (
            f"(CASE WHEN length({s})={2 * nbytes}"
            f" THEN try_cast(concat('0x', {s}) AS BIGINT) END)"
        )

    steps = [
        "j0 AS (SELECT *, CAST(2 AS BIGINT) AS off, CAST(NULL AS INT) AS jw,"
        " CAST(NULL AS INT) AS jh, CAST(NULL AS INT) AS jc, false AS done FROM hsrc)"
    ]
    for i in range(MAX_JPEG_SEGMENTS):
        seg = f"coalesce((NOT done) AND {b('off')} = 255 AND {b('off+1')} IS NOT NULL, false)"
        sof = f"({seg} AND {b('off+1')} IN (192, 193, 194))"
        fits = f"({sof} AND {b('off+9')} IS NOT NULL)"  # all-or-nothing
        steps.append(
            f"j{i + 1} AS (SELECT * REPLACE ("
            f"CASE WHEN {fits} THEN CAST({be('off+7', 2)} AS INT) ELSE jw END AS jw, "
            f"CASE WHEN {fits} THEN CAST({be('off+5', 2)} AS INT) ELSE jh END AS jh, "
            f"CASE WHEN {fits} THEN CAST({b('off+9')} AS INT) ELSE jc END AS jc, "
            f"(done OR {sof} OR NOT {seg}) AS done, "
            f"CASE WHEN {seg} AND NOT {sof} THEN off + 2 + {be('off+2', 2)}"
            f" ELSE off END AS off"
            f") FROM j{i})"
        )
    png = (
        f"(substring(hx, 1, 16) = '{_PNG_MAGIC}'"
        f" AND substring(hx, 25, 8) = '{_IHDR}')"
    )
    gif = (
        f"(substring(hx, 1, 8) = '{_GIF_MAGIC}'"
        " AND substring(hx, 9, 4) IN ('3761', '3961'))"
    )
    jpg = f"(substring(hx, 1, 4) = '{_JPEG_SOI}')"
    final = f"""hdr AS (
        SELECT * EXCLUDE (off, jw, jh, jc, done),
            CASE WHEN {png} THEN 'png' WHEN {gif} THEN 'gif'
                 WHEN {jpg} THEN 'jpeg' END AS fmt,
            CAST(CASE WHEN {png} THEN {be('16', 4)}
                 WHEN {gif} THEN {b('6')} + 256 * {b('7')}
                 WHEN {jpg} THEN jw END AS INT) AS width,
            CAST(CASE WHEN {png} THEN {be('20', 4)}
                 WHEN {gif} THEN {b('8')} + 256 * {b('9')}
                 WHEN {jpg} THEN jh END AS INT) AS height,
            CAST(CASE WHEN {png} THEN
                    CASE {b('25')} WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
                         WHEN 4 THEN 2 WHEN 6 THEN 4 END
                 WHEN {gif} THEN 3 WHEN {jpg} THEN jc END AS INT) AS channels
        FROM j{MAX_JPEG_SEGMENTS})"""
    return ",\n".join(steps + [final])


# ---------------------------------------------------------------------------
# decode / feature-extract (mapInPandas, Arrow-batched)
# ---------------------------------------------------------------------------

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _parse_header(b: bytes):
    """Python twin of `header_fields`: (fmt, w, h, channels) or Nones.
    Independent implementation (raw-byte walk, not hex) so the JVM and
    Python paths genuinely cross-check."""
    if (
        len(b) >= 26
        and b[:8] == b"\x89PNG\r\n\x1a\n"
        and b[12:16] == b"IHDR"
    ):
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(b[25])
        return "png", w, h, ch
    if len(b) >= 6 and b[:4] == b"GIF8" and b[4:6] in (b"7a", b"9a"):
        # channels is format-implied (palette RGB) even when the LSD is
        # truncated; dims need the full descriptor
        w = int.from_bytes(b[6:8], "little") if len(b) >= 8 else None
        h = int.from_bytes(b[8:10], "little") if len(b) >= 10 else None
        return "gif", w, h, 3
    if len(b) >= 2 and b[:2] == b"\xff\xd8":
        win = b[:HEX_WINDOW]
        off = 2
        for _ in range(MAX_JPEG_SEGMENTS):
            if off + 4 > len(win) or win[off] != 0xFF:
                break
            if win[off + 1] in _SOF_MARKERS:
                if off + 10 > len(win):
                    break
                h = int.from_bytes(win[off + 5 : off + 7], "big")
                w = int.from_bytes(win[off + 7 : off + 9], "big")
                return "jpeg", w, h, win[off + 9]
            off += 2 + int.from_bytes(win[off + 2 : off + 4], "big")
        return "jpeg", None, None, None
    return None, None, None, None


def _decode_batch(blobs: pd.Series, urls: pd.Series) -> pd.DataFrame:
    """One Arrow batch of blobs -> header metadata + feature vector.

    Header fields are REAL (`_parse_header`); the feature vector is the
    STUB CODEC — with no image library available, "features" are a
    deterministic function of the bytes (md5-seeded), shaped exactly
    like a real decoder's output. A production build flips `_HAVE_PIL`
    and replaces only the feature computation — schema, batching and
    partitioning are unchanged."""
    if _HAVE_PIL:  # pragma: no cover - real codec path, not in container
        raise NotImplementedError("real PIL decode not wired in this build")
    fmts: list = []
    widths: list = []
    heights: list = []
    chans: list = []
    feats: list[np.ndarray] = []
    for b in blobs:
        b = bytes(b)
        fmt, w, h, c = _parse_header(b)
        fmts.append(fmt)
        widths.append(w)
        heights.append(h)
        chans.append(c)
        d = hashlib.md5(b).digest()
        feats.append(
            np.frombuffer(d[:N_FEATURES], dtype=np.uint8).astype(np.float32) / 255.0
        )
    return pd.DataFrame(
        {
            "url": urls,
            "fmt": fmts,
            "width": pd.array(widths, dtype="Int32"),
            "height": pd.array(heights, dtype="Int32"),
            "channels": pd.array(chans, dtype="Int32"),
            "features": feats,
        }
    )


def decode_image_stub(df: DataFrame, col: str = "media", key: str = "url") -> DataFrame:
    """Decode each blob: real header parse + stub feature extraction."""
    src = df.select(F.col(key).alias("url"), F.col(col).alias("_blob"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf["_blob"], pdf["url"])

    return src.mapInPandas(run, DECODE_SCHEMA)


def resize_stub(decoded: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize metadata transform: clamp the longer side to `max_side`
    preserving aspect ratio (integer floor, min 1); NULL dimensions
    (malformed blobs) stay NULL. Pure column arithmetic — a real
    resize would be a mapInPandas over the pixel blob with this same
    width/height contract."""
    w, h = F.col("width"), F.col("height")
    scale = F.lit(float(max_side)) / F.greatest(w, h).cast("double")
    clamped = F.when(F.greatest(w, h) <= max_side, F.lit(1.0)).otherwise(scale)
    defined = w.isNotNull() & h.isNotNull()
    return decoded.withColumn(
        "out_width",
        F.when(defined, F.greatest(F.floor(w * clamped), F.lit(1)).cast("int")),
    ).withColumn(
        "out_height",
        F.when(defined, F.greatest(F.floor(h * clamped), F.lit(1)).cast("int")),
    )


# ---------------------------------------------------------------------------
# frame sampling (per-row fan-out inside mapInPandas)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_frames_stub(
    df: DataFrame,
    col: str = "media",
    key: str = "url",
    frame_bytes: int = FRAME_BYTES,
    max_frames: int = MAX_FRAMES,
) -> DataFrame:
    """Treat the blob as a frame stream: emit up to `max_frames`
    fixed-size byte windows per row as (url, frame_idx, frame_md5).
    The frame hash is md5 over the window's UPPERCASE HEX (see module
    docstring: DuckDB 1.0 cannot md5 a BLOB, and hex is injective).

    The fan-out (one input row -> n output rows) happens inside the
    Arrow batch, so a 100 TB scan stays one pass with no explode
    shuffle; downstream dedup/groupBy shuffles only the small frame
    table. STUB: a real build would seek container keyframes here."""
    src = df.select(F.col(key).alias("url"), F.col(col).alias("_blob"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls: list[str] = []
            idxs: list[int] = []
            hashes: list[str] = []
            for u, b in zip(pdf["url"], pdf["_blob"]):
                b = bytes(b)
                n = min(max_frames, len(b) // frame_bytes)
                for k in range(n):
                    win = b[k * frame_bytes : (k + 1) * frame_bytes]
                    urls.append(u)
                    idxs.append(k)
                    hashes.append(
                        hashlib.md5(win.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "url": urls,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_md5": hashes,
                }
            )

    return src.mapInPandas(run, FRAME_SCHEMA)
