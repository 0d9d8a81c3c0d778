"""Multimodal binary-column operators: real header metadata, stub
decode, resize, frame sampling (fgcspark/multimodal.py).

Header parsing (PNG IHDR / GIF LSD / JPEG SOF segment walk) is REAL —
these tests verify it against a third derivation (the generator's
construction parameters, recomputed here from the url hash alone) and
pin the JVM-vs-Python parser agreement. The pixel codec is still a
deterministic stub (no image libs in this container); its
byte-determinism keeps the oracled queries stable."""

from __future__ import annotations

import hashlib

import pytest

from fgcspark import multimodal as mm


@pytest.fixture(scope="module")
def pages(spark, pages_dir):
    return spark.read.parquet(f"{pages_dir}/media.parquet")


def _expected_from_url(url: str):
    """What synth.pages._media_blob encodes, recomputed independently
    of BOTH the blob bytes and every parser: (fmt, w, h, channels)."""
    d = hashlib.md5(url.encode()).digest()
    fmt = d[0] % 4
    w = 1 + int.from_bytes(d[1:3], "big") % 640
    h = 1 + int.from_bytes(d[3:5], "big") % 480
    if fmt == 0:
        return "png", w, h, (3 if d[5] % 2 else 4)
    if fmt == 1:
        return "gif", w, h, 3
    if fmt == 2:
        return "jpeg", w, h, (3 if d[5] % 4 else 1)
    return None, None, None, None


def test_metadata_parses_real_headers(spark, pages):
    got = {r["url"]: r for r in mm.media_metadata(pages).collect()}
    blobs = {
        r["url"]: bytes(r["media"])
        for r in pages.select("url", "media").collect()
    }
    fmts_seen = set()
    for url, m in got.items():
        fmt, w, h, c = _expected_from_url(url)
        assert (m["fmt"], m["width"], m["height"], m["channels"]) == (fmt, w, h, c), url
        b = blobs[url]
        assert m["n_bytes"] == len(b)
        assert m["fp"] == int(
            hashlib.md5(b.hex().upper().encode()).hexdigest()[:14], 16
        )
        fmts_seen.add(fmt)
    # the corpus must exercise all four branches
    assert fmts_seen == {"png", "gif", "jpeg", None}


def test_jpeg_segment_walk_not_a_naive_scan(spark):
    """A JPEG whose COM payload embeds the bytes FF C0 <fake SOF> must
    still parse the REAL SOF0 after it — only a length-aware segment
    walk gets this right."""
    fake = b"\xff\xc0\x00\x11\x08\x00\x63\x00\x63\x03"  # 99x99 decoy
    com = b"\xff\xfe" + (len(fake) + 2).to_bytes(2, "big") + fake
    sof = (
        b"\xff\xc0\x00\x11\x08"
        + (222).to_bytes(2, "big")
        + (333).to_bytes(2, "big")
        + b"\x03" + b"\x01\x11\x00" * 3
    )
    blob = b"\xff\xd8" + com + sof + b"\x00" * 32
    df = spark.createDataFrame([("u", blob)], "url string, media binary")
    m = mm.media_metadata(df).collect()[0]
    assert (m["fmt"], m["width"], m["height"], m["channels"]) == ("jpeg", 333, 222, 3)
    # Python twin agrees
    assert mm._parse_header(blob) == ("jpeg", 333, 222, 3)


def test_truncated_and_malformed_blobs_yield_null(spark):
    rows = [
        ("png_trunc", b"\x89PNG\r\n\x1a\n\x00\x00"),  # cut before IHDR
        ("gif_magic_only", b"GIF89a"),
        ("jpeg_soi_only", b"\xff\xd8"),
        ("garbage", b"\x00\x01\x02\x03" * 8),
        ("empty", b""),
    ]
    df = spark.createDataFrame(rows, "url string, media binary")
    got = {r["url"]: r for r in mm.media_metadata(df).collect()}
    for r in got.values():
        assert r["width"] is None and r["height"] is None, r["url"]
    # channels: NULL unless format-implied (GIF is always palette RGB)
    assert got["gif_magic_only"]["channels"] == 3
    for u in ("png_trunc", "jpeg_soi_only", "garbage", "empty"):
        assert got[u]["channels"] is None, u
    # fmt is NULL unless the magic is complete
    assert got["garbage"]["fmt"] is None and got["empty"]["fmt"] is None
    assert got["png_trunc"]["fmt"] is None  # IHDR check fails
    assert got["gif_magic_only"]["fmt"] == "gif"
    assert got["jpeg_soi_only"]["fmt"] == "jpeg"
    # the Python twin agrees on every edge case
    for u, b in rows:
        g = got[u]
        assert mm._parse_header(b) == (
            g["fmt"], g["width"], g["height"], g["channels"]
        ), u


def test_jpeg_sof_crossing_window_end_is_all_or_nothing(spark):
    """A SOF whose 10-byte prefix crosses byte HEX_WINDOW sets no field
    in any of the three parsers (Catalyst, Python, DuckDB SQL); one
    that ends exactly at the window end parses in full."""
    import duckdb
    import pandas as pd

    sof = (
        b"\xff\xc0\x00\x11\x08"
        + (222).to_bytes(2, "big")
        + (333).to_bytes(2, "big")
        + b"\x03" + b"\x01\x11\x00" * 3
    )
    rows, want = [], {}
    for off in range(mm.HEX_WINDOW - 12, mm.HEX_WINDOW - 4):
        # one APP0 segment pushes the SOF marker to byte `off`
        app = b"\xff\xe0" + (off - 4).to_bytes(2, "big") + b"\x00" * (off - 6)
        rows.append((f"sof{off}", b"\xff\xd8" + app + sof))
        fits = off + 10 <= mm.HEX_WINDOW
        want[f"sof{off}"] = ("jpeg", 333, 222, 3) if fits else ("jpeg", None, None, None)
    py = {u: mm._parse_header(b) for u, b in rows}
    df = spark.createDataFrame(rows, "url string, media binary")
    jvm = {
        r["url"]: (r["fmt"], r["width"], r["height"], r["channels"])
        for r in mm.media_metadata(df).collect()
    }
    con = duckdb.connect()
    con.register(
        "src",
        pd.DataFrame(
            {"url": [u for u, _ in rows], "hx": [b[: mm.HEX_WINDOW].hex().upper() for _, b in rows]}
        ),
    )
    sql = (
        f"WITH hsrc AS (SELECT url, hx FROM src),\n{mm.media_header_sql()}\n"
        "SELECT url, fmt, width, height, channels FROM hdr"
    )
    ddb = {u: tuple(v) for u, *v in con.execute(sql).fetchall()}
    assert py == want
    assert jvm == want
    assert ddb == want


def test_header_parsers_roundtrip_randomized(spark):
    """Property: randomized VALID headers (dims, channels, JPEG segment
    chains of varying shape — multiple APPn + COM segments with
    FF-laden payloads before SOF) round-trip through the Catalyst
    parser exactly. Built directly here, NOT via synth._media_blob, so
    the test covers layouts the corpus generator never emits."""
    import random
    import zlib

    rng = random.Random(11)
    rows = []
    want = {}
    for i in range(120):
        w = rng.randint(1, 65535)
        h = rng.randint(1, 65535)
        kind = i % 3
        url = f"u{i}"
        if kind == 0:  # PNG, all five color types
            ct = rng.choice([0, 2, 3, 4, 6])
            ihdr = (
                w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ct, 0, 0, 0])
            )
            blob = (
                b"\x89PNG\r\n\x1a\n"
                + (13).to_bytes(4, "big")
                + b"IHDR"
                + ihdr
                + zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
            )
            want[url] = ("png", w, h, {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct])
        elif kind == 1:  # GIF87a or 89a
            ver = rng.choice([b"7a", b"9a"])
            blob = (
                b"GIF8" + ver
                + w.to_bytes(2, "little") + h.to_bytes(2, "little")
                + bytes([0xF7, 0, 0])
            )
            want[url] = ("gif", w, h, 3)
        else:  # JPEG: 0-4 pre-SOF segments, FF bytes inside payloads
            nseg = rng.randint(0, 4)
            body = b"\xff\xd8"
            budget = 96 - 2 - 10 - nseg * 4  # room for SOF within window
            for _ in range(nseg):
                dl = rng.randint(0, max(0, min(12, budget)))
                budget -= dl
                marker = rng.choice([0xE0, 0xE1, 0xEE, 0xFE])
                payload = bytes(rng.randint(0, 255) for _ in range(dl))
                body += bytes([0xFF, marker]) + (dl + 2).to_bytes(2, "big") + payload
            nc = rng.choice([1, 3])
            sof_kind = rng.choice([0xC0, 0xC1, 0xC2])
            sof_data = (
                bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([nc]) + bytes([1, 0x11, 0]) * nc
            )
            blob = body + bytes([0xFF, sof_kind]) + (len(sof_data) + 2).to_bytes(
                2, "big"
            ) + sof_data
            want[url] = ("jpeg", w, h, nc)
        rows.append((url, blob))
        # the Python twin agrees row by row
        assert mm._parse_header(blob) == want[url], url
    df = spark.createDataFrame(rows, "url string, media binary")
    got = {
        r["url"]: (r["fmt"], r["width"], r["height"], r["channels"])
        for r in mm.media_metadata(df).collect()
    }
    assert got == want


def test_decode_matches_metadata(spark, pages):
    """The JVM Catalyst parser and the Python byte-walk parser are
    independent implementations and must agree exactly."""
    meta = mm.media_metadata(pages).select("url", "fmt", "width", "height", "channels")
    dec = mm.decode_image_stub(pages).select("url", "fmt", "width", "height", "channels")
    assert meta.exceptAll(dec).count() == 0
    assert dec.exceptAll(meta).count() == 0


def test_decode_features_shape_and_determinism(spark, pages):
    out = mm.decode_image_stub(pages.limit(20)).collect()
    assert len(out) == 20
    for r in out:
        assert len(r["features"]) == mm.N_FEATURES
        assert all(0.0 <= v <= 1.0 for v in r["features"])
    # repartitioning must not change any value (pure function of bytes)
    again = {
        r["url"]: r["features"]
        for r in mm.decode_image_stub(pages.limit(20).repartition(7)).collect()
    }
    for r in out:
        assert again[r["url"]] == r["features"]


def test_resize_stub(spark, pages):
    out = mm.resize_stub(mm.decode_image_stub(pages.limit(400)), max_side=256)
    n_null = 0
    for r in out.collect():
        if r["width"] is None:
            assert r["out_width"] is None and r["out_height"] is None
            n_null += 1
            continue
        long_side = max(r["out_width"], r["out_height"])
        assert 1 <= long_side <= 256
        if max(r["width"], r["height"]) <= 256:
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])
        else:
            assert long_side == 256 or long_side == 255  # floor of scaled short side
            # aspect ratio preserved within integer floor
            assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
    assert n_null > 0  # malformed blobs exercised


def test_frame_sampling(spark, pages):
    rows = pages.select("url", "media").orderBy("url").limit(30).collect()
    got: dict[tuple, str] = {}
    for r in mm.sample_frames_stub(pages).collect():
        got[(r["url"], r["frame_idx"])] = r["frame_md5"]
    for r in rows:
        b = bytes(r["media"])
        n = min(mm.MAX_FRAMES, len(b) // mm.FRAME_BYTES)
        assert n >= 1  # every synthetic blob is >= 64 bytes
        for k in range(n):
            win = b[k * 64 : (k + 1) * 64]
            expect = hashlib.md5(win.hex().upper().encode()).hexdigest()
            assert got[(r["url"], k)] == expect
        assert (r["url"], n) not in got  # no frames past the stream end
