"""Text-analysis operators on tiny fixtures + multimodal plumbing."""

from __future__ import annotations

import pytest

from amp import text
from amp.multimodal import extract_features, synth_media


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "The cat and the dog. To be, or not!", "en", "s", 36),
            (2, "der hund und die katze ist nicht da", "de", "s", 35),
            (3, "12345 67890 --- ###", "xx", "s", 19),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_token_counts(spark, docs):
    rows = {r["doc_id"]: r for r in text.token_counts(docs).collect()}
    assert rows[1]["word_tokens"] == 9
    assert rows[3]["word_tokens"] == 2
    assert rows[3]["bpe_ish_tokens"] == 2 + 6  # two number runs + 6 symbols


def test_lang_id(spark, docs):
    rows = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert rows[1] == "en"
    assert rows[2] == "de"
    assert rows[3] == "und"


def test_quality_orders_sanely(spark, docs):
    rows = {r["doc_id"]: r["quality"] for r in text.quality_score(docs).collect()}
    # prose beats digit soup
    assert rows[1] > rows[3]


def test_fingerprints_normalization_invariance(spark):
    d = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "goodbye world")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.fingerprints(d).collect()}
    assert rows[1]["exact_fp"] == rows[2]["exact_fp"]
    assert rows[1]["exact_fp"] != rows[3]["exact_fp"]


def test_multimodal_feature_shapes(spark):
    media = synth_media(spark, 12)
    feats = extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["payload_sha"]) == 64
        assert len(r["feature"]) == 16
    # deterministic across runs
    again = extract_features(synth_media(spark, 12)).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_decode_status_mixed_corpus_counted_never_raises(spark, monkeypatch):
    """Format policy as DATA (magic-byte sniff + per-row decode_status +
    counted metrics) over a mixed PNG / corrupt-PNG / JPEG-stub /
    FLAC-stub / WebP-stub / GIF / BMP / garbage corpus with fakes
    DISALLOWED: nothing raises, statuses and feature nullability are
    exact, and decode_metrics counts match."""
    import numpy as np

    from amp import multimodal as mm

    monkeypatch.setenv("AMP_FAKE_DECODE", "0")
    good_png = mm.png_encode(
        np.arange(64, dtype=np.uint8).reshape(8, 8), filter_type=2
    )
    import struct as _struct

    lossy_webp = (b"RIFF" + _struct.pack("<I", 16) + b"WEBP"
                  + b"VP8 " + _struct.pack("<I", 4) + b"\x00" * 4)
    lossless_webp = (b"RIFF" + _struct.pack("<I", 17) + b"WEBP"
                     + b"VP8L" + _struct.pack("<I", 5) + b"\x2f" + b"\x00" * 4)
    # well-formed 1x1 images: a decoder would read them, the ladder has none
    gif = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
           b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;")
    bmp = (b"BM" + _struct.pack("<IHHI", 58, 0, 0, 54)
           + _struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0)
           + b"\x80\x80\x80\x00")
    rows = [
        ("ok0", good_png),
        ("ok1", mm.png_encode(np.zeros((4, 4), np.uint8))),
        ("corrupt0", good_png[: len(good_png) // 2]),      # torn PNG
        ("jpeg0", b"\xff\xd8\xff\xe0" + b"\x00" * 32),     # torn JPEG
        ("flac0", b"fLaC" + b"\x00" * 32),                # FLAC stub
        ("webp0", lossy_webp),                             # lossy VP8 stub
        ("webp1", lossless_webp),                          # lossless VP8L stub
        ("gif0", gif),                                     # 1x1 GIF89a
        ("bmp0", bmp),                                     # 1x1 24-bit BMP
        ("junk0", b"not an image at all"),
    ]
    media = spark.createDataFrame(
        [
            {"media_id": k, "kind": "image", "mime": None, "payload": p,
             "width": None, "height": None, "duration_ms": None}
            for k, p in rows
        ],
        schema=mm.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    if mm.HAVE_PIL:  # ladder differs with Pillow present; core contract same
        assert feats["ok0"]["decode_status"] == "real"
        assert feats["corrupt0"]["decode_status"] == "corrupt"
    else:
        assert feats["ok0"]["decode_status"] == "real" and feats["ok0"]["fmt"] == "png"
        assert feats["ok1"]["decode_status"] == "real"
        assert feats["corrupt0"]["decode_status"] == "corrupt"
        assert feats["corrupt0"]["feature"] is None
        # JPEG and FLAC are sniffed but have no stdlib decoder: the
        # ladder's tail counts them unsupported-as-data, not a crash
        assert feats["jpeg0"]["decode_status"] == "unsupported"
        assert feats["jpeg0"]["fmt"] == "jpeg"
        assert feats["jpeg0"]["feature"] is None
        assert feats["flac0"]["decode_status"] == "unsupported"
        assert feats["flac0"]["fmt"] == "flac"
        assert feats["flac0"]["feature"] is None
        # WebP likewise, lossy VP8 and lossless VP8L alike
        for k in ("webp0", "webp1"):
            assert feats[k]["fmt"] == "webp"
            assert feats[k]["decode_status"] == "unsupported"
            assert feats[k]["feature"] is None
        # GIF and BMP likewise: sniffed, no stdlib decoder
        for k, fmt in (("gif0", "gif"), ("bmp0", "bmp")):
            assert feats[k]["fmt"] == fmt
            assert feats[k]["decode_status"] == "unsupported"
            assert feats[k]["feature"] is None
        assert feats["junk0"]["decode_status"] == "unsupported"
        assert feats["junk0"]["fmt"] == "unknown"
        m = {
            (r["decode_status"], r["fmt"]): r["n"]
            for r in mm.decode_metrics(mm.extract_features(media)).collect()
        }
        assert m[("real", "png")] == 2 and m[("corrupt", "png")] == 1
        assert m[("unsupported", "jpeg")] == 1
        assert m[("unsupported", "flac")] == 1
        assert m[("unsupported", "webp")] == 2
        assert ("real", "webp") not in m
        assert m[("unsupported", "gif")] == 1
        assert m[("unsupported", "bmp")] == 1
        assert m[("unsupported", "unknown")] == 1

    # with fakes allowed every row gets a feature and a fake/real status
    monkeypatch.setenv("AMP_FAKE_DECODE", "1")
    feats2 = mm.extract_features(media).collect()
    assert all(r["feature"] is not None for r in feats2)
    assert {r["decode_status"] for r in feats2} <= {"real", "fake"}
    if not mm.HAVE_PIL:
        fake = {r["media_id"]: r for r in feats2}
        assert fake["gif0"]["decode_status"] == "fake"
        assert fake["bmp0"]["decode_status"] == "fake"


def test_decode_real_path_when_pil_else_fake(spark):
    """Real decode runs when Pillow is importable (grayscale 8x8 via
    PIL), deterministic fake otherwise — same plumbing either way."""
    import numpy as np

    from amp import multimodal as mm

    if mm.HAVE_PIL:
        import io as _io

        from PIL import Image

        buf = _io.BytesIO()
        Image.new("L", (32, 32), color=200).save(buf, format="PNG")
        grid = mm._decode_image(buf.getvalue(), allow_fake=False)
        assert grid.shape == (8, 8)
        assert np.allclose(grid, 200.0 / 255.0, atol=1e-6)
    else:
        with pytest.raises(NotImplementedError):
            mm._decode_image(b"not-an-image", allow_fake=False)
        g1 = mm._decode_image(b"payload")
        g2 = mm._decode_image(b"payload")
        assert g1.shape == (8, 8) and (g1 == g2).all()


def test_png_roundtrip_all_filters():
    """Pure-stdlib PNG codec: every unfilter branch (None/Sub/Up/
    Average/Paeth) inverts its encoder filter bit-exactly."""
    import numpy as np

    from amp.multimodal import png_decode, png_encode

    rng = np.random.RandomState(7)
    for shape in [(8, 8), (16, 12), (5, 31)]:
        grid = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for ftype in range(5):
            payload = png_encode(grid, filter_type=ftype)
            got = png_decode(payload)
            assert got.shape == shape
            assert np.array_equal((got * 255.0).round().astype(np.uint8), grid), (
                f"filter {ftype} roundtrip mismatch"
            )


def test_png_decode_rgb_luma():
    """Color-type-2 (RGB) branch: hand-assembled PNG decodes to ITU-R
    601 luma."""
    import struct
    import zlib as _zlib

    import numpy as np

    from amp.multimodal import _PNG_SIG, png_decode

    w, h = 3, 2
    rgb = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[255, 255, 255], [0, 0, 0], [128, 128, 128]]],
        dtype=np.uint8,
    )
    scan = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    got = png_decode(payload) * 255.0
    expect = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    assert np.allclose(got, expect, atol=1e-4)


def test_extract_features_real_decode_no_fake(spark, monkeypatch):
    """The REAL decode path end-to-end through Spark with the fake
    fallback disabled (AMP_FAKE_DECODE=0): PNG payloads produce exactly
    the row/col means of the decoded 8x8 grid."""
    import numpy as np

    from amp import multimodal as mm

    monkeypatch.setenv("AMP_FAKE_DECODE", "0")
    rng = np.random.RandomState(3)
    grids = {f"p{i}": rng.randint(0, 256, size=(16, 16), dtype=np.uint8) for i in range(4)}
    rows = [
        {
            "media_id": k,
            "kind": "image",
            "mime": "image/png",
            "payload": mm.png_encode(g, filter_type=i % 5),
            "width": 16,
            "height": 16,
            "duration_ms": None,
        }
        for i, (k, g) in enumerate(grids.items())
    ]
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    feats = {r["media_id"]: np.array(r["feature"]) for r in mm.extract_features(media).collect()}
    assert len(feats) == 4
    for k, g in grids.items():
        grid = mm._resize8(mm.png_decode(mm.png_encode(g)))
        expect = np.resize(
            np.concatenate([grid.mean(axis=0), grid.mean(axis=1)]), 16
        ).astype(np.float32)
        assert np.allclose(feats[k], expect, atol=1e-6)
        # and it is NOT the content-hash fake of the same payload
        import hashlib as _hashlib

        digest = _hashlib.sha256(mm.png_encode(g, filter_type=0)).digest()
        fake = (
            np.frombuffer((digest * 2)[:64], dtype=np.uint8)
            .reshape(8, 8)
            .astype(np.float32)
            / 255.0
        )
        assert not np.allclose(feats[k][:8], fake.mean(axis=0), atol=1e-6)


def test_decode_corrupt_png_raises_without_fake():
    from amp import multimodal as mm

    bad = mm._PNG_SIG + b"\x00" * 20
    if mm.HAVE_PIL:
        import pytest as _pytest

        with _pytest.raises(Exception):
            mm._decode_image(bad, allow_fake=False)
    else:
        import pytest as _pytest

        with _pytest.raises(Exception):
            mm._decode_image(bad, allow_fake=False)
    # with the fake allowed, a corrupt payload degrades deterministically
    g1 = mm._decode_image(bad, allow_fake=True)
    g2 = mm._decode_image(bad, allow_fake=True)
    assert g1.shape == (8, 8) and (g1 == g2).all()


def test_decompress_documents_statuses(spark):
    """Compressed-corpus ingestion: gzip/bz2/xz/zlib payloads
    decompress for real, plain text passes through, zstd is
    unsupported-as-data, bombs hit the byte ceiling as 'oversize'
    without materializing, torn streams and non-utf8 are corrupt."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma
    import zlib as _zlib

    from amp.text import decompress_documents

    body = "the quick corpus document " * 40
    bomb = b"\x00" * (4 << 20)  # 4 MiB of zeros compresses tiny
    rows = [
        (1, _gzip.compress(body.encode())),
        (2, _bz2.compress(body.encode())),
        (3, _lzma.compress(body.encode())),
        (4, _zlib.compress(body.encode())),
        (5, body.encode()),                          # plain passthrough
        (6, b"\x28\xb5\x2f\xfd" + b"\x00" * 20),     # zstd: unsupported
        (7, _gzip.compress(body.encode())[:-6]),     # torn gzip
        (8, _gzip.compress(bomb)),                   # bomb vs ceiling
        (9, _gzip.compress(b"\xff\xfe garbage \xff")),  # non-utf8
    ]
    docs = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decompress_documents(
        docs, max_text_bytes=1 << 20).collect()}
    for did, codec in ((1, "gzip"), (2, "bz2"), (3, "xz"), (4, "zlib"),
                       (5, "none")):
        r = out[did]
        assert (r["decode_status"], r["codec"]) == ("real", codec), did
        assert r["text"] == body
        assert r["n_text_bytes"] == len(body.encode())
    assert out[6]["decode_status"] == "unsupported"
    assert out[6]["codec"] == "zstd" and out[6]["text"] is None
    assert out[7]["decode_status"] == "corrupt"
    assert out[8]["decode_status"] == "oversize"
    assert out[8]["text"] is None
    assert out[9]["decode_status"] == "corrupt"

    # decompressed rows feed the text operators directly
    from amp import text as amp_text

    real = decompress_documents(docs, max_text_bytes=1 << 20).where(
        "decode_status = 'real'")
    counts = {r["doc_id"]: r["word_tokens"]
              for r in amp_text.token_counts(real).collect()}
    assert counts[1] == counts[5] == len(body.split())


def test_repetition_metrics_crafted_and_duckdb_parity(spark):
    """Gopher-rule repetition signals on crafted edge cases, with the
    Spark column math cross-checked bit-exact against the DuckDB oracle
    expression on the SAME rows (the driver only checks the corpus;
    this covers empty docs, dup lines, periodic 5-grams)."""
    import duckdb
    import pandas as pd

    rows = [
        (0, "aaa bbb\naaa bbb\nccc"),          # dup line, repeated 2-gram
        (1, "hi"),                               # too short for any gram
        (2, "a b c d e " * 3),                   # periodic: dup 5-grams
        (3, ""),                                  # empty
        (4, "x y\n\n  \nx  y"),                  # blank lines dropped, trim
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_metrics(docs).collect()}

    assert got[0]["n_lines"] == 3
    assert got[0]["dup_line_frac"] == pytest.approx(1 / 3, abs=2e-6)
    # g2 = [aaa bbb, bbb aaa, aaa bbb, bbb ccc] -> top 2/4
    assert got[0]["top_2gram_frac"] == pytest.approx(0.5, abs=2e-6)
    assert got[1]["n_lines"] == 1
    assert got[1]["top_2gram_frac"] == 0.0 and got[1]["dup_5gram_frac"] == 0.0
    # 15 tokens, 11 5-grams, 5 distinct -> 6/11 duplicated
    assert got[2]["dup_5gram_frac"] == pytest.approx(6 / 11, abs=2e-6)
    assert got[3]["n_lines"] == 0 and got[3]["dup_line_frac"] == 0.0
    assert got[4]["n_lines"] == 2  # blank/whitespace lines dropped
    # "x y" vs "x  y" trim to different strings? no: inner spaces stay
    assert got[4]["dup_line_frac"] == 0.0

    # DuckDB twin on the same rows (oracle body minus the corpus prep)
    con = duckdb.connect()
    con.register("prep", pd.DataFrame(rows, columns=["doc_id", "text"]))
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["text_repetition"]
    sql = sql.replace(
        "prep AS (\n  SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM documents\n),\n",
        "",
    )
    assert "documents" not in sql
    oracle = {
        int(r[0]): r for r in con.sql(sql).fetchall()
    }
    for did, r in got.items():
        o = oracle[did]
        assert (r["n_lines"], r["dup_line_frac"], r["top_2gram_frac"],
                r["dup_5gram_frac"]) == (o[1], o[2], o[3], o[4]), did


def test_quality_score_crafted_duckdb_parity(spark):
    """quality_score vs the DuckDB text_quality oracle on crafted rows the
    corpus never holds: NULL text (NULL counts, not zeros) and the
    characters Python's `\\s` calls whitespace but RE2's does not."""
    import duckdb
    import pandas as pd

    rows = [
        (0, None),
        (1, ""),
        (2, "The cat sat on the mat, and the dog ran off."),
        (3, "tab\x0bvertical"),
        (4, "file\x1cseparator"),
        (5, "next\x85line"),
        (6, "no\xa0break space"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.quality_score(docs).collect()}

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = {
        int(r[0]): r[1:] for r in con.sql(entry.oracle_sql()["text_quality"]).fetchall()
    }
    assert set(got) == set(oracle) == {d for d, _ in rows}
    for did, r in got.items():
        assert (r["punct_ratio"], r["stop_ratio"], r["quality"]) == oracle[did], did
    assert got[0]["punct_ratio"] is None and got[0]["stop_ratio"] is None


def test_pii_scan_counts_and_redaction(spark):
    rows = [
        (1, "mail a.b+c@ex-ample.org and d@e.io, ip 10.0.0.255, "
            "call +44 20-7946 0958 now"),
        (2, "no pii here, just 1234567890 digits and a.b notation"),
        (3, "edge 999.999.999.999 still counted by the naive ipv4 shape"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.pii_scan(docs).collect()}
    assert (out[1]["n_emails"], out[1]["n_ipv4s"], out[1]["n_phones"]) == (2, 1, 1)
    assert out[1]["pii_total"] == 4
    assert "<EMAIL>" in out[1]["redacted"] and "<IP>" in out[1]["redacted"]
    assert "<PHONE>" in out[1]["redacted"]
    assert "@" not in out[1]["redacted"]
    # bare digit runs are NOT international phones (no leading +)
    assert (out[2]["n_emails"], out[2]["n_ipv4s"], out[2]["n_phones"]) == (0, 0, 0)
    assert out[2]["redacted"] == rows[1][1]
    assert out[3]["n_ipv4s"] == 1


def test_compress_documents_roundtrip_unicode_and_determinism(spark):
    from amp.text import compress_documents, decompress_documents

    body = "héllo wörld ✓ " * 30  # multi-byte utf-8: bytes != chars
    rows = [(i, body, c) for i, c in enumerate(
        ["gzip", "bz2", "xz", "zlib", "none"])]
    docs = spark.createDataFrame(rows, "doc_id long, text string, codec string")

    comp1 = {r["doc_id"]: r for r in compress_documents(
        docs, codec_col="codec").collect()}
    comp2 = {r["doc_id"]: r for r in compress_documents(
        docs, codec_col="codec").collect()}
    for did in comp1:
        assert bytes(comp1[did]["payload"]) == bytes(comp2[did]["payload"]), (
            "compression must be deterministic (retries/re-runs byte-equal)")
        assert comp1[did]["n_raw_bytes"] == len(body.encode("utf-8"))
        assert comp1[did]["n_payload_bytes"] == len(bytes(comp1[did]["payload"]))

    out = {r["doc_id"]: r for r in decompress_documents(
        compress_documents(docs, codec_col="codec")).collect()}
    for did, (_, _, codec) in zip(sorted(out), rows):
        r = out[did]
        assert (r["decode_status"], r["codec"]) == ("real", codec)
        assert r["text"] == body
        assert r["n_text_bytes"] == len(body.encode("utf-8"))

    # fixed-codec mode (no codec column)
    one = compress_documents(docs.select("doc_id", "text"), codec="gzip")
    assert {r["codec"] for r in one.collect()} == {"gzip"}


def test_decompress_multi_member_streams(spark):
    """Real web corpora concatenate compression members (multi-member
    gzip WET files, pbzip2 multi-stream archives). Returning only the
    first member would be silent data loss — all members must decode,
    the ceiling must span the WHOLE concatenation, and a torn SECOND
    member is corrupt, not half-real."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma

    from amp.text import decompress_documents

    a, b, c = "first doc body. ", "second doc body. ", "third."
    gz = b"".join(_gzip.compress(s.encode(), mtime=0) for s in (a, b, c))
    bz = _bz2.compress(a.encode()) + _bz2.compress(b.encode())
    xz = _lzma.compress(a.encode()) + _lzma.compress(b.encode())
    rows = [
        (1, gz),
        (2, bz),
        (3, xz),
        (4, gz + b"\x00" * 8),                       # NUL block padding ok
        (5, _gzip.compress(a.encode(), mtime=0)
            + _gzip.compress(b.encode(), mtime=0)[:-5]),   # torn 2nd member
        (6, _bz2.compress(b"\x00" * (4 << 20))
            + _bz2.compress(b"\x00" * (4 << 20))),   # bomb spans members
    ]
    docs = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decompress_documents(
        docs, max_text_bytes=1 << 20).collect()}
    assert out[1]["text"] == a + b + c and out[1]["decode_status"] == "real"
    assert out[2]["text"] == a + b
    assert out[3]["text"] == a + b
    assert out[4]["text"] == a + b + c
    assert out[5]["decode_status"] == "corrupt"
    assert out[6]["decode_status"] == "oversize" and out[6]["text"] is None
