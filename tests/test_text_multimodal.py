"""Text-analysis operators on tiny fixtures."""

from __future__ import annotations

import pytest

from amp import text


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
