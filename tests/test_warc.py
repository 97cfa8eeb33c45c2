"""WARC source/sink: framing robustness, compression, file roundtrip."""

import datetime

import pytest
from pyspark.sql import Row

from weblog_pipeline import warc


def _pages(spark, n=6):
    base = datetime.datetime(2025, 7, 4, 0, 0, 0, 123456)
    rows = [
        Row(
            url=f"https://ex.com/p/{i}",
            warc_ts=base + datetime.timedelta(seconds=37 * i, microseconds=i),
            html=(f"<html><p>page {i}</p>" + "x" * (i * 13) + "</html>").encode(),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.mark.parametrize(
    "raw, want",
    [
        (b"2025-07-04T00:00:00.123456Z", datetime.datetime(2025, 7, 4, 0, 0, 0, 123456)),
        (b"2025-07-04T00:00:00Z", datetime.datetime(2025, 7, 4)),
        # an explicit offset is converted, so every WARC-Date lands in UTC
        (b"2025-07-04T02:00:00.5+02:00", datetime.datetime(2025, 7, 4, 0, 0, 0, 500000)),
    ],
)
def test_warc_date_parses_to_naive_utc(raw, want):
    assert warc._parse_ts(raw) == want


def test_record_without_timestamp_is_corrupt():
    with pytest.raises(ValueError, match="WARC-Date"):
        warc.build_record("https://ex.com/", None, b"<p>x</p>")


@pytest.mark.parametrize("compress", [False, True])
def test_record_roundtrip(spark, compress):
    pages = _pages(spark)
    recs = warc.encode_warc(pages, compress=compress)
    back = warc.decode_warc_records(recs)
    want = {r["url"]: r for r in pages.collect()}
    got = {r["url"]: r for r in back.collect()}
    assert set(got) == set(want)
    for u in want:
        assert bytes(got[u]["html"]) == bytes(want[u]["html"])
        assert got[u]["warc_ts"] == want[u]["warc_ts"]  # microseconds survive


def test_payload_containing_warc_magic_does_not_desync():
    ts = datetime.datetime(2025, 7, 4)
    evil = b"<p>WARC/1.1\r\n\r\nnot a record</p>"
    blob = warc.build_record("https://a", ts, evil) + warc.build_record(
        "https://b", ts, b"<p>ok</p>"
    )
    out = list(warc.walk_records(blob))
    assert [u for u, _, _ in out] == ["https://a", "https://b"]
    assert out[0][2] == evil  # Content-Length framing, not delimiter split


def test_truncated_record_raises():
    ts = datetime.datetime(2025, 7, 4)
    blob = warc.build_record("https://a", ts, b"payload")[:-6]
    with pytest.raises(ValueError):
        list(warc.walk_records(blob))


def test_file_roundtrip_feeds_parser(spark, tmp_path):
    from weblog_pipeline.generate import gen_page
    from weblog_pipeline.parse import page_texts, parse_events
    from weblog_pipeline.webpages import generate_webpages

    from pyspark.sql import functions as F

    pages = generate_webpages(spark, 20)
    path = str(tmp_path / "crawl")
    warc.write_warc_files(pages.select("url", "warc_ts", "html"), path)
    back = warc.read_warc_files(spark, path)
    assert back.count() == 20
    # the WARC-ingested pages drive the REAL parse stage byte-identically
    parsed = page_texts(parse_events(back.withColumn("lang", F.lit("en"))))
    got = {r["url"]: r["page_text"] for r in parsed.collect()}
    for i in range(20):
        p = gen_page(i)
        assert got[p.url] == p.text


def test_cli_warc_ingest(spark, tmp_path):
    """main.py --input-warc runs the full pipeline off a WARC directory."""
    import json
    import subprocess
    import sys

    from weblog_pipeline.webpages import generate_webpages

    inp = str(tmp_path / "crawl")
    out = str(tmp_path / "sinks")
    warc.write_warc_files(
        generate_webpages(spark, 60).select("url", "warc_ts", "html"), inp
    )
    proc = subprocess.run(
        [sys.executable, "main.py", "--input-warc", inp, "--output", out,
         "--cpus", "4"],
        capture_output=True, text=True, timeout=300,
        cwd=__import__("os").path.dirname(__import__("os").path.dirname(__file__)),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    # events per page = i % 6 -> sum over 60 pages = 150
    assert sum(payload["per_sink_counts"].values()) == 150


def test_walker_skips_warcinfo_and_request_records():
    import datetime

    ts = datetime.datetime(2025, 7, 4)
    info = (
        b"WARC/1.1\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
        b"software\n\r\n\r\n"
    )
    req = (
        b"WARC/1.1\r\nWARC-Type: request\r\nContent-Length: 3\r\n\r\nGET\r\n\r\n"
    )
    blob = info + warc.build_record("https://a", ts, b"<p>x</p>") + req
    out = list(warc.walk_records(blob))
    assert [u for u, _, _ in out] == ["https://a"]


def test_walker_quarantines_corrupt_deflate_and_bad_framing():
    import datetime

    ts = datetime.datetime(2025, 7, 4)
    rec = bytearray(warc.build_record("https://a", ts, b"x" * 64, compress=True))
    rec[-10] ^= 0xFF  # flip a deflate byte
    with pytest.raises(ValueError, match="deflate"):
        list(warc.walk_records(bytes(rec)))
    no_len = b"WARC/1.1\r\nWARC-Type: response\r\n\r\npayload\r\n\r\n"
    with pytest.raises(ValueError, match="Content-Length"):
        list(warc.walk_records(no_len))
