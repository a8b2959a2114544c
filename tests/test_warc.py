"""WARC ingest: framing, gzip-member streaming, HTTP head parse, error
taxonomy, and the production extraction job running straight off archives."""

from __future__ import annotations

from datetime import datetime

import pytest

from ocr_machine_spark.sources import warc as W


def _rec(url="https://h.example/p", body=b"<html>x</html>", **kw) -> bytes:
    return W.encode_warc_record(url, datetime(2024, 3, 1, 12, 0, 0), body, **kw)


def test_roundtrip_plain_and_gzip():
    recs = [W.encode_warcinfo("t.warc"), _rec(body=b"a" * 10), _rec(url="https://b/x", body=b"", status=404)]
    for gz in (False, True):
        data = W.encode_warc_file(recs, per_record_gzip=gz)
        out = list(W.iter_warc_records(data))
        assert [r["url"] for r in out] == ["https://h.example/p", "https://b/x"]
        assert out[0]["html"] == b"a" * 10 and out[0]["status"] == 200
        assert out[1]["html"] == b"" and out[1]["status"] == 404
        assert out[0]["mime"] == "text/html"
        assert out[0]["warc_ts"] == datetime(2024, 3, 1, 12, 0, 0)


def test_body_bytes_are_opaque():
    """Ingest never decodes: CRLFCRLF and non-UTF-8 bytes inside the body
    must survive byte-exactly (Content-Length framing, not delimiters)."""
    body = b"\xff\xfe<html>\r\n\r\nbin\x00ary</html>\r\n\r\n trailer"
    out = list(W.iter_warc_records(_rec(body=body)))
    assert out[0]["html"] == body


def test_error_taxonomy():
    good = _rec()
    with pytest.raises(ValueError, match="sync lost"):
        list(W.iter_warc_records(b"GARBAGE" + good))
    with pytest.raises(ValueError, match="truncated WARC payload"):
        list(W.iter_warc_records(good[: len(good) - 40]))
    gz = W.encode_warc_file([good], per_record_gzip=True)
    with pytest.raises(ValueError, match="truncated gzip member"):
        list(W.iter_warc_records(gz[:-5]))
    # response payload that is not HTTP
    bad = good.replace(b"HTTP/1.1 200 OK\r\n", b"NOPE")
    with pytest.raises(ValueError):
        list(W.iter_warc_records(bad))


def test_extraction_pipeline_from_warc(spark, tmp_path):
    """End-to-end: the production extraction plan consumes raw archives
    (the --input-format warc path of jobs.py, minus the CLI's session
    stop) and commits the same bucket lineage as parquet input — the
    ingest head is schema-compatible with the pages table."""
    from ocr_machine_spark.plans.lineage import read_extractions, run_extraction

    warc_dir, _ = W.warc_fixture(40)
    out = str(tmp_path / "out")
    stats = run_extraction(
        spark, W.read_warc(spark, warc_dir), out, run_id="w1", n_buckets=4
    )
    assert stats["buckets_committed"] == 4 and stats["pages_ok"] == 40
    got = read_extractions(spark, out)
    assert got.count() == 40
    assert got.filter("ok").count() == 40


def test_cdx_random_access_contract():
    """The CDX triple must support the real consumer pattern: range-read
    [offset, offset+length) of the named file, gunzip if .gz, parse ONE
    standalone record byte-identically."""
    import gzip as _gzip
    import hashlib

    import duckdb

    warc_dir, golden = W.warc_fixture(50)
    gold = duckdb.sql(f"SELECT * FROM '{golden}'").df()
    blobs = {
        fn: open(f"{warc_dir}/{fn}", "rb").read()
        for fn in ("part-0.warc", "part-1.warc.gz")
    }
    # parser-side CDX must equal the write-side golden exactly
    got = sorted(
        ({"file": fn, **r} for fn in blobs for r in W.iter_warc_cdx(blobs[fn])),
        key=lambda r: r["url"],
    )
    gold = gold.sort_values("url").reset_index(drop=True)
    assert len(got) == len(gold) == 50
    for r, (_, w) in zip(got, gold.iterrows()):
        assert (r["file"], r["offset"], r["length"], r["digest"]) == (
            w.file, w.offset, w.length, w.html_md5,
        )
    # random access on every record of both layouts
    for _, w in gold.iloc[::7].iterrows():
        span = blobs[w.file][w.offset:w.offset + w.length]
        if w.file.endswith(".gz"):
            span = _gzip.decompress(span)
        rec = next(W.iter_warc_records(span))
        assert rec["url"] == w.url
        assert hashlib.md5(rec["html"]).hexdigest() == w.html_md5


def test_fetch_record_at_both_layouts():
    """fetch_record_at is the CDX read contract as one call: byte-exact
    body recovery from plain and gz spans, with the trailing record CRLFs
    trimmed (not leaked into the body)."""
    import hashlib

    import duckdb

    warc_dir, golden = W.warc_fixture(50)
    gold = duckdb.sql(f"SELECT * FROM '{golden}'").df()
    for _, w in gold.iloc[::9].iterrows():
        rec = W.fetch_record_at(f"{warc_dir}/{w.file}", int(w.offset), int(w.length))
        assert rec["url"] == w.url
        assert len(rec["html"]) == w.n_bytes
        assert hashlib.md5(rec["html"]).hexdigest() == w.html_md5
    # truncated range: module taxonomy, not a silent short body
    w = gold.iloc[0]
    with pytest.raises(ValueError, match="truncated range"):
        W.fetch_record_at(f"{warc_dir}/{w.file}", int(w.offset), int(w.length) + 10**6)


def test_fetch_by_url_resolves_only_requested(spark):
    """fetch_by_url: request set semi-joins the index — unknown urls are
    absent (no error), requested ones come back byte-exact."""
    import hashlib

    import duckdb

    warc_dir, golden = W.warc_fixture(50)
    gold = duckdb.sql(f"SELECT * FROM '{golden}'").df().set_index("url")
    want = list(gold.index[:5])
    got = {
        r["url"]: r
        for r in W.fetch_by_url(
            spark, W.read_warc_cdx(spark, warc_dir), warc_dir,
            urls=want + ["https://nowhere.example/missing"],
        ).collect()
    }
    assert sorted(got) == sorted(want)
    for u in want:
        assert hashlib.md5(got[u]["html"]).hexdigest() == gold.loc[u, "html_md5"]


def test_cdx_rejects_whole_file_gzip_but_ingest_accepts():
    """A .warc.gz that is one gzip stream over the whole archive (not
    member-per-record) has no per-record compressed spans: CDX must raise
    rather than emit a corrupt url→offset map; record-level ingest still
    streams it fine."""
    import gzip as _gzip

    recs = [_rec(url=f"https://h/{i}", body=b"b" * i) for i in range(3)]
    whole = _gzip.compress(b"".join(recs))
    assert len(list(W.iter_warc_records(whole))) == 3
    with pytest.raises(ValueError, match="not member-per-record"):
        list(W.iter_warc_cdx(whole))


def test_gzip_garbage_raises_value_error():
    """Trailing non-gzip bytes between/after members must surface as the
    module's ValueError taxonomy, not a raw zlib.error."""
    gz = W.encode_warc_file([_rec()], per_record_gzip=True)
    with pytest.raises(ValueError, match="bad gzip member"):
        list(W.iter_warc_records(gz + b"\x00garbage\x00" * 4))


def test_gzip_bomb_member_is_capped():
    """A member that inflates past the per-member cap must raise the
    module's ValueError (bounded memory — same defense as decode_png's
    IHDR-bounded inflate), never materialize gigabytes on the executor."""
    import gzip as _gzip

    bomb = _gzip.compress(b"\x00" * (1 << 20))  # 1 MiB inflated, ~1 KiB wire
    with pytest.raises(ValueError, match="exceeds size cap"):
        list(W._iter_members(bomb, max_member_bytes=1 << 16))
    # under the cap the same member streams fine
    assert len(list(W._iter_members(bomb))) == 1


def test_incremental_extraction_cli(spark, tmp_path):
    """--diff-against: the extract job skips unchanged urls and reports the
    diff histogram. Driven through the real CLI in a subprocess (jobs.main
    stops its session, so it must not share the test fixture's)."""
    import json
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from ocr_machine_spark.sources.pages import generate_pages

    old_p, new_p, out = str(tmp_path / "old"), str(tmp_path / "new"), str(tmp_path / "out")
    old = generate_pages(spark, 200, partitions=2)
    old.write.parquet(old_p)
    old.withColumn(
        "html",
        F.when(
            F.xxhash64("url") % 5 == 0,
            F.concat(F.col("html"), F.lit("X").cast("binary")),
        ).otherwise(F.col("html")),
    ).write.parquet(new_p)

    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "ocr_machine_spark/jobs.py", "--input", new_p,
         "--diff-against", old_p, "--output", out, "--run-id", "d1",
         "--buckets", "4", "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo_root, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["diff_changed"] > 0 and stats["diff_unchanged"] > 0
    assert stats["diff_changed"] + stats["diff_unchanged"] == 200
    assert stats["pages_ok"] == stats["diff_changed"]  # only changed extracted


def test_warc_parser_totality_property():
    """Totality contract over arbitrary bytes (same discipline as the pages
    degrader property test): the parser either yields records or raises
    ValueError — never any other exception type, from either entry point."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    prefix = st.sampled_from([b"", b"\x1f\x8b", b"WARC/1.0\r\n", _rec()[:40], _rec()])

    @settings(max_examples=300, deadline=None)
    @given(prefix, st.binary(max_size=300))
    def run(pre, junk):
        for fn in (W.iter_warc_records, W.iter_warc_cdx):
            try:
                list(fn(pre + junk))
            except ValueError:
                pass

    run()


def test_cdx_cli_stats_match_table(spark, tmp_path):
    """jobs.py --job cdx through the real CLI in a subprocess (jobs.main
    stops its session): the stats line counts the written index — rows
    and distinct archive files."""
    import json
    import os
    import subprocess
    import sys

    warc_dir, _ = W.warc_fixture(40)
    out = str(tmp_path / "cdx")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "ocr_machine_spark/jobs.py", "--job", "cdx",
         "--input", warc_dir, "--output", out, "--run-id", "x1",
         "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo_root, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    table = spark.read.parquet(out)
    assert stats == {
        "run_id": "x1",
        "n_records": table.count(),
        "n_files": table.select("file").distinct().count(),
    }
    assert stats["n_records"] == 40 and stats["n_files"] == 2
