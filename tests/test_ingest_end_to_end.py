"""The full crawl-ingest composition, LIVE: WARC files landing in a
directory -> streaming Content-Length record walk (sources/warc.py) ->
visible-text strip (operators/html_extract.py) -> MinHash-LSH near-dup
verdicts with bounded state (streaming/lsh_dedup.py) — one Structured
Streaming pipeline, the end-to-end story USER_GUIDE.md §4/§1 tells.

Each stage is oracle- or property-gated on its own elsewhere; this test
pins that they COMPOSE: the same page served twice under different URLs
(and once re-encoded with extra whitespace — byte-different, text-equal)
must come out as one unique document and suppressed near-dups."""

from __future__ import annotations

from pyspark.sql import functions as F

from landing_util import land
from timing_explorer_spark.operators.html_extract import strip_html
from timing_explorer_spark.sources.warc import encode_warc_record, read_warc_stream
from timing_explorer_spark.streaming.lsh_dedup import minhash_dedup_stream

ARTICLE = (
    "<html><body><div class='nav'><a href='/'>Home</a></div>"
    "<p>the quick brown fox jumped over the lazy dog while the cat sat on "
    "the mat and watched the birds fly south for the winter season</p>"
    "<div class='footer'><a href='/tos'>Terms</a></div></body></html>"
)
OTHER = (
    "<html><body><p>completely different content about spark query engines "
    "and columnar execution with vectorized operators hash joins and "
    "shuffle exchanges running on large clusters every day</p></body></html>"
)


def _warc(payload_html: str, uri: str, rid: int) -> bytes:
    return encode_warc_record(payload_html.encode(), uri, f"<urn:uuid:{rid}>")


def _build_crawl_dir(tmp_path):
    """Four triggers landing over time — trigger 2 (the mirror copy)
    arrives as a .warc.gz per-record gzip member, so the live chain
    exercises the mixed plain/gz Common Crawl shape end to end."""
    from timing_explorer_spark.sources.warc import gzip_warc_record

    indir = tmp_path / "crawl"
    indir.mkdir()
    # trigger 1: the original article + an unrelated page
    (indir / "seg-0.warc").write_bytes(
        _warc(ARTICLE, "http://a.example/post?utm_source=feed", 1)
        + _warc(OTHER, "http://b.example/tech", 2)
    )
    # trigger 2: the SAME article under a mirror URL, re-encoded with extra
    # whitespace (byte-different payload, identical visible text) — shipped
    # GZIPPED, the way Common Crawl actually serves records
    land(str(indir), lambda: (indir / "seg-1.warc.gz").write_bytes(
        gzip_warc_record(
            _warc(ARTICLE.replace("<p>", "<p>\n  "), "http://mirror.example/post", 3)
        )
    ), gap=1.1)
    # trigger 3: the seal sentinel, far enough ahead of the 2s horizon that
    # its watermark passes every earlier verdict window
    land(str(indir), lambda: (indir / "seg-2.warc").write_bytes(
        _warc(
            "<html><body><p>sentinel closing document with enough words to "
            "shingle into something unique entirely</p></body></html>",
            "http://z.example/seal",
            99,
        )
    ), gap=3.2)
    land(str(indir), lambda: (indir / "seg-3.warc").write_bytes(
        _warc(
            "<html><body><p>second sentinel flushes the sealed verdict "
            "windows through the final trigger of the run</p></body></html>",
            "http://z.example/seal2",
            100,
        )
    ), gap=1.1)
    return indir


def _run_chain(spark, tmp_path, indir, verify=None):
    # maxFilesPerTrigger is a SOURCE option (on the sink it is silently
    # ignored and every file lands in ONE availableNow batch — the r7
    # session caught this when a same-batch arbitrary survivor beat the
    # first-arrival doc): throttle at the reader so the four files really
    # arrive as four ordered micro-batches
    records = read_warc_stream(
        spark, str(indir), with_ingest_ts=True, max_files_per_trigger=1
    )
    docs = records.where("valid").select(
        F.xxhash64("target_uri").alias("doc_id"),
        F.col("ingest_ts").alias("ts"),
        strip_html(F.decode("payload", "UTF-8")).alias("text"),
    )
    verdicts = minhash_dedup_stream(
        docs, watermark="2 seconds", seal_window="1 second", verify=verify
    )
    outdir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        verdicts.writeStream.format("parquet")
        .outputMode("append")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(outdir).collect()
    # map doc hash back to uri for assertions
    uri_of = {
        r["doc_id"]: r["target_uri"]
        for r in spark.createDataFrame(
            [
                ("http://a.example/post?utm_source=feed",),
                ("http://b.example/tech",),
                ("http://mirror.example/post",),
                ("http://z.example/seal",),
            ],
            "target_uri string",
        )
        .select(F.xxhash64("target_uri").alias("doc_id"), "target_uri")
        .collect()
    }
    return {uri_of[r["doc"]]: r for r in got if r["doc"] in uri_of}


def _assert_verdicts(by_uri):
    # the original + unrelated page are unique; the re-encoded mirror is a
    # near-dup (exact dup of the VISIBLE text -> all bands collide -> no row,
    # or partial -> is_unique false)
    assert by_uri["http://a.example/post?utm_source=feed"]["is_unique"]
    assert by_uri["http://b.example/tech"]["is_unique"]
    mirror = by_uri.get("http://mirror.example/post")
    assert mirror is None or not mirror["is_unique"], "mirror page not suppressed"


def test_warc_to_neardup_verdicts_live(spark, tmp_path):
    _assert_verdicts(_run_chain(spark, tmp_path, _build_crawl_dir(tmp_path)))


def test_warc_to_verified_neardup_verdicts_live(rocksdb_spark, tmp_path):
    """Same live chain under verify mode (the precision layer): the mirror
    page's visible text is byte-identical to the original, so the
    estimated Jaccard is 1.0 against every stored band occupant — still
    suppressed — while the verification state keeps the chain running on
    the RocksDB-backed TWS path end to end."""
    spark = rocksdb_spark
    _assert_verdicts(
        _run_chain(spark, tmp_path, _build_crawl_dir(tmp_path), verify=0.8)
    )


def test_warc_cleanup_chain_dedups_garbled_mirror(spark, tmp_path):
    """The r7 cleanup stage composes into the SAME live pipeline: a mirror
    page whose text is cp1252-mojibake'd and word-doubled (byte- AND
    text-different after strip) repairs to the original under
    fix_mojibake + squeeze_repeats, so the dedup layer must suppress it —
    cleanup-equivalent pages are duplicates."""
    from timing_explorer_spark.functions.text import fix_mojibake, squeeze_repeats

    clean_p = (
        "the café cat don’t sit on the mat while birds fly south for "
        "winter and the dog watches the quiet yard every single day"
    )
    garbled_p = clean_p.replace("café", "cafÃ©").replace("don’t", "donâ€™t").replace(
        "the mat", "the mat mat"
    )
    shell = "<html><body><p>{}</p></body></html>"
    indir = tmp_path / "crawl"
    indir.mkdir()
    (indir / "seg-0.warc").write_bytes(
        _warc(shell.format(clean_p), "http://a.example/clean", 1)
    )
    land(str(indir), lambda: (indir / "seg-1.warc").write_bytes(
        _warc(shell.format(garbled_p), "http://m.example/garbled", 2)
    ), gap=1.1)
    land(str(indir), lambda: (indir / "seg-2.warc").write_bytes(
        _warc(shell.format("sentinel one closing with plenty of unique words "
                           "to shingle across the horizon"), "http://z/s1", 8)
    ), gap=3.2)
    land(str(indir), lambda: (indir / "seg-3.warc").write_bytes(
        _warc(shell.format("sentinel two flushing sealed verdict windows "
                           "through the very final trigger"), "http://z/s2", 9)
    ), gap=1.1)

    records = read_warc_stream(
        spark, str(indir), with_ingest_ts=True, max_files_per_trigger=1
    )
    docs = records.where("valid").select(
        F.xxhash64("target_uri").alias("doc_id"),
        F.col("ingest_ts").alias("ts"),
        squeeze_repeats(
            fix_mojibake(strip_html(F.decode("payload", "UTF-8")))
        ).alias("text"),
    )
    verdicts = minhash_dedup_stream(docs, watermark="2 seconds", seal_window="1 second")
    outdir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        verdicts.writeStream.format("parquet")
        .outputMode("append")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(outdir).collect()
    ids = {
        r["target_uri"]: r["doc_id"]
        for r in spark.createDataFrame(
            [("http://a.example/clean",), ("http://m.example/garbled",)],
            "target_uri string",
        )
        .select("target_uri", F.xxhash64("target_uri").alias("doc_id"))
        .collect()
    }
    by_doc = {r["doc"]: r for r in got}
    assert by_doc[ids["http://a.example/clean"]]["is_unique"]
    mirror = by_doc.get(ids["http://m.example/garbled"])
    assert mirror is None or not mirror["is_unique"], "garbled mirror not suppressed"
