"""Structured Streaming face: incremental extract, watermark dedup,
windowed rollup, and cross-micro-batch politeness state (checkpoint
resume included)."""

import os

import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.sources.pagegen import detail_page
from no_fasel_scrapers_spark.streaming.ingest import (
    dedup_stream,
    hourly_lang_rollup,
    politeness_state,
    run_stream_to_sink,
    stream_pages,
    streaming_extract,
)


def _write_pages(spark, path, lo, hi, ts_base="2023-01-01 03:30:00"):
    rows = []
    for i in range(lo, hi):
        url, html, text = detail_page(i)
        rows.append((url, html, text, "ar" if i % 2 else "en", i))
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string, i long"
    ).select(
        "url",
        (F.to_timestamp(F.lit(ts_base)) + F.make_interval(secs=F.col("i"))).alias(
            "warc_ts"
        ),
        "html", "text", "lang",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_extract_matches_batch(spark, tmp_path):
    src = str(tmp_path / "pages")
    _write_pages(spark, src, 0, 30)
    q = run_stream_to_sink(
        streaming_extract(stream_pages(spark, src)),
        checkpoint=str(tmp_path / "ckpt"),
        out_path=str(tmp_path / "out"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 30
    # same rows the batch extractor produces
    ids = {r.item_id for r in got.select("fields.item_id").collect()}
    assert ids == {str(7000 + i) for i in range(30)}
    assert got.filter(F.col("text").isNull()).count() == 0


def test_extract_body_passes_extra_columns():
    """The one extraction body: with only (url, role, html) it yields the
    per-page records as before; any other input column follows them,
    unchanged (the crawl's frontier columns ride along this way)."""
    import pandas as pd
    from pandas.testing import assert_frame_equal

    from no_fasel_scrapers_spark.functions.extract import (
        extract_map_in_pandas,
        extract_page,
    )

    pages = [detail_page(i)[:2] for i in range(3)]
    pdf = pd.DataFrame(
        {
            "url": [u for u, _ in pages] + ["https://missing.test/x"],
            "role": ["detail"] * 4,
            "html": [h for _, h in pages] + [None],
        }
    )
    records = pd.DataFrame(
        [extract_page(u, r, h) for u, r, h in pdf.itertuples(index=False)],
        columns=[
            "url", "role", "site", "links", "cards", "fields",
            "last_page", "text",
        ],
    )
    (plain,) = extract_map_in_pandas([pdf])
    assert_frame_equal(plain, records)

    extra = pd.DataFrame(
        {
            "category": ["movies", None, "series", "movies"],
            "depth": pd.array([0, 1, None, 3], dtype="Int32"),
            "priority": [5.0, None, 1.0, 2.0],
        }
    )
    (out,) = extract_map_in_pandas([pd.concat([pdf, extra], axis=1)])
    assert list(out.columns) == list(records.columns) + list(extra.columns)
    assert_frame_equal(out[records.columns], records)
    assert_frame_equal(out[extra.columns], extra)


def test_dedup_stream_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    _write_pages(spark, src, 0, 20)
    q = run_stream_to_sink(
        dedup_stream(stream_pages(spark, src)).select("url", "url_hash"),
        checkpoint=ckpt, out_path=out,
    )
    q.awaitTermination(120)

    # second drop: 10 duplicate urls + 10 new — state must drop the dups
    _write_pages(spark, src, 10, 40)
    q = run_stream_to_sink(
        dedup_stream(stream_pages(spark, src)).select("url", "url_hash"),
        checkpoint=ckpt, out_path=out,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 40  # 20 + 30 input rows, 10 dups dropped
    assert got.select("url").distinct().count() == 40


def test_hourly_rollup_window_and_late_drop(spark, tmp_path):
    src = str(tmp_path / "pages")
    # pages at 03:30 and 04:30 → two 1h windows
    _write_pages(spark, src, 0, 10, ts_base="2023-01-01 03:30:00")
    _write_pages(spark, src, 10, 20, ts_base="2023-01-01 04:30:00")
    q = run_stream_to_sink(
        hourly_lang_rollup(stream_pages(spark, src)),
        checkpoint=str(tmp_path / "ckpt"),
        query_name="rollup_mem",
        output_mode="complete",
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM rollup_mem").collect()
    windows = {(str(r.window_start), r.lang): r.n_pages for r in got}
    assert sum(windows.values()) == 20
    starts = {k[0] for k in windows}
    assert starts == {"2023-01-01 03:00:00", "2023-01-01 04:00:00"}


def test_politeness_state_survives_restart(spark, tmp_path):
    src = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drop(lo, hi):
        rows = [
            (f"https://h{i % 2}.test/p/{i}", i, f"h{i % 2}.test", 100)
            for i in range(lo, hi)
        ]
        spark.createDataFrame(
            rows, "url string, url_hash long, host string, crawl_delay_ms int"
        ).coalesce(1).write.mode("append").parquet(src)

    def run():
        frontier = (
            spark.readStream.schema(
                "url string, url_hash long, host string, crawl_delay_ms int"
            ).parquet(src)
        )
        q = run_stream_to_sink(
            politeness_state(frontier), checkpoint=ckpt, out_path=out,
            output_mode="append",
        )
        q.awaitTermination(120)

    drop(0, 10)
    run()
    drop(10, 20)
    run()

    got = spark.read.parquet(out)
    assert got.count() == 20
    per_host = {
        r.host: r for r in got.groupBy("host").agg(
            F.max("fetch_seq").alias("max_seq"),
            F.max("scheduled_ms").alias("max_ms"),
            F.countDistinct("fetch_seq").alias("n_seq"),
        ).collect()
    }
    for h in ("h0.test", "h1.test"):
        # 10 urls per host across two runs → seq 0..9 with NO reset at the
        # micro-batch/restart boundary, schedule keeps advancing
        assert per_host[h].max_seq == 9, h
        assert per_host[h].n_seq == 10, h
        assert per_host[h].max_ms == 900, h
