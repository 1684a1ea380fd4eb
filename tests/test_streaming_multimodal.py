"""Streaming ingestion (AvailableNow → foreachBatch → same pipeline)
and the stateful, windowed, dedup and join streaming operators."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.sources.synth import synth_interleaved


def test_stream_extract_available_now(spark, tmp_path: pathlib.Path):
    from accountant_pdf_extract_spark.streaming.ingest import stream_extract

    inp = str(tmp_path / "in")
    synth_interleaved(spark, 40, seed=5, partitions=4).write.parquet(inp)

    out = str(tmp_path / "out")
    stream_extract(
        spark, inp, out, str(tmp_path / "ckpt"),
        salt_buckets=8, num_partitions=4,
    )
    got = spark.read.parquet(out)
    # identical to the batch pipeline on the same input
    from accountant_pdf_extract_spark.plans.pipeline import extract, spans_view
    batch = spans_view(
        extract(spark.read.parquet(inp), salt_buckets=8, num_partitions=4)
    )
    key = ["doc_id", "order", "kind", "text", "media_ref"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, batch.select(*key).collect())
    )

    # incremental: a second drain with no new files adds nothing
    n1 = got.count()
    stream_extract(
        spark, inp, out, str(tmp_path / "ckpt"),
        salt_buckets=8, num_partitions=4,
    )
    assert spark.read.parquet(out).count() == n1


def test_stateful_running_counts(spark, tmp_path: pathlib.Path):
    """applyInPandasWithState: state survives across separate
    availableNow drains via the checkpointed state store."""
    from accountant_pdf_extract_spark.streaming.stateful import (
        running_user_counts,
    )

    inp = str(tmp_path / "sin")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")

    # user 4: negative EXACT half-cent (-0.125*100 = -12.5, binary-exact)
    # must round half-up AWAY FROM ZERO to -13 like F.round — not -12
    # (the old floor(x*100+0.5) rounded toward +inf on negatives)
    batch1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0), (4, -0.125)],
        "user_id long, value double",
    )
    batch1.write.mode("append").parquet(inp)
    stream = spark.readStream.schema("user_id long, value double").parquet(inp)
    running_user_counts(stream, ckpt, out)

    first = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in spark.read.parquet(out).collect()
    }
    assert first == {1: (2, 1500), 2: (1, 700), 4: (1, -13)}

    # second drain with new files: totals must ACCUMULATE (state kept)
    batch2 = spark.createDataFrame(
        [(1, 1.0), (3, 2.0)], "user_id long, value double"
    )
    batch2.write.mode("append").parquet(inp)
    stream2 = spark.readStream.schema("user_id long, value double").parquet(inp)
    running_user_counts(stream2, ckpt, out)

    latest = {}
    for r in spark.read.parquet(out).collect():
        uid = r["user_id"]
        cur = latest.get(uid, (0, 0))
        cand = (r["n_events"], r["total_cents"])
        latest[uid] = max(cur, cand)
    assert latest[1] == (3, 1600)
    assert latest[2] == (1, 700)
    assert latest[3] == (1, 200)


def test_watermarked_window_counts(spark, tmp_path: pathlib.Path):
    """Tumbling-window aggregation with a watermark over a file
    stream (the classic late-data-tolerant streaming agg)."""
    inp = str(tmp_path / "win")
    spark.createDataFrame(
        [("2025-01-01 10:05:00", 1), ("2025-01-01 10:20:00", 2),
         ("2025-01-01 11:10:00", 3), ("2025-01-01 11:40:00", 4),
         ("2025-01-01 10:45:00", 5)],
        "ts_s string, v int",
    ).selectExpr("cast(ts_s as timestamp) AS ts", "v").write.parquet(inp)

    stream = spark.readStream.schema("ts timestamp, v int").parquet(inp)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        .select(F.col("w.start").cast("string").alias("start"), "n", "sv")
    )
    out = str(tmp_path / "wout")
    (
        agg.writeStream.outputMode("append")
        .foreachBatch(lambda df, _i: df.write.mode("append").parquet(out))
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = {
        (r["start"], r["n"], r["sv"])
        for r in spark.read.parquet(out).collect()
    }
    # availableNow append-mode emits windows finalized by the watermark
    # (10:00 window closes once 11:40 arrives; 11:00 stays open)
    assert ("2025-01-01 10:00:00", 3, 8) in rows


def test_stream_dedup_exact_cross_batch(spark, tmp_path: pathlib.Path):
    """First-seen-wins exact dedup across two incremental drains: a
    hash emitted in drain 1 is dropped when it reappears in drain 2
    (state survives via the checkpoint); new hashes still emit.
    Matches the batch operator where first-seen == global-min id."""
    from accountant_pdf_extract_spark.operators.dedup import exact_dup_groups
    from accountant_pdf_extract_spark.streaming.dedup import stream_dedup_exact

    inp = str(tmp_path / "ddin")
    out = str(tmp_path / "ddout")
    ckpt = str(tmp_path / "ddckpt")

    batch1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha  beta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    batch1.write.mode("append").parquet(inp)
    stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
    stream_dedup_exact(stream, ckpt, out)
    got1 = {
        (r["doc_id"], r["content_hash"])
        for r in spark.read.parquet(out).collect()
    }
    assert {d for d, _h in got1} == {1, 3}  # 2 is a whitespace-dup of 1

    # drain 2: one dup of an already-emitted hash + one new doc
    batch2 = spark.createDataFrame(
        [(4, "alpha beta"), (5, "epsilon zeta")],
        "doc_id long, text string",
    )
    batch2.write.mode("append").parquet(inp)
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(inp)
    stream_dedup_exact(stream2, ckpt, out)
    got2 = {
        (r["doc_id"], r["content_hash"])
        for r in spark.read.parquet(out).collect()
    }
    assert {d for d, _h in got2} == {1, 3, 5}  # 4 suppressed by state

    # equivalence with the batch operator (first-seen == min id here)
    batch_keeps = {
        (r["keep_id"], r["content_hash"])
        for r in exact_dup_groups(spark.read.parquet(inp)).collect()
    }
    assert got2 == batch_keeps


def test_stream_static_broadcast_enrichment(spark, tmp_path: pathlib.Path):
    """Stream-static join: each micro-batch enriches against a static
    (broadcastable) dimension — the standard pattern for joining a
    firehose to reference data without shuffling the stream."""
    from pyspark.sql import functions as F

    inp = str(tmp_path / "sin")
    out = str(tmp_path / "sout")
    static_dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], "tier_id long, tier string"
    )
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "doc_id long, tier_id long"
    ).write.parquet(inp)
    stream = spark.readStream.schema("doc_id long, tier_id long").parquet(inp)
    enriched = stream.join(F.broadcast(static_dim), "tier_id")
    q = (
        enriched.writeStream.foreachBatch(
            lambda df, _i: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 30
    tiers = {r["doc_id"]: r["tier"] for r in got.collect()}
    assert tiers[4] == "silver" and tiers[6] == "bronze" and tiers[8] == "gold"


def test_stream_stream_join_matches_batch(spark, tmp_path: pathlib.Path):
    """Watermarked stream-stream band join over an AvailableNow drain
    equals the batch join on the same inputs, and a second drain with
    new files joins ACROSS batches (buffered state) without
    duplicating the first drain's output."""
    import datetime as dt

    from accountant_pdf_extract_spark.streaming.join import (
        run_stream_stream_join,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    lschema = "k long, ts timestamp, lid long"
    rschema = "k long, rts timestamp, rid long"

    left1 = [(1, ts(0), 100), (1, ts(30), 101), (2, ts(0), 200)]
    right1 = [(1, ts(10), 900), (2, ts(90), 901)]
    spark.createDataFrame(left1, lschema).write.mode("append").parquet(ldir)
    spark.createDataFrame(right1, rschema).write.mode("append").parquet(rdir)
    run_stream_stream_join(
        spark, ldir, rdir, lschema, rschema, "k", ckpt, out, band_seconds=60
    )

    def got_pairs():
        return sorted(
            (r["lid"], r["rid"])
            for r in spark.read.parquet(out).collect()
        )

    # (100,900): 10s after t=0 ✓; (101,900): rts=10 < lts=30 ✗ (band is
    # forward-only); (200,901): 90s > 60s band ✗
    assert got_pairs() == [(100, 900)]

    # second drain: late right row joins the FIRST drain's left rows
    right2 = [(1, ts(40), 902)]
    spark.createDataFrame(right2, rschema).write.mode("append").parquet(rdir)
    run_stream_stream_join(
        spark, ldir, rdir, lschema, rschema, "k", ckpt, out, band_seconds=60
    )
    assert got_pairs() == [(100, 900), (100, 902), (101, 902)]

    # batch equivalence on the full inputs
    lb = spark.createDataFrame(left1, lschema)
    rb = spark.createDataFrame(right1 + right2, rschema)
    want = sorted(
        (r["lid"], r["rid"])
        for r in lb.join(
            rb,
            (lb.k == rb.k)
            & (rb.rts >= lb.ts)
            & (rb.rts <= lb.ts + F.expr("INTERVAL 60 SECONDS")),
        ).collect()
    )
    assert got_pairs() == want


def test_streaming_session_windows_match_batch(spark, tmp_path: pathlib.Path):
    """Gap-based session windows over an AvailableNow drain equal the
    batch session_window aggregation on the same input (gap merges,
    separate users, a quiet-period split)."""
    import datetime as dt

    from accountant_pdf_extract_spark.streaming.sessions import (
        run_streaming_sessionize,
        streaming_sessionize,  # noqa: F401  (public API surface)
    )

    t0 = dt.datetime(2026, 2, 1, 9, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: events at 0,10,20 chain into ONE session (gap 30m),
        # then a 90-minute silence splits a second session at 110
        (ts(0), 1, 1.0), (ts(10), 1, 2.0), (ts(20), 1, 3.0),
        (ts(110), 1, 4.0),
        # user 2: single event
        (ts(5), 2, 10.0),
    ]
    inp = str(tmp_path / "sess_in")
    spark.createDataFrame(
        rows, "ts timestamp, user_id long, value double"
    ).write.mode("append").parquet(inp)

    out = str(tmp_path / "sess_out")
    run_streaming_sessionize(
        spark, inp, str(tmp_path / "sess_ckpt"), out, gap="30 minutes"
    )
    # append mode emits a session only once the WATERMARK passes its
    # end — the stream's final open sessions stay in state after the
    # first drain.  A second drain with a far-future sentinel event
    # pushes the watermark and flushes them (cross-batch state).
    spark.createDataFrame(
        [(ts(10_000), 999, 0.0)], "ts timestamp, user_id long, value double"
    ).write.mode("append").parquet(inp)
    run_streaming_sessionize(
        spark, inp, str(tmp_path / "sess_ckpt"), out, gap="30 minutes"
    )
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["value_cents"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != 999  # the sentinel's own session stays open
    }
    batch = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["value_cents"])
        for r in spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double"
        )
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "value_cents",
        )
        .collect()
    }
    assert got == batch
    assert len(got) == 3  # two sessions for user 1, one for user 2
    assert (1, str(ts(0)), 3, 600) in got


def test_corrupt_media_payload_skipped_not_fatal(spark):
    """Media spans are carried through by media_ref, never decoded: an
    image XObject whose stream payload is a truncated JPEG, corrupt
    Flate data, or bytes that look like page content yields exactly
    the spans of the payload-free image — the media span by ref plus
    the page text, engine ≡ oracle — and a job over those docs keeps
    every doc."""
    from accountant_pdf_extract_spark.operators.doccore import extract_doc
    from accountant_pdf_extract_spark.plans.pipeline import extract, spans_view
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA
    from accountant_pdf_extract_spark.sources.pdfwriter import (
        PageBuilder,
        build_pdf,
    )
    from tests.oracle import pdf_spans

    ref = "media://sha/feedface"
    pg = PageBuilder()
    pg.text(72, 700, "Invoice 42")
    pg.image(100, 200, 50, 40, ref)
    pg.text(72, 100, "Total: $10.00")
    clean = build_pdf([pg])
    im_dict = (
        f"<< /Type /XObject /Subtype /Image /Name ({ref}) "
        "/Width 100 /Height 100 >>"
    )
    assert clean.count(im_dict) == 1

    def with_payload(filt: str, payload: bytes) -> str:
        body = payload.decode("latin-1")
        obj = (
            f"<< /Type /XObject /Subtype /Image /Name ({ref}) /Width 100 "
            f"/Height 100{filt} /Length {len(payload)} >>\n"
            f"stream\n{body}\nendstream"
        )
        return clean.replace(im_dict, obj)

    docs = {
        "clean": clean,
        "jpeg": with_payload(
            " /Filter /DCTDecode", b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01"
        ),
        "flate": with_payload(" /Filter /FlateDecode", b"\x78\x9cnot zlib"),
        "ghost": with_payload("", b"BT /F1 10 Tf 72 400 Td (ghost) Tj ET"),
    }
    want, _ = extract_doc([("pdf", clean, "", 0)])
    assert ("media", "", ref) in [(k, t, m) for k, t, m, _ in want]
    assert {"Invoice 42", "Total: $10.00"} <= {t for _k, t, _m, _ in want}
    for name, doc in docs.items():
        got, _ = extract_doc([("pdf", doc, "", 0)])
        assert got == want, name
        assert [(k, t, m) for k, t, m, _ in got] == pdf_spans(doc), name

    inp = spark.createDataFrame(
        [
            (name, [{"kind": "pdf", "text": doc, "media_ref": "", "offset": 0}])
            for name, doc in docs.items()
        ],
        INPUT_SCHEMA,
    )
    rows = spans_view(
        extract(inp, salt_buckets=4, num_partitions=2)
    ).select("doc_id", "order", "kind", "text", "media_ref").collect()
    per_doc: dict = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["order"])):
        per_doc.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"])
        )
    assert set(per_doc) == set(docs)
    assert all(spans == per_doc["clean"] for spans in per_doc.values())
    assert ("media", "", ref) in per_doc["clean"]
