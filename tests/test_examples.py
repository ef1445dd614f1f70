"""The shipped migration example must keep running as the loader evolves."""

from pathlib import Path


def test_classic_example_pipeline(spark, tmp_path):
    from fluent_bit_spark.pipeline import load_pipeline

    conf = (
        Path(__file__).resolve().parents[1] / "examples" / "classic_pipeline.conf"
    ).read_text()
    # redirect the output paths into the test sandbox
    conf = conf.replace("/tmp/fbs_example_out", str(tmp_path))
    pipe = load_pipeline(spark, conf)
    written = pipe.run_outputs()
    assert written["app.*"] == 1000
    assert written["errors.*"] == 201     # rewrite_tag keep=true duplicates
    assert written["*"] == 1201           # catch-all sees both routes
    assert spark.read.json(str(tmp_path / "app")).count() == 1000


def test_corpus_pipeline_example(spark, tmp_path):
    """The shipped corpus-prep example must keep running end-to-end and
    only ever shrink the corpus monotonically across stages."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import corpus_pipeline

    counts = corpus_pipeline.run(spark, "/root/testdata/sf0.001", str(tmp_path / "out"))
    order = ["input", "gopher", "line_dedup", "exact_dedup",
             "minhash_dedup", "decontaminated"]
    for a, b in zip(order, order[1:]):
        assert counts[b] <= counts[a], (a, b, counts)
    assert counts["written"] == counts["decontaminated"]
    assert 0 < counts["train"] <= counts["decontaminated"]
    # partitioned layout: split directories exist
    assert (tmp_path / "out" / "split=train").exists()

    # END-TO-END ACCEPTANCE HASH: per-query oracles can't catch
    # cross-operator interaction regressions (e.g. a dedup reordering
    # changing split membership); this one golden hash over the final
    # written dataset can. Every stage is deterministic (hash-based
    # membership everywhere), so the hash is stable across runs — if a
    # change legitimately alters pipeline output, re-derive the golden
    # and say why in the commit.
    import hashlib

    pdf = (
        spark.read.parquet(str(tmp_path / "out"))
        .select("doc_id", "text", "split")
        .orderBy("doc_id")
        .toPandas()
    )
    digest = hashlib.md5(
        "\n".join(
            f"{r.doc_id}\t{r.split}\t{r.text}" for r in pdf.itertuples()
        ).encode()
    ).hexdigest()
    assert digest == "889c51e0fff0d22a474dd5732a4496b5", (len(pdf), digest)


def test_telemetry_pipeline_example(spark):
    """The shipped telemetry example: scrape pages -> decode -> rollup ->
    LOCF gap fill -> rate -> re-encoded exposition page, with the counter
    reset on instance b surfacing as a small positive rate, never a
    negative one."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import telemetry_pipeline

    counts = telemetry_pipeline.run(spark)
    page = counts.pop("_page")
    assert counts["decoded_samples"] == 12
    assert counts["buckets"] == counts["filled"] == 8
    assert counts["rated"] == 6
    assert "# TYPE http_requests_total:rate30s gauge" in page
    # reset on instance b: new value IS the increase -> 15/30s = 0.5
    assert 'http_requests_total:rate30s{instance="b"} 0.5' in page
    assert "-" not in page.split("gauge", 1)[1]  # no negative rates


def test_corpus_stream_pipeline_example(spark, tmp_path):
    """The streaming ingest twin: tail -> gopher structural gate ->
    watermarked content-hash dedup -> date-partitioned parquet. Junk docs
    never land, exact duplicates collapse to one row, the partition
    directory layout is the batch sweep's expected input."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import corpus_stream_pipeline as csp

    in_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "dataset")
    cp = str(tmp_path / "cp")
    csp.synthesize(in_dir, n_docs=400, dup_every=4, junk_every=10)
    csp.run(spark, in_dir, out_dir, cp)

    got = spark.read.parquet(out_dir)
    good_ids = [i for i in range(400) if i % 10 != 0]
    distinct_texts = len({i - (i % 4) for i in good_ids})
    assert got.count() == distinct_texts
    # every junk doc gated out before the sink
    from pyspark.sql import functions as F
    assert got.filter(F.col("doc_id") % 10 == 0).count() == 0
    # duplicates collapsed: one row per content hash
    assert got.select("content_h").distinct().count() == got.count()
    # date-partitioned layout on disk
    assert any(p.name.startswith("dt=") for p in Path(out_dir).iterdir())
    # exactly-once restart: a second availableNow pass with the same
    # checkpoint adds nothing
    csp.run(spark, in_dir, out_dir, cp)
    assert spark.read.parquet(out_dir).count() == distinct_texts


def test_cli_main(spark, tmp_path):
    """python -m fluent_bit_spark -c <conf>: dry-run lists routes, real
    run delivers, bad config exits 2 — the `fluent-bit -c` analog."""
    from pathlib import Path

    import fluent_bit_spark.__main__ as cli

    conf = (
        Path(__file__).resolve().parents[1] / "examples" / "classic_pipeline.conf"
    ).read_text().replace("/tmp/fbs_example_out", str(tmp_path))
    cpath = tmp_path / "p.conf"
    cpath.write_text(conf)
    assert cli.main(["-c", str(cpath), "--dry-run"]) == 0
    assert cli.main(["-c", str(cpath), "--json"]) == 0
    assert cli.main(["-c", str(tmp_path / "missing.conf")]) == 2
    bad = tmp_path / "bad.conf"
    bad.write_text(conf + "\n[OUTPUT]\n    Name  nosuch\n    Match *\n")
    assert cli.main(["-c", str(bad), "--dry-run"]) == 2


def test_crawl_pipeline_example(spark, tmp_path):
    """The crawl front-end chain: WARC parse -> status/type gate -> WET
    extraction -> robots -> URL dedup -> quality -> exact dedup -> write.
    Counts shrink monotonically and each synthetic exclusion band is
    actually excluded."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import crawl_pipeline as cp

    n = 1200
    counts = cp.run(spark, cp.synthesize_warc(spark, n), str(tmp_path / "out"))
    order = ["warc_records", "html_200", "extracted", "robots_ok",
             "url_dedup", "quality", "exact_dedup", "written"]
    for a, b in zip(order, order[1:]):
        assert counts[b] <= counts[a], (a, b, counts)
    assert counts["warc_records"] == n
    # non-200 (~1/8) and non-html (~1/8) pages gated
    assert counts["html_200"] < n
    # robots removed the /private/ band (id % 5 == 2 of survivors)
    assert counts["robots_ok"] < counts["extracted"]
    # junk docs fail the word-count rule; dup pages collapse at the end
    assert counts["quality"] < counts["url_dedup"]
    assert counts["exact_dedup"] < counts["quality"]
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == counts["written"]


def test_training_prep_pipeline_example(spark, tmp_path):
    """The terminal training-prep example (classifier gate -> span
    decontam -> ExactSubstr trim -> token budget -> reshuffle -> FFD
    packing -> write) runs end-to-end, shrinks monotonically through the
    filter stages, and — every stage being hash-deterministic — produces
    a stable acceptance hash over the packed sequences."""
    import hashlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import training_prep_pipeline

    counts = training_prep_pipeline.run(
        spark, "/root/testdata/sf0.001", str(tmp_path / "out")
    )
    order = ["input", "quality_gate", "span_decontam", "substr_trim",
             "token_budget"]
    for a, b in zip(order, order[1:]):
        assert counts[b] <= counts[a], (a, b, counts)
    assert counts["shards"] == 4
    assert 0 < counts["sequences"] <= counts["token_budget"]
    assert counts["written"] == counts["sequences"]

    pdf = (
        spark.read.parquet(str(tmp_path / "out"))
        .select("seq_id", "doc_ids", "n_tokens", "n_docs")
        .orderBy("seq_id")
        .toPandas()
    )
    digest = hashlib.md5(
        "\n".join(
            f"{r.seq_id}\t{','.join(r.doc_ids)}\t{r.n_tokens}\t{r.n_docs}"
            for r in pdf.itertuples()
        ).encode()
    ).hexdigest()
    assert digest == "7968e05c7f763126b86392a813551689", (len(pdf), digest)


def test_event_analytics_example(spark):
    """The shipped event-analytics example must keep running and its
    invariants must hold: funnel levels partition the user base
    monotonically, every user belongs to a day-0 cohort slot, WAU is
    within the user count, paths are non-empty."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import event_analytics

    out = event_analytics.run(spark, "/root/testdata/sf0.001")
    n_users = sum(out["funnel"].values())
    assert n_users > 0
    assert set(out["funnel"]) <= {0, 1, 2, 3}
    assert out["day0_users"] == n_users      # every user sits in their cohort's day 0
    assert 0 < out["wau_min"] <= out["wau_max"] <= n_users
    assert out["top_paths"] and all(p for p, _ in out["top_paths"])
    counts = [n for _, n in out["top_paths"]]
    assert counts == sorted(counts, reverse=True)
    assert out["prob_mass_ok"]                   # every src's probs sum to 1
    assert 0 <= out["rfm_champions"] <= out["rfm_users"] == n_users
    # attribution conserves value: every purchase's value lands on
    # exactly one channel (last-touch), so the credited sum equals the
    # corpus's total purchase value
    from pyspark.sql import functions as F

    from fluent_bit_spark.model import load_table

    total_purchase = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .where(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert abs(sum(out["attribution"].values()) - round(total_purchase, 2)) < 0.05


def test_event_stream_pipeline_example(spark):
    """The streaming product-analytics example: the live funnel's last
    emitted level per user must equal the BATCH funnel_levels fold over
    the same (exact-deduped) events, and the closed-session rows must
    equal the batch session table minus the far-future closer
    sessions."""
    import datetime as dt
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import event_stream_pipeline as esp

    from fluent_bit_spark.extensions.funnel import funnel_levels, session_summaries
    from fluent_bit_spark.model import load_table

    sf_dir = "/root/testdata/sf0.001"
    in_dir = esp.synth_drop_dir(spark, sf_dir)
    out = esp.run(spark, in_dir)

    # batch replica: same exact-dedup the stream applies, closers included
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .dropDuplicates(["user_id", "ts", "event_type"])
    )
    closer_ts = ev.agg(F.max("ts")).collect()[0][0] + dt.timedelta(days=30)
    closers = ev.select("user_id").distinct().select(
        "user_id", F.lit(closer_ts).alias("ts"), F.lit("end").alias("event_type")
    )
    full = ev.unionByName(closers)

    batch_funnel = (
        funnel_levels(full, esp.STEPS, window=3 * 86400.0)
        .groupBy("funnel_level").agg(F.count(F.lit(1)).alias("n"))
    )
    expected = {int(r.funnel_level): int(r.n) for r in batch_funnel.collect()}
    assert out["funnel"] == expected, (out["funnel"], expected)

    sess = session_summaries(full, gap=1800.0).where(
        F.col("session_start") < F.lit(closer_ts)
    )
    agg = sess.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_events").alias("ev")
    ).collect()[0]
    assert out["closed_sessions"] == int(agg["n"])
    assert out["session_events"] == int(agg["ev"])


def test_event_stream_pipeline_single_query_matches_two_query(spark):
    """The single-query user_journey_stream pipeline must produce the
    SAME summary (funnel histogram, closed-session count and event sum)
    as the two-query fan-out — one state commit per trigger instead of
    two, with no semantic drift."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import event_stream_pipeline as esp

    in_dir = esp.synth_drop_dir(spark, "/root/testdata/sf0.001")
    two = esp.run(spark, in_dir)
    one = esp.run_single(spark, in_dir)
    assert one == two


def test_media_pipeline_example(spark):
    """The media-quartet composition: trimmed duplicates drop in the
    near-dup stage, every survivor yields exactly two planted shots,
    and every per-scene representative frame pairs with the cue
    covering its timestamp — the counts interlock."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import media_pipeline

    counts = media_pipeline.run(spark, "/root/testdata/sf0.001")
    assert counts["input_clips"] == 550  # 500 + 50 trimmed dups
    assert counts["parseable"] == 550
    assert counts["after_dedup"] == 500  # every trim collapsed
    assert counts["scenes"] == 1000  # two planted shots per survivor
    assert counts["rep_frames"] == 1000  # one representative per shot
    assert counts["training_pairs"] == 1000  # every frame captioned
    # coverage accounting (uncovered=True): 6 planned frames/survivor,
    # the last (ts 500) past cue 2's end by construction
    assert counts["planned_frames"] == 3000
    assert counts["uncovered_frames"] == 500
    assert counts["planned_frames"] - counts["uncovered_frames"] == 2500


def test_media_pipeline_stream_matches_batch(spark, tmp_path):
    """The streaming composition gate (r9 verdict task #6): the
    foreachBatch version — triage -> within-batch + HISTORY near-dup ->
    scene sample -> decode -> caption align per micro-batch — sums to
    the batch run's counts on a 2-batch split that re-ingests every
    trimmed duplicate AFTER its original (so the drop happens via the
    history store, not the within-batch join)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import media_pipeline

    batch = media_pipeline.run(spark, "/root/testdata/sf0.001")
    stream = media_pipeline.run_stream(
        spark, "/root/testdata/sf0.001", str(tmp_path / "mp_stream")
    )
    assert stream.pop("n_batches") == 2
    assert stream == batch


def test_warc_stream_pipeline_matches_batch(spark, tmp_path):
    """The crawl-bucket composition gate (text twin of the media
    pipeline): warc_source ingestion -> mojibake repair -> quality
    filter -> minhash dedup, run batch over the archive directory and
    streaming one-archive-per-micro-batch with the history store, must
    agree on every stage count INCLUDING the surviving token total —
    the padded duplicates live in a strictly-later archive, so the
    streaming drop goes through the history bands, not the within-batch
    join."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    import warc_stream_pipeline

    batch = warc_stream_pipeline.run(
        spark, "/root/testdata/sf0.001", str(tmp_path / "cp_batch")
    )
    stream = warc_stream_pipeline.run_stream(
        spark, "/root/testdata/sf0.001", str(tmp_path / "cp_stream")
    )
    n_batches = stream.pop("n_batches")
    assert n_batches >= 3  # originals split across archives + dup tail
    assert stream == batch
    # the planted duplicates actually dropped (50 padded copies of
    # every 10th of 500 docs), plus whatever natural near-dups the
    # corpus carries — never more input than output
    assert batch["input_records"] == 550
    assert batch["after_dedup"] <= batch["quality_kept"] - 50
