"""Streaming operator tests: file-source micro-batches → memory sink,
compared against the batch operators on the same data."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pywrangler_spark import identify_intervals
from pywrangler_spark.operators.sessionize import session_stats
from pywrangler_spark.sources import read_parquet
from pywrangler_spark.streaming import (
    stream_identify_intervals,
    stream_session_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Events split into two time-ordered parquet files so micro-batches
    respect per-group event-time order."""
    base = str(tmp_path_factory.mktemp("events_stream"))
    ev = read_parquet(spark, f"{SF}/events.parquet")
    cutoff = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    ev.filter(F.col("ts") <= cutoff).coalesce(1).write.parquet(
        os.path.join(base, "batch=0")
    )
    ev.filter(F.col("ts") > cutoff).coalesce(1).write.parquet(
        os.path.join(base, "batch=1")
    )
    files_dir = os.path.join(base, "files")
    os.makedirs(files_dir)
    n = 0
    for sub in ("batch=0", "batch=1"):
        for name in sorted(os.listdir(os.path.join(base, sub))):
            if name.endswith(".parquet"):
                dest = os.path.join(files_dir, f"{n:03d}.parquet")
                shutil.copy(os.path.join(base, sub, name), dest)
                # the file source micro-batches oldest-mtime-first; pin
                # mtimes so batch order == event-time order
                os.utime(dest, (1_700_000_000 + n * 60,) * 2)
                n += 1
    return files_dir


def _run_stream(spark, transform, files_dir, schema, sink_name):
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(files_dir)
    )
    q = (
        transform(sdf)
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)


class TestStreamingIntervals:
    def test_matches_batch_on_resolved_rows(self, spark, events_stream_dir):
        ev = read_parquet(spark, f"{SF}/events.parquet")
        batch = ev.transform(
            identify_intervals(
                marker_column="event_type",
                marker_start="signup",
                marker_end="purchase",
                orderby_columns="ts",
                groupby_columns="user_id",
            )
        )
        streamed = _run_stream(
            spark,
            stream_identify_intervals(
                "event_type", "signup", "purchase", "user_id", "ts"
            ),
            events_stream_dir,
            ev.schema,
            "intervals_sink",
        )
        got = {
            (r.user_id, r.ts): r.iids for r in streamed.collect()
        }
        expected = {
            (r.user_id, r.ts): r.iids for r in batch.collect()
        }
        assert got, "stream emitted nothing"
        # every emitted row must carry the exact batch id (append rows
        # are final — they may never disagree with the batch result)
        for k, v in got.items():
            assert expected[k] == v, f"row {k}: stream {v} vs batch {expected[k]}"
        # unemitted rows are exactly the unresolved trailing candidates:
        # batch marks them 0 (unclosed) or they extend past the last end
        pending = set(expected) - set(got)
        ev_types = {
            (r.user_id, r.ts): r.event_type for r in ev.collect()
        }
        for k in pending:
            assert expected[k] == 0 or ev_types[k] != "purchase"

    def test_emits_bulk_of_rows(self, spark, events_stream_dir):
        streamed = spark.table("intervals_sink")
        total = read_parquet(spark, f"{SF}/events.parquet").count()
        assert streamed.count() > total * 0.8

    def test_key_spanning_arrow_chunks_matches_batch(self, spark, tmp_path):
        """One key's micro-batch rows arrive out of time order across
        several Arrow chunks: they are sorted as one batch, so every
        emitted row carries the batch id."""
        import datetime as dt

        rows = [
            (1, dt.datetime(2024, 1, 1, 0, 0, s), m)
            for s, m in [
                (5, "purchase"), (4, "view"), (1, "signup"),
                (2, "view"), (3, "view"),
            ]
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )
        files = str(tmp_path / "files")
        df.coalesce(1).write.parquet(files)
        batch = {
            r.ts: r.iids
            for r in df.transform(
                identify_intervals(
                    marker_column="event_type",
                    marker_start="signup",
                    marker_end="purchase",
                    orderby_columns="ts",
                    groupby_columns="user_id",
                )
            ).collect()
        }
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, "2")
        try:
            streamed = _run_stream(
                spark,
                stream_identify_intervals(
                    "event_type", "signup", "purchase", "user_id", "ts"
                ),
                files,
                df.schema,
                "intervals_chunked_sink",
            ).collect()
        finally:
            spark.conf.set(conf, saved)
        assert set(batch.values()) == {1}
        assert {r.ts: r.iids for r in streamed} == batch


class TestStreamingSessions:
    def test_session_counts_match_batch(self, spark, events_stream_dir):
        ev = read_parquet(spark, f"{SF}/events.parquet")
        gap = 6 * 3600.0
        batch = ev.transform(
            session_stats("ts", gap, "user_id", value_column="value")
        )
        streamed = _run_stream(
            spark,
            stream_session_stats(
                "ts", gap, "user_id", value_column="value", watermark="0 seconds"
            ),
            events_stream_dir,
            ev.schema,
            "sessions_sink",
        )
        # watermark 0 + availableNow: all sessions closed by end of input
        b = {
            (r.user_id, r.session_start): (r.n_events, round(r.value_sum, 2))
            for r in batch.collect()
        }
        s = {
            (r.user_id, r.session_start): (r.n_events, round(r.value_sum, 2))
            for r in streamed.collect()
        }
        assert len(s) > 0
        matching = sum(1 for k in s if b.get(k) == s[k])
        # boundary semantics differ only at exact-gap edges (none in data)
        assert matching / max(len(b), 1) > 0.95, (
            f"{matching}/{len(b)} sessions match"
        )

    def test_fractional_gap_matches_batch(self, spark, tmp_path):
        """A fractional gap is kept exactly: events 90.2 s and 90.4 s
        apart are one session under a 90.5 s gap on both paths (a gap
        truncated to 90 s splits them into three)."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        at = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
        # user 1's events, then two later micro-batches that carry the
        # watermark past the end of user 1's session
        batches = [
            [(1, at(0.0)), (1, at(90.2)), (1, at(180.6))],
            [(2, at(86_400))],
            [(3, at(2 * 86_400))],
        ]
        schema = "user_id long, ts timestamp"
        files = tmp_path / "files"
        files.mkdir()
        for i, rows in enumerate(batches):
            out = str(tmp_path / f"batch{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                out
            )
            for name in os.listdir(out):
                if name.endswith(".parquet"):
                    dest = str(files / f"{i:03d}.parquet")
                    shutil.copy(os.path.join(out, name), dest)
                    os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        df = spark.createDataFrame(batches[0], schema)
        batch = df.transform(session_stats("ts", 90.5, "user_id"))
        streamed = _run_stream(
            spark,
            stream_session_stats(
                "ts", 90.5, "user_id", watermark="0 seconds"
            ),
            str(files),
            df.schema,
            "fractional_gap_sink",
        )
        assert [r.n_events for r in batch.collect()] == [3]
        assert [
            r.n_events for r in streamed.collect() if r.user_id == 1
        ] == [3]


class TestStreamingRollup:
    def test_buckets_match_batch(self, spark, events_stream_dir):
        from pywrangler_spark.operators.asof import time_bucket_rollup
        from pywrangler_spark.streaming import stream_time_bucket_rollup

        ev = read_parquet(spark, f"{SF}/events.parquet")
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,4)"))
            .cast("double")
            .alias("value_sum"),
        ]
        batch = ev.transform(
            time_bucket_rollup("ts", "1 hour", "event_type", aggs)
        )
        streamed = _run_stream(
            spark,
            stream_time_bucket_rollup(
                "ts", "1 hour", "event_type", aggs, watermark="2 hours"
            ),
            events_stream_dir,
            ev.schema,
            "rollup_sink",
        )
        key = lambda r: (r.bucket_start, r.event_type)  # noqa: E731
        b = {key(r): (r.n_events, r.value_sum) for r in batch.collect()}
        s = {key(r): (r.n_events, r.value_sum) for r in streamed.collect()}
        # append mode withholds buckets still open under the watermark at
        # end-of-stream; everything emitted must match batch exactly, and
        # the bulk of buckets must have been emitted
        assert s == {k: b[k] for k in s}
        assert len(s) >= 0.8 * len(b)

    def test_hopping_buckets_match_batch(self, spark, events_stream_dir):
        from pywrangler_spark.operators.asof import time_bucket_rollup
        from pywrangler_spark.streaming import stream_time_bucket_rollup

        ev = read_parquet(spark, f"{SF}/events.parquet")
        aggs = [F.count(F.lit(1)).alias("n_events")]
        batch = ev.transform(
            time_bucket_rollup(
                "ts", "1 hour", "event_type", aggs, slide="30 minutes"
            )
        )
        streamed = _run_stream(
            spark,
            stream_time_bucket_rollup(
                "ts", "1 hour", "event_type", aggs,
                watermark="2 hours", slide="30 minutes",
            ),
            events_stream_dir,
            ev.schema,
            "hop_rollup_sink",
        )
        key = lambda r: (r.bucket_start, r.event_type)  # noqa: E731
        b = {key(r): r.n_events for r in batch.collect()}
        s = {key(r): r.n_events for r in streamed.collect()}
        assert s == {k: b[k] for k in s}
        assert len(s) >= 0.8 * len(b)


class TestStreamingDedup:
    @pytest.fixture(scope="class")
    def dup_stream_dir(self, spark, tmp_path_factory):
        """Events with planted same-key replays split across two
        micro-batch files (replays land in the LATER batch, within the
        watermark of the originals)."""
        base = str(tmp_path_factory.mktemp("dup_stream"))
        ev = read_parquet(spark, f"{SF}/events.parquet").select(
            "event_id", "user_id", "ts", "value"
        )
        replays = ev.orderBy("event_id").limit(40)
        files = os.path.join(base, "files")
        os.makedirs(files)
        ev.coalesce(1).write.parquet(os.path.join(base, "b0"))
        replays.coalesce(1).write.parquet(os.path.join(base, "b1"))
        n = 0
        for sub in ("b0", "b1"):
            for name in sorted(os.listdir(os.path.join(base, sub))):
                if name.endswith(".parquet"):
                    dest = os.path.join(files, f"{n:03d}.parquet")
                    shutil.copy(os.path.join(base, sub, name), dest)
                    os.utime(dest, (1_700_000_000 + n * 60,) * 2)
                    n += 1
        return files

    def test_replays_suppressed_matches_batch(self, spark, dup_stream_dir):
        from pywrangler_spark.streaming import stream_dedup_exact

        schema = "event_id bigint, user_id bigint, ts timestamp, value double"
        out = _run_stream(
            spark,
            stream_dedup_exact("event_id", "ts", watermark="365 days"),
            dup_stream_dir,
            schema,
            "dedup_sink",
        )
        batch = (
            spark.read.schema(schema).parquet(dup_stream_dir)
            .dropDuplicates(["event_id"])
        )
        assert out.count() == batch.count()
        # every key exactly once, despite the planted replays
        assert (
            out.groupBy("event_id").count().filter(F.col("count") > 1).count()
            == 0
        )

    def test_validation(self):
        from pywrangler_spark.streaming import stream_dedup_exact

        with pytest.raises(ValueError, match="at least one key"):
            stream_dedup_exact([], "ts")


class TestStreamStreamJoin:
    def test_matches_batch_pairs(self, spark, events_stream_dir):
        from pywrangler_spark.streaming import stream_interval_join

        ev = read_parquet(spark, f"{SF}/events.parquet")
        clicks_b = ev.where(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"))
        buys_b = ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"))
        # batch twin: the same transform applied to batch frames
        tf = lambda buys: stream_interval_join(  # noqa: E731
            buys, "user_id", "click_ts", "buy_ts",
            before="0 seconds", after="2 hours", watermark="4 hours")
        batch = clicks_b.transform(
            lambda df: df.join(
                buys_b,
                (df.user_id == buys_b.user_id)
                & (F.col("buy_ts") >= F.col("click_ts"))
                & (F.col("buy_ts") <= F.col("click_ts")
                   + F.expr("INTERVAL 2 HOURS")),
                "inner",
            ).select(df.user_id, "click_ts", "click_id", "buy_ts", "buy_id")
        )

        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_stream_dir)
        )
        s_clicks = sdf.where(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"))
        s_buys = sdf.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"))
        q = (
            s_clicks.transform(tf(s_buys))
            .writeStream.format("memory")
            .queryName("ssj_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.table("ssj_sink")

        key = lambda r: (r.click_id, r.buy_id)  # noqa: E731
        b = {key(r) for r in batch.collect()}
        s = {key(r) for r in streamed.collect()}
        assert s <= b           # nothing invented
        assert len(s) >= 0.9 * len(b)  # near-complete within watermark


class TestStreamingCardinality:
    def test_approx_matches_batch_sketch(self, spark, events_stream_dir):
        from pywrangler_spark.streaming import stream_window_cardinality

        ev = read_parquet(spark, f"{SF}/events.parquet")
        batch = {
            (r.window_start, r.window_end): r.n_distinct
            for r in ev.groupBy(
                F.window("ts", "1 day").alias("w")
            )
            .agg(F.approx_count_distinct("user_id", 0.05).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                F.col("n").alias("n_distinct"),
            )
            .collect()
        }
        streamed = _run_stream(
            spark,
            stream_window_cardinality(
                "ts", "user_id", window="1 day", watermark="0 seconds"
            ),
            events_stream_dir,
            ev.schema,
            "card_sink",
        )
        got = {
            (r.window_start, r.window_end): r.n_distinct
            for r in streamed.collect()
        }
        # the same HLL sketch merged incrementally must land on the same
        # estimate for every CLOSED window (the last window may be
        # withheld by the watermark — compare the intersection, which
        # must be non-trivial)
        assert len(got) >= max(1, len(batch) - 1)
        for k, v in got.items():
            assert batch[k] == v, (k, v, batch.get(k))

    def test_exact_matches_batch_distinct(self, spark, events_stream_dir):
        from pywrangler_spark.streaming import stream_window_cardinality

        ev = read_parquet(spark, f"{SF}/events.parquet")
        batch = {
            (r.window_start, r.window_end): r.n_distinct
            for r in ev.groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.countDistinct("user_id").alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                F.col("n").alias("n_distinct"),
            )
            .collect()
        }
        streamed = _run_stream(
            spark,
            stream_window_cardinality(
                "ts", "user_id", window="1 day",
                watermark="0 seconds", exact=True,
            ),
            events_stream_dir,
            ev.schema,
            "card_exact_sink",
        )
        got = {
            (r.window_start, r.window_end): r.n_distinct
            for r in streamed.collect()
        }
        assert len(got) >= max(1, len(batch) - 1)
        for k, v in got.items():
            assert batch[k] == v, (k, v, batch.get(k))


@pytest.fixture(scope="module")
def docs_stream_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("docs_stream"))
    docs = read_parquet(spark, f"{SF}/documents.parquet")
    files_dir = os.path.join(base, "files")
    os.makedirs(files_dir)
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        os.path.join(base, "b0")
    )
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(
        os.path.join(base, "b1")
    )
    n = 0
    for sub in ("b0", "b1"):
        for name in sorted(os.listdir(os.path.join(base, sub))):
            if name.endswith(".parquet"):
                dest = os.path.join(files_dir, f"{n:03d}.parquet")
                shutil.copy(os.path.join(base, sub, name), dest)
                os.utime(dest, (1_700_000_000 + n * 60,) * 2)
                n += 1
    return files_dir


class TestStreamingDecontamination:
    def test_flags_match_batch(self, spark, docs_stream_dir):
        from pywrangler_spark.operators.decontaminate import (
            contamination_overlap,
        )
        from pywrangler_spark.streaming import stream_contamination_flag

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        eval_df = docs.filter(F.col("doc_id") % 20 == 0)
        batch = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in docs.transform(
                contamination_overlap(eval_df, n=5)
            ).collect()
        }
        streamed = _run_stream(
            spark,
            stream_contamination_flag(eval_df, n=5),
            docs_stream_dir,
            docs.schema,
            "decontam_sink",
        )
        got = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in streamed.collect()
        }
        assert got == batch
        assert any(v[1] for v in got.values())  # eval docs flag themselves

    def test_rejects_streaming_eval(self, spark, docs_stream_dir):
        from pywrangler_spark.streaming import stream_contamination_flag

        sdf = (
            spark.readStream.schema("text string")
            .parquet(docs_stream_dir)
        )
        with pytest.raises(ValueError, match="static"):
            stream_contamination_flag(sdf)


class TestStreamingLMScore:
    def test_scores_match_batch(self, spark, docs_stream_dir):
        from pywrangler_spark.operators.lmscore import (
            fit_unigram_model,
            unigram_logprob_score,
        )
        from pywrangler_spark.streaming import stream_lm_score

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        # small vocab cap forces the OOV floor path on real tokens
        model = docs.transform(fit_unigram_model("text", vocab_size=50))
        batch = {
            r["doc_id"]: r["lm_score"]
            for r in docs.transform(
                unigram_logprob_score(model, "doc_id", "text")
            ).collect()
        }
        streamed = _run_stream(
            spark,
            stream_lm_score(model, "text"),
            docs_stream_dir,
            docs.schema,
            "lmscore_sink",
        )
        got = {r["doc_id"]: r["lm_score"] for r in streamed.collect()}
        assert set(got) == set(batch)
        for doc_id, score in got.items():
            expected = batch[doc_id]
            if expected is None:
                assert score is None
            else:
                assert score == pytest.approx(expected, rel=1e-9)

    def test_rejects_streaming_model(self, spark, docs_stream_dir):
        from pywrangler_spark.streaming import stream_lm_score

        sdf = (
            spark.readStream.schema("term string, p double")
            .parquet(docs_stream_dir)
        )
        with pytest.raises(ValueError, match="static"):
            stream_lm_score(sdf)


class TestStreamingCapPerKey:
    def test_matches_batch_first_n(self, spark, events_stream_dir):
        """With a time-ordered source and deterministic intra-batch
        order, the streamed cap equals the batch 'first N per key by
        (ts, event_id)'."""
        from pyspark.sql import Window

        from pywrangler_spark.streaming import stream_cap_per_key

        ev = read_parquet(spark, f"{SF}/events.parquet")
        cap = 5
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").asc(), F.col("event_id").asc()
        )
        batch = {
            r["event_id"]
            for r in ev.select(
                "event_id", F.row_number().over(w).alias("__rn")
            )
            .filter(F.col("__rn") <= cap)
            .collect()
        }
        streamed = _run_stream(
            spark,
            stream_cap_per_key("user_id", cap, ["ts", "event_id"]),
            events_stream_dir,
            ev.schema,
            "cap_sink",
        )
        got = [r["event_id"] for r in streamed.collect()]
        assert len(got) == len(set(got))  # no row emitted twice
        assert set(got) == batch

    def test_validation(self):
        from pywrangler_spark.streaming import stream_cap_per_key

        with pytest.raises(ValueError, match="max_rows"):
            stream_cap_per_key("k", 0)
        with pytest.raises(ValueError, match="key"):
            stream_cap_per_key([], 3)


class TestStreamingClassifier:
    def test_scores_match_batch(self, spark, docs_stream_dir):
        """MLlib LR transform is a per-row projection (coefficients
        broadcast), so the fitted quality classifier serves on a stream
        with zero state — same deployment shape as stream_lm_score."""
        from pywrangler_spark.operators.classifier import (
            fit_text_classifier,
            score_text_classifier,
        )

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        labeled = docs.withColumn(
            "lab",
            F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"),
        )
        model, labels = fit_text_classifier(
            labeled, "lab", n_features=1 << 14
        )
        scorer = score_text_classifier(
            model, labels, n_features=1 << 14
        )
        batch = {
            r["doc_id"]: (r["predicted_label"], r["confidence"])
            for r in docs.transform(scorer).collect()
        }
        streamed = _run_stream(
            spark, scorer, docs_stream_dir, docs.schema, "clf_eq_sink"
        )
        got = {
            r["doc_id"]: (r["predicted_label"], r["confidence"])
            for r in streamed.collect()
        }
        assert got == batch


class TestStreamingClassifierGate:
    def test_gate_matches_batch(self, spark, docs_stream_dir):
        """stream_classify_gate admits exactly the rows the batch
        scorer would: same predictions, same confidence floor, zero
        state (append mode)."""
        from pywrangler_spark.operators.classifier import (
            fit_text_classifier,
        )
        from pywrangler_spark.streaming import stream_classify_gate

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        labeled = docs.withColumn(
            "lab",
            F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"),
        )
        model, labels = fit_text_classifier(
            labeled, "lab", n_features=1 << 14
        )
        gate = stream_classify_gate(
            model, labels, keep_label="a", min_confidence=0.55,
            n_features=1 << 14,
        )
        batch_ids = {
            r["doc_id"] for r in docs.transform(gate).collect()
        }
        streamed = _run_stream(
            spark, gate, docs_stream_dir, docs.schema, "clf_gate_sink"
        )
        got = {r["doc_id"] for r in streamed.collect()}
        assert got == batch_ids
        assert 0 < len(got) < docs.count()  # the gate actually gates

    def test_validation(self):
        from pywrangler_spark.streaming import stream_classify_gate

        with pytest.raises(ValueError, match="keep_label"):
            stream_classify_gate(None, ["a", "b"], keep_label="c")
        with pytest.raises(ValueError, match="min_confidence"):
            stream_classify_gate(
                None, ["a", "b"], keep_label="a", min_confidence=1.5
            )


class TestStreamingCentroidRouting:
    def test_assignment_matches_batch(self, spark, tmp_path):
        """stream_nearest_centroid routes each embedding to the same
        IVF cell the batch assignment picks, with the same cosine."""
        import os as _os

        from pywrangler_spark.operators.similarity import (
            train_ivf_centroids,
        )
        from pywrangler_spark.streaming import stream_nearest_centroid

        emb = read_parquet(spark, f"{SF}/embeddings.parquet")
        cents = train_ivf_centroids(emb, "embedding", 8, seed=1)
        route = stream_nearest_centroid(cents, "embedding")
        batch = {
            r["vec_id"]: (r["cell"], r["cell_cosine"])
            for r in emb.transform(route).collect()
        }
        files_dir = _os.path.join(str(tmp_path), "files")
        _os.makedirs(files_dir)
        emb.coalesce(2).write.parquet(_os.path.join(str(tmp_path), "p"))
        n = 0
        for name in sorted(
            _os.listdir(_os.path.join(str(tmp_path), "p"))
        ):
            if name.endswith(".parquet"):
                shutil.copy(
                    _os.path.join(str(tmp_path), "p", name),
                    _os.path.join(files_dir, f"{n:03d}.parquet"),
                )
                n += 1
        streamed = _run_stream(
            spark, route, files_dir, emb.schema, "route_sink"
        )
        got = {
            r["vec_id"]: (r["cell"], r["cell_cosine"])
            for r in streamed.collect()
        }
        assert got == batch
        assert len({c for c, _ in got.values()}) > 1  # spread over cells

    def test_validation(self):
        import numpy as np

        from pywrangler_spark.streaming import stream_nearest_centroid

        with pytest.raises(ValueError, match="matrix"):
            stream_nearest_centroid(np.zeros(4))


class TestIdempotentSink:
    def test_exactly_once_under_replay(self, spark, docs_stream_dir, tmp_path):
        """Replayed batch ids must not duplicate output: run the stream,
        then re-deliver every batch function call (simulating checkpoint
        recovery re-delivery) and assert the sink contents are unchanged."""
        from pywrangler_spark.streaming import idempotent_parquet_sink

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        out_dir = str(tmp_path / "sink")
        sink = idempotent_parquet_sink(out_dir)

        sdf = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(docs_stream_dir)
        )
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        first = spark.read.parquet(out_dir)
        n = first.count()
        assert n == docs.count()
        batch_ids = {
            r["batch_id"] for r in first.select("batch_id").distinct().collect()
        }
        assert len(batch_ids) >= 2  # one per micro-batch file

        # simulate at-least-once re-delivery of every batch
        for b in batch_ids:
            sink(docs.limit(5), b)
        assert spark.read.parquet(out_dir).count() == n

        # a NEW batch id still lands
        sink(docs.limit(5), max(batch_ids) + 1)
        assert spark.read.parquet(out_dir).count() == n + 5

    def test_crashed_scratch_is_cleared(self, spark, tmp_path):
        import os

        from pywrangler_spark.streaming import idempotent_parquet_sink

        out_dir = str(tmp_path / "sink2")
        os.makedirs(os.path.join(out_dir, "_tmp_batch_id=7"))
        docs = read_parquet(spark, f"{SF}/documents.parquet").limit(3)
        sink = idempotent_parquet_sink(out_dir)
        sink(docs, 7)
        got = spark.read.parquet(out_dir)
        assert got.count() == 3
        assert not os.path.isdir(
            os.path.join(out_dir, "_tmp_batch_id=7")
        )


class TestStreamingIncrementalDedup:
    def test_matches_batch_incremental(self, spark, tmp_path_factory):
        import os as _os

        from pywrangler_spark.operators.dedup import (
            dedup_incremental,
            duplicate_groups,
        )
        from pywrangler_spark.streaming import stream_dedup_incremental

        docs = read_parquet(spark, f"{SF}/documents.parquet").select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id")
            ).alias("ts"),
        )
        seen = docs.filter(F.col("doc_id") < 250).transform(
            duplicate_groups("doc_id", "text")
        )
        batch_side = docs.filter(F.col("doc_id") >= 250)
        expected = sorted(
            r["doc_id"]
            for r in batch_side.transform(
                dedup_incremental(seen, "doc_id", "text")
            ).collect()
        )

        base = str(tmp_path_factory.mktemp("incr_stream"))
        files_dir = _os.path.join(base, "files")
        _os.makedirs(files_dir)
        # two doc_id-ordered files so first-arrival == min id
        for i, (lo, hi) in enumerate(((250, 380), (380, 100000))):
            batch_side.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.parquet(_os.path.join(base, f"b{i}"))
            for name in sorted(
                _os.listdir(_os.path.join(base, f"b{i}"))
            ):
                if name.endswith(".parquet"):
                    dest = _os.path.join(files_dir, f"{i:03d}.parquet")
                    import shutil as _sh

                    _sh.copy(
                        _os.path.join(base, f"b{i}", name), dest
                    )
                    _os.utime(dest, (1_700_000_000 + i * 60,) * 2)

        streamed = _run_stream(
            spark,
            stream_dedup_incremental(seen, "text", "ts"),
            files_dir,
            batch_side.schema,
            "incr_dedup_sink",
        )
        got = sorted(r["doc_id"] for r in streamed.collect())
        assert got == expected

    def test_rejects_streaming_store(self, spark, docs_stream_dir):
        from pywrangler_spark.streaming import stream_dedup_incremental

        sdf = (
            spark.readStream.schema("fingerprint string")
            .parquet(docs_stream_dir)
        )
        with pytest.raises(ValueError, match="static"):
            stream_dedup_incremental(sdf, "text", "ts")


class TestStreamingNearDup:
    @pytest.fixture(scope="class")
    def neardup_stream(self, spark, tmp_path_factory):
        """Docs + planted near-dups, split into two micro-batch files so
        cross-batch pairs (bucket state) are exercised, not just
        within-batch ones."""
        base = str(tmp_path_factory.mktemp("neardup_stream"))
        docs = read_parquet(spark, f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        planted = docs.filter(F.col("doc_id") < 30).withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        full = docs.unionByName(planted)
        files_dir = os.path.join(base, "files")
        os.makedirs(files_dir)
        # batch 0: originals; batch 1: the planted copies
        for n, part in enumerate(
            (docs, planted)
        ):
            tmp = os.path.join(base, f"b{n}")
            part.coalesce(1).write.parquet(tmp)
            for name in sorted(os.listdir(tmp)):
                if name.endswith(".parquet"):
                    dest = os.path.join(files_dir, f"{n:03d}.parquet")
                    shutil.copy(os.path.join(tmp, name), dest)
                    os.utime(dest, (1_700_000_000 + n * 60,) * 2)
        return files_dir, full

    def test_pairs_match_batch(self, spark, neardup_stream):
        from pywrangler_spark.operators.dedup import MinHashLSHPairs
        from pywrangler_spark.streaming import stream_neardup_minhash

        files_dir, full = neardup_stream
        op = MinHashLSHPairs("doc_id", "text")
        batch = {
            (r.id_a, r.id_b): r.sig_similarity
            for r in full.transform(op).collect()
        }
        op.release()
        streamed_df = _run_stream(
            spark,
            stream_neardup_minhash("doc_id", "text"),
            files_dir,
            "doc_id long, text string",
            "neardup_sink",
        )
        # one pair may surface from several band buckets (documented);
        # uniqueness is the consumer's dropDuplicates / idempotent sink
        streamed = {
            (r.id_a, r.id_b): r.sig_similarity
            for r in streamed_df.dropDuplicates(["id_a", "id_b"]).collect()
        }
        assert streamed == batch
        # the planted copies must actually have produced pairs
        assert any(b >= 10_000 for _, b in streamed)

    def test_overflow_replay_emits_nothing(self, spark, tmp_path_factory):
        """Docs that arrive while a bucket is at max_bucket_size must
        still be remembered (overflow id window): replaying them in a
        later micro-batch emits zero new pairs."""
        from pywrangler_spark.streaming import stream_neardup_minhash

        base = str(tmp_path_factory.mktemp("neardup_overflow"))
        text = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, text) for i in range(1, 5)]
        first = spark.createDataFrame(rows, "doc_id long, text string")
        replay = spark.createDataFrame(rows[2:], "doc_id long, text string")

        def _make_dir(tag, *batches):
            files_dir = os.path.join(base, f"files_{tag}")
            os.makedirs(files_dir)
            for n, batch_df in enumerate(batches):
                tmp = os.path.join(base, f"{tag}_b{n}")
                batch_df.coalesce(1).write.parquet(tmp)
                for name in sorted(os.listdir(tmp)):
                    if name.endswith(".parquet"):
                        dest = os.path.join(files_dir, f"{n:03d}.parquet")
                        shutil.copy(os.path.join(tmp, name), dest)
                        os.utime(dest, (1_700_000_000 + n * 60,) * 2)
            return files_dir

        op = lambda: stream_neardup_minhash(  # noqa: E731
            "doc_id", "text", max_bucket_size=2
        )
        baseline = _run_stream(
            spark, op(), _make_dir("base", first),
            "doc_id long, text string", "neardup_ovf_base",
        ).count()
        with_replay = _run_stream(
            spark, op(), _make_dir("replay", first, replay),
            "doc_id long, text string", "neardup_ovf_replay",
        ).count()
        assert baseline > 0  # overflow docs 3,4 paired against members
        assert with_replay == baseline  # the replay batch added nothing

    def test_rejects_batch_frame(self, spark):
        from pywrangler_spark.streaming import stream_neardup_minhash

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        with pytest.raises(ValueError, match="streaming"):
            docs.transform(stream_neardup_minhash("doc_id", "text"))

    def test_validation(self):
        from pywrangler_spark.streaming import stream_neardup_minhash

        with pytest.raises(ValueError, match="divisible"):
            stream_neardup_minhash("id", "text", num_hashes=10, bands=4)
        with pytest.raises(ValueError, match="max_bucket_size"):
            stream_neardup_minhash("id", "text", max_bucket_size=1)


class TestStreamingChunkCDC:
    def test_chunks_match_batch(self, spark, docs_stream_dir):
        from pywrangler_spark.operators.chunk import chunk_content_defined
        from pywrangler_spark.streaming import stream_chunk_content_defined

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        batch = {
            (r["doc_id"], r["chunk_index"]): (
                r["token_start"],
                r["chunk"],
                r["n_tokens"],
            )
            for r in docs.transform(
                chunk_content_defined("doc_id", "text", avg_tokens=16)
            ).collect()
        }
        streamed_df = _run_stream(
            spark,
            stream_chunk_content_defined("doc_id", "text", avg_tokens=16),
            docs_stream_dir,
            docs.schema,
            "chunk_cdc_sink",
        )
        streamed = {
            (r["doc_id"], r["chunk_index"]): (
                r["token_start"],
                r["chunk"],
                r["n_tokens"],
            )
            for r in streamed_df.collect()
        }
        assert len(batch) > 100
        assert streamed == batch


class TestStreamingPack:
    def test_packs_match_batch_on_ordered_stream(
        self, spark, docs_stream_dir
    ):
        from pywrangler_spark.functions.text import token_count
        from pywrangler_spark.operators.pack import pack_sequences
        from pywrangler_spark.streaming import stream_pack_sequences

        # docs arrive in doc_id order across micro-batches (the fixture
        # splits by doc_id), so streamed packing must equal batch
        # packing ordered by doc_id within each shard
        def _prep(df):
            return df.select(
                "doc_id",
                (F.col("doc_id") % 4).alias("shard"),
                token_count(F.col("text")).alias("n_tokens"),
            )

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        batch = {
            r["doc_id"]: (r["pack_id"], r["pack_offset"])
            for r in _prep(docs)
            .transform(
                pack_sequences("n_tokens", 512, "doc_id", "shard")
            )
            .collect()
        }
        streamed_df = _run_stream(
            spark,
            lambda sdf: _prep(sdf).transform(
                stream_pack_sequences("n_tokens", 512, "doc_id", "shard")
            ),
            docs_stream_dir,
            docs.schema,
            "pack_sink",
        )
        streamed = {
            r["doc_id"]: (r["pack_id"], r["pack_offset"])
            for r in streamed_df.collect()
        }
        assert len(batch) > 100
        assert streamed == batch

    def test_validation(self):
        from pywrangler_spark.streaming import stream_pack_sequences

        with pytest.raises(ValueError, match="shard key"):
            stream_pack_sequences("n", 512, "doc_id", ())
        with pytest.raises(ValueError, match="positive budget"):
            stream_pack_sequences("n", 0, "doc_id", "shard")
        with pytest.raises(ValueError, match="order columns"):
            stream_pack_sequences("n", 512, (), "shard")


class TestStreamingNearDupReplay:
    def test_replayed_batch_is_noop(self, spark, tmp_path_factory):
        """Re-ingesting the SAME documents (same ids) must not grow
        bucket state or re-emit pairs: the replayed micro-batch
        produces zero output rows."""
        from pyspark.sql import Row

        from pywrangler_spark.streaming import stream_neardup_minhash

        base = str(tmp_path_factory.mktemp("neardup_replay"))
        text = "the quick brown fox jumps over the lazy dog " * 5
        rows = [
            Row(doc_id=1, text=text),
            Row(doc_id=2, text=text + "extra tail"),
            Row(doc_id=3, text="completely unrelated content here"),
        ]
        first = os.path.join(base, "b0")
        spark.createDataFrame(rows).coalesce(1).write.parquet(first)
        files_dir = os.path.join(base, "files")
        os.makedirs(files_dir)
        n = 0
        # batch 0, then an exact replay of the same documents
        for _ in range(2):
            for name in sorted(os.listdir(first)):
                if name.endswith(".parquet"):
                    dest = os.path.join(files_dir, f"{n:03d}.parquet")
                    shutil.copy(os.path.join(first, name), dest)
                    os.utime(dest, (1_700_000_000 + n * 60,) * 2)
                    n += 1
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(files_dir)
        )
        q = (
            sdf.transform(stream_neardup_minhash("doc_id", "text"))
            .writeStream.format("memory")
            .queryName("neardup_replay_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progresses = [
            p
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        assert len(progresses) == 2
        # first batch emits the planted pair, replay emits nothing
        assert progresses[0]["sink"]["numOutputRows"] > 0
        assert progresses[1]["sink"]["numOutputRows"] == 0
        pairs = {
            (r.id_a, r.id_b)
            for r in spark.table("neardup_replay_sink").collect()
        }
        assert (1, 2) in pairs


class TestStreamingTrailingWindow:
    def test_matches_batch_on_ordered_stream(
        self, spark, events_stream_dir
    ):
        from pywrangler_spark.operators.rolling import (
            trailing_window_agg,
        )
        from pywrangler_spark.streaming import (
            stream_trailing_window_agg,
        )

        ev = read_parquet(spark, f"{SF}/events.parquet").select(
            "event_id", "user_id", "ts", "value"
        )
        batch = {
            r.event_id: (
                None if r.v7 is None else round(r.v7, 6),
                r.n7,
            )
            for r in ev.transform(
                trailing_window_agg(
                    "ts",
                    7 * 86400,
                    "user_id",
                    sums={"v7": F.col("value").cast("decimal(27,4)")},
                    count_alias="n7",
                )
            )
            .select(
                "event_id",
                F.col("v7").cast("double").alias("v7"),
                "n7",
            )
            .collect()
        }
        streamed_df = _run_stream(
            spark,
            lambda sdf: sdf.select(
                "event_id", "user_id", "ts", "value"
            ).transform(
                stream_trailing_window_agg(
                    "ts", 7 * 86400, "user_id", {"v7": "value"}
                )
            ),
            events_stream_dir,
            read_parquet(spark, f"{SF}/events.parquet").schema,
            "trailing_sink",
        )
        streamed = {
            r.event_id: (
                None if r.v7 is None or r.v7 != r.v7 else round(r.v7, 6),
                r.n_trailing,
            )
            for r in streamed_df.collect()
        }
        assert len(streamed) == len(batch) >= 1000
        mismatch = {
            k: (streamed[k], batch[k])
            for k in batch
            if streamed[k] != batch[k]
        }
        assert not mismatch, list(mismatch.items())[:5]

    def test_validation(self):
        from pywrangler_spark.streaming import (
            stream_trailing_window_agg,
        )

        with pytest.raises(ValueError, match="at least one column"):
            stream_trailing_window_agg("ts", 60, [], {"s": "v"})
        with pytest.raises(ValueError, match="sums"):
            stream_trailing_window_agg("ts", 60, "k", {})
        with pytest.raises(ValueError, match="trailing_seconds"):
            stream_trailing_window_agg("ts", 0, "k", {"s": "v"})


class TestStreamingWebHygiene:
    def test_webclean_matches_batch(self, spark, docs_stream_dir):
        from pywrangler_spark.functions.web import strip_html
        from pywrangler_spark.streaming import stream_webclean

        html = F.concat(
            F.lit("<html><body><!-- c --><h1>T &amp; t</h1><p>"),
            F.col("text"),
            F.lit("</p><script>var x = 1 < 2;</script></body></html>"),
        )
        docs = read_parquet(spark, f"{SF}/documents.parquet")
        batch = {
            r["doc_id"]: r["clean_text"]
            for r in docs.select(
                "doc_id", strip_html(html).alias("clean_text")
            ).collect()
        }
        streamed_df = _run_stream(
            spark,
            lambda sdf: sdf.withColumn("raw_html", html).transform(
                stream_webclean("raw_html")
            ).select("doc_id", "clean_text"),
            docs_stream_dir,
            docs.schema,
            "webclean_sink",
        )
        streamed = {
            r["doc_id"]: r["clean_text"] for r in streamed_df.collect()
        }
        assert len(streamed) == len(batch) >= 400
        assert streamed == batch

    def test_url_canonicalize_matches_batch(self, spark, docs_stream_dir):
        from pywrangler_spark.functions.web import (
            canonicalize_url,
            registrable_domain,
            url_host,
        )
        from pywrangler_spark.streaming import stream_url_canonicalize

        url = F.concat(
            F.lit("HTTPS://WWW.Example.CO.UK:443/p/"),
            F.col("doc_id"),
            F.lit("?utm_source=x&id=1#frag"),
        )
        docs = read_parquet(spark, f"{SF}/documents.parquet")
        canon = canonicalize_url(url)
        batch = {
            r["doc_id"]: (r["canonical_url"], r["host"], r["domain"])
            for r in docs.select(
                "doc_id",
                canon.alias("canonical_url"),
                url_host(canon).alias("host"),
                registrable_domain(url_host(canon)).alias("domain"),
            ).collect()
        }
        streamed_df = _run_stream(
            spark,
            lambda sdf: sdf.withColumn("url", url).transform(
                stream_url_canonicalize("url")
            ).select("doc_id", "canonical_url", "host", "domain"),
            docs_stream_dir,
            docs.schema,
            "urlcanon_sink",
        )
        streamed = {
            r["doc_id"]: (r["canonical_url"], r["host"], r["domain"])
            for r in streamed_df.collect()
        }
        assert streamed == batch


class TestStreamingRenderPacks:
    def test_closed_packs_match_batch(self, spark, docs_stream_dir):
        from pywrangler_spark.functions.text import token_count
        from pywrangler_spark.operators.pack import (
            pack_sequences,
            render_packs,
        )
        from pywrangler_spark.streaming import stream_render_packs

        def _prep(df):
            return df.filter(F.col("text").isNotNull()).select(
                "doc_id",
                (F.col("doc_id") % 4).alias("shard"),
                "text",
                token_count(F.col("text")).alias("n_tokens"),
            )

        docs = read_parquet(spark, f"{SF}/documents.parquet")
        batch_df = (
            _prep(docs)
            .transform(pack_sequences("n_tokens", 512, "doc_id", "shard"))
            .transform(render_packs("text", "n_tokens", "doc_id", "shard"))
        )
        batch = {
            (r["shard"], r["pack_id"]): (
                r["n_docs"], r["n_tokens"],
                tuple(r["boundaries"]), r["packed_text"],
            )
            for r in batch_df.collect()
        }
        # each shard's LAST pack stays open on the stream and must not
        # emit; everything else must match the batch rendering exactly
        last_open = {
            r["shard"]: r["pack_id"]
            for r in batch_df.groupBy("shard")
            .agg(F.max("pack_id").alias("pack_id"))
            .collect()
        }
        streamed_df = _run_stream(
            spark,
            lambda sdf: _prep(sdf).transform(
                stream_render_packs(
                    "text", "n_tokens", 512, "doc_id", "shard"
                )
            ),
            docs_stream_dir,
            docs.schema,
            "render_packs_sink",
        )
        streamed = {
            (r["shard"], r["pack_id"]): (
                r["n_docs"], r["n_tokens"],
                tuple(r["boundaries"]), r["packed_text"],
            )
            for r in streamed_df.collect()
        }
        expected = {
            k: v
            for k, v in batch.items()
            if k[1] != last_open[k[0]]
        }
        assert len(expected) >= 20
        assert streamed == expected

    def test_validation(self):
        from pywrangler_spark.streaming import stream_render_packs

        with pytest.raises(ValueError, match="budget"):
            stream_render_packs("t", "n", 0, "id", "shard")
        with pytest.raises(ValueError, match="shard key"):
            stream_render_packs("t", "n", 512, "id", ())


class TestStreamingResample:
    def test_matches_batch_closed_buckets(self, spark, events_stream_dir):
        """Streamed dense LOCF == batch dense LOCF restricted to each
        key's CLOSED buckets (everything before the key's newest bucket
        — the open bucket waits in state, append mode cannot retract)."""
        from pywrangler_spark.operators.resample import resample_locf
        from pywrangler_spark.streaming import stream_resample_locf

        ev = read_parquet(spark, f"{SF}/events.parquet").select(
            "user_id", "ts", "value"
        )
        dense = ev.transform(
            resample_locf("ts", 3600, "user_id", "value", agg="last")
        )
        maxb = dense.groupBy("user_id").agg(
            F.max("bucket_start").alias("_mx")
        )
        closed = dense.join(maxb, "user_id").filter(
            F.col("bucket_start") < F.col("_mx")
        )
        batch = {
            (r.user_id, r.bucket_start): (
                None if r.value is None else round(r.value, 6),
                r.n_events,
            )
            for r in closed.collect()
        }

        streamed_df = _run_stream(
            spark,
            lambda sdf: sdf.select("user_id", "ts", "value").transform(
                stream_resample_locf("ts", 3600, "user_id", "value")
            ),
            events_stream_dir,
            read_parquet(spark, f"{SF}/events.parquet").schema,
            "resample_sink",
        )
        streamed = {
            (r.user_id, r.bucket_start): (
                None
                if r.value is None or r.value != r.value
                else round(r.value, 6),
                r.n_events,
            )
            for r in streamed_df.collect()
        }
        assert len(streamed) == len(batch) >= 100
        mismatch = {
            k: (streamed.get(k), batch[k])
            for k in batch
            if streamed.get(k) != batch[k]
        }
        assert not mismatch, list(mismatch.items())[:5]

    def test_agg_modes_and_gap_fill(self, spark, tmp_path):
        """Two micro-batches, a bucket straddling them, a gap, and a
        sum aggregate — the open-bucket merge and LOCF carry paths."""
        import datetime as dt

        from pywrangler_spark.streaming import stream_resample_locf

        schema = "user_id bigint, ts timestamp, value double"

        def _write(rows, n):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(tmp_path / "files" / f"{n:03d}")
            )

        t0 = dt.datetime(2024, 1, 1)

        def ts(h, m=0):
            return t0 + dt.timedelta(hours=h, minutes=m)

        # bucket 0 straddles the two files; bucket 3 closes it; bucket
        # 1-2 are the LOCF gap; bucket 3 stays open (never emitted)
        _write([(1, ts(0, 10), 5.0)], 0)
        _write([(1, ts(0, 40), 7.0), (1, ts(3, 0), 100.0)], 1)
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "files" / "*"))
        )
        q = (
            sdf.transform(
                stream_resample_locf("ts", 3600, "user_id", "value",
                                     agg="sum")
            )
            .writeStream.format("memory")
            .queryName("resample_sum_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.bucket_start.hour: (r.value, r.n_events)
            for r in spark.table("resample_sum_sink").collect()
        }
        assert got == {0: (12.0, 2), 1: (12.0, 0), 2: (12.0, 0)}, got

    def test_validation(self):
        from pywrangler_spark.streaming import stream_resample_locf

        with pytest.raises(ValueError, match="groupby"):
            stream_resample_locf("ts", 3600, [], "v")
        with pytest.raises(ValueError, match="step_seconds"):
            stream_resample_locf("ts", 0, "u", "v")
        with pytest.raises(ValueError, match="agg"):
            stream_resample_locf("ts", 3600, "u", "v", agg="median")
        with pytest.raises(ValueError, match="output"):
            stream_resample_locf("ts", 3600, "u", "v", output="sparse")

    def test_runs_mode_matches_batch_closed_runs(
        self, spark, events_stream_dir
    ):
        """Streamed runs == batch runs-mode output restricted to each
        key's CLOSED runs (all but the last run per key)."""
        from pywrangler_spark.operators.resample import resample_locf
        from pywrangler_spark.streaming import stream_resample_locf

        ev = read_parquet(spark, f"{SF}/events.parquet").select(
            "user_id", "ts", "value"
        )
        runs = ev.transform(
            resample_locf(
                "ts", 3600, "user_id", "value", agg="last", output="runs"
            )
        )
        mx = runs.groupBy("user_id").agg(F.max("valid_from").alias("_mx"))
        closed = runs.join(mx, "user_id").filter(
            F.col("valid_from") < F.col("_mx")
        )
        batch = {
            (r.user_id, r.valid_from): (
                r.valid_to,
                None if r.value is None else round(r.value, 6),
                r.n_events,
            )
            for r in closed.collect()
        }
        streamed_df = _run_stream(
            spark,
            lambda sdf: sdf.select("user_id", "ts", "value").transform(
                stream_resample_locf(
                    "ts", 3600, "user_id", "value", output="runs"
                )
            ),
            events_stream_dir,
            read_parquet(spark, f"{SF}/events.parquet").schema,
            "resample_runs_sink",
        )
        streamed = {
            (r.user_id, r.valid_from): (
                r.valid_to,
                None
                if r.value is None or r.value != r.value
                else round(r.value, 6),
                r.n_events,
            )
            for r in streamed_df.collect()
        }
        assert len(streamed) == len(batch) >= 100
        mismatch = {
            k: (streamed.get(k), batch[k])
            for k in batch
            if streamed.get(k) != batch[k]
        }
        assert not mismatch, list(mismatch.items())[:5]


def test_keyed_state_is_the_only_stateful_call():
    """Every stateful streaming twin runs through ``streaming.keyed``:
    no other package file calls ``applyInPandasWithState(`` or imports
    ``GroupState``."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pywrangler_spark",
    )
    core = os.path.join("streaming", "keyed.py")
    found = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            if not f.endswith(".py") or rel == core:
                continue
            with open(path) as fh:
                src = fh.read()
            if "applyInPandasWithState(" in src:
                found.append(f"{rel}: applyInPandasWithState(")
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, ast.ImportFrom) and any(
                    a.name.startswith("GroupState") for a in node.names
                ):
                    found.append(f"{rel}:{node.lineno}: imports GroupState")
    assert not found, f"stateful plumbing outside streaming/keyed.py: {found}"
