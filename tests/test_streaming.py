"""Streaming-ingest parity (SURVEY.md §2.10): readStream over a pages
directory + foreachBatch(run_incremental) must produce tables bit-equal
to one batch run over the union — the batch operators serve a streaming
source unchanged."""

import os
import shutil

import pandas as pd
import pytest

from fixtures import gen_pages
from imc import pipeline, streaming
from imc.config import IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


def _read_sorted(spark, path, keys):
    df = spark.read.parquet(path).toPandas()
    return df[sorted(df.columns)].sort_values(keys).reset_index(drop=True)


@pytest.mark.usefixtures("spark")
def test_two_microbatches_equal_batch(spark, tmp_path):
    from pyspark.sql import functions as F
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    slot = F.regexp_extract("url", r"walk(\d+)$", 1).cast("int")
    # wave 1: most urls (every version); wave 2: the re-crawl delta —
    # slots >= 400 (every version of those urls, so the within-batch
    # dedupe and the cross-batch url replacement are both exercised)
    wave1 = pages.filter(slot < 400)
    wave2 = pages.filter(slot >= 400)
    assert wave2.count() > 0

    in_dir = str(tmp_path / "arriving")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)

    def land(df, name):
        staged = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(staged, part), os.path.join(in_dir, name))

    land(wave1, "wave1.parquet")
    streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)
    assert streaming._initialized(out_dir)

    land(wave2, "wave2.parquet")
    streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)

    full_out = str(tmp_path / "full")
    full = pipeline.run(spark, pages, full_out, PARAMS)

    for name, keys in [("points", ["traj_id", "seq"]), ("segments", ["seg_id"]),
                       ("eps_pairs", ["a_seg", "b_seg"]),
                       ("assignments", ["seg_id"]),
                       ("tile_assignments", ["seg_id"])]:
        got = _read_sorted(spark, os.path.join(out_dir, name), keys)
        want = _read_sorted(spark, full[name][0], keys)
        assert len(got) == len(want), name
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)

    # a third run with nothing new must consume zero batches (offsets
    # checkpointed) and leave every manifest committed
    streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)
    from imc import manifest
    m = manifest.read_manifest(os.path.join(out_dir, "eps_pairs"))
    assert m["committed"]


@pytest.mark.usefixtures("spark")
def test_first_wave_crash_recovers_on_replay(spark, tmp_path, monkeypatch):
    """ADVICE r03: a FIRST wave crashing after the points stage commits
    (but before later stages) must not wedge the stream — the replayed
    micro-batch routes to run_incremental, hits the missing-manifest
    error, and (since the committed points provably came from a stream
    batch) falls back to a full rebuild from that same batch. A later
    wave then folds incrementally as usual."""
    from pyspark.sql import functions as F

    from imc import manifest, segments
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    slot = F.regexp_extract("url", r"walk(\d+)$", 1).cast("int")
    wave1, wave2 = pages.filter(slot < 40), pages.filter(slot >= 40)
    assert wave2.count() > 0

    in_dir = str(tmp_path / "arriving")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)

    def land(df, name):
        staged = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(staged, part), os.path.join(in_dir, name))

    # wave 1 crashes inside the segments stage — points already committed
    real_mdl = segments.mdl_segments

    def _crash(*a, **k):
        raise RuntimeError("injected segment-stage crash")

    monkeypatch.setattr(segments, "mdl_segments", _crash)
    land(wave1, "wave1.parquet")
    from pyspark.errors import StreamingQueryException
    with pytest.raises(StreamingQueryException, match="injected"):
        streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)
    assert streaming._initialized(out_dir)  # the wedge state
    assert streaming._points_written_by_stream_first_wave(out_dir)

    # replay (same checkpoint, nothing new landed): recovers via fallback
    monkeypatch.setattr(segments, "mdl_segments", real_mdl)
    streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)
    assert manifest.read_manifest(os.path.join(out_dir, "segments"))["committed"]

    # wave 2 folds incrementally; end state equals one batch run
    land(wave2, "wave2.parquet")
    streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)
    full = pipeline.run(spark, pages, str(tmp_path / "full"), PARAMS)
    for name, keys in [("points", ["traj_id", "seq"]),
                       ("segments", ["seg_id"]),
                       ("eps_pairs", ["a_seg", "b_seg"])]:
        got = _read_sorted(spark, os.path.join(out_dir, name), keys)
        want = _read_sorted(spark, full[name][0], keys)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)

    # after an incremental wave the points inputs are [parent, delta] —
    # the strict first-wave shape no longer holds, so a wave-N crash that
    # loses a stage manifest must RE-RAISE, never silently rebuild the
    # base from one late batch (review r4: any-inmemory matching would
    # have discarded waves 1..N-1 here)
    assert not streaming._points_written_by_stream_first_wave(out_dir)
    import shutil as sh
    sh.rmtree(os.path.join(out_dir, "eps_pairs"))
    land(pages.filter(slot == 0), "wave3.parquet")
    with pytest.raises(StreamingQueryException, match="no manifest"):
        streaming.stream_pages(spark, in_dir, out_dir, ck_dir, PARAMS)

    # a FILE-BACKED half-built base must NOT fall back either
    fb = str(tmp_path / "filebase")
    pipeline.run(spark, pages, fb, PARAMS)
    sh.rmtree(os.path.join(fb, "raster"))
    assert not streaming._points_written_by_stream_first_wave(fb)


def test_stream_documents_dedup_matches_batch_and_survives_torn_write(
        spark, tmp_path):
    """Streaming exact dedup (r5): two doc waves — with a within-batch
    dup, a cross-batch dup, and a TORN partial write planted in the
    incoming wave's own batch partition (a crashed earlier attempt) —
    must land exactly the batch exact_dedup keeper set; the torn partial
    is overwritten, not double-counted, because each wave excludes its
    own batch_id from the seen-hash state."""
    import pandas as pd

    from imc import textops

    def docs_df(rows):
        return spark.createDataFrame(
            pd.DataFrame([(i, t, "en", "s", len(t)) for i, t in rows],
                         columns=["doc_id", "text", "lang", "source",
                                  "n_chars"]))

    wave1 = [(i, f"text number {i}") for i in range(5)]
    wave1.append((5, wave1[3][1]))            # within-batch dup of doc 3
    wave2 = [(10 + i, f"later text {i}") for i in range(5)]
    wave2.append((16, wave1[3][1]))           # cross-batch dup of doc 3
    wave2.append((17, wave2[2][1]))           # within-batch dup of doc 12

    in_dir = str(tmp_path / "arriving")
    out_dir = str(tmp_path / "uniq")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)

    def land(rows, name):
        staged = str(tmp_path / ("stage_" + name))
        docs_df(rows).coalesce(1).write.mode("overwrite").parquet(staged)
        part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(staged, part), os.path.join(in_dir, name))

    land(wave1, "wave1.parquet")
    streaming.stream_documents_dedup(spark, in_dir, out_dir, ck_dir)

    # plant a torn partial from a "crashed" batch-1 attempt: stale rows
    # (a dup of doc 3's text under a bogus keeper) in batch_id=1
    from imc.textops import text_hash_expr
    torn = (docs_df([(999, wave1[3][1])])
            .withColumn("text_hash", text_hash_expr()))
    torn.write.mode("overwrite").parquet(
        os.path.join(out_dir, "batch_id=1"))

    land(wave2, "wave2.parquet")
    streaming.stream_documents_dedup(spark, in_dir, out_dir, ck_dir)

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    batch = (textops.exact_dedup(docs_df(wave1 + wave2)).toPandas()
             .sort_values("keeper_id").reset_index(drop=True))
    assert sorted(got["doc_id"]) == sorted(batch["keeper_id"])
    assert set(got["text_hash"]) == set(batch["text_hash"])
    assert 999 not in set(got["doc_id"])      # torn partial overwritten
    assert got["doc_id"].is_unique and got["text_hash"].is_unique

    # a third run with nothing new consumes no batch, adds no partition
    parts_before = sorted(os.listdir(out_dir))
    streaming.stream_documents_dedup(spark, in_dir, out_dir, ck_dir)
    assert sorted(os.listdir(out_dir)) == parts_before

    # r6 (VERDICT r05 #8): per-run metrics in the sink's manifest —
    # rows in from query progress, survivors from the Observation riding
    # the write job. wave1: 6 in / 5 unique; wave2: 7 in / 5 survivors
    # (one cross-batch dup anti-joined, one within-batch dup grouped).
    import json
    with open(os.path.join(out_dir, streaming.STREAM_METRICS_NAME)) as f:
        m = json.load(f)
    assert m["op"] == "documents_dedup"
    assert [r["rows_in"] for r in m["runs"]] == [6, 7, 0]
    assert [r["rows_out"] for r in m["runs"]] == [5, 5, 0]


def test_stream_documents_dedup_first_wave_torn_before_commit(
        spark, tmp_path):
    """A FIRST wave crashed before any file commit leaves out_dir with
    only pre-commit _temporary debris — zero committed footers. The
    replay must heal (state read raises AnalysisException → treated as
    no state), not crash-loop on parquet schema inference."""
    import pandas as pd

    def docs_df(rows):
        return spark.createDataFrame(
            pd.DataFrame([(i, t, "en", "s", len(t)) for i, t in rows],
                         columns=["doc_id", "text", "lang", "source",
                                  "n_chars"]))

    in_dir = str(tmp_path / "arriving")
    out_dir = str(tmp_path / "uniq")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)
    # debris of the crashed attempt: directory exists, no committed files
    debris = os.path.join(out_dir, "batch_id=0", "_temporary", "0")
    os.makedirs(debris)
    with open(os.path.join(debris, "task_junk"), "wb") as fh:
        fh.write(b"\x00partial")

    wave = [(i, f"text {i}") for i in range(4)] + [(9, "text 2")]
    staged = str(tmp_path / "stage")
    docs_df(wave).coalesce(1).write.mode("overwrite").parquet(staged)
    part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(staged, part),
                os.path.join(in_dir, "wave.parquet"))

    streaming.stream_documents_dedup(spark, in_dir, out_dir, ck_dir)
    got = spark.read.parquet(out_dir).toPandas()
    assert sorted(got["doc_id"]) == [0, 1, 2, 3]   # dup 9 collapsed
    assert got["text_hash"].is_unique


def _land_events(df, in_dir, name):
    """Write one wave of events (μs timestamps so Spark's reader sees a
    parquet TIMESTAMP, not a raw ns INT64)."""
    os.makedirs(in_dir, exist_ok=True)
    df.assign(ts=df.ts.astype("datetime64[us]")).to_parquet(
        os.path.join(in_dir, name), index=False)


def _sentinel(after_ts):
    """One far-future event that advances the GLOBAL watermark past every
    open session/window so EventTimeTimeout / append-mode finalization
    fire; its own user/window stays open and is filtered out of asserts."""
    return pd.DataFrame({
        "event_id": [10**9], "ts": [after_ts + pd.Timedelta(days=30)],
        "user_id": [-1], "event_type": ["sentinel"],
        "value": [0.0], "props": [""]})


@pytest.mark.usefixtures("spark")
def test_stream_sessionize_matches_batch_twin(spark, tmp_path):
    """applyInPandasWithState sessionization (SURVEY.md §2.10): three
    SEPARATE availableNow runs (waves split at the median timestamp +
    a sentinel) must emit exactly the batch gap-sessionization — state
    carries open sessions across micro-batches AND across stream
    restarts (watermark + state live in the checkpoint), and the final
    flush comes from the event-time TIMEOUT, not from data."""
    pdf = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True))
    # split INSIDE a multi-event session (two same-user events < 30min
    # apart) so at least one open session provably crosses the wave
    # boundary and must be carried in state
    by_user = pdf.sort_values(["user_id", "ts", "event_id"])
    gap_ok = ((by_user.user_id == by_user.user_id.shift(-1))
              & (by_user.ts.shift(-1) > by_user.ts)
              & (by_user.ts.shift(-1) - by_user.ts <= pd.Timedelta(minutes=30)))
    assert gap_ok.any(), "fixture has no 2-event session to split"
    mid = by_user.loc[gap_ok.idxmax(), "ts"]
    waves = [pdf[pdf.ts <= mid], pdf[pdf.ts > mid], _sentinel(pdf.ts.max())]

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    for i, w in enumerate(waves):
        _land_events(w, in_dir, f"wave{i}.parquet")
        streaming.stream_sessionize(spark, in_dir, out_dir, ck,
                                    gap_sec=1800)

    got = (spark.read.parquet(out_dir).filter("user_id >= 0").toPandas()
           .sort_values(["user_id", "start_ts"]).reset_index(drop=True))

    # batch twin: same μs-exact gap rule, computed in pandas
    rows = []
    for uid, g in pdf.groupby("user_id"):
        us = (g.sort_values(["ts", "event_id"])["ts"]
              .astype("int64") // 1000).tolist()
        start = last = us[0]
        n = 1
        for t in us[1:]:
            if t - last > 1800 * 1_000_000:
                rows.append((uid, start, last, n))
                start, n = t, 1
            else:
                n += 1
            last = t
        rows.append((uid, start, last, n))
    exp = pd.DataFrame(rows, columns=["user_id", "s", "e", "n_events"])
    exp["start_ts"] = pd.to_datetime(exp.pop("s"), unit="us")
    exp["end_ts"] = pd.to_datetime(exp.pop("e"), unit="us")
    exp["dur_sec"] = (exp.end_ts.astype("int64") // 10**9
                      - exp.start_ts.astype("int64") // 10**9)
    exp = (exp[["user_id", "start_ts", "end_ts", "n_events", "dur_sec"]]
           .sort_values(["user_id", "start_ts"]).reset_index(drop=True))

    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # multi-session users prove the walk; cross-wave continuation proves
    # the state carry (a session spanning the wave split)
    assert (exp.groupby("user_id").size() > 1).any()
    assert ((exp.start_ts <= mid) & (exp.end_ts > mid)).any()

    # r6 (VERDICT r05 #8): run metrics recorded from query progress —
    # all fixture events consumed, emitted sessions equal the batch twin
    # (+ the sentinel user's own flushed rows), nothing late-dropped
    import json
    with open(os.path.join(out_dir, streaming.STREAM_METRICS_NAME)) as f:
        m = json.load(f)
    assert m["op"] == "sessionize"
    assert sum(r["rows_in"] for r in m["runs"]) == len(pdf) + 1
    n_sentinel = len(spark.read.parquet(out_dir)
                     .filter("user_id < 0").collect())
    assert (sum(r["rows_out"] for r in m["runs"])
            == len(exp) + n_sentinel)
    assert sum(r["late_dropped"] for r in m["runs"]) == 0


@pytest.mark.usefixtures("spark")
def test_stream_window_counts_drops_late_rows_and_matches_batch(
        spark, tmp_path):
    """Watermarked tumbling-window agg (SURVEY.md §2.10): append-mode
    hourly counts equal the batch groupBy over the ON-TIME rows only —
    a row arriving a wave AFTER the watermark passed its window end is
    dropped, and every on-time window flushes exactly once (sentinel
    advances the watermark; its own window stays open and unemitted)."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pdf = ev.toPandas()
    late = pd.DataFrame({
        "event_id": [10**8], "ts": [pd.Timestamp("2024-01-01 00:30:00")],
        "user_id": [1], "event_type": ["click"],
        "value": [5.0], "props": [""]})

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    for i, w in enumerate([pdf, late, _sentinel(pdf.ts.max())]):
        _land_events(w, in_dir, f"wave{i}.parquet")
        streaming.stream_window_counts(spark, in_dir, out_dir, ck)

    got = (spark.read.parquet(out_dir)
           .filter("event_type <> 'sentinel'").toPandas()
           .sort_values(["win_start", "event_type"]).reset_index(drop=True))
    exp = (ev.groupBy(F.date_trunc("hour", "ts").alias("win_start"),
                      "event_type")
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"))
           .toPandas()
           .sort_values(["win_start", "event_type"]).reset_index(drop=True))

    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # teeth-check: the late row's (window, type) cell in GOT matches the
    # on-time batch exactly — had the late click been counted, this cell
    # would hold one more event (or exist where exp has none)
    sel = lambda df: df[(df.win_start == pd.Timestamp("2024-01-01")) &  # noqa: E731
                        (df.event_type == "click")]
    h0e, h0g = sel(exp), sel(got)
    assert len(h0g) == len(h0e)
    if len(h0e):
        assert h0g.n_events.iloc[0] == h0e.n_events.iloc[0]

    # r6 (VERDICT r05 #8): the metrics manifest shows the late row was
    # counted as DROPPED BY WATERMARK (state-store telemetry), every
    # input row consumed, and emitted windows = sink output rows
    import json
    with open(os.path.join(out_dir, streaming.STREAM_METRICS_NAME)) as f:
        m = json.load(f)
    assert m["op"] == "window_counts"
    assert sum(r["rows_in"] for r in m["runs"]) == len(pdf) + 2
    assert sum(r["late_dropped"] for r in m["runs"]) >= 1
    n_all = len(spark.read.parquet(out_dir).collect())
    assert sum(r["rows_out"] for r in m["runs"]) == n_all


@pytest.mark.usefixtures("spark")
def test_stream_sessionize_out_of_order_on_time_row(spark, tmp_path):
    """Review r5: an on-time row arriving a wave LATE (behind the open
    session's last event, but ahead of the watermark — permitted by the
    watermark contract) must count into the session WITHOUT regressing
    its end; the old unconditional `last_us = t` made a later in-gap
    event look detached and split the session."""
    t0 = pd.Timestamp("2024-03-01 12:00:00")

    def ev(eid, uid, minutes):
        return (eid, t0 + pd.Timedelta(minutes=minutes), uid, "click",
                1.0, "")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # wave1: user 1 at +0 and +20; user 2 at +25 keeps the watermark at
    # (+25 − gap) = −5min, so wave2's +10 row is ON-TIME
    w1 = pd.DataFrame([ev(1, 1, 0), ev(2, 1, 20), ev(3, 2, 25)],
                      columns=cols)
    # wave2: user 1's out-of-order row INSIDE the open session
    w2 = pd.DataFrame([ev(4, 1, 10)], columns=cols)
    # wave3: +45 is within gap of the TRUE last (+20): same session —
    # the buggy regression to last=+10 would split here (35min > 30min)
    w3 = pd.DataFrame([ev(5, 1, 45)], columns=cols)

    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    for i, w in enumerate([w1, w2, w3,
                           _sentinel(t0 + pd.Timedelta(minutes=45))]):
        _land_events(w, in_dir, f"wave{i}.parquet")
        streaming.stream_sessionize(spark, in_dir, out_dir, ck,
                                    gap_sec=1800)

    got = (spark.read.parquet(out_dir).filter("user_id = 1").toPandas()
           .sort_values("start_ts").reset_index(drop=True))
    assert len(got) == 1, got
    assert got.n_events.iloc[0] == 4
    assert got.start_ts.iloc[0] == t0
    assert got.end_ts.iloc[0] == t0 + pd.Timedelta(minutes=45)


def test_event_time_ops_refuse_non_utc_session(spark, tmp_path):
    """ADVICE r05, engine-enforced: Spark rejects TIMESTAMP_NTZ event
    time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the watermarked ops
    run on session-tz TIMESTAMP and must refuse a non-UTC session UP
    FRONT — a silent run there would shift event-time arithmetic vs the
    NTZ batch twins."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for fn in (streaming.stream_sessionize,
                   streaming.stream_window_counts):
            with pytest.raises(ValueError, match="UTC"):
                fn(spark, str(tmp_path / "in"), str(tmp_path / "out"),
                   str(tmp_path / "ck"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_stream_metrics_truncated_only_when_progress_lost(spark, tmp_path):
    """recentProgress is a ring buffer sized by numRecentProgressUpdates,
    so a long run's progress (and its batch count) is incomplete. The
    flag must be set exactly when batches of the run are missing from
    it — not from a batch-count threshold, which misses real loss when
    the buffer keeps fewer entries than its nominal size."""
    import json

    def land(name, i):
        pdf = pd.DataFrame([(i, f"text {i}", "en", "s", 6)],
                           columns=["doc_id", "text", "lang", "source",
                                    "n_chars"])
        staged = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(pdf).coalesce(1).write.parquet(staged)
        part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(staged, part), os.path.join(in_dir, name))

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)
    key = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.set(key, "3")
    try:
        for n_files, tag in ((2, "a"), (3, "b")):
            for i in range(n_files):
                land(f"{tag}{i}.parquet", len(os.listdir(in_dir)))
            streaming.stream_documents_dedup(spark, in_dir, out_dir, ck_dir,
                                             max_files_per_trigger=1)
    finally:
        spark.conf.unset(key)
    with open(os.path.join(out_dir, streaming.STREAM_METRICS_NAME)) as f:
        runs = json.load(f)["runs"]
    # one file per micro-batch: 2 batches, then 3 (batch ids 0-1, 2-4)
    assert sorted(os.listdir(os.path.join(ck_dir, "commits")))[-1] == "4"
    assert runs[0]["batches"] == 2 and "truncated" not in runs[0]
    assert runs[1]["batches"] < 3 and runs[1].get("truncated") is True
