"""Structured Streaming tests: streaming results must equal the batch
twin on identical input (the unified-engine guarantee the batch oracle
checks transfer through), plus watermark late-data and the background
lifecycle."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gasket_spark.io import read_table
from gasket_spark.streaming import (
    BackgroundQuery,
    read_events_stream,
    run_pipeline_streaming,
    sessionized_counts,
    streaming_dedup,
    windowed_counts,
)
from gasket_spark.streaming.core import run_to_completion
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_json_dir(spark, tmp_path_factory):
    """events table serialized to NDJSON files — the streaming on-ramp."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = read_table(spark, SF_SMALL, "events")
    from gasket_spark.streaming.core import to_ndjson_lines

    to_ndjson_lines(ev).repartition(4).write.mode("overwrite").text(out)
    return out


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestStreamingEqualsBatch:
    def test_windowed_counts(self, spark, events_json_dir):
        stream = read_events_stream(spark, events_json_dir)
        got = run_to_completion(windowed_counts(stream), "t_win",
                                output_mode="complete")
        batch = windowed_counts(read_table(spark, SF_SMALL, "events"))
        cols = ["w_start", "event_type", "n", "total_value"]
        assert _rows(got, cols) == _rows(batch, cols)

    def test_sessionized_counts(self, spark, events_json_dir):
        stream = read_events_stream(spark, events_json_dir)
        got = run_to_completion(sessionized_counts(stream), "t_sess",
                                output_mode="complete")
        batch = sessionized_counts(read_table(spark, SF_SMALL, "events"))
        cols = ["user_id", "s_start", "s_end", "n"]
        assert _rows(got, cols) == _rows(batch, cols)

    def test_stream_semi_join_equals_batch_exists(
            self, spark, events_json_dir):
        """LEFT SEMI stream-stream join: the emitted set must equal
        the batch EXISTS — under a DIFFERENT micro-batching (1 file/
        trigger) than the selfcheck oracle's replay — and each
        qualifying purchase must emit EXACTLY ONCE even when several
        clicks match across separate micro-batches (the matched-flag
        state suppressing re-emission is the semi join's contract)."""
        from gasket_spark.streaming.core import stream_stream_semi_join

        stream1 = read_events_stream(spark, events_json_dir,
                                     max_files_per_trigger=1)
        stream2 = read_events_stream(spark, events_json_dir,
                                     max_files_per_trigger=1)
        got = run_to_completion(
            stream_stream_semi_join(stream1, stream2,
                                    watermark="90 days"),
            "t_semi_ut", output_mode="append")

        ev = read_table(spark, SF_SMALL, "events")
        p = ev.filter(F.col("event_type") == "purchase") \
            .select(F.col("event_id").alias("purchase_id"),
                    "user_id", "ts", F.col("ts").alias("p_ts"))
        c = ev.filter(F.col("event_type") == "click") \
            .select(F.col("user_id").alias("c_user_id"),
                    F.col("ts").alias("c_ts"))
        batch = (p.join(c, (F.col("user_id") == F.col("c_user_id"))
                        & (F.col("c_ts") < F.col("p_ts"))
                        & (F.col("c_ts") >= F.col("p_ts")
                           - F.expr("INTERVAL 1 HOUR")), "left_semi")
                 .select("purchase_id", "user_id", "ts"))
        cols = ["purchase_id", "user_id", "ts"]
        assert _rows(got, cols) == _rows(batch, cols)
        # exactly-once per purchase: multiplicity never leaks through
        assert got.count() == got.select("purchase_id").distinct().count()

    def test_stream_semi_join_multi_match_emits_once(
            self, spark, tmp_path):
        """One purchase, three matching clicks delivered in THREE
        separate micro-batches (1 file/trigger): the purchase must
        emit exactly once — the first match emits it, the matched
        flag in the join state suppresses the later matches (the
        sf0.001 fixture has no multi-click purchase, so this pins the
        suppression path synthetically)."""
        from gasket_spark.streaming.core import stream_stream_semi_join

        path = tmp_path / "multi"
        path.mkdir()
        base = "2024-01-01T10:{m:02d}:00"
        rows = [{"event_id": 100, "ts": base.format(m=30),
                 "user_id": 7, "event_type": "purchase",
                 "value": 1.0, "props": "{}"}]
        clicks = [{"event_id": 200 + i, "ts": base.format(m=i),
                   "user_id": 7, "event_type": "click",
                   "value": 1.0, "props": "{}"} for i in (5, 10, 15)]
        with open(path / "p0.json", "w") as fh:
            fh.write(json.dumps(rows[0]) + "\n")
        for i, r in enumerate(clicks):
            with open(path / f"c{i}.json", "w") as fh:
                fh.write(json.dumps(r) + "\n")
        s1 = read_events_stream(spark, str(path),
                                max_files_per_trigger=1)
        s2 = read_events_stream(spark, str(path),
                                max_files_per_trigger=1)
        got = run_to_completion(
            stream_stream_semi_join(s1, s2, watermark="90 days"),
            "t_semi_multi", output_mode="append")
        out = got.collect()
        assert len(out) == 1
        assert out[0]["purchase_id"] == 100

    def test_stream_semi_join_state_evicts_on_time_bound(
            self, spark, tmp_path):
        """EVICTION PROOF for the semi join's state TTL claim: a
        50-hour ordered replay (10 files, 1 file/trigger, watermark
        5 min, lookback 1 h) must hold state bounded by the TIME
        HORIZON, not by history — numRowsTotal from the state
        operator metrics stays far below the event count while every
        purchase still finds its click. Without the relative time
        bound + watermark this state would grow linearly with the
        replay (the at-scale failure mode the operator exists to
        prevent)."""
        from gasket_spark.streaming.core import (
            read_events_stream, stream_stream_semi_join)

        path = tmp_path / "evict"
        path.mkdir()
        rows = []
        for h in range(50):
            rows.append({"event_id": 2 * h, "ts":
                         f"2024-01-{1 + h // 24:02d}T{h % 24:02d}:00:00",
                         "user_id": 1, "event_type": "click",
                         "value": 1.0, "props": "{}"})
            rows.append({"event_id": 2 * h + 1, "ts":
                         f"2024-01-{1 + h // 24:02d}T{h % 24:02d}:30:00",
                         "user_id": 1, "event_type": "purchase",
                         "value": 1.0, "props": "{}"})
        import os as _os
        import time as _time
        base_t = _time.time() - 600
        for i in range(10):  # time-ordered files → advancing watermark
            f = path / f"f{i:02d}.json"
            with open(f, "w") as fh:
                for r in rows[i * 10:(i + 1) * 10]:
                    fh.write(json.dumps(r) + "\n")
            # the file source orders by MODIFICATION TIME — files
            # written in the same clock tick replay in arbitrary
            # order, teleporting the watermark to the end and
            # dropping mid-stream rows as late (the
            # _events_as_ordered_stream pattern, forced explicitly)
            _os.utime(f, (base_t + i, base_t + i))
        s1 = read_events_stream(spark, str(path),
                                max_files_per_trigger=1)
        s2 = read_events_stream(spark, str(path),
                                max_files_per_trigger=1)
        joined = stream_stream_semi_join(s1, s2, watermark="5 minutes",
                                         lookback="1 hour")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = (joined.writeStream.format("memory")
                 .queryName("t_semi_evict").outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress = [p for p in q.recentProgress
                        if p.get("stateOperators")]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # every purchase has a click 30 min before it → all 50 emit
        got = spark.table("t_semi_evict")
        assert got.count() == 50
        totals = [p["stateOperators"][0]["numRowsTotal"]
                  for p in progress]
        removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                      for p in progress)
        # state never approaches the 100-event history: bounded by
        # the ~1-batch watermark lag + the 1 h lookback horizon
        assert max(totals) <= 40, totals
        assert totals[-1] <= 40, totals
        assert removed > 0  # eviction actually ran

    def test_windowed_leaderboard_state_evicts(self, spark, tmp_path):
        """EVICTION PROOF for the streaming leaderboard (the r9
        semi-join recipe applied to the windowed-aggregate state
        shape): a 50-hour ordered replay (10 files, 1 file/trigger,
        1 h windows, 5 min watermark) must (a) emit every finalized
        window EXACTLY once with exact integer-cent totals, (b) hold
        peak state far below the full window×user history, and (c)
        actually remove rows (numRowsRemoved > 0) as the watermark
        closes windows. Without append-mode watermark eviction this
        state grows linearly with replay length — the at-scale
        failure mode the operator exists to prevent."""
        from gasket_spark.streaming.core import (
            leaderboard_topk, read_events_stream, windowed_leaderboard)

        path = tmp_path / "board"
        path.mkdir()
        rows = []
        for h in range(50):
            ts = f"2024-01-{1 + h // 24:02d}T{h % 24:02d}"
            rows.append({"event_id": 2 * h, "ts": f"{ts}:00:00",
                         "user_id": 1, "event_type": "purchase",
                         "value": float(h), "props": "{}"})
            rows.append({"event_id": 2 * h + 1, "ts": f"{ts}:30:00",
                         "user_id": 2, "event_type": "purchase",
                         "value": float(2 * h), "props": "{}"})
        import time as _time
        base_t = _time.time() - 600
        for i in range(10):  # time-ordered files → advancing watermark
            f = path / f"f{i:02d}.json"
            with open(f, "w") as fh:
                for r in rows[i * 10:(i + 1) * 10]:
                    fh.write(json.dumps(r) + "\n")
            os.utime(f, (base_t + i, base_t + i))
        board = windowed_leaderboard(
            read_events_stream(spark, str(path), max_files_per_trigger=1),
            window="1 hour", watermark="5 minutes")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = (board.writeStream.format("memory")
                 .queryName("t_board_evict").outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress = [p for p in q.recentProgress
                        if p.get("stateOperators")]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        got = spark.table("t_board_evict")
        # watermark reaches 49:25 → windows 0..48 finalize, window 49
        # stays open: 49 windows × 2 users, each exactly once
        assert got.count() == 98
        assert got.select("w_start", "user_id").distinct().count() == 98
        vals = {(r["w_start"].hour + 24 * (r["w_start"].day - 1),
                 r["user_id"]): (r["n"], r["total_cents"])
                for r in got.collect()}
        for h in range(49):
            assert vals[(h, 1)] == (1, 100 * h)
            assert vals[(h, 2)] == (1, 200 * h)
        # top-1 cut: user 2 wins every window except the h=0 tie,
        # which breaks to the smaller user_id
        top1 = {(r["w_start"].hour + 24 * (r["w_start"].day - 1)):
                r["user_id"]
                for r in leaderboard_topk(got, k=1).collect()}
        assert top1[0] == 1
        assert all(top1[h] == 2 for h in range(1, 49))
        totals = [p["stateOperators"][0]["numRowsTotal"]
                  for p in progress]
        removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                      for p in progress)
        # 98 finalized state rows existed over the replay; the store
        # must never hold more than a ~1-batch watermark lag of them
        assert max(totals) <= 40, totals
        assert totals[-1] <= 40, totals
        assert removed > 0  # eviction actually ran

    def test_stream_anti_join_needs_watermark_proof(self, spark,
                                                    tmp_path):
        """LEFT ANTI (negative evidence): purchases WITHOUT a prior-
        hour click emit only once the watermark proves no click can
        still arrive. Ordered ascending-mtime files + a far-future
        sentinel purchase flush the proof past all real data; the
        emitted set must equal the batch NOT EXISTS, and a purchase
        WITH a click must never emit. Also pins the semi/anti
        duality: semi ∪ anti = all purchases, disjoint."""
        from gasket_spark.streaming.core import (
            read_events_stream, stream_stream_anti_join,
            stream_stream_semi_join)

        path = tmp_path / "anti"
        path.mkdir()
        rows = []
        eid = 0
        # even hours: click then purchase (matched); odd hours:
        # purchase alone (anti row)
        for h in range(12):
            if h % 2 == 0:
                rows.append({"event_id": (eid := eid + 1),
                             "ts": f"2024-01-01T{h:02d}:00:00",
                             "user_id": 1, "event_type": "click",
                             "value": 1.0, "props": "{}"})
            rows.append({"event_id": (eid := eid + 1),
                         "ts": f"2024-01-01T{h:02d}:30:00",
                         "user_id": 1, "event_type": "purchase",
                         "value": 1.0, "props": "{}"})
        # sentinel needs BOTH types: each join side filters to its
        # own event_type BEFORE its watermark node, so a purchase-only
        # sentinel would never advance the CLICK-side watermark and
        # the last undecided purchase could never prove absence
        # (the _events_as_ordered_stream fixture writes both for the
        # same reason)
        sentinels = [
            {"event_id": 9999, "ts": "2024-03-01T00:00:00",
             "user_id": -1, "event_type": "purchase",
             "value": 0.0, "props": "{}"},
            {"event_id": 9998, "ts": "2024-03-01T00:00:00",
             "user_id": -1, "event_type": "click",
             "value": 0.0, "props": "{}"},
        ]
        import os as _os
        import time as _time
        base_t = _time.time() - 600
        chunks = [rows[i:i + 3] for i in range(0, len(rows), 3)]
        chunks.append(sentinels)
        for i, chunk in enumerate(chunks):
            f = path / f"f{i:02d}.json"
            with open(f, "w") as fh:
                for r in chunk:
                    fh.write(json.dumps(r) + "\n")
            _os.utime(f, (base_t + i, base_t + i))

        schemas = {}

        def run(builder, name):
            s1 = read_events_stream(spark, str(path),
                                    max_files_per_trigger=1)
            s2 = read_events_stream(spark, str(path),
                                    max_files_per_trigger=1)
            out = run_to_completion(
                builder(s1, s2, watermark="5 minutes"), name,
                output_mode="append")
            schemas[name] = out.columns
            return {r.purchase_id for r in out.collect()
                    if r.user_id != -1}

        anti = run(stream_stream_anti_join, "t_anti_ut")
        semi = run(stream_stream_semi_join, "t_semi_dual_ut")
        # output contracts mirror: semi ∪ anti partitions the
        # purchase stream column-for-column (r9 advice)
        assert schemas["t_anti_ut"] == schemas["t_semi_dual_ut"] == [
            "purchase_id", "user_id", "ts"]
        purchases = {r["event_id"] for r in rows
                     if r["event_type"] == "purchase"}
        # batch truth: odd-hour purchases have no prior-hour click
        want_anti = {r["event_id"] for r in rows
                     if r["event_type"] == "purchase"
                     and int(r["ts"][11:13]) % 2 == 1}
        assert anti == want_anti
        assert semi == purchases - want_anti  # duality
        assert not (anti & semi)

    def test_stream_full_outer_partitions_both_streams(self, spark,
                                                       tmp_path):
        """FULL OUTER (the last join-family member): matched pairs,
        purchase-only rows (NULL click, proven by the click
        watermark) and click-only rows (NULL purchase, proven by the
        purchase watermark) together must partition BOTH input
        streams — checked against batch truth computed from the same
        rows. Even hours: click@h:00 + purchase@h:30 (matched); odd
        hours: purchase only (left-only); user 2: clicks with no
        purchases at all (right-only)."""
        from gasket_spark.streaming.core import (
            read_events_stream, stream_stream_full_outer_join)

        path = tmp_path / "full"
        path.mkdir()
        rows = []
        eid = 0
        for h in range(12):
            if h % 2 == 0:
                rows.append({"event_id": (eid := eid + 1),
                             "ts": f"2024-01-01T{h:02d}:00:00",
                             "user_id": 1, "event_type": "click",
                             "value": 1.0, "props": "{}"})
            rows.append({"event_id": (eid := eid + 1),
                         "ts": f"2024-01-01T{h:02d}:30:00",
                         "user_id": 1, "event_type": "purchase",
                         "value": 1.0, "props": "{}"})
        for h in (2, 7):   # right-only: user 2 never purchases
            rows.append({"event_id": (eid := eid + 1),
                         "ts": f"2024-01-01T{h:02d}:05:00",
                         "user_id": 2, "event_type": "click",
                         "value": 1.0, "props": "{}"})
        sentinels = [
            {"event_id": 9999, "ts": "2024-03-01T00:00:00",
             "user_id": -1, "event_type": "purchase",
             "value": 0.0, "props": "{}"},
            {"event_id": 9998, "ts": "2024-03-01T00:00:00",
             "user_id": -1, "event_type": "click",
             "value": 0.0, "props": "{}"},
        ]
        import os as _os
        import time as _time
        base_t = _time.time() - 600
        ordered = sorted(rows, key=lambda r: r["ts"])
        chunks = [ordered[i:i + 3] for i in range(0, len(ordered), 3)]
        chunks.append(sentinels)
        for i, chunk in enumerate(chunks):
            f = path / f"f{i:02d}.json"
            with open(f, "w") as fh:
                for r in chunk:
                    fh.write(json.dumps(r) + "\n")
            _os.utime(f, (base_t + i, base_t + i))
        s1 = read_events_stream(spark, str(path), max_files_per_trigger=1)
        s2 = read_events_stream(spark, str(path), max_files_per_trigger=1)
        out = run_to_completion(
            stream_stream_full_outer_join(s1, s2, watermark="5 minutes"),
            "t_full_outer_ut", output_mode="append")
        got = {(r.purchase_id, r.click_id, r.user_id)
               for r in out.collect() if r.user_id != -1}
        # batch truth from the same rows
        purchases = [r for r in rows if r["event_type"] == "purchase"]
        clicks = [r for r in rows if r["event_type"] == "click"]
        want, matched_c = set(), set()
        for p in purchases:
            ms = [c for c in clicks
                  if c["user_id"] == p["user_id"] and c["ts"] < p["ts"]
                  and (int(p["ts"][11:13]) * 60 + int(p["ts"][14:16]))
                  - (int(c["ts"][11:13]) * 60 + int(c["ts"][14:16])) <= 60]
            if ms:
                for c in ms:
                    want.add((p["event_id"], c["event_id"], 1))
                    matched_c.add(c["event_id"])
            else:
                want.add((p["event_id"], None, p["user_id"]))
        for c in clicks:
            if c["event_id"] not in matched_c:
                want.add((None, c["event_id"], c["user_id"]))
        assert got == want
        # both partitions are present and disjointly typed
        assert any(p is None for p, _, _ in got)       # click-only
        assert any(c is None for _, c, _ in got)       # purchase-only
        assert any(p and c for p, c, _ in got)         # matched

    def test_streaming_dedup_retries_with_skewed_timestamps(
            self, spark, tmp_path):
        """dropDuplicatesWithinWatermark vs plain dropDuplicates: a
        producer retry that restamps the event time (the
        at-least-once gateway shape) must still dedup to one row per
        event_id — while the (key, ts)-exact dedup correctly treats
        the restamped copy as a distinct row (the contrast that
        documents WHY this variant exists)."""
        from gasket_spark.streaming.core import (
            read_events_stream, streaming_dedup, streaming_dedup_retries)

        path = tmp_path / "retries"
        path.mkdir()
        originals = [{"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00",
                      "user_id": 1, "event_type": "view", "value": 1.0,
                      "props": "{}"} for i in range(8)]
        retries = [dict(r, ts=r["ts"][:14] + f"{int(r['ts'][14:16]) + 20}:00")
                   for r in originals]   # +20 min restamp
        import os as _os
        import time as _time
        base_t = _time.time() - 600
        with open(path / "f0.json", "w") as fh:
            for r in originals:
                fh.write(json.dumps(r) + "\n")
        with open(path / "f1.json", "w") as fh:
            for r in retries:
                fh.write(json.dumps(r) + "\n")
        _os.utime(path / "f0.json", (base_t, base_t))
        _os.utime(path / "f1.json", (base_t + 1, base_t + 1))

        s = read_events_stream(spark, str(path), max_files_per_trigger=1)
        got = run_to_completion(
            streaming_dedup_retries(s, watermark="2 hours"),
            "t_dedup_retry", output_mode="append")
        assert got.count() == 8                     # one per event_id
        assert {r.event_id for r in got.collect()} == set(range(8))

        s2 = read_events_stream(spark, str(path), max_files_per_trigger=1)
        exact = run_to_completion(
            streaming_dedup(s2), "t_dedup_exact_contrast",
            output_mode="append")
        assert exact.count() == 16                  # restamps survive

    def test_streaming_dedup(self, spark, tmp_path):
        # duplicate event_ids across files → exactly one survivor each
        rows = [{"event_id": i % 5, "ts": f"2024-01-01T00:0{i % 5}:00",
                 "user_id": 1, "event_type": "view", "value": 1.0,
                 "props": "{}"} for i in range(20)]
        path = tmp_path / "dup"
        path.mkdir()
        for part in range(2):
            with open(path / f"p{part}.json", "w") as fh:
                for r in rows[part * 10:(part + 1) * 10]:
                    fh.write(json.dumps(r) + "\n")
        stream = read_events_stream(spark, str(path))
        got = run_to_completion(streaming_dedup(stream), "t_dedup")
        assert got.count() == 5


class TestLateData:
    def test_late_rows_beyond_watermark_dropped(self, spark, tmp_path):
        """Two micro-batches: the second carries an event 10 hours older
        than the advanced watermark → its window never appears."""
        d = tmp_path / "late"
        d.mkdir()
        base = [{"event_id": 1, "ts": "2024-01-01T12:00:00", "user_id": 1,
                 "event_type": "view", "value": 1.0, "props": "{}"}]
        late = [{"event_id": 2, "ts": "2024-01-01T02:00:00", "user_id": 1,
                 "event_type": "view", "value": 1.0, "props": "{}"}]
        with open(d / "a.json", "w") as fh:
            for r in base:
                fh.write(json.dumps(r) + "\n")
        stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
        q = (windowed_counts(stream, watermark="1 hour")
             .writeStream.format("memory").queryName("t_late")
             .outputMode("append").start())
        try:
            q.processAllAvailable()  # batch 1: watermark → 11:00
            with open(d / "b.json", "w") as fh:
                for r in late:
                    fh.write(json.dumps(r) + "\n")
            q.processAllAvailable()  # batch 2: 02:00 event is < watermark
            # force watermark to close the 12:00 window
            # advance the watermark past the 12:00 window, then one more
            # batch: append mode emits a closed window on the batch
            # AFTER the watermark update
            for i, ts in enumerate(["2024-01-02T00:00:00",
                                    "2024-01-02T01:00:00"]):
                with open(d / f"c{i}.json", "w") as fh:
                    fh.write(json.dumps({
                        "event_id": 3 + i, "ts": ts, "user_id": 1,
                        "event_type": "view", "value": 1.0,
                        "props": "{}"}) + "\n")
                q.processAllAvailable()
        finally:
            q.stop()
        got = {r.w_start.hour for r in spark.table("t_late").collect()}
        assert 12 in got and 2 not in got


class TestStateStoreReader:
    def test_state_matches_aggregate(self, spark, events_json_dir,
                                     tmp_path):
        """The statestore data source must expose exactly the per-key
        state the stateful agg holds — the audit/debug surface for
        production streams."""
        from gasket_spark.streaming.core import read_stream_state

        cp = str(tmp_path / "cp")
        stream = read_events_stream(spark, events_json_dir)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"))
        q = (agg.writeStream.format("memory").queryName("t_ss_probe")
             .outputMode("complete").option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        state = read_stream_state(spark, cp).select("key.*", "value.*")
        got = {tuple(r)[0]: tuple(r)[1] for r in state.collect()}
        batch = read_table(spark, SF_SMALL, "events") \
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        want = {r.event_type: r.n for r in batch.collect()}
        assert got == want


class TestRocksDBState:
    def test_stateful_query_matches_default_provider(self, spark,
                                                     events_json_dir):
        """The RocksDB state store (off-heap state — the 100 TB
        posture) must produce the same windowed result as the default
        heap-backed provider."""
        from gasket_spark.streaming.core import (
            ROCKSDB_PROVIDER, use_rocksdb_state)

        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", "")
        use_rocksdb_state(spark, bounded_memory_mb=256)
        try:
            assert spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass"
            ) == ROCKSDB_PROVIDER
            stream = read_events_stream(spark, events_json_dir)
            got = run_to_completion(windowed_counts(stream), "t_rocks",
                                    output_mode="complete")
            batch = windowed_counts(read_table(spark, SF_SMALL, "events"))
            cols = ["w_start", "event_type", "n", "total_value"]
            assert _rows(got, cols) == _rows(batch, cols)
        finally:
            if prev:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev)
            else:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass")


class TestBackground:
    def test_lifecycle(self, spark, events_json_dir):
        """Side query runs beside the main action and is stopped after
        it — the gasket background verb (index.js:167-174)."""
        stream = read_events_stream(spark, events_json_dir)
        side = windowed_counts(stream)
        with BackgroundQuery(side, "t_bg", output_mode="complete") as bq:
            main = read_table(spark, SF_SMALL, "events").count()
            assert main > 0
        assert bq.query is not None and not bq.query.isActive
        assert bq.result().count() > 0


class TestPipelineStreaming:
    def test_foreachbatch_pipeline(self, spark, events_json_dir, tmp_path):
        """The pipe-verb over an unbounded source: a registered pipeline
        (module stage) applied per micro-batch via foreachBatch."""
        from gasket_spark.pipeline import Engine

        eng = Engine({"typed": [
            lambda df, ctx: df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")),
        ]}, spark=spark)
        out_dir = str(tmp_path / "sink")
        stream = read_events_stream(spark, events_json_dir)
        q = run_pipeline_streaming(
            eng, "typed", stream,
            sink=lambda df, bid: df.write.mode("append").parquet(out_dir))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(out_dir).groupBy("event_type").agg(
            F.sum("n").alias("n"))
        batch = read_table(spark, SF_SMALL, "events").groupBy(
            "event_type").agg(F.count(F.lit(1)).alias("n"))
        assert _rows(got, ["event_type", "n"]) == _rows(batch, ["event_type", "n"])


class TestStatefulOperator:
    def test_stateful_totals_equal_batch(self, spark, events_json_dir):
        """applyInPandasWithState running totals: the LAST update per
        user must equal a plain batch groupBy on the same input."""
        from pyspark.sql import Window

        from gasket_spark.streaming import (
            read_events_stream, stateful_user_totals)
        from gasket_spark.streaming.core import run_to_completion

        stream = read_events_stream(spark, events_json_dir,
                                    max_files_per_trigger=1)
        got = run_to_completion(stateful_user_totals(stream), "t_stateful",
                                output_mode="update")
        # update mode appends one row per (user, micro-batch); the final
        # running value per user is the row with the max n_events
        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (got.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") == 1).select(
                     "user_id", "n_events", "total_cents"))

        ev = read_table(spark, SF_SMALL, "events")
        batch = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .alias("total_cents"))
        cols = ["user_id", "n_events", "total_cents"]
        assert _rows(final, cols) == _rows(batch, cols)

    def test_stateful_ewma_equals_batch(self, spark, events_json_dir):
        """Confluent last-8 EWMA state: the final update per user must
        equal the batch window formula at that user's last event —
        regardless of the replay's micro-batch boundaries (files
        arrive one per trigger here, a different batching than the
        selfcheck oracle's two-per-trigger replay)."""
        from pyspark.sql import Window

        from gasket_spark.streaming.core import (
            read_events_stream, run_to_completion, stateful_user_ewma)

        stream = read_events_stream(spark, events_json_dir,
                                    max_files_per_trigger=1)
        got = run_to_completion(stateful_user_ewma(stream), "t_ewma_ut",
                                output_mode="update")
        w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
        final = (got.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") == 1)
                 .select("user_id", "n_seen", "ewma_num", "ewma_den"))

        ev = read_table(spark, SF_SMALL, "events")
        wo = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        wn = Window.partitionBy("user_id")
        r = ev.select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
            F.row_number().over(wo).alias("rd"),
            F.count(F.lit(1)).over(wn).alias("n"))
        batch = (r.groupBy("user_id")
                 .agg(F.max("n").cast("bigint").alias("n_seen"),
                      F.sum(F.when(F.col("rd") <= 8, F.col("c") * F.expr(
                          "shiftleft(CAST(1 AS BIGINT), 8 - rd)"))
                            .otherwise(0)).alias("ewma_num"),
                      F.sum(F.when(F.col("rd") <= 8, F.expr(
                          "shiftleft(CAST(1 AS BIGINT), 8 - rd)"))
                            .otherwise(0)).alias("ewma_den")))
        cols = ["user_id", "n_seen", "ewma_num", "ewma_den"]
        assert _rows(final, cols) == _rows(batch, cols)

    def test_stateful_ewma_replay_idempotent(self, spark, events_json_dir):
        """At-least-once delivery: replaying every record must not
        double-weight the EWMA — the (ts, event_id) dedup in the
        state merge makes the VALUE identical to the exactly-once
        run (n_seen, the processed-record version counter, doubles
        — by design)."""
        from pyspark.sql import Window

        from gasket_spark.streaming.core import (
            read_events_stream, run_to_completion, stateful_user_ewma)

        def final_ewma(json_dir, name):
            stream = read_events_stream(spark, json_dir,
                                        max_files_per_trigger=1)
            got = run_to_completion(stateful_user_ewma(stream), name,
                                    output_mode="update")
            w = Window.partitionBy("user_id")                 .orderBy(F.col("n_seen").desc())
            return {(r.user_id, r.ewma_num, r.ewma_den) for r in
                    got.withColumn("rk", F.row_number().over(w))
                    .filter(F.col("rk") == 1)
                    .select("user_id", "ewma_num", "ewma_den")
                    .collect()}

        import glob
        import os
        import shutil
        import tempfile

        dup_dir = tempfile.mkdtemp(prefix="gasket_ewma_dup_")
        for i, f in enumerate(sorted(
                glob.glob(os.path.join(events_json_dir, "*")))):
            if os.path.isfile(f):
                shutil.copy(f, os.path.join(dup_dir, f"a{i}.json"))
                shutil.copy(f, os.path.join(dup_dir, f"b{i}.json"))
        assert final_ewma(dup_dir, "t_ewma_dup") ==             final_ewma(events_json_dir, "t_ewma_once")

    def test_state_accumulates_across_batches(self, spark, events_json_dir):
        """With maxFilesPerTrigger=1 the input arrives over ≥4
        micro-batches; users seen in several batches must emit strictly
        increasing running counts — proof state survives batches."""
        from gasket_spark.streaming import (
            read_events_stream, stateful_user_totals)
        from gasket_spark.streaming.core import run_to_completion

        stream = read_events_stream(spark, events_json_dir,
                                    max_files_per_trigger=1)
        got = run_to_completion(stateful_user_totals(stream), "t_stateful2",
                                output_mode="update")
        multi = (got.groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n_updates"),
                      F.count_distinct("n_events").alias("n_distinct"))
                 .filter(F.col("n_updates") > 1))
        # every multi-update user saw its running count change
        assert multi.filter(
            F.col("n_distinct") < F.col("n_updates")).count() == 0
        assert multi.count() > 0

    def test_stateful_session_ewma_equals_batch(self, spark,
                                                events_json_dir):
        """Session-gap EWMA: the final update per user must equal the
        batch running-max-of-gaps formula over the last 8 events —
        under a DIFFERENT micro-batching (1 file/trigger) than the
        selfcheck oracle's replay, proving the session cut is a pure
        function of the merged state, not of arrival order."""
        from pyspark.sql import Window

        from gasket_spark.streaming.core import (
            read_events_stream, run_to_completion, stateful_session_ewma)

        stream = read_events_stream(spark, events_json_dir,
                                    max_files_per_trigger=1)
        got = run_to_completion(stateful_session_ewma(stream),
                                "t_sess_ewma_ut", output_mode="update")
        w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
        final = (got.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") == 1)
                 .select("user_id", "n_seen", "sess_len",
                         "ewma_num", "ewma_den"))

        ev = read_table(spark, SF_SMALL, "events")
        wo = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        wn = Window.partitionBy("user_id")
        r = (ev.select(
                "user_id", "ts",
                F.round(F.col("value") * 100).cast("bigint").alias("c"),
                F.row_number().over(wo).alias("rd"),
                F.count(F.lit(1)).over(wn).alias("n"))
             .filter(F.col("rd") <= 8))
        wrd = Window.partitionBy("user_id").orderBy("rd")
        gap = (F.unix_micros(F.lag("ts").over(wrd).cast("timestamp"))
               - F.unix_micros(F.col("ts").cast("timestamp")))
        mg = F.max(F.coalesce(gap, F.lit(0))).over(
            Window.partitionBy("user_id").orderBy("rd")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        in_sess = mg <= 8 * 3600 * 1_000_000
        batch = (r.withColumn("in_s", in_sess)
                 .groupBy("user_id")
                 .agg(F.max("n").cast("bigint").alias("n_seen"),
                      F.sum(F.col("in_s").cast("bigint"))
                      .alias("sess_len"),
                      F.sum(F.when(F.col("in_s"), F.col("c") * F.expr(
                          "shiftleft(CAST(1 AS BIGINT), 8 - rd)"))
                            .otherwise(0)).alias("ewma_num"),
                      F.sum(F.when(F.col("in_s"), F.expr(
                          "shiftleft(CAST(1 AS BIGINT), 8 - rd)"))
                            .otherwise(0)).alias("ewma_den")))
        cols = ["user_id", "n_seen", "sess_len", "ewma_num", "ewma_den"]
        assert _rows(final, cols) == _rows(batch, cols)

    def test_stateful_ttl_equals_batch_and_drops_late(self, spark,
                                                      events_json_dir):
        """Event-time TTL: the final kept set per user must equal the
        batch statement (ts ≥ max − 72 h ∧ rank ≤ 64) under 1-file
        triggers, and at least one user must actually have dropped
        (expired) events — otherwise the fixture isn't exercising
        eviction at all."""
        from pyspark.sql import Window

        from gasket_spark.streaming.core import (
            read_events_stream, run_to_completion, stateful_ttl_totals)

        stream = read_events_stream(spark, events_json_dir,
                                    max_files_per_trigger=1)
        got = run_to_completion(stateful_ttl_totals(stream),
                                "t_ttl_ut", output_mode="update")
        w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
        final = (got.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") == 1)
                 .select("user_id", "n_seen", "n_kept", "kept_cents"))

        ev = read_table(spark, SF_SMALL, "events")
        wo = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        wn = Window.partitionBy("user_id")
        r = ev.select(
            "user_id", "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
            F.row_number().over(wo).alias("rd"),
            F.count(F.lit(1)).over(wn).alias("n"),
            F.max("ts").over(wn).alias("mx"))
        keep = (F.col("rd") <= 64) & (
            F.col("ts") >= F.col("mx") - F.expr("INTERVAL 72 HOURS"))
        batch = (r.withColumn("k", keep)
                 .groupBy("user_id")
                 .agg(F.max("n").cast("bigint").alias("n_seen"),
                      F.sum(F.col("k").cast("bigint")).alias("n_kept"),
                      F.sum(F.when(F.col("k"), F.col("c")).otherwise(0))
                      .alias("kept_cents")))
        cols = ["user_id", "n_seen", "n_kept", "kept_cents"]
        assert _rows(final, cols) == _rows(batch, cols)
        # eviction actually happened for someone
        assert final.filter(F.col("n_kept") < F.col("n_seen")).count() > 0

    def test_stateful_ttl_replay_idempotent(self, spark,
                                            events_json_dir):
        """At-least-once delivery: replaying every record must not
        change the kept set or its aggregate — the (ts, event_id)
        dedup in the TTL merge makes the VALUE identical to the
        exactly-once run (n_seen doubles by design)."""
        from pyspark.sql import Window

        from gasket_spark.streaming.core import (
            read_events_stream, run_to_completion, stateful_ttl_totals)

        def final_kept(json_dir, name):
            stream = read_events_stream(spark, json_dir,
                                        max_files_per_trigger=1)
            got = run_to_completion(stateful_ttl_totals(stream), name,
                                    output_mode="update")
            w = Window.partitionBy("user_id") \
                .orderBy(F.col("n_seen").desc())
            return {(r.user_id, r.n_kept, r.kept_cents) for r in
                    got.withColumn("rk", F.row_number().over(w))
                    .filter(F.col("rk") == 1)
                    .select("user_id", "n_kept", "kept_cents")
                    .collect()}

        import glob
        import os
        import shutil
        import tempfile

        dup_dir = tempfile.mkdtemp(prefix="gasket_ttl_dup_")
        for i, f in enumerate(sorted(
                glob.glob(os.path.join(events_json_dir, "*")))):
            if os.path.isfile(f):
                shutil.copy(f, os.path.join(dup_dir, f"a{i}.json"))
                shutil.copy(f, os.path.join(dup_dir, f"b{i}.json"))
        assert final_kept(dup_dir, "t_ttl_dup") == \
            final_kept(events_json_dir, "t_ttl_once")


class TestRateSource:
    def test_rate_source_runs_same_windowed_plan(self, spark):
        """Source-agnostic streaming: the exact windowed-counts plan
        the file-stream queries use must also run on Spark's built-in
        rate source (generated event time) — proving the transform
        layer has no file-source dependency (at scale: swap in Kafka,
        same plan)."""
        import time

        from gasket_spark.streaming.core import windowed_counts

        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 200).load()
            .select(F.col("timestamp").alias("ts"),
                    (F.col("value") % 3).cast("string").alias("event_type"),
                    (F.col("value") % 100).cast("double").alias("value"))
        )
        q = (windowed_counts(stream, window="1 second",
                             watermark="10 seconds")
             .writeStream.format("memory").queryName("t_rate_src")
             .outputMode("complete").start())
        try:
            for _ in range(40):
                time.sleep(0.5)
                if spark.table("t_rate_src").count() > 0:
                    break
        finally:
            q.stop()
        assert spark.table("t_rate_src").count() > 0


class TestKafkaSurface:
    def test_kafka_source_fails_loud_without_connector(self, spark):
        """The Kafka on-ramp is wired but the connector jar is not
        bundled here: constructing the plan must raise Spark's
        standard missing-data-source error (never a silent fallback).
        With the connector on the classpath the same call yields the
        typed record stream every downstream plan consumes."""
        from pyspark.errors.exceptions.base import PySparkException

        from gasket_spark.streaming.core import read_kafka_stream

        try:
            read_kafka_stream(
                spark, "localhost:9092", "events",
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string")
        except PySparkException as exc:
            assert "kafka" in str(exc).lower()
        else:  # connector present in this environment: surface works
            pass


class TestIdempotentSink:
    def test_replayed_batch_overwrites_not_appends(self, spark, tmp_path):
        """Simulate the at-least-once replay: deliver the SAME batch id
        twice (second delivery with different partial content, as a
        recovered retry would). The keyed-overwrite sink must converge
        to the retry's output — no double-append."""
        from gasket_spark.streaming.core import idempotent_batch_sink

        base = str(tmp_path / "out")
        sink = idempotent_batch_sink(base)
        b0 = spark.range(0, 50).withColumnRenamed("id", "v")
        sink(b0, 0)
        sink(spark.range(100, 110).withColumnRenamed("id", "v"), 1)
        # failure recovery: batch 0 is replayed in full
        sink(b0, 0)
        back = spark.read.parquet(base)
        assert back.count() == 60  # 50 + 10, not 100 + 10
        assert back.filter("batch_id = 0").count() == 50

    def test_end_to_end_stream_through_pipeline(self, spark, tmp_path):
        """The pipe-verb bridge + idempotent sink together: a bounded
        file stream through an Engine pipeline lands exactly once."""
        import time

        from gasket_spark.pipeline.engine import Engine
        from gasket_spark.streaming.core import idempotent_batch_sink

        src_dir = str(tmp_path / "src")
        spark.range(0, 200).selectExpr("cast(id as string) AS value") \
            .repartition(4).write.mode("overwrite").text(src_dir)
        stream = spark.readStream.format("text") \
            .option("maxFilesPerTrigger", 1).load(src_dir)
        eng = Engine(
            {"enrich": [lambda df, ctx: df.selectExpr(
                "value", "length(value) AS n")]}, spark=spark)
        from gasket_spark.streaming.core import run_pipeline_streaming
        out_dir = str(tmp_path / "out")
        q = run_pipeline_streaming(eng, "enrich", stream,
                                   idempotent_batch_sink(out_dir))
        try:
            for _ in range(60):
                time.sleep(0.5)
                try:
                    if spark.read.parquet(out_dir).count() >= 200:
                        break
                except Exception:
                    continue
        finally:
            q.stop()
        back = spark.read.parquet(out_dir)
        assert back.count() == 200
        assert back.select("value").distinct().count() == 200


class TestStreamCdcApply:
    def test_partial_bucket_rewrite_and_latest_wins(self, spark, tmp_path):
        import json
        import os

        from pyspark.sql import functions as F

        from gasket_spark.streaming.core import stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1, f2 = os.path.join(src, "a.json"), os.path.join(src, "b.json")
        with open(f1, "w") as fh:
            for k in range(8):
                fh.write(json.dumps({"k": k, "o": 1, "v": 10 + k}) + "\n")
        with open(f2, "w") as fh:
            fh.write(json.dumps({"k": 0, "o": 2, "v": 99}) + "\n")
        os.utime(f1, (1_600_000_000, 1_600_000_000))
        os.utime(f2, (1_600_000_500, 1_600_000_500))
        stream = spark.readStream.schema("k long, o long, v long") \
            .option("maxFilesPerTrigger", 1).json(src)
        tdir = str(tmp_path / "table")
        buckets = stream_cdc_apply(stream, tdir, ["k"], ["o"],
                                   n_buckets=8)
        got = {r.k: r.v for r in spark.read.parquet(*buckets).collect()}
        assert got == {0: 99, **{k: 10 + k for k in range(1, 8)}}
        # batch 1 (single key) rewrote ONLY that key's bucket
        versions = sorted(os.listdir(os.path.join(tdir, "versions")))
        assert len(versions) == 2
        v1 = os.path.join(tdir, "versions", versions[1])
        v1_buckets = [d for d in os.listdir(v1) if d.startswith("_b=")]
        assert len(v1_buckets) == 1
        k0_bucket = spark.range(1).select(
            F.pmod(F.hash(F.lit(0).cast("long")), F.lit(8))).first()[0]
        assert v1_buckets[0] == f"_b={k0_bucket}"

    def test_file_group_pruning_within_bucket(self, spark, tmp_path):
        """A hot bucket splits into key-sorted file groups with range
        stats; a later batch touching a narrow key range rewrites only
        the overlapping file groups — the rest carry forward in the
        manifest pointing at the OLD version dir (zero IO)."""
        import json
        import os

        from gasket_spark.streaming.core import stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1, f2 = os.path.join(src, "a.json"), os.path.join(src, "b.json")
        with open(f1, "w") as fh:
            for k in range(100):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        with open(f2, "w") as fh:
            fh.write(json.dumps({"k": 5, "o": 2, "v": 555}) + "\n")
        os.utime(f1, (1_600_000_000, 1_600_000_000))
        os.utime(f2, (1_600_000_500, 1_600_000_500))
        stream = spark.readStream.schema("k long, o long, v long") \
            .option("maxFilesPerTrigger", 1).json(src)
        tdir = str(tmp_path / "table")
        files = stream_cdc_apply(stream, tdir, ["k"], ["o"],
                                 n_buckets=1, target_file_rows=10)
        got = {r.k: r.v for r in spark.read.parquet(*files).collect()}
        assert got == {5: 555, **{k: k for k in range(100) if k != 5}}
        with open(os.path.join(tdir, "LATEST")) as fh:
            man = json.load(fh)["buckets"]
        ents = man["0"]
        v0 = [e for e in ents if "/v000000000/" in e["path"]]
        v1 = [e for e in ents if "/v000000001/" in e["path"]]
        # batch 0 split the bucket into 10 file groups; batch 1 (one
        # key) re-read and rewrote exactly the one group covering k=5
        assert len(v0) == 9 and len(v1) == 1
        assert v1[0]["kmin"] <= 5 <= v1[0]["kmax"]
        # stats are disjoint, ordered, and cover every key
        spans = sorted((e["kmin"], e["kmax"]) for e in ents)
        assert all(a1 > b2 for (_, b2), (a1, _) in zip(spans, spans[1:]))
        # quiet-batch compaction: the 10 accumulated groups re-pack
        # into fresh target-sized groups, content byte-identical
        from gasket_spark.streaming.core import compact_cdc_table
        cfiles = compact_cdc_table(spark, tdir, ["k"],
                                   target_file_rows=25)
        got2 = {r.k: r.v for r in spark.read.parquet(*cfiles).collect()}
        assert got2 == got
        assert len(cfiles) == 4 and all("/c" in p for p in cfiles)
        # GC: compaction left v0/v1 wholly unreferenced — collect them,
        # keep the live compacted dir, table still reads identically
        from gasket_spark.streaming.core import gc_cdc_table
        removed = gc_cdc_table(tdir)
        assert len(removed) == 2 and all("/v0" in p for p in removed)
        assert {r.k: r.v
                for r in spark.read.parquet(*cfiles).collect()} == got
        assert gc_cdc_table(tdir) == []
        # compaction RE-RUN with no intervening batch must write a
        # fresh generation dir (never overwrite the one it reads)
        cfiles2 = compact_cdc_table(spark, tdir, ["k"],
                                    target_file_rows=25)
        assert cfiles2 != cfiles
        assert {r.k: r.v
                for r in spark.read.parquet(*cfiles2).collect()} == got

    def test_timestamp_merge_key(self, spark, tmp_path):
        """A datetime leading merge key must serialize into the JSON
        manifest (ISO strings; lexicographic == chronological) and
        prune consistently — the stat path that raw collected
        datetimes would crash."""
        import json
        import os

        from gasket_spark.streaming.core import stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1 = os.path.join(src, "a.json")
        with open(f1, "w") as fh:
            for h in range(6):
                fh.write(json.dumps(
                    {"ts": f"2024-01-01T0{h}:00:00", "o": 1,
                     "v": h}) + "\n")
        stream = spark.readStream \
            .schema("ts timestamp, o long, v long").json(src)
        tdir = str(tmp_path / "table")
        files = stream_cdc_apply(stream, tdir, ["ts"], ["o"],
                                 n_buckets=2, target_file_rows=2)
        got = sorted(r.v for r in spark.read.parquet(*files).collect())
        assert got == [0, 1, 2, 3, 4, 5]
        with open(os.path.join(tdir, "LATEST")) as fh:
            ents = [e for es in json.load(fh)["buckets"].values()
                    for e in es]
        assert ents and all(
            isinstance(e["kmin"], str) and e["kmin"] <= e["kmax"]
            for e in ents)

    def test_replay_after_checkpoint_loss_is_idempotent(self, spark,
                                                        tmp_path):
        """The manifest flip is the commit point: if the engine's
        checkpoint is lost (crash between flip and checkpoint commit),
        replayed batches must NO-OP against an already-committed
        manifest instead of re-merging — re-running would read file
        groups inside the version dir it overwrites."""
        import json
        import os
        import shutil

        from gasket_spark.streaming.core import stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1, f2 = os.path.join(src, "a.json"), os.path.join(src, "b.json")
        with open(f1, "w") as fh:
            for k in range(20):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        with open(f2, "w") as fh:
            fh.write(json.dumps({"k": 3, "o": 2, "v": 333}) + "\n")
        os.utime(f1, (1_600_000_000, 1_600_000_000))
        os.utime(f2, (1_600_000_500, 1_600_000_500))
        tdir = str(tmp_path / "table")

        def run():
            stream = spark.readStream.schema("k long, o long, v long") \
                .option("maxFilesPerTrigger", 1).json(src)
            return stream_cdc_apply(stream, tdir, ["k"], ["o"],
                                    n_buckets=2)

        files = run()
        want = {r.k: r.v for r in spark.read.parquet(*files).collect()}
        assert want[3] == 333
        # lose the checkpoint, keep the table: the rerun replays every
        # batch from 0 — all must hit the idempotency guard
        shutil.rmtree(os.path.join(tdir, "_cp"))
        files2 = run()
        assert files2 == files
        got = {r.k: r.v for r in spark.read.parquet(*files2).collect()}
        assert got == want

    def test_null_merge_key_update_is_not_pruned(self, spark, tmp_path):
        """min/max stats skip NULLs, so range pruning is blind to
        NULL-key rows: a file group holding one must be re-read
        whenever a batch carries a NULL key, or the stale NULL-key
        version survives next to the new one (the unsound-pruning bug
        this knull/bnull flag pair fixes)."""
        from gasket_spark.streaming.core import stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1, f2 = os.path.join(src, "a.json"), os.path.join(src, "b.json")
        with open(f1, "w") as fh:
            fh.write(json.dumps({"k": None, "o": 1, "v": 7}) + "\n")
            for k in range(1, 11):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        with open(f2, "w") as fh:
            # NULL-key update plus a key far outside the first group's
            # non-null range — without the null flags the group holding
            # the NULL row range-prunes and the stale v=7 row survives
            fh.write(json.dumps({"k": None, "o": 2, "v": 777}) + "\n")
            fh.write(json.dumps({"k": 50, "o": 2, "v": 50}) + "\n")
        os.utime(f1, (1_600_000_000, 1_600_000_000))
        os.utime(f2, (1_600_000_500, 1_600_000_500))
        stream = spark.readStream.schema("k long, o long, v long") \
            .option("maxFilesPerTrigger", 1).json(src)
        tdir = str(tmp_path / "table")
        files = stream_cdc_apply(stream, tdir, ["k"], ["o"],
                                 n_buckets=1, target_file_rows=3)
        rows = spark.read.parquet(*files).collect()
        null_rows = [r for r in rows if r.k is None]
        assert [(r.o, r.v) for r in null_rows] == [(2, 777)]
        assert {r.k: r.v for r in rows if r.k is not None} == {
            50: 50, **{k: k for k in range(1, 11)}}

    def test_checkpoint_reset_with_new_data_raises(self, spark, tmp_path):
        """A fresh checkpoint restarts batch ids at 0; if the replayed
        content does NOT match the committed batches' fingerprints the
        apply must fail loudly instead of silently dropping the new
        changes (the guard only no-ops on a true replay)."""
        from gasket_spark.streaming.core import stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1, f2 = os.path.join(src, "a.json"), os.path.join(src, "b.json")
        with open(f1, "w") as fh:
            for k in range(10):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        with open(f2, "w") as fh:
            fh.write(json.dumps({"k": 2, "o": 2, "v": 222}) + "\n")
        os.utime(f1, (1_600_000_000, 1_600_000_000))
        os.utime(f2, (1_600_000_500, 1_600_000_500))
        tdir = str(tmp_path / "table")
        stream = spark.readStream.schema("k long, o long, v long") \
            .option("maxFilesPerTrigger", 1).json(src)
        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=2)
        # reset the checkpoint AND add new data: the rerun (no
        # maxFilesPerTrigger) lumps all three files into batch 0 <=
        # committed batch 1 with different content
        import shutil

        shutil.rmtree(os.path.join(tdir, "_cp"))
        f3 = os.path.join(src, "c.json")
        with open(f3, "w") as fh:
            fh.write(json.dumps({"k": 7, "o": 3, "v": 999}) + "\n")
        stream2 = spark.readStream.schema("k long, o long, v long") \
            .json(src)
        with pytest.raises(Exception, match="batch-id regression"):
            stream_cdc_apply(stream2, tdir, ["k"], ["o"], n_buckets=2)

    def test_corrupted_manifest_raises(self, spark, tmp_path):
        """A truncated or tampered LATEST must raise, not serve rows."""
        from gasket_spark.streaming.core import (
            _load_manifest, compact_cdc_table, stream_cdc_apply,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as fh:
            for k in range(5):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        tdir = str(tmp_path / "table")
        stream = spark.readStream.schema("k long, o long, v long").json(src)
        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=1)
        pointer = os.path.join(tdir, "LATEST")
        good = open(pointer).read()
        # half-written file (not valid JSON)
        with open(pointer, "w") as fh:
            fh.write(good[: len(good) // 2])
        with pytest.raises(ValueError, match="not valid JSON"):
            _load_manifest(pointer)
        # valid JSON, tampered payload (checksum no longer matches)
        man = json.loads(good)
        man["batch"] = 99
        with open(pointer, "w") as fh:
            json.dump(man, fh)
        with pytest.raises(ValueError, match="checksum mismatch"):
            compact_cdc_table(spark, tdir, ["k"])
        # future schema_version (foreign writer) refuses too
        man = json.loads(good)
        del man["checksum"]
        man["schema_version"] = 99
        with open(pointer, "w") as fh:
            json.dump(man, fh)
        with pytest.raises(ValueError, match="schema_version"):
            _load_manifest(pointer)

    def test_gc_skips_in_flight_version_dirs(self, spark, tmp_path):
        """An unreferenced dir encoding a NEWER batch/gen than the
        committed manifest belongs to an in-flight write — GC must
        leave it for the imminent flip (and never touch unparseable
        names)."""
        from gasket_spark.streaming.core import gc_cdc_table, stream_cdc_apply

        src = str(tmp_path / "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as fh:
            for k in range(5):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        tdir = str(tmp_path / "table")
        stream = spark.readStream.schema("k long, o long, v long").json(src)
        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=1)
        vbase = os.path.join(tdir, "versions")
        # simulate: an in-flight batch 7 has written but not flipped;
        # an unknown dir name; and a stale superseded dir (batch <=
        # committed, unreferenced) that IS collectable
        os.makedirs(os.path.join(vbase, "v000000007", "_b=0"))
        os.makedirs(os.path.join(vbase, "mystery"))
        stale = os.path.join(vbase, "x")  # unparseable => kept
        os.makedirs(stale, exist_ok=True)
        removed = gc_cdc_table(tdir)
        assert removed == []
        assert os.path.isdir(os.path.join(vbase, "v000000007"))
        assert os.path.isdir(os.path.join(vbase, "mystery"))

    def test_await_or_raise_on_timeout(self):
        """awaitTermination(timeout) returning False must STOP the
        query and raise — falling through would read a stale LATEST as
        if the run committed."""
        from gasket_spark.streaming.core import _await_or_raise

        class HungQuery:
            name, id = "hung", "qid"
            stopped = False

            def awaitTermination(self, timeout=None):
                return False

            def stop(self):
                self.stopped = True

        q = HungQuery()
        with pytest.raises(TimeoutError, match="did not terminate"):
            _await_or_raise(q, 1)
        assert q.stopped

    def test_gc_grace_period_keeps_young_dirs(self, spark, tmp_path):
        """min_age_seconds is the read-lease horizon: freshly
        superseded dirs survive GC until the window passes."""
        from gasket_spark.streaming.core import (
            compact_cdc_table, gc_cdc_table, stream_cdc_apply,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1, f2 = os.path.join(src, "a.json"), os.path.join(src, "b.json")
        with open(f1, "w") as fh:
            for k in range(40):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        with open(f2, "w") as fh:
            fh.write(json.dumps({"k": 1, "o": 2, "v": 11}) + "\n")
        os.utime(f1, (1_600_000_000, 1_600_000_000))
        os.utime(f2, (1_600_000_500, 1_600_000_500))
        stream = spark.readStream.schema("k long, o long, v long") \
            .option("maxFilesPerTrigger", 1).json(src)
        tdir = str(tmp_path / "table")
        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=1,
                         target_file_rows=10)
        compact_cdc_table(spark, tdir, ["k"], target_file_rows=20)
        # the superseded dirs are seconds old: a 1-hour lease keeps them
        assert gc_cdc_table(tdir, min_age_seconds=3600) == []
        removed = gc_cdc_table(tdir)      # eager collects them
        assert removed

    def test_delete_tombstones_and_late_data_confluence(self, spark,
                                                        tmp_path):
        """A delete merges as a KEPT tombstone: the key vanishes from
        the logical read, a LATE out-of-order re-insert (older order
        value) loses latest-wins against it (no resurrection), and
        purge_tombstones physically reclaims the rows afterwards."""
        from gasket_spark.sources.cdc import read_cdc_table
        from gasket_spark.streaming.core import (
            purge_tombstones, stream_cdc_apply,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        f1 = os.path.join(src, "a.json")
        f2 = os.path.join(src, "b.json")
        f3 = os.path.join(src, "c.json")
        with open(f1, "w") as fh:
            for k in range(6):
                fh.write(json.dumps({"k": k, "o": 1, "v": k,
                                     "dele": False}) + "\n")
        with open(f2, "w") as fh:    # delete k=2 at o=5
            fh.write(json.dumps({"k": 2, "o": 5, "v": None,
                                 "dele": True}) + "\n")
        with open(f3, "w") as fh:    # LATE data: an older insert k=2
            fh.write(json.dumps({"k": 2, "o": 3, "v": 222,
                                 "dele": False}) + "\n")
        for i, f in enumerate([f1, f2, f3]):
            os.utime(f, (1_600_000_000 + i * 500,) * 2)
        stream = spark.readStream \
            .schema("k long, o long, v long, dele boolean") \
            .option("maxFilesPerTrigger", 1).json(src)
        tdir = str(tmp_path / "table")
        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=1,
                         target_file_rows=4, delete_col="dele")
        # logical read: k=2 stays deleted (tombstone at o=5 beats the
        # late o=3 insert), everything else intact
        logical = {r.k: r.v for r in read_cdc_table(spark, tdir).collect()}
        assert logical == {k: k for k in range(6) if k != 2}
        # physical read shows the tombstone (audit view)
        phys = read_cdc_table(spark, tdir, include_tombstones=True)
        tomb = [r for r in phys.collect() if r.k == 2]
        assert len(tomb) == 1 and tomb[0].dele and tomb[0].o == 5
        # purge reclaims the tombstone; logical content unchanged
        files = purge_tombstones(spark, tdir, target_file_rows=4)
        phys2 = {r.k for r in spark.read.parquet(*files).collect()}
        assert 2 not in phys2
        assert {r.k: r.v
                for r in read_cdc_table(spark, tdir).collect()} == logical

    def test_rebucket_live_table(self, spark, tmp_path):
        """Partition evolution: re-bucketing rewrites the table under
        a new bucket count content-identically; a writer still hashing
        with the old count is refused; a correctly-restarted writer
        merges on."""
        from gasket_spark.sources.cdc import read_cdc_table
        from gasket_spark.streaming.core import (
            rebucket_cdc_table, resolve_manifest, stream_cdc_apply,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as fh:
            for k in range(50):
                fh.write(json.dumps({"k": k, "o": 1, "v": k}) + "\n")
        stream = spark.readStream.schema("k long, o long, v long").json(src)
        tdir = str(tmp_path / "table")
        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=2,
                         target_file_rows=10)
        before = {(r.k, r.v) for r in read_cdc_table(spark, tdir).collect()}
        files = rebucket_cdc_table(spark, tdir, new_n_buckets=8,
                                   target_file_rows=10)
        assert resolve_manifest(tdir)["n_buckets"] == 8
        assert {(r.k, r.v)
                for r in spark.read.parquet(*files).collect()} == before
        # a writer still on n_buckets=2 must be refused
        with open(os.path.join(src, "b.json"), "w") as fh:
            fh.write(json.dumps({"k": 7, "o": 2, "v": 777}) + "\n")
        stale = spark.readStream.schema("k long, o long, v long").json(src)
        with pytest.raises(Exception, match="n_buckets"):
            stream_cdc_apply(stale, tdir, ["k"], ["o"], n_buckets=2,
                             target_file_rows=10)
        # restarted with the table's count (same checkpoint — the
        # refused batch was never committed, so it simply retries),
        # the merge applies cleanly
        fresh = spark.readStream.schema("k long, o long, v long").json(src)
        stream_cdc_apply(fresh, tdir, ["k"], ["o"], n_buckets=8,
                         target_file_rows=10)
        got = {r.k: r.v for r in read_cdc_table(spark, tdir).collect()}
        assert got[7] == 777 and len(got) == 50

    def test_manifest_stats_match_committed_files(self, spark, tmp_path):
        """Every writer (merge, compact, rebucket, purge) leaves one
        parquet file per ``_b=i/_f=j`` dir, records in LATEST exactly
        the min/max/null-presence of the stat column those files hold,
        and leaks no cached frame."""
        from gasket_spark.streaming.core import (
            compact_cdc_table, purge_tombstones, rebucket_cdc_table,
            resolve_manifest, stream_cdc_apply,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        for i in range(3):
            f = os.path.join(src, f"{i}.json")
            with open(f, "w") as fh:
                for j in range(12):
                    k = None if (i, j) == (1, 4) else (i * 5 + j) % 20
                    fh.write(json.dumps({"k": k, "o": i, "v": j,
                                         "dele": j % 5 == 0}) + "\n")
            os.utime(f, (1_600_000_000 + i * 500,) * 2)
        stream = spark.readStream \
            .schema("k long, o long, v long, dele boolean") \
            .option("maxFilesPerTrigger", 1).json(src)
        tdir = str(tmp_path / "table")
        jsc = spark.sparkContext._jsc
        cached = jsc.getPersistentRDDs().size()

        def check():
            import pyarrow.parquet as pq

            man = resolve_manifest(tdir)
            assert jsc.getPersistentRDDs().size() == cached
            ents = [e for es in man["buckets"].values() for e in es]
            assert ents
            for e in ents:
                files = [f for f in os.listdir(e["path"])
                         if f.endswith(".parquet")]
                assert len(files) == 1, e["path"]
                ks = pq.read_table(os.path.join(e["path"], files[0]),
                                   columns=["k"]).column("k").to_pylist()
                vals = [k for k in ks if k is not None]
                assert (e["kmin"], e["kmax"], e["knull"]) == (
                    min(vals, default=None), max(vals, default=None),
                    None in ks), e
            return man

        stream_cdc_apply(stream, tdir, ["k"], ["o"], n_buckets=4,
                         target_file_rows=3, delete_col="dele")
        assert check()["batch"] == 2
        compact_cdc_table(spark, tdir, ["k"], target_file_rows=3)
        check()
        rebucket_cdc_table(spark, tdir, new_n_buckets=3,
                           target_file_rows=3)
        check()
        purge_tombstones(spark, tdir, target_file_rows=3)
        check()


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_protobuf(), reason=(
    "transformWithStateInPandas needs the protobuf package for its "
    "worker protocol; not installed in this container"))
def test_typed_state_totals_matches_batch(spark, events_json_dir):
    """Spark 4 transformWithStateInPandas (ValueState + MapState):
    the final per-user row after replaying real micro-batches must
    equal the batch groupBy over the same events."""
    from pyspark.sql import Window

    from gasket_spark.streaming.core import typed_state_totals

    stream = read_events_stream(spark, events_json_dir)
    updates = run_to_completion(
        typed_state_totals(stream, watermark="96 hours"),
        "t_typed_state", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (updates.withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") == 1))
    batch = (read_table(spark, SF_SMALL, "events")
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.round(F.col("value") * 100).cast("bigint"))
                  .alias("total_cents"),
                  F.count_distinct("event_type").alias("n_types"),
                  F.min("event_id").alias("min_event_id")))
    cols = ["user_id", "n_events", "total_cents", "n_types",
            "min_event_id"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_typed_state_raises_cleanly_without_protobuf(spark,
                                                    events_json_dir):
    """Without protobuf the typed-state operator must fail LOUDLY at
    stream start (the gated-dependency contract, like the Kafka
    connector) — never silently degrade."""
    if _has_protobuf():
        pytest.skip("protobuf present; the gated path does not apply")
    from gasket_spark.streaming.core import typed_state_totals

    stream = read_events_stream(spark, events_json_dir)
    with pytest.raises(Exception,
                   match="protobuf|INITIALIZATION|TransformWithState|crashed"):
        run_to_completion(typed_state_totals(stream, watermark="96 hours"),
                          "t_typed_state_gate", output_mode="update")


class TestBatchCdcApply:
    def test_versions_equal_prefix_folds_and_replay_noops(
            self, spark, tmp_path):
        """batch_cdc_apply's contract: version k == latest-wins over
        batches 0..k (confluence), LATEST == the full fold, and
        re-applying the same batch list is a no-op (fingerprint
        replay guard)."""
        from gasket_spark.sources.cdc import read_cdc_table
        from gasket_spark.streaming.core import batch_cdc_apply

        rows = [(k % 4, t, k, 100 + k) for t, k in enumerate(range(12))]
        df = spark.createDataFrame(
            rows, "k int, o int, change_id int, val int")
        batches = [df.filter(F.col("change_id") % 3 == i)
                   for i in range(3)]
        tdir = str(tmp_path / "cdc")
        batch_cdc_apply(batches, tdir, key_cols=["k"], order_cols=["o"],
                        n_buckets=2, target_file_rows=4)

        def fold(prefix):
            import itertools
            best = {}
            for i in range(prefix + 1):
                for r in [x for x in rows if x[2] % 3 == i]:
                    cur = best.get(r[0])
                    if cur is None or r[1] > cur[1]:
                        best[r[0]] = r
            return {(r[0], r[1], r[3]) for r in best.values()}

        for v in range(3):
            got = {(r["k"], r["o"], r["val"])
                   for r in read_cdc_table(spark, tdir, version=v)
                   .collect()}
            assert got == fold(v), f"version {v}"
        latest = {(r["k"], r["o"], r["val"])
                  for r in read_cdc_table(spark, tdir).collect()}
        assert latest == fold(2)

        # exact replay: same list, same ids, same content -> no-op
        batch_cdc_apply(batches, tdir, key_cols=["k"], order_cols=["o"],
                        n_buckets=2, target_file_rows=4)
        again = {(r["k"], r["o"], r["val"])
                 for r in read_cdc_table(spark, tdir).collect()}
        assert again == latest

        # replay with DIFFERENT content under a committed batch id
        # must refuse loudly, not drop changes
        bad = [df.filter(F.col("change_id") % 3 == 2),
               df.filter(F.col("change_id") % 3 == 1),
               df.filter(F.col("change_id") % 3 == 0)]
        with pytest.raises(Exception, match="fingerprint|regression"):
            batch_cdc_apply(bad, tdir, key_cols=["k"], order_cols=["o"],
                            n_buckets=2, target_file_rows=4)

    def test_empty_batch_commits_unchanged_buckets(self, spark, tmp_path):
        """An empty batch writes a version dir with no data files; the
        stats read back from it are empty, so its version commits the
        previous buckets unchanged and later batches merge on."""
        from gasket_spark.sources.cdc import read_cdc_table
        from gasket_spark.streaming.core import (
            batch_cdc_apply, resolve_manifest,
        )

        schema = "k int, o int, val int"
        b0 = spark.createDataFrame([(k, 0, k) for k in range(6)], schema)
        b2 = spark.createDataFrame([(1, 2, 100), (3, 1, 300), (7, 2, 700)],
                                   schema)
        tdir = str(tmp_path / "cdc")
        batch_cdc_apply([b0, spark.createDataFrame([], schema), b2], tdir,
                        key_cols=["k"], order_cols=["o"], n_buckets=2,
                        target_file_rows=4)
        v0, v1 = resolve_manifest(tdir, 0), resolve_manifest(tdir, 1)
        assert v1["batch"] == 1 and v1["buckets"] == v0["buckets"]
        got = {(r["k"], r["o"], r["val"])
               for r in read_cdc_table(spark, tdir).collect()}
        assert got == {(0, 0, 0), (1, 2, 100), (2, 0, 2), (3, 1, 300),
                       (4, 0, 4), (5, 0, 5), (7, 2, 700)}


class TestTzEnvInvariance:
    def test_ordered_replay_cutoff_tz_invariant(self, spark):
        """The ordered-replay sentinel cutoff must not depend on the
        PROCESS-LOCAL zone. Collecting the NTZ max event time as a
        naive Python datetime and re-sending it through ``F.lit()``
        interprets the wall value via ``time.mktime`` (TZ env): under
        a positive-offset zone the cutoff lands offset-early and
        silently drops tail windows (the r8 TZ=Asia/Kathmandu sweep
        red: 3361/3385 rows at sf0.01). ``time.tzset()`` flips the
        Python side without restarting the UTC-pinned JVM — exactly
        the crossing the fix removed, so this guards the whole bug
        class. Results are compared engine-side in epoch micros
        because batch ``collect()`` of TIMESTAMP also renders via the
        local zone."""
        import time

        from gasket_spark.queries.streamingq import q_stream_dedup_window

        def rows():
            df = q_stream_dedup_window(spark, SF_SMALL)
            return sorted(
                (r["ws"], r["event_type"], r["n"], r["total_cents"])
                for r in df.select(
                    F.unix_micros("w_start").alias("ws"),
                    "event_type", "n", "total_cents").collect())

        old_tz = os.environ.get("TZ")
        base = rows()
        assert len(base) > 0
        try:
            # +05:45 — a sub-hour positive offset, the worst case
            os.environ["TZ"] = "Asia/Kathmandu"
            time.tzset()
            assert rows() == base
        finally:
            if old_tz is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = old_tz
            time.tzset()
