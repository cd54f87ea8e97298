"""Structured Streaming realization of gasket's unbounded verbs.

The reference distinguishes ``.pipe`` (stdin open — unbounded input,
/root/reference/index.js:188-195) from ``.run`` (stdin ended — bounded,
index.js:197-201), and has a ``background`` stage type whose streams
run beside the main pipeline and are destroyed when it ends
(index.js:167-174). On Spark those become: the same logical plan
executed by ``readStream`` instead of ``read``; and a side
StreamingQuery started before and stopped after the main action —
:class:`BackgroundQuery`.

Everything here is watermark-correct for late data and uses the same
window expressions as the batch queries in
``gasket_spark.queries.streamingq``, so streaming-vs-batch equivalence
is testable (tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


# JSON's default timestamp *rendering* (to_json) is millisecond
# precision; event time is microseconds. Writers must pin this format.
# Readers need no option: with no timestampFormat set, Spark's JSON
# parser falls back to flexible ISO-8601 (any fraction width).
TS_FORMAT_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def to_ndjson_lines(df: DataFrame) -> DataFrame:
    """Render typed rows to NDJSON ``value`` lines with FULL
    microsecond event time — the one sanctioned serializer for stream
    replay dirs. Spark 4 reads parquet timestamps as TIMESTAMP_NTZ
    (``inferTimestampNTZ``), and ``to_json`` formats NTZ columns with
    ``timestampNTZFormat`` (default: milliseconds) no matter what
    ``timestampFormat`` says — so NTZ columns are first cast to
    TIMESTAMP (a pure type lift under the UTC-pinned session) and the
    microsecond format then actually applies."""
    cols = [F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz"
            else F.col(c) for c, t in df.dtypes]
    lifted = df.select(*cols)
    return lifted.select(
        F.to_json(F.struct(*lifted.columns),
                  {"timestampFormat": TS_FORMAT_US}).alias("value"))


def read_events_stream(spark: SparkSession, path: str,
                       schema: StructType = EVENTS_SCHEMA,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based streaming source over NDJSON event files. At scale
    this is the replayable on-ramp (each micro-batch picks up new
    files); swap for Kafka by replacing this one function — everything
    downstream is source-agnostic."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time counts with a watermark: late rows within
    ``watermark`` still update their window; older ones are dropped and
    state is reclaimed (bounded state at 100 TB/day input)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(F.round(F.col("value") * 100).cast("bigint"))
              / F.lit(100.0)).alias("total_value"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "event_type", "n", "total_value")
    )


def sliding_counts(events: DataFrame, window: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Sliding event-time counts: each row updates window/slide
    overlapping windows' state entries; watermark reclaims state as in
    :func:`windowed_counts`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"), "n")
    )


def sessionized_counts(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Session windows under streaming — Spark's native stateful
    session merging (the batch twin is q_window_session)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("s.start").alias("s_start"),
                F.col("s.end").alias("s_end"), "n")
    )


def streaming_dedup_retries(events: DataFrame,
                            keys: list[str] | None = None,
                            watermark: str = "2 hours") -> DataFrame:
    """Exactly-once under RETRIES WITH DIFFERENT TIMESTAMPS:
    ``dropDuplicatesWithinWatermark`` keeps the FIRST row per key and
    suppresses any later row with the same key whose event time lands
    within the watermark delay of it — the real at-least-once ingest
    shape where a producer retry stamps a NEW time (gateway receive
    time, Kafka append time), which plain ``dropDuplicates`` on
    (key, ts) would pass through as two distinct rows
    (:func:`streaming_dedup` needs byte-identical replays). State per
    key expires once the watermark passes first-seen + delay — the
    same O(horizon) bound, proven by the duplicate-suppression test
    rather than assumed."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys or ["event_id"]))


def windowed_leaderboard(events: DataFrame, window: str = "1 hour",
                         watermark: str = "5 minutes") -> DataFrame:
    """Streaming per-(window, user) running totals — the stateful
    half of a windowed top-k leaderboard ("top spenders per hour").

    Deliberately JVM-native (a watermarked windowed aggregate in
    APPEND mode), not ``applyInPandasWithState``: the state rows are
    (window, user) partial aggregates maintained by StateStoreSave,
    each finalized window row is emitted EXACTLY ONCE when the
    watermark passes its end, and the same watermark EVICTS the
    window's state (numRowsRemoved > 0 in the state-operator
    metrics — proven by
    tests/test_streaming.py::test_windowed_leaderboard_state_evicts).
    Peak state is bounded by the TIME HORIZON (open windows ×
    active users), never by replay length — the property that keeps
    a 100 TB/day leaderboard's state store flat. Totals accumulate
    in exact integer cents (round-before-cast), so results are
    replay- and partition-order independent.

    The top-k CUT is a bounded post-pass on finalized
    aggregate-grain rows (:func:`leaderboard_topk`) — ranking never
    needs to live in the state store.

    Reference parity: gasket's `pipe` composes a stream through
    stage processes (reference index.js:1-258); here the stage is a
    declarative stateful operator Catalyst schedules.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("total_cents"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "user_id", "n", "total_cents")
    )


def leaderboard_topk(finalized: DataFrame, k: int = 3) -> DataFrame:
    """Per-window top-k cut over :func:`windowed_leaderboard` output
    (finalized rows — a batch DataFrame read back from the sink).
    Deterministic order: total_cents desc, then user_id. Aggregate
    grain in, k rows per window out — the dashboard-side read."""
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("w_start")
        .orderBy(F.col("total_cents").desc(), F.col("user_id")))
    return (finalized.withColumn("rk", rk).filter(F.col("rk") <= k)
            .withColumn("rk", F.col("rk").cast("int")))


def streaming_dedup(events: DataFrame, keys: list[str] | None = None,
                    watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (``dropDuplicates`` keeps per-key state only until the watermark
    passes — the streaming analog of exact dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        (keys or ["event_id"]) + ["ts"])


def cents_half_up(values, scale: int = 100):
    """Half-AWAY-FROM-ZERO fixed-point conversion of a float64 numpy
    array (value → integer cents by default) — matching Spark
    ``F.round`` (BigDecimal HALF_UP) and DuckDB ``round``, NOT
    ``np.round``'s banker's half-to-even: a value landing exactly on
    a half-cent (0.125 → 12.5) must round to 13 like the batch
    oracles, not 12. sign·floor(|x|+0.5) operates on the identical
    IEEE double the JVM sees, so the conversion is bit-agreeing."""
    import numpy as np

    x = values * float(scale)
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


STATEFUL_TOTALS_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_cents", LongType()),
])

_TOTALS_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("cents", LongType()),
])


def stateful_user_totals(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running totals with EXPLICIT state — the shape for operators
    Spark's built-in stateful set (windows / sessions / dedup) can't
    express (per-key models, custom eviction, CDC-style accumulators).

    State is one (n, cents) pair per user — O(distinct keys), not
    O(events); each micro-batch folds its Arrow batches into the pair
    and emits the updated running row (update semantics). Money sums
    ride in integer cents so partitioning/batch order can't change the
    result. Works identically in batch mode (Spark runs the same
    operator with one "batch")."""
    import numpy as np
    import pandas as pd

    def _fold(key, pdf_iter, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(cents_half_up(
                pdf["value"].to_numpy(np.float64)).sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_cents": [cents]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=STATEFUL_TOTALS_SCHEMA,
            stateStructType=_TOTALS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


STATEFUL_EWMA_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_seen", LongType()),
    StructField("ewma_num", LongType()),
    StructField("ewma_den", LongType()),
])

_EWMA_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("ts_us", ArrayType(LongType())),
    StructField("eid", ArrayType(LongType())),
    StructField("cents", ArrayType(LongType())),
])


def stateful_user_ewma(events: DataFrame, k: int = 8,
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming EWMA per user (alpha = 1/2 over the last ``k``
    events) as a CONFLUENT stateful operator: state per key is the
    top-``k`` events by (ts, event_id) plus a total count — a
    semilattice merge (top-k of a union is the top-k of top-k's), so
    ANY micro-batching of the same records, in any order, folds to
    the same final state. That is what makes a recursive, order-
    sensitive statistic hash-verifiable against a batch oracle on an
    unordered replay source — the same confluence discipline as
    ``stream_cdc_apply``'s latest-wins merge.

    State is O(k) per key (k longs, never the event history); the
    emitted row carries the EXACT integer numerator/denominator
    (cents·2^(k−1−lag) weights, renormalized over the lags that
    exist) so the consumer derives the EWMA by INTEGER division,
    engine-identical by construction — no float rounding anywhere. Weights match q_window_ewma's
    fixed-point scheme at each user's final event.

    The merge dedups on (ts, event_id) before taking the top-k, so a
    REPLAYED record (at-least-once delivery) cannot double-weight
    the EWMA — the VALUE is replay-idempotent. ``n_seen`` counts
    processed records (the monotone version used to pick the final
    update); it equals the true event count only under exactly-once
    delivery — a distinct count would need unbounded state."""
    import numpy as np
    import pandas as pd

    def _fold(key, pdf_iter, state):
        if state.exists:
            n, ts_us, eid, cents = state.get
            rows = list(zip(ts_us, eid, cents))
        else:
            n, rows = 0, []
        for pdf in pdf_iter:
            n += len(pdf)
            ts_i = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            eid_i = pdf["event_id"].to_numpy("int64")
            c_i = cents_half_up(pdf["value"].to_numpy(np.float64))
            rows.extend(zip(ts_i.tolist(), eid_i.tolist(), c_i.tolist()))
        uniq = {(ts, eid): c for ts, eid, c in rows}
        rows = sorted(((ts, eid, c) for (ts, eid), c in uniq.items()),
                      key=lambda r: (r[0], r[1]), reverse=True)
        rows = rows[:k]
        state.update((n, [r[0] for r in rows], [r[1] for r in rows],
                      [r[2] for r in rows]))
        num = sum(c << (k - 1 - i) for i, (_, _, c) in enumerate(rows))
        den = sum(1 << (k - 1 - i) for i in range(len(rows)))
        yield pd.DataFrame({"user_id": [key[0]], "n_seen": [n],
                            "ewma_num": [num], "ewma_den": [den]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=STATEFUL_EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


STATEFUL_SESSION_EWMA_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_seen", LongType()),
    StructField("sess_len", LongType()),
    StructField("ewma_num", LongType()),
    StructField("ewma_den", LongType()),
])


def stateful_session_ewma(events: DataFrame, k: int = 8,
                          gap: str = "8 hours",
                          watermark: str = "2 hours") -> DataFrame:
    """SESSION-GAP EWMA: the confluent top-``k`` state of
    :func:`stateful_user_ewma` composed with session semantics — the
    EWMA weights cover only the CURRENT session's suffix of the last
    ``k`` events (the most recent consecutive run whose inter-event
    gaps are all ≤ ``gap``).

    The state is UNCHANGED (top-k events by (ts, event_id) — still a
    semilattice merge, still replay-dedup'd), only the EMIT differs:
    the kept rows are scanned newest→oldest and cut at the first gap
    larger than the threshold. That keeps the operator confluent —
    session membership is a pure function of the merged state, never
    of arrival order — which is what makes a session statistic
    hash-verifiable against a batch oracle on an UNORDERED replay.
    A session boundary older than the k-th kept event is invisible,
    and the batch oracle states the same k-bounded semantics, so
    both sides compute the identical cut."""
    import numpy as np
    import pandas as pd

    gap_us = int(pd.Timedelta(gap).value // 1000)

    def _fold(key, pdf_iter, state):
        if state.exists:
            n, ts_us, eid, cents = state.get
            rows = list(zip(ts_us, eid, cents))
        else:
            n, rows = 0, []
        for pdf in pdf_iter:
            n += len(pdf)
            ts_i = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            eid_i = pdf["event_id"].to_numpy("int64")
            c_i = cents_half_up(pdf["value"].to_numpy(np.float64))
            rows.extend(zip(ts_i.tolist(), eid_i.tolist(), c_i.tolist()))
        uniq = {(ts, eid): c for ts, eid, c in rows}
        rows = sorted(((ts, eid, c) for (ts, eid), c in uniq.items()),
                      key=lambda r: (r[0], r[1]), reverse=True)
        rows = rows[:k]
        state.update((n, [r[0] for r in rows], [r[1] for r in rows],
                      [r[2] for r in rows]))
        sess = 0
        for i, (ts, _, _) in enumerate(rows):
            if i > 0 and rows[i - 1][0] - ts > gap_us:
                break
            sess = i + 1
        num = sum(c << (k - 1 - i)
                  for i, (_, _, c) in enumerate(rows[:sess]))
        den = sum(1 << (k - 1 - i) for i in range(sess))
        yield pd.DataFrame({"user_id": [key[0]], "n_seen": [n],
                            "sess_len": [sess],
                            "ewma_num": [num], "ewma_den": [den]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=STATEFUL_SESSION_EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


STATEFUL_TTL_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_seen", LongType()),
    StructField("n_kept", LongType()),
    StructField("kept_cents", LongType()),
])


def stateful_ttl_totals(events: DataFrame, ttl: str = "72 hours",
                        cap: int = 64,
                        watermark: str = "2 hours") -> DataFrame:
    """EVENT-TIME state TTL: per-user totals over only the events
    within ``ttl`` of that user's LATEST event — the state-expiry
    pattern every long-lived keyed aggregation needs (without it,
    per-key state grows with history; with it, state is bounded by
    the TTL horizon).

    Eviction is EVENT-time against the per-key max — a pure function
    of the record set, so the final state is arrival-order-invariant
    (confluent) and exactly SQL-stateable: kept(e) ⇔ ts_e ≥
    max_ts_user − ttl ∧ rank(e) ≤ cap. A processing-time or
    watermark-clock TTL would make the kept set depend on batch
    boundaries — unverifiable against a batch oracle on an unordered
    replay. ``cap`` bounds state at the skew tail (top-``cap`` by
    (ts, event_id) — a semilattice, like the EWMA's top-k); the
    oracle states the same cap. State per key: ≤ cap (ts, eid,
    cents) triples + two counters — O(1) in corpus size."""
    import numpy as np
    import pandas as pd

    ttl_us = int(pd.Timedelta(ttl).value // 1000)

    def _fold(key, pdf_iter, state):
        if state.exists:
            n, ts_us, eid, cents = state.get
            rows = list(zip(ts_us, eid, cents))
        else:
            n, rows = 0, []
        for pdf in pdf_iter:
            n += len(pdf)
            ts_i = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            eid_i = pdf["event_id"].to_numpy("int64")
            c_i = cents_half_up(pdf["value"].to_numpy(np.float64))
            rows.extend(zip(ts_i.tolist(), eid_i.tolist(), c_i.tolist()))
        uniq = {(ts, eid): c for ts, eid, c in rows}
        rows = sorted(((ts, eid, c) for (ts, eid), c in uniq.items()),
                      key=lambda r: (r[0], r[1]), reverse=True)
        if rows:
            horizon = rows[0][0] - ttl_us
            rows = [r for r in rows if r[0] >= horizon][:cap]
        state.update((n, [r[0] for r in rows], [r[1] for r in rows],
                      [r[2] for r in rows]))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_seen": [n],
            "n_kept": [len(rows)],
            "kept_cents": [sum(c for _, _, c in rows)]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=STATEFUL_TTL_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _stat_val(v):
    """Normalize a min/max key stat for the JSON CDC manifest.
    Numbers and strings pass through; date/datetime become ISO strings
    (lexicographic order == chronological, and the batch side goes
    through the SAME conversion, so comparisons stay consistent); any
    other type (Decimal, bytes, …) returns None = "no stat", which
    :func:`_disjoint` treats as always-overlapping — pruning degrades
    to reading the file, never to skipping one that matters."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return None


def _disjoint(kmin, kmax, bmin, bmax) -> bool:
    """File-group range vs batch range, CONSERVATIVELY: any missing
    stat (all-NULL keys, un-serializable type) counts as overlapping.

    NULL-key soundness lives one level up (see ``stream_cdc_apply``):
    ``min``/``max`` skip NULLs, so a range says nothing about NULL-key
    rows — a file group that HOLDS a NULL-key row (``knull``) must be
    read whenever the batch CONTAINS one (``bnull``), regardless of
    how the non-null ranges compare."""
    if None in (kmin, kmax, bmin, bmax):
        return False
    return kmax < bmin or kmin > bmax


MANIFEST_SCHEMA_VERSION = 2


class CommitConflictError(RuntimeError):
    """A conditional manifest commit lost the race: LATEST no longer
    matches the state this writer based its update on (another
    committer flipped it, or a commit is in flight). The caller must
    re-read LATEST and re-derive its update — or abort; retrying the
    same put would silently drop the other writer's commit, which is
    the one forbidden outcome."""


def _write_manifest(pointer: str, man: dict) -> None:
    """Atomic CDC manifest write with integrity metadata:
    ``schema_version`` pins the layout this writer produced, and
    ``checksum`` (md5 of the canonical sans-checksum JSON) lets a
    reader DETECT a truncated, hand-edited, or foreign LATEST instead
    of trusting it. The ``os.replace`` flip is atomic on a POSIX
    filesystem. Concurrency control (conditional flip) lives one level
    up in :class:`ManifestStore` — this is the raw durable write."""
    import hashlib
    import json
    import os

    man = dict(man)
    man.pop("checksum", None)
    man["schema_version"] = MANIFEST_SCHEMA_VERSION
    payload = json.dumps(man, sort_keys=True)
    man["checksum"] = hashlib.md5(payload.encode()).hexdigest()
    tmp = pointer + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(man, fh)
    os.replace(tmp, pointer)


def _load_manifest(pointer: str) -> dict:
    """Read and VALIDATE the LATEST manifest. Raises ``ValueError`` on
    non-JSON content (half-written file), a checksum mismatch
    (tampered/corrupted payload), or a schema_version newer than this
    reader understands (foreign writer) — a CDC table must fail loudly
    on an untrustworthy pointer, never serve rows from it. Version-1
    manifests (pre-checksum) load without integrity verification."""
    import hashlib
    import json

    with open(pointer) as fh:
        try:
            man = json.load(fh)
        except ValueError as e:
            raise ValueError(
                f"corrupted CDC manifest {pointer}: not valid JSON ({e})")
    ver = man.get("schema_version", 1)
    if ver > MANIFEST_SCHEMA_VERSION:
        raise ValueError(
            f"CDC manifest {pointer} has schema_version {ver}, newer than "
            f"this reader ({MANIFEST_SCHEMA_VERSION}) — refusing to guess")
    if "checksum" in man:
        expect = man.pop("checksum")
        payload = json.dumps(man, sort_keys=True)
        got = hashlib.md5(payload.encode()).hexdigest()
        if got != expect:
            raise ValueError(
                f"corrupted CDC manifest {pointer}: checksum mismatch "
                f"(expected {expect}, computed {got})")
    return man


def _manifest_etag(man: dict) -> str:
    """Content identity of a committed manifest — md5 of the canonical
    sans-checksum JSON, i.e. exactly the stored ``checksum`` for v2+
    manifests (and a content hash for pre-checksum v1 ones). This is
    the CAS precondition token: a writer reads (manifest, etag), builds
    its update, and commits conditioned on the etag still matching —
    the S3 If-Match / object-store ETag discipline."""
    import hashlib
    import json

    m = dict(man)
    m.pop("checksum", None)
    return hashlib.md5(json.dumps(m, sort_keys=True).encode()).hexdigest()


class ManifestStore:
    """Commit-protocol seam for the CDC table's LATEST pointer.

    At 100 TB the pointer lives in a transactional store and every flip
    is an atomic conditional update — S3 conditional put (If-Match /
    If-None-Match), a DynamoDB conditional write, an etcd txn. The
    protocol ABOVE this seam never changes: read (manifest, etag) →
    derive update → ``put_if_match`` conditioned on that etag; on
    :class:`CommitConflictError` the writer re-reads and re-derives or
    aborts LOUDLY. Implementations MUST reject a non-matching
    precondition — last-writer-wins overwrite is the forbidden
    outcome (it would silently drop a concurrent committer's files
    from the table)."""

    def read(self, pointer: str) -> tuple[dict | None, str | None]:
        """Validated (manifest, etag), or (None, None) if absent."""
        raise NotImplementedError

    def put_if_match(self, pointer: str, man: dict,
                     expected_etag: str | None) -> None:
        """Atomically install ``man`` iff the pointer's current etag
        equals ``expected_etag`` (None = pointer must be ABSENT: the
        table-creation put-if-absent). Raises
        :class:`CommitConflictError` otherwise."""
        raise NotImplementedError

    def put_immutable(self, path: str, man: dict) -> None:
        """Write a never-rewritten per-version snapshot (time-travel
        index). Needs no condition: names are unique per (batch, gen);
        a losing committer's orphaned snapshot is collected by GC."""
        raise NotImplementedError


class LocalManifestStore(ManifestStore):
    """POSIX-filesystem realization of the CAS contract: an ``O_EXCL``
    lock file serializes check+flip and ``os.replace`` makes the flip
    atomic, so the conditional-put semantics are real, not advisory.
    A crashed committer can strand the lock file; subsequent commits
    then fail loudly with CommitConflictError (in-flight) until an
    operator removes it — preferable to a timeout that could break the
    lock under a live slow committer."""

    def read(self, pointer: str) -> tuple[dict | None, str | None]:
        import os

        if not os.path.exists(pointer):
            return None, None
        man = _load_manifest(pointer)
        return man, _manifest_etag(man)

    def put_if_match(self, pointer: str, man: dict,
                     expected_etag: str | None) -> None:
        import os

        lock = pointer + ".lock"
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise CommitConflictError(
                f"commit in flight on {pointer} (lock file present); "
                f"re-read LATEST and retry")
        try:
            cur_etag = None
            if os.path.exists(pointer):
                cur_etag = _manifest_etag(_load_manifest(pointer))
            if cur_etag != expected_etag:
                raise CommitConflictError(
                    f"CDC manifest {pointer} changed underneath this "
                    f"writer (based on etag {expected_etag}, current is "
                    f"{cur_etag}); re-read LATEST and re-derive")
            _write_manifest(pointer, man)
        finally:
            os.close(fd)
            os.unlink(lock)

    def put_immutable(self, path: str, man: dict) -> None:
        _write_manifest(path, man)


DEFAULT_MANIFEST_STORE = LocalManifestStore()


def _commit_manifest(table_dir: str, man: dict,
                     expected_etag: str | None,
                     store: ManifestStore | None = None) -> None:
    """Commit a table version: write an IMMUTABLE per-version snapshot
    (``manifests/m{batch}g{gen}.json`` — the time-travel index), then
    conditionally flip LATEST against ``expected_etag`` (the etag of
    the manifest this update was derived from; None for table
    creation). Snapshot first, flip second, so LATEST never points at
    state whose snapshot isn't durable; a losing committer's orphaned
    snapshot is GC'd. Raises :class:`CommitConflictError` if another
    writer got there first."""
    import os

    store = store or DEFAULT_MANIFEST_STORE
    snap_dir = os.path.join(table_dir, "manifests")
    os.makedirs(snap_dir, exist_ok=True)
    name = (f"m{int(man.get('batch', 0)):09d}"
            f"g{int(man.get('gen', 0)):04d}.json")
    store.put_immutable(os.path.join(snap_dir, name), man)
    store.put_if_match(os.path.join(table_dir, "LATEST"), man,
                       expected_etag)


def resolve_manifest(table_dir: str, version: int | None = None) -> dict:
    """Load the validated manifest for a table VERSION (the manifest
    as of batch id ``version`` — the newest snapshot at or before it),
    or LATEST when ``version`` is None. Time travel is bounded by GC
    exactly as in Delta's VACUUM: collecting a version's files removes
    its snapshot, after which reading that version raises here instead
    of serving a torn table."""
    import os
    import re

    if version is None:
        return _load_manifest(os.path.join(table_dir, "LATEST"))
    snap_dir = os.path.join(table_dir, "manifests")
    best = None
    if os.path.isdir(snap_dir):
        for f in sorted(os.listdir(snap_dir)):
            m = re.fullmatch(r"m(\d+)g(\d+)\.json", f)
            if m and int(m.group(1)) <= version:
                best = f     # ascending sort: last hit = max (batch, gen)
    if best is None:
        raise ValueError(
            f"no manifest snapshot at or before batch {version} in "
            f"{table_dir} (GC may have collected it)")
    return _load_manifest(os.path.join(snap_dir, best))


def _await_or_raise(query, timeout: int) -> None:
    """``awaitTermination(timeout)`` returns ``False`` on timeout
    WITHOUT raising; code falling through would then read a possibly
    stale LATEST as if the run had committed. Stop the hung query and
    raise instead."""
    if not query.awaitTermination(timeout):
        try:
            query.stop()
        finally:
            raise TimeoutError(
                f"streaming query {query.name or query.id} did not "
                f"terminate within {timeout}s")


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def use_rocksdb_state(spark: SparkSession,
                      bounded_memory_mb: int | None = None) -> None:
    """Switch stateful streaming to the RocksDB state store (built into
    Spark since 3.2 — no extra jar). The default HDFS-backed provider
    keeps every key in executor HEAP; at 100 TB/day a stream-stream
    join or wide session state OOMs long before the watermark reclaims
    it. RocksDB spills state to local disk with changelog
    checkpointing, bounding heap at the block-cache size —
    ``bounded_memory_mb`` pins that cap across ALL RocksDB instances
    on an executor (the production guard against per-partition cache
    multiplication). Applies to queries STARTED after the call."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)
    # changelog checkpointing is OFF by default: without it every
    # commit uploads a full RocksDB snapshot to the checkpoint dir —
    # the changelog uploads only the delta (the posture the docstring
    # promises). Applies to queries started after this call.
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled", "true")
    if bounded_memory_mb is not None:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
            "true")
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "maxMemoryUsageMB", str(bounded_memory_mb))


def run_to_completion(df: DataFrame, table_name: str,
                      output_mode: str = "append",
                      shuffle_partitions: int = 8) -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (``availableNow`` trigger → memory sink) and return the bounded
    result — the bridge that lets tests assert streaming == batch.

    Stateful streaming spins up one state-store instance per shuffle
    partition per operator PER MICRO-BATCH; for a bounded fixture
    replay that fixed cost dwarfs the data, and a caller-provided
    session may default to hundreds of partitions. Pin a small count
    for the stream's lifetime (captured at query start), then restore.
    At production scale, size this to the key cardinality instead."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        query = (
            df.writeStream.format("memory").queryName(table_name)
            .outputMode(output_mode).trigger(availableNow=True).start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(table_name)


class BackgroundQuery:
    """gasket ``background`` lifecycle (index.js:167-174): a side
    streaming query started before the main action and stopped when it
    finishes — ``parallel([mainPipeline, bkgds])`` + destroy-on-end.

    Use as a context manager::

        with BackgroundQuery(side_df, "audit") as bq:
            main_result = main_df.collect()   # main action
        # side query stopped here; bq.result() has its output
    """

    def __init__(self, df: DataFrame, name: str,
                 output_mode: str = "append"):
        self._df = df
        self.name = name
        self._mode = output_mode
        self.query = None

    def __enter__(self) -> "BackgroundQuery":
        self.query = (
            self._df.writeStream.format("memory").queryName(self.name)
            .outputMode(self._mode).trigger(processingTime="1 second").start()
        )
        return self

    def __exit__(self, *exc) -> None:
        if self.query is not None:
            self.query.processAllAvailable()
            self.query.stop()
            self.query.awaitTermination()

    def result(self) -> DataFrame:
        return self._df.sparkSession.table(self.name)


def run_pipeline_streaming(engine, name: str, source: DataFrame,
                           sink: Callable[[DataFrame, int], None],
                           params: list[str] | None = None):
    """Run a registered pipeline over an unbounded source — the
    ``pipe``-verb (stdin open) in streaming form. The pipeline's
    transform chain is applied inside ``foreachBatch``, so stages that
    streaming can't express natively (command stages via RDD.pipe,
    multi-group concat) still work per micro-batch.

    Returns the started StreamingQuery; caller owns ``stop()``.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        out = engine.pipe(name, input_df=batch_df, params=params)
        sink(out, batch_id)

    return source.writeStream.foreachBatch(_apply).start()


def stream_stream_join(purchases: DataFrame, clicks: DataFrame,
                       watermark: str = "2 hours",
                       lookback: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the ``lookback`` window before it (the streaming
    attribution shape). BOTH sides are watermarked and the join
    condition bounds the two event times relative to each other —
    that pair of constraints is what lets the state store EVICT: a
    buffered click can only ever match purchases within lookback
    after it, so once the purchase watermark passes that horizon the
    click's state is dropped. Without the time bound, stream-stream
    join state grows without limit — the at-scale failure mode.
    """
    p = (purchases.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts")))
    c = (clicks.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user_id"),
                 F.col("ts").alias("c_ts")))
    return (
        p.join(c, (F.col("user_id") == F.col("c_user_id"))
               & (F.col("c_ts") < F.col("p_ts"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr(
                   f"INTERVAL {lookback}")))
        .select("purchase_id", "click_id", "user_id")
    )


def stream_stream_semi_join(purchases: DataFrame, clicks: DataFrame,
                            watermark: str = "2 hours",
                            lookback: str = "1 hour") -> DataFrame:
    """Stream-stream LEFT SEMI join: purchases that had AT LEAST ONE
    click by the same user in the ``lookback`` window before them —
    emitted exactly once, however many clicks match and however those
    clicks are spread across micro-batches. The state shape differs
    from both the inner and outer joins: the left row buffers only
    until its FIRST match (then a matched flag suppresses re-emission
    and the row needs no further buffering), and no
    watermark-proof-of-absence is ever needed — a semi row emits the
    moment a match arrives, so unlike the outer join a bounded replay
    needs no sentinel watermark push. Click-side state still evicts
    on the time bound: a click can only match purchases within
    ``lookback`` after it, so once the purchase watermark passes that
    horizon the click's state drops — per-key state is O(events in
    the lookback horizon), the TTL contract that keeps this runnable
    forever. Matched-purchase output carries no click columns (that
    is the point: EXISTS, not enumeration — the inner join's
    match-multiplicity blowup never materializes)."""
    p = (purchases.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts")))
    c = (clicks.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user_id"),
                 F.col("ts").alias("c_ts")))
    return (
        p.join(c, (F.col("user_id") == F.col("c_user_id"))
               & (F.col("c_ts") < F.col("p_ts"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr(
                   f"INTERVAL {lookback}")),
               "left_semi")
        .select("purchase_id", "user_id", F.col("p_ts").alias("ts"))
    )


def stream_stream_anti_join(purchases: DataFrame, clicks: DataFrame,
                            watermark: str = "2 hours",
                            lookback: str = "1 hour") -> DataFrame:
    """Stream-stream LEFT ANTI join: purchases with NO same-user
    click in the ``lookback`` window before them — the negative-
    evidence dual of :func:`stream_stream_semi_join`. Where the semi
    emits the moment positive evidence arrives, an anti row can only
    emit once the click-side watermark PROVES absence (no match can
    still arrive), so like the outer join it is watermark-driven: a
    bounded replay must push the watermark past the last purchase
    (ordered files + sentinel — the queries.streamingq pattern) or
    the tail purchases stay buffered as undecided state forever.
    Purchase state holds undecided rows inside the proof horizon;
    click state evicts on the relative time bound — both O(horizon),
    never O(history). Spark has no NATIVE stream-stream left anti
    (``LeftAnti joins with a streaming DataFrame on the right are
    not supported``), so this composes the supported LEFT OUTER with
    an IS NULL filter — semantically identical (an unmatched
    purchase emits exactly once with NULL click, matched rows are
    filtered), and it makes explicit that anti shares the outer
    join's proof-of-absence state machine rather than the semi's
    emit-on-first-match one. The batch twin is the NOT EXISTS
    complement of the semi's oracle, and the output schema mirrors
    the semi's exactly — ``(purchase_id, user_id, ts)`` — so
    semi ∪ anti partitions the purchase stream column-for-column
    (the r9 advice caught the earlier ts-dropping asymmetry). The
    leftOuter body is inlined rather than delegated to
    :func:`stream_stream_outer_join` so the two operators' output
    contracts stay independently evolvable."""
    p = (purchases.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts")))
    c = (clicks.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user_id"),
                 F.col("ts").alias("c_ts")))
    return (
        p.join(c, (F.col("user_id") == F.col("c_user_id"))
               & (F.col("c_ts") < F.col("p_ts"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr(
                   f"INTERVAL {lookback}")),
               "leftOuter")
        .filter(F.col("click_id").isNull())
        .select("purchase_id", "user_id", F.col("p_ts").alias("ts"))
    )


def stream_stream_outer_join(purchases: DataFrame, clicks: DataFrame,
                             watermark: str = "2 hours",
                             lookback: str = "1 hour") -> DataFrame:
    """Stream-stream LEFT OUTER join: like :func:`stream_stream_join`
    but purchases with NO click in the lookback window also emit (with
    NULL click) — and they can only emit when the state store PROVES
    no match can still arrive, i.e. when the click-side watermark
    passes ``purchase ts``. That makes outer results watermark-driven:
    a bounded replay must push the watermark past the last purchase
    (sentinel row / ordered files — see queries.streamingq) or the
    tail rows stay buffered forever, which is exactly the at-scale
    operational contract this operator documents."""
    p = (purchases.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts")))
    c = (clicks.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user_id"),
                 F.col("ts").alias("c_ts")))
    return (
        p.join(c, (F.col("user_id") == F.col("c_user_id"))
               & (F.col("c_ts") < F.col("p_ts"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr(
                   f"INTERVAL {lookback}")),
               "leftOuter")
        .select("purchase_id", "click_id", "user_id")
    )


def stream_stream_full_outer_join(purchases: DataFrame,
                                  clicks: DataFrame,
                                  watermark: str = "2 hours",
                                  lookback: str = "1 hour") -> DataFrame:
    """Stream-stream FULL OUTER join — the last member of the join
    family (inner / left outer / semi / anti are above): matched
    (purchase, click) pairs emit as evidence arrives, a purchase
    with NO click in the lookback before it emits with NULL click
    once the CLICK-side watermark proves absence, and a click with
    NO purchase in the hour after it emits with NULL purchase once
    the PURCHASE-side watermark proves absence — proof-of-absence
    state machines on BOTH sides, each bounded by the time-range
    condition (click state ≤ lookback behind the purchase watermark,
    purchase state ≤ lookback ahead of the click watermark — both
    O(horizon), never O(history)). Same operational contract as the
    left outer: a bounded replay must push BOTH sides' watermarks
    past the last real event (ordered files + dual-type sentinel)
    or the undecided tail buffers forever. ``user_id`` is coalesced
    across sides so right-only rows keep their key."""
    p = (purchases.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user_id"),
                 F.col("ts").alias("p_ts")))
    c = (clicks.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user_id"),
                 F.col("ts").alias("c_ts")))
    return (
        p.join(c, (F.col("p_user_id") == F.col("c_user_id"))
               & (F.col("c_ts") < F.col("p_ts"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr(
                   f"INTERVAL {lookback}")),
               "fullOuter")
        .select("purchase_id", "click_id",
                F.coalesce("p_user_id", "c_user_id").alias("user_id"))
    )


def dedup_then_windowed_counts(events: DataFrame,
                               window: str = "1 hour",
                               watermark: str = "2 hours") -> DataFrame:
    """CHAINED stateful operators in one streaming query:
    ``dropDuplicates`` (exactly-once lift over at-least-once input)
    feeding a tumbling window aggregate, append mode — windows only
    emit once FINALIZED (watermark past window end), so downstream
    sees each window exactly once with its complete, deduplicated
    count. Needs ordered-ish replay + a watermark push at the end of
    a bounded run to flush the tail windows (see queries.streamingq).
    One watermark node feeds both stateful operators."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("total_cents"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "event_type", "n", "total_cents")
    )


def stream_cdc_apply(changes: DataFrame, table_dir: str,
                     key_cols: list[str], order_cols: list[str],
                     n_buckets: int = 8,
                     target_file_rows: int = 1_000_000,
                     timeout: int = 300,
                     delete_col: str | None = None) -> list[str]:
    """Streaming CDC apply: materialize a change stream into a keyed
    table by MERGING each micro-batch (latest-record-wins on
    ``order_cols`` per ``key_cols``) into the table's previous state —
    the ``foreachBatch`` + MERGE recipe that maintains a queryable
    upsert table from a change feed, re-expressed on plain parquet
    with a HASH-BUCKETED, FILE-GROUP manifest (the Delta/Hudi upsert
    shape, down to file-level pruning):

    * the table is ``n_buckets`` hash buckets of the merge key; each
      bucket is a list of FILE GROUPS — key-sorted slices of ≈
      ``target_file_rows`` rows whose [kmin, kmax] range the manifest
      records (parquet min/max stats, surfaced to the planner);
    * batch N computes per-bucket key ranges (one bounded collect of
      ≤ n_buckets rows) and reads ONLY the file groups whose range
      overlaps — a hot bucket that has grown to hundreds of file
      groups rewrites just the few a trickle of changes lands in,
      the rest carry forward in the manifest with ZERO IO. Pruning
      is sound because any file containing one of the batch's keys
      necessarily range-overlaps the batch;
    * merge + re-split share ONE exchange: rows shuffle by bucket,
      sort by (key asc, order desc); latest-wins falls out of a lag()
      run-boundary test on that sort, and the file-group assignment
      reuses the same distribution+sort (Catalyst plans no second
      exchange), so each batch is one shuffle + one
      dynamic-partitioned write to ``versions/v{N}/_b=i/_f=j``,
      straight from that exchange with nothing cached; the file-group
      stats are then read back from the committed files (the stat
      column only), so the manifest describes the bytes on disk;
    * the ``LATEST`` manifest file flips atomically after every
      touched file group is written — readers never see a
      half-merged table;
    * a REPLAYED batch rewrites its own deterministic version dirs
      and re-flips to identical content: idempotent, because
      incremental latest-wins is confluent — any batching of the
      same changes folds to the same table.

    Range stats use ``key_cols[0]`` (the leading merge key — the
    standard clustering choice). Runs the stream to completion
    (availableNow) and returns the final manifest's file-group paths
    (read them as one parquet union). At scale the same loop targets
    object storage with the manifest in a transaction-capable
    store.

    **Deletes**: pass ``delete_col`` (a boolean change-feed column) to
    give the table delete semantics. A delete is merged like any other
    change and its row is KEPT as a TOMBSTONE — dropping it eagerly
    would break confluence: a late out-of-order re-insert (older
    ``order_cols``) must lose latest-wins against the delete, which it
    can only do if the delete's order value is still in the table.
    Readers filter tombstones (``sources.cdc.read_cdc_table`` does it
    automatically from the manifest's ``delete_col``);
    :func:`purge_tombstones` physically drops them once the late-data
    horizon has passed — Cassandra's gc_grace_seconds trade-off,
    stated explicitly."""
    import os

    _apply = _cdc_apply_fn(table_dir, key_cols, order_cols, n_buckets,
                           target_file_rows, delete_col)
    q = changes.writeStream.foreachBatch(_apply) \
        .trigger(availableNow=True) \
        .option("checkpointLocation", os.path.join(table_dir, "_cp")) \
        .start()
    _await_or_raise(q, timeout)
    return _cdc_table_paths(table_dir)


def batch_cdc_apply(batches: list[DataFrame], table_dir: str,
                    key_cols: list[str], order_cols: list[str],
                    n_buckets: int = 8,
                    target_file_rows: int = 1_000_000,
                    delete_col: str | None = None) -> list[str]:
    """Apply an EXPLICIT ordered sequence of change batches through the
    exact same per-batch MERGE (latest-wins, manifest commit, version
    snapshot per batch) that :func:`stream_cdc_apply` runs under
    foreachBatch — the deterministic-batching driver: when the caller
    controls batch membership (backfills, replays, reproducible
    fixtures), every intermediate table VERSION is a pure function of
    the change data, so time-travel reads of version k are exactly
    'latest-wins over batches 0..k' — an assertable (and SQL-
    expressible) contract rather than an artifact of stream file
    chunking. Batch ids are the list positions; returns the final
    manifest's file-group paths like stream_cdc_apply."""
    _apply = _cdc_apply_fn(table_dir, key_cols, order_cols, n_buckets,
                           target_file_rows, delete_col)
    for i, b in enumerate(batches):
        _apply(b, i)
    return _cdc_table_paths(table_dir)


def _cdc_table_paths(table_dir: str) -> list[str]:
    import os

    pointer = os.path.join(table_dir, "LATEST")
    return sorted(ent["path"]
                  for ents in _load_manifest(pointer)["buckets"].values()
                  for ent in ents)


def _write_file_groups(packed: DataFrame, path: str,
                       stat_col: str) -> dict[int, list[dict]]:
    """Write ``packed`` (rows tagged with bucket ``_b`` and file group
    ``_f``) ONCE as ``path/_b=i/_f=j`` and return its manifest entries
    per bucket, ordered by file group. The ``kmin``/``kmax``/``knull``
    stats are read back from the committed files (a scan of the stat
    column alone), not recomputed from ``packed``: nothing is cached,
    and the manifest describes exactly the bytes on disk."""
    import os

    packed.write.mode("overwrite").partitionBy("_b", "_f").parquet(path)
    stats = packed.sparkSession.read.schema(packed.schema).parquet(path) \
        .groupBy("_b", "_f").agg(
            F.min(stat_col).alias("kmin"),
            F.max(stat_col).alias("kmax"),
            F.max(F.col(stat_col).isNull().cast("int")).alias("knull")
        ).collect()
    groups: dict[int, list[dict]] = {}
    for r in sorted(stats, key=lambda r: (r["_b"], r["_f"])):
        groups.setdefault(r["_b"], []).append({
            "path": os.path.join(path, f"_b={r['_b']}", f"_f={r['_f']}"),
            "kmin": _stat_val(r["kmin"]),
            "kmax": _stat_val(r["kmax"]),
            "knull": bool(r["knull"])})
    return groups


def _cdc_apply_fn(table_dir: str, key_cols: list[str],
                  order_cols: list[str], n_buckets: int,
                  target_file_rows: int, delete_col: str | None):
    """Factory for the per-batch CDC MERGE closure shared by the
    streaming (foreachBatch) and explicit-batch drivers — one merge
    implementation, two schedulers."""
    import os

    base = os.path.join(table_dir, "versions")
    pointer = os.path.join(table_dir, "LATEST")
    bucket_expr = F.pmod(F.hash(*key_cols), F.lit(n_buckets))
    stat_col = key_cols[0]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src_cols = list(batch_df.columns)
        # order/partition-independent content fingerprint of the batch
        # (sum of per-row xxhash64, folded to 31 bits so the sum can't
        # overflow ANSI-mode long arithmetic): recorded per committed
        # batch so a replay can be TOLD APART from a checkpoint-reset
        # stream that happens to reuse a committed batch id.
        fp_expr = F.coalesce(
            F.sum(F.pmod(F.xxhash64(*src_cols), F.lit(2**31))), F.lit(0))
        manifest: dict[str, list[dict]] = {}
        fps: dict[str, int] = {}
        committed: dict = {}
        base_etag: str | None = None
        if os.path.exists(pointer):
            committed = _load_manifest(pointer)
            base_etag = _manifest_etag(committed)
            # bucket-count agreement: a re-bucketed table (see
            # rebucket_cdc_table) must not be written by a stream
            # still hashing with the old count — keys would scatter
            # across buckets and latest-wins would silently break.
            if committed.get("n_buckets") not in (None, n_buckets):
                raise ValueError(
                    f"CDC table {table_dir} is bucketed with "
                    f"n_buckets={committed.get('n_buckets')} but this "
                    f"stream was started with n_buckets={n_buckets}; "
                    f"restart the writer with the table's value")
            # idempotency guard: the manifest flip IS the commit point.
            # If batch N already flipped but the engine's checkpoint
            # didn't record it (crash in between), the replay must
            # NO-OP — re-running would read file groups inside v{N}
            # while overwriting v{N}, destroying the batch's own data.
            # But ONLY a true replay may no-op: if the checkpoint was
            # reset while the table's LATEST survived, a fresh stream
            # restarts batch ids at 0 carrying NEW data — silently
            # dropping those batches would lose changes. The recorded
            # content fingerprint tells the two apart.
            fps = dict(committed.get("fps") or {})
            if committed.get("batch", -1) >= batch_id:
                fp = batch_df.agg(fp_expr).first()[0]
                if fps.get(str(batch_id)) == fp:
                    return      # true replay of an already-committed batch
                raise ValueError(
                    f"CDC batch-id regression: incoming batch {batch_id} "
                    f"<= committed batch {committed.get('batch')} but its "
                    f"content does not match the recorded fingerprint — "
                    f"this stream is not a replay of the committed one "
                    f"(checkpoint reset with new/rebatched data?). "
                    f"Refusing to silently drop changes; restore the "
                    f"checkpoint or rebuild the table.")
            manifest = committed["buckets"]
        batch_df = batch_df.withColumn("_b", bucket_expr).persist()
        # per-bucket batch key ranges + null flag + fingerprint shard:
        # ONE bounded collect (≤ n_buckets rows) feeds pruning AND the
        # idempotency record
        brows = batch_df.groupBy("_b").agg(
            F.min(stat_col).alias("kmin"),
            F.max(stat_col).alias("kmax"),
            F.max(F.col(stat_col).isNull().cast("int")).alias("bnull"),
            fp_expr.alias("fp")).collect()
        rng = {r["_b"]: (_stat_val(r["kmin"]), _stat_val(r["kmax"]),
                         bool(r["bnull"]))
               for r in brows}
        fps[str(batch_id)] = sum(r["fp"] for r in brows)
        touched = sorted(rng)
        carried: dict[int, list[dict]] = {}
        read_paths: list[str] = []
        for b in touched:
            bmin, bmax, bnull = rng[b]
            carried[b] = []
            for ent in manifest.get(str(b), []):
                # min/max skip NULLs, so the range test is blind to
                # NULL-key rows: a group holding one (knull; absent on
                # v1 manifests → assume it might) must be read whenever
                # the batch carries a NULL key (bnull), or its stale
                # NULL-key version would survive next to the new one.
                null_hit = bnull and ent.get("knull", True)
                if not null_hit and _disjoint(ent["kmin"], ent["kmax"],
                                              bmin, bmax):
                    carried[b].append(ent)     # no overlap: zero IO
                else:
                    read_paths.append(ent["path"])
        cur = batch_df
        if read_paths:
            # mergeSchema + allowMissingColumns = SCHEMA EVOLUTION on
            # merge: a batch may add columns (old rows read back NULL)
            # or drop them (new rows carry NULL); the written file
            # group always holds the union schema, recorded in the
            # manifest as the table's authoritative current schema
            prev = spark.read.option("mergeSchema", "true") \
                .parquet(*read_paths).withColumn("_b", bucket_expr)
            cur = prev.unionByName(batch_df, allowMissingColumns=True)
        from pyspark.sql import Window as W
        sort_cols = [F.col(c).asc() for c in key_cols] + \
            [F.col(c).desc() for c in order_cols]
        wb = W.partitionBy("_b").orderBy(*sort_cols)
        # latest-wins on the bucket-partitioned sort: a key's first row
        # in (key asc, order desc) IS its latest record, detected by
        # the lag() run boundary — no per-key window partitioning, so
        # the file-group split below reuses this exchange+sort.
        prev_key = F.lag(F.struct(*key_cols)).over(wb)
        merged = (
            cur.withColumn(
                "_keep",
                prev_key.isNull() | (prev_key != F.struct(*key_cols)))
            .filter(F.col("_keep")).drop("_keep")
            .withColumn(
                "_f",
                F.floor((F.row_number().over(wb) - 1)
                        / F.lit(target_file_rows)))
        )
        groups = _write_file_groups(
            merged, os.path.join(base, f"v{batch_id:09d}"), stat_col)
        batch_df.unpersist()
        for b in touched:
            manifest[str(b)] = carried[b] + groups.get(b, [])
        committed.update({"buckets": manifest, "batch": batch_id,
                          "n_buckets": n_buckets, "fps": fps,
                          "key_cols": list(key_cols),
                          "order_cols": list(order_cols),
                          "delete_col": delete_col,
                          "schema": merged.drop("_b", "_f")
                          .schema.jsonValue()})
        _commit_manifest(table_dir, committed, base_etag)

    return _apply


def compact_cdc_table(spark: SparkSession, table_dir: str,
                      key_cols: list[str],
                      target_file_rows: int = 1_000_000) -> list[str]:
    """CDC table maintenance (the quiet-batch compaction completing
    the Hudi shape): incremental merges leave hot buckets with many
    under-target file groups — more listings, footers, and manifest
    entries per read. Re-split every multi-group bucket's rows into
    fresh key-sorted groups of ≈ ``target_file_rows``.

    Content-preserving with NO re-merge: a bucket's live file groups
    always hold pairwise-disjoint key sets (each batch consumes every
    group its key range overlaps, and overlapping-range groups can
    never coexist — see stream_cdc_apply), so compaction is a pure
    re-layout. Single-group buckets are untouched; the manifest flips
    atomically; superseded version dirs become garbage for a separate
    GC pass. Returns the post-compaction file-group paths."""
    import os

    pointer = os.path.join(table_dir, "LATEST")
    man = _load_manifest(pointer)
    base_etag = _manifest_etag(man)
    manifest: dict[str, list[dict]] = man["buckets"]
    todo = {b for b, ents in manifest.items() if len(ents) > 1}
    if todo:
        bucket_expr = F.pmod(F.hash(*key_cols), F.lit(man["n_buckets"]))
        paths = [e["path"] for b in todo for e in manifest[b]]
        rows = spark.read.option("mergeSchema", "true").parquet(*paths) \
            .withColumn("_b", bucket_expr)
        from pyspark.sql import Window as W
        wb = W.partitionBy("_b").orderBy(*[F.col(c).asc()
                                           for c in key_cols])
        packed = rows.withColumn(
            "_f", F.floor((F.row_number().over(wb) - 1)
                          / F.lit(target_file_rows)))
        # generation counter, NOT the batch id: a re-run without an
        # intervening batch must write a FRESH dir — reusing the name
        # would overwrite the very files this compaction is reading.
        gen = int(man.get("gen", 0)) + 1
        cpath = os.path.join(table_dir, "versions",
                             f"c{man['batch']:09d}g{gen:04d}")
        groups = _write_file_groups(packed, cpath, key_cols[0])
        for b in todo:
            manifest[b] = groups.get(int(b), [])
        man["buckets"] = manifest
        man["gen"] = gen
        _commit_manifest(table_dir, man, base_etag)
    return sorted(e["path"] for ents in manifest.values() for e in ents)


def rebucket_cdc_table(spark: SparkSession, table_dir: str,
                       new_n_buckets: int,
                       target_file_rows: int = 1_000_000) -> list[str]:
    """PARTITION EVOLUTION for a live CDC table: rewrite every file
    group under a new bucket count (a table sized for 8 buckets that
    grew 100x needs more write parallelism and finer pruning). A
    quiet-batch maintenance pass like compaction: one shuffle on the
    new bucket hash + key sort, fresh key-sorted file groups, atomic
    manifest flip recording the new ``n_buckets``. The writer must be
    restarted with the matching ``n_buckets`` — ``stream_cdc_apply``
    REFUSES a batch whose bucket count disagrees with the committed
    manifest (silently merging under mismatched bucket hashing would
    scatter a key across buckets). Content-identical by construction
    (re-layout only). Returns the live file-group paths."""
    import os

    pointer = os.path.join(table_dir, "LATEST")
    man = _load_manifest(pointer)
    base_etag = _manifest_etag(man)
    manifest: dict[str, list[dict]] = man["buckets"]
    key_cols = man["key_cols"]
    bucket_expr = F.pmod(F.hash(*key_cols), F.lit(new_n_buckets))
    paths = [e["path"] for ents in manifest.values() for e in ents]
    if paths:
        rows = spark.read.option("mergeSchema", "true").parquet(*paths) \
            .withColumn("_b", bucket_expr)
        from pyspark.sql import Window as W
        wb = W.partitionBy("_b").orderBy(*[F.col(c).asc()
                                           for c in key_cols])
        packed = rows.withColumn(
            "_f", F.floor((F.row_number().over(wb) - 1)
                          / F.lit(target_file_rows)))
        gen = int(man.get("gen", 0)) + 1
        cpath = os.path.join(table_dir, "versions",
                             f"c{man['batch']:09d}g{gen:04d}")
        groups = _write_file_groups(packed, cpath, key_cols[0])
        manifest = {str(b): groups.get(b, [])
                    for b in range(new_n_buckets)}
        man["buckets"] = manifest
        man["n_buckets"] = new_n_buckets
        man["gen"] = gen
        _commit_manifest(table_dir, man, base_etag)
    return sorted(e["path"] for ents in manifest.values() for e in ents)


def purge_tombstones(spark: SparkSession, table_dir: str,
                     target_file_rows: int = 1_000_000) -> list[str]:
    """Physically drop tombstone rows (``delete_col`` true) from every
    file group — the second half of the delete lifecycle: a delete
    merges as a KEPT tombstone (so late out-of-order re-inserts lose
    latest-wins against it, preserving confluence), and this
    quiet-batch pass reclaims the space once the late-data horizon has
    passed. Purging re-opens the resurrection window for the purged
    keys — run it on the same schedule you'd set Cassandra's
    gc_grace_seconds. Rewrites into fresh key-sorted file groups (a
    compaction with a filter), flips the manifest atomically, and
    returns the live file-group paths. No-op for tables without a
    ``delete_col``."""
    import os

    pointer = os.path.join(table_dir, "LATEST")
    man = _load_manifest(pointer)
    base_etag = _manifest_etag(man)
    manifest: dict[str, list[dict]] = man["buckets"]
    delete_col = man.get("delete_col")
    if delete_col is None:
        return sorted(e["path"] for ents in manifest.values() for e in ents)
    key_cols = man["key_cols"]
    bucket_expr = F.pmod(F.hash(*key_cols), F.lit(man["n_buckets"]))
    paths = [e["path"] for ents in manifest.values() for e in ents]
    if paths:
        rows = (spark.read.option("mergeSchema", "true").parquet(*paths)
                .filter(~F.coalesce(F.col(delete_col), F.lit(False)))
                .withColumn("_b", bucket_expr))
        from pyspark.sql import Window as W
        wb = W.partitionBy("_b").orderBy(*[F.col(c).asc()
                                           for c in key_cols])
        packed = rows.withColumn(
            "_f", F.floor((F.row_number().over(wb) - 1)
                          / F.lit(target_file_rows)))
        gen = int(man.get("gen", 0)) + 1
        cpath = os.path.join(table_dir, "versions",
                             f"c{man['batch']:09d}g{gen:04d}")
        groups = _write_file_groups(packed, cpath, key_cols[0])
        manifest = {b: [] for b in manifest}
        manifest.update({str(b): ents for b, ents in groups.items()})
        man["buckets"] = manifest
        man["gen"] = gen
        _commit_manifest(table_dir, man, base_etag)
    return sorted(e["path"] for ents in manifest.values() for e in ents)


def read_stream_state(spark: SparkSession, checkpoint_dir: str,
                      batch_id: int | None = None,
                      operator_id: int | None = None,
                      store_name: str | None = None,
                      join_side: str | None = None) -> DataFrame:
    """Read a Structured Streaming checkpoint's STATE STORE as a
    DataFrame (Spark 4's ``statestore`` data source) — the operational
    window a production stateful stream needs: audit which keys are
    buffered, measure state size per partition, debug a stuck
    watermark or an unbounded-state join, and validate state after a
    code change, all WITHOUT touching the running query. Returns rows
    of (key: struct, value: struct, partition_id); pass ``batch_id``
    to time-travel to an earlier micro-batch's state, ``operator_id``
    / ``store_name`` / ``join_side`` to pick a store in multi-operator
    or join queries."""
    reader = spark.read.format("statestore")
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    if operator_id is not None:
        reader = reader.option("operatorId", operator_id)
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    if join_side is not None:
        reader = reader.option("joinSide", join_side)
    return reader.load(checkpoint_dir)


def gc_cdc_table(table_dir: str, min_age_seconds: float = 0.0) -> list[str]:
    """Garbage-collect CDC version directories with NO file group
    referenced by the LATEST manifest (rewrites and compaction leave
    them behind). A dir is kept while even one carried-forward group
    inside it is still live. Returns the removed dir paths.

    Writer race: an in-flight batch/compaction writes its version dir
    BEFORE flipping LATEST, so an unreferenced dir encoding a batch id
    (``v{N}``) or generation (``c{B}g{G}``) NEWER than the committed
    manifest belongs to a write about to commit — deleting it would
    destroy the data the imminent flip references. Those dirs are
    skipped (as are unparseable names, conservatively). Reader safety:
    ``min_age_seconds`` is the read-lease horizon — a dir whose mtime
    is younger than it is never collected, so any scan that planned
    against a since-superseded manifest within the window still finds
    its files. Size it to the longest-running read (0 = eager, the
    local-test default; at scale on object storage pick hours)."""
    import os
    import re
    import shutil
    import time

    pointer = os.path.join(table_dir, "LATEST")
    base = os.path.join(table_dir, "versions")
    man = _load_manifest(pointer)
    committed_batch = int(man.get("batch", -1))
    committed_gen = int(man.get("gen", 0))
    live = {os.path.relpath(e["path"], base).split(os.sep)[0]
            for ents in man["buckets"].values() for e in ents}

    def _in_flight(d: str) -> bool:
        m = re.fullmatch(r"v(\d+)", d)
        if m:
            return int(m.group(1)) > committed_batch
        m = re.fullmatch(r"c(\d+)g(\d+)", d)
        if m:
            return (int(m.group(1)) > committed_batch
                    or int(m.group(2)) > committed_gen)
        return True      # unknown layout: never collect

    now = time.time()
    removed = []
    for d in sorted(os.listdir(base)):
        path = os.path.join(base, d)
        if d in live or _in_flight(d):
            continue
        if min_age_seconds > 0:
            try:
                if now - os.path.getmtime(path) < min_age_seconds:
                    continue    # inside the read-lease horizon
            except OSError:
                continue
        shutil.rmtree(path, ignore_errors=True)
        removed.append(path)
    # time-travel snapshots whose file groups just got collected can
    # no longer be served — drop them (VACUUM semantics: GC bounds how
    # far back resolve_manifest can go). The committed version's
    # snapshot and in-flight (newer) snapshots are always kept.
    # (not gated on this run's removals: a crash between dir removal
    # and snapshot cleanup must be repairable by the next GC)
    snap_dir = os.path.join(table_dir, "manifests")
    if os.path.isdir(snap_dir):
        for f in sorted(os.listdir(snap_dir)):
            m = re.fullmatch(r"m(\d+)g(\d+)\.json", f)
            if not m or int(m.group(1)) > committed_batch \
                    or (int(m.group(1)) == committed_batch
                        and int(m.group(2)) >= committed_gen):
                continue
            try:
                snap = _load_manifest(os.path.join(snap_dir, f))
            except ValueError:
                continue   # unreadable snapshot: leave for forensics
            dirs = {os.path.relpath(e["path"], base).split(os.sep)[0]
                    for ents in snap["buckets"].values() for e in ents}
            if any(not os.path.isdir(os.path.join(base, d)) for d in dirs):
                os.remove(os.path.join(snap_dir, f))
    return removed


def read_kafka_stream(spark: SparkSession, bootstrap_servers: str,
                      topic: str, schema,
                      starting_offsets: str = "earliest") -> DataFrame:
    """Kafka on-ramp: subscribe to ``topic`` and parse each message
    value as one JSON record against the pinned ``schema`` — yielding
    the SAME typed record stream as :func:`read_events_stream`, so
    every downstream plan (windowed aggs, stream-stream join, dedup,
    stateful operators) runs unchanged (source-agnosticism is what
    tests/test_streaming.py's rate-source parity test proves).

    Requires the ``spark-sql-kafka`` connector package on the
    classpath (`--packages org.apache.spark:spark-sql-kafka-0-10_2.13`
    at the Spark version in use); without it, Spark raises its
    standard failed-to-find-data-source error at plan time — there is
    deliberately no silent fallback.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")


def idempotent_batch_sink(base_dir: str):
    """An exactly-once ``foreachBatch`` sink over an at-least-once
    engine: Structured Streaming may RE-RUN a micro-batch after a
    failure (same batch_id, same data), so a sink that blindly
    appends double-writes on recovery. The standard fix, implemented
    here observably: write each batch to a directory KEYED BY
    batch_id with overwrite semantics — a replay overwrites its own
    previous (possibly partial) output instead of appending next to
    it. Readers see `base_dir/batch_id=N/` partitions; the batch_id
    column also gives lineage (which micro-batch produced each row).
    At scale the same pattern is a transactional table MERGE keyed on
    batch_id."""
    import os

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(base_dir, f"batch_id={batch_id}"))

    return _sink


def typed_state_totals(events: DataFrame,
                       watermark: str = "2 hours") -> DataFrame:
    """Spark 4 TYPED-STATE operator (``transformWithStateInPandas``) —
    ENVIRONMENT-GATED like the Kafka connector: the typed-state
    Python worker speaks a protobuf protocol to the JVM, so this
    operator needs the ``protobuf`` package at RUNTIME (absent in
    this container by design — the gated pytest skips loudly and the
    operator raises the real ImportError when driven without it).
    The plan/state design below is fully real and exercised wherever
    protobuf exists.

    API story —
    the successor API to ``applyInPandasWithState`` (see
    :func:`stateful_user_totals` for the classic form): state is
    declared as named, schema'd variables on a handle (here a
    ``ValueState`` for the user's running totals and a ``MapState``
    keyed by event type for distinct-type tracking), with TTL and
    timers available per variable. Each micro-batch folds its Arrow
    batches into the typed state and emits ONE consistent row per
    touched user: (n_events, total_cents, n_types, min_event_id) —
    money in integer cents and the id as a MIN, so batch order and
    partitioning can't change the final row. State is O(keys ×
    types), never O(events)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT, min_eid BIGINT")
            self._types = handle.getMapState(
                "types", "event_type STRING", "n BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            n, cents, min_eid = (self._totals.get()
                                 if self._totals.exists()
                                 else (0, 0, None))
            touched: dict[str, int] = {}
            for pdf in rows:
                n += len(pdf)
                cents += int(cents_half_up(
                    pdf["value"].to_numpy(np.float64)).sum())
                beid = int(pdf["event_id"].min())
                min_eid = beid if min_eid is None else min(min_eid, beid)
                for et, c in pdf["event_type"].value_counts().items():
                    touched[et] = touched.get(et, 0) + int(c)
            for et, c in touched.items():
                prev = (self._types.getValue((et,))[0]
                        if self._types.containsKey((et,)) else 0)
                self._types.updateValue((et,), (prev + c,))
            self._totals.update((n, cents, min_eid))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "total_cents": [cents], "n_types": [n_types],
                "min_event_id": [min_eid]})

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Totals(),
            outputStructType=("user_id BIGINT, n_events BIGINT, "
                              "total_cents BIGINT, n_types BIGINT, "
                              "min_event_id BIGINT"),
            outputMode="Update",
            timeMode="None",
        )
    )
