"""Query registry — the executable inventory of SURVEY.md §2B.

Every operator the engine claims is registered here twice:

* ``QUERIES[name]`` — a callable ``(spark, sf_dir) -> DataFrame`` built
  with the DataFrame API (the Spark-first implementation under test).
* ``ORACLES[name]`` — the equivalent ANSI SQL the DuckDB oracle runs on
  the same parquet tables. Omitted only for genuinely
  non-SQL-expressible ops (streaming state machines, LSH with
  engine-specific hashing); those get rows-only checks.

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# query -> code digest (digest.py), taken as the registry loads
DIGESTS: dict[str, str] = {}


def _sql_literals(sql: str) -> list[str]:
    """Extract the content of every single-quoted SQL string literal,
    honoring ``''`` escapes and ``"``-quoted identifiers (an
    apostrophe inside one must not open a literal — the r13 ADVICE
    fix generalized: the old split-on-quote parity scan miscounted
    whenever an apostrophe appeared OUTSIDE a literal).

    REFUSES ``--`` and ``/*`` comments outside literals/identifiers
    (ValueError): registry normalization collapses newlines, so a
    line comment would silently swallow the rest of the oracle — a
    far worse corruption than the whitespace-run class the literal
    guard exists for. Registered oracles must be comment-free."""
    lits: list[str] = []
    cur: list[str] | None = None  # None = outside a literal
    in_ident = False
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if cur is not None:
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":  # '' escape
                    cur.append("'")
                    i += 2
                    continue
                lits.append("".join(cur))
                cur = None
            else:
                cur.append(c)
        elif in_ident:
            if c == '"':
                if i + 1 < n and sql[i + 1] == '"':  # "" escape
                    i += 2
                    continue
                in_ident = False
        elif c == "'":
            cur = []
        elif c == '"':
            in_ident = True
        elif sql[i:i + 2] in ("--", "/*"):
            raise ValueError(
                f"SQL comment marker {sql[i:i + 2]!r} outside a "
                "literal: registry whitespace normalization collapses "
                "newlines, which would swallow the rest of the oracle "
                "— registered oracles must be comment-free")
        i += 1
    return lits


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation and (optionally) its SQL oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        # refuse silent overwrites at import: module load order
        # (llm -> streamingq -> pipelineq -> relational) would let a
        # later module's same-named registration win and the earlier
        # oracle pair still self-agree in selfcheck — an r13 near-miss
        # (a duplicate q_sample_weighted shadowed relational's)
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            # The cosmetic normalization below collapses ALL
            # whitespace runs — including inside SQL string literals,
            # where a '  ' (double space) would silently become ' '
            # and change the query's semantics (the r12 q_bpe_tokens
            # catch: the BPE word separator corrupted to a symbol
            # separator). Refuse loudly at import: state such
            # literals as ' ' || ' ' instead.
            try:
                lits = _sql_literals(oracle)
            except ValueError as e:
                raise ValueError(f"{name}: {e}") from None
            for lit in lits:
                if "  " in lit or "\n" in lit or "\t" in lit:
                    raise ValueError(
                        f"{name}: oracle string literal {lit!r} "
                        "contains a whitespace run that registry "
                        "normalization would collapse — state it as "
                        "' ' || ' ' (or chr()-escapes) instead")
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# ---------------------------------------------------------------------------
# Verification order.
#
# The driver verifies queries in REGISTRATION ORDER with a bounded
# window (~50 per round), so registration order is a verification
# schedule. One rule sets it: a driver green certifies a query only
# while the query's code digest (digest.py: its oracle SQL plus the
# bytecode and data constants reachable from it by name) equals the
# digest recorded with that green in VERIFIED.json. _load_all() sorts
# by (tier, round, load order):
#
#   tier 0 — no recorded green (new, or red in its newest verdict);
#   tier 1 — the digest changed since the green (code edited since);
#   tier 2 — fresh; the oldest greens rotate to the front of the tier.
#
# VERIFIED.json is written only by ``python tools/windowcheck.py
# record`` from the committed CORRECTNESS_r*.json artifacts; an edit
# fronts the queries it reaches with no list to keep, and a doc- or
# comment-only edit fronts nothing.
# ---------------------------------------------------------------------------


def _verified() -> dict[str, list]:
    """VERIFIED.json at the repo root: query -> [round, digest]. Empty
    when absent (an installed package without the repo root), which
    puts every query in tier 0."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    try:
        with open(os.path.join(root, "VERIFIED.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def verification_key(verified: dict[str, list],
                     digests: dict[str, str]) -> Callable[[str], tuple]:
    """(tier, round) per query — see the verification-order comment."""
    def key(name: str) -> tuple:
        rec = verified.get(name)
        if rec is None:
            return (0, 0)
        rnd, digest = rec
        return (1 if digest != digests.get(name) else 2, rnd)
    return key


def free_session_caches(spark: SparkSession,
                        sweep_orphans: bool = False) -> int:
    """Session hygiene for LONG-LIVED sessions: release every tracked
    Spark-resident cache the query layer built — the checkpointed
    pair graphs (_PAIR_CACHE, _PREFIX_PAIR_CACHE), the graph edge
    table (_EDGE_CACHE), and the plan-persist intermediates
    (containment's inverted indexes, winnow's fingerprints,
    edit-distance's gram table, collocations' bigram counts). Entries
    rebuild on demand, so this trades recompute for memory — the knob
    a session running hundreds of distinct queries needs (the r13
    catch: a full-registry sf0.1 sweep OOMed the JVM at query ~209
    purely from ACCUMULATED cache blocks; each query re-verified green
    in a fresh session).
    Driver-only caches (BPE merge lists) are cleared too. Returns the
    number of cache entries released.

    ``sweep_orphans=True`` additionally unpersists EVERY remaining
    persistent RDD in the session — the orphaned per-iteration
    localCheckpoints iterative graph queries leave behind, which
    ``DataFrame.unpersist`` cannot release. OPT-IN because the sweep
    cannot tell an orphan from a checkpointed frame the CALLER still
    holds, and unpersisting a localCheckpoint is data LOSS (lineage
    is truncated — the next action raises, it does not rebuild).
    Default False is always safe: tracked caches rebuild on demand."""
    from gasket_spark.io import free_checkpoint
    from gasket_spark.queries import llm, relational

    app = spark.sparkContext.applicationId
    n = 0
    for cache in (llm._PAIR_CACHE, llm._PREFIX_PAIR_CACHE,
                  relational._EDGE_CACHE):
        for k in list(cache):
            if k[0] == app:
                free_checkpoint(spark, cache[k][1])
            del cache[k]
            n += 1
    for k in list(llm._PLAN_PERSIST_CACHE):
        if k[1] == app:
            for frame in llm._PLAN_PERSIST_CACHE[k][1]:
                frame.unpersist(False)
        del llm._PLAN_PERSIST_CACHE[k]
        n += 1
    n += len(llm._BPE_MERGE_CACHE)
    llm._BPE_MERGE_CACHE.clear()
    if not sweep_orphans:
        return n
    # With every tracked cache cleared, a persistent RDD still in the
    # session is — for the query layer's own workloads — an ORPHANED
    # per-call / per-iteration localCheckpoint (iterative graph
    # queries cut lineage each round). See the docstring for why this
    # sweep is opt-in.
    try:
        live = dict(spark.sparkContext._jsc.getPersistentRDDs())
    except Exception:  # pragma: no cover - dead/stopped context
        return n
    for rdd in live.values():
        try:
            rdd.unpersist(False)
            n += 1
        except Exception:  # pragma: no cover - racing teardown
            pass
    return n


def _load_all() -> None:
    # Import for registration side effects; keep order stable.
    from gasket_spark.queries import llm  # noqa: F401
    from gasket_spark.queries import streamingq  # noqa: F401
    from gasket_spark.queries import pipelineq  # noqa: F401
    from gasket_spark.queries import relational  # noqa: F401

    from gasket_spark.queries.digest import query_digests

    DIGESTS.update(query_digests())
    key = verification_key(_verified(), DIGESTS)
    idx = {n: i for i, n in enumerate(QUERIES)}
    ordered = sorted(QUERIES, key=lambda n: (*key(n), idx[n]))
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in ordered if n in snapshot})


_load_all()
