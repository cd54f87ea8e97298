"""Fast smoke for every registered query at sf0.001 (>0 rows, stable
schema) plus the driver entry contract. The full DuckDB oracle compare
runs via tools/selfcheck.py at sf0.01."""

import pytest

from tests.conftest import SF_SMALL


def _query_names():
    from gasket_spark.queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _query_names())
def test_query_runs(spark, name):
    from gasket_spark.queries import QUERIES

    df = QUERIES[name](spark, SF_SMALL)
    assert len(df.columns) > 0
    assert df.limit(1).count() >= 0  # executes the plan


def test_entry_contract(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() > 0
    qs, oracles = em.queries(), em.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 15


def _windowcheck():
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    import windowcheck

    return windowcheck


def test_verification_window_rotation():
    """Registration order is the driver's verification schedule. It
    sorts by (tier, round): tier 0 has no recorded green, tier 1 changed
    code since its green (digest mismatch), tier 2 is fresh. So every
    unverified or changed query sorts ahead of every fresh green, the
    oldest fresh greens rotate back first, and no never-verified or red
    query falls outside the driver's window."""
    from gasket_spark.queries import (
        DIGESTS, QUERIES, _verified, verification_key)

    names = list(QUERIES)
    key = verification_key(_verified(), DIGESTS)
    keys = [key(n) for n in names]
    assert keys == sorted(keys)
    stale = [i for i, k in enumerate(keys) if k[0] < 2]
    fresh = [i for i, k in enumerate(keys) if k[0] == 2]
    assert not stale or not fresh or max(stale) < min(fresh)
    unverified = {n for n, k in zip(names, keys) if k[0] == 0}
    assert unverified <= set(names[:_windowcheck().WINDOW])


def test_verified_records_the_newest_artifact():
    """VERIFIED.json must be re-recorded (`python tools/windowcheck.py
    record`) whenever a CORRECTNESS artifact lands; a forgotten step
    fails here instead of freezing the window on stale greens."""
    from gasket_spark.queries import _verified

    assert _verified()
    assert _windowcheck().unrecorded(_verified()) is None


class TestCsvRoundTrip:
    def test_csv_source_sink(self, spark, tmp_path):
        from gasket_spark.io import read_csv, read_table, write_csv

        out = str(tmp_path / "nation_csv")
        nation = read_table(spark, SF_SMALL, "nation")
        write_csv(nation, out)
        back = read_csv(spark, out,
                        schema="n_nationkey int, n_name string, "
                               "n_regionkey int")
        assert sorted(map(tuple, back.collect())) == \
            sorted(map(tuple, nation.collect()))


class TestCompaction:
    def test_compacts_many_small_files_to_target(self, spark, tmp_path):
        from gasket_spark.io import compact_parquet, read_table

        src = str(tmp_path / "fragmented")
        out = str(tmp_path / "compacted")
        li = read_table(spark, SF_SMALL, "lineitem")
        li.repartition(64).write.parquet(src)  # simulate micro-batch litter
        import glob
        assert len(glob.glob(f"{src}/part-*")) == 64

        n = compact_parquet(spark, src, out, target_file_bytes=256 * 1024)
        got = len(glob.glob(f"{out}/part-*"))
        assert got == n and got < 64
        # lossless
        assert spark.read.parquet(out).count() == li.count()


class TestOnePassProfile:
    def test_values_match_exact_and_single_scan(self, spark):
        from gasket_spark.io import read_table
        from gasket_spark.operators.profile import profile_table
        from tests.conftest import SF_SMALL

        od = read_table(spark, SF_SMALL, "orders")
        prof = {r.col: r for r in profile_table(
            od, ["o_orderkey", "o_orderstatus", "o_custkey"]).collect()}
        n = od.count()
        for c in ("o_orderkey", "o_orderstatus", "o_custkey"):
            exact_distinct = od.select(c).distinct().count()
            p = prof[c]
            assert p.n == n and p.n_nonnull == n
            # HLL rsd default 5%
            assert abs(p.distinct_est - exact_distinct) \
                <= max(3, 0.1 * exact_distinct)
        assert prof["o_orderstatus"].min_v == "F"
        assert prof["o_orderstatus"].max_v == "P"


class TestApproxPercentileBound:
    def test_rank_error_within_guarantee(self, spark):
        """q_agg_percentile_approx RETURNS its own error-bound verdicts;
        every group must report in-bounds at sf0.01 (the oracle pins
        the same at driver time — this is the local regression)."""
        from gasket_spark.queries import QUERIES
        from tests.conftest import SF_ORACLE

        rows = QUERIES["q_agg_percentile_approx"](spark, SF_ORACLE).collect()
        assert len(rows) == 3
        assert all(r.p50_ok and r.p90_ok for r in rows)


class TestQuarantineSplit:
    def test_routes_with_reasons_and_partitions_input(self, spark):
        from pyspark.sql import functions as F

        from gasket_spark.operators.profile import quarantine_split

        df = spark.createDataFrame(
            [(1, "ok", 10.0), (2, None, 5.0), (3, "ok", -1.0),
             (4, None, -2.0), (5, "ok", 0.5)],
            "id long, name string, value double")
        good, bad = quarantine_split(df, {
            "name_present": F.col("name").isNotNull(),
            "value_positive": F.col("value") > 0,
        })
        assert sorted(r.id for r in good.collect()) == [1, 5]
        got = {r.id: list(r._violations) for r in bad.collect()}
        assert got == {2: ["name_present"],
                       3: ["value_positive"],
                       4: ["name_present", "value_positive"]}
        # partition of the input, schema preserved on the good lane
        assert good.columns == df.columns
        assert good.count() + bad.count() == df.count()

    def test_null_rule_result_is_a_violation(self, spark):
        """A rule that evaluates to NULL (e.g. comparison against a
        NULL column) must quarantine, not pass — unevaluable is not
        valid."""
        from pyspark.sql import functions as F

        from gasket_spark.operators.profile import quarantine_split

        df = spark.createDataFrame([(1, None)], "id long, v double")
        good, bad = quarantine_split(df, {"v_big": F.col("v") > 100})
        assert good.count() == 0
        assert [list(r._violations) for r in bad.collect()] == [["v_big"]]


class TestQuarantineOutCol:
    def test_refuses_to_clobber_existing_column(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from gasket_spark.operators.profile import quarantine_split

        df = spark.createDataFrame(
            [(1, ["old"])], "v long, _violations array<string>")
        with _pytest.raises(ValueError, match="_violations"):
            quarantine_split(df, {"v_pos": F.col("v") > 0})

    def test_custom_out_col_routes_and_annotates(self, spark):
        from pyspark.sql import functions as F

        from gasket_spark.operators.profile import quarantine_split

        df = spark.createDataFrame(
            [(1, ["keep-me"]), (-1, ["keep-me-too"])],
            "v long, _violations array<string>")
        good, bad = quarantine_split(
            df, {"v_pos": F.col("v") > 0}, out_col="_qc")
        g = good.collect()
        assert [r.v for r in g] == [1]
        # the caller's own _violations column survives on BOTH sides
        assert g[0]._violations == ["keep-me"]
        b = bad.collect()
        assert b[0]._violations == ["keep-me-too"]
        assert b[0]._qc == ["v_pos"]
