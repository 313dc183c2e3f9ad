"""Planted-fixture golden tests for round 11.

Round 11 opens by closing the four r10 ADVICE items (watermark-dedup
keying, CvM overflow guard, Hill effective-k, integral-division
parity) and adds the warehouse MERGE/ANALYZE/AS-OF verbs plus a
statistics/graph/dedup batch. These tests plant the degenerate and
hand-computable shapes the sf-scale oracle sims can't isolate:
short-corpus Hill, the CvM guard actually raising, constant-series
moments, the GPD empty-exceedance corpus, hand-checked
Mantel-Haenszel cells, and the winnowing detection guarantee.
"""

from __future__ import annotations

import os

import pytest


def _write(df, sf_dir: str, name: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark, rows):
    """rows: (doc_id, text, lang, source, n_chars)."""
    return spark.createDataFrame(
        list(rows),
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _daily_events(spark, counts):
    """One events row per unit: counts[d] events on day d (Jan 2024)."""
    from datetime import datetime

    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, datetime(2024, 1, 1 + d, 12, 0, 0), 1, "view", 1.0, "{}")
            )
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


class TestHillEffectiveK:
    def test_short_corpus_reports_actual_k(self, spark, tmp_path):
        """5 docs -> top-(k+1) is all 5 rows -> effective k = 4, not
        the unused HILL_K = 100 (r10 ADVICE #3)."""
        from couchwarehouse_spark.plans.statistics import hill_tail_index

        sf = str(tmp_path / "sf")
        _write(
            _docs(
                spark,
                [(i, "t", "en", "s", n) for i, n in enumerate([100, 80, 60, 40, 20])],
            ),
            sf,
            "documents",
        )
        (r,) = hill_tail_index(spark, sf).collect()
        assert r.k == 4
        assert r.x_thresh == 20
        assert r.hill_alpha is not None

    def test_single_row_corpus_emits_nothing(self, spark, tmp_path):
        """k_eff = 0: no meaningful estimate -> zero rows, not a
        mislabeled alpha."""
        from couchwarehouse_spark.plans.statistics import hill_tail_index

        sf = str(tmp_path / "sf")
        _write(_docs(spark, [(1, "t", "en", "s", 50)]), sf, "documents")
        assert hill_tail_index(spark, sf).count() == 0


class TestCvmOverflowGuard:
    def test_large_groups_raise_loudly(self, spark, tmp_path):
        """Group sizes past the N*(n_a*n_b)^2 < 9e18 bound must raise
        the in-plan assert (r10 ADVICE #2), not wrap silently: the
        bound trips from n ~ 5400 per group, so 6000 fires it."""
        from pyspark.sql import functions as F

        from couchwarehouse_spark.plans.statistics import (
            KS_A,
            KS_B,
            cramer_von_mises_drift,
        )

        sf = str(tmp_path / "sf")
        n = 6000
        docs = (
            spark.range(2 * n)
            .select(
                F.col("id").alias("doc_id"),
                F.lit("t").alias("text"),
                F.lit("en").alias("lang"),
                F.when(F.col("id") < n, F.lit(KS_A))
                .otherwise(F.lit(KS_B))
                .alias("source"),
                (F.col("id") % 97 + 1).cast("long").alias("n_chars"),
            )
        )
        _write(docs, sf, "documents")
        with pytest.raises(Exception, match="overflow|ASSERT"):
            cramer_von_mises_drift(spark, sf).collect()

    def test_small_groups_pass_guard(self, spark, tmp_path):
        """Well under the bound the guard is inert and the statistic
        computes."""
        from couchwarehouse_spark.plans.statistics import (
            KS_A,
            KS_B,
            cramer_von_mises_drift,
        )

        sf = str(tmp_path / "sf")
        _write(
            _docs(
                spark,
                [(i, "t", "en", KS_A if i < 3 else KS_B, 10 * (i + 1))
                 for i in range(6)],
            ),
            sf,
            "documents",
        )
        (r,) = cramer_von_mises_drift(spark, sf).collect()
        assert r.n_a == 3 and r.n_b == 3
        assert r.cvm_numerator is not None


class TestJarqueBera:
    def test_constant_series_nulls_not_nan(self, spark, tmp_path):
        """sd = 0: moments nullif-guard to NULL in both lanes instead
        of a 0/0 NaN."""
        from couchwarehouse_spark.plans.statistics import jarque_bera_normality

        sf = str(tmp_path / "sf")
        _write(_daily_events(spark, [3, 3, 3, 3]), sf, "events")
        (r,) = jarque_bera_normality(spark, sf).collect()
        assert r.n_days == 4
        assert r.jb_stat is None and r.looks_normal is None

    def test_symmetric_series_zero_skew(self, spark, tmp_path):
        """Counts [1,3,3,5]: mean 3, symmetric -> skewness exactly 0;
        z^4 terms: z = +/-sqrt(2) for 1 and 5, 0 for the 3s ->
        kurtosis = (4+4)/(1e6-scaled)/4/... = 2.0 by hand."""
        from couchwarehouse_spark.plans.statistics import jarque_bera_normality

        sf = str(tmp_path / "sf")
        _write(_daily_events(spark, [1, 3, 3, 5]), sf, "events")
        (r,) = jarque_bera_normality(spark, sf).collect()
        assert r.skewness == 0.0
        assert r.kurtosis == 2.0
        # JB = n/6 * (0 + (2-3)^2/4) = 4/6 * 0.25 = 0.1667
        assert r.jb_stat == 0.1667
        assert bool(r.looks_normal) is True


class TestYuleWalkerAr2:
    def test_alternating_series_r1_near_minus_one(self, spark, tmp_path):
        """x = [2,4,2,4,2,4]: y = n*x - S = [-6,6,-6,6,-6,6];
        c0 = 6*36 = 216, c1 = 5*(-36) = -180, c2 = 4*36 = 144."""
        from couchwarehouse_spark.plans.statistics import yule_walker_ar2

        sf = str(tmp_path / "sf")
        _write(_daily_events(spark, [2, 4, 2, 4, 2, 4]), sf, "events")
        (r,) = yule_walker_ar2(spark, sf).collect()
        assert (r.c0_num, r.c1_num, r.c2_num) == (216, -180, 144)
        # r1 = -5/6, r2 = 2/3; den = 1 - 25/36 = 11/36
        # phi1 = (-5/6)(1/3)/(11/36) = -10/11; phi2 = (2/3-25/36)/(11/36) = -1/11
        assert r.phi1 == round(-10 / 11, 6)
        assert r.phi2 == round(-1 / 11, 6)

    def test_degenerate_two_day_series(self, spark, tmp_path):
        """n = 2: no lag-2 pairs -> c2 NULL-sums; the entry must not
        crash and the ratios null-guard."""
        from couchwarehouse_spark.plans.statistics import yule_walker_ar2

        sf = str(tmp_path / "sf")
        _write(_daily_events(spark, [1, 2]), sf, "events")
        (r,) = yule_walker_ar2(spark, sf).collect()
        assert r.c2_num is None


class TestGpdPotTailFit:
    def test_hand_computed_pwm(self, spark, tmp_path):
        """20 docs, n_chars 1..20: p95 rank = ceil(0.95*20) = 19 ->
        u = 19; exceedances z = [1] (value 20). n_exceed = 1 ->
        b1 denominator n(n-1) = 0 -> sigma/xi NULL but b0_num = 1."""
        from couchwarehouse_spark.plans.statistics import gpd_pot_tail_fit

        sf = str(tmp_path / "sf")
        _write(
            _docs(spark, [(i, "t", "en", "s", i) for i in range(1, 21)]),
            sf,
            "documents",
        )
        (r,) = gpd_pot_tail_fit(spark, sf).collect()
        assert r.u == 19 and r.n_exceed == 1 and r.b0_num == 1
        assert r.gpd_xi is None  # n(n-1) = 0: b1 undefined, guarded

    def test_all_equal_corpus_no_exceedances(self, spark, tmp_path):
        """Every value equals the threshold -> empty exceedance set ->
        NULL aggregates in both lanes, no crash."""
        from couchwarehouse_spark.plans.statistics import gpd_pot_tail_fit

        sf = str(tmp_path / "sf")
        _write(
            _docs(spark, [(i, "t", "en", "s", 42) for i in range(10)]),
            sf,
            "documents",
        )
        (r,) = gpd_pot_tail_fit(spark, sf).collect()
        assert r.n_exceed is None and r.gpd_xi is None


class TestMantelHaenszel:
    def test_hand_computed_two_strata(self, spark, tmp_path):
        """Two strata with hand-built 2x2 cells. Global median of
        n_chars over 8 docs (values 1..8, rank (50*8+99)//100 = 4)
        -> m = 4; outcome = n_chars >= 4.

        Stratum s1: en docs chars [4,1], other [5,2] -> a=1 b=1 c=1 d=1
        Stratum s2: en docs chars [6,7], other [3,8] -> a=2 b=0 c=1 d=1
        num = 1*1/4 + 2*1/4 = 0.75 ; den = 1*1/4 + 0*1/4 = 0.25
        OR_MH = 3.0 ; crude: a=3 b=1 c=2 d=2 -> 6/2 = 3.0
        """
        from couchwarehouse_spark.plans.statistics import mantel_haenszel_or

        sf = str(tmp_path / "sf")
        rows = [
            (1, "t", "en", "s1", 4),
            (2, "t", "en", "s1", 1),
            (3, "t", "de", "s1", 5),
            (4, "t", "de", "s1", 2),
            (5, "t", "en", "s2", 6),
            (6, "t", "en", "s2", 7),
            (7, "t", "de", "s2", 3),
            (8, "t", "de", "s2", 8),
        ]
        _write(_docs(spark, rows), sf, "documents")
        (r,) = mantel_haenszel_or(spark, sf).collect()
        assert r.n_strata == 2
        assert r.or_mantel_haenszel == 3.0
        assert r.or_crude_pooled == 3.0


class TestWinnowingGuarantee:
    def test_identical_docs_share_all_minimizers(self, spark, tmp_path):
        """Two byte-identical docs have identical minimizer sets ->
        minimizer Jaccard exactly 1.0 and shared == n_min."""
        from couchwarehouse_spark.plans.dedup import winnowing_fingerprints

        text = "the quick brown fox jumps over the lazy dog again and again"
        sf = str(tmp_path / "sf")
        _write(
            _docs(
                spark,
                [(1, text, "en", "s", len(text)), (2, text, "en", "s", len(text))],
            ),
            sf,
            "documents",
        )
        (r,) = winnowing_fingerprints(spark, sf).collect()
        assert (r.doc_a, r.doc_b) == (1, 2)
        assert r.shared_minimizers == r.n_min_a == r.n_min_b
        assert r.minimizer_jaccard == 1.0

    def test_shared_run_is_always_detected(self, spark, tmp_path):
        """The winnowing guarantee: any shared token run of length
        >= k + w - 1 = 6 yields at least one shared minimizer —
        regardless of what the md5 values happen to be."""
        from couchwarehouse_spark.plans.dedup import winnowing_fingerprints

        run = "alpha beta gamma delta epsilon zeta"  # 6 shared tokens
        a = "x1 x2 x3 " + run + " y1 y2"
        b = "z1 " + run + " w1 w2 w3 w4"
        sf = str(tmp_path / "sf")
        _write(
            _docs(spark, [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b))]),
            sf,
            "documents",
        )
        rows = winnowing_fingerprints(spark, sf).collect()
        pair = [r for r in rows if (r.doc_a, r.doc_b) == (1, 2)]
        assert pair and pair[0].shared_minimizers >= 1

    def test_short_docs_skipped(self, spark, tmp_path):
        """Docs under k + w - 1 tokens have no complete window and
        must be absent from the index in both lanes."""
        from couchwarehouse_spark.plans.dedup import winnowing_fingerprints

        sf = str(tmp_path / "sf")
        _write(
            _docs(
                spark,
                [(1, "a b c d e", "en", "s", 9), (2, "a b c d e", "en", "s", 9)],
            ),
            sf,
            "documents",
        )
        assert winnowing_fingerprints(spark, sf).count() == 0


class TestSrmGuardrail:
    def test_balanced_assignment_passes(self, spark, tmp_path):
        """A large user set under the real md5 split should land well
        inside the chi^2 bound (sanity that the guardrail is not
        trigger-happy on its own assignment)."""
        from pyspark.sql import functions as F

        from couchwarehouse_spark.plans.statistics import srm_guardrail_check

        sf = str(tmp_path / "sf")
        ev = spark.range(2000).select(
            F.col("id").alias("event_id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.col("id").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        _write(ev, sf, "events")
        (r,) = srm_guardrail_check(spark, sf).collect()
        assert r.n_users == 2000
        assert r.n_a + r.n_b == 2000
        assert bool(r.srm_detected) is False


def _daily_events_td(spark, counts):
    """counts[d] events on day d, spanning months via timedelta."""
    from datetime import datetime, timedelta

    rows = []
    eid = 0
    base = datetime(2024, 1, 1, 12, 0, 0)
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, base + timedelta(days=d), 1, "view", 1.0, "{}")
            )
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _user_events(spark, rows):
    """rows: (user_id, event_type, value)."""
    from datetime import datetime

    return spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1, 12, 0, 0), u, et, float(v), "{}")
            for i, (u, et, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


class TestIsotonicPav:
    def test_hand_computed_pooling(self, spark, tmp_path):
        """Bins 0/1/2 with raw rates 0.5, 0.0, 1.0: PAV pools the
        violating first two to 0.25 and leaves the third at 1.0 —
        the minimax formula must equal the classical sweep."""
        from couchwarehouse_spark.plans.statistics import (
            isotonic_calibration_pav,
        )

        rows = [
            (0, "purchase", 1),
            (100, "view", 1),   # bin 0: 1/2
            (1, "view", 1),
            (101, "view", 1),   # bin 1: 0/2
            (2, "purchase", 1),
            (102, "purchase", 1),  # bin 2: 2/2
        ]
        sf = str(tmp_path / "sf")
        _write(_user_events(spark, rows), sf, "events")
        out = {
            r.bin: r for r in isotonic_calibration_pav(spark, sf).collect()
        }
        assert out[0].raw_rate == 0.5 and out[1].raw_rate == 0.0
        assert out[0].isotonic_rate == 0.25
        assert out[1].isotonic_rate == 0.25
        assert out[2].isotonic_rate == 1.0
        fits = [out[b].isotonic_rate for b in sorted(out)]
        assert fits == sorted(fits), "isotonic fit must be non-decreasing"


class TestCochranArmitage:
    def test_hand_computed_chi2(self, spark, tmp_path):
        """s1: 4 docs 1 en; s2: 4 docs 3 en -> num = 8*3-4*4 = 8,
        chi2 = 8^2*8/(4*4*16) = 2.0 (< 3.84: no trend verdict)."""
        from couchwarehouse_spark.plans.statistics import (
            cochran_armitage_trend,
        )

        rows = []
        for i in range(4):
            rows.append((i, "t", "en" if i == 0 else "de", "s1", 10))
        for i in range(4):
            rows.append((4 + i, "t", "en" if i < 3 else "de", "s2", 10))
        sf = str(tmp_path / "sf")
        _write(_docs(spark, rows), sf, "documents")
        (r,) = cochran_armitage_trend(spark, sf).collect()
        assert (r.n_groups, r.n_total, r.k_total, r.trend_num) == (2, 8, 4, 8)
        assert r.chi2_trend == 2.0
        assert bool(r.trend_detected) is False


class TestDurbinWatson:
    def test_alternating_series(self, spark, tmp_path):
        """x = [2,4,2,4]: y = [-4,4,-4,4], ss = 64, diff-ss = 192 ->
        DW = 3.0 (negative autocorrelation side)."""
        from couchwarehouse_spark.plans.statistics import durbin_watson

        sf = str(tmp_path / "sf")
        _write(_daily_events_td(spark, [2, 4, 2, 4]), sf, "events")
        (r,) = durbin_watson(spark, sf).collect()
        assert (r.resid_ss_num, r.diff_ss_num) == (64, 192)
        assert r.dw_stat == 3.0
        assert bool(r.positive_autocorr) is False


class TestGumbelBlockMaxima:
    def test_hand_computed_two_blocks(self, spark, tmp_path):
        """Jan max 3, Feb max 5: b0 = 4, b1 = 2.5 -> beta =
        (5-4)/ln2, mu = 4 - gamma*beta."""
        import math

        from couchwarehouse_spark.plans.statistics import (
            gumbel_block_maxima_fit,
        )

        counts = [3] + [1] * 30 + [5] + [1] * 27  # Jan: peak 3, Feb: peak 5
        sf = str(tmp_path / "sf")
        _write(_daily_events_td(spark, counts), sf, "events")
        (r,) = gumbel_block_maxima_fit(spark, sf).collect()
        assert r.n_blocks == 2
        assert (r.b0_num, r.b1_num) == (8, 5)
        beta = (2 * 2.5 - 4.0) / math.log(2)
        assert r.gumbel_beta == round(beta, 4)
        assert r.gumbel_mu == round(4.0 - 0.5772156649015329 * beta, 4)

    def test_single_block_guards(self, spark, tmp_path):
        from couchwarehouse_spark.plans.statistics import (
            gumbel_block_maxima_fit,
        )

        sf = str(tmp_path / "sf")
        _write(_daily_events_td(spark, [2, 3, 4]), sf, "events")
        (r,) = gumbel_block_maxima_fit(spark, sf).collect()
        assert r.n_blocks == 1 and r.gumbel_beta is None


class TestRatioDeltaMethod:
    def test_hand_computed_sums(self, spark, tmp_path):
        """Two users: u1 (2 events, one 1.50 purchase), u2 (1 view):
        R = 150/3 = 50 cents/event; sums cross-checked exactly."""
        from couchwarehouse_spark.plans.statistics import (
            ratio_metric_delta_method,
        )

        rows = [
            (1, "purchase", 1.50),
            (1, "view", 9.99),
            (2, "view", 2.00),
        ]
        sf = str(tmp_path / "sf")
        _write(_user_events(spark, rows), sf, "events")
        (r,) = ratio_metric_delta_method(spark, sf).collect()
        assert (r.n_users, r.sum_cents, r.sum_events) == (2, 150, 3)
        assert r.ratio_cents_per_event == 50.0
        assert r.se_delta is not None and r.se_delta >= 0


class TestEnergyDistance:
    def test_hand_computed_pair_sums(self, spark, tmp_path):
        """A = {10,30}, B = {10,30}: equal distributions -> E = 0 with
        sab = saa = sbb = 40 (the 4-pair abs sums)."""
        from couchwarehouse_spark.plans.statistics import (
            KS_A,
            KS_B,
            energy_distance_drift,
        )

        rows = [
            (1, "t", "en", KS_A, 10),
            (2, "t", "en", KS_A, 30),
            (3, "t", "en", KS_B, 10),
            (4, "t", "en", KS_B, 30),
        ]
        sf = str(tmp_path / "sf")
        _write(_docs(spark, rows), sf, "documents")
        (r,) = energy_distance_drift(spark, sf).collect()
        assert (r.n_a, r.n_b) == (2, 2)
        assert (r.sab, r.saa, r.sbb) == (40, 40, 40)
        assert r.energy_distance == 0.0

    def test_disjoint_masses_positive(self, spark, tmp_path):
        """A = {10}, B = {30}: sab = 20, within-sums 0 -> E = 40."""
        from couchwarehouse_spark.plans.statistics import (
            KS_A,
            KS_B,
            energy_distance_drift,
        )

        rows = [(1, "t", "en", KS_A, 10), (2, "t", "en", KS_B, 30)]
        sf = str(tmp_path / "sf")
        _write(_docs(spark, rows), sf, "documents")
        (r,) = energy_distance_drift(spark, sf).collect()
        assert (r.sab, r.saa, r.sbb) == (20, 0, 0)
        assert r.energy_distance == 40.0


class TestTermBurstiness:
    def test_hand_computed_ratios(self, spark, tmp_path):
        """'a a b' + 'a c': term a has cf=3, df=2, df2=1 ->
        burstiness 1.5, adaptation 0.5."""
        from couchwarehouse_spark.plans.text import (
            term_burstiness_adaptation,
        )

        rows = [(1, "a a b", "en", "s", 5), (2, "a c", "en", "s", 3)]
        sf = str(tmp_path / "sf")
        _write(_docs(spark, rows), sf, "documents")
        out = {r.term: r for r in term_burstiness_adaptation(spark, sf).collect()}
        a = out["a"]
        assert (a.cf, a.df, a.df2) == (3, 2, 1)
        assert a.burstiness == 1.5 and a.adaptation == 0.5
        assert out["b"].adaptation == 0.0


class TestFullOuterStreamJoinBoundary:
    def test_right_side_eviction_is_inclusive_at_watermark(self, spark, tmp_path):
        """The full-outer interval join's right-side emission horizon:
        a purchase at EXACTLY the final watermark emits NULL-padded,
        one second past it is held; an unconverted view whose window
        closed emits; open-window rows on both sides are held. This
        pin (through ``interval_join_streams``, the entry's operator)
        is what licenses the `<=` in the entry's oracle."""
        import os
        import shutil

        from pyspark.sql import functions as F

        from couchwarehouse_spark.streaming.joins import interval_join_streams

        base = str(tmp_path / "fo")
        os.makedirs(f"{base}/v")
        os.makedirs(f"{base}/p")
        rows_v = [
            ("2024-01-01 00:00:00", 1),   # converts via p1
            ("2024-01-01 00:05:00", 2),   # window closes 01:05 < wm: emits
            ("2024-01-01 12:00:00", 99),  # open window: held
        ]
        rows_p = [
            ("2024-01-01 00:30:00", 1),   # matches v1
            ("2024-01-01 11:50:00", 50),  # exactly wm (12:00 - 10min): emits
            ("2024-01-01 11:50:01", 51),  # past wm: held
            ("2024-01-01 12:00:00", 98),  # past wm: held
        ]
        for rows, sub in [(rows_v, "v"), (rows_p, "p")]:
            df = spark.createDataFrame(rows, "ts string, user_id long").select(
                F.col("ts").cast("timestamp").alias("ts"), "user_id"
            )
            tmp = f"{base}/{sub}_w"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            for f in os.listdir(tmp):
                if f.endswith(".parquet"):
                    shutil.copyfile(
                        os.path.join(tmp, f), os.path.join(base, sub, f)
                    )
        schema = "ts timestamp, user_id long"
        views = spark.readStream.schema(schema).parquet(f"{base}/v").select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
        )
        purch = spark.readStream.schema(schema).parquet(f"{base}/p").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
        )
        j = interval_join_streams(
            views,
            purch,
            key="v_user",
            right_key="p_user",
            left_ts="view_ts",
            right_ts="purchase_ts",
            watermark="10 minutes",
            interval="1 hour",
            how="full_outer",
        )
        q = (
            j.writeStream.format("memory")
            .queryName("cw_fo_boundary")
            .outputMode("append")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = {
            (r["v_user"], r["p_user"])
            for r in spark.table("cw_fo_boundary").collect()
        }
        assert (1, 1) in out          # matched pair
        assert (2, None) in out       # closed-window view emitted
        assert (None, 50) in out      # purchase AT wm: inclusive emit
        assert (None, 51) not in out  # past wm: held
        assert (None, 98) not in out  # open right row: held
        assert (99, None) not in out  # open left window: held


class TestHalfLifeDecay:
    def test_hand_computed_dyadic_weights(self, spark, tmp_path):
        """Events 7 days apart: the older day's weight is exactly half
        the newer day's — decayed_num = c_new*2^30 + c_old*2^29."""
        from couchwarehouse_spark.plans.events_windows import (
            HL_CLAMP,
            half_life_decayed_popularity,
        )

        sf = str(tmp_path / "sf")
        _write(_daily_events_td(spark, [3] + [0] * 6 + [2]), sf, "events")
        (r,) = half_life_decayed_popularity(spark, sf).collect()
        assert r.n_events == 5
        assert r.decayed_num == 2 * (1 << HL_CLAMP) + 3 * (1 << (HL_CLAMP - 1))
        assert r.decayed_count == 3.5
        assert r.decayed_share == 1.0

    def test_clamp_bounds_ancient_events(self, spark, tmp_path):
        """An event older than clamp half-lives gets the floor weight
        (2^0 before scaling), not underflow or overflow."""
        from couchwarehouse_spark.plans.events_windows import (
            HL_CLAMP,
            HL_WEEKS,
            half_life_decayed_popularity,
        )

        counts = [1] + [0] * (HL_WEEKS * (HL_CLAMP + 5)) + [1]
        sf = str(tmp_path / "sf")
        _write(_daily_events_td(spark, counts), sf, "events")
        (r,) = half_life_decayed_popularity(spark, sf).collect()
        assert r.decayed_num == (1 << HL_CLAMP) + 1


class TestGainsDecileTable:
    def test_perfect_and_base_rates(self, spark, tmp_path):
        """Mechanics pins on 20 planted users: deciles hold 2 users
        each, cum_capture ends at exactly 1.0, and sum(n_pos) equals
        the positive count."""
        from datetime import datetime

        from couchwarehouse_spark.plans.statistics import (
            GAINS_POS_MIN,
            gains_decile_table,
        )

        rows = []
        eid = 0
        for u in range(20):
            n_purch = GAINS_POS_MIN if u % 4 == 0 else 1
            for _ in range(n_purch):
                rows.append(
                    (eid, datetime(2024, 1, 1, 12), u, "purchase", 1.0, "{}")
                )
                eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        sf = str(tmp_path / "sf")
        _write(df, sf, "events")
        out = gains_decile_table(spark, sf).collect()
        assert [r.decile for r in out] == list(range(10))
        assert all(r.n_users == 2 for r in out)
        assert sum(r.n_pos for r in out) == 5
        assert out[-1].cum_capture == 1.0
