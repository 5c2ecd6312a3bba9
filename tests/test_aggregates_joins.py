"""Aggregate / join operator tests with python oracles."""

from __future__ import annotations

import math
import statistics

from cellphe_data_pipeline_spark.operators.aggregates import (
    argmin_rows,
    minmax_normalize,
    multistat_summary,
)
from cellphe_data_pipeline_spark.operators.joins import density_self_join, zip_join


def test_median_is_exact(spark):
    # even-sized group: exact median interpolates; approx would not
    vals = [1.0, 2.0, 3.0, 100.0]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    row = multistat_summary(df, ["k"], "v").collect()[0]
    assert row["median_val"] == statistics.median(vals) == 2.5
    assert row["min_val"] == 1.0 and row["max_val"] == 100.0 and row["n"] == 4


def test_argmin_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "b"), (1, 7, "c"), (2, 1, "d")],
        "k int, ord int, tag string",
    )
    out = {r["k"]: r["tag"] for r in argmin_rows(df, ["k"], ["ord", "tag"]).collect()}
    assert out == {1: "a", 2: "d"}


def test_minmax_normalize_constant_group_is_null(spark):
    df = spark.createDataFrame(
        [("a", 0.0), ("a", 5.0), ("a", 10.0), ("b", 3.0), ("b", 3.0)],
        "k string, v double",
    )
    out = {(r["k"], r["v"]): r["norm_value"] for r in minmax_normalize(df, ["k"], "v").collect()}
    assert out[("a", 0.0)] == 0.0 and out[("a", 10.0)] == 1.0 and out[("a", 5.0)] == 0.5
    assert out[("b", 3.0)] is None


def test_zip_join_positional(spark):
    l = spark.createDataFrame([(10, "x"), (20, "y"), (30, "z")], "lk int, lv string")
    r = spark.createDataFrame([(1, "a"), (2, "b")], "rk int, rv string")
    out = sorted(
        (row["rn"], row["lv"], row["rv"]) for row in zip_join(l, r, ["lk"], ["rk"]).collect()
    )
    assert out == [(1, "x", "a"), (2, "y", "b")]  # truncates to shorter side


def test_density_self_join_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    pts = [
        (f, i, rng.uniform(0, 100), rng.uniform(0, 100))
        for f in (1, 2)
        for i in range(60)
    ]
    df = spark.createDataFrame(pts, "frame int, id int, x double, y double")
    radius = 15.0
    out = {(r["frame"], r["id"]): r["density"]
           for r in density_self_join(df, "frame", "x", "y", "id", radius).collect()}
    for f, i, x, y in pts:
        want = sum(
            1
            for f2, j, x2, y2 in pts
            if f2 == f and j != i and (x - x2) ** 2 + (y - y2) ** 2 <= radius**2
        )
        assert out[(f, i)] == want, (f, i)
    # boundary case: two points exactly `radius` apart in different grid cells
    df2 = spark.createDataFrame(
        [(1, 1, 0.0, 0.0), (1, 2, 15.0, 0.0), (1, 3, 200.0, 200.0)],
        "frame int, id int, x double, y double",
    )
    out2 = {r["id"]: r["density"] for r in density_self_join(df2, "frame", "x", "y", "id", radius).collect()}
    assert out2 == {1: 1, 2: 1, 3: 0}


def test_timeseries_wavelet_kernel(spark):
    from cellphe_data_pipeline_spark.operators.timeseries import timeseries_features
    import numpy as np

    vals = [1.0, 3.0, 2.0, 8.0, 5.0, 5.0, 9.0, 0.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    r = timeseries_features(df, key="k", order=["t"], value="v").collect()[0]
    assert r["n_obs"] == 8
    assert math.isclose(r["mean_val"], float(np.mean(vals)))
    d = np.diff(vals)
    assert math.isclose(r["ascent"], float(d[d > 0].sum()))
    assert math.isclose(r["descent"], float(d[d < 0].sum()))
    # level-1 haar details: pairwise diffs / sqrt(2)
    l1 = sum(abs(a - b) / math.sqrt(2) for a, b in zip(vals[0::2], vals[1::2]))
    assert math.isclose(r["haar_l1"], l1, rel_tol=1e-12)


def test_timeseries_multi_feature(spark):
    import numpy as np

    from cellphe_data_pipeline_spark.operators.timeseries import timeseries_features_multi

    rows = [(1, i, float(i % 5), float(i * i % 7)) for i in range(12)]
    df = spark.createDataFrame(rows, "k int, t int, f1 double, f2 double")
    multi = timeseries_features_multi(df, key="k", order=["t"], values=["f1", "f2"]).collect()[0]
    # every per-feature column equals a straight numpy computation
    for col, feat in ((2, "f1"), (3, "f2")):
        x = np.array([r[col] for r in sorted(rows, key=lambda r: r[1])])
        d = np.diff(x)
        assert multi[f"{feat}_mean"] == float(np.mean(x))
        assert multi[f"{feat}_std"] == float(np.std(x))
        assert multi[f"{feat}_ascent"] == float(d[d > 0].sum())
        assert multi[f"{feat}_descent"] == float(d[d < 0].sum())
        a = x
        for level in range(1, 4):
            pairs = a[: 2 * (len(a) // 2)].reshape(-1, 2)
            detail = (pairs[:, 0] - pairs[:, 1]) / np.sqrt(2.0)
            assert math.isclose(
                multi[f"{feat}_haar_l{level}"], float(np.abs(detail).sum()), rel_tol=1e-12
            )
            a = (pairs[:, 0] + pairs[:, 1]) / np.sqrt(2.0)
    assert multi["n_obs"] == 12


def test_density_join_negative_coords(spark):
    # grid bucketing must be correct across the 0 boundary (floor of
    # negatives) — a classic off-by-one-cell bug class
    pts = [(1, 1, -0.5, -0.5), (1, 2, 0.5, 0.5), (1, 3, -30.0, 10.0)]
    df = spark.createDataFrame(pts, "frame int, id int, x double, y double")
    out = {r["id"]: r["density"]
           for r in density_self_join(df, "frame", "x", "y", "id", 5.0).collect()}
    assert out == {1: 1, 2: 1, 3: 0}  # 1<->2 within sqrt(2), 3 isolated


def test_stratified_sample_and_limit_per_group(spark, sf_dir):
    """``limit_per_group`` keeps, per language, the min(3, group size)
    longest documents under a total order (the per-group cap used for
    corpus balancing)."""
    from cellphe_data_pipeline_spark.operators.aggregates import limit_per_group
    from cellphe_data_pipeline_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    d = load_table(spark, sf_dir, "documents")
    top = limit_per_group(d, ["lang"], [F.col("n_chars").desc(), F.col("doc_id")], 3)
    rows = top.collect()
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r["n_chars"])
    full_counts = {r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()}
    for lang, lens in per_lang.items():
        assert len(lens) == min(3, full_counts[lang])
        # these really are the longest-3
        all_lens = sorted(
            (r["n_chars"] for r in d.filter(F.col("lang") == lang).collect()),
            reverse=True,
        )
        assert sorted(lens, reverse=True) == all_lens[: len(lens)]


def test_a8b_golden_fixture_numpy_oracle(spark):
    """Cross-check the a8b golden-VALUES oracle independently: the
    fixture run must match a straight numpy reimplementation."""
    import numpy as np
    from cellphe_data_pipeline_spark.operators.timeseries import timeseries_features
    from cellphe_data_pipeline_spark.testing.fixtures import TIMESERIES_ROWS, timeseries_df

    got = {
        r["user_id"]: r
        for r in timeseries_features(
            timeseries_df(spark), key="user_id", order=["seq"], value="value"
        ).collect()
    }
    series: dict[int, list[float]] = {}
    for uid, seq, val in sorted(TIMESERIES_ROWS, key=lambda t: (t[0], t[1])):
        series.setdefault(uid, []).append(val)
    for uid, xs in series.items():
        x = np.array(xs)
        d = np.diff(x)
        r = got[uid]
        assert r["n_obs"] == len(x)
        assert math.isclose(r["mean_val"], float(x.mean()), rel_tol=1e-12)
        assert math.isclose(r["std_pop"], float(x.std()), rel_tol=1e-12)
        assert math.isclose(r["ascent"], float(d[d > 0].sum()) if len(d) else 0.0, abs_tol=1e-12)
        assert math.isclose(r["descent"], float(d[d < 0].sum()) if len(d) else 0.0, abs_tol=1e-12)
        a = x.copy()
        for lvl in range(1, 4):
            m2 = len(a) // 2
            if m2 == 0:
                assert r[f"haar_l{lvl}"] == 0.0
                a = a[:0]
                continue
            pairs = a[: 2 * m2].reshape(m2, 2)
            detail = (pairs[:, 0] - pairs[:, 1]) / np.sqrt(2.0)
            assert math.isclose(r[f"haar_l{lvl}"], float(np.abs(detail).sum()), rel_tol=1e-12)
            a = (pairs[:, 0] + pairs[:, 1]) / np.sqrt(2.0)


def test_v3_golden_fixture_brute_force_oracle(spark):
    """Cross-check the v3 golden: on the well-separated fixture, IVF
    with n_probe=2 must reach every true top-3 neighbor computed by a
    numpy brute force (clusters are far apart, so the true neighbors
    live in the same list the query probes first)."""
    import numpy as np
    from cellphe_data_pipeline_spark.operators.similarity import ivf_topk
    from cellphe_data_pipeline_spark.testing.fixtures import fixture_embeddings_df

    emb_df = fixture_embeddings_df(spark)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in emb_df.collect()}
    got = {}
    for r in ivf_topk(emb_df, dim=8, k=3, n_lists=3, n_probe=2, seed=7).collect():
        got.setdefault(r["vec_id"], {})[r["rank"]] = (r["neighbor_id"], r["cos_sim"])
    for q, v in vecs.items():
        sims = []
        for c, w in vecs.items():
            if c == q:
                continue
            cos = round(float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))), 5)
            sims.append((-cos, c))
        sims.sort()
        want = [(c, -negcos) for negcos, c in sims[:3]]
        have = [got[q][rk] for rk in (1, 2, 3)]
        assert have == want, f"vec {q}: {have} != {want}"


def test_asof_join_semantics(spark):
    """As-of: most recent prior-or-simultaneous right row per key;
    no-match rows survive with nulls; later right rows never leak."""
    from cellphe_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")],
        "user bigint, t bigint, pid string",
    )
    right = spark.createDataFrame(
        [(1, 8, "c1"), (1, 10, "c2"), (1, 15, "c3"), (2, 9, "c4")],
        "user bigint, t bigint, cid string",
    )
    out = {
        r["pid"]: (r["asof_cid"], r["asof_t"])
        for r in asof_join(left, right, key="user", ts="t", right_cols=["cid", "t"]).collect()
    }
    assert out == {
        "p1": ("c2", 10),   # same-ts right row included (<= semantics)
        "p2": ("c3", 15),   # latest prior of several
        "p3": (None, None), # right row at t=9 is AFTER t=5: no match
    }


def test_merge_upsert_semantics(spark):
    """CDC latest-wins merge: change beats base, greatest seq wins among
    changes, tombstone removes the key, untouched base keys survive."""
    from cellphe_data_pipeline_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame(
        [("A", 1, 10.0), ("B", 1, 20.0), ("D", 1, 40.0)],
        "k string, seq int, v double",
    )
    changes = spark.createDataFrame(
        [
            ("A", 2, 11.0, False),
            ("A", 3, 12.0, False),   # latest update for A wins
            ("B", 2, 0.0, True),     # tombstone: B vanishes
            ("C", 2, 30.0, False),   # brand-new key inserted
            ("E", 2, 50.0, True),    # tombstone for a key not in base
        ],
        "k string, seq int, v double, is_delete boolean",
    )
    out = {r["k"]: (r["seq"], r["v"])
           for r in merge_upsert(base, changes, ["k"], ["seq"]).collect()}
    assert out == {"A": (3, 12.0), "C": (2, 30.0), "D": (1, 40.0)}


def test_merge_upsert_plan_no_join(spark):
    """Scale gate: the merge is the union+window composition — there
    must be NO join operator anywhere in the plan, and the only wide
    operation is the key-partitioned window."""
    from cellphe_data_pipeline_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame([("A", 1, 1.0)], "k string, seq int, v double")
    changes = spark.createDataFrame(
        [("A", 2, 2.0, False)], "k string, seq int, v double, is_delete boolean"
    )
    p = (
        merge_upsert(base, changes, ["k"], ["seq"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert "No Partition Defined" not in p


def test_grid_joins_use_shuffled_hash(spark):
    """r7: the grid equi-joins (density, interval, spatial-NN) must
    plan as ShuffledHashJoin, not SortMergeJoin — grid keys are
    massively duplicated (hundreds of rows per cell) and SMJ's
    per-key-group handling measured 9-12x slower at sf0.1
    (j7: 13.0s -> 1.1s, identical output)."""
    from cellphe_data_pipeline_spark.operators.joins import (
        density_self_join,
        interval_self_join_count,
        nearest_neighbor_join,
    )

    pts = spark.createDataFrame(
        [(1, float(i % 7), float(i % 5), i) for i in range(40)],
        "frame int, x double, y double, id int",
    )
    plans = [
        density_self_join(pts, "frame", "x", "y", "id", 2.0)
        ._jdf.queryExecution().executedPlan().toString(),
        nearest_neighbor_join(pts, pts, "frame", "x", "y", "id", 2.0)
        ._jdf.queryExecution().executedPlan().toString(),
    ]
    ev = spark.createDataFrame(
        [(i, i % 3, 1_700_000_000_000_000 + i * 1_000_000) for i in range(40)],
        "id int, key int, us long",
    ).selectExpr("id", "key", "timestamp_micros(us) AS ts")
    plans.append(
        interval_self_join_count(ev, "ts", "id", "key", 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for p in plans:
        assert "ShuffledHashJoin" in p, p[:600]
        assert "CartesianProduct" not in p


def test_group_ols_matches_numpy(spark):
    """group_ols slope/intercept/R² equal numpy's lstsq fit per group
    (to the operator's 6dp rounding), and degenerate groups yield the
    documented NULLs."""
    import datetime as dt

    import numpy as np
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import group_ols

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # group 1: clean linear y = 3 + 0.5 x(s) with jitter
    for i in range(40):
        rows.append((1, t0 + dt.timedelta(seconds=10 * i), 3.0 + 0.5 * 10 * i + (i % 7 - 3) * 0.25))
    # group 2: constant y (zero y-variance -> slope 0, r2 NULL)
    for i in range(10):
        rows.append((2, t0 + dt.timedelta(seconds=60 * i), 42.0))
    # group 3: single observation (n<2 -> all NULL)
    rows.append((3, t0, 5.0))
    # group 4: zero x-variance (all same ts -> all NULL)
    for v in (1.0, 2.0, 9.0):
        rows.append((4, t0 + dt.timedelta(seconds=123), v))
    df = spark.createDataFrame(rows, "gid bigint, ts timestamp, value double")
    got = {
        r["gid"]: (r["n_obs"], r["slope"], r["intercept"], r["r2"])
        for r in group_ols(df, ["gid"], "ts", "value").collect()
    }

    xs = np.array([(r[1] - t0).total_seconds() for r in rows if r[0] == 1])
    ys = np.array([r[2] for r in rows if r[0] == 1])
    A = np.vstack([xs, np.ones_like(xs)]).T
    (m, b), res, *_ = np.linalg.lstsq(A, ys, rcond=None)
    ss_tot = float(((ys - ys.mean()) ** 2).sum())
    r2 = 1.0 - float(res[0]) / ss_tot
    n1, s1, i1, q1 = got[1]
    assert n1 == 40
    assert abs(s1 - m) < 1e-6 and abs(i1 - b) < 1e-6 and abs(q1 - r2) < 1e-6

    assert got[2] == (10, 0.0, 42.0, None)
    assert got[3] == (1, None, None, None)
    assert got[4] == (3, None, None, None)


def test_column_profile_exact_counts_and_mean(spark):
    from cellphe_data_pipeline_spark.operators.aggregates import column_profile

    rows = [
        (1.0, None),
        (1.0, 10.0),
        (2.5, 10.0),
        (None, 30.0),
        (None, 30.0),
        (2.5, -1.5),
    ]
    df = spark.createDataFrame(rows, "a double, b double")
    got = {
        r["col_name"]: (
            r["n_rows"],
            r["n_null"],
            r["n_distinct"],
            r["min_value"],
            r["max_value"],
            r["mean_value"],
        )
        for r in column_profile(df, ["a", "b"]).collect()
    }
    # a: values 1,1,2.5,2.5 + 2 nulls -> mean 7/4
    assert got["a"] == (6, 2, 2, 1.0, 2.5, 1.75)
    # b: 10,10,30,30,-1.5 + 1 null -> mean 78.5/5
    assert got["b"] == (6, 1, 3, -1.5, 30.0, 15.7)


def test_column_profile_all_null_column(spark):
    from cellphe_data_pipeline_spark.operators.aggregates import column_profile

    df = spark.createDataFrame([(None,), (None,)], "a double")
    r = column_profile(df, ["a"]).collect()[0]
    assert (r["n_rows"], r["n_null"], r["n_distinct"]) == (2, 2, 0)
    assert r["min_value"] is None and r["max_value"] is None
    assert r["mean_value"] is None


def test_group_ols_short_span_far_from_epoch(spark):
    """Regression for the r8 review's reproduced cancellation: a
    perfectly linear 100-point series spanning 2 seconds in Aug 2025
    (x ~ 5e7 s from any fixed epoch) must fit exactly — the old
    fixed-epoch anchor returned NULL here because n*sxx - sx^2
    cancelled below double precision."""
    import datetime as dt

    from cellphe_data_pipeline_spark.operators.aggregates import group_ols

    t0 = dt.datetime(2025, 8, 14, 12, 0, 0)
    rows = [
        (1, t0 + dt.timedelta(milliseconds=20 * i), 1.0 + 20.0 * (0.02 * i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "gid bigint, ts timestamp, value double")
    r = group_ols(df, ["gid"], "ts", "value").collect()[0]
    assert r["n_obs"] == 100
    assert abs(r["slope"] - 20.0) < 1e-5
    assert abs(r["intercept"] - 1.0) < 1e-5
    assert abs(r["r2"] - 1.0) < 1e-6


def test_group_ols_excludes_null_rows_entirely(spark):
    """Rows with NULL ts or NULL value must not contribute to ANY of
    the five sums (the r8 review found per-sum null-skipping made the
    sums range over different row subsets)."""
    import datetime as dt

    from cellphe_data_pipeline_spark.operators.aggregates import group_ols

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(seconds=i), 2.0 * i) for i in range(10)]
    rows += [(1, t0 + dt.timedelta(seconds=99), None)] * 5
    rows += [(1, None, 7.0)] * 3
    df = spark.createDataFrame(rows, "gid bigint, ts timestamp, value double")
    r = group_ols(df, ["gid"], "ts", "value").collect()[0]
    assert r["n_obs"] == 10
    assert abs(r["slope"] - 2.0) < 1e-6
    assert abs(r["intercept"] - 0.0) < 1e-6
    assert abs(r["r2"] - 1.0) < 1e-6


def test_string_profile_counts_and_lengths(spark):
    from cellphe_data_pipeline_spark.operators.aggregates import string_profile

    rows = [("ab", "x"), ("ab", None), ("cdef", "x"), (None, "yyy")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = {
        r["col_name"]: (
            r["n_rows"], r["n_null"], r["n_distinct"],
            r["min_len"], r["max_len"], r["avg_len"],
        )
        for r in string_profile(df, ["a", "b"]).collect()
    }
    # a: 'ab','ab','cdef' + 1 null -> avg (2+2+4)/3
    assert got["a"] == (4, 1, 2, 2, 4, round(8 / 3, 6))
    # b: 'x','x','yyy' + 1 null -> avg (1+1+3)/3
    assert got["b"] == (4, 1, 2, 1, 3, round(5 / 3, 6))


def test_drift_profile_tvd_matches_numpy(spark, tmp_path):
    """a17's integer-exact TVD against an independent numpy oracle on
    the real sf0.001 documents table: same slicer, same binning, TVD
    computed in float directly — the engine's cross-multiplied int64
    path must agree to the floor-ppm."""
    import math

    import numpy as np

    from cellphe_data_pipeline_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: (r["n_ref"], r["n_cur"], r["tvd_ppm"])
        for r in REGISTRY["a17_drift_profile"].fn(spark, sf).collect()
    }
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT source, doc_id, n_chars FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    by_src = {}
    for s, d, n in rows:
        by_src.setdefault(s, []).append((d, n))
    for s, items in by_src.items():
        ref = np.zeros(10)
        cur = np.zeros(10)
        for d, n in items:
            b = min(n // 64, 9)
            if (d // 20) % 2 == 0:
                ref[b] += 1
            else:
                cur[b] += 1
        n_ref, n_cur = int(ref.sum()), int(cur.sum())
        tvd = 0.5 * np.abs(ref / n_ref - cur / n_cur).sum()
        want_ppm = math.floor(tvd * 1e6)
        g = got[s]
        assert g[0] == n_ref and g[1] == n_cur
        # float-path oracle vs the engine's exact-int path: agreement
        # within 1 ppm (the float path itself accumulates rounding; the
        # engine's single division is the better-conditioned one)
        assert abs(g[2] - want_ppm) <= 1, (s, g, want_ppm)


def test_profile_merge_equals_direct_with_nulls(spark):
    """merge_profiles over disjoint slice partials must equal
    column_profile's algebraic subset computed directly on the union —
    including null handling (an all-null slice, a null-bearing slice)
    and mean exactness across merge order."""
    from cellphe_data_pipeline_spark.operators.aggregates import (
        merge_profiles,
        profile_partial,
    )

    rows = [
        (0, 1.5, None),
        (1, None, 4.0),
        (2, 2.5, 8.0),
        (3, 0.25, None),
        (4, None, None),
        (5, 10.0, 16.0),
    ]
    df = spark.createDataFrame(rows, "id bigint, a double, b double")
    slices = [
        df.filter("id < 2"),
        df.filter("id >= 2 AND id < 4"),
        df.filter("id >= 4"),
    ]
    merged = {
        r["col_name"]: r
        for r in merge_profiles(
            [profile_partial(s, ["a", "b"]) for s in slices]
        ).collect()
    }
    a, b = merged["a"], merged["b"]
    assert (a["n_rows"], a["n_null"], a["min_value"], a["max_value"]) == (6, 2, 0.25, 10.0)
    assert a["mean_value"] == round((1.5 + 2.5 + 0.25 + 10.0) / 4, 6)
    assert (b["n_rows"], b["n_null"], b["min_value"], b["max_value"]) == (6, 3, 4.0, 16.0)
    assert b["mean_value"] == round((4.0 + 8.0 + 16.0) / 3, 6)
    # merge order cannot change anything (decimal sums are order-free)
    rev = {
        r["col_name"]: r
        for r in merge_profiles(
            [profile_partial(s, ["a", "b"]) for s in reversed(slices)]
        ).collect()
    }
    assert {k: tuple(v) for k, v in merged.items()} == {k: tuple(v) for k, v in rev.items()}


def test_merge_keyed_rollup_equals_rescan(spark):
    """merge==rescan on keyed rollups: three disjoint slices rolled up
    independently then folded (sum/min/max merges) must equal the
    rollup computed directly over the union; a key present in only one
    slice must survive the fold; fold order must not matter."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import (
        merge_keyed_rollup,
    )

    rows = [(k, i, float((i * 7) % 13)) for i in range(90) for k in ("a", "b")]
    rows += [("only-slice-2", 1, 99.0)]
    df = spark.createDataFrame(rows, "k string, i bigint, v double")
    slices = [
        df.filter(F.col("i") % 3 == r) for r in range(3)
    ]  # "only-slice-2" lands in slice i%3==1 only

    def rollup(part):
        return part.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )

    merges = {"n": "sum", "sv": "sum", "mn": "min", "mx": "max"}
    merged = merge_keyed_rollup([rollup(s) for s in slices], ["k"], merges)
    want = {tuple(r) for r in rollup(df).collect()}
    assert {tuple(r) for r in merged.collect()} == want
    # fold order cannot change the result
    rev = merge_keyed_rollup([rollup(s) for s in reversed(slices)], ["k"], merges)
    assert {tuple(r) for r in rev.collect()} == want


def test_merge_keyed_rollup_rejects_bad_inputs(spark):
    """r11 advisor: an empty partials list and a non-monoid fold must
    fail LOUDLY — getattr(F, 'avg') would silently build a fold that
    breaks the merge==rescan contract (avg of averages != average)."""
    import pytest
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import (
        merge_keyed_rollup,
    )

    with pytest.raises(ValueError, match="empty partials"):
        merge_keyed_rollup([], ["k"], {"n": "sum"})

    part = (
        spark.createDataFrame([("a", 1.0)], "k string, v double")
        .groupBy("k")
        .agg(F.avg("v").alias("av"))
    )
    for how in ("avg", "first", "count"):
        with pytest.raises(ValueError, match="non-algebraic"):
            merge_keyed_rollup([part], ["k"], {"av": how})


def test_correlation_matrix_matches_numpy(spark):
    """a21's decimal-exact co-moment Pearson must match numpy's
    corrcoef on a hand-built frame (one strongly-correlated pair, one
    anti-correlated, deterministic)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.queries import REGISTRY

    # reuse the registered query body on a synthetic documents table:
    # text drives the derived signals, so build texts with controlled
    # token/period structure
    rows = []
    for i in range(40):
        words = ["w"] * (i + 2)          # tokens grow with i
        periods = "." * (40 - i)         # periods shrink with i
        text = " ".join(words) + periods
        rows.append((i, text, "en", "srcA", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    docs.createOrReplaceTempView("_a21_docs")
    # recompute the three signals exactly as the query derives them
    pdf = docs.select(
        F.col("n_chars").cast("double").alias("x"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1)
        .cast("double")
        .alias("y"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("."))))
        .cast("double")
        .alias("z"),
    ).toPandas()
    want = {
        ("n_chars", "n_tokens"): np.corrcoef(pdf.x, pdf.y)[0, 1],
        ("n_chars", "n_periods"): np.corrcoef(pdf.x, pdf.z)[0, 1],
        ("n_tokens", "n_periods"): np.corrcoef(pdf.y, pdf.z)[0, 1],
    }
    # drive the registered query over a temp sf dir? simpler: call the
    # internal pair math by running the query fn against a parquet dir
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="a21_fixture_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["a21_correlation_matrix"].fn(spark, d)
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in out.collect()}
    for k, v in want.items():
        assert math.isclose(got[k], round(v, 6), abs_tol=2e-6), (k, got[k], v)


def _write_events_fixture(spark, rows):
    """Stage a minimal events.parquet a registered query can load."""
    import os
    import tempfile

    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = tempfile.mkdtemp(prefix="ev_fixture_")
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


def test_w13_ohlc_tie_break_is_deterministic(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 10, 30)
    # two rows share the SAME ts: event_id must break the tie for
    # open (lower id) and close (higher id); min/max scan all rows
    rows = [
        (2, t, 7, "click", 5.0, ""),
        (1, t, 7, "click", 9.0, ""),
        (3, dt.datetime(2024, 1, 1, 10, 45), 7, "click", 1.0, ""),
        (4, dt.datetime(2024, 1, 1, 11, 5), 7, "click", 4.0, ""),
    ]
    d = _write_events_fixture(spark, rows)
    from cellphe_data_pipeline_spark.queries import REGISTRY

    out = {
        r["bucket_ts"]: r
        for r in REGISTRY["w13_ohlc_resample"].fn(spark, d).collect()
    }
    b10 = out[dt.datetime(2024, 1, 1, 10, 0)]
    assert b10["open_value"] == 9.0  # event_id 1 wins the ts tie
    assert b10["close_value"] == 1.0
    assert b10["low_value"] == 1.0 and b10["high_value"] == 9.0
    assert b10["n_events"] == 3
    b11 = out[dt.datetime(2024, 1, 1, 11, 0)]
    assert (
        b11["open_value"] == b11["close_value"] == 4.0 and b11["n_events"] == 1
    )


def test_w13_plan_is_single_aggregate_exchange_no_sort(spark, sf_dir):
    """The min_by/max_by formulation must plan as ONE hash-aggregate
    shuffle — no Sort, no Window (the oracle's formulation would sort
    and shuffle every row; the engine's moves one pair per group per
    partition)."""
    from cellphe_data_pipeline_spark.queries import REGISTRY

    plan = (
        REGISTRY["w13_ohlc_resample"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" not in plan and "Sort" not in plan, plan
    physical = (
        REGISTRY["w13_ohlc_resample"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert physical.count("Exchange") == 1, physical


def test_a23_intersection_identity_and_bounds(spark):
    import datetime as dt

    t = dt.datetime(2024, 3, 1)
    # A = {1,2,3}, B = {3,4} -> union 4, intersect 1
    rows = [
        (1, t, 1, "click", 0.0, ""),
        (2, t, 2, "click", 0.0, ""),
        (3, t, 3, "click", 0.0, ""),
        (4, t, 3, "view", 0.0, ""),
        (5, t, 4, "view", 0.0, ""),
        (6, t, 9, "purchase", 0.0, ""),  # other types must not leak in
    ]
    d = _write_events_fixture(spark, rows)
    from cellphe_data_pipeline_spark.queries import REGISTRY

    [r] = REGISTRY["a23_hll_setops_audit"].fn(spark, d).collect()
    assert (r["n_a"], r["n_b"], r["n_union"], r["n_intersect"]) == (3, 2, 4, 1)
    assert r["ok_union_bound"] and r["ok_intersect_bound"]


def test_asof_cogroup_exact_match_and_tie_semantics(spark):
    """The cogroup kernel implements DuckDB ASOF (<=) semantics: a
    right row at EXACTLY the left ts is eligible, and among same-ts
    right rows the highest tie id wins. (The window-union asof_join
    interleaves by a SHARED tie column instead, so the two differ at
    cross-side ts collisions — each is pinned by its own oracle.)"""
    import datetime as dt

    from cellphe_data_pipeline_spark.operators.joins import asof_join_cogroup

    t = lambda m: dt.datetime(2024, 5, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, t(10), 100),  # after r-rows at :05 -> 501
            (1, t(5), 101),   # EXACT match at :05 -> still 501
            (1, t(0), 102),   # before everything -> null
            (2, t(30), 200),  # key only on the left -> null
        ],
        "k bigint, ts timestamp, lid bigint",
    )
    right = spark.createDataFrame(
        [
            (1, t(5), 500),
            (1, t(5), 501),   # tie on ts: higher tie id must win
            (3, t(1), 900),   # key only on the right -> no output row
        ],
        "k bigint, ts timestamp, rid bigint",
    )
    got = {
        r["lid"]: r["asof_rid"]
        for r in asof_join_cogroup(
            left, right, key="k", ts="ts", right_cols=["rid"], tie_col="rid"
        ).collect()
    }
    assert got == {100: 501, 101: 501, 102: None, 200: None}


def test_asof_cogroup_matches_window_formulation(spark):
    """On collision-free timestamps (no cross-side equal ts) the two
    physical as-of strategies must agree row-for-row."""
    import datetime as dt
    import random

    from cellphe_data_pipeline_spark.operators.joins import (
        asof_join,
        asof_join_cogroup,
    )

    rng = random.Random(7)
    base = dt.datetime(2024, 5, 1)
    mins = rng.sample(range(10_000), 400)  # unique -> no ts collisions
    rows = [
        (rng.randint(1, 5), base + dt.timedelta(minutes=m), i)
        for i, m in enumerate(mins)
    ]
    left = spark.createDataFrame(
        rows[:200], "k bigint, ts timestamp, eid bigint"
    )
    right = spark.createDataFrame(
        [(k, ts, e, e * 10) for k, ts, e in rows[200:]],
        "k bigint, ts timestamp, eid bigint, rv bigint",
    )
    got = {
        r["eid"]: r["asof_rv"]
        for r in asof_join_cogroup(
            left, right, key="k", ts="ts", right_cols=["rv"], tie_col="eid"
        ).collect()
    }
    want = {
        r["eid"]: r["asof_rv"]
        for r in asof_join(
            left, right, key="k", ts="ts", right_cols=["rv"], tie_col="eid"
        ).collect()
    }
    assert got == want and len(got) == 200
    assert any(v is not None for v in got.values())


def test_c22_render_is_order_deterministic(spark):
    """The sort-struct aggregation-concat must produce the (ts,
    event_id)-ordered rendering no matter the input row order, with
    assistant-only loss chars."""
    import datetime as dt

    from cellphe_data_pipeline_spark.queries import REGISTRY

    t = lambda m: dt.datetime(2024, 6, 1, 9, m)  # noqa: E731
    rows = [  # deliberately shuffled input order
        (3, t(3), 5, "view", 0.0, ""),
        (1, t(1), 5, "click", 0.0, ""),
        (2, t(2), 5, "purchase", 0.0, ""),
    ]
    d = _write_events_fixture(spark, rows)
    [r] = REGISTRY["c22_chat_template_render"].fn(spark, d).collect()
    assert r["rendered_text"] == (
        "<|user|>click#1<|assistant|>purchase#2<|user|>view#3"
    )
    assert r["n_msgs"] == 3
    assert r["n_loss_chars"] == len("purchase#2")


def test_u7_multiset_semantics(spark):
    """INTERSECT ALL keeps min(multiplicity); EXCEPT ALL subtracts."""
    import datetime as dt

    from cellphe_data_pipeline_spark.queries import REGISTRY

    t = dt.datetime(2024, 6, 2)
    # user 1: 3 clicks, 1 view -> intersect 1, except 2
    # user 2: 1 click, 2 views -> intersect 1, except 0 (absent)
    rows = (
        [(i, t, 1, "click", 0.0, "") for i in (1, 2, 3)]
        + [(4, t, 1, "view", 0.0, "")]
        + [(5, t, 2, "click", 0.0, "")]
        + [(i, t, 2, "view", 0.0, "") for i in (6, 7)]
    )
    d = _write_events_fixture(spark, rows)
    got = {
        (r["user_id"], r["side"]): r["n"]
        for r in REGISTRY["u7_multiset_set_ops"].fn(spark, d).collect()
    }
    assert got == {
        (1, "intersect_all"): 1,
        (1, "except_all"): 2,
        (2, "intersect_all"): 1,
    }


def test_asof_cogroup_property_vs_bruteforce(spark):
    """Property: for random per-key event sets, backward picks the max
    (ts, tie) right row with ts <= left ts and forward the min (ts,
    tie) with ts >= left ts — against a python brute force."""
    import datetime as dt

    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.joins import asof_join_cogroup

    base = dt.datetime(2024, 7, 1)
    ev = st.tuples(st.integers(1, 3), st.integers(0, 20))  # (key, minute)

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(ev, min_size=1, max_size=8),
        st.lists(ev, min_size=0, max_size=8),
    )
    def check(lefts, rights):
        lrows = [
            (k, base + dt.timedelta(minutes=m), i)
            for i, (k, m) in enumerate(lefts)
        ]
        rrows = [
            (k, base + dt.timedelta(minutes=m), 100 + i)
            for i, (k, m) in enumerate(rights)
        ]
        ldf = spark.createDataFrame(lrows, "k bigint, ts timestamp, lid bigint")
        rdf = spark.createDataFrame(rrows, "k bigint, ts timestamp, rid bigint")
        for direction in ("backward", "forward"):
            got = {
                r["lid"]: r["asof_rid"]
                for r in asof_join_cogroup(
                    ldf, rdf, key="k", ts="ts", right_cols=["rid"],
                    tie_col="rid", direction=direction,
                ).collect()
            }
            for k, ts, lid in lrows:
                if direction == "backward":
                    elig = [(rts, rid) for rk, rts, rid in rrows
                            if rk == k and rts <= ts]
                    want = max(elig)[1] if elig else None
                else:
                    elig = [(rts, rid) for rk, rts, rid in rrows
                            if rk == k and rts >= ts]
                    want = min(elig)[1] if elig else None
                assert got[lid] == want, (direction, lid, got[lid], want)

    check()


def test_a26_mad_matches_python(spark):
    """MAD fixture: hand-computable odd/even group sizes, outlier
    robustness visible (the outlier moves the mean/std, not the MAD)."""
    import datetime as dt

    from cellphe_data_pipeline_spark.queries import REGISTRY

    t = dt.datetime(2024, 8, 1)
    rows = [
        (1, t, 1, "click", 1.0, ""),
        (2, t, 1, "click", 2.0, ""),
        (3, t, 1, "click", 3.0, ""),
        (4, t, 1, "click", 1000.0, ""),  # outlier
        (5, t, 1, "view", 10.0, ""),
        (6, t, 1, "view", 14.0, ""),
        (7, t, 1, "view", None, ""),  # NULL must not poison the median
    ]
    d = _write_events_fixture(spark, rows)
    got = {
        r["event_type"]: (r["n"], r["mad"])
        for r in REGISTRY["a26_grouped_pandas_mad"].fn(spark, d).collect()
    }
    # click: med 2.5, devs {1.5,0.5,0.5,997.5} sorted -> med 1.0
    assert got["click"] == (4, 1.0)
    # view: NULL dropped by the UDF (SQL-median semantics); med 12,
    # devs {2,2} -> 2; n counts the null row (count(*) semantics)
    assert got["view"] == (3, 2.0)


def test_j18_fractional_credit_hand_computed(spark):
    """Two clicks before one purchase split its value; a click touching
    two purchases accumulates; an out-of-window click gets nothing."""
    import datetime as dt

    from cellphe_data_pipeline_spark.queries import REGISTRY

    t = lambda m: dt.datetime(2024, 9, 1, 12, m)  # noqa: E731
    rows = [
        (1, t(0), 7, "click", 0.0, ""),     # touches p1 AND p2
        (2, t(30), 7, "click", 0.0, ""),    # touches p1, p2
        (3, t(40), 7, "purchase", 10.0, ""),   # p1: 2 touches -> 5 each
        (4, t(50), 7, "purchase", 4.0, ""),    # p2: 2 touches -> 2 each
        (5, t(0), 8, "click", 0.0, ""),     # >1h before its purchase
        (6, t(2), 8, "purchase", 9.0, ""),  # 1 touch (click 5 IS in window)
    ]
    d = _write_events_fixture(spark, rows)
    got = {
        r["click_id"]: (r["n_purchases"], r["credit"])
        for r in REGISTRY["j18_multitouch_attribution"].fn(spark, d).collect()
    }
    assert got[1] == (2, 7.0)  # 5 + 2
    assert got[2] == (2, 7.0)
    assert got[5] == (1, 9.0)


def test_u7_property_vs_counter(spark):
    """Property: INTERSECT ALL / EXCEPT ALL equal collections.Counter
    min / subtraction on random multisets."""
    import datetime as dt
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.queries import REGISTRY

    t = dt.datetime(2024, 10, 1)

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(st.integers(1, 4), min_size=0, max_size=8),
        st.lists(st.integers(1, 4), min_size=0, max_size=8),
    )
    def check(clicks, views):
        rows = [
            (i, t, u, "click", 0.0, "") for i, u in enumerate(clicks)
        ] + [
            (100 + i, t, u, "view", 0.0, "") for i, u in enumerate(views)
        ]
        if not rows:
            return
        d = _write_events_fixture(spark, rows)
        got = {
            (r["user_id"], r["side"]): r["n"]
            for r in REGISTRY["u7_multiset_set_ops"].fn(spark, d).collect()
        }
        cc, cv = Counter(clicks), Counter(views)
        want = {}
        for u in set(cc) | set(cv):
            inter = min(cc[u], cv[u])
            exc = cc[u] - cv[u]
            if inter > 0:
                want[(u, "intersect_all")] = inter
            if exc > 0:
                want[(u, "except_all")] = exc
        assert got == want

    check()


def test_m7_msd_hand_computed_directed_vs_stationary(spark):
    """MSD fixture: a linearly drifting track shows msd = (step*tau)^2
    (superlinear in tau — directed motion); a constant track shows 0."""
    import datetime as dt

    from cellphe_data_pipeline_spark.queries import REGISTRY

    t = lambda m: dt.datetime(2024, 11, 1, 8, m)  # noqa: E731
    rows = [  # track 1 drifts +2.0 per step; track 2 is stationary
        (i, t(i), 1, "click", 2.0 * i, "") for i in range(1, 6)
    ] + [
        (10 + i, t(i), 2, "click", 7.0, "") for i in range(1, 5)
    ]
    d = _write_events_fixture(spark, rows)
    got = {
        (r["user_id"], r["tau"]): (r["n_pairs"], r["msd"])
        for r in REGISTRY["m7_msd_lags"].fn(spark, d).collect()
    }
    assert got[(1, 1)] == (4, 4.0)    # (2*1)^2
    assert got[(1, 2)] == (3, 16.0)   # (2*2)^2
    assert got[(1, 3)] == (2, 36.0)   # (2*3)^2 -> quadratic = directed
    assert got[(2, 1)] == (3, 0.0) and got[(2, 3)] == (1, 0.0)


def test_w13_property_vs_python(spark):
    """Property: OHLC per (user, hour-bucket) equals a python fold over
    random event sets with deliberate ts collisions."""
    import datetime as dt

    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.queries import REGISTRY

    base = dt.datetime(2024, 12, 1)
    ev = st.tuples(
        st.integers(1, 3),          # user
        st.integers(0, 179),        # minute across 3 hours
        st.integers(0, 9),          # value (small domain -> ties)
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=12))
    def check(events):
        rows = [
            (i, base + dt.timedelta(minutes=m), u, "click", float(v), "")
            for i, (u, m, v) in enumerate(events)
        ]
        d = _write_events_fixture(spark, rows)
        got = {
            (r["user_id"], r["bucket_ts"]): (
                r["open_value"], r["close_value"],
                r["low_value"], r["high_value"], r["n_events"],
            )
            for r in REGISTRY["w13_ohlc_resample"].fn(spark, d).collect()
        }
        buckets: dict = {}
        for i, ts, u, _, v, _p in rows:
            b = ts.replace(minute=0, second=0, microsecond=0)
            buckets.setdefault((u, b), []).append((ts, i, v))
        want = {}
        for k, items in buckets.items():
            items.sort()  # (ts, event_id) order
            vals = [v for _, _, v in items]
            want[k] = (items[0][2], items[-1][2], min(vals), max(vals), len(items))
        assert got == want

    check()


def test_c22_property_vs_python_render(spark):
    """Property: the sort-struct aggregation-concat equals a python
    fold over random per-user event sets, shuffled input order."""
    import datetime as dt
    import random

    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.queries import REGISTRY

    base = dt.datetime(2025, 1, 1)
    ev = st.tuples(st.integers(1, 3), st.integers(0, 500))

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=10, unique=True), st.integers(0, 9))
    def check(events, seed):
        rows = [
            (i, base + dt.timedelta(minutes=m), u, "click", 0.0, "")
            for i, (u, m) in enumerate(events)
        ]
        random.Random(seed).shuffle(rows)
        d = _write_events_fixture(spark, rows)
        got = {
            r["user_id"]: (r["rendered_text"], r["n_msgs"], r["n_loss_chars"])
            for r in REGISTRY["c22_chat_template_render"].fn(spark, d).collect()
        }
        per_user: dict = {}
        for i, ts, u, et, _v, _p in rows:
            per_user.setdefault(u, []).append((ts, i, et))
        want = {}
        for u, items in per_user.items():
            items.sort()
            text, loss = "", 0
            for rn, (_ts, i, et) in enumerate(items, start=1):
                role = "user" if rn % 2 == 1 else "assistant"
                content = f"{et}#{i}"
                text += f"<|{role}|>{content}"
                if role == "assistant":
                    loss += len(content)
            want[u] = (text, len(items), loss)
        assert got == want

    check()


def test_kmv_sketch_partition_invariant_and_exact_when_small(spark):
    """a28's kernel contract: bottom-k is a semilattice, so the sketch
    is INVARIANT to input partitioning (the per-partition-heap stage
    may group partials any way it likes); and a tag with < k distinct
    keys keeps every hash (θ=1 ⇒ downstream estimates exact)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import kmv_sketch

    df = spark.createDataFrame(
        [("a", i) for i in range(500)] + [("b", i) for i in range(40)],
        "tag string, k bigint",
    )

    def hashes(frame, k):
        out = {}
        for r in kmv_sketch(frame, "k", "tag", k=k).collect():
            out.setdefault(r["tag"], set()).add(r["h"])
        return out

    base = hashes(df, 64)
    assert hashes(df.repartition(17), 64) == base
    assert hashes(df.coalesce(1), 64) == base
    assert len(base["a"]) == 64  # exactly k retained
    assert len(base["b"]) == 40  # < k distinct ⇒ exhaustive (θ = 1)
    # duplicates don't change the sketch (distinct-value semantics)
    assert hashes(df.unionAll(df), 64) == base


def test_kmv_sketch_merge_equals_sketch_of_union(spark):
    """The a20-style stored-sketch lifecycle for KMV: merging two
    per-segment sketches (union their hashes, keep the k smallest)
    equals sketching the unioned data — bottom-k is a semilattice, so
    stored sketches answer union questions without rescanning."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import kmv_sketch

    k = 32
    a = spark.createDataFrame(
        [("s", i) for i in range(200)], "tag string, k bigint"
    )
    b = spark.createDataFrame(
        [("s", i) for i in range(150, 350)], "tag string, k bigint"
    )
    direct = {
        r["h"] for r in kmv_sketch(a.unionAll(b), "k", "tag", k=k).collect()
    }
    sk_a = kmv_sketch(a, "k", "tag", k=k).select("h")
    sk_b = kmv_sketch(b, "k", "tag", k=k).select("h")
    merged = {
        r["h"]
        for r in sk_a.unionAll(sk_b)
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    }
    assert merged == direct


def test_kmv_check_format_rejects_v1_double_sketch(spark, tmp_path):
    """r15 (advisor-low): a stored v1 sketch (double theta-style h)
    read through the v2 path must fail LOUDLY, not mis-scale by 2^60;
    the parquet schema is the version marker."""
    import pytest

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_check_format,
        kmv_sketch,
    )

    v1 = str(tmp_path / "v1")
    spark.range(0, 100).select(
        F.lit("a").alias("tag"), (F.col("id") / 100.0).alias("h")
    ).write.parquet(v1)
    with pytest.raises(ValueError, match="rebuild the sketch"):
        kmv_check_format(spark.read.parquet(v1))

    with pytest.raises(ValueError, match="no 'h' column"):
        kmv_check_format(spark.range(3))

    v2 = str(tmp_path / "v2")
    df = spark.range(0, 100).select(
        F.lit("a").alias("tag"), F.col("id").alias("k")
    )
    kmv_sketch(df, "k", "tag", k=16).write.parquet(v2)
    out = kmv_check_format(spark.read.parquet(v2))  # passes through
    assert out.count() == 16


def test_kmv_merge_semilattice_equals_direct(spark):
    """Bottom-k is a semilattice: merging per-segment sketches equals
    the direct whole-set sketch, exactly — including OVERLAPPING
    segments (the same key in two parts collapses to one slot)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_merge,
        kmv_sketch,
    )

    k = 64
    base = spark.range(0, 2000).select(
        F.lit("t").alias("tag"), F.col("id").alias("k")
    )
    # overlapping segmentation: [0,1200) and [800,2000)
    seg1 = kmv_sketch(base.filter(F.col("k") < 1200), "k", "tag", k=k)
    seg2 = kmv_sketch(base.filter(F.col("k") >= 800), "k", "tag", k=k)
    merged = kmv_merge(seg1.unionAll(seg2), k, keys=("tag",))
    direct = kmv_sketch(base, "k", "tag", k=k)
    assert (
        merged.exceptAll(direct).unionAll(direct.exceptAll(merged)).count()
        == 0
    )


def test_kmv_mor_delete_rule(spark, tmp_path):
    """r15 (the r14 verdict's ask #6) — the sketch-vs-delete-tier
    composition rule, pinned both ways: (1) a sketch built BEFORE a
    takedown over-counts (one-sided: stale estimate >= truth, the
    sketch is not subtractive); (2) rebuilding from the delete-MASKED
    read (snapshot_read applies the masks) equals the sketch of the
    surviving keys EXACTLY — so the lifecycle rule is 'rebuild
    affected segments from the masked read on the maintenance
    cadence, treat stale estimates as upper bounds until then'."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_sketch,
        kmv_theta,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_read,
    )

    k = 128

    def estimate(sk) -> float:
        row = (
            sk.agg(
                F.count(F.lit(1)).alias("m"),
                F.max("h").alias("hmax"),
            ).collect()[0]
        )
        if row["m"] < k:
            return float(row["m"])
        theta = row["hmax"] / float(2**60)
        return (k - 1) / theta

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 5000).select(F.col("id").alias("k")).write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    pre = snapshot_read(spark, table, 1).select(
        F.lit("seg").alias("tag"), "k"
    )
    stale = kmv_sketch(pre, "k", "tag", k=k).localCheckpoint(eager=True)

    # takedown: a 40% bite so the estimate gap clears sketch noise
    snapshot_delete_keys(
        spark,
        table,
        "k",
        spark.range(0, 2000).select(F.col("id").alias("k")),
    )
    cur = snapshot_current(table)
    surviving = snapshot_read(spark, table, cur)
    truth = surviving.count()
    assert truth == 3000

    # (1) stale sketch over-counts, never under-counts (beyond its
    # own error bar): stale estimates ~5000, truth is 3000
    est_stale = estimate(stale.select("h"))
    assert est_stale > truth, (est_stale, truth)

    # (2) rebuild from the MASKED read == sketch of surviving keys,
    # exactly (deterministic md5 hashing)
    rebuilt = kmv_sketch(
        surviving.select(F.lit("seg").alias("tag"), "k"), "k", "tag", k=k
    )
    reference = kmv_sketch(
        spark.range(2000, 5000).select(
            F.lit("seg").alias("tag"), F.col("id").alias("k")
        ),
        "k",
        "tag",
        k=k,
    )
    assert (
        rebuilt.exceptAll(reference)
        .unionAll(reference.exceptAll(rebuilt))
        .count()
        == 0
    )
    # and the rebuilt estimate is inside the KMV bound around truth
    est_rebuilt = estimate(rebuilt.select("h"))
    assert abs(est_rebuilt - truth) <= 4.0 * truth / (k - 1) ** 0.5
