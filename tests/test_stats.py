"""Self-oracles for the round-9 statistical-inference pack
(operators/stats.py) and the round-9 trainers (ml/training.py
additions) — pure-Python recomputation at sf0.001, independent of
both Spark and the DuckDB oracle strings, so a shared spelling bug in
query+oracle cannot hide (the K6 BPE/unigram reference-twin rule
applied to statistics)."""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from embarrassingly_parallel_image_classification_spark import registry
from embarrassingly_parallel_image_classification_spark.ml.training import (
    ISO_N,
    _pava_pools,
)

from tests.conftest import SF_SMOKE


def _rows(spark, name, sf_dir=SF_SMOKE):
    return registry.queries()[name](spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def events(spark):
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{SF_SMOKE}/events.parquet')"
    ).df()


def test_ks_matches_brute_force(spark):
    """d_num recomputed by brute force over the pooled cent values."""
    got = _rows(spark, "q_stats_ks_test").iloc[0]
    orders = duckdb.sql(
        f"SELECT o_orderstatus st, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
        f" WHERE o_orderstatus IN ('F','O')"
    ).df()
    a = sorted(orders[orders.st == "F"].v)
    b = sorted(orders[orders.st == "O"].v)
    n, m = len(a), len(b)
    import bisect

    d_num = max(
        abs(bisect.bisect_right(a, v) * m - bisect.bisect_right(b, v) * n)
        for v in set(a) | set(b)
    )
    assert int(got["n_f"]) == n and int(got["n_o"]) == m
    assert int(got["d_num"]) == d_num
    assert bool(got["significant"]) == (
        d_num * d_num * 1_000_000 > 1358 * 1358 * (n + m) * n * m
    )


def test_gini_matches_brute_force(spark):
    got = _rows(spark, "q_stats_gini").set_index("seg")
    cust = duckdb.sql(
        f"SELECT c_mktsegment seg, CAST(ROUND(c_acctbal*100,0) AS BIGINT) c,"
        f" c_custkey k FROM read_parquet('{SF_SMOKE}/customer.parquet')"
        f" WHERE c_acctbal >= 0"
    ).df()
    for seg, grp in cust.groupby("seg"):
        xs = [int(c) for c, _ in sorted(zip(grp.c, grp.k))]
        n, s = len(xs), sum(xs)
        num = 2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s
        want = round(num / (n * s) * 1_000_000)
        assert int(got.loc[seg, "gini_e6"]) == want
        assert 0 <= int(got.loc[seg, "gini_e6"]) <= 1_000_000


def test_km_invariants_and_brute_force(spark, events):
    """Kaplan-Meier: at-risk counts strictly decrease over time, the
    log-survivor is non-increasing, and every step matches the
    pure-Python product-limit estimator."""
    got = _rows(spark, "q_survival_km").sort_values("d_min")
    assert (got["n_at_risk"].diff().dropna() < 0).all()
    assert (got["ln_surv_e6"].diff().dropna() <= 0).all()
    ev = events.copy()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    durs = []
    for _, g in ev.groupby("user_id"):
        t0 = int(g.sec.min())
        p = g[g.event_type == "purchase"]
        if len(p):
            durs.append((int((int(p.sec.min()) - t0) // 60), True))
        else:
            durs.append((int((int(g.sec.max()) - t0) // 60), False))
    steps = {}
    for d, obs in durs:
        a, e = steps.get(d, (0, 0))
        steps[d] = (a + 1, e + (1 if obs else 0))
    cum, want = 0, {}
    at_risk = len(durs)
    for d in sorted(steps):
        c_all, d_i = steps[d]
        n_i = at_risk
        if d_i > 0 and n_i > d_i:
            cum += round(math.log((n_i - d_i) / n_i) * 1_000_000)
            want[d] = (d_i, n_i, cum)
        at_risk -= c_all
    assert len(got) == len(want)
    for _, r in got.iterrows():
        d_i, n_i, ln_s = want[int(r.d_min)]
        assert (int(r.n_events), int(r.n_at_risk), int(r.ln_surv_e6)) == (
            d_i,
            n_i,
            ln_s,
        )


def test_theil_sen_matches_brute_force(spark, events):
    got = _rows(spark, "q_ts_theil_sen").set_index("user_id")
    ev = events.copy()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["sec", "event_id"], ascending=False).head(25)
        rows = list(zip(g.event_id, g.sec, g.cents))
        slopes = []
        for i in range(len(rows)):
            for j in range(len(rows)):
                # a.rn > b.rn means a is OLDER (later in desc order)
                if i > j and rows[i][1] != rows[j][1]:
                    slopes.append(
                        (
                            (rows[j][2] - rows[i][2]) / (rows[j][1] - rows[i][1]),
                            rows[i][0],
                            rows[j][0],
                        )
                    )
        if not slopes:
            assert uid not in got.index
            continue
        slopes.sort()
        cnt = len(slopes)
        mids = {(cnt + 1) // 2, (cnt + 2) // 2}
        med = sum(slopes[r - 1][0] for r in mids) / len(mids)
        assert int(got.loc[uid, "n_pairs"]) == cnt
        assert int(got.loc[uid, "slope_e6"]) == round(med * 1_000_000)


def test_pava_equals_minimax_brute_force():
    """PAVA == max-min characterization, on 200 random integer
    sequences — the theorem the SQL oracle relies on, pinned against
    an independent O(n^3) implementation."""
    rng = random.Random(42)
    for _ in range(200):
        n = rng.randint(1, 12)
        ys = [rng.randint(-50, 50) for _ in range(n)]
        fit = []
        for s, ln in _pava_pools(ys):
            fit.extend([s / ln] * ln)
        for i in range(n):
            want = max(
                min(
                    sum(ys[j : k + 1]) / (k - j + 1)
                    for k in range(i, n)
                )
                for j in range(i + 1)
            )
            assert abs(fit[i] - want) < 1e-9
        assert all(fit[i] <= fit[i + 1] + 1e-12 for i in range(n - 1))


def test_isotonic_output_is_monotone(spark):
    got = _rows(spark, "q_train_isotonic")
    for _, g in got.groupby("user_id"):
        g = g.sort_values("x")
        assert len(g) <= ISO_N
        assert (g["iso_e6"].diff().dropna() >= 0).all()
        # pool means preserve the group total to rounding error
        assert abs(g["iso_e6"].sum() / 10**6 - g["y_cents"].sum()) <= len(g)


def test_paragraph_dedup_invariants(spark):
    """Corpus-wide: each distinct paragraph survives EXACTLY once, and
    kept+dropped re-partitions the original chunk count."""
    got = _rows(spark, "q_dedup_paragraph")
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).df()
    n_chunks = 0
    originals = set()
    for t_ in docs.text:
        tk = t_.split(" ")
        for i in range(0, len(tk), 10):
            originals.add(" ".join(tk[i : i + 10]))
            n_chunks += 1
    kept = []
    for t_ in got.kept_text:
        if t_:
            tk = t_.split(" ")
            # kept_text is a concat of 10-token chunks; the final chunk
            # of a doc may be shorter, so re-chunking is not clean —
            # count via n_kept instead and spot the uniqueness by set
            kept.append(t_)
    assert int(got.n_kept.sum()) == len(originals)
    assert int(got.n_kept.sum() + got.n_dropped.sum()) == n_chunks


def test_naive_bayes_covers_test_fold(spark):
    got = _rows(spark, "q_train_naive_bayes")
    docs = duckdb.sql(
        f"SELECT doc_id, lang FROM read_parquet('{SF_SMOKE}/documents.parquet')"
        f" WHERE doc_id % 5 = 0"
    ).df()
    assert len(got) == len(docs)  # no test doc dropped (shared vocab)
    assert set(got.doc_id) == set(docs.doc_id)
    assert (got.correct == (got.pred_lang == got.true_lang)).all()


def test_decision_stump_beats_trivial_split(spark):
    got = _rows(spark, "q_train_decision_stump")
    assert len(got) == 5
    assert (got.n_left > 0).all() and (got.n_right > 0).all()
    assert got.gini_e6.is_monotonic_increasing
    # weighted gini after any split can't exceed 0.5 (binary label cap)
    assert (got.gini_e6 <= 500_000).all()


def test_zipf_slope_is_negative(spark):
    got = _rows(spark, "q_text_zipf").iloc[0]
    assert 0 < int(got.n_points) <= 100  # sf0.001 vocab is < TOP_K
    assert int(got.slope_e6) < 0  # frequency falls with rank, always


def test_mann_whitney_matches_pair_count(spark, events):
    """2*U1 equals the direct pair count 2*#(x>y) + #(x==y) — the
    definitional U, independent of the midrank spelling."""
    got = _rows(spark, "q_stats_mann_whitney").set_index("event_type")
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for et, g in ev.groupby("event_type"):
        xs = sorted(g[g.user_id % 2 == 0].cents)  # treatment
        ys = sorted(g[g.user_id % 2 == 1].cents)  # control
        import bisect

        u_x2 = sum(
            2 * bisect.bisect_left(ys, x) + (
                bisect.bisect_right(ys, x) - bisect.bisect_left(ys, x)
            )
            for x in xs
        )
        assert int(got.loc[et, "u1_x2"]) == u_x2
        assert int(got.loc[et, "n_treat"]) == len(xs)
        assert int(got.loc[et, "auc_e6"]) == round(
            u_x2 / (2 * len(xs) * len(ys)) * 1_000_000
        )


def test_grouped_ols_matches_numpy(spark):
    import numpy as np

    got = _rows(spark, "q_train_grouped_ols").set_index("grp")
    orders = duckdb.sql(
        f"SELECT o_orderpriority grp, year(o_orderdate) - 1998 AS x,"
        f" CAST(ROUND(o_totalprice*100,0) AS BIGINT) y"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).df()
    for grp, g in orders.groupby("grp"):
        b1, b0 = np.polyfit(g.x.astype(float), g.y.astype(float), 1)
        assert abs(int(got.loc[grp, "slope_cents_e2"]) / 100 - b1) < 0.1
        assert abs(int(got.loc[grp, "intercept_cents"]) - b0) < 10
        r = np.corrcoef(g.x.astype(float), g.y.astype(float))[0, 1]
        assert abs(int(got.loc[grp, "r2_e6"]) / 1e6 - r * r) < 1e-4


def test_acf_matches_numpy(spark, events):
    import numpy as np

    got = _rows(spark, "q_timeseries_acf")
    ev = events.copy()
    ev["h"] = ev["ts"].astype("datetime64[s]").astype("int64") // 3600
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    bars = ev.groupby(["event_type", "h"])["cents"].sum()
    for _, r in got.iterrows():
        s = bars[r.event_type].sort_index()
        xs, ys = [], []
        for h, v in s.items():
            if (h + r.lag) in s.index:
                xs.append(float(v))
                ys.append(float(s[h + r.lag]))
        assert int(r.n_pairs) == len(xs)
        want = np.corrcoef(xs, ys)[0, 1]
        assert abs(r.acf - want) < 1e-6


def test_audio_features_match_formula(spark):
    """The decode path's features equal the pure-Python recomputation
    from the waveform formula — byte order or signedness bugs flip
    energy/zero_cross immediately."""
    from embarrassingly_parallel_image_classification_spark.ml.multimodal import (
        PCM_FRAME,
        PCM_MUL,
        PCM_SAMPLES,
        PCM_STEP,
    )

    got = _rows(spark, "q_multimodal_audio")
    ids = sorted(set(got.vec_id))[:3]
    for m in ids:
        s = [
            (m * PCM_MUL + i * PCM_STEP) % 65536 - 32768
            for i in range(PCM_SAMPLES)
        ]
        for f in range(PCM_SAMPLES // PCM_FRAME):
            sl = s[f * PCM_FRAME : (f + 1) * PCM_FRAME]
            row = got[(got.vec_id == m) & (got.frame == f)].iloc[0]
            assert int(row.energy) == sum(v * v for v in sl)
            assert int(row.zero_cross) == sum(
                1
                for a, b in zip(sl, sl[1:])
                if (a >= 0) != (b >= 0)
            )
            assert int(row.peak) == max(abs(v) for v in sl)


def test_bootstrap_ci_brackets_point_and_matches_hash(spark, events):
    """CI invariants plus a pure-Python twin of replicate b=1: same
    md5-derived Poisson weights, same weighted mean."""
    import hashlib

    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        POIS_E6,
    )

    got = _rows(spark, "q_stats_bootstrap_ci").set_index("event_type").sort_index()
    assert (got.lo_e2 <= got.hi_e2).all()
    # the 90% CI should bracket the point estimate for these sample sizes
    assert ((got.lo_e2 <= got.mean_e2) & (got.mean_e2 <= got.hi_e2)).all()
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    et = sorted(ev.event_type.unique())[0]
    g = ev[ev.event_type == et]
    sw = swc = 0
    for eid, cents in zip(g.event_id, g.cents):
        h = int(hashlib.md5(f"{eid}:1".encode()).hexdigest()[:8], 16) % 1000000
        w = sum(1 for t_ in POIS_E6 if h >= t_)
        sw += w
        swc += w * int(cents)
    # replicate mean must fall inside the CI's support range and match
    # the engines' rounding when recomputed identically
    assert sw > 0
    rep_mean_e2 = round(swc / sw * 100)
    assert got.loc[et, "lo_e2"] <= rep_mean_e2 * 1.5  # loose sanity
    # exact: rerun determinism (same session, same result)
    again = _rows(spark, "q_stats_bootstrap_ci").set_index("event_type").sort_index()
    assert (again == got).all().all()


def test_chi2_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_chi2").iloc[0]
    ev = events.copy()
    cells = {}
    for et, uid in zip(ev.event_type, ev.user_id):
        key = (et, uid % 2 == 0)
        cells[key] = cells.get(key, 0) + 1
    n = sum(cells.values())
    rows = {}
    cols = {}
    for (et, tr), o in cells.items():
        rows[et] = rows.get(et, 0) + o
        cols[tr] = cols.get(tr, 0) + o
    chi2_e6 = sum(
        round((o * n - rows[et] * cols[tr]) ** 2 / (n * rows[et] * cols[tr]) * 1e6)
        for (et, tr), o in cells.items()
    )
    assert int(got.n) == n
    assert int(got.chi2_e6) == chi2_e6
    assert bool(got.significant) == (chi2_e6 > 9_487_729)


def _ray_cast(px, py, edges):
    k = 0
    for x1, y1, x2, y2 in edges:
        if (y1 <= py) != (y2 <= py):
            t_ = (x1 - px) * (y2 - y1) + (py - y1) * (x2 - x1)
            if (t_ > 0) if y2 > y1 else (t_ < 0):
                k += 1
    return k % 2 == 1


def test_point_in_polygon_matches_brute_force(spark, events):
    from embarrassingly_parallel_image_classification_spark.operators.analytics import (
        POLY_EDGES,
    )

    # sanity of the reference itself on known points
    assert _ray_cast(500, 500, POLY_EDGES) is True  # deep interior
    assert _ray_cast(0, 0, POLY_EDGES) is False  # far corner
    assert _ray_cast(999, 999, POLY_EDGES) is False

    got = _rows(spark, "q_geo_point_in_polygon").set_index("event_type")
    ev = events.copy()
    ev["px"] = ev["user_id"] % 1000
    ev["py"] = (ev["value"] * 100).round().astype("int64") % 1000
    for et, g in ev.groupby("event_type"):
        inside = sum(
            1 for px, py in zip(g.px, g.py) if _ray_cast(px, py, POLY_EDGES)
        )
        assert int(got.loc[et, "n_points"]) == len(g)
        assert int(got.loc[et, "n_inside"]) == inside
        assert int(got.loc[et, "share_e6"]) == inside * 1_000_000 // len(g)


def test_mining_variants_matches_brute_force(spark, events):
    got = _rows(spark, "q_mining_variants")
    ev = events.copy()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    census = {}
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["sec", "event_id"]).head(8)
        v = ">".join(g.event_type)
        census[(v, len(g))] = census.get((v, len(g)), 0) + 1
    want = sorted(census.items(), key=lambda kv: (-kv[1], kv[0][0]))[:20]
    assert len(got) == min(20, len(census))
    for row, ((v, ns), n) in zip(got.itertuples(index=False), want):
        assert (row.variant, row.n_steps, row.n_users) == (v, ns, n)


def test_gbt_stumps_boosting_improves(spark):
    """Re-apply the emitted 2-stump model to the raw rows: SSE must
    strictly improve constant -> stump1 -> boosted, and round 2's
    stump must fit the EXACT round-1 residuals (the model is
    self-consistent, not just well-formed)."""
    got = _rows(spark, "q_train_gbt_stumps").set_index("round")
    li = duckdb.sql(
        f"SELECT CAST(ROUND(l_discount*100,0) AS BIGINT) disc,"
        f" CAST(ROUND(l_tax*100,0) AS BIGINT) tax,"
        f" CAST(ROUND(l_quantity,0) AS BIGINT) y"
        f" FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).df()

    def pred(row, d, t_):
        x = d if row.feature == "discount" else t_
        side = "pred_left_e6" if x <= row.threshold else "pred_right_e6"
        return getattr(row, side) / 1e6

    r1, r2 = got.loc[1], got.loc[2]
    ybar = li.y.mean()
    sse_const = sse1 = sse2 = 0.0
    for d, t_, y in zip(li.disc, li.tax, li.y):
        p1 = pred(r1, d, t_)
        p2 = p1 + pred(r2, d, t_)
        sse_const += (y - ybar) ** 2
        sse1 += (y - p1) ** 2
        sse2 += (y - p2) ** 2
    assert sse1 < sse_const
    assert sse2 < sse1
    # side sizes partition the data in both rounds
    n = len(li)
    assert int(r1.n_left + r1.n_right) == n
    assert int(r2.n_left + r2.n_right) == n


def test_runs_test_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_runs_test").iloc[0]
    ev = events.copy()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    vals = sorted(ev.cents)
    m = vals[(len(vals) - 1) // 2]  # percentile_disc(0.5) lower-mid
    g = ev[ev.cents != m].sort_values(["sec", "event_id"])
    signs = [c > m for c in g.cents]
    n1 = sum(signs)
    n2 = len(signs) - n1
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    assert (int(got.n_above), int(got.n_below), int(got.n_runs)) == (
        n1,
        n2,
        runs,
    )
    n = n1 + n2
    num = runs * n - 2 * n1 * n2 - n
    assert bool(got.significant) == (
        num * num * (n - 1) * 10000 > 38416 * 2 * n1 * n2 * (2 * n1 * n2 - n)
    )


def test_spearman_matches_scipy_free_brute_force(spark, events):
    """rho recomputed with pure-Python midranks (no scipy)."""
    import json as _json

    got = _rows(spark, "q_stats_spearman").set_index("event_type")
    ev = events.copy()
    ev["v"] = (ev["value"] * 100).round().astype("int64")
    ev["k"] = [int(_json.loads(p)["k"]) for p in ev["props"]]
    for et, g in ev.groupby("event_type"):
        def mid2(vals):
            order = sorted(vals)
            import bisect
            return [
                2 * bisect.bisect_left(order, x)
                + (bisect.bisect_right(order, x) - bisect.bisect_left(order, x))
                + 1
                for x in vals
            ]
        rx = mid2(list(g.v))
        ry = mid2(list(g.k))
        n = len(rx)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / (
            ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
        )
        assert abs(got.loc[et, "rho"] - rho) < 1e-6
        assert int(got.loc[et, "n_rows"]) == n


# ---------------------------------------------------------------------------
# Round-10 pack: Kendall tau-b, one-way ANOVA, Cramér's V, sign test + BH.
# ---------------------------------------------------------------------------


def test_kendall_matches_brute_force_pairs(spark, events):
    """C - D recomputed by the O(n^2) definition the grid spelling
    exists to avoid: literally enumerate every pair per event_type."""
    got = _rows(spark, "q_stats_kendall").set_index("event_type")
    df = events.copy()
    df["v"] = (df.value * 100).round().astype("int64") // 100
    df["k"] = df.props.str.extract(r'"k":\s*(\d+)').astype("int64")
    for g, sub in df.groupby("event_type"):
        pts = list(zip(sub.v, sub.k))
        n = len(pts)
        cmd = 0
        n1 = n2 = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx = pts[i][0] - pts[j][0]
                dy = pts[i][1] - pts[j][1]
                s = dx * dy
                if s > 0:
                    cmd += 1
                elif s < 0:
                    cmd -= 1
        from collections import Counter

        tv = Counter(p[0] for p in pts)
        tk = Counter(p[1] for p in pts)
        n1 = sum(t * (t - 1) // 2 for t in tv.values())
        n2 = sum(t * (t - 1) // 2 for t in tk.values())
        n0 = n * (n - 1) // 2
        assert int(got.loc[g, "con_minus_dis"]) == cmd, g
        assert int(got.loc[g, "n_rows"]) == n
        tau = cmd / math.sqrt((n0 - n1) * (n0 - n2))
        assert abs(float(got.loc[g, "tau_b"]) - tau) < 5e-7, g


def test_anova_matches_brute_force(spark, events):
    """SSB/SSW e6 fixings and the F decision recomputed with exact
    Python integers (the same div/mod decomposition, independently)."""
    got = _rows(spark, "q_stats_anova").iloc[0]
    df = events.copy()
    df["cents"] = (df.value * 100).round().astype("int64")
    groups = {
        g: list(sub.cents) for g, sub in df.groupby("event_type")
    }
    k = len(groups)
    nn = sum(len(v) for v in groups.values())
    qq = sum(c * c for v in groups.values() for c in v)
    ss = sum(sum(v) for v in groups.values())
    def term_e6(s, n):
        s2 = s * s
        return 1_000_000 * (s2 // n) + round(1_000_000 * (s2 % n) / n)
    a_e6 = sum(term_e6(sum(v), len(v)) for v in groups.values())
    ssb = a_e6 - term_e6(ss, nn)
    ssw = 1_000_000 * qq - a_e6
    assert int(got["n"]) == nn and int(got["k_groups"]) == k
    assert int(got["ssb_e6"]) == ssb
    assert int(got["ssw_e6"]) == ssw
    assert int(got["f_e6_floor"]) == (ssb * (nn - k) * 1_000_000) // (
        ssw * (k - 1)
    )
    assert bool(got["significant"]) == (
        ssb * (nn - k) * 10_000 > 23719 * ssw * (k - 1)
    )


def test_cramers_v_matches_brute_force(spark, events):
    """chi2_e6 and the V^2 floor recomputed from the raw contingency."""
    got = _rows(spark, "q_stats_cramers_v").iloc[0]
    df = events.copy()
    df["kb"] = df.props.str.extract(r'"k":\s*(\d+)').astype("int64") % 5
    from collections import Counter

    cells = Counter(zip(df.event_type, df.kb))
    rows = Counter(df.event_type)
    cols = Counter(df.kb)
    n = len(df)
    chi2_e6 = sum(
        round(
            (o * n - rows[r] * cols[c]) ** 2
            / (n * rows[r] * cols[c])
            * 1_000_000
        )
        for (r, c), o in cells.items()
    )
    assert int(got["n"]) == n
    assert int(got["chi2_e6"]) == chi2_e6
    assert int(got["v2_e9_floor"]) == (chi2_e6 * 1000) // (n * 4)
    assert bool(got["strong_assoc"]) == (chi2_e6 * 25 > n * 4_000_000)


def test_sign_bh_matches_brute_force(spark, events):
    """Per-group exact dyadic p-values and the BH cutoff recomputed
    with Fraction arithmetic (no rounding anywhere)."""
    from fractions import Fraction

    got = _rows(spark, "q_stats_sign_bh").set_index("g")
    df = events.copy()
    df["g"] = df.props.str.extract(r'"k":\s*(\d+)').astype("int64") % 10
    df["day"] = df.ts.dt.date
    df["cents"] = (df.value * 100).round().astype("int64")
    ps = {}
    for g, sub in df.groupby("g"):
        daily = sub.groupby("day").agg(
            nd=("cents", "size"), sd=("cents", "sum")
        )
        ng, sg = int(daily.nd.sum()), int(daily.sd.sum())
        pos = int(((daily.sd * ng) > (sg * daily.nd)).sum())
        neg = int(((daily.sd * ng) < (sg * daily.nd)).sum())
        m, smin = pos + neg, min(pos, neg)
        pnum = min(2**m, 2 * sum(math.comb(m, i) for i in range(smin + 1)))
        ps[g] = (Fraction(pnum, 2**m), m, pos)
        assert int(got.loc[g, "m_days"]) == m and int(got.loc[g, "pos"]) == pos
        assert int(got.loc[g, "p_e6"]) == round(pnum / 2**m * 1_000_000)
    order = sorted(ps, key=lambda g: (ps[g][0], g))
    G = len(order)
    jmax = max(
        (j for j, g in enumerate(order, 1)
         if ps[g][0] <= Fraction(1, 20) * Fraction(j, G)),
        default=0,
    )
    for j, g in enumerate(order, 1):
        assert int(got.loc[g, "bh_rank"]) == j
        assert bool(got.loc[g, "bh_reject"]) == (j <= jmax)


def test_changepoint_sse_matches_brute_force(spark, events):
    """Best split recomputed by the O(days^2) definition: for every
    candidate, exact-Fraction within-segment SSE; argmin must agree
    with the prefix-sum spelling's integer-floor argmax."""
    from fractions import Fraction

    got = _rows(spark, "q_ts_changepoint_sse").set_index("event_type")
    df = events.copy()
    df["day"] = df.ts.dt.date
    df["cents"] = (df.value * 100).round().astype("int64")
    for g, sub in df.groupby("event_type"):
        daily = sub.groupby("day").cents.sum().sort_index() // 100
        ys = [int(v) for v in daily]
        days = list(daily.index)
        n = len(ys)
        best = None
        for t_ in range(1, n):
            left, right = ys[:t_], ys[t_:]
            gain_num = (
                sum(left) ** 2 * len(right) + sum(right) ** 2 * len(left)
            )
            gain_floor = gain_num // (len(left) * len(right))
            key = (-gain_floor, days[t_ - 1])
            if best is None or key < best[0]:
                best = (key, days[t_ - 1], t_, gain_floor)
        assert str(got.loc[g, "split_day"]) == str(best[1]), g
        assert int(got.loc[g, "n_left"]) == best[2]
        assert int(got.loc[g, "gain_floor"]) == best[3]
        # and the integer-floor argmax picks a split whose EXACT
        # rational gain is within 1 of the true optimum (quantization
        # bound), i.e. the floor statistic is a faithful locator
        exact = [
            Fraction(
                sum(ys[:t_]) ** 2 * (n - t_) + sum(ys[t_:]) ** 2 * t_,
                t_ * (n - t_),
            )
            for t_ in range(1, n)
        ]
        assert max(exact) - Fraction(best[3]) < 1


def test_ridge_matches_brute_force(spark):
    """Cramer's-rule coefficients recomputed with arbitrary-precision
    Python integers straight from the raw rows."""
    got = _rows(spark, "q_train_ridge").iloc[0]
    li = duckdb.sql(
        f"SELECT CAST(l_quantity AS BIGINT) x1,"
        f" CAST(ROUND(l_discount*100,0) AS BIGINT) x2,"
        f" CAST(ROUND(l_extendedprice*100,0) AS BIGINT) y"
        f" FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).df()
    lam = 10_000
    n = len(li)
    sx1, sx2 = int(li.x1.sum()), int(li.x2.sum())
    sx11 = int((li.x1 * li.x1).sum())
    sx12 = int((li.x1 * li.x2).sum())
    sx22 = int((li.x2 * li.x2).sum())
    sy = int(li.y.sum())
    sx1y = int((li.x1 * li.y).sum())
    sx2y = int((li.x2 * li.y).sum())
    A = [
        [n + lam, sx1, sx2],
        [sx1, sx11 + lam, sx12],
        [sx2, sx12, sx22 + lam],
    ]
    b = [sy, sx1y, sx2y]

    def det3(M):
        return (
            M[0][0] * (M[1][1] * M[2][2] - M[1][2] * M[2][1])
            - M[0][1] * (M[1][0] * M[2][2] - M[1][2] * M[2][0])
            + M[0][2] * (M[1][0] * M[2][1] - M[1][1] * M[2][0])
        )

    d0 = det3(A)
    for j, name in enumerate(["beta0_e6", "beta1_e6", "beta2_e6"]):
        Mj = [row[:] for row in A]
        for r in range(3):
            Mj[r][j] = b[r]
        dj = det3(Mj)
        sign = (-1 if dj < 0 else 1) * (-1 if d0 < 0 else 1)
        expect = sign * (abs(dj) * 1_000_000 // abs(d0))
        assert int(got[name]) == expect, name
    # sanity: ridge shrinks toward zero vs huge lambda
    assert int(got["n"]) == n


def test_kruskal_matches_brute_force(spark, events):
    """S2 rank sums and the staged e6 fixings recomputed from scratch
    with exact Python integers (independent midrank construction)."""
    got = _rows(spark, "q_stats_kruskal").iloc[0]
    df = events.copy()
    df["v"] = (df.value * 100).round().astype("int64")
    vals = sorted(df.v)
    from collections import Counter

    tie = Counter(vals)
    # doubled midrank per distinct value
    r2, c_lt = {}, 0
    for v in sorted(tie):
        r2[v] = 2 * c_lt + tie[v] + 1
        c_lt += tie[v]
    N = len(df)
    a4_e6 = 0
    for g, sub in df.groupby("event_type"):
        s2 = sum(r2[v] for v in sub.v)
        ng = len(sub)
        a4_e6 += 1_000_000 * (s2 * s2 // ng) + round(
            1_000_000 * (s2 * s2 % ng) / ng
        )
    ties3 = sum(t**3 - t for t in tie.values())
    h_e6 = (3 * a4_e6 - 3_000_000 * N * (N + 1) ** 2) // (
        N * (N + 1)
    )
    h_tie_e6 = (h_e6 * (N**3 - N)) // (N**3 - N - ties3)
    assert int(got["n"]) == N
    assert int(got["h_e6"]) == h_e6
    assert int(got["h_tie_e6"]) == h_tie_e6
    assert bool(got["significant"]) == (h_tie_e6 > 9_487_729)
    # sanity vs the float textbook formula (quantization bound)
    rbar = {v: (r2[v]) / 2 for v in r2}
    ssum = 0.0
    for g, sub in df.groupby("event_type"):
        R = sum(rbar[v] for v in sub.v)
        ssum += R * R / len(sub)
    H = 12 * ssum / (N * (N + 1)) - 3 * (N + 1)
    C = 1 - ties3 / (N**3 - N)
    assert abs(h_tie_e6 / 1e6 - H / C) < 1e-3


def test_lasso_cd_matches_brute_force_and_zeroes(spark):
    """The 2-sweep coordinate-descent trajectory recomputed with
    arbitrary-precision Python integers; then the SAME update rule at
    a lambda past the weaker feature's threshold must produce an
    exact-integer zero coefficient (the sparsity property)."""
    got = _rows(spark, "q_train_lasso_cd").iloc[0]
    li = duckdb.sql(
        f"SELECT CAST(l_quantity AS BIGINT) x1,"
        f" CAST(ROUND(l_discount*100,0) AS BIGINT) x2,"
        f" CAST(ROUND(l_extendedprice*100,0) AS BIGINT) y"
        f" FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).df()
    n = len(li)
    sx1, sx2, sy = int(li.x1.sum()), int(li.x2.sum()), int(li.y.sum())
    c1y = n * int((li.x1 * li.y).sum()) - sx1 * sy
    c2y = n * int((li.x2 * li.y).sum()) - sx2 * sy
    c12 = n * int((li.x1 * li.x2).sum()) - sx1 * sx2
    c11 = n * int((li.x1 * li.x1).sum()) - sx1 * sx1
    c22 = n * int((li.x2 * li.x2).sum()) - sx2 * sx2

    def run(lam):
        b1 = b2 = 0
        for _ in range(2):
            for j in (1, 2):
                cjy = c1y if j == 1 else c2y
                cjj = c11 if j == 1 else c22
                oth = b2 if j == 1 else b1
                rho = 1_000_000 * cjy - oth * c12
                if abs(rho) <= lam:
                    b = 0
                else:
                    b = (1 if rho > 0 else -1) * ((abs(rho) - lam) // cjj)
                if j == 1:
                    b1 = b
                else:
                    b2 = b
        s0 = 1_000_000 * sy - b1 * sx1 - b2 * sx2
        b0 = (1 if s0 >= 0 else -1) * (abs(s0) // n)
        return b0, b1, b2

    lam = max(abs(c1y), abs(c2y)) * 500_000
    b0, b1, b2 = run(lam)
    assert int(got["b0_e6"]) == b0
    assert int(got["b1_e6"]) == b1
    assert int(got["b2_e6"]) == b2
    assert int(got["lam_natural"]) == lam // 1_000_000
    assert int(got["nnz"]) == (b1 != 0) + (b2 != 0)
    # sparsity: just past lambda_max the FIRST update must zero the
    # weaker coordinate exactly (and at lambda_max both die)
    b0x, b1x, b2x = run(max(abs(c1y), abs(c2y)) * 1_000_000 + 1)
    assert b1x == 0 and b2x == 0
    # and at 0.9*lambda_max the weaker coordinate is exactly 0 while
    # the stronger survives — the one-zero region of the path
    bb = run(max(abs(c1y), abs(c2y)) * 900_000)
    assert 0 in (bb[1], bb[2]) and bb[1:] != (0, 0)


def test_logrank_matches_brute_force(spark, events):
    """O-E and V recomputed step-by-step with exact Python integers
    (independent at-risk construction, same e6 fixing rule)."""
    got = _rows(spark, "q_survival_logrank").iloc[0]
    df = events.copy()
    df["sec"] = df.ts.astype("datetime64[s]").astype("int64")
    rows = []
    for uid, sub in df.groupby("user_id"):
        t0 = int(sub.sec.min())
        tp = sub[sub.event_type == "purchase"].sec
        tlast = int(sub.sec.max())
        end = int(tp.min()) if len(tp) else tlast
        rows.append(
            (uid % 2 == 0, (end - t0) // 60, bool(len(tp)))
        )
    from collections import defaultdict

    at = defaultdict(lambda: [0, 0])  # d_min -> [c_all, c1]
    ev = defaultdict(lambda: [0, 0])  # d_min -> [d_i, d1_i]
    for grp, d, obs in rows:
        at[d][0] += 1
        at[d][1] += grp
        if obs:
            ev[d][0] += 1
            ev[d][1] += grp
    om_e = v = o1 = steps = 0
    n_i = n1_i = 0
    for d in sorted(at, reverse=True):
        n_i += at[d][0]
        n1_i += at[d][1]
        d_i, d1_i = ev.get(d, (0, 0))
        if d_i > 0:
            e1 = round(1_000_000 * d_i * n1_i / n_i)
            om_e += d1_i * 1_000_000 - e1
            if n_i > 1:
                v += round(
                    1_000_000
                    * d_i * n1_i * (n_i - n1_i) * (n_i - d_i)
                    / (n_i * n_i * (n_i - 1))
                )
            o1 += d1_i
            steps += 1
    assert int(got["o1"]) == o1 and int(got["n_steps"]) == steps
    assert int(got["om_e_e6"]) == om_e
    assert int(got["var_e6"]) == v
    assert bool(got["significant"]) == (
        om_e * om_e > 3_841_459 * v * 1_000_000
    )


def test_mcnemar_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_mcnemar").iloc[0]
    df = events.copy()
    df["half1"] = df.ts.dt.date.astype(str) < "2024-01-16"
    g = df[df.event_type == "purchase"].groupby("user_id").half1
    a1 = g.max()  # any purchase in half 1
    a2 = ~g.min()  # any purchase in half 2 (min(half1)==False)
    users = df.user_id.unique()
    b = c = 0
    for u in users:
        h1 = bool(a1.get(u, False))
        h2 = bool(a2.get(u, False))
        if h1 and not h2:
            b += 1
        if h2 and not h1:
            c += 1
    assert int(got["n_users"]) == len(users)
    assert int(got["b"]) == b and int(got["c"]) == c
    assert bool(got["significant"]) == (
        b + c > 0 and (b - c) ** 2 * 1_000_000 > 3_841_459 * (b + c)
    )


def test_tree_depth2_matches_brute_force(spark):
    """Full CART recomputation in pure Python (every (feature,
    threshold) candidate scored at root, then within each routed
    child) — independent of both the Spark census spelling and the
    DuckDB oracle, so a shared query+oracle bug cannot hide (the
    Kruskal-twin lesson from round 10)."""
    got = _rows(spark, "q_train_tree_depth2").set_index("node")
    li = duckdb.sql(
        f"SELECT CAST(ROUND(l_quantity,0) AS BIGINT) qty,"
        f" CAST(ROUND(l_discount*100,0) AS BIGINT) disc,"
        f" CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END y"
        f" FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).df()
    rows = list(zip(li.qty.astype(int), li.disc.astype(int), li.y.astype(int)))

    def best_split(subset):
        cands = []
        for feat, idx in (("discount", 1), ("quantity", 0)):
            vals = sorted({r[idx] for r in subset})
            for t in vals:
                left = [r for r in subset if r[idx] <= t]
                right = [r for r in subset if r[idx] > t]
                if not left or not right:
                    continue
                lp = sum(r[2] for r in left)
                lneg = len(left) - lp
                rp = sum(r[2] for r in right)
                rneg = len(right) - rp
                g = round(
                    2.0
                    * (lp * lneg / len(left) + rp * rneg / len(right))
                    / len(subset)
                    * 1_000_000
                )
                cands.append((g, feat, t, len(left), len(right)))
        return min(cands) if cands else None

    g, feat, thr, nl, nr = best_split(rows)
    r = got.loc["root"]
    assert (r.feature, int(r.threshold), int(r.n_left), int(r.n_right)) == (
        feat, thr, nl, nr,
    )
    assert int(r.gini_e6) == g
    idx = 0 if feat == "quantity" else 1
    for node, subset in (
        ("L", [x for x in rows if x[idx] <= thr]),
        ("R", [x for x in rows if x[idx] > thr]),
    ):
        want = best_split(subset)
        if want is None:
            assert node not in got.index
            continue
        g2, feat2, thr2, nl2, nr2 = want
        c = got.loc[node]
        assert (
            c.feature, int(c.threshold), int(c.n_left), int(c.n_right),
            int(c.gini_e6),
        ) == (feat2, thr2, nl2, nr2, g2)


def test_cochran_q_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_cochran_q").iloc[0]
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CHI2_DF4_E6,
        COCHRAN_CUTOFF,
        COCHRAN_K,
    )
    import pandas as pd

    ev = events.copy()
    ev = ev[ev["ts"].astype("datetime64[s]") < pd.Timestamp(COCHRAN_CUTOFF)]
    inc = {(u, g) for u, g in zip(ev.user_id, ev.event_type)}
    rows = {}
    cols = {}
    for u, g in inc:
        rows[u] = rows.get(u, 0) + 1
        cols[g] = cols.get(g, 0) + 1
    n_total = sum(rows.values())
    srs = sum(r * r for r in rows.values())
    scs = sum(c * c for c in cols.values())
    k = COCHRAN_K
    num = (k - 1) * (k * scs - n_total * n_total)
    den = k * n_total - srs
    assert int(got.n_blocks) == len(rows)
    assert int(got.n_total) == n_total
    assert (int(got.q_num), int(got.q_den)) == (num, den)
    assert int(got.q_e6_floor) == (num * 1_000_000 // den if den > 0 else 0)
    assert bool(got.significant) == (
        den > 0 and num * 1_000_000 > CHI2_DF4_E6 * den
    )


def test_jonckheere_matches_brute_force(spark):
    """Definitional JT: every ordered group pair's Mann-Whitney count,
    by direct bisect — independent of the grid spelling."""
    import bisect

    got = _rows(spark, "q_stats_jonckheere").iloc[0]
    orders = duckdb.sql(
        f"SELECT o_orderpriority g, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).df()
    groups = {
        g: sorted(int(x) for x in grp.v) for g, grp in orders.groupby("g")
    }
    keys = sorted(groups)
    jt2 = 0
    for ai, a in enumerate(keys):
        for b in keys[ai + 1:]:
            for yv in groups[b]:
                lt = bisect.bisect_left(groups[a], yv)
                eq = bisect.bisect_right(groups[a], yv) - lt
                jt2 += 2 * lt + eq
    n = sum(len(v) for v in groups.values())
    e2 = (n * n - sum(len(v) ** 2 for v in groups.values())) // 2
    var_num = n * n * (2 * n + 3) - sum(
        len(v) ** 2 * (2 * len(v) + 3) for v in groups.values()
    )
    assert int(got.jt2) == jt2
    assert int(got.e2) == e2
    assert int(got.var_num) == var_num
    d = jt2 - e2
    assert int(got.z2_e6_floor) == d * d * 18_000_000 // var_num
    assert bool(got.significant) == (d * d * 180_000 > 38_416 * var_num)


def test_friedman_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_friedman").iloc[0]
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CHI2_DF4_E6,
        FRIEDMAN_K,
    )

    ev = events.copy()
    ev["d"] = ev["ts"].astype("datetime64[s]").dt.date
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    cells = ev.groupby(["d", "event_type"])["cents"].sum()
    blocks = {}
    for (d, g), v in cells.items():
        blocks.setdefault(d, {})[g] = int(v)
    complete = {d: b for d, b in blocks.items() if len(b) == FRIEDMAN_K}
    n = len(complete)
    r2sum = {}
    a2 = 0
    for b in complete.values():
        vals = sorted(b.values())
        for g, v in b.items():
            import bisect

            lt = bisect.bisect_left(vals, v)
            tcnt = bisect.bisect_right(vals, v) - lt
            s = 2 * lt + tcnt + 1
            r2sum[g] = r2sum.get(g, 0) + s
            a2 += s * s
    k = FRIEDMAN_K
    devsq = sum((r - n * (k + 1)) ** 2 for r in r2sum.values())
    num = (k - 1) * devsq
    den = a2 - n * k * (k + 1) ** 2
    assert int(got.n_blocks) == n
    assert (int(got.q_num), int(got.q_den)) == (num, den)
    assert int(got.q_e6_floor) == (num * 1_000_000 // den if den > 0 else 0)
    assert bool(got.significant) == (
        den > 0 and num * 1_000_000 > CHI2_DF4_E6 * den
    )


def test_ljung_box_matches_brute_force(spark, events):
    got = _rows(spark, "q_ts_ljung_box").set_index("lag")
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CHI2_DF7_E6,
        LB_H,
    )

    ev = events.copy()
    ev["d"] = ev["ts"].astype("datetime64[s]").dt.date
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    xs = [int(v) for _, v in sorted(ev.groupby("d")["cents"].sum().items())]
    n, s = len(xs), sum(xs)
    ys = [n * x - s for x in xs]
    c0 = sum(y * y for y in ys)
    sum_terms = 0
    for k in range(1, LB_H + 1):
        ck = sum(ys[i] * ys[i + k] for i in range(n - k))
        rabs = abs(ck) * 1_000_000 // c0
        assert 0 <= rabs <= 1_000_000
        term = rabs * rabs // (n - k)
        row = got.loc[k]
        assert int(row.r_sign) == (-1 if ck < 0 else 1)
        assert int(row.rabs_e6) == rabs
        assert int(row.term_e12) == term
        sum_terms += term
    lb_e6 = n * (n + 2) * sum_terms // 1_000_000
    assert (got.lb_e6 == lb_e6).all()
    assert (got.significant == (lb_e6 > CHI2_DF7_E6)).all()


def test_brown_forsythe_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_brown_forsythe").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    groups = {g: sorted(int(v) for v in grp.cents)
              for g, grp in ev.groupby("event_type")}
    nn = ss = qq = 0
    a_e6 = 0
    for g, xs in groups.items():
        med = xs[(len(xs) + 1) // 2 - 1]  # lower median, rank (n+1) div 2
        zs = [abs(x - med) for x in xs]
        n, s, q = len(zs), sum(zs), sum(z * z for z in zs)
        nn += n
        ss += s
        qq += q
        a_e6 += 1_000_000 * (s * s // n) + round(1_000_000 * (s * s % n) / n)
    k = len(groups)
    ssb_e6 = a_e6 - (
        1_000_000 * (ss * ss // nn) + round(1_000_000 * (ss * ss % nn) / nn)
    )
    ssw_e6 = 1_000_000 * qq - a_e6
    assert int(got.n) == nn and int(got.k_groups) == k
    assert int(got.ssb_e6) == ssb_e6
    assert int(got.ssw_e6) == ssw_e6
    assert int(got.w_e6_floor) == ssb_e6 * (nn - k) * 1_000_000 // (
        ssw_e6 * (k - 1)
    )
    assert bool(got.significant) == (
        ssb_e6 * (nn - k) * 10_000 > 23719 * ssw_e6 * (k - 1)
    )


def test_brier_murphy_decomposition_matches_brute_force(spark, events):
    got = _rows(spark, "q_eval_brier").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["y"] = (ev["event_type"] == "purchase").astype(int)
    lo, hi = int(ev.cents.min()), int(ev.cents.max())
    pden = hi - lo
    bins = {}
    for c, y in zip(ev.cents, ev.y):
        b = (int(c) - lo) * 10 // (hi - lo + 1)
        nb, sb, yb = bins.get(b, (0, 0, 0))
        bins[b] = (nb + 1, sb + int(c) - lo, yb + int(y))
    n = sum(v[0] for v in bins.values())
    yy = sum(v[2] for v in bins.values())
    rel_sum = sum(
        (sb - pden * yb) ** 2 * 10**9 // (pden * pden * nb)
        for nb, sb, yb in bins.values()
    )
    res_sum = sum(
        (yb * n - yy * nb) ** 2 * 10**9 // (nb * n * n)
        for nb, sb, yb in bins.values()
    )
    adev = sum(abs(sb - pden * yb) for nb, sb, yb in bins.values())
    unc_e9 = yy * (n - yy) * 10**9 // (n * n)
    assert int(got.n) == n and int(got.n_bins) == len(bins)
    assert int(got.rel_e9) == rel_sum // n
    assert int(got.res_e9) == res_sum // n
    assert int(got.unc_e9) == unc_e9
    assert int(got.brier_e9) == rel_sum // n - res_sum // n + unc_e9
    ece_e9 = adev * 10**9 // (pden * n)
    assert int(got.ece_e9) == ece_e9
    assert bool(got.calibrated) == (ece_e9 <= 50_000_000)
    # the decomposition lands within the three stated floors of the
    # directly-computed binned-forecast Brier score
    brier_direct = sum(
        ((sb / (nb * pden)) - y) ** 2
        for nb, sb, yb in bins.values()
        for y in ([1] * yb + [0] * (nb - yb))
    ) / n
    assert abs(int(got.brier_e9) / 1e9 - brier_direct) < 5e-9


def test_granger_matches_brute_force(spark, events):
    """Full pure-Python Granger recomputation (integer sums, Cramer
    dets as exact Python ints, sign-split e6 fixings, e12 SSEs) —
    independent of both the Spark and DuckDB spellings of the shared
    CTE body."""
    got = _rows(spark, "q_ts_granger").iloc[0]
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        GRANGER_F_CRIT_E4,
    )

    ev = events.copy()
    ev["d"] = ev["ts"].astype("datetime64[s]").dt.date
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    days = {}
    for d, g in ev.groupby("d"):
        p = g[g.event_type == "purchase"]
        pm = int(p.cents.sum()) // len(p) if len(p) else 0
        days[d] = (pm, int((g.event_type == "view").sum()))
    series = [days[d] for d in sorted(days)][:30]
    rows = [
        (series[i][0], series[i - 1][0], series[i - 1][1])
        for i in range(1, len(series))
    ]
    m = len(rows)
    sx = sum(x for x, _, _ in rows)
    sxl = sum(xl for _, xl, _ in rows)
    syl = sum(yl for _, _, yl in rows)
    sxlxl = sum(xl * xl for _, xl, _ in rows)
    sylyl = sum(yl * yl for _, _, yl in rows)
    sxlyl = sum(xl * yl for _, xl, yl in rows)
    sxlx = sum(xl * x for x, xl, _ in rows)
    sylx = sum(yl * x for x, _, yl in rows)

    def fix(num, den):
        if den == 0:
            return 0
        s = -1 if (num < 0) != (den < 0) else 1
        return s * (abs(num) * 1_000_000 // abs(den))

    det = (m * (sxlxl * sylyl - sxlyl * sxlyl)
           - sxl * (sxl * sylyl - sxlyl * syl)
           + syl * (sxl * sxlyl - sxlxl * syl))
    det_a = (sx * (sxlxl * sylyl - sxlyl * sxlyl)
             - sxl * (sxlx * sylyl - sxlyl * sylx)
             + syl * (sxlx * sxlyl - sxlxl * sylx))
    det_b = (m * (sxlx * sylyl - sxlyl * sylx)
             - sx * (sxl * sylyl - sxlyl * syl)
             + syl * (sxl * sylx - sxlx * syl))
    det_c = (m * (sxlxl * sylx - sxlx * sxlyl)
             - sxl * (sxl * sylx - sxlx * syl)
             + sx * (sxl * sxlyl - sxlxl * syl))
    a_e6, b_e6, c_e6 = fix(det_a, det), fix(det_b, det), fix(det_c, det)
    det_r = m * sxlxl - sxl * sxl
    ar_e6 = fix(sxlxl * sx - sxl * sxlx, det_r)
    br_e6 = fix(m * sxlx - sxl * sx, det_r)
    ssef = sum(
        (x * 1_000_000 - (a_e6 + b_e6 * xl + c_e6 * yl)) ** 2
        for x, xl, yl in rows
    )
    sser = sum(
        (x * 1_000_000 - (ar_e6 + br_e6 * xl)) ** 2 for x, xl, _ in rows
    )
    assert int(got.m) == m
    assert (int(got.b_e6), int(got.c_e6), int(got.br_e6)) == (
        b_e6, c_e6, br_e6,
    )
    assert int(got.sser_e6) == sser // 1_000_000
    assert int(got.ssef_e6) == ssef // 1_000_000
    diff = max(sser - ssef, 0)
    assert int(got.f_e6_floor) == (
        diff * (m - 3) * 1_000_000 // ssef if ssef > 0 else 0
    )
    assert bool(got.causal) == (
        ssef > 0 and diff * (m - 3) * 10_000 > GRANGER_F_CRIT_E4 * ssef
    )


def test_dunn_matches_brute_force(spark, events):
    """Pooled midranks recomputed directly (sort + tie groups), every
    pair's staged z^2 fixing and Bonferroni verdict re-derived in pure
    Python ints."""
    got = _rows(spark, "q_stats_dunn").set_index(["g_a", "g_b"])
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        DUNN_Z2_E6,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    vals = sorted(ev.cents)
    import bisect

    def r2(v):
        lt = bisect.bisect_left(vals, v)
        t_ = bisect.bisect_right(vals, v) - lt
        return 2 * lt + t_ + 1

    n = len(vals)
    from collections import Counter

    ties3 = sum(t_**3 - t_ for t_ in Counter(vals).values())
    groups = {}
    for g, grp in ev.groupby("event_type"):
        xs = [int(v) for v in grp.cents]
        groups[g] = (len(xs), sum(r2(v) for v in xs))
    keys = sorted(groups)
    for ai, ga in enumerate(keys):
        for gb in keys[ai + 1:]:
            (na, s2a), (nb, s2b) = groups[ga], groups[gb]
            dnum = s2a * nb - s2b * na
            sgn = -1 if dnum < 0 else 1
            row = got.loc[(ga, gb)]
            assert (int(row.n_a), int(row.n_b)) == (na, nb)
            assert int(row.rankmean_diff2_e3) == sgn * (
                abs(dnum) * 1000 // (na * nb)
            )
            staged = dnum * dnum // (na * nb)
            vterm = n * (n + 1) * (n - 1) - ties3
            assert int(row.z2_e6_floor) == (
                3 * (n - 1) * staged * 1_000_000 // ((na + nb) * vterm)
            )
            assert bool(row.significant) == (
                3 * (n - 1) * staged * 1_000_000
                > DUNN_Z2_E6 * (na + nb) * vterm
            )


def test_tukey_matches_brute_force(spark, events):
    got = _rows(spark, "q_stats_tukey").set_index(["g_a", "g_b"])
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        TUKEY_Q2_E4,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    grp = {}
    a_e6 = 0
    for g, gg in ev.groupby("event_type"):
        xs = [int(v) for v in gg.cents]
        n, s, q = len(xs), sum(xs), sum(v * v for v in xs)
        grp[g] = (n, s)
        a_e6 += 1_000_000 * (s * s // n) + round(1_000_000 * (s * s % n) / n)
    nn = sum(n for n, _ in grp.values())
    k = len(grp)
    qq = sum(
        sum(int(v) ** 2 for v in gg.cents)
        for _, gg in ev.groupby("event_type")
    )
    ssw_e6 = 1_000_000 * qq - a_e6
    keys = sorted(grp)
    for ai, ga in enumerate(keys):
        for gb in keys[ai + 1:]:
            (na, sa), (nb, sb) = grp[ga], grp[gb]
            dnum = sa * nb - sb * na
            sgn = -1 if dnum < 0 else 1
            row = got.loc[(ga, gb)]
            assert int(row.meandiff_e2) == sgn * (abs(dnum) * 100 // (na * nb))
            assert int(row.msw_e6) == ssw_e6 // (nn - k)
            assert bool(row.significant) == (
                (dnum * dnum // (na * nb)) * 2 * (nn - k) * 10**10
                > TUKEY_Q2_E4 * ssw_e6 * (na + nb)
            )


def test_games_howell_matches_brute_force(spark, events):
    """The full integer chain (census -> V -> U_e6 -> staged T ->
    Welch-df fixing -> significance cross) replayed in pure Python,
    plus a float sanity check that the pinned chain agrees with the
    textbook float Games-Howell statistic on every fixture pair."""
    got = _rows(spark, "q_stats_games_howell").set_index(["g_a", "g_b"])
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        GH_Q2_E4,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    grp = {}
    for g, gg in ev.groupby("event_type"):
        xs = [int(v) for v in gg.cents]
        n, s, q = len(xs), sum(xs), sum(v * v for v in xs)
        v = n * q - s * s
        assert v >= 0  # Cauchy-Schwarz
        grp[g] = (n, s, (v * 1_000_000) // (n * n * (n - 1)))
    keys = sorted(grp)
    for ai, ga in enumerate(keys):
        for gb in keys[ai + 1:]:
            (na, sa, ua), (nb, sb, ub) = grp[ga], grp[gb]
            row = got.loc[(ga, gb)]
            dnum = sa * nb - sb * na
            sgn = -1 if dnum < 0 else 1
            assert int(row.meandiff_e2) == sgn * (abs(dnum) * 100 // (na * nb))
            assert int(row.varsum_e6) == ua + ub
            denom = max(ua * ua * (nb - 1) + ub * ub * (na - 1), 1)
            want_df = ((ua + ub) ** 2 * 100 * (na - 1) * (nb - 1)) // denom
            assert int(row.df_welch_e2) == want_df
            staged = dnum * dnum // (na * nb)
            want = staged * 2 * 10**10 > GH_Q2_E4 * (ua + ub) * na * nb
            assert bool(row.significant) == want
            # float sanity: the integer decision == the textbook
            # (m_a-m_b)^2 > q^2 * (s_a^2/n_a + s_b^2/n_b) / 2 decision
            ma, mb = sa / na, sb / nb
            va = (na * sum(1 for _ in [0]) and ua / 1e6)  # U ~ s^2/n e6
            vb = ub / 1e6
            lhs = (ma - mb) ** 2
            rhs = (GH_Q2_E4 / 1e4) * (va + vb) / 2
            # only assert when the float margin is unambiguous (>1%)
            if abs(lhs - rhs) > 0.01 * max(lhs, rhs, 1e-9):
                assert want == (lhs > rhs)


def test_games_howell_flags_planted_gap(spark, tmp_path):
    """Decision-boundary twin on synthetic data: two tight groups a
    full SD apart MUST flag significant; two overlapping groups must
    not — exercises the True branch the organic fixture never hits."""
    import pandas as pd

    rng = random.Random(7)
    rows = []
    for g, mu in (("lo", 100.0), ("hi", 140.0), ("mid", 101.0)):
        for i in range(400):
            rows.append(
                {
                    "event_id": len(rows),
                    "event_type": g,
                    "value": mu + rng.gauss(0, 8.0),
                    "user_id": i,
                    "ts": "2024-01-01 00:00:00",
                    "amount": 0.0,
                }
            )
    pdf = pd.DataFrame(rows)
    evp = str(tmp_path / "events.parquet")
    duckdb.sql("SELECT * FROM pdf").write_parquet(evp)
    got = (
        registry.queries()["q_stats_games_howell"](spark, str(tmp_path))
        .toPandas()
        .set_index(["g_a", "g_b"])
    )
    assert bool(got.loc[("hi", "lo")].significant)
    assert bool(got.loc[("hi", "mid")].significant)
    assert not bool(got.loc[("lo", "mid")].significant)


def test_holt_winters_weights_match_float_recursion():
    """The symbolic 2^24 dyadic unrolling IS the Holt-Winters
    recursion: replay the float recursion on random series and
    compare every emitted statistic; pin the constant-series
    identities (level weights sum to 2^24, trend/seasonal to 0)."""
    from embarrassingly_parallel_image_classification_spark.operators.timeseries import (
        _HW_DEN,
        _HW_WB,
        _HW_WC,
        _HW_WS,
    )

    assert _HW_DEN == 1 << 24
    assert sum(_HW_WS) == _HW_DEN
    assert sum(_HW_WB) == 0
    for slot in range(4):
        assert sum(_HW_WC[slot]) == 0
    rng = random.Random(11)
    for _ in range(20):
        xs = [rng.uniform(-50, 150) for _ in range(16)]
        sl = sum(xs[:4]) / 4
        bl = 0.0
        cl = [x - sl for x in xs[:4]]
        for t in range(4, 16):
            cm = cl[t % 4]
            snew = 0.5 * (xs[t] - cm) + 0.5 * (sl + bl)
            bnew = 0.5 * (snew - sl) + 0.5 * bl
            cl[t % 4] = 0.5 * (xs[t] - snew) + 0.5 * cm
            sl, bl = snew, bnew
        got_s = sum(w * x for w, x in zip(_HW_WS, xs)) / _HW_DEN
        got_b = sum(w * x for w, x in zip(_HW_WB, xs)) / _HW_DEN
        assert abs(got_s - sl) < 1e-8
        assert abs(got_b - bl) < 1e-8
        for h in (1, 2, 3, 4):
            want = sl + h * bl + cl[(h - 1) % 4]
            wf = [
                _HW_WS[i] + h * _HW_WB[i] + _HW_WC[(h - 1) % 4][i]
                for i in range(16)
            ]
            got = sum(w * x for w, x in zip(wf, xs)) / _HW_DEN
            assert abs(got - want) < 1e-8


def test_holt_winters_query_vs_python_chain(spark, events):
    """End-to-end twin: the query's integer dot products recomputed in
    pure Python from the same last-16 selection."""
    got = _rows(spark, "q_timeseries_holt_winters").set_index("event_type")
    from embarrassingly_parallel_image_classification_spark.operators.timeseries import (
        _HW_WB,
        _HW_WC,
        _HW_WS,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for g, gg in ev.groupby("event_type"):
        last = gg.sort_values(
            ["ts", "event_id"], ascending=[False, False]
        ).head(16)
        if len(last) < 16:
            assert g not in got.index
            continue
        xs = [int(v) for v in last.cents][::-1]  # pos 1..16 order
        row = got.loc[g]
        assert int(row.level_x2e24) == sum(w * x for w, x in zip(_HW_WS, xs))
        assert int(row.trend_x2e24) == sum(w * x for w, x in zip(_HW_WB, xs))
        for h in (1, 2, 3, 4):
            wf = [
                _HW_WS[i] + h * _HW_WB[i] + _HW_WC[(h - 1) % 4][i]
                for i in range(16)
            ]
            assert int(row[f"f{h}_x2e24"]) == sum(
                w * x for w, x in zip(wf, xs)
            )


def test_tree_depth3_matches_brute_force(spark):
    """The depth-2 CART twin taken one level deeper: all four
    grandchild splits recomputed by exhaustive pure-Python scoring of
    the rows each grandchild actually receives."""
    got = _rows(spark, "q_train_tree_depth3").set_index("node")
    li = duckdb.sql(
        f"SELECT CAST(ROUND(l_quantity,0) AS BIGINT) qty,"
        f" CAST(ROUND(l_discount*100,0) AS BIGINT) disc,"
        f" CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END y"
        f" FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).df()
    rows = list(zip(li.qty.astype(int), li.disc.astype(int), li.y.astype(int)))

    def best_split(subset):
        cands = []
        for feat, idx in (("discount", 1), ("quantity", 0)):
            vals = sorted({r[idx] for r in subset})
            for t in vals:
                left = [r for r in subset if r[idx] <= t]
                right = [r for r in subset if r[idx] > t]
                if not left or not right:
                    continue
                lp = sum(r[2] for r in left)
                lneg = len(left) - lp
                rp = sum(r[2] for r in right)
                rneg = len(right) - rp
                g = round(
                    2.0
                    * (lp * lneg / len(left) + rp * rneg / len(right))
                    / len(subset)
                    * 1_000_000
                )
                cands.append((g, feat, t, len(left), len(right)))
        return min(cands) if cands else None

    def check(node, subset):
        want = best_split(subset)
        if want is None:
            assert node not in got.index
            return None
        g, feat, thr, nl, nr = want
        r = got.loc[node]
        assert (
            r.feature, int(r.threshold), int(r.n_left), int(r.n_right),
            int(r.gini_e6),
        ) == (feat, thr, nl, nr, g)
        idx = 0 if feat == "quantity" else 1
        return (
            [x for x in subset if x[idx] <= thr],
            [x for x in subset if x[idx] > thr],
        )

    kids = check("root", rows)
    assert kids is not None
    for node, subset in zip(("L", "R"), kids):
        gkids = check(node, subset)
        if gkids is None:
            continue
        for suffix, gsub in zip(("L", "R"), gkids):
            check(node + suffix, gsub)


def test_mann_kendall_matches_brute_force(spark, events):
    """S, tie-corrected variance and the continuity-corrected verdict
    recomputed by the O(n^2) textbook loop over each daily series."""
    got = _rows(spark, "q_stats_mann_kendall").set_index("event_type")
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CHI2_DF1_E6,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["day"] = ev["ts"].astype("datetime64[s]").dt.date
    for g, gg in ev.groupby("event_type"):
        series = (
            gg.groupby("day")["cents"].sum().sort_index().astype(int).tolist()
        )
        n = len(series)
        s = sum(
            (series[j] > series[i]) - (series[j] < series[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        tie_term = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(series).values()
            if t > 1
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie_term
        corr = max(abs(s) - 1, 0)
        sig = corr * corr * 18_000_000 > CHI2_DF1_E6 * var18
        row = got.loc[g]
        assert int(row.n_days) == n
        assert int(row.s_stat) == s
        assert int(row.var18) == var18
        assert bool(row.significant) == sig
        want_trend = (
            ("increasing" if s > 0 else "decreasing") if sig else "no_trend"
        )
        assert row.trend == want_trend


def test_jarque_bera_matches_brute_force(spark, events):
    """The pinned integer-center moment chain replayed in pure Python,
    plus a float JB sanity check wherever the margin is unambiguous."""
    got = _rows(spark, "q_stats_jarque_bera").set_index("event_type")
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        JB24_E3,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for g, gg in ev.groupby("event_type"):
        xs = [int(v) for v in gg.cents]
        n, s = len(xs), sum(xs)
        c = s // n
        ys = [v - c for v in xs]
        t2, t3, t4 = (sum(y ** k for y in ys) for k in (2, 3, 4))
        m2 = t2 // n
        m3 = (-1 if t3 < 0 else 1) * (abs(t3) // n)
        m4 = t4 // n
        s1 = (4 * m3 * m3 * m2 + (m4 - 3 * m2 * m2) ** 2) // (m2 * m2)
        jb24_e2 = (n * s1 * 100) // (m2 * m2)
        row = got.loc[g]
        assert int(row.n) == n
        assert int(row.m2) == m2
        assert int(row.m3) == m3
        assert int(row.m4) == m4
        assert int(row.jb24_e2) == jb24_e2
        assert bool(row.normality_rejected) == (jb24_e2 * 1000 > JB24_E3)
        # float sanity on the statistic itself
        mu2, mu3, mu4 = t2 / n, t3 / n, t4 / n
        jb = n * (
            (mu3 ** 2 / mu2 ** 3) / 6 + (mu4 / mu2 ** 2 - 3) ** 2 / 24
        )
        if abs(jb - 5.991465) > 0.05 * max(jb, 5.991465):
            assert bool(row.normality_rejected) == (jb > 5.991465)


def test_cramer_von_mises_matches_brute_force(spark):
    """t_num recomputed by the direct O(N) loop over pooled sorted
    cent values; verdict replayed exactly."""
    got = _rows(spark, "q_stats_cramer_von_mises").iloc[0]
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CVM_CRIT_E3,
    )

    rows = duckdb.sql(
        f"SELECT o_orderstatus st, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
        f" WHERE o_orderstatus IN ('F','O')"
    ).fetchall()
    from collections import Counter

    ca = Counter(v for st, v in rows if st == "F")
    cb = Counter(v for st, v in rows if st == "O")
    n, m = sum(ca.values()), sum(cb.values())
    fa = fb = 0
    t_num = 0
    for v in sorted(set(ca) | set(cb)):
        fa += ca.get(v, 0)
        fb += cb.get(v, 0)
        d = fa * m - fb * n
        t_num += (ca.get(v, 0) + cb.get(v, 0)) * d * d
    assert int(got.n_f) == n and int(got.n_o) == m
    assert int(got.t_num) == t_num
    den = n * m * (n + m) ** 2
    assert int(got.t_e3) == (t_num * 1000) // den
    assert bool(got.significant) == (t_num * 1000 > CVM_CRIT_E3 * den)


def test_mood_median_matches_brute_force(spark, events):
    """Pooled lower median, 5x2 contingency and the per-cell e6 chi2
    fixings recomputed in pure Python."""
    got = _rows(spark, "q_stats_mood_median").iloc[0]
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CHI2_DF4_E6,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    xs = sorted(int(v) for v in ev.cents)
    n = len(xs)
    med = xs[(n + 1) // 2 - 1]
    assert int(got.pooled_median_cents) == med
    cells = {}
    for g, gg in ev.groupby("event_type"):
        a = int((gg.cents > med).sum())
        cells[g] = (a, len(gg) - a)
    col_a = sum(a for a, _ in cells.values())
    col_b = sum(b for _, b in cells.values())
    assert int(got.n) == n
    assert int(got.n_above) == col_a
    chi2_e6 = 0
    for g, (a, b) in cells.items():
        row = a + b
        for o, col in ((a, col_a), (b, col_b)):
            chi2_e6 += round(
                (o * n - row * col) ** 2 / (n * row * col) * 1_000_000
            )
    assert int(got.chi2_e6) == chi2_e6
    assert bool(got.significant) == (chi2_e6 > CHI2_DF4_E6)


def test_ansari_bradley_matches_brute_force(spark):
    """The pinned chain (closed-form block score sums, e3 fixings,
    staged z^2) replayed in pure Python, plus a float sanity check of
    the z^2 against the direct average-tie-score computation."""
    got = _rows(spark, "q_stats_ansari_bradley").iloc[0]
    rows = duckdb.sql(
        f"SELECT o_orderstatus st, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
        f" WHERE o_orderstatus IN ('F','O')"
    ).fetchall()
    from collections import Counter

    ca = Counter(v for st, v in rows if st == "F")
    call = Counter(v for _, v in rows)
    N = sum(call.values())
    n = sum(ca.values())
    m = N - n

    def T(x):
        h = (N + 1) // 2
        if x <= h:
            return x * (x + 1) // 2
        return h * (h + 1) // 2 + (2 * N + 1 - h - x) * (x - h) // 2

    def fix(num, t):
        return 1000 * (num // t) + round(1000 * (num % t) / t)

    cum = 0
    s1 = ab_e3 = s2_e3 = 0
    ab_float = 0.0
    s2_float = 0.0
    for v in sorted(call):
        t_ = call[v]
        bsum = T(cum + t_) - T(cum)
        s1 += bsum
        ab_e3 += fix(ca.get(v, 0) * bsum, t_)
        s2_e3 += fix(bsum * bsum, t_)
        ab_float += ca.get(v, 0) * bsum / t_
        s2_float += bsum * bsum / t_
        cum += t_
    dstage = abs(ab_e3 * N - n * s1 * 1000) // 1000
    vnum_e3 = max(N * s2_e3 - s1 * s1 * 1000, 0)
    r1 = max(n * m * (vnum_e3 // 1_000_000), 1)
    z2_e3 = (dstage * dstage * (N - 1)) // r1
    assert int(got.n_f) == n and int(got.n_o) == m
    assert int(got.score_total) == s1
    assert int(got.ab_f_e3) == ab_e3
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (z2_e3 > 3841)
    # float sanity: Hollander-Wolfe conditional z^2 on average scores
    e = n * s1 / N
    var = n * m * (N * s2_float - s1 * s1) / (N * N * (N - 1))
    z2 = (ab_float - e) ** 2 / var
    assert abs(z2 - z2_e3 / 1000) < max(0.01 * z2, 0.01)


def test_ansari_bradley_sf01_no_quotient_wrap(spark):
    """Regression guard for the round-12 div-quotient wrap: the r1
    staging fit int64 by only 2x at sf0.01 (the oracle gate's scale)
    and silently wrapped at sf0.1 — Spark `div` returns BIGINT and
    WRAPS oversized quotients without error in non-ANSI mode. Pin the
    full chain at sf0.1 where the old spelling produced z2_e3 ~ 2.3e9
    instead of 2815."""
    import os

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "orders.parquet")):
        import pytest

        pytest.skip("sf0.1 fixture not present")
    got = _rows(spark, "q_stats_ansari_bradley", sf_dir=sf01).iloc[0]
    rows = duckdb.sql(
        f"SELECT o_orderstatus st, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{sf01}/orders.parquet')"
        f" WHERE o_orderstatus IN ('F','O')"
    ).fetchall()
    from collections import Counter

    ca = Counter(v for st, v in rows if st == "F")
    call = Counter(v for _, v in rows)
    N = sum(call.values())
    n = sum(ca.values())
    m = N - n

    def T(x):
        h = (N + 1) // 2
        if x <= h:
            return x * (x + 1) // 2
        return h * (h + 1) // 2 + (2 * N + 1 - h - x) * (x - h) // 2

    def fix(num, t):
        return 1000 * (num // t) + round(1000 * (num % t) / t)

    cum = 0
    s1 = ab_e3 = s2_e3 = 0
    for v in sorted(call):
        t_ = call[v]
        bs = T(cum + t_) - T(cum)
        s1 += bs
        ab_e3 += fix(ca.get(v, 0) * bs, t_)
        s2_e3 += fix(bs * bs, t_)
        cum += t_
    dstage = abs(ab_e3 * N - n * s1 * 1000) // 1000
    vnum_e3 = max(N * s2_e3 - s1 * s1 * 1000, 0)
    r1 = max(n * m * (vnum_e3 // 1_000_000), 1)
    z2_e3 = (dstage * dstage * (N - 1)) // r1
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (z2_e3 > 3841)


def test_lepage_matches_brute_force(spark):
    """Both components replayed in pure Python off the same pooled
    census (Wilcoxon midranks via 2R1 = sum ca*(2*c_lt + t + 1), AB
    via the closed-form T(x) block scores + e3 fixings), then a float
    sanity check of D against the direct standardized sum."""
    got = _rows(spark, "q_stats_lepage").iloc[0]
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        LEPAGE_D_E3,
    )

    rows = duckdb.sql(
        f"SELECT o_orderstatus st, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
        f" WHERE o_orderstatus IN ('F','O')"
    ).fetchall()
    from collections import Counter

    ca = Counter(v for st, v in rows if st == "F")
    call = Counter(v for _, v in rows)
    N = sum(call.values())
    n = sum(ca.values())
    m = N - n

    def T(x):
        h = (N + 1) // 2
        if x <= h:
            return x * (x + 1) // 2
        return h * (h + 1) // 2 + (2 * N + 1 - h - x) * (x - h) // 2

    def fix(num, t):
        return 1000 * (num // t) + round(1000 * (num % t) / t)

    cum = 0
    s1 = ab_e3 = s2_e3 = r1x2 = tie3 = 0
    for v in sorted(call):
        t_ = call[v]
        bs = T(cum + t_) - T(cum)
        s1 += bs
        ab_e3 += fix(ca.get(v, 0) * bs, t_)
        s2_e3 += fix(bs * bs, t_)
        r1x2 += ca.get(v, 0) * (2 * cum + t_ + 1)
        tie3 += t_ ** 3 - t_
        cum += t_
    # Wilcoxon component: pure integer cross-multiplication
    wdiff = r1x2 - n * (N + 1)
    kk = N * (N * N - 1) - tie3
    wden = max(n * m * kk, 1)
    zw2_e3 = (wdiff * wdiff * 3 * N * (N - 1) * 1000) // wden
    # AB component: the q_stats_ansari_bradley chain verbatim
    dstage = abs(ab_e3 * N - n * s1 * 1000) // 1000
    vnum_e3 = max(N * s2_e3 - s1 * s1 * 1000, 0)
    r1 = max(n * m * (vnum_e3 // 1_000_000), 1)
    zab2_e3 = (dstage * dstage * (N - 1)) // r1
    assert int(got.n_f) == n and int(got.n_o) == m
    assert int(got.w_r1_x2) == r1x2
    assert int(got.zw2_e3) == zw2_e3
    assert int(got.zab2_e3) == zab2_e3
    assert int(got.d_e3) == zw2_e3 + zab2_e3
    assert bool(got.significant) == (zw2_e3 + zab2_e3 > LEPAGE_D_E3)
    # float sanity: D from the direct standardized components
    ew = n * (N + 1)
    varw = n * m * kk / (3 * N * (N - 1))
    zw2 = (r1x2 - ew) ** 2 / varw
    assert abs(zw2 - zw2_e3 / 1000) < max(0.01 * zw2, 0.01)


def test_cochran_armitage_matches_brute_force(spark):
    """Pure-integer trend chain replayed from the raw (dose, outcome)
    rows, plus a float sanity check of z^2 against the textbook
    U/sqrt(var) form."""
    got = _rows(spark, "q_stats_cochran_armitage").iloc[0]
    rows = duckdb.sql(
        f"SELECT CAST(SUBSTRING(o_orderpriority,1,1) AS BIGINT) w,"
        f" CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END s"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchall()
    from collections import defaultdict

    ni = defaultdict(int)
    ri = defaultdict(int)
    for w, s in rows:
        ni[w] += 1
        ri[w] += s
    N = sum(ni.values())
    R = sum(ri.values())
    swr = sum(w * r for w, r in ri.items())
    swn = sum(w * n for w, n in ni.items())
    sw2n = sum(w * w * n for w, n in ni.items())
    tnum = N * swr - R * swn
    den = max(R * (N - R) * (N * sw2n - swn * swn), 1)
    z2_e3 = (tnum * tnum * N * 1000) // den
    assert int(got.n) == N and int(got.n_success) == R
    assert int(got.n_groups) == len(ni)
    assert int(got.trend_num) == tnum
    assert int(got.trend_sign) == (1 if tnum > 0 else -1 if tnum < 0 else 0)
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (z2_e3 > 3841)
    # float sanity: z^2 via the textbook form
    pbar = R / N
    u = swr - pbar * swn
    var = pbar * (1 - pbar) * (sw2n - swn * swn / N)
    if var > 0:
        z2 = u * u / var
        assert abs(z2 - z2_e3 / 1000) < max(0.01 * z2, 0.01)


def test_cmh_matches_brute_force(spark):
    """Per-stratum e6 fixings and the staged z^2 replayed in pure
    Python, plus a float sanity check against the textbook CMH form
    (no continuity correction — the stated convention)."""
    got = _rows(spark, "q_stats_cmh").iloc[0]
    rows = duckdb.sql(
        f"SELECT CAST(SUBSTRING(o_orderpriority,1,1) AS BIGINT) k,"
        f" CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END e,"
        f" CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END s"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchall()
    from collections import defaultdict

    st = defaultdict(lambda: [0, 0, 0, 0])  # nk, r1, c1, a
    for k, e, s_ in rows:
        v = st[k]
        v[0] += 1
        v[1] += e
        v[2] += s_
        v[3] += e * s_

    def fix(num, den):
        return 1_000_000 * (num // den) + round(
            1_000_000 * (num % den) / den
        )

    num_e6 = var_e6 = 0
    N = A = n_strata = 0
    num_f = var_f = 0.0
    for nk, r1, c1, a in st.values():
        if nk < 2:
            continue
        n_strata += 1
        N += nk
        A += a
        num_e6 += 1_000_000 * a - fix(r1 * c1, nk)
        var_e6 += fix(
            r1 * (nk - r1) * c1 * (nk - c1), nk * nk * (nk - 1)
        )
        num_f += a - r1 * c1 / nk
        var_f += r1 * (nk - r1) * c1 * (nk - c1) / (nk * nk * (nk - 1))
    var_e6 = max(var_e6, 1)
    z2_e3 = (num_e6 * num_e6 * 1000) // (1_000_000 * var_e6)
    assert int(got.n) == N and int(got.n_strata) == n_strata
    assert int(got.a_total) == A
    assert int(got.num_e6) == num_e6
    assert int(got.var_e6) == var_e6
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (z2_e3 > 3841)
    if var_f > 0:
        z2 = num_f * num_f / var_f
        assert abs(z2 - z2_e3 / 1000) < max(0.01 * z2, 0.01)


def test_page_trend_matches_brute_force(spark, events):
    """Complete blocks, doubled midranks and L2 = sum j*R2_j replayed
    in pure Python with the alphabetical score convention; the classic
    no-ties moments replayed on the verdict."""
    got = _rows(spark, "q_stats_page_trend").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    k = 5
    cell = (
        ev.groupby(["d", "event_type"])["cents"].sum().reset_index()
    )
    r2_sum = {}
    b = 0
    for d, grp in cell.groupby("d"):
        if len(grp) != k:
            continue
        b += 1
        vals = sorted(grp["cents"])
        for _, row in grp.iterrows():
            v = row["cents"]
            c_lt = sum(1 for x in vals if x < v)
            tcnt = sum(1 for x in vals if x == v)
            r2 = 2 * c_lt + tcnt + 1
            g = row["event_type"]
            r2_sum[g] = r2_sum.get(g, 0) + r2
    l2 = sum(
        (j + 1) * r2_sum[g] for j, g in enumerate(sorted(r2_sum))
    )
    diff = l2 - b * (k * (k + 1) ** 2 // 2)
    vden = k * k * (k + 1) ** 2 * (k - 1)
    z2_e3 = (diff * diff * 36000) // (b * vden) if b else 0
    assert int(got.n_blocks) == b
    assert int(got.l_x2) == l2
    assert int(got.diff_x2) == diff
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (b > 0 and z2_e3 > 3841)


def test_seasonal_mk_matches_brute_force(spark, events):
    """Per-season S_h and tie-corrected variance numerators replayed
    in pure Python with the arithmetic epoch-day-mod-7 season, pooled
    totals and the continuity-corrected verdict replayed exactly."""
    got = _rows(spark, "q_stats_seasonal_mk").set_index("event_type")
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        CHI2_DF1_E6,
    )
    import datetime

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    daily = (
        ev.groupby(["event_type", "d"])["cents"].sum().reset_index()
    )
    epoch = datetime.date(1970, 1, 1)
    daily["season"] = daily["d"].map(lambda d: (d - epoch).days % 7)
    for g, grp in daily.groupby("event_type"):
        s_total = var18_total = n_days = 0
        n_seasons = 0
        for _, sg in grp.groupby("season"):
            vals = list(
                sg.sort_values("d")["cents"]
            )
            n = len(vals)
            n_seasons += 1
            n_days += n
            s_h = sum(
                (1 if vals[j] > vals[i] else -1 if vals[j] < vals[i] else 0)
                for i in range(n)
                for j in range(i + 1, n)
            )
            from collections import Counter

            tie = sum(
                t * (t - 1) * (2 * t + 5)
                for t in Counter(vals).values()
                if t > 1
            )
            s_total += s_h
            var18_total += n * (n - 1) * (2 * n + 5) - tie
        assert int(got.loc[g, "n_days"]) == n_days
        assert int(got.loc[g, "n_seasons"]) == n_seasons
        assert int(got.loc[g, "s_total"]) == s_total
        assert int(got.loc[g, "var18_total"]) == var18_total
        sig = (
            max(abs(s_total) - 1, 0) ** 2 * 18_000_000
            > CHI2_DF1_E6 * var18_total
        )
        assert bool(got.loc[g, "significant"]) == sig
        want_trend = (
            ("increasing" if s_total > 0 else "decreasing")
            if sig
            else "no_trend"
        )
        assert got.loc[g, "trend"] == want_trend


def test_croston_matches_brute_force(spark, events):
    """The variable-length dyadic SES unroll replayed in pure Python
    (sizes + gaps, denominators cancelling in the ratio), the SBA 3/4
    correction, and the float-SES sanity; also asserts the fixture
    genuinely exercises intermittency (some inter-demand gap > 1)."""
    got = _rows(spark, "q_timeseries_croston").set_index("event_type")
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    ev["hit"] = (ev["cents"] % 20 == 0).astype(int)
    daily = ev.groupby(["event_type", "d"])["hit"].sum().reset_index()
    saw_gap = False
    for g, grp in daily[daily.hit > 0].groupby("event_type"):
        days = sorted(grp["d"])
        zs = dict(zip(grp["d"], grp["hit"]))
        pts = []  # oldest-first (z, gap)
        for i in range(1, len(days)):
            pts.append(
                (int(zs[days[i]]), (days[i] - days[i - 1]).days)
            )
        pts = pts[-12:]
        n = len(pts)
        if n < 2:
            assert g not in got.index
            continue
        if any(gap > 1 for _, gap in pts):
            saw_gap = True
        z_num = p_num = 0
        for p, (z, gap) in enumerate(pts, start=1):
            w = 1 if p == 1 else 1 << (p - 2)
            z_num += z * w
            p_num += gap * w
        assert int(got.loc[g, "n_demands"]) == n
        assert int(got.loc[g, "z_num"]) == z_num
        assert int(got.loc[g, "p_num"]) == p_num
        assert int(got.loc[g, "rate_e6"]) == (z_num * 1_000_000) // p_num
        assert int(got.loc[g, "sba_rate_e6"]) == (z_num * 750_000) // p_num
        # float sanity: run the actual SES recursions
        sz = sp = None
        for z, gap in pts:
            sz = z if sz is None else (sz + z) / 2
            sp = gap if sp is None else (sp + gap) / 2
        den = 1 << (n - 1)
        assert abs(sz - z_num / den) < 1e-9
        assert abs(sp - p_num / den) < 1e-9
    assert saw_gap  # the intermittency the docstring claims is real


def test_prop_ztest_matches_brute_force(spark):
    """The multiplied-through (5x-n)^2/(4n) chain replayed, plus the
    textbook float z^2 sanity."""
    got = _rows(spark, "q_stats_prop_ztest").iloc[0]
    n, x = duckdb.sql(
        f"SELECT COUNT(*), COUNT(*) FILTER (WHERE o_orderpriority ="
        f" '1-URGENT') FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchone()
    dev = 5 * x - n
    z2_e3 = (dev * dev * 1000) // (4 * n)
    assert int(got.n) == n and int(got.n_urgent) == x
    assert int(got.p_hat_e6) == (x * 1_000_000) // n
    assert int(got.dev_x5) == dev
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (z2_e3 > 3841)
    p0 = 0.2
    z2 = (x - n * p0) ** 2 / (n * p0 * (1 - p0))
    assert abs(z2 - z2_e3 / 1000) < max(0.01 * z2, 0.01)


def test_mh_odds_matches_brute_force(spark):
    """Per-stratum cross-product e6 fixings and the pooled ratio
    replayed in Python, plus float sanity vs the textbook OR_MH."""
    got = _rows(spark, "q_stats_mh_odds").iloc[0]
    rows = duckdb.sql(
        f"SELECT CAST(SUBSTRING(o_orderpriority,1,1) AS BIGINT) k,"
        f" CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END e,"
        f" CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END s"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchall()
    from collections import defaultdict

    st = defaultdict(lambda: [0, 0, 0, 0])
    for k, e, s_ in rows:
        v = st[k]
        v[0] += 1
        v[1] += e
        v[2] += s_
        v[3] += e * s_

    def fix(num, den):
        return 1_000_000 * (num // den) + round(
            1_000_000 * (num % den) / den
        )

    num_e6 = den_e6 = 0
    n_strata = 0
    num_f = den_f = 0.0
    for nk, r1, c1, a in st.values():
        if nk < 2:
            continue
        n_strata += 1
        b, c, d = r1 - a, c1 - a, nk - r1 - c1 + a
        num_e6 += fix(a * d, nk)
        den_e6 += fix(b * c, nk)
        num_f += a * d / nk
        den_f += b * c / nk
    den_e6 = max(den_e6, 1)
    assert int(got.n_strata) == n_strata
    assert int(got.num_e6) == num_e6
    assert int(got.den_e6) == den_e6
    assert int(got.or_mh_e6) == (num_e6 * 1_000_000) // den_e6
    assert bool(got.exposure_raises_odds) == (num_e6 > den_e6)
    if den_f > 0:
        or_mh = num_f / den_f
        assert abs(or_mh - int(got.or_mh_e6) / 1e6) < max(
            0.001 * or_mh, 0.001
        )


def test_perceptron_matches_brute_force(spark):
    """The census + 3 full-batch integer epochs replayed in pure
    Python from the raw rows (not the census — independent path),
    final weights, misclassification audit and accuracy replayed
    exactly."""
    got = _rows(spark, "q_train_perceptron").iloc[0]
    rows = duckdb.sql(
        f"SELECT CAST(SUBSTRING(o_orderpriority,1,1) AS BIGINT) x1,"
        f" CAST(ROUND(o_totalprice*100,0) AS BIGINT) // 1000000 x2,"
        f" CASE WHEN o_orderstatus='F' THEN 1 ELSE -1 END y"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchall()
    wb = w1 = w2 = 0
    for _ in range(3):
        db = d1 = d2 = 0
        for x1, x2, y in rows:
            if y * (wb + w1 * x1 + w2 * x2) <= 0:
                db += y
                d1 += y * x1
                d2 += y * x2
        wb, w1, w2 = wb + db, w1 + d1, w2 + d2
    mis = sum(
        1 for x1, x2, y in rows if y * (wb + w1 * x1 + w2 * x2) <= 0
    )
    n = len(rows)
    assert int(got.wb) == wb
    assert int(got.w1) == w1
    assert int(got.w2) == w2
    assert int(got.n_train) == n
    assert int(got.n_misclassified) == mis
    assert int(got.accuracy_e6) == (n - mis) * 1_000_000 // n


def test_kendall_w_matches_brute_force(spark, events):
    """W replayed off the Friedman integers in pure Python; the
    bucket thresholds replayed as cross-multiplications."""
    got = _rows(spark, "q_stats_kendall_w").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    k = 5
    cell = ev.groupby(["d", "event_type"])["cents"].sum().reset_index()
    r2_sum = {}
    a2 = 0
    b = 0
    for d, grp in cell.groupby("d"):
        if len(grp) != k:
            continue
        b += 1
        vals = sorted(grp["cents"])
        for _, row in grp.iterrows():
            v = row["cents"]
            c_lt = sum(1 for x in vals if x < v)
            tcnt = sum(1 for x in vals if x == v)
            r2 = 2 * c_lt + tcnt + 1
            a2 += r2 * r2
            g = row["event_type"]
            r2_sum[g] = r2_sum.get(g, 0) + r2
    devsq = sum((r - b * (k + 1)) ** 2 for r in r2_sum.values())
    q_num = (k - 1) * devsq
    q_den = a2 - b * k * (k + 1) ** 2
    assert int(got.n_blocks) == b
    assert int(got.q_num) == q_num
    assert int(got.q_den) == q_den
    wden = q_den * b * (k - 1)
    w_e6 = (q_num * 1_000_000) // wden if q_den > 0 else 0
    assert int(got.w_e6) == w_e6
    want = (
        "degenerate"
        if q_den <= 0
        else "strong"
        if q_num * 10 > wden * 7
        else "moderate"
        if q_num * 10 > wden * 3
        else "weak"
    )
    assert got.agreement == want
    if q_den > 0:
        # float sanity: W = Q / (b(k-1))
        qf = q_num / q_den
        assert abs(qf / (b * (k - 1)) - w_e6 / 1e6) < 1e-3


def test_cohen_kappa_matches_brute_force(spark):
    """Confusion census, diagonal chance mass and the sign-split
    kappa floor replayed in Python, plus textbook float sanity."""
    got = _rows(spark, "q_stats_cohen_kappa").iloc[0]
    rows = duckdb.sql(
        f"""SELECT CASE WHEN CAST(ROUND(o_totalprice*100,0) AS BIGINT)
                        < 10000000 THEN 0
                   WHEN CAST(ROUND(o_totalprice*100,0) AS BIGINT)
                        < 30000000 THEN 1 ELSE 2 END ra,
              CASE WHEN SUBSTRING(o_orderpriority,1,1) IN ('1','2') THEN 2
                   WHEN SUBSTRING(o_orderpriority,1,1)='3' THEN 1
                   ELSE 0 END rb
           FROM read_parquet('{SF_SMOKE}/orders.parquet')"""
    ).fetchall()
    from collections import Counter

    n = len(rows)
    agree = sum(1 for a, b in rows if a == b)
    ra_t = Counter(a for a, _ in rows)
    rb_t = Counter(b for _, b in rows)
    pe_x = sum(ra_t[c] * rb_t.get(c, 0) for c in ra_t)
    knum = n * agree - pe_x
    kden = max(n * n - pe_x, 1)
    kappa_e6 = (-1 if knum < 0 else 1) * ((abs(knum) * 1_000_000) // kden)
    assert int(got.n) == n
    assert int(got.n_agree) == agree
    assert int(got.chance_x_n2) == pe_x
    assert int(got.kappa_e6) == kappa_e6
    assert bool(got.beyond_chance) == (knum > 0)
    po, pe = agree / n, pe_x / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert abs(kappa - kappa_e6 / 1e6) < 1e-3


def test_cronbach_alpha_matches_brute_force(spark, events):
    """Multiplied-through item/total variances and the sign-split
    alpha floor replayed in Python, plus textbook float sanity."""
    got = _rows(spark, "q_stats_cronbach_alpha").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    k = 5
    cell = ev.groupby(["d", "event_type"])["cents"].sum().reset_index()
    counts = cell.groupby("d").size()
    days = sorted(counts[counts == k].index)
    n = len(days)
    sub = cell[cell["d"].isin(days)]
    sum_vi = 0
    for _, grp in sub.groupby("event_type"):
        xs = [int(v) for v in grp["cents"]]
        sum_vi += n * sum(x * x for x in xs) - sum(xs) ** 2
    ts = [int(v) for v in sub.groupby("d")["cents"].sum()]
    v_tot = n * sum(x * x for x in ts) - sum(ts) ** 2
    anum = v_tot - sum_vi
    aden = max((k - 1) * v_tot, 1)
    alpha_e6 = (-1 if anum < 0 else 1) * (
        (k * abs(anum) * 1_000_000) // aden
    )
    assert int(got.n_cases) == n
    assert int(got.sum_item_var_x) == sum_vi
    assert int(got.total_var_x) == v_tot
    assert int(got.alpha_e6) == alpha_e6
    assert bool(got.reliable) == (k * anum * 10 > (k - 1) * v_tot * 7)
    if v_tot > 0:
        alpha = k / (k - 1) * (1 - sum_vi / v_tot)
        assert abs(alpha - alpha_e6 / 1e6) < 1e-3


def test_brunner_munzel_matches_brute_force(spark):
    """The placement identities (p2 from opposite-group mass, the
    N*U cancellation) replayed in pure Python from raw values, plus
    a float replay of the textbook BM statistic on actual midranks
    and placements."""
    got = _rows(spark, "q_stats_brunner_munzel").iloc[0]
    rows = duckdb.sql(
        f"SELECT o_orderstatus st, CAST(ROUND(o_totalprice*100,0) AS BIGINT) v"
        f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
        f" WHERE o_orderstatus IN ('F','O')"
    ).fetchall()
    from collections import Counter

    ca = Counter(v for st, v in rows if st == "F")
    call = Counter(v for _, v in rows)
    n1 = sum(ca.values())
    N = sum(call.values())
    n2 = N - n1
    cum = cumf = cumo = 0
    sr2o = spf = spo = spf2 = spo2 = 0
    for v in sorted(call):
        t_ = call[v]
        a = ca.get(v, 0)
        b = t_ - a
        r2 = 2 * cum + t_ + 1
        p2f = 2 * cumo + b
        p2o = 2 * cumf + a
        sr2o += b * r2
        spf += a * p2f
        spo += b * p2o
        spf2 += a * p2f * p2f
        spo2 += b * p2o * p2o
        cum += t_
        cumf += a
        cumo += b
    u = sr2o - n2 * (N + 1)
    vx1 = n1 * spf2 - spf * spf
    vx2 = n2 * spo2 - spo * spo
    vx = max(vx1 * (n2 - 1) + vx2 * (n1 - 1), 1)
    z2_e3 = (u * u * (n1 - 1) * (n2 - 1) * 1000) // vx
    phat_e6 = ((sr2o - n2 * (n2 + 1)) * 1_000_000) // (2 * n1 * n2)
    assert int(got.n_f) == n1 and int(got.n_o) == n2
    assert int(got.u_x2) == u
    assert int(got.phat_e6) == phat_e6
    assert int(got.z2_e3) == z2_e3
    assert bool(got.significant) == (z2_e3 > 3841)
    # float replay of the textbook statistic (lawstat spelling):
    # v_k = placement sample variance = Vx_k / (4 n_k (n_k-1)),
    # BM = n1 n2 (m2 - m1) / (N sqrt(n1 v1 + n2 v2))
    v1 = vx1 / (4 * n1 * (n1 - 1))
    v2 = vx2 / (4 * n2 * (n2 - 1))
    m1 = (N * (N + 1) - sr2o) / (2 * n1)  # mean pooled rank group F
    m2 = sr2o / (2 * n2)
    bm = n1 * n2 * (m2 - m1) / (N * (n1 * v1 + n2 * v2) ** 0.5)
    assert abs(bm * bm - z2_e3 / 1000) < max(0.01 * bm * bm, 0.01)


def test_eta_squared_matches_brute_force(spark, events):
    """The ANOVA e6-fixing chain replayed, both effect-size floors
    replayed on the fixed quantities, plus textbook float sanity."""
    got = _rows(spark, "q_stats_eta_squared").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")

    def fix(num, den):
        return 1_000_000 * (num // den) + round(
            1_000_000 * (num % den) / den
        )

    a_e6 = 0
    nn = ss = qq = 0
    k = 0
    for _, grp in ev.groupby("event_type"):
        xs = [int(v) for v in grp["cents"]]
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        k += 1
        nn += n
        ss += s
        qq += q
        a_e6 += fix(s * s, n)
    ssb_e6 = a_e6 - fix(ss * ss, nn)
    ssw_e6 = 1_000_000 * qq - a_e6
    eta = (ssb_e6 * 1_000_000) // max(ssb_e6 + ssw_e6, 1)
    onum = ssb_e6 * (nn - k) - (k - 1) * ssw_e6
    oden = max((ssb_e6 + ssw_e6) * (nn - k) + ssw_e6, 1)
    omega = (-1 if onum < 0 else 1) * ((abs(onum) * 1_000_000) // oden)
    assert int(got.n) == nn and int(got.k) == k
    assert int(got.eta2_e6) == eta
    assert int(got.omega2_e6) == omega
    assert bool(got.meaningful) == (eta > 10000)
    # float sanity
    gm = ss / nn
    sst = qq - nn * gm * gm
    ssb = sum(
        len(g) * (sum(map(int, g["cents"])) / len(g) - gm) ** 2
        for _, g in ev.groupby("event_type")
    )
    if sst > 0:
        assert abs(ssb / sst - eta / 1e6) < 1e-3


def test_partial_corr_matches_brute_force(spark, events):
    """The nine-sum C matrix, the a_e9 staging and both signed floors
    replayed; float sanity vs the textbook partial-correlation
    identity on the raw series."""
    got = _rows(spark, "q_stats_partial_corr").iloc[0]
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    daily = (
        ev.groupby("d")
        .agg(x=("cents", "sum"), y=("cents", "size"))
        .reset_index()
        .sort_values("d")
    )
    xs = [int(v) for v in daily["x"]]
    ys = [int(v) for v in daily["y"]]
    zs = list(range(1, len(xs) + 1))
    n = len(xs)

    def C(a, b):
        return n * sum(p * q for p, q in zip(a, b)) - sum(a) * sum(b)

    cxx, cyy, czz = C(xs, xs), C(ys, ys), C(zs, zs)
    cxy, cxz, cyz = C(xs, ys), C(xs, zs), C(ys, zs)
    np_ = cxy * czz - cxz * cyz
    d1 = max(cxx * czz - cxz * cxz, 1)
    d2 = max(cyy * czz - cyz * cyz, 1)
    a_e9 = (abs(np_) * 10**9) // d1
    rp2 = (a_e9 * a_e9 * d1) // (d2 * 10**12)
    rp2s = (-1 if np_ < 0 else 1) * rp2
    rxy2s = (-1 if cxy < 0 else 1) * (
        (cxy * cxy * 1_000_000) // max(cxx * cyy, 1)
    )
    assert int(got.n_days) == n
    assert int(got.r2_xy_signed_e6) == rxy2s
    assert int(got.r2_partial_signed_e6) == rp2s
    assert bool(got.partial_corr_meaningful) == (rp2s > 90000)
    # float sanity: textbook r_xy.z
    import math

    rxy = cxy / math.sqrt(cxx * cyy)
    rxz = cxz / math.sqrt(cxx * czz)
    ryz = cyz / math.sqrt(cyy * czz)
    rp = (rxy - rxz * ryz) / math.sqrt(
        (1 - rxz * rxz) * (1 - ryz * ryz)
    )
    # staged resolution is ~2r^2/a_e9 — loose tolerance
    assert abs(rp * rp - rp2 / 1e6) < max(0.02 * rp * rp, 0.002)


def test_point_biserial_matches_brute_force(spark, events):
    """The multiplied-through r_pb^2 and the t^2 rational replayed
    per type, plus the Pearson-equivalence float sanity."""
    got = _rows(spark, "q_stats_point_biserial").set_index("event_type")
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["treat"] = (ev["user_id"] % 2 == 0).astype(int)
    import statistics

    for g, grp in ev.groupby("event_type"):
        n1 = int(grp["treat"].sum())
        n0 = len(grp) - n1
        s1 = int(grp.loc[grp.treat == 1, "cents"].sum())
        s0 = int(grp.loc[grp.treat == 0, "cents"].sum())
        q = int((grp["cents"].astype(object) ** 2).sum())
        n = n1 + n0
        num = n0 * s1 - n1 * s0
        den = max(n1 * n0 * (n * q - (s1 + s0) ** 2), 1)
        r2s = (-1 if num < 0 else 1) * ((num * num * 1_000_000) // den)
        t2 = (num * num * (n - 2) * 1000) // max(den - num * num, 1)
        assert int(got.loc[g, "n_treat"]) == n1
        assert int(got.loc[g, "n_control"]) == n0
        assert int(got.loc[g, "r2_pb_signed_e6"]) == r2s
        assert int(got.loc[g, "t2_e3"]) == t2
        assert bool(got.loc[g, "significant"]) == (t2 > 3841)
        # float sanity: r_pb IS Pearson(treat, value)
        r = statistics.correlation(
            [float(v) for v in grp["treat"]],
            [float(v) for v in grp["cents"]],
        )
        assert abs(r * r - abs(r2s) / 1e6) < 1e-3


def test_durbin_watson_matches_brute_force(spark, events):
    """The scaled-residual identity (E = den*e exactly, den^2
    cancelling in the ratio) replayed in Python, plus float sanity
    vs a direct float OLS + DW."""
    got = _rows(spark, "q_stats_durbin_watson").set_index("event_type")
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    daily = (
        ev.groupby(["event_type", "d"])["cents"].sum().reset_index()
    )
    for g, grp in daily.groupby("event_type"):
        ys = [int(v) for v in grp.sort_values("d")["cents"]]
        n = len(ys)
        ts_ = list(range(1, n + 1))
        st, sy = sum(ts_), sum(ys)
        st2 = sum(t * t for t in ts_)
        sty = sum(t * y for t, y in zip(ts_, ys))
        den = n * st2 - st * st
        b_num = n * sty - st * sy
        a_num = sy * st2 - st * sty
        E = [den * y - a_num - b_num * t for t, y in zip(ts_, ys)]
        dw_num = sum(
            (E[i] - E[i - 1]) ** 2 for i in range(1, len(E))
        )
        dw_den = max(sum(e * e for e in E), 1)
        dw_e6 = (dw_num * 1_000_000) // dw_den
        assert int(got.loc[g, "n_days"]) == n
        assert int(got.loc[g, "dw_e6"]) == dw_e6
        want = (
            "positive"
            if dw_num * 10 < dw_den * 15
            else "negative"
            if dw_num * 10 > dw_den * 25
            else "none"
        )
        assert got.loc[g, "autocorrelation"] == want
        # float sanity: direct float OLS residual DW
        b = b_num / den
        a = a_num / den
        e = [y - a - b * t for t, y in zip(ts_, ys)]
        dw = sum(
            (e[i] - e[i - 1]) ** 2 for i in range(1, n)
        ) / max(sum(x * x for x in e), 1e-12)
        assert abs(dw - dw_e6 / 1e6) < 1e-3


def test_turning_points_matches_brute_force(spark, events):
    """Turning-point count and the folded z^2 cross-multiplication
    replayed in pure Python, plus the textbook moment float sanity."""
    got = _rows(spark, "q_stats_turning_points").set_index("event_type")
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    ev["d"] = ev["ts"].dt.date
    daily = (
        ev.groupby(["event_type", "d"])["cents"].sum().reset_index()
    )
    for g, grp in daily.groupby("event_type"):
        ys = [int(v) for v in grp.sort_values("d")["cents"]]
        n = len(ys)
        tp = sum(
            1
            for i in range(1, n - 1)
            if (ys[i] > ys[i - 1] and ys[i] > ys[i + 1])
            or (ys[i] < ys[i - 1] and ys[i] < ys[i + 1])
        )
        dev = 3 * tp - 2 * (n - 2)
        z2_e3 = (dev * dev * 10000) // (16 * n - 29)
        assert int(got.loc[g, "n_days"]) == n
        assert int(got.loc[g, "n_turning_points"]) == tp
        assert int(got.loc[g, "dev_x3"]) == dev
        assert int(got.loc[g, "z2_e3"]) == z2_e3
        assert bool(got.loc[g, "nonrandom"]) == (z2_e3 > 3841)
        e = 2 * (n - 2) / 3
        var = (16 * n - 29) / 90
        z2 = (tp - e) ** 2 / var
        assert abs(z2 - z2_e3 / 1000) < max(0.01 * z2, 0.01)


def test_mahalanobis_matches_brute_force(spark, events):
    """The adjugate multiply-through replayed per type in Python
    (model census + per-row quadratic form), plus a float sanity
    check of D^2 on a sample of rows against the direct inverse-
    covariance form."""
    got = _rows(spark, "q_stats_mahalanobis").set_index("event_type")
    ev = events.copy()
    ev["cx"] = (ev["value"] * 100).round().astype("int64")
    ev["cy"] = ev["ts"].dt.hour.astype("int64")
    for g, grp in ev.groupby("event_type"):
        xs = [int(v) for v in grp["cx"]]
        ys = [int(v) for v in grp["cy"]]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        cxx = n * sum(x * x for x in xs) - sx * sx
        cyy = n * sum(y * y for y in ys) - sy * sy
        cxy = n * sum(x * y for x, y in zip(xs, ys)) - sx * sy
        det = max(cxx * cyy - cxy * cxy, 1)
        n_out = 0
        d2max = 0
        for x, y in zip(xs, ys):
            dx, dy = n * x - sx, n * y - sy
            qf = cyy * dx * dx - 2 * cxy * dx * dy + cxx * dy * dy
            if qf * 1000 > 5991 * det:
                n_out += 1
            d2max = max(d2max, qf * 1000 // det)
        assert int(got.loc[g, "n"]) == n
        assert int(got.loc[g, "n_outliers"]) == n_out
        assert int(got.loc[g, "outlier_rate_e6"]) == (
            n_out * 1_000_000
        ) // n
        assert int(got.loc[g, "d2_max_e3"]) == d2max
        # float sanity on one extreme row: direct inverse covariance
        mx, my = sx / n, sy / n
        vxx = sum(x * x for x in xs) / n - mx * mx
        vyy = sum(y * y for y in ys) / n - my * my
        vxy = sum(x * y for x, y in zip(xs, ys)) / n - mx * my
        dd = vxx * vyy - vxy * vxy
        x, y = xs[0], ys[0]
        d2 = (
            vyy * (x - mx) ** 2
            - 2 * vxy * (x - mx) * (y - my)
            + vxx * (y - my) ** 2
        ) / dd
        dx, dy = n * x - sx, n * y - sy
        qf = cyy * dx * dx - 2 * cxy * dx * dy + cxx * dy * dy
        assert abs(d2 - qf / det) < 1e-6 * max(1.0, d2)


def test_ab_power_matches_brute_force(spark, events):
    """The collapsed 5000*zsum2*C/S^2 rational and the exact-ceiling
    idiom replayed; float sanity against the textbook
    2(z_a+z_b)^2 sigma^2/delta^2 with delta = 2% of the mean."""
    got = _rows(spark, "q_ab_power").set_index("event_type")
    from embarrassingly_parallel_image_classification_spark.operators.stats import (
        POWER_ZSUM2_E6,
    )

    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for g, grp in ev.groupby("event_type"):
        xs = [int(v) for v in grp["cents"]]
        n, s = len(xs), sum(xs)
        c = n * sum(x * x for x in xs) - s * s
        num = 5000 * POWER_ZSUM2_E6 * c
        den = s * s * 1_000_000
        nreq = (num + den - 1) // den
        assert int(got.loc[g, "n_total"]) == n
        assert int(got.loc[g, "n_per_arm_current"]) == n // 2
        assert int(got.loc[g, "mde_cents"]) == s // (50 * n)
        assert int(got.loc[g, "n_required_per_arm"]) == nreq
        assert bool(got.loc[g, "adequately_powered"]) == (n // 2 >= nreq)
        # float sanity
        mean = s / n
        var = c / (n * n)
        delta = 0.02 * mean
        nf = 2 * (1.959964 + 0.841621) ** 2 * var / (delta * delta)
        assert abs(nf - nreq) <= max(0.001 * nf, 2.0)


def test_trimmed_mean_matches_brute_force(spark, events):
    """Straddle-aware census trimming replayed against the direct
    sort-and-slice computation on raw values."""
    got = _rows(spark, "q_agg_trimmed_mean").set_index("event_type")
    ev = events.copy()
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    for g, grp in ev.groupby("event_type"):
        xs = sorted(int(v) for v in grp["cents"])
        n = len(xs)
        lo = n // 10
        hi = n - lo
        interior = xs[lo:hi]  # ranks lo+1 .. hi
        tsum = sum(interior)
        kept = len(interior)
        v_lo = xs[lo]      # value at rank lo+1
        v_hi = xs[hi - 1]  # value at rank hi
        wsum = tsum + lo * v_lo + lo * v_hi
        assert int(got.loc[g, "n"]) == n
        assert int(got.loc[g, "n_kept"]) == kept
        assert int(got.loc[g, "trimmed_mean_e2"]) == (tsum * 100) // kept
        assert int(got.loc[g, "winsorized_mean_e2"]) == (wsum * 100) // n
        assert int(got.loc[g, "p10_cents"]) == v_lo
        assert int(got.loc[g, "p90_cents"]) == v_hi
        # sanity: trimmed mean sits between median and mean pulls
        assert min(xs) <= tsum // kept <= max(xs)
