"""The exact-arithmetic recipe has one owner (``core/exact.py``) and each
shared statistic kernel one implementation; the operators built on them
keep their output types.

The guard reads source only (no Spark). The schema pins run every
operator that uses the recipe or a shared kernel on a small frame and
compare ``df.schema.simpleString()`` with the types the operators had
before the kernels were shared.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import re

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "datalake_backend_spark",
)
GUARDED = [
    "operators/distributions.py",
    "operators/timeseries.py",
    "operators/evaluation.py",
    "operators/incremental.py",
    "operators/ranking.py",
    "operators/windows.py",
    "datapipe/sampling.py",
]


def _source(rel: str) -> str:
    with open(os.path.join(PKG, rel)) as f:
        return f.read()


def _is_pow10(node: ast.AST, pow10_names: set[str]) -> bool:
    """A power of ten ≥ 10 as written at a floor-scale site: a literal,
    ``10 ** e``, a name bound to one, or either wrapped in ``F.lit`` /
    ``float``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        return _is_pow10(node.args[0], pow10_names)
    if isinstance(node, ast.Constant) and isinstance(node.value, (int, float)):
        v = node.value
        return v >= 10 and float(v).is_integer() and str(int(v)).rstrip("0") == "1"
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Pow):
        return isinstance(node.left, ast.Constant) and node.left.value == 10
    return isinstance(node, ast.Name) and node.id in pow10_names


def _floor_scale_sites(src: str) -> list[int]:
    tree = ast.parse(src)
    pow10_names = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and _is_pow10(n.value, set())
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    sites = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "floor"
            and n.args
        ):
            arg = n.args[0]
            factors = []
            while isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Mult):
                factors.append(arg.right)
                arg = arg.left
            factors.append(arg)
            if any(_is_pow10(f, pow10_names) for f in factors):
                sites.append(n.lineno)
    return sites


def test_exact_recipe_has_one_owner():
    offenders = []
    for rel in GUARDED:
        src = _source(rel)
        if "decimal(38,0)" in src:
            offenders.append(f"{rel}: literal decimal(38,0); use core.exact.DEC")
        for line in _floor_scale_sites(src):
            offenders.append(f"{rel}:{line}: floor-scale; use core.exact.fixed")
        for n in ast.walk(ast.parse(src)):
            if isinstance(n, ast.FunctionDef) and n.name in ("ssum", "csum"):
                offenders.append(f"{rel}:{n.lineno}: local {n.name}")
    queries = _source("queries.py")
    for helper in ("dec_sum", "scaled_sum", "dec_avg", "dec_stddev"):
        if f"def {helper}(" in queries:
            offenders.append(f"queries.py defines {helper}; core.exact owns it")
    assert not offenders, "\n".join(offenders)


def test_guard_catches_the_recipe_written_out():
    assert _floor_scale_sites("F.floor(F.col(v) * F.lit(10**scale))") == [1]
    assert _floor_scale_sites("m = 10**s\nF.floor(F.col(v) * m)") == [2]
    assert _floor_scale_sites("F.floor(x * y * F.lit(float(1000)))") == [1]
    assert _floor_scale_sites("F.floor(F.col(v) * 100)") == [1]
    # bins and time ticks are not value floor-scales
    assert _floor_scale_sites("F.floor(F.col(s) * F.lit(n_bins))") == []
    assert _floor_scale_sites("F.floor(F.col(t) / step)") == []


@pytest.mark.parametrize(
    "pattern, owner",
    [
        # the doubled mid-rank formula
        (r'withColumn\(\s*"_rank2"', "operators/distributions.py"),
        # the two-phase top-k's bucket-then-group row_number pair
        (r'withColumn\(\s*"_rn1"', "operators/ranking.py"),
        # the KMV estimate
        (r"\(k\s*-\s*1\)\s*\*\s*\(1\s*<<\s*60\)", "operators/incremental.py"),
        # the χ² cell term (its difference appears twice, as a square)
        (r"o \* t - r \* c", "operators/distributions.py"),
        # the tie-aggregated weighted cumulative
        (r'\.groupBy\(\*key_cols, "_v"\)', "operators/distributions.py"),
    ],
    ids=["rank2", "two_phase_top_k", "kmv_estimate", "chi2_cell", "weighted_cum"],
)
def test_each_kernel_has_one_implementation(pattern, owner):
    hits = {
        rel: len(re.findall(pattern, _source(rel)))
        for rel in GUARDED
        if re.search(pattern, _source(rel))
    }
    assert list(hits) == [owner], hits
    assert hits[owner] == (2 if "o \\* t" in pattern else 1), hits


def test_pearson_moment_sums_are_built_once():
    """No module but ``core/exact.py`` aggregates the five moments
    itself: every Pearson caller takes them from ``moment_sums``."""
    for rel in GUARDED:
        assert not re.search(r'alias\("_?s(xy|xx|yy)"\)', _source(rel)), rel
    callers = [rel for rel in GUARDED if "moment_sums(" in _source(rel)]
    assert callers == ["operators/distributions.py", "operators/timeseries.py"]


# ---------------------------------------------------------------------------
# output types
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def facts(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            "ab"[i % 2],
            1 + i % 5 + 0.25 * (i % 3),
            (i * 7) % 11 + 0.5,
            i % 4 + 1,
            i % 3 == 0,
            t0 + dt.timedelta(days=i % 10, hours=i),
            "pqr"[i % 3],
            "uv"[(i // 2) % 2],
            (i // 3) % 2,
            (i % 10) / 10.0,
            ("treat", "ctrl")[i % 2],
            ("pre", "post")[(i // 2) % 2],
            i % 6,
        )
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows,
        "id long, k string, x double, y double, w long, arm boolean,"
        " ts timestamp, c1 string, c2 string, label int, score double,"
        " grp string, period string, user long",
    )


def _calls():
    from pyspark.sql import functions as F

    from datalake_backend_spark.core import exact
    from datalake_backend_spark.datapipe import sampling as sa
    from datalake_backend_spark.operators import distributions as d
    from datalake_backend_spark.operators import evaluation as ev
    from datalake_backend_spark.operators import incremental as inc
    from datalake_backend_spark.operators import privacy as pv
    from datalake_backend_spark.operators import ranking as rk
    from datalake_backend_spark.operators import timeseries as ts
    from datalake_backend_spark.operators import windows as wn

    return {
        "exact_helpers": lambda f: f.groupBy("k").agg(
            exact.dec_sum("x").alias("s"),
            exact.scaled_sum(F.col("x") * F.col("y")).alias("ss"),
            exact.dec_avg("x").alias("a"),
            exact.dec_stddev("x").alias("sd"),
        ),
        "exact_corr": lambda f: d.exact_corr(f, "x", "y", ["k"]),
        "group_ols": lambda f: d.group_ols(f, "x", "y", ["k"]),
        "cuped_adjusted": lambda f: d.cuped_adjusted(f, "k", "x", "y"),
        "chi_square_contingency": lambda f: d.chi_square_contingency(f, "c1", "c2"),
        "cramers_v": lambda f: d.cramers_v(f, "c1", "c2"),
        "welch_ttest": lambda f: d.welch_ttest(f, "arm", "x", ["k"]),
        "winsorized_mean": lambda f: d.winsorized_mean(f, "x", "id", ["k"]),
        "benford_profile": lambda f: d.benford_profile(f, "y", ["k"]),
        "moment_profile": lambda f: d.moment_profile(f, "x", ["k"]),
        "gini_concentration": lambda f: d.gini_concentration(f, ["k"], "x", "id"),
        "weighted_median": lambda f: d.weighted_median(f, ["k"], "x", "w"),
        "weighted_quantiles": lambda f: d.weighted_quantiles(f, ["k"], "x", "w"),
        "mann_whitney_u": lambda f: d.mann_whitney_u(f, "x", "grp", "treat", "ctrl", ["k"]),
        "spearman_rho": lambda f: d.spearman_rho(f, "x", "y", ["k"]),
        "kmv_distinct": lambda f: d.kmv_distinct(f, "user", ["k"], k=4),
        "block_jackknife": lambda f: d.block_jackknife(f, "x", "user", ["k"], blocks=4),
        "categorical_mi": lambda f: d.categorical_mi(f, "c1", "c2"),
        "rolling_robust_anomaly": lambda f: ts.rolling_robust_anomaly(
            f, ["k"], "ts", "x", "id", window=4, min_periods=2
        ),
        "time_weighted_avg": lambda f: ts.time_weighted_avg(f, ["k"], "ts", "x", tiebreak=["id"]),
        "cusum_stats": lambda f: ts.cusum_stats(f, ["k"], "ts", "x", tiebreak=["id"]),
        "seasonal_index": lambda f: ts.seasonal_index(f, "ts", "x", ["k"]),
        "decayed_sum": lambda f: ts.decayed_sum(f, "ts", "x", ["k"]),
        "period_over_period": lambda f: ts.period_over_period(f, "ts", "x", ["k"], "day"),
        "rolling_range_sum": lambda f: ts.rolling_range_sum(f, "ts", "x", ["k"]),
        "ohlc_bars": lambda f: ts.ohlc_bars(f, "ts", "x", "id", ["k"]),
        "max_drawdown": lambda f: ts.max_drawdown(f, "ts", "x", "id", ["k"]),
        "autocorrelation": lambda f: ts.autocorrelation(f, "ts", "x", ["k"], lags=(1,)),
        "roc_auc": lambda f: ev.roc_auc(f, "score", "label", ["k"]),
        "diff_in_diff": lambda f: ev.diff_in_diff(f, "grp", "period", "x"),
        "reliability_bins": lambda f: ev.reliability_bins(f, "score", "label"),
        "kmv_state": lambda f: inc.kmv_state(f, ["k"], "user", k=4),
        "finalize_kmv": lambda f: inc.finalize_kmv(inc.kmv_state(f, ["k"], "user", k=4), ["k"], k=4),
        "rfm_segments": lambda f: rk.rfm_segments(f, "user", "ts", "x"),
        "cohort_ltv": lambda f: wn.cohort_ltv(f, "user", "ts", "x"),
        "k_anonymity_classes": lambda f: pv.k_anonymity_classes(f, ["k"], "x", 0, 100),
        "l_diversity_classes": lambda f: pv.l_diversity_classes(f, ["k"], "x", "c1", 0, 100),
        "t_closeness_classes": lambda f: pv.t_closeness_classes(f, ["k"], "x", "c1", 0, 100),
        "cap_per_group": lambda f: sa.cap_per_group(f, "k", 3, "id"),
        "priority_sample": lambda f: sa.priority_sample(f, "w", "id", 3, "k"),
        "quality_budget_keep": lambda f: sa.quality_budget_keep(f, "k", "score", "id"),
    }


SCHEMAS = {
    "autocorrelation": "struct<k:string,lag:int,n_pairs:bigint,acf:double>",
    "benford_profile": (
        "struct<k:string,digit:int,n_values:bigint,rate_permille:bigint>"
    ),
    "block_jackknife": (
        "struct<k:string,n:bigint,n_blocks:bigint,mean:double,"
        "jackknife_se:double>"
    ),
    "cap_per_group": (
        "struct<id:bigint,k:string,x:double,y:double,w:bigint,"
        "arm:boolean,ts:timestamp,c1:string,c2:string,label:int,"
        "score:double,grp:string,period:string,user:bigint>"
    ),
    "categorical_mi": "struct<h_x:double,h_y:double,mi:double,nmi:double>",
    "chi_square_contingency": (
        "struct<c1:string,chi2_part_scaled:bigint,n_cells:bigint,"
        "n_total:bigint>"
    ),
    "cohort_ltv": (
        "struct<cohort_period:bigint,age:bigint,n_users:bigint,"
        "ltv_per_user:double>"
    ),
    "cramers_v": (
        "struct<n_total:bigint,n_row_cats:bigint,n_col_cats:bigint,"
        "chi2_scaled:double,cramers_v:double>"
    ),
    "cuped_adjusted": (
        "struct<k:string,n:bigint,mean_y:double,mean_y_adj:double,"
        "theta:double>"
    ),
    "cusum_stats": (
        "struct<k:string,n_obs:bigint,max_cusum_scaled:bigint,"
        "max_at_us:bigint,final_cusum_scaled:bigint>"
    ),
    "decayed_sum": "struct<k:string,n_obs:bigint,decayed_scaled:bigint>",
    "diff_in_diff": (
        "struct<n_t_pre:bigint,n_t_post:bigint,n_c_pre:bigint,"
        "n_c_post:bigint,mean_t_pre:double,mean_t_post:double,"
        "mean_c_pre:double,mean_c_post:double,did:double>"
    ),
    "exact_corr": "struct<k:string,n:bigint,corr:double>",
    "exact_helpers": "struct<k:string,s:double,ss:double,a:double,sd:double>",
    "finalize_kmv": "struct<k:string,n_kept:bigint,kth_hash:bigint,estimate:double>",
    "gini_concentration": (
        "struct<k:string,n_rows:bigint,sum_scaled:bigint,gini:double>"
    ),
    "group_ols": "struct<k:string,n:bigint,slope:double,intercept:double,r2:double>",
    "k_anonymity_classes": "struct<k:string,bucket:bigint,k_size:bigint>",
    "kmv_distinct": "struct<k:string,n_kept:bigint,kth_hash:bigint,estimate:double>",
    "kmv_state": "struct<k:string,hashes:array<bigint>>",
    "l_diversity_classes": (
        "struct<k:string,bucket:bigint,k_size:bigint,l_distinct:bigint>"
    ),
    "mann_whitney_u": (
        "struct<k:string,n_a:bigint,n_b:bigint,u_a:double,u_b:double,"
        "tie_term:double>"
    ),
    "max_drawdown": (
        "struct<k:string,max_drawdown:double,final_value:double,"
        "n_new_highs:bigint,n:bigint>"
    ),
    "moment_profile": (
        "struct<k:string,n_obs:bigint,mean:double,m2:double,"
        "skewness:double,kurtosis_excess:double>"
    ),
    "ohlc_bars": (
        "struct<k:string,bucket_ts:timestamp,open:double,high:double,"
        "low:double,close:double,n_ticks:bigint,turnover:double>"
    ),
    "period_over_period": (
        "struct<k:string,period_start:date,value_scaled:bigint,"
        "prev_scaled:bigint,delta_scaled:bigint,ratio_permille:bigint>"
    ),
    "priority_sample": (
        "struct<id:bigint,k:string,x:double,y:double,w:bigint,"
        "arm:boolean,ts:timestamp,c1:string,c2:string,label:int,"
        "score:double,grp:string,period:string,user:bigint,_prio:double>"
    ),
    "quality_budget_keep": (
        "struct<id:bigint,k:string,x:double,y:double,w:bigint,"
        "arm:boolean,ts:timestamp,c1:string,c2:string,label:int,"
        "score:double,grp:string,period:string,user:bigint>"
    ),
    "reliability_bins": "struct<bin:int,n:bigint,mean_score:double,pos_rate:double>",
    "rfm_segments": (
        "struct<user:bigint,recency_us:bigint,frequency:bigint,"
        "monetary_scaled:bigint,r_score:bigint,f_score:bigint,"
        "m_score:bigint,segment:string>"
    ),
    "roc_auc": "struct<k:string,n_pos:bigint,n_neg:bigint,auc:double>",
    "rolling_range_sum": (
        "struct<k:string,day:bigint,day_sum:bigint,rolling_sum:bigint,"
        "n_days_in_window:bigint>"
    ),
    "rolling_robust_anomaly": (
        "struct<id:bigint,k:string,x:double,y:double,w:bigint,"
        "arm:boolean,ts:timestamp,c1:string,c2:string,label:int,"
        "score:double,grp:string,period:string,user:bigint,"
        "v_scaled:bigint,med:bigint,mad:bigint,is_anomaly:boolean>"
    ),
    "seasonal_index": (
        "struct<k:string,season:int,n_obs:bigint,"
        "bucket_mean_scaled:bigint,index_scaled:bigint>"
    ),
    "spearman_rho": "struct<k:string,n:bigint,rho:double>",
    "t_closeness_classes": (
        "struct<k:string,bucket:bigint,k_size:bigint,t_scaled:bigint>"
    ),
    "time_weighted_avg": "struct<k:string,n_obs:bigint,twap_scaled:bigint>",
    "weighted_median": (
        "struct<k:string,weighted_median_scaled:bigint,"
        "total_weight:bigint>"
    ),
    "weighted_quantiles": "struct<k:string,q_1_4:double,q_1_2:double,q_3_4:double>",
    "welch_ttest": (
        "struct<k:string,n_a:bigint,n_b:bigint,mean_a:double,"
        "mean_b:double,t_stat:double>"
    ),
    "winsorized_mean": "struct<k:string,n:bigint,win_mean_scaled:bigint>",
}


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_output_types_are_pinned(facts, name):
    df = _calls()[name](facts)
    assert df.schema.simpleString() == SCHEMAS[name]
    df.collect()


def test_every_pinned_operator_has_a_schema():
    assert sorted(_calls()) == sorted(SCHEMAS)
