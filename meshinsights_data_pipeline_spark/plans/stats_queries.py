"""Statistics query set x104–x139: one anchor query per statistical
operator, each paired with its DuckDB oracle in ``STATS_QUERIES``
(``name -> (builder, oracle_sql)``, the ``EXTENSION_BUILDERS`` form).

The families:
- change and drift: CUSUM changepoints (x104), exponentially-weighted
  rolling mean (x106), KS drift (x107), Mann-Kendall/Theil-Sen trend
  (x108), lag-k autocorrelation (x118), seasonal decomposition (x134),
  seasonal MAD anomalies (x136), OLS trend (x137);
- experiments: A/B z-test (x105), Welch's t (x116), Mann-Whitney U
  (x120), Kruskal-Wallis (x121), Cliff's delta (x127), bootstrap CIs
  (x128), Wald SPRT (x129), CUPED (x130), difference-in-differences
  (x138), minimum detectable effect (x139);
- association and evaluation: chi-square + Cramér's V (x117), Spearman
  (x122), correlation ratio (x123), ROC-AUC (x124), calibration (x125),
  Cohen's kappa (x126);
- data and corpus profiles: Benford conformance (x109), token entropy
  and Gini (x110), embedding covariance (x111), Kaplan-Meier survival
  (x112), quantile normalization (x113), best-member dedup survivors
  (x114), cross-source duplicate matrix (x115), Jensen-Shannon mix
  divergence (x119);
- constant-memory sketches: HLL cardinality (x131), count-min heavy
  hitters (x132), KMV overlap (x133), histogram quantiles (x135).

Each builder's docstring says how its arithmetic stays bit-identical
across the two engines (exact DECIMAL folds, single IEEE operations in a
fixed order, rounding before any comparison).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.plans.extension_queries import (
    _H60_SQL,
    _NORM_SQL,
    _dedup_clusters_sql,
)
from meshinsights_data_pipeline_spark.session import read_table


def x104_cusum_changepoints(spark: SparkSession, sf_dir: str):
    """Per-user two-sided CUSUM over event values
    (changepoint.cusum_changepoints): the max(0, S+d) recurrence by its
    exact closed form — cumsum minus the running min of prefix sums —
    two O(1) growing ROWS frames over ONE entity-keyed shuffle.
    DECIMAL(18,6)-exact drift folds, one double cast + round(6),
    alarms compare the rounded statistic (both engines decide
    borderline rows identically). Sliced to users < 40 like x91: each
    user's series is self-contained, so the slice changes nothing
    about the statistics it keeps. target/slack/threshold are exact
    decimal literals (50, 10, 40) so both engines fold the same
    drifts."""
    from meshinsights_data_pipeline_spark.operators.changepoint import (
        cusum_changepoints,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return cusum_changepoints(
        ev, "ts", ["user_id"], "value", "event_id",
        target=50.0, slack=10.0, threshold=40.0,
    ).orderBy("user_id", "ts", "event_id")


X104_SQL = """
WITH clean AS (
    SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value,
           CAST(value AS DECIMAL(18,6)) - CAST(60.0 AS DECIMAL(18,6)) AS dp,
           CAST(40.0 AS DECIMAL(18,6)) - CAST(value AS DECIMAL(18,6)) AS dm
    FROM events
    WHERE user_id < 40 AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
cum AS (
    SELECT *, SUM(dp) OVER w AS cp, SUM(dm) OVER w AS cm
    FROM clean
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
),
stats AS (
    SELECT user_id, event_id, ts, value,
           ROUND(CAST(cp - LEAST(CAST(0 AS DECIMAL(38,6)), MIN(cp) OVER w2)
                      AS DOUBLE), 6) AS s_plus,
           ROUND(CAST(cm - LEAST(CAST(0 AS DECIMAL(38,6)), MIN(cm) OVER w2)
                      AS DOUBLE), 6) AS s_minus
    FROM cum
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id, ts, value, s_plus, s_minus,
       s_plus > 40.0 AS alarm_up,
       s_minus > 40.0 AS alarm_down
FROM stats
ORDER BY user_id, ts, event_id
"""


def x105_ab_test(spark: SparkSession, sf_dir: str):
    """Two-proportion A/B z vs control (abtest.ab_test_zscores) over a
    derived experiment: event_type is the experiment, odd/even user_id
    the arm, value > 75 the conversion. Every float step is a
    correctly-rounded IEEE op in fixed operand order — rates, pooled
    rate, se multiply/sqrt, final divide — so z is bit-identical
    across engines; significance compares the ROUNDED |z|. One
    map-side-combinable aggregate + a broadcast control join; the
    corpus is scanned once (the cell frame is a materialize() barrier
    — without it each join side replayed the scan). The control join is
    LEFT so an experiment with a missing control arm surfaces with
    ``has_control = false`` instead of silently vanishing (every
    experiment here HAS one — the column is exercised as all-true and
    the missing-control path is unit-tested)."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        ab_test_zscores,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        (F.col("value") > 75.0).alias("conv"),
    )
    return ab_test_zscores(
        ev, "experiment", "arm", "conv", control_label="control"
    ).orderBy("experiment", "arm")


X105_SQL = """
WITH ev AS (
    SELECT event_type AS experiment,
           CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 't1' END AS arm,
           CAST(value > 75.0 AS INT) AS conv
    FROM events
),
cells AS (
    SELECT experiment, arm, COUNT(*) AS n,
           CAST(COALESCE(SUM(conv), 0) AS BIGINT) AS x
    FROM ev GROUP BY experiment, arm
),
j AS (
    SELECT a.experiment, a.arm,
           c.n AS n_control, c.x AS x_control,
           a.n AS n_arm, a.x AS x_arm
    FROM cells a
    LEFT JOIN cells c ON c.experiment = a.experiment AND c.arm = 'control'
    WHERE a.arm <> 'control'
),
calc AS (
    SELECT *,
           CAST(x_control AS DOUBLE) / CAST(n_control AS DOUBLE) AS p_c,
           CAST(x_arm AS DOUBLE) / CAST(n_arm AS DOUBLE) AS p_a,
           (CAST(x_control AS DOUBLE) + CAST(x_arm AS DOUBLE))
             / (CAST(n_control AS DOUBLE) + CAST(n_arm AS DOUBLE)) AS pool
    FROM j
),
z AS (
    SELECT *,
           SQRT(pool * (1.0 - pool)
                * (1.0 / CAST(n_control AS DOUBLE)
                   + 1.0 / CAST(n_arm AS DOUBLE))) AS se
    FROM calc
)
SELECT experiment, arm, n_control, x_control, n_arm, x_arm,
       n_control IS NOT NULL AS has_control,
       ROUND(p_c, 6) AS p_control,
       ROUND(p_a, 6) AS p_arm,
       ROUND(p_a - p_c, 6) AS lift,
       CASE WHEN se > 0 THEN ROUND((p_a - p_c) / se, 6) END AS z,
       COALESCE(ABS(CASE WHEN se > 0 THEN ROUND((p_a - p_c) / se, 6) END)
                > 1.959964, FALSE) AS significant
FROM z
ORDER BY experiment, arm
"""

def x106_exp_weighted_avg(spark: SparkSession, sf_dir: str):
    """Per-user 8-point exponentially-weighted rolling mean over event
    values (rollup.exp_weighted_avg, alpha=1/2): k lag terms over ONE
    window spec — a fixed dyadic-weight arithmetic chain in whole-stage
    codegen, re-normalized over present terms so series heads are
    unbiased. Sliced to users < 40 like x91/x104 (per-user windows are
    self-contained)."""
    from meshinsights_data_pipeline_spark.operators.rollup import (
        exp_weighted_avg,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return exp_weighted_avg(
        ev, "ts", ["user_id"], "value", "event_id", alpha=0.5, k=8
    ).orderBy("user_id", "ts", "event_id")


def _x106_sql(k: int = 8, alpha: float = 0.5) -> str:
    # the same fixed j-order fold, one LAG per term (LAG(value, 0) is
    # the current row in DuckDB, mirroring the operator's j=0 term)
    num = " + ".join(
        f"COALESCE(LAG(value, {j}) OVER w * {alpha * (1 - alpha) ** j!r}, 0)"
        for j in range(k)
    )
    den = " + ".join(
        f"(CASE WHEN LAG(value, {j}) OVER w IS NOT NULL "
        f"THEN {alpha * (1 - alpha) ** j!r} ELSE 0 END)"
        for j in range(k)
    )
    return f"""
WITH clean AS (
    SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value
    FROM events
    WHERE user_id < 40 AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
)
SELECT user_id, event_id, ts, value,
       ROUND(({num}) / ({den}), 6) AS ewa
FROM clean
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, ts, event_id
"""


def x107_ks_drift(spark: SparkSession, sf_dir: str):
    """Exact two-sample KS statistic of each event type's value
    distribution vs the whole corpus (stats.ks_drift) — the sup-norm
    drift monitor completing the family (PSI x88 is binned, TV/chi2 x63
    is token-level). The maximand is the exact integer
    |cum_g*n - cum_all*n_g| through DECIMAL(38,0); only the final
    division is a double, so the arg-max is engine-independent by
    construction. Grid cost |event types| x |distinct values| — bounded
    here; quantize first at the 100 TB tier (same code path)."""
    from meshinsights_data_pipeline_spark.operators.stats import ks_drift

    ev = read_table(spark, sf_dir, "events")
    return ks_drift(ev, "event_type", "value").orderBy("event_type")


X107_SQL = """
WITH vals AS (
    SELECT event_type AS g, CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
cgv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c_gv FROM vals GROUP BY g, v),
spine AS (SELECT v, CAST(SUM(c_gv) AS BIGINT) AS c_v FROM cgv GROUP BY v),
sizes AS (SELECT g, CAST(SUM(c_gv) AS BIGINT) AS n_g FROM cgv GROUP BY g),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM sizes),
grid AS (
    SELECT s.g, sp.v, sp.c_v, s.n_g, COALESCE(c.c_gv, 0) AS c_gv
    FROM spine sp CROSS JOIN sizes s
    LEFT JOIN cgv c ON c.g = s.g AND c.v = sp.v
),
cums AS (
    SELECT g, n_g,
           SUM(c_gv) OVER w AS cum_g,
           SUM(c_v) OVER w AS cum_all
    FROM grid
    WINDOW w AS (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT g AS event_type, CAST(MAX(n_g) AS BIGINT) AS n,
       ROUND(CAST(MAX(ABS(CAST(cum_g AS DECIMAL(38,0)) * n
                          - CAST(cum_all AS DECIMAL(38,0)) * n_g)) AS DOUBLE)
             / CAST(CAST(MAX(n_g) AS DECIMAL(38,0)) * MAX(n) AS DOUBLE),
             6) AS ks
FROM cums CROSS JOIN tot
GROUP BY g
ORDER BY event_type
"""


def x108_trend(spark: SparkSession, sf_dir: str):
    """Per-user Mann-Kendall trend test + Theil-Sen slope over event
    values (trend.mann_kendall_trend). Time-tied pairs weigh 0 (the
    textbook treatment — an id tiebreak would make S's sign depend on
    arbitrary labeling) and var(S) carries the full two-way tie
    correction. S and every tie sum are exact integers (DECIMAL(38,0));
    z is continuity-corrected with single correctly-rounded IEEE ops;
    the Sen slope is the exact interpolated median of pairwise
    value-per-second slopes. Sliced to users < 40 like x91/x104 — each
    user's pair set is self-contained, and the within-entity pair join
    is sum-of-n_e^2, the x97 blocking shape. The anchor runs the
    ``cap_n=50`` tier (the operator's 100 TB lever, x90 precedent):
    each user keeps their 50 most-recent clean observations before the
    pair join — genuinely truncating here (users carry 52-83 events at
    sf0.01), mirrored in the oracle's ROW_NUMBER CTE."""
    from meshinsights_data_pipeline_spark.operators.trend import (
        mann_kendall_trend,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return mann_kendall_trend(
        ev, "ts", ["user_id"], "value", cap_n=50
    ).orderBy("user_id")


X108_SQL = """
WITH clean0 AS (
    SELECT user_id, epoch_us(ts) AS us, CAST(value AS DOUBLE) AS v
    FROM events
    WHERE user_id < 40 AND ts IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
clean AS (
    -- the cap_n=50 recent-N tier: ts desc, value-desc tiebreak
    -- (identical (ts, v) rows are exchangeable for every statistic)
    SELECT user_id, us, v FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY us DESC, v DESC) AS rn
        FROM clean0
    ) WHERE rn <= 50
),
pairs AS (
    SELECT a.user_id,
           CAST(SIGN(b.v - a.v) AS BIGINT) AS sgn,
           (b.v - a.v) / (CAST(b.us - a.us AS DOUBLE) / 1000000.0) AS slope
    FROM clean a JOIN clean b ON a.user_id = b.user_id AND a.us < b.us
),
st AS (
    SELECT user_id, CAST(SUM(sgn) AS BIGINT) AS s,
           quantile_cont(slope, 0.5) AS sen
    FROM pairs GROUP BY user_id
),
vties AS (
    SELECT user_id,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)) AS tv5,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2)) AS tv2,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS tv1
    FROM (SELECT user_id, v, COUNT(*) AS t FROM clean GROUP BY user_id, v)
    GROUP BY user_id
),
uties AS (
    SELECT user_id,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)) AS tu5,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2)) AS tu2,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS tu1
    FROM (SELECT user_id, us, COUNT(*) AS t FROM clean GROUP BY user_id, us)
    GROUP BY user_id
),
sizes AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM clean GROUP BY user_id
),
scored AS (
    SELECT z.user_id, z.n, COALESCE(st.s, 0) AS s,
           ROUND(
               CAST(CAST(z.n AS DECIMAL(38,0)) * (z.n - 1) * (2 * z.n + 5)
                    - vt.tv5 - ut.tu5 AS DOUBLE) / 18.0
               + CASE WHEN z.n >= 3 THEN
                   CAST(vt.tv2 AS DOUBLE) * CAST(ut.tu2 AS DOUBLE)
                   / (9.0 * CAST(CAST(z.n AS DECIMAL(38,0)) * (z.n - 1)
                                 * (z.n - 2) AS DOUBLE))
                 ELSE 0.0 END
               + CAST(vt.tv1 AS DOUBLE) * CAST(ut.tu1 AS DOUBLE)
                 / (2.0 * CAST(CAST(z.n AS DECIMAL(38,0)) * (z.n - 1)
                               AS DOUBLE)),
               6) + 0.0 AS var_s,
           st.sen
    FROM sizes z
    LEFT JOIN st ON st.user_id = z.user_id
    JOIN vties vt ON vt.user_id = z.user_id
    JOIN uties ut ON ut.user_id = z.user_id
    WHERE z.n >= 2
)
SELECT user_id, n, s, var_s,
       ROUND(CASE WHEN var_s <= 0 THEN NULL
                  WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / SQRT(var_s)
                  WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / SQRT(var_s)
                  ELSE 0.0 END, 6) + 0.0 AS z,
       ROUND(sen, 6) + 0.0 AS sen_slope
FROM scored
ORDER BY user_id
"""


def x109_benford(spark: SparkSession, sf_dir: str):
    """Benford first-digit conformance of lineitem prices per return
    flag (dq.benford_deviation) — the fabricated-feed detector. The
    digit comes from the DECIMAL(18,6) string rendering
    (probe-verified bit-identical across engines), expected
    proportions are shared 12-decimal literals, the 9 chi-square terms
    fold through DECIMAL(38,18), and absent digits contribute their
    full expected weight via the 9-digit spine."""
    from meshinsights_data_pipeline_spark.operators.dq import (
        benford_deviation,
    )

    li = read_table(spark, sf_dir, "lineitem")
    return benford_deviation(li, "l_returnflag", "l_extendedprice").orderBy(
        "l_returnflag"
    )


def _x109_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.dq import BENFORD_EXPECTED

    spine = ", ".join(
        f"({d}, CAST({e} AS DECIMAL(14,12)))"
        for d, e in BENFORD_EXPECTED.items()
    )
    return f"""
WITH vals AS (
    SELECT l_returnflag AS g,
           regexp_extract(
               CAST(CAST(ABS(CAST(l_extendedprice AS DOUBLE))
                         AS DECIMAL(18,6)) AS VARCHAR),
               '[1-9]') AS d
    FROM lineitem
    WHERE l_returnflag IS NOT NULL
      AND l_extendedprice IS NOT NULL
      AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
      AND ABS(CAST(l_extendedprice AS DOUBLE)) < 1e12
),
obs AS (
    SELECT g, CAST(d AS INT) AS d, CAST(COUNT(*) AS BIGINT) AS c
    FROM vals WHERE d <> '' GROUP BY g, d
),
sizes AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM obs GROUP BY g),
spine(d, e) AS (VALUES {spine}),
grid AS (
    SELECT s.g, s.n, sp.d, CAST(sp.e AS DOUBLE) AS e,
           COALESCE(o.c, 0) AS c
    FROM sizes s CROSS JOIN spine sp
    LEFT JOIN obs o ON o.g = s.g AND o.d = sp.d
)
SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(CAST(MAX(n) AS DOUBLE)
             * CAST(SUM(CAST((CAST(c AS DOUBLE) / n - e)
                             * (CAST(c AS DOUBLE) / n - e) / e
                             AS DECIMAL(38,18))) AS DOUBLE), 6) AS chi2,
       ROUND(MAX(ABS(CAST(c AS DOUBLE) / n - e)), 6) AS max_dev
FROM grid
GROUP BY g
ORDER BY l_returnflag
"""


def x110_token_entropy(spark: SparkSession, sf_dir: str):
    """Per-source token-distribution entropy + Gini concentration
    (corpus.source_token_entropy) — the information-theoretic mix-health
    signal next to x74's TTR/Zipf. Every ln argument is an exact
    integer, summands fold DECIMAL(38,18), the Gini rank-sum routes
    DECIMAL(38,0), rank ties break on token."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_token_entropy,
    )

    docs = read_table(spark, sf_dir, "documents")
    return source_token_entropy(docs, "source", "text").orderBy("source")


def _x110_sql() -> str:
    norm = _NORM_SQL.format(col="text")
    return f"""
WITH counts AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM (
        SELECT source, unnest(string_split({norm}, ' ')) AS tok
        FROM documents
    )
    WHERE tok <> ''
    GROUP BY source, tok
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY c ASC, tok ASC) AS i
    FROM counts
),
agg AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                         AS DECIMAL(38,18))) AS DOUBLE) AS clnc,
           SUM(CAST(i AS DECIMAL(38,0)) * c) AS ic
    FROM ranked GROUP BY source
)
SELECT source, n_tokens, n_types,
       ROUND(ln(CAST(n_tokens AS DOUBLE))
             - clnc / CAST(n_tokens AS DOUBLE), 6) AS entropy,
       CASE WHEN n_types >= 2 THEN
           ROUND((ln(CAST(n_tokens AS DOUBLE))
                  - clnc / CAST(n_tokens AS DOUBLE))
                 / ln(CAST(n_types AS DOUBLE)), 6)
       END AS norm_entropy,
       ROUND((CAST(CAST(2 AS DECIMAL(38,0)) * ic AS DOUBLE)
              - (CAST(n_types AS DOUBLE) + 1) * CAST(n_tokens AS DOUBLE))
             / (CAST(n_types AS DOUBLE) * CAST(n_tokens AS DOUBLE)),
             6) AS gini
FROM agg
ORDER BY source
"""


def x111_embedding_covariance(spark: SparkSession, sf_dir: str):
    """Covariance matrix of the leading 16 embedding dimensions
    (similarity.embedding_covariance) — the second-moment health report
    (collapsed dims, redundant pairs, covariance drift) and the input
    to PCA whitening. Product and per-dim sums fold DECIMAL(38,12)
    (the x96 centroid discipline); cov is three fixed IEEE ops on the
    UNROUNDED means; indices 1-based in both engines. The within-row
    pair join costs d(d+1)/2 rows per vector — the dims= cap is the
    scale lever, or pre-reduce with pca_components."""
    from meshinsights_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "vec_id", "embedding", dims=16).orderBy(
        "i", "j"
    )


X111_SQL = """
WITH comp AS (
    SELECT vec_id, u.s.p AS p, u.s.x AS x FROM (
        SELECT vec_id,
               [struct_pack(p := i, x := v[i]) FOR i IN range(1, 17)] AS cs
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    ), UNNEST(cs) AS u(s)
),
sums AS (
    SELECT a.p AS i, b.p AS j, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE) AS sxy
    FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.p <= b.p
    GROUP BY a.p, b.p
),
means AS (
    SELECT p, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(x) AS m
    FROM comp GROUP BY p
)
SELECT i, j, n,
       ROUND(mi.m, 6) + 0.0 AS mean_i,
       ROUND(mj.m, 6) + 0.0 AS mean_j,
       ROUND(sxy / n - mi.m * mj.m, 6) + 0.0 AS cov
FROM sums
JOIN means mi ON mi.p = i
JOIN means mj ON mj.p = j
ORDER BY i, j
"""


def x112_km_survival(spark: SparkSession, sf_dir: str):
    """Kaplan-Meier time-to-churn curves per user cohort
    (survival.km_survival): duration = each user's first-to-last event
    span in exact micros, churn observed when the user's last event
    precedes the corpus max by > 12 hours (otherwise right-censored —
    still active at cutoff; the threshold holds churned/censored mass
    at every SF because the user count, not per-user density, scales), cohort = user_id % 4. The cumulative
    product is exp(DECIMAL-folded sum of ln factors) — a windowed float
    PRODUCT is association-order-dependent across engines — with an
    explicit cumulative zero flag for the n=d full-death case."""
    from meshinsights_data_pipeline_spark.operators.survival import (
        km_survival,
    )

    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("_t0"), F.max("ts").alias("_t1")
    )
    mx = ev.agg(F.max("ts").alias("_tmax"))
    prep = spans.crossJoin(F.broadcast(mx)).select(
        (F.col("user_id") % 4).alias("cohort"),
        F.expr("timestampdiff(MICROSECOND, _t0, _t1)").alias("_dur"),
        (F.col("_t1") < F.col("_tmax") - F.expr("INTERVAL 12 HOURS")).alias(
            "_churned"
        ),
    )
    return km_survival(prep, ["cohort"], "_dur", "_churned").orderBy(
        "cohort", "t"
    )


X112_SQL = """
WITH spans AS (
    SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1 FROM events GROUP BY user_id
),
mx AS (SELECT MAX(ts) AS tmax FROM events),
prep AS (
    SELECT user_id % 4 AS cohort,
           epoch_us(t1) - epoch_us(t0) AS dur,
           t1 < tmax - INTERVAL 12 HOUR AS churned
    FROM spans CROSS JOIN mx
),
spine AS (
    SELECT cohort, dur AS t, CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM prep GROUP BY cohort, dur
),
sizes AS (
    SELECT cohort, CAST(SUM(c) AS BIGINT) AS n_g FROM spine GROUP BY cohort
),
risky AS (
    SELECT s.cohort, s.t, s.c, s.d,
           z.n_g - COALESCE(SUM(s.c) OVER (
               PARTITION BY s.cohort ORDER BY s.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
    FROM spine s JOIN sizes z ON z.cohort = s.cohort
),
scored AS (
    SELECT *,
           MAX(CASE WHEN d >= 1 AND n_risk = d THEN 1 ELSE 0 END)
               OVER w AS zeroed,
           SUM(CASE WHEN d >= 1 AND n_risk > d
                    THEN CAST(ln(CAST(n_risk - d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE))
                              AS DECIMAL(38,18)) END) OVER w AS logsum
    FROM risky
    WINDOW w AS (PARTITION BY cohort ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
       CASE WHEN zeroed = 1 THEN 0.0
            ELSE ROUND(exp(COALESCE(CAST(logsum AS DOUBLE), 0.0)), 6)
       END AS survival
FROM scored
WHERE d >= 1
ORDER BY cohort, t
"""


def x113_quantile_normalize(spark: SparkSession, sf_dir: str):
    """Quantile normalization of per-source document lengths onto the
    corpus distribution (stats.quantile_normalize) — the pre-mixing
    transform for incomparable per-scorer/per-source scales: equal
    within-group ranks map to equal corpus values. Within-group ranks
    use the total order (value, id); the corpus rank is the
    distributed global ranker (ONE range shuffle, no single-task
    sort); p/pos/frac/interpolation are fixed-order single IEEE ops."""
    from meshinsights_data_pipeline_spark.operators.stats import (
        quantile_normalize,
    )

    docs = read_table(spark, sf_dir, "documents")
    return quantile_normalize(docs, "source", "n_chars", "doc_id").orderBy(
        "source", "doc_id"
    )


X113_SQL = """
WITH clean AS (
    SELECT source AS g, doc_id AS id, CAST(n_chars AS DOUBLE) AS v
    FROM documents
    WHERE source IS NOT NULL AND n_chars IS NOT NULL
      AND NOT isnan(CAST(n_chars AS DOUBLE))
),
rg AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, id) AS r,
           COUNT(*) OVER (PARTITION BY g) AS n_g
    FROM clean
),
corpus AS (
    SELECT v AS cv, ROW_NUMBER() OVER (ORDER BY v) AS rn,
           COUNT(*) OVER () AS n
    FROM clean
),
scored AS (
    SELECT g, id, v,
           CASE WHEN n_g > 1
                THEN CAST(r - 1 AS DOUBLE) / CAST(n_g - 1 AS DOUBLE)
                ELSE 0.5 END
             * CAST((SELECT MAX(n) FROM corpus) - 1 AS DOUBLE) AS pos
    FROM rg
)
SELECT g AS source, id AS doc_id, v AS n_chars,
       ROUND(lo.cv + (hi.cv - lo.cv) * (pos - FLOOR(pos)), 6) + 0.0 AS qnorm
FROM scored
JOIN corpus lo ON lo.rn = CAST(FLOOR(pos) + 1 AS BIGINT)
JOIN corpus hi ON hi.rn = CAST(CEIL(pos) + 1 AS BIGINT)
ORDER BY source, doc_id
"""


def x114_best_survivors(spark: SparkSession, sf_dir: str):
    """Quality-aware cluster dedup (components.dedup_survivors_by): the
    x23 minhash-LSH verified pair graph collapsed to one survivor per
    cluster, chosen by HIGHEST n_chars (ties -> smallest doc_id) — the
    FineWeb-style keep-the-best-member policy, vs dedup_survivors'
    min-id convention. The winner rank is the total order
    (score DESC, id ASC) via the hot-group-safe grouped_row_number;
    the corpus is touched once, by the final anti-join."""
    from meshinsights_data_pipeline_spark.operators.components import (
        dedup_survivors_by,
    )
    from meshinsights_data_pipeline_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2)
    return (
        dedup_survivors_by(docs, pairs, "doc_id", "n_chars")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def _x114_sql() -> str:
    base = _dedup_clusters_sql()
    # reuse the x23 fixpoint verbatim, swap the projection for the
    # best-member anti-join
    tail = "SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id"
    assert base.rstrip().endswith(tail.strip()), "x23 SQL shape changed"
    head = base[: base.rindex("SELECT id, MIN(r)")].rstrip()
    # head now ends with reach's closing paren; the comma continues the
    # WITH list
    return head + """,
    comp AS (
        SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    ranked AS (
        SELECT c.id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.id ASC) AS rk
        FROM comp c JOIN documents d ON d.doc_id = c.id
    )
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rk > 1)
    ORDER BY doc_id
    """


def x115_source_dup_matrix(spark: SparkSession, sf_dir: str):
    """Cross-source duplicate matrix (corpus.source_duplicate_matrix):
    per source pair, the share of each side's distinct content
    fingerprints also present in the other — WHERE inter-source
    duplication lives, the diagnostic the per-source report card can't
    see. The anchor runs the prefix_tokens=8 head-fingerprint tier
    (recrawl detection — trailing chrome differs, heads collide;
    full-text x01 identity is vacuously empty on this corpus and stays
    the operator default). Corpus collapses to distinct (source, fp)
    map-side; the self-join keys on the fingerprint (|sources|^2 per
    fp, never corpus^2); exact-integer fractions rounded once."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_duplicate_matrix,
    )

    docs = read_table(spark, sf_dir, "documents")
    return source_duplicate_matrix(
        docs, "source", "text", prefix_tokens=8
    ).orderBy("src_a", "src_b")


def _x115_sql() -> str:
    norm = _NORM_SQL.format(col="text")
    return f"""
WITH fps AS (
    SELECT DISTINCT source AS src,
           md5(array_to_string((string_split({norm}, ' '))[1:8], ' ')) AS fp
    FROM documents WHERE source IS NOT NULL
),
sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS sz FROM fps GROUP BY src),
shared AS (
    SELECT a.src AS src_a, b.src AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp
    WHERE a.src < b.src
    GROUP BY a.src, b.src
)
SELECT src_a, src_b, sa.sz AS fp_a, sb.sz AS fp_b, n_shared,
       ROUND(n_shared * 1.0 / sa.sz, 6) AS dup_frac_a,
       ROUND(n_shared * 1.0 / sb.sz, 6) AS dup_frac_b
FROM shared
JOIN sizes sa ON sa.src = src_a
JOIN sizes sb ON sb.src = src_b
ORDER BY src_a, src_b
"""


def x116_welch_ttest(spark: SparkSession, sf_dir: str):
    """Welch's t vs control over a derived experiment
    (abtest.welch_ttest): event_type is the experiment, odd/even
    user_id the arm, the event VALUE the continuous metric — the
    mean-readout companion of x105's rate readout. Per-cell moments
    use the zscore pivot discipline (DECIMAL(38,12) folds of
    d = v - cell-min), then mean/variance/se/t/Welch-df are single
    correctly-rounded IEEE ops in fixed operand order, so t and df are
    bit-identical across engines; significance compares the ROUNDED
    |t|. One corpus scan (materialized cell frame), broadcast control
    join."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        welch_ttest,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.col("value"),
    )
    return welch_ttest(
        ev, "experiment", "arm", "value", control_label="control"
    ).orderBy("experiment", "arm")


X116_SQL = """
WITH ev AS (
    SELECT event_type AS experiment,
           CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 't1' END AS arm,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
pv AS (
    SELECT experiment, arm, MIN(v) AS p FROM ev GROUP BY experiment, arm
),
cells AS (
    SELECT e.experiment, e.arm,
           CAST(COUNT(*) AS BIGINT) AS n, MIN(pv.p) AS p,
           CAST(SUM(CAST(e.v - pv.p AS DECIMAL(38,12))) AS DOUBLE) AS s,
           CAST(SUM(CAST((e.v - pv.p) * (e.v - pv.p)
                         AS DECIMAL(38,12))) AS DOUBLE) AS sq
    FROM ev e JOIN pv USING (experiment, arm)
    GROUP BY e.experiment, e.arm
),
st AS (
    SELECT experiment, arm, n, p + s / n AS mean_v,
           CASE WHEN n >= 2 THEN
               (sq / n - (s / n) * (s / n)) * (CAST(n AS DOUBLE) / (n - 1))
           END AS var_s
    FROM cells
),
j AS (
    SELECT a.experiment, a.arm,
           c.n AS n_control, a.n AS n_arm,
           c.mean_v AS mc, a.mean_v AS ma,
           c.var_s AS vc, a.var_s AS va
    FROM st a
    LEFT JOIN st c ON c.experiment = a.experiment AND c.arm = 'control'
    WHERE a.arm <> 'control'
),
calc AS (
    SELECT *, va / n_arm AS a1, vc / n_control AS a2 FROM j
),
z AS (SELECT *, SQRT(a1 + a2) AS se FROM calc)
SELECT experiment, arm, n_control, n_arm,
       n_control IS NOT NULL AS has_control,
       ROUND(mc, 6) AS mean_control,
       ROUND(ma, 6) AS mean_arm,
       ROUND(ma - mc, 6) AS diff,
       CASE WHEN se > 0 THEN ROUND((ma - mc) / se, 6) END AS t,
       CASE WHEN se > 0 THEN
           ROUND((a1 + a2) * (a1 + a2)
                 / (a1 * a1 / (n_arm - 1) + a2 * a2 / (n_control - 1)), 6)
       END AS df,
       COALESCE(ABS(CASE WHEN se > 0 THEN ROUND((ma - mc) / se, 6) END)
                > 1.959964, FALSE) AS significant
FROM z
ORDER BY experiment, arm
"""


def x117_chi2_independence(spark: SparkSession, sf_dir: str):
    """Chi-square independence + Cramér's V of order status vs priority
    (dq.chi2_independence) — the categorical-association forensic next
    to x109's Benford signature check. Every cell term is rewritten
    over exact integers ((o*N - r*c)^2 / (N*r*c), difference in
    DECIMAL(38,0)), one IEEE square + one division per cell, terms
    folded DECIMAL(38,18); V divides the UNROUNDED chi2. One corpus
    scan; everything after the materialized cell frame is
    contingency-table-sized."""
    from meshinsights_data_pipeline_spark.operators.dq import (
        chi2_independence,
    )

    o = read_table(spark, sf_dir, "orders")
    return chi2_independence(o, "o_orderstatus", "o_orderpriority")


X117_SQL = """
WITH base AS (
    SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
    WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
),
cells AS (
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM base GROUP BY a, b
),
rows_ AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY a),
cols_ AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY b),
tot AS (
    SELECT CAST(SUM(o) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS ra,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS cb
    FROM cells
),
terms AS (
    SELECT CAST(CAST(o AS DECIMAL(38,0)) * n
                - CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) AS dnum,
           CAST(CAST(n AS DECIMAL(38,0)) * r * c AS DOUBLE) AS denom,
           n, ra, cb
    FROM cells JOIN rows_ USING (a) JOIN cols_ USING (b) CROSS JOIN tot
),
agg AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(ra) AS BIGINT) AS r_levels,
           CAST(MAX(cb) AS BIGINT) AS c_levels,
           CAST(SUM(CAST((dnum * dnum) / denom AS DECIMAL(38,18)))
                AS DOUBLE) AS chi2u
    FROM terms
)
SELECT n, r_levels, c_levels,
       CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
       ROUND(chi2u, 6) AS chi2,
       CASE WHEN LEAST(r_levels - 1, c_levels - 1) >= 1 THEN
           ROUND(SQRT(chi2u / CAST(CAST(n AS DECIMAL(38,0))
                                   * LEAST(r_levels - 1, c_levels - 1)
                                   AS DOUBLE)), 6)
       END AS cramers_v
FROM agg
"""


def x118_autocorrelation(spark: SparkSession, sf_dir: str):
    """Per-user lag-1..3 autocorrelation of event values
    (trend.autocorrelation) — the periodicity detector beside x104's
    level-shift CUSUM and x108's monotone-drift Mann-Kendall. Sliced
    to users < 40 like its siblings (per-user series are
    self-contained); the (ts, event_id) total order makes the lag
    pairing deterministic, pivot-disciplined means and DECIMAL(38,12)
    product folds make the ratio bit-identical across engines."""
    from meshinsights_data_pipeline_spark.operators.trend import (
        autocorrelation,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return autocorrelation(
        ev, "ts", ["user_id"], "value", "event_id", lags=3
    ).orderBy("user_id", "lag")


X118_SQL = """
WITH clean AS (
    SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
    FROM events
    WHERE user_id < 40 AND ts IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
pv AS (SELECT user_id, MIN(v) AS p FROM clean GROUP BY user_id),
m AS (
    SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n, MIN(pv.p) AS p,
           CAST(SUM(CAST(c.v - pv.p AS DECIMAL(38,12))) AS DOUBLE) AS s
    FROM clean c JOIN pv USING (user_id) GROUP BY c.user_id
),
means AS (SELECT user_id, n, p + s / n AS mean_v FROM m),
cd AS (
    SELECT c.user_id, m2.n, c.v - m2.mean_v AS d,
           LAG(c.v - m2.mean_v, 1) OVER w AS d1,
           LAG(c.v - m2.mean_v, 2) OVER w AS d2,
           LAG(c.v - m2.mean_v, 3) OVER w AS d3
    FROM clean c JOIN means m2 USING (user_id)
    WINDOW w AS (PARTITION BY c.user_id ORDER BY c.ts, c.event_id)
),
stats AS (
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE) AS den,
           CAST(SUM(CAST(d * d1 AS DECIMAL(38,12))) AS DOUBLE) AS num1,
           CAST(SUM(CAST(d * d2 AS DECIMAL(38,12))) AS DOUBLE) AS num2,
           CAST(SUM(CAST(d * d3 AS DECIMAL(38,12))) AS DOUBLE) AS num3
    FROM cd GROUP BY user_id
)
SELECT user_id, lag, n,
       CASE WHEN den > 0 AND n > lag
            THEN ROUND(num / den, 6) + 0.0 END AS acf
FROM (
    SELECT user_id, n, 1 AS lag, num1 AS num, den FROM stats
    UNION ALL SELECT user_id, n, 2 AS lag, num2 AS num, den FROM stats
    UNION ALL SELECT user_id, n, 3 AS lag, num3 AS num, den FROM stats
)
ORDER BY user_id, lag
"""


def x119_js_divergence(spark: SparkSession, sf_dir: str):
    """Per-source Jensen-Shannon divergence from the corpus token mix
    (corpus.source_js_divergence) — the symmetric bounded mix distance
    beside x63's TV and x110's entropy. Absent-token mass folds into
    one closed-form ln2 term (no grid — only present (source, token)
    pairs materialize); every ln argument is an exact-integer ratio,
    summands fold DECIMAL(38,18), ln2 is a shared 12-decimal
    literal."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_js_divergence,
    )

    docs = read_table(spark, sf_dir, "documents")
    return source_js_divergence(docs, "source", "text").orderBy("source")


def _x119_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.corpus import LN2_LITERAL
    norm = _NORM_SQL.format(col="text")
    ln2 = f"CAST(CAST('{LN2_LITERAL}' AS DECIMAL(14,12)) AS DOUBLE)"
    return f"""
WITH counts AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM (
        SELECT source, unnest(string_split({norm}, ' ')) AS tok
        FROM documents
    )
    WHERE tok <> '' AND source IS NOT NULL
    GROUP BY source, tok
),
spine AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM counts GROUP BY tok),
sizes AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS ns,
           CAST(COUNT(*) AS BIGINT) AS types
    FROM counts GROUP BY source
),
tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM spine),
terms AS (
    SELECT counts.source, sizes.ns, sizes.types, tot.n, spine.ct, counts.c,
           CAST(CAST(counts.c AS DECIMAL(38,0)) * tot.n
                + CAST(spine.ct AS DECIMAL(38,0)) * sizes.ns AS DOUBLE) AS dd
    FROM counts
    JOIN spine USING (tok) JOIN sizes USING (source) CROSS JOIN tot
),
agg AS (
    SELECT source,
           CAST(MAX(ns) AS BIGINT) AS n_tokens,
           CAST(MAX(types) AS BIGINT) AS n_types,
           CAST(MAX(n) AS BIGINT) AS nn,
           CAST(SUM(CAST(
               (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
                 * ln(CAST(CAST(2 AS DECIMAL(38,0)) * c * n AS DOUBLE) / dd)
             + (CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(CAST(2 AS DECIMAL(38,0)) * ct * ns AS DOUBLE) / dd)
           AS DECIMAL(38,18))) AS DOUBLE) AS present,
           SUM(CAST(ct AS DECIMAL(38,0))) AS ct_present
    FROM terms GROUP BY source
)
SELECT source, n_tokens, n_types,
       ROUND((present + {ln2}
              * (1.0 - CAST(ct_present AS DOUBLE) / CAST(nn AS DOUBLE)))
             / 2.0, 6) + 0.0 AS js,
       ROUND(((present + {ln2}
               * (1.0 - CAST(ct_present AS DOUBLE) / CAST(nn AS DOUBLE)))
              / 2.0) / {ln2}, 6) + 0.0 AS js_norm
FROM agg
ORDER BY source
"""


def x120_mann_whitney(spark: SparkSession, sf_dir: str):
    """Mann-Whitney U vs control over the x116 derived experiment
    (abtest.mann_whitney_u) — the nonparametric leg of the two-sample
    triad (x105 proportions, x116 means, x120 distributions). Ranks
    never materialize per row: the pooled average-rank algebra runs on
    (pair, value) COUNTS with doubled rank sums as exact
    DECIMAL(38,0) integers, so u and every comparison are
    engine-exact; only the tie-term/variance/z divisions are IEEE ops,
    in fixed order, rounded once."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        mann_whitney_u,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.col("value"),
    )
    return mann_whitney_u(
        ev, "experiment", "arm", "value", control_label="control"
    ).orderBy("experiment", "arm")


X120_SQL = """
WITH ev AS (
    SELECT event_type AS experiment,
           CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 't1' END AS arm,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
cells AS (
    SELECT experiment, arm, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev GROUP BY experiment, arm, v
),
armcells AS (
    SELECT experiment, arm, v, c AS c_a, CAST(0 AS BIGINT) AS c_c
    FROM cells WHERE arm <> 'control'
),
armlist AS (SELECT DISTINCT experiment, arm FROM armcells),
ctrlcells AS (
    SELECT al.experiment, al.arm, c.v,
           CAST(0 AS BIGINT) AS c_a, c.c AS c_c
    FROM armlist al
    JOIN (SELECT experiment, v, c FROM cells WHERE arm = 'control') c
      ON c.experiment = al.experiment
),
pooled AS (
    SELECT experiment, arm, v,
           CAST(SUM(c_a) AS BIGINT) AS c_a,
           CAST(SUM(c_c) AS BIGINT) AS c_c
    FROM (SELECT * FROM armcells UNION ALL SELECT * FROM ctrlcells)
    GROUP BY experiment, arm, v
),
ranked AS (
    SELECT *,
           CAST(2 * COALESCE(SUM(c_a + c_c) OVER (
                    PARTITION BY experiment, arm ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + (c_a + c_c) + 1 AS DECIMAL(38,0)) AS r2
    FROM pooled
),
stats AS (
    SELECT experiment, arm,
           CAST(SUM(c_a) AS BIGINT) AS n_arm,
           CAST(SUM(c_c) AS BIGINT) AS n_control,
           SUM(CAST(c_a AS DECIMAL(38,0)) * r2) AS r2a,
           SUM(CAST(CAST(c_a + c_c AS DECIMAL(38,0))
                    * (c_a + c_c) * (c_a + c_c)
                    - (c_a + c_c) AS DECIMAL(38,0))) AS ties
    FROM ranked GROUP BY experiment, arm
),
calc AS (
    SELECT *,
           r2a - CAST(CAST(n_arm AS DECIMAL(38,0)) * (n_arm + 1)
                      AS DECIMAL(38,0)) AS u2,
           n_arm + n_control AS n
    FROM stats
),
zc AS (
    SELECT *,
           CAST(u2 - CAST(n_arm AS DECIMAL(38,0)) * n_control
                AS DOUBLE) / 2.0 AS d_half,
           CAST(CAST(n_arm AS DECIMAL(38,0)) * n_control
                AS DOUBLE) AS prod_d,
           CAST(ties AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)
             AS tie_term
    FROM calc
),
vv AS (
    SELECT *, prod_d / 12.0 * (CAST(n + 1 AS DOUBLE) - tie_term) AS var_u
    FROM zc
),
fin AS (
    SELECT *,
           CASE WHEN NOT (var_u > 0) THEN NULL
                WHEN d_half > 0 THEN (d_half - 0.5) / SQRT(var_u)
                WHEN d_half < 0 THEN (d_half + 0.5) / SQRT(var_u)
                ELSE 0.0 END AS zraw
    FROM vv
)
SELECT experiment, arm,
       CASE WHEN n_control > 0 THEN n_control END AS n_control,
       n_arm,
       n_control > 0 AS has_control,
       CASE WHEN n_control > 0 THEN CAST(u2 AS DOUBLE) / 2.0 END AS u,
       CASE WHEN n_control > 0 THEN ROUND(zraw, 6) + 0.0 END AS z,
       COALESCE(ABS(CASE WHEN n_control > 0
                         THEN ROUND(zraw, 6) + 0.0 END) > 1.959964,
                FALSE) AS significant
FROM fin
ORDER BY experiment, arm
"""


def x121_kruskal_wallis(spark: SparkSession, sf_dir: str):
    """Kruskal-Wallis H per experiment over THREE arms
    (abtest.kruskal_wallis): event_type is the experiment, user_id % 3
    the arm — the k-sample omnibus gate upstream of x120's pairwise
    readouts. One pooled ranking per experiment (the x120 count-table
    algebra, doubled ranks as exact integers), per-arm R^2/n terms
    folded DECIMAL(38,6), fixed-order IEEE H with the full tie
    correction."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        kruskal_wallis,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        (F.col("user_id") % 3).cast("string").alias("arm"),
        F.col("value"),
    )
    return kruskal_wallis(ev, "experiment", "arm", "value").orderBy(
        "experiment"
    )


X121_SQL = """
WITH ev AS (
    SELECT event_type AS experiment,
           CAST(user_id % 3 AS VARCHAR) AS arm,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
cells AS (
    SELECT experiment, arm, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev GROUP BY experiment, arm, v
),
pooled AS (
    SELECT experiment, v, CAST(SUM(c) AS BIGINT) AS t
    FROM cells GROUP BY experiment, v
),
ranked AS (
    SELECT *,
           CAST(2 * COALESCE(SUM(t) OVER (
                    PARTITION BY experiment ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS DECIMAL(38,0)) AS r2
    FROM pooled
),
armsums AS (
    SELECT c.experiment, c.arm,
           CAST(SUM(c.c) AS BIGINT) AS n_a,
           SUM(CAST(c.c AS DECIMAL(38,0)) * r.r2) AS r2a
    FROM cells c
    JOIN ranked r ON r.experiment = c.experiment AND r.v = c.v
    GROUP BY c.experiment, c.arm
),
perexp AS (
    SELECT experiment, CAST(COUNT(*) AS BIGINT) AS k_arms,
           CAST(SUM(n_a) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE) / n_a
                         AS DECIMAL(38,6))) AS DOUBLE) AS s4
    FROM armsums GROUP BY experiment
),
tiesums AS (
    SELECT experiment,
           SUM(CAST(CAST(t AS DECIMAL(38,0)) * t * t - t
                    AS DECIMAL(38,0))) AS ties
    FROM pooled GROUP BY experiment
),
fin AS (
    SELECT p.experiment, k_arms, n, s4,
           1.0 - CAST(ties AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(38,0)) * n * n - n AS DOUBLE)
               AS corr,
           3.0 * s4 / CAST(CAST(n AS DECIMAL(38,0)) * (n + 1) AS DOUBLE)
               - 3.0 * CAST(n + 1 AS DOUBLE) AS h_raw
    FROM perexp p JOIN tiesums USING (experiment)
    WHERE k_arms >= 2
)
SELECT experiment, k_arms, n, CAST(k_arms - 1 AS BIGINT) AS dof,
       CASE WHEN corr > 0 THEN ROUND(h_raw / corr, 6) + 0.0 END AS h
FROM fin
ORDER BY experiment
"""


def x122_spearman(spark: SparkSession, sf_dir: str):
    """Spearman rank correlation of quantity vs price per return flag
    (stats.spearman_correlation) — the monotone-association readout
    over two metrics, with l_quantity's integer values forcing heavy
    ties through the average-rank algebra. Doubled ranks keep every
    closed-form sum an exact DECIMAL(38,0) integer; the only float
    steps are one multiply, one sqrt, one division, rounded once."""
    from meshinsights_data_pipeline_spark.operators.stats import (
        spearman_correlation,
    )

    li = read_table(spark, sf_dir, "lineitem")
    return spearman_correlation(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    ).orderBy("l_returnflag")


X122_SQL = """
WITH clean AS (
    SELECT l_returnflag AS g,
           CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
    WHERE l_returnflag IS NOT NULL
      AND l_quantity IS NOT NULL
      AND NOT isnan(CAST(l_quantity AS DOUBLE))
      AND l_extendedprice IS NOT NULL
      AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
),
xc AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS t FROM clean GROUP BY g, x),
xr AS (
    SELECT g, x,
           CAST(2 * COALESCE(SUM(t) OVER (
                    PARTITION BY g ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS DECIMAL(38,0)) AS rx
    FROM xc
),
yc AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS t FROM clean GROUP BY g, y),
yr AS (
    SELECT g, y,
           CAST(2 * COALESCE(SUM(t) OVER (
                    PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS DECIMAL(38,0)) AS ry
    FROM yc
),
j AS (
    SELECT c.g, xr.rx, yr.ry
    FROM clean c
    JOIN xr ON xr.g = c.g AND xr.x = c.x
    JOIN yr ON yr.g = c.g AND yr.y = c.y
),
agg AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(rx) AS sx, SUM(ry) AS sy,
           SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
           SUM(rx * ry) AS sxy
    FROM j GROUP BY g
)
SELECT g AS l_returnflag, n,
       CASE WHEN n >= 2
                 AND CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                          AS DOUBLE) > 0
                 AND CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                          AS DOUBLE) > 0
            THEN ROUND(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy
                            AS DOUBLE)
                       / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                                   AS DOUBLE)
                              * CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                                     AS DOUBLE)), 6) + 0.0
       END AS rho
FROM agg
ORDER BY l_returnflag
"""


def x123_correlation_ratio(spark: SparkSession, sf_dir: str):
    """Correlation ratio eta^2 of event value vs hour-of-day per event
    type (stats.correlation_ratio) — the seasonality-strength /
    cat-num association score completing the triad (x117 cat-cat, x122
    num-num). Pivot-disciplined DECIMAL(38,12) per-(type, hour)
    moments; s_c^2/n_c terms folded DECIMAL(38,6) (the x121 fold);
    fixed-order IEEE SS algebra mirrored in the oracle."""
    from meshinsights_data_pipeline_spark.operators.stats import (
        correlation_ratio,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.hour("ts").alias("hod"),
        F.col("value"),
    )
    return correlation_ratio(
        ev, ["event_type"], "hod", "value"
    ).orderBy("event_type")


X123_SQL = """
WITH clean AS (
    SELECT event_type AS g,
           CAST(EXTRACT(hour FROM ts) AS INT) AS cat,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
pv AS (SELECT g, MIN(v) AS p FROM clean GROUP BY g),
cm AS (
    SELECT c.g, c.cat,
           CAST(COUNT(*) AS BIGINT) AS n_c,
           SUM(CAST(c.v - pv.p AS DECIMAL(38,12))) AS s_c,
           SUM(CAST((c.v - pv.p) * (c.v - pv.p)
                    AS DECIMAL(38,12))) AS sq_c
    FROM clean c JOIN pv USING (g)
    GROUP BY c.g, c.cat
),
agg AS (
    SELECT g, CAST(SUM(n_c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS k_levels,
           CAST(SUM(s_c) AS DOUBLE) AS s,
           CAST(SUM(sq_c) AS DOUBLE) AS sq,
           CAST(SUM(CAST(CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n_c
                         AS DECIMAL(38,6))) AS DOUBLE) AS t1
    FROM cm GROUP BY g
)
SELECT g AS event_type, n, k_levels,
       CASE WHEN n >= 2 AND sq - s * s / n > 0
            THEN ROUND((t1 - s * s / n) / (sq - s * s / n), 6) + 0.0
       END AS eta2
FROM agg
ORDER BY event_type
"""


def x124_roc_auc(spark: SparkSession, sf_dir: str):
    """Per-event-type ROC-AUC (mleval.roc_auc) of the event VALUE as a
    scorer for the even-user class — the threshold-free
    classifier-quality readout over the same derived labeling the
    x105/x116/x120 experiment family uses, closing the loop from
    "do the arms differ" to "how well does this score separate them".
    Ranks never materialize per row: the rank-sum identity runs on
    (group, score) pos/neg COUNTS with doubled average ranks as exact
    DECIMAL(38,0) integers (the x120 algebra), so the numerator
    2*R_pos - n_pos(n_pos+1) is integer-exact and AUC is one IEEE
    division, rounded once."""
    from meshinsights_data_pipeline_spark.operators.mleval import roc_auc

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        (F.col("user_id") % 2 == 0).alias("label"),
        F.col("value"),
    )
    return roc_auc(ev, ["event_type"], "label", "value").orderBy(
        "event_type"
    )


X124_SQL = """
WITH ev AS (
    SELECT event_type, (user_id % 2 = 0) AS y,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
cells AS (
    SELECT event_type, v,
           CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
           CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
    FROM ev GROUP BY event_type, v
),
ranked AS (
    SELECT *,
           CAST(2 * COALESCE(SUM(pos + neg) OVER (
                    PARTITION BY event_type ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + (pos + neg) + 1 AS DECIMAL(38,0)) AS r2
    FROM cells
),
agg AS (
    SELECT event_type,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           SUM(CAST(pos AS DECIMAL(38,0)) * r2) AS r2p
    FROM ranked GROUP BY event_type
)
SELECT event_type, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           ROUND(CAST(r2p - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)
                      AS DOUBLE)
                 / (2.0 * CAST(CAST(n_pos AS DECIMAL(38,0)) * n_neg
                               AS DOUBLE)), 6) + 0.0
       END AS auc
FROM agg
ORDER BY event_type
"""


def x125_calibration(spark: SparkSession, sf_dir: str):
    """Per-event-type calibration report (mleval.calibration_report):
    value/100 as a [0,1] confidence for the user_id%3 outcome —
    ECE/MCE over 10 fixed equal-width bins plus the binning-free Brier
    score. ~1/4 of the scores exceed 1.0, exercising the
    clamp-before-cast edge-bin rule (the ks_value_counts ANSI lesson)
    in the anchor itself. Bin moments fold DECIMAL(38,12) (bounded
    domain — exact over a fixed quantum), ECE terms fold
    DECIMAL(38,18), fixed-order IEEE ops mirrored in the oracle."""
    from meshinsights_data_pipeline_spark.operators.mleval import (
        calibration_report,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        (F.col("value").cast("double") / F.lit(100.0)).alias("score"),
        (F.col("user_id") % 3 == 0).alias("label"),
    )
    return calibration_report(
        ev, ["event_type"], "score", "label", bins=10
    ).orderBy("event_type")


X125_SQL = """
WITH ev AS (
    SELECT event_type,
           CAST(value AS DOUBLE) / 100.0 AS s,
           (user_id % 3 = 0) AS y
    FROM events
    WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE) / 100.0)
),
binned AS (
    SELECT event_type, s,
           CASE WHEN y THEN 1 ELSE 0 END AS yi,
           LEAST(9, CAST(FLOOR(GREATEST(0.0, LEAST(1.0, s)) * 10)
                         AS INT)) AS b
    FROM ev
),
per_bin AS (
    SELECT event_type, b,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(yi) AS BIGINT) AS np,
           SUM(CAST(s AS DECIMAL(38,12))) AS ssum,
           SUM(CAST((s - CAST(yi AS DOUBLE)) * (s - CAST(yi AS DOUBLE))
                    AS DECIMAL(38,12))) AS rsum
    FROM binned GROUP BY event_type, b
),
gaps AS (
    SELECT event_type, n_b, rsum,
           ABS(CAST(np AS DOUBLE) / n_b
               - CAST(ssum AS DOUBLE) / n_b) AS gap
    FROM per_bin
)
SELECT event_type,
       CAST(SUM(n_b) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(CAST(n_b AS DOUBLE) * gap AS DECIMAL(38,18)))
                  AS DOUBLE) / SUM(n_b), 6) + 0.0 AS ece,
       ROUND(MAX(gap), 6) + 0.0 AS mce,
       ROUND(CAST(SUM(rsum) AS DOUBLE) / SUM(n_b), 6) + 0.0 AS brier
FROM gaps
GROUP BY event_type
ORDER BY event_type
"""


def x126_cohens_kappa(spark: SparkSession, sf_dir: str):
    """Per-source Cohen's kappa (mleval.cohens_kappa) between the
    document language label and a deterministically-noised copy (every
    7th doc relabeled 'xx') — the LLM-judge-vs-rater agreement readout
    over the documents table; sources where the noise never fired
    exercise the pe=1 NULL guard. Every operand of kappa stays an
    exact DECIMAL(38,0) integer via the (n*diag - sum_rc) /
    (n^2 - sum_rc) rewrite; one IEEE division, rounded once."""
    from meshinsights_data_pipeline_spark.operators.mleval import (
        cohens_kappa,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("source"),
        F.col("lang").alias("rater_a"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("rater_b"),
    )
    return cohens_kappa(docs, ["source"], "rater_a", "rater_b").orderBy(
        "source"
    )


X126_SQL = """
WITH base AS (
    SELECT source,
           lang AS a,
           CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS b
    FROM documents
    WHERE source IS NOT NULL AND lang IS NOT NULL
),
cells AS (
    SELECT source, a, b, CAST(COUNT(*) AS BIGINT) AS c
    FROM base GROUP BY source, a, b
),
rows_ AS (
    SELECT source, a, CAST(SUM(c) AS BIGINT) AS r
    FROM cells GROUP BY source, a
),
cols_ AS (
    SELECT source, b, CAST(SUM(c) AS BIGINT) AS k
    FROM cells GROUP BY source, b
),
tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
    FROM cells GROUP BY source
),
rc AS (
    SELECT rows_.source,
           SUM(CAST(r AS DECIMAL(38,0)) * k) AS sum_rc
    FROM rows_ JOIN cols_
      ON cols_.source = rows_.source AND cols_.b = rows_.a
    GROUP BY rows_.source
)
SELECT tot.source, n,
       ROUND(CAST(diag AS DOUBLE) / n, 6) + 0.0 AS po,
       ROUND(CAST(COALESCE(sum_rc, 0) AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE), 6)
           + 0.0 AS pe,
       CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * n - COALESCE(sum_rc, 0)
                      AS DOUBLE) > 0
            THEN ROUND(CAST(CAST(n AS DECIMAL(38,0)) * diag
                            - COALESCE(sum_rc, 0) AS DOUBLE)
                       / CAST(CAST(n AS DECIMAL(38,0)) * n
                              - COALESCE(sum_rc, 0) AS DOUBLE), 6) + 0.0
       END AS kappa
FROM tot LEFT JOIN rc ON rc.source = tot.source
ORDER BY tot.source
"""


def x127_cliffs_delta(spark: SparkSession, sf_dir: str):
    """Cliff's delta effect size vs control (abtest.cliffs_delta) over
    the x120 derived experiment — the magnitude companion of x120's
    significance readout, computed from the SAME Mann-Whitney
    count-table sufficient statistic: delta = (2U - n_a*n_c) /
    (n_a*n_c) with 2U the doubled-rank exact integer, so delta is one
    IEEE division of exact DECIMAL(38,0) operands, rounded once; a
    missing control surfaces with has_control=false and NULL
    n_control/delta (the family's left-join discipline)."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        cliffs_delta,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.col("value"),
    )
    return cliffs_delta(
        ev, "experiment", "arm", "value", control_label="control"
    ).orderBy("experiment", "arm")


X127_SQL = """
WITH ev AS (
    SELECT event_type AS experiment,
           CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 't1' END AS arm,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
cells AS (
    SELECT experiment, arm, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev GROUP BY experiment, arm, v
),
armcells AS (
    SELECT experiment, arm, v, c AS c_a, CAST(0 AS BIGINT) AS c_c
    FROM cells WHERE arm <> 'control'
),
armlist AS (SELECT DISTINCT experiment, arm FROM armcells),
ctrlcells AS (
    SELECT al.experiment, al.arm, c.v,
           CAST(0 AS BIGINT) AS c_a, c.c AS c_c
    FROM armlist al
    JOIN (SELECT experiment, v, c FROM cells WHERE arm = 'control') c
      ON c.experiment = al.experiment
),
pooled AS (
    SELECT experiment, arm, v,
           CAST(SUM(c_a) AS BIGINT) AS c_a,
           CAST(SUM(c_c) AS BIGINT) AS c_c
    FROM (SELECT * FROM armcells UNION ALL SELECT * FROM ctrlcells)
    GROUP BY experiment, arm, v
),
ranked AS (
    SELECT *,
           CAST(2 * COALESCE(SUM(c_a + c_c) OVER (
                    PARTITION BY experiment, arm ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + (c_a + c_c) + 1 AS DECIMAL(38,0)) AS r2
    FROM pooled
),
stats AS (
    SELECT experiment, arm,
           CAST(SUM(c_a) AS BIGINT) AS n_arm,
           CAST(SUM(c_c) AS BIGINT) AS n_control,
           SUM(CAST(c_a AS DECIMAL(38,0)) * r2) AS r2a
    FROM ranked GROUP BY experiment, arm
),
calc AS (
    SELECT *,
           r2a - CAST(CAST(n_arm AS DECIMAL(38,0)) * (n_arm + 1)
                      AS DECIMAL(38,0)) AS u2,
           CAST(CAST(n_arm AS DECIMAL(38,0)) * n_control
                AS DECIMAL(38,0)) AS prod
    FROM stats
)
SELECT experiment, arm,
       CASE WHEN n_control > 0 THEN n_control END AS n_control,
       n_arm,
       n_control > 0 AS has_control,
       CASE WHEN n_control > 0 THEN
           ROUND(CAST(u2 - prod AS DOUBLE) / CAST(prod AS DOUBLE), 6) + 0.0
       END AS delta
FROM calc
ORDER BY experiment, arm
"""


def x128_bootstrap_ci(spark: SparkSession, sf_dir: str):
    """Percentile-bootstrap 95% CI of the mean event value per event
    type (bootstrap.bootstrap_mean_ci, B=60) — the distribution-free
    uncertainty band the z/t readouts (x105/x116) approximate
    parametrically. Every (row, replicate) Poisson weight is a pure
    function of (event_id, b): ONE md5 per row spread across replicates
    by exact-BIGINT affine maps (bootstrap.replicate_constants literals)
    against shared 12-decimal Poisson(1)-CDF literals, so the
    resamples — and the CI — are bit-identical across engines: replicate means fold w*v through
    DECIMAL(38,12), the sample mean rides the same single pass as
    pseudo-replicate b=-1, and the bounds are exact interpolated
    percentiles over the replicate means."""
    from meshinsights_data_pipeline_spark.operators.bootstrap import (
        bootstrap_mean_ci,
    )

    ev = read_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, ["event_type"], "value", "event_id", b=60
    ).orderBy("event_type")


def _x128_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.bootstrap import (
        BOOT_PRIME,
        POISSON1_CDF,
        replicate_constants,
    )

    w_case = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(POISSON1_CDF)
    ) + " ELSE 6 END"
    a_k, c_k = replicate_constants(60)
    consts = ", ".join(
        ["(-1, 0, 0)"]
        + [f"({k}, {a_k[k]}, {c_k[k]})" for k in range(60)]
    )
    return f"""
WITH base AS (
    SELECT event_type AS g,
           ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)
           )::BIGINT % {BOOT_PRIME} AS h,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND event_id IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
reps AS (
    SELECT g, h, v, b, a, c
    FROM base CROSS JOIN (VALUES {consts}) AS t(b, a, c)
),
wts AS (
    SELECT g, b, v,
           CASE WHEN b = -1 THEN 1 ELSE {w_case} END AS w
    FROM (
        SELECT *,
               CAST((a * h + c) % {BOOT_PRIME} AS DOUBLE)
                   / {BOOT_PRIME}.0 AS u
        FROM reps
    )
),
moments AS (
    SELECT g, b,
           SUM(CAST(w * v AS DECIMAL(38,12))) AS s,
           CAST(SUM(w) AS BIGINT) AS n_w,
           CAST(COUNT(*) AS BIGINT) AS rows_
    FROM wts GROUP BY g, b
),
means AS (
    SELECT g, b, rows_, CAST(s AS DOUBLE) / n_w AS m
    FROM moments WHERE n_w > 0
),
sample AS (
    SELECT g, rows_ AS n, m AS sample_mean FROM means WHERE b = -1
),
ranked AS (
    SELECT g, m, ROW_NUMBER() OVER (PARTITION BY g ORDER BY m) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS nb
    FROM means WHERE b >= 0
),
lo AS (
    SELECT r.g, r.nb AS b_reps,
           ROUND(r.m + (h.m - r.m)
                 * (CAST(r.nb - 1 AS DOUBLE) * 0.025
                    - FLOOR(CAST(r.nb - 1 AS DOUBLE) * 0.025)), 6)
               + 0.0 AS ci_lo
    FROM ranked r
    JOIN ranked h ON h.g = r.g
       AND h.rk = CAST(CEIL(CAST(r.nb - 1 AS DOUBLE) * 0.025) + 1 AS BIGINT)
    WHERE r.rk = CAST(FLOOR(CAST(r.nb - 1 AS DOUBLE) * 0.025) + 1 AS BIGINT)
),
hi AS (
    SELECT r.g,
           ROUND(r.m + (h.m - r.m)
                 * (CAST(r.nb - 1 AS DOUBLE) * 0.975
                    - FLOOR(CAST(r.nb - 1 AS DOUBLE) * 0.975)), 6)
               + 0.0 AS ci_hi
    FROM ranked r
    JOIN ranked h ON h.g = r.g
       AND h.rk = CAST(CEIL(CAST(r.nb - 1 AS DOUBLE) * 0.975) + 1 AS BIGINT)
    WHERE r.rk = CAST(FLOOR(CAST(r.nb - 1 AS DOUBLE) * 0.975) + 1 AS BIGINT)
)
SELECT sample.g AS event_type, n,
       COALESCE(b_reps, 0) AS b_reps,
       ROUND(sample_mean, 6) + 0.0 AS mean, ci_lo, ci_hi
FROM sample
LEFT JOIN lo ON lo.g = sample.g
LEFT JOIN hi ON hi.g = sample.g
ORDER BY event_type
"""


def x129_sprt(spark: SparkSession, sf_dir: str):
    """Wald SPRT decisions per (event type, derived arm)
    (abtest.sprt_bernoulli): is each arm's rate of high-value events
    (value > 30) at baseline p0=0.3 or lifted p1=0.35 — the
    anytime-valid decision layer the A/B twins' peeking caveat points
    at. The four ln constants are python-computed 12-decimal literals
    shared verbatim with this oracle; llr and both boundary
    comparisons are pure exact-DECIMAL algebra (exact integer counts x
    literal constants), so borderline decisions are bit-identical by
    construction — no IEEE op exists in the statistic."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        sprt_bernoulli,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        (F.col("value") > 30).alias("conv"),
    )
    return sprt_bernoulli(
        ev, "experiment", "arm", "conv", p0=0.3, p1=0.35
    ).orderBy("experiment", "arm")


def _x129_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.abtest import (
        sprt_constants,
    )

    k = sprt_constants(0.3, 0.35, alpha=0.05, beta=0.2)
    return f"""
WITH ev AS (
    SELECT event_type AS experiment,
           CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 't1' END AS arm,
           CASE WHEN value > 30 THEN 1 ELSE 0 END AS conv
    FROM events
),
cells AS (
    SELECT experiment, arm,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(conv) AS BIGINT) AS x
    FROM ev GROUP BY experiment, arm
),
calc AS (
    SELECT *,
           CAST(x AS DECIMAL(18,0)) * CAST('{k["c1"]}' AS DECIMAL(14,12))
         + CAST(n - x AS DECIMAL(18,0)) * CAST('{k["c0"]}' AS DECIMAL(14,12))
               AS llr
    FROM cells
    WHERE experiment IS NOT NULL AND arm IS NOT NULL
)
SELECT experiment, arm, n, x,
       ROUND(CAST(llr AS DOUBLE), 6) + 0.0 AS llr,
       CASE WHEN llr >= CAST('{k["upper"]}' AS DECIMAL(14,12))
                THEN 'accept_h1'
            WHEN llr <= CAST('{k["lower"]}' AS DECIMAL(14,12))
                THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM calc
ORDER BY experiment, arm
"""


def x130_cuped(spark: SparkSession, sf_dir: str):
    """CUPED-adjusted arm means (abtest.cuped_adjusted_means): event
    value adjusted by the floor(value/10) covariate — deliberately
    highly correlated so the anchor exercises a LARGE variance
    reduction (the operator's whole point) plus the exact closed-form
    moment algebra: per-(experiment, arm) pivot-disciplined
    DECIMAL(38,12) folds with the pivots keyed per EXPERIMENT so arm
    moments sum exactly into the pooled theta, then fixed-order IEEE
    mean/var/cov/theta/adjustment steps mirrored in this oracle."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        cuped_adjusted_means,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.col("value"),
        F.floor(F.col("value").cast("double") / F.lit(10.0))
        .cast("double").alias("pre_metric"),
    )
    return cuped_adjusted_means(
        ev, "experiment", "arm", "value", "pre_metric"
    ).orderBy("experiment", "arm")


X130_SQL = """
WITH base AS (
    SELECT event_type AS experiment,
           CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 't1' END AS arm,
           CAST(value AS DOUBLE) AS y,
           CAST(FLOOR(CAST(value AS DOUBLE) / 10.0) AS DOUBLE) AS x
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
pv AS (
    SELECT experiment, MIN(y) AS py, MIN(x) AS px
    FROM base GROUP BY experiment
),
cells AS (
    SELECT b.experiment, b.arm,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(pv.py) AS py,
           SUM(CAST(b.y - pv.py AS DECIMAL(38,12))) AS sy,
           SUM(CAST(b.x - pv.px AS DECIMAL(38,12))) AS sx,
           SUM(CAST((b.y - pv.py) * (b.y - pv.py)
                    AS DECIMAL(38,12))) AS syy,
           SUM(CAST((b.x - pv.px) * (b.x - pv.px)
                    AS DECIMAL(38,12))) AS sxx,
           SUM(CAST((b.x - pv.px) * (b.y - pv.py)
                    AS DECIMAL(38,12))) AS sxy
    FROM base b JOIN pv USING (experiment)
    GROUP BY b.experiment, b.arm
),
pooled AS (
    SELECT experiment,
           CAST(SUM(n) AS DOUBLE) AS pn,
           CAST(SUM(sy) AS DOUBLE) AS psy,
           CAST(SUM(sx) AS DOUBLE) AS psx,
           CAST(SUM(sxx) AS DOUBLE) AS psxx,
           CAST(SUM(sxy) AS DOUBLE) AS psxy
    FROM cells GROUP BY experiment
),
th AS (
    SELECT experiment,
           CASE WHEN psxx / pn - (psx / pn) * (psx / pn) > 0
                THEN (psxy / pn - (psx / pn) * (psy / pn))
                     / (psxx / pn - (psx / pn) * (psx / pn))
           END AS theta,
           psx / pn AS xbar
    FROM pooled
),
armcalc AS (
    SELECT c.experiment, c.arm, c.n, c.py,
           CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE) AS ybar,
           CAST(c.sx AS DOUBLE) / CAST(c.n AS DOUBLE) AS xbarm,
           CASE WHEN c.n >= 2 THEN
               (CAST(c.syy AS DOUBLE) / CAST(c.n AS DOUBLE)
                - (CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE))
                  * (CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE)))
               * (CAST(c.n AS DOUBLE) / (c.n - 1))
           END AS var_y,
           CASE WHEN c.n >= 2 THEN
               (CAST(c.sxx AS DOUBLE) / CAST(c.n AS DOUBLE)
                - (CAST(c.sx AS DOUBLE) / CAST(c.n AS DOUBLE))
                  * (CAST(c.sx AS DOUBLE) / CAST(c.n AS DOUBLE)))
               * (CAST(c.n AS DOUBLE) / (c.n - 1))
           END AS var_x,
           CASE WHEN c.n >= 2 THEN
               (CAST(c.sxy AS DOUBLE) / CAST(c.n AS DOUBLE)
                - (CAST(c.sx AS DOUBLE) / CAST(c.n AS DOUBLE))
                  * (CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE)))
               * (CAST(c.n AS DOUBLE) / (c.n - 1))
           END AS cov,
           th.theta, th.xbar
    FROM cells c JOIN th ON th.experiment = c.experiment
)
SELECT experiment, arm, n,
       ROUND(py + ybar, 6) + 0.0 AS mean_raw,
       ROUND(py + ybar - theta * (xbarm - xbar), 6) + 0.0 AS mean_adj,
       ROUND(theta, 6) + 0.0 AS theta,
       CASE WHEN var_y > 0 THEN
           ROUND(1.0 - (var_y - 2.0 * theta * cov
                        + theta * theta * var_x) / var_y, 6) + 0.0
       END AS var_reduction
FROM armcalc
ORDER BY experiment, arm
"""


def x131_hll_cardinality(spark: SparkSession, sf_dir: str):
    """Per-source HLL approximate COUNT(DISTINCT text) at p=8 (m=256
    registers — constant state per source vs the corpus-keyed shuffle
    an exact distinct needs at 100 TB). Register index/rank come from
    one md5 per row; the rank is a generated integer-comparison chain
    (never IEEE log2), the harmonic sum folds as exact scaled integers
    in DECIMAL(38,0), alpha_m is a shared 12-decimal literal, and the
    estimate is ONE IEEE division. At sf0.01 the per-source distinct
    counts are small, so the Heule linear-counting branch IS exercised
    — its single ln has a FINITE argument domain (m/V, V in 1..m-1),
    and the staging session verified all 255 possible m=256 outputs
    (and the m=16/64/1024 domains) bit-identical between Spark's
    Math.log and DuckDB's ln after the round-4: the branch is
    exhaustively deterministic cross-engine, not probabilistically."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        hll_cardinality,
    )

    docs = read_table(spark, sf_dir, "documents")
    return hll_cardinality(docs, ["source"], "text", p=8).orderBy(
        "source"
    )


def _x131_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.sketch import (
        _hll_alpha,
        hll_rho_sql,
    )

    p = 8
    m = 1 << p
    nbits = 60 - p
    scale = 61 - p
    rho = hll_rho_sql(f"(h >> {p})", nbits)
    term = "CASE rho " + " ".join(
        f"WHEN {r} THEN {1 << (scale - r)}" for r in range(1, nbits + 2)
    ) + " END"
    alpha = _hll_alpha(m)
    num = repr(float(m) * float(m) * float(1 << scale))
    return f"""
WITH base AS (
    SELECT source, {_H60_SQL.format(s="text")} AS h
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
regs AS (
    SELECT source, CAST(h % {m} AS INT) AS reg, MAX({rho}) AS rho
    FROM base GROUP BY source, h % {m}
),
agg AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_registers,
           SUM(CAST({term} AS DECIMAL(38,0))) AS zf
    FROM regs GROUP BY source
),
est AS (
    SELECT source, n_registers,
           {alpha} * {num}
           / CAST(zf + CAST({m} - n_registers AS DECIMAL(38,0))
                       * {1 << scale} AS DOUBLE) AS raw
    FROM agg
)
SELECT source, n_registers,
       ROUND(CASE WHEN raw <= {2.5 * m} AND n_registers < {m}
                  THEN {float(m)} * ln({float(m)} / ({m} - n_registers))
                  ELSE raw END, 4) + 0.0 AS estimate
FROM est
ORDER BY source
"""


def x132_cms_heavy_hitters(spark: SparkSession, sf_dir: str):
    """Count-min frequency estimates per source for the corpus's exact
    top-15 tokens (sketch.cms_counts depth=4 x width=1024 — constant
    counter state per source regardless of vocabulary size; the
    upper-bound point estimate is min over 4 affine bucket rows from
    ONE md5 per token occurrence, the bootstrap hash-once lesson).
    Items come from the exact x32-style vocabulary top-15 (count desc,
    token asc) so the anchor checks sketch-vs-truth on the heaviest
    keys, where CMS is tight."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        cms_counts,
        cms_estimate,
    )
    from meshinsights_data_pipeline_spark.operators.text import (
        normalized_text,
    )

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    ).select(
        "source",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias(
            "token"
        ),
    ).filter(F.col("token") != "")
    items = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("token").asc())
        .limit(15)
        .select("token")
    )
    state = cms_counts(toks, ["source"], "token", depth=4, width=1024)
    return cms_estimate(
        state, ["source"], items, "token", depth=4, width=1024
    ).orderBy("source", "token")


def _x132_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.sketch import (
        SKETCH_PRIME,
        cms_row_constants,
    )

    depth, width = 4, 1024
    a_r, c_r = cms_row_constants(depth)
    consts = ", ".join(
        f"({r}, {a_r[r]}, {c_r[r]})" for r in range(depth)
    )
    norm = _NORM_SQL.format(col="text")
    h = _H60_SQL.format(s="token")
    return f"""
WITH toks AS (
    SELECT source, unnest(string_split({norm}, ' ')) AS token
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
tt AS (SELECT source, token FROM toks WHERE token <> ''),
items AS (
    SELECT token FROM tt GROUP BY token
    ORDER BY COUNT(*) DESC, token ASC LIMIT 15
),
hashed AS (
    SELECT source, {h} % {SKETCH_PRIME} AS hh FROM tt
),
state AS (
    SELECT source, r, (a * hh + c) % {SKETCH_PRIME} % {width} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM hashed CROSS JOIN (VALUES {consts}) AS t(r, a, c)
    GROUP BY source, r, (a * hh + c) % {SKETCH_PRIME} % {width}
),
probes AS (
    SELECT token, r,
           (a * ({h} % {SKETCH_PRIME}) + c) % {SKETCH_PRIME} % {width}
               AS bucket
    FROM items CROSS JOIN (VALUES {consts}) AS t(r, a, c)
),
grid AS (
    SELECT g.source, p.token, p.r, p.bucket
    FROM (SELECT DISTINCT source FROM state) g CROSS JOIN probes p
)
SELECT gsource AS source, gtoken AS token, estimate
FROM (
    SELECT grid.source AS gsource, grid.token AS gtoken,
           MIN(COALESCE(state.c, 0)) AS estimate
    FROM grid LEFT JOIN state
        ON state.source = grid.source AND state.r = grid.r
       AND state.bucket = grid.bucket
    GROUP BY grid.source, grid.token
)
ORDER BY source, token
"""


def x133_kmv_overlap(spark: SparkSession, sf_dir: str):
    """Estimated pairwise source overlap (Jaccard / union /
    intersection cardinalities) from bottom-128 KMV sketches of the
    raw text values (sketch.kmv_pairwise_overlap) — the x57 exact
    overlap matrix's 100 TB shape: sketches are |S| x k rows, the pair
    stage |S|^2 x k, and the corpus is hashed once and never joined
    against itself. Estimators are the Beyer et al. (k-1)/h_k form —
    exact-integer operands, one IEEE division, rounded once."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        kmv_pairwise_overlap,
    )

    docs = read_table(spark, sf_dir, "documents")
    return kmv_pairwise_overlap(docs, "source", "text", k=128).orderBy(
        "source_a", "source_b"
    )


def _x133_sql() -> str:
    k = 128
    h = _H60_SQL.format(s="text")
    two60 = "1152921504606846976.0"
    return f"""
WITH dist AS (
    SELECT DISTINCT source, {h} AS h
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
sk AS (
    SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM dist
    ) WHERE rk <= {k}
),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
    SELECT a.source AS sa, b.source AS sb
    FROM srcs a JOIN srcs b ON a.source < b.source
),
u AS (
    SELECT sa, sb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        SELECT p.sa, p.sb, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, s.h, 0, 1
        FROM pairs p JOIN sk s ON s.source = p.sb
    ) GROUP BY sa, sb, h
),
usk AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY sa, sb ORDER BY h) AS rk
        FROM u
    ) WHERE rk <= {k}
),
agg AS (
    SELECT sa, sb,
           CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
           MAX(h) AS hk
    FROM usk GROUP BY sa, sb
),
est AS (
    SELECT sa, sb, n_union_sketch,
           CAST(n_both AS DOUBLE) / n_union_sketch AS jac,
           CASE WHEN n_union_sketch < {k}
                THEN CAST(n_union_sketch AS DOUBLE)
                ELSE {float(k - 1)} * {two60} / CAST(hk AS DOUBLE)
           END AS u_est
    FROM agg
)
SELECT sa AS source_a, sb AS source_b, n_union_sketch,
       ROUND(jac, 4) + 0.0 AS jaccard_est,
       ROUND(u_est, 4) + 0.0 AS union_est,
       ROUND(jac * u_est, 4) + 0.0 AS intersection_est
FROM est
ORDER BY source_a, source_b
"""


def x134_seasonal_decompose(spark: SparkSession, sf_dir: str):
    """Classical additive seasonal decomposition (period 7) of the
    daily event-value total per event type (trend.seasonal_decompose):
    trend = centered 7-day moving average over exact DECIMAL folds,
    seasonal = centered per-weekday-phase means of the detrended
    series, resid = what the x104/x108 alarm layer should actually
    watch. Edge days (no full window) carry NULL trend/seasonal/resid
    — the textbook convention, LEFT-join preserved."""
    from meshinsights_data_pipeline_spark.operators.trend import (
        seasonal_decompose,
    )

    ev = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    daily = (
        ev.filter(
            F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & v.isNotNull()
            & ~F.isnan(v)
        )
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(v.cast("decimal(38,12)")).cast("double").alias("_dv")
        )
    )
    return seasonal_decompose(
        daily, ["event_type"], "day", "_dv", period=7
    ).select(
        "event_type",
        "day",
        F.col("_dv").alias("value"),
        "trend",
        "seasonal",
        "resid",
    ).orderBy("event_type", "day")


X134_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    GROUP BY event_type, CAST(ts AS DATE)
),
base AS (
    SELECT event_type, day, v, CAST(v AS DECIMAL(38,12)) AS vd
    FROM daily
),
wt AS (
    SELECT event_type, day, v,
           (ROW_NUMBER() OVER (
                PARTITION BY event_type ORDER BY day) - 1) % 7 AS phase,
           CASE WHEN COUNT(*) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
                THEN CAST(SUM(vd) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)
                    / 7.0
           END AS trend
    FROM base
),
det AS (
    SELECT *, v - trend AS detr,
           CAST(v - trend AS DECIMAL(38,12)) AS detd
    FROM wt
),
pm AS (
    SELECT event_type, phase,
           CAST(SUM(detd) AS DOUBLE) / COUNT(*) AS pmean
    FROM det WHERE detr IS NOT NULL GROUP BY event_type, phase
),
cen AS (
    SELECT event_type, phase,
           pmean - CAST(SUM(CAST(pmean AS DECIMAL(38,12))) OVER (
                       PARTITION BY event_type) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY event_type) AS season
    FROM pm
)
SELECT et AS event_type, day, value, trend, seasonal, resid
FROM (
    SELECT d.event_type AS et, d.day AS day, d.v AS value,
           ROUND(d.trend, 6) + 0.0 AS trend,
           ROUND(CASE WHEN d.trend IS NOT NULL THEN c.season END, 6)
               + 0.0 AS seasonal,
           ROUND(CASE WHEN d.trend IS NOT NULL
                      THEN d.detr - c.season END, 6) + 0.0 AS resid
    FROM det d LEFT JOIN cen c
        ON c.event_type = d.event_type AND c.phase = d.phase
)
ORDER BY event_type, day
"""


def x135_hist_quantiles(spark: SparkSession, sf_dir: str):
    """Per-event-type p50/p90/p99 estimated from the mergeable
    fixed-bound histogram sketch (sketch.hist_bin_counts 64 bins over
    [0, 100] + hist_quantile_estimate) — the x61/x95 exact-percentile
    sort's 100 TB tier made a first-class operator: state is
    |groups| x bins, merges by SUM (streaming twin shares it), error
    bounded by the bin width. Cumulative counts are exact integers;
    the within-bin interpolation is fixed-order IEEE with a shared
    python-computed bin-width literal, rounded once."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        hist_bin_counts,
        hist_quantile_estimate,
    )

    ev = read_table(spark, sf_dir, "events")
    state = hist_bin_counts(
        ev, ["event_type"], "value", 0.0, 100.0, bins=64
    )
    return hist_quantile_estimate(
        state, ["event_type"], [0.5, 0.9, 0.99], 0.0, 100.0, bins=64
    ).orderBy("event_type", "q")


X135_SQL = """
WITH base AS (
    SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
      AND NOT isnan(CAST(value AS DOUBLE))
),
binned AS (
    SELECT event_type,
           LEAST(63, CAST(FLOOR(
               ((GREATEST(0.0, LEAST(100.0, v)) - 0.0) / 100.0) * 64.0
           ) AS INT)) AS bin
    FROM base
),
state AS (
    SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
    FROM binned GROUP BY event_type, bin
),
cum AS (
    SELECT event_type, bin, CAST(c AS DOUBLE) AS cd,
           CAST(SUM(c) OVER (
               PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cc,
           CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM state
),
probes AS (
    SELECT event_type, bin, cd, cc, n, CAST(q AS DOUBLE) AS q
    FROM cum CROSS JOIN (VALUES (0.5), (0.9), (0.99)) qs(q)
)
SELECT event_type, q, n,
       ROUND(0.0 + (CAST(bin AS DOUBLE)
                    + (q * CAST(n AS DOUBLE) - (cc - cd)) / cd)
                   * 1.5625, 6) + 0.0 AS estimate
FROM probes
WHERE q * CAST(n AS DOUBLE) > cc - cd
  AND q * CAST(n AS DOUBLE) <= cc
ORDER BY event_type, q
"""


def x136_seasonal_anomalies(spark: SparkSession, sf_dir: str):
    """Seasonal-adjusted robust anomalies (trend.seasonal_anomalies,
    period 7, 3-MAD): the x134 decomposition composed with the x92
    robust scorer over the RESIDUAL — a value is judged against what
    the weekly schedule predicts, not the raw level. All scored rows
    are returned with the flag (not pre-filtered: at small SFs a
    well-behaved series may flag nothing, and a zero-row anchor is
    vacuous)."""
    from meshinsights_data_pipeline_spark.operators.trend import (
        seasonal_anomalies,
    )

    ev = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    daily = (
        ev.filter(
            F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & v.isNotNull()
            & ~F.isnan(v)
        )
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(v.cast("decimal(38,12)")).cast("double").alias("_dv")
        )
    )
    return seasonal_anomalies(
        daily, ["event_type"], "day", "_dv", period=7, threshold=3.0
    ).select(
        "event_type",
        "day",
        F.col("_dv").alias("value"),
        "trend",
        "seasonal",
        "resid",
        "med_resid",
        "mad_resid",
        "score",
        "is_anomaly",
    ).orderBy("event_type", "day")


X136_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS v
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    GROUP BY event_type, CAST(ts AS DATE)
),
base AS (
    SELECT event_type, day, v, CAST(v AS DECIMAL(38,12)) AS vd
    FROM daily
),
wt AS (
    SELECT event_type, day, v,
           (ROW_NUMBER() OVER (
                PARTITION BY event_type ORDER BY day) - 1) % 7 AS phase,
           CASE WHEN COUNT(*) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
                THEN CAST(SUM(vd) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)
                    / 7.0
           END AS trend
    FROM base
),
det AS (
    SELECT *, v - trend AS detr,
           CAST(v - trend AS DECIMAL(38,12)) AS detd
    FROM wt
),
pm AS (
    SELECT event_type, phase,
           CAST(SUM(detd) AS DOUBLE) / COUNT(*) AS pmean
    FROM det WHERE detr IS NOT NULL GROUP BY event_type, phase
),
cen AS (
    SELECT event_type, phase,
           pmean - CAST(SUM(CAST(pmean AS DECIMAL(38,12))) OVER (
                       PARTITION BY event_type) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY event_type) AS season
    FROM pm
),
dec AS (
    SELECT d.event_type AS event_type, d.day AS day, d.v AS value,
           ROUND(d.trend, 6) + 0.0 AS trend,
           ROUND(CASE WHEN d.trend IS NOT NULL THEN c.season END, 6)
               + 0.0 AS seasonal,
           ROUND(CASE WHEN d.trend IS NOT NULL
                      THEN d.detr - c.season END, 6) + 0.0 AS resid
    FROM det d LEFT JOIN cen c
        ON c.event_type = d.event_type AND c.phase = d.phase
),
scored AS (SELECT * FROM dec WHERE resid IS NOT NULL),
med AS (
    SELECT event_type, median(resid) AS med_r
    FROM scored GROUP BY event_type
),
mad AS (
    SELECT s.event_type, MIN(m.med_r) AS med_r,
           ROUND(median(abs(s.resid - m.med_r)), 6) AS mad_resid
    FROM scored s JOIN med m USING (event_type)
    GROUP BY s.event_type
    HAVING ROUND(median(abs(s.resid - m.med_r)), 6) > 0
)
SELECT et AS event_type, day, value, trend, seasonal, resid,
       med_resid, mad_resid, score, is_anomaly
FROM (
    SELECT s.event_type AS et, s.day AS day, s.value AS value,
           s.trend AS trend, s.seasonal AS seasonal, s.resid AS resid,
           ROUND(m.med_r, 6) + 0.0 AS med_resid,
           m.mad_resid AS mad_resid,
           ROUND(abs(s.resid - m.med_r) / m.mad_resid, 6) + 0.0
               AS score,
           ROUND(abs(s.resid - m.med_r) / m.mad_resid, 6) > 3.0
               AS is_anomaly
    FROM scored s JOIN mad m ON m.event_type = s.event_type
)
ORDER BY event_type, day
"""


def x137_ols_trend(spark: SparkSession, sf_dir: str):
    """Per-event-type OLS fit of the daily value total against the day
    index (trend.ols_fit) — slope/intercept/R^2 in closed form from
    ONE mergeable moment aggregate: the parametric companion of x108's
    Theil-Sen (O(n) vs O(n^2) pairs, plus the variance-explained
    readout). Welch-pivot DECIMAL folds; fixed-order IEEE algebra
    mirrored in the oracle."""
    from meshinsights_data_pipeline_spark.operators.trend import ols_fit

    ev = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    daily = (
        ev.filter(
            F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & v.isNotNull()
            & ~F.isnan(v)
        )
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(v.cast("decimal(38,12)")).cast("double").alias("_dv")
        )
        .select(
            "event_type",
            F.datediff(
                F.col("day"), F.lit("2024-01-01").cast("date")
            ).cast("double").alias("_xi"),
            "_dv",
        )
    )
    return ols_fit(daily, ["event_type"], "_xi", "_dv").orderBy(
        "event_type"
    )


X137_SQL = """
WITH daily AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS xi,
           CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS yv
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
      AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    GROUP BY event_type, CAST(ts AS DATE)
),
pivots AS (
    SELECT event_type, MIN(xi) AS px, MIN(yv) AS py
    FROM daily GROUP BY event_type
),
m AS (
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(p.px) AS px, MIN(p.py) AS py,
           CAST(SUM(CAST(d.xi - p.px AS DECIMAL(38,12))) AS DOUBLE)
               AS sx,
           CAST(SUM(CAST(d.yv - p.py AS DECIMAL(38,12))) AS DOUBLE)
               AS sy,
           CAST(SUM(CAST((d.xi - p.px) * (d.yv - p.py)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST((d.xi - p.px) * (d.xi - p.px)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST((d.yv - p.py) * (d.yv - p.py)
                         AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM daily d JOIN pivots p ON p.event_type = d.event_type
    GROUP BY d.event_type
),
calc AS (
    SELECT event_type, n,
           CASE WHEN n >= 2
                 AND sxx - sx * sx / CAST(n AS DOUBLE) > 0
                THEN (sxy - sx * sy / CAST(n AS DOUBLE))
                     / (sxx - sx * sx / CAST(n AS DOUBLE))
           END AS slope,
           sx, sy, sxy, sxx, syy, px, py
    FROM m
)
SELECT event_type, n,
       ROUND(slope, 6) + 0.0 AS slope,
       ROUND(CASE WHEN slope IS NOT NULL THEN
           (py + sy / CAST(n AS DOUBLE))
           - slope * (px + sx / CAST(n AS DOUBLE)) END, 6) + 0.0
           AS intercept,
       ROUND(CASE WHEN slope IS NOT NULL
                   AND syy - sy * sy / CAST(n AS DOUBLE) > 0
             THEN (sxy - sx * sy / CAST(n AS DOUBLE))
                  * (sxy - sx * sy / CAST(n AS DOUBLE))
                  / ((sxx - sx * sx / CAST(n AS DOUBLE))
                     * (syy - sy * sy / CAST(n AS DOUBLE)))
             END, 6) + 0.0 AS r2
FROM calc
ORDER BY event_type
"""

_CELL_SQL = """
    SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n, MIN(p) AS p,
           CAST(SUM(CAST(v - p AS DECIMAL(38,12))) AS DOUBLE) AS s,
           CAST(SUM(CAST((v - p) * (v - p) AS DECIMAL(38,12)))
               AS DOUBLE) AS sq
    FROM (
        SELECT b.*, MIN(b.v) OVER (PARTITION BY {keys_b}) AS p
        FROM ({base}) b
    )
    GROUP BY {keys}
"""


def x138_diff_in_diff(spark: SparkSession, sf_dir: str):
    """Difference-in-differences per event type (abtest.diff_in_diff):
    arm = user parity, period = first vs second half of the event
    window — the parallel-trends causal readout for non-randomized
    rollouts, from the same Welch-pivot cell-moment state as
    x116/x139. Fixed-order IEEE did/se/z, z rounded once."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        diff_in_diff,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
            "pre",
        ).otherwise("post").alias("period"),
        F.col("value"),
    )
    return diff_in_diff(
        ev, "experiment", "arm", "period", "value"
    ).orderBy("experiment", "arm")


def _x138_sql() -> str:
    base = """
        SELECT event_type AS experiment,
               CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 't1' END AS arm,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 'pre' ELSE 'post' END AS period,
               CAST(value AS DOUBLE) AS v
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND ts IS NOT NULL AND value IS NOT NULL
          AND NOT isnan(CAST(value AS DOUBLE))
    """
    cells = _CELL_SQL.format(
        keys="experiment, arm, period",
        keys_b="b.experiment, b.arm, b.period",
        base=base,
    )
    return f"""
WITH cells AS ({cells}),
tpost AS (SELECT experiment, arm, n, p, s, sq FROM cells
          WHERE arm <> 'control' AND period = 'post'),
tpre AS (SELECT experiment, arm, n, p, s, sq FROM cells
         WHERE arm <> 'control' AND period = 'pre'),
cpost AS (SELECT experiment, n, p, s, sq FROM cells
          WHERE arm = 'control' AND period = 'post'),
cpre AS (SELECT experiment, n, p, s, sq FROM cells
         WHERE arm = 'control' AND period = 'pre'),
j AS (
    SELECT COALESCE(tpost.experiment, tpre.experiment) AS experiment,
           COALESCE(tpost.arm, tpre.arm) AS arm,
           tpost.n AS tpostn, tpost.p AS tpostp, tpost.s AS tposts,
           tpost.sq AS tpostsq,
           tpre.n AS tpren, tpre.p AS tprep, tpre.s AS tpres,
           tpre.sq AS tpresq,
           cpost.n AS cpostn, cpost.p AS cpostp, cpost.s AS cposts,
           cpost.sq AS cpostsq,
           cpre.n AS cpren, cpre.p AS cprep, cpre.s AS cpres,
           cpre.sq AS cpresq
    FROM tpost
    FULL JOIN tpre ON tpre.experiment = tpost.experiment
                  AND tpre.arm = tpost.arm
    LEFT JOIN cpost
        ON cpost.experiment = COALESCE(tpost.experiment, tpre.experiment)
    LEFT JOIN cpre
        ON cpre.experiment = COALESCE(tpost.experiment, tpre.experiment)
),
calc AS (
    SELECT *,
           tpostn IS NOT NULL AND tpren IS NOT NULL
           AND cpostn IS NOT NULL AND cpren IS NOT NULL AS has_all,
           (tpostp + tposts / tpostn) - (tprep + tpres / tpren)
           - ((cpostp + cposts / cpostn) - (cprep + cpres / cpren))
               AS did_raw,
           CASE WHEN tpostn >= 2 THEN
               (tpostsq / tpostn - (tposts / tpostn) * (tposts / tpostn))
               * (CAST(tpostn AS DOUBLE) / (tpostn - 1)) END / tpostn
           + CASE WHEN tpren >= 2 THEN
               (tpresq / tpren - (tpres / tpren) * (tpres / tpren))
               * (CAST(tpren AS DOUBLE) / (tpren - 1)) END / tpren
           + CASE WHEN cpostn >= 2 THEN
               (cpostsq / cpostn - (cposts / cpostn) * (cposts / cpostn))
               * (CAST(cpostn AS DOUBLE) / (cpostn - 1)) END / cpostn
           + CASE WHEN cpren >= 2 THEN
               (cpresq / cpren - (cpres / cpren) * (cpres / cpren))
               * (CAST(cpren AS DOUBLE) / (cpren - 1)) END / cpren
               AS var_sum
    FROM j
)
SELECT experiment, arm,
       cpren AS n_c_pre, cpostn AS n_c_post,
       tpren AS n_t_pre, tpostn AS n_t_post,
       ROUND(CASE WHEN has_all THEN did_raw END, 6) + 0.0 AS did,
       ROUND(CASE WHEN has_all THEN sqrt(var_sum) END, 6) + 0.0 AS se,
       ROUND(CASE WHEN has_all AND sqrt(var_sum) > 0
             THEN did_raw / sqrt(var_sum) END, 6) + 0.0 AS z,
       COALESCE(abs(ROUND(CASE WHEN has_all AND sqrt(var_sum) > 0
                          THEN did_raw / sqrt(var_sum) END, 6))
                > 1.959964, FALSE) AS significant,
       has_all AS has_all_cells
FROM calc
ORDER BY experiment, arm
"""


def x139_mde(spark: SparkSession, sf_dir: str):
    """Minimum detectable effect per (event type, arm) at the observed
    sizes/variances (abtest.mde_estimate, alpha=0.05, power=0.8) — the
    power-analysis gate upstream of the whole x105/x116/x120 family,
    answering "could this experiment even see the effect we care
    about". z constants are python-computed 12-decimal literals (the
    SPRT discipline: the inverse normal CDF never runs in either
    engine)."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        mde_estimate,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.col("value"),
    )
    return mde_estimate(ev, "experiment", "arm", "value").orderBy(
        "experiment", "arm"
    )


def _x139_sql() -> str:
    from meshinsights_data_pipeline_spark.operators.abtest import (
        MDE_Z_ALPHA,
        MDE_Z_POWER,
    )

    zsum = float(MDE_Z_ALPHA[0.05]) + float(MDE_Z_POWER[0.8])
    base = """
        SELECT event_type AS experiment,
               CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 't1' END AS arm,
               CAST(value AS DOUBLE) AS v
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    """
    cells = _CELL_SQL.format(
        keys="experiment, arm", keys_b="b.experiment, b.arm", base=base
    )
    return f"""
WITH cells AS ({cells}),
arms AS (SELECT experiment, arm, n, p, s, sq FROM cells
         WHERE arm <> 'control'),
ctrl AS (SELECT experiment, n AS cn, p AS cp, s AS cs, sq AS csq
         FROM cells WHERE arm = 'control'),
j AS (
    SELECT a.*, c.cn, c.cp, c.cs, c.csq
    FROM arms a LEFT JOIN ctrl c ON c.experiment = a.experiment
),
calc AS (
    SELECT *,
           {zsum!r} * sqrt(
               CASE WHEN cn >= 2 THEN
                   (csq / cn - (cs / cn) * (cs / cn))
                   * (CAST(cn AS DOUBLE) / (cn - 1)) END / cn
               + CASE WHEN n >= 2 THEN
                   (sq / n - (s / n) * (s / n))
                   * (CAST(n AS DOUBLE) / (n - 1)) END / n
           ) AS mde_raw,
           cp + cs / cn AS mc
    FROM j
)
SELECT experiment, arm, cn AS n_control, n AS n_arm,
       cn IS NOT NULL AS has_control,
       ROUND(mc, 6) + 0.0 AS mean_control,
       ROUND(mde_raw, 6) + 0.0 AS mde_abs,
       ROUND(CASE WHEN mc <> 0 THEN mde_raw / mc END, 6) + 0.0
           AS mde_rel
FROM calc
ORDER BY experiment, arm
"""


#: registered into QUERIES by plans.queries, after EXTENSION_BUILDERS
STATS_QUERIES = {
    "x104_cusum_changepoints": (x104_cusum_changepoints, X104_SQL),
    "x105_ab_test": (x105_ab_test, X105_SQL),
    "x106_exp_weighted_avg": (x106_exp_weighted_avg, _x106_sql()),
    "x107_ks_drift": (x107_ks_drift, X107_SQL),
    "x108_trend": (x108_trend, X108_SQL),
    "x109_benford": (x109_benford, _x109_sql()),
    "x110_token_entropy": (x110_token_entropy, _x110_sql()),
    "x111_embedding_covariance": (x111_embedding_covariance, X111_SQL),
    "x112_km_survival": (x112_km_survival, X112_SQL),
    "x113_quantile_normalize": (x113_quantile_normalize, X113_SQL),
    "x114_best_survivors": (x114_best_survivors, _x114_sql()),
    "x115_source_dup_matrix": (x115_source_dup_matrix, _x115_sql()),
    "x116_welch_ttest": (x116_welch_ttest, X116_SQL),
    "x117_chi2_independence": (x117_chi2_independence, X117_SQL),
    "x118_autocorrelation": (x118_autocorrelation, X118_SQL),
    "x119_js_divergence": (x119_js_divergence, _x119_sql()),
    "x120_mann_whitney": (x120_mann_whitney, X120_SQL),
    "x121_kruskal_wallis": (x121_kruskal_wallis, X121_SQL),
    "x122_spearman": (x122_spearman, X122_SQL),
    "x123_correlation_ratio": (x123_correlation_ratio, X123_SQL),
    "x124_roc_auc": (x124_roc_auc, X124_SQL),
    "x125_calibration": (x125_calibration, X125_SQL),
    "x126_cohens_kappa": (x126_cohens_kappa, X126_SQL),
    "x127_cliffs_delta": (x127_cliffs_delta, X127_SQL),
    "x128_bootstrap_ci": (x128_bootstrap_ci, _x128_sql()),
    "x129_sprt": (x129_sprt, _x129_sql()),
    "x130_cuped": (x130_cuped, X130_SQL),
    "x131_hll_cardinality": (x131_hll_cardinality, _x131_sql()),
    "x132_cms_heavy_hitters": (x132_cms_heavy_hitters, _x132_sql()),
    "x133_kmv_overlap": (x133_kmv_overlap, _x133_sql()),
    "x134_seasonal_decompose": (x134_seasonal_decompose, X134_SQL),
    "x135_hist_quantiles": (x135_hist_quantiles, X135_SQL),
    "x136_seasonal_anomalies": (x136_seasonal_anomalies, X136_SQL),
    "x137_ols_trend": (x137_ols_trend, X137_SQL),
    "x138_diff_in_diff": (x138_diff_in_diff, _x138_sql()),
    "x139_mde": (x139_mde, _x139_sql()),
}
