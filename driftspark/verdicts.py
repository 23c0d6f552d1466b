"""Per-partition drift verdicts — the north-rule flagship query.

Reproduces the reference's pass/fail semantics (KS p-value vs threshold,
ks_test.py:151; PSI vs threshold, psi.py:216; chi-square p vs threshold,
univariate.py:231) at the per-partition grain (BASELINE.json:6): every
partition of the test split is compared against the GLOBAL reference split
(edges and expectations fitted once on reference, broadcast into the plan),
yielding one verdict row per (partition, feature, check).

Scale design — a fit, then one short job chain per scored batch:
* The PSI, KS and chi2 reference state is fitted once and every batch of
  partitions scores against it (:class:`_VerdictSuite`, also the
  streaming monitor's: a micro-batch is one partition).  The fit is ONE
  distinct-value count of the reference (:func:`fit_reference`), bounded
  by :data:`MAX_REF_ECDF_POINTS` rows on its way to the driver, where it
  gives the exact PSI edges, the reference histogram, the KS ECDF and
  each categorical feature's counts, capped over the reference alone;
  over that budget the separate fits (per-column ``percentile`` edges, a
  bin count, the ECDF thinned from the same persisted count, the
  category cap in Spark) run instead.
* PSI, chi-square and preaggregated KS share ONE count of the test rows
  through the keyed-count primitive, driftspark.stats.key_counts
  (:func:`_score_counts`; psi_by_partition and chi2_by_partition, which
  have no fitted reference, count the reference rows in it too), grouped
  by (is_ref, part, feature, key), the key a (value double, cat string)
  struct so KS values stay doubles.  It reaches the driver through one
  collect bounded by :data:`MAX_REF_ECDF_POINTS` rows, which also yields
  the NULL-part drop counts.  Categories follow ONE rule
  (stats._cap_counts, in Spark over the budget): each (part, feature)
  group folds what a capped reference did not keep and is capped on its
  own with the reference members pinned, so a partition's chi2 depends
  on its own rows and the reference alone.  PSI is then
  numerics.psi_from_proportions per (part, feature) on the driver, and
  chi-square likewise (chi2_from_count_maps).
* KS D scores each (part, feature) test group against the fitted
  reference ECDF (thinned, when over budget, on the exact cumulative frame
  of driftspark.stats).  Preaggregated test counts within the row budget
  (the shared count's KS rows, in the suite) are scored on the driver,
  all groups at once; otherwise the ECDF is broadcast into pandas groups.
  p-values for the O(parts x features) D statistics are driver math.
"""

from __future__ import annotations

import logging
import math
from collections import defaultdict
from dataclasses import dataclass
from typing import Dict, List, NamedTuple, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from driftspark.numerics import (
    chi2_sf,
    ks_2samp_pvalue,
    psi_from_proportions,
    severity_from_psi,
    severity_from_pvalue,
)
from driftspark.session import concurrently, local_frame
from driftspark.stats import (
    _CDF_BUCKETED_THRESHOLD,
    _W1_QUANTIZE,
    CHI2_OTHER_BUCKET,
    _aligned,
    _cap_categories,
    _cap_counts,
    _cdf_cum_frame,
    _cdf_prescan,
    _edges_of,
    _equal_mass_buckets,
    _exact_quantiles,
    _melt,
    _melt_keys,
    _proportions,
    _sides,
    _uniform_buckets,
    _w1_term_quantized,
    approx_quantile_edges,
    bucket_expr,
    key_counts,
    nn,
    quantile_edges,
)

logger = logging.getLogger(__name__)

#: the verdict suite's driver-row budget: the points of a fitted KS
#: reference ECDF across all features (see fit_ks_reference_ecdf), and
#: the rows each bounded count collect (fit_reference, _score_counts,
#: preaggregated ks_d_against_ecdf) takes before it switches to its
#: unbounded route
MAX_REF_ECDF_POINTS = 4_000_000

VERDICT_SCHEMA = (
    "part int, feature string, check string, statistic double, p_value double, "
    "severity string, passed boolean, n_ref long, n_test long"
)


def _ref_bin_counts(ref_df: DataFrame, edges_map: Dict[str, np.ndarray]):
    """{feature: in-range count per fitted bin} of one frame, from one
    :func:`key_counts` — the global reference histogram every partition's
    PSI scores against.  All-zero for an empty frame."""
    out = {f: np.zeros(len(e) - 1, np.int64) for f, e in edges_map.items()}
    keys = {c: bucket_expr(c, e) for c, e in edges_map.items()}
    for r in key_counts(ref_df, keys).where(F.col("key").isNotNull()).collect():
        out[r["feature"]][r["key"]] = r["c"]
    return out


def _score_counts(
    ref_df: Optional[DataFrame],
    test_df: DataFrame,
    edges_map: Dict[str, np.ndarray],
    cat_cols: Sequence[str],
    part_col: str = "part",
    max_categories: int = 1000,
    ref_cats: Optional[Dict[str, Dict]] = None,
    ecdf=None,
    ks_cols: Sequence[str] = (),
) -> tuple:
    """(reference bin counts, test bin counts by part, reference category
    counts, test category counts by (part, feature), KS rows) from ONE
    :func:`key_counts` over the test rows, plus the reference rows when
    ``ref_df`` is given (psi_by_partition and chi2_by_partition, which
    have no fitted reference).  The verdict suite passes no ``ref_df``
    and its fitted ``ref_cats``, and, for preaggregated KS, its fitted
    ``ecdf`` (dict or Broadcast) with ``ks_cols``.

    Keys are (value double, cat string) structs under the
    :func:`psi_counts_fused` feature namespace: ``"#n:<col>"`` is the
    fitted bin as a string, ``"#c:<col>"`` the category and ``"#k:<col>"``
    the KS value itself (the :func:`nn` double, never a string).  The rows
    reach the driver through one bounded collect of at most
    :data:`MAX_REF_ECDF_POINTS` rows, which also gives the NULL-part test
    rows (counted and logged, never scored).  The KS rows are scored
    there, every (part, feature) group at once (:func:`_ks_d_of_counts`,
    as ks_d_against_ecdf's preaggregated route; KS rows are
    [(part, feature, d, n, m)]).  The category rule (stats._cap_counts)
    runs there too: reference counts counted here are capped on their
    own, and each (part, feature) group is capped on its own with the
    reference members pinned, so a partition's chi2 depends on its own
    rows and the reference alone.  Over the row budget the same rule runs
    in Spark (stats._cap_categories) and the PSI/chi2 collect is
    unbounded, as the counts are O(parts x features x (bins + capped
    categories)) rows, while the same count's KS rows go to the pandas
    groups of ks_d_against_ecdf.

    Every part with any test row gets every PSI feature (all-zero bins
    when no value is in range); parts keep their ORIGINAL type."""
    ks_cols = _ks_fitted_cols(ks_cols, ecdf) if ks_cols else []
    cols = list(dict.fromkeys([*edges_map, *cat_cols, *ks_cols]))
    if ref_df is None:
        u = test_df.select(
            *cols, F.col(part_col).alias("__part"), F.lit(False).alias("is_ref")
        )
    else:
        part_type = test_df.schema[part_col].dataType
        u = _sides(
            ref_df.withColumn("__part", F.lit(None).cast(part_type)),
            test_df.withColumn("__part", F.col(part_col)),
            [*cols, "__part"],
        )

    def key(value=F.lit(None).cast("double"), cat=F.lit(None).cast("string")):
        return F.struct(value.alias("value"), cat.alias("cat"))

    keys = {"#n:" + c: key(cat=bucket_expr(c, e).cast("string")) for c, e in edges_map.items()}
    keys.update({"#c:" + c: key(cat=F.col(c).cast("string")) for c in cat_cols})
    keys.update({"#k:" + c: key(value=nn(c)) for c in ks_cols})
    counts = key_counts(u, keys, ["is_ref", F.col("__part").alias("part")]).select(
        "is_ref", "part", "feature", "key.value", F.col("key.cat").alias("key"), "c"
    )

    is_cat = F.col("feature").startswith("#c:")
    cat_counts = counts.where(is_cat & F.col("key").isNotNull())

    def scored(r) -> bool:  # a reference row, or a test row with a part
        return r["is_ref"] or r["part"] is not None

    table = counts.limit(MAX_REF_ECDF_POINTS + 1).toArrow()
    in_budget = table.num_rows <= MAX_REF_ECDF_POINTS
    if in_budget:
        is_ks = pc.starts_with(table.column("feature"), "#k:")
        rows = table.filter(pc.invert(is_ks)).to_pylist()
        ks = table.filter(is_ks)
        ks = ks.filter(pc.and_(pc.is_valid(ks.column("part")), pc.is_valid(ks.column("value"))))
        ks = ks.set_column(2, "feature", pc.utf8_slice_codeunits(ks.column("feature"), 3))
        ks_rows = _ks_d_of_counts(ks, _fitted(ecdf)) if ks_cols else []
    else:
        del table  # the driver holds no collected rows while the recounts run

        def psi_chi2():
            rows = counts.where(F.col("feature").startswith("#n:")).drop("value")
            if cat_cols:
                test_rows = cat_counts.where(~F.col("is_ref")).select(
                    "part", "feature", "key", "c"
                )
                # the NULL-part test rows cap as one more group: they only
                # feed the drop count
                capped = _cap_categories(
                    test_rows, max_categories, {"#c:" + c: m for c, m in ref_cats.items()}
                )
                rows = rows.unionByName(capped.withColumn("is_ref", F.lit(False)))
            return rows.collect()

        def ks():
            if not ks_cols:
                return []
            values = counts.where(
                F.col("feature").startswith("#k:")
                & F.col("part").isNotNull()
                & F.col("value").isNotNull()
            ).select("part", F.substring("feature", 4, 1 << 30).alias("feature"), "value", "c")
            return _ks_d_in_groups(values, ecdf, test_df.schema[part_col].dataType).collect()

        if cat_cols and ref_cats is None:
            ref_rows = cat_counts.where("is_ref").select("feature", "key", "c")
            ref_cats = _category_counts_of(
                _cap_categories(ref_rows, max_categories).collect(), cat_cols
            )
        rows, ks_rows = concurrently(test_df.sparkSession, psi_chi2, ks)

    def zeros():
        return {f: np.zeros(len(e) - 1, np.int64) for f, e in edges_map.items()}

    ref_bins = zeros()
    hists: Dict = defaultdict(zeros)
    counted_ref: Dict[str, Dict] = {c: {} for c in cat_cols}
    test_cats: Dict[tuple, Dict] = {}
    dropped = {"n": 0, "c": 0}
    for r in rows:
        is_ref, part, key, c = r["is_ref"], r["part"], r["key"], r["c"]
        kind, feature = r["feature"][1], r["feature"][3:]
        if kind == "n" and not is_ref and part is not None:
            hists[part]  # a NULL-bin row still gives its part every feature
        if key is None:
            continue
        if not scored(r):
            dropped[kind] += c
        elif kind == "n":
            (ref_bins if is_ref else hists[part])[feature][int(key)] = c
        elif is_ref:
            counted_ref[feature][key] = c
        else:
            test_cats.setdefault((part, feature), {})[key] = c
    if in_budget:
        if ref_cats is None:
            ref_cats = {c: _cap_counts(m, max_categories) for c, m in counted_ref.items()}
        test_cats = {
            (part, f): _cap_counts(m, max_categories, ref_cats[f])
            for (part, f), m in test_cats.items()
        }
    over = sorted(
        {f for (_, f), m in test_cats.items() if CHI2_OTHER_BUCKET in m}
        | {f for f, m in (ref_cats or {}).items() if CHI2_OTHER_BUCKET in m}
    )
    if over:
        logger.warning(
            "chi2: feature(s) %s exceed max_categories=%d; tail categories merged into %r",
            over, max_categories, CHI2_OTHER_BUCKET,
        )
    for kind, family in (("n", "psi_by_partition"), ("c", "chi2_by_partition")):
        if dropped[kind]:
            logger.warning(
                "%s: %d test value(s) have NULL %s and are excluded from "
                "partition verdicts",
                family,
                dropped[kind],
                part_col,
            )
    return ref_bins, hists, ref_cats, test_cats, ks_rows


def _psi_rows(
    hists: Dict, ref_counts: Dict[str, np.ndarray], min_bin_size: float = 0.001
) -> List[tuple]:
    """[(part, feature, psi, n_ref, n_test)] of each part's bin counts vs
    the reference counts.  Reference parity: proportions are over
    in-range values only and every fitted bin participates
    (psi.py:102-110).  A partition with NO in-range value has all-zero
    proportions, which the clamp turns uniform, and n_test = 0 marks it:
    PSI is an in-range-SHAPE statistic, the mass exodus is the KS check's
    job."""
    ref_props = {f: _proportions(c) for f, c in ref_counts.items()}
    return [
        (part, f, psi_from_proportions(ref_props[f], _proportions(t), min_bin_size),
         int(ref_counts[f].sum()), int(t.sum()))
        for part, by_feature in hists.items()
        for f, t in by_feature.items()
    ]


def psi_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    edges_map: Dict[str, np.ndarray],
    part_col: str = "part",
    min_bin_size: float = 0.001,
) -> DataFrame:
    """(part, feature, psi, n_ref, n_test) — PSI of each test partition vs
    the GLOBAL reference histogram, both counted in one
    :func:`_score_counts` job (see :func:`_psi_rows`).  Test rows with a
    NULL ``part_col`` belong to no partition: they are counted and
    logged, never scored.  The part column keeps the input's type."""
    if not edges_map:
        raise ValueError("edges_map is empty")
    ref_counts, hists, _, _, _ = _score_counts(ref_df, test_df, edges_map, (), part_col)
    part_type = test_df.schema[part_col].dataType.simpleString()
    return local_frame(
        ref_df.sparkSession,
        _psi_rows(hists, ref_counts, min_bin_size),
        f"part {part_type}, feature string, psi double, n_ref long, n_test long",
    )


def rolling_psi(
    df: DataFrame,
    ts_col: str,
    edges_map: Dict[str, np.ndarray],
    bucket: str = "day",
    trailing: int = 7,
    min_history: int = 3,
    min_bin_size: float = 0.001,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """PSI of each time bucket vs its own TRAILING window — temporal
    self-drift ("is today shaped like the last week"), distinct from the
    global-reference partition verdicts (part_col=date_trunc answers "is
    today shaped like the FITTED reference").

    One :func:`key_counts` scan → (feature, bucket, bin) counts → a DENSE
    (feature, bucket, bin) grid (lazy sequence-explode buckets × fitted
    bins, so empty bins AND empty buckets participate in the clamp —
    the pandas all-categories semantic) → the trailing reference is a
    per-(feature, bin) window sum over the preceding ``trailing``
    buckets.  PSI math is numerics.psi_from_proportions as column
    expressions (clamp to min_bin_size via greatest-over-try_divide,
    renormalize, sum) — an
    all-out-of-range or EMPTY bucket scores a ~0 shape drift with
    n_test = 0 marking it (volume is volume_report's job).

    Buckets with fewer than ``min_history`` preceding buckets verdict
    ``insufficient_history``.  Returns (feature, bucket_ts string,
    psi double, n_test, n_trailing, history, severity, passed).
    """
    from driftspark.volume import _BUCKETS, VERDICT_INSUFFICIENT

    if bucket not in _BUCKETS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKETS)}, got {bucket!r}")
    if trailing < 1:
        raise ValueError(f"trailing must be >= 1, got {trailing}")
    if not edges_map:
        raise ValueError("edges_map is empty")
    spark = df.sparkSession

    pts = df.where(F.col(ts_col).isNotNull())
    counts = (
        key_counts(
            pts,
            {c: bucket_expr(c, e) for c, e in edges_map.items()},
            [F.date_trunc(bucket, F.col(ts_col)).alias("__b")],
        )
        .where(F.col("key").isNotNull())
        .select("__b", "feature", F.col("key").alias("bin"), F.col("c").alias("t"))
    )

    # dense grids: lazy global [min,max] bucket span (volume_report
    # pattern; indexed so history needs no second window) × fitted bins
    span = pts.select(
        F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.min("__b").alias("mn"), F.max("__b").alias("mx"))
    grid_b = span.select(
        F.posexplode(F.expr(f"sequence(mn, mx, interval 1 {bucket})")).alias(
            "idx", "__b"
        )
    )
    bins_rows = [
        (c, b) for c, e in edges_map.items() for b in range(len(e) - 1)
    ]
    grid_fb = local_frame(spark, bins_rows, "feature string, bin long")
    dense = (
        grid_fb.crossJoin(F.broadcast(grid_b))
        .join(counts, ["__b", "feature", "bin"], "left")
        .na.fill({"t": 0})
    )

    w_trail = (
        Window.partitionBy("feature", "bin")
        .orderBy("idx")
        .rowsBetween(-trailing, -1)
    )
    dense = dense.withColumn("r", F.coalesce(F.sum("t").over(w_trail), F.lit(0)))

    w = Window.partitionBy("feature", "__b")
    rsum = F.sum("r").over(w)
    tsum = F.sum("t").over(w)
    e = F.greatest(F.try_divide(F.col("r"), rsum), F.lit(min_bin_size))
    a = F.greatest(F.try_divide(F.col("t"), tsum), F.lit(min_bin_size))
    scored = dense.select(
        "feature", "__b", "idx",
        e.alias("e"), a.alias("a"),
        F.sum(e).over(w).alias("esum"),
        F.sum(a).over(w).alias("asum"),
        rsum.alias("n_trailing"),
        tsum.alias("n_test"),
    )
    en = F.col("e") / F.col("esum")
    an = F.col("a") / F.col("asum")
    agg = scored.groupBy("feature", "__b").agg(
        F.sum((an - en) * F.log(an / en)).alias("psi"),
        F.first("idx").alias("idx"),
        F.first("n_trailing").alias("n_trailing"),
        F.first("n_test").alias("n_test"),
    )
    hist = F.least(F.col("idx"), F.lit(trailing))
    sev = F.when(
        hist < F.lit(min_history), F.lit(VERDICT_INSUFFICIENT)
    ).otherwise(_severity_from_psi_col(F.col("psi")))
    return agg.select(
        "feature",
        F.date_format("__b", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "psi",
        F.col("n_test").cast("long").alias("n_test"),
        F.col("n_trailing").cast("long").alias("n_trailing"),
        hist.cast("long").alias("history"),
        sev.alias("severity"),
        F.when(hist < F.lit(min_history), F.lit(None).cast("boolean"))
        .otherwise(F.col("psi") < F.lit(psi_threshold))
        .alias("passed"),
    )


def _severity_from_psi_col(psi):
    """The reference PSI severity ladder (numerics.severity_from_psi) as
    a column expression — strict < boundaries, identical cutoffs."""
    return (
        F.when(psi < 0.1, F.lit("none"))
        .when(psi < 0.2, F.lit("low"))
        .when(psi < 0.3, F.lit("medium"))
        .when(psi < 0.5, F.lit("high"))
        .otherwise(F.lit("critical"))
    )


def w1_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    part_col: str = "part",
) -> DataFrame:
    """(part, feature, w1, n, m) — exact Wasserstein-1 of each test
    partition's sample vs the GLOBAL reference sample, distributed.

    The global reference value counts are cross-joined with the partition
    ids, so every (part, feature) group holds the whole reference ECDF;
    the exact cumulative frame (:func:`driftspark.stats._cdf_cum_frame`)
    then windows per (part, feature, value bucket), with uniform buckets
    from one light prescan.  The W1 value-gap term |CDF_r - CDF_t| *
    (next value - value) is summed as quantized decimal —
    order-independent, engine-portable, bit-identical under any layout
    (the wasserstein_all contract).

    Partition ids keep their ORIGINAL type; NULL-part rows belong to no
    partition and are excluded (the psi/chi2 paths count + warn the same
    rows); (part, feature) groups with no test values are dropped, never
    divided by zero (try_divide under ANSI).
    """
    prescan = _cdf_prescan(ref_df, test_df, cols, _CDF_BUCKETED_THRESHOLD)
    ref_vals = _melt(ref_df, cols).groupBy("feature", "value").agg(
        F.count(F.lit(1)).alias("r")
    )
    parts = (
        test_df.where(F.col(part_col).isNotNull())
        .select(F.col(part_col).alias("part"))
        .distinct()
    )
    ref_per_part = ref_vals.crossJoin(F.broadcast(parts)).withColumn("t", F.lit(0))
    test_vals = (
        _melt(test_df, cols, part_col)
        .where(F.col("part").isNotNull())
        .groupBy("part", "feature", "value")
        .agg(F.count(F.lit(1)).alias("t"))
        .withColumn("r", F.lit(0))
    )
    u = ref_per_part.select("part", "feature", "value", "r", "t").unionByName(
        test_vals.select("part", "feature", "value", "r", "t")
    )
    g = u.groupBy("part", "feature", "value").agg(
        F.sum("r").alias("r"), F.sum("t").alias("t")
    )
    cum = _cdf_cum_frame(
        g, ["part", "feature"], _uniform_buckets(prescan, cols), with_gap=True
    )
    diff = F.abs(
        F.try_divide(F.col("cr"), F.col("n")) - F.try_divide(F.col("ct"), F.col("m"))
    )
    term = _w1_term_quantized(
        F.coalesce(diff * (F.col("nxt") - F.col("value")), F.lit(0.0)),
        _W1_QUANTIZE,
    )
    return (
        cum.groupBy("part", "feature")
        .agg(
            F.sum(term).cast("double").alias("w1"),
            F.first("n").alias("n"),
            F.first("m").alias("m"),
        )
        .where((F.col("m") > 0) & (F.col("n") > 0))
    )


def _distinct_totals(ref_g: DataFrame) -> Dict[str, int]:
    """{feature: its number of distinct values} of a (feature, value, c)
    distinct-count frame."""
    totals = ref_g.groupBy("feature").agg(F.count(F.lit(1)).alias("nd")).collect()
    return {r["feature"]: int(r["nd"]) for r in totals}


def _ecdf_points_of(
    ref_g: DataFrame, nd_by_feat: Dict[str, int], max_points: int
) -> Dict[str, tuple]:
    """{feature: (sorted values, exact cumulative counts, n)} of the
    features in ``nd_by_feat`` (their distinct counts) from an already
    persisted (feature, value, c) distinct-count frame ``ref_g``, with
    DISTRIBUTED thinning.

    Features whose distinct count fits ``max_points`` collect exactly.
    Larger features never reach the driver unthinned: the exact
    cumulative frame (:func:`driftspark.stats._cdf_cum_frame`, with
    r = c, t = 0 and equal-mass value buckets, so no single-task
    feature-wide sort) gives every point its exact cumulative count, and
    a MASS-quantum filter keeps every point whose cumulative count
    crosses a multiple of ceil(n / max_points), plus the last point
    (cum == n, since every c >= 1), so n stays exact.
    Retention is therefore uniform in probability mass, not rank: heavy
    values (zero-inflation, mode spikes) are always retained wherever
    they sit, and the ECDF gap between consecutive retained points is
    strictly below one quantum — the KS-D error from thinning is bounded
    by 1/max_points regardless of frequency skew.  Retained points carry
    EXACT cumulative counts."""
    small = [f for f, nd in nd_by_feat.items() if nd <= max_points]
    big = [f for f, nd in nd_by_feat.items() if nd > max_points]

    ecdf: Dict[str, tuple] = {}
    if small:
        pdf = ref_g.where(F.col("feature").isin(small)).toPandas()
        for feat, g in pdf.groupby("feature"):
            g = g.sort_values("value")
            vals = g["value"].values.astype(np.float64)
            cums = np.cumsum(g["c"].values.astype(np.int64))
            ecdf[feat] = (vals, cums, int(cums[-1]))
    if big:
        bg = ref_g.where(F.col("feature").isin(big)).select(
            "feature", "value", F.col("c").alias("r"), F.lit(0).alias("t")
        )
        cum = _cdf_cum_frame(bg, ["feature"], _equal_mass_buckets(bg, big))
        # keep a point iff its cumulative count crosses a mass quantum
        # ms = ceil(n / max_points) — floor(cr/ms) > floor((cr - c)/ms)
        # — plus the exact last point
        ms = F.expr(f"(n + {max_points - 1}) div {max_points}")
        kept = cum.where(
            (F.floor(F.col("cr") / ms) > F.floor((F.col("cr") - F.col("r")) / ms))
            | (F.col("cr") == F.col("n"))
        )
        pdf = kept.select("feature", "value", "cr").toPandas()
        for feat, g in pdf.groupby("feature"):
            g = g.sort_values("value")
            ecdf[feat] = (
                g["value"].values.astype(np.float64),
                g["cr"].values.astype(np.int64),
                int(g["cr"].values[-1]),
            )
    return ecdf


def ks_d_by_partition_broadcast(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    part_col: str = "part",
    max_ref_ecdf_points: int = MAX_REF_ECDF_POINTS,
    preaggregate: bool = False,
) -> DataFrame:
    """(part, feature, d, n, m) — exact KS D per partition via a BROADCAST
    reference ECDF.

    The global reference ECDF is aggregated once, collected ({feature:
    sorted values + cumulative counts}), broadcast, and each (part,
    feature) group's test sample evaluates

        D = max_i max(|R(t_i) - T(t_i)|, |R(t_i^-) - T(t_{i-1})|)

    with numpy searchsorted inside applyInPandas — mathematically equal to
    the max over all pooled points (between consecutive test points the
    test ECDF is constant and R is monotone, so interval suprema are
    attained at the R(t_i^-) endpoints; negative-side interval extrema are
    dominated by the test-point terms).  Per-group work is O(m_part log
    distinct_ref).  With ``preaggregate=True`` the same math runs on the
    driver within the row budget (see :func:`ks_d_against_ecdf`).

    Thinning happens DISTRIBUTED, before anything reaches the driver: when
    a feature's distinct-value count exceeds its share of
    ``max_ref_ecdf_points``, the exact cumulative frame gives every value
    its cumulative count and a mass-quantum filter keeps ~that many points
    (always including the last = exact n; see :func:`_ecdf_points_of`).
    The driver only ever collects
    O(features x max_points) rows — at 10^12 rows the unthinned distinct
    set would not fit on any driver.  Retained points keep their EXACT
    cumulative counts, so the only error is R's value-resolution between
    retained points (<= 1/max_points of mass)."""
    ecdf = fit_ks_reference_ecdf(ref_df, cols, max_ref_ecdf_points)
    return ks_d_against_ecdf(test_df, cols, ecdf, part_col, preaggregate)


def fit_ks_reference_ecdf(
    ref_df: DataFrame,
    cols: Sequence[str],
    max_ref_ecdf_points: int = MAX_REF_ECDF_POINTS,
) -> Dict[str, tuple]:
    """Fit the broadcast-ready thinned reference ECDF state ({feature:
    (sorted values, exact cumulative counts, n)}) ONCE, for reuse across
    ``ks_d_against_ecdf`` calls — per-partition verdicts or streaming
    micro-batches — without rescanning the reference.

    ``max_ref_ecdf_points`` is a TOTAL driver/broadcast budget: it is
    split evenly across the fitted features (floor 10k per feature, so
    the KS-D thinning error stays <= 1e-4 even for wide feature sets) —
    driver memory is bounded regardless of how many columns are
    monitored.  It is :func:`fit_reference`'s ECDF: exact within each
    feature's share, thinned by :func:`_ecdf_points_of` over it."""
    return fit_reference(ref_df, [], cols, max_points=max_ref_ecdf_points).ecdf


def _distinct_counts(
    df: DataFrame, cols: Sequence[str], cat_cols: Sequence[str] = ()
) -> DataFrame:
    """(feature, value, cat, c) from one melt and one count: each of
    ``cols``' distinct non-NULL, non-NaN values (``cat`` NULL), and each
    of ``cat_cols``' distinct non-NULL categories as strings under the
    feature ``"#c:<col>"`` (``value`` NULL), with their counts."""
    def key(value=F.lit(None).cast("double"), cat=F.lit(None).cast("string")):
        return F.struct(value.alias("value"), cat.alias("cat"))

    keys = {c: key(value=nn(c)) for c in cols}
    keys.update({"#c:" + c: key(cat=F.col(c).cast("string")) for c in cat_cols})
    return (
        _melt_keys(df, keys)
        .select("feature", "key.value", "key.cat")
        .where(F.col("value").isNotNull() | F.col("cat").isNotNull())
        .groupBy("feature", "value", "cat")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _ecdf_share(max_points: int, n_features: int) -> int:
    """Each feature's share of a total ECDF budget of ``max_points``: an
    even split, floored at 10k points (the floor can't exceed the
    budget)."""
    return max(max_points // max(n_features, 1), min(max_points, 10_000))


class _Fit(NamedTuple):
    """The fitted reference state of the verdict suite."""

    edges: Dict[str, np.ndarray]  # PSI bin edges
    ref_counts: Dict[str, np.ndarray]  # reference count per PSI bin
    ecdf: Optional[Dict[str, tuple]]  # KS ECDF: (values, cumulative counts, n)
    ref_cats: Dict[str, Dict[str, int]]  # capped reference category counts


def fit_reference(
    ref_df: DataFrame,
    numeric_cols: Sequence[str],
    ks_cols: Sequence[str],
    n_bins: int = 10,
    approx_quantile_error: Optional[float] = None,
    max_points: int = MAX_REF_ECDF_POINTS,
    cat_cols: Sequence[str] = (),
    max_categories: int = 1000,
) -> _Fit:
    """(PSI edges, reference bin counts, KS ECDF, reference category
    counts) — the whole fitted reference state of the verdict suite and
    the streaming monitor — from ONE distinct-value count of the
    reference.

    The (feature, value, cat, c) counts of ``numeric_cols ∪ ks_cols`` and
    ``cat_cols`` (:func:`_distinct_counts`) reach the driver through one
    collect bounded by ``max_points`` rows, whose size picks the route.
    Within the budget each categorical feature's counts are capped there
    by the category rule (stats._cap_counts, over the reference alone),
    and, with no KS feature over its :func:`_ecdf_share`, the numeric
    rows are sorted once by (feature, value) and read three ways, each
    equal to its separate fit: the exact PSI edges
    (stats._exact_quantiles, the ``percentile`` aggregate's arithmetic,
    then quantile_edges' post-processing), each bin's in-range reference
    count (the bucket_expr rule) and each KS feature's exact ECDF.  A zero
    edge may differ from quantile_edges' in sign only: the GROUP BY
    normalizes -0.0.  With
    ``approx_quantile_error`` the edges are approx_quantile_edges', run
    concurrently with the count, which still gives the bin counts and the
    ECDF.

    Otherwise the separate fits run: the edges then _ref_bin_counts,
    concurrently with the KS ECDF, thinned from the same counts
    (persisted for this) rather than a second count, and, over the
    budget, the category cap in Spark (stats._cap_categories) on them.
    The route depends on the input's size alone.  A column with no
    non-NULL, non-NaN reference value gets no edges and no ECDF; the ECDF
    is {} without KS columns, and every categorical feature gets its
    (possibly empty) counts."""
    numeric_cols, ks_cols, cat_cols = list(numeric_cols), list(ks_cols), list(cat_cols)
    fit_cols = sorted(set(numeric_cols) | set(ks_cols))
    if not fit_cols and not cat_cols:
        return _Fit({}, {}, {}, {})
    spark = ref_df.sparkSession
    gk = approx_quantile_error is not None and bool(numeric_cols)
    share = _ecdf_share(max_points, len(ks_cols))
    counts = _distinct_counts(ref_df, fit_cols, cat_cols).persist()

    def scan():
        table = counts.limit(max_points + 1).toArrow()
        return table if table.num_rows <= max_points else None

    def gk_edges():
        return approx_quantile_edges(ref_df, numeric_cols, n_bins, approx_quantile_error)

    try:
        table, edges = concurrently(spark, scan, gk_edges) if gk else (scan(), None)
        ref_cats = points = None
        if table is not None:
            cats = table.filter(pc.is_valid(table.column("cat")))
            cats = zip(*(cats.column(n).to_pylist() for n in ("feature", "cat", "c")))
            ref_cats = {
                c: _cap_counts(m, max_categories)
                for c, m in _category_counts_of(cats, cat_cols).items()
            }
            points = _distinct_points(table)
        del table  # the driver holds no collected rows from here
        if points is None or any(len(points[c][0]) > share for c in ks_cols if c in points):
            points = None

            def psi():
                e = edges if gk else quantile_edges(ref_df, numeric_cols, n_bins)
                return e, (_ref_bin_counts(ref_df, e) if e else {})

            def ks():
                if not ks_cols:
                    return {}
                nd = _distinct_totals(counts.where(F.col("feature").isin(ks_cols)))
                return _ecdf_points_of(counts, nd, share)

            def categories():
                if ref_cats is not None:
                    return ref_cats
                if not cat_cols:
                    return {}
                rows = counts.where(F.col("cat").isNotNull()).select(
                    "feature", F.col("cat").alias("key"), "c"
                )
                return _category_counts_of(
                    _cap_categories(rows, max_categories).collect(), cat_cols
                )

            (edges, ref_counts), ecdf, ref_cats = concurrently(spark, psi, ks, categories)
            return _Fit(edges, ref_counts, ecdf, ref_cats)
    finally:
        counts.unpersist()

    if edges is None:
        edges = {
            c: _edges_of(_exact_quantiles(v, cums, n_bins), n_bins)
            for c in numeric_cols
            if c in points
            for v, cums in [points[c]]
        }
    ref_counts = {c: _bin_counts_of(*points[c], e) for c, e in edges.items()}
    ecdf = {c: (v, cums, int(cums[-1])) for c, (v, cums) in points.items() if c in ks_cols}
    return _Fit(edges, ref_counts, ecdf, ref_cats)


def _distinct_points(table) -> Dict[str, tuple]:
    """{feature: (ascending distinct values, their cumulative counts)},
    features in name order, of the numeric rows of a collected (feature,
    value, cat, c) Arrow table, sorted once by (feature, value)."""
    table = table.filter(pc.is_valid(table.column("value")))
    feature = table.column("feature").combine_chunks().dictionary_encode()
    f = feature.indices.to_numpy().astype(np.int64)
    value = table.column("value").to_numpy().astype(np.float64)
    c = table.column("c").to_numpy().astype(np.int64)
    order = np.lexsort((value, f))
    f, value, c = f[order], value[order], c[order]
    names = feature.dictionary.to_pylist()
    bounds = np.searchsorted(f, np.arange(len(names) + 1))
    points = {
        name: (value[a:b], np.cumsum(c[a:b]))
        for name, a, b in zip(names, bounds[:-1], bounds[1:])
    }
    return dict(sorted(points.items()))


def _category_counts_of(rows, cat_cols: Sequence[str]) -> Dict[str, Dict]:
    """{col: {category: count}} of each of ``cat_cols`` from
    (``"#c:<col>"``, category, count) rows."""
    out: Dict[str, Dict] = {c: {} for c in cat_cols}
    for f, k, c in rows:
        out[f[3:]][k] = c
    return out


def _bin_counts_of(values: np.ndarray, cums: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """In-range count per bin of ``edges`` over a sorted distinct-value
    table (``values`` ascending, ``cums`` their cumulative counts) — the
    :func:`bucket_expr` rule: first bin [e0, e1], then (e_i, e_i+1], values
    outside [e0, e_last] in no bin.  Each bin is a difference of two
    cumulative counts at searchsorted cuts, which order NaN last as Spark
    does."""
    cut = np.searchsorted(values, edges, "right")
    cut[0] = np.searchsorted(values, edges[0], "left")
    return np.diff(np.r_[0, cums].astype(np.int64)[cut])


def ks_d_against_ecdf(
    test_df: DataFrame,
    cols: Sequence[str],
    ecdf,
    part_col: str = "part",
    preaggregate: bool = False,
) -> DataFrame:
    """(part, feature, d, n, m) — exact KS D of each test group's sample
    vs a PRE-FITTED broadcast reference ECDF (see fit_ks_reference_ecdf).

    ``ecdf`` is the fitted dict OR an existing ``pyspark.Broadcast`` of it
    (repeat callers — the verdict suite, scoring every resume batch or
    micro-batch — broadcast once and pass the handle).  Columns absent
    from the fitted state are skipped with a warning; test rows with a
    NULL ``part_col`` are excluded (the verdict suite's psi/chi2 paths
    count and warn about the same rows).

    ``preaggregate=True`` reduces the test side to (part, feature, value,
    count) first — for QUANTIZED columns (image sizes, enum-ish ints; the
    north-rule w/h columns have a handful of distinct values) a hot
    partition's group shrinks by orders of magnitude, and the map-side
    partial combine absorbs the extra aggregation; the validate job turns
    it on.  Those counts then reach the driver through one bounded
    collect of at most :data:`MAX_REF_ECDF_POINTS` rows and are scored
    there, every group at once (:func:`_ks_d_of_counts`).  Over that
    budget they go to the pandas groups instead.  The weighted-unique
    math is bit-identical to sorting the raw sample (the raw path reduces
    through np.unique).  The default ships raw values in ONE shuffle to
    the pandas groups — right for continuous columns (distinct ≈ rows),
    where pre-aggregation would double the shuffled volume for no
    shrink.  The verdict suite's preaggregated KS runs this math on the
    KS rows of its one PSI/chi2 count instead (:func:`_score_counts`)."""
    spark = test_df.sparkSession
    cols = _ks_fitted_cols(cols, ecdf)
    # output schema preserves the partition column's original type
    part_type = test_df.schema[part_col].dataType
    if not cols:
        return local_frame(spark, [], _ks_schema(part_type))

    # NULL-part rows are excluded like psi/chi2 (which count + warn about
    # them in the verdict suite) — a part=NULL verdict row belongs to no
    # partition; the filter is free (a streaming micro-batch's literal
    # part never is)
    melted = _melt(test_df, cols, part_col).where(
        F.col("part").isNotNull()
    )
    if preaggregate:
        melted = melted.groupBy("part", "feature", "value").agg(
            F.count(F.lit(1)).alias("c")
        )
        counts = melted.limit(MAX_REF_ECDF_POINTS + 1).toArrow()
        if counts.num_rows <= MAX_REF_ECDF_POINTS:
            return local_frame(spark, _ks_d_of_counts(counts, _fitted(ecdf)), _ks_schema(part_type))
    return _ks_d_in_groups(melted, ecdf, part_type)


def _fitted(ecdf) -> Dict[str, tuple]:
    """The fitted ECDF dict of ``ecdf``, a dict or its Broadcast."""
    return ecdf.value if isinstance(ecdf, Broadcast) else ecdf


def _ks_schema(part_type) -> str:
    """KS rows' (part, feature, d, n, m) schema, part typed ``part_type``."""
    return f"part {part_type.simpleString()}, feature string, d double, n long, m long"


def _ks_fitted_cols(cols: Sequence[str], ecdf) -> List[str]:
    """The ``cols`` that have a fitted reference ECDF in ``ecdf`` (a dict
    or its Broadcast).  A column absent from the fitted state (an
    all-NULL/NaN reference column, which the fit's melt drops) cannot be
    scored: it is skipped loudly instead of a KeyError on the driver or
    inside applyInPandas."""
    fitted = _fitted(ecdf)
    missing = [c for c in cols if c not in fitted]
    if missing:
        logger.warning(
            "ks_d_against_ecdf: no fitted reference ECDF for %s "
            "(all-NULL/NaN reference column?) — skipped",
            missing,
        )
    return [c for c in cols if c in fitted]


def _ks_d_in_groups(values: DataFrame, ecdf, part_type) -> DataFrame:
    """(part, feature, d, n, m) of a (part, feature, value[, c]) frame of
    non-NULL parts and values — raw values, or distinct values with their
    counts ``c`` — each (part, feature) group scored in applyInPandas
    against ``ecdf`` (a dict or its Broadcast), broadcast once by repeat
    callers: the verdict suite scores every batch or micro-batch against
    the same fitted state, and re-serializing up to max_ref_ecdf_points
    pairs per call would cost each one."""
    b_ecdf = ecdf
    if not isinstance(ecdf, Broadcast):
        b_ecdf = values.sparkSession.sparkContext.broadcast(ecdf)

    def compute(key, pdf):
        part, feat = key
        if "c" in pdf.columns:
            tv, tc = pdf["value"].values, pdf["c"].values
        else:
            tv, tc = np.unique(pdf["value"].values.astype(np.float64), return_counts=True)
        # one (part, feature) group: the output takes its part from the key
        counts = pa.table(
            {"part": np.zeros(len(tv), np.int64), "feature": [feat] * len(tv), "value": tv, "c": tc}
        )
        ((_, _, d, n, m),) = _ks_d_of_counts(counts, {feat: b_ecdf.value[feat]})
        return pd.DataFrame({"part": [part], "feature": [feat], "d": [d], "n": [n], "m": [m]})

    return values.groupBy("part", "feature").applyInPandas(
        compute, schema=_ks_schema(part_type)
    )


def _ks_d_of_counts(counts, ecdf: Dict[str, tuple]) -> List[tuple]:
    """[(part, feature, d, n, m)] of a collected (part, feature, value, c)
    Arrow table of distinct test values, every (part, feature) group
    scored at once: the rows sort by (group, value), one cumulative sum
    with per-group offsets gives each group's test ECDF, and one
    searchsorted per feature reads the reference ECDF.  The pandas groups
    of :func:`ks_d_against_ecdf` score each group through it too."""
    part = counts.column("part").combine_chunks().dictionary_encode()
    feature = counts.column("feature").combine_chunks().dictionary_encode()
    feats = feature.dictionary.to_pylist()
    n_parts = len(part.dictionary)
    group = (
        feature.indices.to_numpy().astype(np.int64) * n_parts
        + part.indices.to_numpy().astype(np.int64)
    )
    value = counts.column("value").to_numpy().astype(np.float64)
    c = counts.column("c").to_numpy().astype(np.int64)
    if not len(c):
        return []
    order = np.lexsort((value, group))
    group, value, c = group[order], value[order], c[order]

    starts = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
    sizes = np.diff(np.r_[starts, len(group)])
    cum = np.cumsum(c)
    cum -= np.repeat(cum[starts] - c[starts], sizes)  # per-group cumulative
    m = np.repeat(cum[starts + sizes - 1], sizes)
    T, T_prev = cum / m, (cum - c) / m
    gap = np.empty(len(group))
    feat_of_row = group // n_parts
    bounds = np.searchsorted(feat_of_row, np.arange(len(feats) + 1))
    for f, rows in enumerate(map(slice, bounds[:-1], bounds[1:])):
        vals, cums, n = ecdf[feats[f]]
        hi = np.searchsorted(vals, value[rows], side="right")
        lo = np.searchsorted(vals, value[rows], side="left")
        R_at = np.where(hi > 0, cums[np.maximum(hi - 1, 0)], 0) / n
        R_before = np.where(lo > 0, cums[np.maximum(lo - 1, 0)], 0) / n
        gap[rows] = np.maximum(np.abs(R_at - T[rows]), np.abs(R_before - T_prev[rows]))
    d = np.maximum.reduceat(gap, starts)
    g = group[starts]
    n_of = np.array([ecdf[f][2] for f in feats], dtype=np.int64)
    return list(zip(
        np.asarray(part.dictionary.to_pylist(), dtype=object)[g % n_parts],
        np.asarray(feats, dtype=object)[g // n_parts],
        d.tolist(),
        n_of[g // n_parts].tolist(),
        m[starts].tolist(),
    ))


def _chi2_rows(ref_cats: Dict, test_cats: Dict, min_samples: int = 5) -> List[dict]:
    """[{part, feature, stat, p, n_ref, n_test}] sorted by (part, feature)
    from :func:`_score_counts`' category counts."""
    out: List[dict] = []
    for (part, col), tmap in sorted(test_cats.items()):
        stat, p, n_ref, n_test = chi2_from_count_maps(ref_cats[col], tmap, min_samples)
        out.append(
            {
                "part": part,
                "feature": col,
                "stat": stat,
                "p": p,
                "n_ref": n_ref,
                "n_test": n_test,
            }
        )
    return out


def chi2_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    cat_cols: Sequence[str],
    part_col: str = "part",
    min_samples: int = 5,
    max_categories: int = 1000,
) -> List[dict]:
    """Per-(part, feature) chi-square of test category counts vs global
    reference proportions (univariate.py:71-122 semantics, per-partition).

    ALL categorical columns of both sides count in one
    :func:`_score_counts` (is_ref, part, feature, category) aggregation,
    collected through the suite's bounded collect.  The chi-square over
    O(parts x features x categories) count rows runs on the driver.

    Scale guard: that driver loop assumes bounded category cardinality —
    a high-cardinality string column (ids, captions) would collect
    unbounded rows.  The verdict suite's one category rule applies
    (stats._cap_counts: the reference capped alone, each partition capped
    on its own with the reference members pinned), with a logged warning
    naming the capped features, so a partition's chi2 depends on its own
    rows and the reference alone.  Features at or under
    ``max_categories`` are bit-identical to the unguarded path.  Test
    rows with a NULL partition id are excluded from verdicts (they belong
    to no partition) but are COUNTED in the same aggregation and logged,
    so drift concentrated in null-part rows can't vanish silently."""
    if not cat_cols:
        return []
    _, _, ref_cats, test_cats, _ = _score_counts(
        ref_df, test_df, {}, cat_cols, part_col, max_categories
    )
    return _chi2_rows(ref_cats, test_cats, min_samples)


def fit_ref_category_counts(
    ref_df: DataFrame,
    cat_cols: Sequence[str],
    max_categories: int = 1000,
) -> tuple:
    """({feature: {category: count}}, capped_features) — the verdict fit's
    global reference category counts (:func:`fit_reference`), for reuse
    across many chi-square scorings (the cumulative chi2 stream).  A
    feature exceeding ``max_categories`` keeps its top
    max_categories-1 categories and merges the tail into
    CHI2_OTHER_BUCKET; callers must remap unseen/tail test categories
    into the same bucket for capped features."""
    if not cat_cols:
        return {}, set()
    out = fit_reference(
        ref_df, [], [], cat_cols=cat_cols, max_categories=max_categories
    ).ref_cats
    capped = {c for c, m in out.items() if CHI2_OTHER_BUCKET in m}
    if capped:
        logger.warning(
            "fit_ref_category_counts: feature(s) %s exceed max_categories=%d; "
            "tail categories merged into %r",
            sorted(capped), max_categories, CHI2_OTHER_BUCKET,
        )
    return out, capped


def chi2_from_count_maps(
    rmap: Dict, tmap: Dict, min_samples: int = 5
) -> tuple:
    """(stat, p, n_ref, n_test) — chi-square of test category counts vs
    reference proportions from two {category: count} maps (the reference's
    univariate.py:71-122 math: union-aligned categories, >=min_samples
    validity filter on either side, df = n_valid - 1).  Pure driver math,
    shared by the batch per-partition path and the streaming monitor.
    An empty reference has no expected proportions: stat and p are NaN,
    which :func:`pvalue_verdict` passes.  A non-empty reference with no
    count in any valid category (every category replaced) is scored as a
    single new category is: stat inf, p 0."""
    _, rc, tc = _aligned(rmap, tmap)
    valid = (rc >= min_samples) | (tc >= min_samples)
    if valid.sum() < 2:
        stat, p = 0.0, 1.0
    elif rc.sum() == 0:
        stat = p = float("nan")
    elif rc[valid].sum() == 0:
        stat, p = float("inf"), 0.0
    else:
        rv, tv = rc[valid], tc[valid]
        expected = rv / rv.sum() * tv.sum()
        with np.errstate(divide="ignore", invalid="ignore"):
            stat = float(np.sum((tv - expected) ** 2 / expected))
        p = chi2_sf(stat, int(valid.sum()) - 1)
    return stat, p, int(rc.sum()), int(tc.sum())


def pvalue_verdict(p: float, threshold: float) -> tuple:
    """(severity, passed) of a p-value verdict: the detector severity
    ladder, failed iff p < threshold.  A NaN p (a chi2 with an empty
    reference) is no evidence of drift: severity "none", passed."""
    if math.isnan(p):
        return "none", True
    return severity_from_pvalue(p, threshold), not (p < threshold)


def _verdict_schema(df: DataFrame, part_col: str) -> str:
    """VERDICT_SCHEMA with the part column typed as ``df[part_col]``."""
    part_type = df.schema[part_col].dataType.simpleString()
    return VERDICT_SCHEMA.replace("part int", f"part {part_type}", 1)


@dataclass
class _VerdictSuite:
    """THE verdict engine of :func:`partition_verdicts`, the checkpointed
    resume and the streaming monitor: a reference FIT plus a SCORE of any
    test frame.  :meth:`fit` takes the PSI edges, the reference bin
    counts, the KS ECDF and the capped reference category counts of
    ``ref_df`` from one :func:`fit_reference` scan; :meth:`use_fit` takes
    the same state loaded from a checkpoint.  :meth:`rows` scores every
    partition of a test frame against that state, fitting it first when
    there is none: a resume batch is a few partitions, a streaming
    micro-batch is one.  Only the opt-in W1 reads the reference on every
    score."""

    ref_df: DataFrame
    numeric_cols: Sequence[str]
    cat_cols: Sequence[str] = ()
    part_col: str = "part"
    psi_threshold: float = 0.2
    ks_threshold: float = 0.05
    chi2_threshold: float = 0.05
    n_bins: int = 10
    approx_quantile_error: Optional[float] = None
    ks_cols: Optional[Sequence[str]] = None
    max_categories: int = 1000
    ks_preaggregate: bool = False
    w1_cols: Optional[Sequence[str]] = None
    w1_threshold: float = 0.1
    min_bin_size: float = 0.001

    def __post_init__(self):
        self.ks_cols = list(self.numeric_cols if self.ks_cols is None else self.ks_cols)
        self.fitted: Optional[_Fit] = None
        self._b_ecdf = None

    @property
    def fit_cols(self) -> list:
        """The reference columns the fit reads."""
        return sorted(set(self.numeric_cols) | set(self.ks_cols) | set(self.cat_cols))

    @property
    def fit_params(self) -> list:
        """Every setting the fitted state depends on, besides the reference
        rows themselves."""
        return [
            list(self.numeric_cols), self.ks_cols, self.n_bins,
            self.approx_quantile_error, MAX_REF_ECDF_POINTS,
            list(self.cat_cols), self.max_categories,
        ]

    def fit(self, max_points: Optional[int] = None) -> "_VerdictSuite":
        """Fit the reference, ``max_points`` (default
        :data:`MAX_REF_ECDF_POINTS`) the driver-row budget."""
        fit = fit_reference(
            self.ref_df, self.numeric_cols, self.ks_cols, self.n_bins,
            self.approx_quantile_error,
            MAX_REF_ECDF_POINTS if max_points is None else max_points,
            self.cat_cols, self.max_categories,
        )
        if self.numeric_cols and not fit.edges:
            # every numeric column all-NULL in the reference: no fitted
            # bins means no PSI verdicts, not a failed verdict suite
            logger.warning(
                "verdict suite: no PSI edges could be fitted for %s "
                "(all-NULL reference columns?) — PSI checks skipped",
                list(self.numeric_cols),
            )
        return self.use_fit(*fit)

    def use_fit(
        self, edges: dict, ref_counts: dict, ecdf: Optional[dict], ref_cats: dict
    ) -> "_VerdictSuite":
        """Score against a given fitted state — :meth:`fit`'s, or one a
        checkpoint persisted — and broadcast its KS ECDF once."""
        ecdf = ecdf if self.ks_cols else None
        self.fitted = _Fit(edges, ref_counts, ecdf, ref_cats)
        self._b_ecdf = (
            None if ecdf is None else self.ref_df.sparkSession.sparkContext.broadcast(ecdf)
        )
        return self

    def rows(self, test_df: DataFrame) -> List[tuple]:
        """The verdict rows (VERDICT_SCHEMA order) of every partition of
        ``test_df``, built on the driver from one count of the test rows
        (:func:`_score_counts`), which scores PSI, chi2 and, with
        ``ks_preaggregate``, KS; the raw-value KS scoring and the opt-in
        W1 run concurrently with it.  Fits the reference first when it is
        not fitted."""
        if self.fitted is None:
            self.fit()
        ref_df, part_col = self.ref_df, self.part_col
        edges, ref_counts, _, ref_cats = self.fitted
        shared_ks = self._b_ecdf is not None and self.ks_preaggregate

        def run_counts():
            # PSI, chi2 and preaggregated KS share one count
            if not edges and not self.cat_cols and not shared_ks:
                return [], [], []
            _, hists, _, test_cats, ks_rows = _score_counts(
                None, test_df, edges, self.cat_cols, part_col,
                self.max_categories, ref_cats,
                ecdf=self._b_ecdf if shared_ks else None,
                ks_cols=self.ks_cols if shared_ks else (),
            )
            return (
                _psi_rows(hists, ref_counts, self.min_bin_size),
                _chi2_rows(ref_cats, test_cats),
                ks_rows,
            )

        def run_ks():
            if self._b_ecdf is None or shared_ks:
                return []
            return ks_d_against_ecdf(test_df, self.ks_cols, self._b_ecdf, part_col).collect()

        def run_w1():
            # opt-in scale-bearing check: normalized W1 (w1 / global ref std)
            # per partition; the ratio severity ladder matches the
            # WassersteinDistance detector.  Degenerate ref std (constant
            # feature) scores raw w1 against 0 — any movement fails.
            if not self.w1_cols:
                return [], {}
            from driftspark.stats import moment_stats

            w1_cols = list(self.w1_cols)
            stds = {c: s for c, (mu, s) in moment_stats(ref_df, w1_cols).items()}
            return w1_by_partition(ref_df, test_df, w1_cols, part_col).collect(), stds

        (psi_rows, chi2_rows, ks_rows), raw_ks_rows, (w1_rows, w1_stds) = concurrently(
            ref_df.sparkSession, run_counts, run_ks, run_w1
        )

        rows = [
            (part, f, "psi", psi, None, severity_from_psi(psi),
             psi < self.psi_threshold, n_ref, n_test)
            for part, f, psi, n_ref, n_test in psi_rows
        ]
        for part, f, d, n, m in ks_rows + raw_ks_rows:
            d, n, m = float(d), int(n), int(m)
            p = ks_2samp_pvalue(d, n, m)
            rows.append(
                (part, f, "ks", d, p, *pvalue_verdict(p, self.ks_threshold), n, m)
            )
        rows += [
            (rec["part"], rec["feature"], "chi2", rec["stat"], rec["p"],
             *pvalue_verdict(rec["p"], self.chi2_threshold),
             rec["n_ref"], rec["n_test"])
            for rec in chi2_rows
        ]
        if w1_rows:
            from driftspark.detectors.wasserstein import severity_from_ratio

            for r in w1_rows:
                w1, std = float(r["w1"]), w1_stds.get(r["feature"], 0.0)
                norm = w1 / std if std > 0 else (0.0 if w1 == 0.0 else float("inf"))
                rows.append(
                    (r["part"], r["feature"], "w1", norm, None,
                     severity_from_ratio(norm / self.w1_threshold),
                     norm < self.w1_threshold, int(r["n"]), int(r["m"]))
                )
        return rows

    def score(self, test_df: DataFrame) -> DataFrame:
        """:meth:`rows` as a driver-built verdict DataFrame, the part
        column typed as ``test_df``'s."""
        return local_frame(
            self.ref_df.sparkSession, self.rows(test_df),
            _verdict_schema(test_df, self.part_col),
        )


def partition_verdicts(
    df: DataFrame,
    numeric_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    part_col: str = "part",
    split_col: str = "split",
    ref_value: str = "ref",
    test_value: str = "test",
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.05,
    chi2_threshold: float = 0.05,
    n_bins: int = 10,
    parts: Optional[Sequence] = None,
    approx_quantile_error: Optional[float] = None,
    ks_cols: Optional[Sequence[str]] = None,
    max_categories: int = 1000,
    ks_preaggregate: bool = False,
    w1_cols: Optional[Sequence[str]] = None,
    w1_threshold: float = 0.1,
) -> DataFrame:
    """Run the per-partition drift suite over one split-tagged table.

    Returns a verdict DataFrame (VERDICT_SCHEMA with the part column typed
    as the input's partition column — int, string, date, ...): one row per
    (partition, feature, check) with statistic, p-value (where defined),
    reference severity ladder, and pass/fail.  ``parts`` restricts the run
    to a subset of partitions (checkpoint.resumable_partition_drift scores
    its batches on one fitted :class:`_VerdictSuite` instead).
    """
    split = F.col(split_col)
    test_df = df.where(split == test_value)
    if parts is not None:
        test_df = test_df.where(F.col(part_col).isin(list(parts)))
    return _VerdictSuite(
        df.where(split == ref_value), numeric_cols, cat_cols, part_col=part_col,
        psi_threshold=psi_threshold, ks_threshold=ks_threshold,
        chi2_threshold=chi2_threshold, n_bins=n_bins,
        approx_quantile_error=approx_quantile_error, ks_cols=ks_cols,
        max_categories=max_categories, ks_preaggregate=ks_preaggregate,
        w1_cols=w1_cols, w1_threshold=w1_threshold,
    ).score(test_df)
