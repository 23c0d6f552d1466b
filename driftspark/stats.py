"""Distributed statistical primitives (the engine's physical operators).

Each primitive is a declarative DataFrame composition — Catalyst gets the
whole plan (column pruning, partial aggregation, AQE) — and returns tiny
driver-side arrays that feed the scalar math in ``driftspark.numerics``.

Semantics parity notes (reference = /root/reference/src/drift_autopsy):

* quantile bin edges == ``pd.qcut(values, q, retbins=True,
  duplicates='drop')`` (psi.py:70-77): exact linear-interpolated
  percentiles (Spark ``percentile`` aggregate) with duplicate edges dropped,
  falling back to uniform ``linspace(min, max, q+1)`` edges (psi.py:80-82).
* bucketization == ``pd.cut(values, bins=edges, include_lowest=True)``
  (psi.py:149-150): right-closed intervals, first bin closed on both ends,
  values outside [edges[0], edges[-1]] excluded from both the counts and
  the normalization denominator (pandas leaves them NaN and
  ``value_counts(normalize=True)`` drops them).
* confidence binning == ``np.digitize(conf, linspace(0,1,11)[:-1]) - 1``
  then clip to [0, n_bins-1] (cbpe.py:80-87): left-closed decile bins using
  the exact ``np.linspace`` doubles as cutoffs.
* KS D == the max |ECDF_ref - ECDF_test| over pooled sample points, i.e.
  exactly scipy.stats.ks_2samp's statistic: computed distributed via
  per-value pre-aggregation + ONE exact cumulative-count frame
  (``_cdf_cum_frame``, §2.4 A10 in SURVEY.md) that W1, CvM/AD,
  per-partition W1 and the reference-ECDF thinning share.  The
  groupBy(feature, value) partial aggregation shrinks the window input to
  distinct values, and the value buckets split each feature's window.
"""

from __future__ import annotations

import logging
import math
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from driftspark.session import concurrently, local_frame

logger = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Null/NaN handling — pandas `.dropna()` parity for double columns
# ---------------------------------------------------------------------------


def nn(col: str) -> Column:
    """NULL out NaNs so Spark aggregates skip them like pandas dropna
    (reference drops NaN before every statistic, e.g. ks_test.py:96-97)."""
    return F.expr(_nn_sql(col))


def _nn_sql(col: str) -> str:
    """:func:`nn` as SQL text.  ``col`` names a column as ``F.col`` reads
    it: dots separate nested fields, unless the name is backquoted."""
    if "`" not in col:
        col = ".".join(f"`{part}`" for part in col.split("."))
    v = f"CAST({col} AS DOUBLE)"
    return f"CASE WHEN NOT isnan({v}) THEN {v} END"


def _sql_double(x: float) -> str:
    """A SQL literal that parses back to exactly the double ``x``: the
    shortest round-trip ``repr`` with the ``D`` suffix (-0.0 included), or
    a cast of the special values' strings."""
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return f"CAST('{x!r}' AS DOUBLE)"  # 'nan', 'inf', '-inf'
    return f"{x!r}D"


# ---------------------------------------------------------------------------
# Quantile bin edges (PSI fit)
# ---------------------------------------------------------------------------


def quantile_edges(
    df: DataFrame, cols: Sequence[str], q: int
) -> Dict[str, np.ndarray]:
    """Exact per-column quantile edges from Spark's ``percentile`` aggregate.

    ``percentile`` is Spark's exact linear-interpolation percentile
    aggregate — same interpolation as numpy/pandas quantile, so edges match
    ``pd.qcut`` retbins (up to float associativity).  Nulls/NaNs excluded.
    The verdict suite and the streaming monitor take this route only over
    their driver-row budget: within it, ``verdicts.fit_reference`` reads the
    same edges (:func:`_exact_quantiles`) off one distinct-value count.

    ONE direct aggregation per column, submitted as CONCURRENT jobs: the
    percentile aggregate's partial state is a distinct-value counts map
    whose final merge is single-threaded per aggregate — a multi-column
    global agg serializes every column's merge into one task, which
    dominated the exact-edges fit.  Per-column jobs keep each merge in
    its own job (overlapping scheduling and merges, guide-§2.6 style)
    and, with a columnar source, read DISJOINT column chunks — total
    scan bytes stay ~constant while the merges parallelize (interleaved
    best-of-3 at sf0.1: 2.26 s → 1.56 s for 4 columns).  Values are
    bit-identical (same per-column aggregate expression; locked by the
    pd.qcut parity tests).

    Cost note: each per-column job re-runs ``df``'s whole lineage.  On a
    plain columnar scan that is the cheap disjoint read above; when ``df``
    is a derived plan (joins, UDFs, shuffles) every column repeats that
    upstream work — persist or checkpoint such an input first.
    """
    if not cols:
        return {}
    probs = F.array(*[F.lit(p) for p in _edge_probs(q)])

    def one(c: str):
        return lambda: df.agg(F.percentile(nn(c), probs)).first()[0]

    # these are tiny driver .first() collects over the py4j socket, NOT
    # Arrow streams — the box's ~8-concurrent-Arrow-stream knee
    # (CLAUDE.md) does not apply, so nesting inside the verdict/runner
    # pools is safe
    pct = concurrently(df.sparkSession, *map(one, cols), max_workers=8)
    # None: an all-null column
    return {c: _edges_of(p, q) for c, p in zip(cols, pct) if p is not None}


def approx_quantile_edges(
    df: DataFrame, cols: Sequence[str], q: int, relative_error: float = 1e-4
) -> Dict[str, np.ndarray]:
    """Greenwald-Khanna approximate quantile edges — the scale path.

    ONE pass, map-side mergeable sketches, no melt/shuffle of values: at
    10^12 rows an exact percentile sort is not realistic, and PSI is
    insensitive to edge placement at relative_error=1e-4 (a bin boundary
    moves by <=0.01% of the mass).  Exact pd.qcut-parity edges remain
    available via ``quantile_edges`` (detector flag ``exact_edges``).

    Same post-processing as the exact path (:func:`_edges_of`; GK
    summaries keep exact min/max, so edges[0]/edges[-1] are the true
    extremes).
    """
    if not cols:
        return {}
    raw = df.approxQuantile(list(cols), _edge_probs(q), relative_error)
    return {
        c: _edges_of(e, q)
        for c, e in zip(cols, raw)
        if len(e)  # empty: an all-null column
    }


def _edge_probs(q: int) -> List[float]:
    """The q + 1 probabilities of q quantile bins."""
    return [i / q for i in range(q + 1)]


def _edges_of(quantiles, q: int) -> np.ndarray:
    """THE edge post-processing of every quantile route (psi.py:70-82):
    duplicate quantiles dropped; a constant column (one distinct
    quantile) falls back to q + 1 copies of it.  That equals the
    reference's ``linspace(min, max, q + 1)`` (min == max) on finite
    values; linspace gives NaN edges for a column of only +inf (or only
    -inf)."""
    edges = np.unique(np.asarray(quantiles, dtype=np.float64))
    return edges if len(edges) >= 2 else np.full(q + 1, edges[0])


def _exact_quantiles(values: np.ndarray, cums: np.ndarray, q: int) -> np.ndarray:
    """The ``percentile`` aggregate's q + 1 edge quantiles, read off a
    sorted distinct-value table (``values`` ascending, ``cums`` their
    cumulative counts) on the driver, every probability at once.

    Spark's Percentile.getPercentile, operation for operation: position =
    (n - 1) * p, its floor and ceil located by Arrays.binarySearch on the
    cumulative counts (``searchsorted(cums, k + 1, "left")``; the counts
    are strictly increasing), the floor value when the position is whole
    or both ends hold the same value, else (ceil - position) * lo +
    (position - floor) * hi."""
    pos = (cums[-1] - 1) * np.asarray(_edge_probs(q))
    lower, higher = np.floor(pos), np.ceil(pos)
    lo = values[np.searchsorted(cums, lower.astype(np.int64) + 1, "left")]
    hi = values[np.searchsorted(cums, higher.astype(np.int64) + 1, "left")]
    with np.errstate(invalid="ignore"):  # 0 * inf where an early return wins
        mixed = (higher - pos) * lo + (pos - lower) * hi
    return np.where((higher == lower) | (lo == hi), lo, mixed)


# ---------------------------------------------------------------------------
# Bucketization expressions
# ---------------------------------------------------------------------------


def bucket_expr(col: str, edges: np.ndarray) -> Column:
    """pd.cut(values, bins=edges, include_lowest=True) as a Column.

    Right-closed bins (e_{i}, e_{i+1}], first bin [e_0, e_1].  Returns NULL
    for out-of-range or null/NaN values.  Bin index = number of interior
    edges strictly below the value — a whole-stage-codegen'd sum of
    comparisons, no UDF, built from ONE SQL expression string (one Py4J
    call, where chaining Column operators costs a round trip each).
    """
    v = _nn_sql(col)
    e = [_sql_double(x) for x in edges]
    bin_idx = " + ".join(["0", *(f"CAST({v} > {x} AS INT)" for x in e[1:-1])])
    return F.expr(f"CASE WHEN {v} >= {e[0]} AND {v} <= {e[-1]} THEN {bin_idx} END")


def digitize_clip_expr(col: str, edges: np.ndarray, n_bins: int) -> Column:
    """np.digitize(x, edges[:-1]) - 1, clipped to [0, n_bins-1]
    (CBPE confidence binning, cbpe.py:83-84, 127-128).

    digitize(x, bins) - 1 == (# of cutoffs <= x) - 1; uses the exact
    linspace doubles as cutoffs so float-boundary behavior matches numpy.
    NULL in → NULL out (NaN confidence is not meaningful).  One SQL
    expression string, as :func:`bucket_expr`.
    """
    v = _nn_sql(col)
    cnt = " + ".join(["0", *(f"CAST({v} >= {_sql_double(x)} AS INT)" for x in edges[:-1])])
    clipped = f"least(greatest(({cnt}) - 1, 0), {int(n_bins) - 1})"
    return F.expr(f"CASE WHEN {v} IS NOT NULL THEN {clipped} END")


# ---------------------------------------------------------------------------
# Keyed counts: the one melt, the one (part?, feature, key) count and the
# one category cap behind PSI, chi2, CBPE and category shift
# ---------------------------------------------------------------------------

#: merged-tail key of a feature over its category cap (unlikely to collide
#: with real category strings)
CHI2_OTHER_BUCKET = "__chi2_other__"


def _melt_keys(
    df: DataFrame, keys: Dict[str, Column], by: Sequence = ()
) -> DataFrame:
    """(*by, feature, key) long form: one row per (input row, feature),
    the key being ``keys[feature]`` evaluated on the row (every key of one
    type; NULL keys stay).  ``by`` are columns carried along.  THE melt of
    every keyed count and of the exact CDF statistics.

    Deliberately NOT spread_input-guarded: an interleaved A/B at sf0.1
    showed the extra round-robin exchange costs more than the explode
    saves (the heavy work happens after the groupBy exchange, which
    already parallelizes it) — unlike the per-token md5/n-gram paths in
    driftspark.dedup where the guard wins 3x."""
    structs = [
        F.struct(F.lit(f).alias("feature"), k.alias("key")) for f, k in keys.items()
    ]
    m = df.select(*by, F.explode(F.array(*structs)).alias("__fk"))
    return m.select(*m.columns[:-1], "__fk.feature", "__fk.key")


def key_counts(
    df: DataFrame, keys: Dict[str, Column], by: Sequence = ()
) -> DataFrame:
    """Lazy (*by, feature, key, c) row counts from ONE groupBy over
    :func:`_melt_keys`: map-side partial aggregation keeps the shuffle at
    O(groups x features x keys) whatever the row count.  A NULL key (an
    out-of-range bin, a NULL category) is a row of its own, so the same
    aggregation also yields the group universe and the NULL counts.

    A key is any Column: the ``bucket_expr`` bin for PSI, the
    ``digitize_clip_expr`` bin for CBPE, the value for categoricals."""
    m = _melt_keys(df, keys, by)
    return m.groupBy(*m.columns).agg(F.count(F.lit(1)).alias("c"))


def _fold_unfitted(col: Column, members) -> Column:
    """``col`` where it is one of the fitted ``members``, the other-bucket
    otherwise; NULL stays NULL (excluded by the counts, never
    other-bucketed)."""
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(col.isin(list(members)), col)
        .otherwise(F.lit(CHI2_OTHER_BUCKET))
    )


def _cap_counts(
    counts: Dict[str, int], max_categories: int, members: Optional[dict] = None
) -> Dict[str, int]:
    """THE category rule, on the driver, for one group's {key: count}
    (non-NULL keys): a feature's reference counts, or one scored (part,
    feature) group's with ``members``, that feature's fitted reference
    counts.  A feature the fit capped (its members hold CHI2_OTHER_BUCKET)
    first folds every key outside its members into the bucket.  A group
    with MORE than ``max_categories`` keys then keeps every member and its
    top ``max_categories - 1`` keys by (member first, count descending,
    key ascending), and folds the rest into CHI2_OTHER_BUCKET.  A group's
    counts thus depend on its own rows and the reference alone.
    :func:`_cap_categories` is the same rule in Spark."""
    members = members or {}
    if CHI2_OTHER_BUCKET in members:
        counts = _fold(counts, members)
    if len(counts) <= max_categories:
        return counts
    order = sorted(counts, key=lambda k: (k not in members, -counts[k], k))
    return _fold(counts, {*members, *order[: max_categories - 1]})


def _fold(counts: Dict[str, int], kept) -> Dict[str, int]:
    """``counts`` with every key outside ``kept`` summed into CHI2_OTHER_BUCKET."""
    out: Dict[str, int] = {}
    for k, n in counts.items():
        k = k if k in kept else CHI2_OTHER_BUCKET
        out[k] = out.get(k, 0) + n
    return out


def _cap_categories(
    counts: DataFrame, max_categories: int, members: Optional[Dict[str, dict]] = None
) -> DataFrame:
    """:func:`_cap_counts` in Spark, before anything reaches the driver
    (the aggregate-once, cut-top-k pattern of VLDB '23 cache-efficient
    top-k aggregation): every (*by, feature) group of the (*by, feature,
    key, c) frame ``counts`` (non-NULL keys) is capped on its own,
    ``members`` being {feature: its fitted reference counts}."""
    members = {f: m for f, m in (members or {}).items() if m}
    by = counts.columns[:-3]
    key, pinned = F.col("key"), F.lit(False)
    for f, m in members.items():
        of_f = F.col("feature") == f
        if CHI2_OTHER_BUCKET in m:
            key = F.when(of_f, _fold_unfitted(F.col("key"), m)).otherwise(key)
        pinned = F.when(of_f, F.col("key").isin(list(m))).otherwise(pinned)

    def summed(frame, key):
        return frame.withColumn("key", key).groupBy(*by, "feature", "key").agg(
            F.sum("c").alias("c")
        )

    if any(CHI2_OTHER_BUCKET in m for m in members.values()):
        counts = summed(counts, key)
    group = Window.partitionBy(*by, "feature")
    rank = F.row_number().over(group.orderBy(pinned.desc(), F.col("c").desc(), "key"))
    n_keys = F.count(F.lit(1)).over(group)
    keep = pinned | (rank < max_categories) | (n_keys <= max_categories)
    return summed(counts, F.when(keep, F.col("key")).otherwise(F.lit(CHI2_OTHER_BUCKET)))


def _sides(ref_df: DataFrame, test_df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """``cols`` of both sides as one frame, ``is_ref`` marking the side."""
    cols = list(dict.fromkeys(cols))
    return ref_df.select(*cols, F.lit(True).alias("is_ref")).unionByName(
        test_df.select(*cols, F.lit(False).alias("is_ref"))
    )


def _side_counts(
    ref_df: DataFrame, test_df: DataFrame, cols: Sequence[str], keys: Dict[str, Column]
) -> Dict[str, Tuple[dict, dict]]:
    """{feature: ({key: ref count}, {key: test count})} over the non-NULL
    keys, from one :func:`key_counts` job over both sides."""
    out: Dict[str, Tuple[dict, dict]] = {f: ({}, {}) for f in keys}
    counts = key_counts(_sides(ref_df, test_df, cols), keys, ["is_ref"])
    for r in counts.where(F.col("key").isNotNull()).collect():
        out[r["feature"]][0 if r["is_ref"] else 1][r["key"]] = r["c"]
    return out


def _proportions(counts) -> np.ndarray:
    """``counts`` over their total as float64 — all zeros when there are
    none (an empty side or an all-out-of-range partition)."""
    counts = np.asarray(counts, dtype=np.float64)
    n = counts.sum()
    return counts / n if n > 0 else counts


def _aligned(ref_map: dict, test_map: dict) -> Tuple[List, np.ndarray, np.ndarray]:
    """(categories, ref counts, test counts) over the sorted union of
    observed categories, 0 on the side a category is missing from
    (univariate.py:84-91 alignment; the reference sorts the union,
    univariate.py:88)."""
    cats = sorted(set(ref_map) | set(test_map))
    return (
        cats,
        np.array([ref_map.get(k, 0) for k in cats], dtype=np.float64),
        np.array([test_map.get(k, 0) for k in cats], dtype=np.float64),
    )


def histogram_proportions(
    ref_df: DataFrame,
    test_df: DataFrame,
    edges_map: Dict[str, np.ndarray],
) -> Dict[str, Tuple[np.ndarray, np.ndarray]]:
    """Per-feature in-range bin proportions for both sides, from ONE job
    (:func:`psi_counts_fused` without categoricals).

    Matches ``value_counts(normalize=True, sort=False)`` over the pd.cut
    categorical (psi.py:153-154): every fitted bin present (0.0 when
    empty), denominator = in-range non-null count.  An empty side gets
    all-zero proportions.
    """
    return psi_counts_fused(ref_df, test_df, edges_map)[0]


def psi_counts_fused(
    ref_df: DataFrame,
    test_df: DataFrame,
    edges_map: Dict[str, np.ndarray],
    cat_cols: Sequence[str] = (),
) -> Tuple[
    Dict[str, Tuple[np.ndarray, np.ndarray]], Dict[str, Tuple[np.ndarray, np.ndarray]]
]:
    """Numeric bin proportions AND categorical side-counts in ONE job.

    One :func:`key_counts` over both sides: numeric features key on the
    pd.cut bucket index, categoricals on their raw value (both as
    strings, one key type).  Map-side partial aggregation shrinks the
    shuffle to O(features x (bins+categories)) state per task regardless
    of row count, so the whole detect() phase is one scan + one tiny
    shuffle.

    Returns ``(numeric_props, cat_counts)``: numeric_props as
    :func:`histogram_proportions`; cat_counts is {col: (ref_counts,
    test_counts)} over the sorted union of observed categories
    (:func:`categorical_counts` alignment).
    """
    if not edges_map and not cat_cols:
        return {}, {}
    # "#c:" namespace keeps a categorical named like a numeric distinct
    keys = {"#n:" + c: bucket_expr(c, e).cast("string") for c, e in edges_map.items()}
    keys.update({"#c:" + c: F.col(c).cast("string") for c in cat_cols})
    counts = _side_counts(ref_df, test_df, [*edges_map, *cat_cols], keys)
    numeric_props = {
        c: tuple(
            _proportions([side.get(str(i), 0) for i in range(len(e) - 1)])
            for side in counts["#n:" + c]
        )
        for c, e in edges_map.items()
    }
    cat_counts = {c: _aligned(*counts["#c:" + c])[1:] for c in cat_cols}
    return numeric_props, cat_counts


def categorical_counts(
    ref_df: DataFrame, test_df: DataFrame, col: str
) -> Tuple[List, np.ndarray, np.ndarray]:
    """Aligned raw value counts over the union of observed categories
    (:func:`_aligned`), categories keeping the column's own type.

    One groupBy keeps the shuffle at category cardinality; assumes the
    categorical domain fits on the driver (true for fmt/lang-style enums).
    """
    return _aligned(*_side_counts(ref_df, test_df, [col], {col: F.col(col)})[col])


# ---------------------------------------------------------------------------
# Exact two-sample CDF statistics (KS, W1, CvM/AD): one cumulative frame
# ---------------------------------------------------------------------------


def _melt(
    df: DataFrame, cols: Sequence[str], part_col: Optional[str] = None
) -> DataFrame:
    """(feature, value) long form of the non-NULL, non-NaN values (pandas
    dropna parity), led by ``part`` when ``part_col`` is given."""
    by = [F.col(part_col).alias("part")] if part_col else []
    return (
        _melt_keys(df, {c: nn(c) for c in cols}, by)
        .withColumnRenamed("key", "value")
        .where(F.col("value").isNotNull())
    )


#: uniform-rule load-balance targets: aim for ~this many distinct values
#: per (keys, bucket) window group, with at most this many buckets per
#: feature (the per-bucket offsets frame stays a tiny broadcast)
_CDF_ROWS_PER_BUCKET = 16_000
_CDF_MAX_BUCKETS = 1024
#: features whose approximate distinct count exceeds this take the
#: equal-mass rule instead: this many buckets cut at approx percentiles
_CDF_BUCKETED_THRESHOLD = 4_000_000
_CDF_PERCENTILE_BUCKETS = 64
#: decimals each W1 / CvM-AD term is rounded to before its exact decimal
#: sum (see wasserstein_all and cvm_ad_all)
_W1_QUANTIZE = 9
_CVM_AD_QUANTIZE = 18


def _cdf_prescan(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    bucketed_threshold: int = 0,
) -> Dict[str, tuple]:
    """{col: (n, m, lo, hi, nd_approx)} from ONE light union scan — no
    explode, no shuffle (global aggregate ships only sketch state).

    ``n``/``m`` are the EXACT per-side non-null non-NaN counts (the same
    rows :func:`_melt` keeps, so they are the KS/W1/CvM sample sizes);
    ``lo``/``hi`` the pooled exact min/max (uniform bucket bounds for the
    fused path — bucket PLACEMENT affects only load balance, never the
    statistic); ``nd_approx`` a distinct-count bound used solely to route
    to the percentile-bucketed decomposition and to size the bucket
    count.  This replaces the former build-then-count totals pass over
    the persisted melt aggregate: the routing signal no longer costs a
    full explode + (feature, value) shuffle + cache materialization.

    The HLL distinct sketch only matters when a feature COULD exceed
    ``bucketed_threshold`` — and nd <= n + m always, so when every
    feature's pooled count is under the threshold the sketch is provably
    routing-neutral and is skipped (its per-row update was ~30% of this
    scan); otherwise a second pass measures it for the over-bound
    features only.
    """
    # positional aliases: a feature column literally named like the side
    # tag (or like another alias) must not collide with the injected
    # ``__s`` — every feature is renamed to __f{i} before the union
    alias = {c: f"__f{i}" for i, c in enumerate(cols)}
    aggs = []
    for c in cols:
        v = F.col(alias[c]).cast("double")
        nnv = F.when(~F.isnan(v), v)
        aggs.append(F.count(nnv).alias(f"{alias[c]}__n"))
        aggs.append(F.min(nnv).alias(f"{alias[c]}__mn"))
        aggs.append(F.max(nnv).alias(f"{alias[c]}__mx"))
    sel = [F.col(c).alias(alias[c]) for c in cols]
    u = ref_df.select(*sel).withColumn("__s", F.lit(0)).unionByName(
        test_df.select(*sel).withColumn("__s", F.lit(1))
    )
    rows = {r["__s"]: r for r in u.groupBy("__s").agg(*aggs).collect()}
    out: Dict[str, tuple] = {}
    for c in cols:
        a = alias[c]
        n = int(rows[0][f"{a}__n"]) if 0 in rows else 0
        m = int(rows[1][f"{a}__n"]) if 1 in rows else 0
        mns = [rows[s][f"{a}__mn"] for s in rows if rows[s][f"{a}__mn"] is not None]
        mxs = [rows[s][f"{a}__mx"] for s in rows if rows[s][f"{a}__mx"] is not None]
        out[c] = (
            n, m,
            min(mns) if mns else None,
            max(mxs) if mxs else None,
            n + m,  # nd bound; refined below only where it matters
        )
    over = [c for c in cols if out[c][0] + out[c][1] > bucketed_threshold]
    if over:
        nd_row = u.agg(*[
            F.approx_count_distinct(
                F.when(
                    ~F.isnan(F.col(alias[c]).cast("double")),
                    F.col(alias[c]).cast("double"),
                )
            ).alias(alias[c])
            for c in over
        ]).first()
        for c in over:
            n, m, lo, hi, _ = out[c]
            out[c] = (n, m, lo, hi, int(nd_row[alias[c]]))
    return out


def _cdf_route(
    fn_name: str,
    prescan: Dict[str, tuple],
    bucketed_threshold: int,
) -> Tuple[Dict[str, Tuple[int, int]], list, list]:
    """(nm, fused_features, percentile_features) from the prescan: drops
    one-sided-empty features with the KS-convention warning, and routes
    features whose approximate distinct count exceeds
    ``bucketed_threshold`` to the equal-mass percentile decomposition
    (robust to value-skew at the scale where uniform buckets could leave
    one bucket hot).  Either route is exact — the statistics are
    bucket-layout-invariant by construction — so the approximate routing
    signal cannot change a result."""
    nm = {c: (v[0], v[1]) for c, v in prescan.items()}
    degenerate = [c for c, (n, m) in nm.items() if n == 0 or m == 0]
    if degenerate:
        logger.warning(
            "%s: no non-null values on one side for %s — skipped",
            fn_name, sorted(degenerate),
        )
    ok = [c for c in prescan if c not in set(degenerate)]
    fused = [c for c in ok if prescan[c][4] <= bucketed_threshold]
    big = [c for c in ok if prescan[c][4] > bucketed_threshold]
    return nm, fused, big


def _uniform_buckets(
    prescan: Dict[str, tuple], feats: Sequence[str]
) -> Dict[str, Column]:
    """{feature: bucket column} by the UNIFORM rule: bucket id =
    floor((value - lo) / (hi - lo) * nb) from the prescan bounds, with nb
    sized to ~``_CDF_ROWS_PER_BUCKET`` distinct values (capped at
    ``_CDF_MAX_BUCKETS``).  A flat arithmetic expression — no job.
    Features that get one bucket are left out (bucket 0)."""
    out: Dict[str, Column] = {}
    for c in feats:
        n, m, lo, hi, nd = prescan[c]
        nb = max(1, min(
            -(-min(nd, n + m) // _CDF_ROWS_PER_BUCKET), _CDF_MAX_BUCKETS
        ))
        if (
            nb > 1
            and lo is not None and hi is not None
            and math.isfinite(lo) and math.isfinite(hi) and hi > lo
        ):
            out[c] = F.least(
                F.greatest(
                    F.floor(
                        (F.col("value") - F.lit(float(lo)))
                        / F.lit(float(hi - lo)) * F.lit(nb)
                    ).cast("int"),
                    F.lit(0),
                ),
                F.lit(nb - 1),
            )
    return out


def _equal_mass_buckets(
    g: DataFrame, feats: Sequence[str]
) -> Dict[str, Column]:
    """{feature: bucket column} by the EQUAL-MASS rule: one collect of
    per-feature ``percentile_approx`` edges over the distinct values in
    ``g`` at ``_CDF_PERCENTILE_BUCKETS`` equal-mass cuts; the bucket id
    counts the edges below the value.  Robust to value-skew where the
    uniform rule could leave one bucket hot."""
    nb = _CDF_PERCENTILE_BUCKETS
    probs = F.array(*[F.lit(i / nb) for i in range(1, nb)])
    edge_rows = (
        g.where(F.col("feature").isin(list(feats)))
        .groupBy("feature")
        .agg(F.percentile_approx("value", probs, 10_000).alias("edges"))
        .collect()
    )
    out: Dict[str, Column] = {}
    for r in edge_rows:
        b = F.lit(0)
        for e in r["edges"]:
            b = b + (F.col("value") > F.lit(float(e))).cast("int")
        out[r["feature"]] = b
    return out


def _cdf_cum_frame(
    g: DataFrame,
    keys: Sequence[str],
    buckets: Dict[str, Column],
    with_gap: bool = False,
) -> DataFrame:
    """THE exact cumulative-count primitive: over per-value side counts
    ``g(*keys, value, r, t)`` (``keys`` = ["feature"] or ["part",
    "feature"]), one plan computes for every row the exact cumulative
    side counts within its ``keys`` group and the group's side totals —
    with the cumulative window split into value-ordered buckets so the
    sort/window/term work runs bucket-parallel instead of one task per
    group.

    ``buckets`` maps a feature to its bucket-id column (from
    :func:`_uniform_buckets` or :func:`_equal_mass_buckets`; absent
    features take bucket 0).  Any deterministic, value-monotone bucketing
    reconstructs the EXACT cumulative counts: running window per
    (keys, bkt) → the per-bucket totals aggregate re-reads the same
    shuffled exchange (ReuseExchange; the offsets frame is
    O(groups x buckets) and broadcasts) → prefix offsets, group totals
    (and, for W1, the next non-empty bucket's minimum — the boundary gap)
    come from tiny windows over that aggregate.  Bucket layout is a
    LOAD-BALANCE choice only (locked by the layout/route bit-parity
    tests).

    Returns columns: keys, value, r, t, cr, ct, n, m (+ nxt when
    ``with_gap`` — NULL at the last distinct value of a group)."""
    keys = list(keys)
    bucket = F.lit(0)
    for c, bc in buckets.items():
        bucket = F.when(F.col("feature") == c, bc).otherwise(bucket)
    gb = g.withColumn("bkt", bucket)

    bt_aggs = [F.sum("r").alias("rs"), F.sum("t").alias("ts")]
    if with_gap:
        bt_aggs.append(F.min("value").alias("mn"))
    bt = gb.groupBy(*keys, "bkt").agg(*bt_aggs)
    w_bkt = Window.partitionBy(*keys).orderBy("bkt")
    w_off = w_bkt.rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy(*keys)
    off_cols = [
        *keys, "bkt",
        F.coalesce(F.sum("rs").over(w_off), F.lit(0)).alias("roff"),
        F.coalesce(F.sum("ts").over(w_off), F.lit(0)).alias("toff"),
        F.sum("rs").over(w_tot).alias("n"),
        F.sum("ts").over(w_tot).alias("m"),
    ]
    if with_gap:
        off_cols.append(F.lead("mn").over(w_bkt).alias("nxt_bkt"))
    offs = bt.select(*off_cols)

    w_ord = Window.partitionBy(*keys, "bkt").orderBy("value")
    w_loc = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre_cols = [
        *keys, "bkt", "value", "r", "t",
        F.sum("r").over(w_loc).alias("lcr"),
        F.sum("t").over(w_loc).alias("lct"),
    ]
    if with_gap:
        pre_cols.append(F.lead("value").over(w_ord).alias("nxt_in"))
    pre = gb.select(*pre_cols)

    sel = [
        *keys, "value", "r", "t",
        (F.col("lcr") + F.col("roff")).alias("cr"),
        (F.col("lct") + F.col("toff")).alias("ct"),
        "n", "m",
    ]
    if with_gap:
        sel.append(F.coalesce("nxt_in", "nxt_bkt").alias("nxt"))
    return pre.join(F.broadcast(offs), [*keys, "bkt"]).select(*sel)


def _cdf_statistic(
    fn_name: str,
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    aggs: Sequence[Column],
    with_gap: bool = False,
) -> Dict[str, tuple]:
    """{feature: (*aggs, n_ref, m_test)} — the shared plan of the exact
    two-sample CDF statistics; ``aggs`` are per-feature aggregates over
    :func:`_cdf_cum_frame`'s columns (the statistic's scoring).

    ONE light prescan (per-column counts/min/max, HLL only where it can
    matter — no explode, no shuffle) gives the sample sizes and the route,
    then ONE fused job: melt both sides → union → groupBy(feature, value)
    pre-aggregated side counts (partial agg map-side; the shuffle carries
    only distinct values) → bucket-parallel cumulative frame → ``aggs``.
    Features above ``_CDF_BUCKETED_THRESHOLD`` approximate distinct values
    get equal-mass buckets, which costs one edges collect first; every
    route is exact.  Features empty on either side are skipped with a
    warning (KS convention)."""
    if not cols:
        return {}
    prescan = _cdf_prescan(ref_df, test_df, cols, _CDF_BUCKETED_THRESHOLD)
    nm, fused, big = _cdf_route(fn_name, prescan, _CDF_BUCKETED_THRESHOLD)
    if not fused and not big:
        return {}
    u = _melt(ref_df, cols).withColumn("r", F.lit(1)).withColumn("t", F.lit(0)).unionByName(
        _melt(test_df, cols).withColumn("r", F.lit(0)).withColumn("t", F.lit(1))
    )
    g = u.groupBy("feature", "value").agg(
        F.sum("r").alias("r"), F.sum("t").alias("t")
    ).where(F.col("feature").isin(fused + big))
    buckets = _uniform_buckets(prescan, fused)
    if big:
        # the edges collect and the scoring job both read g — persist it
        g = g.persist()
    try:
        if big:
            buckets.update(_equal_mass_buckets(g, big))
        rows = (
            _cdf_cum_frame(g, ["feature"], buckets, with_gap)
            .groupBy("feature")
            .agg(*aggs)
            .collect()
        )
    finally:
        if big:
            g.unpersist()
    return {
        r["feature"]: (*(float(v) for v in r[1:]), *nm[r["feature"]])
        for r in rows
    }


def _cdf_diff():
    """|CDF_ref - CDF_test| at each pooled distinct value."""
    return F.abs(F.col("cr") / F.col("n") - F.col("ct") / F.col("m"))


def ks_d_all(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
) -> Dict[str, Tuple[float, int, int]]:
    """Exact KS D per feature, fully distributed (:func:`_cdf_statistic`):
    max |cdf_ref - cdf_test| over the pooled distinct values.  D is
    attained at sample points, and the cumulative count at a distinct
    value equals searchsorted(..., side='right'), so this is exactly
    scipy's statistic.

    Returns {feature: (d, n_ref, m_test)}.
    """
    return _cdf_statistic(
        "ks_d_all", ref_df, test_df, cols, [F.max(_cdf_diff()).alias("d")]
    )


# ---------------------------------------------------------------------------
# Distributed two-sample Wasserstein-1 (earth-mover) distance
# ---------------------------------------------------------------------------


def wasserstein_all(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
) -> Dict[str, Tuple[float, int, int]]:
    """Exact two-sample Wasserstein-1 distance per feature (beyond the
    reference's detector set — W1 is the scale-bearing complement to KS:
    D saturates at 1 while W1 keeps growing with how FAR the mass moved).

    W1 = sum_i |F_ref(v_i) - F_test(v_i)| * (v_{i+1} - v_i) over the
    pooled sorted distinct values — scipy.stats.wasserstein_distance's
    quantile-integral identity on empirical CDFs.

    Same distributed plan as :func:`ks_d_all` (:func:`_cdf_statistic`);
    the cumulative frame also carries the next distinct value, across
    bucket boundaries too.

    Determinism: each term is rounded to ``_W1_QUANTIZE`` decimals and
    summed as decimal(38, q) — an EXACT, order-independent sum, so the
    result is bit-identical under any layout/parallelism and any bucket
    route, and engine-portable (DuckDB reproduces every rounded term from
    the same doubles; the float-sum-order flake class is structurally
    impossible).  The <= 0.5e-9 per-term quantum is immaterial for a
    drift statistic.  A feature whose pooled support is ONE distinct
    value has no gap terms: both samples are the same constant, W1 = 0.

    Returns {feature: (w1, n_ref, m_test)}; features with no non-null
    values on either side are skipped with a warning (KS convention).
    """
    term = _w1_term_quantized(
        _cdf_diff() * (F.col("nxt") - F.col("value")), _W1_QUANTIZE
    )
    w1 = F.coalesce(F.sum(term).cast("double"), F.lit(0.0)).alias("w1")
    return _cdf_statistic(
        "wasserstein_all", ref_df, test_df, cols, [w1], with_gap=True
    )


def _w1_term_quantized(term, quantize: int):
    """round(term, q) :: decimal(38, q) — the order-independent summand."""
    return F.round(term, quantize).cast(f"decimal(38,{quantize})")


# ---------------------------------------------------------------------------
# Distributed two-sample Cramér–von Mises + Anderson–Darling (one fused job)
# ---------------------------------------------------------------------------


def cvm_ad_all(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
) -> Dict[str, Tuple[float, float, int, int]]:
    """Exact two-sample Cramér–von Mises T and Anderson–Darling A² per
    feature, fused in ONE job (beyond the reference's detector set — both
    are CDF functionals that weight the WHOLE curve where KS takes only
    the max gap; AD additionally up-weights the tails, catching
    tail-drift KS and PSI dilute away).

    Tie-aware definitions over the pooled distinct values v_j with side
    multiplicities (r_j, t_j), l_j = r_j + t_j, cumulative (cr_j, ct_j),
    B_j = cr_j + ct_j, d_j = cr_j/n - ct_j/m, N = n + m:

        T  = (n*m/N^2) * sum_j l_j * d_j^2
        A² = n*m * sum_{j: B_j < N} l_j * d_j^2 / (B_j * (N - B_j))

    T equals Anderson's (1962) rank identity U/(nmN) - (4nm-1)/(6N) and
    A² equals Pettitt's (1976) two-sample statistic on tie-free data
    (both verified numerically in tests/test_divergences.py); with ties
    they are the Scholz–Stephens (1987) k=2 discrete forms.  Note
    A²'s per-term factor n*m*d_j² is used instead of the textbook
    (N*cr_j - n*B_j)² — algebraically identical, but free of the giant-
    integer cancellation that would overflow/lose precision at 10^12
    rows.

    Same distributed plan and determinism contract as
    :func:`wasserstein_all` (:func:`_cdf_statistic`; no boundary gap
    needed here): every term rounded to ``_CVM_AD_QUANTIZE`` decimals and
    summed as decimal(38, q) — order-independent, bit-identical under any
    layout/route, engine-portable to DuckDB.

    The quantum is 18 decimals (not W1's 9): these terms SQUARE the CDF
    gap, so on tie-free continuous data the null per-term magnitude is
    ~1/(4N) — a 9-decimal quantum zeroes every term past N ~ 5e8, the
    exact scale this path exists for.  At 18 decimals terms survive to
    N ~ 5e17 and decimal(38,18)'s 1e20 integer headroom still holds the
    bounded totals (T <= nm/N <= N/4, A² similar); worst-case absolute
    quantization error stays 0.5e-18 per pooled distinct value.

    Returns {feature: (cvm, ad, n_ref, m_test)}; features empty on either
    side are skipped with a warning (KS convention).
    """
    cvm, ad = _cvm_ad_terms(
        F.col("cr"), F.col("ct"),
        F.col("r"), F.col("t"),
        F.col("n"), F.col("m"),
        _CVM_AD_QUANTIZE,
    )
    return _cdf_statistic(
        "cvm_ad_all", ref_df, test_df, cols,
        [F.sum(cvm).cast("double").alias("cvm"), F.sum(ad).cast("double").alias("ad")],
    )


def _cvm_ad_terms(cr, ct, rl, tl, n, m, quantize: int):
    """The two quantized summands from cumulative/side columns.

    Expression shape is mirrored VERBATIM by the DuckDB oracle
    (__spark_entry__._cvm_ad_sql): same operand order, all double ops —
    IEEE doubles make identical trees bit-identical across engines, and
    the decimal sum makes the total order-independent.  Giant products
    (n*m, B*(N-B), N*N at 10^12 rows overflow BIGINT under ANSI) are
    defused by an explicit double cast on the left operand.
    """
    l = rl + tl
    big_n = n + m
    b = cr + ct
    d = cr / n - ct / m
    ld2 = l * d * d
    cvm = ld2 * n.cast("double") * m / (big_n.cast("double") * big_n)
    ad = F.when(
        b < big_n,
        ld2 * n.cast("double") * m / (b.cast("double") * (big_n - b)),
    ).otherwise(F.lit(0.0))
    return (
        _w1_term_quantized(cvm, quantize),
        _w1_term_quantized(ad, quantize),
    )


# ---------------------------------------------------------------------------
# Quantile-shift report (where did the distribution move, and by how much)
# ---------------------------------------------------------------------------

DEFAULT_SHIFT_PROBS = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)


def percentiles_by_column(
    df: DataFrame, cols: Sequence[str], probs: Sequence[float], exact: bool = True
) -> Dict[str, Optional[list]]:
    """One aggregation pass of per-column percentiles at ``probs`` —
    exact pandas-parity interpolation (``F.percentile``, the
    quantile_edges contract) or the Greenwald-Khanna sketch for the
    scale where an exact distributed percentile is unrealistic (GK
    returns true DATA POINTS, never interpolated values).  All-null
    columns map to None.  Shared by quantile_shift_report and
    profile.outlier_report — one definition of the exact/sketch switch.
    """
    if exact:
        arr = F.array(*[F.lit(float(p)) for p in probs])
        row = df.agg(*[F.percentile(nn(c), arr).alias(c) for c in cols]).first()
        return {c: (list(row[c]) if row[c] is not None else None) for c in cols}
    raw = df.approxQuantile(list(cols), [float(p) for p in probs], 1e-4)
    return {c: (list(v) if len(v) else None) for c, v in zip(cols, raw)}


def quantile_shift_report(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float] = DEFAULT_SHIFT_PROBS,
    exact: bool = True,
) -> Dict[str, list]:
    """Per-feature quantile table: WHERE the distribution moved and by how
    much — the human-legible companion to the scalar drift statistics
    (a KS D or CvM T says "drifted"; this says "the upper tail moved
    +12% of an IQR while the median held").

    ONE exact-percentile aggregation per side for ALL features and probs
    (same pandas-parity linear interpolation as :func:`quantile_edges` —
    engine-portable to DuckDB's ``quantile_cont``); ``exact=False``
    switches to the Greenwald-Khanna sketch path for the 100 TB scale,
    where an exact distributed sort per feature is not realistic.

    Returns ``{feature: [(prob, ref_q, test_q, shift, shift_iqr), ...]}``
    with ``shift = test_q - ref_q`` and ``shift_iqr = shift / ref IQR``
    (None when the reference IQR is 0 — the explicit degenerate semantic,
    never a division error under ANSI).  The reference IQR uses the exact
    0.25/0.75 percentiles regardless of ``probs``.  Features empty on
    either side are skipped with a warning (KS convention).
    """
    probs = [float(p) for p in probs]
    if not cols or not probs:
        return {}
    if any(p < 0 or p > 1 for p in probs):
        raise ValueError(f"probs must lie in [0, 1], got {probs}")
    want = sorted(set(probs) | {0.25, 0.75})
    ref_q = percentiles_by_column(ref_df, cols, want, exact)
    test_q = percentiles_by_column(test_df, cols, want, exact)
    idx = {p: i for i, p in enumerate(want)}
    out: Dict[str, list] = {}
    skipped = []
    for c in cols:
        r, t = ref_q.get(c), test_q.get(c)
        if r is None or t is None:
            skipped.append(c)
            continue
        iqr = float(r[idx[0.75]]) - float(r[idx[0.25]])
        rows = []
        for p in probs:
            rq, tq = float(r[idx[p]]), float(t[idx[p]])
            shift = tq - rq
            rows.append(
                (p, rq, tq, shift, (shift / iqr) if iqr > 0 else None)
            )
        out[c] = rows
    if skipped:
        logger.warning(
            "quantile_shift_report: no non-null values on one side for %s "
            "— skipped", sorted(skipped),
        )
    return out


def category_shift_report(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    top_k: Optional[int] = None,
    max_categories: int = 10_000,
) -> DataFrame:
    """Per-category proportion shift — the categorical companion to
    :func:`quantile_shift_report` (a chi2 says "composition drifted";
    this says "category X gained 4 points, Y lost 3").

    ONE scan: both sides melt (:func:`_melt_keys`) with a side tag into
    one groupBy(feature, category) counting each side — categories absent
    from a side get proportion 0, so appearing/disappearing categories are
    first-class rows.  NULL category is kept as an explicit row (a null
    surge IS composition drift).  Cardinality guard: features whose
    category count exceeds ``max_categories`` are dropped with a warning
    (the chi2_by_partition convention — a free-text column is not a
    categorical feature).  ``top_k`` keeps the largest absolute deltas
    per feature.

    Returns (feature, category string, n_ref, n_test, ref_prop,
    test_prop, delta) — proportions over each side's TOTAL rows for the
    feature (nulls included in the denominator, matching the explicit
    null rows).
    """
    if not cols:
        return local_frame(
            ref_df.sparkSession,
            [],
            "feature string, category string, n_ref long, n_test long, "
            "ref_prop double, test_prop double, delta double",
        )

    g = (
        _melt_keys(
            _sides(ref_df, test_df, cols),
            {c: F.col(c).cast("string") for c in cols},
            ["is_ref"],
        )
        .groupBy("feature", F.col("key").alias("category"))
        .agg(
            F.count_if(F.col("is_ref")).alias("n_ref"),
            F.count_if(~F.col("is_ref")).alias("n_test"),
        )
    )
    # cardinality guard BEFORE any window: one partial-agg count
    card = g.groupBy("feature").agg(F.count(F.lit(1)).alias("nc"))
    over = [r["feature"] for r in card.where(F.col("nc") > max_categories).collect()]
    if over:
        logger.warning(
            "category_shift_report: dropping %s — category count exceeds "
            "max_categories=%d (not a categorical feature)",
            sorted(over), max_categories,
        )
        g = g.where(~F.col("feature").isin(over))

    w = Window.partitionBy("feature")
    ref_prop = F.try_divide(F.col("n_ref"), F.sum("n_ref").over(w))
    test_prop = F.try_divide(F.col("n_test"), F.sum("n_test").over(w))
    out = g.select(
        "feature",
        "category",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_test").cast("long").alias("n_test"),
        ref_prop.alias("ref_prop"),
        test_prop.alias("test_prop"),
        (F.coalesce(test_prop, F.lit(0.0)) - F.coalesce(ref_prop, F.lit(0.0))
         ).alias("delta"),
    )
    if top_k is not None:
        wk = Window.partitionBy("feature").orderBy(
            F.abs(F.col("delta")).desc(), F.col("category").asc_nulls_last()
        )
        out = (
            out.withColumn("__rk", F.row_number().over(wk))
            .where(F.col("__rk") <= top_k)
            .drop("__rk")
        )
    return out


def correlation_drift(
    ref_df: DataFrame, test_df: DataFrame, cols: Sequence[str]
) -> Dict[Tuple[str, str], Tuple[Optional[float], Optional[float], Optional[float]]]:
    """Pairwise Pearson-correlation shift between reference and test —
    the drift mode every univariate statistic is blind to (two features
    whose marginals hold but whose RELATIONSHIP flips).

    ONE aggregation per side computes all d*(d-1)/2 pair correlations as
    fused ``corr`` expressions (sample correlation, pairwise NULL/NaN
    deletion — the SQL semantic on both engines).  O(d²) expressions in
    one scan: fine to a few dozen columns; wider matrices belong to
    pyspark.ml.stat.Correlation's vector path.

    Returns ``{(col_a, col_b): (ref_r, test_r, delta)}`` with None where
    a correlation is undefined (constant column) — and delta None if
    either side is.
    """
    cols = list(cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if not pairs:
        return {}

    def side(df):
        # ANSI guard (Spark 4 default): F.corr aborts with DIVIDE_BY_ZERO
        # whenever the PAIRWISE-non-null overlap has zero variance — a
        # marginal-stddev probe cannot see that (x varies overall but is
        # constant exactly where y is non-null), so corr is computed
        # manually: centered conditional sums + try_divide.  Centering at
        # the marginal means (one tiny probe agg) keeps the two-pass
        # formula well-conditioned; Pearson r is shift-invariant, so any
        # constant center gives the identical value.
        probe = df.agg(
            *[F.stddev(nn(c)).alias(f"s\x00{c}") for c in cols],
            *[F.avg(nn(c)).alias(f"m\x00{c}") for c in cols],
        ).first()
        live = [
            p for p in pairs
            if (probe[f"s\x00{p[0]}"] or 0) > 0
            and (probe[f"s\x00{p[1]}"] or 0) > 0
        ]
        out = {p: None for p in pairs}
        if not live:
            return out
        aggs = []
        for a, b in live:
            va, vb = nn(a), nn(b)
            valid = va.isNotNull() & vb.isNotNull()
            ca = F.when(valid, va - F.lit(float(probe[f"m\x00{a}"])))
            cb = F.when(valid, vb - F.lit(float(probe[f"m\x00{b}"])))
            k = f"{a}\x00{b}"
            aggs += [
                F.sum(valid.cast("long")).alias(f"n\x00{k}"),
                F.sum(ca).alias(f"sa\x00{k}"),
                F.sum(cb).alias(f"sb\x00{k}"),
                F.sum(ca * ca).alias(f"saa\x00{k}"),
                F.sum(cb * cb).alias(f"sbb\x00{k}"),
                F.sum(ca * cb).alias(f"sab\x00{k}"),
            ]
        row = df.agg(*aggs).first()
        for a, b in live:
            k = f"{a}\x00{b}"
            n = row[f"n\x00{k}"]
            if not n:
                continue  # no pairwise overlap: undefined, stays None
            sa, sb = row[f"sa\x00{k}"], row[f"sb\x00{k}"]
            num = row[f"sab\x00{k}"] - sa * sb / n
            vara = max(row[f"saa\x00{k}"] - sa * sa / n, 0.0)
            varb = max(row[f"sbb\x00{k}"] - sb * sb / n, 0.0)
            den = math.sqrt(vara * varb)
            # zero-variance OVERLAP (or n == 1): undefined, stays None —
            # the explicit degenerate semantic, never an ANSI abort
            if den > 0:
                out[(a, b)] = num / den
        return out

    r, t = side(ref_df), side(test_df)
    out = {}
    for p in pairs:
        rr, tt = r[p], t[p]
        delta = (tt - rr) if (rr is not None and tt is not None) else None
        out[p] = (rr, tt, delta)
    return out


# ---------------------------------------------------------------------------
# Moment statistics (localizer dist_info; population std == np.std ddof=0)
# ---------------------------------------------------------------------------


def moment_stats(df: DataFrame, cols: Sequence[str]) -> Dict[str, Tuple[float, float]]:
    """{col: (mean, population_std)} in one pass — matches np.mean/np.std
    on dropna'd values (univariate.py:59-67)."""
    if not cols:
        return {}
    aggs = []
    for c in cols:
        aggs.append(F.mean(nn(c)).alias(f"{c}__mean"))
        aggs.append(F.stddev_pop(nn(c)).alias(f"{c}__std"))
    row = df.agg(*aggs).first()
    return {
        c: (
            float(row[f"{c}__mean"]) if row[f"{c}__mean"] is not None else float("nan"),
            float(row[f"{c}__std"]) if row[f"{c}__std"] is not None else float("nan"),
        )
        for c in cols
    }


def mode_of(df: DataFrame, col: str) -> Optional[str]:
    """Most frequent non-null value; ties broken by smallest value
    (pandas ``mode()[0]`` parity, univariate.py:115-116)."""
    r = (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .count()
        .orderBy(F.desc("count"), F.asc(col))
        .first()
    )
    return r[col] if r else None
