"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship per-partition drift-verdict query on
sf0.001.  ``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators); ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL for every SQL-expressible one.
Float outputs are rounded identically on both sides to absorb
cross-engine last-ulp differences; column names are aliased identically.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# make the driftspark package importable regardless of the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# shared constants (identical literals on the Spark and DuckDB sides)
# ---------------------------------------------------------------------------

PRICE_EDGES = [0.0, 10000.0, 20000.0, 30000.0, 40000.0, 50000.0,
               60000.0, 70000.0, 80000.0, 90000.0, 110000.0]
CONF_CUTOFFS = [float(x) for x in np.linspace(0, 1, 11)[:-1]]  # digitize cutoffs
MINHASH_K = 4
EMB_DIM = 64  # embeddings-table dimension; the LSH oracles inline
# hyperplanes generated for THIS dim — the queries check it loudly so a
# test-table change fails with a clear message instead of a silent
# signature divergence
LANG_PATTERNS = {
    "en": r"(?i)\b(the|and|of|to|is|in|that|it|was|for)\b",
    "de": r"(?i)\b(der|die|und|das|ist|nicht|ein|mit|sich|auf)\b",
    "fr": r"(?i)\b(le|la|et|les|des|est|dans|que|une|pour)\b",
    "es": r"(?i)\b(el|la|de|que|y|los|en|un|por|con)\b",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _split(df: DataFrame, key: str):
    return df.where(F.col(key) % 2 == 0), df.where(F.col(key) % 2 == 1)


def _roundhu(x, n: int):
    """Round a driver-side float exactly like DuckDB's round(double, n)
    (and Spark's F.round): HALF_UP on the shortest decimal repr.  Python's
    built-in round is half-even on the binary value — verified divergent
    (round(0.1234565, 6): py 0.123456, duckdb/F.round 0.123457), so every
    oracle-compared float that is rounded on the driver goes through this.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    q = Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP
    )
    return float(q)


# ---------------------------------------------------------------------------
# entry — flagship query (smoke check on sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Per-partition drift verdicts over lineitem: test split (odd order
    keys) vs reference split (even), partitioned by l_linenumber — the
    north-rule verdict query shape on the driver's own data."""
    from driftspark.verdicts import partition_verdicts

    li = _t(spark, "/root/testdata/sf0.001", "lineitem")
    tagged = li.withColumn(
        "split", F.when(F.col("l_orderkey") % 2 == 0, "ref").otherwise("test")
    ).withColumn("part", F.col("l_linenumber"))
    return partition_verdicts(
        tagged,
        numeric_cols=["l_quantity", "l_extendedprice", "l_discount"],
        cat_cols=["l_returnflag"],
    )


# ---------------------------------------------------------------------------
# queries — one per operator
# ---------------------------------------------------------------------------


def _q_profile_stats(spark, sf_dir):
    """A1-A3: grouped moments / min-max / null & distinct counts."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_null_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(27,10)")).cast("double")
                / F.count("l_quantity"), 6
            ).alias("mean_qty"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("std_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("l_returnflag")
    )


def _q_quantile_edges(spark, sf_dir):
    """A4: exact decile edges (pd.qcut parity) of the reference split."""
    from driftspark.stats import quantile_edges

    ref, _ = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    edges = quantile_edges(ref, ["l_extendedprice"], 10)["l_extendedprice"]
    rows = [(i, _roundhu(e, 6)) for i, e in enumerate(edges)]
    return spark.createDataFrame(rows, "idx int, edge double")


def _q_histogram_price(spark, sf_dir):
    """A6: right-closed include-lowest histogram counts on fixed edges."""
    from driftspark.stats import bucket_expr

    li = _t(spark, sf_dir, "lineitem")
    b = bucket_expr("l_extendedprice", np.array(PRICE_EDGES))
    return (
        li.select(b.alias("bin"))
        .where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin")
    )


def _q_psi_price(spark, sf_dir):
    """A9: full PSI pipeline between splits on fixed edges + severity (A20)."""
    from driftspark.numerics import psi_from_proportions, severity_from_psi
    from driftspark.stats import histogram_proportions

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    props = histogram_proportions(ref, test, {"l_extendedprice": np.array(PRICE_EDGES)})
    rp, tp = props["l_extendedprice"]
    psi = psi_from_proportions(rp, tp)
    return spark.createDataFrame(
        [("l_extendedprice", _roundhu(psi, 9), severity_from_psi(psi))],
        "feature string, psi double, severity string",
    )


def _q_ks_d(spark, sf_dir):
    """A10: distributed two-sample KS D between splits."""
    from driftspark.stats import ks_d_all

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    d = ks_d_all(ref, test, ["l_quantity", "l_extendedprice"])
    rows = [(c, _roundhu(v[0], 9), v[1], v[2]) for c, v in sorted(d.items())]
    return spark.createDataFrame(rows, "feature string, ks_d double, n long, m long")


def _q_wasserstein(spark, sf_dir):
    """Beyond-reference: exact two-sample Wasserstein-1 between splits.
    Cross-engine determinism comes from the quantized-decimal term sum
    (stats.wasserstein_all): every per-value term is bit-identical in
    Spark and DuckDB, and the decimal sum is order-independent."""
    from driftspark.stats import wasserstein_all

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    d = wasserstein_all(ref, test, ["l_quantity", "l_extendedprice"])
    rows = [(c, _roundhu(v[0], 6), v[1], v[2]) for c, v in sorted(d.items())]
    return spark.createDataFrame(rows, "feature string, w1 double, n long, m long")


def _wasserstein_sql() -> str:
    # CAST AS DOUBLE before grouping: the gap arithmetic (nv - value)
    # must be double-double exactly like Spark's melted values — DECIMAL
    # subtraction would be exact and diverge from the double term at the
    # ~1e-11 level, which the 1e-9 quantization could then expose
    return """
        WITH feats AS (
          SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS value,
                 l_orderkey FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
                 l_orderkey FROM lineitem
        ), u AS (
          SELECT feature, value,
                 CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS r,
                 CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END AS t
          FROM feats WHERE value IS NOT NULL
        ), g AS (
          SELECT feature, value, sum(r) AS r, sum(t) AS t
          FROM u GROUP BY feature, value
        ), c AS (
          SELECT feature, value,
                 sum(r) OVER (PARTITION BY feature ORDER BY value) AS cr,
                 sum(t) OVER (PARTITION BY feature ORDER BY value) AS ct,
                 lead(value) OVER (PARTITION BY feature ORDER BY value) AS nv,
                 sum(r) OVER (PARTITION BY feature) AS n,
                 sum(t) OVER (PARTITION BY feature) AS m
          FROM g
        ), terms AS (
          SELECT feature, n, m,
                 CAST(round(abs(cr * 1.0 / n - ct * 1.0 / m) * (nv - value), 9)
                      AS DECIMAL(38,9)) AS term
          FROM c WHERE nv IS NOT NULL
        )
        SELECT feature, round(CAST(sum(term) AS DOUBLE), 6) AS w1,
               CAST(max(n) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m
        FROM terms GROUP BY feature ORDER BY feature
    """


def _q_divergence_price(spark, sf_dir):
    """Beyond-reference: Jensen-Shannon + Hellinger over the SAME fixed
    price bins as psi_price (raw in-range proportions, no clamp)."""
    from driftspark.numerics import (
        hellinger_from_proportions,
        js_divergence_from_proportions,
    )
    from driftspark.stats import histogram_proportions

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    props = histogram_proportions(ref, test, {"l_extendedprice": np.array(PRICE_EDGES)})
    rp, tp = props["l_extendedprice"]
    js = js_divergence_from_proportions(rp, tp)
    hell = hellinger_from_proportions(rp, tp)
    return spark.createDataFrame(
        [("l_extendedprice", _roundhu(js, 9), _roundhu(hell, 9))],
        "feature string, js double, hellinger double",
    )


def _divergence_sql(price_bucket: str) -> str:
    return f"""
        WITH rb AS (
          SELECT {price_bucket} AS bin FROM lineitem WHERE l_orderkey % 2 = 0
        ), tb AS (
          SELECT {price_bucket} AS bin FROM lineitem WHERE l_orderkey % 2 = 1
        ), bins AS (SELECT unnest(generate_series(0, {len(PRICE_EDGES) - 2})) AS bin),
        rc AS (SELECT bin, count(*) AS c FROM rb WHERE bin IS NOT NULL GROUP BY bin),
        tc AS (SELECT bin, count(*) AS c FROM tb WHERE bin IS NOT NULL GROUP BY bin),
        p AS (
          SELECT bins.bin,
                 coalesce(rc.c, 0) * 1.0 / (SELECT sum(c) FROM rc) AS e,
                 coalesce(tc.c, 0) * 1.0 / (SELECT sum(c) FROM tc) AS a
          FROM bins LEFT JOIN rc ON bins.bin = rc.bin LEFT JOIN tc ON bins.bin = tc.bin
        ), n AS (
          SELECT e / (SELECT sum(e) FROM p) AS en, a / (SELECT sum(a) FROM p) AS an
          FROM p
        ), m AS (SELECT en, an, (en + an) / 2 AS mid FROM n),
        s AS (
          SELECT 0.5 * sum(CASE WHEN en > 0 THEN en * ln(en / mid) ELSE 0 END)
               + 0.5 * sum(CASE WHEN an > 0 THEN an * ln(an / mid) ELSE 0 END) AS js,
                 sqrt(0.5 * sum((sqrt(en) - sqrt(an)) * (sqrt(en) - sqrt(an)))) AS hell
          FROM m
        )
        SELECT 'l_extendedprice' AS feature, round(js, 9) AS js,
               round(hell, 9) AS hellinger
        FROM s
    """


def _q_cvm_ad(spark, sf_dir):
    """Beyond-reference: fused two-sample Cramér–von Mises + Anderson-
    Darling between splits (stats.cvm_ad_all — one window job for both).
    Engine-portable via the same quantized-decimal term-sum contract as
    wasserstein_w1; the oracle mirrors the Spark expression tree operand
    for operand (IEEE doubles make identical trees bit-identical)."""
    from driftspark.stats import cvm_ad_all

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    d = cvm_ad_all(ref, test, ["l_quantity", "l_extendedprice"])
    rows = [
        (c, _roundhu(v[0], 6), _roundhu(v[1], 6), v[2], v[3])
        for c, v in sorted(d.items())
    ]
    return spark.createDataFrame(
        rows, "feature string, cvm double, ad double, n long, m long"
    )


def _cvm_ad_sql() -> str:
    # mirrors driftspark.stats._cvm_ad_terms verbatim: same operand
    # order, double casts in the same places (see _wasserstein_sql note)
    return """
        WITH feats AS (
          SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS value,
                 l_orderkey FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
                 l_orderkey FROM lineitem
        ), u AS (
          SELECT feature, value,
                 CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS r,
                 CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END AS t
          FROM feats WHERE value IS NOT NULL
        ), g AS (
          SELECT feature, value, sum(r) AS r, sum(t) AS t
          FROM u GROUP BY feature, value
        ), c AS (
          SELECT feature, r, t,
                 sum(r) OVER (PARTITION BY feature ORDER BY value) AS cr,
                 sum(t) OVER (PARTITION BY feature ORDER BY value) AS ct,
                 sum(r) OVER (PARTITION BY feature) AS n,
                 sum(t) OVER (PARTITION BY feature) AS m
          FROM g
        ), terms AS (
          SELECT feature, n, m,
                 CAST(round(
                   (r + t) * (cr / n - ct / m) * (cr / n - ct / m)
                     * CAST(n AS DOUBLE) * m
                     / (CAST(n + m AS DOUBLE) * (n + m)), 18)
                   AS DECIMAL(38,18)) AS cvm_term,
                 CAST(round(
                   CASE WHEN cr + ct < n + m THEN
                     (r + t) * (cr / n - ct / m) * (cr / n - ct / m)
                       * CAST(n AS DOUBLE) * m
                       / (CAST(cr + ct AS DOUBLE) * (n + m - cr - ct))
                   ELSE 0.0 END, 18)
                   AS DECIMAL(38,18)) AS ad_term
          FROM c
        )
        SELECT feature, round(CAST(sum(cvm_term) AS DOUBLE), 6) AS cvm,
               round(CAST(sum(ad_term) AS DOUBLE), 6) AS ad,
               CAST(max(n) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m
        FROM terms GROUP BY feature ORDER BY feature
    """


_SHIFT_PROBS = (0.05, 0.25, 0.5, 0.75, 0.95)


def _q_quantile_shift(spark, sf_dir):
    """Beyond-reference: per-feature quantile-shift table between splits
    (stats.quantile_shift_report — one exact-percentile agg per side,
    pandas-parity interpolation == DuckDB quantile_cont)."""
    from driftspark.stats import quantile_shift_report

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    rep = quantile_shift_report(
        ref, test, ["l_quantity", "l_extendedprice"], probs=_SHIFT_PROBS
    )
    rows = [
        (c, p, _roundhu(rq, 6), _roundhu(tq, 6), _roundhu(sh, 6),
         _roundhu(si, 9) if si is not None else None)
        for c, entries in sorted(rep.items())
        for p, rq, tq, sh, si in entries
    ]
    return spark.createDataFrame(
        rows,
        "feature string, prob double, ref_q double, test_q double, "
        "shift double, shift_iqr double",
    )


def _quantile_shift_sql() -> str:
    want = sorted(set(_SHIFT_PROBS) | {0.25, 0.75})
    arr = "[" + ", ".join(str(p) for p in want) + "]"
    vals = ", ".join(
        f"({p}, {want.index(p) + 1})" for p in _SHIFT_PROBS
    )
    i25, i75 = want.index(0.25) + 1, want.index(0.75) + 1
    return f"""
        WITH f AS (
          SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v,
                 l_orderkey FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
                 l_orderkey FROM lineitem
        ), agg AS (
          SELECT feature,
                 quantile_cont(CASE WHEN l_orderkey % 2 = 0 THEN v END,
                               {arr}) AS rq,
                 quantile_cont(CASE WHEN l_orderkey % 2 = 1 THEN v END,
                               {arr}) AS tq
          FROM f GROUP BY feature
        )
        SELECT feature, CAST(pr.p AS DOUBLE) AS prob,
               round(rq[pr.i], 6) AS ref_q,
               round(tq[pr.i], 6) AS test_q,
               round(tq[pr.i] - rq[pr.i], 6) AS shift,
               CASE WHEN rq[{i75}] - rq[{i25}] > 0 THEN
                 round((tq[pr.i] - rq[pr.i]) / (rq[{i75}] - rq[{i25}]), 9)
               END AS shift_iqr
        FROM agg, (VALUES {vals}) AS pr(p, i)
        ORDER BY feature, prob
    """


def _q_w1_partition(spark, sf_dir):
    """Beyond-reference: per-partition exact Wasserstein-1 vs the GLOBAL
    reference sample (verdicts.w1_by_partition — the scale-bearing
    partition check; global ref value counts cross-joined to partitions,
    quantized-decimal gap-term sum), normalized by the global reference
    population std (the WassersteinDistance detector convention)."""
    from driftspark.stats import moment_stats
    from driftspark.verdicts import w1_by_partition

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    ref = li.where(F.col("l_orderkey") % 2 == 0)
    test = li.where(F.col("l_orderkey") % 2 == 1).withColumn(
        "part", F.col("l_linenumber").cast("int")
    )
    stds = {c: s for c, (mu, s) in moment_stats(ref, cols).items()}
    rows = [
        (r["part"], r["feature"], _roundhu(float(r["w1"]), 6),
         _roundhu(float(r["w1"]) / stds[r["feature"]], 6),
         int(r["n"]), int(r["m"]))
        for r in w1_by_partition(ref, test, cols, "part").collect()
    ]
    return spark.createDataFrame(
        sorted(rows),
        "part int, feature string, w1 double, w1_norm double, n long, m long",
    )


def _w1_partition_sql() -> str:
    # mirrors verdicts.w1_by_partition operand for operand (see
    # _wasserstein_sql note); m = 0 groups are term-guarded because
    # CAST(NaN AS DECIMAL) errors in DuckDB — they are filtered by
    # HAVING anyway, exactly like the Spark-side m > 0 filter
    return """
        WITH refm AS (
          SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS value
          FROM lineitem WHERE l_orderkey % 2 = 0
          UNION ALL
          SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
          FROM lineitem WHERE l_orderkey % 2 = 0
        ), testm AS (
          SELECT CAST(l_linenumber AS INTEGER) AS part,
                 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS value
          FROM lineitem WHERE l_orderkey % 2 = 1
          UNION ALL
          SELECT CAST(l_linenumber AS INTEGER), 'l_extendedprice',
                 CAST(l_extendedprice AS DOUBLE)
          FROM lineitem WHERE l_orderkey % 2 = 1
        ), rv AS (
          SELECT feature, value, count(*) AS r FROM refm GROUP BY 1, 2
        ), parts AS (SELECT DISTINCT part FROM testm),
        rp AS (
          SELECT p.part, rv.feature, rv.value, rv.r, 0 AS t
          FROM rv CROSS JOIN parts p
        ), tv AS (
          SELECT part, feature, value, 0 AS r, count(*) AS t
          FROM testm GROUP BY 1, 2, 3
        ), u AS (
          SELECT * FROM rp UNION ALL SELECT * FROM tv
        ), g AS (
          SELECT part, feature, value, sum(r) AS r, sum(t) AS t
          FROM u GROUP BY 1, 2, 3
        ), c AS (
          SELECT part, feature, value,
                 sum(r) OVER w AS cr, sum(t) OVER w AS ct,
                 sum(r) OVER wa AS n, sum(t) OVER wa AS m,
                 lead(value) OVER (PARTITION BY part, feature ORDER BY value)
                   AS nxt
          FROM g
          WINDOW w AS (PARTITION BY part, feature ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wa AS (PARTITION BY part, feature)
        ), terms AS (
          SELECT part, feature, n, m,
                 CAST(round(CASE WHEN m > 0 THEN
                   coalesce(abs(cr * 1.0 / n - ct * 1.0 / m) * (nxt - value),
                            0.0)
                 ELSE 0.0 END, 9) AS DECIMAL(38,9)) AS term
          FROM c
        ), stds AS (
          SELECT 'l_quantity' AS feature, stddev_pop(l_quantity) AS s
          FROM lineitem WHERE l_orderkey % 2 = 0
          UNION ALL
          SELECT 'l_extendedprice', stddev_pop(l_extendedprice)
          FROM lineitem WHERE l_orderkey % 2 = 0
        )
        SELECT t.part, t.feature,
               round(CAST(sum(term) AS DOUBLE), 6) AS w1,
               round(CAST(sum(term) AS DOUBLE) / max(s.s), 6) AS w1_norm,
               CAST(max(n) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m
        FROM terms t JOIN stds s ON t.feature = s.feature
        GROUP BY t.part, t.feature HAVING max(m) > 0
        ORDER BY t.part, t.feature
    """


def _q_contamination(spark, sf_dir):
    """LLM-pipeline decontamination: per-document 8-gram overlap of the
    odd-doc_id half vs the even half (dedup.contamination_report,
    engine-portable md5 gram-hash path; xxhash64 is the scale default,
    verified equal in tests)."""
    from driftspark.dedup import contamination_report

    docs = _t(spark, sf_dir, "documents")
    rep = contamination_report(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        "doc_id", "text", n=8, threshold=0.5, hash_fn="md5",
    )
    return rep.select(
        "id", "n_ngrams", "n_hit", F.round("rate", 9).alias("rate"),
        "contaminated",
    ).orderBy("id")


def _contamination_sql() -> str:
    # mirrors dedup.ngrams (sequence 0..max(size-n,0), 1-based slice of
    # length n — short texts yield their single short gram) + the md5
    # gram-hash join of contamination_report
    return """
        WITH grams AS (
          SELECT doc_id, md5(g) AS g FROM (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(words) - 7, 1)),
              i -> array_to_string(words[i:i+7], ' ')
            )) AS g
            FROM (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 w -> w <> '') AS words
              FROM documents
            )
          ) WHERE g <> ''
        ), tg AS (
          SELECT DISTINCT doc_id AS id, g FROM grams WHERE doc_id % 2 = 1
        ), rg AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0
        ), per AS (
          SELECT id, count(*) AS n_ngrams,
                 sum(CASE WHEN rg.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
          FROM tg LEFT JOIN rg ON tg.g = rg.g GROUP BY id
        )
        SELECT d.doc_id AS id,
               CAST(coalesce(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               CAST(coalesce(p.n_hit, 0) AS BIGINT) AS n_hit,
               round(p.n_hit * 1.0 / p.n_ngrams, 9) AS rate,
               coalesce(p.n_hit * 1.0 / p.n_ngrams > 0.5, FALSE)
                 AS contaminated
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN per p ON d.doc_id = p.id
        ORDER BY id
    """


def _q_pii_scan(spark, sf_dir):
    """Training-data filter pass: per-pattern PII counts + flag
    (textops.pii_scan, pure regexp_count exprs).  The synthetic documents
    are PII-free, so deterministic PII strings are injected by doc_id
    residue IN THE QUERY — identically expressed on the DuckDB side."""
    from driftspark.textops import pii_scan

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0, F.lit(" contact a.b@example.com"))
            .when(F.col("doc_id") % 10 == 1, F.lit(" call +1 (555) 123-4567"))
            .when(F.col("doc_id") % 10 == 2, F.lit(" host 192.168.1.10"))
            .when(F.col("doc_id") % 10 == 3, F.lit(" ssn 123-45-6789"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scan(injected, "text").select(
        "doc_id", "pii_email", "pii_phone", "pii_ipv4", "pii_ssn", "has_pii"
    ).orderBy("doc_id")


def _pii_scan_sql() -> str:
    # len(regexp_extract_all) == regexp_count (non-overlapping, leftmost);
    # the patterns live in the Java/RE2 common subset (textops.PII_PATTERNS)
    return r"""
        WITH injected AS (
          SELECT doc_id,
                 text || CASE
                   WHEN doc_id % 10 = 0 THEN ' contact a.b@example.com'
                   WHEN doc_id % 10 = 1 THEN ' call +1 (555) 123-4567'
                   WHEN doc_id % 10 = 2 THEN ' host 192.168.1.10'
                   WHEN doc_id % 10 = 3 THEN ' ssn 123-45-6789'
                   ELSE '' END AS text
          FROM documents
        ), scanned AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
                   AS pii_email,
                 CAST(len(regexp_extract_all(text,
                   '\+?\d[\d().\- ]{7,14}\d')) AS BIGINT) AS pii_phone,
                 CAST(len(regexp_extract_all(text,
                   '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS pii_ipv4,
                 CAST(len(regexp_extract_all(text,
                   '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS pii_ssn
          FROM injected
        )
        SELECT doc_id, pii_email, pii_phone, pii_ipv4, pii_ssn,
               (pii_email > 0 OR pii_phone > 0 OR pii_ipv4 > 0 OR pii_ssn > 0)
                 AS has_pii
        FROM scanned ORDER BY doc_id
    """


def _q_outliers(spark, sf_dir):
    """Profiler: per-(returnflag, column) Tukey-fence outlier rates with
    GLOBAL exact-percentile fences (profile.outlier_report — which
    partition produces values abnormal for the whole table)."""
    from driftspark.profile import outlier_report

    li = _t(spark, sf_dir, "lineitem")
    rep = outlier_report(
        li, ["l_extendedprice", "l_quantity"], ["l_returnflag"], k=1.5
    )
    return rep.select(
        F.col("l_returnflag").alias("grp"), "column", "n", "n_null",
        "n_low", "n_high",
        F.round("outlier_rate", 9).alias("outlier_rate"),
        F.round("lo_fence", 6).alias("lo_fence"),
        F.round("hi_fence", 6).alias("hi_fence"),
    ).orderBy("grp", "column")


def _outliers_sql() -> str:
    # mirrors profile.outlier_report: global quantile_cont fences with
    # identical arithmetic (q25 - 1.5*(q75-q25)), strict </> predicates
    return """
        WITH q AS (
          SELECT quantile_cont(l_extendedprice, [0.25, 0.75]) AS qp,
                 quantile_cont(l_quantity, [0.25, 0.75]) AS qq
          FROM lineitem
        ), f AS (
          SELECT qp[1] - 1.5 * (qp[2] - qp[1]) AS p_lo,
                 qp[2] + 1.5 * (qp[2] - qp[1]) AS p_hi,
                 qq[1] - 1.5 * (qq[2] - qq[1]) AS q_lo,
                 qq[2] + 1.5 * (qq[2] - qq[1]) AS q_hi
          FROM q
        ), g AS (
          SELECT l_returnflag AS grp,
                 count(*) AS n,
                 CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS p_null,
                 CAST(sum(CASE WHEN l_extendedprice < (SELECT p_lo FROM f)
                   THEN 1 ELSE 0 END) AS BIGINT) AS p_low,
                 CAST(sum(CASE WHEN l_extendedprice > (SELECT p_hi FROM f)
                   THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
                 CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS q_null,
                 CAST(sum(CASE WHEN l_quantity < (SELECT q_lo FROM f)
                   THEN 1 ELSE 0 END) AS BIGINT) AS q_low,
                 CAST(sum(CASE WHEN l_quantity > (SELECT q_hi FROM f)
                   THEN 1 ELSE 0 END) AS BIGINT) AS q_high
          FROM lineitem GROUP BY 1
        )
        SELECT grp, 'l_extendedprice' AS "column", n, p_null AS n_null,
               p_low AS n_low, p_high AS n_high,
               round((p_low + p_high) * 1.0 / (n - p_null), 9) AS outlier_rate,
               round((SELECT p_lo FROM f), 6) AS lo_fence,
               round((SELECT p_hi FROM f), 6) AS hi_fence
        FROM g
        UNION ALL
        SELECT grp, 'l_quantity', n, q_null, q_low, q_high,
               round((q_low + q_high) * 1.0 / (n - q_null), 9),
               round((SELECT q_lo FROM f), 6), round((SELECT q_hi FROM f), 6)
        FROM g
        ORDER BY grp, "column"
    """


def _q_correlation_drift(spark, sf_dir):
    """Cross-column dependency drift: pairwise Pearson shift between
    splits (stats.correlation_drift — one fused corr agg per side)."""
    from driftspark.stats import correlation_drift

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    d = correlation_drift(
        ref, test, ["l_quantity", "l_extendedprice", "l_discount"]
    )
    rows = [
        (a, b, _roundhu(rr, 6), _roundhu(tt, 6), _roundhu(dd, 6))
        for (a, b), (rr, tt, dd) in sorted(d.items())
    ]
    return spark.createDataFrame(
        rows,
        "col_a string, col_b string, ref_r double, test_r double, "
        "delta double",
    )


def _correlation_drift_sql() -> str:
    # corr() is sample Pearson with pairwise NULL deletion in both engines
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
    ]
    sel = []
    for a, b in pairs:
        sel.append(f"""
            SELECT '{a}' AS col_a, '{b}' AS col_b,
                   round(corr(CASE WHEN l_orderkey % 2 = 0 THEN {a} END,
                              CASE WHEN l_orderkey % 2 = 0 THEN {b} END), 6)
                     AS ref_r,
                   round(corr(CASE WHEN l_orderkey % 2 = 1 THEN {a} END,
                              CASE WHEN l_orderkey % 2 = 1 THEN {b} END), 6)
                     AS test_r,
                   round(corr(CASE WHEN l_orderkey % 2 = 1 THEN {a} END,
                              CASE WHEN l_orderkey % 2 = 1 THEN {b} END)
                         - corr(CASE WHEN l_orderkey % 2 = 0 THEN {a} END,
                                CASE WHEN l_orderkey % 2 = 0 THEN {b} END), 6)
                     AS delta
            FROM lineitem""")
    return " UNION ALL ".join(sel) + " ORDER BY col_a, col_b"


def _q_category_shift(spark, sf_dir):
    """Categorical composition shift between splits
    (stats.category_shift_report — the categorical companion to the
    quantile-shift table; one fused scan for both sides)."""
    from driftspark.stats import category_shift_report

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    rep = category_shift_report(ref, test, ["l_returnflag", "l_linestatus"])
    return rep.select(
        "feature", "category", "n_ref", "n_test",
        F.round("ref_prop", 9).alias("ref_prop"),
        F.round("test_prop", 9).alias("test_prop"),
        F.round("delta", 9).alias("delta"),
    ).orderBy("feature", "category")


def _category_shift_sql() -> str:
    return """
        WITH u AS (
          SELECT 'l_returnflag' AS feature,
                 CAST(l_returnflag AS VARCHAR) AS category,
                 CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_ref
          FROM lineitem
          UNION ALL
          SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR),
                 CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END
          FROM lineitem
        ), g AS (
          SELECT feature, category,
                 sum(is_ref) AS n_ref, sum(1 - is_ref) AS n_test
          FROM u GROUP BY 1, 2
        ), p AS (
          SELECT feature, category, n_ref, n_test,
                 n_ref * 1.0 / sum(n_ref) OVER (PARTITION BY feature)
                   AS ref_prop,
                 n_test * 1.0 / sum(n_test) OVER (PARTITION BY feature)
                   AS test_prop
          FROM g
        )
        SELECT feature, category,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_test AS BIGINT) AS n_test,
               round(ref_prop, 9) AS ref_prop,
               round(test_prop, 9) AS test_prop,
               round(coalesce(test_prop, 0) - coalesce(ref_prop, 0), 9)
                 AS delta
        FROM p ORDER BY feature, category
    """


def _q_chi2_returnflag(spark, sf_dir):
    """A11: chi-square statistic of categorical counts between splits."""
    from driftspark.stats import categorical_counts

    ref, test = _split(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    cats, rc, tc = categorical_counts(ref, test, "l_returnflag")
    valid = (rc >= 5) | (tc >= 5)
    rv, tv = rc[valid], tc[valid]
    expected = rv / rv.sum() * tv.sum()
    stat = float(np.sum((tv - expected) ** 2 / expected))
    return spark.createDataFrame(
        [("l_returnflag", _roundhu(stat, 6), int(valid.sum()))],
        "feature string, chi2_stat double, n_categories int",
    )


def _q_uniqueness(spark, sf_dir):
    """J4: uniqueness violation keys (salted two-phase aggregation)."""
    from driftspark.constraints import duplicate_keys

    li = _t(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ["l_orderkey"]).orderBy("l_orderkey")


def _q_referential(spark, sf_dir):
    """J5: referential violations (anti-join): orders whose customer is
    not in the BUILDING segment (engineered violating parent subset)."""
    from driftspark.constraints import referential_violations

    orders = _t(spark, sf_dir, "orders")
    parent = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    v = referential_violations(orders, "o_custkey", parent, "c_custkey")
    return v.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders")).orderBy("o_custkey")


def _q_supplier_rollup(spark, sf_dir):
    """Dimension-chain rollup over the three otherwise-unexercised tables:
    supplier -> nation -> region broadcast joins + grouped aggregates (the
    dims are small by construction — Catalyst broadcasts both joins; the
    plan test suite asserts BroadcastHashJoin for dimension joins)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(27,10)")).cast("double")
                / F.count("s_acctbal"), 6
            ).alias("avg_acctbal"),
            F.countDistinct("n_nationkey").alias("n_nations"),
        )
        .orderBy("r_name")
    )


def _q_topk(spark, sf_dir):
    """T2/T3: top-k sort."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select("p_partkey", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(10)
    )


def _q_cbpe_hist(spark, sf_dir):
    """A8: np.digitize confidence binning (CBPE) on a derived confidence."""
    from driftspark.stats import digitize_clip_expr

    li = _t(spark, sf_dir, "lineitem").select(
        F.least(F.col("l_discount") * 10.0, F.lit(1.0)).alias("__conf")
    )
    b = digitize_clip_expr("__conf", np.linspace(0, 1, 11), 10)
    return li.select(b.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt")
    ).orderBy("bin")


def _q_cbpe_shift(spark, sf_dir):
    """A12 + A11-over-bins: the full CBPE detect between splits — binned
    chi-square statistic, valid-bin count, left-edge-reconstructed
    reference mean confidence (the reference's documented bias,
    cbpe.py:170-175), raw test mean, and the confidence shift.  p-value /
    severity need the engine's own chi2 survival function (pytest-locked),
    so the oracle checks the statistics."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import CBPE

    li = _t(spark, sf_dir, "lineitem")
    conf = F.least(F.col("l_discount") * 10.0, F.lit(1.0))
    ref, test = _split(li, "l_orderkey")

    def mk(df):
        return SparkDataset(
            df.select("l_quantity", conf.alias("proba")),
            feature_cols=["l_quantity"],
            proba_col="proba",
        )

    r = CBPE().fit_detect(mk(ref), mk(test))
    m = r.metadata
    return spark.createDataFrame(
        [(
            _roundhu(r.statistic, 6),
            int(m["n_valid_bins"]),
            _roundhu(m["ref_mean_confidence"], 6),
            _roundhu(m["test_mean_confidence"], 6),
            _roundhu(m["confidence_shift"], 6),
        )],
        "chi2_stat double, n_valid_bins int, ref_mean_conf double, "
        "test_mean_conf double, confidence_shift double",
    )


HALLUC_COLS = ["l_quantity", "l_discount", "l_tax"]  # similar scales keep
# cov well-conditioned, so the SQL adjugate inverse agrees with numpy pinv
# to ~1e-10 and the aggregate outputs are rounding-stable


def _q_hallucination(spark, sf_dir):
    """A18/A19/F3/F7-F10: the full Mahalanobis hallucination pipeline —
    mean-impute, distributed cross-product covariance (np.cov ddof=1
    parity), pinv, Arrow-vectorized quadratic-form distances, exact
    reference 95th-percentile threshold, confidence extraction,
    normalize/score/flag and quadrant counts — oracle-checked end to end:
    the SQL side re-derives the covariance from the same aggregates and
    inverts it in closed form (3x3 adjugate/determinant)."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import HallucinationRiskDetector

    li = _t(spark, sf_dir, "lineitem")
    ref, test = _split(li, "l_orderkey")
    p = F.least(F.col("l_discount") * 10.0, F.lit(0.99))
    ref_ds = SparkDataset(ref.select(*HALLUC_COLS), feature_cols=HALLUC_COLS)
    test_ds = SparkDataset(
        test.select(*HALLUC_COLS, p.alias("proba")),
        feature_cols=HALLUC_COLS,
        proba_col="proba",
    )
    det = HallucinationRiskDetector(
        density_method="mahalanobis",
        exact_distance_percentile=True,
        max_ref_sample=10**9,
    )
    res = det.fit_detect(ref_ds, test_ds)
    q = res.quadrant_counts
    m = res.rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("confidence"), 6).alias("mean_conf"),
        F.round(F.avg("norm_distance"), 5).alias("mean_dist"),
        F.round(F.avg("hallucination_score"), 5).alias("mean_score"),
    ).first()
    return spark.createDataFrame(
        [(
            int(m["n"]), int(res.n_hallucination_risk),
            int(q["safe"]), int(q["uncertain_honest"]),
            int(q["hallucination_risk"]), int(q["uncertain_safe"]),
            float(m["mean_conf"]), float(m["mean_dist"]), float(m["mean_score"]),
        )],
        "n long, n_risk long, safe long, uncertain_honest long, "
        "hallucination_risk long, uncertain_safe long, "
        "mean_conf double, mean_dist double, mean_score double",
    )


def _hallucination_sql() -> str:
    q, d, t = HALLUC_COLS
    return f"""
        WITH ref AS (
          SELECT CAST({q} AS DOUBLE) AS q, CAST({d} AS DOUBLE) AS d,
                 CAST({t} AS DOUBLE) AS t
          FROM lineitem WHERE l_orderkey % 2 = 0
        ),
        tst AS (
          SELECT CAST({q} AS DOUBLE) AS q, CAST({d} AS DOUBLE) AS d,
                 CAST({t} AS DOUBLE) AS t,
                 least(CAST({d} AS DOUBLE) * 10.0, 0.99) AS p
          FROM lineitem WHERE l_orderkey % 2 = 1
        ),
        st AS (
          SELECT count(*) AS n,
                 sum(q) / count(*) AS mq, sum(d) / count(*) AS md,
                 sum(t) / count(*) AS mt,
                 sum(q*q) AS sqq, sum(q*d) AS sqd, sum(q*t) AS sqt,
                 sum(d*d) AS sdd, sum(d*t) AS sdt, sum(t*t) AS stt
          FROM ref
        ),
        cov AS (
          SELECT n, mq, md, mt,
                 (sqq - n*mq*mq) / (n-1) AS c00,
                 (sqd - n*mq*md) / (n-1) AS c01,
                 (sqt - n*mq*mt) / (n-1) AS c02,
                 (sdd - n*md*md) / (n-1) AS c11,
                 (sdt - n*md*mt) / (n-1) AS c12,
                 (stt - n*mt*mt) / (n-1) AS c22
          FROM st
        ),
        inv AS (
          SELECT n, mq, md, mt,
                 (c11*c22 - c12*c12) AS a00,
                 (c02*c12 - c01*c22) AS a01,
                 (c01*c12 - c02*c11) AS a02,
                 (c00*c22 - c02*c02) AS a11,
                 (c02*c01 - c00*c12) AS a12,
                 (c00*c11 - c01*c01) AS a22,
                 (c00*(c11*c22 - c12*c12)
                  - c01*(c01*c22 - c12*c02)
                  + c02*(c01*c12 - c11*c02)) AS det
          FROM cov
        ),
        rdist AS (
          SELECT sqrt(greatest(
                   ((r.q - i.mq)*(i.a00*(r.q - i.mq) + i.a01*(r.d - i.md) + i.a02*(r.t - i.mt))
                  + (r.d - i.md)*(i.a01*(r.q - i.mq) + i.a11*(r.d - i.md) + i.a12*(r.t - i.mt))
                  + (r.t - i.mt)*(i.a02*(r.q - i.mq) + i.a12*(r.d - i.md) + i.a22*(r.t - i.mt))
                   ) / i.det, 0.0)) AS dist
          FROM ref r, inv i
        ),
        thr AS (SELECT quantile_cont(dist, 0.95) + 1e-10 AS cut FROM rdist),
        scored AS (
          SELECT least(greatest(greatest(s.p, 1.0 - s.p), 0.0), 1.0) AS conf,
                 least(greatest(sqrt(greatest(
                   ((s.q - i.mq)*(i.a00*(s.q - i.mq) + i.a01*(s.d - i.md) + i.a02*(s.t - i.mt))
                  + (s.d - i.md)*(i.a01*(s.q - i.mq) + i.a11*(s.d - i.md) + i.a12*(s.t - i.mt))
                  + (s.t - i.mt)*(i.a02*(s.q - i.mq) + i.a12*(s.d - i.md) + i.a22*(s.t - i.mt))
                   ) / i.det, 0.0)) / thr.cut, 0.0), 1.0) AS nd
          FROM tst s, inv i, thr
        )
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN conf >= 0.80 AND nd >= 0.50 THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
               CAST(sum(CASE WHEN nd < 0.50 AND conf >= 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS safe,
               CAST(sum(CASE WHEN nd >= 0.50 AND conf < 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS uncertain_honest,
               CAST(sum(CASE WHEN nd >= 0.50 AND conf >= 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS hallucination_risk,
               CAST(sum(CASE WHEN nd < 0.50 AND conf < 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS uncertain_safe,
               round(avg(conf), 6) AS mean_conf,
               round(avg(nd), 5) AS mean_dist,
               round(avg(conf * nd), 5) AS mean_score
        FROM scored
    """


EMBDRIFT_SHIFT_DIMS = 8  # inject +0.5 into the first 8 dimensions
EMBDRIFT_DIM = 64


def _q_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift: per-dimension mean/std/Welch-z over
    the embeddings table with an injected +0.5 shift on the first 8 dims.
    One column-pruned scan per side feeding 2*dim+1 partial-sum
    expressions (no posexplode of n x dim rows); the DuckDB oracle
    re-derives every dimension's moments and z from the same arrays."""
    from driftspark.ann import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("vec_id") % 2 == 0)
    test = emb.where(F.col("vec_id") % 2 == 1).withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(i < EMBDRIFT_SHIFT_DIMS, F.lit(0.5)).otherwise(F.lit(0.0)),
        ),
    )
    d = embedding_drift(ref, test, "embedding", dim=EMBDRIFT_DIM)
    return d.select(
        "dim",
        F.round("ref_mean", 6).alias("ref_mean"),
        F.round("test_mean", 6).alias("test_mean"),
        F.round("mean_shift", 6).alias("mean_shift"),
        F.round("ref_std", 6).alias("ref_std"),
        F.round("test_std", 6).alias("test_std"),
        F.round("z", 4).alias("z"),
        "drifted",
    ).orderBy("dim")


def _emb_moments_cte(dim: int, shift_dims: int) -> str:
    """Shared per-dimension moment derivation (el → st → m) used by BOTH
    the batch embedding_drift oracle and the streaming-embedding oracle:
    unnest the embeddings view via CROSS JOIN range, apply the standard
    +0.5 shift to the odd (test) side's first ``shift_dims`` dims, and
    reduce to per-dim (n, mean, population variance) per side."""
    return f"""
        WITH el AS (
          SELECT vec_id % 2 AS side, CAST(j - 1 AS INTEGER) AS dim,
                 CAST(embedding[j] AS DOUBLE)
                 + (CASE WHEN vec_id % 2 = 1 AND j <= {shift_dims}
                         THEN 0.5 ELSE 0.0 END) AS v
          FROM embeddings CROSS JOIN range(1, {dim} + 1) t(j)
        ),
        st AS (
          SELECT dim, side, count(*) AS n, sum(v) AS s, sum(v*v) AS q
          FROM el GROUP BY dim, side
        ),
        m AS (
          SELECT r.dim, r.n AS n0, t.n AS n1,
                 r.s / r.n AS m0, t.s / t.n AS m1,
                 greatest(r.q / r.n - (r.s/r.n)*(r.s/r.n), 0.0) AS v0,
                 greatest(t.q / t.n - (t.s/t.n)*(t.s/t.n), 0.0) AS v1
          FROM (SELECT * FROM st WHERE side = 0) r
          JOIN (SELECT * FROM st WHERE side = 1) t USING (dim)
        )
    """


def _embedding_drift_sql(dim: int = EMBDRIFT_DIM, shift_dims: int = EMBDRIFT_SHIFT_DIMS) -> str:
    z = "(m1 - m0) / (sqrt(v0/n0 + v1/n1) + 1e-12)"
    return f"""
        {_emb_moments_cte(dim, shift_dims)}
        SELECT dim, round(m0, 6) AS ref_mean, round(m1, 6) AS test_mean,
               round(m1 - m0, 6) AS mean_shift,
               round(sqrt(v0), 6) AS ref_std, round(sqrt(v1), 6) AS test_std,
               round({z}, 4) AS z,
               abs({z}) >= 4.0 AS drifted
        FROM m ORDER BY dim
    """


def _stream_emb_input(spark, sf_dir):
    """Micro-batch files for the streaming embedding oracle: batch k =
    odd vec_id with vec_id % 4 == 2k+1, embeddings cast to double with
    the standard +0.5 shift on the first EMBDRIFT_SHIFT_DIMS dims —
    membership and shift re-derivable in DuckDB from the registered
    embeddings view.  Same content-keyed dir + mtime-pinning conventions
    as _stream_batch_input."""
    import glob as _glob
    import time

    emb = _t(spark, sf_dir, "embeddings")
    shifted = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(i < EMBDRIFT_SHIFT_DIMS, F.lit(0.5)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    in_dir = _oracle_scratch_path(
        "streamembin", [_stream_emb_input], suffix="", sf_dir=sf_dir,
        shift_dims=EMBDRIFT_SHIFT_DIMS,
    )
    if not all(_glob.glob(f"{in_dir}/b{k}/*.parquet") for k in range(2)):
        for k in range(2):
            shifted.where(F.col("vec_id") % 4 == 2 * k + 1).select(
                "embedding"
            ).coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/b{k}")
    t0 = time.time() - 1_000
    for k in range(2):
        for fp in sorted(_glob.glob(f"{in_dir}/b{k}/*.parquet")):
            os.utime(fp, (t0 + 10 * k, t0 + 10 * k))
    return emb, in_dir


def _q_streaming_embedding(spark, sf_dir):
    """Stateful-streaming embedding monitor oracle: the cumulative
    applyInPandasWithState operator's FINAL emission over the micro-batch
    files must equal a plain batch Welch-z computation over ALL odd
    vec_ids — DuckDB re-derives the per-dimension moments, the drifted-dim
    set, and max |z| from the registered embeddings view directly (the
    final cumulative value is batch-order-invariant by design)."""
    import tempfile
    import uuid

    from driftspark.streaming import (
        cumulative_embedding_drift_stream,
        fit_embedding_moments,
    )

    emb, in_dir = _stream_emb_input(spark, sf_dir)
    ref = emb.where(F.col("vec_id") % 2 == 0)
    moments = fit_embedding_moments(ref, "embedding", dim=EMBDRIFT_DIM)
    stream = (
        spark.readStream.schema("embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/b*")
    )
    out = cumulative_embedding_drift_stream(stream, moments)
    work = tempfile.mkdtemp(prefix="driftspark_streamemb_")
    qn = f"cum_emb_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qn)
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "streaming oracle query timed out"
    pdf = spark.sql(f"SELECT * FROM {qn}").toPandas()
    final = pdf.sort_values("n_seen").iloc[-1]
    dims = ",".join(str(int(j)) for j in sorted(final["drifted_dims"]))
    return spark.createDataFrame(
        [(
            int(final["n_seen"]), int(final["n_drifted"]), dims,
            _roundhu(final["max_abs_z"], 4), bool(final["passed"]),
        )],
        "n_seen long, n_drifted int, drifted_dims string, "
        "max_abs_z double, passed boolean",
    )


def _streaming_embedding_sql(
    dim: int = EMBDRIFT_DIM,
    shift_dims: int = EMBDRIFT_SHIFT_DIMS,
    z_threshold: float = 4.0,
) -> str:
    z = "(m1 - m0) / (sqrt(v0/n0 + v1/n1) + 1e-12)"
    return f"""
        {_emb_moments_cte(dim, shift_dims)},
        zt AS (SELECT dim, n1, {z} AS z FROM m)
        SELECT (SELECT max(n1) FROM zt) AS n_seen,
               CAST(count(*) FILTER (WHERE abs(z) >= {z_threshold}) AS INTEGER)
                 AS n_drifted,
               COALESCE(string_agg(CAST(dim AS VARCHAR), ',' ORDER BY dim)
                 FILTER (WHERE abs(z) >= {z_threshold}), '') AS drifted_dims,
               round(max(abs(z)), 4) AS max_abs_z,
               count(*) FILTER (WHERE abs(z) >= {z_threshold}) = 0 AS passed
        FROM zt
    """


def _q_domain_classifier(spark, sf_dir):
    """A16/A17 (rows-only: RandomForest training is not SQL-expressible —
    behavioral oracles live in tests/test_detectors2.py): classifier
    two-sample test over lineitem with an injected l_extendedprice shift.
    Deterministic content-keyed folds give a stable schema and row set:
    one row per feature with its separability importance, plus the CV AUC
    and verdict."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors.domain_classifier import DomainClassifier

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", *cols)
    ref, test = _split(li, "l_orderkey")
    test = test.withColumn("l_extendedprice", F.col("l_extendedprice") * 1.5)
    det = DomainClassifier()
    res = det.fit_detect(
        SparkDataset(ref, feature_cols=cols), SparkDataset(test, feature_cols=cols)
    )
    imps = dict(res.metadata["top_features"])
    return spark.createDataFrame(
        [
            (c, _roundhu(imps.get(c, 0.0), 6), _roundhu(res.score, 6),
             bool(res.drift_detected))
            for c in sorted(cols)
        ],
        "feature string, importance double, auc double, drift boolean",
    )


DC_SAMPLE_CAP = 2500  # domain-classifier per-side cap: binds at every sf
DC_FEATS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
DC_KEYS = ["l_orderkey", "l_linenumber"]


def _q_domain_classifier_sample(spark, sf_dir):
    """A16 deterministic half (the SQL-expressible part of the last
    rows-only driver query): the domain classifier's engine-portable
    training frame — md5-ordered content-keyed per-side sample caps
    (domain_classifier.py sample_hash='md5'), domain labels, and the
    md5-derived CV fold ids.  The oracle re-derives EXACT membership
    (long-sum checksums over the key columns), fold assignment, and the
    per-(side, fold) label-union counts; the RF consuming this frame
    stays rows-only (not SQL-expressible)."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors.domain_classifier import DomainClassifier

    li = _t(spark, sf_dir, "lineitem").select(*DC_KEYS, *DC_FEATS)
    ref, test = _split(li, "l_orderkey")
    det = DomainClassifier(
        max_samples_per_side=DC_SAMPLE_CAP,
        sample_hash="md5",
        sample_key_cols=DC_KEYS,
        cv_folds=3,
    )
    det.fit(SparkDataset(ref, feature_cols=DC_FEATS, metadata_cols=DC_KEYS))
    frame = det.training_frame(
        SparkDataset(test, feature_cols=DC_FEATS, metadata_cols=DC_KEYS)
    )
    return (
        frame.groupBy(
            F.col("label").cast("bigint").alias("side"), "fold"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("sum_okey"),
            F.sum("l_linenumber").alias("sum_lnum"),
        )
        .orderBy("side", "fold")
    )


def _domain_classifier_sample_sql() -> str:
    """Training-frame re-derivation: per-side md5-ordered top-cap rows,
    the same md5(keys || seed) -> 60-bit -> mod-folds fold id, grouped to
    (side, fold) counts + exact key checksums."""
    key_hash = (
        "md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR)))"
    )
    fold = (
        "('0x' || substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR), '42')), 1, 15))::BIGINT % 3"
    )
    return f"""
        WITH ref AS (
          SELECT l_orderkey, l_linenumber,
                 row_number() OVER (
                   ORDER BY {key_hash}, l_orderkey, l_linenumber) AS rn,
                 0 AS side
          FROM lineitem WHERE l_orderkey % 2 = 0
        ),
        tst AS (
          SELECT l_orderkey, l_linenumber,
                 row_number() OVER (
                   ORDER BY {key_hash}, l_orderkey, l_linenumber) AS rn,
                 1 AS side
          FROM lineitem WHERE l_orderkey % 2 = 1
        ),
        u AS (
          SELECT side, l_orderkey, l_linenumber
          FROM ref WHERE rn <= {DC_SAMPLE_CAP}
          UNION ALL
          SELECT side, l_orderkey, l_linenumber
          FROM tst WHERE rn <= {DC_SAMPLE_CAP}
        )
        SELECT CAST(side AS BIGINT) AS side,
               CAST({fold} AS BIGINT) AS fold,
               count(*) AS n,
               CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
               CAST(sum(l_linenumber) AS BIGINT) AS sum_lnum
        FROM u
        GROUP BY 1, 2
        ORDER BY side, fold
    """


DENSITY_SAMPLES = 300  # ref-sample cap for the knn/kde backends — binds at
                       # every sf, and keeps the DuckDB oracle's cross joins
                       # at ~rows x 300
DENSITY_KEYS = ["l_orderkey", "l_linenumber"]
DENSITY_PRED = "l_partkey % 10 = 0"  # bounds both engines' row counts so
                                     # the oracle's O(rows x sample) joins
                                     # stay cheap at sf0.1
KDE_BANDWIDTH = 0.5  # explicit bandwidth (Scott's rule is pytest-locked;
                     # a power-of-two literal keeps z = -0.5*d2/h^2 an
                     # exact FP transform on both engines)


def _density_result_df(spark, res, n_samp: int):
    """Shared result frame for the knn/kde hallucination oracles."""
    q = res.quadrant_counts
    m = res.rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("confidence"), 6).alias("mean_conf"),
        F.round(F.avg("norm_distance"), 5).alias("mean_dist"),
        F.round(F.avg("hallucination_score"), 5).alias("mean_score"),
    ).first()
    return spark.createDataFrame(
        [(
            int(m["n"]), int(n_samp), int(res.n_hallucination_risk),
            int(q["safe"]), int(q["uncertain_honest"]),
            int(q["hallucination_risk"]), int(q["uncertain_safe"]),
            float(m["mean_conf"]), float(m["mean_dist"]), float(m["mean_score"]),
        )],
        "n long, n_samp long, n_risk long, safe long, uncertain_honest long, "
        "hallucination_risk long, uncertain_safe long, "
        "mean_conf double, mean_dist double, mean_score double",
    )


def _q_density_backend(spark, sf_dir, method: str, **det_kwargs):
    """F4/F6: the knn / kde hallucination density backends end to end on
    the engine-portable md5 sample path (hallucination.py knn/kde fit +
    broadcast-state pandas-UDF scoring).  The DuckDB oracle re-derives the
    SAME md5-ordered reference sample, the same per-row distances (rank-k
    mean for knn, logsumexp -log density for kde), the same exact p95
    normalization, and the same flag/quadrant frame."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import HallucinationRiskDetector

    li = _t(spark, sf_dir, "lineitem").where(DENSITY_PRED)
    ref, test = _split(li, "l_orderkey")
    p = F.least(F.col("l_discount") * 10.0, F.lit(0.99))
    ref_ds = SparkDataset(
        ref.select(*DENSITY_KEYS, *HALLUC_COLS),
        feature_cols=HALLUC_COLS,
        metadata_cols=DENSITY_KEYS,
    )
    test_ds = SparkDataset(
        test.select(*HALLUC_COLS, p.alias("proba")),
        feature_cols=HALLUC_COLS,
        proba_col="proba",
    )
    det = HallucinationRiskDetector(
        density_method=method,
        exact_distance_percentile=True,
        max_ref_sample=DENSITY_SAMPLES,
        sample_hash="md5",
        sample_key_cols=DENSITY_KEYS,
        **det_kwargs,
    )
    res = det.fit_detect(ref_ds, test_ds)
    return _density_result_df(spark, res, det._state["ref"].shape[0])


def _q_hallucination_knn(spark, sf_dir):
    return _q_density_backend(spark, sf_dir, "knn")


def _q_hallucination_kde(spark, sf_dir):
    return _q_density_backend(spark, sf_dir, "kde", kde_bandwidth=KDE_BANDWIDTH)


# squared distance between a row `a` and a sample row `b` — the same
# |x|^2 + |r|^2 - 2 x.r expansion the numpy scorer evaluates
_D2 = (
    "greatest((a.q*a.q + a.d*a.d + a.t*a.t) + (b.q*b.q + b.d*b.d + b.t*b.t)"
    " - 2*(a.q*b.q + a.d*b.d + a.t*b.t), 0.0)"
)


def _density_sides_sql() -> str:
    """Shared CTE block: md5-ordered reference sample + row-keyed sides."""
    qc, dc, tc = HALLUC_COLS
    key_hash = (
        "md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR)))"
    )
    return f"""
        ref AS (
          SELECT CAST({qc} AS DOUBLE) AS q, CAST({dc} AS DOUBLE) AS d,
                 CAST({tc} AS DOUBLE) AS t,
                 row_number() OVER (
                   ORDER BY {key_hash}, l_orderkey, l_linenumber) AS rn,
                 row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid
          FROM lineitem
          WHERE {DENSITY_PRED} AND l_orderkey % 2 = 0
        ),
        samp AS (SELECT q, d, t FROM ref WHERE rn <= {DENSITY_SAMPLES}),
        ns AS (SELECT count(*) AS n_samp FROM samp),
        tst AS (
          SELECT CAST({qc} AS DOUBLE) AS q, CAST({dc} AS DOUBLE) AS d,
                 CAST({tc} AS DOUBLE) AS t,
                 least(CAST({dc} AS DOUBLE) * 10.0, 0.99) AS p,
                 row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid
          FROM lineitem
          WHERE {DENSITY_PRED} AND l_orderkey % 2 = 1
        )
    """


def _density_final_sql() -> str:
    return """
        SELECT count(*) AS n,
               (SELECT n_samp FROM ns) AS n_samp,
               CAST(sum(CASE WHEN conf >= 0.80 AND nd >= 0.50 THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
               CAST(sum(CASE WHEN nd < 0.50 AND conf >= 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS safe,
               CAST(sum(CASE WHEN nd >= 0.50 AND conf < 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS uncertain_honest,
               CAST(sum(CASE WHEN nd >= 0.50 AND conf >= 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS hallucination_risk,
               CAST(sum(CASE WHEN nd < 0.50 AND conf < 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS uncertain_safe,
               round(avg(conf), 6) AS mean_conf,
               round(avg(nd), 5) AS mean_dist,
               round(avg(conf * nd), 5) AS mean_score
        FROM scored
    """


def _hallucination_knn_sql(k: int = 5) -> str:
    """kNN backend re-derivation: mean of the k smallest sample distances
    per row (rank window == np.partition's k smallest values), exact p95
    cut over the reference distances, then the detect aggregation."""
    return f"""
        WITH {_density_sides_sql()},
        rd AS (SELECT a.rid, sqrt({_D2}) AS dist FROM ref a CROSS JOIN samp b),
        rk AS (SELECT rid, dist,
                      row_number() OVER (PARTITION BY rid ORDER BY dist) AS rnk
               FROM rd),
        rknn AS (SELECT rid, avg(dist) AS dist FROM rk, ns
                 WHERE rnk <= least({k}, ns.n_samp) GROUP BY rid),
        thr AS (SELECT quantile_cont(dist, 0.95) + 1e-10 AS cut FROM rknn),
        td AS (SELECT a.rid, sqrt({_D2}) AS dist FROM tst a CROSS JOIN samp b),
        tk AS (SELECT rid, dist,
                      row_number() OVER (PARTITION BY rid ORDER BY dist) AS rnk
               FROM td),
        tknn AS (SELECT rid, avg(dist) AS dist FROM tk, ns
                 WHERE rnk <= least({k}, ns.n_samp) GROUP BY rid),
        scored AS (
          SELECT least(greatest(greatest(s.p, 1.0 - s.p), 0.0), 1.0) AS conf,
                 least(greatest(x.dist / thr.cut, 0.0), 1.0) AS nd
          FROM tst s JOIN tknn x USING (rid) CROSS JOIN thr
        )
        {_density_final_sql()}
    """


def _hallucination_kde_sql(h: float = KDE_BANDWIDTH) -> str:
    """KDE backend re-derivation: -log density via the same logsumexp the
    numpy scorer uses (zmax + ln(sum exp(z - zmax)) - log_norm), identical
    bandwidth, exact p95 cut, then the detect aggregation."""
    h2 = h * h
    return f"""
        WITH {_density_sides_sql()},
        lognorm AS (
          SELECT ln(CAST(n_samp AS DOUBLE)) + 1.5 * ln(2 * pi() * {h2!r}) AS lnm
          FROM ns
        ),
        rz AS (SELECT a.rid, -0.5 * {_D2} / {h2!r} AS z
               FROM ref a CROSS JOIN samp b),
        rzm AS (SELECT rid, z, max(z) OVER (PARTITION BY rid) AS zm FROM rz),
        rdist AS (
          SELECT rid,
                 -(any_value(zm) + ln(sum(exp(z - zm))) - any_value(lnm)) AS dist
          FROM rzm CROSS JOIN lognorm GROUP BY rid
        ),
        thr AS (SELECT quantile_cont(dist, 0.95) + 1e-10 AS cut FROM rdist),
        tz AS (SELECT a.rid, -0.5 * {_D2} / {h2!r} AS z
               FROM tst a CROSS JOIN samp b),
        tzm AS (SELECT rid, z, max(z) OVER (PARTITION BY rid) AS zm FROM tz),
        tdist AS (
          SELECT rid,
                 -(any_value(zm) + ln(sum(exp(z - zm))) - any_value(lnm)) AS dist
          FROM tzm CROSS JOIN lognorm GROUP BY rid
        ),
        scored AS (
          SELECT least(greatest(greatest(s.p, 1.0 - s.p), 0.0), 1.0) AS conf,
                 least(greatest(x.dist / thr.cut, 0.0), 1.0) AS nd
          FROM tst s JOIN tdist x USING (rid) CROSS JOIN thr
        )
        {_density_final_sql()}
    """


def _q_dedup_exact(spark, sf_dir):
    """Dedup (exact): duplicate groups by content hash (30-char prefix)."""
    from driftspark.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents").withColumn(
        "prefix", F.substring("text", 1, 30)
    )
    return exact_duplicates(docs, ["prefix"]).orderBy("content_hash")


def _q_minhash(spark, sf_dir):
    """Dedup (MinHash): per-doc md5 minhash signatures (word shingles)."""
    from driftspark.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text", n_hashes=MINHASH_K).orderBy("id")


JACCARD_DF_FRAC = 0.78  # stop-token ceiling as a fraction of corpus size


def _q_jaccard(spark, sf_dir):
    """Dedup (n-gram Jaccard): all-pairs token-set similarity >= 0.3 with
    the stop-token scale guard ON (tokens in more than 78% of the corpus
    are suppressed from pairing but still count toward set sizes) — the
    production configuration; the ceiling is corpus-relative so the check
    stays meaningful at every scale factor, and the oracle computes the
    same floor(frac * n_docs) ceiling in SQL."""
    from driftspark.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    ceiling = int(JACCARD_DF_FRAC * docs.count())
    p = jaccard_pairs(docs, "doc_id", "text", min_jaccard=0.3, max_token_df=ceiling)
    return p.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


def _q_dedup_neardup_drop(spark, sf_dir):
    """Dedup (near-dup corpus removal): LSH pairs -> min-id label
    propagation to FIXPOINT -> anti-join; keeps one representative per
    connected component.  bands = n_hashes makes candidate generation
    deterministic-complete (any shared min-hash pairs up), so the DuckDB
    oracle reproduces the component structure with a recursive CTE."""
    from driftspark.dedup import drop_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    kept = drop_near_duplicates(
        docs, "doc_id", "text", n_hashes=16, bands=16, min_jaccard=0.8
    )
    return kept.select("doc_id").orderBy("doc_id")


def _q_text_quality(spark, sf_dir):
    """Text analysis: char/token counts + average token length."""
    from driftspark.textops import with_text_stats

    docs = _t(spark, sf_dir, "documents")
    return (
        with_text_stats(docs, "text")
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            F.round("avg_token_len", 6).alias("avg_token_len"),
            F.round("punct_ratio", 6).alias("punct_ratio"),
        )
        .orderBy("doc_id")
    )


def _q_langid(spark, sf_dir):
    """Text analysis: stopword-profile language ID."""
    from driftspark.textops import detect_language

    docs = _t(spark, sf_dir, "documents")
    return detect_language(docs, "text").select("doc_id", "lang_pred").orderBy("doc_id")


def _q_fingerprint(spark, sf_dir):
    """Text analysis: order-insensitive document fingerprint."""
    from driftspark.textops import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs, "doc_id", "text").orderBy("doc_id")


def _q_ann_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-10 vs vec_id=0's embedding."""
    from driftspark.ann import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = cosine_topk(emb.where(F.col("vec_id") != 0), "vec_id", "embedding", qvec, 10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _q_embedding_neardups(spark, sf_dir):
    """Dedup (embedding-cosine): exact all-pairs near-duplicates >= 0.4."""
    from driftspark.ann import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _q_events_hourly(spark, sf_dir):
    """Scan/agg over the events table with time bucketing.

    The average is computed through an EXACT decimal sum (the stored
    doubles round-trip decimal(27,10) losslessly, verified), then one
    double division — double-sum averages are summation-order-dependent
    and flaked a round(.,6) boundary vs DuckDB at sf0.1."""
    ev = _t(spark, sf_dir, "events")
    dec_sum = F.sum(F.col("value").cast("decimal(27,10)")).cast("double")
    n = F.count(F.lit(1))
    return (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
        )
        .agg(n.alias("n"), F.round(dec_sum / n, 6).alias("avg_value"))
        .orderBy("event_type", "hour")
    )


VALUE_EDGES = [0.0, 10.0, 25.0, 50.0, 100.0, 200.0, 600.0]


def _q_rolling_psi(spark, sf_dir):
    """Temporal self-drift: PSI of each day's events.value histogram vs
    its trailing 7 days (verdicts.rolling_psi — dense bucket×bin grid,
    numerics.psi_from_proportions clamp/renormalize math)."""
    import numpy as np

    from driftspark.verdicts import rolling_psi

    ev = _t(spark, sf_dir, "events")
    rep = rolling_psi(
        ev, "ts", {"value": np.array(VALUE_EDGES)}, bucket="day",
        trailing=7, min_history=3, psi_threshold=0.2,
    )
    return rep.select(
        "feature", "bucket_ts", F.round("psi", 9).alias("psi"),
        "n_test", "n_trailing", "history", "severity", "passed",
    ).orderBy("bucket_ts")


def _rolling_psi_sql() -> str:
    value_bucket = _bucket_sql("value", VALUE_EDGES)
    n_bins = len(VALUE_EDGES) - 1
    return f"""
        WITH pts AS (
          SELECT ts, value FROM events WHERE ts IS NOT NULL
        ), binned AS (
          SELECT date_trunc('day', ts) AS b, {value_bucket} AS bin FROM pts
        ), counts AS (
          SELECT b, bin, count(*) AS t FROM binned
          WHERE bin IS NOT NULL GROUP BY 1, 2
        ), span AS (
          SELECT min(date_trunc('day', ts)) AS mn,
                 max(date_trunc('day', ts)) AS mx FROM pts
        ), gb AS (
          SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS b
          FROM span
        ), gbi AS (
          SELECT b, row_number() OVER (ORDER BY b) - 1 AS idx FROM gb
        ), bins AS (
          SELECT unnest(generate_series(0, {n_bins - 1})) AS bin
        ), dense AS (
          SELECT g.b, g.idx, bins.bin, coalesce(c.t, 0) AS t
          FROM gbi g CROSS JOIN bins
          LEFT JOIN counts c ON c.b = g.b AND c.bin = bins.bin
        ), tr AS (
          SELECT b, idx, bin, t,
                 coalesce(sum(t) OVER (PARTITION BY bin ORDER BY idx
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS r
          FROM dense
        ), p AS (
          SELECT b, idx, t, r,
                 sum(r) OVER wb AS rsum, sum(t) OVER wb AS tsum
          FROM tr WINDOW wb AS (PARTITION BY b)
        ), q AS (
          SELECT b, idx, rsum, tsum,
                 greatest(CASE WHEN rsum > 0 THEN r * 1.0 / rsum END, 0.001)
                   AS e,
                 greatest(CASE WHEN tsum > 0 THEN t * 1.0 / tsum END, 0.001)
                   AS a
          FROM p
        ), s AS (
          SELECT b, idx, rsum, tsum,
                 e / sum(e) OVER (PARTITION BY b) AS en,
                 a / sum(a) OVER (PARTITION BY b) AS an
          FROM q
        ), agg AS (
          SELECT b, max(idx) AS idx,
                 sum((an - en) * ln(an / en)) AS psi,
                 max(rsum) AS n_trailing, max(tsum) AS n_test
          FROM s GROUP BY b
        )
        SELECT 'value' AS feature,
               strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               round(psi, 9) AS psi,
               CAST(n_test AS BIGINT) AS n_test,
               CAST(n_trailing AS BIGINT) AS n_trailing,
               CAST(least(idx, 7) AS BIGINT) AS history,
               CASE WHEN least(idx, 7) < 3 THEN 'insufficient_history'
                    WHEN psi < 0.1 THEN 'none' WHEN psi < 0.2 THEN 'low'
                    WHEN psi < 0.3 THEN 'medium' WHEN psi < 0.5 THEN 'high'
                    ELSE 'critical' END AS severity,
               CASE WHEN least(idx, 7) < 3 THEN NULL
                    ELSE psi < 0.2 END AS passed
        FROM agg ORDER BY bucket_ts
    """


def _q_volume_anomalies(spark, sf_dir):
    """Beyond-reference: dense-grid partition-volume anomaly report over
    the events table (driftspark.volume.volume_report) — zero-row buckets
    are first-class rows, trailing-window z-scores, explicit verdicts."""
    from driftspark.volume import volume_report

    ev = _t(spark, sf_dir, "events")
    return volume_report(
        ev, "ts", "event_type", bucket="hour", trailing=24, min_history=6,
        z_threshold=3.0,
    ).orderBy("group", "bucket_ts")


def _q_freshness(spark, sf_dir):
    """Beyond-reference: per-group staleness vs the deterministic global
    max-timestamp anchor, incl. an expected-but-absent feed reported as
    'missing' (driftspark.volume.freshness_report)."""
    from driftspark.volume import freshness_report

    ev = _t(spark, sf_dir, "events")
    return freshness_report(
        ev, "ts", "event_type", max_lag_seconds=300.0,
        expected_groups=["click", "view", "purchase", "signup", "error",
                         "uninstall"],
    ).orderBy("group")


def _q_expectations(spark, sf_dir):
    """Schema/expectation layer: violation counts in one aggregation."""
    from driftspark.schema import expect_in, expect_range, run_expectations

    li = _t(spark, sf_dir, "lineitem")
    exps = [
        expect_range("l_quantity", 1, 49),  # 50s violate (deliberate)
        expect_range("l_discount", 0.0, 0.1),
        expect_in("l_returnflag", ["A", "N"]),  # R violates (deliberate)
    ]
    return run_expectations(li, exps).select(
        "expectation", "n_rows", "n_violations", "passed"
    ).orderBy("expectation")


def _q_null_counts(spark, sf_dir):
    """A3/validators: per-column null counts in one pass."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_user"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---- rows-only queries (non-SQL-expressible; correctness via pytest) ------


def _q_simhash(spark, sf_dir):
    """SimHash fingerprints, md5-hash variant so DuckDB reproduces them
    bit-exactly (the xxhash64 scale variant is property-tested in pytest —
    same bit-majority machinery, different token hash)."""
    from driftspark.dedup import simhash64

    docs = _t(spark, sf_dir, "documents")
    return simhash64(docs, "doc_id", "text", hash_fn="md5").orderBy("id")


def _q_lsh_candidates(spark, sf_dir):
    from driftspark.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", n_hashes=16, bands=4, min_jaccard=0.5
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


def _check_emb_dim(emb):
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    if dim != EMB_DIM:
        raise ValueError(
            f"embeddings dim {dim} != EMB_DIM {EMB_DIM}: the LSH oracles "
            "inline hyperplanes for EMB_DIM — update the constant"
        )


def _q_ann_lsh(spark, sf_dir):
    from driftspark.ann import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    _check_emb_dim(emb)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = cosine_topk_lsh(
        emb.where(F.col("vec_id") != 0), "vec_id", "embedding", qvec, k=10
    )
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


IVF_CELLS, IVF_PROBE = 16, 4


def _q_ann_ivf(spark, sf_dir):
    """IVF ANN: Arrow-batched nearest-centroid assignment, partition-pruned
    probe of the 4 nearest cells, exact cosine top-10 within them.

    The coarse quantizer is the deterministic seed-derived centroid matrix
    (ann.seed_centroids — the hyperplane-oracle trick), so the DuckDB
    oracle inlines the identical centroids as literals and re-derives
    assignment, probe set, and ranking; the data-adaptive k-means ``fit``
    keeps its pytest oracle (test_multimodal)."""
    from driftspark.ann import IVFIndex, seed_centroids

    emb = _t(spark, sf_dir, "embeddings")
    _check_emb_dim(emb)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    idx = IVFIndex(n_centroids=IVF_CELLS, seed=42)
    idx.centroids = seed_centroids(EMB_DIM, IVF_CELLS, 42)
    assigned = idx.assign(emb.where(F.col("vec_id") != 0), "embedding")
    top = idx.search(assigned, "vec_id", "embedding", qvec, k=10, n_probe=IVF_PROBE)
    return top.select("vec_id", "centroid_id", F.round("cosine", 6).alias("cosine"))


STRAT_N = 40  # per-group sample size for the stratified-sampling oracle


def _q_stratified_sample(spark, sf_dir):
    """F13 extension (training-data curation): deterministic stratified
    sampling — per l_returnflag group, EXACTLY the STRAT_N rows with the
    smallest engine-portable md5 key hash (sampling.
    content_keyed_top_n_per_group with the threshold-pruned per-group
    window).  The oracle re-derives exact membership per group via key
    checksums."""
    from driftspark.sampling import content_keyed_top_n_per_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber"
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    sample = content_keyed_top_n_per_group(
        li, STRAT_N, h, ["l_returnflag"],
        tiebreaks=[F.col("l_orderkey"), F.col("l_linenumber")],
        hash_range=(0, (1 << 60) - 1),
    )
    return (
        sample.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("sum_okey"),
            F.sum("l_linenumber").alias("sum_lnum"),
        )
        .orderBy("l_returnflag")
    )


def _stratified_sample_sql() -> str:
    key_hash = (
        "('0x' || substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR))), 1, 15))::BIGINT"
    )
    return f"""
        WITH ranked AS (
          SELECT l_returnflag, l_orderkey, l_linenumber,
                 row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY {key_hash}, l_orderkey, l_linenumber) AS rn
          FROM lineitem
        )
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
               CAST(sum(l_linenumber) AS BIGINT) AS sum_lnum
        FROM ranked WHERE rn <= {STRAT_N}
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """


IVF_QUERY_IDS = (0, 1, 2)


def _q_ann_ivf_many(spark, sf_dir):
    """Batch IVF ANN (ann.IVFIndex.search_many): a TABLE of query vectors,
    each probe-pruned to its 4 nearest cells via one vectorized pandas
    UDF, broadcast onto the assigned corpus, exact cosine, windowed
    top-5 per query.  Seed-derived centroids as in ann_ivf_topk so the
    DuckDB oracle re-derives assignment, per-query probe sets, and
    per-query rankings from inlined literals."""
    from driftspark.ann import IVFIndex, seed_centroids

    emb = _t(spark, sf_dir, "embeddings")
    _check_emb_dim(emb)
    idx = IVFIndex(n_centroids=IVF_CELLS, seed=42)
    idx.centroids = seed_centroids(EMB_DIM, IVF_CELLS, 42)
    qids = list(IVF_QUERY_IDS)
    corpus = emb.where(~F.col("vec_id").isin(qids))
    queries = emb.where(F.col("vec_id").isin(qids))
    assigned = idx.assign(corpus, "embedding")
    top = idx.search_many(
        assigned, "vec_id", "embedding",
        queries, "vec_id", "embedding", k=5, n_probe=IVF_PROBE,
    )
    return top.select(
        "query_id", "vec_id", "centroid_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


def _ann_ivf_many_sql(centroids, n_probe: int, k: int = 5) -> str:
    """Per-query re-derivation of search_many from the inlined centroids
    (the _ann_ivf_sql pattern lifted to a query table)."""
    rows = ",\n               ".join(
        f"({i}, [" + ",".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(centroids)
    )
    dist = (
        "list_dot_product({v}, {v}) - 2 * list_dot_product({v}, c) "
        "+ list_dot_product(c, c)"
    )
    qids = ", ".join(str(q) for q in IVF_QUERY_IDS)
    return f"""
        WITH cents(centroid_id, c) AS (
          VALUES {rows}
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        qs AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN ({qids})),
        probe AS (
          SELECT query_id, centroid_id FROM (
            SELECT q.query_id, cents.centroid_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {dist.format(v='q.qe')}, cents.centroid_id
                   ) AS rn
            FROM qs q, cents
          ) WHERE rn <= {n_probe}
        ),
        assigned AS (
          SELECT vec_id, e, centroid_id FROM (
            SELECT v.vec_id, v.e, cents.centroid_id,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY {dist.format(v='v.e')}, cents.centroid_id
                   ) AS rn
            FROM v, cents WHERE v.vec_id NOT IN ({qids})
          ) WHERE rn = 1
        ),
        scored AS (
          SELECT p.query_id, a.vec_id, a.centroid_id,
                 list_dot_product(a.e, q.qe)
                   / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qe, q.qe)))
                   AS cosine
          FROM assigned a
          JOIN probe p ON a.centroid_id = p.centroid_id
          JOIN qs q ON q.query_id = p.query_id
        )
        SELECT query_id, vec_id, centroid_id,
               round(cosine, 6) AS cosine, CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id
                 ) AS rank
          FROM scored
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _oracle_scratch_path(kind: str, source_fns, suffix: str = ".parquet", **params) -> str:
    """Content-keyed /tmp path for oracle-side persisted tables: the key
    hashes the generator params AND the generator source, so concurrent
    harness runs of the same version share identical bytes harmlessly,
    while a generator change can never silently reuse a stale parquet."""
    import hashlib
    import inspect

    h = hashlib.md5(repr(sorted(params.items())).encode())
    for fn in source_fns:
        h.update(inspect.getsource(fn).encode())
    return f"/tmp/driftspark_oracle_{kind}_{h.hexdigest()[:12]}{suffix}"


IMG_GEN_PARAMS = dict(
    seed=42, n_rows=6000, n_parts=4, drift=True, with_bytes=False,
    dup_every=1000, dangling_every=2000,
)


def _oracle_img_path() -> str:
    from driftspark.synth import _gen_rows

    return _oracle_scratch_path("images", [_gen_rows], **IMG_GEN_PARAMS)


def _q_image_verdicts(spark, sf_dir):
    """North-rule flagship on the deterministic synthetic image table.

    The synth table is persisted to parquet so the DuckDB oracle re-derives
    every per-partition statistic (PSI with exact decile edges, KS D,
    chi-square) from the identical bytes.  severity/passed are driver-side
    functions of (statistic, p) locked by pytest severity-ladder tests —
    p-values need the exact KS path-counting DP, which SQL can't express."""
    from driftspark.synth import synth_image_table
    from driftspark.verdicts import partition_verdicts

    import glob

    path = _oracle_img_path()
    if not glob.glob(f"{path}/*.parquet"):
        # content-keyed: an existing dir holds byte-identical rows (same
        # generator source + params), so skip the rewrite — overwriting
        # would momentarily delete files under a concurrent reader
        synth_image_table(
            spark, 6000, n_parts=4, drift=True, with_bytes=False
        ).write.mode("overwrite").parquet(path)
    img = spark.read.parquet(path)
    v = partition_verdicts(img, numeric_cols=["w", "h", "phash"], cat_cols=["fmt"])
    return v.select(
        "part", "feature", "check", F.round("statistic", 6).alias("statistic"),
        "n_ref", "n_test",
    ).orderBy("part", "feature", "check")


def _q_phash_histogram(spark, sf_dir):
    """A24: perceptual-hash distribution histogram (top-8-bit buckets) per
    split over the persisted oracle image table."""
    from driftspark.profile import phash_histogram

    path = _oracle_img_path()
    _ensure_oracle_img_table(path)
    img = spark.read.parquet(path)
    return phash_histogram(img, group_cols=["split"]).orderBy("split", "bucket")


def _q_phash_contamination(spark, sf_dir):
    """Image-axis decontamination: per TEST image the nearest REF image
    by phash hamming (imageops.phash_contamination — exact matches via a
    cap-immune equality join, near matches via the pigeonhole chunk
    join).  max_hamming=3 < the 4 chunk bands and fixture buckets stay
    under the cap, so the all-pairs SQL oracle is exact.  Duplicate
    image_ids collapse via min(phash) per side for engine determinism."""
    from driftspark.imageops import phash_contamination

    path = _oracle_img_path()
    _ensure_oracle_img_table(path)
    img = spark.read.parquet(path)

    def side(split):
        return (
            img.where(F.col("split") == split)
            .groupBy("image_id")
            .agg(F.min("phash").alias("phash"))
        )

    return phash_contamination(
        side("test"), side("ref"), "image_id", "phash", max_hamming=3
    ).select(
        F.col("id").alias("image_id"), "min_hamming", "n_matches",
        "contaminated",
    ).orderBy("image_id")


def _phash_contamination_sql(path: str) -> str:
    return f"""
        WITH t AS (
          SELECT image_id AS id, min(phash) AS h
          FROM '{path}/*.parquet' WHERE split = 'test' GROUP BY image_id
        ), r AS (
          SELECT image_id AS rid, min(phash) AS rh
          FROM '{path}/*.parquet' WHERE split = 'ref' GROUP BY image_id
        ), m AS (
          SELECT t.id, min(bit_count(xor(t.h, r.rh))) AS min_hamming,
                 CAST(count(*) AS BIGINT) AS n_matches
          FROM t, r WHERE bit_count(xor(t.h, r.rh)) <= 3
          GROUP BY t.id
        )
        SELECT t.id AS image_id,
               CAST(m.min_hamming AS INTEGER) AS min_hamming,
               coalesce(m.n_matches, 0) AS n_matches,
               m.min_hamming IS NOT NULL AS contaminated
        FROM t LEFT JOIN m ON t.id = m.id
        ORDER BY image_id
    """


def _q_phash_neardups(spark, sf_dir):
    """Image near-dup pairs by phash hamming distance (banded chunk join,
    imageops.phash_near_duplicates).  Near-dups are constructed
    deterministically: each ref image gets a variant whose phash flips two
    self-derived low bits (when both flips hit the same bit the variant is
    IDENTICAL, exercising the hamming-0 star path).  max_hamming=3 < the 4
    chunk bands, so pigeonhole guarantees complete recall and the all-pairs
    SQL oracle is exact.  Duplicate image_ids collapse via min(phash) so
    pair rows are engine-deterministic."""
    from driftspark.imageops import phash_near_duplicates

    path = _oracle_img_path()
    _ensure_oracle_img_table(path)
    img = (
        spark.read.parquet(path)
        .where(F.col("split") == "ref")
        .groupBy("image_id")
        .agg(F.min("phash").alias("phash"))
    )
    variant = img.select(
        F.concat(F.col("image_id"), F.lit("~v")).alias("image_id"),
        F.expr(
            "phash ^ shiftleft(cast(1 as bigint), cast(phash & 31 as int)) "
            "^ shiftleft(cast(1 as bigint), cast((phash >> 6) & 31 as int))"
        ).alias("phash"),
    )
    u = img.unionByName(variant)
    pairs = phash_near_duplicates(u, "image_id", "phash", max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


def _phash_histogram_sql(path: str) -> str:
    return f"""
        SELECT split, (phash >> 56) & 255 AS bucket, count(*) AS cnt
        FROM '{path}/*.parquet'
        GROUP BY split, bucket ORDER BY split, bucket
    """


def _phash_neardups_sql(path: str) -> str:
    return f"""
        WITH img AS (
          SELECT image_id AS id, min(phash) AS phash
          FROM '{path}/*.parquet' WHERE split = 'ref' GROUP BY image_id
        ),
        u AS (
          SELECT id, phash FROM img
          UNION ALL
          SELECT id || '~v',
                 xor(xor(phash, (1::BIGINT << CAST(phash & 31 AS INT))),
                     (1::BIGINT << CAST((phash >> 6) & 31 AS INT)))
          FROM img
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        FROM u a, u b
        WHERE a.id < b.id AND bit_count(xor(a.phash, b.phash)) <= 3
        ORDER BY id_a, id_b
    """


def _q_embedding_neardups_lsh(spark, sf_dir):
    """Hyperplane-LSH near-dup candidates with exact verification (scale
    path; recall < 1 by construction → rows-only check)."""
    from driftspark.ann import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    _check_emb_dim(emb)
    p = embedding_near_duplicates(
        emb, "vec_id", "embedding", min_cosine=0.4, bands=8, n_planes=16
    )
    return p.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


IMG_FEAT_PARAMS = dict(seed=42, n_rows=500, n_parts=8, drift=False,
                       dup_every=1000, dangling_every=2000)


def _q_image_features(spark, sf_dir):
    """Multimodal: decode + feature-extract image payloads (real codecs).

    Fully oracle-checked: the DuckDB side reads codec-free ground truth —
    the generator's pre-encode pixels pushed through the known lossless
    (png) / analytic-quantization (lossy) decode equivalence — so the
    encode→decode roundtrip and the feature math are what's verified."""
    from driftspark.multimodal import image_features
    from driftspark.synth import synth_image_table

    t = synth_image_table(spark, 500, with_bytes=True, num_partitions=4)
    return image_features(t).select(
        "image_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("brightness", 4).alias("brightness"),
        F.round("contrast", 4).alias("contrast"),
        F.round("edge_density", 4).alias("edge_density"),
    ).orderBy("image_id")


def _q_audio_features(spark, sf_dir):
    """Multimodal: decode + feature-extract REAL WAV payloads (stdlib
    RIFF codec).  Fully oracle-checked: the DuckDB side regenerates every
    clip's samples analytically from the persisted ground-truth generation
    parameters (_audio_features_sql) and re-derives rms/peak/zcr through
    the identical quantization — so the codec roundtrip itself is what's
    being verified."""
    from driftspark.multimodal import audio_features
    from driftspark.synth import synth_audio_table

    t = synth_audio_table(spark, 400, num_partitions=4)
    return audio_features(t).select(
        "audio_id",
        "sample_rate",
        "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
        "decode_error",
    ).orderBy("audio_id")


VIDEO_N = 150
VIDEO_FRAME_IDX = [0, 2, 9]  # first / mid / past-end (clamps to last frame)
_VIDEO_FEATS = ("mean_r", "mean_g", "mean_b", "brightness", "contrast", "edge_density")


def _q_video_frames(spark, sf_dir):
    """Multimodal video end to end: REAL uncompressed-AVI demux
    (sample_frames) -> PNG re-encode -> image feature extraction, over a
    deterministic synthetic video table with odd-width frames (AVI row
    padding), past-end frame indices (clamping), and controlled
    fake-codec/corrupt payloads (decode_error rows).  Oracle-checked
    against codec-free truth (synth._video_truth_rows): the AVI->PNG
    roundtrip must reproduce the analytically-known pixels exactly."""
    from driftspark.multimodal import image_features, sample_frames
    from driftspark.synth import synth_video_table

    vids = synth_video_table(spark, VIDEO_N, num_partitions=4)
    frames = sample_frames(vids, VIDEO_FRAME_IDX)
    key = F.concat_ws(":", "video_id", F.format_string("%02d", "frame_idx"))
    feats = image_features(
        frames.where(F.col("bytes").isNotNull()).select(
            key.alias("image_id"), "bytes", F.lit("png").alias("fmt")
        )
    ).select(
        "image_id",
        "width",
        "height",
        *[F.round(c, 6).alias(c) for c in _VIDEO_FEATS],
        "decode_error",
    )
    errs = frames.where(F.col("bytes").isNull()).select(
        key.alias("image_id"),
        F.lit(0).cast("int").alias("width"),
        F.lit(0).cast("int").alias("height"),
        *[F.lit(None).cast("double").alias(c) for c in _VIDEO_FEATS],
        "decode_error",
    )
    return feats.unionByName(errs).orderBy("image_id")


PAIR_PARAMS = dict(seed=42, n_pairs=800, corrupt_every=500, caption_edit_every=700)


def _q_image_payload_check(spark, sf_dir):
    """PSNR>=40dB + caption equality on synthetic payload pairs (north-rule
    per-row invariant).  800 pairs so the controlled violations actually
    appear (corrupt every 500th pair, caption-edit every 700th).  Fully
    oracle-checked against codec-free expected rows
    (synth._pair_truth_rows): the decode→PSNR→verdict pipeline must
    reproduce the analytically-known outcome per pair."""
    from driftspark.imageops import validate_image_payloads
    from driftspark.synth import synth_image_pairs

    pairs = synth_image_pairs(spark, PAIR_PARAMS["n_pairs"], num_partitions=4)
    checks = validate_image_payloads(
        pairs.where("split='ref'"), pairs.where("split='test'")
    )
    return checks.select(
        "image_id", F.round("psnr", 4).alias("psnr"), "pixels_ok", "caption_ok"
    ).orderBy("image_id")


STREAM_COLS = ["l_quantity", "l_extendedprice", "l_returnflag", "l_orderkey"]


def _stream_batch_input(spark, sf_dir):
    """(lineitem projection, reference split, micro-batch dir) shared by
    the streaming oracle queries.  Batch k = odd l_orderkey with
    l_orderkey % 6 == 2k+1, one parquet file per batch in a content-keyed
    /tmp dir; the DuckDB oracles re-derive membership from the registered
    lineitem view via the same predicate, so no path crosses over.
    Distinct increasing mtimes pin the file -> micro-batch order (the
    file stream source processes oldest-first)."""
    import glob as _glob
    import time

    li = _t(spark, sf_dir, "lineitem").select(STREAM_COLS)
    ref = li.where(F.col("l_orderkey") % 2 == 0)
    in_dir = _oracle_scratch_path(
        "streamin", [_stream_batch_input], suffix="", sf_dir=sf_dir,
        cols=tuple(STREAM_COLS),
    )
    # self-healing guard: require ALL batch files (a killed or raced run
    # that committed only b0 would otherwise poison the content-keyed dir
    # forever — the key changes only when the generator source does)
    if not all(_glob.glob(f"{in_dir}/b{k}/*.parquet") for k in range(3)):
        for k in range(3):
            li.where(F.col("l_orderkey") % 6 == 2 * k + 1).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{in_dir}/b{k}")
    t0 = time.time() - 1_000
    for k in range(3):
        for fp in sorted(_glob.glob(f"{in_dir}/b{k}/*.parquet")):
            os.utime(fp, (t0 + 10 * k, t0 + 10 * k))
    return li, ref, in_dir


_VOL_FIT_SPLIT = "2024-01-16 00:00:00"  # events span 2024-01-01..01-30 at every SF
_VOL_STREAM_DAYS = [(16, 21), (21, 26), (26, 31)]


def _stream_events_input(spark, sf_dir):
    """(fit frame, micro-batch dir) for the volume/silence streaming
    oracles: fit = events before Jan 16; stream = days 16-30 in three
    ts-ORDERED parquet files (batch k = days in _VOL_STREAM_DAYS[k]) —
    ts-ordered batches mean no row is ever late vs the watermark, so
    emission is deterministic.  DuckDB re-derives membership from the
    registered events view via the same ts predicates; mtimes pin the
    file -> micro-batch order (oldest-first source ordering)."""
    import glob as _glob
    import time

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    fit = ev.where(F.col("ts") < F.lit(_VOL_FIT_SPLIT).cast("timestamp"))
    in_dir = _oracle_scratch_path(
        "volstream", [_stream_events_input], suffix="", sf_dir=sf_dir,
        split=_VOL_FIT_SPLIT, days=tuple(_VOL_STREAM_DAYS),
    )
    if not all(
        _glob.glob(f"{in_dir}/b{k}/*.parquet")
        for k in range(len(_VOL_STREAM_DAYS))
    ):
        for k, (lo, hi) in enumerate(_VOL_STREAM_DAYS):
            ev.where(
                (F.col("ts") >= F.lit(f"2024-01-{lo:02d} 00:00:00").cast("timestamp"))
                & (F.col("ts") < F.lit(f"2024-01-{hi:02d} 00:00:00").cast("timestamp"))
            ).coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/b{k}")
    t0 = time.time() - 1_000
    for k in range(len(_VOL_STREAM_DAYS)):
        for fp in sorted(_glob.glob(f"{in_dir}/b{k}/*.parquet")):
            os.utime(fp, (t0 + 10 * k, t0 + 10 * k))
    return fit, in_dir


def _q_streaming_volume(spark, sf_dir):
    """Streaming volume oracle: volume_anomaly_stream fitted on the
    first half of events (dense-grid fit_volume_stats) and run with
    availableNow over ts-ordered micro-batch files must emit exactly the
    hourly windows whose end <= final watermark (global max ts - 2h),
    each scored against the fitted baseline — all re-derivable in SQL."""
    import uuid

    from driftspark.streaming import volume_anomaly_stream
    from driftspark.volume import fit_volume_stats

    fit, in_dir = _stream_events_input(spark, sf_dir)
    stats = fit_volume_stats(fit, "ts", "event_type", bucket="hour")
    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/b*")
    )
    out = volume_anomaly_stream(
        stream, "ts", stats, "event_type", bucket="hour",
        watermark="2 hours", z_threshold=3.0, min_history=6,
    )
    name = f"volq_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300), "streaming volume oracle timed out"
    rows = (
        spark.table(name)
        .orderBy("group", "window_start")
        .collect()
    )
    return spark.createDataFrame(
        rows,
        "group string, window_start string, window_end string, rows long, "
        "baseline_mean double, baseline_std double, z double, verdict string",
    )


def _q_streaming_silence(spark, sf_dir):
    """Silent-feed oracle: feed_silence_stream's FINAL emission per group
    over the same micro-batches equals the batch-derivable state — a
    group is 'silent' iff its last event + silence_seconds <= the final
    watermark (global max ts - delay), with its total row count and
    ms-floored last timestamp.  Locks the event-time-timeout state
    machinery (episode flag, no-data final batch) end-to-end."""
    import uuid

    from driftspark.streaming import feed_silence_stream

    _fit, in_dir = _stream_events_input(spark, sf_dir)
    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/b*")
    )
    sil = feed_silence_stream(
        stream, "ts", "event_type", silence_seconds=1200.0,
        watermark="10 minutes",
    )
    name = f"silq_{uuid.uuid4().hex[:8]}"
    q = (
        sil.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300), "silence oracle timed out"
    # final emission per group: max rows_total; at equal totals the
    # 'silent' row postdates its paired 'active' (timeout fires strictly
    # after the data batch that armed it)
    all_rows = spark.table(name)
    w = Window.partitionBy("group").orderBy(
        F.col("rows_total").desc(),
        F.when(F.col("status") == "silent", 1).otherwise(0).desc(),
    )
    rows = (
        all_rows.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "group",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "rows_total", "status",
        )
        .orderBy("group")
        .collect()
    )
    return spark.createDataFrame(
        rows, "group string, last_ts string, rows_total long, status string"
    )


def _streaming_volume_sql() -> str:
    """Mirrors _q_streaming_volume: fitted dense-grid baseline from the
    pre-split events, closed windows = hourly buckets whose end <= the
    final watermark (max stream ts - 2h), verdict ladder verbatim from
    streaming.volume_anomaly_stream."""
    return f"""
        WITH fitpts AS (
          SELECT event_type AS grp, date_trunc('hour', ts) AS b FROM events
          WHERE ts IS NOT NULL AND ts < TIMESTAMP '{_VOL_FIT_SPLIT}'
        ), counts AS (
          SELECT grp, b, count(*) AS c FROM fitpts GROUP BY 1, 2
        ), span AS (
          SELECT min(b) AS mn, max(b) AS mx FROM fitpts
        ), grid AS (
          SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
          FROM span
        ), grps AS (SELECT DISTINCT grp FROM counts),
        dense AS (
          SELECT g.grp, gr.b, coalesce(c.c, 0) AS c
          FROM grps g CROSS JOIN grid gr
          LEFT JOIN counts c ON c.grp = g.grp AND c.b = gr.b
        ), fit AS (
          SELECT grp, avg(c) AS mean, stddev(c) AS std, count(*) AS nb
          FROM dense GROUP BY 1
        ), spts AS (
          SELECT event_type AS grp, ts FROM events
          WHERE ts IS NOT NULL AND ts >= TIMESTAMP '{_VOL_FIT_SPLIT}'
        ), wm AS (
          SELECT max(ts) - INTERVAL 2 HOUR AS w FROM spts
        ), wcnt AS (
          SELECT grp, date_trunc('hour', ts) AS ws, count(*) AS c
          FROM spts GROUP BY 1, 2
        ), emit AS (
          SELECT * FROM wcnt
          WHERE ws + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        )
        SELECT e.grp AS "group",
               strftime(e.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(e.ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
                 AS window_end,
               CAST(e.c AS BIGINT) AS "rows",
               round(f.mean, 6) AS baseline_mean,
               round(f.std, 6) AS baseline_std,
               round(CASE WHEN f.std > 0 THEN (e.c - f.mean) / f.std END, 6)
                 AS z,
               CASE WHEN f.mean IS NULL THEN 'unknown_group'
                    WHEN f.nb < 6 THEN 'insufficient_history'
                    WHEN f.std > 0 AND abs((e.c - f.mean) / f.std) >= 3.0
                      THEN 'anomalous'
                    WHEN f.std = 0 AND e.c <> f.mean THEN 'anomalous'
                    ELSE 'ok' END AS verdict
        FROM emit e LEFT JOIN fit f ON e.grp = f.grp
        ORDER BY "group", window_start
    """


def _streaming_silence_sql() -> str:
    """Mirrors _q_streaming_silence's final emissions: a group is silent
    iff its last event + 1200 s <= final watermark (max stream ts -
    10 min); last_ts is the ms-floored group max (second-level format
    makes ms- and us-floors identical)."""
    return f"""
        WITH s AS (
          SELECT event_type AS grp, ts FROM events
          WHERE ts IS NOT NULL AND ts >= TIMESTAMP '{_VOL_FIT_SPLIT}'
        ), per AS (
          SELECT grp, max(ts) AS last, count(*) AS c FROM s GROUP BY 1
        ), wm AS (
          SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM s
        )
        SELECT grp AS "group",
               strftime(last, '%Y-%m-%d %H:%M:%S') AS last_ts,
               CAST(c AS BIGINT) AS rows_total,
               CASE WHEN last + INTERVAL 1200 SECOND <= (SELECT w FROM wm)
                    THEN 'silent' ELSE 'active' END AS status
        FROM per ORDER BY "group"
    """


def _q_streaming_verdicts(spark, sf_dir):
    """Streaming glue oracle: the foreachBatch drift monitor
    (driftspark.streaming.StreamingDriftMonitor) run with
    availableNow + maxFilesPerTrigger=1 over a parquet directory must
    append per-batch PSI/KS/chi2 verdict rows identical to re-deriving
    each micro-batch's statistics from the same deterministic row
    partition of lineitem (batch k = odd l_orderkey with
    l_orderkey % 6 == 2k+1; reference = even keys).  The per-batch
    formulas are oracle-proven elsewhere (psi_price, ks_d,
    chi2_returnflag, image_partition_verdicts); what this locks is the
    streaming machinery itself: file->micro-batch assignment (distinct
    mtimes), the once-fitted broadcast reference state, and the
    exactly-once checkpointed sink."""
    import shutil
    import tempfile

    from driftspark.streaming import StreamingDriftMonitor

    li, ref, in_dir = _stream_batch_input(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="driftspark_streamq_")
    try:
        monitor = StreamingDriftMonitor(
            ref,
            numeric_cols=["l_quantity", "l_extendedprice"],
            cat_cols=["l_returnflag"],
        )
        stream = (
            spark.readStream.schema(li.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{in_dir}/b*")
        )
        q = monitor.start(stream, f"{work}/sink", f"{work}/ckpt")
        assert q.awaitTermination(300), "streaming oracle query timed out"
        rows = (
            spark.read.parquet(f"{work}/sink")
            .select(
                "batch_id", "feature", "check",
                F.round("statistic", 6).alias("statistic"), "n_test",
            )
            .orderBy("batch_id", "feature", "check")
            .collect()
        )
        # materialize before the sink dir is removed
        return spark.createDataFrame(
            rows,
            "batch_id long, feature string, check string, "
            "statistic double, n_test long",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_streaming_cumulative(spark, sf_dir):
    """Stateful-streaming oracle: the cumulative applyInPandasWithState
    trio (cumulative_psi_stream / cumulative_ks_stream /
    cumulative_chi2_stream) run over the same micro-batch files must,
    after the last trigger, report statistics over EVERYTHING seen — so
    the final emission per feature equals a plain batch computation over
    ALL odd-l_orderkey rows, which DuckDB re-derives directly.  This
    locks the state machinery (per-partition partial counts, state
    merge across triggers) without depending on batch boundaries at all:
    the final cumulative value is batch-order-invariant.

    KS runs on l_quantity only: its ~50 distinct values stay under the
    512-point grid (no thinning) and every test value appears in the
    reference, so the grid-evaluated D is the exact two-sample D the SQL
    union formula computes."""
    import shutil
    import tempfile
    import uuid

    from driftspark.stats import histogram_proportions, quantile_edges
    from driftspark.streaming import (
        cumulative_chi2_stream,
        cumulative_ks_stream,
        cumulative_psi_stream,
        fit_ks_grid,
    )
    from driftspark.verdicts import fit_ref_category_counts

    li, ref, in_dir = _stream_batch_input(spark, sf_dir)
    edges = quantile_edges(ref, ["l_quantity", "l_extendedprice"], 10)
    ref_props = {
        c: p[0] for c, p in histogram_proportions(ref, ref, edges).items()
    }
    grid = fit_ks_grid(ref, ["l_quantity"])
    ref_counts, _ = fit_ref_category_counts(ref, ["l_returnflag"])

    def make_stream():
        return (
            spark.readStream.schema(li.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{in_dir}/b*")
        )

    ops = {
        "psi": (lambda: cumulative_psi_stream(make_stream(), edges, ref_props), "psi"),
        "ks": (lambda: cumulative_ks_stream(make_stream(), grid), "ks_d"),
        "chi2": (lambda: cumulative_chi2_stream(make_stream(), ref_counts), "chi2_stat"),
    }
    work = tempfile.mkdtemp(prefix="driftspark_streamcum_")
    rows = []
    try:
        # the three stateful queries are independent (own checkpoint,
        # own memory sink) — start all, then await: concurrent triggers
        # cut the oracle's wall time by ~2x
        started = []
        for check, (make_out, stat_col) in ops.items():
            qn = f"cum_{check}_{uuid.uuid4().hex[:8]}"
            q = (
                make_out()
                .writeStream.format("memory")
                .queryName(qn)
                .outputMode("update")
                .option("checkpointLocation", f"{work}/ckpt_{check}")
                .trigger(availableNow=True)
                .start()
            )
            started.append((check, stat_col, qn, q))
        for check, stat_col, qn, q in started:
            assert q.awaitTermination(300), "streaming oracle query timed out"
            pdf = spark.sql(f"SELECT * FROM {qn}").toPandas()
            # final cumulative emission per feature = max n_seen
            final = pdf.sort_values("n_seen").groupby("feature", as_index=False).last()
            for _, r in final.iterrows():
                rows.append(
                    (
                        str(r["feature"]), check, int(r["n_seen"]),
                        _roundhu(r[stat_col], 6),
                    )
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "feature string, check string, n_seen long, statistic double"
    )



# ---------------------------------------------------------------------------
# results-timeline analytics (driftspark.timeline vs data_loader.py:33-351)
# ---------------------------------------------------------------------------


def _synth_results_payload() -> dict:
    """Deterministic multi-year results JSON in the exact shape
    sinks.write_results_json emits (and the reference dashboard loader
    consumes): 4 pipelines/year for 2015-2018, a detectors-dict year 2019
    (the loader's other accepted format), localization on the first
    pipeline, RCA on odd years, metadata-vs-year-level accuracy fallbacks,
    and a non-year key the year filter must skip.  Pure literal arithmetic
    — both engines parse the identical serialized decimals."""
    detectors = ["ks_test", "psi", "mmd", "cbpe"]
    pnames = {"ks_test": "KS Test", "psi": "PSI", "mmd": "MMD", "cbpe": "CBPE"}
    sev = ["none", "low", "medium", "high", "critical"]
    feats = ["age", "income", "hours", "edu"]
    payload: dict = {"run_config": {"note": "synthetic timeline-oracle results"}}
    for yi, year in enumerate(range(2015, 2019)):
        pipelines = {}
        for di, d in enumerate(detectors):
            score = round(0.02 * (yi + 1) * (di + 1), 6)
            det = {
                "detector_name": d,
                "drift_detected": score > 0.05,
                "severity": sev[(yi + di) % 5],
                "score": score,
                "threshold": 0.05,
            }
            if di % 2 == 0:
                det["p_value"] = round(0.5 / (yi + di + 1), 6)
            entry = {"detection": det, "localization": None, "rca": None}
            if di == 0:
                entry["localization"] = {
                    "method_name": "univariate",
                    "feature_drifts": [
                        {
                            "feature_name": f,
                            "drift_detected": (yi + fi) % 2 == 0,
                            "score": round(0.01 * (fi + 1) * (yi + 1), 6),
                            "p_value": round(0.8 / (fi + 1), 6),
                            "severity": sev[(yi + fi) % 5],
                        }
                        for fi, f in enumerate(feats)
                    ],
                }
                if yi % 2 == 1:
                    entry["rca"] = {
                        "analyzer_name": "distribution_change",
                        "feature_importances": {
                            f: round(0.1 * (fi + 1), 6)
                            for fi, f in enumerate(feats)
                        },
                        "recommendations": [f"inspect {f}" for f in feats[: yi + 1]],
                        "distribution_changes": {
                            f: {
                                "ref_mean": fi + 0.5,
                                "test_mean": fi + 0.75,
                                "mean_shift": 0.25,
                                "std_shift": round(0.1 * fi, 6),
                                "separability_importance": round(0.2 * (fi + 1), 6),
                            }
                            for fi, f in enumerate(feats)
                        },
                    }
            pipelines[pnames[d]] = entry
        ydata: dict = {"pipelines": pipelines}
        if yi % 2 == 0:
            ydata["actual_accuracy"] = round(0.9 - 0.01 * (yi + 1), 6)
            ydata["accuracy_drop"] = round(-0.01 * (yi + 1), 6)
        else:
            ydata["metadata"] = {
                "test_accuracy": round(0.9 - 0.01 * (yi + 1), 6),
                "accuracy_delta": round(-0.01 * (yi + 1), 6),
            }
        payload[str(year)] = ydata
    payload["2019"] = {
        "detectors": {
            "ks_test": {
                "drift_detected": True, "severity": "high",
                "score": 0.4, "threshold": 0.05, "p_value": 0.001,
            },
            "psi": {"drift_detected": False, "severity": "none", "score": 0.03},
        },
        "actual_accuracy": 0.85,
    }
    # an EMPTY detectors dict must fall through to the pipelines format
    # on both engines (the loader's `if not detector_results:` routing)
    payload["2020"] = {
        "detectors": {},
        "pipelines": {
            "MMD": {
                "detection": {
                    "detector_name": "mmd", "drift_detected": True,
                    "severity": "medium", "score": 0.21, "threshold": 0.05,
                }
            }
        },
        "actual_accuracy": 0.84,
    }
    return payload


def _oracle_results_path() -> str:
    return _oracle_scratch_path("results", [_synth_results_payload], suffix=".json")


def _ensure_oracle_results_json(path: str) -> None:
    if os.path.exists(path):
        return
    import json as _json

    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        _json.dump(_synth_results_payload(), f, indent=2)
    os.replace(tmp, path)  # atomic under concurrent harness runs


def _q_timeline(spark, sf_dir):
    """All-detectors results timeline (data_loader.get_all_detectors_timeline
    parity): distributed JSON parse over the results file, both the
    detectors-dict and pipelines formats."""
    from driftspark.timeline import DriftResultsTimeline

    path = _oracle_results_path()
    _ensure_oracle_results_json(path)
    return DriftResultsTimeline(spark, path).all_detectors_timeline()


def _q_timeline_features(spark, sf_dir):
    """Per-feature drift timeline (data_loader.get_feature_drift_timeline
    parity)."""
    from driftspark.timeline import DriftResultsTimeline

    path = _oracle_results_path()
    _ensure_oracle_results_json(path)
    return (
        DriftResultsTimeline(spark, path)
        .feature_drift_timeline()
        .orderBy("year", "feature")
    )


def _q_timeline_summary(spark, sf_dir):
    """Cross-year summary stats (data_loader.get_summary_stats parity) as
    one row."""
    from driftspark.timeline import DriftResultsTimeline

    path = _oracle_results_path()
    _ensure_oracle_results_json(path)
    s = DriftResultsTimeline(spark, path).summary_stats()
    return spark.createDataFrame(
        [(
            s["total_years"], s["detectors_count"], s["total_drift_events"],
            _roundhu(s["avg_accuracy"], 9), s["accuracy_range"][0],
            s["accuracy_range"][1], s["unique_drifted_features"],
        )],
        "total_years long, detectors_count long, total_drift_events long, "
        "avg_accuracy double, acc_min double, acc_max double, "
        "unique_drifted_features long",
    )


def _q_timeline_charts(spark, sf_dir):
    """Chart-data frames (the dashboard visualizations.py transforms —
    severity value_counts, top-drifted-feature means, per-run top-3 rca
    recommendation expansion) as one tagged union the DuckDB oracle
    re-derives from the same results JSON.  The pivot frames are covered
    by pytest mirrors (dynamic year columns don't suit a fixed-schema
    oracle row set)."""
    from driftspark.timeline import DriftResultsTimeline

    path = _oracle_results_path()
    _ensure_oracle_results_json(path)
    tl = DriftResultsTimeline(spark, path)
    sev = tl.severity_distribution().select(
        F.lit("severity").alias("chart"),
        F.col("severity").alias("k"),
        F.lit("").alias("k2"),
        F.col("count").cast("double").alias("v"),
    )
    top = tl.top_drifted_features(3).select(
        F.lit("top_features").alias("chart"),
        F.col("feature").alias("k"),
        F.lit("").alias("k2"),
        F.round("drift_score", 9).alias("v"),
    )
    recs = tl.rca_recommendations_table().select(
        F.lit("rca_recs").alias("chart"),
        F.concat_ws("|", F.col("year").cast("string"), "detector").alias("k"),
        F.col("recommendation").alias("k2"),
        F.lit(None).cast("double").alias("v"),
    )
    return sev.unionByName(top).unionByName(recs).orderBy("chart", "k", "k2")


def _timeline_charts_sql(path: str) -> str:
    return f"""
        WITH {_timeline_cte(path)},
        {_timeline_loc_cte()},
        sevd AS (
          SELECT 'severity' AS chart,
                 COALESCE(det ->> '$.severity', 'none') AS k,
                 '' AS k2, CAST(count(*) AS DOUBLE) AS v
          FROM detections GROUP BY 2
        ),
        topf AS (
          SELECT 'top_features' AS chart, feature AS k, '' AS k2,
                 round(avg(drift_score), 9) AS v
          FROM feature_rows WHERE drift_detected
          GROUP BY feature ORDER BY avg(drift_score) DESC, feature LIMIT 3
        ),
        rca_rows AS (
          SELECT CAST(ys AS INTEGER) AS year,
                 COALESCE((yd -> '$.pipelines' -> pk)
                   ->> '$.detection.detector_name', 'unknown')
                   AS detector_name,
                 (yd -> '$.pipelines' -> pk) -> '$.rca' AS rca
          FROM yr, unnest(json_keys(yd, '$.pipelines')) AS t(pk)
          -- Python truthiness: rca must be a non-empty object
          WHERE len(json_keys((yd -> '$.pipelines' -> pk) -> '$.rca')) > 0
        ),
        recs AS (
          SELECT 'rca_recs' AS chart,
                 CAST(year AS VARCHAR) || '|' || {_TITLE_SQL} AS k,
                 unnest((CAST(rca -> '$.recommendations' AS VARCHAR[]))[1:3])
                   AS k2,
                 CAST(NULL AS DOUBLE) AS v
          FROM rca_rows
        )
        SELECT * FROM (
          SELECT * FROM sevd
          UNION ALL SELECT * FROM topf
          UNION ALL SELECT * FROM recs
        ) ORDER BY chart, k, k2
    """


def _timeline_cte(path: str) -> str:
    """Shared DuckDB CTE prefix: years + detections from either format."""
    return f"""
        raw AS (
          SELECT json AS j FROM read_json('{path}',
            format='unstructured', records=false, columns={{'json': 'JSON'}})
        ),
        yr AS (
          SELECT k AS ys, raw.j -> k AS yd
          FROM raw, unnest(json_keys(raw.j)) AS t(k)
          WHERE regexp_full_match(k, '[0-9]+')
        ),
        det_direct AS (
          SELECT CAST(ys AS INTEGER) AS year, dk AS detector_name,
                 yd -> '$.detectors' -> dk AS det
          FROM yr, unnest(json_keys(yd, '$.detectors')) AS t(dk)
        ),
        det_pl AS (
          SELECT CAST(ys AS INTEGER) AS year,
                 (yd -> '$.pipelines' -> pk) ->> '$.detection.detector_name'
                   AS detector_name,
                 (yd -> '$.pipelines' -> pk) -> '$.detection' AS det
          FROM yr, unnest(json_keys(yd, '$.pipelines')) AS t(pk)
          -- empty-detectors routing must match Spark/reference: an empty
          -- detectors dict ALSO falls through to pipelines
          -- (json_keys of an empty object is [] which IS NOT NULL,
          --  so a bare IS NULL test would wrongly keep the year out)
          WHERE COALESCE(len(json_keys(yd, '$.detectors')), 0) = 0
            -- full parens: ->> binds LOOSER than IS NOT NULL in duckdb
            AND ((yd -> '$.pipelines' -> pk) ->> '$.detection.detector_name')
                IS NOT NULL
        ),
        detections AS (
          SELECT * FROM det_direct UNION ALL SELECT * FROM det_pl
        )
    """


_TITLE_SQL = (
    "array_to_string(list_transform("
    "string_split(replace(detector_name, '_', ' '), ' '), "
    "x -> upper(x[1]) || lower(x[2:])), ' ')"
)


def _timeline_sql(path: str) -> str:
    return f"""
        WITH {_timeline_cte(path)}
        SELECT year,
               {_TITLE_SQL} AS detector,
               COALESCE(CAST(det -> '$.drift_detected' AS BOOLEAN), false)
                 AS drift_detected,
               COALESCE(det ->> '$.severity', 'none') AS severity,
               COALESCE(CAST(det -> '$.score' AS DOUBLE), 0.0) AS score
        FROM detections
        ORDER BY year, detector
    """


def _timeline_loc_cte() -> str:
    return """
        loc AS (
          SELECT CAST(ys AS INTEGER) AS year,
                 COALESCE(yd -> '$.localization',
                          (yd -> '$.pipelines' -> pk) -> '$.localization')
                   AS lj
          FROM yr, unnest(json_keys(yd, '$.pipelines')) AS t(pk)
          WHERE ((yd -> '$.pipelines' -> pk) -> '$.localization') IS NOT NULL
        ),
        fd AS (
          SELECT year,
                 unnest(CAST(lj -> '$.feature_drifts' AS JSON[])) AS f
          FROM loc
        ),
        feature_rows AS (
          SELECT year,
                 f ->> '$.feature_name' AS feature,
                 CAST(f -> '$.score' AS DOUBLE) AS drift_score,
                 CAST(f -> '$.drift_detected' AS BOOLEAN) AS drift_detected,
                 COALESCE(f ->> '$.severity', 'none') AS severity
          FROM fd
        )
    """


def _timeline_features_sql(path: str) -> str:
    return f"""
        WITH {_timeline_cte(path)},
        {_timeline_loc_cte()}
        SELECT * FROM feature_rows ORDER BY year, feature
    """


def _timeline_summary_sql(path: str) -> str:
    return f"""
        WITH {_timeline_cte(path)},
        {_timeline_loc_cte()},
        perf AS (
          SELECT CAST(ys AS INTEGER) AS year,
                 COALESCE(
                   NULLIF(CAST(yd -> '$.metadata.test_accuracy' AS DOUBLE), 0.0),
                   CAST(yd -> '$.actual_accuracy' AS DOUBLE), 0.0) AS accuracy
          FROM yr
        )
        SELECT
          (SELECT count(DISTINCT year)
             FROM (SELECT CAST(ys AS INTEGER) AS year FROM yr)) AS total_years,
          (SELECT count(DISTINCT {_TITLE_SQL}) FROM detections)
            AS detectors_count,
          (SELECT count(*) FROM detections
             WHERE COALESCE(CAST(det -> '$.drift_detected' AS BOOLEAN), false))
            AS total_drift_events,
          (SELECT round(avg(accuracy), 9) FROM perf) AS avg_accuracy,
          (SELECT min(accuracy) FROM perf) AS acc_min,
          (SELECT max(accuracy) FROM perf) AS acc_max,
          (SELECT count(DISTINCT feature) FROM feature_rows
             WHERE drift_detected) AS unique_drifted_features
    """



MMD_SAMPLES = 300  # small enough that the DuckDB oracle's O(n^2) kernel
                   # joins stay ~90k rows at ANY sf (the cap binds at all)


def _q_mmd_stat(spark, sf_dir):
    """A13-A15: full MMD detect on the engine-portable md5 sample path —
    RBF kernel, median-heuristic gamma over the first 100 sample rows per
    side, unbiased MMD^2, threshold-multiple severity (mmd.py:45-72 of the
    reference).  The md5(concat_ws(keys)) sample ordering is reproducible
    in any SQL engine, so the DuckDB oracle re-derives the SAME 300-row
    sample, the same gamma, and the same kernel sums; permutations stay
    off (seeded-RNG p-values are pytest-locked, not SQL-expressible)."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors.mmd import MMD

    keys = ["l_orderkey", "l_linenumber"]
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    li = _t(spark, sf_dir, "lineitem").select(*keys, *cols)
    ref, test = _split(li, "l_orderkey")
    test = test.withColumn("l_extendedprice", F.col("l_extendedprice") * 1.2)
    det = MMD(
        threshold=0.05, kernel="rbf", n_permutations=0,
        max_samples=MMD_SAMPLES, sample_hash="md5", sample_key_cols=keys,
    )
    det.fit(SparkDataset(ref, feature_cols=cols, metadata_cols=keys))
    res = det.detect(SparkDataset(test, feature_cols=cols, metadata_cols=keys))
    return spark.createDataFrame(
        [(
            "mmd", _roundhu(res.score, 6), res.severity.value,
            bool(res.drift_detected), res.metadata["actual_ref_samples"],
            res.metadata["actual_test_samples"],
        )],
        "detector string, mmd double, severity string, drift boolean, "
        "n_ref long, n_test long",
    )


def _mmd_stat_sql(n: int = MMD_SAMPLES, threshold: float = 0.05) -> str:
    """Full MMD re-derivation: identical md5-ordered samples, identical
    median-heuristic gamma (numpy median == quantile_cont(0.5)), identical
    kernel sums (i != j for the diagonal-less XX/YY blocks)."""
    key_hash = (
        "md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR)))"
    )

    def side(pred: str, price: str) -> str:
        return f"""
          SELECT COALESCE(l_quantity, 0) AS q,
                 COALESCE({price}, 0) AS p,
                 COALESCE(l_discount, 0) AS d,
                 row_number() OVER (
                   ORDER BY {key_hash}, l_orderkey, l_linenumber) AS rn
          FROM lineitem WHERE {pred}
          QUALIFY rn <= {n}
        """

    d2 = "((a.q-b.q)*(a.q-b.q) + (a.p-b.p)*(a.p-b.p) + (a.d-b.d)*(a.d-b.d))"
    sev = (
        f"CASE WHEN mmd < {threshold} THEN 'none' "
        f"WHEN mmd < {threshold} * 1.5 THEN 'low' "
        f"WHEN mmd < {threshold} * 2.5 THEN 'medium' "
        f"WHEN mmd < {threshold} * 5 THEN 'high' "
        f"ELSE 'critical' END"
    )
    return f"""
        WITH ref AS ({side('l_orderkey % 2 = 0', 'l_extendedprice')}),
        test AS ({side('l_orderkey % 2 = 1', 'l_extendedprice * 1.2')}),
        head AS (
          SELECT q, p, d FROM ref WHERE rn <= 100
          UNION ALL
          SELECT q, p, d FROM test WHERE rn <= 100
        ),
        sq AS (SELECT {d2} AS s FROM head a CROSS JOIN head b),
        g AS (
          SELECT CASE WHEN m > 0 THEN 1.0 / (2 * m) ELSE 1.0 END AS gv
          FROM (SELECT median(s) AS m FROM sq WHERE s > 0)
        ),
        sums AS (
          SELECT
            (SELECT sum(exp(-g.gv * {d2})) FROM ref a, ref b, g
              WHERE a.rn != b.rn) AS sxx,
            (SELECT sum(exp(-g.gv * {d2})) FROM test a, test b, g
              WHERE a.rn != b.rn) AS syy,
            (SELECT sum(exp(-g.gv * {d2})) FROM ref a, test b, g) AS sxy
        ),
        stat AS (
          SELECT sqrt(greatest(
            sxx / ({n} * ({n} - 1)) + syy / ({n} * ({n} - 1))
            - 2 * sxy / (CAST({n} AS DOUBLE) * {n}), 0)) AS mmd
          FROM sums
        )
        SELECT 'mmd' AS detector, round(mmd, 6) AS mmd, {sev} AS severity,
               mmd >= {threshold} AS drift,
               CAST({n} AS BIGINT) AS n_ref, CAST({n} AS BIGINT) AS n_test
        FROM stat
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "profile_stats": _q_profile_stats,
        "quantile_edges": _q_quantile_edges,
        "histogram_price": _q_histogram_price,
        "psi_price": _q_psi_price,
        "ks_d": _q_ks_d,
        "wasserstein_w1": _q_wasserstein,
        "divergence_price": _q_divergence_price,
        "cvm_ad": _q_cvm_ad,
        "quantile_shift": _q_quantile_shift,
        "w1_partition_verdicts": _q_w1_partition,
        "contamination": _q_contamination,
        "pii_scan": _q_pii_scan,
        "outlier_rates": _q_outliers,
        "correlation_drift": _q_correlation_drift,
        "category_shift": _q_category_shift,
        "chi2_returnflag": _q_chi2_returnflag,
        "uniqueness_violations": _q_uniqueness,
        "referential_violations": _q_referential,
        "supplier_rollup": _q_supplier_rollup,
        "topk_parts": _q_topk,
        "cbpe_confidence_hist": _q_cbpe_hist,
        "cbpe_shift": _q_cbpe_shift,
        "hallucination_mahalanobis": _q_hallucination,
        "hallucination_knn": _q_hallucination_knn,
        "hallucination_kde": _q_hallucination_kde,
        "dedup_exact": _q_dedup_exact,
        "minhash_signatures": _q_minhash,
        "jaccard_pairs": _q_jaccard,
        "dedup_neardup_drop": _q_dedup_neardup_drop,
        "text_quality": _q_text_quality,
        "langid": _q_langid,
        "fingerprint": _q_fingerprint,
        "ann_cosine_topk": _q_ann_topk,
        "embedding_neardups_exact": _q_embedding_neardups,
        "embedding_drift": _q_embedding_drift,
        "events_hourly": _q_events_hourly,
        "volume_anomalies": _q_volume_anomalies,
        "rolling_psi": _q_rolling_psi,
        "freshness": _q_freshness,
        "expectation_counts": _q_expectations,
        "null_counts": _q_null_counts,
        # rows-only (non-SQL-expressible / synthetic-input)
        "domain_classifier": _q_domain_classifier,
        "domain_classifier_sample": _q_domain_classifier_sample,
        "stratified_sample": _q_stratified_sample,
        "simhash": _q_simhash,
        "minhash_lsh_neardups": _q_lsh_candidates,
        "ann_cosine_topk_lsh": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivf_topk_many": _q_ann_ivf_many,
        "embedding_neardups_lsh": _q_embedding_neardups_lsh,
        "image_features": _q_image_features,
        "image_partition_verdicts": _q_image_verdicts,
        "phash_histogram": _q_phash_histogram,
        "phash_neardups": _q_phash_neardups,
        "phash_contamination": _q_phash_contamination,
        "image_payload_check": _q_image_payload_check,
        "audio_features": _q_audio_features,
        "video_frames": _q_video_frames,
        "streaming_volume": _q_streaming_volume,
        "streaming_silence": _q_streaming_silence,
        "streaming_verdicts": _q_streaming_verdicts,
        "streaming_cumulative": _q_streaming_cumulative,
        "streaming_embedding": _q_streaming_embedding,
        "mmd_stat": _q_mmd_stat,
        "timeline": _q_timeline,
        "timeline_features": _q_timeline_features,
        "timeline_summary": _q_timeline_summary,
        "timeline_charts": _q_timeline_charts,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def _bucket_sql(col: str, edges) -> str:
    """pd.cut-parity bucket: count of interior edges strictly below value;
    NULL outside [first, last]."""
    interior = " + ".join(
        f"(CASE WHEN {col} > {e!r} THEN 1 ELSE 0 END)" for e in edges[1:-1]
    )
    return (
        f"CASE WHEN {col} >= {edges[0]!r} AND {col} <= {edges[-1]!r} "
        f"THEN ({interior}) ELSE NULL END"
    )


def _plane_sig_sql(vec_expr: str, planes) -> str:
    """Random-hyperplane sign-signature as a DuckDB expression: the plane
    constants are driver-side literals (driftspark.ann._hyperplanes is
    deterministic), so the oracle reproduces the Spark signature exactly."""
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ",".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) > 0 "
            f"THEN (1::BIGINT << {p}) ELSE 0::BIGINT END)"
        )
    return " | ".join(terms)


def _simhash_md5_sql() -> str:
    """60-bit md5 SimHash (matches dedup.simhash64 hash_fn='md5')."""
    sums = ", ".join(
        f"sum(((hv >> {k}) & 1) * 2 - 1) AS s{k}" for k in range(60)
    )
    fp = " | ".join(
        f"(CASE WHEN s{k} > 0 THEN (1::BIGINT << {k}) ELSE 0::BIGINT END)"
        for k in range(60)
    )
    return rf"""
        WITH tok AS (
          SELECT DISTINCT doc_id AS id, t.token
          FROM documents,
               unnest(string_split_regex(lower(text), '\s+')) AS t(token)
          WHERE t.token <> ''
        ), h AS (
          SELECT id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv FROM tok
        ), s AS (SELECT id, {sums} FROM h GROUP BY id)
        SELECT id, {fp} AS simhash FROM s ORDER BY id
    """


def _star_cte_sql(n_hashes: int, max_bucket: int) -> str:
    """Mega-cluster star-pass CTEs (dedup.lsh_candidate_pairs /
    _star_pairs): a group of > max_bucket docs sharing the IDENTICAL full
    signature saturates every one of its band buckets, so the cap drops
    ALL its banded pairs; the engine emits min-id star pairs for such
    groups instead.  Disjoint from the banded pairs by construction (every
    band bucket of a star member is over the cap), so the union is
    UNION ALL."""
    fs_concat = " || '|' || ".join(f"mh{k}" for k in range(n_hashes))
    return f"""fsig AS (
          SELECT id, md5({fs_concat}) AS fs FROM sigs
        ),
        hot_fs AS (
          SELECT fs, min(id) AS root
          FROM fsig GROUP BY fs HAVING count(*) > {max_bucket}
        ),
        star AS (
          SELECT h.root AS id_a, f.id AS id_b
          FROM fsig f JOIN hot_fs h ON f.fs = h.fs
          WHERE f.id <> h.root
        )"""


def _minhash_lsh_sql(n_hashes: int = 16, bands: int = 4,
                     max_bucket: int = 200, min_jaccard: float = 0.5) -> str:
    """Full MinHash-LSH near-dup pipeline (dedup.minhash_near_duplicates):
    md5 signatures -> banded md5 buckets (hot-bucket cap) -> candidate
    equi-join -> exact token-Jaccard verification."""
    rpb = n_hashes // bands
    mh_cols = ", ".join(
        f"min(md5(token || ':{k}')) AS mh{k}" for k in range(n_hashes)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN " + " || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb))
        for b in range(bands)
    )
    band_vals = ",".join(f"({b})" for b in range(bands))
    return rf"""
        WITH tok AS (
          SELECT DISTINCT doc_id AS id, t.token
          FROM documents,
               unnest(string_split_regex(lower(text), '\s+')) AS t(token)
          WHERE t.token <> ''
        ), sigs AS (SELECT id, {mh_cols} FROM tok GROUP BY id),
        bnd AS (
          SELECT id, b.band, md5(CASE b.band {band_cases} END) AS bucket
          FROM sigs, (VALUES {band_vals}) AS b(band)
        ),
        sized AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS sz FROM bnd),
        keep AS (SELECT * FROM sized WHERE sz <= {max_bucket}),
        banded AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM keep a JOIN keep b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ),
        {_star_cte_sql(n_hashes, max_bucket)},
        cand AS (SELECT * FROM banded UNION ALL SELECT * FROM star),
        sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
        shared AS (
          SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c
          JOIN tok ta ON ta.id = c.id_a
          JOIN tok tb ON tb.id = c.id_b AND tb.token = ta.token
          GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b,
               round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {min_jaccard}
        ORDER BY id_a, id_b
    """


def _neardup_drop_sql(n_hashes: int = 16, max_bucket: int = 200,
                      min_jaccard: float = 0.8) -> str:
    """dedup.drop_near_duplicates with bands == n_hashes: the md5 LSH is
    fully deterministic, so candidates/edges match the Spark side exactly;
    min-id connected components run as a recursive CTE (the Spark side
    iterates label propagation + pointer jumping to fixpoint)."""
    mh_cols = ", ".join(
        f"min(md5(token || ':{k}')) AS mh{k}" for k in range(n_hashes)
    )
    band_cases = " ".join(f"WHEN {b} THEN mh{b}" for b in range(n_hashes))
    band_vals = ",".join(f"({b})" for b in range(n_hashes))
    return rf"""
        WITH RECURSIVE tok AS (
          SELECT DISTINCT doc_id AS id, t.token
          FROM documents,
               unnest(string_split_regex(lower(text), '\s+')) AS t(token)
          WHERE t.token <> ''
        ),
        sigs AS (SELECT id, {mh_cols} FROM tok GROUP BY id),
        bnd AS (
          SELECT id, b.band, md5(CASE b.band {band_cases} END) AS bucket
          FROM sigs, (VALUES {band_vals}) AS b(band)
        ),
        sized AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS sz FROM bnd),
        keep AS (SELECT * FROM sized WHERE sz <= {max_bucket}),
        banded AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM keep a JOIN keep b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ),
        {_star_cte_sql(n_hashes, max_bucket)},
        cand AS (SELECT * FROM banded UNION ALL SELECT * FROM star),
        sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
        shared AS (
          SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c
          JOIN tok ta ON ta.id = c.id_a
          JOIN tok tb ON tb.id = c.id_b AND tb.token = ta.token
          GROUP BY c.id_a, c.id_b
        ),
        edges AS (
          SELECT id_a, id_b FROM shared
          JOIN sizes sa ON sa.id = id_a
          JOIN sizes sb ON sb.id = id_b
          WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {min_jaccard}
        ),
        sym AS (
          SELECT id_a, id_b FROM edges
          UNION ALL SELECT id_b, id_a FROM edges
        ),
        cc AS (
          SELECT id_a AS id, id_a AS label FROM sym
          UNION
          SELECT e.id_a, c.label FROM sym e JOIN cc c ON c.id = e.id_b
        ),
        final AS (SELECT id, min(label) AS label FROM cc GROUP BY id),
        losers AS (SELECT id FROM final WHERE label <> id)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM losers)
        ORDER BY doc_id
    """


def _ann_lsh_sql(planes, bands: int = 4) -> str:
    """LSH-pruned cosine top-10 (ann.cosine_topk_lsh against vec_id 0)."""
    bits_per_band = len(planes) // bands
    mask = (1 << bits_per_band) - 1
    sig = _plane_sig_sql("e", planes)
    band_match = " OR ".join(
        f"((s.sig >> {b * bits_per_band}) & {mask}) = "
        f"((q.qsig >> {b * bits_per_band}) & {mask})"
        for b in range(bands)
    )
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        s AS (SELECT vec_id, e, ({sig}) AS sig FROM v),
        q AS (SELECT sig AS qsig, e AS qe FROM s WHERE vec_id = 0),
        cand AS (
          SELECT s.vec_id, s.e, q.qe FROM s, q
          WHERE s.vec_id <> 0 AND ({band_match})
        ), c AS (
          SELECT vec_id,
                 list_dot_product(e, qe)
                   / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))
                   AS cosine
          FROM cand
        )
        SELECT vec_id, round(c.cosine, 6) AS cosine
        FROM c ORDER BY c.cosine DESC, vec_id LIMIT 10
    """


def _ann_ivf_sql(centroids, n_probe: int, k: int = 10) -> str:
    """IVF assignment + probe + exact top-k re-derived in SQL from the
    inlined centroid literals (ann.IVFIndex.assign/probe_cells/search).

    Distance uses the same expansion as the Spark pandas UDF
    (|v|^2 - 2 v.c + |c|^2); ties break by centroid_id ascending, matching
    np.argmin's first-index rule and probe_cells' stable argsort."""
    rows = ",\n               ".join(
        f"({i}, [" + ",".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(centroids)
    )
    dist = (
        "list_dot_product({v}, {v}) - 2 * list_dot_product({v}, c) "
        "+ list_dot_product(c, c)"
    )
    return f"""
        WITH cents(centroid_id, c) AS (
          VALUES {rows}
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
        probe AS (
          SELECT centroid_id FROM cents, q
          ORDER BY {dist.format(v='qe')}, centroid_id
          LIMIT {n_probe}
        ),
        assigned AS (
          SELECT vec_id, e, centroid_id FROM (
            SELECT v.vec_id, v.e, cents.centroid_id,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY {dist.format(v='v.e')}, cents.centroid_id
                   ) AS rn
            FROM v, cents WHERE v.vec_id <> 0
          ) WHERE rn = 1
        ),
        scored AS (
          SELECT a.vec_id, a.centroid_id,
                 list_dot_product(a.e, q.qe)
                   / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qe, q.qe)))
                   AS cosine
          FROM assigned a, q
          WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
        )
        SELECT vec_id, centroid_id, round(scored.cosine, 6) AS cosine
        FROM scored ORDER BY scored.cosine DESC, vec_id LIMIT {k}
    """


def _embedding_lsh_sql(planes, bands: int = 8, max_bucket: int = 500,
                       min_cosine: float = 0.4) -> str:
    """Hyperplane-LSH near-dup pairs (ann.embedding_near_duplicates)."""
    bits_per_band = len(planes) // bands
    mask = (1 << bits_per_band) - 1
    sig = _plane_sig_sql("e", planes)
    band_vals = ",".join(f"({b})" for b in range(bands))
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        s AS (SELECT vec_id, ({sig}) AS sig FROM v),
        bnd AS (
          SELECT vec_id, b.band, (sig >> (b.band * {bits_per_band})) & {mask} AS bucket
          FROM s, (VALUES {band_vals}) AS b(band)
        ),
        sized AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS sz FROM bnd),
        keep AS (SELECT * FROM sized WHERE sz <= {max_bucket}),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM keep a JOIN keep b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        cc AS (
          SELECT id_a, id_b,
                 list_dot_product(va.e, vb.e)
                   / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e)))
                   AS cosine
          FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
        )
        SELECT id_a, id_b, round(cosine, 6) AS cosine
        FROM cc WHERE cosine >= {min_cosine} ORDER BY id_a, id_b
    """


def _ensure_oracle_img_table(path: str) -> None:
    """Materialize the deterministic synth image table at ``path`` if it
    does not exist yet — the generator is counter-based pure pandas, so a
    driver-side pyarrow write produces VALUE-identical rows to the Spark
    query's own write (whichever engine runs first, both sides read the
    same data).  Guards against a harness that runs the oracle SQL before
    the Spark query."""
    import glob

    if glob.glob(f"{path}/*.parquet"):
        return
    import numpy as np_
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftspark.synth import _gen_rows

    pdf = _gen_rows(np_.arange(IMG_GEN_PARAMS["n_rows"]), **IMG_GEN_PARAMS)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), f"{path}/part-00000.parquet")


def _oracle_img_feat_truth_path() -> str:
    from driftspark.synth import _gen_rows, _pixels_for

    return _oracle_scratch_path(
        "img_feat_truth", [_gen_rows, _pixels_for], **IMG_FEAT_PARAMS
    )


def _ensure_oracle_img_feat_truth(path: str) -> None:
    """Codec-free expected image features: the generator's pre-encode
    pixels pushed through the analytic decode equivalence (png lossless,
    lossy → ((px>>2)<<2)|2) with the identical numpy feature math."""
    import glob

    if glob.glob(f"{path}/*.parquet"):
        return
    import numpy as np_
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftspark.synth import _gen_rows

    pdf = _gen_rows(
        np_.arange(IMG_FEAT_PARAMS["n_rows"]), with_bytes=True,
        with_feature_truth=True, **IMG_FEAT_PARAMS,
    )[["image_id", "w", "h", "t_mean_r", "t_mean_g", "t_mean_b",
       "t_brightness", "t_contrast", "t_edge_density"]]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), f"{path}/part-00000.parquet")


def _image_features_sql(path: str) -> str:
    return f"""
        SELECT image_id, w AS width, h AS height,
               round(t_mean_r, 4) AS mean_r,
               round(t_mean_g, 4) AS mean_g,
               round(t_mean_b, 4) AS mean_b,
               round(t_brightness, 4) AS brightness,
               round(t_contrast, 4) AS contrast,
               round(t_edge_density, 4) AS edge_density
        FROM '{path}/*.parquet' ORDER BY image_id
    """


def _oracle_pair_truth_path() -> str:
    from driftspark.synth import _pair_px_caption, _pair_truth_rows, _pixels_for

    return _oracle_scratch_path(
        "pair_truth", [_pair_truth_rows, _pair_px_caption, _pixels_for],
        **PAIR_PARAMS,
    )


def _ensure_oracle_pair_truth(path: str) -> None:
    """Codec-free expected payload-validation verdicts (see
    synth._pair_truth_rows)."""
    import glob

    if glob.glob(f"{path}/*.parquet"):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftspark.synth import _pair_truth_rows

    pdf = _pair_truth_rows(
        PAIR_PARAMS["n_pairs"], PAIR_PARAMS["seed"],
        PAIR_PARAMS["corrupt_every"], PAIR_PARAMS["caption_edit_every"],
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), f"{path}/part-00000.parquet")


def _image_payload_check_sql(path: str) -> str:
    return f"""
        SELECT image_id, round(psnr, 4) AS psnr, pixels_ok, caption_ok
        FROM '{path}/*.parquet' ORDER BY image_id
    """


AUDIO_GEN_PARAMS = dict(seed=42, n_rows=400, sample_rate=8000)


def _oracle_audio_truth_path() -> str:
    from driftspark.synth import _audio_rows

    return _oracle_scratch_path("audio_truth", [_audio_rows], **AUDIO_GEN_PARAMS)


def _oracle_video_truth_path() -> str:
    from driftspark.synth import _video_frames, _video_payload, _video_truth_rows

    return _oracle_scratch_path(
        "video_truth",
        [_video_truth_rows, _video_frames, _video_payload],
        n_rows=VIDEO_N,
        frame_indices=tuple(VIDEO_FRAME_IDX),
    )


def _ensure_oracle_video_truth(path: str) -> None:
    """Codec-free expected feature rows for every sampled video frame —
    pure numpy over the SAME counter-based frame generator the Spark
    query's synth_video_table runs (see synth._video_truth_rows)."""
    import glob

    if glob.glob(f"{path}/*.parquet"):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftspark.synth import _video_truth_rows

    pdf = _video_truth_rows(VIDEO_N, VIDEO_FRAME_IDX)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), f"{path}/part-00000.parquet")


def _video_frames_sql(path: str) -> str:
    return f"""
        SELECT image_id, width, height,
               round(mean_r, 6) AS mean_r,
               round(mean_g, 6) AS mean_g,
               round(mean_b, 6) AS mean_b,
               round(brightness, 6) AS brightness,
               round(contrast, 6) AS contrast,
               round(edge_density, 6) AS edge_density,
               decode_error
        FROM '{path}/*.parquet'
        ORDER BY image_id
    """


def _ensure_oracle_audio_truth(path: str) -> None:
    """Ground-truth generation parameters (amp, freq, n, bit depth) for the
    synthetic WAV clips — pure pandas, the SAME counter-based generator the
    Spark query's synth_audio_table runs, so the SQL oracle re-derives
    every decoded sample analytically instead of parsing RIFF bytes."""
    import glob

    if glob.glob(f"{path}/*.parquet"):
        return
    import numpy as np_
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftspark.synth import _audio_rows

    pdf = _audio_rows(
        np_.arange(AUDIO_GEN_PARAMS["n_rows"]),
        seed=AUDIO_GEN_PARAMS["seed"],
        sample_rate=AUDIO_GEN_PARAMS["sample_rate"],
    )[["audio_id", "sample_rate", "amp", "freq", "n_samples_true", "bits"]]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), f"{path}/part-00000.parquet")


def _audio_features_sql(path: str) -> str:
    """audio_features re-derived analytically: regenerate each clip's
    samples (amp * sin(2*pi*freq * j/sr), the synth generator's exact
    expression order), apply the SAME quantization the WAV codec
    round-trips (PCM16: round(s*32767)/32768 with numpy's signed-zero
    sign; float32: double->float->double), then aggregate rms / peak /
    zero-crossing-rate per clip.  The signbit CASE mirrors np.signbit on
    quantized -0.0 (negative pre-quantization value that rounds to zero
    keeps its sign bit)."""
    return f"""
        WITH truth AS (SELECT * FROM '{path}/*.parquet'),
        idx AS (
          SELECT t.audio_id, t.sample_rate, t.amp, t.freq,
                 t.n_samples_true AS n, t.bits,
                 unnest(generate_series(0, t.n_samples_true - 1)) AS j
          FROM truth t
        ),
        raw AS (
          SELECT audio_id, n, bits, j,
                 amp * sin(((2 * pi()) * freq) * (j / CAST(sample_rate AS DOUBLE))) AS s
          FROM idx
        ),
        dec AS (
          SELECT audio_id, n, j,
                 CASE WHEN bits = 16 THEN round(s * 32767.0) / 32768.0
                      ELSE CAST(CAST(s AS FLOAT) AS DOUBLE) END AS d,
                 CASE WHEN bits = 16
                      THEN (round(s * 32767.0) < 0
                            OR (round(s * 32767.0) = 0 AND s < 0))
                      ELSE s < 0 END AS sb
          FROM raw
        ),
        z AS (
          SELECT audio_id, d, sb, j,
                 lag(sb) OVER (PARTITION BY audio_id ORDER BY j) AS psb
          FROM dec
        ),
        agg AS (
          SELECT audio_id,
                 sqrt(avg(d * d)) AS rms,
                 max(abs(d)) AS peak,
                 CAST(sum(CASE WHEN j > 0 AND sb <> psb THEN 1 ELSE 0 END) AS DOUBLE)
                   / max(j) AS zcr
          FROM z GROUP BY audio_id
        )
        SELECT t.audio_id, t.sample_rate,
               CAST(t.n_samples_true AS BIGINT) AS n_samples,
               round(t.n_samples_true / CAST(t.sample_rate AS DOUBLE), 6) AS duration_sec,
               round(a.rms, 6) AS rms,
               round(a.peak, 6) AS peak,
               round(a.zcr, 6) AS zero_crossing_rate,
               NULL::VARCHAR AS decode_error
        FROM truth t JOIN agg a USING (audio_id)
        ORDER BY t.audio_id
    """


def _image_verdicts_sql(path: str) -> str:
    """Per-partition PSI / KS-D / chi-square re-derived in pure SQL from
    the parquet the Spark query persisted (verdicts.partition_verdicts
    semantics: global reference, exact decile edges with duplicate-drop,
    pd.cut bucketing, 0.001 clamp + renormalize; KS as the cumulative
    max-|ECDF diff| over pooled distinct values; chi-square on the >=5
    validity-filtered aligned counts)."""
    probs = "[" + ",".join(str(i / 10) for i in range(11)) + "]"
    num_melt_ref = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, {c}::DOUBLE AS value FROM ref" for c in ("w", "h", "phash")
    )
    num_melt_test = " UNION ALL ".join(
        f"SELECT part, '{c}' AS feature, {c}::DOUBLE AS value FROM test"
        for c in ("w", "h", "phash")
    )
    return f"""
        WITH img AS (SELECT * FROM '{path}/*.parquet'),
        ref AS (SELECT * FROM img WHERE split = 'ref'),
        test AS (SELECT * FROM img WHERE split = 'test'),
        parts AS (SELECT DISTINCT part FROM test),
        mref AS ({num_melt_ref}),
        mtest AS ({num_melt_test}),
        edges AS (
          SELECT feature,
                 list_sort(list_distinct(quantile_cont(value, {probs}))) AS e
          FROM mref WHERE value IS NOT NULL GROUP BY feature
        ),
        rbin AS (
          SELECT m.feature,
                 CASE WHEN m.value >= e[1] AND m.value <= e[len(e)]
                      THEN length(list_filter(list_slice(e, 2, len(e) - 1),
                                              x -> m.value > x)) END AS bin
          FROM mref m JOIN edges USING (feature)
        ),
        tbin AS (
          SELECT m.part, m.feature,
                 CASE WHEN m.value >= e[1] AND m.value <= e[len(e)]
                      THEN length(list_filter(list_slice(e, 2, len(e) - 1),
                                              x -> m.value > x)) END AS bin
          FROM mtest m JOIN edges USING (feature)
        ),
        rcnt AS (SELECT feature, bin, count(*) AS c FROM rbin
                 WHERE bin IS NOT NULL GROUP BY 1, 2),
        tcnt AS (SELECT part, feature, bin, count(*) AS c FROM tbin
                 WHERE bin IS NOT NULL GROUP BY 1, 2, 3),
        featbins AS (
          SELECT feature, unnest(generate_series(0, len(e) - 2)) AS bin FROM edges
        ),
        grid AS (SELECT p.part, f.feature, f.bin FROM parts p, featbins f),
        psi_j AS (
          SELECT g.part, g.feature, g.bin,
                 coalesce(rc.c, 0) AS r, coalesce(tc.c, 0) AS t
          FROM grid g
          LEFT JOIN rcnt rc ON rc.feature = g.feature AND rc.bin = g.bin
          LEFT JOIN tcnt tc ON tc.part = g.part AND tc.feature = g.feature
                            AND tc.bin = g.bin
        ),
        psi_p AS (
          SELECT part, feature,
                 greatest(r * 1.0 / sum(r) OVER w, 0.001) AS e_,
                 greatest(t * 1.0 / sum(t) OVER w, 0.001) AS a_,
                 sum(r) OVER w AS n_ref, sum(t) OVER w AS n_test
          FROM psi_j WINDOW w AS (PARTITION BY part, feature)
        ),
        psi_n AS (
          SELECT *, sum(e_) OVER w AS esum, sum(a_) OVER w AS asum
          FROM psi_p WINDOW w AS (PARTITION BY part, feature)
        ),
        psi AS (
          SELECT part, feature, 'psi' AS chk,
                 sum((a_ / asum - e_ / esum) * ln((a_ / asum) / (e_ / esum))) AS stat,
                 max(n_ref) AS n_ref, max(n_test) AS n_test
          FROM psi_n GROUP BY part, feature
        ),
        ks_u AS (
          SELECT p.part, m.feature, m.value, 1 AS r, 0 AS t
          FROM mref m, parts p
          WHERE m.value IS NOT NULL AND NOT isnan(m.value)
          UNION ALL
          SELECT part, feature, value, 0, 1 FROM mtest
          WHERE value IS NOT NULL AND NOT isnan(value)
        ),
        ks_g AS (SELECT part, feature, value, sum(r) AS r, sum(t) AS t
                 FROM ks_u GROUP BY 1, 2, 3),
        ks_c AS (
          SELECT part, feature,
                 sum(r) OVER (PARTITION BY part, feature ORDER BY value) AS cr,
                 sum(t) OVER (PARTITION BY part, feature ORDER BY value) AS ct,
                 sum(r) OVER (PARTITION BY part, feature) AS n,
                 sum(t) OVER (PARTITION BY part, feature) AS m
          FROM ks_g
        ),
        ks AS (
          SELECT part, feature, 'ks' AS chk,
                 max(abs(cr * 1.0 / n - ct * 1.0 / m)) AS stat,
                 max(n) AS n_ref, max(m) AS n_test
          FROM ks_c GROUP BY part, feature
        ),
        c_ref AS (SELECT fmt AS v, count(*) AS r FROM ref
                  WHERE fmt IS NOT NULL GROUP BY 1),
        c_test AS (SELECT part, fmt AS v, count(*) AS t FROM test
                   WHERE fmt IS NOT NULL GROUP BY 1, 2),
        c_grid AS (
          SELECT DISTINCT part, v FROM (
            SELECT p.part, c.v FROM parts p, c_ref c
            UNION ALL SELECT part, v FROM c_test
          )
        ),
        c_j AS (
          SELECT g.part, g.v, coalesce(cr.r, 0) AS r, coalesce(ct.t, 0) AS t
          FROM c_grid g
          LEFT JOIN c_ref cr ON cr.v = g.v
          LEFT JOIN c_test ct ON ct.part = g.part AND ct.v = g.v
        ),
        c_tot AS (SELECT part, sum(r) AS nr, sum(t) AS nt FROM c_j GROUP BY part),
        c_valid AS (SELECT * FROM c_j WHERE r >= 5 OR t >= 5),
        c_sums AS (SELECT part, sum(r) AS sr, sum(t) AS st_, count(*) AS nv
                   FROM c_valid GROUP BY part),
        c_stat AS (
          SELECT v.part,
                 sum((v.t - v.r * 1.0 / s.sr * s.st_) * (v.t - v.r * 1.0 / s.sr * s.st_)
                     / (v.r * 1.0 / s.sr * s.st_)) AS stat
          FROM c_valid v JOIN c_sums s ON s.part = v.part
          WHERE s.nv >= 2 GROUP BY v.part
        ),
        chi AS (
          SELECT t.part, 'fmt' AS feature, 'chi2' AS chk,
                 coalesce(cs.stat, 0.0) AS stat, t.nr AS n_ref, t.nt AS n_test
          FROM c_tot t LEFT JOIN c_stat cs ON cs.part = t.part
        ),
        allrows AS (
          SELECT * FROM psi UNION ALL SELECT * FROM ks UNION ALL SELECT * FROM chi
        )
        SELECT CAST(part AS INTEGER) AS part, feature, chk AS "check",
               round(stat, 6) AS statistic,
               CAST(n_ref AS BIGINT) AS n_ref, CAST(n_test AS BIGINT) AS n_test
        FROM allrows ORDER BY part, feature, chk
    """


def _streaming_verdicts_sql() -> str:
    """Per-micro-batch PSI / KS-D / chi-square re-derived in pure SQL from
    the registered lineitem view (StreamingDriftMonitor semantics: global
    reference fitted once, exact decile edges with duplicate-drop, pd.cut
    bucketing, 0.001 clamp + renormalize; KS as max-|ECDF diff| over
    pooled distinct values; chi-square on >=5 validity-filtered aligned
    counts).  batch k = odd l_orderkey with l_orderkey % 6 == 2k+1;
    n_test = the micro-batch's total row count (what the sink records)."""
    probs = "[" + ",".join(str(i / 10) for i in range(11)) + "]"
    num_cols = ("l_quantity", "l_extendedprice")
    num_melt_ref = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, {c}::DOUBLE AS value FROM ref"
        for c in num_cols
    )
    num_melt_test = " UNION ALL ".join(
        f"SELECT b, '{c}' AS feature, {c}::DOUBLE AS value FROM test"
        for c in num_cols
    )
    return f"""
        WITH ref AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0),
        test AS (
          SELECT (l_orderkey % 6) // 2 AS b, * FROM lineitem
          WHERE l_orderkey % 2 = 1
        ),
        batches AS (SELECT DISTINCT b FROM test),
        bt AS (SELECT b, count(*) AS n_test FROM test GROUP BY b),
        mref AS ({num_melt_ref}),
        mtest AS ({num_melt_test}),
        edges AS (
          SELECT feature,
                 list_sort(list_distinct(quantile_cont(value, {probs}))) AS e
          FROM mref WHERE value IS NOT NULL GROUP BY feature
        ),
        rbin AS (
          SELECT m.feature,
                 CASE WHEN m.value >= e[1] AND m.value <= e[len(e)]
                      THEN length(list_filter(list_slice(e, 2, len(e) - 1),
                                              x -> m.value > x)) END AS bin
          FROM mref m JOIN edges USING (feature)
        ),
        tbin AS (
          SELECT m.b, m.feature,
                 CASE WHEN m.value >= e[1] AND m.value <= e[len(e)]
                      THEN length(list_filter(list_slice(e, 2, len(e) - 1),
                                              x -> m.value > x)) END AS bin
          FROM mtest m JOIN edges USING (feature)
        ),
        rcnt AS (SELECT feature, bin, count(*) AS c FROM rbin
                 WHERE bin IS NOT NULL GROUP BY 1, 2),
        tcnt AS (SELECT b, feature, bin, count(*) AS c FROM tbin
                 WHERE bin IS NOT NULL GROUP BY 1, 2, 3),
        featbins AS (
          SELECT feature, unnest(generate_series(0, len(e) - 2)) AS bin FROM edges
        ),
        grid AS (SELECT p.b, f.feature, f.bin FROM batches p, featbins f),
        psi_j AS (
          SELECT g.b, g.feature, g.bin,
                 coalesce(rc.c, 0) AS r, coalesce(tc.c, 0) AS t
          FROM grid g
          LEFT JOIN rcnt rc ON rc.feature = g.feature AND rc.bin = g.bin
          LEFT JOIN tcnt tc ON tc.b = g.b AND tc.feature = g.feature
                            AND tc.bin = g.bin
        ),
        psi_p AS (
          SELECT b, feature,
                 greatest(r * 1.0 / sum(r) OVER w, 0.001) AS e_,
                 greatest(t * 1.0 / sum(t) OVER w, 0.001) AS a_
          FROM psi_j WINDOW w AS (PARTITION BY b, feature)
        ),
        psi_n AS (
          SELECT *, sum(e_) OVER w AS esum, sum(a_) OVER w AS asum
          FROM psi_p WINDOW w AS (PARTITION BY b, feature)
        ),
        psi AS (
          SELECT b, feature, 'psi' AS chk,
                 sum((a_ / asum - e_ / esum) * ln((a_ / asum) / (e_ / esum))) AS stat
          FROM psi_n GROUP BY b, feature
        ),
        ks_u AS (
          SELECT p.b, m.feature, m.value, 1 AS r, 0 AS t
          FROM mref m, batches p
          WHERE m.value IS NOT NULL AND NOT isnan(m.value)
          UNION ALL
          SELECT b, feature, value, 0, 1 FROM mtest
          WHERE value IS NOT NULL AND NOT isnan(value)
        ),
        ks_g AS (SELECT b, feature, value, sum(r) AS r, sum(t) AS t
                 FROM ks_u GROUP BY 1, 2, 3),
        ks_c AS (
          SELECT b, feature,
                 sum(r) OVER (PARTITION BY b, feature ORDER BY value) AS cr,
                 sum(t) OVER (PARTITION BY b, feature ORDER BY value) AS ct,
                 sum(r) OVER (PARTITION BY b, feature) AS n,
                 sum(t) OVER (PARTITION BY b, feature) AS m
          FROM ks_g
        ),
        ks AS (
          SELECT b, feature, 'ks' AS chk,
                 max(abs(cr * 1.0 / n - ct * 1.0 / m)) AS stat
          FROM ks_c GROUP BY b, feature
        ),
        c_ref AS (SELECT l_returnflag AS v, count(*) AS r FROM ref
                  WHERE l_returnflag IS NOT NULL GROUP BY 1),
        c_test AS (SELECT b, l_returnflag AS v, count(*) AS t FROM test
                   WHERE l_returnflag IS NOT NULL GROUP BY 1, 2),
        c_grid AS (
          SELECT DISTINCT b, v FROM (
            SELECT p.b, c.v FROM batches p, c_ref c
            UNION ALL SELECT b, v FROM c_test
          )
        ),
        c_j AS (
          SELECT g.b, g.v, coalesce(cr.r, 0) AS r, coalesce(ct.t, 0) AS t
          FROM c_grid g
          LEFT JOIN c_ref cr ON cr.v = g.v
          LEFT JOIN c_test ct ON ct.b = g.b AND ct.v = g.v
        ),
        c_valid AS (SELECT * FROM c_j WHERE r >= 5 OR t >= 5),
        c_sums AS (SELECT b, sum(r) AS sr, sum(t) AS st_, count(*) AS nv
                   FROM c_valid GROUP BY b),
        c_stat AS (
          SELECT v.b,
                 sum((v.t - v.r * 1.0 / s.sr * s.st_) * (v.t - v.r * 1.0 / s.sr * s.st_)
                     / (v.r * 1.0 / s.sr * s.st_)) AS stat
          FROM c_valid v JOIN c_sums s ON s.b = v.b
          WHERE s.nv >= 2 GROUP BY v.b
        ),
        chi AS (
          SELECT p.b, 'l_returnflag' AS feature, 'chi2' AS chk,
                 coalesce(cs.stat, 0.0) AS stat
          FROM batches p LEFT JOIN c_stat cs ON cs.b = p.b
        ),
        allrows AS (
          SELECT * FROM psi UNION ALL SELECT * FROM ks UNION ALL SELECT * FROM chi
        )
        SELECT CAST(a.b AS BIGINT) AS batch_id, a.feature, a.chk AS "check",
               round(a.stat, 6) AS statistic, CAST(bt.n_test AS BIGINT) AS n_test
        FROM allrows a JOIN bt ON bt.b = a.b
        ORDER BY batch_id, a.feature, a.chk
    """


def _streaming_cumulative_sql() -> str:
    """Final cumulative PSI / KS / chi2 of the stateful streaming trio ==
    plain batch statistics over ALL odd-l_orderkey rows (the cumulative
    state has, by then, absorbed every micro-batch).  PSI n_seen counts
    binned (in-range) values; KS and chi2 count all non-null values."""
    probs = "[" + ",".join(str(i / 10) for i in range(11)) + "]"
    num_cols = ("l_quantity", "l_extendedprice")
    num_melt_ref = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, {c}::DOUBLE AS value FROM ref"
        for c in num_cols
    )
    num_melt_test = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, {c}::DOUBLE AS value FROM test"
        for c in num_cols
    )
    return f"""
        WITH ref AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0),
        test AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 1),
        mref AS ({num_melt_ref}),
        mtest AS ({num_melt_test}),
        edges AS (
          SELECT feature,
                 list_sort(list_distinct(quantile_cont(value, {probs}))) AS e
          FROM mref WHERE value IS NOT NULL GROUP BY feature
        ),
        rbin AS (
          SELECT m.feature,
                 CASE WHEN m.value >= e[1] AND m.value <= e[len(e)]
                      THEN length(list_filter(list_slice(e, 2, len(e) - 1),
                                              x -> m.value > x)) END AS bin
          FROM mref m JOIN edges USING (feature)
        ),
        tbin AS (
          SELECT m.feature,
                 CASE WHEN m.value >= e[1] AND m.value <= e[len(e)]
                      THEN length(list_filter(list_slice(e, 2, len(e) - 1),
                                              x -> m.value > x)) END AS bin
          FROM mtest m JOIN edges USING (feature)
        ),
        rcnt AS (SELECT feature, bin, count(*) AS c FROM rbin
                 WHERE bin IS NOT NULL GROUP BY 1, 2),
        tcnt AS (SELECT feature, bin, count(*) AS c FROM tbin
                 WHERE bin IS NOT NULL GROUP BY 1, 2),
        featbins AS (
          SELECT feature, unnest(generate_series(0, len(e) - 2)) AS bin FROM edges
        ),
        psi_j AS (
          SELECT g.feature, g.bin,
                 coalesce(rc.c, 0) AS r, coalesce(tc.c, 0) AS t
          FROM featbins g
          LEFT JOIN rcnt rc ON rc.feature = g.feature AND rc.bin = g.bin
          LEFT JOIN tcnt tc ON tc.feature = g.feature AND tc.bin = g.bin
        ),
        psi_p AS (
          SELECT feature,
                 greatest(r * 1.0 / sum(r) OVER w, 0.001) AS e_,
                 greatest(t * 1.0 / sum(t) OVER w, 0.001) AS a_,
                 sum(t) OVER w AS n_seen
          FROM psi_j WINDOW w AS (PARTITION BY feature)
        ),
        psi_n AS (
          SELECT *, sum(e_) OVER w AS esum, sum(a_) OVER w AS asum
          FROM psi_p WINDOW w AS (PARTITION BY feature)
        ),
        psi AS (
          SELECT feature, 'psi' AS chk, max(n_seen) AS n_seen,
                 sum((a_ / asum - e_ / esum) * ln((a_ / asum) / (e_ / esum))) AS stat
          FROM psi_n GROUP BY feature
        ),
        ks_u AS (
          SELECT l_quantity::DOUBLE AS value, 1 AS r, 0 AS t FROM ref
          WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity::DOUBLE)
          UNION ALL
          SELECT l_quantity::DOUBLE, 0, 1 FROM test
          WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity::DOUBLE)
        ),
        ks_g AS (SELECT value, sum(r) AS r, sum(t) AS t FROM ks_u GROUP BY 1),
        ks_c AS (
          SELECT sum(r) OVER (ORDER BY value) AS cr,
                 sum(t) OVER (ORDER BY value) AS ct,
                 sum(r) OVER () AS n, sum(t) OVER () AS m
          FROM ks_g
        ),
        ks AS (
          SELECT 'l_quantity' AS feature, 'ks' AS chk, max(m) AS n_seen,
                 max(abs(cr * 1.0 / n - ct * 1.0 / m)) AS stat
          FROM ks_c
        ),
        c_ref AS (SELECT l_returnflag AS v, count(*) AS r FROM ref
                  WHERE l_returnflag IS NOT NULL GROUP BY 1),
        c_test AS (SELECT l_returnflag AS v, count(*) AS t FROM test
                   WHERE l_returnflag IS NOT NULL GROUP BY 1),
        c_j AS (
          SELECT coalesce(cr.v, ct.v) AS v, coalesce(cr.r, 0) AS r,
                 coalesce(ct.t, 0) AS t
          FROM c_ref cr FULL OUTER JOIN c_test ct ON cr.v = ct.v
        ),
        c_valid AS (SELECT * FROM c_j WHERE r >= 5 OR t >= 5),
        chi AS (
          SELECT 'l_returnflag' AS feature, 'chi2' AS chk,
                 (SELECT sum(t) FROM c_j) AS n_seen,
                 CASE WHEN (SELECT count(*) FROM c_valid) >= 2 THEN (
                   SELECT sum((v.t - v.r * 1.0 / s.sr * s.st_)
                              * (v.t - v.r * 1.0 / s.sr * s.st_)
                              / (v.r * 1.0 / s.sr * s.st_))
                   FROM c_valid v,
                        (SELECT sum(r) AS sr, sum(t) AS st_ FROM c_valid) s
                 ) ELSE 0.0 END AS stat
        ),
        allrows AS (
          SELECT * FROM psi UNION ALL SELECT * FROM ks UNION ALL SELECT * FROM chi
        )
        SELECT feature, chk AS "check", CAST(n_seen AS BIGINT) AS n_seen,
               round(stat, 6) AS statistic
        FROM allrows ORDER BY feature, chk
    """


def oracle_sql() -> dict[str, str]:
    from driftspark.ann import _hyperplanes, seed_centroids

    planes16 = _hyperplanes(EMB_DIM, 16, 42)
    price_bucket = _bucket_sql("l_extendedprice", PRICE_EDGES)
    digitize = " + ".join(
        f"(CASE WHEN __conf >= {c!r} THEN 1 ELSE 0 END)" for c in CONF_CUTOFFS
    )
    mh_cols = ", ".join(
        f"min(md5(token || ':{k}')) AS mh{k}" for k in range(MINHASH_K)
    )
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN h_{lang} > 0 AND h_{lang} = greatest(h_en, h_de, h_fr, h_es) "
            f"THEN '{lang}'"
            for lang in ["en", "de", "fr", "es"]
        )
        + " ELSE 'und' END"
    )
    lang_hits = ", ".join(
        f"len(regexp_extract_all(text, '{pat}', 1)) AS h_{lang}"
        for lang, pat in LANG_PATTERNS.items()
    )

    return {
        "profile_stats": """
            SELECT l_returnflag,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_qty,
                   min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(27,10))) AS DOUBLE)
                         / count(l_quantity), 6) AS mean_qty,
                   round(stddev_pop(l_quantity), 6) AS std_qty,
                   count(DISTINCT l_partkey) AS n_parts
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "quantile_edges": """
            WITH e AS (
              SELECT quantile_cont(l_extendedprice,
                [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS edges
              FROM lineitem WHERE l_orderkey % 2 = 0
            )
            SELECT CAST(i - 1 AS INTEGER) AS idx, round(edges[i], 6) AS edge
            FROM e, generate_series(1, 11) AS t(i)
            ORDER BY idx
        """,
        "histogram_price": f"""
            WITH b AS (SELECT {price_bucket} AS bin FROM lineitem)
            SELECT CAST(bin AS INTEGER) AS bin, count(*) AS cnt
            FROM b WHERE bin IS NOT NULL GROUP BY bin ORDER BY bin
        """,
        "psi_price": f"""
            WITH rb AS (
              SELECT {price_bucket} AS bin FROM lineitem WHERE l_orderkey % 2 = 0
            ), tb AS (
              SELECT {price_bucket} AS bin FROM lineitem WHERE l_orderkey % 2 = 1
            ), bins AS (SELECT unnest(generate_series(0, {len(PRICE_EDGES) - 2})) AS bin),
            rc AS (SELECT bin, count(*) AS c FROM rb WHERE bin IS NOT NULL GROUP BY bin),
            tc AS (SELECT bin, count(*) AS c FROM tb WHERE bin IS NOT NULL GROUP BY bin),
            p AS (
              SELECT bins.bin,
                     greatest(coalesce(rc.c, 0) * 1.0 / (SELECT sum(c) FROM rc), 0.001) AS e,
                     greatest(coalesce(tc.c, 0) * 1.0 / (SELECT sum(c) FROM tc), 0.001) AS a
              FROM bins LEFT JOIN rc ON bins.bin = rc.bin LEFT JOIN tc ON bins.bin = tc.bin
            ), n AS (
              SELECT e / (SELECT sum(e) FROM p) AS en, a / (SELECT sum(a) FROM p) AS an FROM p
            ), s AS (SELECT sum((an - en) * ln(an / en)) AS psi FROM n)
            SELECT 'l_extendedprice' AS feature, round(psi, 9) AS psi,
                   CASE WHEN psi < 0.1 THEN 'none' WHEN psi < 0.2 THEN 'low'
                        WHEN psi < 0.3 THEN 'medium' WHEN psi < 0.5 THEN 'high'
                        ELSE 'critical' END AS severity
            FROM s
        """,
        "wasserstein_w1": _wasserstein_sql(),
        "divergence_price": _divergence_sql(price_bucket),
        "cvm_ad": _cvm_ad_sql(),
        "quantile_shift": _quantile_shift_sql(),
        "w1_partition_verdicts": _w1_partition_sql(),
        "contamination": _contamination_sql(),
        "pii_scan": _pii_scan_sql(),
        "outlier_rates": _outliers_sql(),
        "correlation_drift": _correlation_drift_sql(),
        "category_shift": _category_shift_sql(),
        "ks_d": """
            WITH feats AS (
              SELECT 'l_quantity' AS feature, l_quantity AS value, l_orderkey FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', l_extendedprice, l_orderkey FROM lineitem
            ), u AS (
              SELECT feature, value,
                     CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS r,
                     CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END AS t
              FROM feats WHERE value IS NOT NULL
            ), g AS (
              SELECT feature, value, sum(r) AS r, sum(t) AS t
              FROM u GROUP BY feature, value
            ), c AS (
              SELECT feature,
                     sum(r) OVER (PARTITION BY feature ORDER BY value) AS cr,
                     sum(t) OVER (PARTITION BY feature ORDER BY value) AS ct,
                     sum(r) OVER (PARTITION BY feature) AS n,
                     sum(t) OVER (PARTITION BY feature) AS m
              FROM g
            )
            SELECT feature, round(max(abs(cr * 1.0 / n - ct * 1.0 / m)), 9) AS ks_d,
                   CAST(max(n) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m
            FROM c GROUP BY feature ORDER BY feature
        """,
        "chi2_returnflag": """
            WITH rc AS (
              SELECT l_returnflag AS v, count(*) AS r FROM lineitem
              WHERE l_orderkey % 2 = 0 GROUP BY 1
            ), tc AS (
              SELECT l_returnflag AS v, count(*) AS t FROM lineitem
              WHERE l_orderkey % 2 = 1 GROUP BY 1
            ), j AS (
              SELECT coalesce(rc.v, tc.v) AS v, coalesce(r, 0) AS r, coalesce(t, 0) AS t
              FROM rc FULL OUTER JOIN tc ON rc.v = tc.v
            ), valid AS (SELECT * FROM j WHERE r >= 5 OR t >= 5),
            e AS (
              SELECT t, r * 1.0 / (SELECT sum(r) FROM valid) * (SELECT sum(t) FROM valid) AS exp
              FROM valid
            )
            SELECT 'l_returnflag' AS feature,
                   round(sum((t - exp) * (t - exp) / exp), 6) AS chi2_stat,
                   CAST((SELECT count(*) FROM valid) AS INTEGER) AS n_categories
            FROM e
        """,
        "uniqueness_violations": """
            SELECT l_orderkey, count(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
            ORDER BY l_orderkey
        """,
        "referential_violations": """
            SELECT o_custkey, count(*) AS n_orders
            FROM orders
            WHERE o_custkey NOT IN (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            )
            GROUP BY o_custkey ORDER BY o_custkey
        """,
        "supplier_rollup": """
            SELECT r_name,
                   count(*) AS n_suppliers,
                   round(CAST(sum(CAST(s_acctbal AS DECIMAL(27,10))) AS DOUBLE)
                         / count(s_acctbal), 6) AS avg_acctbal,
                   count(DISTINCT n_nationkey) AS n_nations
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "topk_parts": """
            SELECT p_partkey, p_retailprice FROM part
            ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
        """,
        "cbpe_confidence_hist": f"""
            WITH c AS (SELECT least(l_discount * 10.0, 1.0) AS __conf FROM lineitem),
            b AS (
              SELECT least(greatest(({digitize}) - 1, 0), 9) AS bin FROM c
              WHERE __conf IS NOT NULL
            )
            SELECT CAST(bin AS INTEGER) AS bin, count(*) AS cnt
            FROM b GROUP BY bin ORDER BY bin
        """,
        "cbpe_shift": f"""
            WITH c AS (
              SELECT least(l_discount * 10.0, 1.0) AS __conf,
                     (l_orderkey % 2 = 0) AS is_ref
              FROM lineitem
            ),
            b AS (
              SELECT is_ref,
                     least(greatest(({digitize}) - 1, 0), 9) AS bin, __conf
              FROM c WHERE __conf IS NOT NULL
            ),
            bins AS (
              SELECT g.bin,
                     coalesce(sum(CASE WHEN b.is_ref THEN 1 END), 0) AS r,
                     coalesce(sum(CASE WHEN NOT b.is_ref THEN 1 END), 0) AS t
              FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
              LEFT JOIN b ON b.bin = g.bin
              GROUP BY g.bin
            ),
            valid AS (SELECT * FROM bins WHERE r >= 5 OR t >= 5),
            tot AS (
              SELECT (SELECT CAST(sum(r) AS DOUBLE) FROM valid) AS sr,
                     (SELECT CAST(sum(t) AS DOUBLE) FROM valid) AS st
            ),
            chi AS (
              SELECT sum(pow(t - (r / tot.sr * tot.st), 2)
                         / (r / tot.sr * tot.st)) AS stat,
                     count(*) AS n_valid
              FROM valid, tot
            ),
            refmean AS (
              SELECT sum((bin / 10.0) * r) / sum(r) AS m FROM bins
            ),
            testmean AS (
              SELECT avg(__conf) AS m FROM b WHERE NOT is_ref
            )
            SELECT round(chi.stat, 6) AS chi2_stat,
                   CAST(chi.n_valid AS INTEGER) AS n_valid_bins,
                   round(refmean.m, 6) AS ref_mean_conf,
                   round(testmean.m, 6) AS test_mean_conf,
                   round(abs(testmean.m - refmean.m), 6) AS confidence_shift
            FROM chi, refmean, testmean
        """,
        "domain_classifier_sample": _domain_classifier_sample_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "hallucination_mahalanobis": _hallucination_sql(),
        "hallucination_knn": _hallucination_knn_sql(),
        "hallucination_kde": _hallucination_kde_sql(),
        "dedup_exact": """
            SELECT md5(substr(text, 1, 30)) AS content_hash, count(*) AS dup_count
            FROM documents GROUP BY 1 HAVING count(*) > 1
            ORDER BY content_hash
        """,
        "minhash_signatures": f"""
            WITH tok AS (
              SELECT DISTINCT doc_id AS id, t.token
              FROM documents,
                   unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
              WHERE t.token <> ''
            )
            SELECT id, {mh_cols}
            FROM tok GROUP BY id ORDER BY id
        """,
        "jaccard_pairs": f"""
            WITH tok AS (
              SELECT DISTINCT doc_id AS id, t.token
              FROM documents,
                   unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
              WHERE t.token <> ''
            ), sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
            rare AS (
              SELECT id, token FROM tok
              WHERE token IN (
                SELECT token FROM tok GROUP BY token
                HAVING count(*) <= CAST(floor({JACCARD_DF_FRAC}
                  * (SELECT count(*) FROM documents)) AS BIGINT)
              )
            ),
            shared AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
              FROM rare a JOIN rare b ON a.token = b.token AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.3
            ORDER BY id_a, id_b
        """,
        "text_quality": r"""
            WITH s AS (
              SELECT doc_id, text,
                     length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
              FROM documents
            )
            SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars,
                   CAST(n_tokens AS INTEGER) AS n_tokens,
                   round(CASE WHEN n_tokens > 0 THEN n_chars * 1.0 / n_tokens ELSE 0.0 END, 6)
                     AS avg_token_len,
                   round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio
            FROM s ORDER BY doc_id
        """,
        "langid": f"""
            WITH h AS (SELECT doc_id, text, lang, source, n_chars, {lang_hits} FROM documents)
            SELECT doc_id, {lang_case} AS lang_pred FROM h ORDER BY doc_id
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(array_to_string(
                     list_sort(list_distinct(
                       list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
                     )), ' ')) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "ann_cosine_topk": """
            WITH q AS (
              SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
              FROM embeddings WHERE vec_id = 0
            ), v AS (
              SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
              FROM embeddings WHERE vec_id <> 0
            ), d AS (
              SELECT v.vec_id,
                     sum(CAST(v.x AS DOUBLE) * CAST(q.x AS DOUBLE)) AS dot,
                     sqrt(sum(CAST(v.x AS DOUBLE) * CAST(v.x AS DOUBLE))) AS nv
              FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id
            ), qn AS (SELECT sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n FROM q)
            SELECT vec_id, round(dot / (nv * (SELECT n FROM qn)), 6) AS cosine
            FROM d ORDER BY dot / (nv * (SELECT n FROM qn)) DESC, vec_id LIMIT 10
        """,
        "embedding_neardups_exact": """
            WITH va AS (
              SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
              FROM embeddings
            ), dots AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
              FROM va a JOIN va b ON a.i = b.i AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id
            ), norms AS (
              SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM va GROUP BY vec_id
            )
            SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
            FROM dots
            JOIN norms na ON na.vec_id = id_a
            JOIN norms nb ON nb.vec_id = id_b
            WHERE dot / (na.nrm * nb.nrm) >= 0.4
            ORDER BY id_a, id_b
        """,
        "events_hourly": """
            SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
                   count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(27,10))) AS DOUBLE)
                         / count(*), 6) AS avg_value
            FROM events GROUP BY event_type, hour ORDER BY event_type, hour
        """,
        "rolling_psi": _rolling_psi_sql(),
        "volume_anomalies": """
            WITH pts AS (
              SELECT event_type AS grp, date_trunc('hour', ts) AS b
              FROM events WHERE ts IS NOT NULL
            ), counts AS (
              SELECT grp, b, count(*) AS c FROM pts GROUP BY 1, 2
            ), span AS (
              SELECT min(b) AS mn, max(b) AS mx FROM pts
            ), grid AS (
              SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
              FROM span
            ), grps AS (
              SELECT DISTINCT grp FROM counts
            ), dense AS (
              SELECT g.grp, gr.b, coalesce(c.c, 0) AS c
              FROM grps g CROSS JOIN grid gr
              LEFT JOIN counts c ON c.grp = g.grp AND c.b = gr.b
            ), win AS (
              SELECT grp, b, c,
                     count(*) OVER w AS history,
                     avg(c) OVER w AS mean,
                     stddev(c) OVER w AS std
              FROM dense
              WINDOW w AS (PARTITION BY grp ORDER BY b
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
            )
            SELECT grp AS "group",
                   strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   CAST(c AS BIGINT) AS "rows",
                   CAST(history AS BIGINT) AS history,
                   round(mean, 6) AS trailing_mean,
                   round(std, 6) AS trailing_std,
                   round(CASE WHEN std > 0 THEN (c - mean) / std END, 6) AS z,
                   CASE WHEN history < 6 THEN 'insufficient_history'
                        WHEN std > 0 AND abs((c - mean) / std) >= 3.0
                          THEN 'anomalous'
                        WHEN std = 0 AND c <> mean THEN 'anomalous'
                        ELSE 'ok' END AS verdict
            FROM win ORDER BY "group", bucket_ts
        """,
        "freshness": """
            WITH pts AS (
              SELECT event_type AS grp, ts FROM events WHERE ts IS NOT NULL
            ), per AS (
              SELECT grp, count(*) AS c, max(ts) AS last FROM pts GROUP BY 1
            ), exp AS (
              SELECT unnest(['click', 'view', 'purchase', 'signup', 'error',
                             'uninstall']) AS grp
            ), j AS (
              SELECT coalesce(e.grp, p.grp) AS grp, p.c, p.last,
                     (SELECT max(ts) FROM pts) AS as_of
              FROM exp e FULL JOIN per p ON e.grp = p.grp
            )
            SELECT grp AS "group",
                   CAST(coalesce(c, 0) AS BIGINT) AS "rows",
                   strftime(last, '%Y-%m-%d %H:%M:%S') AS last_ts,
                   round((epoch_us(as_of) - epoch_us(last)) / 1000000.0, 6)
                     AS lag_seconds,
                   CASE WHEN last IS NULL THEN 'missing'
                        WHEN (epoch_us(as_of) - epoch_us(last)) / 1000000.0
                             > 300.0 THEN 'stale'
                        ELSE 'fresh' END AS verdict
            FROM j ORDER BY "group"
        """,
        "expectation_counts": """
            WITH base AS (
              SELECT count(*) AS n,
                     CAST(sum(CASE WHEN NOT coalesce(l_quantity >= 1 AND l_quantity <= 49, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
                     CAST(sum(CASE WHEN NOT coalesce(l_discount >= 0.0 AND l_discount <= 0.1, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
                     CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A', 'N'), FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_flag
              FROM lineitem
            )
            SELECT 'range(l_quantity,[1,49])' AS expectation, n AS n_rows,
                   v_qty AS n_violations, v_qty = 0 AS passed FROM base
            UNION ALL
            SELECT 'range(l_discount,[0.0,0.1])', n, v_disc, v_disc = 0 FROM base
            UNION ALL
            SELECT 'in(l_returnflag)', n, v_flag, v_flag = 0 FROM base
            ORDER BY expectation
        """,
        "null_counts": """
            SELECT CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
                   CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
                   count(*) AS n_rows
            FROM events
        """,
        "image_partition_verdicts": (
            _ensure_oracle_img_table(_oracle_img_path())
            or _image_verdicts_sql(_oracle_img_path())
        ),
        "audio_features": (
            _ensure_oracle_audio_truth(_oracle_audio_truth_path())
            or _audio_features_sql(_oracle_audio_truth_path())
        ),
        "video_frames": (
            _ensure_oracle_video_truth(_oracle_video_truth_path())
            or _video_frames_sql(_oracle_video_truth_path())
        ),
        "image_features": (
            _ensure_oracle_img_feat_truth(_oracle_img_feat_truth_path())
            or _image_features_sql(_oracle_img_feat_truth_path())
        ),
        "image_payload_check": (
            _ensure_oracle_pair_truth(_oracle_pair_truth_path())
            or _image_payload_check_sql(_oracle_pair_truth_path())
        ),
        "phash_histogram": (
            _ensure_oracle_img_table(_oracle_img_path())
            or _phash_histogram_sql(_oracle_img_path())
        ),
        "phash_neardups": (
            _ensure_oracle_img_table(_oracle_img_path())
            or _phash_neardups_sql(_oracle_img_path())
        ),
        "phash_contamination": (
            _ensure_oracle_img_table(_oracle_img_path())
            or _phash_contamination_sql(_oracle_img_path())
        ),
        "simhash": _simhash_md5_sql(),
        "minhash_lsh_neardups": _minhash_lsh_sql(),
        "dedup_neardup_drop": _neardup_drop_sql(),
        "ann_cosine_topk_lsh": _ann_lsh_sql(planes16, bands=4),
        "ann_ivf_topk": _ann_ivf_sql(
            seed_centroids(EMB_DIM, IVF_CELLS, 42), n_probe=IVF_PROBE
        ),
        "ann_ivf_topk_many": _ann_ivf_many_sql(
            seed_centroids(EMB_DIM, IVF_CELLS, 42), n_probe=IVF_PROBE
        ),
        "embedding_neardups_lsh": _embedding_lsh_sql(planes16, bands=8),
        "streaming_volume": _streaming_volume_sql(),
        "streaming_silence": _streaming_silence_sql(),
        "streaming_verdicts": _streaming_verdicts_sql(),
        "streaming_cumulative": _streaming_cumulative_sql(),
        "streaming_embedding": _streaming_embedding_sql(),
        "mmd_stat": _mmd_stat_sql(),
        "embedding_drift": _embedding_drift_sql(),
        "timeline": (
            _ensure_oracle_results_json(_oracle_results_path())
            or _timeline_sql(_oracle_results_path())
        ),
        "timeline_features": (
            _ensure_oracle_results_json(_oracle_results_path())
            or _timeline_features_sql(_oracle_results_path())
        ),
        "timeline_summary": (
            _ensure_oracle_results_json(_oracle_results_path())
            or _timeline_summary_sql(_oracle_results_path())
        ),
        "timeline_charts": (
            _ensure_oracle_results_json(_oracle_results_path())
            or _timeline_charts_sql(_oracle_results_path())
        ),
    }
