"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship profile; ``queries()`` maps
every implemented operator family (SURVEY.md §2 + the training-data
pipeline ops) to a callable on the driver-generated parquet tables;
``oracle_sql()`` provides DuckDB-equivalent SQL for each
SQL-expressible query.  Column names/aliases match pairwise so the
driver's order-insensitive value-hash comparison lines up.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# table helpers
# ---------------------------------------------------------------------------
LI_NUMERIC = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]
LI_STRING = ["l_returnflag", "l_linestatus"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]  # domain guess;
# the domain check is exercised by whatever subset exists (see q)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # balance_scan: the testdata tables are single-row-group files, so a
    # raw scan cannot split below one task; the guard is a no-op on
    # well-laid-out (multi-file / multi-row-group) production tables.
    from datapatterns_spark.sources.tables import balance_scan

    return balance_scan(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full profile of lineitem at sf0.001."""
    from datapatterns_spark.operators.profile import profile

    return profile(_t(spark, "/root/testdata/sf0.001", "lineitem"))


# ---------------------------------------------------------------------------
# SQL-building helpers for the oracles
# ---------------------------------------------------------------------------
def _union_src(cols: list[tuple[str, str]], table: str, where: str = "") -> str:
    """UNION ALL of SELECT '<attr>' AS attribute, <expr> ... per column."""
    parts = []
    for attr, expr in cols:
        w = f" WHERE {where.format(c=attr)}" if where else ""
        parts.append(f"SELECT '{attr}' AS attribute, {expr.format(c=attr)} FROM {table}{w}")
    return " UNION ALL ".join(parts)


_NUM_FILLED = "{c} IS NOT NULL AND {c} <> 0"
_STR_FILLED = "length(trim(coalesce(CAST({c} AS VARCHAR), ''))) > 0"

# the pattern palette in DuckDB (RE2): Lu->A, lower-ish->a, digits->9
_PATTERN_SQL = (
    "translate(regexp_replace(regexp_replace({v}, '\\p{{Lu}}', 'A', 'g'),"
    " '[\\p{{Ll}}\\p{{Lt}}\\p{{Lm}}\\p{{Lo}}]', 'a', 'g'),"
    " '0123456789', '9999999999')"
)
# best-type flags need '0' kept literal (digits 1-9 only -> 9)
_PATTERN0_SQL = (
    "translate(regexp_replace(regexp_replace({v}, '\\p{{Lu}}', 'A', 'g'),"
    " '[\\p{{Ll}}\\p{{Lt}}\\p{{Lm}}\\p{{Lo}}]', 'a', 'g'),"
    " '123456789', '999999999')"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from datapatterns_spark.operators import constraints as C
    from datapatterns_spark.operators.benford import benford
    from datapatterns_spark.operators.cardinality import cardinality
    from datapatterns_spark.operators.profile import profile
    from datapatterns_spark.operators.validation import validate
    from datapatterns_spark.sources.transcripts import (
        generate_transcripts,
        transcript_check_suite,
    )

    def q_profile_fill_lengths(spark, sf):
        """Fill stats over lineitem + length stats over documents in
        one entry (the round-3 entry consolidation; formerly
        profile_fill + profile_lengths, unchanged semantics — the
        discriminator is the src column)."""
        fills = profile(_t(spark, sf, "lineitem"), features=("fill_rate",)).select(
            F.lit("lineitem").alias("src"),
            "attribute",
            "rec_count",
            "fill_count",
            F.col("fill_rate").cast("double").alias("fill_rate"),
            F.lit(None).cast("long").alias("min_length"),
            F.lit(None).cast("long").alias("max_length"),
            F.lit(None).cast("long").alias("ave_length"),
        )
        lengths = profile(
            _t(spark, sf, "documents"),
            field_list=["text", "lang", "source"],
            features=("lengths",),
        ).select(
            F.lit("documents").alias("src"),
            "attribute",
            F.lit(None).cast("long").alias("rec_count"),
            F.lit(None).cast("long").alias("fill_count"),
            F.lit(None).cast("double").alias("fill_rate"),
            F.col("min_length").cast("long").alias("min_length"),
            F.col("max_length").cast("long").alias("max_length"),
            F.col("ave_length").cast("long").alias("ave_length"),
        )
        return fills.unionByName(lengths)

    def q_profile_numeric(spark, sf):
        p = profile(
            _t(spark, sf, "lineitem"),
            field_list=LI_NUMERIC,
            features=("min_max", "mean", "std_dev", "quartiles"),
        )
        return p.select(
            "attribute",
            F.col("numeric_min").alias("nmin"),
            F.col("numeric_max").alias("nmax"),
            F.col("numeric_mean").alias("nmean"),
            F.col("numeric_std_dev").alias("nstd"),
            F.col("numeric_lower_quartile").alias("q1"),
            F.col("numeric_median").alias("q2"),
            F.col("numeric_upper_quartile").alias("q3"),
        )

    def q_profile_cardinality(spark, sf):
        return profile(
            _t(spark, sf, "lineitem"), features=("cardinality",)
        ).select("attribute", "cardinality")

    def q_profile_modes(spark, sf):
        p = profile(
            _t(spark, sf, "lineitem"), field_list=LI_STRING, features=("modes",)
        )
        m = p.select("attribute", F.explode("modes").alias("m"))
        return m.select(
            "attribute", F.col("m.value").alias("value"), F.col("m.rec_count").alias("rec_count")
        )

    def q_profile_patterns(spark, sf):
        p = profile(
            _t(spark, sf, "documents"),
            field_list=["lang", "source", "text"],
            features=("patterns",),
        )
        e = p.select("attribute", F.explode("popular_patterns").alias("pp"))
        return e.select(
            "attribute",
            F.col("pp.data_pattern").alias("data_pattern"),
            F.col("pp.rec_count").alias("rec_count"),
            F.col("pp.example").alias("example"),
        )

    def q_profile_best_type(spark, sf):
        return profile(
            _t(spark, sf, "events"),
            field_list=["event_type", "props"],
            features=("best_ecl_types",),
        ).select("attribute", "best_attribute_type")

    def q_cardinality_histogram(spark, sf):
        return cardinality(_t(spark, sf, "events"), field_list=["event_type"])

    def q_benford_digits(spark, sf):
        """Benford digit-1 AND digit-2 distributions in one entry (the
        round-3 entry consolidation; formerly benford_digit1 +
        benford_digit2, unchanged per-digit semantics — the full
        NthDigit rule incl. implied trailing zeros for digit 2)."""
        li = _t(spark, sf, "lineitem")
        d1 = benford(
            li,
            field_list=["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"],
        ).withColumn("digit", F.lit(1))
        d2 = benford(
            li,
            field_list=["l_orderkey", "l_quantity", "l_extendedprice"],
            digit=2,
        ).withColumn("digit", F.lit(2))
        return d1.unionByName(d2)

    def q_benford_stock(spark, sf):
        # the reference README's Benford stock-data walkthrough
        # (README.md:846-865) at correctness scale: same column shape,
        # deterministic synthetic quotes (sources/stock.py), exact
        # DuckDB oracle regenerating the table from (n_rows, seed).
        # bench.py runs the same workload at the walkthrough's 20.9M
        # rows as a second headline.
        from datapatterns_spark.sources.stock import generate_stock_quotes

        return benford(
            generate_stock_quotes(spark, 50_000),
            field_list=["opening_price", "closing_price", "trade_date"],
        )

    def q_validate(spark, sf):
        """Both Validate() rule surfaces in one entry (round-4 entry
        consolidation; formerly validate_rules + validate_allfilled,
        unchanged semantics): expression/helper rules over lineitem
        (src='lineitem') unioned with the AllFieldsFilled() helper
        over customer (src='customer')."""

        def grouped(v, src):
            return (
                v.groupBy(
                    F.concat_ws(
                        ",", F.col("validation_results.violations")
                    ).alias("violations"),
                    F.col("validation_results.num_violations").alias(
                        "num_violations"
                    ),
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(src).alias("src"), "*")
            )

        v1 = validate(
            _t(spark, sf, "lineitem"),
            "QtyPositive:l_quantity > 0;"
            "DiscSmall:l_discount <= 0.06;"
            "TaxSmall:l_tax <= 0.04;"
            "FlagUpper:IsOnlyUppercase(l_returnflag)",
        )
        v2 = validate(
            _t(spark, sf, "customer"),
            "AllFilled:AllFieldsFilled();BalPos:c_acctbal >= 0",
        )
        return grouped(v1, "lineitem").unionByName(grouped(v2, "customer"))

    def q_constraint_verdicts(spark, sf):
        ev = _t(spark, sf, "events")
        checks = [
            C.unique("unique_user_ts", ["user_id", "ts"]),
            C.in_domain("event_type_domain", "event_type", EVENT_TYPES),
            C.monotonic("ts_monotonic_by_event", "ts", "user_id", "event_id"),
            C.row_rule("value_not_negative", "value >= 0"),
        ]
        verdicts, _ = C.run_checks(ev, checks, key_cols=["event_id"])
        return verdicts.select("check_name", "passed", "violation_count")

    def q_verdicts_per_partition(spark, sf):
        """Per-PARTITION verdict grain (the north_rule's output shape):
        one (partition, check) row per o_orderpriority value, with a
        duplicate-key group that spans partitions counted by each
        member row's own partition."""
        od = _t(spark, sf, "orders")
        checks = [
            C.unique("unique_cust_date", ["o_custkey", "o_orderdate"]),
            C.in_domain("status_closed", "o_orderstatus", ["O", "F"]),
            C.row_rule("price_positive", "o_totalprice >= 0"),
        ]
        verdicts, _ = C.run_checks(
            od, checks, partition_col="o_orderpriority", key_cols=["o_orderkey"]
        )
        return verdicts.select(
            "partition", "check_name", "passed", "violation_count"
        )

    def q_drift_metrics(spark, sf):
        """All three drift detectors (PSI / JS / KS) in ONE run_checks
        pass over lineitem — one scan computes every histogram (the
        round-3 entry consolidation; formerly drift_psi + drift_js +
        drift_ks, unchanged semantics per metric)."""
        li = _t(spark, sf, "lineitem")
        checks = [
            C.drift_psi(
                "qty_psi", "l_quantity", [1.0 / 32] * 32,
                bins=32, lo=1.0, hi=51.0, threshold=0.05,
            ),
            C.drift_js(
                "qty_js", "l_quantity", [1.0 / 32] * 32,
                bins=32, lo=1.0, hi=51.0, threshold=0.02,
            ),
            C.drift_ks(
                "price_ks", "l_extendedprice", [1.0 / 64] * 64,
                bins=64, lo=900.0, hi=105000.0, threshold=0.1,
            ),
        ]
        verdicts, _ = C.run_checks(li, checks)
        return verdicts.select("check_name", "passed", "metric")

    def q_constraint_alternation(spark, sf):
        """no_consecutive (alternation-class) check over events: flag
        users firing the same event_type twice in a row."""
        ev = _t(spark, sf, "events")
        verdicts, _ = C.run_checks(
            ev,
            [
                C.no_consecutive(
                    "no_repeat_event_type", "event_type", "user_id", "event_id"
                )
            ],
        )
        return verdicts.select("check_name", "passed", "violation_count")

    def q_validate_fixes(spark, sf):
        """Both Fix() forms in one entry (the round-3 entry
        consolidation; formerly validate_fix + validate_fix_swap,
        unchanged semantics): assignment + SkipRecord() over lineitem
        (aggregate digest row, label 'lineitem_fix') unioned with
        Swap() over part (per-brand counts)."""
        from datapatterns_spark.operators.validation import fix as vfix

        v1 = validate(
            _t(spark, sf, "lineitem"),
            "QtyBig:l_quantity <= 45;DiscSmall:l_discount <= 0.06",
        )
        f1 = vfix(v1, "QtyBig: l_quantity := 45; DiscSmall: SkipRecord()").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("double")), 2).alias("sum_price"),
        ).select(F.lit("lineitem_fix").alias("label"), "n", "sum_qty", "sum_price")

        v2 = validate(_t(spark, sf, "part"), "SizeSmall:p_size <= 25")
        f2 = (
            vfix(v2, "SizeSmall: Swap(p_brand, p_type)")
            .groupBy(F.col("p_brand").alias("label"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "label",
                "n",
                F.lit(None).cast("double").alias("sum_qty"),
                F.lit(None).cast("double").alias("sum_price"),
            )
        )
        return f1.unionByName(f2)

    def q_profile_correlations(spark, sf):
        p = profile(
            _t(spark, sf, "lineitem"),
            field_list=LI_NUMERIC,
            features=("correlations",),
        )
        e = p.select("attribute", F.explode("correlations").alias("c"))
        return e.select(
            "attribute",
            F.col("c.attribute").alias("other"),
            F.round("c.corr", 4).alias("corr"),
        )

    def q_profile_breakdown(spark, sf):
        p = profile(
            _t(spark, sf, "events"),
            field_list=["event_type"],
            features=("cardinality_breakdown",),
        )
        e = p.select("attribute", F.explode("cardinality_breakdown").alias("b"))
        return e.select(
            "attribute",
            F.col("b.value").alias("value"),
            F.col("b.rec_count").alias("rec_count"),
        )

    def q_profile_normalize_compare(spark, sf):
        """NormalizeProfileResults + profile-vs-profile diff in one
        entry (the round-3 entry consolidation; formerly
        normalize_profile + profile_compare, unchanged semantics).
        part='profile' rows are the melted key/value triples of the
        whole-table profile; part='compare' rows diff that profile
        against the non-'en' subset (the reference's stated
        NormalizeProfileResults workflow), integer-valued stats only."""
        from datapatterns_spark.operators.normalize import (
            compare_profiles,
            normalize_profile_results,
        )

        docs = _t(spark, sf, "documents")
        fields = ["lang", "source"]

        p = profile(
            docs,
            field_list=fields,
            features=("fill_rate", "cardinality", "lengths"),
        )
        n = normalize_profile_results(p).filter(
            F.col("key").isin(
                "rec_count", "fill_count", "cardinality",
                "min_length", "max_length", "ave_length",
            )
        )
        a = n.select(
            F.lit("profile").alias("part"),
            "attribute",
            "key",
            F.col("value").alias("value_old"),
            F.lit(None).cast("string").alias("value_new"),
            F.lit(None).cast("boolean").alias("changed"),
        )

        feats = ("fill_rate", "lengths")
        old = profile(docs, field_list=fields, features=feats)
        new = profile(
            docs.filter(F.col("lang") != "en"), field_list=fields, features=feats
        )
        b = compare_profiles(old, new).filter(
            F.col("key").isin(
                "rec_count", "fill_count",
                "min_length", "max_length", "ave_length",
            )
        ).select(
            F.lit("compare").alias("part"),
            "attribute",
            "key",
            "value_old",
            "value_new",
            "changed",
        )
        return a.unionByName(b)

    def q_best_record(spark, sf):
        from datapatterns_spark.operators.best_record import best_record_structure

        return best_record_structure(_t(spark, sf, "events"))

    def q_apply_best_types(spark, sf):
        """Spark-native rewrite TRANSFORM (the reference's
        emitTransform, BestRecordStructure.ecl:14-16): columns stored
        as strings are cast to the lattice's recommendation; native
        temporal and already-numeric columns pass through."""
        from datapatterns_spark.operators.best_record import apply_best_types

        src = _t(spark, sf, "orders").select(
            F.col("o_orderkey").cast("string").alias("o_orderkey"),
            F.col("o_totalprice").cast("string").alias("o_totalprice"),
            "o_orderstatus",
            "o_orderdate",
        )
        return apply_best_types(src)

    def q_transcript_suite(spark, sf):
        df = generate_transcripts(spark, n_conversations=2000, seed=42, violation_rate=0.003)
        verdicts, _ = C.run_checks(
            df, transcript_check_suite(), key_cols=["conv_id", "turn_idx"]
        )
        return verdicts.select("check_name", "passed", "violation_count")

    def q_profile_approx(spark, sf):
        """The 10^12-row profile path.  Projected to its DETERMINISTIC
        columns so the driver gets an exact value check: counts,
        lengths and numeric moments are exact even in approx mode
        (single-pass sums); cardinality/quartiles are HLL/percentile
        sketches (excluded here — tolerance-tested in
        tests/test_scale_modes.py)."""
        p = profile(_t(spark, sf, "lineitem"), mode="approx")
        return p.select(
            "attribute", "rec_count", "fill_count",
            "min_length", "max_length", "ave_length",
            "numeric_min", "numeric_max", "numeric_mean", "numeric_std_dev",
        )

    def q_profile_incremental(spark, sf):
        """Mergeable per-partition profile states folded into a table
        profile: merge of per-o_orderpriority states must equal a
        whole-table pass exactly for every decomposable statistic."""
        from datapatterns_spark.operators.incremental import (
            merge_states,
            profile_state,
        )

        states = profile_state(
            _t(spark, sf, "orders"),
            "o_orderpriority",
            field_list=["o_orderkey", "o_custkey", "o_orderstatus"],
        )
        return merge_states(states).select(
            "attribute",
            "rec_count",
            "fill_count",
            "fill_rate",
            "min_length",
            "max_length",
            "ave_length",
            F.col("numeric_min").alias("nmin"),
            F.col("numeric_max").alias("nmax"),
            F.col("numeric_mean").alias("nmean"),
            F.col("numeric_std_dev").alias("nstd"),
        )

    def q_profile_quantile_sketch(spark, sf):
        """Mergeable KLL quantile state: per-partition sketches merged
        into table quartiles, checked against the DATA rather than
        against a SQL twin (a KLL sketch has no tractable SQL
        re-derivation).  Output rows carry the MEASURED exact rank of
        each merged estimate, bucketed to the nearest 0.25 — equal to
        the target quantile only when the sketch meets its rank error
        contract.  Two drift rows pin digest_drift at its analytic
        extremes: KS of a distribution against itself (0) and against
        a disjoint-support shift (1).

        Structural rows pin each merged sketch as a GENUINE summary of
        every filled value: ``n`` is the merged sketch's item count
        (the oracle pins it to the exact filled count), and ``rank_ok``
        is 1.0 only when every quartile's measured rank lies within
        KLL's single-sided normalized rank error for k = 100
        (DataSketches getNormalizedRankError(k, false) = 2.296 /
        k^0.9723 ~= 2.6%).  A sketch that drops values fails ``n``; one
        that misses its rank contract fails ``rank_ok``."""
        from datapatterns_spark.operators.incremental import (
            digest_drift,
            merge_states,
            profile_state,
        )

        orders = _t(spark, sf, "orders")
        attrs = ["o_orderkey", "o_custkey", "o_totalprice"]
        delta = 100.0
        st = profile_state(
            orders, "o_orderpriority", field_list=attrs,
            quantile_delta=delta,
        )
        merged = merge_states(st)
        est = {
            r["attribute"]: r.asDict()
            for r in merged.select(
                "attribute",
                "numeric_lower_quartile",
                "numeric_median",
                "numeric_upper_quartile",
            ).collect()
        }  # 3 tiny rows — driver-bounded by len(attrs)
        # exact rank of each estimate in ONE aggregation over orders
        # (fill rule matches the state pass: non-null, non-zero); the
        # strict count bounds the rank from below where values repeat
        aggs = []
        qcols = {
            0.25: "numeric_lower_quartile",
            0.5: "numeric_median",
            0.75: "numeric_upper_quartile",
        }
        for a in attrs:
            v = F.when(
                F.col(a).isNotNull() & (F.col(a).cast("double") != 0),
                F.col(a).cast("double"),
            )
            for q, col in qcols.items():
                e = float(est[a][col])
                aggs.append(
                    (F.count(F.when(v <= e, 1)) / F.count(v)).alias(
                        f"{a}::{q}"
                    )
                )
                aggs.append(
                    (F.count(F.when(v < e, 1)) / F.count(v)).alias(
                        f"{a}::{q}::lt"
                    )
                )
        ranks = orders.agg(*aggs).collect()[0]
        rows = [
            ("rank", a, q, round(ranks[f"{a}::{q}"] * 4) / 4)
            for a in attrs
            for q in qcols
        ]
        # drift extremes: even vs odd orderkey halves (same
        # distribution -> KS ~0 -> bucket 0), and a disjoint-support
        # shift of o_totalprice (KS = 1 exactly)
        even = orders.where(F.col("o_orderkey") % 2 == 0)
        odd = orders.where(F.col("o_orderkey") % 2 == 1)
        span = orders.agg(
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("s")
        ).collect()[0]["s"]
        shifted = orders.withColumn(
            "o_totalprice", F.col("o_totalprice") + 10.0 * float(span)
        )
        pr = ["o_totalprice"]
        mk = lambda d: profile_state(  # noqa: E731
            d, "o_orderpriority", field_list=pr, quantile_delta=100.0
        )
        same_ks = digest_drift(mk(even), mk(odd)).collect()[0]["ks"]
        far_ks = digest_drift(mk(even), mk(shifted)).collect()[0]["ks"]
        rows.append(("drift_same", "o_totalprice", 0.0, round(same_ks * 4) / 4))
        rows.append(("drift_far", "o_totalprice", 1.0, round(far_ks * 4) / 4))
        # structural pins: per-attribute merged sketch size and rank
        # contract (the state frame is (n_partitions x n_attrs) slim
        # rows, small enough to collect)
        eps = 2.296 / delta**0.9723
        ns = {
            r["attribute"]: r["n"]
            for r in st.groupBy("attribute")
            .agg(
                F.kll_sketch_get_n_double(
                    F.kll_merge_agg_double("q_sketch")
                ).alias("n")
            )
            .collect()
        }
        for a in attrs:
            rows.append(("n", a, 1.0, float(ns[a])))
            ok = all(
                ranks[f"{a}::{q}"] >= q - eps
                and ranks[f"{a}::{q}::lt"] <= q + eps
                for q in qcols
            )
            rows.append(("rank_ok", a, 1.0, 1.0 if ok else 0.0))
        from datapatterns_spark.plans.local import lit_df

        return lit_df(
            spark, rows, "part string, attribute string, q double, val double"
        )

    # Round-3 note: the driver's correctness gate records at most 50
    # entries (CORRECTNESS_r02 covered exactly the first 50 of 60), so
    # same-grain entries are consolidated — every operator keeps
    # coverage, the mapping is documented in COVERAGE.md §"entry
    # consolidation".
    return {
        "profile_fill_lengths": q_profile_fill_lengths,
        "profile_numeric_stats": q_profile_numeric,
        "profile_cardinality": q_profile_cardinality,
        "profile_modes": q_profile_modes,
        "profile_patterns": q_profile_patterns,
        "profile_best_type": q_profile_best_type,
        "cardinality_histogram": q_cardinality_histogram,
        "benford_digits": q_benford_digits,
        "benford_stock": q_benford_stock,
        "validate_rules": q_validate,
        "constraint_verdicts": q_constraint_verdicts,
        "verdicts_per_partition": q_verdicts_per_partition,
        "drift_metrics": q_drift_metrics,
        "constraint_alternation": q_constraint_alternation,
        "validate_fixes": q_validate_fixes,
        "profile_correlations": q_profile_correlations,
        "profile_cardinality_breakdown": q_profile_breakdown,
        "profile_normalize_compare": q_profile_normalize_compare,
        "transcript_suite": q_transcript_suite,
        "profile_approx": q_profile_approx,
        "best_record_structure": q_best_record,
        "apply_best_types": q_apply_best_types,
        "profile_incremental": q_profile_incremental,
        "profile_quantile_sketch": q_profile_quantile_sketch,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------
def oracle_sql() -> dict[str, str]:
    # ---- profile_fill ----
    fill_parts = []
    for c in LI_NUMERIC:
        fill_parts.append(
            f"SELECT '{c}' AS attribute, COUNT(*) AS rec_count,"
            f" CAST(SUM(CASE WHEN {c} IS NOT NULL AND {c} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS fill_count"
            f" FROM lineitem"
        )
    for c in LI_STRING:
        fill_parts.append(
            f"SELECT '{c}' AS attribute, COUNT(*) AS rec_count,"
            f" CAST(SUM(CASE WHEN length(trim(coalesce({c},''))) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fill_count"
            f" FROM lineitem"
        )
    fill_parts.append(
        "SELECT 'l_shipdate' AS attribute, COUNT(*) AS rec_count,"
        " CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fill_count"
        " FROM lineitem"
    )
    profile_fill = (
        "SELECT attribute, rec_count, fill_count,"
        " ROUND(fill_count * 100.0 / rec_count, 6) AS fill_rate FROM ("
        + " UNION ALL ".join(fill_parts)
        + ")"
    )

    # ---- profile_numeric_stats (exact ECL quartile position math) ----
    src = _union_src(
        [(c, f"CAST({c} AS DOUBLE) AS v") for c in LI_NUMERIC],
        "lineitem",
        where=_NUM_FILLED,
    )
    profile_numeric = f"""
WITH src AS ({src}),
hist AS (SELECT attribute, v, COUNT(*) AS cnt FROM src GROUP BY 1, 2),
pos AS (
  SELECT attribute, v, cnt,
         SUM(cnt) OVER (PARTITION BY attribute ORDER BY v) AS cum,
         SUM(cnt) OVER (PARTITION BY attribute) AS total
  FROM hist),
p AS (
  SELECT *,
         total // 2 AS half,
         (total // 2) + (total % 2) AS q2p1,
         (total // 2) + (total % 2) + ((total + 1) % 2) AS q2p2,
         ((total // 2) // 2) + ((total // 2) % 2) AS q1p1,
         ((total // 2) // 2) + ((total // 2) % 2) + (((total // 2) + 1) % 2) AS q1p2
  FROM pos),
p2 AS (
  SELECT *,
         GREATEST(q2p1, q2p2) + ((half) // 2) + (half % 2) AS q3p1,
         GREATEST(q2p1, q2p2) + ((half) // 2) + (half % 2) - ((half + 1) % 2) AS q3p2
  FROM p)
SELECT attribute,
       ROUND(MIN(v), 4) AS nmin,
       ROUND(MAX(v), 4) AS nmax,
       ROUND(SUM(v * cnt) / SUM(cnt), 4) AS nmean,
       ROUND(SQRT(SUM(v * v * cnt) / SUM(cnt) - (SUM(v * cnt) / SUM(cnt)) * (SUM(v * cnt) / SUM(cnt))), 4) AS nstd,
       ROUND(CASE WHEN MAX(half) > 0 THEN (MIN(CASE WHEN cum >= q1p1 THEN v END) + MIN(CASE WHEN cum >= q1p2 THEN v END)) / 2 ELSE 0 END, 4) AS q1,
       ROUND((MIN(CASE WHEN cum >= q2p1 THEN v END) + MIN(CASE WHEN cum >= q2p2 THEN v END)) / 2, 4) AS q2,
       ROUND(CASE WHEN MAX(half) > 0 THEN (MIN(CASE WHEN cum >= q3p1 THEN v END) + MIN(CASE WHEN cum >= q3p2 THEN v END)) / 2 ELSE 0 END, 4) AS q3
FROM p2 GROUP BY attribute
"""

    # ---- profile_cardinality ----
    card_parts = []
    for c in LI_NUMERIC:
        card_parts.append(
            f"SELECT '{c}' AS attribute, CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT)"
            f" AS cardinality FROM lineitem WHERE {c} IS NOT NULL AND {c} <> 0"
        )
    for c in LI_STRING:
        card_parts.append(
            f"SELECT '{c}' AS attribute, CAST(COUNT(DISTINCT trim({c})) AS BIGINT)"
            f" AS cardinality FROM lineitem WHERE length(trim(coalesce({c},''))) > 0"
        )
    card_parts.append(
        "SELECT 'l_shipdate' AS attribute, CAST(COUNT(DISTINCT l_shipdate) AS BIGINT)"
        " AS cardinality FROM lineitem WHERE l_shipdate IS NOT NULL"
    )
    profile_cardinality = " UNION ALL ".join(card_parts)

    # ---- profile_lengths (trimmed, filled only, weighted trunc ave) ----
    len_parts = [
        f"SELECT '{c}' AS attribute, length(trim(coalesce({c},''))) AS len FROM documents"
        f" WHERE length(trim(coalesce({c},''))) > 0"
        for c in ["text", "lang", "source"]
    ]
    profile_lengths = (
        "SELECT attribute, CAST(MIN(len) AS BIGINT) AS min_length,"
        " CAST(MAX(len) AS BIGINT) AS max_length,"
        " CAST(FLOOR(SUM(len) * 1.0 / COUNT(*)) AS BIGINT) AS ave_length FROM ("
        + " UNION ALL ".join(len_parts)
        + ") GROUP BY attribute"
    )

    # ---- profile_fill_lengths (round-3 consolidation of the two) ----
    profile_fill_lengths_sql = f"""
SELECT 'lineitem' AS src, attribute, rec_count, fill_count, fill_rate,
       CAST(NULL AS BIGINT) AS min_length, CAST(NULL AS BIGINT) AS max_length,
       CAST(NULL AS BIGINT) AS ave_length
FROM ({profile_fill})
UNION ALL
SELECT 'documents', attribute, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), min_length, max_length, ave_length
FROM ({profile_lengths})
"""

    # ---- profile_modes (top-5 tied at max, count > 1) ----
    mode_src = _union_src(
        [(c, f"trim({c}) AS value") for c in LI_STRING], "lineitem", where=_STR_FILLED
    )
    profile_modes = f"""
WITH src AS ({mode_src}),
vh AS (SELECT attribute, value, COUNT(*) AS rec_count FROM src GROUP BY 1, 2),
m AS (SELECT *, MAX(rec_count) OVER (PARTITION BY attribute) AS mx,
             ROW_NUMBER() OVER (PARTITION BY attribute ORDER BY rec_count DESC, value) AS rn
      FROM vh)
SELECT attribute, value, rec_count FROM m WHERE rn <= 5 AND rec_count = mx AND rec_count > 1
"""

    # ---- profile_patterns (top 100 by count desc, pattern asc) ----
    pat_v = _PATTERN_SQL.format(v="substr(value, 1, 100)")
    pat_src = _union_src(
        [(c, f"trim({c}) AS value") for c in ["lang", "source", "text"]],
        "documents",
        where=_STR_FILLED,
    )
    profile_patterns = f"""
WITH src AS ({pat_src}),
pat AS (SELECT attribute, {pat_v} AS data_pattern,
               COUNT(*) AS rec_count, MIN(substr(value, 1, 100)) AS example
        FROM src GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY attribute ORDER BY rec_count DESC, data_pattern) AS rn FROM pat)
SELECT attribute, data_pattern, rec_count, example FROM r WHERE rn <= 100
"""

    # ---- profile_best_type (flags AND-fold + ladder) ----
    bt_src = _union_src(
        [(c, f"trim(CAST({c} AS VARCHAR)) AS value") for c in ["event_type", "props"]],
        "events",
        where=_STR_FILLED,
    )
    pat0 = _PATTERN0_SQL.format(v="value")

    def _bt_lattice(src_sql: str) -> str:
        """Best-type lattice (flags AND-fold + Len2Size ladder) over a
        ``(attribute, value)`` union source — reused by
        profile_best_type and best_record_structure."""
        return f"""
WITH src AS ({src_sql}),
pv AS (SELECT attribute, value, {pat0} AS pat FROM src),
fl AS (SELECT attribute, length(value) AS len,
              regexp_matches(value, '[^\\x00-\\x7F]') AS uni,
              CASE
                WHEN regexp_matches(pat, '^0[09]{{1,18}}$') THEN 0
                WHEN regexp_matches(pat, '^\\-[09]{{1,19}}$') THEN 13
                WHEN regexp_matches(pat, '^[09]{{1,19}}$') THEN 15
                WHEN regexp_matches(pat, '^\\+?[09]{{1,20}}$') THEN 14
                WHEN regexp_matches(pat, '^(\\-|\\+)?[09]{{0,15}}\\.[09]{{1,15}}$') THEN 12
                WHEN regexp_matches(pat, '^(\\-|\\+)?[09]\\.[09]{{1,6}}[aA]\\-[09]{{1,3}}$') THEN 8
                ELSE 0 END AS flag
       FROM pv),
agg AS (SELECT attribute, BIT_AND(flag) AS flags, MAX(len) AS maxlen,
               COALESCE(MIN(CASE WHEN len > 0 THEN len END), 0) AS minlen,
               BOOL_OR(uni) AS uni
        FROM fl GROUP BY attribute)
SELECT attribute,
  CASE
    WHEN (flags & 2) <> 0 THEN 'unsigned' || CAST(CASE WHEN maxlen < 3 THEN 1 WHEN maxlen < 5 THEN 2 WHEN maxlen < 7 THEN 3 WHEN maxlen < 9 THEN 4 WHEN maxlen < 11 THEN 5 WHEN maxlen < 14 THEN 6 WHEN maxlen < 16 THEN 7 ELSE 8 END AS VARCHAR)
    WHEN (flags & 1) <> 0 THEN 'integer' || CAST(CASE WHEN maxlen < 3 THEN 1 WHEN maxlen < 5 THEN 2 WHEN maxlen < 7 THEN 3 WHEN maxlen < 9 THEN 4 WHEN maxlen < 11 THEN 5 WHEN maxlen < 14 THEN 6 WHEN maxlen < 16 THEN 7 ELSE 8 END AS VARCHAR)
    WHEN (flags & 4) <> 0 THEN 'real' || (CASE WHEN maxlen < 8 THEN '4' ELSE '8' END)
    WHEN (flags & 8) <> 0 THEN 'real8'
    WHEN uni THEN 'utf8'
    ELSE 'string' || (CASE WHEN maxlen > 0 AND maxlen < minlen * 1000 THEN CAST(maxlen AS VARCHAR) ELSE '' END)
  END AS best_attribute_type
FROM agg
"""

    profile_best_type = _bt_lattice(bt_src)

    # ---- best_record_structure (layout lines from the same lattice) ----
    # Spark renders a timestamp's string form as
    # 'yyyy-MM-dd HH:mm:ss[.fraction]' with trailing fraction zeros
    # trimmed; replicated here so ts goes through the string lattice
    # exactly as profile sees it.  The given-numeric columns keep their
    # given type (Profile.ecl:1002-1023's numeric passthrough) — schema
    # metadata, emitted as literals.
    _ts_render = (
        "strftime(ts, '%Y-%m-%d %H:%M:%S') || "
        "CASE WHEN strftime(ts, '%f') = '000000' THEN '' "
        "ELSE '.' || rtrim(strftime(ts, '%f'), '0') END"
    )
    brs_src = (
        "SELECT 'event_type' AS attribute, trim(CAST(event_type AS VARCHAR)) AS value"
        " FROM events WHERE " + _STR_FILLED.format(c="event_type")
        + " UNION ALL SELECT 'props' AS attribute, trim(CAST(props AS VARCHAR)) AS value"
        " FROM events WHERE " + _STR_FILLED.format(c="props")
        + f" UNION ALL SELECT 'ts' AS attribute, {_ts_render} AS value"
        " FROM events WHERE ts IS NOT NULL"
    )
    # apply_best_types: the lattice itself is oracled end-to-end by
    # profile_best_type / best_record_structure; this oracle pins the
    # REWRITE — the expected inferred targets (o_orderkey 5-digit
    # unsigned3 -> INTEGER, o_totalprice 8-digit float -> DOUBLE) as
    # literal casts, plus passthrough of string/timestamp columns.  A
    # drifted inference changes the Spark schema and fails the match.
    apply_best_types_sql = """
SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       o_orderstatus,
       o_orderdate
FROM orders
"""

    best_record_sql = f"""
WITH best AS ({_bt_lattice(brs_src)})
SELECT 'NewLayout := RECORD' AS txt
UNION ALL SELECT '    bigint event_id;'
UNION ALL SELECT '    ' || best_attribute_type || ' ts;' FROM best WHERE attribute = 'ts'
UNION ALL SELECT '    bigint user_id;'
UNION ALL SELECT '    ' || best_attribute_type || ' event_type;' FROM best WHERE attribute = 'event_type'
UNION ALL SELECT '    double value;'
UNION ALL SELECT '    ' || best_attribute_type || ' props;' FROM best WHERE attribute = 'props'
UNION ALL SELECT 'END;'
"""

    # ---- verdicts_per_partition (per-partition verdict grain) ----
    verdicts_per_partition_sql = """
WITH parts AS (SELECT DISTINCT o_orderpriority AS partition FROM orders),
dup AS (
  SELECT o.o_orderpriority AS partition, COUNT(*) AS vc
  FROM orders o
  JOIN (SELECT o_custkey, o_orderdate FROM orders
        GROUP BY 1, 2 HAVING COUNT(*) > 1) d
    USING (o_custkey, o_orderdate)
  GROUP BY 1),
dom AS (
  SELECT o_orderpriority AS partition,
         SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F') OR o_orderstatus IS NULL
                  THEN 1 ELSE 0 END) AS vc
  FROM orders GROUP BY 1),
pr AS (
  SELECT o_orderpriority AS partition,
         SUM(CASE WHEN NOT (o_totalprice >= 0) OR o_totalprice IS NULL
                  THEN 1 ELSE 0 END) AS vc
  FROM orders GROUP BY 1)
SELECT partition, 'unique_cust_date' AS check_name,
       COALESCE(vc, 0) = 0 AS passed,
       COALESCE(vc, 0)::BIGINT AS violation_count
FROM parts LEFT JOIN dup USING (partition)
UNION ALL SELECT partition, 'status_closed', vc = 0, vc::BIGINT FROM dom
UNION ALL SELECT partition, 'price_positive', vc = 0, vc::BIGINT FROM pr
"""

    # ---- transcript_suite (flagship checks, generator re-derived) ----
    # generate_transcripts is pure xxhash64 arithmetic, so DuckDB can
    # regenerate the identical table from (n, seed) and re-derive every
    # suite verdict from first principles (functions/transcripts_sql.py)
    from datapatterns_spark.functions.transcripts_sql import (
        transcript_suite_sql,
    )
    from datapatterns_spark.operators.constraints import CRITICAL_1, EXPECTED
    from datapatterns_spark.sources.transcripts import (
        _TURN_KS_BASELINE,
        _TURN_PSI_BASELINE,
    )

    transcript_suite_oracle = transcript_suite_sql(
        n_conversations=2000,
        seed=42,
        violation_rate=0.003,
        psi_baseline=_TURN_PSI_BASELINE,
        ks_baseline=_TURN_KS_BASELINE,
        benford_expected=EXPECTED[1],
        benford_critical=CRITICAL_1,
    )

    # ---- cardinality_histogram (raw values, no trim/filter) ----
    cardinality_histogram = (
        "SELECT 'event_type' AS attribute, coalesce(CAST(event_type AS VARCHAR), '') AS value,"
        " COUNT(*) AS rec_count FROM events GROUP BY 1, 2"
    )

    # ---- benford (digit 1) ----
    ben_cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"]
    ben_src_parts = [
        f"SELECT {i + 1} AS ord, '{c}' AS attribute,"
        f" CASE WHEN regexp_extract(CAST({c} AS VARCHAR), '[1-9]') <> ''"
        f" THEN CAST(regexp_extract(CAST({c} AS VARCHAR), '[1-9]') AS INT)"
        f" WHEN contains(CAST({c} AS VARCHAR), '.') THEN 0 ELSE 10 END AS n"
        f" FROM lineitem"
        for i, c in enumerate(ben_cols)
    ]
    digit_names = ["zero", "one", "two", "three", "four", "five", "six", "seven", "eight", "nine"]
    pct_cols = ",\n       ".join(
        f"ROUND(SUM(CASE WHEN n = {d} THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS {digit_names[d]}"
        for d in range(10)
    )
    expected = {1: 30.1, 2: 17.6, 3: 12.5, 4: 9.7, 5: 7.9, 6: 6.7, 7: 5.8, 8: 5.1, 9: 4.6}
    chi = " + ".join(
        f"(({digit_names[d]} - {e}) * ({digit_names[d]} - {e}) / {e})"
        for d, e in expected.items()
    )
    benford_sql = f"""
WITH src AS ({' UNION ALL '.join(ben_src_parts)}),
agg AS (
  SELECT ord, attribute,
       {pct_cols},
       COUNT(*) AS num_values
  FROM src WHERE n <> 10 GROUP BY ord, attribute),
withchi AS (
  SELECT attribute, CAST(-1.0 AS DOUBLE) AS zero, one, two, three, four, five, six, seven, eight, nine,
         ROUND({chi}, 3) AS chi_squared, CAST(num_values AS BIGINT) AS num_values, ord
  FROM agg)
SELECT attribute, zero, one, two, three, four, five, six, seven, eight, nine, chi_squared, num_values
FROM (
  SELECT * FROM withchi
  UNION ALL
  SELECT '-- EXPECTED DIGIT 1 --', CAST(-1.0 AS DOUBLE), 30.1, 17.6, 12.5, 9.7, 7.9, 6.7, 5.8, 5.1, 4.6,
         CAST(20.090 AS DOUBLE), (SELECT COUNT(*) FROM lineitem), 0
) ORDER BY ord
"""

    # ---- benford_stock (README stock walkthrough; input regenerated
    # in DuckDB from (n_rows, seed) via the pure-SQL XXH64 pipeline) ----
    from datapatterns_spark.functions.stock_sql import stock_rows_sql

    stock_rel = stock_rows_sql(50_000)
    stock_cols = ["opening_price", "closing_price", "trade_date"]
    stock_src_parts = [
        f"SELECT {i + 1} AS ord, '{c}' AS attribute,"
        f" CASE WHEN regexp_extract(CAST({c} AS VARCHAR), '[1-9]') <> ''"
        f" THEN CAST(regexp_extract(CAST({c} AS VARCHAR), '[1-9]') AS INT)"
        f" WHEN contains(CAST({c} AS VARCHAR), '.') THEN 0 ELSE 10 END AS n"
        f" FROM stockq"
        for i, c in enumerate(stock_cols)
    ]
    benford_stock_sql = f"""
WITH stockq AS MATERIALIZED (SELECT * FROM {stock_rel}),
src AS ({' UNION ALL '.join(stock_src_parts)}),
agg AS (
  SELECT ord, attribute,
       {pct_cols},
       COUNT(*) AS num_values
  FROM src WHERE n <> 10 GROUP BY ord, attribute),
withchi AS (
  SELECT attribute, CAST(-1.0 AS DOUBLE) AS zero, one, two, three, four, five, six, seven, eight, nine,
         ROUND({chi}, 3) AS chi_squared, CAST(num_values AS BIGINT) AS num_values, ord
  FROM agg)
SELECT attribute, zero, one, two, three, four, five, six, seven, eight, nine, chi_squared, num_values
FROM (
  SELECT * FROM withchi
  UNION ALL
  SELECT '-- EXPECTED DIGIT 1 --', CAST(-1.0 AS DOUBLE), 30.1, 17.6, 12.5, 9.7, 7.9, 6.7, 5.8, 5.1, 4.6,
         CAST(20.090 AS DOUBLE), (SELECT COUNT(*) FROM stockq), 0
) ORDER BY ord
"""

    # ---- validate ----
    tests = [
        ("QtyPositive", "l_quantity > 0"),
        ("DiscSmall", "l_discount <= 0.06"),
        ("TaxSmall", "l_tax <= 0.04"),
        ("FlagUpper", "regexp_matches(CAST(l_returnflag AS VARCHAR), '^\\p{Lu}+$')"),
    ]
    name_cases = ",\n         ".join(
        f"CASE WHEN ({t}) IS DISTINCT FROM TRUE THEN '{n}' END" for n, t in tests
    )
    cnt_cases = " + ".join(
        f"(CASE WHEN ({t}) IS DISTINCT FROM TRUE THEN 1 ELSE 0 END)" for _, t in tests
    )
    # round-4 consolidation: lineitem rules + customer AllFieldsFilled
    # in one frame, discriminated by src (the af_* pieces are built
    # where the customer helper expansion is derived, below)
    validate_sql_template = """
SELECT 'lineitem' AS src, violations, num_violations, COUNT(*) AS n FROM (
  SELECT concat_ws(',',
         {name_cases}) AS violations,
         CAST({cnt_cases} AS INT) AS num_violations
  FROM lineitem) GROUP BY 1, 2, 3
UNION ALL
SELECT 'customer', violations, num_violations, COUNT(*) AS n FROM (
  SELECT concat_ws(',',
         {af_names}) AS violations,
         CAST({af_cnt} AS INT) AS num_violations
  FROM customer) GROUP BY 1, 2, 3
"""

    # ---- constraint verdicts on events ----
    domain_list = ", ".join(f"'{x}'" for x in EVENT_TYPES)
    constraint_sql = f"""
WITH uq AS (
  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS c FROM (
    SELECT COUNT(*) AS cnt FROM events GROUP BY user_id, ts HAVING COUNT(*) > 1)),
dom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events
  WHERE (event_type IN ({domain_list})) IS DISTINCT FROM TRUE),
mono AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS p FROM events)
  WHERE p IS NOT NULL AND ts < p),
neg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events
  WHERE (value >= 0) IS DISTINCT FROM TRUE)
SELECT 'unique_user_ts' AS check_name, (c = 0) AS passed, c AS violation_count FROM uq
UNION ALL SELECT 'event_type_domain', (c = 0), c FROM dom
UNION ALL SELECT 'ts_monotonic_by_event', (c = 0), c FROM mono
UNION ALL SELECT 'value_not_negative', (c = 0), c FROM neg
"""

    # ---- drift PSI (uniform baseline, fixed lo/hi) ----
    drift_sql = """
WITH hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0) / (50.0 / 32)) AS INT), 0), 31) AS bin,
         COUNT(*) AS cnt
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
tot AS (SELECT SUM(cnt) AS t FROM hist),
grid AS (SELECT CAST(range AS INT) AS bin FROM range(32)),
j AS (
  SELECT g.bin,
         GREATEST(COALESCE(h.cnt, 0) * 1.0 / (SELECT t FROM tot), 0.000001) AS a,
         GREATEST(1.0 / 32, 0.000001) AS b
  FROM grid g LEFT JOIN hist h ON g.bin = h.bin)
SELECT 'qty_psi' AS check_name,
       (ROUND(SUM((a - b) * LN(a / b)), 6) <= 0.05) AS passed,
       ROUND(SUM((a - b) * LN(a / b)), 6) AS psi
FROM j
"""

    # ---- constraint_alternation (no_consecutive over events) ----
    constraint_alternation_sql = """
WITH lagged AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS p
  FROM events),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lagged
      WHERE p IS NOT NULL AND event_type = p)
SELECT 'no_repeat_event_type' AS check_name, (n = 0) AS passed,
       n AS violation_count
FROM c
"""

    # ---- drift JS (uniform baseline, fixed lo/hi) ----
    drift_js_sql = """
WITH hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0) / (50.0 / 32)) AS INT), 0), 31) AS bin,
         COUNT(*) AS cnt
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
tot AS (SELECT SUM(cnt) AS t FROM hist),
grid AS (SELECT CAST(range AS INT) AS bin FROM range(32)),
j AS (
  SELECT g.bin,
         GREATEST(COALESCE(h.cnt, 0) * 1.0 / (SELECT t FROM tot), 0.000001) AS a,
         GREATEST(1.0 / 32, 0.000001) AS b
  FROM grid g LEFT JOIN hist h ON g.bin = h.bin)
SELECT 'qty_js' AS check_name,
       (ROUND(SUM(0.5 * a * LN(a / ((a + b) / 2)) + 0.5 * b * LN(b / ((a + b) / 2))), 6) <= 0.02) AS passed,
       ROUND(SUM(0.5 * a * LN(a / ((a + b) / 2)) + 0.5 * b * LN(b / ((a + b) / 2))), 6) AS js
FROM j
"""

    # ---- drift KS (uniform baseline, fixed lo/hi, binned ECDFs) ----
    drift_ks_sql = """
WITH hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 900.0) / (104100.0 / 64)) AS INT), 0), 63) AS bin,
         COUNT(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
tot AS (SELECT SUM(cnt) AS t FROM hist),
grid AS (SELECT CAST(range AS INT) AS bin FROM range(64)),
j AS (
  SELECT g.bin,
         COALESCE(h.cnt, 0) * 1.0 / (SELECT t FROM tot) AS frac,
         1.0 / 64 AS base_frac
  FROM grid g LEFT JOIN hist h ON g.bin = h.bin),
cdf AS (
  SELECT SUM(frac) OVER (ORDER BY bin) AS ca,
         SUM(base_frac) OVER (ORDER BY bin) AS cb
  FROM j)
SELECT 'price_ks' AS check_name,
       (ROUND(MAX(ABS(ca - cb)), 6) <= 0.1) AS passed,
       ROUND(MAX(ABS(ca - cb)), 6) AS ks
FROM cdf
"""

    # ---- drift_metrics (round-3 consolidation: PSI + JS + KS) ----
    drift_metrics_sql = f"""
SELECT check_name, passed, psi AS metric FROM ({drift_sql})
UNION ALL SELECT check_name, passed, js AS metric FROM ({drift_js_sql})
UNION ALL SELECT check_name, passed, ks AS metric FROM ({drift_ks_sql})
"""

    # ---- validate with AllFieldsFilled() (Validation.ecl:244-261) ----
    cust_cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    allfilled = " AND ".join(
        f"(coalesce(trim(CAST({c} AS VARCHAR)), '') <> '')" for c in cust_cols
    )
    af_tests = [("AllFilled", f"({allfilled})"), ("BalPos", "c_acctbal >= 0")]
    af_names = ",\n         ".join(
        f"CASE WHEN ({t}) IS DISTINCT FROM TRUE THEN '{n}' END" for n, t in af_tests
    )
    af_cnt = " + ".join(
        f"(CASE WHEN ({t}) IS DISTINCT FROM TRUE THEN 1 ELSE 0 END)" for _, t in af_tests
    )
    validate_sql = validate_sql_template.format(
        name_cases=name_cases,
        cnt_cases=cnt_cases,
        af_names=af_names,
        af_cnt=af_cnt,
    )

    # ---- Swap() fix form (Validation.ecl:513-518) ----
    validate_fix_swap_sql = """
SELECT CASE WHEN (p_size <= 25) IS DISTINCT FROM TRUE THEN p_type ELSE p_brand END AS brand,
       COUNT(*) AS n
FROM part GROUP BY 1
"""

    # ---- profile_approx (deterministic columns of the approx path:
    # counts, rendered-string lengths, DECIMAL32_4 numeric moments) ----
    pa_parts = []
    for c in LI_NUMERIC:
        pa_parts.append(
            f"SELECT '{c}' AS attribute,"
            f" CASE WHEN {_NUM_FILLED.format(c=c)} THEN 1 ELSE 0 END AS fil,"
            f" CASE WHEN {_NUM_FILLED.format(c=c)}"
            f" THEN length(CAST({c} AS VARCHAR)) END AS len,"
            f" CASE WHEN {_NUM_FILLED.format(c=c)}"
            f" THEN CAST({c} AS DOUBLE) END AS v"
            f" FROM lineitem"
        )
    for c in LI_STRING:
        pa_parts.append(
            f"SELECT '{c}' AS attribute,"
            f" CASE WHEN {_STR_FILLED.format(c=c)} THEN 1 ELSE 0 END AS fil,"
            f" CASE WHEN {_STR_FILLED.format(c=c)}"
            f" THEN length(trim({c})) END AS len,"
            f" CAST(NULL AS DOUBLE) AS v FROM lineitem"
        )
    pa_parts.append(
        "SELECT 'l_shipdate' AS attribute,"
        " CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END AS fil,"
        " CASE WHEN l_shipdate IS NOT NULL"
        " THEN length(CAST(l_shipdate AS VARCHAR)) END AS len,"
        " CAST(NULL AS DOUBLE) AS v FROM lineitem"
    )
    profile_approx_sql = (
        "SELECT attribute, COUNT(*) AS rec_count,"
        " CAST(SUM(fil) AS BIGINT) AS fill_count,"
        " CAST(MIN(len) AS BIGINT) AS min_length,"
        " CAST(MAX(len) AS BIGINT) AS max_length,"
        " CAST(FLOOR(SUM(len) * 1.0 / SUM(fil)) AS BIGINT) AS ave_length,"
        " COALESCE(ROUND(MIN(v), 4), 0) AS numeric_min,"
        " COALESCE(ROUND(MAX(v), 4), 0) AS numeric_max,"
        " COALESCE(ROUND(AVG(v), 4), 0) AS numeric_mean,"
        " COALESCE(ROUND(SQRT(AVG(v * v) - AVG(v) * AVG(v)), 4), 0)"
        " AS numeric_std_dev"
        " FROM (" + " UNION ALL ".join(pa_parts) + ") GROUP BY attribute"
    )

    # ---- profile_correlations (all numeric pairs, both directions) ----
    pairs = [
        (x, y)
        for i, x in enumerate(LI_NUMERIC)
        for y in LI_NUMERIC[i + 1 :]
    ]
    corr_aggs = ", ".join(
        f"COALESCE(ROUND(ROUND(corr(CAST({x} AS DOUBLE), CAST({y} AS DOUBLE)), 6), 4), 0) AS c{i}"
        for i, (x, y) in enumerate(pairs)
    )
    corr_rows = " UNION ALL ".join(
        f"SELECT '{x}' AS attribute, '{y}' AS other, c{i} AS corr FROM a"
        f" UNION ALL SELECT '{y}', '{x}', c{i} FROM a"
        for i, (x, y) in enumerate(pairs)
    )
    correlations_sql = f"WITH a AS (SELECT {corr_aggs} FROM lineitem) {corr_rows}"

    # ---- profile_cardinality_breakdown (only when distinct <= 64) ----
    breakdown_sql = """
WITH vh AS (
  SELECT 'event_type' AS attribute, trim(event_type) AS value, COUNT(*) AS rec_count
  FROM events WHERE length(trim(coalesce(event_type, ''))) > 0 GROUP BY 2)
SELECT attribute, value, rec_count FROM vh QUALIFY COUNT(*) OVER () <= 64
"""

    # ---- validate_fix (assign + SkipRecord, conditions from original rows) ----
    validate_fix_sql = """
WITH fixed AS (
  SELECT CASE WHEN NOT coalesce(l_quantity <= 45, FALSE) THEN 45 ELSE l_quantity END AS q,
         l_extendedprice AS p
  FROM lineitem
  WHERE coalesce(l_discount <= 0.06, FALSE))
SELECT COUNT(*) AS n,
       ROUND(SUM(CAST(q AS DOUBLE)), 2) AS sum_qty,
       ROUND(SUM(CAST(p AS DOUBLE)), 2) AS sum_price
FROM fixed
"""

    # ---- validate_fixes (round-3 consolidation: fix + fix_swap) ----
    validate_fixes_sql = f"""
SELECT 'lineitem_fix' AS label, n, sum_qty, sum_price FROM ({validate_fix_sql})
UNION ALL
SELECT brand AS label, n, CAST(NULL AS DOUBLE) AS sum_qty,
       CAST(NULL AS DOUBLE) AS sum_price
FROM ({validate_fix_swap_sql})
"""

    # ---- benford digit 2 (full NthDigit rule incl. implied trailing zeros) ----
    ben2_cols = ["l_orderkey", "l_quantity", "l_extendedprice"]
    ben2_src = " UNION ALL ".join(
        f"SELECT {i + 1} AS ord, '{c}' AS attribute,"
        f" CASE WHEN length(sig) >= 2 THEN CAST(substr(sig, 2, 1) AS INT)"
        f" WHEN length(sig) > 0 THEN 0"
        f" WHEN contains(cleaned, '.') THEN 0 ELSE 10 END AS n"
        f" FROM (SELECT regexp_replace(replace(cleaned, '.', ''), '^0+', '') AS sig, cleaned"
        f" FROM (SELECT regexp_replace(CAST({c} AS VARCHAR), '[^0-9.]', '', 'g') AS cleaned"
        f" FROM lineitem))"
        for i, c in enumerate(ben2_cols)
    )
    exp2 = [12.0, 11.4, 10.9, 10.4, 10.0, 9.7, 9.3, 9.0, 8.8, 8.5]
    pct2 = ",\n       ".join(
        f"ROUND(SUM(CASE WHEN n = {d} THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS {digit_names[d]}"
        for d in range(10)
    )
    chi2 = " + ".join(
        f"(({digit_names[d]} - {exp2[d]}) * ({digit_names[d]} - {exp2[d]}) / {exp2[d]})"
        for d in range(10)
    )
    exp2_vals = ", ".join(str(v) for v in exp2)
    benford2_sql = f"""
WITH src AS ({ben2_src}),
agg AS (
  SELECT ord, attribute,
       {pct2},
       COUNT(*) AS num_values
  FROM src WHERE n <> 10 GROUP BY ord, attribute),
withchi AS (
  SELECT attribute, zero, one, two, three, four, five, six, seven, eight, nine,
         ROUND({chi2}, 3) AS chi_squared, CAST(num_values AS BIGINT) AS num_values, ord
  FROM agg)
SELECT attribute, zero, one, two, three, four, five, six, seven, eight, nine, chi_squared, num_values
FROM (
  SELECT * FROM withchi
  UNION ALL
  SELECT '-- EXPECTED DIGIT 2 --', {exp2_vals},
         CAST(21.666 AS DOUBLE), (SELECT COUNT(*) FROM lineitem), 0
) ORDER BY ord
"""

    # ---- benford_digits (round-3 consolidation: digit 1 + digit 2) ----
    benford_digits_sql = f"""
SELECT *, 1 AS digit FROM ({benford_sql})
UNION ALL
SELECT *, 2 AS digit FROM ({benford2_sql})
"""

    # ---- normalize_profile (integer-stat keys only; exact strings) ----
    np_stats = " UNION ALL ".join(
        f"SELECT '{c}' AS attribute, COUNT(*) AS rec_count,"
        f" SUM(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN 1 ELSE 0 END) AS fill_count,"
        f" COUNT(DISTINCT CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN trim({c}) END) AS cardinality,"
        f" MIN(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN length(trim({c})) END) AS min_length,"
        f" MAX(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN length(trim({c})) END) AS max_length,"
        f" CAST(FLOOR(SUM(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN length(trim({c})) END) * 1.0"
        f" / SUM(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS ave_length"
        f" FROM documents"
        for c in ["lang", "source"]
    )
    np_melt = " UNION ALL ".join(
        f"SELECT attribute, '{k}' AS key, CAST({k} AS VARCHAR) AS value FROM s"
        for k in ["rec_count", "fill_count", "cardinality", "min_length", "max_length", "ave_length"]
    )
    normalize_profile_sql = f"WITH s AS ({np_stats}) {np_melt}"

    # ---- profile_compare (profile-vs-profile diff triples) ----
    def _np_side(where: str) -> str:
        return " UNION ALL ".join(
            f"SELECT '{c}' AS attribute, COUNT(*) AS rec_count,"
            f" SUM(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN 1 ELSE 0 END) AS fill_count,"
            f" MIN(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN length(trim({c})) END) AS min_length,"
            f" MAX(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN length(trim({c})) END) AS max_length,"
            f" CAST(FLOOR(SUM(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN length(trim({c})) END) * 1.0"
            f" / SUM(CASE WHEN length(trim(coalesce({c}, ''))) > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS ave_length"
            f" FROM documents{where}"
            for c in ["lang", "source"]
        )

    _cmp_keys = ["rec_count", "fill_count", "min_length", "max_length", "ave_length"]
    _cmp_melt = " UNION ALL ".join(
        f"SELECT attribute, '{k}' AS key, CAST({k} AS VARCHAR) AS value FROM {{side}}"
        for k in _cmp_keys
    )
    profile_compare_sql = f"""
WITH so AS ({_np_side('')}),
     sn AS ({_np_side(" WHERE lang <> 'en'")}),
     mo AS ({_cmp_melt.format(side='so')}),
     mn AS ({_cmp_melt.format(side='sn')})
SELECT COALESCE(mo.attribute, mn.attribute) AS attribute,
       COALESCE(mo.key, mn.key) AS key,
       mo.value AS value_old,
       mn.value AS value_new,
       (mo.value IS DISTINCT FROM mn.value) AS changed
FROM mo FULL OUTER JOIN mn ON mo.attribute = mn.attribute AND mo.key = mn.key
"""

    # ---- profile_normalize_compare (round-3 consolidation:
    # normalize_profile triples + profile-vs-profile diff) ----
    profile_normalize_compare_sql = f"""
SELECT 'profile' AS part, attribute, key, value AS value_old,
       CAST(NULL AS VARCHAR) AS value_new, CAST(NULL AS BOOLEAN) AS changed
FROM ({normalize_profile_sql})
UNION ALL
SELECT 'compare', attribute, key, value_old, value_new, changed
FROM ({profile_compare_sql})
"""

    # ---- profile_incremental (merge of per-partition states must
    # equal the whole-table statistics exactly) ----
    incr_src = " UNION ALL ".join(
        [
            # given-numeric: filled = non-null & non-zero; len = digit
            # count of the integer rendering; numeric reading = native
            f"SELECT '{c}' AS attribute,"
            f" ({c} IS NOT NULL AND {c} <> 0) AS fil,"
            f" length(CAST({c} AS VARCHAR)) AS len,"
            f" CASE WHEN {c} IS NOT NULL AND {c} <> 0 THEN CAST({c} AS DOUBLE) END AS v"
            f" FROM orders"
            for c in ["o_orderkey", "o_custkey"]
        ]
        + [
            # string: filled = non-empty trimmed; numeric reading =
            # try_cast of the trimmed value (letters -> NULL)
            "SELECT 'o_orderstatus' AS attribute,"
            " length(trim(coalesce(o_orderstatus, ''))) > 0 AS fil,"
            " length(trim(coalesce(o_orderstatus, ''))) AS len,"
            " TRY_CAST(trim(o_orderstatus) AS DOUBLE) AS v"
            " FROM orders"
        ]
    )
    profile_incremental_sql = f"""
WITH src AS ({incr_src})
SELECT attribute,
       COUNT(*) AS rec_count,
       CAST(SUM(CASE WHEN fil THEN 1 ELSE 0 END) AS BIGINT) AS fill_count,
       ROUND(SUM(CASE WHEN fil THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 6) AS fill_rate,
       COALESCE(MIN(CASE WHEN fil THEN len END), 0) AS min_length,
       COALESCE(MAX(CASE WHEN fil THEN len END), 0) AS max_length,
       COALESCE(CAST(FLOOR(SUM(CASE WHEN fil THEN len END) * 1.0
         / SUM(CASE WHEN fil THEN 1 ELSE 0 END)) AS BIGINT), 0) AS ave_length,
       ROUND(MIN(CASE WHEN fil THEN v END), 4) AS nmin,
       ROUND(MAX(CASE WHEN fil THEN v END), 4) AS nmax,
       ROUND(SUM(CASE WHEN fil THEN v END) / COUNT(CASE WHEN fil THEN v END), 4) AS nmean,
       ROUND(SQRT(SUM(CASE WHEN fil THEN v * v END) / COUNT(CASE WHEN fil THEN v END)
         - (SUM(CASE WHEN fil THEN v END) / COUNT(CASE WHEN fil THEN v END))
         * (SUM(CASE WHEN fil THEN v END) / COUNT(CASE WHEN fil THEN v END))), 4) AS nstd
FROM src GROUP BY attribute
"""

    # ---- profile_quantile_sketch ----
    # The KLL sketch itself has no tractable SQL re-derivation, so the
    # Spark side outputs MEASURED verdicts (exact rank of each merged
    # estimate against the data, bucketed to the nearest 0.25; KS at
    # its analytic extremes) and the oracle pins the expected verdict
    # grid: val == q for every row.  A sketch violating its rank-error
    # contract (or a drift KS off its analytic value) hash-mismatches.
    pqs_rows = [
        f"SELECT 'rank' AS part, '{a}' AS attribute, CAST({q} AS DOUBLE) AS q,"
        f" CAST({q} AS DOUBLE) AS val"
        for a in ["o_orderkey", "o_custkey", "o_totalprice"]
        for q in [0.25, 0.5, 0.75]
    ] + [
        "SELECT 'drift_same', 'o_totalprice', CAST(0.0 AS DOUBLE),"
        " CAST(0.0 AS DOUBLE)",
        "SELECT 'drift_far', 'o_totalprice', CAST(1.0 AS DOUBLE),"
        " CAST(1.0 AS DOUBLE)",
    ] + [
        # structural pins: every merged sketch counts exactly the
        # filled values and meets KLL's rank-error bound at k = 100
        f"SELECT 'n', '{a}', CAST(1.0 AS DOUBLE),"
        f" CAST(COUNT(CASE WHEN {a} IS NOT NULL AND {a} <> 0 THEN 1 END)"
        f" AS DOUBLE) FROM orders"
        for a in ["o_orderkey", "o_custkey", "o_totalprice"]
    ] + [
        f"SELECT 'rank_ok', '{a}', CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)"
        for a in ["o_orderkey", "o_custkey", "o_totalprice"]
    ]
    profile_quantile_sketch_sql = " UNION ALL ".join(pqs_rows)

    return {
        "profile_fill_lengths": profile_fill_lengths_sql,
        "profile_numeric_stats": profile_numeric,
        "profile_cardinality": profile_cardinality,
        "profile_modes": profile_modes,
        "profile_patterns": profile_patterns,
        "profile_best_type": profile_best_type,
        "cardinality_histogram": cardinality_histogram,
        "benford_digits": benford_digits_sql,
        "benford_stock": benford_stock_sql,
        "validate_rules": validate_sql,
        "constraint_verdicts": constraint_sql,
        "drift_metrics": drift_metrics_sql,
        "constraint_alternation": constraint_alternation_sql,
        "validate_fixes": validate_fixes_sql,
        "profile_correlations": correlations_sql,
        "profile_cardinality_breakdown": breakdown_sql,
        "profile_normalize_compare": profile_normalize_compare_sql,
        "profile_incremental": profile_incremental_sql,
        "profile_quantile_sketch": profile_quantile_sketch_sql,
        "best_record_structure": best_record_sql,
        "apply_best_types": apply_best_types_sql,
        "profile_approx": profile_approx_sql,
        "transcript_suite": transcript_suite_oracle,
        "verdicts_per_partition": verdicts_per_partition_sql,
    }
