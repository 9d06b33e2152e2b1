"""Data-validation operators: constraint checking and snapshot diffing.

The quality gate a training-data pipeline runs before a corpus ships:
declared expectations (uniqueness, referential integrity, null fractions,
value ranges) evaluated in ONE pass per table, and a key-level diff
between two table versions (what an upsert/refresh actually changed).

Scale shapes:
- ``check_constraints`` folds every expectation into a single conditional
  aggregation — one scan, one 1-row result per table, no matter how many
  rules; uniqueness adds one keyed aggregation; referential integrity is
  a left-anti join that broadcasts the FK side's distinct keys when small.
- ``snapshot_diff`` is one full-outer join on the key — the minimal
  shuffle for a complete added/removed/changed census; at 100 TB both
  sides bucket on the key and the join co-locates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def check_constraints(
    df: DataFrame,
    not_null: Sequence[str] = (),
    unique: Sequence[str] = (),
    ranges: Sequence[tuple[str, float, float]] = (),
) -> DataFrame:
    """Evaluate all declared expectations in one pass; returns one row per
    rule: (rule, violations, n_rows, ok). Null checks and range checks
    fold into a single conditional aggregation over one scan; each
    ``unique`` column adds one count-distinct aggregation (exact — swap
    for approx_count_distinct at extreme cardinality)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    names: list[str] = []
    for c in not_null:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"_v{len(names)}"))
        names.append(f"not_null:{c}")
    for c, lo, hi in ranges:
        aggs.append(
            F.count(
                F.when(~F.col(c).between(F.lit(lo), F.lit(hi)), 1)
            ).alias(f"_v{len(names)}")
        )
        names.append(f"range:{c}:[{lo},{hi}]")
    for c in unique:
        aggs.append(
            (F.count(F.col(c)) - F.countDistinct(F.col(c))).alias(f"_v{len(names)}")
        )
        names.append(f"unique:{c}")
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{n}', _v{i}" for i, n in enumerate(names))
    return wide.select(
        F.expr(f"stack({len(names)}, {stack}) AS (rule, violations)"),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        F.col("violations").cast("long").alias("violations"),
        "n_rows",
        (F.col("violations") == 0).alias("ok"),
    )


def check_referential(
    child: DataFrame, child_key: Column, parent: DataFrame, parent_key: Column
) -> DataFrame:
    """Orphan census: child rows whose key has no parent — a left-anti
    join against the parent's pruned key column (broadcast when small),
    aggregated to (n_orphans, n_child)."""
    parents = parent.select(parent_key.alias("_pk")).distinct()
    orphans = child.select(child_key.alias("_ck")).join(
        parents, F.col("_ck") == F.col("_pk"), "left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans")).crossJoin(
        child.agg(F.count(F.lit(1)).alias("n_child"))
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare: Sequence[str]
) -> DataFrame:
    """Key-level diff of two table versions: (key, change) with change ∈
    {added, removed, changed, unchanged}. One full-outer join on the key;
    ``compare`` columns decide changed-vs-unchanged (null-safe equality,
    so NULL → NULL counts as unchanged)."""
    # presence flags ride the join sides themselves, so a NULL compare
    # column can never be misread as absence
    o = old.select(
        F.col(key),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare],
    )
    n = new.select(
        F.col(key),
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare],
    )
    j = o.join(n, key, "full_outer")
    same = None
    for c in compare:
        eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(key), change.alias("change"))


def quarantine_split(
    df: DataFrame,
    rules: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Row-level quarantine routing: tag every row with the FIRST failing
    rule (declaration order) or null if all pass. ``rules`` is an ordered
    list of (name, pass_predicate). Downstream splits on the tag —
    clean rows flow on, quarantined rows land in a dead-letter table
    WITH their reason, the operational contract an ETL quarantine needs
    (check_constraints reports per-RULE counts; this keeps per-ROW
    blame).

    One projection, zero shuffles: the first-fail CASE folds into the
    scan, so both branches of the split read the tag from the same pass.
    At 100 TB this is free — the cost is wherever the two branches are
    written, not here."""
    reason = None
    for name, pred in rules:
        clause = F.when(~pred, F.lit(name))
        reason = clause if reason is None else reason.when(~pred, F.lit(name))
    return df.withColumn("quarantine_reason", reason).withColumn(
        "is_clean", F.col("quarantine_reason").isNull()
    )


def benford_digit_audit(df: DataFrame, value_col: Column) -> DataFrame:
    """First-significant-digit census vs Benford's law — the classic
    fabricated-data / unit-mixup detector for positive monetary or
    measurement columns. Returns one row per digit 1..9 with the
    observed count, observed share, the Benford expectation
    log10(1 + 1/d), and the digit's chi-square contribution
    (O_d - E_d)^2 / E_d over counts.

    Shape: one conditional-aggregation scan (digit = floor(v / 10^
    floor(log10 v)), a pure codegen expression) -> 9-row grouped result;
    the 9-digit spine is joined broadcast so absent digits still report
    zero counts. Post-scan state is O(9) regardless of input size -- the
    same one-pass census envelope as check_constraints. Shares/chi2 are
    scaled-floor 6dp for cross-engine float stability."""
    pos = df.select(value_col.alias("_v")).filter(F.col("_v") > 0)
    digit = F.floor(F.col("_v") / F.pow(F.lit(10.0), F.floor(F.log10("_v"))))
    counted = (
        pos.select(digit.cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = counted.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    total = F.sum("n").over(Window.partitionBy())

    def _r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    exp_share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    exp_n = exp_share * total
    filled = (
        spine.join(F.broadcast(counted), "digit", "left")
        .select("digit", F.coalesce("n", F.lit(0)).alias("n"))
    )
    return filled.select(
        "digit",
        "n",
        _r6(F.col("n") / total).alias("obs_share"),
        _r6(exp_share).alias("exp_share"),
        _r6((F.col("n") - exp_n) ** F.lit(2.0) / exp_n).alias("chi2_term"),
    )


def fd_audit(
    df: DataFrame, fds: Sequence[tuple[Sequence[str], str]]
) -> DataFrame:
    """Functional-dependency audit: for each declared dependency
    lhs -> rhs, report how many lhs groups exist, how many hold more
    than one distinct rhs (violations), and the violating share — the
    schema-discovery / denormalization-safety check (does this column
    really determine that one?) run before keys are trusted.

    Shape: one keyed aggregation per declared FD (distinct lhs each
    need their own shuffle — that is inherent), each collapsing to a
    1-row summary; the union of summaries is O(#FDs). countDistinct
    expands to the standard two-stage distinct aggregate, so the map
    side dedups (lhs, rhs) pairs before anything shuffles. At 100 TB
    swap countDistinct > 1 for approx_count_distinct > 1 when rhs
    cardinality per group can be huge (it cannot in an FD that is
    anywhere near holding)."""
    outs = []
    for lhs, rhs in fds:
        name = f"{'+'.join(lhs)}->{rhs}"
        g = (
            df.groupBy(*lhs)
            .agg(F.countDistinct(rhs).alias("_nd"))
            .agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(
                    F.when(F.col("_nd") > 1, 1).otherwise(0)
                ).alias("n_violating"),
            )
        )
        outs.append(g)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select(
        "fd",
        "n_groups",
        "n_violating",
        (
            F.floor(
                F.col("n_violating") / F.col("n_groups") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("violation_share"),
    )


def rule_census(
    df: DataFrame, rules: "dict[str, str]", key_col: str
) -> DataFrame:
    """Free-form data-quality rule engine: every rule is a SQL boolean
    predicate, ALL evaluated in one conditional-aggregation pass over a
    single scan (no per-rule jobs). NULL predicate results count as
    violations (unknown fails the expectation, ANSI three-valued logic
    folded with NOT COALESCE(pred, FALSE)). Each rule also reports the
    min/max violating key — the instant repro pointer a failing nightly
    check needs, captured in the same pass for free.

    The generalization of check_constraints' typed rules: at 100 TB the
    cost stays one scan regardless of rule count, because every rule is
    three more partial-agg states, not another pass."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    names: list[str] = []
    for i, (name, pred) in enumerate(rules.items()):
        viol = ~F.coalesce(F.expr(pred), F.lit(False))
        aggs.append(F.count(F.when(viol, 1)).alias(f"_v{i}"))
        aggs.append(F.min(F.when(viol, F.col(key_col))).alias(f"_lo{i}"))
        aggs.append(F.max(F.when(viol, F.col(key_col))).alias(f"_hi{i}"))
        names.append(name)
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{n}', _v{i}, _lo{i}, _hi{i}" for i, n in enumerate(names)
    )
    return wide.select(
        F.expr(
            f"stack({len(names)}, {stack}) AS "
            "(rule, violations, first_bad_key, last_bad_key)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        F.col("violations").cast("long").alias("violations"),
        "first_bad_key",
        "last_bad_key",
        "n_rows",
        (F.col("violations") == 0).alias("ok"),
    )


def vector_validity(
    df: DataFrame, vec_col: str, expected_dim: int
) -> DataFrame:
    """Embedding-column validation census: null vectors, wrong
    dimensionality, non-finite components, zero norms, and the norm
    range — the constraint-check family (v01) extended to the vector
    modality, run before an ANN index build or a training epoch.

    One map-side HOF projection + one scalar aggregate: no shuffle
    beyond the final single-row reduce, so it rides along any 100 TB
    embedding scan."""
    vec = F.col(vec_col)
    sq = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    flags = df.select(
        vec.isNull().cast("long").alias("_null"),
        F.when(vec.isNull(), F.lit(0))
        .otherwise((F.size(vec) != expected_dim).cast("long"))
        .alias("_wrong_dim"),
        F.when(vec.isNull(), F.lit(0))
        .otherwise(
            F.exists(
                vec,
                lambda x: F.isnan(x.cast("double"))
                | (F.abs(x.cast("double")) == float("inf")),
            ).cast("long")
        )
        .alias("_nonfinite"),
        F.when(vec.isNull(), F.lit(0))
        .otherwise((sq == 0.0).cast("long"))
        .alias("_zero_norm"),
        # nonfinite vectors are EXCLUDED from the norm range (their norm
        # is NaN/inf, and engines disagree on NaN placement in MIN/MAX)
        F.when(
            vec.isNull()
            | F.exists(
                vec,
                lambda x: F.isnan(x.cast("double"))
                | (F.abs(x.cast("double")) == float("inf")),
            ),
            F.lit(None),
        )
        .otherwise(F.sqrt(sq))
        .alias("_norm"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("_null").alias("n_null"),
        F.sum("_wrong_dim").alias("n_wrong_dim"),
        F.sum("_nonfinite").alias("n_nonfinite"),
        F.sum("_zero_norm").alias("n_zero_norm"),
        F.round(F.min("_norm"), 6).alias("min_norm"),
        F.round(F.max("_norm"), 6).alias("max_norm"),
    )
