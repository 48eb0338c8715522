"""Declarative data-quality constraint checking (Deequ-style).

The reference's only validation is a startup connection probe
(`AIRWISEv0.py:315-327`) and silent drop-on-parse-error
(`AIRWISEv0.py:155-157`); a 100-TB ingest pipeline needs declared,
measurable gates instead: "o_totalprice is positive", "o_orderkey is
unique", "every l_orderkey exists in orders". This module turns such
rules into ONE report DataFrame with a row per rule —
``(constraint, n_rows, n_bad, pass_rate)`` — so a pipeline can assert
on it, alert on it, or store it next to the data as an audit trail.

Scale shape (the reason this is three functions, not one):
- **row_checks**: any number of per-row boolean predicates collapse
  into a SINGLE aggregation pass — one scan, conditional sums, no
  shuffle beyond the final 1-row reduce; the per-rule rows come from
  exploding a literal-built array of structs AFTER the reduce, so
  adding rules never adds passes.
- **uniqueness_check**: needs a hash agg on the key; the exchange
  carries (key, count) pairs only, and the violation count is
  ``sum(cnt) - count(*)`` over groups with cnt > 1 — never a
  collect of duplicate rows.
- **referential_check**: orphan counting is a LEFT ANTI equi-join on
  the FK; Catalyst broadcasts dimension-sized parents and falls back
  to a shuffled hash join for fact-sized ones (AQE decides from
  runtime sizes), so the same declaration works for a 25-row nation
  parent and a 10^9-row orders parent.

All three emit the same report schema, so reports union into one
frame. Null semantics: a predicate that evaluates to NULL counts as a
violation (SQL three-valued logic would otherwise let null rows slip
through every gate — the opposite of what a quality gate is for).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _finish(report: DataFrame) -> DataFrame:
    """Attach the derived pass_rate and fix column order/types."""
    rate = F.when(
        F.col("n_rows") > 0,
        F.round(
            (1 - F.col("n_bad") / F.col("n_rows")).cast("decimal(38,9)"), 4
        ).cast("double"),
    ).otherwise(F.lit(1.0))
    return report.select(
        F.col("constraint").cast("string"),
        F.col("n_rows").cast("long"),
        F.col("n_bad").cast("long"),
        rate.alias("pass_rate"),
    )


def row_checks(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate per-row boolean predicates in one aggregation pass.

    ``rules`` maps constraint name -> boolean Column over ``df``'s
    rows. Violations = rows where the predicate is FALSE **or NULL**.
    Returns one report row per rule.
    """
    if not rules:
        raise ValueError("row_checks needs at least one rule")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (_, pred) in enumerate(rules.items()):
        bad = F.when(pred.isNull() | (~pred), 1).otherwise(0)
        aggs.append(F.sum(bad).alias(f"_bad_{i}"))
    one = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                F.col(f"_bad_{i}").alias("n_bad"),
            )
            for i, name in enumerate(rules)
        ]
    )
    exploded = one.select(
        F.col("_n").alias("n_rows"), F.explode(pairs).alias("_r")
    ).select("_r.constraint", "n_rows", "_r.n_bad")
    return _finish(exploded)


def uniqueness_check(
    df: DataFrame, cols: list[str], name: str | None = None
) -> DataFrame:
    """Report how many rows share their key with at least one other
    row (0 == the column set is a candidate key)."""
    label = name or f"unique({','.join(cols)})"
    grouped = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_cnt"))
    report = grouped.agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt")).otherwise(0)),
            F.lit(0),
        ).alias("n_bad"),
    ).select(F.lit(label).alias("constraint"), "n_rows", "n_bad")
    return _finish(report)


def referential_check(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    name: str | None = None,
) -> DataFrame:
    """Count child rows whose non-null FK has no matching parent row
    (NULL FKs are not orphans — that is ``isNotNull``'s job in a
    row check)."""
    label = name or f"ref({child_key}->{parent_key})"
    keyed = child.select(F.col(child_key).alias("_fk")).where(
        F.col("_fk").isNotNull()
    )
    # One join + one agg: a left join against the distinct parent keys
    # with a hit marker yields base count and orphan count in a single
    # pass (a left_anti would need a second scan for the denominator).
    marked = keyed.join(
        parent.select(F.col(parent_key).alias("_fk"))
        .distinct()
        .withColumn("_hit", F.lit(1)),
        "_fk",
        "left",
    )
    report = marked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("n_bad"),
    ).select(F.lit(label).alias("constraint"), "n_rows", "n_bad")
    return _finish(report)


def split_by_rules(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter routing: partition rows into (passing, quarantined).

    The quarantine frame carries every original column plus
    ``violations: array<string>`` naming each failed rule — the
    generalization of the reference's silent drop-on-parse-error
    (AIRWISEv0.py:155-157) into an auditable quarantine stream. Use
    inside ``foreachBatch``: write the passing slice to the fact sink
    and the quarantine slice to a dead-letter sink instead of losing
    the rows.

    Single evaluation: the violation array is ONE projection; the two
    output frames filter on its emptiness, so Catalyst evaluates each
    predicate once per row per branch (both branches are cheap narrow
    plans over the same scan — no join, no shuffle).
    """
    if not rules:
        raise ValueError("split_by_rules needs at least one rule")
    viol = F.filter(
        F.array(
            *[
                F.when(pred.isNull() | (~pred), F.lit(name))
                for name, pred in rules.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    tagged = df.withColumn("violations", viol)
    passing = tagged.where(F.size("violations") == 0).drop("violations")
    quarantined = tagged.where(F.size("violations") > 0)
    return passing, quarantined


def combine_reports(*reports: DataFrame) -> DataFrame:
    """Union report frames into one (same schema by construction)."""
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out
