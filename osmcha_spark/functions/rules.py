"""Per-changeset suspicion rules as pure Column expressions.

Each builder re-derives one reference behavior (cited) as a JVM-side
expression — no Python in the hot path, so Catalyst can fold, prune, and
codegen the whole rule surface as one projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from osmcha_spark.config import (
    POWERFUL_EDITORS,
    RulesConfig,
    WARNING_EXACT,
    WARNING_PREFIX,
)


def powerful_editor_col(editor: Column) -> Column:
    """``verify_editor`` (osmcha/changeset.py:371-385): substring match of
    the eight known power-editor names in lower(created_by); a missing
    editor is treated as powerful."""
    low = F.lower(editor)
    known = F.array(*[F.lit(e) for e in POWERFUL_EDITORS])
    return F.when(editor.isNull(), F.lit(True)).otherwise(
        F.exists(known, lambda e: low.contains(e))
    )


def editor_missing_reason_col(editor: Column) -> Column:
    """'Software editor was not declared' flag (osmcha/changeset.py:383-385)
    as a 0/1-element array for concat-style reason assembly."""
    return F.when(
        editor.isNull(), F.array(F.lit("Software editor was not declared"))
    ).otherwise(F.array().cast("array<string>"))


def warning_reason_for_tag(tag: Column) -> Column:
    """``Warnings.is_enabled`` (osmcha/warnings.py:25-31): exact-match table
    first, then the first prefix rule (list order) whose tag prefixes the
    input; NULL when nothing matches."""
    exact = F.create_map(
        *[x for k, v in WARNING_EXACT.items() for x in (F.lit(k), F.lit(v))]
    )
    prefix_hit = None
    # Build right-to-left so the FIRST listed prefix rule wins, mirroring the
    # reference's early return over an ordered list.
    for pref, reason in reversed(WARNING_PREFIX):
        this = F.when(tag.startswith(pref), F.lit(reason))
        prefix_hit = this.otherwise(prefix_hit) if prefix_hit is not None else this
    return F.coalesce(exact[tag], prefix_hit)


def warning_reasons_col(warning_tags: Column) -> Column:
    """``verify_warning_tags`` (osmcha/changeset.py:330-334): map each
    ``warnings:*`` tag through the rule table, keep non-NULL reasons,
    preserving tag order and duplicates (the reference appends one reason per
    matching tag — two crossing_ways tags yield 'Crossing ways' twice)."""
    return F.array_compact(
        F.transform(warning_tags, warning_reason_for_tag)
    )


def count_rule_reason_col(
    create: Column,
    modify: Column,
    delete: Column,
    powerful_editor: Column,
    cfg: RulesConfig,
) -> Column:
    """The elif precedence chain of ``count`` (osmcha/changeset.py:399-412).

    At most ONE of the three flags fires (elif), inequalities are strict,
    and total == 0 (redacted changeset) yields no flag — the reference's
    ZeroDivisionError branch. Returns a 0/1-element array<string>.
    """
    total = create + modify + delete
    possible_import = (
        (create / total > cfg.percentage)
        & (create > cfg.create_threshold)
        & (powerful_editor | (create > cfg.top_threshold))
    )
    mass_modification = (modify / total > cfg.percentage) & (
        modify > cfg.modify_threshold
    )
    mass_deletion = (
        (delete / total > cfg.percentage) & (delete > cfg.delete_threshold)
    ) | (delete > cfg.top_threshold)
    reason = (
        F.when(total == 0, F.lit(None).cast("string"))
        .when(possible_import, F.lit("possible import"))
        .when(mass_modification, F.lit("mass modification"))
        .when(mass_deletion, F.lit("mass deletion"))
    )
    return F.array_compact(F.array(reason))


def user_reasons_col(
    changeset_count: Column, block_count: Column
) -> Column:
    """``get_user_details`` flags (osmcha/changeset.py:67-70): reasons appended
    in reference order (New mapper first). A missing user row (NULL counts —
    the API-failure path at :71-74) yields no flags."""
    return F.array_compact(
        F.array(
            F.when(changeset_count <= 50, F.lit("New mapper")),
            F.when(block_count > 1, F.lit("User has multiple blocks")),
        )
    )


def review_requested_reason_col(review_requested: Column) -> Column:
    """'Review requested' when the tag value is exactly 'yes'
    (osmcha/changeset.py:327-328)."""
    return F.array_compact(
        F.array(F.when(review_requested == "yes", F.lit("Review requested")))
    )
