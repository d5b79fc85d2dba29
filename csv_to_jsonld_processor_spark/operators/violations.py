"""A7 + J4: instance-level violations as a first-class DataFrame.

The reference accumulates warnings/errors in ProcessingState
(``error/mod.rs:68-151``) from ~30 warn sites; strict mode escalates
them to run-failing errors. This module re-expresses the instance-phase
sites as ONE violations DataFrame with schema

    (stage, rule, subj, pred, value, severity)

built from two parts. What the driver knows from the plan (header
rows, picklist setup rows, picklist accumulation failures) is one list
and becomes one ``LocalRelation`` (``session.local_df``), read with no
Python worker. Each basic step adds ONE projection over its
own triple output: a ``CASE`` with one branch per typed header, so the
step's CSV is read once more, not once per rule. A header has a single
kind, so at most one branch matches a triple. Rules mirror the
reference's warning categories:

- ``header_validation``  unknown / empty columns (validation.rs:28-79);
  plan-time, one row per offending header, subj is null
- ``value_validation``   failed Integer coercion (value_processor.rs:82-105)
- ``boolean_validation`` failed Boolean coercion (value_processor.rs:116-146)
- ``date_validation``    failed Date parse (value_processor.rs:17-80)
- ``picklist_validation`` missing one_of / value not in picklist
  (value_processor.rs:182-231), a ``NOT isin(one_of)`` branch

Decimal failures are intentionally NOT routed: the reference's Decimal
arm falls back to the cleaned string silently (value_processor.rs:106-114)
— no warn site exists, so emitting one would be a deviation.

Severity: 'warning' in lenient mode, 'error' in strict (the reference
returns Err / add_error_from under is_strict). Empty-header rows stay
warnings in both modes (validation.rs:29-36 never escalates them).

Granularity deviation (documented): the reference warns once per cell
with [Column, Row] text; we emit one row per failing VALUE with the
subject id — at 100 TB row numbers are partition-relative and
meaningless, while (subj, pred, value) is stable and joinable.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..iri import expand_iri_with_base, to_kebab_case
from ..manifest import Manifest
from ..session import local_df
from ..vocabulary import VocabularyMap, accumulate_picklist_one_of
from .instance_steps import (
    HeaderDiags,
    HeaderPlan,
    basic_instance_outputs,
    properties_instance_triples,
    subclass_instance_triples,
)

VIOLATION_SCHEMA = (
    "stage string, rule string, subj string, pred string, value string, severity string"
)


def _picklist_check(
    manifest: Manifest, vocab: VocabularyMap, stage: str, p: HeaderPlan, sev: str
) -> tuple[list[tuple], Column | None]:
    """J4 membership for one Picklist header: (driver-known rows, miss
    condition over a triple). Values must hit the class's accumulated
    one_of set (value_processor.rs:182-231).

    The check IRI is ALWAYS base + kebab(class)/rawValue — even with
    namespaceIris off (the reference builds the prefixed IRI
    unconditionally at :208-216 while one_of entries are only prefixed
    when namespacing is on, so every value "fails" in that mode; quirk
    reproduced faithfully). The enum is a driver list, so the check is a
    row-local ``NOT isin(one_of)`` (a hashed InSet past 10 entries) and
    the value side never shuffles."""
    raw = vocab.find_class_for_target(p.target, manifest.model.base_iri) if p.target else None
    if raw is None:
        return [(stage, "picklist_validation", None, p.name,
                 "Class match not found for picklist header", "error")], None
    key = next(
        (k for k, r in vocab.raw_class_keys.items() if r is raw or r == raw),
        None,
    ) or vocab.find_picklist_class_key(raw.normalize().pascal().original)
    term = vocab.classes.get(key) if key else None
    one_of = term.one_of if term else None
    prefix = to_kebab_case(raw.display())
    rows = []
    if not one_of:
        # value_processor.rs:189-206: strict → Err; lenient → warn
        # then validate against the empty list (everything fails)
        rows.append((stage, "picklist_validation", None, p.name,
                     f"Class match found ({prefix}) for picklist header but no "
                     "picklist enums defined on class", sev))
        one_of = []

    joined_prefix = expand_iri_with_base(manifest.instances.base_iri, prefix + "/")
    if manifest.instances.namespace_iris:
        # obj is already 'kebab/value' → strip the prefix back off
        raw_value = F.substring(F.col("obj"), len(prefix) + 2, 1_000_000)
    else:
        raw_value = F.col("obj")
    return rows, ~F.concat(F.lit(joined_prefix), raw_value).isin(one_of)


def _step_violations(
    manifest: Manifest,
    vocab: VocabularyMap,
    stage: str,
    class_type: str,
    triples: DataFrame,
    plans: list[HeaderPlan | None],
    diags: HeaderDiags,
    strict: bool,
) -> tuple[list[tuple], DataFrame | None]:
    """A basic step's violations: (driver-known rows, rule projection).

    The driver knows the header rows from the plan and the picklist
    setup rows from the vocabulary. Every per-value rule is one ``CASE``
    branch over the step's triples: a typed pred whose obj_kind stayed
    'string' (Integer/Boolean), a Date pred whose obj is not the
    canonical yyyy-MM-dd form, or a Picklist pred missing the enum. A
    header has a single kind, so at most one rule matches a triple."""
    sev = "error" if strict else "warning"
    rows = [
        (stage, "header_validation", None, h,
         f"Unknown column found in CSV for class '{class_type}'", sev)
        for h in diags.unknown
    ]
    # never escalated, even in strict (validation.rs:29-36)
    rows += [
        (stage, "header_validation", None, None,
         f"Empty column found in CSV for class: {class_type}", "warning")
    ] * diags.empty

    rule = None
    for p in plans:
        if p is None:
            continue
        if p.kind == "Integer":
            cond, r = F.col("obj_kind") == "string", "value_validation"
        elif p.kind == "Boolean":
            cond, r = F.col("obj_kind") == "string", "boolean_validation"
        elif p.kind == "Date":
            parsed = F.date_format(F.try_to_date(F.col("obj"), "yyyy-MM-dd"), "yyyy-MM-dd")
            cond, r = ~parsed.eqNullSafe(F.col("obj")), "date_validation"
        elif p.kind == "Picklist":
            known, cond = _picklist_check(manifest, vocab, stage, p, sev)
            rows += known
            if cond is None:
                continue
            r = "picklist_validation"
        else:
            continue
        cond = (F.col("pred") == p.name) & cond
        rule = F.when(cond, F.lit(r)) if rule is None else rule.when(cond, F.lit(r))
    if rule is None:
        return rows, None
    return rows, triples.select(
        F.lit(stage).alias("stage"),
        rule.alias("rule"),
        F.col("subj"),
        F.col("pred"),
        F.col("obj").alias("value"),
        F.lit(sev).alias("severity"),
    ).where(F.col("rule").isNotNull())


def build_instance_outputs(
    spark: SparkSession,
    manifest: Manifest,
    vocab: VocabularyMap,
    base_path: str | Path,
    strict: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """PHASE B with violations: (triples, violations).

    Picklist one_of accumulates first (picklist steps are ordered ahead
    of basic steps — processor/mod.rs:211-251 — so membership checks see
    the full enum). The triples are the A1 merge of every instance step
    (processor/mod.rs:211-251): union + dedup = the reference's
    merge-by-@id with set-union arrays, expressed as one shuffle; an
    instances section with no steps gives an empty triple table. The
    violations are one DataFrame of every driver-known row, unioned
    with one rule projection per basic step, lazily evaluated like any
    other DataFrame. The driver-known rows, like the EAV and SubClass
    lookups, are a ``LocalRelation``: neither output's plan holds a
    parallelized Python RDD, so reading them starts no Python worker.

    Subclass and EAV (properties) steps emit raw strings with no
    coercion in the reference — no per-value sites exist there to
    mirror, so only basic/picklist steps contribute value rows."""
    sev = "error" if strict else "warning"
    rows = [
        (None, "picklist_accumulation", None, None, msg, sev)
        for msg in accumulate_picklist_one_of(manifest, vocab, base_path)
    ]
    dfs: list[DataFrame] = []
    checks: list[DataFrame] = []
    for step in manifest.instance_sequence():
        if step.has_type("SubClassInstanceStep"):
            dfs.append(subclass_instance_triples(spark, manifest, vocab, step, base_path))
        elif step.has_type("PropertiesInstanceStep"):
            dfs.append(properties_instance_triples(spark, manifest, vocab, step, base_path))
        else:
            d, plans, diags, class_type = basic_instance_outputs(
                spark, manifest, vocab, step, base_path
            )
            dfs.append(d)
            known, check = _step_violations(
                manifest, vocab, step.path, class_type, d, plans, diags, strict
            )
            rows += known
            if check is not None:
                checks.append(check)

    if not dfs:
        dfs = [spark.range(0).select(
            *(F.lit(None).cast("string").alias(c) for c in ("subj", "pred", "obj", "obj_kind"))
        )]
    triples = reduce(DataFrame.unionByName, dfs).dropDuplicates(
        ["subj", "pred", "obj", "obj_kind"]
    )
    violations = reduce(DataFrame.unionByName, checks, local_df(spark, rows, VIOLATION_SCHEMA))
    return triples, violations
