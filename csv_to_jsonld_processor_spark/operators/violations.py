"""A7 + J4: instance-level violations as a first-class DataFrame.

The reference accumulates warnings/errors in ProcessingState
(``error/mod.rs:68-151``) from ~30 warn sites; strict mode escalates
them to run-failing errors. This module re-expresses the instance-phase
sites as ONE violations DataFrame with schema

    (stage, rule, subj, pred, value, severity)

computed from each step's own triple output — no second scan of the
source CSVs; the checks are narrow filters over columns the step
already materialized. Rules mirror the reference's warning categories:

- ``header_validation``  unknown / empty columns (validation.rs:28-79);
  plan-time, one row per offending header, subj is null
- ``value_validation``   failed Integer coercion (value_processor.rs:82-105)
- ``boolean_validation`` failed Boolean coercion (value_processor.rs:116-146)
- ``date_validation``    failed Date parse (value_processor.rs:17-80)
- ``picklist_validation`` missing one_of / value not in picklist
  (value_processor.rs:182-231), enforced as a ``NOT isin(one_of)`` filter

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

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..iri import expand_iri_with_base, to_kebab_case
from ..manifest import Manifest
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

_DATE_OK = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"


def _empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], VIOLATION_SCHEMA)


def _rows_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, VIOLATION_SCHEMA)


def _header_violations(
    spark: SparkSession, stage: str, class_type: str, diags: HeaderDiags, strict: bool
) -> DataFrame | None:
    rows = []
    sev = "error" if strict else "warning"
    for h in diags.unknown:
        rows.append(
            (
                stage,
                "header_validation",
                None,
                h,
                f"Unknown column found in CSV for class '{class_type}'",
                sev,
            )
        )
    for _ in range(diags.empty):
        # never escalated, even in strict (validation.rs:29-36)
        rows.append(
            (
                stage,
                "header_validation",
                None,
                None,
                f"Empty column found in CSV for class: {class_type}",
                "warning",
            )
        )
    return _rows_df(spark, rows) if rows else None


def _coercion_violations(
    stage: str, triples: DataFrame, plans: list[HeaderPlan | None], strict: bool
) -> DataFrame | None:
    """Per-value coercion failures, detected from the emitted triples:
    a typed pred whose obj_kind stayed 'string' (Integer/Boolean), or a
    Date pred whose obj is not the canonical yyyy-MM-dd form."""
    rule = None
    for p in plans:
        if p is None or p.kind == "ID":
            continue
        cond = None
        if p.kind == "Integer":
            cond = (F.col("pred") == p.name) & (F.col("obj_kind") == "string")
            r = "value_validation"
        elif p.kind == "Boolean":
            cond = (F.col("pred") == p.name) & (F.col("obj_kind") == "string")
            r = "boolean_validation"
        elif p.kind == "Date":
            parsed = F.date_format(F.try_to_date(F.col("obj"), "yyyy-MM-dd"), "yyyy-MM-dd")
            cond = (F.col("pred") == p.name) & ~parsed.eqNullSafe(F.col("obj"))
            r = "date_validation"
        if cond is not None:
            rule = F.when(cond, F.lit(r)) if rule is None else rule.when(cond, F.lit(r))
    if rule is None:
        return None
    sev = "error" if strict else "warning"
    return (
        triples.select(
            F.lit(stage).alias("stage"),
            rule.alias("rule"),
            F.col("subj"),
            F.col("pred"),
            F.col("obj").alias("value"),
            F.lit(sev).alias("severity"),
        )
        .where(F.col("rule").isNotNull())
    )


def _picklist_violations(
    spark: SparkSession,
    manifest: Manifest,
    vocab: VocabularyMap,
    stage: str,
    triples: DataFrame,
    plans: list[HeaderPlan | None],
    strict: bool,
) -> list[DataFrame]:
    """J4 membership: for each Picklist-typed header, values must hit the
    class's accumulated one_of set (value_processor.rs:182-231).

    The check IRI is ALWAYS base + kebab(class)/rawValue — even with
    namespaceIris off (the reference builds the prefixed IRI
    unconditionally at :208-216 while one_of entries are only prefixed
    when namespacing is on, so every value "fails" in that mode; quirk
    reproduced faithfully). Enforcement is a ``NOT isin(one_of)`` filter
    — the enum is a driver list, so the check is a row-local expression
    (a hashed InSet past 10 entries) and the value side never shuffles."""
    out: list[DataFrame] = []
    sev = "error" if strict else "warning"
    base = manifest.instances.base_iri
    for p in plans:
        if p is None or p.kind != "Picklist":
            continue
        raw = vocab.find_class_for_target(p.target, manifest.model.base_iri) if p.target else None
        if raw is None:
            out.append(
                _rows_df(
                    spark,
                    [(stage, "picklist_validation", None, p.name,
                      "Class match not found for picklist header", "error")],
                )
            )
            continue
        key = next(
            (k for k, r in vocab.raw_class_keys.items() if r is raw or r == raw),
            None,
        ) or vocab.find_picklist_class_key(raw.normalize().pascal().original)
        term = vocab.classes.get(key) if key else None
        one_of = term.one_of if term else None
        prefix = to_kebab_case(raw.display())
        if not one_of:
            # value_processor.rs:189-206: strict → Err; lenient → warn
            # then validate against the empty list (everything fails)
            out.append(
                _rows_df(
                    spark,
                    [(stage, "picklist_validation", None, p.name,
                      f"Class match found ({prefix}) for picklist header but no "
                      "picklist enums defined on class", sev)],
                )
            )
            one_of = []

        joined_prefix = expand_iri_with_base(base, prefix + "/")
        if manifest.instances.namespace_iris:
            # obj is already 'kebab/value' → strip the prefix back off
            raw_value = F.substring(F.col("obj"), len(prefix) + 2, 1_000_000)
        else:
            raw_value = F.col("obj")
        check_iri = F.concat(F.lit(joined_prefix), raw_value)

        out.append(
            triples.where((F.col("pred") == p.name) & ~check_iri.isin(one_of))
            .select(
                F.lit(stage).alias("stage"),
                F.lit("picklist_validation").alias("rule"),
                F.col("subj"),
                F.col("pred"),
                F.col("obj").alias("value"),
                F.lit(sev).alias("severity"),
            )
        )
    return out


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
    merge-by-@id with set-union arrays, expressed as one shuffle. The
    violations union is lazily evaluated like any other DataFrame.

    Subclass and EAV (properties) steps emit raw strings with no
    coercion in the reference — no per-value sites exist there to
    mirror, so only basic/picklist steps contribute value rows."""
    problems = accumulate_picklist_one_of(manifest, vocab, base_path)
    vio: list[DataFrame] = []
    if problems:
        sev = "error" if strict else "warning"
        vio.append(
            _rows_df(
                spark,
                [(None, "picklist_accumulation", None, None, msg, sev) for msg in problems],
            )
        )

    dfs: list[DataFrame] = []
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
            stage = step.path
            hv = _header_violations(spark, stage, class_type, diags, strict)
            if hv is not None:
                vio.append(hv)
            cv = _coercion_violations(stage, d, plans, strict)
            if cv is not None:
                vio.append(cv)
            vio.extend(
                _picklist_violations(spark, manifest, vocab, stage, d, plans, strict)
            )

    triples = dfs[0]
    for d in dfs[1:]:
        triples = triples.unionByName(d)
    triples = triples.dropDuplicates(["subj", "pred", "obj", "obj_kind"])

    violations = _empty_violations(spark)
    for v in vio:
        violations = violations.unionByName(v)
    return triples, violations
