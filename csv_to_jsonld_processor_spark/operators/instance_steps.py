"""Instance import steps as Spark DataFrame plans → long triple table.

Re-expresses the reference's row-at-a-time instance processing
(``csv-to-jsonld-lib/src/instance/processor_impl.rs``) as declarative
column expressions over a CSV/parquet scan:

- P1/P2 column mapping → positional ``select``
- P4/P5 ignore + header-vs-vocabulary validation → driver-side plan
  compilation against the broadcast vocabulary (J1)
- P6 empty-id/empty-value filters → ``filter`` + per-header ``when``
- R4 multi-value split → ``transform(split(...), trim)``
- F6–F9 coercions → one SQL expression per header (coercion.py)
- J5 class-restricted values → plan-time class resolution (the target
  class is a column-level constant)
- R1 pivot columns → deterministic content-hash child ids (``sha2``)
  instead of the reference's UUIDv4 (processor_impl.rs:233) — see
  SURVEY §2.8: UUIDs make runs unreproducible; content hashes keep
  blank-node identity stable across runs and cluster sizes. The id is
  a per-row column; each group adds ``IF(any value, child triples ++
  [parent→child edge], [])`` to the row's triple arrays
- R2 EAV → a value triple and an @type triple per row, after a
  broadcast property resolve (J2)
- R3 subclass typing → broadcast class resolve (J3)
- A1 merge-by-@id → the triple table IS the merged form: set-union
  semantics fall out of ``dropDuplicates`` on (subj, pred, obj)

The output is the long/normalized triple table (FIXTURES.md §C):
``(subj, pred, obj, obj_kind)`` where obj_kind ∈
{string, number, boolean, ref, type}.

Scale notes: each step is one scan → narrow transforms → ONE explode of
``(subj, pred, obj, obj_kind)`` structs (``_explode_triples``), like the
reference's one pass per row (processor_impl.rs) — no step is a union
of branches that each re-read its file. No shuffle until the final
``dropDuplicates`` (one exchange on the triple key). Vocabulary lookups
are plan-time constants or broadcast joins of driver-built
``LocalRelation``s (``session.local_df``) — never a shuffled join, and no
Python worker. At 100 TB the explode fan-out is bounded by (#columns ×
values-per-cell), and AQE handles post-explode skew.

Known reference bugs NOT reproduced (documented deviations):
- unknown headers silently desync column indices in validate_headers
  (instance/validation.rs:49-63 drops them from the positional vec);
  we keep positional alignment.
- PropertiesInstanceStep demands the class identifier column name
  (processor_impl.rs:646-654) which its own fixture EAV file doesn't
  carry; we fall back to the conventional "Entity ID" column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..session import local_df
from ..sources import storage
from ..coercion import (
    coerce_boolean_sql,
    coerce_date_sql,
    coerce_decimal_sql,
    coerce_integer_sql,
    coercion_kind_flags_sql,
    sql_str,
)
from ..iri import expand_iri_with_base, to_kebab_case
from ..manifest import ImportStep, Manifest
from ..vocabulary import VocabularyMap, _identifier_label, _step_sheet

_SEP = "\x1f"  # unit separator for deterministic child hashing


# --------------------------------------------------------------------------
# driver-side header planning (P5/J1: instance/validation.rs:8-171)
# --------------------------------------------------------------------------


@dataclass
class HeaderPlan:
    index: int
    name: str
    kind: str  # datatype kind, or "ID"
    target: str | None  # URI/Picklist target class IRI
    is_label: bool = False
    pivot_group: int | None = None  # index into step.pivot_columns


def valid_property_headers(
    vocab: VocabularyMap,
    model_base_iri: str,
    class_type: str,
    pivot_columns=None,
    map_to_label: str | None = None,
) -> dict[str, tuple[str, str | None]]:
    """label → (datatype kind, target), per validation.rs:83-171."""
    out: dict[str, tuple[str, str | None]] = {}

    def add_term(term) -> None:
        if term.label is None or not term.range:
            return
        dt = term.range[0]
        out.setdefault(term.label, (dt.kind, dt.target))

    def class_range_terms(class_term) -> None:
        if not class_term.range:
            return
        targets = {r.target for r in class_term.range if r.kind in ("URI", "Picklist") and r.target}
        for prop in vocab.properties.values():
            if prop.id.final() in targets:
                add_term(prop)

    if pivot_columns:
        for pc in pivot_columns:
            pivot_iri = expand_iri_with_base(model_base_iri, pc.instance_type)
            for term in vocab.classes.values():
                if term.id.matches(pivot_iri):
                    class_range_terms(term)

    class_iri = expand_iri_with_base(model_base_iri, class_type)
    for term in vocab.classes.values():
        if term.id.final() == class_iri:
            class_range_terms(term)
            break

    for prop in vocab.properties.values():
        if prop.domain and class_iri in prop.domain:
            add_term(prop)

    return out


@dataclass
class HeaderDiags:
    """What validate_headers (validation.rs:8-81) warns/errors about:
    unknown columns (not in vocab, not ignored) and empty header cells."""

    unknown: list[str] = field(default_factory=list)
    empty: int = 0


def plan_headers(
    headers: list[str],
    vocab: VocabularyMap,
    model_base_iri: str,
    step: ImportStep,
    identifier_label: str,
) -> tuple[list[HeaderPlan | None], HeaderDiags]:
    """validate_headers (validation.rs:8-81) with positional alignment kept."""
    valid = valid_property_headers(
        vocab, model_base_iri, step.instance_type, step.pivot_columns, step.map_to_label
    )
    ignorable = set(step.ignore or [])
    pivot_of = {}
    for gi, pc in enumerate(step.pivot_columns or []):
        for col in pc.columns:
            pivot_of[col] = gi

    diags = HeaderDiags()
    plans: list[HeaderPlan | None] = []
    for i, h in enumerate(headers):
        if h == "":
            diags.empty += 1
            plans.append(None)
        elif h == identifier_label:
            plans.append(HeaderPlan(i, h, "ID", None))
        elif h in valid:
            kind, target = valid[h]
            plans.append(
                HeaderPlan(
                    i,
                    h,
                    kind,
                    target,
                    is_label=(step.map_to_label == h),
                    pivot_group=pivot_of.get(h),
                )
            )
        else:
            # unknown or ignored → dropped from emission (P4); unknown
            # additionally routed to violations (validation.rs:66-79)
            if h not in ignorable:
                diags.unknown.append(h)
            plans.append(None)
    return plans, diags


# --------------------------------------------------------------------------
# value expressions
# --------------------------------------------------------------------------

_VALUES_T = "array<struct<obj:string,obj_kind:string>>"
_TRIPLES_T = "array<struct<subj:string,pred:string,obj:string,obj_kind:string>>"


def _coerce_one_sql(kind: str, target: str | None, v: str, vocab: VocabularyMap,
                    model_base_iri: str, namespace_iris: bool) -> str:
    if kind == "Date":
        return coerce_date_sql(v)
    if kind == "Integer":
        return coerce_integer_sql(v)
    if kind == "Decimal":
        return coerce_decimal_sql(v)
    if kind == "Boolean":
        return coerce_boolean_sql(v)
    if kind in ("URI", "Picklist"):
        # J5 (value_processor.rs:152-245): target class is a plan-time
        # constant; only namespacing (off by default) changes the value.
        # The prefix kebab-cases the raw class key's display string
        # (value_processor.rs:236-238 uses class_id.to_string()).
        if namespace_iris and target is not None:
            raw = vocab.find_class_for_target(target, model_base_iri)
            if raw is not None:
                prefix = to_kebab_case(raw.display())
                return f"concat({sql_str(prefix + '/')}, {v})"
        return v
    return v  # String / ID


def _header_values_sql(step: ImportStep, plan: HeaderPlan, vocab: VocabularyMap,
                       model_base_iri: str, namespace_iris: bool) -> str:
    """array<struct<obj:string, obj_kind:string>> for the header's cell, as
    SQL text: empty for an empty cell (lambda variable ``v`` is reserved
    by this builder).

    R4: non-String typed cells split on the step delimiter (default ';'),
    each piece trimmed (processor_impl.rs:188-200). Each split+trimmed
    element is coerced AND kind-typed independently — the reference types
    per value, not per cell (value_processor.rs), so '1;2' under Integer
    yields two number-kind values, and ' 42 ' is typed on the trimmed
    form.
    """
    c = f"c{plan.index}"
    delim = step.delimit_values_on or ";"
    if plan.kind == "String":
        raw = f"array({c})"
    else:
        raw = f"transform(split({c}, {sql_str(re.escape(delim))}), x -> trim(x))"
    obj = _coerce_one_sql(plan.kind, plan.target, "v", vocab, model_base_iri, namespace_iris)
    flags = coercion_kind_flags_sql(plan.kind, "v")
    values = f"transform({raw}, v -> named_struct('obj', {obj}, 'obj_kind', {flags}))"
    return f"IF({c} IS NOT NULL AND {c} != '', {values}, CAST(array() AS {_VALUES_T}))"


def _triples_expr(subj: str, pred: str, values: str) -> Column:
    """The triple array of ``values`` (SQL text) under the column ``subj``."""
    return F.expr(
        f"transform({values}, s -> named_struct('subj', {subj}, 'pred', {sql_str(pred)}, "
        "'obj', s.obj, 'obj_kind', s.obj_kind))"
    )


def _triple(subj: Column, pred: Column | str, obj: Column | str, obj_kind: str) -> Column:
    """One (subj, pred, obj, obj_kind) struct; a str pred or obj is a literal."""
    def lit(x):
        return F.lit(x) if isinstance(x, str) else x

    return F.struct(
        subj.alias("subj"), lit(pred).alias("pred"), lit(obj).alias("obj"),
        F.lit(obj_kind).alias("obj_kind"),
    )


def _explode_triples(df: DataFrame, arrays: list[Column]) -> DataFrame:
    """One scan, one explode: each row's triple arrays, concatenated."""
    return df.select(F.explode(F.flatten(F.array(*arrays))).alias("t")).select("t.*")


# --------------------------------------------------------------------------
# CSV scan with positional columns
# --------------------------------------------------------------------------


def csv_headers(spark: SparkSession, path: str) -> list[str]:
    """First CSV record via the driver filesystem for plain paths, or
    through Spark's Hadoop FS for scheme-qualified URIs (s3a://,
    file://, hdfs://) — S3 storage (S5/S3) must not fall over on the
    driver-side header peek. A file with no record raises ValueError."""
    import csv as _csv
    import io

    if storage.is_uri(path):
        first = spark.read.text(path).limit(1).collect()
        line = first[0][0] if first else ""
        header = next(_csv.reader(io.StringIO(line.lstrip("\ufeff"))), None)
    else:
        with open(path, newline="", encoding="utf-8-sig") as f:
            header = next(_csv.reader(f), None)
    if header is None:
        raise ValueError(f"{path}: empty CSV, no header row")
    return header


def read_csv_positional(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """RFC-4180 scan; columns renamed c0..cn so header strings with
    dots/parens never fight Spark's column resolution. Returns the raw
    header list alongside. The schema comes from the header the driver
    already parsed, so Spark launches no header-inference job; with
    ``header`` set it still skips that line."""
    headers = csv_headers(spark, path)
    df = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .schema(StructType([StructField(n, StringType()) for n in _inferred_names(headers)]))
        .csv(path)
    )
    df = df.toDF(*[f"c{i}" for i in range(len(headers))])
    return df, headers


def _inferred_names(headers: list[str]) -> list[str]:
    """The column names Spark's header inference gives (empty → ``_c<i>``,
    case-insensitive duplicates → name + index). Naming the schema after
    the header keeps the reader's header check from warning on every scan."""
    low = [h.lower() for h in headers]
    return [
        f"_c{i}" if not h else f"{h}{i}" if low.count(h.lower()) > 1 else h
        for i, h in enumerate(headers)
    ]


def read_step_positional(
    spark: SparkSession, path: str, step: ImportStep
) -> tuple[DataFrame, list[str]]:
    """Dispatch: .xlsx / sheet-bearing steps (S2, ExcelImportManifest)
    route through the driver-side sheet reader — workbooks are
    driver-sized manifest inputs, not lake tables — everything else is
    the distributed CSV scan. Empty cells normalize to null to match
    the CSV reader's semantics."""
    sheet = _step_sheet(step, path)
    if sheet is None:
        return read_csv_positional(spark, path)
    from ..sources.excel import read_sheet

    headers, rows = read_sheet(path, sheet)
    schema = ", ".join(f"c{i} string" for i in range(len(headers)))
    norm = [[x if x != "" else None for x in r] for r in rows]
    return local_df(spark, norm, schema), headers


def _col(i: int) -> Column:
    return F.col(f"c{i}")


def _nonempty(c: Column) -> Column:
    return c.isNotNull() & (c != "")


def _subject(manifest: Manifest, class_type: str, id_idx: int) -> Column:
    """The row's subject id: the id cell, kebab-class-prefixed under namespaceIris."""
    if manifest.instances.namespace_iris:
        return F.concat(F.lit(to_kebab_case(class_type) + "/"), _col(id_idx))
    return _col(id_idx)


def _step_identifier(vocab: VocabularyMap, step: ImportStep, class_type: str) -> str:
    label = _identifier_label(vocab, step, class_type)
    if label is None:
        raise ValueError(f"No identifier property found for class '{class_type}'")
    return label


# --------------------------------------------------------------------------
# step → triples: each step is one scan and one explode
# --------------------------------------------------------------------------


def basic_instance_outputs(
    spark: SparkSession,
    manifest: Manifest,
    vocab: VocabularyMap,
    step: ImportStep,
    base_path: str | Path,
) -> tuple[DataFrame, list[HeaderPlan | None], HeaderDiags, str]:
    """BasicInstanceStep / PicklistStep (processor_impl.rs:14-338) + R1 pivot.

    Returns (triples, header plans, header diagnostics, class_type) so
    the violations builder (operators/violations.py) can route unknown
    headers and per-value coercion/picklist failures without a second
    planning pass.

    Each row's parent triples and, per pivot group with any value, the
    child's triples plus the parent→child edge come out of one explode."""
    class_type = step.instance_type or None
    if not class_type:
        from ..iri import to_pascal_case

        class_type = to_pascal_case(step.step_id())
    namespace_iris = manifest.instances.namespace_iris
    model_base = manifest.model.base_iri
    identifier_label = _step_identifier(vocab, step, class_type)

    path = str(storage.join_path(base_path, manifest.instances.path, step.path))
    df, headers = read_step_positional(spark, path, step)
    plans, diags = plan_headers(headers, vocab, model_base, step, identifier_label)

    id_plan = next((p for p in plans if p and p.kind == "ID"), None)
    if id_plan is None:
        raise ValueError(f"Identifier column '{identifier_label}' not found in {path}")

    df = df.filter(_nonempty(_col(id_plan.index))).withColumn(
        "_subj", _subject(manifest, class_type, id_plan.index)
    )

    def values(p: HeaderPlan) -> str:
        return _header_values_sql(step, p, vocab, model_base, namespace_iris)

    # --- plain (non-pivot) properties
    arrays: list[Column] = [F.array(_triple(F.col("_subj"), "@type", class_type, "type"))]
    for p in plans:
        if p is None or p.kind == "ID" or p.pivot_group is not None:
            continue
        arrays.append(_triples_expr("_subj", p.name, values(p)))
        if p.is_label:
            arrays.append(_triples_expr("_subj", "label", values(p)))

    # --- R1 pivot children: one child per (row, pivot group) with any value
    for gi, pc in enumerate(step.pivot_columns or []):
        group_plans = [p for p in plans if p is not None and p.pivot_group == gi]
        if not group_plans:
            continue
        any_value = _nonempty(_col(group_plans[0].index))
        for p in group_plans[1:]:
            any_value = any_value | _nonempty(_col(p.index))

        # deterministic blank-node id: hash of parent, relationship, type and
        # the processed pivot values in column order (SURVEY §2.8 #1),
        # computed once per row with a child, as a column the child's
        # triples reference
        hash_parts = [F.col("_subj"), F.lit(pc.new_relationship_property), F.lit(pc.instance_type)]
        for p in group_plans:
            hash_parts.append(F.lit(p.name))
            hash_parts.append(F.expr(f"concat_ws({sql_str(_SEP)}, transform({values(p)}, s -> s.obj))"))
        child = f"_child{gi}"
        df = df.withColumn(child, F.when(any_value, F.sha2(F.concat_ws(_SEP, *hash_parts), 256)))

        child_arrays = [F.array(_triple(F.col(child), "@type", pc.instance_type, "type"))]
        child_arrays += [_triples_expr(child, p.name, values(p)) for p in group_plans]
        child_arrays.append(
            F.array(_triple(F.col("_subj"), pc.new_relationship_property, F.col(child), "ref"))
        )
        arrays.append(
            F.when(any_value, F.flatten(F.array(*child_arrays))).otherwise(
                F.array().cast(_TRIPLES_T)
            )
        )

    return _explode_triples(df, arrays), plans, diags, class_type


def subclass_instance_triples(
    spark: SparkSession,
    manifest: Manifest,
    vocab: VocabularyMap,
    step: ImportStep,
    base_path: str | Path,
) -> DataFrame:
    """SubClassInstanceStep (processor_impl.rs:340-574).

    Reference behavior kept faithfully: values stay raw strings (no
    coercion/split — its TODO at :542), and the step's own `ignore` list
    is NOT applied (the reference never consults it on this path).
    R3: the subclass cell resolves against vocabulary classes (J3) to a
    normalized PascalCase type; unresolved cells pass through raw. The
    class lookup is a broadcast join against a ``LocalRelation`` built on
    the driver, so no Python worker runs.
    """
    parent_type = step.instance_type
    identifier_label = _step_identifier(vocab, step, parent_type)
    subclass_property = step.sub_class_property
    if not subclass_property:
        raise ValueError("SubClassInstanceStep requires subClassProperty")

    path = str(storage.join_path(base_path, manifest.instances.path, step.path))
    df, headers = read_step_positional(spark, path, step)
    try:
        id_idx = headers.index(identifier_label)
    except ValueError:
        raise ValueError(f"Identifier column '{identifier_label}' not found in {path}")
    try:
        sub_idx = headers.index(subclass_property)
    except ValueError:
        raise ValueError(f"Subclass property column '{subclass_property}' not found")

    df = df.filter(_nonempty(_col(id_idx)) & _nonempty(_col(sub_idx))).withColumn(
        "_subj", _subject(manifest, parent_type, id_idx)
    )

    # J3 broadcast resolve (processor_impl.rs:487-516): the cell matches a
    # class key's String id or original_id, then normalize().pascal() of the
    # raw key is the resolved type (serialized as the replacement side).
    resolve_rows = []
    for key in vocab.classes:
        raw = vocab.raw_class_keys.get(key)
        if raw is None:
            from ..vocabulary import IdOpt

            raw = IdOpt(key)
        resolve_rows.append((key, raw.normalize().pascal().final()))
    lookup = local_df(spark, resolve_rows, "_sub_raw string, _sub_resolved string")

    df = df.join(F.broadcast(lookup), df[f"c{sub_idx}"] == lookup["_sub_raw"], "left")
    resolved_type = F.coalesce(F.col("_sub_resolved"), _col(sub_idx))

    subj = F.col("_subj")
    arrays = [
        F.array(
            _triple(subj, "@type", parent_type, "type"),
            _triple(subj, "@type", resolved_type, "type"),
        )
    ]
    for i, h in enumerate(headers):
        if i in (id_idx, sub_idx) or h == "":
            continue
        arrays.append(
            F.when(_nonempty(_col(i)), F.array(_triple(subj, h, _col(i), "string")))
            .otherwise(F.array().cast(_TRIPLES_T))
        )
    return _explode_triples(df, arrays)


def properties_instance_triples(
    spark: SparkSession,
    manifest: Manifest,
    vocab: VocabularyMap,
    step: ImportStep,
    base_path: str | Path,
) -> DataFrame:
    """PropertiesInstanceStep / EAV (processor_impl.rs:576-811).

    Values stay raw strings; the property id resolves against the
    vocabulary by original id (J2) and emits under its camelCase final
    key. Entity column: class identifier label if present, else the
    conventional "Entity ID" (see module docstring on the reference bug).
    Each row yields its value triple and the class @type from one explode.
    The property lookup is a broadcast join against a ``LocalRelation``
    built on the driver, so no Python worker runs.
    """
    class_type = step.instance_type
    prop_id_col = next((o.column for o in step.overrides if o.map_to == "$Property.ID"), "Property ID")
    prop_val_col = next(
        (o.column for o in step.overrides if o.map_to == "$Property.Value"), "Property Value"
    )
    identifier_label = vocab.get_identifier_label(class_type)

    path = str(storage.join_path(base_path, manifest.instances.path, step.path))
    df, headers = read_step_positional(spark, path, step)
    if identifier_label in headers:
        id_idx = headers.index(identifier_label)
    elif "Entity ID" in headers:
        id_idx = headers.index("Entity ID")
    else:
        raise ValueError(f"No identifier column found in {path}")
    for col in (prop_id_col, prop_val_col):
        if col not in headers:
            raise ValueError(f"Property column '{col}' not found in {path}")
    pid_idx = headers.index(prop_id_col)
    pval_idx = headers.index(prop_val_col)

    df = df.filter(
        _nonempty(_col(id_idx)) & _nonempty(_col(pid_idx)) & _nonempty(_col(pval_idx))
    )

    # J2 broadcast property resolve (processor_impl.rs:734-755): the cell
    # matches a property key (camel original / original id); the emitted
    # predicate is that key's camel final — term.id.final() minus the base
    # (the reference's map key is the *unexpanded* camel IdOpt).
    base = manifest.model.base_iri
    rows = []
    for key, term in vocab.properties.items():
        fin = term.id.final()
        if base and fin.startswith(base):
            fin = fin[len(base):]
        rows.append((key, fin))
    lookup = local_df(spark, rows, "_pid_raw string, _pid_final string")

    df = df.join(F.broadcast(lookup), df[f"c{pid_idx}"] == lookup["_pid_raw"], "left")
    pred = F.coalesce(F.col("_pid_final"), _col(pid_idx))

    subj = _subject(manifest, class_type, id_idx)
    return _explode_triples(
        df,
        [F.array(
            _triple(subj, pred, _col(pval_idx), "string"),
            _triple(subj, "@type", class_type, "type"),
        )],
    )
