"""Vocabulary/@context compiler — the schema symbol table (SURVEY §1.1 #2).

Compiles model CSVs into a ``VocabularyMap`` on the driver, exactly as
the reference does in ``csv-to-jsonld-lib/src/vocabulary/processor.rs:229-663``.
This is deliberately driver-side pure Python: model files are schema-sized
(KBs–MBs), and the compiled map is broadcast to executors — the Spark
analog of the reference holding it in one process. Everything downstream
(instance plans, entity linking, predicate canonicalization) consumes the
broadcast artifact.

Deviations from the reference, on purpose:
- ``is_model_file`` routing (manifest/mod.rs:763-773) is applied only to
  Excel-sheet inputs. The reference applies it unconditionally in
  ``vocabulary/processor.rs:267``, which rejects *its own fixture model
  CSVs* (none carry all five sniff headers) — clearly a regression; its
  golden e2e test is bit-rotted and would not have caught it.
- Term maps are keyed by the IdOpt's original string (the reference's
  HashMap hashes IdOpt by original_id, types/vocabulary.rs:61-72), with
  match-on-either-id lookups provided explicitly.
"""

from __future__ import annotations

import csv
import io
import json
from dataclasses import dataclass, field
from pathlib import Path

from .sources import storage
from .iri import (
    are_conflicting,
    expand_iri_with_base,
    normalize_label_for_iri,
    to_camel_case,
    to_pascal_case,
)
from .manifest import ImportStep, Manifest

# --- datatypes (types/csv.rs:15-92) ---------------------------------------

ID, URI, PICKLIST, STRING, DECIMAL, INTEGER, DATE, BOOLEAN = (
    "ID",
    "URI",
    "Picklist",
    "String",
    "Decimal",
    "Integer",
    "Date",
    "Boolean",
)

_DATATYPE_PARSE = {
    "primary key identifier": ID,
    "@id": ID,
    "foreign key reference": URI,
    "uri": URI,
    "picklist": PICKLIST,
    "string": STRING,
    "": STRING,
    "float": DECIMAL,
    "integer": INTEGER,
    "date/time": DATE,
    "date": DATE,
    "boolean": BOOLEAN,
}

_XSD = {
    ID: "xsd:anyURI",
    URI: "xsd:anyURI",
    PICKLIST: "xsd:anyURI",
    STRING: "xsd:string",
    DECIMAL: "xsd:decimal",
    INTEGER: "xsd:integer",
    DATE: "xsd:date",
    BOOLEAN: "xsd:boolean",
}


def parse_datatype(s: str) -> str:
    """types/csv.rs:73-92."""
    key = s.strip().lower()
    if key not in _DATATYPE_PARSE:
        raise ValueError(f"Invalid CSV datatype: {key}")
    return _DATATYPE_PARSE[key]


@dataclass(frozen=True)
class Datatype:
    """PropertyDatatype: kind + optional target-class IRI payload."""

    kind: str
    target: str | None = None

    def xsd(self) -> str:
        if self.kind in (URI, PICKLIST) and self.target:
            return self.target
        return _XSD[self.kind]


# --- IdOpt (types/vocabulary.rs:12-205) ------------------------------------


@dataclass(frozen=True)
class IdOpt:
    original: str
    replacement: str | None = None  # None → plain String variant

    def final(self) -> str:
        return self.replacement if self.replacement is not None else self.original

    def matches(self, s: str) -> bool:
        """IdOpt::PartialEq vs a plain string: either side matches."""
        return s == self.original or (self.replacement is not None and s == self.replacement)

    def normalize(self) -> "IdOpt":
        if self.replacement is None:
            return IdOpt(normalize_label_for_iri(self.original))
        return IdOpt(self.original, normalize_label_for_iri(self.replacement))

    def pascal(self) -> "IdOpt":
        if self.replacement is None:
            return IdOpt(to_pascal_case(self.original))
        return IdOpt(self.original, to_pascal_case(self.replacement))

    def camel(self) -> "IdOpt":
        if self.replacement is None:
            return IdOpt(to_camel_case(self.original))
        return IdOpt(self.original, to_camel_case(self.replacement))

    def with_base(self, base_iri: str) -> "IdOpt":
        if self.replacement is None:
            return IdOpt(expand_iri_with_base(base_iri, self.original))
        return IdOpt(self.original, expand_iri_with_base(base_iri, self.replacement))

    def display(self) -> str:
        """IdOpt::Display (types/vocabulary.rs:195-205)."""
        if self.replacement is None:
            return self.original
        return f"{self.original} (to be replaced by {self.replacement})"


@dataclass
class VocabTerm:
    """VocabularyTerm (types/vocabulary.rs:222-233)."""

    id: IdOpt
    type_: list[str]
    label: str | None = None
    sub_class_of: list[str] | None = None
    comment: str | None = None
    domain: list[str] | None = None
    range: list[Datatype] | None = None
    extra_items: dict[str, str] = field(default_factory=dict)
    one_of: list[str] | None = None

    def update_with(self, other: "VocabTerm") -> None:
        """A2 merge + conflict detection (types/vocabulary.rs:294-368)."""
        if are_conflicting(self.label, other.label):
            raise ValueError(
                f"conflicting labels for term '{self.id.display()}': {self.label!r} vs {other.label!r}"
            )
        if self.label is None:
            self.label = other.label
        if are_conflicting(self.comment, other.comment):
            raise ValueError(
                f"conflicting comments for term '{self.id.display()}'"
            )
        if other.domain:
            if self.domain is None:
                self.domain = list(other.domain)
            else:
                for d in other.domain:
                    if d not in self.domain:
                        self.domain.append(d)
        if other.range:
            if self.range is None:
                self.range = list(other.range)
            else:
                for r in other.range:
                    if r not in self.range:
                        self.range.append(r)
        for k, v in other.extra_items.items():
            cur = self.extra_items.get(k)
            if cur is not None and cur != v and cur != "" and v != "":
                raise ValueError(f"conflicting extraItem {k!r} for term '{self.id.display()}'")
            self.extra_items[k] = v


@dataclass
class VocabularyMap:
    """classes/properties keyed by IdOpt.original (types/vocabulary.rs:487-494)."""

    classes: dict[str, VocabTerm] = field(default_factory=dict)
    properties: dict[str, VocabTerm] = field(default_factory=dict)
    identifiers: dict[str, VocabTerm] = field(default_factory=dict)
    # raw (pre-expansion) IdOpt each class entry was keyed under — the
    # reference's HashMap key; needed for J3 subclass resolution
    raw_class_keys: dict[str, "IdOpt"] = field(default_factory=dict)

    def get_identifier_label(self, class_name: str) -> str | None:
        term = self.identifiers.get(class_name)
        return term.label if term else None

    def find_picklist_class_key(self, class_name: str) -> str | None:
        """update_or_insert_picklist_instance's key lookup
        (types/vocabulary.rs:578-595): the class whose raw key
        normalize().pascal() id — String id, or ReplacementMap
        original_id — equals the step's class name."""
        for key in self.classes:
            raw = self.raw_class_keys.get(key) or IdOpt(key)
            if raw.normalize().pascal().original == class_name:
                return key
        return None

    def find_class_for_target(self, target_iri: str, model_base_iri: str) -> "IdOpt | None":
        """J5 (value_processor.rs:159-180): the raw class key whose
        normalize().pascal().with_base(base) matches the target — String
        ids compare by the expanded IRI, ReplacementMap ids by their
        *original* (unexpanded) id. Returns the raw key IdOpt (its
        Display string is what namespacing kebab-cases)."""
        for key in self.classes:
            raw = self.raw_class_keys.get(key) or IdOpt(key)
            final_id = raw.normalize().pascal().with_base(model_base_iri)
            if final_id.replacement is None:
                if final_id.original == target_iri:
                    return raw
            else:
                if raw.original == target_iri:
                    return raw
        return None


# --- compiler ---------------------------------------------------------------


@dataclass
class _Mapping:
    """VocabularyColumnMapping defaults per step (mapping.rs:350-391)."""

    class_column: IdOpt
    class_label_column: str | None
    class_description_column: str | None
    property_column: IdOpt | None
    property_name_column: str | None
    property_description_column: str | None
    type_column: str | None
    property_class_column: str | None


def _default_mapping(step_kind: str) -> _Mapping:
    if step_kind == "BasicVocabularyStep":
        return _Mapping(
            IdOpt("Class ID"), "Class Name", "Class Description",
            IdOpt("Property ID"), "Property Name", "Property Description",
            "Type", "Class Range",
        )
    if step_kind == "SubClassVocabularyStep":
        return _Mapping(IdOpt("Class ID"), "Class Name", "Class Description",
                        None, None, None, None, None)
    if step_kind == "PropertiesVocabularyStep":
        return _Mapping(
            IdOpt("Class ID"), None, None,
            IdOpt("Property ID"), "Property Name", "Property Description",
            "Type", "Class Range",
        )
    raise ValueError(step_kind)


def _column_ref(mapping: _Mapping, token: str, for_class: bool) -> str:
    """$-token → current physical column (mapping.rs:393-477)."""
    t = token.lstrip("$")
    table = {
        "Class.Name": mapping.class_label_column,
        "Class.Description": mapping.class_description_column,
        "Property.ID": mapping.property_column.final() if mapping.property_column else None,
        "Property.Name": mapping.property_name_column,
        "Property.Description": mapping.property_description_column,
        "Property.Type": mapping.type_column,
        "Property.TargetClass": mapping.property_class_column,
    }
    col = table.get(t)
    if col is None:
        raise ValueError(f"invalid replace-id-with token {token!r}")
    return col


class VocabularyCompiler:
    """Drives model steps in manifest order (PHASE A, processor/mod.rs:190-201)."""

    def __init__(self, manifest: Manifest, base_path: str | Path, strict: bool = False,
                 sniff_model_files: bool = False):
        self.manifest = manifest
        # URI bases (s3a:// etc.) must not be collapsed by Path
        self.base_path = base_path if storage.is_uri(base_path) else Path(base_path)
        self.base_iri = manifest.model.base_iri
        self.strict = strict
        # P7 parity switch: apply the reference's is_model_file sniff to
        # CSV model steps too (vocabulary/processor.rs:267). OFF by
        # default — documented deviation #1: the sniff rejects the
        # reference's own fixture model files, so faithful behavior is
        # only useful to users who relied on the skip-foreign-CSVs
        # side effect.
        self.sniff_model_files = sniff_model_files
        self.vocab = VocabularyMap()
        self.class_properties: dict[str, list[str]] = {}
        self._class_prop_keys: dict[str, IdOpt] = {}
        self.warnings: list[str] = []

    @staticmethod
    def _idopt_eq(a: IdOpt, b: IdOpt) -> bool:
        """IdOpt::PartialEq (types/vocabulary.rs:74-104)."""
        if a.replacement is None and b.replacement is None:
            return a.original == b.original
        if a.replacement is not None and b.replacement is not None:
            return a.original == b.original or a.replacement == b.replacement
        s_, m = (a, b) if a.replacement is None else (b, a)
        return s_.original == m.original or s_.original == m.replacement

    def _find_existing_class_raw(self, class_id: IdOpt) -> IdOpt | None:
        """vocabulary.classes.keys().find(|k| k == &class_id) — full-eq scan
        (vocabulary/processor.rs:540-545)."""
        for raw in self.vocab.raw_class_keys.values():
            if self._idopt_eq(raw, class_id):
                return raw
        return None

    # -- public --------------------------------------------------------------

    def compile(self) -> VocabularyMap:
        for step in self.manifest.model.sequence:
            self._process_step(step)
        self._inject_picklist_labels()
        self._fold_class_properties()
        return self.vocab

    # -- step processing (vocabulary/processor.rs:229-414) --------------------

    def _process_step(self, step: ImportStep) -> None:
        kind = next(t for t in step.types if t.endswith("VocabularyStep"))
        headers, rows = _read_step_rows(
            storage.join_path(self.base_path, self.manifest.model.path, step.path), step
        )

        if self.sniff_model_files and not is_model_file(headers):
            # reference contract: warn + skip the whole step
            # (vocabulary/processor.rs:265-272)
            self.warnings.append(
                f"CSV or sheet {step.step_id()} does not appear to be a model file, skipping"
            )
            return

        mapping = _default_mapping(kind)
        for ov in step.overrides:
            token = ov.map_to.lstrip("$")
            if token == "Class.ID":
                mapping.class_column = IdOpt(ov.column)
            elif token == "Class.Name":
                mapping.class_label_column = ov.column
            elif token == "Class.Description":
                mapping.class_description_column = ov.column
            elif token == "Property.ID":
                mapping.property_column = IdOpt(ov.column)
            elif token == "Property.Name":
                mapping.property_name_column = ov.column
            elif token == "Property.Description":
                mapping.property_description_column = ov.column
            elif token == "Property.Type":
                mapping.type_column = ov.column
            elif token == "Property.TargetClass":
                mapping.property_class_column = ov.column
            else:
                raise ValueError(f"invalid override mapTo {ov.map_to!r}")
        if step.replace_class_id_with:
            repl_col = _column_ref(mapping, step.replace_class_id_with, True)
            mapping.class_column = IdOpt(mapping.class_column.original, repl_col)
        if step.replace_property_id_with:
            if mapping.property_column is None:
                raise ValueError("replacePropertyIdWith without property column")
            repl_col = _column_ref(mapping, step.replace_property_id_with, False)
            mapping.property_column = IdOpt(mapping.property_column.original, repl_col)

        ignorable = set(step.ignore or [])
        headers = [h if h not in ignorable else "" for h in headers]
        col_idx = {h: i for i, h in enumerate(headers) if h}

        def get(row: list[str], col: str | None) -> str:
            if col is None or col not in col_idx:
                return ""
            i = col_idx[col]
            return row[i] if i < len(row) else ""

        def get_id(row: list[str], col: IdOpt) -> IdOpt:
            if col.replacement is None:
                return IdOpt(get(row, col.original))
            return IdOpt(get(row, col.original), get(row, col.replacement))

        sub_class_of = list(step.sub_class_of) if step.sub_class_of else None

        for row in rows:
            class_id = get_id(row, mapping.class_column)
            class_name = get(row, mapping.class_label_column) if mapping.class_label_column else None
            class_desc = (
                get(row, mapping.class_description_column)
                if mapping.class_description_column
                else None
            )
            extra_class = {
                e.map_to: get(row, e.column) for e in step.extra_items if e.on_entity == "CLASS"
            }
            extra_prop = {
                e.map_to: get(row, e.column) for e in step.extra_items if e.on_entity == "PROPERTY"
            }
            self._process_class_term(class_id, class_name, class_desc, sub_class_of, extra_class)
            if kind != "SubClassVocabularyStep":
                prop_id = get_id(row, mapping.property_column)
                self._process_property_term(
                    class_id,
                    prop_id,
                    property_name=get(row, mapping.property_name_column),
                    property_desc=get(row, mapping.property_description_column),
                    property_type=get(row, mapping.type_column) or "string",
                    property_class=get(row, mapping.property_class_column),
                    extra_items=extra_prop,
                )

    def _process_class_term(self, class_id: IdOpt, name: str | None, desc: str | None,
                            sub_class_of: list[str] | None, extra: dict[str, str]) -> None:
        """vocabulary/processor.rs:416-477."""
        term = VocabTerm(
            id=class_id.normalize().pascal().with_base(self.base_iri),
            type_=["rdfs:Class"],
            sub_class_of=sub_class_of,
            label=name,
            comment=desc,
            domain=None,
            range=[],
            extra_items=dict(extra),
        )
        key = class_id.original
        existing = self.vocab.classes.get(key)
        if existing is None:
            self.vocab.classes[key] = term
            self.vocab.raw_class_keys[key] = class_id
        else:
            existing.update_with(term)

    def _process_property_term(self, class_id: IdOpt, prop_id: IdOpt, property_name: str,
                               property_desc: str, property_type: str, property_class: str,
                               extra_items: dict[str, str]) -> None:
        """vocabulary/processor.rs:479-595."""
        dt = parse_datatype(property_type)
        camel = prop_id.camel()
        if property_class:
            target = expand_iri_with_base(self.base_iri, to_pascal_case(property_class))
            if dt == PICKLIST:
                rng = [Datatype(PICKLIST, target)]
            elif dt in (URI, ID):
                rng = [Datatype(URI, target)]
            else:
                msg = (
                    f"[Property: {property_name}] A property with type {property_type} "
                    f"cannot have a target class ({property_class})"
                )
                if self.strict:
                    raise ValueError(msg)
                self.warnings.append(msg)
                rng = [Datatype(URI, target)]
        else:
            rng = [Datatype(dt)]

        # domain uses the already-registered class key when one matches
        # (vocabulary/processor.rs:540-545) — e.g. "C858545219" resolves to
        # the MaterialClass ReplacementMap and yields the replaced IRI.
        domain_key = self._find_existing_class_raw(class_id) or class_id
        term = VocabTerm(
            id=camel.with_base(self.base_iri),
            type_=["rdf:Property"],
            label=property_name,
            comment=property_desc,
            domain=[domain_key.normalize().pascal().with_base(self.base_iri).final()],
            range=rng,
            extra_items=dict(extra_items),
        )

        if dt == ID:
            self.vocab.identifiers[class_id.normalize().pascal().final()] = term
        else:
            key = camel.original
            existing = self.vocab.properties.get(key)
            if existing is None:
                self.vocab.properties[key] = term
            else:
                existing.update_with(term)
            entry = self.class_properties.setdefault(class_id.original, [])
            self._class_prop_keys.setdefault(class_id.original, class_id)
            entry.append(camel.final())

    # -- post passes (vocabulary/processor.rs:360-411,597-663) ----------------

    def _inject_picklist_labels(self) -> None:
        """R7: classes referenced by a Picklist range get rdfs:label."""
        picklist_targets = set()
        for p in self.vocab.properties.values():
            if p.range and p.range[0].kind == PICKLIST and p.range[0].target:
                base = self.base_iri
                t = p.range[0].target
                local = t[len(base):] if t.startswith(base) else t
                picklist_targets.add(local)

        for class_key in list(self.class_properties.keys()):
            id_opt = self._class_prop_keys[class_key]
            norm = id_opt.normalize().pascal()
            # IdOpt eq vs String(local): matches original or replacement
            if not (norm.original in picklist_targets
                    or (norm.replacement is not None and norm.replacement in picklist_targets)):
                continue
            if "rdfs:label" not in self.class_properties[class_key]:
                self.class_properties[class_key].append("rdfs:label")
            label_term = self.vocab.properties.get("rdfs:label")
            # reference uses the *raw* class key's final id as the domain
            # (vocabulary/processor.rs:638), not the expanded class IRI
            class_iri = id_opt.final()
            new_term = VocabTerm(
                id=IdOpt("rdfs:label"),
                type_=["rdf:Property"],
                label="label",
                comment="The human-readable label of the resource",
                domain=[class_iri],
                range=[Datatype(STRING)],
            )
            if label_term is None:
                self.vocab.properties["rdfs:label"] = new_term
            else:
                label_term.update_with(new_term)

    def _fold_class_properties(self) -> None:
        """A3: class.range ← its property IRIs (processor.rs:399-411)."""
        for class_key, props in self.class_properties.items():
            term = self.vocab.classes.get(class_key)
            if term is not None:
                term.range = [
                    Datatype(URI, expand_iri_with_base(self.base_iri, p)) for p in props
                ]


# the reference's model-file sniff headers (manifest/mod.rs:763-773)
MODEL_SNIFF_HEADERS = ["Class ID", "Class Name", "Property ID", "Property Name", "Type"]


def is_model_file(headers: list[str]) -> bool:
    """Manifest::is_model_file (manifest/mod.rs:763-773): a file counts
    as a model file only when ALL five sniff headers are present."""
    return all(h in headers for h in MODEL_SNIFF_HEADERS)


def _read_csv_rows(path) -> tuple[list[str], list[list[str]]]:
    """(header, data rows) of a driver-read CSV; ValueError when the file
    holds no record at all."""
    rdr = csv.reader(io.StringIO(storage.read_text(path)))
    headers = next(rdr, None)
    if headers is None:
        raise ValueError(f"{path}: empty CSV, no header row")
    return headers, list(rdr)


def _step_sheet(step: ImportStep, path) -> str | None:
    """The workbook sheet an import step reads (S2, excel/mod.rs), or None
    for a CSV step: a step that names a sheet, or any .xlsx/.xlsm path,
    which reads the sheet named after the step."""
    if step.sheet or str(path).lower().endswith((".xlsx", ".xlsm")):
        return step.sheet or step.step_id()
    return None


def _read_step_rows(path, step: ImportStep) -> tuple[list[str], list[list[str]]]:
    """(header, data rows) of a driver-read step file, CSV or sheet."""
    sheet = _step_sheet(step, path)
    if sheet is None:
        return _read_csv_rows(path)
    from .sources.excel import read_sheet

    return read_sheet(path, sheet)


def _identifier_label(vocab: VocabularyMap, step: ImportStep, class_type: str) -> str | None:
    """The class's identifier column: its @id property's label, else the
    step's ``@id`` override column."""
    override = next((o.column for o in step.overrides if o.map_to == "@id"), None)
    return vocab.get_identifier_label(class_type) or override


def compile_vocabulary(manifest: Manifest, base_path: str | Path, strict: bool = False,
                       sniff_model_files: bool = False) -> VocabularyMap:
    return VocabularyCompiler(manifest, base_path, strict, sniff_model_files).compile()


def accumulate_picklist_one_of(
    manifest: Manifest, vocab: VocabularyMap, base_path: str | Path
) -> list[str]:
    """A4: fold each PicklistStep's instance ids into its class term's
    ``one_of`` (types/vocabulary.rs:569-614, driven from
    instance/processor_impl.rs:298-325). Entries are the id with the
    instances base IRI applied — namespaced with the kebab class prefix
    when namespaceIris is on, raw otherwise (the reference's
    with_base_iri of the already-prefixed id).

    Driver-side CSV read: picklist domains are dimension-sized by
    definition (they enumerate an enum); at cluster scale swap in a
    Spark scan + collect of the single id column — the accumulated set
    is a driver-side list either way. Returns lookup-failure messages (the
    reference's warn/error text) for the caller to route."""
    from .iri import to_kebab_case

    # idempotence guard: reuse of one compiled vocab across several
    # builds must not duplicate the accumulated enum entries
    if getattr(vocab, "_one_of_accumulated", False):
        return []
    vocab._one_of_accumulated = True

    problems: list[str] = []
    for step in manifest.instance_sequence():
        if not step.has_type("PicklistStep"):
            continue
        class_type = step.instance_type or to_pascal_case(step.step_id())
        identifier_label = _identifier_label(vocab, step, class_type)
        if identifier_label is None:
            problems.append(f"No identifier property found for picklist class '{class_type}'")
            continue
        key = vocab.find_picklist_class_key(class_type)
        if key is None:
            problems.append(
                "Cannot process picklist entry because class name "
                f"({class_type}) not found in vocabulary classes"
            )
            continue
        path = storage.join_path(base_path, manifest.instances.path, step.path)
        headers, data_rows = _read_step_rows(path, step)
        try:
            idx = headers.index(identifier_label)
        except ValueError:
            problems.append(
                f"Identifier column '{identifier_label}' not found in {path}"
            )
            continue
        term = vocab.classes[key]
        if term.one_of is None:
            term.one_of = []
        for row in data_rows:
            if idx < len(row) and row[idx]:
                rid = row[idx]
                if manifest.instances.namespace_iris:
                    rid = f"{to_kebab_case(class_type)}/{rid}"
                term.one_of.append(
                    expand_iri_with_base(manifest.instances.base_iri, rid)
                )
    return problems


# --- broadcastable plain form ------------------------------------------------


def vocab_to_broadcast(vocab: VocabularyMap, model_base_iri: str) -> dict:
    """Plain-dict artifact for ``sparkContext.broadcast`` / JSON export.

    This is the engine's @context/vocabulary broadcast map — the same
    artifact the web-text predicate canonicalizer consumes.
    """
    def dt(d: Datatype) -> dict:
        return {"kind": d.kind, "target": d.target}

    def term(t: VocabTerm) -> dict:
        return {
            "id": {"original": t.id.original, "replacement": t.id.replacement},
            "type": t.type_,
            "label": t.label,
            "subClassOf": t.sub_class_of,
            "comment": t.comment,
            "domain": t.domain,
            "range": [dt(r) for r in (t.range or [])],
            "extraItems": t.extra_items,
            "oneOf": t.one_of,
        }

    return {
        "baseIri": model_base_iri,
        "classes": {k: term(v) for k, v in vocab.classes.items()},
        "properties": {k: term(v) for k, v in vocab.properties.items()},
        "identifiers": {k: term(v) for k, v in vocab.identifiers.items()},
        "rawClassKeys": {
            k: {"original": r.original, "replacement": r.replacement}
            for k, r in vocab.raw_class_keys.items()
        },
    }


def vocab_from_broadcast(d: dict) -> VocabularyMap:
    """S5 import: rebuild a VocabularyMap from the exported vocab-meta
    artifact, skipping PHASE A entirely on re-runs — the engine's
    VocabularyProcessorMetadata::from_file
    (vocabulary/processor.rs:64-133, CLI wiring main.rs:197-220).
    Inverse of vocab_to_broadcast: round-trip equality is pytest-gated
    (compile → export → import → identical instance output)."""

    def idopt(m: dict) -> IdOpt:
        return IdOpt(m["original"], m.get("replacement"))

    def term(t: dict) -> VocabTerm:
        return VocabTerm(
            id=idopt(t["id"]),
            type_=list(t["type"]),
            label=t.get("label"),
            sub_class_of=t.get("subClassOf"),
            comment=t.get("comment"),
            domain=t.get("domain"),
            range=[Datatype(r["kind"], r.get("target")) for r in t.get("range") or []] or None,
            extra_items=dict(t.get("extraItems") or {}),
            one_of=t.get("oneOf"),
        )

    return VocabularyMap(
        classes={k: term(v) for k, v in d["classes"].items()},
        properties={k: term(v) for k, v in d["properties"].items()},
        identifiers={k: term(v) for k, v in d["identifiers"].items()},
        raw_class_keys={k: idopt(v) for k, v in d.get("rawClassKeys", {}).items()},
    )


def vocab_from_meta_file(path: str | Path) -> VocabularyMap:
    return vocab_from_broadcast(json.loads(storage.read_text(path, encoding="utf-8")))


def build_jsonld_context(vocab: VocabularyMap, model_base_iri: str, instances_base_iri: str) -> dict:
    """@context generation (instance/serializer.rs:23-91): object/picklist
    properties get {"@type": "@id"}; literals get their XSD datatype."""
    ctx: dict = {
        "xsd": "http://www.w3.org/2001/XMLSchema#",
        "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    }
    if model_base_iri:
        ctx["@vocab"] = model_base_iri
    base = instances_base_iri or model_base_iri
    if base:
        ctx["@base"] = base
    for prop in vocab.properties.values():
        if prop.label is None:
            continue
        entry: dict = {"@id": prop.id.final()}
        if prop.range:
            if any(r.kind in (URI, PICKLIST) for r in prop.range):
                entry["@type"] = "@id"
            else:
                entry["@type"] = prop.range[0].xsd()
        ctx[prop.label] = entry
    return ctx
