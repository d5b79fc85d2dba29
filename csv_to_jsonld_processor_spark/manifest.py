"""Declarative pipeline plan — the manifest (SURVEY §1.1 #1, §3.2).

Mirrors the semantics of the reference's JSONC manifest
(``csv-to-jsonld-lib/src/manifest/mod.rs:470-586``): the manifest is the
DAG spec; every ``ImportStep`` describes one DataFrame stage. Loading,
dedup (A6) and validation (§3.2) are pure driver-side config work — no
Spark job is submitted until the plan is valid.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

MODEL_STEPS = {"BasicVocabularyStep", "SubClassVocabularyStep", "PropertiesVocabularyStep"}
INSTANCE_STEPS = {
    "BasicInstanceStep",
    "SubClassInstanceStep",
    "PropertiesInstanceStep",
    "PicklistStep",
}


@dataclass
class ColumnOverride:
    column: str
    map_to: str


@dataclass
class ExtraItem:
    column: str
    map_to: str
    on_entity: str  # "CLASS" | "PROPERTY"


@dataclass
class PivotColumn:
    instance_type: str
    new_relationship_property: str
    columns: list[str]


@dataclass
class ImportStep:
    path: str
    types: list[str]
    sheet: str | None = None
    overrides: list[ColumnOverride] = field(default_factory=list)
    extra_items: list[ExtraItem] = field(default_factory=list)
    instance_type: str = ""
    ignore: list[str] | None = None
    replace_class_id_with: str | None = None
    replace_property_id_with: str | None = None
    sub_class_of: list[str] | None = None
    sub_class_property: str | None = None
    pivot_columns: list[PivotColumn] | None = None
    delimit_values_on: str | None = None
    map_to_label: str | None = None

    def step_id(self) -> str:
        if self.sheet:
            return self.sheet
        return Path(self.path).stem

    def has_type(self, t: str) -> bool:
        return t in self.types


@dataclass
class ImportSection:
    base_iri: str = ""
    namespace_iris: bool = False
    path: str = ""
    sequence: list[ImportStep] = field(default_factory=list)


@dataclass
class Manifest:
    id: str = ""
    type: str = "CSVImportManifest"
    name: str = ""
    description: str = ""
    ledger: str = ""
    model: ImportSection = field(default_factory=ImportSection)
    instances: ImportSection = field(default_factory=ImportSection)

    @classmethod
    def from_file(cls, path: str | Path) -> "Manifest":
        # scheme-dispatching read (S3): s3a://... manifests resolve through
        # the JVM Hadoop FS, matching the reference's remote manifest load
        # (manifest/mod.rs:131-167); local paths never touch the JVM
        from .sources.storage import read_text

        return cls.from_jsonc(read_text(path))

    @classmethod
    def from_jsonc(cls, text: str) -> "Manifest":
        # Strip //-comments outside strings (JSONC), as the reference does
        # before serde deserialization (manifest/mod.rs:621-632).
        stripped = re.sub(r'("(?:[^"\\]|\\.)*")|//[^\n]*', lambda m: m.group(1) or "", text)
        return cls.from_dict(json.loads(stripped))

    @classmethod
    def from_dict(cls, d: dict) -> "Manifest":
        def steps(section: dict) -> list[ImportStep]:
            out = []
            for s in section.get("sequence", []):
                out.append(
                    ImportStep(
                        path=s.get("path", ""),
                        sheet=s.get("sheet"),
                        types=[t for t in s.get("@type", []) if t != "CSVImportStep"],
                        overrides=[
                            ColumnOverride(o["column"], o["mapTo"]) for o in s.get("overrides", [])
                        ],
                        extra_items=[
                            ExtraItem(e["column"], e["mapTo"], e["onEntity"])
                            for e in s.get("extraItems", [])
                        ],
                        instance_type=s.get("instanceType", ""),
                        ignore=s.get("ignore"),
                        replace_class_id_with=s.get("replaceClassIdWith"),
                        replace_property_id_with=s.get("replacePropertyIdWith"),
                        sub_class_of=s.get("subClassOf"),
                        sub_class_property=s.get("subClassProperty"),
                        pivot_columns=[
                            PivotColumn(p["instanceType"], p["newRelationshipProperty"], p["columns"])
                            for p in s.get("pivotColumns", [])
                        ]
                        or None,
                        delimit_values_on=s.get("delimitValuesOn"),
                        map_to_label=s.get("mapToLabel"),
                    )
                )
            return out

        def section(key: str) -> ImportSection:
            sec = d.get(key, {}) or {}
            return ImportSection(
                base_iri=sec.get("baseIRI", ""),
                namespace_iris=bool(sec.get("namespaceIris", False)),
                path=sec.get("path", ""),
                sequence=steps(sec),
            )

        return cls(
            id=d.get("@id", ""),
            type=d.get("@type", "CSVImportManifest"),
            name=d.get("name", ""),
            description=d.get("description", ""),
            ledger=d.get("ledger", ""),
            model=section("model"),
            instances=section("instances"),
        )

    def validate(self) -> list[str]:
        """Plan checks mirroring manifest/mod.rs:634-761; returns error list."""
        errors: list[str] = []
        if self.type not in ("CSVImportManifest", "ExcelImportManifest"):
            errors.append(f"@type must be CSV/ExcelImportManifest, got {self.type!r}")

        # A6 step dedup (manifest/mod.rs:535-562)
        for sec_name, sec in (("model", self.model), ("instances", self.instances)):
            seen = set()
            for step in sec.sequence:
                key = (step.path, step.sheet)
                if key in seen:
                    errors.append(f"duplicate {sec_name} step: {key}")
                seen.add(key)

        for step in self.model.sequence:
            kinds = [t for t in step.types if t in MODEL_STEPS]
            if len(kinds) != 1:
                errors.append(f"model step {step.step_id()}: exactly one ModelStep type required")
            if "SubClassVocabularyStep" in kinds and not step.sub_class_of:
                errors.append(f"model step {step.step_id()}: SubClassVocabularyStep requires subClassOf")

        for step in self.instances.sequence:
            kinds = [t for t in step.types if t in INSTANCE_STEPS]
            if len(kinds) != 1:
                errors.append(
                    f"instance step {step.step_id()}: exactly one InstanceStep type required"
                )
            if "SubClassInstanceStep" in kinds and not step.sub_class_property:
                errors.append(
                    f"instance step {step.step_id()}: SubClassInstanceStep requires subClassProperty"
                )
            if step.delimit_values_on and step.pivot_columns:
                errors.append(
                    f"instance step {step.step_id()}: delimitValuesOn and pivotColumns are mutually exclusive"
                )
        return errors

    def instance_sequence(self) -> list[ImportStep]:
        """Picklist steps first (stable), mirroring processor/mod.rs:211-240."""
        return sorted(
            self.instances.sequence,
            key=lambda s: 0 if s.has_type("PicklistStep") else 1,
        )
