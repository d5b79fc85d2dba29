"""Seeded benchmark inputs.

``write_manifest_corpus`` writes a manifest plus model and instance CSVs
whose size scales with ``rows``. One ``BasicVocabularyStep`` model feeds
four instance steps: a ``PicklistStep`` (colors), two ``BasicInstanceStep``
files (suppliers; parts with ``delimitValuesOn`` and ``mapToLabel``) and
a ``PropertiesInstanceStep`` (EAV part features). Cells carry currency,
dates in several formats, booleans, quoted commas, multi-valued URI
references, unknown picklist values and non-numeric integers, so
``Pipeline.run`` takes its real step mix, including its warning paths.
The corpus is a pure function of ``rows`` and the seed.
"""

from __future__ import annotations

import csv
import json
import random
from pathlib import Path

MODEL_HEADERS = [
    "Class Name", "Class Description", "Property Name", "Property Description",
    "Type", "Class Range",
]

MODEL_ROWS = [
    ("Color", "Palette color", "Color ID", "id", "@id", ""),
    ("Color", "Palette color", "Color Name", "name", "String", ""),
    ("Supplier", "A supplier", "Supplier ID", "id", "@id", ""),
    ("Supplier", "A supplier", "Supplier Name", "name", "String", ""),
    ("Supplier", "A supplier", "Active Since", "first order", "Date", ""),
    ("Supplier", "A supplier", "Rating", "quality rating", "Float", ""),
    ("Supplier", "A supplier", "Preferred", "preferred flag", "Boolean", ""),
    ("Supplier", "A supplier", "Address", "postal address", "String", ""),
    ("Part", "A part", "Part ID", "id", "@id", ""),
    ("Part", "A part", "Part Name", "name", "String", ""),
    ("Part", "A part", "Unit Price", "price in USD", "Float", ""),
    ("Part", "A part", "Quantity", "units on hand", "Integer", ""),
    ("Part", "A part", "Released", "release date", "Date", ""),
    ("Part", "A part", "In Stock", "stock flag", "Boolean", ""),
    ("Part", "A part", "has Color", "color", "Picklist", "Color"),
    ("Part", "A part", "has Supplier", "suppliers", "URI", "Supplier"),
    ("Part", "A part", "Related Parts", "related parts", "URI", "Part"),
    ("Part", "A part", "Notes", "free text", "String", ""),
]

COLORS = [
    ("red", "Red"), ("blue", "Blue"), ("green", "Green"), ("black", "Black"),
    ("white", "White"), ("silver", "Silver"), ("gold", "Gold"), ("grey", "Grey"),
]

_CITIES = ["Springfield", "Riverton", "Lakeside", "Hill Valley", "Fairview", "Oak Ridge"]
_WORDS = ["bolt", "gear", "valve", "bracket", "spring", "hinge", "sensor", "relay"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_FEATURES = ["F1", "F2", "F3", "F4", "F5", "F6"]


def _date(rng: random.Random) -> str:
    y, m, d = rng.randint(1995, 2024), rng.randint(1, 12), rng.randint(1, 28)
    fmt = rng.randrange(4)
    if fmt == 0:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if fmt == 1:
        return f"{m}/{d}/{y}"
    if fmt == 2:
        return f"{_MONTHS[m - 1]} {d}, {y}"
    return f"{y}-{m:02d}"


def manifest_dict() -> dict:
    return {
        "@type": "CSVImportManifest",
        "@id": "model/perfbench",
        "name": "perfbench",
        "ledger": "perfbench/parts",
        "model": {
            "baseIRI": "http://example.org/terms/",
            "path": "model/",
            "sequence": [
                {
                    "path": "Model.csv",
                    "@type": ["CSVImportStep", "BasicVocabularyStep"],
                    "overrides": [
                        {"column": "Class Name", "mapTo": "$Class.ID"},
                        {"column": "Property Name", "mapTo": "$Property.ID"},
                    ],
                }
            ],
        },
        "instances": {
            "baseIRI": "http://example.org/ids/",
            "namespaceIris": True,
            "path": "instances/",
            "sequence": [
                {
                    "path": "Parts.csv",
                    "@type": ["CSVImportStep", "BasicInstanceStep"],
                    "instanceType": "Part",
                    "mapToLabel": "Part Name",
                    "delimitValuesOn": "|",
                },
                {
                    "path": "Suppliers.csv",
                    "@type": ["CSVImportStep", "BasicInstanceStep"],
                    "instanceType": "Supplier",
                },
                {
                    "path": "Colors.csv",
                    "@type": ["CSVImportStep", "PicklistStep"],
                    "instanceType": "Color",
                    "mapToLabel": "Color Name",
                },
                {
                    "path": "PartFeatures.csv",
                    "@type": ["CSVImportStep", "PropertiesInstanceStep"],
                    "instanceType": "Part",
                },
            ],
        },
    }


def _write_csv(path: Path, headers: list[str], rows: list) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(headers)
        w.writerows(rows)


def write_manifest_corpus(root: Path, rows: int, seed: int) -> Path:
    """Writes the corpus under ``root`` and returns the manifest path.
    ``rows`` parts, ``rows // 10`` suppliers and ``2 * rows`` EAV rows."""
    rng = random.Random(seed)
    (root / "model").mkdir(parents=True, exist_ok=True)
    (root / "instances").mkdir(parents=True, exist_ok=True)
    _write_csv(root / "model" / "Model.csv", MODEL_HEADERS, MODEL_ROWS)
    _write_csv(root / "instances" / "Colors.csv", ["Color ID", "Color Name"], COLORS)

    n_sup = max(1, rows // 10)
    suppliers = []
    for i in range(n_sup):
        suppliers.append((
            f"S{i:05d}",
            f"{rng.choice(_CITIES)} Supply {i}",
            _date(rng),
            f"{rng.uniform(1, 5):.2f}",
            rng.choice(["true", "false", "yes", "no", "1", "0", "maybe"]),
            f"{rng.randint(1, 999)} Main St, {rng.choice(_CITIES)}, ST",
        ))
    _write_csv(
        root / "instances" / "Suppliers.csv",
        ["Supplier ID", "Supplier Name", "Active Since", "Rating", "Preferred", "Address"],
        suppliers,
    )

    colors = [c for c, _ in COLORS] + ["purple"]  # purple fails picklist membership
    parts = []
    for i in range(rows):
        related = "|".join(f"P{rng.randrange(rows):06d}" for _ in range(rng.randint(0, 3)))
        sups = "|".join(f"S{rng.randrange(n_sup):05d}" for _ in range(rng.randint(1, 2)))
        qty = str(rng.randint(0, 5000)) if rng.random() > 0.02 else "n/a"
        parts.append((
            f"P{i:06d}",
            f"{rng.choice(_WORDS).title()} {i}",
            f"${rng.uniform(1, 5000):,.2f}",
            qty,
            _date(rng),
            rng.choice(["TRUE", "False", "yes", "0"]),
            rng.choice(colors),
            sups,
            related,
            f"{rng.choice(_WORDS)}, {rng.choice(_WORDS)}, grade {rng.randint(1, 9)}",
        ))
    _write_csv(
        root / "instances" / "Parts.csv",
        ["Part ID", "Part Name", "Unit Price", "Quantity", "Released", "In Stock",
         "has Color", "has Supplier", "Related Parts", "Notes"],
        parts,
    )

    features = [
        (f"P{rng.randrange(rows):06d}", rng.choice(_FEATURES), f"{rng.randint(1, 99)} {rng.choice(_WORDS)}")
        for _ in range(2 * rows)
    ]
    _write_csv(
        root / "instances" / "PartFeatures.csv",
        ["Part ID", "Property ID", "Property Value"],
        features,
    )

    manifest = root / "manifest.json"
    manifest.write_text(json.dumps(manifest_dict(), indent=1))
    return manifest
