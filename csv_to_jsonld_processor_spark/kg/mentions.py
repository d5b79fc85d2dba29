"""Batched mention detection + (subj, pred, obj) triple extraction.

The web-text analog of the reference's cell→typed-value step (SURVEY
§7.0): a page's sentences are "rows", predicate surface phrases are the
"headers", and mentions are the "cell values". Runs as ONE
``mapInPandas`` stage over whole partitions (Arrow batches; no per-row
Python calls back to the JVM) per BASELINE.json input_hint: HTML→text,
mentions and, when the KB rides along, linking — all in one pass.

Extraction is pattern-based and deterministic: for each sentence,
the first predicate surface phrase found splits it into a subject
mention (left) and object mention (right). Surface phrases come from
the predicate context (``kg/graph.predicate_context``) — the analog of
the reference mapping CSV headers through the vocabulary (P1/P5).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTIONS_SCHEMA = (
    "url string, sent_idx int, subj_mention string, pred_surface string, obj_mention string"
)

LINKED_SCHEMA = MENTIONS_SCHEMA + (
    ", subj_mention_entity string, subj_mention_class string, subj_mention_score double"
    ", obj_mention_entity string, obj_mention_class string, obj_mention_score double"
)

# sentence split on ". " except after an initial ("A. Lovelace")
_SENT_SPLIT = re.compile(r"(?<!\s[A-Z])(?<!^[A-Z])\. ")


def _compile_gazetteer(gazetteer: list[str]) -> "re.Pattern":
    """Alternation over known surface forms, longest-first so
    'Stark Industries' beats 'Stark'; word-bounded."""
    parts = sorted({re.escape(g) for g in gazetteer}, key=len, reverse=True)
    return re.compile(r"\b(" + "|".join(parts) + r")\b")


def _padded(surfaces: list[str]) -> list[tuple[str, str]]:
    """[(surface, ' surface ')]: the search patterns are loop constants —
    precompute once per partition, not per sentence × surface."""
    return [(s, f" {s} ") for s in surfaces]


def _extract_from_text(
    url: str, text: str, surfaces: list[tuple[str, str]], gaz: "re.Pattern"
) -> list[tuple]:
    """``surfaces`` is the _padded() pair list (ordered longest-first)."""
    rows = []
    find = str.find
    for si, sent in enumerate(_SENT_SPLIT.split(text)):
        sent = sent.rstrip(".").strip()
        if not sent:
            continue
        for surface, pat in surfaces:
            pos = find(sent, pat)
            if pos <= 0:
                continue
            # subject: gazetteer match ending nearest before the predicate;
            # object: match starting nearest after it
            subj = obj = None
            for m in gaz.finditer(sent):
                if m.end() <= pos:
                    subj = m.group(0)
                elif m.start() >= pos + len(pat) and obj is None:
                    obj = m.group(0)
            if subj and obj:
                rows.append((url, si, subj, surface, obj))
            break
    return rows


def extract_link_from_html(
    pages: DataFrame,
    surfaces: list[str],
    gazetteer: list[str],
    idx: dict | None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, html[, lang]) → mention triples in ONE mapInPandas stage.

    Only ``lang == 'en'`` pages are read when a ``lang`` column exists
    (a filter before the stage, so it pushes down to the scan); rows with
    ``html`` None emit nothing. Longest surfaces are tried first so 'is
    the founder of' wins over 'founded'. Mention detection is
    gazetteer-NER; linking owns disambiguation.

    With ``idx`` (``kb_index``) the KB rides into the UDF as a broadcast
    dict and the six ``*_mention_{entity,class,score}`` columns are
    filled in place (LINKED_SCHEMA) — the shuffle-free path every
    ``kg/pipeline.link_pages`` caller takes, equal to
    ``link_mentions(broadcast|salted_shuffle)``. With ``idx=None`` the
    output is MENTIONS_SCHEMA for join-based linking (the resumable
    pipeline's ``mentions`` stage).

    The binary ``html`` column is the widest in the table and Catalyst
    cannot column-prune through a mapInPandas barrier, so it crosses
    Arrow exactly once. ``extract_pages`` stays the golden-hash surface;
    both call the same pinned ``extract_text``.

    ``passthrough`` names page columns to replicate onto each emitted
    row (e.g. ``("warc_ts",)`` so streaming aggregations can watermark
    on crawl time).
    """
    import pandas as pd

    from ..extract import extract_text
    from .link import resolve_mention

    ordered = _padded(sorted(surfaces, key=len, reverse=True))
    gaz = _compile_gazetteer(gazetteer)
    src = pages.where(F.col("lang") == "en") if "lang" in pages.columns else pages
    src = src.select("url", "html", *passthrough)
    bidx = None if idx is None else src.sparkSession.sparkContext.broadcast(idx)

    schema = MENTIONS_SCHEMA if idx is None else LINKED_SCHEMA
    if passthrough:
        types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
        schema += "".join(f", {c} {types[c]}" for c in passthrough)
    cols = [field.split(" ")[0] for field in schema.split(", ")]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        if bidx is None:
            def expand(row: tuple) -> tuple:
                return row
        else:
            local_idx = bidx.value
            cache: dict[str, tuple] = {}

            def link(m: str) -> tuple:
                r = cache.get(m)
                if r is None:
                    r = resolve_mention(m, local_idx) or (None, None, None)
                    cache[m] = r
                return r

            def expand(row: tuple) -> tuple:
                return row + link(row[2]) + link(row[4])

        for pdf in batches:
            rows: list[tuple] = []
            for url, html, *extras in zip(pdf["url"], pdf["html"], *(pdf[c] for c in passthrough)):
                if html is None:
                    continue
                extras = tuple(extras)
                for row in _extract_from_text(url, extract_text(bytes(html)), ordered, gaz):
                    rows.append(expand(row) + extras)
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=schema)


def extract_mentions_from_html(
    pages: DataFrame, surfaces: list[str], gazetteer: list[str]
) -> DataFrame:
    """The unlinked stage (MENTIONS_SCHEMA) for join-based linking."""
    return extract_link_from_html(pages, surfaces, gazetteer, None)
