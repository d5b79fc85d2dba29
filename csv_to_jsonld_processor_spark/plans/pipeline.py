"""Manifest-driven pipeline — the engine's equivalent of
``csv-to-jld process`` (reference lifecycle §3.1):

manifest validate → PHASE A vocabulary compile (driver, broadcastable)
→ PHASE B instance steps (Spark plans → triple table, picklists first)
→ PHASE C sinks: instances JSON-LD + vocabulary JSON-LD (+ vocab meta).

Two instance sink shapes:
- ``instances.jsonld`` single document (fixture-parity mode, driver
  assembly — the reference's K1 at instance/serializer.rs:93-151); only
  allowed under a row-count guard.
- NDJSON-framed JSON-LD nodes, written distributed and partitioned by a
  subject hash bucket — the 100 TB shape.

One run computes the triples, the violations and the JSON-LD nodes once
each: all three are lazy local checkpoints, filled by the first action
that needs them and read by every later one. No count has a job of its
own: the violation count is observed during the violations write, and
the triple count while the nodes are built from the triples. The
violation messages are one single-partition read of the filled
checkpoint. The single document is sorted on the driver, so no
range-partition sampling job runs.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..manifest import Manifest
from ..operators.violations import build_instance_outputs
from ..vocabulary import (
    VocabularyMap,
    build_jsonld_context,
    compile_vocabulary,
    vocab_to_broadcast,
)

# Driver-collect ceiling for single-document mode. 50k JSON nodes is a
# few hundred MB worst-case — safe to hold on the driver; anything
# larger takes the distributed NDJSON path automatically.
SINGLE_DOC_MAX_ENTITIES = 50_000


def _typed(obj: str, kind: str):
    if kind == "number":
        f = float(obj)
        return int(f) if f.is_integer() and "." not in obj and "e" not in obj.lower() else f
    if kind == "boolean":
        return obj == "true"
    return obj


def assemble_entities_json(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, obj_kind) → one JSON-LD node string per entity.

    Arrow-batched mapInPandas over subj-partitioned, subj-sorted input:
    value types are restored from obj_kind so numbers/booleans serialize
    as JSON scalars, multi-values as arrays (sorted — the reference's
    HashSet order is unspecified, SURVEY §2.8, so we pick the
    deterministic order).

    Why not groupBy().applyInPandas: that path ships ONE Arrow batch
    per GROUP, and entity groups are a handful of rows — measured 10×
    the cost of the identical work done whole-batch (guide §4: per-call
    boundary overhead). Here each Arrow batch carries thousands of rows
    spanning many entities; a group split across a batch boundary is
    carried over to the next batch (hash partitioning + the sort make
    each entity's rows contiguous within a partition), so the per-group
    build logic — and its output — is unchanged."""
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # one plain-Python pass: subj → pred → distinct values
        ents: dict[str, dict[str, set]] = {}
        for subj, pred, obj, kind in zip(pdf["subj"], pdf["pred"], pdf["obj"], pdf["obj_kind"]):
            if subj is None:  # a null subject forms no node
                continue
            preds = ents.setdefault(subj, {})
            if pred is not None:
                val = obj if pred == "@type" else (str(obj), str(kind))
                preds.setdefault(pred, set()).add(val)
        subjs = sorted(ents)
        nodes = []
        for subj in subjs:
            node: dict = {"@id": subj}
            for pred, vals in ents[subj].items():
                if pred == "@type":
                    node["@type"] = sorted(vals)
                    continue
                typed = [_typed(o, k) for o, k in sorted(vals)]
                node[pred] = typed if len(typed) > 1 else typed[0]
            nodes.append(json.dumps(node, sort_keys=True))
        return pd.DataFrame({"subj": subjs, "node": nodes})

    def gen(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf["subj"].iloc[-1]
            mask = pdf["subj"] == last
            carry = pdf[mask]  # last group may continue in the next batch
            body = pdf[~mask]
            if len(body):
                yield build(body)
        if carry is not None and len(carry):
            yield build(carry)

    part = triples.repartition("subj").sortWithinPartitions("subj")
    return part.mapInPandas(gen, schema="subj string, node string")


class PipelineOutcome:
    def __init__(self, errors: list[str], warnings: list[str], counts: dict):
        self.errors = errors
        self.warnings = warnings
        self.counts = counts

    @property
    def ok(self) -> bool:
        return not self.errors


class Pipeline:
    """Library entry point mirroring ProcessorBuilder (processor/mod.rs:24-124):
    ``Pipeline.from_manifest(path, base_path).run(spark, out_dir)``."""

    def __init__(self, manifest: Manifest, base_path: str | Path, strict: bool = False,
                 vocab_meta: str | Path | None = None, sniff_model_files: bool = False):
        self.manifest = manifest
        from ..sources import storage

        self.base_path = base_path if storage.is_uri(base_path) else Path(base_path)
        self.strict = strict
        # S5: path to an exported vocab_meta.json — skips PHASE A
        # (vocabulary/processor.rs:64-133; CLI main.rs:197-220)
        self.vocab_meta = vocab_meta
        self.sniff_model_files = sniff_model_files

    @classmethod
    def from_manifest(cls, manifest_path: str | Path, base_path: str | Path | None = None,
                      strict: bool = False, vocab_meta: str | Path | None = None,
                      sniff_model_files: bool = False) -> "Pipeline":
        m = Manifest.from_file(manifest_path)
        from ..sources import storage

        return cls(m, base_path or storage.parent(manifest_path), strict,
                   vocab_meta=vocab_meta, sniff_model_files=sniff_model_files)

    def run(self, spark: SparkSession, out_dir: str | Path,
            single_document: bool = True) -> PipelineOutcome:
        # out_dir may be scheme-qualified (s3a://, file://, hdfs://...):
        # driver-side artifacts go through storage.write_text (JVM Hadoop
        # FS), executor-side sinks take the URI directly — write-side
        # parity with the reference's StorageLocation::write_contents
        # (manifest/mod.rs:240-314)
        from ..sources import storage

        if not storage.is_uri(out_dir):
            out_dir = Path(out_dir)
        storage.mkdirs(out_dir)
        errors = self.manifest.validate()
        if errors:
            return PipelineOutcome(errors, [], {})

        if self.vocab_meta is not None:
            from ..vocabulary import vocab_from_meta_file

            vocab = vocab_from_meta_file(self.vocab_meta)
        else:
            vocab = compile_vocabulary(
                self.manifest, self.base_path, self.strict,
                sniff_model_files=self.sniff_model_files,
            )
        # snapshot the PHASE A artifact before instance processing mutates
        # it (picklist one_of accumulation) — the export must be the
        # reloadable pre-instance state
        vocab_meta_snapshot = vocab_to_broadcast(vocab, self.manifest.model.base_iri)
        triples, violations = build_instance_outputs(
            spark, self.manifest, vocab, self.base_path, self.strict
        )
        triples = triples.localCheckpoint(eager=False)
        violations = violations.localCheckpoint(eager=False)

        # A7: violations are a first-class output — always materialized;
        # strict mode fails the run on any error-severity row, mirroring
        # the reference's ProcessingState error escalation (error/mod.rs)
        vio_obs = Observation()
        violations.observe(vio_obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            str(storage.join_path(out_dir, "violations.parquet"))
        )
        n_violations = vio_obs.get["n"]
        # one job, the first 10,000 rows in partition order: a plain
        # limit scans one partition, then more, each in a job of its own
        vio_rows = violations.coalesce(1).limit(10_000).collect()
        warnings = [
            f"[{r.rule}] stage={r.stage} subj={r.subj} pred={r.pred}: {r.value}"
            for r in vio_rows
            if r.severity == "warning"
        ]
        vio_errors = [
            f"[{r.rule}] stage={r.stage} subj={r.subj} pred={r.pred}: {r.value}"
            for r in vio_rows
            if r.severity == "error"
        ]
        if self.strict and vio_errors:
            return PipelineOutcome(vio_errors, warnings, {"violations": n_violations})

        # the triples are read once, when the nodes checkpoint fills
        tri_obs = Observation()
        nodes = assemble_entities_json(
            triples.observe(tri_obs, F.count(F.lit(1)).alias("n"))
        ).localCheckpoint(eager=False)

        context = build_jsonld_context(
            vocab, self.manifest.model.base_iri, self.manifest.instances.base_iri
        )

        n_entities = nodes.count()
        # every triple has a subject, so no node means no triple — and then
        # AQE replaces the empty stage holding the observation, which
        # reports nothing
        n_triples = tri_obs.get["n"] if n_entities else 0
        if single_document and n_entities <= SINGLE_DOC_MAX_ENTITIES:
            insert = [json.loads(r.node) for r in sorted(nodes.collect(), key=lambda r: r.subj)]
            doc = {"ledger": self.manifest.ledger, "@context": context, "insert": insert}
            storage.write_text(
                storage.join_path(out_dir, "instances.jsonld"),
                json.dumps(doc, indent=2, sort_keys=True),
            )
        else:
            # the 100 TB shape: NDJSON nodes, hash-bucketed by subject
            (
                nodes.withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(64)).cast("int"))
                .select("bucket", "node")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .text(str(storage.join_path(out_dir, "instances_ndjson")))
            )
            storage.write_text(
                storage.join_path(out_dir, "context.jsonld"),
                json.dumps({"@context": context}, indent=2, sort_keys=True),
            )

        self._write_vocabulary(vocab, out_dir)
        # K3 vocab-meta export (vocabulary/mod.rs:86-99): the compiled
        # broadcast artifact, reloadable to skip the model phase
        storage.write_text(
            storage.join_path(out_dir, "vocab_meta.json"),
            json.dumps(vocab_meta_snapshot, indent=1, sort_keys=True),
        )
        return PipelineOutcome(
            [],
            warnings,
            {"entities": n_entities, "triples": n_triples, "violations": n_violations},
        )

    def _write_vocabulary(self, vocab: VocabularyMap, out_dir: str | Path) -> None:
        """K2 (vocabulary/serializer.rs:19-66): classes + properties under
        the fixed import context."""

        def term_json(t) -> dict:
            m: dict = {"@id": t.id.final(), "@type": t.type_}
            if t.sub_class_of:
                m["rdfs:subClassOf"] = t.sub_class_of
            if t.label is not None:
                m["rdfs:label"] = t.label
            if t.comment is not None:
                m["rdfs:comment"] = t.comment
            if t.domain:
                m["rdfs:domain"] = t.domain
            if t.range is not None:
                m["rdfs:range"] = [r.xsd() for r in t.range]
            for k, v in t.extra_items.items():
                if v != "":
                    m[k] = v
            if t.one_of:
                m["f:oneOf"] = list(t.one_of)
            return m

        doc = {
            "@context": {
                "xsd": "http://www.w3.org/2001/XMLSchema#",
                "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
                "f": "https://ns.flur.ee/ledger#",
            },
            "ledger": self.manifest.ledger,
            "insert": {
                "@id": self.manifest.id,
                "@type": ["f:DataModel"],
                "f:classes": sorted(
                    (term_json(t) for t in vocab.classes.values()), key=lambda x: x["@id"]
                ),
                "f:properties": sorted(
                    (term_json(t) for t in vocab.properties.values()), key=lambda x: x["@id"]
                ),
            },
        }
        from ..sources import storage

        storage.write_text(
            storage.join_path(out_dir, "vocabulary.jsonld"),
            json.dumps(doc, indent=2, sort_keys=True),
        )
