"""Measured shuffle/spill audit per registered query.

PLANS.md proves the plan SHAPE (what could shuffle); this tool measures
what actually moved: per-query shuffle read/write bytes, input bytes,
and spill, summed over the query's stages via the Spark UI REST API.
The scale claims the repo makes — "the corpus is never shuffled",
"the shuffle carries K rows, not the token stream" — become numbers:
a query whose shuffle bytes grow with the corpus is a 100 TB bug even
when its wall-clock looks fine at sf0.1.

Usage: python tools/shuffle_audit.py [sf_dir] [query ...]
Writes/updates SHUFFLE.md.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "doc_dsir_weights",
    "doc_quality_model",
    "doc_repetition_signals",
    "ann_ivf_topk",
    "ann_kmeans_train",
    "kg_cooccurrence_edges",
    "kg_pagerank",
    "events_heavy_hitters_cms",
    "fixture_triples",
    "corpus_curation_funnel",
    "events_hourly_rollup",
    "kg_nquads_roundtrip",
    "kg_shacl_validate",
    "kg_rule_closure",
    "kg_rule_closure_incremental",
    "kg_sparql_graph",
    "fixture_jsonld_reload",
    # round-5 session-6 additions
    "kg_turtle_roundtrip",
    "kg_hyperball_nf",
    "kg_transe_epoch",
    "kg_mis",
    "kg_sssp_weighted",
    "kg_ktruss",
    "events_sequence_motifs",
    "parts_skyline",
    "events_exact_median",
    "kg_temporal_reachability",
]


def _rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def stage_totals() -> dict[int, dict]:
    app = _rest("applications")[0]["id"]
    out = {}
    for st in _rest(f"applications/{app}/stages?status=complete"):
        out[(st["stageId"], st["attemptId"])] = {
            "shuffle_read": st.get("shuffleReadBytes", 0),
            "shuffle_write": st.get("shuffleWriteBytes", 0),
            "input": st.get("inputBytes", 0),
            "spill_mem": st.get("memoryBytesSpilled", 0),
            "spill_disk": st.get("diskBytesSpilled", 0),
        }
    return out


def fmt(b: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if b < 1024 or unit == "GiB":
            return f"{b:.1f} {unit}" if unit != "B" else f"{int(b)} B"
        b /= 1024
    return f"{b:.1f} GiB"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT_QUERIES

    import __spark_entry__ as entry
    from csv_to_jsonld_processor_spark.session import get_spark

    spark = get_spark("shuffle-audit", extra_conf={"spark.ui.enabled": "true"})
    qs = entry.queries()
    rows = []
    for name in names:
        if name not in qs:
            continue
        before = stage_totals()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = stage_totals()
        new = [v for k, v in after.items() if k not in before]
        agg = {m: sum(s[m] for s in new) for m in
               ("shuffle_read", "shuffle_write", "input", "spill_mem", "spill_disk")}
        rows.append((name, agg, len(new)))
        print(f"{name:32s} stages={len(new):3d} input={fmt(agg['input']):>10s} "
              f"shuffle_w={fmt(agg['shuffle_write']):>10s} spill={fmt(agg['spill_disk'])}")

    lines = [
        "# SHUFFLE — measured shuffle/spill per query",
        "",
        f"`python tools/shuffle_audit.py {sf_dir}` — bytes summed over each",
        "query's completed stages (Spark UI REST), local[16]. The numbers",
        "behind the plan-shape claims: a fixed-size shuffle (counter",
        "matrices, per-group aggregates) stays constant as the corpus",
        "grows; only blocked candidate joins may scale sublinearly; spill",
        "should be zero at this SF.",
        "",
        "Caveats: `input` is the Hadoop-counter view and undercounts",
        "OS-cached columnar local reads — compare shuffle/spill columns",
        "across rounds, not input. Notable: events_hourly_rollup's ~2.5 MiB",
        "shuffle is its exact COUNT(DISTINCT) (one row per (hour,type,user)",
        "combo survives map-side dedup) — the documented exactness cost;",
        "the sketch twin is the at-scale variant.",
        "",
        "| query | stages | input | shuffle write | shuffle read | spill (disk) |",
        "|---|---|---|---|---|---|",
    ]
    for name, agg, n_stages in rows:
        lines.append(
            f"| {name} | {n_stages} | {fmt(agg['input'])} | {fmt(agg['shuffle_write'])} "
            f"| {fmt(agg['shuffle_read'])} | {fmt(agg['spill_disk'])} |"
        )
    lines.append("")
    with open(os.path.join(REPO, "SHUFFLE.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote SHUFFLE.md")


if __name__ == "__main__":
    main()
