"""spark-submit entry point for the KG construction pipeline.

Ships the engine as a --py-files job (north_rule packaging):

    python tools/make_pyfiles.py                         # builds dist/engine.zip
    spark-submit --master local[8] \
        --py-files dist/engine.zip \
        tools/submit_kg_job.py --pages 50000 --out /tmp/kg_out

On a real cluster, swap --master for YARN/K8s and point --input at the
Iceberg/parquet pages table instead of --pages synthetic generation.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=50_000)
    ap.add_argument("--input", default="", help="existing pages parquet/Iceberg path")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg-construct").getOrCreate()

    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg
    from csv_to_jsonld_processor_spark.sources.pages import generate_pages

    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = generate_pages(spark, args.pages, seed=42)

    res = build_kg(spark, pages, out_dir=args.out)
    print(json.dumps({"status": "ok", **res["counts"]}))
    spark.stop()


if __name__ == "__main__":
    main()
