"""Session sizing from the environment, the Python workers' path, and
the driver-side table helper."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from csv_to_jsonld_processor_spark.session import env_cpus


def test_env_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert env_cpus() == len(os.sched_getaffinity(0))


def test_env_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert env_cpus() == 3


REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("session")


TRICKY = ["${env:HOME}", "${spark.app.name}", "it's", "back\\slash", "new\nline", "tab\there",
          "naïve 日本 ✓", "\\u0024", ""]


def test_local_df_contract(spark):
    """local_df keeps the DDL's types and nulls, round-trips strings that
    SQL text or variable substitution would rewrite, keeps the schema of
    empty rows, and plans as a LocalRelation, not a Python RDD."""
    from csv_to_jsonld_processor_spark.session import local_df

    ddl = "i int, b bigint, d double, f boolean, s string"
    rows = [(1, 2**40, 1.5, True, "x"), (None, None, None, None, None), (-3, 0, 2.0, False, "y")]
    rows += [(i, i, float(i), i % 2 == 0, s) for i, s in enumerate(TRICKY)]
    df = local_df(spark, rows, ddl)
    assert df.schema.simpleString() == "struct<i:int,b:bigint,d:double,f:boolean,s:string>"
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan

    empty = local_df(spark, [], ddl)
    assert empty.schema == df.schema and empty.collect() == []
    assert "LocalRelation" in empty._jdf.queryExecution().optimizedPlan().toString()

    with pytest.raises(ValueError, match="columns"):
        local_df(spark, [(1, 2)], ddl)


def test_python_workers_import_package_from_outside_the_repo(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, that
    imports the package through sys.path still runs a Python stage: its
    workers import the package from the path get_spark hands them."""
    script = tmp_path / "outside.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from csv_to_jsonld_processor_spark.session import get_spark\n"
        "from csv_to_jsonld_processor_spark.plans.pipeline import assemble_entities_json\n"
        "spark = get_spark('outside-the-repo', cpus=1)\n"
        "triples = spark.range(3).selectExpr(\n"
        "    'cast(id as string) subj', \"'p' pred\", \"'o' obj\", \"'string' obj_kind\")\n"
        "print('nodes', assemble_entities_json(triples).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "nodes 3" in done.stdout
