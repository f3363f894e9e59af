"""Data-migrator parity: scanner → plan_replication must reproduce the
reference's eval ground truth field-exactly (the reference scores its
agent with an exact compare of database / destination / replicationMode
/ sorted tableMappings — ``eval/data_migrator/eval.py:69-123``)."""

from __future__ import annotations

import json
import pathlib

import pytest

from clickhouse_build_spark.migrator import plan_replication
from clickhouse_build_spark.scanner import scan_repo

REF = pathlib.Path("/root/reference")
GROUND_TRUTH = REF / "eval" / "data_migrator" / "ground_truth.json"


def _cases():
    if not GROUND_TRUTH.exists():
        return []
    return json.loads(GROUND_TRUTH.read_text())["test_cases"]


CASES = _cases()


@pytest.mark.skipif(
    not GROUND_TRUTH.exists(), reason="reference eval ground truth missing"
)
@pytest.mark.parametrize("case", CASES, ids=[c["name"] for c in CASES])
def test_plan_matches_reference_ground_truth(case):
    repo = REF / case["repo_path"]
    if not repo.is_dir():
        pytest.skip(f"{repo} missing")
    scan = scan_repo(str(repo))
    plan = plan_replication(scan, replication_mode=case["replication_mode"])
    exp = case["expected"]
    assert plan.database_name == exp["database_name"]
    assert plan.destination_database == exp["destination_database"]
    assert plan.replication_mode == exp["replication_mode"]
    assert plan.schema_tables == exp["schema_tables"]
    key = lambda m: (m["sourceSchemaName"], m["sourceTable"], m["targetTable"])  # noqa: E731
    assert sorted(plan.table_mappings, key=key) == sorted(exp["table_mappings"], key=key)


def test_plan_bridges_to_replication_layer():
    plan = plan_replication({"tables": ["expenses", "users"]}, "snapshot")
    maps = plan.to_mappings()
    assert [(m.source_schema, m.source_table, m.target_table) for m in maps] == [
        ("public", "expenses", "expenses"),
        ("public", "users", "users"),
    ]
    cfg = plan.as_config()
    assert cfg["replication_mode"] == "snapshot"
    assert len(cfg["assumptions"]) >= 3  # every default documented


def test_plan_refuses_empty_scan():
    with pytest.raises(ValueError):
        plan_replication({"tables": []})


def test_explicit_values_generate_no_assumptions():
    plan = plan_replication(
        {"tables": ["t"]},
        database_name="appdb",
        schema="sales",
        destination_database="warehouse",
    )
    assert plan.database_name == "appdb"
    assert plan.schema_tables == {"sales": ["t"]}
    assert plan.destination_database == "warehouse"
    # only the ordering-key assumption remains
    assert len([a for a in plan.assumptions if "assuming" in a]) == 0


def test_clickpipe_artifact_shape():
    """The reference's literal ClickPipe payload + envsubst-curl command
    (src/tools/data_migrator.py:57-99) — env placeholders kept, port
    unquoted so substitution yields a JSON number, mappings verbatim."""
    plan = plan_replication({"tables": ["expenses"]}, "cdc")
    art = plan.as_clickpipe()
    pg = art["payload"]["source"]["postgres"]
    assert pg["host"] == "${POSTGRES_HOST}"
    assert pg["settings"]["replicationMode"] == "cdc"
    assert pg["tableMappings"] == [
        {
            "sourceSchemaName": "public",
            "sourceTable": "expenses",
            "targetTable": "expenses",
        }
    ]
    assert art["payload"]["destination"]["database"] == "postgres"
    cmd = art["command"]
    assert cmd.startswith("export ORGANIZATION_ID=")
    assert 'envsubst <<\'EOF\'' in cmd and cmd.rstrip().endswith("EOF")
    assert '"port": ${POSTGRES_PORT}' in cmd  # number after envsubst
