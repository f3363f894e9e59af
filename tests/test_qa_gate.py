"""QA-gate parity against the reference's own eval ground truth —
field-exact on `approved` for every case, the same standard
tests/test_migrator.py applies to the data migrator."""

from __future__ import annotations

import json
import os

import pytest

from clickhouse_build_spark.qa_gate import qa_check

_GT = "/root/reference/eval/qa_code_migrator/ground_truth.json"


def _cases():
    if not os.path.exists(_GT):
        return []
    with open(_GT) as f:
        return json.load(f)["test_cases"]


CASES = _cases()


@pytest.mark.skipif(
    not os.path.exists(_GT), reason="reference eval ground truth missing"
)
@pytest.mark.parametrize("case", CASES, ids=[c["name"] for c in CASES])
def test_qa_gate_matches_reference_ground_truth(case):
    got = qa_check(
        case["code"],
        file_path=case.get("file_path", ""),
        purpose=case.get("purpose", ""),
    )
    assert got["approved"] == case["expected"]["approved"], got["reason"]
    assert got["reason"].strip()


def test_rejects_explicit_any_with_line_number():
    got = qa_check("function f(x: any): void {}\n")
    assert not got["approved"] and "line 1" in got["reason"]


def test_generic_parameters_do_not_trip_any():
    got = qa_check(
        "const rows = await result.json<Record<string, number>[]>();\n"
        "export function f(x: number): number { return x; }\n"
    )
    assert got["approved"]


def test_unknown_with_type_guard_passes():
    got = qa_check(
        "export function f(x: unknown): string {\n"
        "  if (typeof x === 'string') { return x; }\n"
        "  return '';\n"
        "}\n"
    )
    assert got["approved"]


def test_unused_import_rejected():
    got = qa_check(
        "import { Pool } from 'pg';\n"
        "export function f(): number { return 1; }\n"
    )
    assert not got["approved"] and "Unused import 'Pool'" in got["reason"]


def test_import_alias_binding_is_checked_not_source_name():
    got = qa_check(
        "import { Pool as PgPool } from 'pg';\n"
        "export const p = new PgPool();\n"
    )
    assert got["approved"]


def test_prose_in_does_not_count_as_type_guard():
    """review r09: the English word 'in' inside a comment must not
    satisfy the unknown-needs-a-guard rule."""
    got = qa_check(
        "// stored in cache\nexport const x: unknown = load();\n"
    )
    assert not got["approved"] and "unknown" in got["reason"]
    # the real TS `'k' in obj` guard form still passes
    got2 = qa_check(
        "export function f(x: unknown): boolean {\n"
        "  return typeof x === 'object' && x !== null && 'k' in x;\n"
        "}\n"
    )
    assert got2["approved"]
