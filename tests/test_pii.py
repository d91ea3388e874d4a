"""Unit tests for the PII detection/redaction Column operators
(llmdata/pii.py) on handcrafted edge cases — the corpus-level oracle
checks live in plans/text_curation.py (driver parity gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpulse_spark.llmdata.pii import add_pii_columns
from tests.conftest import executed_plan


def _run(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    return {
        r["doc_id"]: r for r in add_pii_columns(df, "text").collect()
    }


def test_pii_counts_and_redaction(spark):
    rows = _run(
        spark,
        [
            "reach me at jane.doe+spam@mail.example.co or bob@x.io thanks",
            "call 555-123-4567 or 555-000-9999",
            "ssn is 078-05-1120 ok",
            "no pii here at all",
            "mixed: a@b.co and 555-111-2222 and 123-45-6789",
        ],
    )
    assert rows[0]["n_emails"] == 2 and rows[0]["has_pii"]
    assert "<EMAIL>" in rows[0]["redacted"]
    assert "@" not in rows[0]["redacted"]

    assert rows[1]["n_phones"] == 2
    assert rows[1]["redacted"].count("<PHONE>") == 2

    assert rows[2]["n_ssns"] == 1
    assert "<SSN>" in rows[2]["redacted"]

    assert not rows[3]["has_pii"]
    assert rows[3]["redacted"] == "no pii here at all"

    assert (
        rows[4]["n_emails"],
        rows[4]["n_phones"],
        rows[4]["n_ssns"],
    ) == (1, 1, 1)
    for token in ("<EMAIL>", "<PHONE>", "<SSN>"):
        assert token in rows[4]["redacted"]


def test_phone_ssn_patterns_disjoint(spark):
    # a phone must not double-count as an SSN and vice versa
    rows = _run(spark, ["555-123-4567", "078-05-1120"])
    assert rows[0]["n_phones"] == 1 and rows[0]["n_ssns"] == 0
    assert rows[1]["n_ssns"] == 1 and rows[1]["n_phones"] == 0


def test_redaction_is_jvm_side(spark):
    # the operator must stay a Column expression (no Python UDF node)
    df = spark.createDataFrame([(1, "a@b.co")], ["doc_id", "text"])
    plan = executed_plan(spark, add_pii_columns(df, "text"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
