from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    # Small-memory session for tests; shuffle partitions low for speed.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


# A handful of clinical notes in the reference's prose style, small
# enough for the full RAG path (extraction → graph → hybrid retrieval)
# to run without the reference data.
RAG_NOTES = [
    (1, "Ms. Rosa Ivy Batz, who was born on April 18, 1999, resides at her "
        "home at 12 Elm Street, Boston, Massachusetts, 02111, United States. "
        "She is female. She has a confirmed allergy towards shellfish. "
        "Dr. Josef Klein managed her care. She received a seasonal "
        "influenza vaccine on March 3, 2022 at 09:30."),
    (2, "Mr. Liam Auer, who was born on August 23, 1976, resides at his home "
        "at 4 Oak Street, Worcester, Massachusetts, 01602, United States. He "
        "is male. He is married. He has a confirmed allergy towards "
        "penicillin. Dr. Arla Fritsch managed his care."),
    (3, "Ms. Clara Hansen, who was born in 1994, resides at her home at 77 "
        "Lake Street, Albany, New York, 12207, United States. She is female. "
        "She has a confirmed allergy towards pollen. Dr. Arla Fritsch "
        "managed her care. She received a MMR vaccine on June 9, 2021 at "
        "14:05."),
    (4, "Mr. Owen Kuhn, who was born on December 5, 1967, resides at his "
        "home at 9 Hill Street, Hartford, Connecticut, 06103, United States. "
        "He is male. He has never married. Dr. Josef Klein managed his care."),
    (5, "Ms. Nora Torp, who was born on May 30, 1990, resides at her home at "
        "31 Park Street, Providence, Rhode Island, 02903, United States. She "
        "is female. She has a confirmed allergy towards peanut. She received "
        "a hepatitis B vaccine on January 15, 2023 at 11:45."),
]


@pytest.fixture(scope="session")
def rag_notes_df(spark):
    """:data:`RAG_NOTES` as a notes[record_id, note] frame."""
    from odsc_agentic_ai_summit_2025_spark.schemas import NOTES

    return spark.createDataFrame(RAG_NOTES, NOTES)
