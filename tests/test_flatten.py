"""Flatten parity tests (FIXTURES.md F1 expected behaviors)."""

import hashlib
import uuid

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.operators.flatten import (
    flatten_xml_document,
    flatten_xml_strings,
    spool_xml_files,
)
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl


@pytest.fixture(scope="module")
def rows():
    return flatten_xml_document(NEMSIS_XML, file_name="fixture.xml", deterministic_ids=True)


def by_tag(rows, tag):
    return [r for r in rows if r["element_tag"] == tag]


def test_namespace_stripped(rows):
    root = rows[0]
    assert root["element_tag"] == "EMSDataSet"
    assert root["full_xmlns_tag"] == "{http://www.nemsis.org}EMSDataSet"


def test_table_and_value_names(rows):
    v = by_tag(rows, "eVitals.01")[0]
    assert v["table_name"] == "eVitals_01"
    # value column derives from sanitized tag (lowercased at sink time)


def test_pcr_fill_down(rows):
    uuid1 = "6e5d2c1a-0000-4000-8000-000000000001"
    uuid2 = "6e5d2c1a-0000-4000-8000-000000000002"
    # descendants of report 1
    for tag in ["eRecord", "ePatient.15", "eVitals.01", "eVitals.06", "eVitals.10"]:
        assert by_tag(rows, tag)[0]["pcr_uuid"] == uuid1, tag
    # sibling report subtree gets its own UUID
    rec2 = by_tag(rows, "eRecord.01")[1]
    assert rec2["pcr_uuid"] == uuid2
    # ancestors get NULL
    for tag in ["EMSDataSet", "Header", "DemographicGroup", "dAgency.01"]:
        assert by_tag(rows, tag)[0]["pcr_uuid"] is None, tag


def test_pcr_uuid_injected_as_attribute(rows):
    pcr = by_tag(rows, "PatientCareReport")[0]
    assert pcr["attributes"]["UUID"] == "6e5d2c1a-0000-4000-8000-000000000001"


def test_parent_links(rows):
    ids = {r["element_id"]: r for r in rows}
    assert rows[0]["parent_element_id"] is None
    for r in rows[1:]:
        parent = ids[r["parent_element_id"]]
        assert r["parent_table_name"] == parent["table_name"]
        assert parent["pre_order_idx"] < r["pre_order_idx"]
        assert r["depth"] == parent["depth"] + 1


def test_whitespace_text_strips_to_empty(rows):
    v6 = by_tag(rows, "eVitals.06")[0]
    assert v6["value"] == ""  # whitespace-only → '' (xml_handler.py:100)
    assert v6["attributes"] == {"NV": "7701"}
    # elements with no text (children only) have whitespace text in pretty
    # XML → '' too; the truly-absent case:
    compact = flatten_xml_document("<a><b/></a>")
    assert [r["value"] for r in compact] == [None, None]


def test_attributes_sanitized(rows):
    p15 = by_tag(rows, "ePatient.15")[0]
    assert p15["attributes"] == {"CodeType": "ICD10"}
    assert p15["value"] == "21"


def test_path_accumulation(rows):
    v1 = by_tag(rows, "eVitals.01")[0]
    assert v1["path"] == (
        "EMSDataSet/Header/PatientCareReport/eVitals/eVitals_VitalGroup/eVitals_01"
    )


def test_preorder_document_order(rows):
    # preorder indices are 0..n-1 and match document order of first tags
    assert [r["pre_order_idx"] for r in rows] == list(range(len(rows)))
    tags = [r["element_tag"] for r in rows[:5]]
    assert tags == ["EMSDataSet", "Header", "DemographicGroup", "dAgency.01", "dAgency.02"]


def test_malformed_xml_empty(rows):
    assert flatten_xml_document("<open><unclosed>") == []


def test_digit_leading_and_empty_tags():
    rows = flatten_xml_document('<r><a.b/></r>')
    assert by_tag(rows, "a.b")[0]["table_name"] == "a_b"


def test_deterministic_ids_stable():
    a = flatten_xml_document(NEMSIS_XML, "f.xml", deterministic_ids=True)
    b = flatten_xml_document(NEMSIS_XML, "f.xml", deterministic_ids=True)
    assert [r["element_id"] for r in a] == [r["element_id"] for r in b]
    # the UUID shaped from md5(file || preorder index)
    assert [r["element_id"] for r in a] == [
        str(uuid.UUID(hashlib.md5(f"f.xml#{i}".encode()).hexdigest()))
        for i in range(len(a))
    ]


def test_random_ids_are_distinct_canonical_uuid4s(spark, tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"doc{i}.xml"
        p.write_text(NEMSIS_XML)
        paths.append(str(p))
    spooled, _ = spool_xml_files(spark, paths, str(tmp_path / "spool"))
    got = pa.concat_tables(pa.ipc.open_file(p).read_all() for p in spooled).to_pylist()
    ids = [r["element_id"] for r in got]
    assert len(ids) == 3 * len(flatten_xml_document(NEMSIS_XML))
    assert len(set(ids)) == len(ids)
    for x in ids:
        u = uuid.UUID(x)
        assert (u.version, u.variant, str(u)) == (4, uuid.RFC_4122, x)
    parents = {r["parent_element_id"] for r in got} - {None}
    assert len(parents) > 3 and parents <= set(ids)


def test_distributed_flatten_matches_local(spark):
    df = flatten_xml_strings(spark, [("fixture.xml", NEMSIS_XML)])
    assert df.count() == len(
        flatten_xml_document(NEMSIS_XML, "fixture.xml", deterministic_ids=True)
    )
    got = {
        r["element_tag"]
        for r in df.select("element_tag").distinct().collect()
    }
    assert "eVitals.01" in got and "PatientCareReport" in got
    # fill-down visible distributively
    n_with_pcr = df.where(F.col("pcr_uuid").isNotNull()).count()
    assert n_with_pcr == 13  # 2 reports' subtrees (10 + 3)
