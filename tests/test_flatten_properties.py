"""Property-based flatten tests (hypothesis): random tag trees round-trip
through the flatten with structural invariants intact (SURVEY §5.4)."""

from xml.sax.saxutils import escape, quoteattr

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nemsis_xml_parser_spark.naming import sanitize_name, strip_namespace
from nemsis_xml_parser_spark.operators.flatten import flatten_xml_document

pytestmark = pytest.mark.etl

TAGS = ["Node", "a.b", "Data1", "x", "PatientCareReport", "weird-tag"]
# XML tag names cannot start with a digit/hyphen — keep raw tags legal XML,
# the *sanitizer* handles the rest
ATTR_KEYS = ["UUID", "code", "x.y"]

node = st.deferred(
    lambda: st.tuples(
        st.sampled_from(TAGS),
        st.dictionaries(st.sampled_from(ATTR_KEYS), st.text(" ab6", max_size=4), max_size=2),
        st.one_of(st.none(), st.text(" ab\t", max_size=6)),
        st.lists(node, max_size=3),
    )
)


def render(n, ns=""):
    tag, attrs, text, children = n
    a = "".join(f" {k}={quoteattr(v)}" for k, v in attrs.items())
    inner = (escape(text) if text else "") + "".join(render(c) for c in children)
    return f"<{tag}{a}{ns}>{inner}</{tag}>"


def count_nodes(n):
    return 1 + sum(count_nodes(c) for c in n[3])


@settings(max_examples=60, deadline=None)
@given(node)
def test_flatten_invariants(tree):
    xml = render(tree, ns=' xmlns="http://www.nemsis.org"' if False else "")
    rows = flatten_xml_document(xml, "prop.xml", deterministic_ids=True)

    # every node produces exactly one row
    assert len(rows) == count_nodes(tree)

    ids = [r["element_id"] for r in rows]
    assert len(set(ids)) == len(ids)  # unique ids

    by_id = {r["element_id"]: r for r in rows}
    roots = [r for r in rows if r["parent_element_id"] is None]
    assert len(roots) == 1 and roots[0]["depth"] == 0

    for r in rows:
        # sanitizer parity on every row
        assert r["table_name"] == sanitize_name(strip_namespace(r["full_xmlns_tag"]))
        if r["parent_element_id"] is not None:
            p = by_id[r["parent_element_id"]]
            assert r["depth"] == p["depth"] + 1
            assert r["parent_table_name"] == p["table_name"]
            assert r["path"].startswith(p["path"] + "/")
            # fill-down: child inherits parent's context unless it IS a
            # PatientCareReport with a UUID attribute
            # (empty-string UUID is falsy → NOT captured, reference parity
            # with `element.get("UUID")` truthiness in xml_handler.py:83)
            if r["element_tag"] == "PatientCareReport" and r["attributes"].get("UUID"):
                assert r["pcr_uuid"] == r["attributes"]["UUID"]
            else:
                assert r["pcr_uuid"] == p["pcr_uuid"]


@settings(max_examples=30, deadline=None)
@given(node)
def test_flatten_deterministic(tree):
    xml = render(tree)
    a = flatten_xml_document(xml, "d.xml", deterministic_ids=True)
    b = flatten_xml_document(xml, "d.xml", deterministic_ids=True)
    assert a == b


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=40))
def test_flatten_never_raises_on_garbage(garbage):
    out = flatten_xml_document(garbage, "g.xml")
    assert isinstance(out, list)  # malformed → [], valid → rows
