"""Recursive XML tree flatten → canonical elements DataFrame.

Reference behavior: ``_traverse_element_recursive``
(/root/reference/xml_handler.py:22-115) + ``parse_xml_file``
(/root/reference/xml_handler.py:118-141).  Spark SQL has no unbounded
recursion, so the flatten runs inside ``mapInPandas`` over
``binaryFile``-scanned documents — each task parses its files and emits
fixed-schema element rows; everything downstream is pure Catalyst.

Scale design: one XML document is one row of the binaryFile scan, so a
100 TB corpus of NEMSIS files parallelizes per-file across executors with
no shuffle at all (narrow map).  The flatten is iterative (explicit stack),
so tree depth is bounded by memory, not Python's recursion limit.

Semantics parity checklist (tests/test_flatten.py):
* namespace strip on tags and attribute keys (xml_handler.py:59-62,76-79)
* identifier sanitize incl. unicode + digit-leading (xml_handler.py:10-19)
* ``text.strip() if text else None`` — whitespace-only text → ``''``,
  absent text → NULL (xml_handler.py:100)
* PCR UUID fill-down to all descendants; UUID injected into the
  PatientCareReport's own attributes when absent (xml_handler.py:83-88)
* parent links + parent table suggestion (xml_handler.py:95,103,107-115)
* malformed XML → zero rows for that file (xml_handler.py:132-134)

Batch summary: the reference learns a file's tables, columns and PCR keys
as it walks the XML, one catalog probe per element (main_ingest.py:252-271,
400-403).  Here the flatten tasks fold the same facts from the rows they
emit (``summary_entries``) into one set-valued accumulator while the batch
cache materializes (``flatten_batch``), so the sinks need no further Spark
pass to learn them.  Each PCR key is folded with its file, so ingest can
tell a PCR that several files of the batch carry.  A task retry or a cache
recompute adds the same entries again, which a set union absorbs.
"""

from __future__ import annotations

import functools
import hashlib
import os
import uuid
import xml.etree.ElementTree as ET
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark import Accumulator
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession

from ..naming import sanitize_name, strip_namespace
from ..schema import ELEMENT_SCHEMA
from .warehouse import attribute_columns

_COLUMNS = [f.name for f in ELEMENT_SCHEMA.fields]
# tags of the summary entries: a file parsed, a table, a (table, attribute)
# pair and a (PCR key, file) pair
_FILE, _TABLE, _ATTRIBUTE, _KEY = "f", "t", "a", "k"


@functools.lru_cache(maxsize=1 << 16)
def _names(raw: str) -> tuple[str, str]:
    """(local name, sanitized name) of a raw tag or attribute key, mapped
    once per distinct raw name rather than once per element."""
    local = strip_namespace(raw)
    return local, sanitize_name(local)


def _element_ids(deterministic_seed: str | None, n: int) -> list[str]:
    """The ids of a document's ``n`` elements, in preorder."""
    if deterministic_seed is not None:
        # UUID shaped from md5(file || preorder index): stable across
        # re-ingest, used by tests and by idempotent pipelines.
        return [
            str(uuid.UUID(hashlib.md5(f"{deterministic_seed}#{i}".encode()).hexdigest()))
            for i in range(n)
        ]
    # random uuid4s drawn in one call: set the version (4) and the RFC 4122
    # variant bits of each 16 bytes, then format the canonical strings
    raw = bytearray(os.urandom(16 * n))
    raw[6::16] = bytes(b & 0x0F | 0x40 for b in raw[6::16])
    raw[8::16] = bytes(b & 0x3F | 0x80 for b in raw[8::16])
    h = raw.hex()
    return [
        f"{h[o:o + 8]}-{h[o + 8:o + 12]}-{h[o + 12:o + 16]}-{h[o + 16:o + 20]}-{h[o + 20:o + 32]}"
        for o in range(0, 32 * n, 32)
    ]


def flatten_xml_document(
    data: bytes | str,
    file_name: str | None = None,
    deterministic_ids: bool = False,
) -> list[dict]:
    """Flatten one XML document into canonical element-row dicts.

    Iterative preorder DFS with an explicit stack — same visit order and
    per-element fields as the reference's recursion
    (/root/reference/xml_handler.py:22-115), plus path/depth/preorder/file.
    Malformed XML → ``[]`` (xml_handler.py:132-134).
    """
    try:
        root = ET.fromstring(data)
    except ET.ParseError:
        return []

    ids = _element_ids(file_name if deterministic_ids else None,
                       sum(1 for _ in root.iter()))
    rows: list[dict] = []
    # stack entries: (element, parent_id, pcr_uuid, path_parts, parent_table, depth)
    stack: list[tuple] = [(root, None, None, (), None, 0)]
    idx = 0
    while stack:
        element, parent_id, pcr_uuid, path_parts, parent_table, depth = stack.pop()
        element_id = ids[idx]

        raw_tag = element.tag
        local_tag, sanitized_tag = _names(raw_tag)
        cur_path = path_parts + (sanitized_tag,)

        attributes = {_names(k)[1]: v for k, v in element.attrib.items()}
        # PCR UUID capture + fill-down + self-attribute injection
        # (xml_handler.py:83-88)
        if local_tag == "PatientCareReport" and element.get("UUID"):
            pcr_uuid = element.get("UUID")
            attributes.setdefault(_names("UUID")[1], pcr_uuid)

        rows.append(
            {
                "element_id": element_id,
                "parent_element_id": parent_id,
                "element_tag": local_tag,
                "full_xmlns_tag": raw_tag,
                "table_name": sanitized_tag,
                "attributes": attributes,
                "value": element.text.strip() if element.text else None,
                "pcr_uuid": pcr_uuid,
                "parent_table_name": parent_table,
                "path": "/".join(cur_path),
                "depth": depth,
                "pre_order_idx": idx,
                "file": file_name,
            }
        )
        idx += 1
        # push children reversed so pop() visits them in document order
        for child in reversed(list(element)):
            stack.append((child, element_id, pcr_uuid, cur_path, sanitized_tag, depth + 1))
    return rows


def summary_entries(rows: Iterable) -> set[tuple]:
    """The summary entries of flattened element rows (dicts or Rows of
    the canonical columns): each row's file, its lowercased table, its
    (table, lowercased attribute) pairs and its (PCR key, file) when the
    key is not NULL."""
    entries: set[tuple] = set()
    add = entries.add
    for r in rows:
        t = r["table_name"].lower()
        add((_FILE, r["file"]))
        add((_TABLE, t))
        for a in r["attributes"] or ():
            add((_ATTRIBUTE, t, a.lower()))
        if r["pcr_uuid"] is not None:
            add((_KEY, r["pcr_uuid"], r["file"]))
    return entries


@dataclass(frozen=True)
class BatchSummary:
    """What a flattened batch holds: the files that gave at least one row,
    the lowercased table names (sorted), each table's attribute columns
    (``warehouse.attribute_columns``), the non-NULL PCR keys (sorted) and
    the files each key came from."""

    files: frozenset[str]
    tables: list[str]
    attributes: dict[str, list[str]]
    keys: list[str]
    key_files: dict[str, frozenset[str]]

    @classmethod
    def from_entries(cls, entries: Iterable[tuple]) -> BatchSummary:
        parts: dict[str, set] = {_FILE: set(), _TABLE: set(), _ATTRIBUTE: set()}
        key_files: dict[str, set] = {}
        for tag, *value in entries:
            if tag == _KEY:
                key_files.setdefault(value[0], set()).add(value[1])
            else:
                parts[tag].add(tuple(value) if tag == _ATTRIBUTE else value[0])
        return cls(
            files=frozenset(parts[_FILE]),
            tables=sorted(parts[_TABLE]),
            attributes=attribute_columns(parts[_ATTRIBUTE]),
            keys=sorted(key_files),
            key_files={k: frozenset(f) for k, f in key_files.items()},
        )


class _SetUnion(AccumulatorParam):
    def zero(self, value: set) -> set:
        return set()

    def addInPlace(self, value1: set, value2: set) -> set:
        value1 |= value2
        return value1


def summary_accumulator(spark: SparkSession) -> Accumulator:
    """A set-valued accumulator for the flatten tasks' summary entries."""
    return spark.sparkContext.accumulator(set(), _SetUnion())


def _flatten_partition(
    batches: Iterator[pd.DataFrame],
    deterministic_ids: bool,
    summary: Accumulator | None,
) -> Iterator[pd.DataFrame]:
    entries: set[tuple] = set()
    for pdf in batches:
        out: list[dict] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            out.extend(
                flatten_xml_document(
                    bytes(content), file_name=path, deterministic_ids=deterministic_ids
                )
            )
        if out:
            if summary is not None:
                entries |= summary_entries(out)
            yield pd.DataFrame(out, columns=_COLUMNS)
    if summary is not None:
        summary.add(entries)


def flatten_frame(
    binary: DataFrame, deterministic_ids: bool, summary: Accumulator | None = None
) -> DataFrame:
    """Canonical elements of a (path, content) frame of XML documents; with
    a ``summary`` accumulator, each task adds its rows' summary entries to
    it once, when its last row is out."""
    return binary.select("path", "content").mapInPandas(
        lambda it: _flatten_partition(it, deterministic_ids, summary),
        schema=ELEMENT_SCHEMA,
    )


def flatten_xml_files(
    spark: SparkSession,
    path: str | Iterable[str],
    deterministic_ids: bool = False,
) -> DataFrame:
    """Distributed flatten: binaryFile scan (SURVEY A1/A5) → per-file parse
    (A2) → canonical elements DataFrame.  Narrow map — no shuffle.
    """
    paths = [path] if isinstance(path, str) else list(path)
    return flatten_frame(spark.read.format("binaryFile").load(paths), deterministic_ids)


def flatten_batch(
    spark: SparkSession, paths: list[str], deterministic_ids: bool = False
) -> tuple[DataFrame, BatchSummary]:
    """Flatten ``paths`` into cached canonical elements and the batch's
    summary, in ONE Spark job that materializes the cache while its tasks
    fold the summary.  The accumulator is emptied once read: PySpark's
    driver keeps every accumulator it made, so a read one would otherwise
    hold its batch's entries for the life of the process.  The caller
    unpersists the elements."""
    summary = summary_accumulator(spark)
    binary = spark.read.format("binaryFile").load(paths)
    elements = flatten_frame(binary, deterministic_ids, summary).cache()
    try:
        elements.write.format("noop").mode("overwrite").save()
    except BaseException:
        elements.unpersist()
        raise
    finally:
        entries, summary.value = summary.value, set()
    return elements, BatchSummary.from_entries(entries)


def flatten_xml_strings(
    spark: SparkSession,
    docs: list[tuple[str, str]],
    deterministic_ids: bool = True,
) -> DataFrame:
    """Flatten in-memory (name, xml_text) docs — the test/fixture path."""
    rows: list[dict] = []
    for name, text in docs:
        rows.extend(
            flatten_xml_document(text, file_name=name, deterministic_ids=deterministic_ids)
        )
    return spark.createDataFrame(rows, schema=ELEMENT_SCHEMA)
