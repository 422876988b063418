"""Recursive XML tree flatten → canonical element rows.

Reference behavior: ``_traverse_element_recursive``
(/root/reference/xml_handler.py:22-115) + ``parse_xml_file``
(/root/reference/xml_handler.py:118-141).  Spark SQL has no unbounded
recursion, so the flatten runs inside ``mapInArrow`` over
``spark.range``: the driver deals the batch's files out over the tasks,
and each task reads its own files by path and parses them.  Ingest
spools each task's rows to one Arrow IPC file (``spool_xml_files``), which
the lake's write tasks read back, so a batch's rows stay in Arrow from
parse to parquet and never enter the JVM — the reference, too, holds a
file's elements as one in-memory list from parse to insert.
``flatten_xml_files`` returns the same rows as a DataFrame, for callers
that query them with Spark.

Scale design: no file source lists, globs or URI-parses the paths, and no
file's bytes pass through the JVM; a corpus parallelizes per file with no
shuffle (narrow map), on a path every executor sees.  The flatten is
iterative (explicit stack), so tree depth is bounded by memory, not
Python's recursion limit.

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
emit (``summary_entries``) into one set-valued accumulator while they
write the spool (``spool_xml_files``), so the lake's write needs no
further Spark pass to learn them.  Each PCR key is folded with its file,
so ingest can tell a PCR that several files of the batch carry.  A task
retry adds the same entries again, which a set union absorbs.
"""

from __future__ import annotations

import functools
import hashlib
import os
import uuid
import xml.etree.ElementTree as ET
from collections.abc import Iterable
from dataclasses import dataclass

import pyarrow as pa
from pyspark import Accumulator
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..naming import sanitize_name, strip_namespace
from ..schema import ELEMENT_ARROW_SCHEMA, ELEMENT_SCHEMA
from .warehouse import attribute_columns

# the element columns a spool file keeps: those the lake's write reads
SPOOL_SCHEMA = pa.schema([
    ELEMENT_ARROW_SCHEMA.field(c)
    for c in ("table_name", "element_id", "parent_element_id", "pcr_uuid",
              "element_tag", "value", "attributes", "file")
])

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


def row_file(path: str) -> str:
    """The ``file`` of a local path's element rows: "file:" + the
    unencoded absolute path."""
    return "file:" + os.path.abspath(path)


def _flattened(paths: list[str], deterministic_ids: bool):
    """The element rows of each of ``paths`` that parses to any."""
    for path in paths:
        with open(path, "rb") as f:
            rows = flatten_xml_document(f.read(), row_file(path), deterministic_ids)
        if rows:
            yield rows


def _flatten_task(assigned: list[list[str]], deterministic_ids: bool):
    """Task side of ``flatten_xml_files``: the task given the id ``i``
    flattens the files ``assigned[i]`` into one Arrow batch per file."""

    def run(ids):
        for batch in ids:
            for i in batch.column(0).to_pylist():
                for rows in _flattened(assigned[i], deterministic_ids):
                    yield pa.RecordBatch.from_pylist(rows, schema=ELEMENT_ARROW_SCHEMA)

    return run


def flatten_xml_files(
    spark: SparkSession, paths: Iterable[str], deterministic_ids: bool = False
) -> DataFrame:
    """Distributed flatten of exactly the local files ``paths`` (SURVEY
    A1/A2) → canonical elements in ``defaultParallelism`` partitions, with
    no shuffle and no file listing: the driver deals the files out
    (``catalog.deal_by_size``) and each task reads its own."""
    n = spark.sparkContext.defaultParallelism
    assigned = catalog.deal_by_size([os.path.abspath(p) for p in paths], n)
    return spark.range(0, n, 1, n).mapInArrow(
        _flatten_task(assigned, deterministic_ids), ELEMENT_SCHEMA
    )


def spool_file_name(task: int) -> str:
    return f"part-{task:05d}.arrow"


def _spool_task(
    assigned: list[list[str]], deterministic_ids: bool, spool_dir: str, summary: Accumulator
):
    """Task side of ``spool_xml_files``: the task given the id ``i``
    flattens the files ``assigned[i]`` into ONE Arrow IPC file
    ``spool_file_name(i)`` of ``spool_dir`` (one record batch per file,
    ``SPOOL_SCHEMA``), written under a hidden temp name and renamed into
    place, so a retried task replaces its own file.  It adds its rows'
    summary entries to ``summary`` once, at its end, and yields the file's
    path, if it wrote one."""

    def run(ids):
        entries: set[tuple] = set()
        for batch in ids:
            for i in batch.column(0).to_pylist():
                name = spool_file_name(i)
                tmp = os.path.join(spool_dir, f".{name}-{uuid.uuid4().hex}.tmp")
                writer = None
                for rows in _flattened(assigned[i], deterministic_ids):
                    entries |= summary_entries(rows)
                    if writer is None:
                        writer = pa.ipc.new_file(tmp, SPOOL_SCHEMA)
                    writer.write_batch(pa.RecordBatch.from_pylist(rows, schema=SPOOL_SCHEMA))
                if writer is not None:
                    writer.close()
                    os.replace(tmp, os.path.join(spool_dir, name))
                    yield pa.RecordBatch.from_pydict({"path": [os.path.join(spool_dir, name)]})
        summary.add(entries)

    return run


def spool_xml_files(
    spark: SparkSession, paths: list[str], spool_dir: str, deterministic_ids: bool = False
) -> tuple[list[str], BatchSummary]:
    """Flatten ``paths`` into Arrow IPC spool files under ``spool_dir``
    (made if absent) and the batch's summary, in ONE Spark job of
    ``defaultParallelism`` tasks that each read the files the driver deals
    them (``catalog.deal_by_size``).  Only the spool files' paths come back
    through Spark: no element row enters the JVM.  Returns the spool files,
    sorted, and the summary.  The accumulator is emptied once read:
    PySpark's driver keeps every accumulator it made, so a read one would
    otherwise hold its batch's entries for the life of the process."""
    n = spark.sparkContext.defaultParallelism
    assigned = catalog.deal_by_size([os.path.abspath(p) for p in paths], n)
    os.makedirs(spool_dir, exist_ok=True)
    summary = summary_accumulator(spark)
    try:
        spooled = spark.range(0, n, 1, n).mapInArrow(
            _spool_task(assigned, deterministic_ids, os.path.abspath(spool_dir), summary),
            "path string",
        ).collect()
    finally:
        entries, summary.value = summary.value, set()
    return sorted(r["path"] for r in spooled), BatchSummary.from_entries(entries)


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
