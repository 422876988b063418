"""Key-scoped overwrite semantics (SURVEY D2/D3, FIXTURES F1 re-ingest),
exercised through ``overwrite_pcrs`` on a per-tag lake — the code batch and
streaming ingest run."""

import os
import shutil
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.catalog import list_table_dirs
from nemsis_xml_parser_spark.naming import value_column_name
from nemsis_xml_parser_spark.operators.bookkeeping import ingest_xml_files
from nemsis_xml_parser_spark.operators.flatten import (
    flatten_xml_strings,
    spool_xml_files,
)
from nemsis_xml_parser_spark.operators.overwrite import overwrite_pcrs
from nemsis_xml_parser_spark.schema import STATUS_ERROR_PARSE, STATUS_OK
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl

PCR1 = "6e5d2c1a-0000-4000-8000-000000000001"


def _lake(spark, lake):
    """Every lake row as (element_tag, pcr_uuid, value), the canonical
    element column names."""
    frames = [
        spark.read.parquet(os.path.join(lake, t)).select(
            F.col("original_tag_name").alias("element_tag"),
            F.col("pcr_uuid_context").alias("pcr_uuid"),
            F.col(value_column_name(t)).alias("value"),
        )
        for t in list_table_dirs(lake)
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def spool(spark, lake, docs):
    """Spool the (name, xml text) ``docs``, written as files next to
    ``lake``, as one batch: (spool files, summary)."""
    src = lake + "_src"
    os.makedirs(src, exist_ok=True)
    paths = []
    for name, text in docs:
        paths.append(os.path.join(src, name))
        with open(paths[-1], "w") as f:
            f.write(text)
    return spool_xml_files(spark, paths, lake + "_spool", deterministic_ids=True)


def overwrite(spark, lake, docs):
    files, summary = spool(spark, lake, docs)
    overwrite_pcrs(spark, files, lake, summary, {})
    shutil.rmtree(lake + "_spool")


def test_reingest_same_keys_replaces(spark, tmp_path):
    lake = str(tmp_path / "lake")
    els = flatten_xml_strings(spark, [("f.xml", NEMSIS_XML)]).cache()
    n_keyed = els.where(F.col("pcr_uuid").isNotNull()).count()
    n_null = els.where(F.col("pcr_uuid").isNull()).count()
    overwrite(spark, lake, [("f.xml", NEMSIS_XML)])
    overwrite(spark, lake, [("f.xml", NEMSIS_XML)])
    twice = _lake(spark, lake)
    # keyed rows are replaced, not duplicated
    assert twice.where(F.col("pcr_uuid").isNotNull()).count() == n_keyed
    # NULL-keyed rows duplicate — faithful to the reference, whose
    # delete-by-UUID can't target them (main_ingest.py:312-316); the
    # pipeline's MD5 skip (D5) covers the identical-file case instead
    assert twice.where(F.col("pcr_uuid").isNull()).count() == 2 * n_null
    # keyed content identical to a single ingest
    assert (
        twice.where(F.col("pcr_uuid").isNotNull())
        .exceptAll(
            els.where(F.col("pcr_uuid").isNotNull()).select(
                "element_tag", "pcr_uuid", "value"
            )
        )
        .count()
        == 0
    )


def test_overwrite_keeps_other_keys_and_nulls(spark, tmp_path):
    lake = str(tmp_path / "lake")
    xml_a = '<r><PatientCareReport UUID="A"><x>1</x></PatientCareReport><keep>y</keep></r>'
    xml_b = '<r><PatientCareReport UUID="A"><x>2</x></PatientCareReport></r>'
    xml_c = '<r><PatientCareReport UUID="C"><x>3</x></PatientCareReport></r>'
    for name, xml in (("a.xml", xml_a), ("c.xml", xml_c), ("b.xml", xml_b)):
        overwrite(spark, lake, [(name, xml)])
    merged = _lake(spark, lake)
    vals = {
        (r["pcr_uuid"], r["value"])
        for r in merged.where(F.col("element_tag") == "x").collect()
    }
    assert vals == {("A", "2"), ("C", "3")}  # A replaced, C kept
    # NULL-keyed rows (outside any report) always survive
    assert merged.where(F.col("element_tag") == "keep").count() == 1


def test_correction_without_a_group_clears_its_tables(spark, tmp_path):
    """The key set is the batch's, not each table's: a correction of PCR1
    with no vitals group writes no vitals rows, yet PCR1's old vitals rows
    must go.  Keys derived from each table's own new rows would keep them."""
    wh = str(tmp_path / "wh")
    first = tmp_path / "first.xml"
    first.write_text(NEMSIS_XML)
    vitals = NEMSIS_XML[NEMSIS_XML.index("      <eVitals>"):
                        NEMSIS_XML.index("</eVitals>") + len("</eVitals>\n")]
    correction = tmp_path / "correction.xml"
    correction.write_text(
        NEMSIS_XML.replace(vitals, "").replace("rec-1", "rec-1-v2")
    )
    assert "eVitals" not in correction.read_text()

    ingest_xml_files(spark, [str(first)], wh, deterministic_ids=True)
    vitals_tables = [t for t in list_table_dirs(wh) if t.startswith("evitals")]
    assert len(vitals_tables) == 5
    for t in vitals_tables:
        v = spark.read.parquet(os.path.join(wh, t))
        assert v.where(F.col("pcr_uuid_context") == PCR1).count() == 1

    statuses = ingest_xml_files(spark, [str(correction)], wh, deterministic_ids=True)
    assert statuses[str(correction)] == STATUS_OK
    for t in vitals_tables:
        assert spark.read.parquet(os.path.join(wh, t)).count() == 0, t
    rec = spark.read.parquet(os.path.join(wh, "erecord_01"))
    assert {r["erecord_01_value"] for r in rec.collect()} == {"rec-1-v2", "rec-2"}


def _report(uuid, tags, value):
    body = "".join(f"<{t}>{value}</{t}>" for t in tags)
    return f'<PatientCareReport UUID="{uuid}">{body}</PatientCareReport>'


def _jobs_per_overwrite(spark, lake, n_tables):
    """Spark jobs of one overwrite_pcrs call that corrects a PCR in a lake
    of ``n_tables`` tables (root + report + leaf tags)."""
    tags = [f"x{i}" for i in range(n_tables - 2)]
    first = f"<r>{_report('A', tags, 1)}{_report('B', tags, 1)}</r>"
    overwrite(spark, lake, [("a.xml", first)])
    assert len(list_table_dirs(lake)) == n_tables
    files, summary = spool(spark, lake, [("b.xml", f"<r>{_report('A', tags, 2)}</r>")])
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    overwrite_pcrs(spark, files, lake, summary, {})
    return max(tracker.getJobIdsForGroup(None) or [-1]) - before


def test_job_count_does_not_grow_with_table_count(spark, tmp_path):
    """Every table's rewrite runs in one write job, and the batch summary
    is given, so a lake of 12 tables costs one job per batch, as a lake of
    3 does."""
    small = _jobs_per_overwrite(spark, str(tmp_path / "small"), 3)
    large = _jobs_per_overwrite(spark, str(tmp_path / "large"), 12)
    assert small == large == 1, (small, large)


def test_new_attribute_widens_existing_table(spark, tmp_path):
    lake = str(tmp_path / "lake")
    first = '<r><PatientCareReport UUID="A"><x a="1">v</x><y>w</y></PatientCareReport></r>'
    second = '<r><PatientCareReport UUID="B"><x b="2">u</x></PatientCareReport></r>'
    overwrite(spark, lake, [("1.xml", first)])
    x_cols = spark.read.parquet(os.path.join(lake, "x")).columns
    y_cols = spark.read.parquet(os.path.join(lake, "y")).columns
    assert x_cols == ["element_id", "parent_element_id", "pcr_uuid_context",
                      "original_tag_name", "x_value", "a"]

    overwrite(spark, lake, [("2.xml", second)])
    x = spark.read.parquet(os.path.join(lake, "x"))
    assert x.columns == x_cols + ["b"]
    got = {(r["pcr_uuid_context"], r["x_value"], r["a"], r["b"]) for r in x.collect()}
    assert got == {("A", "v", "1", None), ("B", "u", None, "2")}
    # a table the batch does not touch keeps its exact column list and rows
    y = spark.read.parquet(os.path.join(lake, "y"))
    assert y.columns == y_cols
    assert [(r["pcr_uuid_context"], r["y_value"]) for r in y.collect()] == [("A", "w")]


def _inodes(lake):
    return {
        (t, f): os.stat(os.path.join(lake, t, f)).st_ino
        for t in list_table_dirs(lake)
        for f in os.listdir(os.path.join(lake, t))
    }


def test_write_partition_retry_replaces_its_own_file(tmp_path):
    """A retried task (same partition id) leaves one file per table, with
    its new rows and the kept rows of its old files once: rows of a key-set
    PCR go (a uuid holding ' too), a NULL-PCR row stays, a column the old
    file lacks is NULL, and a table the batch has no rows for keeps its
    kept rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nemsis_xml_parser_spark.operators.overwrite import part_file_name, write_partition

    common = ["element_id", "parent_element_id", "pcr_uuid_context", "original_tag_name"]
    layouts = {t: (str(tmp_path / t), common + [f"{t}_value", "a"]) for t in ("p", "q")}
    layouts["r"] = (str(tmp_path / "r"), common + ["r_value"])

    def piece(t, **columns):
        return t, pa.table({c: pa.array(columns[c], pa.string()) for c in layouts[t][1]})

    pieces = [
        piece("p", element_id=["1"], parent_element_id=[None], pcr_uuid_context=["A"],
              original_tag_name=["p"], p_value=["v1"], a=["x"]),
        piece("q", element_id=["2"], parent_element_id=["1"], pcr_uuid_context=["A"],
              original_tag_name=["q"], q_value=["v2"], a=[None]),
        piece("p", element_id=["3"], parent_element_id=["1"], pcr_uuid_context=[None],
              original_tag_name=["p"], p_value=["v3"], a=[None]),
    ]
    old = {}
    for t, pcrs in (("p", ["A", None, "it's", "B"]), ("r", ["it's", "B"])):
        old[t] = str(tmp_path / f"old_{t}.parquet")
        pq.write_table(pa.table({
            "element_id": [f"{t}{i}" for i in range(len(pcrs))],
            "parent_element_id": [None] * len(pcrs),
            "pcr_uuid_context": pcrs,
            "original_tag_name": [t] * len(pcrs),
            f"{t}_value": ["old"] * len(pcrs),
        }), old[t])
    for _ in range(2):
        assert write_partition(
            pieces, layouts, 7, [("p", old["p"]), ("r", old["r"])], ["A", "it's"]
        ) == [("p", 4), ("q", 1), ("r", 1)]
    for t, n in (("p", 4), ("q", 1), ("r", 1)):
        assert os.listdir(tmp_path / t) == [part_file_name(7)]
        got = pq.read_table(tmp_path / t / part_file_name(7))
        assert got.column_names == layouts[t][1]
        assert got.num_rows == n
        # a table's kept and new rows share one buffer and one row group
        assert pq.ParquetFile(tmp_path / t / part_file_name(7)).metadata.num_row_groups == 1
    p = pq.read_table(tmp_path / "p" / part_file_name(7)).to_pylist()
    assert sorted((r["element_id"], r["pcr_uuid_context"], r["a"]) for r in p) == [
        ("1", "A", "x"), ("3", None, None), ("p1", None, None), ("p3", "B", None)
    ]
    r = pq.read_table(tmp_path / "r" / part_file_name(7)).to_pylist()
    assert [(x["element_id"], x["pcr_uuid_context"]) for x in r] == [("r1", "B")]


def test_pivot_of_a_sliced_batch_keeps_each_rows_later_key():
    """``pivot`` reads each row's own map entries when the batch is a
    slice of a larger one, fills a column from the later of two keys that
    lower to it, lowercases the table tag, and keeps a PCR that several
    files carry only from its owner file (NULL PCRs stay)."""
    import pyarrow as pa

    from nemsis_xml_parser_spark.operators.flatten import SPOOL_SCHEMA
    from nemsis_xml_parser_spark.operators.overwrite import pivot

    rows = [
        dict(table_name="X", element_id="0", parent_element_id=None, pcr_uuid="A",
             element_tag="X", value="skipped", attributes={"a": "no"}, file="f1"),
        dict(table_name="X", element_id="1", parent_element_id=None, pcr_uuid="A",
             element_tag="X", value="v1", attributes={"Code": "1", "code": "2", "b": "3"},
             file="f2"),
        dict(table_name="y", element_id="2", parent_element_id="1", pcr_uuid="A",
             element_tag="y", value=None, attributes={"B": "4"}, file="f1"),
        dict(table_name="y", element_id="3", parent_element_id=None, pcr_uuid=None,
             element_tag="y", value="v3", attributes={}, file="f1"),
    ]
    common = ["element_id", "parent_element_id", "pcr_uuid_context", "original_tag_name"]
    columns = {t: common + [f"{t}_value", "b", "code"] for t in ("x", "y")}
    batch = pa.RecordBatch.from_pylist(rows, schema=SPOOL_SCHEMA).slice(1)
    pieces = [(t, part.to_pylist()) for t, part in pivot(batch, columns, {"A": "f2"})]
    assert pieces == [
        ("x", [{"element_id": "1", "parent_element_id": None, "pcr_uuid_context": "A",
                "original_tag_name": "X", "x_value": "v1", "b": "3", "code": "2"}]),
        ("y", [{"element_id": "3", "parent_element_id": None, "pcr_uuid_context": None,
                "original_tag_name": "y", "y_value": "v3", "b": None, "code": None}]),
    ]


def test_batch_without_keys_rewrites_only_its_own_tables(spark, tmp_path):
    """An empty key set deletes nothing: a batch of only malformed files
    touches no table, and a header-only batch without a PCR rewrites only
    the tables it has rows for (file inodes compared before and after)."""
    wh = str(tmp_path / "wh")
    first = tmp_path / "first.xml"
    first.write_text(NEMSIS_XML)
    ingest_xml_files(spark, [str(first)], wh, deterministic_ids=True)
    before = _inodes(wh)

    bad = tmp_path / "bad.xml"
    bad.write_text("<open><unclosed>")
    assert ingest_xml_files(spark, [str(bad)], wh)[str(bad)] == STATUS_ERROR_PARSE
    assert _inodes(wh) == before

    header = tmp_path / "header.xml"
    header.write_text(
        '<EMSDataSet xmlns="http://www.nemsis.org"><Header><DemographicGroup>'
        "<dAgency.01>AG-002</dAgency.01></DemographicGroup></Header></EMSDataSet>"
    )
    assert ingest_xml_files(spark, [str(header)], wh)[str(header)] == STATUS_OK
    after = _inodes(wh)
    changed = {t for t, f in before.keys() | after.keys()
               if before.get((t, f)) != after.get((t, f))}
    assert changed == {"emsdataset", "header", "demographicgroup", "dagency_01"}
    agency = spark.read.parquet(os.path.join(wh, "dagency_01"))
    assert {r["dagency_01_value"] for r in agency.collect()} == {"AG-001", "AG-002"}


def test_one_file_batch_spreads_old_files_over_all_tasks(spark, tmp_path):
    """The write tasks read the lake's old part files themselves, and the
    spool and write jobs run one task per core however few files a batch
    holds, so a one-file batch still rewrites the lake in
    defaultParallelism tasks, not in one."""
    lake = str(tmp_path / "lake")
    n = spark.sparkContext.defaultParallelism
    tags = ["x0", "x1", "x2"]
    reports = "".join(_report(f"P{i}", tags, 1) for i in range(4 * n))
    overwrite(spark, lake, [("a.xml", f"<r>{reports}</r>")])
    assert len([f for f in _inodes(lake) if f[1].endswith(".parquet")]) >= n

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None))
    files, summary = spool(spark, lake, [("b.xml", f"<r>{_report('P0', tags, 2)}</r>")])
    assert len(files) == 1
    assert max(tracker.getJobIdsForGroup(None)) == before + 1
    spool_job = tracker.getJobInfo(before + 1)
    assert tracker.getStageInfo(max(spool_job.stageIds)).numTasks == n
    overwrite_pcrs(spark, files, lake, summary, {})
    assert max(tracker.getJobIdsForGroup(None)) == before + 2
    write_job = tracker.getJobInfo(before + 2)
    assert tracker.getStageInfo(max(write_job.stageIds)).numTasks == n
    x0 = spark.read.parquet(os.path.join(lake, "x0"))
    assert x0.count() == 4 * n
    assert x0.where(F.col("pcr_uuid_context") == "P0").first()["x0_value"] == "2"


def test_each_part_file_is_one_row_group(spark, tmp_path):
    """A write task buffers each table's new rows over all its spool
    batches (one per file) and writes them as one parquet row group, so a
    batch of more files than tasks writes no more row groups than part
    files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nemsis_xml_parser_spark import catalog

    lake = str(tmp_path / "lake")
    n = spark.sparkContext.defaultParallelism
    tags = ["x0", "x1"]
    docs = [(f"f{i}.xml", f"<r>{_report(f'P{i}', tags, i)}</r>") for i in range(3 * n)]
    files, summary = spool(spark, lake, docs)
    assert len(files) == n
    assert max(pa.ipc.open_file(pa.memory_map(f)).num_record_batches for f in files) > 1
    overwrite_pcrs(spark, files, lake, summary, {})
    for t in list_table_dirs(lake):
        parts = catalog.part_files(os.path.join(lake, t))
        assert len(parts) == n, t
        assert [pq.ParquetFile(p).metadata.num_row_groups for p in parts] == [1] * n, t
    assert spark.read.parquet(os.path.join(lake, "x1")).count() == 3 * n


def _logged(wh):
    """{file name: status} of the lake's bookkeeping log."""
    import pyarrow.parquet as pq

    log = pq.read_table(os.path.join(wh, "_files_processed")).to_pylist()
    return {r["original_file_name"]: r["status"] for r in log}


def test_attribute_keys_equal_but_for_case_keep_the_later(spark, tmp_path):
    """Attribute keys that lower to one column fill it with the later key's
    value, as the reference's row dict keyed by the lowered column does
    (main_ingest.py:466-476): the batch is staged, not lost."""
    wh = str(tmp_path / "wh")
    path = tmp_path / "case.xml"
    path.write_text('<r><PatientCareReport UUID="A"><x Code="1" code="2">v</x>'
                    '<y code="3" Code="4" CODE="5" other="6"/></PatientCareReport></r>')
    assert ingest_xml_files(spark, [str(path)], wh, deterministic_ids=True) == {
        str(path): STATUS_OK}
    assert _logged(wh) == {"case.xml": STATUS_OK}
    x = spark.read.parquet(os.path.join(wh, "x")).collect()
    assert [(r["x_value"], r["code"]) for r in x] == [("v", "2")]
    y = spark.read.parquet(os.path.join(wh, "y")).collect()
    assert [(r["code"], r["other"]) for r in y] == [("5", "6")]


# A lake whose rows all carry a PCR: a crashed batch's re-run replaces each
# of them.  (A batch's NULL-PCR rows are appended again by its re-run, so
# a crash between two tables' swaps would duplicate those: the mixed-lake
# gap a lake commit record is to close.)
def _pcr_doc(uuid, marker, tags):
    body = "".join(f"<{t}>{marker}</{t}>" for t in tags)
    return (f'<PatientCareReport UUID="{uuid}"><eRecord><eRecord.01>{marker}'
            f"</eRecord.01></eRecord>{body}</PatientCareReport>")


def _write_docs(directory, docs):
    directory.mkdir(exist_ok=True)
    paths = []
    for name, text in docs:
        (directory / name).write_text(text)
        paths.append(str(directory / name))
    return paths


def _lake_state(wh):
    """Rows per (table, PCR) and the eRecord.01 markers per PCR."""
    import collections

    import pyarrow.parquet as pq

    rows = collections.Counter()
    for t in list_table_dirs(wh):
        for p in pq.read_table(os.path.join(wh, t), columns=["pcr_uuid_context"]).column(0).to_pylist():
            rows[(t, p)] += 1
    markers = {}
    for r in pq.read_table(os.path.join(wh, "erecord_01")).to_pylist():
        markers.setdefault(r["pcr_uuid_context"], set()).add(r["erecord_01_value"])
    return rows, markers


@pytest.fixture()
def crash_batch(spark, tmp_path):
    """(a lake of PCRs A, B, C, the batch that corrects A without its y
    group and adds D, the lake the batch gives without a crash)."""
    base = str(tmp_path / "base")
    ingest_xml_files(spark, _write_docs(tmp_path / "lake_src", [
        (f"{u}.xml", _pcr_doc(u, f"{u}-1", ["x", "y"])) for u in "ABC"]), base)
    batch = _write_docs(tmp_path / "batch", [
        ("A2.xml", _pcr_doc("A", "A-2", ["x"])), ("D.xml", _pcr_doc("D", "D-1", ["x", "y", "z"]))])
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    assert set(ingest_xml_files(spark, batch, clean).values()) == {STATUS_OK}
    return base, batch, _lake_state(clean)


def test_a_crash_at_any_step_of_the_swap_loses_no_row(spark, tmp_path, monkeypatch, crash_batch):
    """The batch fails at each file-system step of its table swaps in turn
    (each os.rename, and each rmtree of a parked table): the lake's next
    batch restores what the crash left, and the batch's re-run gives the
    lake the batch gives without a crash."""
    base, batch, want = crash_batch
    rename, rmtree = os.rename, shutil.rmtree
    steps = []

    def step(kind, fail_at):
        steps.append(kind)
        if len(steps) == fail_at:
            raise OSError(f"injected failure at {kind} step {fail_at}")

    def patch(fail_at):
        steps.clear()

        def failing_rename(src, dst, *a, **kw):
            step("rename", fail_at)
            return rename(src, dst, *a, **kw)

        def failing_rmtree(path, *a, **kw):
            if str(path).endswith("__old") and os.path.exists(path):
                step("rmtree", fail_at)
            return rmtree(path, *a, **kw)

        monkeypatch.setattr(os, "rename", failing_rename)
        monkeypatch.setattr(shutil, "rmtree", failing_rmtree)

    patch(0)
    probe = str(tmp_path / "probe")
    shutil.copytree(base, probe)
    ingest_xml_files(spark, batch, probe)
    monkeypatch.undo()
    assert "rename" in steps

    for k in range(1, len(steps) + 1):
        wh = str(tmp_path / f"crash{k}")
        shutil.copytree(base, wh)
        patch(k)
        with pytest.raises(OSError, match="injected"):
            ingest_xml_files(spark, batch, wh)
        monkeypatch.undo()
        assert set(ingest_xml_files(spark, batch, wh).values()) == {STATUS_OK}
        assert _lake_state(wh) == want, f"crash at step {k} ({steps[k - 1]})"
        assert sorted(os.listdir(wh)) == sorted(os.listdir(probe)), k


def test_spool_never_outlives_its_batch(spark, tmp_path, monkeypatch, crash_batch):
    """The spool sits in a scratch directory no table listing shows; a
    batch removes it when it ends, failed or not, and the next batch
    removes one a killed process left behind."""
    from nemsis_xml_parser_spark import catalog

    base, batch, want = crash_batch
    wh = str(tmp_path / "wh")
    shutil.copytree(base, wh)
    spool_dir = os.path.join(wh, catalog.SPOOL_DIR)
    assert not os.path.exists(spool_dir)
    seen = {}

    def crash(path, suffix):
        # the write job has run: a kill now leaves the spool behind
        seen["spool"] = sorted(os.listdir(spool_dir))
        seen["tables"] = list_table_dirs(wh)
        shutil.copytree(spool_dir, str(tmp_path / "left"))
        raise RuntimeError("killed")

    monkeypatch.setattr(catalog, "swap_in_scratch_dir", crash)
    with pytest.raises(RuntimeError, match="killed"):
        ingest_xml_files(spark, batch, wh)
    monkeypatch.undo()
    assert seen["spool"] and all(f.endswith(".arrow") for f in seen["spool"])
    assert seen["tables"] == list_table_dirs(base)
    assert not os.path.exists(spool_dir)

    os.rename(str(tmp_path / "left"), spool_dir)
    assert list_table_dirs(wh) == list_table_dirs(base)
    assert set(ingest_xml_files(spark, batch, wh).values()) == {STATUS_OK}
    assert not os.path.exists(spool_dir)
    assert not [d for d in os.listdir(wh) if d.endswith(catalog.SCRATCH_SUFFIXES)]
    assert _lake_state(wh) == want


def test_lake_equals_the_table_frames_of_its_last_versions(spark, tmp_path):
    """Oracle of the write tasks' pivot: after two batches, each lake table
    equals ``warehouse.table_frame`` over the flattened rows of both
    batches' files less the rows of superseded PCR versions (a PCR keeps
    its last file's rows; NULL-PCR rows all stay), in the lake's column
    order.  The batch holds a PCR two of its files carry, attribute keys
    in mixed case, two keys of one element that differ only in case,
    attributes that collide with a common or the value column, a new
    attribute of an existing table, NULL-PCR rows and an unparsable file.  The spool job's summary equals the summary of the
    same files' rows folded on the driver."""
    from nemsis_xml_parser_spark.operators.bookkeeping import last_versions
    from nemsis_xml_parser_spark.operators.flatten import (
        BatchSummary,
        flatten_xml_document,
        flatten_xml_files,
        row_file,
        summary_entries,
    )
    from nemsis_xml_parser_spark.operators.warehouse import table_frame

    wh = str(tmp_path / "wh")
    first = _write_docs(tmp_path / "first", [
        ("a.xml", NEMSIS_XML),
        ("b.xml", '<r><PatientCareReport UUID="B"><x Code="1">u</x></PatientCareReport>'
                  '<hdr a="1">h</hdr></r>'),
    ])
    second = _write_docs(tmp_path / "second", [
        ("c.xml", '<r><PatientCareReport UUID="B"><x code="2" b="3">v</x></PatientCareReport>'
                  '<hdr A="4">k</hdr><x Code="1" code="2">n</x></r>'),
        ("d.xml", NEMSIS_XML.replace("rec-1", "rec-1-v2").replace('NV="7701"', 'Nv="7702"')),
        ("e.xml", '<r><PatientCareReport UUID="B"><x CODE="5" element_id="6" X_Value="7">w'
                  "</x><hdr/></PatientCareReport><hdr pcr_uuid_context=\"8\"/></r>"),
        ("f.xml", "<open><unclosed>"),
    ])
    assert set(ingest_xml_files(spark, first, wh, deterministic_ids=True).values()) == {STATUS_OK}
    statuses = ingest_xml_files(spark, second, wh, deterministic_ids=True)
    assert statuses == {**{p: STATUS_OK for p in second[:3]}, second[3]: STATUS_ERROR_PARSE}

    def flattened(paths):
        return [r for p in paths for r in flatten_xml_document(
            Path(p).read_bytes(), row_file(p), deterministic_ids=True)]

    rows = flattened(second)
    _, summary = spool_xml_files(spark, second, str(tmp_path / "spool"), deterministic_ids=True)
    assert summary == BatchSummary.from_entries(summary_entries(rows))

    paths = first + second
    owners = last_versions(BatchSummary.from_entries(summary_entries(flattened(paths))), paths)
    assert owners["B"] == row_file(second[2])
    owner = F.create_map(*[F.lit(x) for kv in owners.items() for x in kv])
    elements = flatten_xml_files(spark, paths, deterministic_ids=True).where(
        F.coalesce(owner[F.col("pcr_uuid")] == F.col("file"), F.lit(True))).cache()
    try:
        tables = list_table_dirs(wh)
        assert {"x", "hdr", "evitals_06"} <= set(tables)
        for t in tables:
            lake = spark.read.parquet(os.path.join(wh, t))
            common = ["element_id", "parent_element_id", "pcr_uuid_context",
                      "original_tag_name", value_column_name(t)]
            assert lake.columns[:5] == common, t
            want = table_frame(elements, t, lake.columns[5:])
            assert want.columns == lake.columns, t
            assert lake.exceptAll(want).count() == 0, t
            assert want.exceptAll(lake).count() == 0, t
    finally:
        elements.unpersist()
    x = spark.read.parquet(os.path.join(wh, "x"))
    assert x.columns[5:] == ["code", "b"]
    assert sorted((r["x_value"], r["code"], r["b"]) for r in x.collect()) == [
        ("n", "2", None), ("w", "5", None)]
    hdr = {(r["hdr_value"], r["a"]) for r in spark.read.parquet(os.path.join(wh, "hdr")).collect()}
    assert hdr == {("h", "1"), ("k", "4"), (None, None)}
