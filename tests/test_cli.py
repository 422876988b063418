"""CLI entry-point tests (SURVEY G1/G2 wiring)."""

import os

import pytest

from nemsis_xml_parser_spark.cli import build_parser, main
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl


def test_parser_shapes():
    p = build_parser()
    a = p.parse_args(["ingest", "f.xml", "--warehouse", "/w", "--archive-dir", "/a"])
    assert a.command == "ingest" and a.files == ["f.xml"]
    v = p.parse_args(["vendor", "-file_path", "x.xlsx", "-vendor", "imagetrend",
                      "-source", "s", "--out", "/o"])
    assert v.vendor == "imagetrend"
    with pytest.raises(SystemExit):
        p.parse_args(["ingest"])  # missing required args


def test_cli_ingest_end_to_end(spark, tmp_path, capsys):
    f = tmp_path / "doc.xml"
    f.write_text(NEMSIS_XML)
    wh = str(tmp_path / "wh")
    # version gate fires without bootstrap
    with pytest.raises(RuntimeError, match="not registered"):
        main(["ingest", str(f), "--warehouse", wh])
    rc = main(["ingest", str(f), "--warehouse", wh, "--skip-version-gate"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Staged_Dynamic_Spark_V1" in out
    assert os.path.isdir(os.path.join(wh, "evitals_01"))


def test_cli_definitions(spark, tmp_path, capsys):
    e = tmp_path / "e.txt"
    e.write_text("DatasetName|ElementNumber|ElementName|Code|CodeDescription\nD|n|e|1|x\n")
    fdef = tmp_path / "f.txt"
    fdef.write_text("Dataset|DatasetType|ElementNumber|ElementName|Attribute\nD|T|n|e|NV\n")
    out = str(tmp_path / "dims")
    assert main(["definitions", "--element-file", str(e), "--field-file", str(fdef),
                 "--out", out]) == 0
    assert os.path.isdir(os.path.join(out, "_element_definitions"))
