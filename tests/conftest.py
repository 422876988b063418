from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this file belongs to, not whichever copy is installed
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nemsis_xml_parser_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


# FIXTURES.md F1 — the representative NEMSIS document
NEMSIS_XML = """<EMSDataSet xmlns="http://www.nemsis.org">
  <Header>
    <DemographicGroup>
      <dAgency.01>AG-001</dAgency.01>
      <dAgency.02>Example EMS</dAgency.02>
    </DemographicGroup>
    <PatientCareReport UUID="6e5d2c1a-0000-4000-8000-000000000001">
      <eRecord>
        <eRecord.01>rec-1</eRecord.01>
      </eRecord>
      <ePatient>
        <ePatient.15 CodeType="ICD10">21</ePatient.15>
      </ePatient>
      <eVitals>
        <eVitals.VitalGroup>
          <eVitals.01>2025-02-15T12:15:00-05:00</eVitals.01>
          <eVitals.06 NV="7701">   </eVitals.06>
          <eVitals.10>98</eVitals.10>
        </eVitals.VitalGroup>
      </eVitals>
    </PatientCareReport>
    <PatientCareReport UUID="6e5d2c1a-0000-4000-8000-000000000002">
      <eRecord><eRecord.01>rec-2</eRecord.01></eRecord>
    </PatientCareReport>
  </Header>
</EMSDataSet>"""
