"""Seeded generator of NEMSIS v3.5 ``EMSDataSet``-shaped XML files.

Every file is ``EMSDataSet > Header > (DemographicGroup, PatientCareReport*)``.
A PatientCareReport holds the ``e*`` sections of ``SECTIONS``: ``eRecord``
and a vitals group that repeats with seeded counts and carries the
``CorrelationID`` and ``units`` attributes; values use the NEMSIS
``NV``/``PN``/``xsi:nil`` null encodings.  With the NEMSIS header a batch
writes 12 tables.

The generator is the benchmark's oracle: it counts every element it emits per
destination table (lowercased tag with ``.`` -> ``_``) and per PCR, so checks
compare the warehouse against exact numbers, never a per-PCR constant.
Repeat counts are dealt from a fixed deck per batch, so a batch of P PCRs has
the same element count under every seed; only values, attributes, the order
of repeats and which files take the remainder of an uneven split change
with the seed.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

NS = "http://www.nemsis.org"
XSI = "http://www.w3.org/2001/XMLSchema-instance"
NV_NOT_RECORDED = "7701003"
PN_DENIED = "8801019"


def table_of(tag: str) -> str:
    """Destination table of a tag (tags here are ASCII ``[A-Za-z0-9.]``)."""
    return tag.replace(".", "_").lower()


# section -> (plain element numbers, {group name: element numbers}).  Kept
# narrow on purpose: the ingest path runs Spark jobs per table and batch, and
# the ~280 tags of a full EMSDataSet took 63-75 s per overwrite batch on four
# cores, more than one benchmark run can hold.
SECTIONS: list[tuple[str, list[str], dict[str, list[str]]]] = [
    ("eRecord", ["01"], {}),
    ("eVitals", [], {"VitalGroup": ["06"]}),
]
# groups that repeat per PCR; their counts are dealt from REPEAT_DECK
REPEATING = {"VitalGroup"}
REPEAT_DECK = (1, 2, 3, 4, 5, 6)
# elements carrying a units attribute
UNITS = {"eVitals.06": "mmHg"}


@dataclass
class Pcr:
    """One rendered PatientCareReport: its expected rows per table and the
    marker its ``eRecord.01`` carries (the marker changes with the version)."""

    uuid: str
    rows: Counter
    marker: str


@dataclass
class PcrSpec:
    uuid: str
    version: int
    value_seed: int
    repeats: dict[str, int]  # repeating group -> occurrences


@dataclass
class XmlFile:
    name: str
    text: str
    pcrs: list[Pcr]
    header_rows: Counter  # elements outside any PCR (no pcr_uuid_context)

    def rows(self) -> Counter:
        out = Counter(self.header_rows)
        for p in self.pcrs:
            out.update(p.rows)
        return out

    @property
    def elements(self) -> int:
        return sum(self.rows().values())


class _Doc:
    def __init__(self) -> None:
        self.parts: list[str] = []
        self.counts: Counter = Counter()

    def leaf(self, tag: str, text: str | None, attrs: dict[str, str] | None = None):
        self.counts[table_of(tag)] += 1
        a = "".join(f' {k}="{v}"' for k, v in (attrs or {}).items())
        if text is None:
            self.parts.append(f"<{tag}{a}/>")
        else:
            self.parts.append(f"<{tag}{a}>{text}</{tag}>")

    def open(self, tag: str, attrs: dict[str, str] | None = None):
        self.counts[table_of(tag)] += 1
        a = "".join(f' {k}="{v}"' for k, v in (attrs or {}).items())
        self.parts.append(f"<{tag}{a}>")

    def close(self, tag: str):
        self.parts.append(f"</{tag}>")


def _value(rng: random.Random, doc: _Doc, tag: str, version: int) -> None:
    """One leaf with a value, or a NEMSIS null encoding (NV or PN + nil)."""
    roll = rng.random()
    if roll < 0.06:
        doc.leaf(tag, None, {"NV": NV_NOT_RECORDED, "xsi:nil": "true"})
    elif roll < 0.09:
        doc.leaf(tag, None, {"PN": PN_DENIED, "xsi:nil": "true"})
    else:
        attrs = {"units": UNITS[tag]} if tag in UNITS else None
        doc.leaf(tag, f"{rng.randrange(1000, 9999)}-{version}", attrs)


def _group(rng, doc, section, group, nums, version, corr):
    gtag = f"{section}.{group}"
    doc.open(gtag, {"CorrelationID": corr} if corr else None)
    for n in nums:
        _value(rng, doc, f"{section}.{n}", version)
    doc.close(gtag)


def _pcr(doc: _Doc, spec: PcrSpec) -> Pcr:
    rng = random.Random(spec.value_seed)
    before = Counter(doc.counts)
    doc.open("PatientCareReport", {"UUID": spec.uuid})
    marker = f"rec-{spec.uuid}-v{spec.version}"
    for section, plain, groups in SECTIONS:
        doc.open(section)
        for n in plain:
            tag = f"{section}.{n}"
            if tag == "eRecord.01":
                doc.leaf(tag, marker)
            else:
                _value(rng, doc, tag, spec.version)
        for group, nums in groups.items():
            for r in range(spec.repeats.get(group, 1)):
                corr = f"{group}-{spec.uuid[-6:]}-{r}" if group in REPEATING else None
                _group(rng, doc, section, group, nums, spec.version, corr)
        doc.close(section)
    doc.close("PatientCareReport")
    rows = Counter(doc.counts)
    rows.subtract(before)
    return Pcr(uuid=spec.uuid, rows=+rows, marker=marker)


def render_file(name: str, specs: list[PcrSpec], agency: int) -> XmlFile:
    """One EMSDataSet file; the same specs always render the same bytes."""
    doc = _Doc()
    doc.parts.append('<?xml version="1.0" encoding="UTF-8"?>\n')
    doc.open("EMSDataSet", {"xmlns": NS, "xmlns:xsi": XSI})
    doc.open("Header")
    doc.open("DemographicGroup")
    doc.leaf("dAgency.01", f"AG{agency:05d}")
    doc.leaf("dAgency.02", f"{agency:05d}")
    doc.leaf("dAgency.04", "37")
    doc.close("DemographicGroup")
    header_rows = Counter(doc.counts)
    pcrs = [_pcr(doc, s) for s in specs]
    doc.close("Header")
    doc.close("EMSDataSet")
    doc.parts.append("\n")
    return XmlFile(name=name, text="".join(doc.parts), pcrs=pcrs,
                   header_rows=header_rows)


def pcr_uuid(seed: int, n: int) -> str:
    return f"{seed & 0xFFFFFFFF:08x}-0000-4000-8000-{n:012x}"


class Corpus:
    """Seeded source of files.

    PCR numbers are handed out sequentially, so every call yields PCRs no
    earlier call produced; file names are unique per corpus.
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self._groups = [g for _, _, groups in SECTIONS for g in groups
                        if g in REPEATING]
        self._next_pcr = 0
        self._next_file = 0

    def _name(self, prefix: str) -> str:
        self._next_file += 1
        return f"{prefix}_{self._next_file:06d}.xml"

    def _deal(self, n: int) -> list[dict[str, int]]:
        """Repeat counts for n PCRs: each group's deck cycles REPEAT_DECK,
        so the batch total is fixed and only the assignment is seeded."""
        out: list[dict[str, int]] = [{} for _ in range(n)]
        for g in self._groups:
            deck = [REPEAT_DECK[i % len(REPEAT_DECK)] for i in range(n)]
            self.rng.shuffle(deck)
            for reps, count in zip(out, deck):
                reps[g] = count
        return out

    def _split(self, n_pcrs: int, n_files: int) -> list[int]:
        """Even split of n_pcrs over n_files; seeded files take the remainder."""
        sizes = [n_pcrs // n_files] * n_files
        for i in self.rng.sample(range(n_files), n_pcrs % n_files):
            sizes[i] += 1
        return sizes

    def _files(self, prefix: str, specs: list[PcrSpec], n_files: int) -> list[XmlFile]:
        out, i = [], 0
        for k in self._split(len(specs), n_files):
            out.append(render_file(self._name(prefix), specs[i:i + k],
                                   self.rng.randrange(1, 500)))
            i += k
        return out

    def new_files(self, n_files: int, n_pcrs: int, prefix: str = "new") -> list[XmlFile]:
        return self.mixed_files(n_files, [], n_pcrs, prefix)

    def mixed_files(self, n_files: int, corrected: list[Pcr], n_new: int,
                    prefix: str = "mixed", version: int = 2) -> list[XmlFile]:
        """Files holding new versions of existing PCRs (same UUIDs, new values
        and repeats) followed by n_new new PCRs."""
        deck = self._deal(len(corrected) + n_new)
        specs = [PcrSpec(p.uuid, version, self.rng.getrandbits(48), reps)
                 for p, reps in zip(corrected, deck)]
        for reps in deck[len(corrected):]:
            self._next_pcr += 1
            specs.append(PcrSpec(pcr_uuid(self.seed, self._next_pcr), 1,
                                 self.rng.getrandbits(48), reps))
        return self._files(prefix, specs, n_files)
