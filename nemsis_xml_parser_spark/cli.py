"""CLI entry points (SURVEY G1) — the reference's three executables
re-expressed over the Spark engine:

    python -m nemsis_xml_parser_spark.cli ingest FILE... --warehouse DIR
        [--archive-dir DIR] [--error-dir DIR]         (main_ingest.py EP1)
    python -m nemsis_xml_parser_spark.cli definitions --element-file F
        --field-file F --out DIR                      (create_definitions.py EP2)
    python -m nemsis_xml_parser_spark.cli vendor -file_path F -vendor V
        -source S --out DIR                           (vendor_import.py EP3)
    python -m nemsis_xml_parser_spark.cli bootstrap --warehouse DIR
    python -m nemsis_xml_parser_spark.cli migrate --warehouse DIR
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="nemsis_xml_parser_spark")
    sub = p.add_subparsers(dest="command", required=True)

    ing = sub.add_parser("ingest", help="ingest NEMSIS XML files (EP1)")
    ing.add_argument("files", nargs="+")
    ing.add_argument("--warehouse", required=True)
    ing.add_argument("--archive-dir", default=None)
    ing.add_argument("--error-dir", default=None)
    ing.add_argument("--skip-version-gate", action="store_true")

    de = sub.add_parser("definitions", help="load dimension tables (EP2)")
    de.add_argument("--element-file", required=True)
    de.add_argument("--field-file", required=True)
    de.add_argument("--out", required=True)

    ve = sub.add_parser("vendor", help="import vendor Excel workbook (EP3)")
    ve.add_argument("-file_path", required=True)
    ve.add_argument("-vendor", required=True)
    ve.add_argument("-source", required=True)
    ve.add_argument("--out", required=True)

    bo = sub.add_parser("bootstrap", help="seed schema version (G4)")
    bo.add_argument("--warehouse", required=True)

    mi = sub.add_parser("migrate", help="text_content -> value columns (G5)")
    mi.add_argument("--warehouse", required=True)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(f"nemsis-cli-{args.command}")
    try:
        if args.command == "ingest":
            from .operators.bookkeeping import ingest_xml_files
            from .operators.migration import bootstrap_schema, require_schema_version

            if args.skip_version_gate:
                bootstrap_schema(args.warehouse)
            require_schema_version(args.warehouse)  # G2 gate
            statuses = ingest_xml_files(
                spark,
                args.files,
                args.warehouse,
                archive_dir=args.archive_dir,
                error_dir=args.error_dir,
            )
            for f, s in statuses.items():
                print(f"{s}\t{f}")
            return 0 if all(s.startswith(("Staged", "Skipped")) for s in statuses.values()) else 1

        if args.command == "definitions":
            from .sources.definitions import (
                load_element_definitions,
                load_field_definitions,
            )

            load_element_definitions(spark, args.element_file).write.mode(
                "overwrite"
            ).parquet(f"{args.out}/_element_definitions")
            load_field_definitions(spark, args.field_file).write.mode(
                "overwrite"
            ).parquet(f"{args.out}/_field_definitions")
            print(f"definitions written under {args.out}")
            return 0

        if args.command == "vendor":
            from .sources.vendor_excel import import_vendor_excel

            tables = import_vendor_excel(
                spark, args.file_path, args.vendor, args.source, write_dir=args.out
            )
            for t in tables:
                print(f"wrote {t}")
            return 0

        if args.command == "bootstrap":
            from .operators.migration import bootstrap_schema

            bootstrap_schema(args.warehouse)
            print("schema version seeded")
            return 0

        if args.command == "migrate":
            from .operators.migration import migrate_text_content_to_value_columns

            renamed = migrate_text_content_to_value_columns(spark, args.warehouse)
            for t, c in renamed.items():
                print(f"renamed {t}.text_content -> {c}")
            print(f"{len(renamed)} tables migrated")
            return 0
        return 2
    finally:
        if owns_session:  # don't tear down a caller-owned session
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
