"""CLI REPL — the reference's interactive entry point, Spark-backed.

Mirrors the reference CLI loop (main.go:67-101): read a line, strip ';',
handle exit / SET IMAGE DIR / SHOW IMAGE DIR / SHOW TABLES, sniff NL vs SQL,
execute, print reference-style fixed-width output.

Usage:
    python -m custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark [db_root]
"""

from __future__ import annotations

import sys

from . import Engine, get_spark
from .functions.format import format_result
from .plans import nl


def run_statement(engine: Engine, line: str) -> str:
    low = line.lower()
    if low.startswith("set image dir "):
        engine.image_dir = line[len("set image dir ") :].strip()
        return f"image dir set to {engine.image_dir}"
    if low == "show image dir":
        return engine.image_dir or "(image dir not set)"
    if low == "show tables":
        return "\n".join(engine.show_tables()) or "(no tables)"
    if nl.is_natural_language(line):
        sql, result = nl.ask(engine, line)
        header = f"-- {sql}\n"
        return header + format_result(result)
    return engine.render_sql(line)


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "./sparkdb_data"
    spark = get_spark(app_name="sparkdb-repl")
    engine = Engine(spark, root)
    print(f"sparkdb REPL — db root: {root} (exit/quit to leave)")
    while True:
        try:
            line = input("db> ").strip().rstrip(";").strip()
        except EOFError:
            break
        if not line:
            continue
        if line.lower() in ("exit", "quit"):
            break
        try:
            print(run_statement(engine, line))
        except Exception as ex:  # REPL: show, don't die (main.go prints errors)
            print(f"error: {ex}")
    spark.stop()


if __name__ == "__main__":
    main()
