"""The full output check, run by ``run.py`` after the measured process ends.

The warm-up pass of the measured process leaves its outputs in the run
directory: the corpus steps as parquet (``DataFrame.write``), FreshKart as
the CSV and SQLite files its sinks wrote. Reading them back and digesting
them here keeps DuckDB, pandas frames and the canonical rows out of the
measured driver, so its peak memory is the program's own.
"""

from __future__ import annotations

import os
import sqlite3

from perfbench import inputs


def _compare(output: str, pdf, want: dict) -> str | None:
    have = inputs.canon_digest(pdf)
    if have["rows"] != want["rows"]:
        return f"{output}: {have['rows']} rows, expected {want['rows']}"
    if have["columns"] != want["columns"]:
        return f"{output}: columns {have['columns']}, expected {want['columns']}"
    if have["digest"] != want["digest"]:
        return f"{output}: values differ from the oracle"
    return None


def freshkart_frames(out: str) -> dict:
    """The written FreshKart outputs as full frames: the partitioned CSV
    and the rejects CSV read back through DuckDB, both SQLite tables."""
    import duckdb
    import pandas as pd

    def numeric(pdf):
        for c in pdf.columns:
            try:
                pdf[c] = pd.to_numeric(pdf[c])
            except (ValueError, TypeError):
                pass
        return pdf

    read = ("read_csv('{}', header=true, sep=';', all_varchar=true, "
            "hive_partitioning={}, hive_types_autocast=false)")
    con = duckdb.connect()
    try:
        frames = {
            "daily_city_sales_csv": numeric(con.execute("SELECT * FROM " + read.format(
                f"{out}/daily_city_sales_csv/*/*.csv", "true")).df()),
            "rejects_csv": numeric(con.execute("SELECT * FROM " + read.format(
                f"{out}/rejects_items_csv/*.csv", "false")).df()),
        }
    finally:
        con.close()
    with sqlite3.connect(os.path.join(out, "freshkart.db")) as conn:
        for t in ("orders_clean", "daily_city_sales"):
            frames[f"sqlite_{t}"] = pd.read_sql_query(f"SELECT * FROM {t}", conn)
    return frames


def verify(workload: str, written: dict, expected: dict) -> list[str]:
    """Compare every written warm-up output with its oracle digest.
    ``written`` maps a step to the path its warm-up output went to (a step
    that raised is missing: it already counts as failed). Returns one
    message per step whose output is wrong."""
    import duckdb

    errors = []
    for step, path in written.items():
        try:
            if workload == "corpus_dedup":
                con = duckdb.connect()
                try:
                    frames = {step: con.execute(
                        f"SELECT * FROM read_parquet('{path}/*.parquet')").df()}
                finally:
                    con.close()
            else:
                frames = freshkart_frames(path)
            err = None
            for output, pdf in frames.items():
                err = err or _compare(output, pdf, expected[output])
        except Exception as exc:  # an unreadable output is a wrong output
            err = f"{step}: output unreadable: {type(exc).__name__}: {exc}"[:300]
        if err:
            errors.append(err)
    return errors
