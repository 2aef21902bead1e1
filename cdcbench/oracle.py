"""DuckDB sequential-apply oracle and result comparison.

The oracle reads the generated input files, never the engine's output, and
computes the final row state under sequential-apply semantics: a
PK-changing update is a delete of the old key followed by an insert of the
new key, the last write by ``pos`` wins, deletes remove the key, and DDL
barrier rows (``op='l'``) carry no row state. Each side is reduced to one
``(table, repo, path, sha256(content))`` row per live key and the two sets
are compared; every row in their symmetric difference is one mismatch.
"""

from __future__ import annotations

import duckdb

#: one (table, key, sub-order, op, content) row per applied change; the
#: PK-change split emits the old key's delete at sub 0 and the new key's
#: write at sub 1
_CHANGES_ENV = """
select source."table" as tbl, before.repo as repo, before.path as path,
       source.pos as pos, 0 as sub, 'd' as op, null::varchar as content
from ev where op = 'u' and (before.repo <> after.repo or before.path <> after.path)
union all
select source."table", coalesce(after.repo, before.repo),
       coalesce(after.path, before.path), source.pos, 1,
       case when op = 'd' then 'd' else 'u' end, after.content
from ev where op in ('c', 'u', 'd', 'r')
"""

_CHANGES_WIRE = """
select source."table" as tbl,
       json_extract_string(before_json, '$.repo') as repo,
       json_extract_string(before_json, '$.path') as path,
       source.pos as pos, 0 as sub, 'd' as op, null::varchar as content
from ev where op = 'u'
  and (json_extract_string(before_json, '$.repo') <> json_extract_string(after_json, '$.repo')
    or json_extract_string(before_json, '$.path') <> json_extract_string(after_json, '$.path'))
union all
select source."table",
       coalesce(json_extract_string(after_json, '$.repo'), json_extract_string(before_json, '$.repo')),
       coalesce(json_extract_string(after_json, '$.path'), json_extract_string(before_json, '$.path')),
       source.pos, 1, case when op = 'd' then 'd' else 'u' end,
       json_extract_string(after_json, '$.content')
from ev where op in ('c', 'u', 'd', 'r')
"""


def expected_state(con: duckdb.DuckDBPyConnection, files: list[str],
                   wire: bool = False) -> None:
    """Create view ``expected(tbl, repo, path, digest)`` over ``files``."""
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(f"create or replace view ev as select * from read_parquet([{flist}])")
    changes = _CHANGES_WIRE if wire else _CHANGES_ENV
    con.execute(f"""
        create or replace table expected as
        select tbl, repo, path, sha256(content) as digest from (
            select *, row_number() over (
                partition by tbl, repo, path order by pos desc, sub desc) as rn
            from ({changes})
        ) where rn = 1 and op <> 'd'
    """)


def mismatches(con: duckdb.DuckDBPyConnection, actual_sql: str) -> int:
    """Rows in the symmetric difference of ``expected`` and ``actual_sql``
    (a query yielding ``tbl, repo, path, digest``)."""
    con.execute(f"create or replace table actual as {actual_sql}")
    return con.execute("""
        select (select count(*) from (select * from expected except all select * from actual))
             + (select count(*) from (select * from actual except all select * from expected))
    """).fetchone()[0]


def lake_digest_files(spark, tables: dict[str, object], out_dir: str) -> str:
    """Write ``(tbl, repo, path, digest)`` of each lake table's current
    state as parquet under ``out_dir``; returns the read glob."""
    from pyspark.sql import functions as F

    df = None
    for name, table in tables.items():
        part = table.read().select(
            F.lit(name).alias("tbl"), "repo", "path",
            F.sha2(F.col("content"), 256).alias("digest"),
        )
        df = part if df is None else df.unionByName(part)
    df.write.mode("overwrite").parquet(out_dir)
    return f"{out_dir}/*.parquet"


def check_lake(spark, tables: dict, input_files: list[str], scratch: str,
               wire: bool = False) -> int:
    """Oracle mismatches between the generated input and the lake tables
    (``{source table name: LakeTable}``)."""
    glob = lake_digest_files(spark, tables, scratch)
    con = duckdb.connect()
    try:
        expected_state(con, input_files, wire=wire)
        return mismatches(
            con, f"select tbl, repo, path, digest from read_parquet('{glob}')"
        )
    finally:
        con.close()


def check_sink(targets: dict[str, duckdb.DuckDBPyConnection], schema: str,
               input_files: list[str]) -> int:
    """Oracle mismatches between the generated wire input and the DuckDB
    sink targets (``{table: connection}``, one connection per channel)."""
    con = duckdb.connect()
    try:
        expected_state(con, input_files, wire=True)
        import pyarrow as pa

        parts = [
            tcon.execute(
                f"select '{tbl}' as tbl, repo, path, sha256(content) as digest "
                f'from "{schema}"."{tbl}"'
            ).arrow()
            for tbl, tcon in targets.items()
        ]
        con.register("sink_rows", pa.concat_tables(parts))
        return mismatches(con, "select * from sink_rows")
    finally:
        con.close()
