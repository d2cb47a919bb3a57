"""Correctness gates, run untimed beside the timed passes.

Query outputs are compared with their DuckDB oracles by the same protocol as
``tools/verify_local.py`` (its ``compare`` is imported, not copied).  The
nightly batch's published snapshots are compared with the alert oracles of
``alertas_spark.testing.oracles``, and its monthly hist partition is checked to
hold one ``dt_calculo`` block per batch day with that day's snapshot rows.
Every check yields outcomes that are ``"ok"`` or a one-line problem.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

from tools.verify_local import compare


def _iso_strings(df):
    """Temporal columns as ISO strings, as ``plans/alert_corpus.py`` emits them
    for the cross-engine comparison."""
    for field in df.schema.fields:
        if isinstance(field.dataType, (TimestampType, TimestampNTZType, DateType)):
            df = df.withColumn(field.name, F.col(field.name).cast("string"))
    return df


class QueryOracle:
    """DuckDB views over the benchmark tables, one connection per run."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t + '.parquet')}'")

    def check(self, name: str, spark_pdf, oracle_sql: str | None) -> str:
        if oracle_sql is None:
            return "ok" if len(spark_pdf) > 0 else "no rows and no oracle"
        problems = [p for p in compare(name, spark_pdf, self.con.execute(oracle_sql).df())
                    if not p.startswith("dtype note")]
        return "; ".join(problems)[:300] if problems else "ok"

    def close(self) -> None:
        self.con.close()


def nightly_snapshots(ctx, siglas: tuple[str, ...]) -> dict[str, str]:
    """Each published family snapshot against the union of
    ``oracles.driver_sql`` over the family's siglas, on the columns the
    oracles give (``alrt_key`` is dropped as in ``plans/alert_corpus.py``; an
    oracle without ``alrt_sigla`` gets its sigla, as ``engine.normalize``
    injects it).  ``ctx.as_of`` must be the fixtures' AS_OF."""
    import duckdb
    import pandas as pd

    from alertas_spark.framework.engine import registry
    from alertas_spark.testing import oracles

    defs = registry()
    by_family: dict[str, list] = {}
    con = duckdb.connect()
    try:
        for sigla in siglas:
            odf = con.execute(oracles.driver_sql(ctx.warehouse, sigla)).df()
            if "alrt_sigla" not in odf.columns:
                odf["alrt_sigla"] = sigla
            by_family.setdefault(defs[sigla].family_table, []).append(
                odf.drop(columns=["alrt_key"], errors="ignore"))
    finally:
        con.close()
    out: dict[str, str] = {}
    for fam, parts in sorted(by_family.items()):
        odf = pd.concat([p for p in parts if len(p)] or parts, ignore_index=True)
        snap = ctx.table("alertas", fam)
        missing = [c for c in odf.columns if c not in snap.columns]
        if missing:
            out[f"snapshot:{fam}"] = f"snapshot lacks oracle columns {missing}"
            continue
        sdf = _iso_strings(snap.select(*odf.columns)).toPandas()
        problems = [p for p in compare(fam, sdf, odf) if not p.startswith("dtype note")]
        out[f"snapshot:{fam}"] = "; ".join(problems)[:300] if problems else "ok"
    return out


def hist_blocks(ctx, families: list[str], snapshot_rows: dict[str, dict[str, int]],
                month: str) -> dict[str, str]:
    """The hist table of each family must hold, in partition ``month``,
    exactly one ``dt_calculo`` block per batch day, each with that day's
    snapshot row count.  ``snapshot_rows`` maps family → {yyyymmdd: rows}."""
    out: dict[str, str] = {}
    for fam in families:
        got = {r["dt_calculo"]: r["n"] for r in
               ctx.table("alertas", f"hist_{fam}")
               .filter(F.col("dt_partition") == month)
               .groupBy("dt_calculo").agg(F.count(F.lit(1)).alias("n")).collect()}
        want = {d: n for d, n in snapshot_rows[fam].items() if n > 0}
        out[f"hist:{fam}"] = "ok" if got == want else f"blocks {got} != days {want}"
    return out
