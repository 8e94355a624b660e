"""Local mirror of the driver's correctness gate: run each catalog
query on Spark AND its DuckDB oracle on the same parquet dir, then
compare row count, column names, and order-insensitive values
*exactly* (floats included — queries are required to round anything
float-unstable)."""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa

from openaq_data_pipeline_spark.catalog import TABLES

# the driver tables at their smallest scale; PARITY_SF_DIR points the
# oracle comparisons at another (e.g. sf0.01, the scale the driver uses)
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


class OracleTypeError(AssertionError):
    """The oracle SQL violates the cross-engine type contract."""


def _arrow_type_problems(schema: pa.Schema) -> list[str]:
    """The driver hashes *typed* arrow values, so an oracle column that
    DuckDB types as HUGEINT/DECIMAL (e.g. an uncast ``SUM(int)``) hash-
    diverges from Spark's int64 even when every value is identical —
    the exact class that shipped as the r9 ``table_profile_exact``
    driver failure. The engine's determinism contract (catalog.py:
    "integral aggregates are cast to BIGINT on both sides") is enforced
    here so pytest catches it before the driver does."""
    bad = []
    for field in schema:
        t = field.type
        if pa.types.is_decimal(t):
            bad.append(
                f"column '{field.name}' is {t} — cast the oracle "
                f"expression (CAST(... AS BIGINT) for integral "
                f"aggregates, AS DOUBLE for fractional)"
            )
    return bad


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    arrow = con.sql(sql).arrow()
    type_problems = _arrow_type_problems(arrow.schema)
    if type_problems:
        raise OracleTypeError(
            "oracle output violates the BIGINT-cast contract: "
            + "; ".join(type_problems)
        )
    pdf = arrow.to_pandas()
    pdf.attrs["arrow_schema"] = arrow.schema
    return pdf


def normalize(df_pandas):
    """Sort columns by name, then rows by all values → list of tuples."""
    cols = sorted(df_pandas.columns)
    rows = []
    for rec in df_pandas[cols].itertuples(index=False, name=None):
        norm = []
        for v in rec:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                norm.append(None)
            elif isinstance(v, float):
                norm.append(round(v, 9))
            elif hasattr(v, "item"):  # numpy scalar
                item = v.item()
                norm.append(round(item, 9) if isinstance(item, float) else item)
            else:
                norm.append(v)
        rows.append(tuple(norm))
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(spark_df, oracle_pdf, max_diff_print: int = 5) -> list[str]:
    """Return a list of mismatch descriptions (empty = parity).

    Types are compared at the ARROW level, exactly (r10): the driver
    hashes typed values, so `int32 vs int64` or `timestamp[us] vs
    timestamp[us, tz]` diverges there even when every Python-
    normalized value matches — the class the r9 `table_profile_exact`
    failure shipped through. A one-off audit proved all 104 oracled
    queries already hold exact arrow-type equality, so this is
    machine-enforcing the status quo, not a new constraint."""
    problems = []
    s_arrow = spark_df.toArrow()
    o_schema = oracle_pdf.attrs.get("arrow_schema")
    if o_schema is not None:
        s_types = {f.name: str(f.type) for f in s_arrow.schema}
        o_types = {f.name: str(f.type) for f in o_schema}
        if set(s_types) == set(o_types):
            for c in sorted(s_types):
                if s_types[c] != o_types[c]:
                    problems.append(
                        f"arrow type differs on '{c}': spark={s_types[c]} "
                        f"oracle={o_types[c]} — the driver's typed hash "
                        f"will diverge; cast BOTH sides per the "
                        f"determinism contract"
                    )
        # column-set differences fall through to the name check below
        if problems:
            return problems
    spark_pdf = s_arrow.to_pandas()
    s_cols, s_rows = normalize(spark_pdf)
    o_cols, o_rows = normalize(oracle_pdf)
    if s_cols != o_cols:
        problems.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return problems
    if len(s_rows) != len(o_rows):
        problems.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")
    sset, oset = set(s_rows), set(o_rows)
    only_s = list(sset - oset)[:max_diff_print]
    only_o = list(oset - sset)[:max_diff_print]
    if only_s or only_o:
        problems.append(f"value diff; spark-only={only_s} oracle-only={only_o}")
    return problems
