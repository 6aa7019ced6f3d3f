"""Local twin of the driver's correctness gate.

Runs a registered query in Spark and its oracle in DuckDB over the
same parquet dir, then compares row count, column names, and
order-insensitive values - the same shape as CORRECTNESS_r{N}.json.
Comparison is exact (stringified cells, sorted rows); any float that
needs tolerance is a parity bug in the query, not in this harness.

Round-6 hardening (VERDICT r5's root-cause finding): the driver's
hasher materializes the oracle result TYPE-SENSITIVELY (Arrow turns
DuckDB HUGEINT into decimal128/float64, so `7519554` hashes as
`7519554.0`), while this harness's `fetchall()` path hands back
Python ints where HUGEINT and BIGINT are indistinguishable - which is
exactly why every driver-red row across r1-r5 (all un-cast HUGEINT
oracle outputs) was invisible locally. `compare()` therefore now ALSO
enforces a strict declared-type pairing per output column (DuckDB
DESCRIBE type -> exact Spark simpleString, e.g. BIGINT<->bigint,
DOUBLE<->double); any oracle column whose DuckDB type has no faithful
Spark twin (HUGEINT, JSON, ...) or maps to a different Spark type is
a mismatch even when every value compares equal.

Round-10 hardening (VERDICT r9's root-cause finding): the r9 driver
`err`s (a3bu/a3bz) were ARRAY-typed output columns - the driver
canonicalizes through pandas, where a list cell raises
`TypeError: unhashable type` inside `sort_values`' factorize - and
six never-sampled queries leaked raw DECIMAL outputs, which pandas
materializes as object-Decimal cells that hash-diverge from DuckDB's
float64 even when value-identical. Neither was visible here because
this harness normalized via Python-native `str(v)` on
`collect()`/`fetchall()` rows, which happily stringifies both. Two
layers close the gap:

1. ``compare()`` now REJECTS any oracle-checked Spark output whose
   schema carries array/map/struct or decimal fields
   (``driver_unsafe_fields``) - so the registry-wide parity pass
   (test_oracle_parity over all oracle-backed queries, and
   tools/parity_sweep.py) kills the class before the driver sees it.
2. ``pandas_compare()`` is a driver-faithful compare mode (toPandas /
   `.df()`, sorted columns, multi-column sort_values, pandas' own
   row hash) that reproduces both failure shapes on demand; its
   meta-tests live in tests/test_driver_canonical.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb

from cassandra_elasticsearch_sync_spark.catalog import TABLES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


# DuckDB declared type -> the exact Spark simpleString it must pair
# with. Types absent from this map (HUGEINT, UHUGEINT, JSON, UINTEGER,
# ...) have no faithful Spark twin: an oracle emitting one is a latent
# driver-red regardless of values.
DUCK_TO_SPARK = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "DATE": "date",
    # Both engines read the parquet timestamps as naive wall-clock
    # (DuckDB TIMESTAMP, Spark TimestampNTZType): the faithful pair.
    "TIMESTAMP": "timestamp_ntz",
    "VARCHAR": "string",
    "BLOB": "binary",
}


def duck_to_spark_type(duck_type: str) -> str | None:
    """Map a DuckDB DESCRIBE type to its exact Spark twin (or None)."""
    t = duck_type.upper()
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.endswith("[]"):
        inner = duck_to_spark_type(t[:-2])
        return f"array<{inner}>" if inner else None
    return DUCK_TO_SPARK.get(t)


def type_mismatches(spark_df, con, oracle) -> list[str]:
    """Strict per-column declared-type check between both engines."""
    stypes = {f.name: f.dataType.simpleString() for f in spark_df.schema.fields}
    out = []
    for col, dtype, *_ in con.execute(f"DESCRIBE {oracle}").fetchall():
        want = duck_to_spark_type(dtype)
        got = stypes.get(col)
        if got is None:
            continue  # column-name divergence is reported separately
        if want is None:
            out.append(f"type: {col} duck {dtype} has no Spark twin (spark {got})")
        elif want != got:
            out.append(f"type: {col} duck {dtype} -> {want} != spark {got}")
    return out


def driver_unsafe_fields(schema) -> list[str]:
    """Output fields the driver's pandas canonicalizer cannot hash
    faithfully: array/map/struct (unhashable list/dict cells -> the
    r9 `err` rows) and decimal (object-Decimal vs DuckDB float64 ->
    value-identical hash mismatch). Oracle-checked queries must
    flatten/cast these at the edge; the rich types stay on the
    library APIs."""
    out = []
    for f in schema.fields:
        s = f.dataType.simpleString()
        if s.startswith(("array<", "map<", "struct<", "decimal(")):
            out.append(f"driver-unsafe output: {f.name} is {s} "
                       "(flatten via array_join/to_json or cast "
                       "decimal->double at the query edge)")
    return out


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        # repr round-trips doubles exactly; both engines hand back binary64
        return repr(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list = field(default_factory=list)

    def __str__(self) -> str:
        if self.ok:
            return f"{self.name}: OK ({self.spark_rows} rows)"
        head = (f"{self.name}: MISMATCH spark={self.spark_rows} "
                f"oracle={self.oracle_rows}")
        for m in self.mismatches[:5]:
            head += f"\n  {m}"
        return head


def compare(name, spark_df, con, oracle, max_report=5) -> CompareResult:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(oracle)
    o_cols = [d[0] for d in rel.description]
    o_rows = rel.fetchall()

    mismatches = type_mismatches(spark_df, con, oracle)
    mismatches.extend(driver_unsafe_fields(spark_df.schema))
    if sorted(s_cols) != sorted(o_cols):
        mismatches.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return CompareResult(name, False, len(s_rows), len(o_rows), mismatches)

    sn = _normalize(s_rows, s_cols)
    on = _normalize(o_rows, o_cols)
    if len(sn) != len(on):
        mismatches.append(f"row counts differ: {len(sn)} vs {len(on)}")
    sset, oset = set(sn), set(on)
    only_s = [r for r in sn if r not in oset][:max_report]
    only_o = [r for r in on if r not in sset][:max_report]
    for r in only_s:
        mismatches.append(f"spark-only: {r}")
    for r in only_o:
        mismatches.append(f"oracle-only: {r}")
    if not mismatches and sn != on:
        mismatches.append("multiset differs (duplicate multiplicities)")
    return CompareResult(name, not mismatches, len(sn), len(on), mismatches)


def _pandas_canon(df):
    """The driver's canonicalization, faithfully: sort columns by
    name, multi-column sort_values (factorize-backed - list cells
    raise TypeError here, exactly the r9 driver `err`), then pandas'
    own per-row value hash (object-Decimal and float64 hash
    DIFFERENTLY even when value-equal). Two temporal normalizations
    keep the emulation aligned with OBSERVED driver behavior rather
    than stricter: datetime columns land on microseconds (a
    pandas-version us/ns split must not manufacture a diff), and
    object columns of datetime.date coerce to datetime64 - Spark
    DATE arrives in pandas as date objects while DuckDB's .df()
    hands back datetime64, and the driver demonstrably accepts raw
    DATE outputs (k7o_cusum_changepoint was driver-GREEN in round 6
    with exactly this shape), so flagging it would be a false
    positive, unlike Decimal (driver hash-fails) and list cells
    (driver errs)."""
    import datetime as _dt

    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and all(
                    isinstance(v, _dt.date)
                    and not isinstance(v, _dt.datetime) for v in nn):
                df[c] = pd.to_datetime(df[c])
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    df = df.reset_index(drop=True)
    return pd.util.hash_pandas_object(df, index=False).tolist()


def error_line(e: Exception) -> str:
    """``e``'s type and the first line of its message (a pyspark
    exception's repr is empty; its message's first line names the
    error)."""
    return f"{type(e).__name__}: {(str(e).strip().splitlines() or [''])[0]}"


def pandas_compare(name, spark_df, con, oracle,
                   max_report=5) -> CompareResult:
    """Driver-faithful twin of ``compare()``: both results travel the
    pandas path (Spark ``toPandas``, DuckDB ``.df()``) and hash with
    pandas' own hasher - the exact route the driver takes, where the
    `str(v)`-based ``compare()`` was blind to unhashable list cells
    and object-Decimal/float64 splits (VERDICT r9)."""
    try:
        sp = spark_df.toPandas()
    except Exception as e:  # noqa: BLE001 - any conversion failure is a driver err
        return CompareResult(name, False, -1, -1,
                             [f"driver-err (spark toPandas): {error_line(e)}"])
    op = con.execute(oracle).df()
    mismatches = []
    if sorted(sp.columns) != sorted(op.columns):
        mismatches.append(
            f"columns differ: spark={sorted(sp.columns)} "
            f"oracle={sorted(op.columns)}")
        return CompareResult(name, False, len(sp), len(op), mismatches)
    try:
        sh = _pandas_canon(sp)
    except TypeError as e:
        return CompareResult(
            name, False, len(sp), len(op),
            [f"driver-err (unhashable spark cell): {e!r}"])
    try:
        oh = _pandas_canon(op)
    except TypeError as e:
        return CompareResult(
            name, False, len(sp), len(op),
            [f"driver-err (unhashable oracle cell): {e!r}"])
    if len(sh) != len(oh):
        mismatches.append(f"row counts differ: {len(sh)} vs {len(oh)}")
    elif sh != oh:
        bad = [i for i, (a, b) in enumerate(zip(sh, oh)) if a != b]
        mismatches.append(
            f"pandas value-hash differs on {len(bad)} of {len(sh)} "
            f"rows (first at sorted row {bad[0]})")
    return CompareResult(name, not mismatches, len(sh), len(oh),
                         mismatches)
