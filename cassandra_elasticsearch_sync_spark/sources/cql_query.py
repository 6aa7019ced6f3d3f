"""CQL SELECT compiler: the Cassandra-side twin of the ES DSL compiler
(sources/es_query.py).

A user of the reference queries the Cassandra side with CQL. This
module compiles the CQL SELECT subset that Cassandra itself accepts -
including Cassandra's famous RESTRICTION RULES, which are the actual
semantic content of the language:

  * a predicate on a non-primary-key column requires ALLOW FILTERING;
  * clustering-key predicates require the full partition key to be
    equality-restricted (else ALLOW FILTERING);
  * a range on clustering column k requires equality on clustering
    columns 1..k-1 (the contiguous-SSTable-slice rule);
  * PER PARTITION LIMIT caps rows per partition in clustering order;
  * LIMIT applies in token order then clustering order (the order a
    full-ring CQL scan streams rows).

Compiled output is a plain DataFrame plan: key predicates push to the
scan, PER PARTITION LIMIT is a partition-key window (groups are
partition-sized - the same locality Cassandra's SSTable layout
provides), and LIMIT is a TakeOrderedAndProject on (token, clustering)
- never a global sort. Token order uses the portable 60-bit hash ring
(pipeline/hashing.py), cross-engine exact, consistent with the a2b
token-range scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_elasticsearch_sync_spark.pipeline.hashing import portable_hash60

# The CQL data model declared for the stand-in tables (consistent with
# a2b/a2c/a2d: orders is PRIMARY KEY ((o_custkey), o_orderdate DESC,
# o_orderkey)).
CQL_TABLES: dict[str, dict] = {
    "orders": {
        "partition": ["o_custkey"],
        "clustering": [("o_orderdate", "DESC"), ("o_orderkey", "ASC")],
        # CREATE INDEX ON orders (o_orderpriority): secondary index -
        # a single equality on it is queryable WITHOUT ALLOW FILTERING
        "indexes": ["o_orderpriority"],
        # CREATE CUSTOM INDEX ON orders (o_orderpriority) USING
        # 'org.apache.cassandra.index.sasi.SASIIndex' (mode PREFIX):
        # LIKE 'x%' is queryable; %x / %x% need mode CONTAINS.
        "sasi_indexes": {"o_orderpriority": "PREFIX"},
    },
    "lineitem": {
        "partition": ["l_orderkey"],
        "clustering": [("l_linenumber", "ASC")],
    },
    "events": {
        "partition": ["user_id"],
        "clustering": [("ts", "ASC"), ("event_id", "ASC")],
    },
    # Writetime-tracked scratch table (the cql_write DML target):
    # CREATE TABLE kv (key bigint PRIMARY KEY, price double). Its
    # DataFrame twin carries the writetime_us/ttl_s cell-metadata
    # columns, which is what writetime()/ttl() selectors read.
    "kv": {
        "partition": ["key"],
        "clustering": [],
    },
    # Vector table (Cassandra 5.0: CREATE TABLE embeddings (vec_id
    # bigint PRIMARY KEY, embedding vector<float, 64>, label int);
    # CREATE CUSTOM INDEX ON embeddings(embedding) USING 'SAI' WITH
    # OPTIONS = {'similarity_function': 'cosine'}). ANN ordering is
    # only legal on a vector-indexed column.
    "embeddings": {
        "partition": ["vec_id"],
        "clustering": [],
        "vector_indexes": {"embedding": "cosine"},
    },
    # Text corpus (CREATE TABLE documents (doc_id bigint PRIMARY KEY,
    # text text, lang text, source text, n_chars bigint); CREATE
    # CUSTOM INDEX ON documents (text) USING '...sasi.SASIIndex'
    # WITH OPTIONS = {'mode': 'CONTAINS'}): LIKE '%x%' / '%x' / 'x%'
    # all queryable on the indexed text.
    "documents": {
        "partition": ["doc_id"],
        "clustering": [],
        "sasi_indexes": {"text": "CONTAINS"},
    },
    # Collection + frozen-UDT bearing table (CREATE TYPE address
    # (city text, zip int); CREATE TABLE customer_profiles (cust_id
    # bigint PRIMARY KEY, segment text, tags set<text>,
    # prefs map<text,int>, address frozen<address>)). The DataFrame
    # twin is built by `customer_profiles()` below.
    "customer_profiles": {
        "partition": ["cust_id"],
        "clustering": [],
        "collections": {"tags": "set", "prefs": "map"},
        "udts": {"address": ["city", "zip"]},
    },
}

_EQ_OPS = {"=", "IN"}
_RANGE_OPS = {"<", "<=", ">", ">="}


_AGG_FNS = {"count", "sum", "min", "max", "avg"}
# Cell-metadata selectors (not aggregates): read the row's
# writetime/ttl shadow columns (the cell-metadata model the CQL
# write path maintains - cql_write.apply_cql_writes).
_SELECTOR_FNS = {"writetime", "ttl"}
# Native CQL time-conversion scalar functions (system keyspace),
# projectable on timestamp columns: toDate -> UTC date, toTimestamp
# -> timestamp, toUnixTimestamp -> epoch MILLISECONDS (Cassandra's
# unit). The timeuuid-argument forms are unrepresentable here (no
# timeuuid columns in the model) and parse as unknown functions.
_TIME_FNS = {"todate", "totimestamp", "tounixtimestamp"}
# toJson(col): Cassandra's JSON-encoding projection (system keyspace).
# Encodes per Cassandra's JSON rules: text -> quoted/escaped JSON
# string, numbers plain, timestamp -> "yyyy-MM-dd HH:mm:ss.SSSZ"
# (Cassandra's space-separated UTC form, not ISO-8601 'T'), date ->
# "yyyy-MM-dd", collections -> JSON arrays/objects, null -> null.
# The inverse, fromJson('...'), is a VALUE-position function and
# parses in _parse_literal.
_JSON_FNS = {"tojson"}
# Cassandra 5.0 scalar vector functions, projectable in the select
# list: similarity_cosine(col, [literal vector]) etc., all in [0, 1].
_SIM_FNS = {"similarity_cosine", "similarity_euclidean",
            "similarity_dot_product"}


@dataclass
class CqlCol:
    """One select-list item: a plain column or an aggregate call."""
    name: str                   # column name, or '*' inside count(*)
    fn: str | None = None       # aggregate function, lowercased
    alias: str | None = None
    vec: list | None = None     # literal vector arg of a similarity_* fn
    args: list | None = None    # ALL column args of a UDF/UDA call

    @property
    def out_name(self) -> str:
        if self.alias:
            return self.alias
        if self.fn:
            # Cassandra names the column 'system.sum(x)'; the
            # SQL-safe default here is fn_col.
            return f"{self.fn}_{self.name}" if self.name != "*" else self.fn
        # UDT field access 'address.city' -> SQL-safe 'address_city'
        # (Cassandra shows 'address.city'; dots are not hash-compare
        # safe column names here).
        return self.name.replace(".", "_")


@dataclass
class CqlSelect:
    columns: list[CqlCol]       # [CqlCol('*')] for star
    table: str
    where: list[tuple[str, str, object]] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    order_by: list[tuple[str, str]] = field(default_factory=list)
    per_partition_limit: int | None = None
    limit: int | None = None
    allow_filtering: bool = False
    json: bool = False
    distinct: bool = False
    # ORDER BY <col> ANN OF [v, ...]: (column, query_vector)
    ann: tuple[str, list[float]] | None = None


class CqlError(ValueError):
    """Invalid CQL per Cassandra's restriction rules."""


_STMT_RE = re.compile(
    r"^\s*SELECT\s+(?P<json>JSON\s+)?(?P<distinct>DISTINCT\s+)?"
    r"(?P<cols>.+?)\s+FROM\s+(?P<table>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<groupby>[\w,\s]+?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<orderby>[\w,\s]+?|\w+\s+ANN\s+OF\s+\[[^\]]*\]))?"
    r"(?:\s+PER\s+PARTITION\s+LIMIT\s+(?P<pplimit>\d+))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"(?P<af>\s+ALLOW\s+FILTERING)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_PRED_RE = re.compile(
    r"^\s*(?P<col>\w+|TOKEN\s*\([\w,\s]+\))\s*"
    r"(?P<op>>=|<=|=|<|>|IN|CONTAINS\s+KEY|CONTAINS|LIKE)\s*(?P<val>.+?)\s*$",
    re.IGNORECASE,
)

_COL_RE = re.compile(
    r"^\s*(?:(?P<fn>\w+)\s*\(\s*(?P<arg>\*|\w+(?:\s*,\s*\w+)*)\s*\)"
    r"|(?P<plain>\w+(?:\.\w+)?|\*))"
    r"(?:\s+AS\s+(?P<alias>\w+))?\s*$",
    re.IGNORECASE,
)


_FROM_JSON_RE = re.compile(
    r"^fromJson\s*\(\s*'(?P<j>(?:[^']|'')*)'\s*\)$", re.IGNORECASE)


def _parse_literal(raw: str):
    raw = raw.strip()
    m = _FROM_JSON_RE.match(raw)
    if m:
        # fromJson('<json>'): Cassandra's VALUE-position JSON decoder
        # ('' doubles a quote inside the CQL string literal). The
        # decoded value flows wherever a plain literal would -
        # INSERT/UPDATE values, WHERE comparisons, LWT conditions.
        import json as _json
        try:
            return _json.loads(m.group("j").replace("''", "'"))
        except ValueError as e:
            raise CqlError(f"fromJson payload is not valid JSON: {e}")
    if raw.startswith("(") and raw.endswith(")"):
        # depth- and quote-aware split: commas inside nested parens/
        # brackets or inside '...' string literals (fromJson payloads,
        # text values with commas) must not split the tuple
        items, depth, inq, cur = [], 0, False, []
        for ch in raw[1:-1]:
            if ch == "'":
                inq = not inq
            elif not inq and ch in "([{":
                depth += 1
            elif not inq and ch in ")]}":
                depth -= 1
            if ch == "," and depth == 0 and not inq:
                items.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if cur or items:
            items.append("".join(cur))
        return [_parse_literal(p) for p in items]
    if raw.startswith("'") and raw.endswith("'"):
        return raw[1:-1]
    if re.fullmatch(r"-?\d+", raw):
        return int(raw)
    if re.fullmatch(r"-?\d+\.\d+", raw):
        return float(raw)
    raise CqlError(f"unparseable CQL literal: {raw!r}")


_SIM_RE = re.compile(
    r"^\s*(?P<fn>similarity_(?:cosine|euclidean|dot_product))\s*\(\s*"
    r"(?P<col>\w+)\s*,\s*\[(?P<vec>[^\]]*)\]\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?\s*$",
    re.IGNORECASE,
)


def _split_select_list(raw: str) -> list[str]:
    """Split a select list on top-level commas only - similarity_*
    calls carry a bracketed vector literal whose commas must not
    split the item."""
    items, depth, cur = [], 0, []
    for ch in raw:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        items.append("".join(cur))
    return items


def _parse_col(raw: str) -> CqlCol:
    sm = _SIM_RE.match(raw)
    if sm:
        vec = [float(x) for x in sm.group("vec").split(",") if x.strip()]
        if not vec:
            raise CqlError("similarity_* requires a non-empty vector "
                           "literal")
        return CqlCol(name=sm.group("col"), fn=sm.group("fn").lower(),
                      alias=sm.group("alias"), vec=vec)
    m = _COL_RE.match(raw)
    if not m:
        raise CqlError(f"unparseable select item: {raw!r}")
    if m.group("fn"):
        fn = m.group("fn").lower()
        arg = m.group("arg")
        args = [a.strip() for a in arg.split(",")]
        if (fn not in _AGG_FNS and fn not in _SELECTOR_FNS
                and fn not in _TIME_FNS and fn not in _JSON_FNS):
            # user-defined function/aggregate (CREATE FUNCTION /
            # CREATE AGGREGATE) - resolved against the DDL registry
            from cassandra_elasticsearch_sync_spark.sources import (
                cql_functions,
            )
            if (cql_functions.lookup_function(fn) is None
                    and cql_functions.lookup_aggregate(fn) is None):
                raise CqlError(f"unsupported CQL function {fn!r}")
            if arg == "*":
                raise CqlError(f"{fn}(*) is not valid CQL")
            return CqlCol(name=args[0], fn=fn, alias=m.group("alias"),
                          args=args)
        if len(args) > 1:
            raise CqlError(f"{fn} takes one argument")
        if arg == "*" and fn != "count":
            raise CqlError(f"{fn}(*) is not valid CQL")
        return CqlCol(name=arg, fn=fn, alias=m.group("alias"))
    return CqlCol(name=m.group("plain"), alias=m.group("alias"))


def parse_cql(stmt: str) -> CqlSelect:
    m = _STMT_RE.match(stmt)
    if not m:
        raise CqlError(f"unsupported CQL statement: {stmt!r}")
    cols = [_parse_col(c) for c in _split_select_list(m.group("cols"))]
    where = []
    if m.group("where"):
        # split on AND at top level (no nested parens in the subset
        # except IN-lists and token(), which contain no AND)
        for part in re.split(r"\s+AND\s+", m.group("where"),
                             flags=re.IGNORECASE):
            pm = _PRED_RE.match(part)
            if not pm:
                raise CqlError(f"unparseable CQL predicate: {part!r}")
            col = re.sub(r"\s+", "", pm.group("col"))
            col = col.lower() if col.lower().startswith("token(") else col
            where.append((col,
                          re.sub(r"\s+", " ", pm.group("op").upper()),
                          _parse_literal(pm.group("val"))))
    group_by = ([c.strip() for c in m.group("groupby").split(",")]
                if m.group("groupby") else [])
    order_by = []
    ann = None
    ann_m = (re.match(r"^\s*(\w+)\s+ANN\s+OF\s+\[([^\]]*)\]\s*$",
                      m.group("orderby"), re.IGNORECASE)
             if m.group("orderby") else None)
    if ann_m:
        vec = [float(x) for x in ann_m.group(2).split(",") if x.strip()]
        if not vec:
            raise CqlError("ANN OF requires a non-empty vector literal")
        ann = (ann_m.group(1), vec)
    elif m.group("orderby"):
        for part in m.group("orderby").split(","):
            toks = part.split()
            if not toks or len(toks) > 2:
                raise CqlError(f"unparseable ORDER BY item: {part!r}")
            direction = toks[1].upper() if len(toks) == 2 else "ASC"
            if direction not in ("ASC", "DESC"):
                raise CqlError(f"bad ORDER BY direction {direction!r}")
            order_by.append((toks[0], direction))
    return CqlSelect(
        columns=cols,
        table=m.group("table").lower(),
        where=where,
        group_by=group_by,
        order_by=order_by,
        per_partition_limit=(int(m.group("pplimit"))
                             if m.group("pplimit") else None),
        limit=int(m.group("limit")) if m.group("limit") else None,
        allow_filtering=bool(m.group("af")),
        json=bool(m.group("json")),
        distinct=bool(m.group("distinct")),
        ann=ann,
    )


def validate_cql(sel: CqlSelect) -> dict:
    """Enforce Cassandra's restriction rules; returns the table meta."""
    meta = CQL_TABLES.get(sel.table)
    if meta is None:
        raise CqlError(f"unknown table {sel.table!r}")
    part_cols = meta["partition"]
    clus_cols = [c for c, _ in meta["clustering"]]
    by_col: dict[str, list[str]] = {}
    for col, op, _ in sel.where:
        if col.startswith("token("):
            # token(pk) restrictions: must name the FULL partition key,
            # range/equality ops only - the ring-scan predicate.
            inner = [c.strip() for c in col[6:-1].split(",")]
            if inner != part_cols:
                raise CqlError(
                    f"token() must take the full partition key "
                    f"{part_cols}, got {inner}")
            if op == "IN":
                raise CqlError("token() does not support IN")
            continue
        by_col.setdefault(col, []).append(op)

    # Collection restrictions: CONTAINS on set/list/map values,
    # CONTAINS KEY on maps only; both are non-key predicates, so
    # (without a secondary index, which this model does not declare)
    # they require ALLOW FILTERING - Cassandra's exact rule.
    collections = meta.get("collections", {})
    for col, ops in by_col.items():
        for op in ops:
            if op in ("CONTAINS", "CONTAINS KEY"):
                kind = collections.get(col)
                if kind is None:
                    raise CqlError(
                        f"{op} is only valid on collection columns; "
                        f"{col!r} is not a collection")
                if op == "CONTAINS KEY" and kind != "map":
                    raise CqlError(
                        f"CONTAINS KEY is only valid on map columns; "
                        f"{col!r} is a {kind}")
            elif col in collections:
                raise CqlError(
                    f"collection column {col!r} only supports "
                    "CONTAINS/CONTAINS KEY restrictions")

    # Frozen-UDT field access in the select list: the UDT must be
    # declared and the field must exist on it.
    udts = meta.get("udts", {})
    for c in sel.columns:
        if c.fn is None and "." in c.name:
            base, fld = c.name.split(".", 1)
            if base not in udts:
                raise CqlError(
                    f"{base!r} is not a UDT column; field access is only "
                    "valid on frozen UDTs")
            if fld not in udts[base]:
                raise CqlError(
                    f"UDT {base!r} has no field {fld!r} "
                    f"(fields: {udts[base]})")

    if sel.distinct:
        # Cassandra: SELECT DISTINCT returns one row per partition and
        # may select only partition-key (or static) columns - ALL of
        # them; it combines with token()/pk restrictions only, and
        # never with aggregates, GROUP BY, ORDER BY, or PER PARTITION
        # LIMIT. (This model declares no static columns.)
        if any(c.fn for c in sel.columns) or sel.group_by:
            raise CqlError(
                "SELECT DISTINCT cannot combine with aggregates/GROUP BY")
        if sel.order_by:
            raise CqlError("SELECT DISTINCT does not support ORDER BY")
        if sel.per_partition_limit is not None:
            raise CqlError(
                "SELECT DISTINCT does not support PER PARTITION LIMIT")
        names = [c.name for c in sel.columns]
        if sorted(names) != sorted(part_cols):
            raise CqlError(
                "SELECT DISTINCT may select only (and all of) the "
                f"partition key columns {part_cols}; got {names}")
        non_pk_preds = [c for c in by_col if c not in part_cols]
        if non_pk_preds:
            raise CqlError(
                "SELECT DISTINCT may only be restricted by the "
                f"partition key or token(); got predicates on {non_pk_preds}")

    # LIKE restrictions: Cassandra only accepts LIKE on a
    # SASI-indexed column (even ALLOW FILTERING does not rescue it),
    # and the index MODE decides the pattern shape - PREFIX serves
    # only 'x%', CONTAINS serves 'x%'/'%x'/'%x%'. Mid-pattern
    # wildcards are outside this subset.
    sasi = meta.get("sasi_indexes", {})
    for col, ops in by_col.items():
        if "LIKE" not in ops:
            continue
        if col not in sasi:
            raise CqlError(
                f"LIKE restriction on {col!r} requires a SASI index")
        pat = next(v for c2, op2, v in sel.where
                   if c2 == col and op2 == "LIKE")
        if not isinstance(pat, str) or "%" not in pat:
            raise CqlError("LIKE pattern must be a quoted string "
                           "containing %")
        core = pat.strip("%")
        if not core or "%" in core:
            raise CqlError(f"unsupported LIKE pattern {pat!r} "
                           "(prefix/suffix/contains only)")
        if sasi[col] == "PREFIX" and not (
                pat.endswith("%") and not pat.startswith("%")):
            raise CqlError(
                f"SASI PREFIX index on {col!r} serves only 'x%' "
                f"patterns; got {pat!r}")

    non_key = [c for c in by_col if c not in part_cols and c not in clus_cols]
    if non_key and not sel.allow_filtering:
        # Secondary-index rule: exactly ONE non-key restriction, on an
        # indexed column, equality-only, is served by the index lookup;
        # anything more (a range on the index, a second non-key
        # predicate, two indexed predicates) falls back to filtering
        # and needs ALLOW FILTERING - Cassandra's exact behavior.
        indexes = meta.get("indexes", [])
        index_served = (
            len(non_key) == 1
            and ((non_key[0] in indexes
                  and all(op == "=" for op in by_col[non_key[0]]))
                 # a single SASI LIKE is exactly what the index serves
                 or (non_key[0] in meta.get("sasi_indexes", {})
                     and all(op == "LIKE" for op in by_col[non_key[0]])))
        )
        if not index_served:
            raise CqlError(
                f"predicate on non-primary-key column(s) {non_key} requires "
                "ALLOW FILTERING (no single-index equality applies)")

    part_eq = all(
        any(op in _EQ_OPS for op in by_col.get(c, [])) for c in part_cols
    )
    clus_restricted = [c for c in clus_cols if c in by_col]
    if clus_restricted and not part_eq and not sel.allow_filtering:
        raise CqlError(
            "clustering-key predicates require the full partition key "
            "to be equality-restricted (or ALLOW FILTERING)")

    if not sel.allow_filtering:
        # the contiguous-slice rule: a range on clustering col k needs
        # equality on clustering cols 1..k-1
        seen_range = False
        for c in clus_cols:
            ops = by_col.get(c, [])
            if not ops:
                seen_range = True  # an unrestricted col ends the prefix
                continue
            if seen_range:
                raise CqlError(
                    f"clustering column {c!r} restricted after a "
                    "non-equality/skipped column (not a contiguous slice)")
            if any(op in _RANGE_OPS for op in ops):
                seen_range = True

    # writetime()/ttl() selector rules - Cassandra's own: never on a
    # PRIMARY KEY part, never on (non-frozen) collections, and not
    # combinable with GROUP BY / aggregates in this subset.
    selectors = [c for c in sel.columns if c.fn in _SELECTOR_FNS]
    for c in selectors:
        if c.name in part_cols or c.name in clus_cols:
            raise CqlError(
                f"Cannot use selection function {c.fn} on PRIMARY KEY "
                f"part {c.name!r}")
        if c.name in collections:
            raise CqlError(
                f"Cannot use selection function {c.fn} on collection "
                f"column {c.name!r}")
    if selectors and (sel.group_by
                      or any(c.fn in _AGG_FNS for c in sel.columns)):
        raise CqlError(
            "writetime()/ttl() cannot combine with GROUP BY/aggregates")

    # Time-conversion scalar functions: plain-select projections only
    # in this subset (combining them with GROUP BY/aggregates is
    # rejected loudly, never mis-aggregated).
    time_cols = [c for c in sel.columns if c.fn in _TIME_FNS]
    if time_cols and (sel.group_by
                      or any(c.fn in _AGG_FNS for c in sel.columns)):
        raise CqlError(
            "toDate()/toTimestamp()/toUnixTimestamp() cannot combine "
            "with GROUP BY/aggregates in this subset")

    json_cols = [c for c in sel.columns if c.fn in _JSON_FNS]
    if json_cols and (sel.group_by
                      or any(c.fn in _AGG_FNS for c in sel.columns)):
        raise CqlError(
            "toJson() cannot combine with GROUP BY/aggregates in "
            "this subset")

    sim_cols = [c for c in sel.columns if c.fn in _SIM_FNS]
    for c in sim_cols:
        if c.name not in meta.get("vector_indexes", {}):
            raise CqlError(
                f"similarity functions require a vector column; "
                f"{c.name!r} is not one")
    if sim_cols and (sel.group_by or sel.distinct
                     or any(c.fn in _AGG_FNS for c in sel.columns)):
        raise CqlError(
            "similarity_* cannot combine with GROUP BY/DISTINCT/"
            "aggregates")

    has_agg = any(c.fn in _AGG_FNS for c in sel.columns)
    plain = [c.name for c in sel.columns if c.fn is None and c.name != "*"]
    if sel.group_by:
        # Cassandra: GROUP BY columns must be the full partition key
        # followed by a (possibly empty) clustering-column prefix.
        pk_plus_prefix = [part_cols + clus_cols[:i]
                         for i in range(len(clus_cols) + 1)]
        if sel.group_by not in pk_plus_prefix:
            raise CqlError(
                "GROUP BY must be the partition key plus a clustering "
                f"prefix; got {sel.group_by}")
        bad = [c for c in plain if c not in sel.group_by]
        if bad:
            raise CqlError(
                f"non-aggregated column(s) {bad} not in GROUP BY")
    elif has_agg and plain:
        raise CqlError(
            "cannot mix aggregates and plain columns without GROUP BY")

    if sel.ann:
        # Cassandra 5.0 ANN rules: the column must carry a SAI vector
        # index, a LIMIT is mandatory and capped at 1000, and ANN
        # cannot combine with clustering ORDER BY, GROUP BY,
        # aggregates, DISTINCT, or PER PARTITION LIMIT.
        col, _ = sel.ann
        vidx = meta.get("vector_indexes", {})
        if col not in vidx:
            raise CqlError(
                f"ANN ordering on {col!r} requires a vector SAI index")
        if sel.limit is None:
            raise CqlError("ANN ordering requires a LIMIT")
        if sel.limit > 1000:
            raise CqlError("ANN LIMIT must be <= 1000 (SAI cap)")
        if (sel.order_by or sel.group_by or sel.distinct
                or sel.per_partition_limit is not None
                or any(c.fn in _AGG_FNS for c in sel.columns)):
            raise CqlError(
                "ANN ordering cannot combine with ORDER BY / GROUP BY / "
                "DISTINCT / PER PARTITION LIMIT / aggregates")

    if sel.order_by:
        part_eq_all = all(
            any(op in _EQ_OPS for op in by_col.get(c, [])) for c in part_cols)
        if not part_eq_all:
            raise CqlError(
                "ORDER BY requires the partition key to be "
                "equality-restricted (single-partition read)")
        declared = meta["clustering"][:len(sel.order_by)]
        names_ok = [c for c, _ in sel.order_by] == [c for c, _ in declared]
        fwd = all(d1 == d2 for (_, d1), (_, d2) in zip(sel.order_by, declared))
        rev = all(d1 != d2 for (_, d1), (_, d2) in zip(sel.order_by, declared))
        if not (names_ok and (fwd or rev)):
            raise CqlError(
                "ORDER BY must follow the clustering order (or its "
                f"full reversal); clustering is {meta['clustering']}")
    return meta


def _pred_column(col: str, op: str, val, kind: str | None = None):
    c = F.col(col)
    if op == "LIKE":
        # validated shapes only; compiled to startswith/endswith/
        # contains so % is the ONLY wildcard (Cassandra's LIKE treats
        # '_' literally, unlike SQL LIKE)
        core = val.strip("%")
        if val.startswith("%") and val.endswith("%"):
            return c.contains(core)
        if val.endswith("%"):
            return c.startswith(core)
        return c.endswith(core)
    if op == "CONTAINS":
        # set/list: element containment; map: VALUE containment
        target = F.map_values(c) if kind == "map" else c
        return F.array_contains(target, F.lit(val))
    if op == "CONTAINS KEY":
        return F.array_contains(F.map_keys(c), F.lit(val))
    # quoted literals compare against date/timestamp columns via
    # to_timestamp when they look like dates (CQL timestamp literals
    # are quoted strings)
    if isinstance(val, str) and re.fullmatch(r"\d{4}-\d{2}-\d{2}.*", val):
        lit = F.to_timestamp(F.lit(val))
    elif isinstance(val, list):
        return c.isin(*val)
    else:
        lit = F.lit(val)
    return {"=": c == lit, "<": c < lit, "<=": c <= lit,
            ">": c > lit, ">=": c >= lit}[op]


def _token_col(part_cols: list[str]):
    return portable_hash60(
        F.concat_ws("|", *[F.col(c).cast("string") for c in part_cols]))


def _is_uda(fn: str | None) -> bool:
    if fn is None or fn in _AGG_FNS or fn in _SELECTOR_FNS:
        return False
    from cassandra_elasticsearch_sync_spark.sources import cql_functions
    return cql_functions.lookup_aggregate(fn) is not None


def _agg_expr(c: CqlCol):
    if c.fn not in _AGG_FNS:
        # CREATE AGGREGATE fold (cql_functions); a scalar UDF in
        # aggregate position is invalid CQL
        from cassandra_elasticsearch_sync_spark.sources import cql_functions
        uda = cql_functions.lookup_aggregate(c.fn)
        if uda is None:
            raise CqlError(
                f"{c.fn!r} is not an aggregate; scalar functions "
                "cannot appear in an aggregating select list")
        cols = [F.col(a) for a in (c.args or [c.name])]
        return uda.agg_column(cols).alias(c.out_name)
    if c.fn == "count":
        e = F.count("*") if c.name == "*" else F.count(c.name)
    else:
        e = getattr(F, c.fn)(c.name)
    return e.alias(c.out_name)


def _vector_similarity(acol: str, qv: list, simf: str):
    """The similarity_* math shared by ANN ordering and the SELECT-list
    functions - Cassandra's documented [0,1] forms: cosine ->
    (1+cos)/2, dot_product -> (1+dot)/2, euclidean -> 1/(1+d^2).
    Returns ``(sim, doc_norm)``; ``doc_norm`` is None except for
    cosine, where the CALLER must guard zero-norm rows (ANN excludes
    them - they could never be SAI-indexed; projections emit NULL).
    A zero QUERY vector under cosine raises, as Cassandra does."""
    qlit = F.array(*[F.lit(float(x)).cast("double") for x in qv])
    d = F.aggregate(
        F.zip_with(qlit, F.col(acol),
                   lambda x, y: x * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    if simf == "cosine":
        qn = sum(float(x) * float(x) for x in qv) ** 0.5
        if qn == 0.0:
            raise CqlError(
                "cosine similarity rejects a zero query vector "
                "(zero magnitude has no cosine)")
        vn = F.sqrt(F.aggregate(
            F.zip_with(F.col(acol), F.col(acol),
                       lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v))
        return (F.lit(1.0) + d / (F.lit(qn) * vn)) / 2, vn
    if simf == "dot_product":
        return (F.lit(1.0) + d) / 2, None
    diff = F.aggregate(
        F.zip_with(qlit, F.col(acol),
                   lambda x, y: (x - y.cast("double"))
                   * (x - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.lit(1.0) / (F.lit(1.0) + diff), None


def _selector_expr(c: CqlCol, df: DataFrame, now_us: int | None):
    """writetime(x)/ttl(x) -> the cell-metadata shadow columns.

    writetime returns the stored microsecond stamp; ttl returns the
    REMAINING seconds at the caller's pinned read instant (integer
    floor, null when no TTL was set) - Cassandra's semantics with the
    wall clock replaced by an explicit ``now_us`` so results are
    deterministic (the same rule the write path enforces)."""
    if "writetime_us" not in df.columns or "ttl_s" not in df.columns:
        raise CqlError(
            f"{c.fn}() requires a writetime-tracked table "
            "(writetime_us/ttl_s columns)")
    if c.fn == "writetime":
        return F.col("writetime_us").alias(c.out_name)
    if now_us is None:
        raise CqlError("ttl() reads need an explicit now_us read instant")
    remaining_us = (F.col("writetime_us") + F.col("ttl_s") * 1_000_000
                    - F.lit(int(now_us)))
    return (F.when(F.col("ttl_s").isNotNull(),
                   F.floor(remaining_us / 1_000_000).cast("int"))
            .alias(c.out_name))


def _to_json_expr(col: Column, dtype: T.DataType) -> Column:
    """``toJson(col)``: Cassandra's JSON encoding of one cell.

    Temporal types take Cassandra's own spellings (space-separated
    UTC timestamp with milliseconds, bare date) rather than Spark's
    ISO-8601 'T' form; everything else rides Spark's JSON writer -
    encode the cell as a one-field struct and strip the wrapper, so
    string escaping, numerics, arrays, maps and nested nulls all use
    one engine-grade encoder instead of hand-rolled escaping."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit('"'),
                     F.date_format(col.cast("timestamp"),
                                   "yyyy-MM-dd HH:mm:ss.SSS"),
                     F.lit('Z"')))
    if isinstance(dtype, T.DateType):
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit('"'), F.date_format(col, "yyyy-MM-dd"),
                     F.lit('"')))
    wrapped = F.to_json(F.struct(col.alias("v")),
                        {"ignoreNullFields": "false"})
    # {"v":<encoded>} -> <encoded>  (5-char prefix, 1-char suffix)
    return wrapped.substr(F.lit(6), F.length(wrapped) - F.lit(6))


def cql_select(df: DataFrame, stmt: str,
               now_us: int | None = None) -> DataFrame:
    """Compile and run a CQL SELECT against the table's DataFrame."""
    sel = parse_cql(stmt)
    meta = validate_cql(sel)
    # Argument-type rule for the native time conversions (ADVICE r11):
    # Cassandra rejects toDate()/toTimestamp()/toUnixTimestamp() on
    # non-temporal arguments at prepare time; Spark's lenient
    # to_date/cast would instead yield silent NULLs on e.g. a text
    # column. Check the actual DataFrame schema (the table's source of
    # truth here) and reject loudly - the file's contract.
    _temporal = (T.TimestampType, T.TimestampNTZType, T.DateType)
    for c in sel.columns:
        if c.fn in _TIME_FNS:
            field = next((f for f in df.schema.fields
                          if f.name == c.name), None)
            if field is None:
                raise CqlError(f"unknown column {c.name!r}")
            if not isinstance(field.dataType, _temporal):
                raise CqlError(
                    f"{c.fn}() requires a timestamp/date argument; "
                    f"{c.name!r} is {field.dataType.simpleString()}")
    out = df
    for col, op, val in sel.where:
        if col.startswith("token("):
            # ring predicate on the portable 60-bit token (a2b's hash)
            t = _token_col(meta["partition"])
            lit = F.lit(val)
            out = out.filter({"=": t == lit, "<": t < lit, "<=": t <= lit,
                              ">": t > lit, ">=": t >= lit}[op])
        else:
            out = out.filter(_pred_column(
                col, op, val,
                kind=meta.get("collections", {}).get(col)))

    aggregating = sel.group_by or any(c.fn in _AGG_FNS or _is_uda(c.fn)
                                      for c in sel.columns)
    # The branches below that need a distribution (a distinct, an
    # aggregate, a per-partition window, a sort without LIMIT) run in
    # the one partition of an input that already reads one split and
    # fits spark.sql.maxSinglePartitionBytes (localdata.single_split):
    # one Spark job, no exchange. Filter, projection and LIMIT reads,
    # and inputs of several splits, keep their plans.
    if ((sel.distinct or aggregating or sel.per_partition_limit is not None
         or (sel.order_by and sel.limit is None))
            and single_split(out)):
        out = out.coalesce(1)

    clus_order = [
        F.col(c).desc() if d == "DESC" else F.col(c).asc()
        for c, d in meta["clustering"]
    ]
    if sel.distinct:
        # one row per partition: dropDuplicates on the partition key
        # is a map-side-partial hash aggregate (never a global sort);
        # LIMIT pages distinct partitions in token order, exactly the
        # order a ring scan surfaces them.
        out = out.select(*[F.col(c.name) for c in sel.columns]).distinct()
        if sel.limit is not None:
            out = out.orderBy(
                _token_col(meta["partition"]).asc()).limit(sel.limit)
        out = out.select(
            *[F.col(c.name).alias(c.out_name) for c in sel.columns])
    elif aggregating:
        # one grouped (or global) aggregate; map-side partial combine,
        # group cardinality <= partition-key cardinality by the
        # pk-plus-prefix GROUP BY rule.
        loose = [c.name for c in sel.columns
                 if not c.fn and c.name not in sel.group_by]
        if loose:
            # Cassandra returns the FIRST ROW's value for a
            # non-aggregated column selected alongside aggregates -
            # storage-order-dependent, so a distributed engine cannot
            # reproduce it; fail loudly instead of guessing a row.
            raise CqlError(
                f"non-aggregated columns {loose} outside GROUP BY "
                "take first-row values in Cassandra (order-dependent); "
                "rejected")
        aggs = [_agg_expr(c) for c in sel.columns if c.fn]
        if sel.group_by:
            out = out.groupBy(*sel.group_by).agg(*aggs)
        else:
            out = out.agg(*aggs)
        # Plain grouped columns honor their AS alias exactly like the
        # non-aggregate branch (out_name == name when no alias given).
        out = out.select(*[
            F.col(c.out_name) if c.fn else F.col(c.name).alias(c.out_name)
            for c in sel.columns
        ])
    else:
        if sel.per_partition_limit is not None:
            w = Window.partitionBy(*meta["partition"]).orderBy(*clus_order)
            out = (
                out.withColumn("__cql_rn", F.row_number().over(w))
                .filter(F.col("__cql_rn") <= sel.per_partition_limit)
                .drop("__cql_rn")
            )
        if sel.ann:
            # ANN OF: score every (filtered) row with the index's
            # similarity function - Cassandra's similarity_* family,
            # all in [0, 1]: cosine -> (1+cos)/2, dot_product ->
            # (1+dot)/2, euclidean -> 1/(1+d^2) - and gather the
            # LIMIT page via TakeOrderedAndProject (the SAI per-node
            # top-k + coordinator merge, same shard-gather shape as
            # the ES knn twin). Ties break on the partition key so
            # the page is deterministic cross-engine; the RAW double
            # orders (identical sequential folds both engines).
            acol, qv = sel.ann
            simf = meta["vector_indexes"][acol]
            sim, vn = _vector_similarity(acol, qv, simf)
            if vn is not None:
                # A zero-norm row could never be SAI-indexed under
                # cosine; exclude it rather than emit a NaN score.
                out = out.filter(vn > 0)
            out = (
                out.withColumn("__cql_sim", sim)
                .orderBy(F.col("__cql_sim").desc(),
                         *[F.col(c).asc() for c in meta["partition"]])
                .limit(sel.limit)
                .drop("__cql_sim")
            )
        elif sel.order_by:
            # single-partition read (validated); order inside it
            order_exprs = [
                F.col(c).desc() if d == "DESC" else F.col(c).asc()
                for c, d in sel.order_by
            ]
            out = (out.orderBy(*order_exprs).limit(sel.limit)
                   if sel.limit is not None else out.orderBy(*order_exprs))
        elif sel.limit is not None:
            out = out.orderBy(_token_col(meta["partition"]).asc(),
                              *clus_order).limit(sel.limit)
        if [c.name for c in sel.columns] != ["*"]:
            def _proj(c: CqlCol):
                if c.fn in _SELECTOR_FNS:
                    return _selector_expr(c, df, now_us)
                if c.fn in _SIM_FNS:
                    # similarity_*(col, [v]) projection: rounded to
                    # 6 dp like every returned float; zero-norm rows
                    # read NULL under cosine (the row Cassandra's
                    # SAI could never have indexed).
                    s, vn = _vector_similarity(
                        c.name, c.vec, c.fn.split("_", 1)[1])
                    e = F.round(s, 6)
                    return (F.when(vn > 0, e) if vn is not None
                            else e).alias(c.out_name)
                if c.fn in _TIME_FNS:
                    # native time conversions; session TZ is pinned
                    # UTC (catalog.load_table), matching Cassandra's
                    # UTC-epoch semantics
                    src = F.col(c.name)
                    if c.fn == "todate":
                        return F.to_date(src).alias(c.out_name)
                    if c.fn == "totimestamp":
                        return src.cast("timestamp").alias(c.out_name)
                    return (F.unix_millis(src.cast("timestamp"))
                            .alias(c.out_name))
                if c.fn in _JSON_FNS:
                    field = next((f for f in df.schema.fields
                                  if f.name == c.name), None)
                    if field is None:
                        raise CqlError(f"unknown column {c.name!r}")
                    return _to_json_expr(
                        F.col(c.name), field.dataType).alias(c.out_name)
                if c.fn is not None and c.fn not in _AGG_FNS:
                    # scalar CREATE FUNCTION call: the DDL-compiled
                    # Catalyst expression over the argument columns
                    from cassandra_elasticsearch_sync_spark.sources \
                        import cql_functions
                    udf = cql_functions.lookup_function(c.fn)
                    if udf is None:
                        raise CqlError(
                            f"{c.fn!r} is an aggregate; aggregates "
                            "cannot appear in a plain select list")
                    cols = [F.col(a) for a in (c.args or [c.name])]
                    return udf.column(cols).alias(c.out_name)
                return F.col(c.name).alias(c.out_name)
            out = out.select(*[_proj(c) for c in sel.columns])
    if sel.json:
        # SELECT JSON: each row rendered as a JSON object in select
        # order - Cassandra's '[json]' column (SQL-safe name: json).
        # Cassandra emits NULL cells as explicit `"col": null` members,
        # so null fields are NOT dropped from the rendering.
        out = out.select(F.to_json(F.struct(*out.columns),
                                   {"ignoreNullFields": "false"})
                         .alias("json"))
    return out


# ---------------------------------------------------------------------------
# Registered, oracle-verified CQL queries (the user-facing proof)
# ---------------------------------------------------------------------------

from cassandra_elasticsearch_sync_spark.catalog import load_table  # noqa: E402
from cassandra_elasticsearch_sync_spark.registry import register  # noqa: E402
from cassandra_elasticsearch_sync_spark.localdata import (
    local_relation,
    single_split,
)


@register("a2i_cql_partition_slice", "A2", """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_custkey = 37
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
""", "CQL SELECT execution: `SELECT ... FROM orders WHERE o_custkey = "
     "37 AND o_orderdate >= '1995-01-01'` compiled by the CQL "
     "subset compiler - partition-key equality + clustering-key "
     "range, the single-partition slice read that is Cassandra's "
     "bread-and-butter query. The restriction validator accepts it "
     "WITHOUT ALLOW FILTERING (full partition key equality, range "
     "on the first clustering column = contiguous SSTable slice); "
     "both predicates push to the parquet scan.")
def a2i_cql_partition_slice(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(o, """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = 37 AND o_orderdate >= '1995-01-01 00:00:00'
    """)


@register("a2j_cql_filtering_toplimit", "A2", """
WITH f AS (
  SELECT * FROM orders WHERE o_totalprice > 400000
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey) AS rn
  FROM f
),
p AS (
  SELECT *, CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
                 AS BIGINT) AS token
  FROM r WHERE rn = 1
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM p ORDER BY token, o_orderdate DESC, o_orderkey LIMIT 20
""", "CQL `ALLOW FILTERING` + `PER PARTITION LIMIT 1` + `LIMIT 20` in "
     "one statement: a non-key predicate (legal only with ALLOW "
     "FILTERING - the validator enforces Cassandra's rule), then "
     "each partition's newest qualifying order, then the first 20 "
     "rows IN TOKEN ORDER - the order a full-ring CQL scan streams "
     "partitions, reproduced with the portable hash ring so the "
     "page is deterministic cross-engine. Plan: pushed filter -> "
     "partition-key window (partition-sized groups) -> "
     "TakeOrderedAndProject on (token, clustering); no global sort.")
def a2j_cql_filtering_toplimit(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(o, """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice > 400000
        PER PARTITION LIMIT 1 LIMIT 20 ALLOW FILTERING
    """)


@register("a2m_cql_group_by_aggregate", "A2+D1", """
SELECT l_orderkey, COUNT(*) AS n_items,
       CAST(SUM(l_quantity) AS DOUBLE) AS total_qty,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_orderkey
""", "CQL aggregates with GROUP BY: `SELECT l_orderkey, count(*), "
     "sum(l_quantity), max(l_extendedprice) FROM lineitem GROUP BY "
     "l_orderkey` - Cassandra's per-partition rollup. The validator "
     "enforces the real rule (GROUP BY must be the full partition key "
     "plus a clustering prefix; non-aggregated columns must be "
     "grouped), and the compiled plan is ONE map-side-partial grouped "
     "aggregate: because groups are partition keys, Cassandra "
     "aggregates each partition on one replica - the Spark twin gets "
     "the same locality from hash partitioning on the group key. "
     "Quantity sums are integer-valued doubles (exact at any "
     "accumulation order), so the hash check is sound.")
def a2m_cql_group_by_aggregate(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return cql_select(li, """
        SELECT l_orderkey, count(*) AS n_items,
               sum(l_quantity) AS total_qty,
               max(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_orderkey
    """)


@register("a2v_cql_select_distinct_partitions", "A2+B5", """
SELECT o_custkey FROM (
  SELECT DISTINCT o_custkey,
         CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS token
  FROM orders)
ORDER BY token LIMIT 20
""", "CQL `SELECT DISTINCT o_custkey FROM orders LIMIT 20`: the "
     "enumerate-partitions idiom (one row per partition, no data "
     "read beyond keys in real Cassandra). The validator enforces "
     "the real rules - DISTINCT may select only (and all of) the "
     "partition key, combines only with pk/token() restrictions, "
     "and rejects ORDER BY / PER PARTITION LIMIT / aggregates "
     "(negative cases in test_cql_query.py). LIMIT pages distinct "
     "partitions in portable-token-ring order, same as a ring scan; "
     "compiles to a map-side-partial distinct + top-k by token, "
     "never a global sort.")
def a2v_cql_select_distinct_partitions(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(
        o, "SELECT DISTINCT o_custkey FROM orders LIMIT 20")


@register("a2u_cql_group_by_clustering_prefix", "A2+D1", """
SELECT o_custkey, o_orderdate, COUNT(*) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_custkey, o_orderdate
""", "CQL GROUP BY on the partition key PLUS a clustering prefix - "
     "the second legal grouping shape (a2m covers partition-key-only; "
     "the differential suite proves every other shape rejects). In "
     "Cassandra this folds rows within each partition by clustering "
     "prefix on the owning replica; the Spark twin is the same "
     "single map-side-partial hash aggregate keyed (pk, clustering "
     "prefix). MAX avoids float-order effects; counts are exact.")
def a2u_cql_group_by_clustering_prefix(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(o, """
        SELECT o_custkey, o_orderdate, count(*) AS n_orders,
               max(o_totalprice) AS max_price
        FROM orders GROUP BY o_custkey, o_orderdate
    """)


@register("a2n_cql_order_by_reversed", "A2+F1", """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_custkey = 37
ORDER BY o_orderdate ASC, o_orderkey DESC
LIMIT 5
""", "CQL ORDER BY with the reversal rule: the table clusters "
     "(o_orderdate DESC, o_orderkey ASC), and CQL permits ORDER BY "
     "only in declared order or its FULL reversal - this query reads "
     "one partition oldest-first (the validator rejects mixed "
     "directions and any ORDER BY without partition-key equality, "
     "because only a single partition has a defined clustering "
     "order). Compiles to pushed pk filter -> TakeOrderedAndProject "
     "over the one partition's rows; Cassandra serves it as a "
     "reversed SSTable slice, same contract.")
def a2n_cql_order_by_reversed(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(o, """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = 37
        ORDER BY o_orderdate ASC, o_orderkey DESC
        LIMIT 5
    """)


@register("a2o_cql_token_ring_json_page", "A2+H6", """
WITH t AS (
  SELECT *, CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
                 AS BIGINT) AS token
  FROM orders
)
SELECT CAST(to_json(struct_pack(o_orderkey := o_orderkey,
                           o_custkey := o_custkey)) AS VARCHAR) AS json
FROM t
WHERE token > 288230376151711744
ORDER BY token, o_orderdate DESC, o_orderkey
LIMIT 25
""", "CQL `SELECT JSON` + token() ring paging: `WHERE "
     "token(o_custkey) > N LIMIT 25` resumes a full-ring scan from a "
     "token cursor (how every Cassandra bulk exporter pages), and "
     "SELECT JSON renders each row as Cassandra's '[json]' column. "
     "Token order uses the portable 60-bit ring hash (cross-engine "
     "exact, byte-identical JSON in both engines proves the rendering "
     "contract, not just the row set). Plan: scan -> hash projection "
     "-> TakeOrderedAndProject on (token, clustering); the token "
     "predicate makes the page start scan-prunable when the layout "
     "is token-range bucketed (a2b).")
def a2o_cql_token_ring_json_page(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(o, """
        SELECT JSON o_orderkey, o_custkey FROM orders
        WHERE token(o_custkey) > 288230376151711744
        LIMIT 25
    """)


def customer_profiles(spark, sf_dir: str) -> DataFrame:
    """The collection/UDT-bearing table's DataFrame twin, derived
    deterministically from `customer`: tags set<text> (market segment
    + nation tag), prefs map<text,int> ('theme' always, 'promo' for
    every 4th customer - so CONTAINS KEY is selective), address
    frozen<address> (city text, zip int)."""
    c = load_table(spark, sf_dir, "customer")
    has_promo = F.col("c_custkey") % 4 == 0
    theme = (F.col("c_custkey") % 3).cast("int")
    return c.select(
        F.col("c_custkey").alias("cust_id"),
        F.array(
            F.col("c_mktsegment"),
            F.concat(F.lit("N"), F.col("c_nationkey").cast("string")),
        ).alias("tags"),
        F.when(has_promo, F.create_map(
            F.lit("theme"), theme, F.lit("promo"), F.lit(1).cast("int")))
         .otherwise(F.create_map(F.lit("theme"), theme))
         .alias("prefs"),
        F.struct(
            F.concat(F.lit("city_"), F.col("c_nationkey").cast("string"))
             .alias("city"),
            ((F.col("c_custkey") * 37) % 100000).cast("int").alias("zip"),
        ).alias("address"),
    )


@register("a2p_cql_contains", "A2", """
SELECT c_custkey AS cust_id
FROM customer
WHERE c_mktsegment = 'BUILDING'     -- tags CONTAINS 'BUILDING'
  AND c_custkey % 4 = 0             -- prefs CONTAINS KEY 'promo'
  AND c_custkey % 3 = 2             -- prefs CONTAINS 2 (theme value)
""", "CQL collection restrictions: `tags CONTAINS 'BUILDING' AND "
     "prefs CONTAINS KEY 'promo' AND prefs CONTAINS 2 ALLOW "
     "FILTERING` over set<text> and map<text,int> columns. The "
     "validator enforces Cassandra's exact rules (CONTAINS only on "
     "collections, CONTAINS KEY only on maps, ALLOW FILTERING "
     "required without an index - all differential-tested), and the "
     "compiled plan is array_contains / map_keys / map_values "
     "filters - JVM-side, no UDF. The oracle derives the same "
     "selection from the generating rules, so the hash check proves "
     "containment semantics end-to-end.")
def a2p_cql_contains(spark, sf_dir):
    p = customer_profiles(spark, sf_dir)
    return cql_select(p, """
        SELECT cust_id FROM customer_profiles
        WHERE tags CONTAINS 'BUILDING'
          AND prefs CONTAINS KEY 'promo'
          AND prefs CONTAINS 2
        ALLOW FILTERING
    """)


@register("a2q_cql_udt_fields", "A2+B4", """
SELECT c_custkey AS cust_id,
       'city_' || CAST(c_nationkey AS VARCHAR) AS city,
       CAST((c_custkey * 37) % 100000 AS INT) AS zip
FROM customer
""", "Frozen-UDT field access in the CQL select list: `SELECT "
     "cust_id, address.city AS city, address.zip AS zip` over a "
     "frozen<address> column - compiled to struct field extraction "
     "(no UDF, prunes to the two fields at the scan). The validator "
     "checks the UDT is declared and the fields exist; unknown "
     "fields and field access on non-UDT columns raise the "
     "Cassandra error (tests/test_cql_query.py).")
def a2q_cql_udt_fields(spark, sf_dir):
    p = customer_profiles(spark, sf_dir)
    return cql_select(p, """
        SELECT cust_id, address.city AS city, address.zip AS zip
        FROM customer_profiles
    """)


@register("a2s_cql_indexed_lookup", "A2", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderpriority = '1-URGENT'
""", "CQL secondary-index lookup: an equality on the indexed "
     "o_orderpriority column is valid WITHOUT ALLOW FILTERING (the "
     "index serves it), while a range on the same column, a second "
     "non-key predicate, or an unindexed column still demand ALLOW "
     "FILTERING - Cassandra's exact fallback rule, enforced by the "
     "validator and unit-tested. The compiled plan is the same pushed "
     "filter either way; the semantic content is the RULE, which "
     "decides what a migrating user's queries are even allowed to say.")
def a2s_cql_indexed_lookup(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(o, """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderpriority = '1-URGENT'
    """)


@register("a2x_cql_pk_in_multi_partition", "A2", """
WITH hit AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS part_token
  FROM orders
  WHERE o_custkey IN (5, 37, 101, 444)
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
)
SELECT o_orderkey, o_custkey, o_totalprice, part_token FROM hit
""", "CQL multi-partition IN read: `WHERE o_custkey IN (...)` names "
     "several partitions in one statement - the coordinator fans out "
     "one single-partition read per listed key and concatenates them "
     "in TOKEN order (the ring order; the part_token column exposes "
     "it). IN sits in Cassandra's equality class, so it combines "
     "with a clustering-column slice without ALLOW FILTERING - the "
     "validator accepts exactly that and the compiled plan is an "
     "isin + range filter pushed to the scan (at cluster scale: K "
     "partition-key lookups, never a table scan). The rejection "
     "side - token() IN, IN on an unindexed non-key column, IN on a "
     "collection - is pinned in tests/test_cql_query.py.")
def a2x_cql_pk_in_multi_partition(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = cql_select(o, """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey IN (5, 37, 101, 444)
          AND o_orderdate >= '1995-01-01 00:00:00'
    """)
    return out.withColumn(
        "part_token", _token_col(["o_custkey"]))


@register("a2y_cql_ann_vector_search", "A2+K3", """
WITH e AS (
  SELECT vec_id, label, embedding,
         SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               FROM (SELECT UNNEST(embedding) x, UNNEST(embedding) y)))
           AS nrm
  FROM embeddings
),
qv AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 100),
s AS (
  SELECT e.vec_id, e.label,
         (1 + (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
              / (qn * e.nrm)) / 2 AS sim
  FROM e, qv
)
SELECT vec_id, label FROM s ORDER BY sim DESC, vec_id LIMIT 12
""", "Cassandra 5.0 ANN vector search: `SELECT vec_id, label FROM "
     "embeddings ORDER BY embedding ANN OF [...] LIMIT 12` parsed by "
     "the CQL compiler itself - the text form, not a Python helper - "
     "with Cassandra's own rules enforced (vector SAI index required "
     "on the ordered column, LIMIT mandatory and capped at 1000, no "
     "mixing with clustering ORDER BY / GROUP BY / DISTINCT / PER "
     "PARTITION LIMIT). Scoring is the index's similarity function "
     "(cosine here, Cassandra's [0,1] form (1+cos)/2), the page is "
     "one TakeOrderedAndProject - the SAI per-node top-k + "
     "coordinator merge, the CQL twin of the ES knn section (a3as). "
     "The query vector is the stored vec 100, so the oracle "
     "re-derives identical bytes.")
def a2y_cql_ann_vector_search(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 100).select("embedding").head()
    if row is None:
        return local_relation(spark, [], "vec_id long, label int")
    vec_lit = ", ".join(repr(float(x)) for x in row[0])
    return cql_select(e, f"""
        SELECT vec_id, label FROM embeddings
        ORDER BY embedding ANN OF [{vec_lit}] LIMIT 12
    """)


@register("a2z_cql_similarity_functions", "A2+K3", """
WITH e AS (
  SELECT vec_id, embedding,
         SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               FROM (SELECT UNNEST(embedding) x, UNNEST(embedding) y)))
           AS nrm
  FROM embeddings
),
qv AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 100),
s AS (
  SELECT e.vec_id,
         (1 + (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
              / (qn * e.nrm)) / 2 AS sim
  FROM e, qv
)
SELECT vec_id, ROUND(sim, 6) AS sim
FROM s ORDER BY sim DESC, vec_id LIMIT 12
""", "Cassandra 5.0 scalar vector functions in the SELECT list: "
     "`SELECT vec_id, similarity_cosine(embedding, [...]) AS sim "
     "... ORDER BY embedding ANN OF [...] LIMIT 12` - the ANN page "
     "that also SHOWS its scores, the exact shape Cassandra's vector "
     "docs demo. Parsed from statement text (bracket-aware select-"
     "list split so the vector literal's commas don't break "
     "parsing), validated per Cassandra (vector column required; no "
     "GROUP BY/DISTINCT/aggregate mixing), scored with the same "
     "[0,1] similarity math as the ANN ordering (one shared "
     "expression builder - projection and ordering can never "
     "disagree). Zero-norm rows read NULL under cosine; a zero "
     "query vector raises.")
def a2z_cql_similarity_functions(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 100).select("embedding").head()
    if row is None:
        return local_relation(spark, [], "vec_id long, sim double")
    vec_lit = ", ".join(repr(float(x)) for x in row[0])
    return cql_select(e, f"""
        SELECT vec_id, similarity_cosine(embedding, [{vec_lit}]) AS sim
        FROM embeddings
        ORDER BY embedding ANN OF [{vec_lit}] LIMIT 12
    """)


@register("a2aa_cql_sasi_like", "A2+H1", """
SELECT doc_id, lang, n_chars
FROM documents
WHERE text LIKE '%vector hash%'
""", "CQL LIKE over a SASI index (mode CONTAINS): `WHERE text LIKE "
     "'%vector hash%'` is served by the index - Cassandra rejects "
     "LIKE outright on non-SASI columns (even ALLOW FILTERING does "
     "not rescue it), a PREFIX-mode index serves only 'x%' shapes, "
     "and '_' is a LITERAL in Cassandra's LIKE (unlike SQL), which "
     "is why the compiler lowers the three validated shapes to "
     "startswith/endswith/contains instead of SQL LIKE. The "
     "substring predicate is one scan (the SASI index would prune "
     "server-side; Spark's analog is the pushed string filter).")
def a2aa_cql_sasi_like(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return cql_select(d, """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE text LIKE '%vector hash%'
    """)


@register("a2ah_cql_time_functions", "A2+H2", """
SELECT event_id, CAST(ts AS DATE) AS day,
       CAST(epoch_ms(ts) AS BIGINT) AS ms
FROM events WHERE user_id = 11
""", "Native CQL time-conversion functions: `SELECT event_id, "
     "toDate(ts) AS day, toUnixTimestamp(ts) AS ms FROM events WHERE "
     "user_id = 11` - the time-slicing projections every Cassandra "
     "time-series reader uses. toDate -> UTC date, toUnixTimestamp "
     "-> epoch MILLISECONDS (Cassandra's unit, not seconds); both "
     "compile to plain Catalyst conversions on the single-partition "
     "slice read (partition-key equality pushes to the scan, no "
     "ALLOW FILTERING needed). Combining them with GROUP BY / "
     "aggregates is rejected loudly in this subset.")
def a2ah_cql_time_functions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return cql_select(
        ev,
        "SELECT event_id, toDate(ts) AS day, toUnixTimestamp(ts) AS ms "
        "FROM events WHERE user_id = 11")


@register("a2ak_cql_json_functions", "A2+H6", """
SELECT o_orderkey,
       CAST(to_json(o_totalprice) AS VARCHAR) AS price_json,
       '"' || STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.000Z"'
         AS date_json,
       CAST(to_json(o_orderstatus) AS VARCHAR) AS status_json,
       CAST(to_json(o_orderpriority) AS VARCHAR) AS priority_json
FROM orders WHERE o_custkey = 37
""", "Native CQL JSON functions: `SELECT o_orderkey, "
     "toJson(o_totalprice), toJson(o_orderdate), toJson(o_orderstatus), "
     "toJson(o_orderpriority) FROM orders WHERE o_custkey = 37` - "
     "per-cell "
     "JSON encoding under Cassandra's rules: doubles plain, text as "
     "escaped JSON strings (Spark's engine-grade JSON writer via a "
     "struct wrap/strip, DuckDB's to_json on the oracle side - two "
     "independent encoders must agree byte-for-byte for the hash to "
     "pass), and timestamps in Cassandra's space-separated UTC form "
     "with milliseconds (NOT ISO-8601 'T' - the documented Cassandra "
     "spelling). Partition-key equality pushes to the scan. The "
     "inverse fromJson('...') decodes in any VALUE position "
     "(INSERT/UPDATE/WHERE/LWT conditions) via _parse_literal; "
     "toJson with GROUP BY/aggregates is rejected loudly.")
def a2ak_cql_json_functions(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return cql_select(
        o,
        "SELECT o_orderkey, toJson(o_totalprice) AS price_json, "
        "toJson(o_orderdate) AS date_json, "
        "toJson(o_orderstatus) AS status_json, "
        "toJson(o_orderpriority) AS priority_json "
        "FROM orders WHERE o_custkey = 37")
