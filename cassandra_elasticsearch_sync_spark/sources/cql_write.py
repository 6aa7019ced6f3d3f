"""CQL WRITE path: INSERT / UPDATE / DELETE / BEGIN BATCH compiled
onto the ACID table format.

The reference's Cassandra side is written with CQL DML; this module is
that surface over the engine's own transactional store: a client batch
of statements parses to per-key cell mutations, folds client-side
(statement order - the sequential-client model; Cassandra's
same-timestamp tombstone tie-break is a noted difference), and applies
as ONE atomic ``merge_into`` commit with cell-level assignments - so a
logged BATCH is atomic exactly like Cassandra's, and a crash between
statements cannot publish half a batch.

Cassandra's write semantics kept here:
  * INSERT and UPDATE are both UPSERTS - UPDATE on a missing key
    creates the row, with unwritten cells NULL;
  * writes are CELL-level: an UPDATE that sets only ``price`` leaves
    the row's other cells untouched (compiled through merge
    ``assignments``: written cells take the source value, unwritten
    cells keep the target's);
  * ``IF NOT EXISTS`` / ``IF EXISTS`` (the LWT guards): a conditional
    insert on an existing key and a conditional update/delete on a
    missing key are no-ops;
  * column-condition LWT (``UPDATE ... IF price > 5.0``, ``DELETE ...
    IF tag != 'x'``, with =/!=/</<=/>/>= and IN): conditions evaluate
    against the PRE-batch state via a bounded point-lookup read
    (Cassandra's Paxos read-before-write) and the batch applies
    all-or-nothing - one failing condition and nothing lands, exactly
    the coordinator's [applied]=false path. A conditional batch must
    stay in one partition and cannot carry USING TIMESTAMP - both of
    Cassandra's own rules, both rejected loudly;
  * the WHERE clause of UPDATE/DELETE must equality-restrict the FULL
    primary key (Cassandra's write rule - no predicate writes).

The client batch is bounded by construction (it is what one client
sends); the fold is O(batch), and the single merge that applies it is
the same CoW file-pruned commit every other write takes.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_elasticsearch_sync_spark.localdata import local_relation
from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable
from cassandra_elasticsearch_sync_spark.sources.cql_query import (
    CqlError,
    _parse_literal,
)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*\((?P<cols>[\w,\s]+)\)\s*"
    r"VALUES\s*\((?P<vals>.+?)\)\s*(?P<ine>IF\s+NOT\s+EXISTS)?\s*"
    r"(?:USING\s+(?P<using>[^;]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_JSON_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s+JSON\s+"
    r"'(?P<json>(?:[^']|'')*)'\s*"
    r"(?:DEFAULT\s+(?P<dflt>NULL|UNSET))?\s*"
    r"(?P<ine>IF\s+NOT\s+EXISTS)?\s*"
    r"(?:USING\s+(?P<using>[^;]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)\s+"
    r"(?:USING\s+(?P<using>.+?)\s+)?SET\s+(?P<sets>.+?)\s+"
    r"WHERE\s+(?P<where>.+?)(?:\s+IF\s+(?P<if_>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_using(clause: str | None) -> tuple[int | None, int | None]:
    """``USING TTL n [AND TIMESTAMP m]`` -> (ttl_s, timestamp_us)."""
    if not clause:
        return (None, None)
    ttl = ts = None
    for part in re.split(r"\s+AND\s+", clause.strip(), flags=re.IGNORECASE):
        m = re.match(r"^\s*TTL\s+(\d+)\s*$", part, re.IGNORECASE)
        if m:
            ttl = int(m.group(1))
            continue
        m = re.match(r"^\s*TIMESTAMP\s+(\d+)\s*$", part, re.IGNORECASE)
        if m:
            ts = int(m.group(1))
            continue
        raise CqlError(f"unsupported USING option: {part!r}")
    return (ttl, ts)
_DELETE_RE = re.compile(
    # optional column list = Cassandra's CELL delete
    # (DELETE price, tags FROM t WHERE ...); absent = row delete
    r"^\s*DELETE\s+(?:(?P<cols>[A-Za-z_][\w]*(?:\s*,\s*\w+)*)\s+)?"
    r"FROM\s+(?P<table>\w+)\s+WHERE\s+(?P<where>.+?)"
    r"(?:\s+IF\s+(?P<if_>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_BATCH_RE = re.compile(
    r"^\s*BEGIN\s+BATCH\s+(?P<body>.+?)\s*APPLY\s+BATCH\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass(frozen=True)
class CollMut:
    """One CQL collection mutation: ``tags = tags + {'x'}`` (add),
    ``tags = tags - {'x'}`` (discard - element removal on sets, KEY
    removal on maps, exactly Cassandra's overload), ``items = items -
    [x]`` (discard_list - LIST element removal: every occurrence of
    each operand element goes, survivor ORDER PRESERVED - Cassandra's
    list-minus never reorders or dedupes), ``items = items + [x]``
    (append), ``items = [x] + items`` (prepend), ``prefs['k'] = v`` /
    ``prefs = prefs + {k: v}`` (put). The operand ships as a typed src
    column; the merge assignment applies it cell-level against the
    target's current value. Sets are kept CANONICALLY SORTED on every
    write (Cassandra stores sets sorted)."""

    # 'add' | 'discard' | 'discard_list' | 'append' | 'prepend' |
    # 'put' | 'incr' (counter delta; values is the signed int) |
    # 'replace' (whole-collection assignment; applied as the literal)
    op: str
    values: object  # list of scalars, dict for map operands, int for incr


def _split_top(s: str) -> list[str]:
    """Split on top-level commas only (collection literals inside a
    SET list carry their own commas)."""
    items, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        items.append("".join(cur))
    return items


_MAP_ENTRY_RE = re.compile(r"^\s*(?P<k>'[^']*'|-?\d+)\s*:\s*(?P<v>.+)$",
                           re.DOTALL)


def _parse_coll_literal(raw: str):
    """``{'a','b'}`` -> list (set literal), ``{'k': 1}`` -> dict,
    ``[1, 2]`` -> list."""
    raw = raw.strip()
    body = raw[1:-1].strip()
    items = [p for p in (x.strip() for x in _split_top(body)) if p]
    entries = [_MAP_ENTRY_RE.match(i) for i in items]
    if raw.startswith("{") and items and all(entries):
        return {_parse_literal(m.group("k")): _parse_literal(m.group("v"))
                for m in entries}
    return [_parse_literal(i) for i in items]


_MAP_PUT_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*\[\s*(?P<key>'[^']*'|\d+)\s*\]\s*=\s*"
    r"(?P<val>.+?)\s*$", re.DOTALL)
_COLL_PM_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*=\s*(?P<col2>\w+)\s*(?P<op>[+-])\s*"
    r"(?P<lit>\{.*\}|\[.*\])\s*$", re.DOTALL)
_COLL_PREPEND_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*=\s*(?P<lit>\[.*\])\s*\+\s*(?P<col2>\w+)\s*$",
    re.DOTALL)
_COLL_SET_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*=\s*(?P<lit>\{.*\}|\[.*\])\s*$", re.DOTALL)
_COUNTER_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*=\s*(?P<col2>\w+)\s*(?P<op>[+-])\s*"
    r"(?P<n>\d+)\s*$")


def _parse_set_item(part: str) -> tuple[str, object]:
    """One SET-list item -> (column, plain literal | CollMut)."""
    m = _MAP_PUT_RE.match(part)
    if m and "[" in part.split("=")[0]:
        return m.group("col"), CollMut(
            "put", {_parse_literal(m.group("key")):
                    _parse_literal(m.group("val"))})
    m = _COLL_PM_RE.match(part)
    if m:
        if m.group("col") != m.group("col2"):
            raise CqlError(
                f"collection op must reference the same column: {part!r}")
        lit = _parse_coll_literal(m.group("lit"))
        if m.group("op") == "-":
            if isinstance(lit, dict):
                raise CqlError(
                    "removal takes a SET of elements/keys, not a map "
                    f"(Cassandra's rule): {part!r}")
            # Bracket operand = Cassandra's LIST minus: remove every
            # occurrence, PRESERVE survivor order (no sort, no dedup).
            # Brace operand = set/map discard (canonical-sort apply).
            if m.group("lit").lstrip().startswith("["):
                return m.group("col"), CollMut("discard_list", lit)
            return m.group("col"), CollMut("discard", lit)
        if isinstance(lit, dict):
            return m.group("col"), CollMut("put", lit)
        op = "append" if m.group("lit").lstrip().startswith("[") else "add"
        return m.group("col"), CollMut(op, lit)
    m = _COUNTER_RE.match(part)
    if m:
        if m.group("col") != m.group("col2"):
            raise CqlError(
                f"counter op must reference the same column: {part!r}")
        delta = int(m.group("n"))
        if m.group("op") == "-":
            delta = -delta
        return m.group("col"), CollMut("incr", delta)
    m = _COLL_PREPEND_RE.match(part)
    if m:
        if m.group("col") != m.group("col2"):
            raise CqlError(
                f"collection op must reference the same column: {part!r}")
        return m.group("col"), CollMut(
            "prepend", _parse_coll_literal(m.group("lit")))
    m = _COLL_SET_RE.match(part)
    if m:
        return m.group("col"), CollMut("replace",
                                       _parse_coll_literal(m.group("lit")))
    sm = re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", part, re.DOTALL)
    if not sm:
        raise CqlError(f"unparseable SET item: {part!r}")
    return sm.group(1), _parse_literal(sm.group(2))


@dataclass
class CqlWrite:
    kind: str                   # 'W' (insert/update upsert) or 'D'
    table: str
    key: tuple                  # full primary key values, declared order
    sets: dict = field(default_factory=dict)
    condition: str | None = None  # None | 'exists' | 'not_exists'
    ttl_s: int | None = None        # USING TTL
    ts_us: int | None = None        # USING TIMESTAMP (client-supplied)
    # INSERT JSON only: 'null' (Cassandra's default - omitted value
    # columns are written as NULL) or 'unset' (omitted columns left
    # untouched). None for every non-JSON statement form.
    json_default: str | None = None
    # Column-condition LWT (``IF price > 5.0 AND tag != 'x'``):
    # tuple of (column, op, literal) triples; op in
    # {'=', '!=', '<', '<=', '>', '>=', 'in'}. Empty = unconditional.
    if_conds: tuple = ()


_IF_COND_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*(?P<op>=|!=|<=|>=|<|>|\bIN\b)\s*(?P<val>.+?)\s*$",
    re.IGNORECASE)


def _parse_if_conds(raw: str) -> tuple:
    """``IF col op literal [AND ...]`` -> ((col, op, value), ...).

    Cassandra's LWT column conditions (CQL spec, `UPDATE ... IF`):
    =, !=, <, <=, >, >= against a literal, and ``IN (a, b, ...)``.
    ``IF EXISTS`` / ``IF NOT EXISTS`` are handled by the caller before
    this parser runs; mixing them with column conditions is rejected
    there (Cassandra's grammar does not allow the mix either)."""
    conds = []
    for part in re.split(r"\s+AND\s+", raw, flags=re.IGNORECASE):
        m = _IF_COND_RE.match(part)
        if not m:
            raise CqlError(f"unsupported LWT condition: {part!r}")
        col = m.group("col").lower()
        op = m.group("op").lower()
        rawv = m.group("val")
        if op == "in":
            lit = _parse_literal(rawv)
            if not isinstance(lit, list):
                raise CqlError(
                    f"IN condition on {col!r} needs a parenthesized "
                    f"list, got {rawv!r}")
        elif rawv.strip().lower() == "null":
            # `IF col = null` / `IF col != null` - Cassandra's unset
            # test (valid CQL; _parse_literal has no null form because
            # no other statement position accepts one)
            lit = None
        else:
            lit = _parse_literal(rawv)
        conds.append((col, op, lit))
    return tuple(conds)


def _classify_if(raw: str | None, key_cols: list[str]) -> tuple:
    """The IF clause of an UPDATE/DELETE -> (guard, if_conds).

    ``IF EXISTS`` / ``IF NOT EXISTS`` map to the existence guards;
    anything else parses as column conditions. Conditions on primary
    key columns are rejected (Cassandra: "PRIMARY KEY column ... cannot
    have IF conditions")."""
    if raw is None:
        return (None, ())
    word = raw.strip().lower()
    if word == "exists":
        return ("exists", ())
    if re.fullmatch(r"not\s+exists", word):
        return ("not_exists", ())
    conds = _parse_if_conds(raw)
    for col, _, _ in conds:
        if col in key_cols:
            raise CqlError(
                f"PRIMARY KEY column {col!r} cannot have IF conditions")
    return (None, conds)


def _parse_where_key(where: str, key_cols: list[str], table: str) -> tuple:
    """WHERE of a write must equality-restrict the FULL primary key."""
    bound: dict[str, object] = {}
    for part in re.split(r"\s+AND\s+", where, flags=re.IGNORECASE):
        m = re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", part)
        if not m:
            raise CqlError(f"write WHERE supports only `pk = literal`: {part!r}")
        bound[m.group(1)] = _parse_literal(m.group(2))
    if sorted(bound) != sorted(key_cols):
        raise CqlError(
            f"{table}: write WHERE must equality-restrict the full "
            f"primary key {key_cols}, got {sorted(bound)}")
    return tuple(bound[c] for c in key_cols)


def parse_cql_dml(stmt: str, key_cols: list[str]) -> list[CqlWrite]:
    """One INSERT/UPDATE/DELETE, or a BEGIN BATCH of them."""
    b = _BATCH_RE.match(stmt)
    if b:
        out: list[CqlWrite] = []
        for part in b.group("body").split(";"):
            if part.strip():
                out.extend(parse_cql_dml(part, key_cols))
        return out
    m = _INSERT_JSON_RE.match(stmt)
    if m:
        # INSERT INTO t JSON '<object>' [DEFAULT NULL|UNSET]
        # [IF NOT EXISTS] [USING ...] - Cassandra's JSON statement
        # form. The payload is one JSON object mapping column names to
        # values; '' doubles a single quote inside the CQL string
        # literal. DEFAULT NULL (Cassandra's default) writes omitted
        # value columns as NULL; DEFAULT UNSET leaves them untouched
        # (expansion happens at apply time, where the schema is known).
        import json as _json

        raw = m.group("json").replace("''", "'")
        try:
            obj = _json.loads(raw)
        except ValueError as e:
            raise CqlError(f"INSERT JSON payload is not valid JSON: {e}")
        if not isinstance(obj, dict):
            raise CqlError("INSERT JSON payload must be a JSON object, "
                           f"got {type(obj).__name__}")
        sets = dict(obj)
        missing = [k for k in key_cols if k not in sets]
        if missing:
            raise CqlError(f"INSERT JSON must supply the full primary "
                           f"key; missing {missing}")
        key = tuple(sets.pop(k) for k in key_cols)
        ttl, ts = _parse_using(m.group("using"))
        if ts is not None and m.group("ine"):
            raise CqlError(
                "cannot combine IF NOT EXISTS with USING TIMESTAMP "
                "(Cassandra's own rule: LWT writes own their timestamps)")
        return [CqlWrite("W", m.group("table").lower(), key, sets,
                         "not_exists" if m.group("ine") else None,
                         ttl_s=ttl, ts_us=ts,
                         json_default=(m.group("dflt") or "NULL").lower())]
    m = _INSERT_RE.match(stmt)
    if m:
        cols = [c.strip() for c in m.group("cols").split(",")]
        vals = _parse_literal(f"({m.group('vals')})")
        if not isinstance(vals, list) or len(vals) != len(cols):
            raise CqlError(f"INSERT arity mismatch in {stmt!r}")
        sets = dict(zip(cols, vals))
        missing = [k for k in key_cols if k not in sets]
        if missing:
            raise CqlError(f"INSERT must supply the full primary key; "
                           f"missing {missing}")
        key = tuple(sets.pop(k) for k in key_cols)
        ttl, ts = _parse_using(m.group("using"))
        if ts is not None and m.group("ine"):
            raise CqlError(
                "cannot combine IF NOT EXISTS with USING TIMESTAMP "
                "(Cassandra's own rule: LWT writes own their timestamps)")
        return [CqlWrite("W", m.group("table").lower(), key, sets,
                         "not_exists" if m.group("ine") else None,
                         ttl_s=ttl, ts_us=ts)]
    m = _UPDATE_RE.match(stmt)
    if m:
        sets: dict[str, object] = {}
        for part in _split_top(m.group("sets")):
            col, val = _parse_set_item(part)
            if col in key_cols:
                raise CqlError(f"cannot SET primary key column {col!r}")
            sets[col] = val
        key = _parse_where_key(m.group("where"), key_cols, m.group("table"))
        ttl, ts = _parse_using(m.group("using"))
        guard, conds = _classify_if(m.group("if_"), key_cols)
        if ts is not None and (guard or conds):
            raise CqlError(
                "cannot combine IF with USING TIMESTAMP "
                "(Cassandra's own rule: LWT writes own their timestamps)")
        if guard == "not_exists":
            raise CqlError("UPDATE supports IF EXISTS, not IF NOT EXISTS")
        return [CqlWrite("W", m.group("table").lower(), key, sets,
                         guard, ttl_s=ttl, ts_us=ts, if_conds=conds)]
    m = _DELETE_RE.match(stmt)
    if m:
        key = _parse_where_key(m.group("where"), key_cols, m.group("table"))
        guard, conds = _classify_if(m.group("if_"), key_cols)
        if guard == "not_exists":
            raise CqlError("DELETE supports IF EXISTS, not IF NOT EXISTS")
        if m.group("cols"):
            # CELL delete (DELETE price, tags FROM ...): the listed
            # cells null out; the row's OTHER cells survive. Lowered
            # to a null-cell write GUARDED ON ROW EXISTENCE - in
            # Cassandra a pure cell tombstone never makes a missing
            # row visible, whereas an unguarded upsert-write of nulls
            # would (the same reason UPDATE creates rows but DELETE
            # col does not). Primary key columns cannot be deleted,
            # Cassandra's rule.
            names = [c.strip().lower()
                     for c in m.group("cols").split(",") if c.strip()]
            for c in names:
                if c in key_cols:
                    raise CqlError(
                        f"cannot delete primary key column {c!r}")
            return [CqlWrite("W", m.group("table").lower(), key,
                             {c: None for c in names}, "exists",
                             if_conds=conds)]
        return [CqlWrite("D", m.group("table").lower(), key, {},
                         guard, if_conds=conds)]
    raise CqlError(f"unsupported CQL DML statement: {stmt!r}")


def _fold(writes: list[CqlWrite]) -> list[CqlWrite]:
    """Client-side fold in statement order: per key, a later DELETE
    clears earlier cells; a write after a DELETE starts a fresh row;
    consecutive writes merge cell-wise; the last conditional
    statement's guard is kept."""
    by_key: dict[tuple, CqlWrite] = {}
    for w in writes:
        cur = by_key.get(w.key)
        if w.kind == "D" or cur is None or cur.kind == "D":
            by_key[w.key] = CqlWrite(w.kind, w.table, w.key, dict(w.sets),
                                     w.condition, ttl_s=w.ttl_s,
                                     ts_us=w.ts_us)
        else:
            merged = dict(cur.sets)
            for col, v in w.sets.items():
                # Two writes touching the same COLLECTION cell in one
                # client batch fold ambiguously (Cassandra's own
                # same-timestamp batch semantics are murky there) -
                # fail loudly instead of silently dropping a mutation.
                prev = merged.get(col)
                if (isinstance(v, CollMut) and v.op == "incr"
                        and isinstance(prev, CollMut) and prev.op == "incr"):
                    # counter increments COMPOSE in a batch - Cassandra
                    # folds them additively before the write lands
                    merged[col] = CollMut("incr", prev.values + v.values)
                    continue
                if col in merged and (isinstance(v, CollMut)
                                      or isinstance(merged[col], CollMut)):
                    ops = {x.op for x in (v, merged.get(col))
                           if isinstance(x, CollMut)}
                    if "incr" in ops:
                        raise CqlError(
                            f"counter and non-counter writes to column "
                            f"{col!r} for one key in a single batch; "
                            "send them in separate batches")
                    raise CqlError(
                        f"two statements mutate collection column "
                        f"{col!r} for one key in a single batch; send "
                        "them in separate batches")
                merged[col] = v
            by_key[w.key] = CqlWrite("W", w.table, w.key, merged,
                                     w.condition or cur.condition,
                                     ttl_s=w.ttl_s if w.ttl_s is not None
                                     else cur.ttl_s,
                                     ts_us=w.ts_us if w.ts_us is not None
                                     else cur.ts_us)
    return list(by_key.values())


def _coerce(v, dtype: T.DataType):
    if v is None:
        return None
    if isinstance(v, str) and isinstance(
            dtype, (T.TimestampType, T.TimestampNTZType)):
        return dt.datetime.fromisoformat(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        return int(v)
    return v


def _cond_holds(row: dict | None, conds: tuple, types: dict) -> bool:
    """Evaluate one statement's LWT column conditions against the
    stored row (Cassandra: a condition on a MISSING row fails - the
    response is ``[applied] = false`` and the write does not create
    the row, unlike an unconditional upsert). NULL cells: ``= null``
    holds when the cell is unset, ``!= null`` when it is set, and the
    ordering operators never hold against null on either side."""
    if row is None:
        return False
    for col, op, lit in conds:
        cell = row.get(col)
        if op == "in":
            want = [_coerce(x, types[col]) for x in lit]
            ok = any((cell == x) if x is not None else cell is None
                     for x in want)
        else:
            want = _coerce(lit, types[col])
            if op == "=":
                ok = (cell == want) if want is not None else cell is None
            elif op == "!=":
                ok = (cell != want) if want is not None else cell is not None
            elif cell is None or want is None:
                ok = False
            elif op == "<":
                ok = cell < want
            elif op == "<=":
                ok = cell <= want
            elif op == ">":
                ok = cell > want
            else:
                ok = cell >= want
        if not ok:
            return False
    return True


def apply_cql_writes(table: AcidParquetTable, key_cols: list[str],
                     stmts: list[str] | str,
                     now_us: int | None = None,
                     parsed: list[CqlWrite] | None = None) -> int:
    """Parse, fold, and apply CQL DML as ONE atomic merge commit.

    When the table carries ``writetime_us``/``ttl_s`` columns (the
    Cassandra cell-metadata model a2e's expiry scan reads), writes
    honor ``USING TIMESTAMP``/``USING TTL``: every written cell is
    stamped with the statement's timestamp (else ``now_us`` - a
    caller-supplied clock, never wall time), and a write whose
    timestamp is LOWER than the stored writetime is IGNORED -
    Cassandra's timestamp-based last-write-wins, which makes
    out-of-order redelivery safe. Granularity note: writetime is
    tracked per ROW here (one timestamp column); real Cassandra
    tracks it per cell - the restriction is documented, the
    resolution rule is the real one."""
    if isinstance(stmts, str):
        stmts = [stmts]
    # ``parsed`` lets a caller that routes statements itself (the
    # static-column table splits one statement across two stores)
    # hand over ready CqlWrite cells without re-rendering CQL text.
    writes: list[CqlWrite] = list(parsed or [])
    for s in stmts:
        writes.extend(parse_cql_dml(s, key_cols))
    if not writes:
        return table.current_version()

    schema = table.read().schema
    types = {f.name: f.dataType for f in schema.fields}
    with_meta = "writetime_us" in types and "ttl_s" in types
    meta_cols = {"writetime_us", "ttl_s"} if with_meta else set()
    value_cols = [c for c in schema.names
                  if c not in key_cols and c not in meta_cols]
    # INSERT JSON DEFAULT NULL (Cassandra's default): omitted value
    # columns become explicit NULL writes - expanded here, where the
    # schema is known, BEFORE the fold so statement-order semantics
    # (a later UPDATE restoring a cell, etc.) stay exact.
    for w in writes:
        unknown = [c for c in w.sets if c not in value_cols]
        if w.json_default is not None and unknown:
            raise CqlError(f"INSERT JSON references unknown columns "
                           f"{unknown}")
        if w.json_default == "null":
            for c in value_cols:
                w.sets.setdefault(c, None)
        for c, v in w.sets.items():
            if not isinstance(v, CollMut):
                continue
            if v.op == "incr":
                if not isinstance(types.get(c), (T.LongType, T.IntegerType)):
                    raise CqlError(
                        f"counter op on non-counter column {c!r}")
            elif not isinstance(types.get(c), (T.ArrayType, T.MapType)):
                raise CqlError(
                    f"collection op on non-collection column {c!r}")
    # ---- column-condition LWT (``IF col op literal``) ----
    # Cassandra's Paxos round is a read-before-write: every condition
    # in the batch is evaluated against the PRE-batch state, and the
    # batch applies ALL-OR-NOTHING - one failing condition and no
    # statement lands (the coordinator replies [applied]=false).
    # Evaluated here over the UNFOLDED statement list (so a condition
    # on a statement the fold would collapse still votes), with one
    # bounded point-lookup read for the conditioned keys - the batch
    # is client-sized, so the read is request-bounded by construction.
    conded = [w for w in writes if w.if_conds]
    if conded:
        if any(w.ts_us is not None for w in writes):
            raise CqlError(
                "a conditional batch cannot use client-supplied "
                "timestamps (Cassandra: LWT writes own their timestamps)")
        if len({w.key[0] for w in writes}) > 1:
            raise CqlError(
                "a batch with conditions cannot span multiple "
                "partitions (Cassandra's conditional-batch rule)")
        for w in conded:
            for col, _, _ in w.if_conds:
                if col not in value_cols:
                    raise CqlError(
                        f"unknown column {col!r} in LWT condition")
        ckeys = sorted({tuple(_coerce(v, types[k])
                              for k, v in zip(key_cols, w.key))
                        for w in conded})
        pred = F.lit(False)
        for key in ckeys:
            eq = F.lit(True)
            for k, v in zip(key_cols, key):
                eq = eq & (F.col(k) == F.lit(v))
            pred = pred | eq
        stored = {tuple(r[k] for k in key_cols): r.asDict()
                  for r in table.read().filter(pred).collect()}
        for w in conded:
            key = tuple(_coerce(v, types[k])
                        for k, v in zip(key_cols, w.key))
            if not _cond_holds(stored.get(key), w.if_conds, types):
                return table.current_version()

    folded = _fold(writes)
    if not with_meta and any(w.ttl_s is not None or w.ts_us is not None
                             for w in folded):
        raise CqlError(
            "USING TTL/TIMESTAMP requires writetime_us/ttl_s columns")

    src_fields = [T.StructField(k, types[k]) for k in key_cols]
    for c in value_cols:
        src_fields.append(T.StructField(c, types[c]))
        src_fields.append(T.StructField(f"{c}__set", T.BooleanType(), False))
        src_fields.append(T.StructField(f"{c}__mut", T.StringType(), True))
    src_fields.append(T.StructField("__op", T.StringType(), False))
    src_fields.append(T.StructField("__if", T.StringType(), False))
    if with_meta:
        src_fields.append(T.StructField("writetime_us", T.LongType(), True))
        src_fields.append(T.StructField("ttl_s", T.LongType(), True))

    rows = []
    for w in folded:
        row = [(_coerce(v, types[k])) for k, v in zip(key_cols, w.key)]
        for c in value_cols:
            v = w.sets.get(c)
            if isinstance(v, CollMut) and v.op == "incr":
                row.append(int(v.values))
                row.append(True)
                row.append("incr")
            elif isinstance(v, CollMut):
                if not isinstance(types[c], (T.ArrayType, T.MapType)):
                    raise CqlError(
                        f"collection op on non-collection column {c!r}")
                if isinstance(types[c], T.MapType):
                    if v.op == "discard":
                        payload = {k: None for k in v.values}
                    elif isinstance(v.values, dict):
                        payload = dict(v.values)
                    else:
                        raise CqlError(
                            f"map column {c!r} takes a map operand for "
                            f"{v.op!r}")
                else:
                    if isinstance(v.values, dict):
                        raise CqlError(
                            f"set/list column {c!r} cannot take a map "
                            "operand")
                    payload = list(v.values)
                row.append(payload)
                row.append(True)
                row.append(v.op)
            else:
                row.append(_coerce(v, types[c]))
                row.append(c in w.sets)
                row.append(None)
        row.append(w.kind)
        row.append(w.condition or "always")
        if with_meta:
            wt = w.ts_us if w.ts_us is not None else now_us
            if wt is None:
                raise CqlError(
                    "writes to a writetime-tracked table need USING "
                    "TIMESTAMP or an explicit now_us clock")
            row.append(int(wt))
            row.append(w.ttl_s)
        rows.append(tuple(row))
    # A JVM LocalRelation: its size estimate lets the merge take the
    # single-partition plan, and a value that does not fit its column
    # fails here, before any job runs.
    try:
        src = local_relation(table.spark, rows, T.StructType(src_fields))
    except ValueError as e:
        raise CqlError(str(e)) from e

    def _cell_value(c: str):
        """The value a write lands in cell ``c``: the src literal for
        plain assignments, or the collection mutation applied against
        the target's CURRENT value (sets sorted canonically; map put
        overwrites colliding keys; discard removes elements on
        sets and KEYS on maps - Cassandra's overload)."""
        s = F.col(f"src.`{c}`")
        dtype = types[c]
        if isinstance(dtype, T.ArrayType):
            mut = F.col(f"src.`{c}__mut`")
            tt = F.coalesce(F.col(f"tgt.`{c}`"), F.array().cast(dtype))
            return (
                F.when(mut == "add", F.array_sort(F.array_union(tt, s)))
                .when(mut == "discard", F.array_sort(F.array_except(tt, s)))
                # LIST minus: drop every occurrence of each operand
                # element, survivor ORDER PRESERVED - Cassandra's
                # list-minus never reorders or dedupes, so array_except
                # (set semantics) would corrupt element order here.
                .when(mut == "discard_list",
                      F.filter(tt, lambda x: ~F.array_contains(s, x)))
                .when(mut == "append", F.concat(tt, s))
                .when(mut == "prepend", F.concat(s, tt))
                .otherwise(s))
        if isinstance(dtype, (T.LongType, T.IntegerType)):
            mut = F.col(f"src.`{c}__mut`")
            tt = F.coalesce(F.col(f"tgt.`{c}`"), F.lit(0).cast(dtype))
            return F.when(mut == "incr", (tt + s).cast(dtype)).otherwise(s)
        if isinstance(dtype, T.MapType):
            mut = F.col(f"src.`{c}__mut`")
            tt = F.coalesce(F.col(f"tgt.`{c}`"),
                            F.create_map().cast(dtype))
            dropped = F.map_filter(
                tt, lambda k, _: ~F.array_contains(F.map_keys(s), k))
            return (
                F.when(mut == "discard", dropped)
                .when(mut.isin("put", "add"), F.map_concat(dropped, s))
                .otherwise(s))
        return s

    if with_meta:
        # timestamp LWW: the write lands only if its stamp is >= the
        # stored writetime (missing target rows always lose the
        # coalesce to -1, i.e. always insertable)
        wins = F.col("src.writetime_us") >= F.coalesce(
            F.col("tgt.writetime_us"), F.lit(-1).cast("long"))
        assignments = {
            c: F.when(F.col(f"src.`{c}__set`") & wins, _cell_value(c))
                .otherwise(F.col(f"tgt.`{c}`"))
            for c in value_cols
        }
        assignments["writetime_us"] = (
            F.when(wins, F.col("src.writetime_us"))
            .otherwise(F.col("tgt.writetime_us")))
        assignments["ttl_s"] = (
            F.when(wins, F.col("src.ttl_s")).otherwise(F.col("tgt.ttl_s")))
    else:
        assignments = {
            c: F.when(F.col(f"src.`{c}__set`"), _cell_value(c))
                .otherwise(F.col(f"tgt.`{c}`"))
            for c in value_cols
        }
    upd = F.col("src.__if") != F.lit("not_exists")
    dele = (F.col("src.__op") == F.lit("D")) | (
        (F.col("src.__if") == F.lit("exists"))
        & F.col(f"tgt.`{key_cols[0]}`").isNull()
    )
    # The fold left one row per key, so the batch's own (rows, min
    # key, max key) are exact and the merge needs no source pre-pass.
    # Bounds only where Python's order is Spark's: a single integral
    # or string key (UTF-8 byte order == code point order).
    stats = (len(rows), None, None)
    kt = types[key_cols[0]]
    if len(key_cols) == 1 and isinstance(kt, (T.IntegralType, T.StringType)):
        ks = [r[0] for r in rows]
        if None not in ks:
            stats = (len(rows), min(ks), max(ks))
    return table.merge_into(src, key_cols, matched_condition=upd,
                            delete_condition=dele, assume_unique_keys=True,
                            assignments=assignments, source_stats=stats)


# -- registered, oracle-verified write-path query ---------------------------

from cassandra_elasticsearch_sync_spark.registry import register  # noqa: E402


@register("a2r_cql_write_path", "A2+A7+L4", """
WITH side_a AS (
  SELECT o_orderkey AS key, o_totalprice AS price, o_orderdate AS version
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
)
SELECT key,
       CASE WHEN key % 97 = 6 THEN -1.0 ELSE price END AS price,
       STRFTIME(DATE_TRUNC('second', version), '%Y-%m-%d %H:%M:%S') AS version_s
FROM side_a WHERE key % 97 <> 5
UNION ALL
SELECT 90000000 + seq AS key, CAST(seq AS DOUBLE) AS price,
       '2004-01-01 00:00:00' AS version_s
FROM (SELECT UNNEST(RANGE(0, 40)) AS seq)
""", "The CQL WRITE path end-to-end: a client batch of INSERT / "
     "UPDATE / DELETE / IF [NOT] EXISTS statements parses, folds in "
     "statement order, and applies to the ACID store as ONE atomic "
     "cell-level merge commit (Cassandra semantics: UPDATE is an "
     "upsert, an UPDATE that sets only price leaves the version cell "
     "untouched - proven by the hash, since the oracle keeps the "
     "original version string on updated rows; conditional writes "
     "no-op exactly when Cassandra's LWT guards would). Deletes drop "
     "every key%97==5 row, updates restate key%97==6 prices, 40 new "
     "rows insert, and the guarded statements provably change "
     "nothing. One CoW merge, file-pruned like every other write.")
def a2r_cql_write_path(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.parity import fmt_ts
    from cassandra_elasticsearch_sync_spark.sync.ops import side_a

    root = tempfile.mkdtemp(prefix="ces_cql_write_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(side_a(spark, sf_dir))
        # one collect for all three statement key lists (three
        # driver-sequenced jobs fused - VERDICT r7 #2's commit-constant
        # diet applies to the test harness side too)
        mods = (side_a(spark, sf_dir)
                .select("key", (F.col("key") % 97).alias("m"))
                .filter(F.col("m").isin(5, 6, 7)).collect())
        touched = sorted(r["key"] for r in mods if r["m"] == 5)
        updated = sorted(r["key"] for r in mods if r["m"] == 6)
        guarded = sorted(r["key"] for r in mods if r["m"] == 7)
        stmts = (
            [f"DELETE FROM kv WHERE key = {k}" for k in touched]
            + [f"UPDATE kv SET price = -1.0 WHERE key = {k}" for k in updated]
            + [f"INSERT INTO kv (key, price, version) VALUES "
               f"({90_000_000 + i}, {float(i)}, '2004-01-01 00:00:00')"
               for i in range(40)]
            + [f"INSERT INTO kv (key, price, version) VALUES "
               f"({k}, -2.0, '2004-01-01 00:00:00') IF NOT EXISTS"
               for k in guarded]
            + [f"UPDATE kv SET price = -3.0 WHERE key = {95_000_000 + i} "
               "IF EXISTS" for i in range(10)]
        )
        apply_cql_writes(t, ["key"], stmts)
        return t.read().select(
            "key", "price", fmt_ts("version").alias("version_s")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2t_cql_using_ttl_timestamp", "A2+L3", """
WITH base AS (SELECT UNNEST(RANGE(0, 100)) AS k)
SELECT key, price, CAST(writetime_us AS BIGINT) AS writetime_us, ttl_s
FROM (
  SELECT k AS key,
         CASE WHEN k % 5 = 0 THEN CAST(k * 2 AS DOUBLE)
              ELSE CAST(k AS DOUBLE) END AS price,
         CASE WHEN k % 5 = 0 THEN 2000000 ELSE 1000000 END AS writetime_us,
         CAST(NULL AS BIGINT) AS ttl_s
  FROM base
  UNION ALL
  SELECT 300 + s AS key, CAST(s AS DOUBLE) AS price,
         1000000 AS writetime_us, 3600 AS ttl_s
  FROM (SELECT UNNEST(RANGE(0, 10)) AS s)
) ORDER BY key
""", "CQL USING TTL / USING TIMESTAMP write semantics on the "
     "writetime-tracked table: client-supplied timestamps decide "
     "conflicts (a redelivered STALE update with TIMESTAMP 500000 "
     "against cells written at 1000000 is IGNORED - Cassandra's "
     "timestamp LWW, which is what makes its writes idempotent and "
     "reorder-safe; without the gate every key%3 row would read -1 "
     "and the hash would fail), newer timestamps win (key%5 rows "
     "restate at TIMESTAMP 2000000), and TTL'd rows expire at READ "
     "time (writetime + ttl vs the reader's clock - the 60 s rows "
     "are gone at the probe instant, the 3600 s rows remain; no "
     "background job deletes anything, exactly like Cassandra). "
     "LWT + USING TIMESTAMP is rejected per Cassandra's own rule.")
def a2t_cql_using_ttl_timestamp(spark, sf_dir):
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="ces_cql_using_")
    try:
        t = AcidParquetTable(spark, root)
        schema = T.StructType([
            T.StructField("key", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("writetime_us", T.LongType()),
            T.StructField("ttl_s", T.LongType()),
        ])
        t.init(local_relation(spark, [], schema))
        apply_cql_writes(t, ["key"], [
            f"INSERT INTO kv (key, price) VALUES ({k}, {float(k)})"
            for k in range(100)
        ], now_us=1_000_000)
        # redelivered stale mutation: must lose timestamp LWW
        apply_cql_writes(t, ["key"], [
            f"UPDATE kv USING TIMESTAMP 500000 SET price = -1.0 "
            f"WHERE key = {k}" for k in range(0, 100, 3)
        ])
        # fresh restatement: must win
        apply_cql_writes(t, ["key"], [
            f"UPDATE kv USING TIMESTAMP 2000000 SET price = {float(k * 2)} "
            f"WHERE key = {k}" for k in range(0, 100, 5)
        ])
        # TTL'd rows: 60 s (expired at the probe) and 3600 s (alive)
        apply_cql_writes(t, ["key"], [
            f"INSERT INTO kv (key, price) VALUES ({200 + s}, {float(s)}) "
            f"USING TTL 60 AND TIMESTAMP 1000000" for s in range(20)
        ] + [
            f"INSERT INTO kv (key, price) VALUES ({300 + s}, {float(s)}) "
            f"USING TTL 3600 AND TIMESTAMP 1000000" for s in range(10)
        ])
        as_of_us = 100_000_000
        live = t.read().filter(
            F.col("ttl_s").isNull()
            | (F.col("writetime_us") + F.col("ttl_s") * 1_000_000 > as_of_us)
        )
        return (live.select("key", "price", "writetime_us", "ttl_s")
                .orderBy("key").localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2w_cql_writetime_ttl_read", "A2", """
WITH base AS (SELECT UNNEST(RANGE(0, 30)) AS k),
cells AS (
  SELECT k AS key,
         CASE WHEN k % 3 = 0 THEN CAST(k * 10 AS DOUBLE)
              ELSE CAST(k AS DOUBLE) END AS price,
         CASE WHEN k % 3 = 0 THEN 5000000 ELSE 1000000 END AS writetime_us,
         CAST(CASE WHEN k % 3 = 0 THEN 7200
                   WHEN k % 3 = 2 THEN 1
                   ELSE NULL END AS BIGINT) AS ttl_s
  FROM base
)
SELECT key, price, CAST(writetime_us AS BIGINT) AS wt,
       CASE WHEN ttl_s IS NOT NULL THEN
         CAST(FLOOR((writetime_us + ttl_s * 1000000 - 2000000000)
                    / 1000000.0) AS INT)
       END AS ttl_left
FROM cells
WHERE ttl_s IS NULL OR writetime_us + ttl_s * 1000000 > 2000000000
ORDER BY key
""", "CQL writetime()/ttl() SELECTORS - the read half of the cell-"
     "metadata model the USING TTL/TIMESTAMP write path (a2t) "
     "maintains: writetime(price) surfaces the stored microsecond "
     "stamp (here proving timestamp-LWW kept the 5000000 update "
     "over the 1000000 insert on every key%3 row), and ttl(price) "
     "returns the REMAINING seconds at the caller's pinned read "
     "instant (integer floor, null when no TTL - Cassandra's "
     "semantics with the wall clock made explicit, so the result "
     "is deterministic). Expired rows (TTL 1, dead long before the "
     "probe) vanish at read time with no background deletion. The "
     "validator enforces Cassandra's own selector rules: never on "
     "a PRIMARY KEY part, never on collections, no clock -> error.")
def a2w_cql_writetime_ttl_read(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.sources.cql_query import (
        cql_select,
    )

    root = tempfile.mkdtemp(prefix="ces_cql_wt_")
    try:
        t = AcidParquetTable(spark, root)
        schema = T.StructType([
            T.StructField("key", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("writetime_us", T.LongType()),
            T.StructField("ttl_s", T.LongType()),
        ])
        t.init(local_relation(spark, [], schema))
        apply_cql_writes(t, ["key"], [
            f"INSERT INTO kv (key, price) VALUES ({k}, {float(k)}) "
            f"USING TIMESTAMP 1000000"
            + (" AND TTL 1" if k % 3 == 2 else "")
            for k in range(30)
        ])
        apply_cql_writes(t, ["key"], [
            f"UPDATE kv USING TIMESTAMP 5000000 AND TTL 7200 "
            f"SET price = {float(k * 10)} WHERE key = {k}"
            for k in range(0, 30, 3)
        ])
        now_us = 2_000_000_000
        live = t.read().filter(
            F.col("ttl_s").isNull()
            | (F.col("writetime_us") + F.col("ttl_s") * 1_000_000
               > now_us))
        out = cql_select(
            live,
            "SELECT key, price, writetime(price) AS wt, "
            "ttl(price) AS ttl_left FROM kv",
            now_us=now_us,
        )
        return out.orderBy("key").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2ab_cql_insert_json", "A2+H6", """
WITH rows AS (
  SELECT k AS key,
         CASE WHEN k < 10 THEN k + 0.5
              WHEN k < 20 THEN k + 0.25
              ELSE CAST(k AS DOUBLE) END AS price,
         CASE WHEN k BETWEEN 10 AND 19 THEN NULL ELSE 'seed' END AS tag
  FROM (SELECT UNNEST(RANGE(0, 50)) AS k)
  UNION ALL
  SELECT 100 + s, s * 1.5, 'json'
  FROM (SELECT UNNEST(RANGE(0, 20)) AS s)
  UNION ALL
  SELECT 200, 0.0, 'o''brien'
)
SELECT CAST(to_json(struct_pack(key := key, price := price, tag := tag))
            AS VARCHAR) AS json
FROM rows
""", "Cassandra's JSON statement forms end-to-end: INSERT INTO kv "
     "JSON '<object>' writes through the SAME parse->fold->atomic-"
     "merge path as positional INSERT, with the JSON-only defaults "
     "semantics - DEFAULT NULL (Cassandra's default) writes omitted "
     "value columns as explicit NULLs (keys 10-19 lose their tag), "
     "DEFAULT UNSET leaves them untouched (keys 0-9 keep tag 'seed' "
     "while price updates), IF NOT EXISTS no-ops on existing keys "
     "(20-24 provably unchanged), and '' doubles a quote inside the "
     "CQL string literal (the o'brien row). The read back is SELECT "
     "JSON, so the hash proves the whole JSON round trip - text "
     "rendering included, nulls as explicit members exactly as "
     "Cassandra emits them - against a DuckDB to_json twin.")
def a2ab_cql_insert_json(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.sources.cql_query import (
        cql_select,
    )

    root = tempfile.mkdtemp(prefix="ces_cql_insert_json_")
    try:
        seed = spark.range(0, 50).selectExpr(
            "id AS key", "CAST(id AS DOUBLE) AS price", "'seed' AS tag")
        t = AcidParquetTable(spark, root)
        t.init(seed)
        stmts = (
            [f'INSERT INTO kv JSON \'{{"key": {k}, "price": {k}.5}}\' '
             "DEFAULT UNSET" for k in range(10)]
            + [f'INSERT INTO kv JSON \'{{"key": {k}, "price": {k}.25}}\''
               for k in range(10, 20)]
            + [f'INSERT INTO kv JSON \'{{"key": {k}, "price": -1.0, '
               f'"tag": "nope"}}\' IF NOT EXISTS' for k in range(20, 25)]
            + [f'INSERT INTO kv JSON \'{{"key": {100 + s}, '
               f'"price": {s * 1.5}, "tag": "json"}}\'' for s in range(20)]
            + ['INSERT INTO kv JSON '
               '\'{"key": 200, "price": 0.0, "tag": "o\'\'brien"}\'']
        )
        apply_cql_writes(t, ["key"], stmts)
        return cql_select(
            t.read(), "SELECT JSON key, price, tag FROM kv"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2ac_cql_collection_updates", "A2+H4+H5", """
WITH base AS (
  SELECT c_custkey AS k,
         [c_mktsegment, 'N' || CAST(c_nationkey AS VARCHAR)] AS tags0,
         CAST(c_custkey % 3 AS INTEGER) AS theme0,
         c_custkey % 4 = 0 AS has_promo
  FROM customer WHERE c_custkey <= 300
)
SELECT k AS cust_id,
       ARRAY_TO_STRING(
         CASE
           WHEN k % 10 = 0 AND k % 7 = 0 THEN LIST_SORT(LIST_FILTER(
             LIST_DISTINCT(LIST_APPEND(tags0, 'VIP')),
             x -> x <> 'BUILDING'))
           WHEN k % 10 = 0 THEN LIST_SORT(LIST_DISTINCT(
             LIST_APPEND(tags0, 'VIP')))
           WHEN k % 7 = 0 THEN LIST_SORT(LIST_FILTER(
             tags0, x -> x <> 'BUILDING'))
           ELSE tags0
         END, ',') AS tags_s,
       CASE WHEN k % 11 = 0 THEN 9
            WHEN k % 9 = 0 THEN NULL
            ELSE theme0 END AS theme,
       CASE WHEN k % 4 = 0 THEN 2 ELSE NULL END AS promo,
       CASE WHEN k % 11 = 0 THEN 7 ELSE NULL END AS beta
FROM base
""", "Cassandra collection WRITE semantics through the CQL DML path: "
     "five sequential client batches apply set add (tags + {'VIP'}, "
     "kept canonically sorted as Cassandra stores sets), set discard "
     "(tags - {'BUILDING'}), map put (prefs['promo'] = 2), map KEY "
     "discard (prefs - {'theme'} - the - overload removes keys on "
     "maps), and map merge (prefs + {'beta': 7, 'theme': 9}, "
     "colliding keys overwritten). Each mutation compiles to a "
     "cell-level expression against the target's CURRENT value "
     "inside the same single CoW merge commit every write takes - "
     "array_union/except/concat and map_filter/concat, all JVM "
     "higher-order expressions, no UDF. The read back renders "
     "scalars (joined tag list + three map lookups) so the hash "
     "pins exact element ORDER and key survival per row.")
def a2ac_cql_collection_updates(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.sources.cql_query import (
        customer_profiles,
    )

    root = tempfile.mkdtemp(prefix="ces_cql_coll_")
    try:
        base = customer_profiles(spark, sf_dir).filter(
            F.col("cust_id") <= 300).select("cust_id", "tags", "prefs")
        t = AcidParquetTable(spark, root)
        t.init(base)
        keys = [r["cust_id"] for r in base.select("cust_id").collect()]
        batches = [
            [f"UPDATE p SET tags = tags + {{'VIP'}} WHERE cust_id = {k}"
             for k in keys if k % 10 == 0],
            [f"UPDATE p SET tags = tags - {{'BUILDING'}} WHERE cust_id = {k}"
             for k in keys if k % 7 == 0],
            [f"UPDATE p SET prefs['promo'] = 2 WHERE cust_id = {k}"
             for k in keys if k % 4 == 0],
            [f"UPDATE p SET prefs = prefs - {{'theme'}} WHERE cust_id = {k}"
             for k in keys if k % 9 == 0],
            [f"UPDATE p SET prefs = prefs + {{'beta': 7, 'theme': 9}} "
             f"WHERE cust_id = {k}" for k in keys if k % 11 == 0],
        ]
        for b in batches:
            if b:
                apply_cql_writes(t, ["cust_id"], b)
        return t.read().select(
            "cust_id",
            F.array_join("tags", ",").alias("tags_s"),
            F.col("prefs")["theme"].alias("theme"),
            F.col("prefs")["promo"].alias("promo"),
            F.col("prefs")["beta"].alias("beta"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2ad_cql_counter_increments", "A2+D1", """
WITH hits AS (
  SELECT o_orderkey % 10 AS key, COUNT(*) AS n
  FROM orders WHERE o_orderkey <= 800
  GROUP BY 1
)
SELECT key, CAST(n - CASE WHEN key = 3 THEN 5 ELSE 0 END AS BIGINT)
         AS hits
FROM hits
""", "Cassandra counter columns through the CQL DML path: one "
     "`UPDATE counters SET hits = hits + 1` per source row folds "
     "ADDITIVELY client-side (Cassandra composes a batch's "
     "increments before the write lands), a decrement statement "
     "subtracts, an increment on a missing key starts from 0 "
     "(counter default), and the landed cell is current + delta - "
     "compiled into the same atomic CoW merge as every write. The "
     "oracle recomputes the per-key counts relationally, so the hash "
     "proves the fold's arithmetic, not just convergence. Counter "
     "ops validate the column is integral (Cassandra rejects "
     "counters elsewhere); a counter table update is one merge "
     "commit regardless of increment count.")
def a2ad_cql_counter_increments(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.catalog import load_table

    root = tempfile.mkdtemp(prefix="ces_cql_counter_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(local_relation(spark, [], "key bigint, hits bigint"))
        keys = [r[0] % 10 for r in load_table(spark, sf_dir, "orders")
                .filter(F.col("o_orderkey") <= 800)
                .select("o_orderkey").collect()]
        stmts = [f"UPDATE counters SET hits = hits + 1 WHERE key = {k}"
                 for k in keys]
        stmts.append("UPDATE counters SET hits = hits - 5 WHERE key = 3")
        apply_cql_writes(t, ["key"], stmts)
        return t.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2ag_cql_cell_delete", "A2+B6", """
SELECT c_custkey AS cust_id,
       CASE WHEN c_custkey % 7 = 0 THEN NULL
            ELSE c_mktsegment END AS segment,
       CASE WHEN c_custkey % 5 = 0 OR c_custkey % 7 = 0 THEN NULL
            ELSE c_acctbal END AS bal
FROM customer WHERE c_custkey <= 300
""", "Cassandra CELL deletes through the DML path: DELETE bal FROM "
     "... nulls ONE cell and leaves the row's other cells alive "
     "(multi-column form deletes several), and a cell delete on a "
     "MISSING key provably creates no row - in Cassandra a pure "
     "cell tombstone never makes a row visible, so the statement "
     "lowers to a null-cell write GUARDED on row existence (the "
     "same merge branch that no-ops absent-key deletes), not an "
     "upsert. Deleting a primary key column raises, Cassandra's "
     "rule. All deletes fold into the same single CoW merge commit "
     "as every other write; the hash pins per-row cell survival.")
def a2ag_cql_cell_delete(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.catalog import load_table

    root = tempfile.mkdtemp(prefix="ces_cql_celldel_")
    try:
        c = load_table(spark, sf_dir, "customer")
        base = (c.filter(F.col("c_custkey") <= 300)
                .select(F.col("c_custkey").alias("cust_id"),
                        F.col("c_mktsegment").alias("segment"),
                        F.col("c_acctbal").alias("bal")))
        t = AcidParquetTable(spark, root)
        t.init(base)
        keys = [r["cust_id"] for r in base.select("cust_id").collect()]
        stmts = (
            [f"DELETE bal FROM p WHERE cust_id = {k}"
             for k in keys if k % 5 == 0]
            + [f"DELETE segment, bal FROM p WHERE cust_id = {k}"
               for k in keys if k % 7 == 0]
            # missing key: the guarded write must NOT create a row
            + ["DELETE bal FROM p WHERE cust_id = 999999"]
        )
        apply_cql_writes(t, ["cust_id"], stmts)
        return (t.read()
                .select("cust_id", "segment", "bal")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a2ai_cql_lwt_conditions", "A2+A7", """
WITH side_a AS (
  SELECT o_orderkey AS key, o_totalprice AS price, o_orderdate AS version
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
), ranked AS (
  SELECT key, price, version, ROW_NUMBER() OVER (ORDER BY key) AS rn
  FROM side_a
)
SELECT key,
       CASE WHEN rn = 1 THEN -100.0
            WHEN rn = 6 THEN -600.0
            ELSE price END AS price,
       STRFTIME(DATE_TRUNC('second', version), '%Y-%m-%d %H:%M:%S')
         AS version_s
FROM ranked
WHERE rn <> 4
""", "Cassandra's column-condition LWT (UPDATE/DELETE ... IF col op "
     "literal) end-to-end on the ACID store: conditions evaluate "
     "against the PRE-batch state via a bounded point-lookup read "
     "(the Paxos read-before-write) and a conditional batch applies "
     "all-or-nothing. Six probes, each pinned by the hash: a passing "
     "`IF price > 0` update lands (-100 on the smallest key), a "
     "failing `IF price < 0` update no-ops (row 2 keeps its price), "
     "a condition on a MISSING key fails WITHOUT creating the row "
     "(unconditional UPDATE would upsert - the row-count pins the "
     "difference), a passing conditional DELETE removes row 4, a "
     "same-partition BATCH whose one condition fails leaves BOTH "
     "touched cells unchanged (all-or-nothing: row 5's version "
     "string survives), and an `IN (...) AND !=` conjunction lands "
     "-600 on row 6. Multi-partition conditional batches and "
     "LWT + USING TIMESTAMP are rejected loudly, Cassandra's rules.")
def a2ai_cql_lwt_conditions(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.parity import fmt_ts
    from cassandra_elasticsearch_sync_spark.sync.ops import side_a

    root = tempfile.mkdtemp(prefix="ces_cql_lwt_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(side_a(spark, sf_dir))
        probes = side_a(spark, sf_dir).orderBy("key").limit(6).collect()
        k = [r["key"] for r in probes]
        p = [r["price"] for r in probes]
        apply_cql_writes(t, ["key"], f"UPDATE kv SET price = -100.0 "
                         f"WHERE key = {k[0]} IF price > 0.0")
        apply_cql_writes(t, ["key"], f"UPDATE kv SET price = -200.0 "
                         f"WHERE key = {k[1]} IF price < 0.0")
        apply_cql_writes(t, ["key"], "UPDATE kv SET price = -300.0 "
                         "WHERE key = 91000001 IF price = null")
        apply_cql_writes(t, ["key"], f"DELETE FROM kv WHERE key = {k[3]} "
                         f"IF price >= 0.0")
        apply_cql_writes(t, ["key"], f"BEGIN BATCH "
                         f"UPDATE kv SET version = '2005-01-01 00:00:00' "
                         f"WHERE key = {k[4]}; "
                         f"UPDATE kv SET price = -500.0 WHERE key = {k[4]} "
                         f"IF price < 0.0; APPLY BATCH")
        apply_cql_writes(t, ["key"], f"UPDATE kv SET price = -600.0 "
                         f"WHERE key = {k[5]} "
                         f"IF price IN ({p[5]!r}, -1.0) AND price != -1.0")
        return t.read().select(
            "key", "price", fmt_ts("version").alias("version_s")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE)


def cql_truncate(table: AcidParquetTable, stmt: str) -> int:
    """``TRUNCATE [TABLE] t``: remove every row as ONE atomic commit.

    Cassandra's TRUNCATE removes all data immediately (no per-row
    tombstones, snapshots aside) and is a standalone statement - it
    cannot appear in a BATCH, and parse_cql_dml rejects it there the
    same way. The table format keeps the schema and the version
    history, so ``read(version=...)`` time travel still sees
    pre-truncate snapshots - the engine's analogue of Cassandra's
    auto_snapshot safety net."""
    m = _TRUNCATE_RE.match(stmt)
    if not m:
        raise CqlError(f"not a TRUNCATE statement: {stmt!r}")
    schema = table.read().schema
    empty = local_relation(table.spark, [], schema)
    return table.replace_where(F.lit(True), empty)
