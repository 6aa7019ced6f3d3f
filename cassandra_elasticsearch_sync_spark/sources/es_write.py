"""ES write-by-query APIs: ``_update_by_query`` and ``_delete_by_query``.

The two most-used named WRITE APIs an Elasticsearch operator calls:
bulk mutation guarded by a query-DSL predicate. ES implements them as
a scroll-plus-bulk loop (snapshot the matching doc set, then re-index
or delete each doc, counting per-document version conflicts). The
Spark-first equivalent composes two pieces this engine already proves
independently:

- the query DSL compiler (``es_query.compile_query``) supplies the
  predicate as ONE Catalyst Column - every leaf the read path supports
  (bool/term/range/match/prefix/span/...) works verbatim as a write
  guard, and

- the ACID table's copy-on-write mutation path
  (``acid.AcidParquetTable.update_where`` / ``delete_where``) supplies
  the transactional apply: a probe of each row's entry finds the
  affected data files, ONLY those files rewrite, and the commit is one
  atomic manifest swap. A predicate touching 1% of a 100 TB table
  rewrites 1% of it - strictly better than ES's per-document
  re-index loop, which always pays O(matched docs) network round
  trips.

Conflict semantics: ES's default ``conflicts=abort`` stops the whole
operation on the first version conflict; here the optimistic commit
(``CommitConflict`` on a concurrent writer) aborts the WHOLE commit
atomically - no partial application is possible, which is abort
semantics with a stronger guarantee (ES may have already applied
earlier batches when it aborts). ``conflicts=proceed`` counts
per-document conflicts and keeps going; that needs per-document
version bookkeeping this store does not keep, so it is rejected
loudly, never approximated. ``max_docs`` is rejected loudly too: ES
applies it in scroll order, which is shard-iteration-dependent and
therefore not reproducible by ANY deterministic engine.

Update scripts are the bounded Painless subset the scripted_metric
parser (``es_scripted_metric``) already lowers - sequential
``ctx._source.<field> = <expr>`` assignments (also ``+=`` / ``-=``)
over doc-field references, literals, arithmetic, comparisons, and the
ternary. Sequential Painless semantics are FOLDED at compile time:
each statement's RHS resolves earlier assignments' expressions
inline, so the final per-column expressions are all in terms of the
ORIGINAL row and apply as one simultaneous SELECT (SQL UPDATE
semantics; ``update_where``'s contract).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.sources.acid import AcidParquetTable
from cassandra_elasticsearch_sync_spark.sources.es_query import compile_query
from cassandra_elasticsearch_sync_spark.sources.es_scripted_metric import (
    PainlessError,
    _Parser,
    _tokenize,
)


class EsWriteError(ValueError):
    """An unsupported or ill-defined write-by-query construct."""


_CTX_SOURCE_RE = re.compile(r"ctx\._source\.(\w+)")
_STRINGS_RE = re.compile(r"'[^']*'|\"[^\"]*\"")


def compile_update_script(script: str,
                          columns: list[str]) -> dict[str, Column]:
    """Compile a ``_update_by_query`` Painless script to per-column
    Catalyst expressions over the ORIGINAL row.

    Grammar: ``stmt (';' stmt)* ';'?`` where
    ``stmt := ctx._source.<field> ('=' | '+=' | '-=') <expr>`` and
    ``<expr>`` is the scripted_metric expression subset (doc-field
    refs via ``ctx._source.<f>``, literals, + - * / %, comparisons,
    && ||, ternary). Painless executes statements sequentially; that
    is preserved by FOLDING: a later RHS referencing an
    earlier-assigned field resolves to that assignment's expression
    inline, so the returned dict applies simultaneously (exactly
    ``AcidParquetTable.update_where``'s SQL-UPDATE contract).

    Rejected loudly: references to anything but ``ctx._source.<f>``
    (``ctx.op`` no-op routing, ``ctx._now``, ``params`` need
    machinery this subset does not model), assignments to fields not
    in ``columns`` (ES would create the field; here that is schema
    evolution - ``add_columns`` first), and any construct the
    expression parser does not know.
    """
    rewritten = _CTX_SOURCE_RE.sub(
        lambda m: f"doc['{m.group(1)}'].value", script)
    # any ctx.* left after the _source rewrite is an unsupported
    # context reference (ctx.op / ctx._id / ctx._now); check outside
    # string literals only
    if re.search(r"\bctx\b", _STRINGS_RE.sub("", rewritten)):
        raise EsWriteError(
            "only ctx._source.<field> references are supported "
            "(ctx.op / ctx._id / ctx._now routing is not modeled)")
    if re.search(r"\bparams\b", _STRINGS_RE.sub("", rewritten)):
        raise EsWriteError(
            "params are not supported; inline the values into the "
            "script")
    try:
        toks = _tokenize(rewritten)
    except PainlessError as e:
        raise EsWriteError(str(e)) from e

    # split the token stream on ';' (tokenizing first keeps literal
    # semicolons inside strings intact)
    stmts: list[list] = []
    cur: list = []
    for t in toks:
        if t == ("op", ";"):
            if cur:
                stmts.append(cur)
                cur = []
        else:
            cur.append(t)
    if cur:
        stmts.append(cur)
    if not stmts:
        raise EsWriteError("empty update script")

    env: dict[str, Column] = {}

    def resolve(ref):
        kind, name = ref
        if kind == "doc":
            if name not in columns:
                raise EsWriteError(
                    f"unknown _source field {name!r}; table columns "
                    f"are {sorted(columns)}")
            return env.get(name, F.col(name))
        raise EsWriteError(
            f"unsupported reference {name!r} (doc-field references "
            "and literals only)")

    for st in stmts:
        if (len(st) < 3 or st[0][0] != "docref" or st[1][0] != "op"
                or st[1][1] not in ("=", "+=", "-=")):
            raise EsWriteError(
                "each statement must be ctx._source.<field> = <expr> "
                "(or += / -=)")
        field = st[0][1]
        op = st[1][1]
        if field not in columns:
            raise EsWriteError(
                f"cannot create new _source field {field!r}; evolve "
                "the schema first (AcidParquetTable.add_columns)")
        p = _Parser(st[2:], resolve)
        try:
            rhs = p.expr()
        except PainlessError as e:
            raise EsWriteError(str(e)) from e
        if not p.at_end():
            raise EsWriteError(
                f"trailing tokens after the {field!r} assignment")
        prev = env.get(field, F.col(field))
        env[field] = (rhs if op == "="
                      else prev + rhs if op == "+="
                      else prev - rhs)
    return env


def _check_write_params(conflicts: str, max_docs) -> None:
    if conflicts != "abort":
        raise EsWriteError(
            f"conflicts={conflicts!r} is not supported: "
            "conflicts=proceed counts per-document version conflicts, "
            "which needs per-document version bookkeeping this store "
            "does not keep; the atomic commit gives abort semantics "
            "(CommitConflict) with no partial application")
    if max_docs is not None:
        raise EsWriteError(
            "max_docs applies in ES scroll order, which is "
            "shard-iteration-dependent and not deterministically "
            "reproducible; filter the query instead")


def _committed_rows(table: AcidParquetTable, write, metric: str) -> int:
    """Run ``write`` (returns the version it committed, or the base
    version when there was nothing to commit) and read ``metric`` back
    from that commit; 0 when it made none."""
    base = table.current_version()
    v = write()
    if v == base:
        return 0
    return int(table.commit_info(v)["operation_metrics"][metric])


def es_update_by_query(table: AcidParquetTable, query: dict, *,
                       script: str, conflicts: str = "abort",
                       max_docs: int | None = None) -> dict:
    """ES ``POST index/_update_by_query``: apply ``script`` to every
    document matching the DSL ``query``, as ONE copy-on-write ACID
    commit (module docstring). Returns the ES response counters:
    ``{"total": n, "updated": n, "deleted": 0, "version_conflicts": 0,
    "noops": 0}`` - the matched count is the one the commit recorded,
    observed on the rewrite job itself (no count job of its own)."""
    _check_write_params(conflicts, max_docs)
    cond = compile_query(query)
    assignments = compile_update_script(script, table.read().columns)
    total = _committed_rows(
        table, lambda: table.update_where(cond, assignments),
        "num_updated_rows")
    return {"total": total, "updated": total, "deleted": 0,
            "version_conflicts": 0, "noops": 0}


def es_delete_by_query(table: AcidParquetTable, query: dict, *,
                       conflicts: str = "abort",
                       max_docs: int | None = None) -> dict:
    """ES ``POST index/_delete_by_query``: delete every document
    matching the DSL ``query`` as ONE copy-on-write ACID commit
    (module docstring). NULL predicate results keep the row
    (``delete_where``'s SQL contract - identical to ES, where a doc a
    query does not match is not deleted). Returns the ES response
    counters."""
    _check_write_params(conflicts, max_docs)
    cond = compile_query(query)
    total = _committed_rows(table, lambda: table.delete_where(cond),
                            "num_deleted_rows")
    return {"total": total, "updated": 0, "deleted": total,
            "version_conflicts": 0, "noops": 0}


# ---------------------------------------------------------------------------
# Registered, oracle-verified queries (the user-facing proof)
# ---------------------------------------------------------------------------

from cassandra_elasticsearch_sync_spark.catalog import load_table  # noqa: E402
from cassandra_elasticsearch_sync_spark.registry import register  # noqa: E402
from cassandra_elasticsearch_sync_spark.localdata import local_relation

_UBQ_PRED_SQL = "o_orderstatus = 'F' AND o_totalprice >= 150000.0"


@register("a3dy_es_update_by_query", "A3+A7", f"""
SELECT o_orderkey AS key, o_orderstatus AS status,
       CASE WHEN {_UBQ_PRED_SQL}
            THEN o_totalprice - o_totalprice * 0.1
            ELSE o_totalprice END AS price,
       CASE WHEN {_UBQ_PRED_SQL}
            THEN o_totalprice * 0.1 ELSE 0.0 END AS discount
FROM orders
""", "ES _update_by_query end-to-end (sources/es_write.py): orders "
     "commit to the ACID store as two key-range entries, then a DSL "
     "bool query (term status:'F' AND range price>=150000) guards a "
     "two-statement Painless script - 'ctx._source.discount = "
     "ctx._source.price * 0.1; ctx._source.price = ctx._source.price "
     "- ctx._source.discount;'. The hash proves SEQUENTIAL Painless "
     "semantics (the second statement reads the first's result) "
     "folded into simultaneous SQL-UPDATE expressions over the "
     "original row, applied as ONE copy-on-write commit that "
     "rewrites only DSL-affected files (the query asserts the "
     "predicate-free entry carried over byte-for-byte, the l18 "
     "discipline). All arithmetic is two shared-literal IEEE ops, "
     "bit-identical in both engines.")
def a3dy_es_update_by_query(spark, sf_dir):
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(0.0).alias("discount"))
    root = tempfile.mkdtemp(prefix="ces_es_ubq_")
    try:
        t = AcidParquetTable(spark, root)
        # two entries split so that one provably holds NO status='F'
        # rows (status 'O' only) - the CoW prune assertion below
        t.init(o.filter(F.col("status") == "O"))
        t.merge_into(o.filter(F.col("status") != "O"), ["key"])
        before = set(t._manifest(t.current_version())["files"])
        resp = es_update_by_query(
            t,
            {"bool": {"must": [
                {"term": {"status": "F"}},
                {"range": {"price": {"gte": 150000.0}}},
            ]}},
            script="ctx._source.discount = ctx._source.price * 0.1; "
                   "ctx._source.price = ctx._source.price "
                   "- ctx._source.discount;")
        after = set(t._manifest(t.current_version())["files"])
        if not (before & after):
            raise AssertionError("CoW update rewrote the 'O'-only entry")
        if resp["updated"] == 0 or resp["updated"] != resp["total"]:
            raise AssertionError(f"unexpected response {resp}")
        return (t.read().select("key", "status", "price", "discount")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a3dz_es_delete_by_query", "A3+A7", """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE NOT ((list_contains(string_split(lower(text), ' '), 'merge')
            OR list_contains(string_split(lower(text), ' '), 'batch'))
           AND lang <> 'zh')
""", "ES _delete_by_query end-to-end (sources/es_write.py): the "
     "documents corpus commits to the ACID store, then a DSL bool "
     "query - match text:'merge batch' (whitespace-analyzer OR over "
     "tokens) AND must_not term lang:'zh' - deletes every match as "
     "ONE copy-on-write commit. The response counters are asserted "
     "against the post-state row delta (ES's 'deleted' count), and "
     "the surviving table hash-matches the NOT(predicate) oracle - "
     "the full read-path DSL compiler reused verbatim as a write "
     "guard. conflicts=proceed and max_docs are rejected loudly "
     "(module docstring).")
def a3dz_es_delete_by_query(spark, sf_dir):
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="ces_es_dbq_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(d)
        n0 = t.read().count()
        resp = es_delete_by_query(t, {"bool": {
            "must": [{"match": {"text": "merge batch"}}],
            "must_not": [{"term": {"lang": "zh"}}],
        }})
        n1 = t.read().count()
        if resp["deleted"] != n0 - n1 or resp["deleted"] == 0:
            raise AssertionError(
                f"deleted counter {resp['deleted']} != row delta "
                f"{n0 - n1}")
        return (t.read().select("doc_id", "lang", "source", "n_chars")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# _reindex and single-document _update (round 12, second wave)
# ---------------------------------------------------------------------------

def es_reindex(source_df: DataFrame, dest: AcidParquetTable, *,
               keys: list[str], query: dict | None = None,
               script: str | None = None, op_type: str = "index",
               conflicts: str = "abort") -> dict:
    """ES ``POST _reindex``: copy the documents matching ``query``
    from a source index into ``dest``, optionally transformed by a
    bounded-Painless ``script`` - the migration/rebuild API every ES
    operator runs. One ACID MERGE commit instead of ES's
    scroll+bulk loop; the source side is any DataFrame (an A1/A2/A3
    relation or another ACID table's ``read()``).

    ``op_type``:
    - ``"index"`` (ES default): upsert - existing dest docs with the
      same key are overwritten, new keys insert. Response counts
      ``created`` (keys absent from dest) and ``updated`` (keys
      present), exactly ES's counters.
    - ``"create"``: only-if-absent. ES counts each existing key as a
      version conflict: ``conflicts="abort"`` (default) rejects the
      whole operation if ANY key exists (the atomic-commit
      strengthening of ES's first-conflict abort);
      ``conflicts="proceed"`` skips existing keys and reports them in
      ``version_conflicts`` - supported HERE (unlike
      update/delete_by_query) because skip-existing is a pure
      deterministic anti-join, no per-document version bookkeeping.

    The script uses the ``_update_by_query`` compiler verbatim
    (``compile_update_script``) and applies to every reindexed row
    BEFORE the merge - ES's pipeline order."""
    if op_type not in ("index", "create"):
        raise EsWriteError(f"op_type must be 'index' or 'create', "
                           f"got {op_type!r}")
    if conflicts not in ("abort", "proceed"):
        raise EsWriteError(f"unknown conflicts mode {conflicts!r}")
    if conflicts == "proceed" and op_type == "index":
        raise EsWriteError(
            "conflicts=proceed is meaningless for op_type='index' "
            "(an upsert has no version conflicts to skip)")
    src = source_df
    if query is not None:
        src = src.filter(F.coalesce(compile_query(query), F.lit(False)))
    if script is not None:
        env = compile_update_script(script, src.columns)
        src = src.select(*[
            env[c].alias(c) if c in env else F.col(c) for c in src.columns])
    # ES's snapshot counters: one aggregate job computing total and
    # how many keys already exist in dest (the same information ES's
    # initial scroll + per-doc version checks pay for)
    dest_keys = dest.read().select(*keys)
    existing = src.join(dest_keys, keys, "left_semi").count()
    total = src.count()
    created = total - existing
    if op_type == "create":
        if existing and conflicts == "abort":
            raise EsWriteError(
                f"op_type='create' found {existing} existing "
                "documents and conflicts='abort' (the default); "
                "nothing was applied - use conflicts='proceed' to "
                "skip them")
        fresh = src.join(dest_keys, keys, "left_anti")
        if created:
            dest.merge_into(fresh, keys)
        return {"total": total, "created": created, "updated": 0,
                "deleted": 0, "version_conflicts": existing,
                "noops": 0}
    dest.merge_into(src, keys)
    return {"total": total, "created": created, "updated": existing,
            "deleted": 0, "version_conflicts": 0, "noops": 0}


def es_update(table: AcidParquetTable, *, id_field: str, id_value,
              script: str | None = None, doc: dict | None = None,
              upsert: dict | None = None,
              detect_noop: bool = True) -> dict:
    """ES ``POST index/_update/<id>``: partial-update ONE document by
    id - the single-doc sibling of ``_update_by_query``. Exactly one
    of ``script`` (bounded Painless, the shared compiler) or ``doc``
    (partial field map, ES's merge form) must be given.

    Missing id: with ``upsert`` the upsert document inserts (ES's
    scripted-upsert/doc-upsert flow); without it the call raises -
    ES's 404. An upsert document is checked against the schema on the
    driver before any Spark job, whether or not it is needed.
    ``detect_noop`` (ES default, ``doc`` form only): when the partial
    doc would change nothing, NO commit happens and the result is
    ``"noop"`` - checked with one point-pruned comparison, the same
    read ES's noop detection does. Returns
    ``{"result": "updated" | "created" | "noop"}``."""
    if (script is None) == (doc is None):
        raise EsWriteError("exactly one of script/doc is required")
    if upsert is not None:
        schema = table.read().schema
        missing = set(schema.names) - set(upsert) - {id_field}
        if missing:
            raise EsWriteError(
                f"upsert document must carry every column; missing "
                f"{sorted(missing)}")
        row = {**upsert, id_field: id_value}
        try:
            up = local_relation(
                table.spark, [tuple(row[c] for c in schema.names)], schema)
        except ValueError as e:
            raise EsWriteError(f"upsert document: {e}") from e
    cond = F.col(id_field) == F.lit(id_value)
    point = table.read().filter(cond)
    row_exists = point.limit(1).count() > 0
    if not row_exists:
        if upsert is None:
            raise EsWriteError(
                f"document {id_field}={id_value!r} not found and no "
                "upsert was given (ES's 404)")
        table.merge_into(up, [id_field])
        return {"result": "created"}
    if doc is not None:
        unknown = set(doc) - set(table.read().columns)
        if unknown:
            raise EsWriteError(
                f"doc fields {sorted(unknown)} are not in the schema; "
                "evolve the schema first (add_columns)")
        if detect_noop:
            from functools import reduce
            changed = point.filter(reduce(
                lambda a, b: a | b,
                [~F.col(k).eqNullSafe(F.lit(v)) for k, v in doc.items()]))
            if changed.limit(1).count() == 0:
                return {"result": "noop"}
        assignments = {k: F.lit(v) for k, v in doc.items()}
    else:
        assignments = compile_update_script(script, table.read().columns)
    table.update_where(cond, assignments)
    return {"result": "updated"}


# ---------------------------------------------------------------------------
# Registered queries (second wave)
# ---------------------------------------------------------------------------

@register("a3eg_es_reindex", "A3+A7+C5", """
SELECT doc_id, lang, source, n_chars + 1000000 AS n_chars
FROM documents
WHERE list_contains(string_split(lower(text), ' '), 'merge')
UNION ALL
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id % 2 = 0
  AND NOT list_contains(string_split(lower(text), ' '), 'merge')
""", "ES _reindex end-to-end (sources/es_write.py es_reindex): a dest "
     "index pre-loaded with the even documents receives every doc "
     "matching match text:'merge' from the source corpus, transformed "
     "by the Painless script 'ctx._source.n_chars = "
     "ctx._source.n_chars + 1000000;' under op_type 'index' (upsert). "
     "The response counters (created = odd matchers, updated = even "
     "matchers) are asserted against independent counts, and the "
     "post-state hash proves the three-way outcome: matched docs "
     "carry the script's mark whatever their parity, unmatched even "
     "docs survive untouched, unmatched odd docs never appear. ONE "
     "MERGE commit in place of ES's scroll+bulk loop - file-pruned "
     "CoW, same cost model as every ACID write.")
def a3eg_es_reindex(spark, sf_dir):
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text")
    root = tempfile.mkdtemp(prefix="ces_es_reindex_")
    try:
        dest = AcidParquetTable(spark, root)
        dest.init(d.filter(F.col("doc_id") % 2 == 0)
                  .select("doc_id", "lang", "source", "n_chars"))
        src = d.withColumn(
            "__match",
            F.array_contains(F.split(F.lower(F.col("text")), " "),
                             "merge"))
        n_match = src.filter("__match").count()
        n_even_match = src.filter(
            F.col("__match") & (F.col("doc_id") % 2 == 0)).count()
        resp = es_reindex(
            d.select("doc_id", "lang", "source", "n_chars", "text"),
            dest, keys=["doc_id"],
            query={"match": {"text": "merge"}},
            script="ctx._source.n_chars = ctx._source.n_chars "
                   "+ 1000000;")
        if resp["total"] != n_match or resp["updated"] != n_even_match \
                or resp["created"] != n_match - n_even_match:
            raise AssertionError(f"counters {resp} vs {n_match}/"
                                 f"{n_even_match}")
        return (dest.read().select("doc_id", "lang", "source", "n_chars")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("a3eh_es_update_doc", "A3+A7", """
SELECT doc_id, lang,
       CASE WHEN doc_id = 7 THEN n_chars + 500 ELSE n_chars END AS n_chars
FROM documents
UNION ALL
SELECT 999999 AS doc_id, 'xx' AS lang, 42 AS n_chars
""", "ES single-document _update (es_update): doc 7 partial-updates "
     "via a Painless script (n_chars += 500), a doc-form update that "
     "restates existing values returns 'noop' WITHOUT committing "
     "(version pinned to prove it - ES's detect_noop), and a missing "
     "id with an upsert document inserts ('created'). Post-state "
     "hash-checks all three outcomes in one read; each update is a "
     "point-pruned CoW commit touching only the file holding the "
     "doc.")
def a3eh_es_update_doc(spark, sf_dir):
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="ces_es_update_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(d)
        r1 = es_update(t, id_field="doc_id", id_value=7,
                       script="ctx._source.n_chars = "
                              "ctx._source.n_chars + 500;")
        # noop: restating doc 3's current values must not commit
        cur3 = t.read().filter(F.col("doc_id") == 3).collect()[0]
        v_before = t.current_version()
        r2 = es_update(t, id_field="doc_id", id_value=3,
                       doc={"lang": cur3["lang"],
                            "n_chars": cur3["n_chars"]})
        if t.current_version() != v_before:
            raise AssertionError("noop update committed")
        r3 = es_update(t, id_field="doc_id", id_value=999999,
                       doc={"n_chars": 0},
                       upsert={"lang": "xx", "n_chars": 42})
        if (r1["result"], r2["result"], r3["result"]) != (
                "updated", "noop", "created"):
            raise AssertionError(f"{r1} {r2} {r3}")
        return t.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
