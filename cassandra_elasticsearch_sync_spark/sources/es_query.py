"""ES query-DSL translator: bool/term/terms/range/exists/match/prefix
queries -> Catalyst predicates.

A user of the reference queries the ES side with the JSON query DSL.
This module lets those queries run against the engine directly: the
DSL dict compiles to a Column predicate, so Catalyst pushes the
resulting filters into the parquet scan exactly like any native
filter (the same pushdown `elasticsearch-hadoop` does for ES,
inverted).

Supported (the reference-era core DSL):
    {"term":   {field: value}}
    {"terms":  {field: [v1, v2, ...]}}
    {"range":  {field: {"gt"/"gte"/"lt"/"lte": value, ...}}}
    {"exists": {"field": field}}
    {"prefix": {field: value}}
    {"match":  {field: text}}        # token OR-containment on a text col
    {"bool":   {"must": [...], "should": [...], "must_not": [...]}}
    {"match_all": {}}
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RANGE_OPS = {
    "gt": lambda c, v: c > v,
    "gte": lambda c, v: c >= v,
    "lt": lambda c, v: c < v,
    "lte": lambda c, v: c <= v,
}


# ---------------------------------------------------------------------------
# Token-position interval algebra: the shared engine under the span
# family (span_term/span_near/span_or/span_not/span_first) and the
# intervals query (match/any_of/all_of). A clause compiles to an
# array<struct<s:int,e:int>> of matching token spans (s..e inclusive,
# 0-based) built from ONE split of the field via higher-order
# transform/filter/flatten - JVM lambdas end to end: no explode, no
# shuffle, no UDF, per-document work bounded by term frequency. The
# document-level predicate is simply size(intervals) > 0, so the whole
# family stays a single codegen-friendly scan filter at any corpus
# size.
# ---------------------------------------------------------------------------

def _pred_intervals(toks: Column, pred) -> Column:
    """Positions of tokens satisfying ``pred`` as zero-length spans
    [(p, p), ...] - the generalization under both span_term (equality)
    and span_multi (any multi-term token predicate)."""
    idx = F.transform(
        toks, lambda w, i: F.when(pred(w), i).otherwise(F.lit(-1)))
    return F.transform(F.filter(idx, lambda x: x >= 0),
                       lambda p: F.struct(p.alias("s"), p.alias("e")))


def _point_intervals(toks: Column, term) -> Column:
    """Positions of one term as zero-length spans [(p, p), ...]."""
    t = str(term).lower()
    return _pred_intervals(toks, lambda w: w == t)


def _multi_term_token_pred(clause: dict):
    """Compile a multi-term leaf (prefix/wildcard/regexp/fuzzy/range)
    to ``(field, token_predicate)`` for use inside ``span_multi``: the
    predicate evaluates ONE lowered token (Lucene rewrites the
    multi-term query against index terms; with the whitespace
    analyzer the token stream IS the term stream). An explicit
    ``rewrite`` parameter is rejected loudly - the top-N rewrite cap
    is unrepresentable without a term dictionary, and this compiler's
    expansion is unbounded (a recall SUPERSET of ES's capped rewrite,
    the match_phrase_prefix discipline)."""
    kind, body = next(iter(clause.items()))
    (field, spec), = body.items()
    if isinstance(spec, dict) and "rewrite" in spec:
        raise ValueError(
            "span_multi rewrite is unrepresentable without an index "
            "term dictionary (expansion here is unbounded - a recall "
            "superset of ES's capped rewrite); drop the parameter")
    if kind == "prefix":
        v = str(spec["value"] if isinstance(spec, dict) else spec).lower()
        return field, lambda w: w.startswith(v)
    if kind == "wildcard":
        raw = str(spec["value"] if isinstance(spec, dict) else spec).lower()
        if "\\" in raw:
            # ES treats backslash as an ESCAPE for the following
            # metacharacter ('\*' is a literal star); the naive
            # escape-then-substitute below would turn that into a
            # literal backslash PLUS a live any-run wildcard - a
            # silent semantic divergence. House rule for
            # unrepresentable parameters: reject loudly.
            raise ValueError(
                "wildcard values containing a backslash use ES escape "
                "semantics ('\\*' = literal star) which this compiler "
                "does not implement; remove the backslash")
        pat = (raw.replace("%", "\\%")
               .replace("_", "\\_").replace("*", "%").replace("?", "_"))
        return field, lambda w: w.like(pat)
    if kind == "regexp":
        raw = str(spec["value"] if isinstance(spec, dict) else spec).lower()
        return field, lambda w: w.rlike(f"^(?:{raw})$")
    if kind == "fuzzy":
        # DIVERGENCE (documented, not silent): Spark's levenshtein()
        # is CLASSIC edit distance, while ES fuzzy defaults to
        # Damerau-Levenshtein (transpositions=true) - a transposed
        # pair ('ahsh' vs 'hash') that ES matches at fuzziness 1
        # needs 2 classic edits and is missed here, i.e. recall is a
        # SUBSET of ES's on transposition-distance-1 tokens only.
        # Same rule as the top-level fuzzy leaf; stated loudly per
        # the geohex/categorize_text divergence discipline.
        if isinstance(spec, dict):
            value = str(spec["value"]).lower()
            fuzz = spec.get("fuzziness", "AUTO")
        else:
            value, fuzz = str(spec).lower(), "AUTO"
        if fuzz == "AUTO":
            n = len(value)
            fuzz = 0 if n <= 2 else (1 if n <= 5 else 2)
        edits = int(fuzz)
        return field, (lambda w:
                       F.levenshtein(w, F.lit(value)) <= F.lit(edits))
    if kind == "range":
        # lexicographic term range, Lucene's TermRangeQuery
        conds = [(op, str(v).lower()) for op, v in spec.items()]
        for op, _ in conds:
            if op not in _RANGE_OPS:
                raise ValueError(f"unsupported range op {op!r}")
        return field, (lambda w: reduce(
            lambda a, b: a & b,
            [_RANGE_OPS[op](w, F.lit(v)) for op, v in conds]))
    raise ValueError(f"span_multi cannot wrap {kind!r} (multi-term "
                     "leaves only: prefix/wildcard/regexp/fuzzy/range)")


def _combine_intervals(ia: Column, ib: Column, max_gaps: int,
                       ordered: bool) -> Column:
    """Pairs of non-overlapping sub-spans joined into covering spans.

    ``ordered`` demands the ``ia`` span strictly precede the ``ib``
    span; unordered accepts either direction (still non-overlapping -
    ES's rule for both span_near and all_of). ``max_gaps < 0`` means
    unlimited, ES's intervals default."""
    def gap_ok(gap):
        return F.lit(True) if max_gaps < 0 else (gap <= max_gaps)

    if ordered:
        def pairs(a):
            return F.transform(
                F.filter(ib, lambda b: (b["s"] > a["e"])
                         & gap_ok(b["s"] - a["e"] - 1)),
                lambda b: F.struct(a["s"].alias("s"), b["e"].alias("e")))
    else:
        def pairs(a):
            return F.transform(
                F.filter(ib, lambda b:
                         ((b["s"] > a["e"]) & gap_ok(b["s"] - a["e"] - 1))
                         | ((a["s"] > b["e"])
                            & gap_ok(a["s"] - b["e"] - 1))),
                lambda b: F.struct(F.least(a["s"], b["s"]).alias("s"),
                                   F.greatest(a["e"], b["e"]).alias("e")))
    return F.flatten(F.transform(ia, pairs))


def _span_field(clause: dict) -> str:
    """The single field a span-clause tree references (ES requires all
    sub-spans of one compound span to share a field)."""
    kind, body = next(iter(clause.items()))
    if kind == "span_term":
        (field, _), = body.items()
        return field
    if kind in ("span_near", "span_or"):
        fields = {_span_field(c) for c in body["clauses"]}
    elif kind == "span_not":
        fields = {_span_field(body["include"]), _span_field(body["exclude"])}
    elif kind == "span_first":
        fields = {_span_field(body["match"])}
    elif kind == "span_multi":
        field, _ = _multi_term_token_pred(body["match"])
        fields = {field}
    elif kind == "span_field_masking":
        # the whole point of the mask: the clause REPORTS the masked
        # field to the enclosing compound's shared-field validation,
        # while its intervals come from the inner clause's own field
        fields = {body["field"]}
    elif kind in ("span_within", "span_containing"):
        fields = {_span_field(body["little"]), _span_field(body["big"])}
    else:
        raise ValueError(f"unsupported span clause {kind!r}")
    if len(fields) != 1:
        raise ValueError(f"{kind} clauses must share one field, "
                         f"got {sorted(fields)}")
    return fields.pop()


def _span_intervals(toks: Column, clause: dict, toks_for=None) -> Column:
    """Compile a span clause to its interval set (module comment).

    ``toks_for(field)`` resolves the token-array column of ANOTHER
    field - needed only by ``span_field_masking``, whose inner clause
    evaluates over its OWN field's token stream while its positions
    compose with the outer field's (Lucene's SpanFieldMaskingQuery:
    the multi-analyzer same-text idiom; position streams line up
    exactly when the masked field is an alternate analysis of the
    same text, ES's documented caveat applies verbatim)."""
    kind, body = next(iter(clause.items()))
    if kind == "span_field_masking":
        if toks_for is None:
            raise ValueError(
                "span_field_masking needs a field-token resolver "
                "(top-level span compilation provides one)")
        inner = body["query"]
        return _span_intervals(toks_for(_span_field(inner)), inner,
                               toks_for)
    if kind == "span_term":
        (_, term), = body.items()
        return _point_intervals(toks, term)
    if kind == "span_multi":
        # the span wrapper around a multi-term query: every token the
        # wrapped prefix/wildcard/regexp/fuzzy/range leaf matches
        # becomes a zero-length span, composable inside any span
        # compound (Lucene's SpanMultiTermQueryWrapper). Expansion is
        # unbounded - see _multi_term_token_pred's rewrite note.
        _, pred = _multi_term_token_pred(body["match"])
        return _pred_intervals(toks, pred)
    if kind == "span_near":
        # two-clause form; N>2 (ES's running-slop composition) is
        # rejected, not guessed. Sub-clauses may be ANY span kind.
        clauses = body["clauses"]
        if len(clauses) != 2:
            raise ValueError("span_near supports exactly two clauses")
        return _combine_intervals(
            _span_intervals(toks, clauses[0], toks_for),
            _span_intervals(toks, clauses[1], toks_for),
            int(body.get("slop", 0)), bool(body.get("in_order", True)))
    if kind == "span_or":
        arrays = [_span_intervals(toks, c, toks_for)
                  for c in body["clauses"]]
        if not arrays:
            raise ValueError("span_or needs at least one clause")
        return F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    if kind == "span_not":
        # include spans with NO exclude span inside the pre/post
        # neighborhood (pre tokens before .. post tokens after -
        # pre=post=0 is ES's default overlap-only exclusion)
        inc = _span_intervals(toks, body["include"], toks_for)
        exc = _span_intervals(toks, body["exclude"], toks_for)
        pre, post = int(body.get("pre", 0)), int(body.get("post", 0))
        return F.filter(
            inc, lambda a: ~F.exists(
                exc, lambda b: (b["e"] >= a["s"] - pre)
                & (b["s"] <= a["e"] + post)))
    if kind == "span_first":
        # Lucene span ends are exclusive: a span ending at token p has
        # end position p+1, and span_first demands end <= `end`.
        inner = _span_intervals(toks, body["match"], toks_for)
        end = int(body["end"])
        return F.filter(inner, lambda a: a["e"] <= end - 1)
    if kind == "span_within":
        # the containment pair, little side: LITTLE spans enclosed by
        # some BIG span (Lucene's SpanWithinQuery - the match unit is
        # the little span)
        little = _span_intervals(toks, body["little"], toks_for)
        big = _span_intervals(toks, body["big"], toks_for)
        return F.filter(
            little, lambda a: F.exists(
                big, lambda b: (b["s"] <= a["s"]) & (a["e"] <= b["e"])))
    if kind == "span_containing":
        # the containment pair, big side: BIG spans that contain some
        # LITTLE span (SpanContainingQuery - the match unit is the
        # big span)
        little = _span_intervals(toks, body["little"], toks_for)
        big = _span_intervals(toks, body["big"], toks_for)
        return F.filter(
            big, lambda b: F.exists(
                little, lambda a: (b["s"] <= a["s"]) & (a["e"] <= b["e"])))
    raise ValueError(f"unsupported span clause {kind!r}")


def _interval_rule(toks: Column, rule: dict) -> Column:
    """Compile an ES intervals rule (match / any_of / all_of)."""
    kind, body = next(iter(rule.items()))
    if kind == "match":
        terms = [t for t in str(body["query"]).lower().split() if t]
        if not terms:
            raise ValueError("intervals match needs query terms")
        if len(terms) == 1:
            return _point_intervals(toks, terms[0])
        if len(terms) == 2:
            return _combine_intervals(
                _point_intervals(toks, terms[0]),
                _point_intervals(toks, terms[1]),
                int(body.get("max_gaps", -1)),
                bool(body.get("ordered", False)))
        raise ValueError("intervals match supports one or two terms "
                         "(the running minimal-interval composition "
                         "for longer phrases is rejected, not guessed)")
    if kind == "any_of":
        arrays = [_interval_rule(toks, r) for r in body["intervals"]]
        if not arrays:
            raise ValueError("any_of needs at least one sub-rule")
        return F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    if kind == "all_of":
        ivs = body["intervals"]
        if len(ivs) != 2:
            raise ValueError("all_of supports exactly two sub-rules")
        return _combine_intervals(
            _interval_rule(toks, ivs[0]), _interval_rule(toks, ivs[1]),
            int(body.get("max_gaps", -1)), bool(body.get("ordered", False)))
    raise ValueError(f"unsupported intervals rule {kind!r}")


def compile_query(q: dict, resolve=None) -> Column:
    """Compile an ES query-DSL dict to a Spark Column predicate.

    ``resolve`` maps a DSL field name to a Column (default ``F.col``);
    the ``nested`` clause rebinds it to struct-element access so inner
    clauses evaluate against ONE array element - the semantic that
    separates ES nested mappings from flattened objects."""
    if resolve is None:
        resolve = F.col
    if not isinstance(q, dict) or len(q) != 1:
        raise ValueError(f"expected a single-clause query dict, got {q!r}")
    kind, body = next(iter(q.items()))

    if kind == "match_all":
        return F.lit(True)
    if kind == "term":
        (field, value), = body.items()
        return resolve(field) == F.lit(value)
    if kind == "terms":
        (field, values), = body.items()
        return resolve(field).isin(*values)
    if kind == "range":
        (field, conds), = body.items()
        preds = [_RANGE_OPS[op](resolve(field), F.lit(v)) for op, v in conds.items()]
        return reduce(lambda a, b: a & b, preds)
    if kind == "exists":
        return resolve(body["field"]).isNotNull()
    if kind == "prefix":
        (field, value), = body.items()
        return resolve(field).startswith(value)
    if kind == "wildcard":
        # ES wildcard: * = any run, ? = any one char. Compile to LIKE
        # with SQL metacharacters escaped so literal %/_ in the
        # pattern stay literal. Backslash is ES's escape character
        # ('\*' = literal star) - unimplemented here, so it is
        # rejected loudly rather than silently mistranslated into a
        # literal backslash + live wildcard.
        (field, value), = body.items()
        if "\\" in str(value):
            raise ValueError(
                "wildcard values containing a backslash use ES escape "
                "semantics ('\\*' = literal star) which this compiler "
                "does not implement; remove the backslash")
        pat = (str(value).replace("%", "\\%")
               .replace("_", "\\_").replace("*", "%").replace("?", "_"))
        return resolve(field).like(pat)
    if kind == "match":
        # OR over whitespace tokens of the query text, word-boundary
        # containment on the document field (analyzer = whitespace).
        (field, text), = body.items()
        toks = [t for t in str(text).lower().split() if t]
        preds = [
            F.array_contains(F.split(F.lower(resolve(field)), " "), t)
            for t in toks
        ]
        return reduce(lambda a, b: a | b, preds) if preds else F.lit(False)
    if kind in ("span_near", "span_or", "span_not", "span_first",
                "span_within", "span_containing", "span_multi",
                "span_field_masking"):
        # The span family compiles through one position-INTERVAL
        # algebra (see _span_intervals): each span clause produces an
        # array<struct<s,e>> of matching token spans via higher-order
        # transform/filter/flatten lambdas over one split - all
        # JVM-side, no explode, no UDF, one scan - and the document
        # matches when the clause's interval set is non-empty.
        # toks_for resolves OTHER fields' token streams for
        # span_field_masking sub-clauses (same one-split shape).
        def toks_for(f):
            return F.split(F.lower(resolve(f)), " ")
        field = _span_field({kind: body})
        toks = toks_for(field)
        return F.size(_span_intervals(toks, {kind: body}, toks_for)) > 0
    if kind == "wrapper":
        # ES wrapper query: a base64-encoded JSON query (the escape
        # hatch clients use to embed queries in places that cannot
        # carry raw JSON). Decoded ONCE at compile time and recursed -
        # zero runtime cost, full pushdown for whatever it wraps.
        import base64
        import json as _json

        inner = _json.loads(base64.b64decode(body["query"]))
        return compile_query(inner, resolve)
    if kind == "intervals":
        # ES intervals query: the minimal-interval algebra (match /
        # any_of / all_of with ordered + max_gaps containment) over
        # the same interval machinery as the span family.
        (field, rule), = body.items()
        toks = F.split(F.lower(resolve(field)), " ")
        return F.size(_interval_rule(toks, rule)) > 0
    if kind == "multi_match":
        # OR of per-field match: doc matches if ANY listed field
        # contains ANY query token (best_fields-style boolean shape).
        text, fields = body["query"], body["fields"]
        per_field = [compile_query({"match": {f: text}}, resolve)
                     for f in fields]
        return reduce(lambda a, b: a | b, per_field) if per_field else F.lit(False)
    if kind == "combined_fields":
        # ES combined_fields (7.13+): the listed fields are treated as
        # ONE combined field - each query term may match in ANY field,
        # and with operator=and ALL terms must match SOMEWHERE across
        # them ('merge' in text, 'src1' in source both count). This is
        # the cross-field semantic multi_match best_fields cannot
        # express (there, operator=and requires all terms in one
        # field). operator=or is the plain any-term disjunction.
        # Boolean/filter context only (BM25F term-centric scoring is
        # not reproducible - the house BM25 rule). Compiles to an
        # AND-of-OR grid of word-boundary containments: JVM codegen,
        # one scan, no UDF.
        text, fields = body["query"], body["fields"]
        op = str(body.get("operator", "or")).lower()
        if op not in ("and", "or"):
            raise ValueError(f"combined_fields operator must be and|or, "
                             f"got {op!r}")
        toks = [t for t in str(text).lower().split() if t]
        if not toks or not fields:
            return F.lit(False)
        per_term = []
        for t in toks:
            in_any = [
                F.array_contains(F.split(F.lower(resolve(f)), " "), t)
                for f in fields]
            per_term.append(reduce(lambda a, b: a | b, in_any))
        combine = (lambda a, b: a & b) if op == "and" else \
            (lambda a, b: a | b)
        return reduce(combine, per_term)
    if kind == "bool":
        # Fully recursive: clauses may themselves be bool queries to
        # any depth ((A or (B and not C)) and D ...). `filter` is ES's
        # non-scoring must - identical predicate semantics here because
        # this engine compiles to filters, not scores.
        parts: list[Column] = []
        for clause in (*body.get("must", []), *body.get("filter", [])):
            parts.append(compile_query(clause, resolve))
        should = [compile_query(c, resolve) for c in body.get("should", [])]
        if should:
            msm = body.get("minimum_should_match")
            if msm is not None:
                # at least m of n optional clauses: a sum of 0/1 casts
                # - one expression, no self-join, codegen-friendly
                hits = reduce(
                    lambda a, b: a + b,
                    [F.when(F.coalesce(c, F.lit(False)), 1).otherwise(0)
                     for c in should])
                parts.append(hits >= F.lit(int(msm)))
            else:
                parts.append(reduce(lambda a, b: a | b, should))
        for clause in body.get("must_not", []):
            parts.append(~compile_query(clause, resolve))
        return reduce(lambda a, b: a & b, parts) if parts else F.lit(True)
    if kind == "nested":
        # ES nested query: the document matches when ANY element of the
        # nested-path array satisfies the WHOLE inner query - the same
        # element must meet every condition, which is exactly what a
        # flattened-object mapping cannot express. Compiles to the
        # higher-order exists() over the array column (JVM-side lambda,
        # no explode, no shuffle, no UDF); nesting recurses for
        # multi-level paths.
        path, inner = body["path"], body["query"]

        def elem_pred(x):
            def elem_resolve(field: str):
                if field.startswith(path + "."):
                    return x[field[len(path) + 1:]]
                return resolve(field)
            return compile_query(inner, elem_resolve)

        return F.exists(resolve(path), elem_pred)
    if kind == "geo_distance":
        # ES geo_distance filter: point within `distance` of the
        # origin, arc length on the mean-radius sphere (haversine, the
        # ES default). The geo field is a struct<lat,lon> column; the
        # whole predicate is JVM trig, pushdown-friendly, no UDF.
        body = dict(body)
        dist_m = _parse_distance_m(body.pop("distance"))
        (field, origin), = body.items()
        col = resolve(field)
        return _haversine_m(
            col["lat"], col["lon"],
            F.lit(float(origin["lat"])), F.lit(float(origin["lon"])),
        ) <= F.lit(dist_m)
    if kind == "geo_bounding_box":
        # ES geo_bounding_box: pure coordinate comparisons (no trig).
        # Dateline-crossing boxes (left > right) wrap like ES does.
        (field, box), = body.items()
        col = resolve(field)
        tl, br = box["top_left"], box["bottom_right"]
        lat_ok = (col["lat"] <= F.lit(float(tl["lat"]))) & \
                 (col["lat"] >= F.lit(float(br["lat"])))
        left, right = float(tl["lon"]), float(br["lon"])
        if left <= right:
            lon_ok = (col["lon"] >= F.lit(left)) & (col["lon"] <= F.lit(right))
        else:  # crosses the antimeridian
            lon_ok = (col["lon"] >= F.lit(left)) | (col["lon"] <= F.lit(right))
        return lat_ok & lon_ok
    if kind == "geo_shape":
        # ES geo_shape over a point field: envelope or polygon (with
        # holes), relation intersects/within/disjoint. For a POINT
        # the first two coincide (a point intersects a shape iff it
        # lies within it); `contains` is rejected - a point cannot
        # contain a polygon, and ES returning nothing there is a
        # mapping accident, not a semantic. Polygons compile to the
        # even-odd ray cast UNROLLED over the literal vertices: a sum
        # of per-edge when() crossing terms + a bounding-box guard -
        # pure arithmetic in whole-stage codegen, no geo library, no
        # UDF, and the bbox comparisons prune exactly like any range
        # filter. Vertices are GeoJSON [lon, lat], ES's own order.
        (field, spec), = body.items()
        col = resolve(field)
        inside = _point_in_shape(col, spec["shape"])
        relation = spec.get("relation", "intersects")
        if relation in ("intersects", "within"):
            return inside
        if relation == "disjoint":
            return ~inside
        raise ValueError(
            f"geo_shape relation {relation!r} unsupported on a point "
            "field (a point cannot contain a shape)")
    if kind == "match_phrase":
        # Whitespace-analyzer phrase match: the query tokens must
        # appear CONSECUTIVELY in the field's token stream. With a
        # single-space analyzer that is exactly a substring match on
        # the space-padded lowered text - no positions index needed.
        (field, text), = body.items()
        phrase = " ".join(str(text).lower().split())
        padded = F.concat(F.lit(" "), F.lower(resolve(field)), F.lit(" "))
        return padded.contains(f" {phrase} ")
    if kind == "match_phrase_prefix":
        # ES match_phrase_prefix (search-as-you-type's phrase form):
        # every term consecutive, the LAST term a PREFIX of the token
        # at its position - "merge jo" matches "merge join". With the
        # whitespace analyzer that is the space-padded substring match
        # WITHOUT the trailing pad: ' merge jo' matches any token
        # starting 'jo' right after 'merge'. One contains(), codegen.
        #
        # DOCUMENTED DIVERGENCE (ADVICE r9, same class as the BM25 /
        # rank_feature notes): real ES expands the last term against
        # at most max_expansions=50 candidate index terms and can
        # MISS matches beyond that cap; this compiler's prefix match
        # is unbounded, i.e. a strict superset of ES's recall and the
        # semantically-intended answer. An EXPLICIT max_expansions in
        # the body is rejected loudly - the index-term-order cap is
        # unrepresentable without a term dictionary - rather than
        # parsed-and-ignored.
        (field, text), = body.items()
        if isinstance(text, dict):
            if "max_expansions" in text:
                raise ValueError(
                    "match_phrase_prefix max_expansions is "
                    "unrepresentable without an index term dictionary "
                    "(this compiler's expansion is unbounded - a "
                    "recall superset of ES's 50-term default); drop "
                    "the parameter")
            if "query" not in text:
                raise ValueError(
                    "match_phrase_prefix object form requires 'query'")
            unsupported = set(text) - {"query"}
            if unsupported:
                # reject-loudly house rule: slop/analyzer/boost etc.
                # would change semantics if silently dropped
                raise ValueError(
                    "match_phrase_prefix: unsupported parameters "
                    f"{sorted(unsupported)!r} (only 'query' is "
                    "representable under the whitespace analyzer)")
            text = text["query"]
        phrase = " ".join(str(text).lower().split())
        padded = F.concat(F.lit(" "), F.lower(resolve(field)), F.lit(" "))
        return padded.contains(f" {phrase}")
    if kind == "match_bool_prefix":
        # ES match_bool_prefix (search-as-you-type): every analyzed
        # term except the LAST matches as a term SHOULD clause; the
        # last term matches as a PREFIX on any token - "quick brown
        # f" finds "quick brown fox". Whitespace analyzer here, so
        # term match = word-boundary containment and prefix = any
        # token startswith, both JVM higher-order expressions.
        (field, text), = body.items()
        toks = [t for t in str(text).lower().split() if t]
        if not toks:
            return F.lit(False)
        words = F.split(F.lower(resolve(field)), " ")
        preds = [F.array_contains(words, t) for t in toks[:-1]]
        preds.append(F.exists(
            words, lambda w: w.startswith(toks[-1])))
        return reduce(lambda a, b: a | b, preds)
    if kind == "fuzzy":
        # ES fuzzy query: Levenshtein edit distance <= fuzziness.
        # "AUTO" follows ES's documented ladder: 0 edits for terms of
        # length 0-2, 1 for 3-5, 2 above.
        # DIVERGENCE (documented, not silent): classic Levenshtein
        # here vs ES's default Damerau-Levenshtein
        # (transpositions=true) - a single transposition costs 2
        # edits for us, so recall is a SUBSET of ES's on
        # transposition-distance-1 terms. Same note as span_multi's
        # fuzzy leaf (_multi_term_token_pred).
        (field, spec), = body.items()
        if isinstance(spec, dict):
            value = str(spec["value"])
            fuzz = spec.get("fuzziness", "AUTO")
        else:
            value, fuzz = str(spec), "AUTO"
        if fuzz == "AUTO":
            n = len(value)
            fuzz = 0 if n <= 2 else (1 if n <= 5 else 2)
        return F.levenshtein(resolve(field), F.lit(value)) <= F.lit(int(fuzz))
    if kind == "regexp":
        # ES regexp queries are ANCHORED (the whole term must match) -
        # compile to rlike with explicit anchors so Spark's
        # find-anywhere rlike gets ES's full-match semantics.
        (field, pattern), = body.items()
        if isinstance(pattern, dict):
            pattern = pattern["value"]
        return resolve(field).rlike(f"^(?:{pattern})$")
    if kind == "ids":
        return resolve("_id").isin(*body["values"])
    if kind == "terms_set":
        # ES terms_set: an array field matches when at least
        # `minimum_should_match` of the listed terms are present
        # (each DISTINCT term counts once). array_intersect is the
        # JVM-side set intersection - no explode, no shuffle.
        # The PER-DOCUMENT threshold form -
        # `minimum_should_match_field` names a numeric column holding
        # each doc's own required count (ES's canonical use: a
        # required_matches field written at index time) - compiles to
        # the same intersection compared against that column.
        # `minimum_should_match_script` is rejected loudly: general
        # Painless-on-match-count needs machinery the bounded script
        # subset does not model.
        (field, spec), = body.items()
        if "minimum_should_match_script" in spec:
            raise ValueError(
                "terms_set minimum_should_match_script is not "
                "supported; use minimum_should_match_field or a "
                "constant minimum_should_match")
        msm_field = spec.get("minimum_should_match_field")
        if msm_field is not None and "minimum_should_match" in spec:
            raise ValueError(
                "terms_set takes minimum_should_match OR "
                "minimum_should_match_field, not both")
        terms = [str(t) for t in spec["terms"]]
        hits = F.size(F.array_intersect(
            resolve(field), F.array(*[F.lit(t) for t in terms])))
        if msm_field is not None:
            return hits >= resolve(msm_field).cast("int")
        need = int(spec.get("minimum_should_match", len(terms)))
        return hits >= F.lit(need)
    if kind == "dis_max":
        # dis_max: in ES the best-matching clause's score wins with a
        # tie_breaker for the rest; in FILTER context (this engine's
        # compilation target, same trade as bool/match) a doc matches
        # when ANY clause matches - the OR of the compiled clauses.
        clauses = [compile_query(c, resolve) for c in body["queries"]]
        if not clauses:
            raise ValueError("dis_max needs at least one clause")
        return reduce(lambda a, b: a | b, clauses)
    if kind == "constant_score":
        # constant_score wraps a filter and pins _score = boost; the
        # filter-context lowering is the inner filter itself.
        return compile_query(body["filter"], resolve)
    if kind == "boosting":
        # boosting: `negative` only DEMOTES scores (negative_boost),
        # it never excludes - so in filter context the match set is
        # exactly the positive query's. The negative clause still
        # compiles (validation: a malformed negative must not parse).
        compile_query(body["negative"], resolve)
        return compile_query(body["positive"], resolve)
    if kind == "query_string":
        # The Lucene-syntax search box: parse to a query-DSL tree and
        # recurse - the parser (es_querystring.py) adds no execution
        # machinery, so pushdown and parity ride the combinators above.
        from cassandra_elasticsearch_sync_spark.sources.es_querystring \
            import query_string_to_dsl
        dsl = query_string_to_dsl(
            body["query"], body.get("fields", []),
            body.get("default_operator", "or").lower())
        return compile_query(dsl, resolve)
    if kind == "simple_query_string":
        from cassandra_elasticsearch_sync_spark.sources.es_querystring \
            import simple_query_string_to_dsl
        dsl = simple_query_string_to_dsl(
            body["query"], body.get("fields", []),
            body.get("default_operator", "or").lower(),
            body.get("minimum_should_match"))
        return compile_query(dsl, resolve)
    raise ValueError(f"unsupported ES query clause: {kind}")


_DIST_UNITS_M = {"mm": 0.001, "cm": 0.01, "m": 1.0, "km": 1000.0,
                 "mi": 1609.344, "yd": 0.9144, "ft": 0.3048,
                 "nmi": 1852.0, "NM": 1852.0}

# ES GeoUtils.EARTH_MEAN_RADIUS (meters) - the sphere its haversine uses
_EARTH_RADIUS_M = 6371008.7714


def _parse_distance_m(s) -> float:
    """Parse an ES distance string ('500km', '10mi', '250m') to meters."""
    if isinstance(s, (int, float)):
        return float(s)
    txt = str(s).strip()
    for unit in sorted(_DIST_UNITS_M, key=len, reverse=True):
        if txt.endswith(unit):
            return float(txt[: -len(unit)]) * _DIST_UNITS_M[unit]
    return float(txt)  # bare number = meters, the ES default


def _haversine_m(lat1: Column, lon1: Column, lat2: Column,
                 lon2: Column) -> Column:
    """Great-circle distance in meters, haversine on the ES mean-radius
    sphere. Plain JVM trig columns (whole-stage codegen), identical
    formula on the DuckDB oracle side; 6-dp rounding absorbs libm ulp
    differences wherever the distance is *returned* (threshold
    comparisons carry the documented float-vs-cut caveat)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1) / 2.0
    dlmb = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dphi) * F.sin(dphi) + \
        F.cos(p1) * F.cos(p2) * F.sin(dlmb) * F.sin(dlmb)
    return F.lit(2.0 * _EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def _ring_edges(ring: list) -> list:
    """Non-horizontal edges of a closed [lon, lat] ring. Horizontal
    edges can never satisfy the crossing test ((y1>y) != (y2>y) is
    false when y1 == y2), so they are dropped HERE, in Python, where
    skipping them also keeps a division-by-zero expression out of the
    compiled plan entirely."""
    if len(ring) < 4 or ring[0] != ring[-1]:
        raise ValueError("polygon rings must be closed ([first == last]) "
                         "with at least 3 distinct vertices")
    out = []
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if y1 != y2:
            out.append((float(x1), float(y1), float(x2), float(y2)))
    return out


def _point_in_shape(col: Column, shape: dict) -> Column:
    """Point-in-shape predicate for geo_shape (see the compile_query
    comment). ``col`` is a struct<lat,lon> column; the shape is a
    LITERAL, so the even-odd ray cast unrolls at compile time."""
    y, x = col["lat"], col["lon"]
    stype = shape["type"].lower()
    if stype == "envelope":
        # ES envelope: [[minLon, maxLat], [maxLon, minLat]], dateline
        # wrap when left > right (same rule as geo_bounding_box)
        (left, top), (right, bottom) = shape["coordinates"]
        lat_ok = (y <= F.lit(float(top))) & (y >= F.lit(float(bottom)))
        if float(left) <= float(right):
            lon_ok = (x >= F.lit(float(left))) & (x <= F.lit(float(right)))
        else:
            lon_ok = (x >= F.lit(float(left))) | (x <= F.lit(float(right)))
        return lat_ok & lon_ok
    if stype == "polygon":
        rings = shape["coordinates"]  # outer ring + optional holes
        crossings = None
        for ring in rings:
            for x1, y1, x2, y2 in _ring_edges(ring):
                # the canonical even-odd crossing test; summing over
                # ALL rings makes holes subtract naturally (a point
                # inside outer+hole crosses each an odd time -> even)
                cond = ((F.lit(y1) > y) != (F.lit(y2) > y)) & \
                       (x < (F.lit(x2 - x1)) * (y - F.lit(y1))
                        / F.lit(y2 - y1) + F.lit(x1))
                term = F.when(cond, 1).otherwise(0)
                crossings = term if crossings is None else crossings + term
        xs = [float(p[0]) for p in rings[0]]
        ys = [float(p[1]) for p in rings[0]]
        bbox = (y >= F.lit(min(ys))) & (y <= F.lit(max(ys))) & \
               (x >= F.lit(min(xs))) & (x <= F.lit(max(xs)))
        return bbox & (crossings % 2 == 1)
    raise ValueError(f"unsupported geo_shape type {stype!r} "
                     "(envelope and polygon)")


def geo_shape_crossing_sql(shape: dict, lat: str = "lat",
                           lon: str = "lon") -> str:
    """The DuckDB twin of _point_in_shape's polygon branch - generated
    from the SAME vertex literals so the two sides cannot drift. Both
    engines evaluate the identical double-arithmetic edge tests, so
    the predicate is bit-identical (no trig, no tolerance)."""
    terms = []
    for ring in shape["coordinates"]:
        for x1, y1, x2, y2 in _ring_edges(ring):
            terms.append(
                f"CASE WHEN (({y1!r} > {lat}) != ({y2!r} > {lat})) AND "
                f"({lon} < {x2 - x1!r} * ({lat} - {y1!r}) / {y2 - y1!r} "
                f"+ {x1!r}) THEN 1 ELSE 0 END")
    xs = [float(p[0]) for p in shape["coordinates"][0]]
    ys = [float(p[1]) for p in shape["coordinates"][0]]
    crossings = " + ".join(terms)
    return (f"({lat} >= {min(ys)!r} AND {lat} <= {max(ys)!r} AND "
            f"{lon} >= {min(xs)!r} AND {lon} <= {max(xs)!r} AND "
            f"(({crossings}) % 2 = 1))")


# ---------------------------------------------------------------------------
# ES date math ("now-7d/d", "2024-01-05||+1M/M") for range queries
# ---------------------------------------------------------------------------

_DATE_MATH_RE = __import__("re").compile(
    r"^(?:now|(?P<anchor>.+?)\|\|)"
    r"(?P<ops>(?:[+-]\d+[yMwdhHms])*)"
    r"(?:/(?P<round>[yMwdhHms]))?$")
_DM_OP_RE = __import__("re").compile(r"([+-])(\d+)([yMwdhHms])")


def _add_months(d, n: int):
    import calendar

    m = d.month - 1 + n
    y, m = d.year + m // 12, m % 12 + 1
    return d.replace(year=y, month=m,
                     day=min(d.day, calendar.monthrange(y, m)[1]))


def parse_es_date_math(expr: str, now) -> "object":
    """Evaluate an ES date-math expression against an EXPLICIT anchor.

    Grammar (the ES docs' own): anchor ``now`` or ``<date>||``, then
    ``+N<unit>`` / ``-N<unit>`` steps (units y M w d h H m s, month
    arithmetic clamping to month end exactly as ES does), then an
    optional ``/<unit>`` FLOOR rounding (weeks round to Monday, ES's
    week start). ``now`` is a caller-supplied datetime - the engine's
    no-wall-clock rule restated: ES resolves ``now`` to server time
    once per request; a deterministic engine takes it as input.
    """
    import datetime as dt

    m = _DATE_MATH_RE.match(expr.strip())
    if not m:
        raise ValueError(f"unparseable ES date math: {expr!r}")
    if m.group("anchor") is not None:
        d = dt.datetime.fromisoformat(m.group("anchor"))
    else:
        if now is None:
            raise ValueError(
                f"date math {expr!r} uses 'now' but no anchor was "
                "supplied (pass now=... - deterministic engines take "
                "the clock as input)")
        d = now
    for sign, n, unit in _DM_OP_RE.findall(m.group("ops") or ""):
        k = int(n) * (1 if sign == "+" else -1)
        if unit == "y":
            d = _add_months(d, 12 * k)
        elif unit == "M":
            d = _add_months(d, k)
        elif unit == "w":
            d = d + dt.timedelta(weeks=k)
        elif unit == "d":
            d = d + dt.timedelta(days=k)
        elif unit in ("h", "H"):
            d = d + dt.timedelta(hours=k)
        elif unit == "m":
            d = d + dt.timedelta(minutes=k)
        else:  # "s"
            d = d + dt.timedelta(seconds=k)
    r = m.group("round")
    if r:
        if r == "y":
            d = d.replace(month=1, day=1, hour=0, minute=0, second=0,
                          microsecond=0)
        elif r == "M":
            d = d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        elif r == "w":
            d = (d - dt.timedelta(days=d.weekday())).replace(
                hour=0, minute=0, second=0, microsecond=0)
        elif r == "d":
            d = d.replace(hour=0, minute=0, second=0, microsecond=0)
        elif r in ("h", "H"):
            d = d.replace(minute=0, second=0, microsecond=0)
        elif r == "m":
            d = d.replace(second=0, microsecond=0)
        else:  # "s"
            d = d.replace(microsecond=0)
    return d


def _is_date_math(v) -> bool:
    return isinstance(v, str) and (v == "now" or v.startswith("now+")
                                   or v.startswith("now-")
                                   or v.startswith("now/") or "||" in v)


def resolve_date_math(query: dict, now) -> dict:
    """Walk a query-DSL tree and evaluate every date-math string in a
    ``range`` body to an ISO timestamp literal - a pure pre-pass, so
    the compiled predicate stays an ordinary pushdown-eligible range
    filter and ``compile_query`` never needs a clock."""
    if isinstance(query, list):
        return [resolve_date_math(q, now) for q in query]
    if not isinstance(query, dict):
        return query
    out = {}
    for k, v in query.items():
        if k == "range" and isinstance(v, dict):
            out[k] = {
                f: {op: (parse_es_date_math(val, now).isoformat(sep=" ")
                         if _is_date_math(val) else val)
                    for op, val in conds.items()}
                for f, conds in v.items()
            }
        else:
            out[k] = resolve_date_math(v, now)
    return out


def es_search(df: DataFrame, query: dict, now=None) -> DataFrame:
    """Filter df with an ES query-DSL dict (the scan-side of the ES
    source, pushdown included). ``now`` anchors any ES date-math
    strings (``now-7d/d``) in range clauses - resolved in a pure
    pre-pass so the compiled predicate is an ordinary range filter.
    The pre-pass runs UNCONDITIONALLY: an anchored expression like
    ``'2024-01-05||+1M/M'`` needs no clock, so it must resolve even
    when the caller omits ``now`` (otherwise it would reach the
    compiler as a plain string, cast to NULL against a timestamp
    column, and silently match nothing); ``now``-based forms without
    a ``now`` argument still fail loudly inside the parser."""
    query = resolve_date_math(query, now)
    return df.filter(compile_query(query))


# --------------------------------------------------------------------------
# Registered, oracle-verified DSL query (the user-facing proof)
# --------------------------------------------------------------------------

from cassandra_elasticsearch_sync_spark.catalog import load_table  # noqa: E402
from cassandra_elasticsearch_sync_spark.registry import register  # noqa: E402
from cassandra_elasticsearch_sync_spark.localdata import local_relation

_DSL_DEMO = {
    "bool": {
        "must": [
            {"terms": {"o_orderstatus": ["F", "P"]}},
            {"range": {"o_totalprice": {"gte": 100000, "lt": 300000}}},
        ],
        "should": [
            {"term": {"o_orderpriority": "1-URGENT"}},
            {"prefix": {"o_orderpriority": "2-"}},
        ],
        "must_not": [{"term": {"o_orderstatus": "O"}}],
    }
}


@register("a3b_es_dsl_search", "A3", """
SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus IN ('F', 'P')
  AND o_totalprice >= 100000 AND o_totalprice < 300000
  AND (o_orderpriority = '1-URGENT' OR o_orderpriority LIKE '2-%')
  AND NOT o_orderstatus = 'O'
""", "ES query-DSL execution: a bool/terms/range/prefix query compiled "
     "to Catalyst predicates (pushdown included); the oracle is the "
     "equivalent SQL WHERE - what the reference's ES side would return")
def a3b_es_dsl_search(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_search(o, _DSL_DEMO).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# ES aggregations DSL -> DataFrame aggregation plans
# ---------------------------------------------------------------------------

def _metric_column(name: str, spec: dict):
    """One ES metric sub-agg -> an exact-parity Spark aggregate column.

    sum/avg run through the decimal-exact helpers (parity.py) so the
    result hash-matches any engine; min/max/value_count are already
    order-independent.
    """
    from cassandra_elasticsearch_sync_spark.parity import davg, dsum

    (kind, body), = spec.items()
    field = body.get("field")
    if kind == "sum":
        return dsum(field, 2).alias(name)
    if kind == "avg":
        return F.round(davg(field, 4), 6).alias(name)
    if kind == "min":
        return F.min(field).alias(name)
    if kind == "max":
        return F.max(field).alias(name)
    if kind == "value_count":
        return F.count(field).alias(name)
    if kind == "weighted_avg":
        # ES weighted_avg metric: sum(value*weight)/sum(weight). Both
        # sums go through the decimal-exact rescale (value*weight keeps
        # <= 2 decimal digits for this corpus's 2-dp values x integer
        # weights), then ONE IEEE division of two exact doubles -
        # bit-parity safe, rounded to 6 dp like every returned float.
        v = F.col(body["value"]["field"])
        w = F.col(body["weight"]["field"])
        return F.round(dsum(v * w, 2) / dsum(w, 2), 6).alias(name)
    if kind == "cardinality":
        # ES's cardinality agg is HLL++-backed but EXACT below
        # precision_threshold (default 3000, docs-guaranteed); the
        # compiler uses exact COUNT DISTINCT so the result is
        # oracle-checkable and at-least-as-accurate. The at-scale swap
        # for genuinely huge per-bucket cardinalities is
        # approx_count_distinct (the D4 trade, same HLL sketch family
        # ES uses) - same plan, partial sketches merged map-side.
        return F.countDistinct(field).alias(name)
    raise ValueError(f"unsupported metric agg {kind!r}")


def _percentile_columns(name: str, body: dict) -> list:
    """ES ``percentiles`` metric agg -> one exact interpolated
    quantile column per requested percent, flattened to
    ``<name>_p<pct>`` the way ES clients flatten the keyed response.
    ES itself computes t-digest approximations; the compiler uses the
    EXACT interpolated quantile so the result is oracle-checkable -
    the documented accuracy contract is 'at least as accurate as ES',
    and the approximate swap at scale is approx_percentile (D6's
    documented trade)."""
    field = body["field"]
    return [
        F.round(F.percentile(field, F.lit(p / 100.0)), 6)
        .alias(f"{name}_p{int(p) if float(p).is_integer() else p}")
        for p in body.get("percents", (50, 95, 99))
    ]


def _metric_columns(name: str, spec: dict, parent: str | None = None) -> list:
    """ES metric sub-agg -> aggregate columns. Multi-valued metrics
    (``stats``) flatten to ``<name>_count/_min/_max/_sum/_avg`` the
    way ES clients flatten the response object.

    ``parent`` names the enclosing bucket context
    (``"date_histogram:<calendar_interval>"`` for date histograms,
    the bucket kind otherwise); metrics that ES only allows under a
    specific ancestor (``rate``) validate against it."""
    from cassandra_elasticsearch_sync_spark.parity import davg, dsum

    (kind, body), = spec.items()
    if kind == "stats":
        field = body["field"]
        return [
            F.count(field).alias(f"{name}_count"),
            F.min(field).alias(f"{name}_min"),
            F.max(field).alias(f"{name}_max"),
            dsum(field, 2).alias(f"{name}_sum"),
            F.round(davg(field, 4), 6).alias(f"{name}_avg"),
        ]
    if kind == "percentiles":
        return _percentile_columns(name, body)
    if kind == "boxplot":
        # ES boxplot metric agg: min/q1/q2/q3/max, flattened the way
        # clients flatten the response. ES computes t-digest quartiles;
        # exact interpolation here (the percentiles contract above).
        field = body["field"]
        return [
            F.min(field).alias(f"{name}_min"),
            F.round(F.percentile(field, F.lit(0.25)), 6)
             .alias(f"{name}_q1"),
            F.round(F.percentile(field, F.lit(0.5)), 6)
             .alias(f"{name}_q2"),
            F.round(F.percentile(field, F.lit(0.75)), 6)
             .alias(f"{name}_q3"),
            F.max(field).alias(f"{name}_max"),
        ]
    if kind == "top_metrics":
        # ES top_metrics (size=1, the deterministic subset): the
        # metric value carried by the doc that sorts first, plus the
        # sort value itself - ES's "latest reading per bucket" agg.
        # ES leaves sort ties undefined; this compiler totalizes the
        # order with the metric as tiebreak (struct comparison), so
        # the result is reproducible and oracle-checkable. max_by/
        # min_by keep it one hash-aggregate - no per-bucket sort, no
        # window; the at-scale shape of argmax.
        m = body["metrics"]["field"]
        (s_field, s_dir), = body["sort"].items()
        if s_dir not in ("asc", "desc"):
            raise ValueError(f"top_metrics sort must be asc|desc, got "
                             f"{s_dir!r}")
        ordc = F.struct(F.col(s_field), F.col(m))
        pick = F.max_by if s_dir == "desc" else F.min_by
        sortv = F.max(s_field) if s_dir == "desc" else F.min(s_field)
        return [
            pick(F.col(m), ordc).alias(f"{name}_{m}"),
            sortv.alias(f"{name}_sort"),
        ]
    if kind == "geo_centroid":
        # ES geo_centroid: arithmetic mean of lat/lon per bucket, plus
        # the count ES returns alongside. Coordinates in this model
        # carry <= 4 decimal digits (the _customer_geo derivation), so
        # the decimal-exact davg makes the mean order-independent -
        # the same discipline as every money average.
        field = body["field"]
        return [
            F.round(davg(F.col(f"{field}.lat"), 4), 6)
             .alias(f"{name}_lat"),
            F.round(davg(F.col(f"{field}.lon"), 4), 6)
             .alias(f"{name}_lon"),
            F.count(F.col(f"{field}.lat")).alias(f"{name}_count"),
        ]
    if kind == "rate":
        # ES rate agg (inside a calendar bucket): the bucket's sum
        # scaled to a per-`unit` rate with the CALENDAR-AWARE divisor
        # - a monthly bucket divides by that month's actual day count
        # (28/29/30/31), which is the whole point of the agg. ES
        # infers the bucket interval from the enclosing histogram;
        # this compiler cannot see its enclosing bucket, so the spec
        # names the date field explicitly (`date_field`) and the
        # divisor is max(dayofmonth(last_day(date))) - constant
        # within a bucket, so one more map-side aggregate. Only the
        # month->day case is implemented (the common cost/day panel);
        # the sum is decimal-exact, the single divide IEEE.
        # ES requires a date_histogram ancestor for rate; outside a
        # MONTHLY one the days-in-month divisor would silently produce
        # a wrong rate, so the compiler validates the parent context
        # instead (terms / filter / global / non-month histograms all
        # raise, matching ES's own rejection).
        if parent != "date_histogram:month":
            raise ValueError(
                "rate agg requires an enclosing date_histogram with "
                f"calendar_interval='month'; got parent={parent!r}")
        if body.get("unit", "day") != "day":
            raise ValueError("rate agg: only unit='day' is implemented")
        days = F.max(F.dayofmonth(F.last_day(F.col(body["date_field"]))))
        return [F.round(dsum(body["field"], 2) / days, 6).alias(name)]
    if kind == "geo_bounds":
        # ES geo_bounds: the tightest lat/lon box around the bucket's
        # points, flattened to the four corners ES nests as
        # top_left/bottom_right. Four min/max aggregates - map-side
        # partial, order-free by construction.
        field = body["field"]
        return [
            F.max(F.col(f"{field}.lat")).alias(f"{name}_top_left_lat"),
            F.min(F.col(f"{field}.lon")).alias(f"{name}_top_left_lon"),
            F.min(F.col(f"{field}.lat")).alias(f"{name}_bottom_right_lat"),
            F.max(F.col(f"{field}.lon")).alias(f"{name}_bottom_right_lon"),
        ]
    if kind == "extended_stats":
        # ES extended_stats = stats + sum_of_squares, POPULATION
        # variance and std-dev (ES's documented default). The corpus's
        # 2-dp values are squared in exact integer cents (cents^2 sums
        # stay < 2^63 through sf10; bigint->double conversion is
        # correctly-rounded identically on both engines) - a double
        # product would differ in the last ulp because the engines
        # cast double->decimal through different expansions. Variance
        # and std_deviation are then IEEE expressions over exact
        # doubles - bit-parity-safe, rounded at 6 dp like every float.
        field = body["field"]
        cents = F.round(F.col(field) * 100).cast("bigint")
        n = F.count(field)
        s = dsum(field, 2)
        sos = (F.sum(cents * cents).cast("double") / F.lit(10000.0))
        var = sos / n - (s / n) * (s / n)
        return [
            n.alias(f"{name}_count"),
            F.min(field).alias(f"{name}_min"),
            F.max(field).alias(f"{name}_max"),
            s.alias(f"{name}_sum"),
            F.round(davg(field, 4), 6).alias(f"{name}_avg"),
            sos.alias(f"{name}_sum_of_squares"),
            F.round(var, 6).alias(f"{name}_variance"),
            F.round(F.sqrt(var), 6).alias(f"{name}_std_deviation"),
        ]
    return [_metric_column(name, spec)]


def _script_expr(body: dict) -> Column:
    """Compile an ES bucket_script/bucket_selector Painless arithmetic
    script into a Spark SQL expression over the bucket table. The
    supported subset is what real dashboards use: ``params.X``
    references bound via ``buckets_path``, arithmetic, comparisons,
    and parentheses. Params substitute as double-cast backtick column
    refs (longest name first, so ``params.ab`` never collides with
    ``params.a``)."""
    expr = body["script"]
    paths = body["buckets_path"]
    for p in sorted(paths, key=len, reverse=True):
        col = paths[p]
        if col == "_count":  # ES alias for the bucket's doc_count
            col = "doc_count"
        expr = expr.replace(f"params.{p}", f"CAST(`{col}` AS DOUBLE)")
    return F.expr(expr)


def _apply_bucket_pipeline(out: DataFrame, bucket_pipeline: dict) -> DataFrame:
    """ES parent pipeline aggs that reshape the bucket LIST itself:
    ``bucket_script`` derives a per-bucket metric from sibling metrics,
    ``bucket_selector`` is HAVING over buckets, ``bucket_sort``
    re-orders/paginates them. All three run over the post-aggregation
    bucket table (cardinality = bucket count, corpus-size independent),
    so each is a narrow projection/filter/TakeOrdered over a bounded
    relation - no additional scan, shuffle, or window over row data.
    Applied in spec order, as ES evaluates them, so a selector can
    reference a script-derived metric defined before it."""
    for n, s in bucket_pipeline.items():
        (kind, body), = s.items()
        if kind == "bucket_script":
            out = out.withColumn(
                n, F.round(_script_expr(body).cast("double"), 6))
        elif kind == "bucket_selector":
            out = out.filter(_script_expr(body).cast("boolean"))
        elif kind == "bucket_sort":
            order = []
            for spec_ in body.get("sort", []):
                (f_, od), = spec_.items()
                c = F.col(f_)
                order.append(
                    c.desc() if od.get("order", "asc") == "desc" else c.asc())
            if order:
                # deterministic tiebreak on the bucket key, like every
                # other compiled agg in this module
                out = out.orderBy(*order, F.col("key"))
            if body.get("from"):
                out = out.offset(int(body["from"]))
            if "size" in body:
                out = out.limit(int(body["size"]))
    return out


def _attach_two_pass_metrics(out: DataFrame, df: DataFrame, field: str,
                             two_pass: dict) -> DataFrame:
    """Join two-pass metric frames onto the sized bucket table.

    ``median_absolute_deviation`` is median(|x - median(x)|): the inner
    median must exist before deviations can (ES approximates both with
    one t-digest; the exact twin is two grouped passes - the
    k_mad_outliers shape). ``string_stats`` needs a character
    distribution for its Shannon entropy. Both scope the extra passes
    to the SURVIVING buckets first (a broadcast semi join against the
    <= size bucket keys), so the second scans reduce immediately and
    every join here is bucket-count-sized. Entropy/MAD round at 6 dp -
    the engine's libm-boundary convention (log2 is the one libm call).
    """
    if not two_pass:
        return out
    keys = out.select(F.col("key").alias(field)).distinct()
    scoped = df.join(F.broadcast(keys), field, "left_semi")
    for n, s in two_pass.items():
        (kind, body), = s.items()
        v = body["field"]
        if kind == "median_absolute_deviation":
            med = scoped.groupBy(F.col(field).alias("key")).agg(
                F.percentile(v, F.lit(0.5)).alias("__med"))
            dev = (
                scoped.select(F.col(field).alias("key"),
                              F.col(v).alias("__v"))
                .join(F.broadcast(med), "key")
                .select("key", F.abs(F.col("__v") - F.col("__med"))
                        .alias("__dev"))
            )
            madf = dev.groupBy("key").agg(
                F.round(F.percentile("__dev", F.lit(0.5)), 6).alias(n))
            out = out.join(F.broadcast(madf), "key", "left")
        elif kind == "string_stats":
            length = F.length(F.col(v))
            lens = scoped.groupBy(F.col(field).alias("key")).agg(
                F.count(v).alias(f"{n}_count"),
                F.min(length).cast("bigint").alias(f"{n}_min_length"),
                F.max(length).cast("bigint").alias(f"{n}_max_length"),
                F.round(F.sum(length).cast("double") / F.count(v), 6)
                 .alias(f"{n}_avg_length"),
            )
            chars = (
                scoped.select(F.col(field).alias("key"),
                              F.explode(F.split(F.col(v), "")).alias("__ch"))
                .filter(F.col("__ch") != "")
                .groupBy("key", "__ch").agg(F.count("*").alias("__c"))
            )
            # Shannon entropy over characters, base 2:
            #   log2(N) - (sum c*log2(c)) / N  with N = sum c
            ent = chars.groupBy("key").agg(
                F.round(
                    F.log2(F.sum("__c"))
                    - F.sum(F.col("__c") * F.log2("__c")) / F.sum("__c"),
                    6).alias(f"{n}_entropy"))
            out = (out.join(F.broadcast(lens), "key", "left")
                   .join(F.broadcast(ent), "key", "left"))
        else:  # pragma: no cover - guarded by the two_pass filter
            raise ValueError(f"unsupported two-pass metric {kind!r}")
    return out


def es_aggregate(df: DataFrame, aggs: dict,
                 background: DataFrame | None = None) -> DataFrame:
    """Run an ES aggregations-DSL dict against a DataFrame.

    Supported bucket aggs (one top-level bucket, ES's common shape):
      {"<name>": {"terms": {"field": f, "size": n}, "aggs": {...}}}
      {"<name>": {"date_histogram": {"field": f,
                                     "calendar_interval": "month"},
                  "aggs": {...}}}

    terms buckets order by doc_count desc with the bucket key as the
    deterministic tiebreak (ES semantics + reproducibility), sized via
    a distributed TakeOrderedAndProject - never a global single-
    partition window. date_histogram truncates to the calendar unit
    JVM-side so the bucket key is a plain string.
    """
    (name, spec), = aggs.items()

    def _is_bucket(s: dict) -> bool:
        return any(k in s for k in ("terms", "date_histogram", "range", "date_range", "composite",
                                    "significant_terms", "filter", "histogram",
                                    "rare_terms"))

    if "global" in spec:
        # global bucket: ESCAPES the search's query scope - metrics
        # over the WHOLE index regardless of the query (the
        # "filtered KPI vs overall KPI" comparison card). Needs the
        # unfiltered relation, passed as `background` like
        # significant_terms; compiles to one single-row aggregate on
        # it (doc_count always present, per the ES response).
        if background is None:
            raise ValueError("global agg needs the background df")
        sub_metrics = [
            c for n, s in spec.get("aggs", {}).items()
            for c in _metric_columns(n, s)
        ]
        return background.agg(F.count("*").alias("doc_count"), *sub_metrics)

    if "filters" in spec:
        # filters (plural) bucket agg: SEVERAL named sub-scopes, each
        # with its own query and the SHARED metric sub-aggs - the
        # multi-KPI dashboard row. ES evaluates every filter against
        # every doc in ONE pass (buckets may overlap), so the compiler
        # emits ONE aggregate with per-bucket masked columns
        # (when(cond, x) - sum/count skip the nulls) and then reshapes
        # the single result row into one row per named bucket with an
        # explode(array(struct...)) projection: single scan, single
        # shuffle-free map-side-partial agg, at any corpus size.
        named = dict(spec["filters"]["filters"])
        # other_bucket(_key): the catch-all bucket for docs matching
        # NO named filter - ES's "everything else" dashboard slice.
        # Same one-pass compilation: its mask is the negation of the
        # OR of every named condition (null-safe via coalesce: a doc
        # whose field is null matches no filter, so it belongs HERE,
        # exactly as ES places it).
        other_key = None
        if spec["filters"].get("other_bucket"):
            other_key = spec["filters"].get("other_bucket_key", "_other_")
            if other_key in named:
                # A colliding key would silently replace a user-named
                # bucket with the catch-all - fail loudly instead.
                raise ValueError(
                    f"other_bucket_key {other_key!r} collides with a "
                    "named filter bucket")
        sub = spec.get("aggs", {})
        from cassandra_elasticsearch_sync_spark.parity import davg, dsum
        agg_cols = []
        metric_names = ["doc_count"] + list(sub)
        conds = {bname: compile_query(q) for bname, q in named.items()}
        if other_key is not None:
            none_matched = ~reduce(
                lambda a, b: a | b,
                [F.coalesce(c, F.lit(False)) for c in conds.values()])
            conds[other_key] = none_matched
            named[other_key] = None
        for bname in named:
            cond = conds[bname]
            agg_cols.append(
                F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
                .alias(f"{bname}||doc_count"))
            for n, s in sub.items():
                (kind, body), = s.items()
                masked = F.when(cond, F.col(body["field"]))
                if kind == "sum":
                    c = dsum(masked, 2)
                elif kind == "avg":
                    c = F.round(davg(masked, 4), 6)
                elif kind == "min":
                    c = F.min(masked)
                elif kind == "max":
                    c = F.max(masked)
                elif kind == "value_count":
                    c = F.count(masked)
                else:
                    raise ValueError(
                        f"unsupported metric {kind!r} inside filters agg")
                agg_cols.append(c.alias(f"{bname}||{n}"))
        one = df.agg(*agg_cols)
        return one.select(F.explode(F.array(*[
            F.struct(F.lit(b).alias("key"),
                     *[F.col(f"`{b}||{m}`").alias(m)
                       for m in metric_names])
            for b in named])).alias("b")).select("b.*")

    if "filter" in spec:
        # filter bucket: one named sub-scope of the search context with
        # its own metric sub-aggs - ES's "segment KPI" shape. Compiles
        # to predicate + single-row aggregate (plus doc_count, always
        # present in the ES response).
        sub_metrics = [
            c for n, s in spec.get("aggs", {}).items()
            for c in _metric_columns(n, s)
        ]
        return (
            df.filter(compile_query(spec["filter"]))
            .agg(F.count("*").alias("doc_count"), *sub_metrics)
        )

    if "missing" in spec:
        # missing bucket: docs WITHOUT a value for the field (ES's
        # data-quality facet - "how many hits lack a price"). One
        # isNull predicate + single-row aggregate with the sub-aggs,
        # the same shape as the filter bucket.
        field = spec["missing"]["field"]
        sub_metrics = [
            c for n, s in spec.get("aggs", {}).items()
            for c in _metric_columns(n, s)
        ]
        return (
            df.filter(F.col(field).isNull())
            .agg(F.count("*").alias("doc_count"), *sub_metrics)
        )

    if "significant_terms" in spec:
        # significant_terms: which terms are OVER-represented in the
        # foreground (the query-filtered df) vs the background (the
        # whole index)? Scored with ES's default JLH:
        #   (fg% - bg%) * (fg% / bg%)
        # - the "what makes this slice different" facet behind anomaly
        # drill-downs and guided navigation. Shape: one groupBy on
        # each side (both map-side partial), the per-term join and the
        # two 1-row totals are broadcast - at 100 TB the heavy scans
        # reduce before anything shuffles. Score arithmetic is four
        # IEEE ops on exactly-converted counts, in identical textual
        # order in the oracle - bit-parity safe, no libm.
        if background is None:
            raise ValueError("significant_terms needs the background df")
        body = spec["significant_terms"]
        field, size = body["field"], body.get("size", 10)
        fg = df.groupBy(F.col(field).alias("key")).agg(
            F.count("*").alias("doc_count"))
        bg = background.groupBy(F.col(field).alias("key")).agg(
            F.count("*").alias("bg_count"))
        fg_n = df.agg(F.count("*").alias("fg_n"))
        bg_n = background.agg(F.count("*").alias("bg_n"))
        fgp = F.col("doc_count").cast("double") / F.col("fg_n").cast("double")
        bgp = F.col("bg_count").cast("double") / F.col("bg_n").cast("double")
        score = (fgp - bgp) * (fgp / bgp)
        return (
            fg.join(F.broadcast(bg), "key")
            .crossJoin(F.broadcast(fg_n))
            .crossJoin(F.broadcast(bg_n))
            .select("key", "doc_count", "bg_count",
                    F.round(score, 6).alias("score"), score.alias("_s"))
            .filter(F.col("_s") > 0)
            .orderBy(F.col("_s").desc(), "key")
            .limit(size)
            .drop("_s")
        )

    bucket_subs = {
        n: s for n, s in spec.get("aggs", {}).items() if _is_bucket(s)
    }
    top_hits = {
        n: s["top_hits"] for n, s in spec.get("aggs", {}).items()
        if "top_hits" in s
    }
    pipeline_subs = {
        n: s for n, s in spec.get("aggs", {}).items()
        if any(k in s for k in ("cumulative_sum", "derivative",
                                "moving_avg", "serial_diff",
                                "moving_percentiles"))
    }
    bucket_pipeline = {
        n: s for n, s in spec.get("aggs", {}).items()
        if any(k in s for k in ("bucket_script", "bucket_selector",
                                "bucket_sort"))
    }
    # Two-pass metrics: aggregates whose value needs a second grouped
    # pass over the rows (a nested median, a character distribution) -
    # they cannot be one aggregate expression, so they compute as
    # separate bucket-keyed frames joined onto the bucket table.
    two_pass = {
        n: s for n, s in spec.get("aggs", {}).items()
        if "median_absolute_deviation" in s or "string_stats" in s
    }
    # The enclosing bucket context, handed to every metric column so
    # ancestor-constrained metrics (rate) can validate where they sit.
    if "date_histogram" in spec:
        _parent = "date_histogram:" + str(
            spec["date_histogram"].get("calendar_interval")
            or spec["date_histogram"].get("fixed_interval"))
    else:
        _parent = next((k for k in spec if k != "aggs"), None)
    sub = [
        c for n, s in spec.get("aggs", {}).items()
        if not _is_bucket(s) and "top_hits" not in s
        and n not in pipeline_subs and n not in bucket_pipeline
        and n not in two_pass
        for c in _metric_columns(n, s, parent=_parent)
    ]
    if two_pass and "terms" not in spec:
        raise ValueError(
            "median_absolute_deviation/string_stats are supported "
            "under terms buckets; got them under "
            f"{sorted(k for k in spec if k != 'aggs')}")
    if pipeline_subs and "date_histogram" not in spec:
        # fail loudly instead of silently dropping the pipeline agg
        raise ValueError(
            "pipeline aggs (cumulative_sum/derivative/moving_avg/"
            "serial_diff) are supported under date_histogram buckets; "
            f"got them under {sorted(k for k in spec if k != 'aggs')}")
    if bucket_pipeline and (
        top_hits or bucket_subs
        or not ("terms" in spec or "date_histogram" in spec)
    ):
        raise ValueError(
            "bucket_script/bucket_selector/bucket_sort are supported "
            "under plain terms or date_histogram buckets")
    if "terms" in spec and top_hits:
        # top_hits inside terms: per bucket, the actual top documents
        # (not a metric) - the "show me the 2 biggest orders per
        # priority" result card. ES computes per-shard top hits and
        # merges; the Spark twin is the same shape: grouped counts pick
        # the top-size buckets (broadcast - terms size is small by
        # contract), then a per-bucket row_number over the caller's
        # sort keeps the hits. The caller's sort MUST be a total order
        # (ES breaks ties by internal doc id, which is not
        # reproducible; requiring an explicit unique tiebreak is the
        # deterministic restatement). The window partitions by bucket
        # key; per-bucket data volume is the bucket's rows, so for
        # pathological single-bucket skew the e4-style two-pass
        # top-k (operators/distributed_order.py) is the documented
        # swap - same output, pre-aggregated per partition.
        (_, body), = top_hits.items()
        field = spec["terms"]["field"]
        so = spec["terms"].get("size", 10)
        size = body.get("size", 3)
        source = body["_source"]
        sort = body.get("sort", [])
        counts = df.groupBy(F.col(field).alias("key")).agg(
            F.count("*").alias("doc_count"), *sub)
        outer_top = counts.orderBy(
            F.col("doc_count").desc(), F.col("key")).limit(so)
        order_cols = []
        for s in sort:
            (sf_, od), = s.items()
            c = F.col(sf_)
            order_cols.append(
                c.desc() if od.get("order", "asc") == "desc" else c.asc())
        from pyspark.sql import Window

        w = Window.partitionBy("key").orderBy(*order_cols)
        need = list(dict.fromkeys(
            [*source, *[next(iter(s)) for s in sort]]))
        rows = df.select(F.col(field).alias("key"), *need)
        return (
            rows.join(F.broadcast(outer_top.select("key", "doc_count")), "key")
            .withColumn("hit_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("hit_rank") <= size)
            .select("key", "doc_count", "hit_rank", *source)
        )
    if "terms" in spec and bucket_subs:
        # Nested bucket agg: terms within terms, the faceted-drilldown
        # shape (outer buckets -> top inner buckets each). Flattened to
        # rows the way ES clients flatten the nested response. One
        # grouped aggregate on (outer, inner) + a broadcast top-size
        # outer filter + a per-outer top-size window - inner windows
        # are bounded by the outer bucket's distinct inner keys.
        (inner_name, inner_spec), = bucket_subs.items()
        if "terms" not in inner_spec:
            raise ValueError("nested bucket sub-agg supports terms-in-terms")
        fo, so = spec["terms"]["field"], spec["terms"].get("size", 10)
        fi = inner_spec["terms"]["field"]
        si = inner_spec["terms"].get("size", 10)
        inner_metrics = [
            c for n, s in inner_spec.get("aggs", {}).items()
            for c in _metric_columns(n, s)
        ]
        grouped = (
            df.groupBy(F.col(fo).alias("key"), F.col(fi).alias(inner_name))
            .agg(F.count("*").alias("doc_count"), *inner_metrics)
        )
        outer_top = (
            grouped.groupBy("key")
            .agg(F.sum("doc_count").alias("outer_doc_count"))
            .orderBy(F.col("outer_doc_count").desc(), F.col("key"))
            .limit(so)
        )
        from pyspark.sql import Window

        w = Window.partitionBy("key").orderBy(
            F.col("doc_count").desc(), F.col(inner_name)
        )
        return (
            grouped.join(F.broadcast(outer_top), "key")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= si)
            .drop("__rn")
        )
    if "terms" in spec:
        field = spec["terms"]["field"]
        size = spec["terms"].get("size", 10)
        key_expr = F.col(field)
        if "missing" in spec["terms"]:
            # ES terms `missing` parameter: docs WITHOUT a field value
            # land in a bucket keyed by the literal - one coalesce,
            # the null bucket folds in the same single aggregate
            key_expr = F.coalesce(key_expr,
                                  F.lit(spec["terms"]["missing"]))
        grouped = df.groupBy(key_expr.alias("key")).agg(
            F.count("*").alias("doc_count"), *sub)
        mdc = int(spec["terms"].get("min_doc_count", 1))
        if mdc > 1:
            # ES min_doc_count: drop buckets below the floor BEFORE
            # sizing (a post-aggregate filter, bucket-count sized)
            grouped = grouped.filter(F.col("doc_count") >= mdc)
        order = spec["terms"].get("order")
        if order:
            # ES terms order: by a sub-aggregation metric, _count, or
            # _key - still one TakeOrderedAndProject over the grouped
            # aggregate, never a full sort.
            (ocol, odir), = order.items()
            c = (F.col("key") if ocol == "_key"
                 else F.col("doc_count") if ocol == "_count"
                 else F.col(ocol))
            lead = c.desc() if odir == "desc" else c.asc()
            out = grouped.orderBy(lead, F.col("key")).limit(size)
        else:
            out = grouped.orderBy(
                F.col("doc_count").desc(), F.col("key")).limit(size)
        out = _attach_two_pass_metrics(out, df, field, two_pass)
        return _apply_bucket_pipeline(out, bucket_pipeline)
    if "sampler" in spec or "diversified_sampler" in spec:
        # sampler / diversified_sampler: run the sub-metrics over a
        # bounded SAMPLE of the scope instead of the whole corpus -
        # ES's "cheap representative KPI" bucket. ES orders the sample
        # by _score; scores are not reproducible cross-engine, so the
        # deterministic stand-in (the repo's no-runtime-randomness
        # rule) is an explicit `hash_field` ranked by a 31-bit LCG mix
        # ((k % 2^31) * 1103515245 + 12345) % 2^31 - plain bigint
        # arithmetic, bijective on keys < 2^31, identical in any
        # engine. The sample is a TakeOrderedAndProject (distributed
        # top-k, never a global sort); diversified_sampler first caps
        # docs per `field` value via a row_number over a PARTITIONED
        # window (the de-bias against dominant values ES documents).
        kind = "sampler" if "sampler" in spec else "diversified_sampler"
        body = spec[kind]
        key_field = body["hash_field"]
        shard_size = int(body.get("shard_size", 100))
        L = 2147483648
        h = ((F.col(key_field) % L) * 1103515245 + 12345) % L
        base = df.withColumn("__h", h)
        if kind == "diversified_sampler":
            from pyspark.sql import Window
            dfield = body["field"]
            cap = int(body.get("max_docs_per_value", 1))
            w = Window.partitionBy(dfield).orderBy(
                F.col("__h").asc(), F.col(key_field).asc())
            base = (base.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= cap).drop("__rn"))
        sample = (base.orderBy(F.col("__h").asc(), F.col(key_field).asc())
                  .limit(shard_size).drop("__h"))
        return sample.agg(F.count("*").alias("doc_count"), *sub)
    if "composite" in spec:
        # Composite agg: deterministic pagination over the FULL bucket
        # space, ordered ascending by the compound source key, resuming
        # after a cursor - how ES clients sweep every bucket of a
        # high-cardinality aggregation without deep terms sizes. The
        # after-cursor compiles to a lexicographic predicate on the
        # grouped keys; at scale the page is a
        # TakeOrderedAndProject over the aggregate, never a full sort.
        body = spec["composite"]
        srcs = []
        for s in body["sources"]:
            (sname, sdef), = s.items()
            srcs.append((sname, sdef["terms"]["field"]))
        size = body.get("size", 10)
        after = body.get("after")
        grouped = df.groupBy(
            *[F.col(f).alias(n) for n, f in srcs]
        ).agg(F.count("*").alias("doc_count"), *sub)
        if after is not None:
            pred = F.lit(False)
            eq = F.lit(True)
            for n, _ in srcs:
                pred = pred | (eq & (F.col(n) > F.lit(after[n])))
                eq = eq & (F.col(n) == F.lit(after[n]))
            grouped = grouped.filter(pred)
        return grouped.orderBy(*[F.col(n) for n, _ in srcs]).limit(size)
    if "date_histogram" in spec:
        body = spec["date_histogram"]
        if body.get("fixed_interval"):
            # ES fixed_interval ("30m", "2h", "7d", "90s"): buckets are
            # epoch-floored multiples of the interval, key = the bucket
            # start. unix_timestamp on the session-UTC clock + integer
            # floor-multiply - exact arithmetic, renders identically on
            # both engines ('yyyy-MM-dd HH:mm:ss').
            secs = _parse_fixed_interval_s(body["fixed_interval"])
            epoch = F.unix_timestamp(
                F.col(body["field"]).cast("timestamp"))
            key = F.from_unixtime(
                F.floor(epoch / F.lit(secs)) * F.lit(secs)).alias("key")
        elif body["calendar_interval"] == "week":
            # calendar week starts Monday (ES's default; date_trunc
            # agrees on both engines), keyed by the week-start date
            key = F.date_format(
                F.date_trunc("week", F.col(body["field"])),
                "yyyy-MM-dd").alias("key")
        else:
            unit = {"month": "yyyy-MM", "day": "yyyy-MM-dd",
                    "year": "yyyy", "hour": "yyyy-MM-dd HH",
                    "minute": "yyyy-MM-dd HH:mm"}[
                body["calendar_interval"]
            ]
            key = F.date_format(F.col(body["field"]), unit).alias("key")
        out = df.groupBy(key).agg(F.count("*").alias("doc_count"), *sub)
        if pipeline_subs:
            # ES pipeline aggregations (cumulative_sum / derivative):
            # second-pass aggs over the BUCKET SEQUENCE in key order,
            # referencing a sibling metric via buckets_path. The window
            # here runs over the post-aggregation bucket table, whose
            # cardinality is the calendar-bucket count (a century of
            # months is 1200 rows) - bounded and scan-independent, so
            # a single-partition window over it is the correct plan at
            # any corpus size (documented exception to the registry
            # plan sweep). Arithmetic is decimal-exact: the running
            # sum accumulates DECIMAL(38,2), cast to double only at
            # the edge, so cross-engine hashes match without float
            # accumulation-order hazards.
            from pyspark.sql import Window

            w_run = Window.orderBy("key").rowsBetween(
                Window.unboundedPreceding, Window.currentRow)
            w_lag = Window.orderBy("key")
            for n, s in pipeline_subs.items():
                (kind, b), = s.items()
                dec = F.col(b["buckets_path"]).cast("decimal(38,2)")
                if kind == "cumulative_sum":
                    out = out.withColumn(
                        n, F.sum(dec).over(w_run).cast("double"))
                elif kind == "derivative":
                    # ES emits no derivative for the first bucket: NULL.
                    out = out.withColumn(
                        n, (dec - F.lag(dec).over(w_lag)).cast("double"))
                elif kind == "moving_avg":
                    # ES moving_fn/unweightedAvg: the window covers the
                    # `window` buckets BEFORE the current one, current
                    # excluded (shift=0 semantics); an empty window is
                    # NULL. Decimal sum / exact count, rounded at 6 dp.
                    wsize = b.get("window", 5)
                    w_mv = Window.orderBy("key").rowsBetween(-wsize, -1)
                    out = out.withColumn(
                        n,
                        F.round(
                            (F.sum(dec).over(w_mv)
                             / F.count(dec).over(w_mv)).cast("double"),
                            6,
                        ),
                    )
                elif kind == "serial_diff":
                    # ES serial_diff: value minus the value `lag`
                    # buckets back (seasonality removal); NULL until
                    # enough history exists.
                    out = out.withColumn(
                        n,
                        (dec - F.lag(dec, b.get("lag", 1)).over(w_lag))
                        .cast("double"),
                    )
                elif kind == "moving_percentiles":
                    # ES moving_percentiles: sliding-window percentiles
                    # of a bucket metric (the band behind burn-rate
                    # panels). ES slides a t-digest; the exact twin is
                    # percentile() over the same shifted window as
                    # moving_avg (`window` buckets BEFORE the current
                    # one, shift=0) - both engines interpolate the
                    # middle pair identically on exact doubles, and the
                    # window is BUCKET-count-sized, never corpus-sized.
                    wsize = b.get("window", 5)
                    w_mv = Window.orderBy("key").rowsBetween(-wsize, -1)
                    for pct in b.get("percents", (50.0,)):
                        tag = (f"{n}_p{int(pct)}"
                               if float(pct).is_integer() else f"{n}_p{pct}")
                        out = out.withColumn(
                            tag,
                            F.round(
                                F.percentile(
                                    dec.cast("double"),
                                    F.lit(pct / 100.0)).over(w_mv),
                                6))
        return _apply_bucket_pipeline(out, bucket_pipeline)
    if "adjacency_matrix" in spec:
        # adjacency_matrix: named filters -> one bucket per filter and
        # per pairwise intersection (key "a&b"), empty buckets omitted
        # - ES's co-occurrence matrix for graph-ish dashboards.
        # Compiles to ONE scan + ONE aggregate row of conditional
        # counts (n + n(n-1)/2 cells, map-side partial) stacked to
        # (key, doc_count) rows; at 100 TB this is a single reduce of
        # a fixed-width vector, the cheapest possible co-occurrence.
        filters = spec["adjacency_matrix"]["filters"]
        names = sorted(filters)
        flags = {n: compile_query(filters[n]) for n in names}
        cells: list[tuple[str, Column]] = [
            (n, flags[n]) for n in names
        ] + [
            (f"{a}&{b}", flags[a] & flags[b])
            for i, a in enumerate(names) for b in names[i + 1:]
        ]
        agg = df.agg(*[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"__am_{i}")
            for i, (_, cond) in enumerate(cells)
        ])
        stack_args = ", ".join(
            f"'{key}', __am_{i}" for i, (key, _) in enumerate(cells)
        )
        return (
            agg.selectExpr(
                f"stack({len(cells)}, {stack_args}) AS (key, doc_count)"
            )
            .filter(F.col("doc_count") > 0)
        )
    if "rare_terms" in spec:
        # rare_terms: the long-tail inverse of terms - buckets whose
        # doc_count is AT MOST max_doc_count (ES approximates with a
        # CuckooFilter and documents false-positive trade-offs; the
        # compiler is exact, which is at-least-as-accurate). The
        # grouped count is map-side partial; the rare filter applies
        # post-aggregate so the scan never re-shuffles.
        body = spec["rare_terms"]
        field = body["field"]
        max_dc = body.get("max_doc_count", 1)
        return (
            df.groupBy(F.col(field).alias("key"))
            .agg(F.count("*").alias("doc_count"), *sub)
            .filter(F.col("doc_count") <= max_dc)
        )
    if "histogram" in spec:
        # Fixed-interval numeric histogram: ES buckets on
        # floor(value / interval) * interval and reports the lower
        # bound as the key. Exact integer-scaled arithmetic when the
        # interval is integral; one grouped aggregate either way.
        body = spec["histogram"]
        field, interval = body["field"], body["interval"]
        if "hard_bounds" in body:
            # ES hard_bounds: CLIP the histogram to [min, max] BY
            # BUCKET KEY, not raw value - HistogramAggregator counts
            # a doc iff min <= floor(value/interval)*interval <= max,
            # so with interval 10 and max 100 a doc at 105 keys to
            # bucket 100 and IS counted (ADVICE r9). The filter is on
            # the computed key expression, still a scan-level
            # predicate (pushdown-friendly conjunction of range
            # comparisons on a deterministic projection) that
            # composes with the extended_bounds scaffold.
            hb = body["hard_bounds"]
            bkey = (F.floor(F.col(field) / F.lit(interval))
                    * F.lit(interval))
            df = df.filter((bkey >= F.lit(hb["min"]))
                           & (bkey <= F.lit(hb["max"])))
        key = (F.floor(F.col(field) / F.lit(interval))
               * F.lit(interval)).cast("double").alias("key")
        out = df.groupBy(key).agg(F.count("*").alias("doc_count"), *sub)
        if "extended_bounds" in body and body.get("min_doc_count", 1) == 0:
            # ES dashboard semantics: min_doc_count=0 + extended_bounds
            # emits EVERY bucket in [min, max] even when empty (a gap
            # in the chart must render as zero, not vanish). Crucially
            # extended_bounds only EXTENDS the range - data-derived
            # buckets OUTSIDE [min, max] still appear (clipping is
            # hard_bounds, a different option) - so the scaffold joins
            # FULL OUTER, not left. Both join inputs are bucket-count-
            # sized (the scan already reduced), so the join strategy
            # is irrelevant at any corpus size. Empty buckets read
            # doc_count 0; sum/value_count metrics backfill to 0 and
            # min/max/avg stay NULL, exactly as ES responds.
            lo = int(body["extended_bounds"]["min"] // interval)
            hi = int(body["extended_bounds"]["max"] // interval)
            spark_ = df.sparkSession
            scaffold = spark_.range(lo, hi + 1).select(
                (F.col("id") * F.lit(interval)).cast("double").alias("key"))
            fill: dict[str, int] = {"doc_count": 0}
            for n, s in spec.get("aggs", {}).items():
                if len(s) != 1 or _is_bucket(s):
                    continue
                (mkind, _), = s.items()
                if mkind in ("sum", "value_count"):
                    fill[n] = 0
                elif mkind in ("stats", "extended_stats"):
                    # ES empty-bucket stats: count 0 and sum 0.0;
                    # min/max/avg (and variance family) stay null.
                    fill[f"{n}_count"] = 0
                    fill[f"{n}_sum"] = 0
            out = scaffold.join(out, "key", "full").fillna(fill)
        return out
    if "range" in spec:
        body = spec["range"]
        field, ranges = body["field"], body["ranges"]
        # ES range-agg key convention: "from-to" with "*" for open ends.
        # ES places a doc in EVERY matching range (ranges may overlap),
        # so we build the array of all matching keys and explode - one
        # scan regardless of range count, overlap-correct.
        entries = []
        for r in ranges:
            lo, hi = r.get("from"), r.get("to")
            key = f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}"
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(field) >= lo)   # ES: from inclusive
            if hi is not None:
                cond = cond & (F.col(field) < hi)    # ES: to exclusive
            entries.append(F.when(cond, F.lit(key)))
        keys = F.array_compact(F.array(*entries))
        return (
            df.withColumn("key", F.explode(keys))
            .groupBy("key")
            .agg(F.count("*").alias("doc_count"), *sub)
        )
    if "date_range" in spec:
        # date_range: range's calendar twin - [from, to) half-open on
        # a date/timestamp field, doc in EVERY matching range, key
        # "from-to" with "*" open ends. Same explode-matching-keys
        # compilation as range: one scan, overlap-correct.
        body = spec["date_range"]
        field, ranges = body["field"], body["ranges"]
        entries = []
        for r in ranges:
            lo, hi = r.get("from"), r.get("to")
            key = f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}"
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(field) >= F.to_timestamp(F.lit(lo)))
            if hi is not None:
                cond = cond & (F.col(field) < F.to_timestamp(F.lit(hi)))
            entries.append(F.when(cond, F.lit(key)))
        keys = F.array_compact(F.array(*entries))
        return (
            df.withColumn("key", F.explode(keys))
            .groupBy("key")
            .agg(F.count("*").alias("doc_count"), *sub)
        )
    raise ValueError(f"unsupported bucket agg in {spec!r}")


_AGGS_TERMS_DEMO = {
    "by_priority": {
        "terms": {"field": "o_orderpriority", "size": 3},
        "aggs": {
            "total_price": {"sum": {"field": "o_totalprice"}},
            "avg_price": {"avg": {"field": "o_totalprice"}},
            "max_price": {"max": {"field": "o_totalprice"}},
        },
    }
}


@register("a3c_es_terms_agg", "A3", """
SELECT key, doc_count, total_price, avg_price, max_price FROM (
  SELECT o_orderpriority AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS total_price,
         ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                         AS DECIMAL(38,4)) AS DOUBLE)
               / COUNT(o_totalprice), 6) AS avg_price,
         MAX(o_totalprice) AS max_price
  FROM orders
  WHERE o_orderstatus IN ('F', 'P')
  GROUP BY o_orderpriority
) ORDER BY doc_count DESC, key LIMIT 3
""", "ES aggregations-DSL execution: a filtered terms bucket agg with "
     "sum/avg/max metric sub-aggs compiled to one grouped aggregation "
     "+ distributed top-size - the search-engine facet workload the "
     "reference's ES side serves, expressed as a single Catalyst agg "
     "(metrics decimal-exact for cross-engine hashes).")
def a3c_es_terms_agg(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"terms": {"o_orderstatus": ["F", "P"]}})
    return es_aggregate(o, _AGGS_TERMS_DEMO)


_AGGS_HIST_DEMO = {
    "per_month": {
        "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
        "aggs": {
            "revenue": {"sum": {"field": "o_totalprice"}},
            "n_orders": {"value_count": {"field": "o_orderkey"}},
        },
    }
}


@register("a3d_es_date_histogram", "A3", """
SELECT STRFTIME(o_orderdate, '%Y-%m') AS key,
       COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue,
       COUNT(o_orderkey) AS n_orders
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY STRFTIME(o_orderdate, '%Y-%m')
""", "ES date_histogram aggregation: calendar-month buckets with "
     "revenue + count sub-aggs over a term-filtered stream - one "
     "grouped aggregation keyed on the formatted month string "
     "(formatting JVM-side keeps the key a plain string; the month "
     "key space is tiny so the final shuffle is a few hundred rows).")
def a3d_es_date_histogram(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"term": {"o_orderstatus": "O"}})
    return es_aggregate(o, _AGGS_HIST_DEMO)


_AGGS_RANGE_DEMO = {
    "price_bands": {
        "range": {
            "field": "o_totalprice",
            "ranges": [
                {"to": 100000},
                {"from": 100000, "to": 300000},
                {"from": 300000},
            ],
        },
        "aggs": {"price": {"stats": {"field": "o_totalprice"}}},
    }
}


@register("a3e_es_range_stats_agg", "A3", """
SELECT key, COUNT(*) AS doc_count,
       COUNT(o_totalprice) AS price_count,
       MIN(o_totalprice) AS price_min,
       MAX(o_totalprice) AS price_max,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS price_sum,
       ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                       AS DECIMAL(38,4)) AS DOUBLE)
             / COUNT(o_totalprice), 6) AS price_avg
FROM (
  SELECT o_totalprice,
         CASE WHEN o_totalprice < 100000 THEN '*-100000'
              WHEN o_totalprice >= 100000 AND o_totalprice < 300000
                THEN '100000-300000'
              WHEN o_totalprice >= 300000 THEN '300000-*'
         END AS key
  FROM orders
)
WHERE key IS NOT NULL
GROUP BY key
""", "ES range aggregation with a stats metric sub-agg: price bands "
     "(from-inclusive / to-exclusive, ES semantics) each carrying the "
     "flattened count/min/max/sum/avg stats object - the faceted-"
     "navigation workload. Compiles to ONE grouped aggregation over a "
     "CASE bucket key; sum/avg are decimal-exact (parity.py) so the "
     "stats hash-match across engines at any scale.")
def a3e_es_range_stats_agg(spark, sf_dir):
    return es_aggregate(load_table(spark, sf_dir, "orders"), _AGGS_RANGE_DEMO)


_NESTED_DSL_DEMO = {
    "bool": {
        "must": [
            {"multi_match": {"query": "vector merge", "fields": ["text", "source"]}},
            {
                "bool": {
                    "should": [
                        {"term": {"lang": "en"}},
                        {
                            "bool": {
                                "must": [
                                    {"term": {"lang": "fr"}},
                                    {"range": {"n_chars": {"gte": 300}}},
                                ]
                            }
                        },
                    ]
                }
            },
        ],
        "filter": [{"range": {"n_chars": {"gt": 50}}}],
        "must_not": [{"term": {"source": "src13"}}],
    }
}


@register("a3f_es_nested_bool_multimatch", "A3", """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (LIST_CONTAINS(STRING_SPLIT(LOWER(text), ' '), 'vector')
       OR LIST_CONTAINS(STRING_SPLIT(LOWER(text), ' '), 'merge')
       OR LIST_CONTAINS(STRING_SPLIT(LOWER(source), ' '), 'vector')
       OR LIST_CONTAINS(STRING_SPLIT(LOWER(source), ' '), 'merge'))
  AND (lang = 'en' OR (lang = 'fr' AND n_chars >= 300))
  AND n_chars > 50
  AND NOT source = 'src13'
""", "ES bool-DSL with NESTED bool clauses plus multi_match - the two "
     "most-used real-world ES query shapes the round-2 compiler had "
     "not yet demonstrated. multi_match ORs the match predicate "
     "across fields; the inner bool nests a should-of-(term | "
     "must-of-term+range); `filter` compiles like must (non-scoring "
     "filter context). The whole tree folds into ONE Catalyst "
     "predicate, so the parquet scan still sees a single pushed "
     "filter - compile-time recursion, not query-time iteration.")
def a3f_es_nested_bool_multimatch(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_search(d, _NESTED_DSL_DEMO).select(
        "doc_id", "lang", "source", "n_chars"
    )


_AGGS_COMPOSITE_DEMO = {
    "all_buckets": {
        "composite": {
            "sources": [
                {"pri": {"terms": {"field": "o_orderpriority"}}},
                {"status": {"terms": {"field": "o_orderstatus"}}},
            ],
            "size": 6,
            "after": {"pri": "2-HIGH", "status": "F"},
        },
        "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
    }
}


@register("a3g_es_composite_agg", "A3", """
SELECT pri, status, doc_count, revenue FROM (
  SELECT o_orderpriority AS pri, o_orderstatus AS status,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders
  GROUP BY o_orderpriority, o_orderstatus
)
WHERE pri > '2-HIGH' OR (pri = '2-HIGH' AND status > 'F')
ORDER BY pri, status LIMIT 6
""", "ES composite aggregation: deterministic pagination over the full "
     "(priority, status) bucket space, ascending by compound key, "
     "resuming AFTER a cursor - the only ES shape that sweeps "
     "high-cardinality bucket spaces completely. The after-cursor "
     "compiles to a lexicographic predicate on the grouped keys and "
     "the page is a distributed top-N over the aggregate (never a "
     "global sort), so each page costs one agg + one bounded top-N "
     "at any key cardinality.")
def a3g_es_composite_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, _AGGS_COMPOSITE_DEMO)


_AGGS_NESTED_DEMO = {
    "by_priority": {
        "terms": {"field": "o_orderpriority", "size": 3},
        "aggs": {
            "by_status": {
                "terms": {"field": "o_orderstatus", "size": 2},
                "aggs": {
                    "revenue": {"sum": {"field": "o_totalprice"}},
                },
            },
        },
    }
}


@register("a3h_es_nested_terms_agg", "A3", """
WITH grouped AS (
  SELECT o_orderpriority AS key, o_orderstatus AS by_status,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
),
outer_top AS (
  SELECT key, CAST(SUM(doc_count) AS BIGINT) AS outer_doc_count
  FROM grouped GROUP BY key
  ORDER BY outer_doc_count DESC, key LIMIT 3
)
SELECT g.key, g.by_status, g.doc_count, g.revenue, o.outer_doc_count
FROM grouped g JOIN outer_top o USING (key)
QUALIFY ROW_NUMBER() OVER (PARTITION BY g.key
                           ORDER BY g.doc_count DESC, g.by_status) <= 2
""", "ES nested bucket aggregation (terms within terms): top-3 "
     "priority buckets, each drilled into its top-2 status buckets "
     "with a revenue sub-metric - the faceted-drilldown every search "
     "UI issues. One grouped aggregate on the (outer, inner) pair, a "
     "broadcast top-size outer filter, and a per-outer bounded "
     "window; the inner window is bounded by the outer bucket's "
     "distinct inner keys, so no skew concentration at any corpus "
     "size.")
def a3h_es_nested_terms_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = es_aggregate(o, _AGGS_NESTED_DEMO)
    return out.select("key", "by_status", "doc_count", "revenue", "outer_doc_count")


@register("a3i_es_significant_terms", "A3", """
WITH fg AS (
  SELECT lang AS key, COUNT(*) AS doc_count
  FROM documents WHERE source = 'src0' GROUP BY 1
),
bg AS (SELECT lang AS key, COUNT(*) AS bg_count FROM documents GROUP BY 1),
tot AS (
  SELECT (SELECT COUNT(*) FROM documents WHERE source = 'src0') AS fg_n,
         (SELECT COUNT(*) FROM documents) AS bg_n
)
SELECT key, doc_count, bg_count,
       ROUND((CAST(doc_count AS DOUBLE) / CAST(fg_n AS DOUBLE)
              - CAST(bg_count AS DOUBLE) / CAST(bg_n AS DOUBLE))
             * ((CAST(doc_count AS DOUBLE) / CAST(fg_n AS DOUBLE))
                / (CAST(bg_count AS DOUBLE) / CAST(bg_n AS DOUBLE))), 6)
         AS score
FROM fg JOIN bg USING (key), tot
WHERE (CAST(doc_count AS DOUBLE) / CAST(fg_n AS DOUBLE)
       - CAST(bg_count AS DOUBLE) / CAST(bg_n AS DOUBLE))
      * ((CAST(doc_count AS DOUBLE) / CAST(fg_n AS DOUBLE))
         / (CAST(bg_count AS DOUBLE) / CAST(bg_n AS DOUBLE))) > 0
ORDER BY (CAST(doc_count AS DOUBLE) / CAST(fg_n AS DOUBLE)
          - CAST(bg_count AS DOUBLE) / CAST(bg_n AS DOUBLE))
         * ((CAST(doc_count AS DOUBLE) / CAST(fg_n AS DOUBLE))
            / (CAST(bg_count AS DOUBLE) / CAST(bg_n AS DOUBLE))) DESC, key
LIMIT 5
""", "ES significant_terms aggregation, JLH-scored: which languages "
     "are over-represented among src0 documents relative to the whole "
     "corpus - the 'what makes this slice different' facet behind "
     "anomaly drill-down and guided navigation. Foreground = the "
     "term-query search context, background = the full index, score "
     "= (fg% - bg%) * (fg% / bg%), positive scores only, ES's "
     "default. Both sides reduce with one grouped count each before "
     "the broadcast join, so nothing big ever shuffles.")
def a3i_es_significant_terms(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fg = es_search(d, {"term": {"source": "src0"}})
    return es_aggregate(
        fg,
        {"sig_langs": {"significant_terms": {"field": "lang", "size": 5}}},
        background=d,
    )


def es_search_page(df: DataFrame, query: dict, sort: list[tuple[str, str]],
                   search_after: list | None = None, size: int = 10) -> DataFrame:
    """ES search_after hit pagination: filtered hits ordered by a
    compound sort key, resuming strictly after a cursor row.

    `sort` is [(field, "asc"|"desc"), ...] - ES requires a total order
    (last key a unique tiebreak) and so do we. The cursor compiles to
    the lexicographic strictly-after predicate RESPECTING per-field
    direction (a desc field means "after" = smaller), so each page is
    filter + TakeOrderedAndProject: per-partition heaps of `size`,
    no global sort, no deep OFFSET scan - the same reason ES itself
    deprecated from+size in favor of search_after.
    """
    out = es_search(df, query)
    if search_after is not None:
        if len(search_after) != len(sort):
            raise ValueError("cursor arity must match sort arity")
        pred, eq = F.lit(False), F.lit(True)
        for (field, direction), v in zip(sort, search_after):
            c = F.col(field)
            after = c < F.lit(v) if direction == "desc" else c > F.lit(v)
            pred = pred | (eq & after)
            eq = eq & (c == F.lit(v))
        out = out.filter(pred)
    order = [
        F.col(f).desc() if d == "desc" else F.col(f).asc() for f, d in sort
    ]
    return out.orderBy(*order).limit(size)


@register("a3j_es_search_after", "A3", """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus = 'O'
  AND (o_totalprice < 400000.0
       OR (o_totalprice = 400000.0 AND o_orderkey > 0))
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""", "ES search_after pagination of sorted HITS (the document-level "
     "twin of the a3g composite bucket cursor): a filtered search "
     "ordered by (o_totalprice desc, o_orderkey asc) resuming "
     "strictly after the cursor [400000.0, 0]. The cursor compiles "
     "to a direction-aware lexicographic predicate, so every page is "
     "one TakeOrderedAndProject over the filtered scan - constant "
     "memory per page at any corpus size, exactly why ES deprecated "
     "from+size deep paging. Decimal price comparisons are exact in "
     "both engines.")
def a3j_es_search_after(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_search_page(
        o,
        {"term": {"o_orderstatus": "O"}},
        sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        search_after=[400000.0, 0],
        size=10,
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


def es_function_score(df: DataFrame, query: dict, functions: list[dict],
                      sort_tiebreak: str, score_mode: str = "sum",
                      size: int = 10) -> DataFrame:
    """ES function_score in filter context: hits matching `query` are
    scored by a list of scoring functions and returned top-`size`.

    Supported functions (the arithmetic core - no libm, so scores are
    bit-identical across engines):
      {"field_value_factor": {"field": f, "factor": c}}  -> c * field
      {"filter": <query-DSL>, "weight": w}               -> w if match else 0
    score_mode: "sum" | "multiply" (ES's combine step). Ordering is
    total via (score desc, tiebreak asc); the page is one
    TakeOrderedAndProject over the filtered scan.
    """
    terms = []
    for fn in functions:
        if "field_value_factor" in fn:
            body = fn["field_value_factor"]
            terms.append(F.col(body["field"]).cast("double")
                         * F.lit(float(body.get("factor", 1.0))))
        elif "filter" in fn:
            terms.append(
                F.when(compile_query(fn["filter"]),
                       F.lit(float(fn.get("weight", 1.0)))).otherwise(F.lit(0.0))
            )
        else:
            raise ValueError(f"unsupported scoring function {fn!r}")
    if not terms:
        raise ValueError("function_score needs at least one function")
    score = terms[0]
    for t in terms[1:]:
        score = (score * t) if score_mode == "multiply" else (score + t)
    return (
        es_search(df, query)
        .withColumn("score", F.round(score, 6))
        .withColumn("_s", score)
        .orderBy(F.col("_s").desc(), F.col(sort_tiebreak).asc())
        .limit(size)
        .drop("_s")
    )


@register("a3k_es_function_score", "A3", """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ROUND(CAST(o_totalprice AS DOUBLE) * 0.5
             + (CASE WHEN o_orderpriority LIKE '1-%' THEN 1000.0 ELSE 0.0 END),
             6) AS score
FROM orders
WHERE o_orderstatus = 'F'
ORDER BY CAST(o_totalprice AS DOUBLE) * 0.5
         + (CASE WHEN o_orderpriority LIKE '1-%' THEN 1000.0 ELSE 0.0 END) DESC,
         o_orderkey ASC
LIMIT 10
""", "ES function_score in filter context: finished orders scored by "
     "field_value_factor(o_totalprice, 0.5) summed with a weight-1000 "
     "boost for wildcard-matched urgent priorities ('1-*' -> LIKE), "
     "top 10 by score - the query-time ranking recipe behind boosted "
     "search and promotion rules. Score arithmetic is multiply/add of "
     "exactly-converted values (factor and weight are exact binary "
     "representables, no libm), so both engines agree bitwise; the "
     "page is one TakeOrderedAndProject over the filtered scan.")
def a3k_es_function_score(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_function_score(
        o,
        {"term": {"o_orderstatus": "F"}},
        [
            {"field_value_factor": {"field": "o_totalprice", "factor": 0.5}},
            {"filter": {"wildcard": {"o_orderpriority": "1-*"}}, "weight": 1000.0},
        ],
        sort_tiebreak="o_orderkey",
        score_mode="sum",
        size=10,
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "score")


@register("a3l_es_percentiles_agg", "A3+D6", """
SELECT key, doc_count, latency_p50, latency_p95, latency_p99
FROM (
  SELECT o_orderpriority AS key,
         COUNT(*) AS doc_count,
         ROUND(QUANTILE_CONT(o_totalprice, 0.50), 6) AS latency_p50,
         ROUND(QUANTILE_CONT(o_totalprice, 0.95), 6) AS latency_p95,
         ROUND(QUANTILE_CONT(o_totalprice, 0.99), 6) AS latency_p99
  FROM orders WHERE o_orderstatus = 'O'
  GROUP BY o_orderpriority
) ORDER BY doc_count DESC, key LIMIT 5
""", "ES percentiles metric agg inside a terms bucket - the latency "
     "dashboard query every ES monitoring stack runs. The compiler "
     "flattens the keyed percentile response to <name>_p<pct> columns "
     "and computes EXACT interpolated quantiles (ES itself t-digests; "
     "exact is oracle-checkable and strictly more accurate - the "
     "at-scale swap is approx_percentile, D6's documented trade). "
     "Each group's value multiset concentrates at its reducer, "
     "bounded here by the 5 fixed priorities.")
def a3l_es_percentiles_agg(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"term": {"o_orderstatus": "O"}})
    return es_aggregate(o, {
        "by_priority": {
            "terms": {"field": "o_orderpriority", "size": 5},
            "aggs": {
                "latency": {"percentiles": {"field": "o_totalprice",
                                            "percents": [50, 95, 99]}},
            },
        }
    })


@register("a3ak_es_global_agg", "A3+D2", """
SELECT COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS all_revenue,
       MAX(o_totalprice) AS all_max
FROM orders
""", "ES `global` bucket agg: metrics computed over the WHOLE index, "
     "deliberately escaping the search's query scope - the 'overall' "
     "half of every filtered-vs-overall KPI card. The compiler takes "
     "the unfiltered relation explicitly (like significant_terms' "
     "background) and emits one map-side-partial single-row "
     "aggregate; the query filter never touches it, which the oracle "
     "pins by aggregating the raw table.")
def a3ak_es_global_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    filtered = es_search(o, {"term": {"o_orderstatus": "O"}})
    return es_aggregate(filtered, {
        "overall": {
            "global": {},
            "aggs": {
                "all_revenue": {"sum": {"field": "o_totalprice"}},
                "all_max": {"max": {"field": "o_totalprice"}},
            },
        }
    }, background=o)


@register("a3m_es_filter_agg", "A3", """
SELECT COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS urgent_revenue,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
""", "ES filter bucket agg: a named sub-scope of the search context "
     "with its own metrics - the 'segment KPI' card every ES "
     "dashboard renders (doc_count always included, like the ES "
     "response). Compiles to predicate + one single-row aggregate; "
     "the filter pushes into the scan, the aggregate is map-side "
     "partial - nothing about this shape changes at 100 TB.")
def a3m_es_filter_agg(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"term": {"o_orderstatus": "O"}})
    return es_aggregate(o, {
        "urgent": {
            "filter": {"term": {"o_orderpriority": "1-URGENT"}},
            "aggs": {
                "urgent_revenue": {"sum": {"field": "o_totalprice"}},
                "max_price": {"max": {"field": "o_totalprice"}},
            },
        }
    })


@register("a3ai_es_filters_named_buckets", "A3+D1", """
SELECT 'urgent' AS key, COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue,
       MAX(o_totalprice) AS max_price
FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT 'open', COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE),
       MAX(o_totalprice)
FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT 'big', COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE),
       MAX(o_totalprice)
FROM orders WHERE o_totalprice > 300000
""", "ES `filters` (plural) bucket agg: three NAMED, OVERLAPPING "
     "sub-scopes (urgent / open / big) sharing the same metric "
     "sub-aggs - the multi-KPI dashboard row. Overlap is why this "
     "cannot compile to a groupBy label: the engine emits ONE "
     "map-side-partial aggregate with per-bucket masked columns and "
     "reshapes the single result row via explode(array(struct...)) - "
     "one scan, zero shuffles of row data, at any corpus size (the "
     "oracle's 3-way UNION scans three times; ES and this compiler "
     "scan once).")
def a3ai_es_filters_named_buckets(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "kpis": {
            "filters": {"filters": {
                "urgent": {"term": {"o_orderpriority": "1-URGENT"}},
                "open": {"term": {"o_orderstatus": "O"}},
                "big": {"range": {"o_totalprice": {"gt": 300000}}},
            }},
            "aggs": {
                "revenue": {"sum": {"field": "o_totalprice"}},
                "max_price": {"max": {"field": "o_totalprice"}},
            },
        }
    })


@register("a3aj_es_weighted_avg", "A3+D5", """
SELECT key, doc_count, w_price FROM (
  SELECT l_returnflag AS key, COUNT(*) AS doc_count,
         ROUND(
           CAST(CAST(SUM(CAST(l_extendedprice * l_quantity
                              AS DECIMAL(38,10))) AS DECIMAL(38,2))
                AS DOUBLE)
           / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10)))
                       AS DECIMAL(38,2)) AS DOUBLE), 6) AS w_price
  FROM lineitem GROUP BY 1
) ORDER BY doc_count DESC, key LIMIT 5
""", "ES weighted_avg metric agg inside terms buckets: the "
     "quantity-weighted mean unit price per return flag. Numerator "
     "and denominator each go through the decimal-exact sum rescale "
     "(value*weight keeps 2 decimal digits: 2-dp price x integer "
     "quantity), then ONE IEEE division of two exact doubles - "
     "bit-parity with the oracle's identical expression tree. Same "
     "partial-agg + TakeOrdered bucket shape as every terms agg.")
def a3aj_es_weighted_avg(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return es_aggregate(li, {
        "by_flag": {
            "terms": {"field": "l_returnflag", "size": 5},
            "aggs": {
                "w_price": {"weighted_avg": {
                    "value": {"field": "l_extendedprice"},
                    "weight": {"field": "l_quantity"},
                }},
            },
        }
    })


@register("a3n_es_cardinality_agg", "A3+D3", """
SELECT key, doc_count, n_users, n_days FROM (
  SELECT event_type AS key,
         COUNT(*) AS doc_count,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
  FROM events GROUP BY event_type
) ORDER BY doc_count DESC, key LIMIT 5
""", "ES cardinality metric agg inside terms buckets - 'how many "
     "distinct users per event type', the uniques facet on every "
     "analytics dashboard. ES backs this with HLL++ but guarantees "
     "exactness below precision_threshold (default 3000); the "
     "compiler emits exact COUNT DISTINCT (oracle-checkable, "
     "at-least-as-accurate), with approx_count_distinct as the "
     "documented at-scale swap (same sketch family ES uses, partial "
     "sketches merged map-side so the scan never re-shuffles raw "
     "rows twice).")
def a3n_es_cardinality_agg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date"))
    return es_aggregate(e, {
        "by_type": {
            "terms": {"field": "event_type", "size": 5},
            "aggs": {
                "n_users": {"cardinality": {"field": "user_id"}},
                "n_days": {"cardinality": {"field": "day"}},
            },
        }
    })


@register("a3o_es_top_hits_agg", "A3+E4", """
WITH counts AS (
  SELECT o_orderpriority AS key, COUNT(*) AS doc_count
  FROM orders GROUP BY 1
),
top_buckets AS (
  SELECT * FROM counts ORDER BY doc_count DESC, key LIMIT 3
),
hits AS (
  SELECT o.o_orderpriority AS key, b.doc_count,
         ROW_NUMBER() OVER (PARTITION BY o.o_orderpriority
                            ORDER BY o.o_totalprice DESC, o.o_orderkey)
           AS hit_rank,
         o.o_orderkey, o.o_custkey, o.o_totalprice
  FROM orders o JOIN top_buckets b ON o.o_orderpriority = b.key
)
SELECT key, doc_count, hit_rank, o_orderkey, o_custkey, o_totalprice
FROM hits WHERE hit_rank <= 2
""", "ES top_hits inside terms buckets: the top documents themselves "
     "per bucket (here: the 2 priciest orders per order-priority), "
     "flattened with hit_rank the way ES clients read the nested "
     "hits array. Deterministic because the sort is required to be "
     "total (price desc + unique orderkey tiebreak - ES's internal "
     "doc-id tiebreak is not reproducible). Plan: grouped counts -> "
     "broadcast top-size bucket filter -> per-bucket row_number; "
     "the documented skew swap is the e4 two-pass top-k.")
def a3o_es_top_hits_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "by_priority": {
            "terms": {"field": "o_orderpriority", "size": 3},
            "aggs": {
                "top_orders": {"top_hits": {
                    "size": 2,
                    "sort": [{"o_totalprice": {"order": "desc"}},
                             {"o_orderkey": {"order": "asc"}}],
                    "_source": ["o_orderkey", "o_custkey", "o_totalprice"],
                }},
            },
        }
    })


@register("a3p_es_pipeline_aggs", "A3+E3", """
WITH buckets AS (
  SELECT STRFTIME(o_orderdate, '%Y-%m') AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders
  WHERE o_orderstatus = 'F'
  GROUP BY 1
)
SELECT key, doc_count, revenue,
       CAST(SUM(CAST(revenue AS DECIMAL(38,2)))
              OVER (ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS DOUBLE) AS cum_revenue,
       CAST(CAST(revenue AS DECIMAL(38,2))
            - LAG(CAST(revenue AS DECIMAL(38,2))) OVER (ORDER BY key)
            AS DOUBLE) AS revenue_delta
FROM buckets
""", "ES pipeline aggregations: cumulative_sum and derivative over "
     "date_histogram buckets via buckets_path - the running-total and "
     "month-over-month-delta lines on every ES dashboard. The "
     "pipeline pass windows over the POST-AGGREGATION bucket table "
     "(cardinality = calendar buckets, ~1200 rows/century), so its "
     "global window is bounded regardless of corpus size; the "
     "running sum is decimal-exact with doubles only at the edge. "
     "First-bucket derivative is NULL, matching ES's response.")
def a3p_es_pipeline_aggs(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"term": {"o_orderstatus": "F"}})
    return es_aggregate(o, {
        "per_month": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "month"},
            "aggs": {
                "revenue": {"sum": {"field": "o_totalprice"}},
                "cum_revenue": {"cumulative_sum":
                                {"buckets_path": "revenue"}},
                "revenue_delta": {"derivative":
                                  {"buckets_path": "revenue"}},
            },
        }
    })


@register("a3q_es_histogram_agg", "A3", """
SELECT CAST(FLOOR(value / 5) * 5 AS DOUBLE) AS key,
       COUNT(*) AS doc_count,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""", "ES numeric histogram aggregation: fixed-interval buckets keyed "
     "on the lower bound (floor(value/interval)*interval), the "
     "value-distribution facet behind every price/latency slider. "
     "Compiles to one grouped aggregate on exact floor arithmetic - "
     "map-side partial, bucket count bounded by the value range over "
     "the interval, scan-size independent.")
def a3q_es_histogram_agg(spark, sf_dir):
    e = es_search(load_table(spark, sf_dir, "events"),
                  {"term": {"event_type": "purchase"}})
    return es_aggregate(e, {
        "value_hist": {
            "histogram": {"field": "value", "interval": 5},
            "aggs": {
                "min_value": {"min": {"field": "value"}},
                "max_value": {"max": {"field": "value"}},
            },
        }
    })


@register("a3r_es_rare_terms_agg", "A3", """
SELECT o_custkey AS key,
       COUNT(*) AS doc_count,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) <= 2
""", "ES rare_terms aggregation: the long-tail inverse of terms - "
     "customers with at most 2 orders, the churn-risk / anomaly "
     "mining facet. ES approximates rarity with a CuckooFilter "
     "(documented false positives); the compiler is exact, "
     "at-least-as-accurate, and the rare filter is a post-aggregate "
     "HAVING on the map-side-partial grouped count - high-cardinality "
     "safe because nothing ever sorts or collects the full key space.")
def a3r_es_rare_terms_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "rare_customers": {
            "rare_terms": {"field": "o_custkey", "max_doc_count": 2},
            "aggs": {"max_price": {"max": {"field": "o_totalprice"}}},
        }
    })


@register("a3s_es_moving_fn_serial_diff", "A3+E3", """
WITH buckets AS (
  SELECT STRFTIME(o_orderdate, '%Y-%m') AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders
  WHERE o_orderstatus = 'O'
  GROUP BY 1
)
SELECT key, doc_count, revenue,
       ROUND(CAST(SUM(CAST(revenue AS DECIMAL(38,2)))
                    OVER (ORDER BY key ROWS BETWEEN 3 PRECEDING
                          AND 1 PRECEDING)
                  / COUNT(revenue)
                    OVER (ORDER BY key ROWS BETWEEN 3 PRECEDING
                          AND 1 PRECEDING) AS DOUBLE), 6) AS mov3_avg,
       CAST(CAST(revenue AS DECIMAL(38,2))
            - LAG(CAST(revenue AS DECIMAL(38,2)), 12) OVER (ORDER BY key)
            AS DOUBLE) AS yoy_diff
FROM buckets
""", "ES moving_fn (unweightedAvg) + serial_diff pipeline aggs: the "
     "trailing-3-month average (window BEFORE the current bucket, "
     "shift=0 semantics - NULL when empty) and the year-over-year "
     "difference (lag 12 buckets - the seasonality-removal agg). "
     "Completes the pipeline-agg family with a3p; same "
     "bounded-bucket-table window, decimal-exact arithmetic.")
def a3s_es_moving_fn_serial_diff(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"term": {"o_orderstatus": "O"}})
    return es_aggregate(o, {
        "per_month": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "month"},
            "aggs": {
                "revenue": {"sum": {"field": "o_totalprice"}},
                "mov3_avg": {"moving_avg":
                             {"buckets_path": "revenue", "window": 3}},
                "yoy_diff": {"serial_diff":
                             {"buckets_path": "revenue", "lag": 12}},
            },
        }
    })


@register("a3t_es_adjacency_matrix", "A3", """
WITH f AS (
  SELECT (o_orderpriority = '1-URGENT') AS fu,
         (o_totalprice > 300000) AS fb,
         (o_orderstatus = 'O') AS fo
  FROM orders
),
agg AS (
  SELECT SUM(CASE WHEN fb THEN 1 ELSE 0 END) AS big,
         SUM(CASE WHEN fb AND fo THEN 1 ELSE 0 END) AS big_open,
         SUM(CASE WHEN fb AND fu THEN 1 ELSE 0 END) AS big_urgent,
         SUM(CASE WHEN fo THEN 1 ELSE 0 END) AS open_,
         SUM(CASE WHEN fo AND fu THEN 1 ELSE 0 END) AS open_urgent,
         SUM(CASE WHEN fu THEN 1 ELSE 0 END) AS urgent
  FROM f
)
SELECT key, doc_count FROM (
  SELECT 'big' AS key, CAST(big AS BIGINT) AS doc_count FROM agg
  UNION ALL SELECT 'big&open', CAST(big_open AS BIGINT) FROM agg
  UNION ALL SELECT 'big&urgent', CAST(big_urgent AS BIGINT) FROM agg
  UNION ALL SELECT 'open', CAST(open_ AS BIGINT) FROM agg
  UNION ALL SELECT 'open&urgent', CAST(open_urgent AS BIGINT) FROM agg
  UNION ALL SELECT 'urgent', CAST(urgent AS BIGINT) FROM agg
) WHERE doc_count > 0
""", "ES adjacency_matrix aggregation: named filters (urgent / big / "
     "open) produce one bucket per filter plus one per pairwise "
     "intersection ('big&open' ...), empty buckets omitted - the "
     "co-occurrence matrix behind relationship dashboards. One scan, "
     "one fixed-width aggregate row of conditional counts, stacked "
     "to rows JVM-side.")
def a3t_es_adjacency_matrix(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "order_matrix": {
            "adjacency_matrix": {"filters": {
                "urgent": {"term": {"o_orderpriority": "1-URGENT"}},
                "big": {"range": {"o_totalprice": {"gt": 300000}}},
                "open": {"term": {"o_orderstatus": "O"}},
            }}
        }
    })


@register("a3u_es_bucket_script_selector_sort", "A3+D8", """
WITH buckets AS (
  SELECT STRFTIME(o_orderdate, '%Y-%m') AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders
  GROUP BY 1
),
scripted AS (
  SELECT key, doc_count, revenue,
         ROUND(revenue / CAST(doc_count AS DOUBLE), 6) AS avg_order_value
  FROM buckets
)
SELECT key, doc_count, revenue, avg_order_value
FROM scripted
WHERE avg_order_value >= 140000.0
ORDER BY avg_order_value DESC, key
LIMIT 12
""", "ES parent pipeline aggs that reshape the bucket list: "
     "bucket_script derives avg order value from sibling metrics "
     "(revenue / _count), bucket_selector is the HAVING that keeps "
     "only strong months, bucket_sort pages the top 12 by the derived "
     "metric - the compiled trio behind every 'best months' KPI card. "
     "All three run over the POST-AGGREGATION bucket table (bounded "
     "by calendar-bucket count, corpus-size independent), so the "
     "pipeline is a projection + filter + TakeOrderedAndProject over "
     "a tiny relation: zero extra scans or shuffles at any corpus "
     "size. Script params substitute longest-name-first into SQL "
     "expressions with double casts, and the sort carries the bucket "
     "key as a deterministic tiebreak.")
def a3u_es_bucket_script_selector_sort(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "per_month": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "month"},
            "aggs": {
                "revenue": {"sum": {"field": "o_totalprice"}},
                "avg_order_value": {"bucket_script": {
                    "buckets_path": {"rev": "revenue", "n": "_count"},
                    "script": "params.rev / params.n",
                }},
                "strong_months": {"bucket_selector": {
                    "buckets_path": {"aov": "avg_order_value"},
                    "script": "params.aov >= 140000.0",
                }},
                "page": {"bucket_sort": {
                    "sort": [{"avg_order_value": {"order": "desc"}}],
                    "size": 12,
                }},
            },
        }
    })


_MS_FIELDS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _ms_oracle() -> str:
    sums = ",\n         ".join(
        f"CAST(SUM(CAST({f} AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS s_{f}"
        for f in _MS_FIELDS)
    # operands widened to DECIMAL(19,4): DuckDB then multiplies in
    # int128 (18-digit operands overflow int64 first); Spark keeps its
    # exact (37,8) product from the (18,4) casts in the query fn.
    prods = ",\n         ".join(
        f"CAST(SUM(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4)))"
        f" AS DECIMAL(38,8)) AS p_{a}_{b}"
        for i, a in enumerate(_MS_FIELDS) for b in _MS_FIELDS[i:])
    def cov(a, b):
        return (f"(CAST(p_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE)"
                f" * CAST(s_{b} AS DOUBLE) / n) / n")
    rows = "\n  UNION ALL ".join(
        f"SELECT '{a}' AS field_x, '{b}' AS field_y, n AS doc_count,\n"
        f"       ROUND(CAST(s_{a} AS DOUBLE) / n, 6) AS mean_x,\n"
        f"       ROUND({cov(a, b)}, 6) AS covariance,\n"
        f"       ROUND({cov(a, b)} / (SQRT({cov(a, a)}) * SQRT({cov(b, b)})), 6)"
        f" AS correlation\n  FROM agg"
        for i, a in enumerate(_MS_FIELDS) for b in _MS_FIELDS[i + 1:])
    return f"""
WITH agg AS (
  SELECT COUNT(*) AS n,
         {sums},
         {prods}
  FROM lineitem
)
{rows}
"""


@register("a3v_es_matrix_stats", "A3+D5", _ms_oracle(),
          "ES matrix_stats aggregation: pairwise population covariance "
          "and Pearson correlation over the numeric fields of the "
          "index (quantity/price/discount/tax), flattened to one row "
          "per field pair as ES clients read the response. ONE scan, "
          "ONE fixed-width aggregate row (count + 4 sums + 10 exact "
          "decimal product-sums, all map-side partial), stacked to "
          "pair rows JVM-side - the cheapest possible moment matrix "
          "at any corpus size, the same shape a distributed PCA/whitening "
          "preprocessing pass uses. Determinism: every accumulation is "
          "DECIMAL-exact (values are 2-dp money, cast to DECIMAL(18,4); "
          "products fit DECIMAL(37,8)); doubles appear only in the "
          "final covariance/correlation formula, evaluated with the "
          "IDENTICAL expression tree in both engines, so the hash "
          "matches bit-for-bit with no float-accumulation-order hazard.")
def a3v_es_matrix_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = {f: F.col(f).cast("decimal(18,4)") for f in _MS_FIELDS}
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(dec[f]).cast("decimal(38,8)").alias(f"s_{f}")
             for f in _MS_FIELDS]
    aggs += [F.sum(dec[a] * dec[b]).cast("decimal(38,8)").alias(f"p_{a}_{b}")
             for i, a in enumerate(_MS_FIELDS) for b in _MS_FIELDS[i:]]
    agg = li.agg(*aggs)

    def cov(a, b):
        return ((F.col(f"p_{a}_{b}").cast("double")
                 - F.col(f"s_{a}").cast("double")
                 * F.col(f"s_{b}").cast("double") / F.col("n"))
                / F.col("n"))

    pair_rows = None
    for i, a in enumerate(_MS_FIELDS):
        for b in _MS_FIELDS[i + 1:]:
            row = agg.select(
                F.lit(a).alias("field_x"), F.lit(b).alias("field_y"),
                F.col("n").alias("doc_count"),
                F.round(F.col(f"s_{a}").cast("double") / F.col("n"), 6)
                 .alias("mean_x"),
                F.round(cov(a, b), 6).alias("covariance"),
                F.round(cov(a, b) / (F.sqrt(cov(a, a)) * F.sqrt(cov(b, b))), 6)
                 .alias("correlation"),
            )
            pair_rows = row if pair_rows is None else pair_rows.unionByName(row)
    return pair_rows


def es_collapse(df, query: dict, collapse_field: str,
                sort: list[tuple[str, str]], size: int,
                inner_hits: dict | None = None):
    """ES search-with-collapse: hits deduplicated on ``collapse_field``
    (one TOP document per group by the caller's sort), the page then
    takes the best ``size`` groups by the same sort. The sort must be
    a total order per group (ES breaks ties by shard doc id, which is
    irreproducible; an explicit tiebreak is the deterministic
    restatement - same contract as top_hits). Plan: filtered scan ->
    per-group row_number (groups are collapse-key sized) -> global
    TakeOrderedAndProject of the group winners; never a full sort,
    and the collapse key's cardinality never materializes anywhere.

    ``inner_hits`` (ES's collapse option): each winner additionally
    carries its group's top documents by an INNER sort - 'best offer
    per seller, with the runner-up offers attached'. Spec keys as in
    has_child inner_hits (sort: explicit total order, size cap,
    _source, name). Both windows share the collapse key's hash
    partitioning (one exchange), the cap applies BEFORE collect_list
    (a skewed group contributes ``size`` structs), and the per-group
    hits join the <= ``size``-row winner page - broadcast-sized."""
    from pyspark.sql import Window

    filtered = es_search(df, query) if query else df
    order = [
        (F.col(c).desc() if d == "desc" else F.col(c).asc()) for c, d in sort
    ]
    w = Window.partitionBy(collapse_field).orderBy(*order)
    ranked = filtered.withColumn("__rn", F.row_number().over(w))
    winners = (ranked.filter(F.col("__rn") == 1).drop("__rn")
               .orderBy(*order).limit(size))
    if inner_hits is None:
        return winners
    if not inner_hits.get("sort"):
        raise ValueError("inner_hits needs an explicit total-order 'sort'")
    if not inner_hits.get("_source"):
        raise ValueError("inner_hits needs '_source' fields")
    ih_size = int(inner_hits.get("size", 3))
    src = list(inner_hits["_source"])
    w2 = Window.partitionBy(collapse_field).orderBy(
        *_sort_spec_columns(inner_hits["sort"]))
    hit = F.struct(F.col("__ihr"), *[F.col(c) for c in src])
    hits = (ranked.withColumn("__ihr", F.row_number().over(w2))
            .groupBy(collapse_field)
            .agg(F.transform(
                F.sort_array(F.collect_list(
                    F.when(F.col("__ihr") <= ih_size, hit))),
                lambda s: F.struct(*[s[c].alias(c) for c in src]))
                .alias(inner_hits.get("name", "inner_hits"))))
    return (winners.join(hits, collapse_field, "inner")
            .orderBy(*order).limit(size))


@register("a3w_es_terms_order_by_metric", "A3+D8", """
SELECT * FROM (
  SELECT o_custkey AS key, COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders
  GROUP BY 1
) ORDER BY revenue DESC, key LIMIT 15
""", "ES terms aggregation ordered by a SUB-METRIC (order: {revenue: "
     "desc}) instead of doc_count - the 'top customers by revenue' "
     "leaderboard, which is semantically different from top-by-count "
     "whenever value and volume diverge. Still one map-side-partial "
     "grouped aggregate + TakeOrderedAndProject on the bucket table "
     "(never a full sort); ES documents this ordering as "
     "approximate across shards - the compiled form is exact, "
     "at-least-as-correct. _key and _count orders compile through "
     "the same path.")
def a3w_es_terms_order_by_metric(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "top_customers": {
            "terms": {"field": "o_custkey", "size": 15,
                      "order": {"revenue": "desc"}},
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
        }
    })


@register("a3x_es_field_collapse", "A3+E4", """
SELECT key, o_orderkey, o_totalprice FROM (
  SELECT o_custkey AS key, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_orderstatus = 'O'
) WHERE rn = 1
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""", "ES field collapsing: open-order search results deduplicated to "
     "ONE top hit per customer (collapse on o_custkey, sorted by "
     "price with the order key as the deterministic tiebreak), then "
     "the 20 best collapsed groups - the 'one result per domain' "
     "SERP behavior. Pushed filter -> per-group row_number (groups "
     "are per-customer sized) -> TakeOrderedAndProject of the "
     "winners; group cardinality never concentrates on one reducer.")
def a3x_es_field_collapse(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_collapse(
        o.select(F.col("o_custkey").alias("key"), "o_orderkey",
                 "o_totalprice", "o_orderstatus"),
        {"term": {"o_orderstatus": "O"}},
        "key",
        [("o_totalprice", "desc"), ("o_orderkey", "asc")],
        20,
    ).select("key", "o_orderkey", "o_totalprice")


@register("a3y_es_date_range_agg", "A3", """
WITH r AS (
  SELECT * FROM (VALUES
    ('*-1995-01-01',          NULL,                            TIMESTAMP '1995-01-01'),
    ('1995-01-01-1997-06-01', TIMESTAMP '1995-01-01',          TIMESTAMP '1997-06-01'),
    ('1996-01-01-1998-01-01', TIMESTAMP '1996-01-01',          TIMESTAMP '1998-01-01'),
    ('1997-06-01-*',          TIMESTAMP '1997-06-01',          NULL)
  ) AS t(key, lo, hi)
)
SELECT r.key, COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue
FROM orders o JOIN r
  ON (r.lo IS NULL OR o.o_orderdate >= r.lo)
 AND (r.hi IS NULL OR o.o_orderdate <  r.hi)
GROUP BY r.key
""", "ES date_range aggregation with OVERLAPPING calendar ranges: "
     "[from, to) half-open buckets on the order date, a document "
     "landing in EVERY matching range (the 1996-1998 bucket overlaps "
     "both neighbors - the fiscal-vs-calendar-year dashboard shape). "
     "Compiles to one scan + explode of the per-row matching-key "
     "array + one grouped aggregate; output rows = range count "
     "regardless of corpus size, and the scan never repeats per "
     "range (the naive N-scans-for-N-ranges plan at 100 TB).")
def a3y_es_date_range_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "by_period": {
            "date_range": {"field": "o_orderdate", "ranges": [
                {"to": "1995-01-01"},
                {"from": "1995-01-01", "to": "1997-06-01"},
                {"from": "1996-01-01", "to": "1998-01-01"},
                {"from": "1997-06-01"},
            ]},
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
        }
    })


@register("a3z_es_significant_text", "A3+K4", """
WITH toks AS (
  SELECT DISTINCT doc_id, lang,
         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
  FROM documents
),
fg AS (SELECT tok, COUNT(*) AS fg_c FROM toks WHERE lang = 'de' GROUP BY tok),
bg AS (SELECT tok, COUNT(*) AS bg_c FROM toks GROUP BY tok),
nn AS (SELECT COUNT(DISTINCT CASE WHEN lang = 'de' THEN doc_id END) AS fg_n,
              COUNT(DISTINCT doc_id) AS bg_n
       FROM documents),
scored AS (
  SELECT fg.tok AS term, fg_c, bg_c,
         (CAST(fg_c AS DOUBLE) / fg_n - CAST(bg_c AS DOUBLE) / bg_n)
           * ((CAST(fg_c AS DOUBLE) / fg_n) / (CAST(bg_c AS DOUBLE) / bg_n)) AS s
  FROM fg JOIN bg ON fg.tok = bg.tok CROSS JOIN nn
)
SELECT term, fg_c, bg_c, ROUND(s, 6) AS score
FROM scored WHERE s > 0
ORDER BY s DESC, term LIMIT 15
""", "ES significant_text aggregation: which TOKENS are "
     "over-represented in the German subset relative to the whole "
     "corpus, JLH-scored ((fg% - bg%) * fg%/bg%) - significant_terms' "
     "free-text sibling, the 'what words characterize this slice' "
     "facet. Token frequencies are DOCUMENT frequencies (per-doc "
     "distinct tokens, ES's filter_duplicate_text-adjacent behavior), "
     "from one explode + distinct + two grouped counts; the "
     "foreground joins the background on the token (both token-"
     "cardinality sized, never row-sized) with the 1-row totals "
     "broadcast. Same JLH math as a3i, asserted over text instead of "
     "a keyword field.")
def a3z_es_significant_text(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "lang",
                 F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .distinct()
    )
    fg = toks.filter(F.col("lang") == "de").groupBy("tok").agg(
        F.count("*").alias("fg_c"))
    bg = toks.groupBy("tok").agg(F.count("*").alias("bg_c"))
    nn = d.agg(
        F.countDistinct(F.when(F.col("lang") == "de", F.col("doc_id")))
         .alias("fg_n"),
        F.countDistinct("doc_id").alias("bg_n"),
    )
    fgp = F.col("fg_c").cast("double") / F.col("fg_n")
    bgp = F.col("bg_c").cast("double") / F.col("bg_n")
    s = (fgp - bgp) * (fgp / bgp)
    return (
        fg.join(bg, "tok").crossJoin(F.broadcast(nn))
        .select(F.col("tok").alias("term"), "fg_c", "bg_c",
                F.round(s, 6).alias("score"), s.alias("_s"))
        .filter(F.col("_s") > 0)
        .orderBy(F.col("_s").desc(), "term")
        .limit(15)
        .drop("_s")
    )


@register("a3_sliced_scroll_export", "A3+A2", """
WITH sliced AS (
  SELECT o_orderkey,
         CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 6 AS slice_id
  FROM orders
)
SELECT slice_id, COUNT(*) AS n_docs,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM sliced
GROUP BY slice_id
""", "ES sliced scroll / point-in-time export semantics: a parallel "
     "dump opens m slices, slice i claiming docs with hash(id) % m = "
     "i - disjoint, collectively exhaustive, no coordination between "
     "workers (the elasticsearch-hadoop / Spark-connector input-split "
     "rule; the Cassandra twin is a2b's token ranges). Slicing uses "
     "the engine's portable hash so both engines assign every doc to "
     "the SAME slice - the per-slice counts and key ranges "
     "hash-match, proving partition determinism, the property that "
     "makes a distributed export restartable per-slice. One scan, "
     "one grouped aggregate; slice skew is hash-bounded.")
def a3_sliced_scroll_export(spark, sf_dir):
    from cassandra_elasticsearch_sync_spark.pipeline.hashing import (
        portable_hash60,
    )

    o = load_table(spark, sf_dir, "orders")
    sliced = o.select(
        "o_orderkey",
        (portable_hash60(F.col("o_orderkey").cast("string")) % 6)
        .alias("slice_id"),
    )
    return sliced.groupBy("slice_id").agg(
        F.count("*").alias("n_docs"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Composite-agg client sweep (after-key pagination loop) + nested path query
# ---------------------------------------------------------------------------

def es_composite_sweep(df: DataFrame, aggs: dict,
                       max_pages: int = 1000) -> DataFrame:
    """Drive an ES composite aggregation the way a client sweeps it:
    run a page, feed its LAST bucket's source key back as the
    ``after`` cursor, repeat until a short page. Each page is one
    bounded distributed job (agg + TakeOrderedAndProject of ``size``
    buckets) - exactly the ES client contract, and the only correct
    way to visit EVERY bucket of a high-cardinality space (deep terms
    sizes truncate). Each page is collected and kept on the driver,
    so it holds up to ``max_pages`` x ``size`` buckets by the end.
    Returns all pages stamped with their page number, so the oracle
    can prove the cursor tiles the bucket space with no gaps and no
    overlaps."""
    from pyspark.sql import types as T

    (name, spec), = aggs.items()
    comp = dict(spec["composite"])
    src_names = [next(iter(s)) for s in comp["sources"]]
    size = comp.get("size", 10)
    after = comp.get("after")
    rows_out: list = []
    schema = None
    for page_no in range(max_pages):
        comp_page = {k: v for k, v in comp.items() if k != "after"}
        if after is not None:
            comp_page["after"] = after
        page_spec = {name: {
            **{k: v for k, v in spec.items() if k != "composite"},
            "composite": comp_page,
        }}
        page = es_aggregate(df, page_spec)
        rows = page.collect()       # bounded: <= size buckets per page
        schema = page.schema
        if not rows:
            break
        rows_out.extend((page_no, *tuple(r)) for r in rows)
        after = {n: rows[-1][n] for n in src_names}
        if len(rows) < size:
            break
    out_schema = T.StructType(
        [T.StructField("page", T.IntegerType())] + list(schema.fields))
    return local_relation(df.sparkSession, rows_out, out_schema)


@register("a3aa_es_composite_paged_sweep", "A3", """
WITH g AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS status,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders
  GROUP BY o_orderpriority, o_orderstatus
)
SELECT CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY pri, status) - 1) / 4) AS INT)
         AS page,
       pri, status, doc_count, revenue
FROM g
""", "ES composite aggregation swept to EXHAUSTION through the "
     "after-key cursor loop (the client protocol a3g's single page "
     "compiles for): each page is one bounded agg + top-N job, the "
     "last bucket's source key feeds the next page's after cursor, "
     "and the loop stops on the first short page. The oracle is the "
     "full GROUP BY with buckets assigned to pages by rank - so the "
     "hash check proves the cursor tiles the ENTIRE bucket space "
     "with no gap, no overlap, and in exact compound-key order. "
     "Driver state is one page of buckets (<= size), never the "
     "bucket space; page count scales with cardinality/size while "
     "every page stays a distributed plan.")
def a3aa_es_composite_paged_sweep(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_composite_sweep(o, {
        "sweep": {
            "composite": {
                "sources": [
                    {"pri": {"terms": {"field": "o_orderpriority"}}},
                    {"status": {"terms": {"field": "o_orderstatus"}}},
                ],
                "size": 4,
            },
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
        }
    })


def order_docs_with_items(spark, sf_dir: str) -> DataFrame:
    """Orders as ES documents with a nested ``items`` mapping (the
    array-of-objects shape an order document has in a real index):
    items collected from lineitem, sorted for determinism."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct(
            "l_linenumber", "l_quantity", "l_extendedprice"))).alias("items"))
    return o.join(items, o.o_orderkey == items.l_orderkey).select(
        "o_orderkey", "o_totalprice", "items")


_NESTED_PATH_DSL = {
    "nested": {
        "path": "items",
        "query": {"bool": {"must": [
            {"range": {"items.l_quantity": {"gte": 48}}},
            {"range": {"items.l_extendedprice": {"gte": 60000}}},
        ]}},
    }
}


@register("a3ab_es_nested_path_query", "A3", """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_quantity >= 48
                AND l_extendedprice >= 60000)
""", "ES nested path query: `nested: {path: items, query: bool}` over "
     "an array-of-objects mapping - the document matches only if ONE "
     "item satisfies BOTH range conditions (the semantic a flattened "
     "object mapping cannot express: two top-level ranges would match "
     "orders where different items satisfy each). Compiles to the "
     "higher-order exists() lambda over the array column - JVM-side, "
     "no explode, no shuffle, no UDF - and recurses for multi-level "
     "paths. The oracle is the correlated EXISTS against the "
     "un-nested lineitem rows, proving same-element semantics.")
def a3ab_es_nested_path_query(spark, sf_dir):
    docs = order_docs_with_items(spark, sf_dir)
    return es_search(docs, _NESTED_PATH_DSL).select(
        "o_orderkey", "o_totalprice")


def es_script_fields(df: DataFrame, script_fields: dict) -> DataFrame:
    """ES ``script_fields``: per-hit computed fields from a Painless
    arithmetic script over ``doc['field'].value`` references -
    compiled to Spark SQL expressions (JVM-side, codegen'd; never a
    python UDF). The supported subset is the arithmetic dashboards
    actually use, mirroring the Painless subset bucket_script takes."""
    import re as _re

    out = df
    for name, spec in script_fields.items():
        src = spec["script"]["source"]
        expr = _re.sub(r"doc\[['\"](\w+)['\"]\]\.value",
                       r"CAST(`\1` AS DOUBLE)", src)
        out = out.withColumn(name, F.round(F.expr(expr).cast("double"), 6))
    return out


@register("a3ac_es_script_fields", "A3+H3", """
SELECT o_orderkey,
       ROUND(CAST(o_totalprice AS DOUBLE) * 0.9, 6) AS discounted,
       ROUND(CAST(o_totalprice AS DOUBLE) / (CAST(o_custkey AS DOUBLE) % 5.0 + 1.0),
             6) AS per_bucket
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 300000
""", "ES script_fields: per-hit computed fields from Painless "
     "arithmetic (doc['f'].value * 0.9 ...) attached to a filtered "
     "search - compiled to whole-stage-codegen SQL expressions, not "
     "a per-row script engine, so at 100 TB the 'script' costs the "
     "same as any projected expression. Doubles: one multiply/divide "
     "of exact inputs, rounded 6 dp on both engines.")
def a3ac_es_script_fields(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    hits = es_search(o, {"bool": {"must": [
        {"term": {"o_orderstatus": "F"}},
        {"range": {"o_totalprice": {"gte": 300000}}},
    ]}})
    return es_script_fields(hits, {
        "discounted": {"script": {"source": "doc['o_totalprice'].value * 0.9"}},
        "per_bucket": {"script": {
            "source": "doc['o_totalprice'].value / "
                      "(doc['o_custkey'].value % 5.0 + 1.0)"}},
    }).select("o_orderkey", "discounted", "per_bucket")


# ---------------------------------------------------------------------------
# Geo queries: geo_distance / geo_bounding_box filters + geotile_grid agg
# ---------------------------------------------------------------------------

def _customer_geo(spark, sf_dir) -> DataFrame:
    """Customers with a deterministic synthetic geo_point: lat/lon are
    EXACT integer-arithmetic derivations of the key (mod then one
    double division), so both engines start from bit-identical
    coordinates - only the trig that follows can differ, by libm ulps
    the 6-dp output rounding absorbs. Latitude stays in [-60, 60) so
    web-mercator tiling is everywhere defined."""
    c = load_table(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") * 7919 % 1200000) / 10000.0 - 60.0
    lon = (F.col("c_custkey") * 104729 % 3600000) / 10000.0 - 180.0
    return c.withColumn(
        "location", F.struct(lat.alias("lat"), lon.alias("lon")))


_GEO_SQL_PREFIX = """
WITH geo AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         (c_custkey * 7919 % 1200000) / 10000.0 - 60.0 AS lat,
         (c_custkey * 104729 % 3600000) / 10000.0 - 180.0 AS lon
  FROM customer
)
"""


@register("a3ad_es_geo_distance", "A3+H3", _GEO_SQL_PREFIX + """
, d AS (
  SELECT c_custkey, c_nationkey,
         2.0 * 6371008.7714 * ASIN(SQRT(
           SIN(RADIANS(40.7128 - lat) / 2) * SIN(RADIANS(40.7128 - lat) / 2)
           + COS(RADIANS(lat)) * COS(RADIANS(40.7128))
             * SIN(RADIANS(-74.006 - lon) / 2)
             * SIN(RADIANS(-74.006 - lon) / 2))) AS dist_m
  FROM geo
)
SELECT c_custkey, c_nationkey, ROUND(dist_m / 1000.0, 6) AS dist_km
FROM d WHERE dist_m <= 3000000.0
ORDER BY dist_m, c_custkey LIMIT 200
""", "ES geo_distance query + _geo_distance sort: customers within "
     "3000km of an origin, nearest-200 page. The DSL clause compiles "
     "to the haversine arc on ES's mean-radius sphere as plain JVM "
     "trig columns (whole-stage codegen, predicate evaluated at the "
     "scan - no UDF, no geo library), and the sort is the standard "
     "TakeOrderedAndProject top-k with a key tiebreak. Coordinates "
     "derive from integer arithmetic so both engines compare the "
     "same points; the distance cut carries the documented "
     "float-vs-threshold caveat (NEXT_STEPS limitation 5).")
def a3ad_es_geo_distance(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    origin = {"lat": 40.7128, "lon": -74.006}
    hits = es_search(g, {"bool": {"filter": [
        {"geo_distance": {"distance": "3000km", "location": origin}},
    ]}})
    dist_m = _haversine_m(
        F.col("location.lat"), F.col("location.lon"),
        F.lit(origin["lat"]), F.lit(origin["lon"]))
    return (hits
            .select("c_custkey", "c_nationkey",
                    dist_m.alias("_dist_m"),
                    F.round(dist_m / 1000.0, 6).alias("dist_km"))
            .orderBy("_dist_m", "c_custkey")
            .limit(200)
            .drop("_dist_m"))


@register("a3ae_es_geotile_grid", "A3+D1", _GEO_SQL_PREFIX + """
, t AS (
  SELECT CAST(FLOOR((lon + 180.0) / 360.0 * 16.0) AS BIGINT) AS tx,
         CAST(FLOOR((1.0 - LN(TAN(RADIANS(lat)) + 1.0 / COS(RADIANS(lat)))
                     / PI()) / 2.0 * 16.0) AS BIGINT) AS ty,
         CAST(c_acctbal AS DECIMAL(18, 2)) AS bal
  FROM geo
  WHERE lon >= -180.0 AND lon < 180.0
)
SELECT CONCAT('4/', CAST(tx AS VARCHAR), '/', CAST(ty AS VARCHAR)) AS tile,
       COUNT(*) AS doc_count,
       CAST(CAST(SUM(bal) AS DECIMAL(38, 2)) AS DOUBLE) AS sum_acctbal
FROM t GROUP BY tx, ty
ORDER BY doc_count DESC, tile LIMIT 40
""", "ES geotile_grid aggregation at zoom 4: buckets are slippy-map "
     "(web mercator) tiles keyed 'z/x/y' exactly as ES returns them, "
     "ordered by doc_count like a terms agg. One hash aggregate over "
     "trig-derived integer tile indexes - scales like any groupBy "
     "(the tile key is computed map-side; no geohash library, no "
     "UDF). Balances summed as DECIMAL so the metric is order-exact "
     "across engines; tile-boundary floor flips would need a libm "
     "ulp landing exactly on an integer edge (measure-zero for "
     "these rational coordinates).")
def a3ae_es_geotile_grid(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    z = 16.0  # 2^4 tiles per axis at zoom 4
    lat_r = F.radians(F.col("location.lat"))
    tx = F.floor((F.col("location.lon") + 180.0) / 360.0 * z).cast("long")
    ty = F.floor(
        (F.lit(1.0) - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi)
        / 2.0 * z).cast("long")
    return (g
            .filter((F.col("location.lon") >= -180.0)
                    & (F.col("location.lon") < 180.0))
            .select(tx.alias("tx"), ty.alias("ty"),
                    F.col("c_acctbal").cast("decimal(18,2)").alias("bal"))
            .groupBy("tx", "ty")
            .agg(F.count("*").alias("doc_count"),
                 F.sum("bal").cast("decimal(38,2)").cast("double")
                 .alias("sum_acctbal"))
            .select(F.concat_ws("/", F.lit("4"), "tx", "ty").alias("tile"),
                    "doc_count", "sum_acctbal")
            .orderBy(F.desc("doc_count"), "tile")
            .limit(40))


@register("a3af_es_percentile_ranks", "A3+D6", """
SELECT key, doc_count, rank_at_100k, rank_at_250k
FROM (
  SELECT o_orderpriority AS key,
         COUNT(*) AS doc_count,
         ROUND(100.0 * SUM(CASE WHEN o_totalprice <= 100000 THEN 1
                                ELSE 0 END) / COUNT(*), 6) AS rank_at_100k,
         ROUND(100.0 * SUM(CASE WHEN o_totalprice <= 250000 THEN 1
                                ELSE 0 END) / COUNT(*), 6) AS rank_at_250k
  FROM orders WHERE o_orderstatus = 'O'
  GROUP BY o_orderpriority
) ORDER BY doc_count DESC, key LIMIT 5
""", "ES percentile_ranks metric agg (the inverse of a3l's "
     "percentiles): for each probe value, what percent of documents "
     "sit at or below it - the SLO question ('what fraction of "
     "orders clear under our threshold'). Computed as the exact "
     "empirical CDF from integer conditional counts (ES itself "
     "t-digest-interpolates; exact is cross-engine hashable and "
     "strictly more accurate), one map-side-combinable aggregate.")
def a3af_es_percentile_ranks(spark, sf_dir):
    o = es_search(load_table(spark, sf_dir, "orders"),
                  {"term": {"o_orderstatus": "O"}})
    cnt = F.count("*")
    return (o.groupBy(F.col("o_orderpriority").alias("key"))
            .agg(cnt.alias("doc_count"),
                 F.round(100.0 * F.sum(
                     F.when(F.col("o_totalprice") <= 100000, 1).otherwise(0))
                     / cnt, 6).alias("rank_at_100k"),
                 F.round(100.0 * F.sum(
                     F.when(F.col("o_totalprice") <= 250000, 1).otherwise(0))
                     / cnt, 6).alias("rank_at_250k"))
            .orderBy(F.desc("doc_count"), "key")
            .limit(5))


@register("a3ag_es_geo_distance_rings", "A3+D1", _GEO_SQL_PREFIX + """
, d AS (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         2.0 * 6371008.7714 * ASIN(SQRT(
           SIN(RADIANS(40.7128 - lat) / 2) * SIN(RADIANS(40.7128 - lat) / 2)
           + COS(RADIANS(lat)) * COS(RADIANS(40.7128))
             * SIN(RADIANS(-74.006 - lon) / 2)
             * SIN(RADIANS(-74.006 - lon) / 2))) AS dist_m
  FROM geo
)
SELECT ring, COUNT(*) AS doc_count,
       CAST(CAST(SUM(bal) AS DECIMAL(38,2)) AS DOUBLE) AS sum_acctbal
FROM (
  SELECT CASE WHEN dist_m < 2000000.0 THEN '*-2000km'
              WHEN dist_m < 6000000.0 THEN '2000km-6000km'
              ELSE '6000km-*' END AS ring,
         bal
  FROM d
)
GROUP BY ring ORDER BY ring
""", "ES geo_distance RANGE aggregation: concentric rings around an "
     "origin (the store-locator / catchment-area dashboard), each "
     "bucket counting documents and summing a metric. The ring "
     "assignment is the same in-plan haversine as the a3ad filter "
     "(JVM trig at the scan, no UDF); balances sum as DECIMAL so "
     "the only cross-engine float is the ring-edge comparison "
     "itself (documented threshold caveat, edges far from any "
     "realizable coordinate ulp).")
def a3ag_es_geo_distance_rings(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    dist_m = _haversine_m(
        F.col("location.lat"), F.col("location.lon"),
        F.lit(40.7128), F.lit(-74.006))
    ring = (F.when(dist_m < 2_000_000.0, "*-2000km")
            .when(dist_m < 6_000_000.0, "2000km-6000km")
            .otherwise("6000km-*"))
    return (g.select(ring.alias("ring"),
                     F.col("c_acctbal").cast("decimal(18,2)").alias("bal"))
            .groupBy("ring")
            .agg(F.count("*").alias("doc_count"),
                 F.sum("bal").cast("decimal(38,2)").cast("double")
                 .alias("sum_acctbal"))
            .orderBy("ring"))


# A pentagon over the synthetic coordinate domain with a rectangular
# hole - GeoJSON [lon, lat] vertex order, rings closed. Shared by the
# registered query AND its generated oracle so the literals cannot
# drift.
_GEO_SHAPE_POLY = {
    "type": "polygon",
    "coordinates": [
        [[-150.0, -50.0], [-30.0, -55.0], [120.0, -10.0], [60.0, 50.0],
         [-100.0, 45.0], [-150.0, -50.0]],
        [[-60.0, -20.0], [0.0, -25.0], [-20.0, 10.0], [-60.0, -20.0]],
    ],
}


@register("a3bw_es_geo_shape", "A3+C7", _GEO_SQL_PREFIX + """
SELECT c_custkey, c_nationkey, c_acctbal
FROM geo
WHERE """ + geo_shape_crossing_sql(_GEO_SHAPE_POLY) + """
ORDER BY c_custkey
""", "ES geo_shape query: customers whose point lies within a "
     "pentagon carrying a rectangular HOLE (relation=intersects; for "
     "a point field intersects == within, and `contains` is rejected "
     "- a point cannot contain a polygon). The literal polygon "
     "unrolls at compile time into the even-odd ray cast: a sum of "
     "per-edge when() crossing terms (holes subtract naturally - "
     "crossings over outer+hole rings sum even) behind a bounding-"
     "box guard whose range comparisons prune like any filter. Pure "
     "double arithmetic in whole-stage codegen - no trig, no geo "
     "library, no UDF - and the DuckDB oracle is GENERATED from the "
     "same vertex literals, so the predicate is bit-identical "
     "cross-engine with zero tolerance.")
def a3bw_es_geo_shape(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    hits = es_search(g, {"geo_shape": {"location": {
        "shape": _GEO_SHAPE_POLY, "relation": "intersects"}}})
    return (hits.select("c_custkey", "c_nationkey", "c_acctbal")
            .orderBy("c_custkey"))


@register("a3ah_es_multi_terms", "A3+D1", """
SELECT key, doc_count, sum_price
FROM (
  SELECT o_orderstatus || '|' || o_orderpriority AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
)
ORDER BY doc_count DESC, key LIMIT 10
""", "ES multi_terms aggregation (7.12+): buckets keyed by the "
     "COMPOUND of several fields - the cross-product breakdown one "
     "terms agg cannot express without a runtime-concat script. "
     "Compiles to a plain multi-column hash aggregate with the "
     "compound key rendered '|'-joined exactly as ES returns "
     "key_as_string; metric sums as DECIMAL for order-exactness; "
     "terms-style doc_count ordering with a key tiebreak.")
def a3ah_es_multi_terms(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("doc_count"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("decimal(38,2)").cast("double").alias("sum_price"))
            .select(F.concat_ws("|", "o_orderstatus", "o_orderpriority")
                    .alias("key"), "doc_count", "sum_price")
            .orderBy(F.desc("doc_count"), "key")
            .limit(10))


_AGGS_EXT_STATS_DEMO = {
    "segments": {
        "terms": {"field": "c_mktsegment", "size": 10},
        "aggs": {"bal": {"extended_stats": {"field": "c_acctbal"}}},
    }
}


@register("a3al_es_extended_stats", "A3+D5", """
SELECT c_mktsegment AS key, COUNT(*) AS doc_count,
       COUNT(c_acctbal) AS bal_count,
       MIN(c_acctbal) AS bal_min,
       MAX(c_acctbal) AS bal_max,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DECIMAL(38,2))
            AS DOUBLE) AS bal_sum,
       ROUND(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                       AS DECIMAL(38,4)) AS DOUBLE)
             / COUNT(c_acctbal), 6) AS bal_avg,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS bal_sum_of_squares,
       ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                      * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 10000.0 / COUNT(c_acctbal)
             - (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                          AS DECIMAL(38,2)) AS DOUBLE) / COUNT(c_acctbal))
               * (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                            AS DECIMAL(38,2)) AS DOUBLE) / COUNT(c_acctbal)),
             6) AS bal_variance,
       ROUND(SQRT(
         CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                  * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
           / 10000.0 / COUNT(c_acctbal)
         - (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                      AS DECIMAL(38,2)) AS DOUBLE) / COUNT(c_acctbal))
           * (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                        AS DECIMAL(38,2)) AS DOUBLE) / COUNT(c_acctbal))),
             6) AS bal_std_deviation
FROM customer
GROUP BY c_mktsegment
ORDER BY doc_count DESC, key LIMIT 10
""", "ES extended_stats metric agg under a terms bucket: the stats "
     "object plus sum_of_squares and POPULATION variance/std-dev "
     "(ES's documented default), flattened the way ES clients "
     "flatten the response. Cross-engine exactness: the 2-dp "
     "balances square to exact 4-dp numbers, so sum_of_squares "
     "rides the same decimal rescale as sum (parity.py's dsum "
     "bound: |sum|*10^4 < 2^53 holds for this column through "
     "sf0.1); variance is then one IEEE expression over exact "
     "doubles. One hash aggregate - partial map-side combine, no "
     "second pass for the moments.")
def a3al_es_extended_stats(spark, sf_dir):
    return es_aggregate(load_table(spark, sf_dir, "customer"),
                        _AGGS_EXT_STATS_DEMO)


_FUZZY_DSL_DEMO = {
    "bool": {
        "must": [
            {"match_phrase": {"text": "fast table"}},
            {"fuzzy": {"lang": {"value": "eng"}}},
        ],
        "filter": [
            {"regexp": {"source": "src1[0-9]"}},
            {"terms_set": {"tokens": {
                "terms": ["key", "agg", "row"],
                "minimum_should_match": 2}}},
        ],
    }
}


@register("a3am_es_fuzzy_phrase_search", "A3", """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (' ' || LOWER(text) || ' ') LIKE '% fast table %'
  AND levenshtein(lang, 'eng') <= 1
  AND regexp_matches(source, '^(?:src1[0-9])$')
  AND LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(text, ' '),
          x -> x IN ('key', 'agg', 'row')))) >= 2
""", "ES match_phrase + fuzzy + regexp + terms_set in one bool tree "
     "- the four query clauses beyond exact term matching that real "
     "search traffic leans on. match_phrase is consecutive-token "
     "containment under the whitespace analyzer (space-padded "
     "substring - no positions index needed); fuzzy applies ES's "
     "AUTO edit-distance ladder via levenshtein (len-3 term -> 1 "
     "edit, so 'eng' matches 'en'); regexp gets ES's ANCHORED "
     "full-match semantics via explicit ^(?:...)$; terms_set "
     "counts DISTINCT matching terms against the tokenized text "
     "with array_intersect - JVM higher-order set op, no explode. "
     "All four compile to pushdown-friendly predicates in one scan.")
def a3am_es_fuzzy_phrase_search(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("tokens", F.split(F.col("text"), " "))
    return (es_search(d, _FUZZY_DSL_DEMO)
            .select("doc_id", "lang", "source", "n_chars"))


_ADH_LADDER = (1, 7, 30, 90, 365)


def es_auto_date_histogram(df: DataFrame, field: str,
                           target_buckets: int) -> DataFrame:
    """ES auto_date_histogram: the engine (not the caller) picks the
    interval - the smallest rounding from a fixed ladder that keeps
    the bucket count at or under ``target_buckets``. A 1-row span
    probe (min/max day - a bounded collect, the house rule) selects
    the interval; the bucketing itself is pure integer day arithmetic
    from the span start, so keys are exact on any engine. ES's ladder
    mixes calendar and fixed units; this compiler uses fixed-day
    roundings (1d/7d/30d/90d/365d), documented as the supported
    subset."""
    span = df.agg(
        F.min(F.col(field).cast("date")).alias("d0"),
        F.max(F.col(field).cast("date")).alias("d1"),
    ).collect()[0]
    span_days = (span.d1 - span.d0).days + 1
    interval = next((iv for iv in _ADH_LADDER
                     if span_days <= target_buckets * iv), _ADH_LADDER[-1])
    d0 = F.lit(span.d0)
    off = F.floor(F.datediff(F.col(field).cast("date"), d0)
                  / F.lit(interval)).cast("int")
    return (df.groupBy(F.date_add(d0, off * interval).alias("key"))
            .agg(F.count("*").alias("doc_count"))
            .withColumn("interval_days", F.lit(interval)))


@register("a3an_es_auto_date_histogram", "A3+D1", """
WITH b AS (
  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
  FROM events
),
iv AS (
  SELECT d0,
         CASE WHEN date_diff('day', d0, d1) + 1 <= 15 * 1 THEN 1
              WHEN date_diff('day', d0, d1) + 1 <= 15 * 7 THEN 7
              WHEN date_diff('day', d0, d1) + 1 <= 15 * 30 THEN 30
              WHEN date_diff('day', d0, d1) + 1 <= 15 * 90 THEN 90
              ELSE 365 END AS interval_days
  FROM b
)
SELECT iv.d0 + CAST((date_diff('day', iv.d0, CAST(e.ts AS DATE))
                     // iv.interval_days) * iv.interval_days AS INT)
         AS key,
       COUNT(*) AS doc_count,
       CAST(MIN(iv.interval_days) AS INT) AS interval_days
FROM events e, iv
GROUP BY 1
""", "ES auto_date_histogram (target_buckets=15): the agg that picks "
     "its own interval - the smallest fixed-day rounding "
     "(1d/7d/30d/90d/365d) keeping bucket count <= the target - so "
     "dashboards get a readable axis at any time span. The span "
     "probe is a 1-row min/max aggregate; bucket keys are exact "
     "integer day offsets from the span start (DATE-typed on both "
     "engines), then one hash aggregate. At 100 TB the probe reads "
     "parquet min/max footer stats in one tiny job and the "
     "histogram is a single shuffle on the bucket key.")
def a3an_es_auto_date_histogram(spark, sf_dir):
    return es_auto_date_histogram(
        load_table(spark, sf_dir, "events"), "ts", 15)


@register("a3ao_es_sibling_bucket_stats", "A3+D2", """
WITH buckets AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS key,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
s AS (
  SELECT COUNT(*) AS n_buckets,
         MIN(rev) AS min_bucket, MAX(rev) AS max_bucket,
         ROUND(SUM(rev) / COUNT(*), 6) AS avg_bucket,
         ROUND(SUM(rev), 2) AS sum_bucket
  FROM buckets
)
SELECT s.n_buckets, s.min_bucket, s.max_bucket, s.avg_bucket,
       s.sum_bucket,
       (SELECT MIN(key) FROM buckets WHERE rev = s.max_bucket)
         AS max_bucket_key,
       (SELECT MIN(key) FROM buckets WHERE rev = s.min_bucket)
         AS min_bucket_key
FROM s
""", "ES sibling pipeline aggregations (avg_bucket / min_bucket / "
     "max_bucket / sum_bucket / stats_bucket) over a monthly "
     "date_histogram of revenue: the 'aggregate of the buckets' "
     "family that parent pipelines (cumulative_sum et al., a3p) "
     "cannot express. Bucket revenues are decimal-exact doubles, so "
     "the sibling stats are sums over a bucket-count-sized table - "
     "the avg_bucket division and 6-dp round are engine-identical. "
     "max/min_bucket also surface WHICH bucket won (ES returns "
     "keys[]): equality join back to the bucket table with a MIN-key "
     "tiebreak, ES's own multi-key semantics made deterministic. "
     "Everything after the one fact-table aggregate runs on a "
     "dozen-row bucket table - free at any scale.")
def a3ao_es_sibling_bucket_stats(spark, sf_dir):
    from cassandra_elasticsearch_sync_spark.parity import dsum

    o = load_table(spark, sf_dir, "orders")
    buckets = (o.groupBy(F.date_trunc("month", "o_orderdate")
                         .cast("date").alias("key"))
               .agg(dsum("o_totalprice", 2).alias("rev")))
    s = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.min("rev").alias("min_bucket"),
        F.max("rev").alias("max_bucket"),
        F.round(F.sum("rev") / F.count("*"), 6).alias("avg_bucket"),
        F.round(F.sum("rev"), 2).alias("sum_bucket"))
    mx = (buckets.join(s.select("max_bucket"),
                       buckets.rev == F.col("max_bucket"))
          .agg(F.min("key").alias("max_bucket_key")))
    mn = (buckets.join(s.select("min_bucket"),
                       buckets.rev == F.col("min_bucket"))
          .agg(F.min("key").alias("min_bucket_key")))
    return s.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(mn))


def es_percolate(df: DataFrame, stored: dict[str, dict]) -> DataFrame:
    """ES percolate: REVERSE search - the queries are stored, each
    incoming document is matched against all of them, and the result
    is (document, matching query id) pairs. The classic alerting /
    saved-search-notification primitive.

    Compiles every stored query once, evaluates ALL of them in a
    single projection over one scan (an array of when(pred, id)
    literals compacted and exploded) - no join, no second pass, no
    per-query scan, so percolating N queries against 100 TB costs one
    read regardless of N. Documents matching nothing disappear, like
    ES's percolator response.
    """
    hits = F.array_compact(F.array(*[
        F.when(compile_query(q), F.lit(qid))
        for qid, q in sorted(stored.items())
    ]))
    return (df.withColumn("query_id", F.explode(hits)))


_PERCOLATE_DEMO = {
    "short_english": {"bool": {"must": [
        {"term": {"lang": "en"}},
        {"range": {"n_chars": {"lt": 200}}},
    ]}},
    "spark_mention": {"match": {"text": "spark"}},
    "web_sources": {"prefix": {"source": "src1"}},
    "long_doc_alert": {"range": {"n_chars": {"gte": 900}}},
}


@register("a3aq_es_percolate", "A3", """
WITH d AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
SELECT doc_id, query_id FROM (
  SELECT doc_id, 'long_doc_alert' AS query_id FROM d WHERE n_chars >= 900
  UNION ALL
  SELECT doc_id, 'short_english' FROM d WHERE lang = 'en' AND n_chars < 200
  UNION ALL
  SELECT doc_id, 'spark_mention' FROM d
  WHERE list_contains(STRING_SPLIT(LOWER(text), ' '), 'spark')
  UNION ALL
  SELECT doc_id, 'web_sources' FROM d WHERE source LIKE 'src1%'
)
""", "ES percolate (reverse search): four stored alert queries - a "
     "bool, a match, a prefix, a range - matched against every "
     "document in ONE projection over ONE scan (array of compiled "
     "predicates, compacted + exploded; no join, no per-query pass). "
     "The oracle states the naive per-query UNION ALL; the engine "
     "answers it with a single read at any corpus size, which is "
     "the entire point of a percolator.")
def a3aq_es_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")
    return es_percolate(d, _PERCOLATE_DEMO).select("doc_id", "query_id")


@register("a3ar_es_match_bool_prefix", "A3", """
WITH w AS (
  SELECT doc_id, n_chars, STRING_SPLIT(LOWER(text), ' ') AS words
  FROM documents
)
SELECT doc_id, n_chars
FROM w
WHERE list_contains(words, 'merge')
   OR list_contains(words, 'spark')
   OR LEN(list_filter(words, t -> t LIKE 'stre%')) > 0
""", "ES match_bool_prefix (the search-as-you-type query): completed "
     "terms match at word boundaries, the trailing partially-typed "
     "term matches as a prefix on ANY token - 'merge spark stre' "
     "finds docs mentioning streams/streaming. Compiles to "
     "array_contains SHOULD clauses + a higher-order exists/"
     "startswith for the prefix leg: all JVM lambda expressions over "
     "one split, no UDF, no explode, single scan at any corpus "
     "size.")
def a3ar_es_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return es_search(
        d, {"match_bool_prefix": {"text": "merge spark stre"}}
    ).select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# ES kNN vector search (the `knn` top-level search section)
# ---------------------------------------------------------------------------

def es_knn_search(df: DataFrame, knn: dict, id_col: str) -> DataFrame:
    """Compile an ES ``knn`` search clause onto a DataFrame scan.

    Spec shape (the ES 8.x search API)::

        {"field": "embedding", "query_vector": [...], "k": 10,
         "num_candidates": 50, "similarity": "cosine",
         "filter": {...query DSL...}}

    Semantics and scale shape:

    - ``filter`` is a PRE-filter (ES applies it during graph search,
      so the k results all satisfy it) - compiled with the same
      ``compile_query`` as every other clause and pushed into the scan.
    - ``num_candidates`` is ES's per-shard gather size; it must be
      >= k (ES rejects otherwise - enforced here, and that validation
      is its only effect). With an approximate per-shard index (HNSW)
      the knob trades recall for speed; this engine scores candidates
      EXACTLY, so recall is 1.0 regardless and the knob is a
      deliberate no-op beyond validation: TakeOrderedAndProject
      already gathers only the top k per partition (the tightest
      possible gather, i.e. effectively num_candidates == k), then
      merges the <= k-per-partition survivors on the driver - the ES
      shard-gather architecture with no shuffle and one scan at any
      corpus size.
    - ``similarity: cosine`` rejects zero vectors exactly as ES does:
      a zero QUERY vector raises, and zero-norm DOCUMENT vectors are
      excluded from candidacy (ES would have refused to index them
      under cosine similarity, so they can never appear in a page).
    - ``similarity`` -> ES's documented _score transforms:
      cosine -> (1 + cos)/2, dot_product -> (1 + dot)/2,
      l2_norm -> 1/(1 + d^2).

    Scores are rounded to 6 dp (parity.py rule); ties break on the id
    column so the page is deterministic.
    """
    field = knn["field"]
    qv = [float(x) for x in knn["query_vector"]]
    k = int(knn["k"])
    num_candidates = int(knn.get("num_candidates", max(k, 10)))
    if k <= 0:
        raise ValueError("knn.k must be positive")
    if num_candidates < k:
        raise ValueError(
            f"knn.num_candidates ({num_candidates}) must be >= k ({k})")
    sim = knn.get("similarity", "cosine")
    if "filter" in knn:
        df = df.filter(compile_query(knn["filter"]))

    from cassandra_elasticsearch_sync_spark.pipeline.similarity import dot, norm

    qcol = F.array(*[F.lit(x).cast("double") for x in qv])
    d = dot(qcol, F.col(field))
    if sim == "cosine":
        qn = sum(x * x for x in qv) ** 0.5
        if qn == 0.0:
            raise ValueError(
                "knn with cosine similarity rejects a zero query vector "
                "(ES: 'cosine similarity does not support vectors with "
                "zero magnitude')")
        # Zero-norm documents could never have been indexed under
        # cosine in ES; exclude them rather than emit NaN scores.
        df = df.filter(norm(F.col(field)) > 0)
        score = (F.lit(1.0) + d / (F.lit(qn) * norm(F.col(field)))) / 2
    elif sim == "dot_product":
        score = (F.lit(1.0) + d) / 2
    elif sim == "l2_norm":
        diff = F.aggregate(
            F.zip_with(qcol, F.col(field),
                       lambda x, y: (x - y.cast("double"))
                       * (x - y.cast("double"))),
            F.lit(0.0), lambda acc, x: acc + x)
        score = F.lit(1.0) / (F.lit(1.0) + diff)
    else:
        raise ValueError(f"unsupported knn similarity {sim!r}")
    return (
        df.select(id_col, F.round(score, 6).alias("_score"))
        .orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k)
    )


# The planted query vector is embeddings.vec_id = 100 (fetched once at
# plan build - a single-row bounded collect, same discipline as the
# <= 64-vector broadcast in k3); the oracle re-derives it as a scalar
# subquery so both engines score against identical bytes.
_KNN_K = 10


@register("a3as_es_knn_search", "A3+K3", """
WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 100),
e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1500),
s AS (
  SELECT vec_id,
         ROUND((1 + (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                     FROM (SELECT UNNEST(qe) x, UNNEST(e.embedding) y))
                    / (SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                             FROM (SELECT UNNEST(qe) x, UNNEST(qe) y)))
                       * SQRT((SELECT SUM(CAST(x AS DOUBLE)
                                          * CAST(y AS DOUBLE))
                               FROM (SELECT UNNEST(e.embedding) x,
                                            UNNEST(e.embedding) y)))))
               / 2, 6) AS _score
  FROM e, qv
)
SELECT vec_id, _score FROM s ORDER BY _score DESC, vec_id LIMIT 10
""", "ES kNN vector search (the 8.x `knn` search section): query "
     "vector + k + num_candidates + DSL pre-filter compiled onto the "
     "embedding scan - cosine _score = (1+cos)/2 exactly as ES "
     "documents, filter applied BEFORE the gather so all k hits "
     "satisfy it, per-partition exact top-candidates then a global "
     "k-merge (TakeOrderedAndProject: the ES shard-gather/"
     "coordinator-rerank architecture as one Spark plan, no shuffle). "
     "The oracle is the brute-force scored scan with the same "
     "6-dp-rounded score. num_candidates >= k enforced per ES's own "
     "validation.")
def a3as_es_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 100).select("embedding").head()
    if qv is None:  # corpus smaller than the probe id - empty page
        return local_relation(spark, [], "vec_id long, _score double")
    knn = {
        "field": "embedding",
        "query_vector": [float(x) for x in qv[0]],
        "k": _KNN_K,
        "num_candidates": 50,
        "similarity": "cosine",
        "filter": {"range": {"vec_id": {"lt": 1500}}},
    }
    return es_knn_search(e, knn, id_col="vec_id")


# ---------------------------------------------------------------------------
# ES rescore (the search-API top-window second-pass ranking)
# ---------------------------------------------------------------------------

def es_rescore(df: DataFrame, query: dict, functions: list[dict],
               rescore: dict, sort_tiebreak: str,
               size: int = 10) -> DataFrame:
    """ES `rescore`: the base query ranks ALL hits cheaply, then only
    the top `window_size` are re-scored by a costlier secondary and
    re-ranked by the weighted combination - ES's two-phase ranking
    (cheap retrieval, expensive rerank over a bounded window), the
    same candidate->verify shape as PQ-ADC + exact rerank (k3g).

    `rescore` spec (the ES 8.x body, function-score flavored)::

        {"window_size": 50,
         "query": {"rescore_query_functions": [...],   # same fn DSL
                   "query_weight": 0.7,
                   "rescore_query_weight": 1.2}}

    final = query_weight * base + rescore_query_weight * secondary for
    hits inside the window; ES leaves hits BELOW the window at their
    base score and they can never re-enter the page if size <=
    window_size (enforced here, as ES recommends). Both phases are
    TakeOrderedAndProject gathers - the base window never globally
    sorts, and the rerank sorts <= window_size rows.
    """
    wsize = int(rescore.get("window_size", 10))
    body = rescore["query"]
    qw = float(body.get("query_weight", 1.0))
    rqw = float(body.get("rescore_query_weight", 1.0))
    if size > wsize:
        raise ValueError(
            f"size ({size}) must be <= rescore window_size ({wsize})")

    def _score(fns: list[dict]):
        terms = []
        for fn in fns:
            if "field_value_factor" in fn:
                b = fn["field_value_factor"]
                terms.append(F.col(b["field"]).cast("double")
                             * F.lit(float(b.get("factor", 1.0))))
            elif "filter" in fn:
                terms.append(
                    F.when(compile_query(fn["filter"]),
                           F.lit(float(fn.get("weight", 1.0))))
                    .otherwise(F.lit(0.0)))
            else:
                raise ValueError(f"unsupported scoring function {fn!r}")
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    base = _score(functions)
    window = (
        es_search(df, query)
        .withColumn("_base", base)
        .orderBy(F.col("_base").desc(), F.col(sort_tiebreak).asc())
        .limit(wsize)
    )
    secondary = _score(body["rescore_query_functions"])
    final = F.lit(qw) * F.col("_base") + F.lit(rqw) * secondary
    return (
        window.withColumn("score", F.round(final, 6))
        .withColumn("_f", final)
        .orderBy(F.col("_f").desc(), F.col(sort_tiebreak).asc())
        .limit(size)
        .drop("_base", "_f")
    )


@register("a3at_es_rescore", "A3", """
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(o_totalprice AS DOUBLE) * 1.0 AS b
  FROM orders WHERE o_orderstatus = 'F'
  ORDER BY b DESC, o_orderkey ASC
  LIMIT 50
)
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ROUND(0.7 * b + 1.2 * (CAST(o_totalprice AS DOUBLE) * 0.25
             + (CASE WHEN o_orderpriority LIKE '1-%'
                     THEN 50000.0 ELSE 0.0 END)), 6) AS score
FROM base
ORDER BY 0.7 * b + 1.2 * (CAST(o_totalprice AS DOUBLE) * 0.25
         + (CASE WHEN o_orderpriority LIKE '1-%'
                 THEN 50000.0 ELSE 0.0 END)) DESC,
         o_orderkey ASC
LIMIT 10
""", "ES rescore - two-phase ranking: the base query ranks all "
     "finished orders by a cheap score, only the top-50 WINDOW is "
     "re-scored (0.7*base + 1.2*secondary, where the secondary adds "
     "an urgent-priority boost that can reorder within the window "
     "but never pull hits from below it), top-10 returned. Both "
     "phases compile to TakeOrderedAndProject gathers - the exact "
     "retrieval-then-rerank shape of k3g's PQ pipeline, on the ES "
     "API surface. The oracle states the same window/combine "
     "semantics relationally; weights are exact binary "
     "representables so the doubles agree bitwise.")
def a3at_es_rescore(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_rescore(
        o,
        {"term": {"o_orderstatus": "F"}},
        [{"field_value_factor": {"field": "o_totalprice", "factor": 1.0}}],
        {"window_size": 50,
         "query": {
             "rescore_query_functions": [
                 {"field_value_factor": {"field": "o_totalprice",
                                         "factor": 0.25}},
                 {"filter": {"wildcard": {"o_orderpriority": "1-*"}},
                  "weight": 50000.0},
             ],
             "query_weight": 0.7,
             "rescore_query_weight": 1.2,
         }},
        sort_tiebreak="o_orderkey",
        size=10,
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "score")


# ---------------------------------------------------------------------------
# ES term suggester (the `suggest` API's did-you-mean)
# ---------------------------------------------------------------------------

def es_term_suggest(df: DataFrame, text_field: str, terms: list[str],
                    max_edits: int = 2, size: int = 5,
                    suggest_mode: str = "missing") -> DataFrame:
    """ES term suggester: for each input term, candidate corpus terms
    within `max_edits` Levenshtein edits, ranked the way ES documents
    (closer edit distance first, then higher document frequency, then
    lexicographic for determinism), top `size` per input.

    suggest_mode='missing' is ES's default rule: a term that EXISTS in
    the corpus vocabulary gets no suggestions at all (it isn't
    misspelled); 'always' suggests regardless. max_edits is capped at
    2 per ES's own validation.

    Scale shape: the corpus collapses to its VOCABULARY first (one
    hash aggregate - tokens, not rows), the <= handful of input terms
    broadcast against it, and Levenshtein's early-exit bound
    (`levenshtein(a, b, max_edits)`) prunes JVM-side. Vocabulary is
    sublinear in corpus size, so the suggest cost is too.
    """
    if not 1 <= max_edits <= 2:
        raise ValueError("max_edits must be 1 or 2 (ES's validation)")
    if suggest_mode not in ("missing", "always"):
        raise ValueError(f"unsupported suggest_mode {suggest_mode!r}")
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(F.split(F.lower(text_field), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term").agg(F.count("*").alias("freq"))
    )
    inputs = local_relation(spark, [(t,) for t in terms], "input string")
    cand = (
        vocab.join(F.broadcast(inputs),
                   F.levenshtein(F.col("term"), F.col("input"),
                                 max_edits) >= 0)
        .withColumn("dist",
                    F.levenshtein(F.col("term"), F.col("input"), max_edits))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_edits))
    )
    from pyspark.sql import Window

    if suggest_mode == "missing":
        known = vocab.select(F.col("term").alias("input"))
        inputs_missing = inputs.join(known, "input", "left_anti")
        cand = cand.join(F.broadcast(inputs_missing), "input", "left_semi")
    w = Window.partitionBy("input").orderBy(
        F.col("dist").asc(), F.col("freq").desc(), F.col("term").asc())
    return (
        cand.withColumn("option_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("option_rank") <= size)
        .select("input", "option_rank", F.col("term").alias("suggestion"),
                F.col("dist").cast("long").alias("distance"), "freq")
    )


@register("a3au_es_term_suggester", "A3+K4", """
WITH vocab AS (
  SELECT w AS term, COUNT(*) AS freq
  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY w
),
inputs AS (
  SELECT UNNEST(['strem', 'qery', 'vektor', 'spark']) AS input
),
missing AS (
  SELECT input FROM inputs
  WHERE input NOT IN (SELECT term FROM vocab)
),
cand AS (
  SELECT m.input, v.term AS suggestion,
         CAST(LEVENSHTEIN(v.term, m.input) AS BIGINT) AS distance, v.freq
  FROM missing m JOIN vocab v
    ON LEVENSHTEIN(v.term, m.input) BETWEEN 1 AND 2
)
SELECT input,
       CAST(ROW_NUMBER() OVER (PARTITION BY input
                               ORDER BY distance, freq DESC, suggestion)
            AS BIGINT) AS option_rank,
       suggestion, distance, freq
FROM cand
QUALIFY option_rank <= 5
""", "ES term suggester (the `suggest` did-you-mean API): misspelled "
     "inputs ('strem', 'qery', 'vektor') resolve to corpus terms "
     "within 2 edits, ranked ES's way - edit distance, then document "
     "frequency, then lexicographic - top 5 per input; "
     "suggest_mode=missing means the correctly-spelled 'spark' gets "
     "NO suggestions (it exists in the vocabulary - ES's default "
     "rule, and a row the oracle must also drop). The corpus "
     "collapses to its vocabulary first (tokens, not rows), the "
     "input terms broadcast, and Spark's bounded "
     "levenshtein(a,b,max) prunes early - vocabulary is sublinear in "
     "corpus size, so the whole suggest is too.")
def a3au_es_term_suggester(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_term_suggest(
        d, "text", ["strem", "qery", "vektor", "spark"],
        max_edits=2, size=5, suggest_mode="missing")


# ---------------------------------------------------------------------------
# ES highlight (the search-API snippet extractor)
# ---------------------------------------------------------------------------

def es_highlight(df: DataFrame, field: str, term: str,
                 fragment_size: int = 60, pre_tag: str = "<em>",
                 post_tag: str = "</em>") -> DataFrame:
    """ES `highlight` for a term match, the deterministic subset: one
    fragment per hit (number_of_fragments=1), centered on the FIRST
    token-boundary occurrence of the term, with that occurrence
    wrapped in the tags. Token boundaries are whitespace (the unified
    highlighter's analyzer here is the whitespace tokenizer, matching
    the corpus and every other text operator in the repo).

    All string math is integer locate/substring arithmetic - identical
    expression trees on both engines, so snippets hash-match exactly.
    One scan; the match predicate pushes down; no UDF.
    """
    if not term or " " in term:
        raise ValueError("highlight term must be a single token")
    padded = F.concat(F.lit(" "), F.lower(F.col(field)), F.lit(" "))
    needle = f" {term} "
    p = F.locate(needle, padded)
    half = fragment_size // 2
    frag_start = F.greatest(F.lit(1), p - half)
    frag = F.substring(padded, frag_start,
                       fragment_size + len(term) + 2)
    q = F.locate(needle, frag)
    snippet = F.trim(F.concat(
        F.substring(frag, F.lit(1), q),
        F.lit(pre_tag), F.lit(term), F.lit(post_tag),
        F.substring(frag, q + len(term) + 1, F.lit(2_000_000_000)),
    ))
    return (
        df.withColumn("__p", p)
        .filter(F.col("__p") > 0)
        .withColumn("snippet", snippet)
        .drop("__p")
    )


@register("a3av_es_highlight", "A3+H1", """
WITH h AS (
  SELECT doc_id, ' ' || LOWER(text) || ' ' AS padded
  FROM documents
),
m AS (
  SELECT doc_id, padded, POSITION(' merge ' IN padded) AS p
  FROM h WHERE POSITION(' merge ' IN padded) > 0
),
f AS (
  SELECT doc_id,
         SUBSTR(padded, GREATEST(1, p - 30), 60 + 5 + 2) AS frag
  FROM m
),
q AS (
  SELECT doc_id, frag, POSITION(' merge ' IN frag) AS q FROM f
)
SELECT doc_id,
       TRIM(SUBSTR(frag, 1, q) || '<em>merge</em>'
            || SUBSTR(frag, q + 6)) AS snippet
FROM q
""", "ES highlight (search-API snippets): every document matching the "
     "term 'merge' returns one fragment centered on the first "
     "token-boundary occurrence with the hit wrapped in <em> tags - "
     "the search-results-page rendering step. The whole highlighter "
     "is integer locate/substring arithmetic (whitespace analyzer, "
     "matching the corpus), textually identical on both engines, so "
     "the snippets themselves hash-match - not just their counts. "
     "One scan, predicate pushdown, no UDF.")
def a3av_es_highlight(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_highlight(d, "text", "merge", fragment_size=60) \
        .select("doc_id", "snippet")


@register("a3aw_es_span_near", "A3+K4", """
WITH pos AS (
  SELECT doc_id, w, ord
  FROM (SELECT doc_id,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(LOWER(text), ' ')) + 1))
                 AS ord
        FROM documents)
),
hits AS (
  SELECT DISTINCT a.doc_id
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND a.w = 'merge' AND b.w = 'spark'
   AND b.ord > a.ord AND b.ord - a.ord - 1 <= 3
)
SELECT d.doc_id, d.n_chars
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
""", "ES span_near (proximity search): documents where 'merge' is "
     "followed by 'spark' with at most 3 tokens between them - the "
     "query behind 'these words NEAR each other', which plain "
     "match/match_phrase cannot express (match ignores distance, "
     "match_phrase demands adjacency). Compiles to position arrays "
     "via higher-order transform/filter + a nested exists over one "
     "token split - all JVM lambdas, no explode, no UDF, single "
     "scan; the oracle states the same spans as a position "
     "self-join. in_order + slop semantics test-pinned; N>2 clause "
     "composition rejected, not guessed.")
def a3aw_es_span_near(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = {"span_near": {
        "clauses": [{"span_term": {"text": "merge"}},
                    {"span_term": {"text": "spark"}}],
        "slop": 3, "in_order": True}}
    return es_search(d, q).select("doc_id", "n_chars")


@register("a3bx_es_intervals", "A3+K4", """
WITH pos AS (
  SELECT doc_id, w, ord
  FROM (SELECT doc_id,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(LOWER(text), ' ')) + 1))
                 AS ord
        FROM documents)
),
phrase_iv AS (
  SELECT a.doc_id, a.ord AS s, b.ord AS e
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND a.w = 'merge' AND b.w = 'join'
   AND b.ord = a.ord + 1
),
alt_iv AS (
  SELECT doc_id, ord AS s, ord AS e FROM pos WHERE w = 'stream'
  UNION ALL SELECT doc_id, s, e FROM phrase_iv
),
hits AS (
  SELECT DISTINCT f.doc_id
  FROM pos f JOIN alt_iv x ON f.doc_id = x.doc_id
  WHERE f.w = 'hash' AND x.s > f.ord AND x.s - f.ord - 1 <= 4
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
""", "ES intervals query - the precision-text-matching algebra: "
     "all_of(ordered, max_gaps=4) of [match 'hash', any_of(match "
     "'merge join' adjacent-ordered, match 'stream')] - 'hash "
     "followed within 4 tokens by either the exact phrase merge "
     "join or the term stream', which no bool/match combination can "
     "express (containment + order + gap budget over ALTERNATIVES). "
     "Each rule compiles to an array<struct<s,e>> of token spans via "
     "higher-order transform/filter/flatten over ONE split; the "
     "document predicate is size(intervals) > 0 - a single "
     "codegen-friendly scan filter, per-doc work bounded by term "
     "frequency, at any corpus size. The oracle restates the same "
     "algebra as position self-joins.")
def a3bx_es_intervals(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = {"intervals": {"text": {"all_of": {
        "ordered": True, "max_gaps": 4,
        "intervals": [
            {"match": {"query": "hash"}},
            {"any_of": {"intervals": [
                {"match": {"query": "merge join",
                           "ordered": True, "max_gaps": 0}},
                {"match": {"query": "stream"}},
            ]}},
        ]}}}}
    return es_search(d, q).select("doc_id", "lang", "n_chars")


@register("a3by_es_span_or_first_not", "A3+K4", """
WITH pos AS (
  SELECT doc_id, w, ord
  FROM (SELECT doc_id,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(LOWER(text), ' ')) + 1))
                 AS ord
        FROM documents)
),
inc AS (  -- span_or of two terms, kept only within the first 12 tokens
  SELECT doc_id, ord FROM pos
  WHERE w IN ('spark', 'vector') AND ord <= 12
),
hits AS (
  SELECT DISTINCT i.doc_id
  FROM inc i
  WHERE NOT EXISTS (SELECT 1 FROM pos x
                    WHERE x.doc_id = i.doc_id AND x.w = 'slow'
                      AND x.ord >= i.ord - 2 AND x.ord <= i.ord + 2)
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
""", "The span family beyond span_near, composed the way precision "
     "retrieval actually uses it: span_not(include = span_first("
     "span_or(spark | vector), end=12), exclude = 'slow', pre=post=2) "
     "- 'spark or vector in the first 12 tokens, with no slow within "
     "2 tokens either side'. span_or unions interval sets (concat), "
     "span_first caps the Lucene-exclusive end position, span_not "
     "filters include spans whose pre/post neighborhood holds an "
     "exclude span - all one interval-algebra expression over one "
     "token split, JVM lambdas end to end. The oracle restates it "
     "with a NOT EXISTS position anti-join.")
def a3by_es_span_or_first_not(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = {"span_not": {
        "include": {"span_first": {
            "match": {"span_or": {"clauses": [
                {"span_term": {"text": "spark"}},
                {"span_term": {"text": "vector"}},
            ]}},
            "end": 12}},
        "exclude": {"span_term": {"text": "slow"}},
        "pre": 2, "post": 2}}
    return es_search(d, q).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# ES RRF (the 8.x reciprocal-rank-fusion hybrid retriever)
# ---------------------------------------------------------------------------

def es_rrf(df: DataFrame, retrievers: list[list[tuple[str, bool]]],
           id_col: str, rank_window_size: int = 50,
           rank_constant: int = 60, size: int = 10) -> DataFrame:
    """ES `rrf` retriever: each sub-retriever contributes its top
    `rank_window_size` ranking, and documents score
    sum over retrievers of 1/(rank_constant + rank) - appearing in
    MORE rankings (hybrid agreement) beats a high rank in one. A doc
    outside a retriever's window contributes nothing for that leg,
    exactly ES's windowed semantics; size <= rank_window_size
    enforced per ES.

    Each retriever here is an order spec [(column, ascending), ...]
    (the already-scored form - compose with es_function_score /
    es_knn_search outputs for scored legs). Per-leg ranks come from
    `topk_with_rank` (TakeOrderedAndProject + a broadcast
    lexicographic self-join over the <= window survivors), so there
    is NO global window anywhere; the fusion is one full-outer join
    across <= window-sized legs. The RRF sum is a few exact dyadic
    reciprocals - identical doubles cross-engine.
    """
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        topk_with_rank,
    )

    if size > rank_window_size:
        raise ValueError(
            f"size ({size}) must be <= rank_window_size "
            f"({rank_window_size})")
    if len(retrievers) < 2:
        raise ValueError("rrf needs at least two retrievers")
    legs = []
    for i, order_keys in enumerate(retrievers):
        leg = topk_with_rank(df, order_keys, rank_window_size,
                             rank_col=f"__r{i}")
        legs.append(leg.select(F.col(id_col).alias("__id"),
                               F.col(f"__r{i}")))
    fused = legs[0]
    for leg in legs[1:]:
        fused = fused.join(leg, "__id", "full_outer")
    score = None
    for i in range(len(retrievers)):
        term = F.when(
            F.col(f"__r{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(rank_constant)) + F.col(f"__r{i}")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        fused.withColumn("_score", F.round(score, 6))
        .withColumn("__s", score)
        .orderBy(F.col("__s").desc(), F.col("__id").asc())
        .limit(size)
        .select(F.col("__id").alias(id_col), "_score",
                *[F.col(f"__r{i}").cast("long").alias(f"rank_{i + 1}")
                  for i in range(len(retrievers))])
    )


@register("a3ax_es_rrf_hybrid", "A3+F3", """
WITH legA AS (
  SELECT o_orderkey, ROW_NUMBER() OVER (
           ORDER BY o_totalprice DESC, o_orderkey) AS r1
  FROM orders QUALIFY r1 <= 50
),
legB AS (
  SELECT o_orderkey, ROW_NUMBER() OVER (
           ORDER BY o_orderdate DESC, o_orderkey) AS r2
  FROM orders QUALIFY r2 <= 50
),
fused AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         a.r1, b.r2,
         COALESCE(1.0 / (60.0 + a.r1), 0.0)
         + COALESCE(1.0 / (60.0 + b.r2), 0.0) AS s
  FROM legA a FULL OUTER JOIN legB b ON a.o_orderkey = b.o_orderkey
)
SELECT o_orderkey, ROUND(s, 6) AS _score,
       CAST(r1 AS BIGINT) AS rank_1, CAST(r2 AS BIGINT) AS rank_2
FROM fused
ORDER BY s DESC, o_orderkey
LIMIT 10
""", "ES RRF hybrid retrieval (the 8.x `rrf` retriever): two "
     "sub-retrievers - highest-value orders and most-recent orders - "
     "each contribute their top-50 ranking, fused by reciprocal rank "
     "1/(60+rank) so an order near the top of BOTH beats the #1 of "
     "either alone (the hybrid keyword+vector pattern; compose the "
     "legs from es_knn_search / es_function_score outputs for scored "
     "retrieval). Per-leg ranks come from TakeOrderedAndProject + a "
     "broadcast self-join over the <= 50 survivors - NO global "
     "window anywhere (the single-partition-window ban holds); the "
     "fusion is one full-outer join of window-sized legs and the "
     "reciprocals are exact dyadic doubles both engines.")
def a3ax_es_rrf_hybrid(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate")
    return es_rrf(
        o,
        [[("o_totalprice", False), ("o_orderkey", True)],
         [("o_orderdate", False), ("o_orderkey", True)]],
        id_col="o_orderkey", rank_window_size=50,
        rank_constant=60, size=10)


# ---------------------------------------------------------------------------
# ES more_like_this (the MLT query: find documents similar to a seed)
# ---------------------------------------------------------------------------

def es_more_like_this(df: DataFrame, field: str, id_col: str, like_id,
                      max_query_terms: int = 12, min_term_freq: int = 2,
                      min_doc_freq: int = 5,
                      minimum_should_match: float = 0.30,
                      size: int = 10) -> DataFrame:
    """ES ``more_like_this`` query, the deterministic subset.

    Semantics exactly as ES documents the MLT pipeline:

    1. **Interesting-term selection** from the `like` document: its
       terms are TF-IDF-scored (tf in the seed doc x idf over the
       corpus - the selection metric MLT documents), gated by
       ``min_term_freq`` (seed-doc tf floor, ES default 2) and
       ``min_doc_freq`` (corpus df floor, ES default 5), and the top
       ``max_query_terms`` (ES default 25) survive - ranked score
       desc then term asc so the cut is total-ordered.
    2. **Query formation**: the selected terms become a bool-should;
       ``minimum_should_match`` (ES default "30%") rounds DOWN to a
       term count (ES's positive-percentage rule), floored at 1.
    3. **Scoring**: candidates are ranked by the summed weights of
       their matched selected terms. Weights are
       ``floor(tf * ln(n_docs/df) * 2^20)`` BIGINTs - the house
       scaled-integer trick - so every per-doc score is an exact
       integer sum in any engine and at any parallelism; the reported
       `_score` divides by 2^20 (a dyadic, hence exact, FP op). The
       seed document itself is excluded (ES excludes the `like` input).

    Scale shape: the corpus collapses to (doc, term, tf) postings
    once; the seed's term list is one document's vocabulary (bounded),
    ranked under a window PARTITIONED on the seed id and broadcast to
    the candidate match - the corpus-sized side is touched by exactly
    one scan + one grouped aggregate, and output is top-`size` via
    TakeOrderedAndProject. No UDFs, no global window.
    """
    if max_query_terms <= 0:
        raise ValueError("more_like_this.max_query_terms must be positive")
    if not 0 < minimum_should_match <= 1:
        raise ValueError(
            "minimum_should_match must be a fraction in (0, 1]")
    from pyspark.sql import Window

    tok = df.select(id_col, F.explode(
        F.split(F.lower(F.col(field)), " ")).alias("term")) \
        .filter(F.col("term") != "")
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"))
    n = df.agg(F.count("*").alias("n_docs"))
    seed = (
        tf.filter(F.col(id_col) == like_id)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .filter((F.col("tf") >= min_term_freq)
                & (F.col("df") >= min_doc_freq))
        .withColumn("wq", F.floor(
            F.col("tf") * F.log(F.col("n_docs").cast("double")
                                / F.col("df"))
            * F.lit(1048576.0)).cast("bigint"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("wq").desc(), F.col("term").asc())
    sel = (
        seed.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= max_query_terms)
        .select("term", "wq")
    )
    n_sel = sel.agg(
        F.count("*").alias("n_sel"),
        F.greatest(
            F.lit(1),
            F.floor(F.count("*") * F.lit(minimum_should_match)),
        ).cast("bigint").alias("msm"))
    cand = (
        tok.distinct()
        .join(F.broadcast(sel), "term")
        .filter(F.col(id_col) != like_id)
        .groupBy(id_col)
        .agg(F.count("*").alias("matched_terms"),
             F.sum("wq").alias("score_q"))
        .crossJoin(F.broadcast(n_sel))
        .filter(F.col("matched_terms") >= F.col("msm"))
    )
    return (
        cand.select(id_col, "matched_terms",
                    F.round(F.col("score_q") / F.lit(1048576.0), 6)
                    .alias("_score"), "score_q")
        .orderBy(F.col("score_q").desc(), F.col(id_col))
        .limit(size)
        .drop("score_q")
    )


@register("a3ay_es_more_like_this", "A3+K4", """
WITH tok AS (
  SELECT doc_id, w AS term
  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
seed AS (
  SELECT tf.term,
         CAST(FLOOR(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df)
                    * 1048576.0) AS BIGINT) AS wq
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id = 42 AND tf.tf >= 2 AND dfreq.df >= 5
),
sel AS (
  SELECT term, wq FROM (
    SELECT term, wq,
           ROW_NUMBER() OVER (ORDER BY wq DESC, term) AS r
    FROM seed)
  WHERE r <= 12
),
nsel AS (
  SELECT COUNT(*) AS n_sel,
         GREATEST(1, CAST(FLOOR(COUNT(*) * 0.30) AS BIGINT)) AS msm
  FROM sel
),
cand AS (
  SELECT t.doc_id, COUNT(*) AS matched_terms, SUM(s.wq) AS score_q
  FROM (SELECT DISTINCT doc_id, term FROM tok) t
  JOIN sel s USING (term)
  WHERE t.doc_id <> 42
  GROUP BY t.doc_id
)
SELECT doc_id, matched_terms,
       ROUND(CAST(score_q AS DOUBLE) / 1048576.0, 6) AS _score
FROM cand CROSS JOIN nsel
WHERE matched_terms >= msm
ORDER BY score_q DESC, doc_id
LIMIT 10
""", "ES more_like_this: find the 10 documents most similar to doc "
     "42 - its terms TF-IDF-ranked (min_term_freq=2 / min_doc_freq=5 "
     "gates, ES defaults), top max_query_terms=12 form a bool-should "
     "with minimum_should_match=30% (rounds down, ES's "
     "positive-percentage rule), candidates scored by the summed "
     "weights of matched terms. Weights are floor(tfidf*2^20) "
     "BIGINTs so scores are exact integer sums cross-engine; _score "
     "divides by 2^20 (dyadic, exact). One corpus scan to postings, "
     "seed vocabulary broadcast, TakeOrderedAndProject page - the "
     "MLT retrieval shape at any corpus size.")
def a3ay_es_more_like_this(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_more_like_this(
        d, "text", "doc_id", 42,
        max_query_terms=12, min_term_freq=2, min_doc_freq=5,
        minimum_should_match=0.30, size=10)


# ---------------------------------------------------------------------------
# ES phrase suggester (whole-phrase did-you-mean over a bigram LM)
# ---------------------------------------------------------------------------

# Size-1 cache of the corpus-level LM (vocabulary, total token count,
# bigram table) keyed by (session, plan semantics, field) - the Spark
# twin of ES's INDEX-TIME language model: ES builds the n-gram stats
# when documents index, so a dashboard firing many suggest calls pays
# the corpus scan once. Entries persist MEMORY_AND_DISK; a new corpus
# or field evicts (and unpersists) the previous model, so a long
# registry sweep holds at most one model's worth of blocks.
_PHRASE_LM_CACHE: dict = {}


def _phrase_lm(df: DataFrame, field: str):
    key = (id(df.sparkSession), df.semanticHash(), field)
    hit = _PHRASE_LM_CACHE.get(key)
    if hit is not None and hit[0].sameSemantics(df):
        return hit[1], hit[2], hit[3]
    from pyspark import StorageLevel

    for _, vocab_old, _, bigrams_old in _PHRASE_LM_CACHE.values():
        vocab_old.unpersist()
        bigrams_old.unpersist()
    _PHRASE_LM_CACHE.clear()

    tok = df.select(
        F.posexplode(F.split(F.lower(F.col(field)), " "))
        .alias("pos", "w")).filter(F.col("w") != "")
    vocab = tok.groupBy("w").agg(F.count("*").alias("c1")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    # Derive the corpus token total FROM the persisted vocab (sum of
    # per-word counts == token count) so repeat suggest calls read the
    # cached blocks - a total computed off `tok` would rescan the
    # corpus on every call, breaking the cache's no-rescan guarantee.
    total = vocab.agg(F.sum("c1").alias("t_toks"))
    tok2 = df.select(
        F.col(field).alias("__txt"),
        F.posexplode(F.split(F.lower(F.col(field)), " "))
        .alias("pos", "w"))
    nxt = F.try_element_at(F.split(F.lower(F.col("__txt")), " "),
                           F.col("pos") + 2)
    bigrams = (
        tok2.withColumn("w2", nxt)
        .filter((F.col("w") != "") & F.col("w2").isNotNull()
                & (F.col("w2") != ""))
        .groupBy(F.col("w").alias("b1"), F.col("w2").alias("b2"))
        .agg(F.count("*").alias("c12"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _PHRASE_LM_CACHE[key] = (df, vocab, total, bigrams)
    return vocab, total, bigrams


def es_phrase_suggest(df: DataFrame, field: str, phrase: str,
                      max_edits: int = 1, per_slot: int = 3,
                      size: int = 5) -> DataFrame:
    """ES ``phrase`` suggester, the deterministic subset.

    The real thing (ES docs): per-position candidate generation from
    the index vocabulary via a direct generator (bounded edit
    distance), then whole-phrase candidates scored by an n-gram
    language model with smoothing - StupidBackoff by default - and
    the top phrases returned. This subset implements exactly that
    pipeline for a whitespace-tokenized phrase:

    - **Candidates per slot**: vocabulary terms within ``max_edits``
      (ES caps max_edits at 2 - enforced), ranked the term
      suggester's way (distance asc, corpus frequency desc, term
      asc), top ``per_slot`` each. Distance 0 keeps the original
      term when it is a real word (the direct generator's behavior).
      A slot with NO candidate yields no suggestions (the phrase
      cannot be formed from the vocabulary).
    - **Scoring**: StupidBackoff bigram LM (the ES default smoothing)
      over exact integer counts: ln P(w1) + sum ln P(w_i | w_{i-1}),
      with P(w|prev) = c(prev,w)/c(prev) when the bigram exists, else
      0.4 * c(w)/T (T = total tokens). Every ln argument is a ratio
      of exact integers, so both engines see identical doubles (the
      k_bigram_surprisal discipline), and the per-phrase sum is a
      FIXED-SHAPE scalar expression (slot order), not an aggregation
      fold - bit-stable at any parallelism.
    - **Page**: top ``size`` by score desc, then suggestion asc.

    Scale shape: the corpus collapses once to its vocabulary and its
    bigram-count table (both sublinear in corpus size) and that model
    is CACHED per (corpus, field) - the Spark twin of ES building the
    LM at index time, so repeat suggest calls are vocabulary-bounded
    and never rescan the corpus. Candidate sets are <= per_slot rows
    each and every join below is a broadcast of those bounded sets
    against the bigram table. The candidate-phrase space is
    prod(per_slot) - bounded by parameters, never by the corpus.
    """
    if not 1 <= max_edits <= 2:
        raise ValueError("phrase suggester max_edits must be 1 or 2 "
                         "(ES validation rule)")
    if size <= 0 or per_slot <= 0:
        raise ValueError("size and per_slot must be positive")
    slots = [t for t in phrase.lower().split(" ") if t]
    if not slots:
        raise ValueError("phrase must contain at least one token")
    from pyspark.sql import Window

    # corpus-level LM (vocabulary, total, bigram counts WITHIN each
    # document) - built once per (corpus, field) and cached, the
    # index-time-LM shape; repeat suggest calls skip the corpus scan
    vocab, total, bigrams = _phrase_lm(df, field)
    # per-slot candidate sets, ranked under a slot-partitioned window
    cand_all = None
    for i, t in enumerate(slots):
        # bounded levenshtein returns -1 above the threshold, so the
        # in-range test must be between(0, max_edits), not <=
        c = (
            vocab.filter(
                F.levenshtein(F.col("w"), F.lit(t), max_edits)
                .between(0, max_edits))
            .select(F.lit(i).alias("slot"), "w", "c1",
                    F.levenshtein(F.col("w"), F.lit(t), max_edits)
                    .alias("dist"))
        )
        cand_all = c if cand_all is None else cand_all.unionByName(c)
    w = Window.partitionBy("slot").orderBy(
        F.col("dist").asc(), F.col("c1").desc(), F.col("w").asc())
    cand = (
        cand_all.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= per_slot)
        .select("slot", "w", "c1")
    )
    # fold the slots into candidate phrases (bounded cross of
    # broadcast per-slot sets), joining bigram counts per transition
    out = (
        cand.filter(F.col("slot") == 0)
        .select(F.col("w").alias("w0"), F.col("c1").alias("c_0"))
    )
    phrase_col = F.col("w0")
    score = None  # built after total join
    terms = [("w0", "c_0")]
    for i in range(1, len(slots)):
        ci = (
            cand.filter(F.col("slot") == i)
            .select(F.col("w").alias(f"w{i}"),
                    F.col("c1").alias(f"c_{i}"))
        )
        out = out.crossJoin(F.broadcast(ci))
        bg = bigrams.select(
            F.col("b1").alias(f"w{i-1}"), F.col("b2").alias(f"w{i}"),
            F.col("c12").alias(f"c12_{i}"))
        out = out.join(F.broadcast(bg), [f"w{i-1}", f"w{i}"], "left")
        terms.append((f"w{i}", f"c_{i}"))
    out = out.crossJoin(F.broadcast(total))
    score = F.log(F.col("c_0").cast("double") / F.col("t_toks"))
    for i in range(1, len(slots)):
        bigram_p = F.log(F.col(f"c12_{i}").cast("double")
                         / F.col(f"c_{i-1}"))
        backoff_p = F.log(F.lit(0.4) * F.col(f"c_{i}").cast("double")
                          / F.col("t_toks"))
        score = score + F.when(F.col(f"c12_{i}").isNotNull(), bigram_p) \
                         .otherwise(backoff_p)
    suggestion = F.concat_ws(" ", *[F.col(c) for c, _ in terms])
    return (
        out.select(suggestion.alias("suggestion"),
                   F.round(score, 6).alias("score"),
                   score.alias("__s"))
        .orderBy(F.col("__s").desc(), F.col("suggestion").asc())
        .limit(size)
        .drop("__s")
    )


@register("a3az_es_phrase_suggester", "A3+K4", """
WITH tok AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id,
           UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w,
           GENERATE_SUBSCRIPTS(STRING_SPLIT(LOWER(text), ' '), 1) AS pos
    FROM documents)
  WHERE w <> ''
),
vocab AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY w),
total AS (SELECT COUNT(*) AS t_toks FROM tok),
bigrams AS (
  SELECT a.w AS b1, b.w AS b2, COUNT(*) AS c12
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
c0 AS (SELECT w AS w0, c1 AS c_0 FROM (
         SELECT w, c1, ROW_NUMBER() OVER (
           ORDER BY LEVENSHTEIN(w, 'srt'), c1 DESC, w) AS r
         FROM vocab WHERE LEVENSHTEIN(w, 'srt') <= 2) WHERE r <= 3),
c1s AS (SELECT w AS w1, c1 AS c_1 FROM (
         SELECT w, c1, ROW_NUMBER() OVER (
           ORDER BY LEVENSHTEIN(w, 'lne'), c1 DESC, w) AS r
         FROM vocab WHERE LEVENSHTEIN(w, 'lne') <= 2) WHERE r <= 3),
c2s AS (SELECT w AS w2, c1 AS c_2 FROM (
         SELECT w, c1, ROW_NUMBER() OVER (
           ORDER BY LEVENSHTEIN(w, 'ky'), c1 DESC, w) AS r
         FROM vocab WHERE LEVENSHTEIN(w, 'ky') <= 2) WHERE r <= 3),
phrases AS (
  SELECT w0, w1, w2, c_0, c_1, c_2, g1.c12 AS c12_1, g2.c12 AS c12_2,
         t.t_toks
  FROM c0 CROSS JOIN c1s CROSS JOIN c2s CROSS JOIN total t
  LEFT JOIN bigrams g1 ON g1.b1 = w0 AND g1.b2 = w1
  LEFT JOIN bigrams g2 ON g2.b1 = w1 AND g2.b2 = w2
),
scored AS (
  SELECT w0 || ' ' || w1 || ' ' || w2 AS suggestion,
         LN(CAST(c_0 AS DOUBLE) / t_toks)
         + COALESCE(LN(CAST(c12_1 AS DOUBLE) / c_0),
                    LN(0.4 * CAST(c_1 AS DOUBLE) / t_toks))
         + COALESCE(LN(CAST(c12_2 AS DOUBLE) / c_1),
                    LN(0.4 * CAST(c_2 AS DOUBLE) / t_toks)) AS s
  FROM phrases
)
SELECT suggestion, ROUND(s, 6) AS score
FROM scored ORDER BY s DESC, suggestion LIMIT 5
""", "ES phrase suggester (whole-phrase did-you-mean): 'srt lne ky' "
     "resolves against the corpus vocabulary - per-slot candidates "
     "within 2 edits ranked distance/frequency/lexicographic (top 3 "
     "each, the direct generator), candidate phrases scored by a "
     "StupidBackoff bigram LM (the ES default smoothing): ln P(w1) + "
     "sum ln P(wi|wi-1), backoff 0.4*P(wi) when the bigram is "
     "unseen. Every ln takes a ratio of exact integer counts and the "
     "sum is a fixed-shape scalar expression, so scores are "
     "bit-stable cross-engine. Vocabulary-first: candidate sets and "
     "the bigram table are sublinear in the corpus; the phrase space "
     "is bounded by parameters (3^3), never by data.")
def a3az_es_phrase_suggester(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_phrase_suggest(d, "text", "srt lne ky",
                             max_edits=2, per_slot=3, size=5)


# ---------------------------------------------------------------------------
# ES boxplot + top_metrics aggregations
# ---------------------------------------------------------------------------

@register("a3ba_es_boxplot", "A3+D6", """
SELECT key, doc_count, price_min, price_q1, price_q2, price_q3,
       price_max FROM (
  SELECT o_orderpriority AS key,
         COUNT(*) AS doc_count,
         MIN(o_totalprice) AS price_min,
         ROUND(QUANTILE_CONT(o_totalprice, 0.25), 6) AS price_q1,
         ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS price_q2,
         ROUND(QUANTILE_CONT(o_totalprice, 0.75), 6) AS price_q3,
         MAX(o_totalprice) AS price_max
  FROM orders
  GROUP BY o_orderpriority
) ORDER BY doc_count DESC, key LIMIT 5
""", "ES boxplot metric agg under a terms bucket: per-priority "
     "min/q1/q2/q3/max of order value - the distribution card next "
     "to every Kibana histogram. ES computes t-digest quartiles; the "
     "compiler uses exact interpolation (at-least-as-accurate, "
     "oracle-checkable; the at-scale swap is approx_percentile, the "
     "D6 trade). One grouped aggregate; per-bucket value multisets "
     "at the reducer, same scale note as every exact-percentile op.")
def a3ba_es_boxplot(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "by_priority": {
            "terms": {"field": "o_orderpriority", "size": 5},
            "aggs": {"price": {"boxplot": {"field": "o_totalprice"}}},
        }
    })


@register("a3bb_es_top_metrics", "A3+D11", """
WITH w AS (
  SELECT o_orderpriority AS key, o_totalprice, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_orderdate DESC,
                                     o_totalprice DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS doc_count,
         MAX(o_orderdate) OVER (PARTITION BY o_orderpriority) AS latest_sort
  FROM orders
)
SELECT key, doc_count, o_totalprice AS latest_o_totalprice, latest_sort
FROM w WHERE rn = 1
ORDER BY doc_count DESC, key LIMIT 5
""", "ES top_metrics agg under a terms bucket: the order value "
     "carried by each priority's LATEST order, plus the sort value - "
     "the 'current reading per device' query every metrics store "
     "serves. ES leaves sort ties undefined; the compiler totalizes "
     "with the metric as tiebreak (struct max_by), making the result "
     "reproducible cross-engine. Compiles to max_by in ONE hash "
     "aggregate - no per-bucket sort, no window, the argmax shape "
     "that holds at any bucket size.")
def a3bb_es_top_metrics(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "latest": {
            "terms": {"field": "o_orderpriority", "size": 5},
            "aggs": {"latest": {"top_metrics": {
                "metrics": {"field": "o_totalprice"},
                "sort": {"o_orderdate": "desc"}}}},
        }
    })


# ---------------------------------------------------------------------------
# ES completion suggester + geo_centroid aggregation
# ---------------------------------------------------------------------------

def es_completion_suggest(df: DataFrame, field: str, prefix: str,
                          size: int = 5) -> DataFrame:
    """ES ``completion`` suggester, the deterministic subset: the
    search-as-you-type autocomplete. ES serves it from an in-memory
    FST of indexed completion entries weighted at index time; this
    model's entries are the corpus vocabulary weighted by term
    frequency (the common setup where suggestions are mined from the
    corpus itself). A prefix query returns the top ``size`` entries
    by weight desc - ES's order - with the term as deterministic
    tiebreak.

    Scale shape: the corpus collapses to its vocabulary once (the
    same sublinear first stage as the term/phrase suggesters - the
    relational twin of building the FST), the prefix filter prunes
    it, and the page is one TakeOrderedAndProject. At serving time a
    real deployment materializes the vocabulary table once and reuses
    it per keystroke, exactly like ES builds the FST at index time.
    """
    if not prefix:
        raise ValueError("completion suggester requires a non-empty "
                         "prefix")
    if size <= 0:
        raise ValueError("size must be positive")
    vocab = (
        df.select(F.explode(
            F.split(F.lower(F.col(field)), " ")).alias("suggestion"))
        .filter(F.col("suggestion") != "")
        .groupBy("suggestion")
        .agg(F.count("*").alias("weight"))
    )
    return (
        vocab.filter(F.col("suggestion").startswith(prefix.lower()))
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(size)
    )


@register("a3bc_es_completion_suggester", "A3+K4", """
SELECT suggestion, weight FROM (
  SELECT w AS suggestion, COUNT(*) AS weight
  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents)
  WHERE w <> '' AND w LIKE 's%'
  GROUP BY w
) ORDER BY weight DESC, suggestion LIMIT 5
""", "ES completion suggester (search-as-you-type autocomplete): "
     "prefix 's' resolves to the corpus vocabulary's heaviest "
     "completions, ordered weight desc then term - ES's order with a "
     "deterministic tiebreak. The vocabulary build is the relational "
     "twin of ES's index-time FST (one explode + one grouped count, "
     "sublinear output); the page is a TakeOrderedAndProject over "
     "the prefix-pruned vocabulary.")
def a3bc_es_completion_suggester(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_completion_suggest(d, "text", "s", size=5)


@register("a3bd_es_geo_centroid", "A3+D5", _GEO_SQL_PREFIX + """
SELECT key, doc_count, centroid_lat, centroid_lon, centroid_count FROM (
  SELECT CAST(c_nationkey AS BIGINT) AS key,
         COUNT(*) AS doc_count,
         ROUND(CAST(CAST(SUM(CAST(lat AS DECIMAL(38,10)))
                         AS DECIMAL(38,4)) AS DOUBLE) / COUNT(lat), 6)
           AS centroid_lat,
         ROUND(CAST(CAST(SUM(CAST(lon AS DECIMAL(38,10)))
                         AS DECIMAL(38,4)) AS DOUBLE) / COUNT(lon), 6)
           AS centroid_lon,
         COUNT(lat) AS centroid_count
  FROM geo
  GROUP BY c_nationkey
) ORDER BY doc_count DESC, key LIMIT 10
""", "ES geo_centroid aggregation under a terms bucket: the mean "
     "coordinate of each nation's customers plus the point count ES "
     "returns alongside - the map-pin-per-bucket card. Coordinates "
     "are the synthetic exact-4-dp geo model (_customer_geo), so the "
     "mean goes through the decimal-exact average and is "
     "order-independent at any parallelism - the same discipline as "
     "every money average. One hash aggregate; centroids are "
     "map-side partial like any sum/count.")
def a3bd_es_geo_centroid(spark, sf_dir):
    g = _customer_geo(spark, sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("key"), "location")
    return es_aggregate(g, {
        "by_nation": {
            "terms": {"field": "key", "size": 10},
            "aggs": {"centroid": {"geo_centroid": {"field": "location"}}},
        }
    })


@register("a3be_es_histogram_extended_bounds", "A3+D1", """
WITH h AS (
  SELECT FLOOR(o_totalprice / 50000.0) * 50000.0 AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS revenue
  FROM orders
  GROUP BY 1
),
scaffold AS (
  SELECT CAST(i * 50000.0 AS DOUBLE) AS key
  FROM (SELECT UNNEST(RANGE(-2, 6)) AS i)
)
SELECT COALESCE(s.key, h.key) AS key,
       COALESCE(h.doc_count, 0) AS doc_count,
       COALESCE(h.revenue, 0) AS revenue
FROM scaffold s FULL JOIN h ON s.key = h.key
""", "ES histogram with min_doc_count=0 + extended_bounds: every "
     "50k-revenue bucket in [0, 600k] appears even when EMPTY - a "
     "gap in the dashboard must render as zero, not vanish (the "
     "semantics that separate a chart axis from a GROUP BY). "
     "extended_bounds only EXTENDS the range (clipping is "
     "hard_bounds), so data buckets outside [min, max] survive via "
     "a FULL join of the bucket-key scaffold with the aggregated "
     "histogram - both sides bucket-count-sized, never corpus-"
     "sized. Empty buckets read doc_count 0 and sum metrics 0 "
     "exactly as ES responds. One grouped aggregate + one bucket-"
     "sized join at any corpus size.")
def a3be_es_histogram_extended_bounds(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = es_aggregate(o, {
        "by_bucket": {
            "histogram": {"field": "o_totalprice", "interval": 50000.0,
                          "min_doc_count": 0,
                          "extended_bounds": {"min": -100000,
                                              "max": 250000}},
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
        }
    })
    return out


@register("a3bf_es_geo_bounds", "A3+D5", _GEO_SQL_PREFIX + """
SELECT key, doc_count, box_top_left_lat, box_top_left_lon,
       box_bottom_right_lat, box_bottom_right_lon FROM (
  SELECT CAST(c_nationkey AS BIGINT) AS key,
         COUNT(*) AS doc_count,
         MAX(lat) AS box_top_left_lat,
         MIN(lon) AS box_top_left_lon,
         MIN(lat) AS box_bottom_right_lat,
         MAX(lon) AS box_bottom_right_lon
  FROM geo
  GROUP BY c_nationkey
) ORDER BY doc_count DESC, key LIMIT 10
""", "ES geo_bounds aggregation under a terms bucket: the tightest "
     "bounding box around each nation's customers, flattened to the "
     "top_left/bottom_right corners ES nests - the auto-zoom extent "
     "every map dashboard computes. Four min/max aggregates over the "
     "exact synthetic coordinates (no rounding needed: min/max COPY "
     "input doubles) in one map-side-partial hash aggregate.")
def a3bf_es_geo_bounds(spark, sf_dir):
    g = _customer_geo(spark, sf_dir).select(
        F.col("c_nationkey").cast("bigint").alias("key"), "location")
    return es_aggregate(g, {
        "by_nation": {
            "terms": {"field": "key", "size": 10},
            "aggs": {"box": {"geo_bounds": {"field": "location"}}},
        }
    })


# ---------------------------------------------------------------------------
# ES terms lookup (the terms query fetching its list from a document)
# ---------------------------------------------------------------------------

def es_terms_lookup(df: DataFrame, field: str, lookup_df: DataFrame,
                    lookup_id_col: str, lookup_id, path_col: str) -> DataFrame:
    """ES terms query with LOOKUP: the term list lives in another
    index's document (``{"terms": {field: {"index": i, "id": d,
    "path": p}}}``) - the deny-list/allow-list pattern where the list
    is data, not query text (and may be far larger than any inline
    terms list ES would accept).

    Compiles to: filter the lookup index to the one document, explode
    its ``path`` array to a term relation, LEFT SEMI broadcast-join
    the corpus on the field - the term list never touches the driver
    (no collect, unlike an inline terms query a client would build),
    and the corpus-sized side stays one scan + one broadcast probe at
    any list size that fits a broadcast (ES itself caps lookup lists
    at 65k terms - far below broadcast limits).
    """
    terms = (
        lookup_df.filter(F.col(lookup_id_col) == lookup_id)
        .select(F.explode(F.col(path_col)).alias(field))
        .distinct()
    )
    return df.join(F.broadcast(terms), field, "left_semi")


@register("a3bg_es_terms_lookup", "A3+C4", """
WITH deny AS (
  SELECT DISTINCT c_custkey AS o_custkey
  FROM customer WHERE c_acctbal < -700.0
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o JOIN deny USING (o_custkey)
""", "ES terms lookup: orders matching a DENY-LIST stored as a "
     "document (the customers with deeply negative balances, "
     "materialized as one doc whose `path` array is the custkey "
     "list) - the allow/deny-list pattern where the list is DATA "
     "fetched at query time, not inline query text. Compiles to "
     "explode-the-list + LEFT SEMI broadcast join: the list never "
     "touches the driver and the corpus side is one scan + one "
     "broadcast probe (ES caps lookup lists at 65k terms - far "
     "below broadcast limits). The oracle is the equivalent "
     "relational semi-join.")
def a3bg_es_terms_lookup(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # the stored lookup document: one row, id 'denied', path = array
    deny_doc = (
        c.filter(F.col("c_acctbal") < -700.0)
        .agg(F.collect_list("c_custkey").alias("path"))
        .select(F.lit("denied").alias("doc_id"), "path")
    )
    return es_terms_lookup(
        o, "o_custkey", deny_doc, "doc_id", "denied", "path"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register("a3bh_es_rate_agg", "A3+D1", """
SELECT key,
       doc_count,
       ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                       AS DECIMAL(38,2)) AS DOUBLE)
             / DATE_PART('day', LAST_DAY(MIN(o_orderdate))), 6)
         AS revenue_per_day
FROM (
  SELECT STRFTIME(o_orderdate, '%Y-%m') AS key, o_totalprice, o_orderdate,
         COUNT(*) OVER (PARTITION BY STRFTIME(o_orderdate, '%Y-%m'))
           AS doc_count
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY key, doc_count
""", "ES rate aggregation under a monthly date_histogram: each "
     "month's revenue scaled to a PER-DAY rate with the "
     "calendar-aware divisor - February divides by 28 (or 29), July "
     "by 31; a plain avg-per-bucket would overstate short months, "
     "which is exactly why the agg exists. The divisor is "
     "max(dayofmonth(last_day(date))) - constant within the bucket, "
     "one more map-side aggregate - and the sum is decimal-exact, "
     "so the single IEEE divide hash-matches cross-engine. One "
     "grouped aggregate at any corpus size.")
def a3bh_es_rate_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
    return es_aggregate(o, {
        "by_month": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "month"},
            "aggs": {"revenue_per_day": {
                "rate": {"field": "o_totalprice", "unit": "day",
                         "date_field": "o_orderdate"}}},
        }
    })


@register("a3bi_es_filters_other_bucket", "A3+D1", """
WITH flags AS (
  SELECT o_totalprice,
         o_orderpriority = '1-URGENT' AS is_urgent,
         o_orderstatus = 'O' AS is_open,
         o_totalprice > 300000 AS is_big
  FROM orders
)
SELECT key, doc_count, revenue FROM (
  SELECT 'urgent' AS key, COUNT(CASE WHEN is_urgent THEN 1 END)
           AS doc_count,
         CAST(CAST(SUM(CASE WHEN is_urgent
                            THEN CAST(o_totalprice AS DECIMAL(38,10))
                       END) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
  FROM flags
  UNION ALL
  SELECT 'open', COUNT(CASE WHEN is_open THEN 1 END),
         CAST(CAST(SUM(CASE WHEN is_open
                            THEN CAST(o_totalprice AS DECIMAL(38,10))
                       END) AS DECIMAL(38,2)) AS DOUBLE)
  FROM flags
  UNION ALL
  SELECT 'neither', COUNT(CASE WHEN NOT (COALESCE(is_urgent, FALSE)
                                OR COALESCE(is_open, FALSE)) THEN 1 END),
         CAST(CAST(SUM(CASE WHEN NOT (COALESCE(is_urgent, FALSE)
                                 OR COALESCE(is_open, FALSE))
                            THEN CAST(o_totalprice AS DECIMAL(38,10))
                       END) AS DECIMAL(38,2)) AS DOUBLE)
  FROM flags
)
""", "ES filters agg with other_bucket: the named KPI slices PLUS "
     "the catch-all 'neither' bucket for docs matching NO filter - "
     "the 'everything else' dashboard slice whose absence silently "
     "under-reports totals. The other-bucket mask is the null-safe "
     "negation of the OR of every named condition (a doc with a "
     "null field matches no filter, so it lands HERE, exactly as ES "
     "places it), compiled into the SAME single-pass masked "
     "aggregate as the named buckets: one scan, one shuffle-free "
     "map-side-partial agg, then the one-row-per-bucket reshape.")
def a3bi_es_filters_other_bucket(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "kpis": {
            "filters": {
                "filters": {
                    "urgent": {"term": {"o_orderpriority": "1-URGENT"}},
                    "open": {"term": {"o_orderstatus": "O"}},
                },
                "other_bucket": True,
                "other_bucket_key": "neither",
            },
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
        }
    })


# ---------------------------------------------------------------------------
# ES parent/child relations (the `join` field): has_child / has_parent
# ---------------------------------------------------------------------------

_CHILD_SCORE_MODES = ("none", "min", "max", "sum", "avg")


def _function_score_column(functions: list[dict]) -> Column:
    """The house scoring model (es_function_score's arithmetic core)
    evaluated as a plain column: field_value_factor and filter+weight
    terms summed. No libm, so scores are bit-identical cross-engine."""
    terms = []
    for fn in functions:
        if "field_value_factor" in fn:
            body = fn["field_value_factor"]
            terms.append(F.col(body["field"]).cast("double")
                         * F.lit(float(body.get("factor", 1.0))))
        elif "filter" in fn:
            terms.append(
                F.when(compile_query(fn["filter"]),
                       F.lit(float(fn.get("weight", 1.0))))
                .otherwise(F.lit(0.0)))
        else:
            raise ValueError(f"unsupported scoring function {fn!r}")
    if not terms:
        raise ValueError("scoring needs at least one function")
    return reduce(lambda a, b: a + b, terms)


def _sort_spec_columns(sort: list[tuple[str, str]]) -> list[Column]:
    """[(field, 'asc'|'desc'), ...] -> window/orderBy columns."""
    out = []
    for f, d in sort:
        if d not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc|desc, got {d!r}")
        out.append(F.col(f).desc() if d == "desc" else F.col(f).asc())
    return out


def es_has_child(parent_df: DataFrame, child_df: DataFrame,
                 parent_key: str, child_key: str, child_query: dict,
                 score_mode: str = "none", min_children: int = 1,
                 max_children: int | None = None,
                 child_score_functions: list[dict] | None = None,
                 inner_hits: dict | None = None,
                 ) -> DataFrame:
    """ES ``has_child``: parent docs having matching children.

    In ES a ``join``-field mapping co-locates parents and children in
    one index shard; ``has_child`` returns PARENTS with at least one
    (``min_children``..``max_children``) child matching the child
    query, and ``score_mode`` folds the children's scores into the
    parent's ``_score`` (none = filter context; min/max/sum/avg over
    the matching children). The relational twin is explicit: a parent
    relation keyed ``parent_key`` and a child relation carrying the
    parent id in ``child_key``.

    Compilation, scale-first:
    - filter context with the default 1..* cardinality -> distinct
      matching child keys (map-side partial distinct) + LEFT SEMI
      join: the child scan reduces before it shuffles, the parent
      relation is never widened.
    - score modes / cardinality bounds -> ONE grouped aggregate over
      the matching children (count + score fold, map-side partial;
      per-parent cardinality caps apply POST-aggregate so the scan
      never re-shuffles) + one equi-join on the parent key. Both
      shapes are AQE-broadcastable when the matched-parent set is
      small, and degrade to a co-partitioned shuffle join - never a
      cross product - at any corpus size.

    Child scores follow the house function_score model (scores ES
    would compute with BM25 are not reproducible cross-engine;
    field_value_factor / filter+weight are, bitwise).

    ``inner_hits`` (ES's response-shape option on the same clause)
    attaches the matching children THEMSELVES to each parent hit as a
    sorted, size-capped ``array<struct>`` column - ES's
    ``inner_hits.<name>.hits.hits``. Spec keys: ``sort``
    ([(field, 'asc'|'desc'), ...] - MUST be a total order, ES's
    internal doc-id tiebreak is not reproducible), ``size`` (cap,
    ES default 3), ``_source`` (child fields each hit carries),
    ``name`` (column name, default 'children'). Compilation keeps
    the ONE-aggregate shape: a row_number window partitioned by the
    child key (same hash partitioning the aggregate needs - Spark
    reuses the exchange, no second shuffle) caps each parent's
    collected hits at ``size`` BEFORE collect_list ever sees a row,
    so a skewed parent with a million matching children contributes
    at most ``size`` structs to the aggregate - never an unbounded
    per-key array. ``__n_children``/score folds still see ALL
    matching children (the cap applies only to what the response
    carries, exactly ES's semantics).
    """
    from cassandra_elasticsearch_sync_spark.parity import dsum

    if score_mode not in _CHILD_SCORE_MODES:
        raise ValueError(f"score_mode must be one of {_CHILD_SCORE_MODES}, "
                         f"got {score_mode!r}")
    if min_children < 1:
        raise ValueError("min_children must be >= 1")
    if max_children is not None and max_children < min_children:
        raise ValueError("max_children must be >= min_children")
    if score_mode != "none" and not child_score_functions:
        raise ValueError(f"score_mode={score_mode!r} needs "
                         "child_score_functions")
    if inner_hits is not None and not inner_hits.get("sort"):
        raise ValueError("inner_hits needs an explicit total-order "
                         "'sort' (ES's doc-id tiebreak is not "
                         "reproducible cross-engine)")
    if inner_hits is not None and not inner_hits.get("_source"):
        raise ValueError("inner_hits needs '_source' child fields")

    matching = child_df.filter(compile_query(child_query))
    if (score_mode == "none" and min_children == 1 and max_children is None
            and inner_hits is None):
        keys = (matching.select(F.col(child_key).alias(parent_key))
                .distinct())
        return parent_df.join(keys, parent_key, "left_semi")

    collect_hits = None
    if inner_hits is not None:
        from pyspark.sql import Window

        size = int(inner_hits.get("size", 3))
        src = list(inner_hits["_source"])
        w = Window.partitionBy(child_key).orderBy(
            *_sort_spec_columns(inner_hits["sort"]))
        matching = matching.withColumn("__hit_rank", F.row_number().over(w))
        # when() without otherwise() is NULL past the cap, and
        # collect_list drops NULLs - the aggregate materializes at
        # most `size` structs per parent. sort_array on the
        # rank-first struct restores hit order deterministically
        # (collect_list order is not guaranteed), then the rank is
        # stripped so the response shape is pure _source fields.
        hit = F.struct(F.col("__hit_rank"), *[F.col(c) for c in src])
        collect_hits = F.transform(
            F.sort_array(F.collect_list(
                F.when(F.col("__hit_rank") <= size, hit))),
            lambda s: F.struct(*[s[c].alias(c) for c in src]),
        ).alias(inner_hits.get("name", "children"))

    aggs = [F.count("*").alias("__n_children")]
    if collect_hits is not None:
        aggs.append(collect_hits)
    if score_mode != "none":
        s = _function_score_column(child_score_functions)
        fold = {
            "min": lambda: F.min(s),
            "max": lambda: F.max(s),
            "sum": lambda: dsum(s, 6),
            "avg": lambda: dsum(s, 6) / F.count("*"),
        }[score_mode]()
        aggs.append(F.round(fold, 6).alias("_score"))
    per_parent = (
        matching.groupBy(F.col(child_key).alias(parent_key)).agg(*aggs)
        .filter(F.col("__n_children") >= min_children)
    )
    if max_children is not None:
        per_parent = per_parent.filter(
            F.col("__n_children") <= max_children)
    out = parent_df.join(per_parent, parent_key, "inner")
    if inner_hits is not None:
        # ES's per-hit `inner_hits.total.value`: the count of ALL
        # matching children (not just the size-capped carried hits).
        total = f"{inner_hits.get('name', 'children')}_total"
        return out.withColumnRenamed("__n_children", total)
    return out.drop("__n_children")


def es_has_parent(child_df: DataFrame, parent_df: DataFrame,
                  parent_key: str, child_key: str, parent_query: dict,
                  score: bool = False,
                  parent_score_functions: list[dict] | None = None,
                  inner_hits: dict | None = None,
                  ) -> DataFrame:
    """ES ``has_parent``: child docs whose parent matches.

    ``score=false`` (ES default) is filter context: a LEFT SEMI join
    of the children against the distinct matching parent keys - the
    parent scan reduces to a key set before the join, and the child
    relation passes through unwidened. ``score=true`` propagates the
    single parent's score onto each of its children: an equi-join
    carrying exactly (key, _score) from the parent side, so the join
    build input is two columns no matter how wide the parent relation
    is. Parent scores use the house function_score model (see
    es_has_child).

    ``inner_hits`` ({'_source': [...], 'name': ...}) attaches THE
    matched parent itself to each child hit as a 1-element
    array<struct> - a parent has exactly one row per key, so unlike
    has_child there is no cap/sort dimension (no ``sort``/``size``
    keys accepted: fail loudly rather than ignore). The join carries
    exactly (key, hit-struct) from the parent side - still two
    columns at any parent width.
    """
    matched = parent_df.filter(compile_query(parent_query))
    if inner_hits is not None:
        if not inner_hits.get("_source"):
            raise ValueError("inner_hits needs '_source' parent fields")
        if "sort" in inner_hits or "size" in inner_hits:
            raise ValueError(
                "has_parent inner_hits carries exactly ONE parent per "
                "child (keys are unique) - sort/size do not apply")
        src = list(inner_hits["_source"])
        name = inner_hits.get("name", "parent")
        cols = [F.col(parent_key).alias(child_key),
                F.array(F.struct(*[F.col(c) for c in src])).alias(name)]
        if score:
            if not parent_score_functions:
                raise ValueError("score=True needs parent_score_functions")
            cols.append(F.round(
                _function_score_column(parent_score_functions), 6)
                .alias("_score"))
        return child_df.join(matched.select(*cols), child_key, "inner")
    if not score:
        keys = matched.select(F.col(parent_key).alias(child_key)).distinct()
        return child_df.join(keys, child_key, "left_semi")
    if not parent_score_functions:
        raise ValueError("score=True needs parent_score_functions")
    s = _function_score_column(parent_score_functions)
    scored = matched.select(F.col(parent_key).alias(child_key),
                            F.round(s, 6).alias("_score"))
    return child_df.join(scored, child_key, "inner")


def _struct_comparator(sort: list[tuple[str, str]]):
    """A total-order comparator over struct elements for
    ``F.array_sort(col, cmp)``, honoring per-field asc/desc - built
    from the LAST key outward so earlier keys take precedence. Pure
    when/otherwise arithmetic: JVM-side, codegen-friendly, no UDF.
    Sort fields must be non-null (ES's missing-value placement is a
    mapping option this subset does not model - nulls would silently
    compare as ties, so callers sort on required fields)."""
    for _, d in sort:
        if d not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc|desc, got {d!r}")

    def cmp(a, b):
        out = F.lit(0)
        for field, direction in reversed(sort):
            lo, hi = (-1, 1) if direction == "asc" else (1, -1)
            out = (F.when(a[field] < b[field], F.lit(lo))
                   .when(a[field] > b[field], F.lit(hi))
                   .otherwise(out))
        return out

    return cmp


def es_nested_inner_hits(df: DataFrame, path: str, query: dict,
                         sort: list[tuple[str, str]], size: int = 3,
                         source: list[str] | None = None,
                         name: str = "inner_hits") -> DataFrame:
    """ES ``nested`` query with ``inner_hits``: keep the documents
    where ANY element of the nested-path array matches the inner
    query (the a3ab same-element semantics), and attach the matching
    ELEMENTS themselves - sorted by an explicit total order, capped
    at ``size``, projected to ``source`` fields - as an
    ``array<struct>`` column, ES's ``inner_hits.<path>.hits.hits``
    for nested mappings.

    Compilation is pure higher-order functions over the one array
    column: ``filter`` (the element predicate, compiled by the same
    resolver-rebinding rule as the ``nested`` query clause) ->
    ``array_sort`` with a when/otherwise comparator -> ``slice`` ->
    ``transform`` to the _source projection. JVM lambdas end to end:
    no explode, no shuffle, no UDF - per-document constant work, the
    correct shape at any corpus size.

    Sort fields inside elements must be non-null (see
    ``_struct_comparator``); ``sort`` must be a total order for the
    cap to be deterministic.
    """
    if not sort:
        raise ValueError("inner_hits needs an explicit total-order 'sort'")
    prefix = path + "."

    def elem_pred(x):
        def elem_resolve(field: str):
            if field.startswith(prefix):
                return x[field[len(prefix):]]
            return F.col(field)
        return compile_query(query, elem_resolve)

    def strip(spec):
        out = []
        for f, d in spec:
            out.append((f[len(prefix):] if f.startswith(prefix) else f, d))
        return out

    matched = F.filter(F.col(path), elem_pred)
    ranked = F.slice(
        F.array_sort(matched, _struct_comparator(strip(sort))), 1, int(size))
    if source is not None:
        fields = [f[len(prefix):] if f.startswith(prefix) else f
                  for f in source]
        ranked = F.transform(
            ranked, lambda s: F.struct(*[s[c].alias(c) for c in fields]))
    return (df.filter(F.exists(F.col(path), elem_pred))
            .withColumn(name, ranked))


@register("a3bu_es_has_child_inner_hits", "A3+C4+E4", """
WITH matching AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_quantity DESC, l_linenumber ASC)
           AS rnk
  FROM lineitem
  WHERE l_returnflag = 'R' AND l_quantity >= 45
),
per_parent AS (
  SELECT l_orderkey, COUNT(*) AS n_children
  FROM matching GROUP BY 1 HAVING COUNT(*) >= 2
),
hits AS (
  SELECT l_orderkey,
         string_agg(CAST(l_linenumber AS VARCHAR) || ':'
                    || CAST(CAST(l_quantity AS INT) AS VARCHAR),
                    '|' ORDER BY rnk) AS children
  FROM matching WHERE rnk <= 3 GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority, p.n_children, h.children
FROM orders o
JOIN per_parent p ON o.o_orderkey = p.l_orderkey
JOIN hits h ON o.o_orderkey = h.l_orderkey
ORDER BY p.n_children DESC, o.o_orderkey ASC
LIMIT 15
""", "ES has_child WITH inner_hits - the response shape a user with "
     "a relational mapping actually reads: each parent hit carries "
     "the matching children themselves, sorted (quantity desc, "
     "linenumber tiebreak - inner_hits requires a total order here, "
     "ES's doc-id tiebreak is not reproducible) and capped at "
     "size=3, ES's inner_hits default. One row_number window "
     "partitioned on the child key caps each parent's hits BEFORE "
     "collect_list sees a row - the window's hash partitioning is "
     "the aggregate's, so Spark reuses the exchange and a skewed "
     "parent contributes at most 3 structs; n_children still counts "
     "ALL matching children (the cap is response-only, exactly ES). "
     "The hits flatten to ONE '|'-joined string column (the d7 "
     "array_join discipline - the driver canonicalizes through "
     "pandas, where list cells are unhashable); the ORDER-SENSITIVE "
     "join still proves cap + sort determinism. The rich "
     "array<struct> shape stays on the es_has_child library API.")
def a3bu_es_has_child_inner_hits(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    out = es_has_child(
        o, li, parent_key="o_orderkey", child_key="l_orderkey",
        child_query={"bool": {"filter": [
            {"term": {"l_returnflag": "R"}},
            {"range": {"l_quantity": {"gte": 45}}},
        ]}},
        min_children=2,
        inner_hits={"size": 3,
                    "sort": [("l_quantity", "desc"),
                             ("l_linenumber", "asc")],
                    "_source": ["l_linenumber", "l_quantity"]},
    )
    hit_str = F.transform(
        F.col("children"),
        lambda s: F.concat_ws(
            ":", s["l_linenumber"].cast("string"),
            s["l_quantity"].cast("int").cast("string")))
    return (
        out.select("o_orderkey", "o_orderpriority",
                   F.col("children_total").alias("n_children"),
                   F.array_join(hit_str, "|").alias("children"))
        .orderBy(F.col("n_children").desc(), F.col("o_orderkey").asc())
        .limit(15)
    )


@register("a3bz_es_nested_inner_hits", "A3+H4", """
WITH m AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC,
                                     l_linenumber ASC) AS rnk
  FROM lineitem
  WHERE l_quantity >= 48 AND l_extendedprice >= 60000
)
SELECT o.o_orderkey, o.o_totalprice, h.items_hits
FROM orders o
JOIN (SELECT l_orderkey,
             string_agg(CAST(l_linenumber AS VARCHAR) || ':'
                        || CAST(l_extendedprice AS VARCHAR),
                        '|' ORDER BY rnk) AS items_hits
      FROM m WHERE rnk <= 2 GROUP BY 1) h
  ON o.o_orderkey = h.l_orderkey
""", "ES nested query WITH inner_hits over an array-of-objects "
     "mapping: orders where ONE item has quantity >= 48 AND price >= "
     "60000 (the a3ab same-element semantics), each hit carrying the "
     "matching ELEMENTS sorted (price desc, linenumber tiebreak) and "
     "capped at size=2 - ES's nested inner_hits response. Compiles "
     "to filter -> array_sort(comparator) -> slice -> transform, "
     "JVM higher-order lambdas over the one array column: no "
     "explode, no shuffle, no UDF, per-document constant work at any "
     "corpus size. The oracle rebuilds the same hits from un-nested "
     "rows with a ranked window; the hits flatten to ONE '|'-joined "
     "string (driver-canonicalizable - pandas can't hash list cells) "
     "whose ORDER-SENSITIVE join proves element sort + cap.")
def a3bz_es_nested_inner_hits(spark, sf_dir):
    docs = order_docs_with_items(spark, sf_dir)
    out = es_nested_inner_hits(
        docs, path="items",
        query={"bool": {"must": [
            {"range": {"items.l_quantity": {"gte": 48}}},
            {"range": {"items.l_extendedprice": {"gte": 60000}}},
        ]}},
        sort=[("items.l_extendedprice", "desc"),
              ("items.l_linenumber", "asc")],
        size=2, source=["items.l_linenumber", "items.l_extendedprice"],
        name="items_hits")
    # decimal-as-string: both engines render DECIMAL(15,2) as
    # '101309.36' - exact, no int-cast rounding divergence (Spark
    # truncates decimal->int, DuckDB rounds)
    hit_str = F.transform(
        F.col("items_hits"),
        lambda s: F.concat_ws(
            ":", s["l_linenumber"].cast("string"),
            s["l_extendedprice"].cast("string")))
    return out.select("o_orderkey", "o_totalprice",
                      F.array_join(hit_str, "|").alias("items_hits"))


@register("a3bj_es_has_child", "A3+C4", """
WITH per_parent AS (
  SELECT l_orderkey,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10)))
                   AS DECIMAL(38,6)) AS DOUBLE) AS score
  FROM lineitem
  WHERE l_returnflag = 'R' AND l_quantity >= 45
  GROUP BY l_orderkey
  HAVING COUNT(*) >= 2
)
SELECT o.o_orderkey, o.o_orderpriority, ROUND(p.score, 6) AS score
FROM orders o JOIN per_parent p ON o.o_orderkey = p.l_orderkey
ORDER BY score DESC, o.o_orderkey ASC
LIMIT 15
""", "ES has_child over a join-field mapping (orders are parents, "
     "lineitems children): parents with >= 2 children matching "
     "returnflag R and quantity >= 45, score_mode=sum folding the "
     "children's field_value_factor(l_quantity) scores into the "
     "parent _score - the 'orders with heavy returned lines' drill-"
     "down an ES user with a relational mapping runs weekly. "
     "Compiles to ONE grouped aggregate over the matching children "
     "(map-side partial; the min_children cap applies post-"
     "aggregate) + one equi-join on the parent key + a "
     "TakeOrderedAndProject page: the child scan reduces before "
     "anything shuffles, at any corpus size.")
def a3bj_es_has_child(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    out = es_has_child(
        o, li, parent_key="o_orderkey", child_key="l_orderkey",
        child_query={"bool": {"filter": [
            {"term": {"l_returnflag": "R"}},
            {"range": {"l_quantity": {"gte": 45}}},
        ]}},
        score_mode="sum", min_children=2,
        child_score_functions=[
            {"field_value_factor": {"field": "l_quantity", "factor": 1.0}},
        ],
    )
    return (
        out.select("o_orderkey", "o_orderpriority",
                   F.col("_score").alias("score"))
        .orderBy(F.col("score").desc(), F.col("o_orderkey").asc())
        .limit(15)
    )


@register("a3bk_es_has_parent", "A3+C4", """
SELECT l.l_orderkey, l.l_linenumber, l.l_linestatus,
       ROUND(CAST(o.o_totalprice AS DOUBLE) * 0.5, 6) AS score
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 400000
ORDER BY score DESC, l.l_orderkey ASC, l.l_linenumber ASC
LIMIT 20
""", "ES has_parent with score=true: lineitem children of urgent "
     "parents above 400k, each child carrying its parent's "
     "field_value_factor(o_totalprice, 0.5) score - ES's inherited-"
     "relevance pattern ('rank lines by how important their order "
     "is'). The parent side joins as exactly (key, _score) - two "
     "columns regardless of parent width - and the factor 0.5 is a "
     "dyadic, so the score is bit-identical cross-engine. One "
     "filtered parent projection + one equi-join + one "
     "TakeOrderedAndProject page.")
def a3bk_es_has_parent(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    out = es_has_parent(
        li, o, parent_key="o_orderkey", child_key="l_orderkey",
        parent_query={"bool": {"filter": [
            {"term": {"o_orderpriority": "1-URGENT"}},
            {"range": {"o_totalprice": {"gt": 400000}}},
        ]}},
        score=True,
        parent_score_functions=[
            {"field_value_factor": {"field": "o_totalprice",
                                    "factor": 0.5}},
        ],
    )
    return (
        out.select("l_orderkey", "l_linenumber", "l_linestatus",
                   F.col("_score").alias("score"))
        .orderBy(F.col("score").desc(), F.col("l_orderkey").asc(),
                 F.col("l_linenumber").asc())
        .limit(20)
    )


@register("a3bl_es_simple_query_string", "A3+B3", """
SELECT doc_id, lang, source FROM documents
WHERE (CASE WHEN list_contains(string_split(lower(text), ' '), 'vector')
            THEN 1 ELSE 0 END
     + CASE WHEN contains(' ' || lower(text) || ' ', ' merge join ')
            THEN 1 ELSE 0 END
     + CASE WHEN list_contains(string_split(lower(text), ' '), 'stream')
            THEN 1 ELSE 0 END) >= 2
""", "ES simple_query_string - the syntax behind the Kibana search "
     "bar: 'vector | \"merge join\" | stream' with "
     "minimum_should_match=2 finds documents matching at least two "
     "of the three optional clauses (a token match, a consecutive-"
     "tokens phrase, another token). The parser lowers to the "
     "existing match/match_phrase/bool combinators, and "
     "minimum_should_match compiles to one sum-of-0/1-casts "
     "expression >= m - a single codegen-friendly predicate on the "
     "scan, no self-join, pushdown-eligible like every other "
     "compiled filter.")
def a3bl_es_simple_query_string(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_search(d, {"simple_query_string": {
        "query": 'vector | "merge join" | stream',
        "fields": ["text"],
        "minimum_should_match": 2,
    }}).select("doc_id", "lang", "source")


@register("a3bm_es_query_string", "A3+B3", """
SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
WHERE contains(' ' || lower(o_orderpriority) || ' ', ' 1-urgent ')
   OR (list_contains(string_split(lower(o_orderstatus), ' '), 'f')
       AND NOT starts_with(o_orderpriority, '5'))
""", "ES query_string with the full Lucene-box surface: "
     "'o_orderpriority:\"1-URGENT\" OR (o_orderstatus:F AND NOT "
     "o_orderpriority:5*)' - field:term, a fielded quoted phrase, "
     "uppercase AND/OR/NOT with Lucene precedence, parentheses, and "
     "a trailing-* prefix (lowered to startswith, the term-level "
     "keyword semantics). The parser emits an ordinary query-DSL "
     "tree, so the whole predicate compiles through compile_query "
     "and reaches the parquet scan as one pushdown-eligible filter.")
def a3bm_es_query_string(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_search(o, {"query_string": {
        "query": 'o_orderpriority:"1-URGENT" OR '
                 '(o_orderstatus:F AND NOT o_orderpriority:5*)',
    }}).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@register("a3bn_es_mad_agg", "A3+D6", """
WITH med AS (
  SELECT o_orderpriority AS key,
         QUANTILE_CONT(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1
),
dev AS (
  SELECT o.o_orderpriority AS key,
         ABS(o.o_totalprice - m.med) AS dev
  FROM orders o JOIN med m ON o.o_orderpriority = m.key
),
base AS (
  SELECT o_orderpriority AS key, COUNT(*) AS doc_count
  FROM orders GROUP BY 1
)
SELECT b.key, b.doc_count, ROUND(QUANTILE_CONT(d.dev, 0.5), 6) AS price_mad
FROM base b JOIN dev d ON b.key = d.key
GROUP BY b.key, b.doc_count
ORDER BY b.doc_count DESC, b.key LIMIT 5
""", "ES median_absolute_deviation under terms buckets: per-priority "
     "MAD of order price - the robust dispersion ES dashboards pair "
     "with percentiles when means lie. ES computes both medians from "
     "one t-digest (approximate); the exact twin is two grouped "
     "passes (median, then median of |x - median|) scoped to the "
     "SURVIVING buckets by a broadcast semi join, so the second scans "
     "reduce immediately and every join is bucket-count-sized. Both "
     "engines interpolate the middle pair identically on exact "
     "doubles; at 100 TB the documented swap is approx_percentile "
     "(t-digest, mergeable map-side) - ES's own accuracy class.")
def a3bn_es_mad_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "by_priority": {
            "terms": {"field": "o_orderpriority", "size": 5},
            "aggs": {"price_mad": {"median_absolute_deviation": {
                "field": "o_totalprice"}}},
        }
    })


@register("a3bo_es_string_stats", "A3+H1", """
WITH lens AS (
  SELECT lang AS key, COUNT(*) AS doc_count,
         COUNT(text) AS txt_count,
         MIN(LENGTH(text)) AS txt_min_length,
         MAX(LENGTH(text)) AS txt_max_length,
         ROUND(CAST(SUM(LENGTH(text)) AS DOUBLE) / COUNT(text), 6)
           AS txt_avg_length
  FROM documents GROUP BY 1
),
chars AS (
  SELECT lang AS key, ch, COUNT(*) AS c
  FROM (SELECT lang, UNNEST(string_split(text, '')) AS ch
        FROM documents)
  WHERE ch <> ''
  GROUP BY 1, 2
),
ent AS (
  SELECT key,
         ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 6)
           AS txt_entropy
  FROM chars GROUP BY 1
)
SELECT l.key, l.doc_count, l.txt_count, l.txt_min_length,
       l.txt_max_length, l.txt_avg_length, e.txt_entropy
FROM lens l JOIN ent e ON l.key = e.key
ORDER BY l.doc_count DESC, l.key LIMIT 5
""", "ES string_stats under terms buckets: per-language count / min / "
     "max / avg length plus Shannon character entropy of the text "
     "field - the text-quality panel (entropy near 0 flags repeated-"
     "character spam). Lengths are one grouped pass (exact integer "
     "sums, one IEEE divide); entropy is a character explode -> "
     "(bucket, char) count -> log2(N) - sum(c*log2 c)/N, all grouped "
     "map-side partials joined back bucket-count-sized. log2 is the "
     "engine's one libm call here - rounded at 6 dp, the same "
     "convention as the geo haversine boundary.")
def a3bo_es_string_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_aggregate(d, {
        "by_lang": {
            "terms": {"field": "lang", "size": 5},
            "aggs": {"txt": {"string_stats": {"field": "text"}}},
        }
    })


@register("a3bp_es_sampler", "A3+D2", """
WITH s AS (
  SELECT * FROM orders
  ORDER BY ((o_orderkey % 2147483648) * 1103515245 + 12345)
             % 2147483648, o_orderkey
  LIMIT 100
)
SELECT COUNT(*) AS doc_count,
       ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                  AS DECIMAL(38,4)) AS DOUBLE) / COUNT(o_totalprice), 6)
         AS avg_price
FROM s
""", "ES sampler agg: the sub-metrics run over a bounded sample "
     "instead of the whole scope - the 'cheap representative KPI' "
     "bucket. ES ranks the sample by _score (not reproducible cross-"
     "engine), so the deterministic stand-in is an explicit "
     "hash_field ranked by a 31-bit LCG mix - plain bigint "
     "arithmetic, bijective below 2^31, identical in any engine (the "
     "repo's no-runtime-randomness rule). The sample is one "
     "TakeOrderedAndProject (distributed top-k, never a global "
     "sort); cost is O(shard_size) past the scan at any corpus "
     "size.")
def a3bp_es_sampler(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "sample": {
            "sampler": {"shard_size": 100, "hash_field": "o_orderkey"},
            "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}},
        }
    })


@register("a3bq_es_diversified_sampler", "A3+E1", """
WITH h AS (
  SELECT *, ((o_orderkey % 2147483648) * 1103515245 + 12345)
              % 2147483648 AS hh
  FROM orders
),
capped AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_orderpriority ORDER BY hh, o_orderkey) AS rn
  FROM h
),
s AS (
  SELECT * FROM capped WHERE rn <= 20
  ORDER BY hh, o_orderkey LIMIT 60
)
SELECT COUNT(*) AS doc_count,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                  AS DECIMAL(38,4)) AS DOUBLE) / COUNT(o_totalprice), 6)
         AS avg_price
FROM s
""", "ES diversified_sampler: the sampler with a per-value cap - at "
     "most max_docs_per_value docs per o_orderpriority enter the "
     "sample, de-biasing the KPI against dominant values (the reason "
     "the agg exists). The cap is a row_number over a PARTITIONED "
     "window in LCG order (never a single-partition window), then "
     "the same TakeOrderedAndProject sample and one aggregate. "
     "Deterministic end to end; both engines rank the identical "
     "bigint mix.")
def a3bq_es_diversified_sampler(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = es_aggregate(o, {
        "sample": {
            "diversified_sampler": {"shard_size": 60,
                                    "hash_field": "o_orderkey",
                                    "field": "o_orderpriority",
                                    "max_docs_per_value": 20},
            "aggs": {"n_priorities": {"cardinality": {
                         "field": "o_orderpriority"}},
                     "avg_price": {"avg": {"field": "o_totalprice"}}},
        }
    })
    return out.select("doc_count",
                      F.col("n_priorities").cast("bigint")
                       .alias("n_priorities"),
                      "avg_price")


@register("a3br_es_range_date_math", "A3+H2", """
SELECT event_type, COUNT(*) AS doc_count
FROM events
WHERE ts >= TIMESTAMP '2024-01-14 00:00:00'
  AND ts <  TIMESTAMP '2024-01-21 00:00:00'
GROUP BY event_type
""", "ES date math in a range query - the `now-7d/d`..`now/d` window "
     "behind every Kibana 'Last 7 days' picker: anchor arithmetic "
     "(+N y/M/w/d/h/m/s with month-end clamping) and FLOOR rounding "
     "(/d to midnight, /w to Monday, ES's week start) evaluated "
     "against an EXPLICIT `now` (ES resolves now to server time once "
     "per request; the deterministic engine takes the clock as "
     "input - the no-wall-clock rule). The math resolves in a pure "
     "pre-pass, so what compiles is an ordinary timestamp range that "
     "reaches the parquet scan as a pushdown filter; the oracle pins "
     "the parser's output by spelling the resolved window literally.")
def a3br_es_range_date_math(spark, sf_dir):
    import datetime as dt

    e = load_table(spark, sf_dir, "events")
    return (
        es_search(e, {"range": {"ts": {"gte": "now-7d/d", "lt": "now/d"}}},
                  now=dt.datetime(2024, 1, 21, 7, 34, 56))
        .groupBy("event_type").agg(F.count("*").alias("doc_count"))
    )


@register("a3bs_es_compound_filter_context", "A3+B3", """
SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
FROM orders
WHERE (o_orderstatus = 'F' OR o_orderpriority LIKE '1%')
  AND o_totalprice >= 50000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
""", "The compound-query filter-context trio nested inside one bool: "
     "dis_max (best-clause scoring; in filter context a doc matches "
     "when ANY clause does - the OR of the compiled clauses), "
     "boosting (negative only DEMOTES via negative_boost, it never "
     "excludes - the match set is exactly the positive query's, and "
     "the negative clause still validates), and constant_score (the "
     "inner filter with a pinned score). All three lower to plain "
     "predicates, so the whole compound reaches the parquet scan as "
     "one pushdown-eligible conjunction.")
def a3bs_es_compound_filter_context(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_search(o, {"bool": {"filter": [
        {"dis_max": {"queries": [
            {"term": {"o_orderstatus": "F"}},
            {"prefix": {"o_orderpriority": "1"}},
        ]}},
        {"boosting": {"positive": {"range": {"o_totalprice": {"gte": 50000}}},
                      "negative": {"term": {"o_orderstatus": "P"}},
                      "negative_boost": 0.5}},
        {"constant_score": {"filter": {"terms": {
            "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}}}},
    ]}}).select("o_orderkey", "o_orderstatus", "o_orderpriority",
                "o_totalprice")


@register("a3bt_es_moving_percentiles", "A3+D6", """
WITH buckets AS (
  SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS key,
         COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT key, doc_count, revenue,
       ROUND(QUANTILE_CONT(CAST(revenue AS DOUBLE), 0.50) OVER w, 6)
         AS band_p50,
       ROUND(QUANTILE_CONT(CAST(revenue AS DOUBLE), 0.90) OVER w, 6)
         AS band_p90
FROM buckets
WINDOW w AS (ORDER BY key ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
""", "ES moving_percentiles pipeline agg: sliding-window p50/p90 of "
     "the monthly revenue metric over the 6 buckets BEFORE each one "
     "(shift=0, the moving_avg window convention) - the percentile "
     "band behind burn-rate and anomaly panels. ES slides a "
     "t-digest; the exact twin is percentile() over the same bucket "
     "window, and both engines interpolate the middle pair "
     "identically on exact doubles. The window is BUCKET-count-sized "
     "(months), never corpus-sized - the scan already reduced to one "
     "row per month before any window runs.")
def a3bt_es_moving_percentiles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_aggregate(o, {
        "monthly": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "month"},
            "aggs": {
                "revenue": {"sum": {"field": "o_totalprice"}},
                "band": {"moving_percentiles": {
                    "buckets_path": "revenue", "window": 6,
                    "percents": [50.0, 90.0]}},
            },
        }
    })


# ---------------------------------------------------------------------------
# Round 9 scoring tier: script_score / rank_feature / distance_feature
# ---------------------------------------------------------------------------

def _painless_doc_expr(source: str) -> Column:
    """Compile a Painless arithmetic expression over doc refs to a
    Catalyst Column - the shared bounded-subset parser from
    es_scripted_metric (arithmetic, comparisons, ternaries over
    ``doc['f'].value``), so at 100 TB the 'script' costs what any
    projected expression costs (whole-stage codegen, no script
    engine, no Python)."""
    from cassandra_elasticsearch_sync_spark.sources.es_scripted_metric \
        import PainlessError, _Parser, _tokenize

    def resolve(ref):
        kind, name = ref
        if kind == "doc":
            return F.col(name)
        raise PainlessError(
            f"script expressions reference doc['{name}'].value, not "
            f"bare identifiers ({name!r})")

    src = source.strip()
    if src.lower().startswith("return"):
        src = src[len("return"):]
    toks = _tokenize(src.strip().rstrip(";"))
    if not toks:
        raise ValueError("empty script_score source")
    p = _Parser(toks, resolve)
    out = p.expr()
    if not p.at_end():
        raise ValueError(f"trailing tokens in script: {p.peek()!r}")
    return out


def es_script_score(df: DataFrame, query: dict, source: str,
                    sort_tiebreak: str, size: int = 10,
                    min_score: float | None = None) -> DataFrame:
    """ES ``script_score``: hits matching ``query`` re-scored by a
    Painless arithmetic expression, top-``size`` by score. The score
    compiles via the bounded-subset parser (dyadic arithmetic only -
    the pure-arithmetic scripts dashboards write are reproducible
    bit-for-bit cross-engine; Math.log/saturation-style libm calls
    are NOT in the subset and fail loudly). ``min_score`` drops hits
    below it, ES's knob. TakeOrderedAndProject with the mandatory
    unique tiebreak - the same page shape as function_score."""
    hits = es_search(df, query)
    score = F.round(_painless_doc_expr(source).cast("double"), 6)
    out = hits.withColumn("_score", score)
    if min_score is not None:
        out = out.filter(F.col("_score") >= F.lit(float(min_score)))
    return (out.orderBy(F.col("_score").desc(),
                        F.col(sort_tiebreak).asc())
            .limit(int(size)))


def es_rank_feature(df: DataFrame, field: str, *, pivot: float,
                    sort_tiebreak: str, size: int = 10,
                    boost: float = 1.0) -> DataFrame:
    """ES ``rank_feature`` with the SATURATION function (the default):
    score = boost * x / (x + pivot) - monotone in the feature, half
    at the pivot. Saturation is one divide (bit-identical
    cross-engine); the log/sigmoid variants need libm pow/log and are
    rejected by omission per the no-libm-in-scores rule (documented
    divergence, same as BM25). Top-size page with unique tiebreak."""
    x = F.col(field).cast("double")
    score = F.round(F.lit(float(boost)) * x / (x + F.lit(float(pivot))), 6)
    return (df.withColumn("_score", score)
            .orderBy(F.col("_score").desc(), F.col(sort_tiebreak).asc())
            .limit(int(size)))


def es_distance_feature(df: DataFrame, field: str, *, origin,
                        pivot_days: float, sort_tiebreak: str,
                        size: int = 10, boost: float = 1.0) -> DataFrame:
    """ES ``distance_feature`` on a DATE field: score = boost *
    pivot / (pivot + |field - origin|) - recency boosting, the query
    behind 'prefer newer documents'. Distances in whole days via
    datediff (exact integers), the rest one divide - bit-identical
    cross-engine, unlike the geo variant whose haversine would carry
    libm into the score (that one stays a filter via geo_distance).
    Top-size page with unique tiebreak."""
    dist = F.abs(F.datediff(F.col(field).cast("date"),
                            F.lit(origin))).cast("double")
    score = F.round(
        F.lit(float(boost)) * F.lit(float(pivot_days))
        / (F.lit(float(pivot_days)) + dist), 6)
    return (df.withColumn("_score", score)
            .orderBy(F.col("_score").desc(), F.col(sort_tiebreak).asc())
            .limit(int(size)))


def es_parent_id(child_df: DataFrame, child_key: str, parent_id) -> DataFrame:
    """ES ``parent_id`` query: the children of ONE parent document -
    an equality filter on the join key (pushdown-eligible), exactly
    what ES resolves it to on a join-field mapping."""
    return child_df.filter(F.col(child_key) == F.lit(parent_id))


def es_children_agg(parent_df: DataFrame, child_df: DataFrame,
                    parent_key: str, child_key: str,
                    bucket_field: str, child_aggs: dict,
                    size: int = 10) -> DataFrame:
    """ES ``children`` aggregation: a terms agg over PARENTS whose
    sub-aggs run over each bucket's CHILDREN - the agg-side of the
    join-field mapping (a3bj/a3bk are the query side). Compilation
    never widens the child scan: the parent relation projects to
    (key, bucket) - two columns at any parent width - the children
    join on the key, and ONE grouped aggregate (map-side partials)
    folds the child metrics per bucket; bucket count and doc_count
    follow ES's terms ordering. ``child_aggs``: {name: (kind,
    field)} with kind in sum|avg|min|max|count (sums/avgs
    decimal-exact via dsum/davg)."""
    from cassandra_elasticsearch_sync_spark.parity import davg, dsum

    buckets = parent_df.select(
        F.col(parent_key).alias(child_key),
        F.col(bucket_field).alias("key"))
    joined = child_df.join(buckets, child_key, "inner")
    aggs = [F.count("*").alias("doc_count")]
    for name, (kind, field) in child_aggs.items():
        if kind == "sum":
            aggs.append(dsum(F.col(field)).alias(name))
        elif kind == "avg":
            aggs.append(F.round(davg(F.col(field)), 6).alias(name))
        elif kind == "min":
            aggs.append(F.min(field).alias(name))
        elif kind == "max":
            aggs.append(F.max(field).alias(name))
        elif kind == "count":
            aggs.append(F.count(field).alias(name))
        else:
            raise ValueError(f"unsupported children sub-agg {kind!r}")
    return (joined.groupBy("key").agg(*aggs)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(int(size)))


def es_t_test(df: DataFrame, field: str, filter_a: dict, filter_b: dict,
              group_by: str | None = None,
              welch: bool = True) -> DataFrame:
    """ES ``t_test`` aggregation (heteroscedastic/Welch by default,
    homoscedastic optional): the t-statistic between two filtered
    populations of one metric - the A/B significance number ES ships
    for dashboards. Exact-arithmetic core: per side, n / sum /
    sum-of-squares accumulate DECIMAL-exact in one grouped aggregate
    (conditional aggregation - the two filters become CASE WHENs, so
    both populations fold in a SINGLE pass over the scan, no
    self-join, no second scan); mean/variance/t then evaluate in
    doubles with one sqrt (IEEE-correctly-rounded on both engines).
    Returns t rounded 6 dp with the per-side counts."""
    pa, pb = compile_query(filter_a), compile_query(filter_b)
    x = F.col(field)
    xd = x.cast("decimal(38,10)")
    x2 = (x.cast("decimal(19,4)") * x.cast("decimal(19,4)"))

    def side(pred, tag):
        # the dsum rescale discipline: rescale BEFORE the double cast
        # so the scaled integer stays under 2^53 and both engines
        # convert exactly (sum scale 2, sum-of-squares scale 0 - the
        # latter bounds this at ~4e15 of squared value per bucket,
        # i.e. ~sf1 for this corpus; revisit per column beyond)
        return [
            F.count(F.when(pred, x)).alias(f"n_{tag}"),
            F.sum(F.when(pred, xd)).cast("decimal(38,2)")
             .alias(f"s_{tag}"),
            F.sum(F.when(pred, x2)).cast("decimal(38,0)")
             .alias(f"q_{tag}"),
        ]

    gb = df.groupBy(F.col(group_by).alias("key")) if group_by else df
    folded = gb.agg(*side(pa, "a"), *side(pb, "b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("s_a").cast("double") / na
    mb = F.col("s_b").cast("double") / nb
    va = (F.col("q_a").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("q_b").cast("double") - nb * mb * mb) / (nb - 1)
    if welch:
        se = F.sqrt(va / na + vb / nb)
    else:
        sp = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
        se = F.sqrt(sp * (1 / na + 1 / nb))
    cols = ["n_a", "n_b", F.round((ma - mb) / se, 6).alias("t_value")]
    return folded.select(*(["key"] if group_by else []), *cols)


@register("a3ca_es_match_phrase_prefix", "A3+K4", """
SELECT doc_id, lang, n_chars FROM documents
WHERE contains(' ' || lower(text) || ' ', ' merge jo')
""", "ES match_phrase_prefix - the phrase form of search-as-you-type: "
     "'merge jo' matches documents where a token starting 'jo' "
     "immediately follows 'merge' (match_phrase demands the full "
     "token, match_bool_prefix drops the adjacency). With the "
     "whitespace analyzer this is the space-padded substring match "
     "WITHOUT the trailing pad - one contains() in whole-stage "
     "codegen, no positions machinery needed.")
def a3ca_es_match_phrase_prefix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_search(d, {"match_phrase_prefix": {"text": "merge jo"}}) \
        .select("doc_id", "lang", "n_chars")


@register("a3cb_es_script_score", "A3+H3", """
SELECT o_orderkey, o_orderpriority,
       ROUND(CAST(o_totalprice AS DOUBLE) / 1000.0
             + CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 100.0 ELSE 0.0 END, 6) AS _score
FROM orders
WHERE o_orderstatus = 'O'
ORDER BY _score DESC, o_orderkey ASC
LIMIT 12
""", "ES script_score: open orders re-ranked by a Painless expression "
     "(price scaled down + an urgency bonus via ternary) - the "
     "hand-tuned-relevance pattern behind most custom search "
     "rankings. The script compiles through the shared bounded "
     "Painless parser to Catalyst expressions (whole-stage codegen; "
     "libm-calling scripts fail loudly instead of breaking the "
     "cross-engine hash), and the page is one "
     "TakeOrderedAndProject with the mandatory unique tiebreak.")
def a3cb_es_script_score(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = es_script_score(
        o, {"term": {"o_orderstatus": "O"}},
        "doc['o_totalprice'].value / 1000.0 + "
        "(doc['o_orderpriority'].value == '1-URGENT' ? 100.0 : 0.0)",
        sort_tiebreak="o_orderkey", size=12)
    return out.select("o_orderkey", "o_orderpriority", "_score")


@register("a3cc_es_rank_feature", "A3+H3", """
SELECT doc_id, n_chars,
       ROUND(2.0 * CAST(n_chars AS DOUBLE)
             / (CAST(n_chars AS DOUBLE) + 500.0), 6) AS _score
FROM documents
ORDER BY _score DESC, doc_id ASC
LIMIT 10
""", "ES rank_feature with the default SATURATION function: score = "
     "boost * x/(x + pivot) over a numeric feature field (here "
     "document length, pivot 500) - the static-signal ranking query "
     "(pagerank, freshness, popularity). Saturation is one divide - "
     "bit-identical cross-engine; the log/sigmoid variants would "
     "put libm pow/log into the score and are rejected by omission "
     "(same documented rule as BM25). TakeOrderedAndProject page.")
def a3cc_es_rank_feature(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = es_rank_feature(d, "n_chars", pivot=500.0, boost=2.0,
                          sort_tiebreak="doc_id", size=10)
    return out.select("doc_id", "n_chars", "_score")


@register("a3cd_es_distance_feature", "A3+H2", """
SELECT o_orderkey, o_orderdate,
       ROUND(1.0 * 30.0 / (30.0 + ABS(DATEDIFF('day',
             DATE '1998-06-15', CAST(o_orderdate AS DATE)))), 6)
         AS _score
FROM orders
ORDER BY _score DESC, o_orderkey ASC
LIMIT 10
""", "ES distance_feature on a date field: score = boost * pivot / "
     "(pivot + |date - origin|) - recency boosting, the query that replaced function_score decay "
     "curves for the common case. Whole-day distances via datediff "
     "(exact integers) + one divide = bit-identical scores; the geo "
     "variant stays a filter (haversine would put libm in the "
     "score). TakeOrderedAndProject page with unique tiebreak.")
def a3cd_es_distance_feature(spark, sf_dir):
    import datetime as dt

    o = load_table(spark, sf_dir, "orders")
    out = es_distance_feature(
        o, "o_orderdate", origin=dt.date(1998, 6, 15), pivot_days=30.0,
        sort_tiebreak="o_orderkey", size=10)
    return out.select("o_orderkey", "o_orderdate", "_score")


@register("a3ce_es_children_agg", "A3+D1+C1", """
SELECT o.o_orderpriority AS key, COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,10)))
                 AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
       MAX(l.l_quantity) AS max_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 5
""", "ES children aggregation - the agg-side of the join-field "
     "mapping (a3bj/a3bk are the query side): a terms agg over "
     "PARENT order priorities whose sub-aggs fold each bucket's "
     "CHILD lineitems (revenue sum, max quantity). The parent "
     "relation joins as exactly (key, bucket) - two columns at any "
     "parent width - and ONE grouped aggregate with map-side "
     "partials folds the children; sums decimal-exact. AQE "
     "broadcasts the parent projection when small; co-partitioned "
     "shuffle join otherwise - never a widened child scan.")
def a3ce_es_children_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return es_children_agg(
        o, li, parent_key="o_orderkey", child_key="l_orderkey",
        bucket_field="o_orderpriority",
        child_aggs={"revenue": ("sum", "l_extendedprice"),
                    "max_qty": ("max", "l_quantity")},
        size=5)


@register("a3cf_es_parent_id", "A3+B2", """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = 1
ORDER BY l_linenumber
""", "ES parent_id query: the children of ONE parent document on a "
     "join-field mapping - resolves to an equality filter on the "
     "join key, which lands as a PushedFilter at the parquet scan "
     "(partition-prunable on a key-partitioned layout), exactly what "
     "ES does with the _parent_join doc values.")
def a3cf_es_parent_id(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (es_parent_id(li, "l_orderkey", 1)
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice")
            .orderBy("l_linenumber"))


@register("a3cg_es_t_test", "A3+D5", """
WITH folded AS (
  SELECT o_orderstatus AS key,
         COUNT(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN o_totalprice END) AS n_a,
         CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(38,10)) END)
                   AS DECIMAL(38,2)) AS DOUBLE) AS s_a,
         CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(19,4))
                       * CAST(o_totalprice AS DECIMAL(19,4)) END)
                   AS DECIMAL(38,0)) AS DOUBLE) AS q_a,
         COUNT(CASE WHEN o_orderpriority = '5-LOW'
                    THEN o_totalprice END) AS n_b,
         CAST(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(o_totalprice AS DECIMAL(38,10)) END)
                   AS DECIMAL(38,2)) AS DOUBLE) AS s_b,
         CAST(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(o_totalprice AS DECIMAL(19,4))
                       * CAST(o_totalprice AS DECIMAL(19,4)) END)
                   AS DECIMAL(38,0)) AS DOUBLE) AS q_b
  FROM orders GROUP BY 1
)
SELECT key, n_a, n_b,
       ROUND((s_a / n_a - s_b / n_b)
             / SQRT(((q_a - n_a * (s_a / n_a) * (s_a / n_a))
                     / (n_a - 1)) / n_a
                    + ((q_b - n_b * (s_b / n_b) * (s_b / n_b))
                       / (n_b - 1)) / n_b), 6) AS t_value
FROM folded
""", "ES t_test aggregation (Welch, the ES default): the t-statistic "
     "between urgent and low-priority order values per order status "
     "- the A/B significance number ES ships on dashboards. The two "
     "populations fold in a SINGLE pass as conditional aggregates "
     "(CASE WHEN per side - no self-join, no second scan): counts, "
     "decimal-exact sums and sums-of-squares per bucket, then "
     "mean/variance/t in doubles with one IEEE sqrt - bit-identical "
     "cross-engine. Welch's unequal-variance form; the "
     "homoscedastic variant is a flag.")
def a3cg_es_t_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_t_test(
        o, "o_totalprice",
        {"term": {"o_orderpriority": "1-URGENT"}},
        {"term": {"o_orderpriority": "5-LOW"}},
        group_by="o_orderstatus")


# ---------------------------------------------------------------------------
# Round 9 wave three: runtime_mappings / missing agg / geo_line /
# frequent_item_sets
# ---------------------------------------------------------------------------

def es_runtime_mappings(df: DataFrame, mappings: dict) -> DataFrame:
    """ES ``runtime_mappings``: fields DEFINED AT SEARCH TIME by a
    Painless script, then queried/aggregated like any mapped field -
    the schema-on-read feature real indices lean on when reindexing
    is too expensive. Each mapping is {name: {"type": ..., "script":
    {"source": ...}}}; the script compiles through the shared bounded
    Painless parser to a Catalyst expression, so a runtime field
    costs exactly what a stored projection costs (whole-stage
    codegen) and every later query/agg over it composes with
    pushdown. Types map via the CQL/ES numeric bridge: keyword ->
    string, long/double/int -> their Spark twins. Mappings may
    reference earlier runtime fields (ES allows it); unknown types
    and libm-calling scripts fail loudly."""
    types = {"keyword": "string", "long": "long", "integer": "int",
             "double": "double", "float": "float", "boolean": "boolean"}
    out = df
    for name, spec in mappings.items():
        t = spec.get("type", "keyword")
        if t not in types:
            raise ValueError(f"unsupported runtime field type {t!r}")
        expr = _painless_doc_expr(spec["script"]["source"])
        out = out.withColumn(name, expr.cast(types[t]))
    return out


def es_geo_line(df: DataFrame, *, bucket_field: str, point_field: str,
                sort_field: str, size: int = 10,
                buckets: int = 10) -> DataFrame:
    """ES ``geo_line`` aggregation: per bucket, the documents' points
    connected IN SORT ORDER into a linestring, capped at ``size``
    points - the track/route agg (vehicle traces, user paths). The
    line materializes as an array of 'lat,lon' strings (rendered at 4
    dp, the synthetic corpus' exact coordinate scale) so the result
    is order-sensitively hash-comparable. Same skew-safe shape as
    inner_hits: a row_number window partitioned on the bucket key
    caps points BEFORE collect_list sees a row (the window shares the
    aggregate's hash partitioning - one shuffle), so a bucket with a
    million points contributes ``size`` structs, never an unbounded
    array."""
    from pyspark.sql import Window

    w = Window.partitionBy(bucket_field).orderBy(F.col(sort_field).asc())
    pt = F.format_string(
        "%s,%s",
        F.format_number(F.col(f"{point_field}.lat").cast("double"), 4),
        F.format_number(F.col(f"{point_field}.lon").cast("double"), 4))
    ranked = df.withColumn("__pt_rank", F.row_number().over(w))
    line = F.transform(
        F.sort_array(F.collect_list(
            F.when(F.col("__pt_rank") <= int(size),
                   F.struct(F.col("__pt_rank"), pt.alias("p"))))),
        lambda s: s["p"]).alias("line")
    return (ranked.groupBy(F.col(bucket_field).alias("key"))
            .agg(F.count("*").alias("doc_count"), line)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(int(buckets)))


def es_frequent_item_sets(txn_items: DataFrame, txn_col: str,
                          item_col: str, *, minimum_support: float,
                          size: int = 10) -> DataFrame:
    """ES ``frequent_item_sets`` (8.6+), the two-item case: which
    PAIRS of items co-occur in at least ``minimum_support`` of the
    transactions - market-basket analysis as an aggregation. Input is
    the (transaction, item) relation; per-transaction DISTINCT items
    pair via a self equi-join ON THE TRANSACTION KEY with item_a <
    item_b (never an all-pairs cross product - candidates are bounded
    by per-transaction item counts), then one grouped count against
    the broadcast transaction total. Larger set sizes are the a-priori
    recursion; this compiles the size-2 core exactly and REJECTS
    higher minimum_set_size rather than approximating it."""
    t = txn_items.select(F.col(txn_col).alias("t"),
                         F.col(item_col).alias("i")).distinct()
    n_txn = t.select("t").distinct().agg(
        F.count("*").alias("n_txn"))
    a, b = t.alias("a"), t.alias("b")
    pairs = (a.join(b, (F.col("a.t") == F.col("b.t"))
                    & (F.col("a.i") < F.col("b.i")))
             .groupBy(F.col("a.i").alias("item_a"),
                      F.col("b.i").alias("item_b"))
             .agg(F.count("*").alias("support_count")))
    out = (pairs.crossJoin(F.broadcast(n_txn))
           .withColumn("support",
                       F.round(F.col("support_count")
                               / F.col("n_txn").cast("double"), 6))
           .filter(F.col("support") >= F.lit(float(minimum_support))))
    return (out.select("item_a", "item_b", "support_count", "support")
            .orderBy(F.desc("support_count"), F.asc("item_a"),
                     F.asc("item_b"))
            .limit(int(size)))


@register("a3ch_es_missing_agg", "A3+D2+C2", """
WITH j AS (
  SELECT c.c_custkey, c.c_acctbal, o.o_orderkey
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
),
nohit AS (SELECT DISTINCT c_custkey, c_acctbal FROM j
          WHERE c_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders))
SELECT COUNT(*) AS doc_count,
       ROUND(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                       AS DECIMAL(38,4)) AS DOUBLE)
             / COUNT(c_acctbal), 6) AS bal_avg
FROM nohit
""", "ES missing aggregation: documents WITHOUT a value for a field - "
     "here customers with no orders (the classic dormant-accounts "
     "card), materialized as a left join whose unmatched side reads "
     "NULL, then the missing bucket = one isNull filter + single-row "
     "aggregate with a decimal-exact average sub-agg. The anti-join "
     "shape reduces to keys before joining; the missing test itself "
     "costs one null check per row.")
def a3ch_es_missing_agg(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = (c.join(o.select(F.col("o_custkey"),
                         F.col("o_orderkey")).distinct(),
                c.c_custkey == F.col("o_custkey"), "left")
         .select("c_custkey", "c_acctbal", "o_orderkey")
         .dropDuplicates(["c_custkey"]))
    return es_aggregate(j, {
        "no_orders": {"missing": {"field": "o_orderkey"},
                      "aggs": {"bal_avg": {"avg": {"field": "c_acctbal"}}}}
    })


@register("a3ci_es_runtime_mappings", "A3+B6", """
SELECT band AS key, COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                 AS DECIMAL(38,2)) AS DOUBLE) AS revenue
FROM (
  SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
              WHEN o_totalprice < 300000 THEN 'mid'
              ELSE 'high' END AS band,
         o_totalprice
  FROM orders WHERE o_orderstatus = 'F'
)
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 3
""", "ES runtime_mappings: a price-band field DEFINED AT SEARCH TIME "
     "by a Painless ternary script, then used like any mapped field "
     "by a terms agg with a decimal-exact revenue sub-agg - the "
     "schema-on-read move real indices make when reindexing is too "
     "expensive. The script compiles through the shared bounded "
     "Painless parser into the projection, so the runtime field "
     "costs what a stored column costs (whole-stage codegen) and the "
     "filter still pushes to the scan beneath it.")
def a3ci_es_runtime_mappings(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    hits = es_search(o, {"term": {"o_orderstatus": "F"}})
    mapped = es_runtime_mappings(hits, {
        "band": {"type": "keyword", "script": {"source":
            "doc['o_totalprice'].value < 100000 ? 'low' : "
            "(doc['o_totalprice'].value < 300000 ? 'mid' : 'high')"}},
    })
    return es_aggregate(mapped, {
        "bands": {"terms": {"field": "band", "size": 3},
                  "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}}
    })


@register("a3cj_es_geo_line", "A3+E4", """
WITH geo AS (
  SELECT c_custkey, c_nationkey,
         (c_custkey * 7919 % 1200000) / 10000.0 - 60.0 AS lat,
         (c_custkey * 104729 % 3600000) / 10000.0 - 180.0 AS lon
  FROM customer
),
ranked AS (
  SELECT c_nationkey, c_custkey, lat, lon,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey ASC) AS rnk
  FROM geo
),
counts AS (SELECT c_nationkey, COUNT(*) AS doc_count FROM geo GROUP BY 1),
lines AS (
  SELECT c_nationkey,
         string_agg(FORMAT('{:.4f}', lat) || ',' || FORMAT('{:.4f}', lon),
                    '|' ORDER BY rnk) AS line
  FROM ranked WHERE rnk <= 5 GROUP BY 1
)
SELECT c.c_nationkey AS key, c.doc_count, l.line
FROM counts c JOIN lines l ON c.c_nationkey = l.c_nationkey
ORDER BY c.doc_count DESC, key ASC
LIMIT 8
""", "ES geo_line aggregation: each nation's customer points "
     "connected in key order into a linestring capped at 5 points - "
     "the track/route agg behind vehicle-trace dashboards. Points "
     "render as 'lat,lon' strings at the corpus' exact 4-dp "
     "coordinate scale, '|'-joined to ONE driver-safe string whose "
     "ORDER-SENSITIVE join proves both "
     "the line order and the cap. Skew-safe like inner_hits: the "
     "row_number window shares the aggregate's hash partitioning "
     "(one shuffle) and caps BEFORE collection - a million-point "
     "bucket contributes 5 structs.")
def a3cj_es_geo_line(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    out = es_geo_line(g, bucket_field="c_nationkey",
                      point_field="location", sort_field="c_custkey",
                      size=5, buckets=8)
    # driver-canonicalizable shape: the linestring flattens to ONE
    # '|'-joined string (pandas can't hash list cells); the library
    # API keeps the array-of-points shape
    return out.select("key", "doc_count",
                      F.array_join("line", "|").alias("line"))


@register("a3ck_es_frequent_item_sets", "A3+C9+K1", """
WITH txn AS (
  SELECT DISTINCT l.l_orderkey AS t, p.p_brand AS i
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT COUNT(DISTINCT t) AS n_txn FROM txn),
pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS support_count
  FROM txn a JOIN txn b ON a.t = b.t AND a.i < b.i
  GROUP BY 1, 2
)
SELECT item_a, item_b, support_count,
       ROUND(support_count / CAST(n_txn AS DOUBLE), 6) AS support
FROM pairs CROSS JOIN n
WHERE support_count / CAST(n_txn AS DOUBLE) >= 0.001
ORDER BY support_count DESC, item_a ASC, item_b ASC
LIMIT 10
""", "ES frequent_item_sets (8.6+), the two-item core: which part "
     "BRANDS co-occur in one order at >= 0.1% support - market-"
     "basket analysis as an aggregation. Per-order distinct brands "
     "pair via a self equi-join ON THE ORDER KEY with item_a < "
     "item_b (candidates bounded by per-order item counts - never an "
     "all-pairs cross product), one grouped count, the 1-row "
     "transaction total broadcast. Higher minimum_set_size is the "
     "a-priori recursion and is REJECTED rather than approximated; "
     "the size-2 core is exact.")
def a3ck_es_frequent_item_sets(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    txn = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey"), F.col("p_brand"))
    return es_frequent_item_sets(
        txn, "l_orderkey", "p_brand", minimum_support=0.001, size=10)


# ---------------------------------------------------------------------------
# Round 9 wave four: geohash_grid / bucket_correlation / random_sampler
# ---------------------------------------------------------------------------

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bits(precision: int) -> tuple[int, int]:
    total = 5 * precision
    lon_bits = (total + 1) // 2   # geohash gives the extra bit to lon
    return lon_bits, total - lon_bits


def geohash_column(lat: Column, lon: Column, precision: int) -> Column:
    """Base32 geohash of a point at ``precision`` chars, as PURE
    integer arithmetic (floor-divide + mod bit extraction, no bitwise
    builtins) so the identical expression runs on any SQL engine -
    the DuckDB twin is GENERATED from the same constants
    (geohash_sql), the geo_shape pattern. The quantization multiply
    is one double op with an exact-integer result for the corpus' 4-dp
    coordinates; everything after is exact BIGINT math."""
    lon_bits, lat_bits = _geohash_bits(int(precision))
    lat_idx = F.floor((lat.cast("double") + 90.0) / 180.0
                      * float(1 << lat_bits)).cast("long")
    lon_idx = F.floor((lon.cast("double") + 180.0) / 360.0
                      * float(1 << lon_bits)).cast("long")
    lat_idx = F.least(lat_idx, F.lit((1 << lat_bits) - 1))
    lon_idx = F.least(lon_idx, F.lit((1 << lon_bits) - 1))
    total = 5 * int(precision)
    cell = F.lit(0).cast("long")
    for k in range(total):
        if k % 2 == 0:           # even positions take lon bits, MSB first
            j = k // 2
            bit = F.floor(lon_idx / float(1 << (lon_bits - 1 - j))) \
                .cast("long") % 2
        else:
            j = (k - 1) // 2
            bit = F.floor(lat_idx / float(1 << (lat_bits - 1 - j))) \
                .cast("long") % 2
        cell = cell + bit * F.lit(1 << (total - 1 - k))
    chars = [
        F.element_at(
            F.array(*[F.lit(c) for c in _GEOHASH32]),
            ((F.floor(cell / float(1 << (5 * (precision - 1 - i))))
              .cast("long") % 32) + 1).cast("int"))
        for i in range(int(precision))
    ]
    return F.concat(*chars)


def geohash_sql(lat: str, lon: str, precision: int) -> str:
    """The DuckDB twin of geohash_column, generated from the SAME
    constants - identical floor/mod arithmetic, so the geohash is
    bit-identical cross-engine with zero tolerance."""
    lon_bits, lat_bits = _geohash_bits(int(precision))
    lat_idx = (f"LEAST(CAST(FLOOR(({lat} + 90.0) / 180.0 * "
               f"{float(1 << lat_bits)!r}) AS BIGINT), "
               f"{(1 << lat_bits) - 1})")
    lon_idx = (f"LEAST(CAST(FLOOR(({lon} + 180.0) / 360.0 * "
               f"{float(1 << lon_bits)!r}) AS BIGINT), "
               f"{(1 << lon_bits) - 1})")
    total = 5 * int(precision)
    terms = []
    for k in range(total):
        if k % 2 == 0:
            j = k // 2
            bit = (f"(CAST(FLOOR(lon_idx / "
                   f"{float(1 << (lon_bits - 1 - j))!r}) AS BIGINT) % 2)")
        else:
            j = (k - 1) // 2
            bit = (f"(CAST(FLOOR(lat_idx / "
                   f"{float(1 << (lat_bits - 1 - j))!r}) AS BIGINT) % 2)")
        terms.append(f"{bit} * {1 << (total - 1 - k)}")
    cell = " + ".join(terms)
    chars = " || ".join(
        f"SUBSTR('{_GEOHASH32}', CAST(CAST(FLOOR(cell / "
        f"{float(1 << (5 * (precision - 1 - i)))!r}) AS BIGINT) % 32 "
        f"AS INTEGER) + 1, 1)"
        for i in range(int(precision)))
    return (f"(SELECT {chars} FROM (SELECT {cell} AS cell FROM "
            f"(SELECT {lat_idx} AS lat_idx, {lon_idx} AS lon_idx)))")


def es_geohash_grid(df: DataFrame, field: str, precision: int,
                    size: int = 10) -> DataFrame:
    """ES ``geohash_grid`` aggregation: buckets keyed by the base32
    geohash cell at ``precision`` - geotile_grid's older sibling,
    still the default on many map dashboards. One projection (the
    arithmetic above, whole-stage codegen) + one hash aggregate +
    the terms-style TakeOrdered page."""
    key = geohash_column(F.col(f"{field}.lat"), F.col(f"{field}.lon"),
                         precision).alias("key")
    return (df.groupBy(key).agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(int(size)))


def es_bucket_correlation(buckets: DataFrame, metric: str,
                          indicator: list[float]) -> DataFrame:
    """ES ``bucket_correlation`` (count_correlation function): the
    Pearson correlation between a sibling metric across the bucket
    series (in key order) and a caller-provided indicator vector -
    the 'does this series track my expectation' number the ML module
    bolts onto dashboards. The bucket table is bucket-count-sized, so
    the single-row fold is trivially bounded; arithmetic is the
    textbook five-sum Pearson with one IEEE sqrt, identical textual
    order in the oracle. Indicator length must equal the bucket
    count (ES's own validation)."""
    from pyspark.sql import Window

    n = len(indicator)
    w = Window.orderBy("key")
    ind = F.element_at(
        F.array(*[F.lit(float(v)) for v in indicator]),
        F.row_number().over(w))
    pairs = buckets.select(F.col(metric).cast("double").alias("x"),
                           ind.alias("y"))
    folded = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    nn = F.col("n").cast("double")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((nn * F.col("sxx") - F.col("sx") * F.col("sx"))
                 * (nn * F.col("syy") - F.col("sy") * F.col("sy")))
    out = folded.select(
        F.col("n").alias("n_buckets"),
        F.round(num / den, 6).alias("correlation"))
    return out.filter(F.col("n_buckets") == F.lit(n))


def es_random_sampler(df: DataFrame, hash_field: str, probability: float,
                      metrics: dict) -> DataFrame:
    """ES ``random_sampler`` (8.2+): metrics over a random subset of
    the documents, with doc_count scaled back by 1/probability - the
    constant-cost dashboard trick for huge indices. ES hashes doc ids
    with a seed; the deterministic twin selects keys whose 31-bit LCG
    mix (DETERMINISM.md section 12 - no runtime randomness, identical
    on any engine with 64-bit integer arithmetic) falls below
    probability * 2^31. Metrics: {name: (kind, field)} with
    sum/avg/min/max (sums decimal-exact); doc_count is the RAW sample
    count, doc_count_est the 1/p-scaled estimate ES reports."""
    from cassandra_elasticsearch_sync_spark.parity import davg, dsum

    if not (0.0 < probability <= 1.0):
        raise ValueError("probability must be in (0, 1]")
    k = F.col(hash_field).cast("long") % F.lit(2 ** 31)
    mixed = (k * 1103515245 + 12345) % F.lit(2 ** 31)
    sampled = df.filter(mixed < F.lit(int(probability * (2 ** 31))))
    aggs = [F.count("*").alias("doc_count")]
    for name, (kind, field) in metrics.items():
        if kind == "sum":
            aggs.append(dsum(F.col(field)).alias(name))
        elif kind == "avg":
            aggs.append(F.round(davg(F.col(field)), 6).alias(name))
        elif kind == "min":
            aggs.append(F.min(field).alias(name))
        elif kind == "max":
            aggs.append(F.max(field).alias(name))
        else:
            raise ValueError(f"unsupported random_sampler metric {kind!r}")
    out = sampled.agg(*aggs)
    return out.withColumn(
        "doc_count_est",
        F.round(F.col("doc_count") / F.lit(float(probability)), 6))


@register("a3cl_es_geohash_grid", "A3+D1+H7", """
WITH geo AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 1200000) / 10000.0 - 60.0 AS lat,
         (c_custkey * 104729 % 3600000) / 10000.0 - 180.0 AS lon
  FROM customer
)
SELECT """ + geohash_sql("lat", "lon", 3) + """ AS key,
       COUNT(*) AS doc_count
FROM geo
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 10
""", "ES geohash_grid aggregation at precision 3: buckets keyed by "
     "the base32 geohash cell - geotile_grid's older sibling, the "
     "default grid on many map dashboards. The hash builds as PURE "
     "integer arithmetic (floor-divide/mod bit extraction, bit "
     "interleaving lon-first, base32 chars via element_at - no "
     "bitwise builtins, no UDF, whole-stage codegen), and the DuckDB "
     "oracle is GENERATED from the same constants, so the geohash is "
     "bit-identical cross-engine. One projection + one hash "
     "aggregate + the terms-style TakeOrdered page.")
def a3cl_es_geohash_grid(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    return es_geohash_grid(g, "location", precision=3, size=10)


@register("a3cm_es_bucket_correlation", "A3+D5", """
WITH buckets AS (
  SELECT STRFTIME(o_orderdate, '%Y') AS key,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT revenue AS x,
         CAST(ROW_NUMBER() OVER (ORDER BY key) AS DOUBLE) AS y
  FROM buckets
),
folded AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs
)
SELECT n AS n_buckets,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS correlation
FROM folded
""", "ES bucket_correlation (the ML module's count_correlation "
     "sibling pipeline agg): Pearson r between yearly revenue "
     "buckets and a monotone indicator - 'is this series trending "
     "with my expectation'. The indicator here is the rank sequence "
     "1..n (the trend test), its array literal indexed by bucket "
     "rank. Bucket-count-sized input, the textbook five-sum Pearson "
     "in identical textual order both engines, one IEEE sqrt - "
     "bit-identical. Indicator arity must equal the bucket count, "
     "ES's own validation (empty result otherwise, tested).")
def a3cm_es_bucket_correlation(spark, sf_dir):
    from cassandra_elasticsearch_sync_spark.parity import dsum

    o = load_table(spark, sf_dir, "orders")
    buckets = (o.groupBy(F.date_format("o_orderdate", "yyyy").alias("key"))
               .agg(dsum("o_totalprice", 2).alias("revenue")))
    n = buckets.count()
    return es_bucket_correlation(buckets, "revenue",
                                 [float(i + 1) for i in range(n)])


@register("a3cn_es_random_sampler", "A3+K1", """
WITH sampled AS (
  SELECT * FROM customer
  WHERE ((c_custkey % 2147483648) * 1103515245 + 12345) % 2147483648
        < CAST(0.25 * 2147483648 AS BIGINT)
)
SELECT COUNT(*) AS doc_count,
       ROUND(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10)))
                       AS DECIMAL(38,4)) AS DOUBLE)
             / COUNT(c_acctbal), 6) AS bal_avg,
       MAX(c_acctbal) AS bal_max,
       ROUND(COUNT(*) / 0.25, 6) AS doc_count_est
FROM sampled
""", "ES random_sampler (8.2+): metrics over a ~25% document sample "
     "with doc_count scaled back by 1/p - the constant-cost trick "
     "behind 'instant' dashboards on huge indices. ES hashes doc ids "
     "with a seed; the deterministic twin selects keys whose 31-bit "
     "LCG mix falls below p * 2^31 (DETERMINISM section 12 - "
     "replayable on any engine, no rand()), so the sample - and "
     "therefore every metric - is exactly reproducible and "
     "oracle-hashable, which ES's own seed cannot promise across "
     "versions. The scan does ONE arithmetic filter; metrics "
     "decimal-exact.")
def a3cn_es_random_sampler(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return es_random_sampler(
        c, "c_custkey", probability=0.25,
        metrics={"bal_avg": ("avg", "c_acctbal"),
                 "bal_max": ("max", "c_acctbal")}) \
        .select("doc_count", "bal_avg", "bal_max", "doc_count_est")


@register("a3co_es_has_parent_inner_hits", "A3+C1", """
SELECT l.l_orderkey, l.l_linenumber,
       CAST(o.o_orderkey AS VARCHAR) || ':' || o.o_orderpriority
         AS parent
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 400000
""", "ES has_parent WITH inner_hits: each child hit carries THE "
     "matched parent document as a 1-element hits array (keys are "
     "unique, so unlike has_child there is no cap/sort dimension - "
     "passing sort/size raises instead of being ignored). The parent "
     "side joins as exactly (key, hit-struct) - two columns at any "
     "parent width; the 1-element hits array flattens to its single "
     "string (driver-canonicalizable - pandas can't hash list "
     "cells). Completes the inner_hits family: has_child (a3bu), "
     "nested (a3bz), has_parent (this).")
def a3co_es_has_parent_inner_hits(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    out = es_has_parent(
        li, o, parent_key="o_orderkey", child_key="l_orderkey",
        parent_query={"bool": {"filter": [
            {"term": {"o_orderpriority": "1-URGENT"}},
            {"range": {"o_totalprice": {"gt": 400000}}},
        ]}},
        inner_hits={"_source": ["o_orderkey", "o_orderpriority"]},
    )
    hit_str = F.transform(
        F.col("parent"),
        lambda s: F.concat_ws(":", s["o_orderkey"].cast("string"),
                              s["o_orderpriority"]))
    return out.select("l_orderkey", "l_linenumber",
                      F.array_join(hit_str, "|").alias("parent"))


def es_bucket_count_ks_test(buckets: DataFrame,
                            fractions: list[float]) -> DataFrame:
    """ES ``bucket_count_ks_test`` (two_sided): the Kolmogorov-Smirnov
    D statistic between the bucket doc_count distribution (in key
    order) and a caller-provided expected-fraction vector - 'does my
    traffic follow the forecast curve'. Exact arithmetic: empirical
    CDF = running decimal count / total, expected CDF = running sum
    of the literal fractions, D = max |difference| - two bounded
    windows over the bucket table (bucket-count-sized by
    construction) and one max. Fraction arity must equal the bucket
    count, ES's validation."""
    from pyspark.sql import Window

    n = len(fractions)
    w = Window.orderBy("key")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp_cdf = F.element_at(
        F.array(*[F.lit(float(sum(fractions[:i + 1])))
                  for i in range(n)]),
        F.row_number().over(w))
    emp = (F.sum(F.col("doc_count")).over(w_run).cast("double")
           / F.sum(F.col("doc_count")).over(
               Window.orderBy("key").rowsBetween(
                   Window.unboundedPreceding, Window.unboundedFollowing))
           .cast("double"))
    diffs = buckets.select(
        F.abs(emp - exp_cdf).alias("d"),
        F.count("*").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding,
            Window.unboundedFollowing)).alias("nb"))
    return (diffs.agg(F.max("nb").alias("n_buckets"),
                      F.round(F.max("d"), 6).alias("d_statistic"))
            .filter(F.col("n_buckets") == F.lit(n)))


@register("a3cp_es_collapse_inner_hits", "A3+E4", """
WITH hits AS (
  SELECT o_custkey AS key, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rn
  FROM orders WHERE o_orderstatus = 'O'
),
winners AS (
  SELECT key, o_orderkey, o_totalprice FROM hits WHERE rn = 1
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 12
),
grp AS (
  SELECT key,
         string_agg(CAST(o_orderkey AS VARCHAR) || ':'
                    || CAST(o_totalprice AS VARCHAR),
                    '|' ORDER BY rn) AS offers
  FROM hits WHERE rn <= 3 GROUP BY 1
)
SELECT w.key, w.o_orderkey, w.o_totalprice, g.offers
FROM winners w JOIN grp g ON w.key = g.key
ORDER BY w.o_totalprice DESC, w.o_orderkey ASC
""", "ES collapse WITH inner_hits - 'the best open order per "
     "customer, top-3 offers attached': the winner page collapses on "
     "the customer, and each winner carries its group's top "
     "documents by the inner sort as a sorted size-capped array. "
     "Both windows share the collapse key's hash partitioning (ONE "
     "exchange), the cap applies BEFORE collect_list, and the "
     "per-group hits join the 12-row winner page - broadcast-sized. "
     "The hits flatten to ONE '|'-joined string (driver-safe) "
     "whose ORDER-SENSITIVE join proves inner sort + cap.")
def a3cp_es_collapse_inner_hits(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = es_collapse(
        o.select(F.col("o_custkey").alias("key"), "o_orderkey",
                 "o_totalprice", "o_orderstatus"),
        {"term": {"o_orderstatus": "O"}},
        "key",
        [("o_totalprice", "desc"), ("o_orderkey", "asc")],
        12,
        inner_hits={"size": 3,
                    "sort": [("o_totalprice", "desc"),
                             ("o_orderkey", "asc")],
                    "_source": ["o_orderkey", "o_totalprice"],
                    "name": "offers"})
    hit_str = F.transform(
        F.col("offers"),
        lambda s: F.concat_ws(":", s["o_orderkey"].cast("string"),
                              s["o_totalprice"].cast("string")))
    return out.select("key", "o_orderkey", "o_totalprice",
                      F.array_join(hit_str, "|").alias("offers"))


_KS_FRACTIONS = [0.07, 0.15, 0.15, 0.15, 0.15, 0.18, 0.15]
# the expected-CDF literals are rendered from the SAME Python prefix
# sums the Spark side compiles (repr round-trips doubles exactly), so
# a 1-ulp float-summation divergence between hand-written SQL
# literals and Python accumulation cannot shift the max
_KS_VALUES = ", ".join(
    f"({i + 1}, {sum(_KS_FRACTIONS[:i + 1])!r})"
    for i in range(len(_KS_FRACTIONS)))


@register("a3cq_es_bucket_count_ks_test", "A3+D5", """
WITH buckets AS (
  SELECT STRFTIME(o_orderdate, '%Y') AS key, COUNT(*) AS doc_count
  FROM orders GROUP BY 1
),
cdf AS (
  SELECT key,
         SUM(doc_count) OVER (ORDER BY key) /
           CAST(SUM(doc_count) OVER () AS DOUBLE) AS emp,
         ROW_NUMBER() OVER (ORDER BY key) AS rn,
         COUNT(*) OVER () AS nb
  FROM buckets
),
frac AS (
  SELECT rn, frac FROM (VALUES """ + _KS_VALUES + """) AS t(rn, frac)
)
SELECT MAX(nb) AS n_buckets,
       ROUND(MAX(ABS(emp - frac)), 6) AS d_statistic
FROM cdf JOIN frac USING (rn)
HAVING MAX(nb) = """ + str(len(_KS_FRACTIONS)) + """
""", "ES bucket_count_ks_test (two_sided): the Kolmogorov-Smirnov D "
     "between yearly order counts and an expected fraction curve - "
     "'does traffic follow the forecast'. Exact arithmetic: "
     "empirical CDF as a running count ratio, expected CDF as "
     "prefix-summed literals, D = max |difference| - two windows "
     "over the BUCKET table (bucket-count-sized by construction, "
     "the documented bounded-window class) and one max. Fraction "
     "arity must equal the bucket count, ES's validation (empty "
     "result otherwise, tested).")
def a3cq_es_bucket_count_ks_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    buckets = (o.groupBy(F.date_format("o_orderdate", "yyyy")
                         .alias("key"))
               .agg(F.count("*").alias("doc_count")))
    return es_bucket_count_ks_test(buckets, _KS_FRACTIONS)


@register("a3cr_es_terms_missing_param", "A3+D1+B6", """
WITH j AS (
  SELECT c.c_custkey,
         COALESCE(s.seg, '(none)') AS seg
  FROM customer c
  LEFT JOIN (SELECT DISTINCT o_custkey,
                    CASE WHEN o_totalprice >= 200000 THEN 'big'
                         ELSE 'small' END AS seg
             FROM orders
             WHERE o_orderstatus = 'F') s
    ON c.c_custkey = s.o_custkey
),
d AS (SELECT c_custkey, MIN(seg) AS seg FROM j GROUP BY 1)
SELECT seg AS key, COUNT(*) AS doc_count
FROM d
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 5
""", "ES terms aggregation with the `missing` parameter: documents "
     "WITHOUT a field value land in an explicit '(none)' bucket "
     "instead of silently vanishing - the facet-completeness option "
     "every UI with an 'unknown' slice uses. One coalesce folds the "
     "null bucket into the same single hash aggregate; min_doc_count "
     "composes as a post-aggregate filter. The nullable field here "
     "is a left-joined order segment (customers with no finished "
     "orders read NULL).")
def a3cr_es_terms_missing_param(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    seg = (es_search(o, {"term": {"o_orderstatus": "F"}})
           .select("o_custkey",
                   F.when(F.col("o_totalprice") >= 200000, "big")
                   .otherwise("small").alias("seg"))
           .distinct())
    j = (c.join(seg, c.c_custkey == seg.o_custkey, "left")
         .groupBy("c_custkey").agg(F.min("seg").alias("seg")))
    return es_aggregate(j, {
        "segments": {"terms": {"field": "seg", "size": 5,
                               "missing": "(none)"}}})


# ---------------------------------------------------------------------------
# Round 9 wave six: pinned query / wrapper query / percentiles_bucket
# ---------------------------------------------------------------------------

def es_pinned_search(df: DataFrame, id_col: str, ids: list,
                     organic: dict, sort: list[tuple[str, str]],
                     size: int = 10) -> DataFrame:
    """ES ``pinned`` query: the listed documents rank FIRST, in the
    order given, above the organic results - the promoted-results
    query behind every commerce search page. A pinned doc surfaces
    even if the organic query would not match it (ES's semantics);
    organic hits follow by the caller's sort (total order required,
    the usual tiebreak contract). Compiles to ONE scan: match =
    organic OR id-in-pins, rank = array_position over the literal id
    list (0 -> +inf so organic sorts after every pin), then a single
    TakeOrderedAndProject - no union, no second pass."""
    if not ids:
        raise ValueError("pinned needs at least one id")
    pos = F.array_position(
        F.array(*[F.lit(v) for v in ids]), F.col(id_col))
    pin_rank = F.when(pos > 0, pos).otherwise(F.lit(len(ids) + 1))
    order = [(F.col(c).desc() if d == "desc" else F.col(c).asc())
             for c, d in sort]
    organic_pred = compile_query(organic)
    return (df.filter(organic_pred | (pos > 0))
            .withColumn("_pin_rank", pin_rank)
            .orderBy(F.col("_pin_rank").asc(), *order)
            .limit(int(size))
            .drop("_pin_rank"))


def es_percentiles_bucket(buckets: DataFrame, metric: str,
                          percents: list[float]) -> DataFrame:
    """ES ``percentiles_bucket`` sibling pipeline agg: exact
    percentiles OF a sibling metric across the bucket series - 'the
    p90 monthly revenue'. One single-row aggregate over the
    bucket-count-sized table; exact interpolation (both engines
    interpolate the middle pair identically on exact doubles), the
    same D6 discipline as boxplot."""
    aggs = []
    for p in percents:
        tag = f"p{int(p)}" if float(p).is_integer() else f"p{p}"
        aggs.append(F.round(
            F.percentile(F.col(metric).cast("double"),
                         F.lit(float(p) / 100.0)), 6).alias(tag))
    return buckets.agg(F.count("*").alias("n_buckets"), *aggs)


@register("a3cs_es_pinned", "A3+F3", """
WITH pins AS (
  SELECT CAST(k AS BIGINT) AS o_orderkey, pin
  FROM (VALUES (7, 1), (12098, 2), (4, 3)) AS t(k, pin)
),
hits AS (
  SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
         COALESCE(p.pin, 4) AS pin
  FROM orders o LEFT JOIN pins p ON o.o_orderkey = p.o_orderkey
  WHERE (o.o_orderstatus = 'F' AND o.o_totalprice > 350000)
     OR p.pin IS NOT NULL
)
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM hits
ORDER BY pin ASC, o_totalprice DESC, o_orderkey ASC
LIMIT 10
""", "ES pinned query - promoted results: orders 7, 12098, 4 rank "
     "first IN THAT ORDER (pinned docs surface even when the organic "
     "query would exclude them - ES's semantics, reproduced), then "
     "the organic high-value finished orders by price. Compiles to "
     "ONE scan (organic OR id-in-pins), rank via array_position "
     "over the literal id list, a single TakeOrderedAndProject - no "
     "union, no second pass; the id list is compile-time bounded so "
     "the filter pushes like any IN.")
def a3cs_es_pinned(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_pinned_search(
        o, "o_orderkey", [7, 12098, 4],
        {"bool": {"filter": [
            {"term": {"o_orderstatus": "F"}},
            {"range": {"o_totalprice": {"gt": 350000}}},
        ]}},
        sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        size=10,
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


@register("a3ct_es_wrapper", "A3+B3", """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 400000
""", "ES wrapper query: the same bool/term/range body, base64-"
     "encoded the way clients embed queries where raw JSON cannot "
     "travel (URL params, YAML configs, X-Pack watches). Decoded "
     "ONCE at compile time and recursed through the normal "
     "compiler - zero runtime cost, and the wrapped range still "
     "lands as a parquet PushedFilter exactly as if sent unwrapped.")
def a3ct_es_wrapper(spark, sf_dir):
    import base64
    import json as _json

    o = load_table(spark, sf_dir, "orders")
    inner = {"bool": {"filter": [
        {"term": {"o_orderstatus": "F"}},
        {"range": {"o_totalprice": {"gte": 400000}}},
    ]}}
    encoded = base64.b64encode(_json.dumps(inner).encode()).decode()
    return es_search(o, {"wrapper": {"query": encoded}}).select(
        "o_orderkey", "o_orderpriority", "o_totalprice")


@register("a3cu_es_percentiles_bucket", "A3+D6", """
WITH buckets AS (
  SELECT STRFTIME(o_orderdate, '%Y-%m') AS key,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT COUNT(*) AS n_buckets,
       ROUND(QUANTILE_CONT(revenue, 0.25), 6) AS p25,
       ROUND(QUANTILE_CONT(revenue, 0.5), 6) AS p50,
       ROUND(QUANTILE_CONT(revenue, 0.9), 6) AS p90
FROM buckets
""", "ES percentiles_bucket sibling pipeline agg: the p25/p50/p90 of "
     "MONTHLY REVENUE across the bucket series - 'what does a "
     "typical month look like', the sibling family's distribution "
     "member (a3ao covers min/max/avg/sum). One single-row aggregate "
     "over the bucket-count-sized table; exact interpolation on "
     "decimal-exact bucket sums, both engines interpolating the "
     "middle pair identically.")
def a3cu_es_percentiles_bucket(spark, sf_dir):
    from cassandra_elasticsearch_sync_spark.parity import dsum

    o = load_table(spark, sf_dir, "orders")
    buckets = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                         .alias("key"))
               .agg(dsum("o_totalprice", 2).alias("revenue")))
    return es_percentiles_bucket(buckets, "revenue", [25.0, 50.0, 90.0])


# ---------------------------------------------------------------------------
# Round 9 wave seven: filtered aliases / _msearch
# ---------------------------------------------------------------------------

_ALIASES: dict[str, tuple] = {}


def es_put_alias(name: str, load, filter_query: dict | None = None,
                 routing=None) -> None:
    """ES filtered alias: a named view = (index, optional filter) -
    the multi-tenant / soft-partition idiom (one physical index, one
    alias per tenant with a term filter). ``load`` is a callable
    (spark, sf_dir) -> DataFrame (the index side); the filter
    compiles lazily per search so pushdown composes with the query.
    ``routing`` is accepted and IGNORED with a loud error - routing
    changes shard targeting, which has no analogue here; silently
    accepting it would misrepresent a performance contract."""
    if routing is not None:
        raise ValueError("alias routing is a shard-targeting hint with "
                         "no analogue in this engine; remove it")
    _ALIASES[name] = (load, filter_query)


def es_search_alias(spark, sf_dir: str, alias: str, query: dict,
                    now=None) -> DataFrame:
    """Search THROUGH an alias: the alias filter ANDs with the query
    (ES's semantics - the filter is invisible to the caller), both
    compiled into one scan predicate so pushdown sees the
    conjunction."""
    if alias not in _ALIASES:
        raise ValueError(f"unknown alias {alias!r}")
    load, fq = _ALIASES[alias]
    df = load(spark, sf_dir)
    if fq is not None:
        query = {"bool": {"filter": [fq, query]}}
    return es_search(df, query, now=now)


def es_msearch(df: DataFrame, searches: dict[str, dict]) -> DataFrame:
    """ES ``_msearch``: several queries in ONE request - the
    dashboard pattern (every panel's query batched into one round
    trip). Compiles to ONE scan: an array of when(pred, query_id)
    literals compacted and exploded (the percolate shape), so a
    document matching k of the n queries emits k (query_id, doc)
    rows and the corpus is read once, not n times."""
    if not searches:
        raise ValueError("_msearch needs at least one search")
    tags = F.array_compact(F.array(*[
        F.when(compile_query(q), F.lit(qid))
        for qid, q in searches.items()
    ]))
    return (df.withColumn("query_id", F.explode(tags)))


@register("a3cv_es_filtered_alias", "A3+B2", """
SELECT doc_id, source, n_chars
FROM documents
WHERE lang = 'de'
  AND contains(' ' || lower(text) || ' ', ' merge ')
""", "ES filtered alias - the multi-tenant idiom: alias 'docs_de' = "
     "documents + {term: {lang: de}}, searched with a match query "
     "the caller writes WITHOUT knowing the filter exists. The alias "
     "filter ANDs into the same compiled predicate, so the scan "
     "applies the conjunction in one pass and pushdown sees both "
     "sides. Alias routing (a shard-targeting hint with no analogue "
     "here) is rejected loudly, not silently dropped.")
def a3cv_es_filtered_alias(spark, sf_dir):
    es_put_alias("docs_de",
                 lambda s, d: load_table(s, d, "documents"),
                 {"term": {"lang": "de"}})
    return es_search_alias(
        spark, sf_dir, "docs_de", {"match_phrase": {"text": "merge"}}
    ).select("doc_id", "source", "n_chars")


@register("a3cw_es_msearch", "A3+B3", """
SELECT q.query_id, o.o_orderkey, o.o_totalprice
FROM orders o
JOIN (VALUES ('urgent_big'), ('low_small'), ('open_any')) AS q(query_id)
  ON (q.query_id = 'urgent_big' AND o.o_orderpriority = '1-URGENT'
      AND o.o_totalprice > 300000)
  OR (q.query_id = 'low_small' AND o.o_orderpriority = '5-LOW'
      AND o.o_totalprice < 5000)
  OR (q.query_id = 'open_any' AND o.o_orderstatus = 'O'
      AND o.o_totalprice > 450000)
""", "ES _msearch: three dashboard-panel queries batched into ONE "
     "request - and ONE scan: an array of when(pred, query_id) "
     "literals compacted and exploded (the percolate shape), so a "
     "document matching k panels emits k rows and the corpus is "
     "read once, not three times. The oracle restates it as a "
     "VALUES join; at 100 TB the single-scan shape is the entire "
     "point of _msearch.")
def a3cw_es_msearch(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_msearch(o, {
        "urgent_big": {"bool": {"filter": [
            {"term": {"o_orderpriority": "1-URGENT"}},
            {"range": {"o_totalprice": {"gt": 300000}}}]}},
        "low_small": {"bool": {"filter": [
            {"term": {"o_orderpriority": "5-LOW"}},
            {"range": {"o_totalprice": {"lt": 5000}}}]}},
        "open_any": {"bool": {"filter": [
            {"term": {"o_orderstatus": "O"}},
            {"range": {"o_totalprice": {"gt": 450000}}}]}},
    }).select("query_id", "o_orderkey", "o_totalprice")


def _parse_fixed_interval_s(s: str) -> int:
    """ES fixed_interval string -> whole seconds ('90s', '30m', '2h',
    '7d'; ms rejected - sub-second buckets are not representable in
    the second-granularity key rendering, fail loudly)."""
    import re as _re

    m = _re.fullmatch(r"(\d+)(s|m|h|d)", str(s).strip())
    if not m:
        raise ValueError(f"unsupported fixed_interval {s!r} "
                         "(Ns/Nm/Nh/Nd)")
    n, unit = int(m.group(1)), m.group(2)
    return n * {"s": 1, "m": 60, "h": 3600, "d": 86400}[unit]


@register("a3cx_es_fixed_interval_histogram", "A3+H2", """
SELECT STRFTIME(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 1800) * 1800),
                '%Y-%m-%d %H:%M:%S') AS key,
       COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'click'
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 12
""", "ES date_histogram with fixed_interval=30m - the half-hour "
     "traffic chart, the OTHER date_histogram mode (calendar "
     "intervals vary in length; fixed buckets are epoch-floored "
     "multiples). Bucket key = floor(epoch / 1800) * 1800 rendered "
     "as the bucket-start timestamp - exact integer arithmetic on "
     "the session-UTC clock, identical on both engines; value sums "
     "at cent precision per the events-value discipline. One hash "
     "aggregate + the terms-style TakeOrdered page.")
def a3cx_es_fixed_interval_histogram(spark, sf_dir):
    e = es_search(load_table(spark, sf_dir, "events"),
                  {"term": {"event_type": "click"}})
    # cents-exact value sum attached through the compiler's value_count
    # slot is not a registered metric kind; the histogram runs as one
    # groupBy with BOTH aggregates - the same single-scan plan
    # es_aggregate emits for its native metrics
    secs = _parse_fixed_interval_s("30m")
    key = F.from_unixtime(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp"))
                / F.lit(secs)) * F.lit(secs)).alias("key")
    return (e.groupBy(key)
            .agg(F.count("*").alias("doc_count"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("decimal(38,2)").cast("double")
                 .alias("total_value"))
            .orderBy(F.desc("doc_count"), F.asc("key")).limit(12))


@register("a3cy_es_calendar_week_histogram", "A3+H2", """
SELECT STRFTIME(DATE_TRUNC('week', o_orderdate), '%Y-%m-%d') AS key,
       COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                 AS DECIMAL(38,2)) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 10
""", "ES date_histogram with calendar_interval='week': weekly "
     "revenue keyed by the Monday week start (ES's default week "
     "start; date_trunc agrees on both engines) - the weekly chart "
     "calendar months cannot express. Decimal-exact revenue; one "
     "hash aggregate + TakeOrdered page.")
def a3cy_es_calendar_week_histogram(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    out = es_aggregate(o, {
        "per_week": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "week"},
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}},
        }
    })
    return (out.orderBy(F.desc("doc_count"), F.asc("key")).limit(10))


# ---------------------------------------------------------------------------
# Round 10 wave one: the nested/histogram/pipeline-agg tail the r9
# verdict named - reverse_nested, variable_width_histogram,
# cumulative_cardinality, normalize, point_in_time
# ---------------------------------------------------------------------------


def es_reverse_nested_terms(parent_df: DataFrame, child_df: DataFrame, *,
                            parent_key: str, child_key: str,
                            term_field: str, child_query: dict | None = None,
                            parent_metric_field: str | None = None,
                            size: int = 10) -> DataFrame:
    """ES ``reverse_nested`` aggregation: bucket by a NESTED (child)
    field, then step back to PARENT scope inside each bucket - 'for
    each item category, how many ORDERS carry one, and what do those
    orders average'. The member of the nested-agg family a user with
    nested mappings hits as soon as they bucket parents by child
    terms (nested query/inner_hits and the nested agg itself landed
    in r9; this completes the family).

    Per child-term bucket ES reports doc_count = the number of NESTED
    docs, while the reverse_nested sub-agg reports doc_count = the
    number of PARENT docs (a parent with five matching items counts
    five times in the former, once in the latter) and computes its
    sub-metrics over those DISTINCT parents.

    Compilation, scale-first (the has_child grouped-partial pattern):
    ONE grouped aggregate over (term, parent_key) reduces the child
    scan map-side to at most |terms| x |parents| rows BEFORE anything
    joins; the parent relation then joins co-keyed on its OWN key
    (AQE-broadcastable when the matched set is small, co-partitioned
    shuffle otherwise - never widened, never a cross product); the
    final per-term fold is bucket-count-sized. Parent metrics sum
    decimal-exact and emit double per the parity discipline.
    """
    matching = child_df
    if child_query is not None:
        matching = matching.filter(compile_query(child_query))
    per_pair = (matching
                .groupBy(F.col(term_field).alias("key"),
                         F.col(child_key).alias(parent_key))
                .agg(F.count("*").alias("__n_nested")))
    aggs = [
        F.sum("__n_nested").cast("bigint").alias("doc_count"),
        F.count("*").alias("parent_doc_count"),
    ]
    if parent_metric_field is not None:
        from cassandra_elasticsearch_sync_spark.parity import dsum
        aggs.append(
            F.round(dsum(F.col(parent_metric_field), 6) / F.count("*"), 6)
            .alias(f"avg_{parent_metric_field}"))
        parents = parent_df.select(parent_key, parent_metric_field)
    else:
        parents = parent_df.select(parent_key)
    return (per_pair.join(parents, parent_key, "inner")
            .groupBy("key").agg(*aggs)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(int(size)))


@register("a3cz_es_reverse_nested", "A3+D1+C1", """
WITH per_pair AS (
  SELECT l_returnflag AS key, l_orderkey, COUNT(*) AS n
  FROM lineitem
  WHERE l_quantity >= 30
  GROUP BY 1, 2
)
SELECT p.key,
       CAST(SUM(p.n) AS BIGINT) AS doc_count,
       COUNT(*) AS parent_doc_count,
       ROUND(CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,10)))
                       AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*), 6)
         AS avg_o_totalprice
FROM per_pair p JOIN orders o ON p.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 10
""", "ES reverse_nested: items with quantity >= 30 bucketed by "
     "return flag, each bucket stepping BACK to parent scope - the "
     "nested doc_count counts items, the reverse_nested doc_count "
     "counts DISTINCT orders, and the order-level average totalprice "
     "runs over those distinct parents only (an order with five "
     "heavy items weighs once). One (term, parent) grouped partial "
     "reduces the item scan before the parent join; decimal-exact "
     "average emitted as double. Completes the nested family begun "
     "by a3ab/a3bz/a3h.")
def a3cz_es_reverse_nested(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return es_reverse_nested_terms(
        o, li, parent_key="o_orderkey", child_key="l_orderkey",
        term_field="l_returnflag",
        child_query={"range": {"l_quantity": {"gte": 30}}},
        parent_metric_field="o_totalprice", size=10)


def es_variable_width_histogram(df: DataFrame, field: str, *,
                                buckets: int,
                                tiebreak: str) -> DataFrame:
    """ES ``variable_width_histogram``: 1-D clustering of a numeric
    field into ``buckets`` dynamically-placed buckets (dense regions
    get narrow buckets) - the last histogram-family member.

    DOCUMENTED DIVERGENCE (the BM25/random_sampler discipline): real
    ES runs an approximate, shard-order-dependent online clustering
    whose exact bucket boundaries are NOT reproducible even between
    two ES runs. This compiler pins the DETERMINISTIC equal-frequency
    reference instead: rank every value by (value, tiebreak) - the
    caller must name a unique tiebreak column, the house total-order
    rule - and seed bucket i = floor((rank-1) * buckets / n), then
    report ES's response fields per bucket: key (the centroid,
    decimal-exact mean emitted as double), min, max, doc_count.
    Deterministic, oracle-generable, and the buckets land exactly
    where the data is dense - the semantic the ES agg exists for.

    Scale shape: the rank comes from the two-pass global-order
    primitive (range-partitioned pass + per-partition offsets), NEVER
    a single-partition window; the final fold is one hash aggregate
    on the bucket index. At 100 TB this is two scans and one
    bucket-count-sized result.
    """
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )
    from cassandra_elasticsearch_sync_spark.parity import dsum

    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    ranked, totals = with_global_order(
        df.select(F.col(field).alias("v"), F.col(tiebreak)),
        [F.col("v"), F.col(tiebreak)], rank_col="__rk")
    n = totals["n_rows"]
    bucket = (F.floor((F.col("__rk") - 1) * int(buckets) / F.lit(float(n)))
              .cast("int").alias("bucket"))
    return (ranked.select(bucket, "v")
            .groupBy("bucket")
            .agg(F.count("*").alias("doc_count"),
                 F.round(dsum(F.col("v"), 6) / F.count("*"), 6).alias("key"),
                 F.min("v").cast("double").alias("min_value"),
                 F.max("v").cast("double").alias("max_value"))
            .orderBy("bucket"))


@register("a3da_es_variable_width_histogram", "A3+D6", """
WITH r AS (
  SELECT c_acctbal AS v,
         ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rk,
         COUNT(*) OVER () AS n
  FROM customer
),
b AS (
  SELECT v, CAST(FLOOR((rk - 1) * 8 / CAST(n AS DOUBLE)) AS INT) AS bucket
  FROM r
)
SELECT bucket, COUNT(*) AS doc_count,
       ROUND(CAST(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DECIMAL(38,6))
                  AS DOUBLE) / COUNT(*), 6) AS key,
       CAST(MIN(v) AS DOUBLE) AS min_value,
       CAST(MAX(v) AS DOUBLE) AS max_value
FROM b GROUP BY 1 ORDER BY bucket
""", "ES variable_width_histogram over account balances, 8 buckets: "
     "the dynamically-placed histogram whose buckets narrow where "
     "the data is dense. Real ES's online clustering is shard-order-"
     "dependent (not reproducible run-to-run); this pins the "
     "deterministic equal-frequency reference - rank by (value, "
     "custkey), bucket = floor((rank-1)*8/n) - reporting ES's "
     "response fields: centroid key (decimal-exact mean as double), "
     "min, max, doc_count. The rank is the scale-safe two-pass "
     "global-order primitive, never a single-partition window; the "
     "oracle window is DuckDB-local shorthand for the same total "
     "order.")
def a3da_es_variable_width_histogram(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return es_variable_width_histogram(
        c, "c_acctbal", buckets=8, tiebreak="c_custkey")


@register("a3db_es_cumulative_cardinality", "A3+I1+D3", """
WITH e AS (
  SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS key, user_id
  FROM events
),
daily AS (
  SELECT key, COUNT(*) AS doc_count,
         COUNT(DISTINCT user_id) AS daily_users
  FROM e GROUP BY 1
),
firsts AS (SELECT user_id, MIN(key) AS key FROM e GROUP BY 1),
nu AS (SELECT key, COUNT(*) AS new_users FROM firsts GROUP BY 1)
SELECT d.key, d.doc_count, d.daily_users,
       CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY d.key)
            AS BIGINT) AS total_users
FROM daily d LEFT JOIN nu ON d.key = nu.key
ORDER BY d.key
""", "ES cumulative_cardinality pipeline agg: daily date_histogram "
     "with a cardinality(user_id) metric and the running 'total "
     "distinct users seen so far' - THE growth-accounting chart "
     "(new-vs-returning). ES approximates on merged HLL sketches; "
     "this is exact by the two-aggregate identity: cumulative "
     "cardinality at bucket b = count of users whose FIRST bucket is "
     "<= b, so one (day, user) distinct + one first-day-per-user "
     "aggregate feed a running sum over the BUCKET table (days - "
     "the documented bounded-window class). Map-side partials "
     "everywhere; no sketch, no window over raw events.")
def a3db_es_cumulative_cardinality(spark, sf_dir):
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("key"), "user_id")
    daily = e.groupBy("key").agg(
        F.count("*").alias("doc_count"),
        F.count_distinct("user_id").alias("daily_users"))
    firsts = e.groupBy("user_id").agg(F.min("key").alias("key"))
    nu = firsts.groupBy("key").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return (daily.join(nu, "key", "left")
            .fillna({"new_users": 0})
            .select("key", "doc_count", "daily_users",
                    F.sum("new_users").over(w).cast("bigint")
                    .alias("total_users"))
            .orderBy("key"))


@register("a3dc_es_normalize", "A3+D1", """
WITH b AS (
  SELECT o_orderpriority AS key, COUNT(*) AS doc_count,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT key, doc_count, revenue,
       ROUND(100.0 * revenue / SUM(revenue) OVER (), 6)
         AS revenue_pct,
       ROUND((revenue - MIN(revenue) OVER ())
             / (MAX(revenue) OVER () - MIN(revenue) OVER ()), 6)
         AS revenue_0_1
FROM b
ORDER BY key
""", "ES normalize pipeline agg, both headline methods on one bucket "
     "series: percent_of_sum (each priority's share of total revenue "
     "x100) and rescale_0_1 (min-max normalized) - the 'share of "
     "wallet' companion every terms chart grows. Revenue sums "
     "decimal-exact then emits double ONCE; both normalizations are "
     "pure double arithmetic over that shared value, so the engines "
     "agree bitwise. The windows run over the BUCKET table (5 rows "
     "by construction - the documented bounded-window class), never "
     "over raw orders.")
def a3dc_es_normalize(spark, sf_dir):
    from pyspark.sql import Window

    from cassandra_elasticsearch_sync_spark.parity import dsum

    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy(F.col("o_orderpriority").alias("key")).agg(
        F.count("*").alias("doc_count"),
        dsum(F.col("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    rev, mn, mx = F.col("revenue"), F.min("revenue").over(w), \
        F.max("revenue").over(w)
    return (b.select(
        "key", "doc_count", "revenue",
        F.round(F.lit(100.0) * rev / F.sum("revenue").over(w), 6)
        .alias("revenue_pct"),
        F.round((rev - mn) / (mx - mn), 6).alias("revenue_0_1"))
        .orderBy("key"))


def es_open_pit(table) -> int:
    """ES ``point_in_time`` open: pin a consistency snapshot and hand
    back its id. On the ACID store a PIT is EXACTLY a snapshot
    version - the manifest pointer the commit protocol already makes
    immutable - so 'open' is a version read, 'search with pit' is a
    time-travel read, and keep_alive never needs a server-side
    context (vacuum retention is the real-world analogue, documented
    on AcidParquetTable.vacuum)."""
    return table.current_version()


def es_pit_search_page(table, pit_id: int, query: dict,
                       sort: list[tuple[str, str]],
                       search_after: list | None = None,
                       size: int = 10) -> DataFrame:
    """One ``search_after`` page under an open PIT: the page reads the
    PINNED snapshot (table.read(version=pit_id)), so interleaved
    writes can neither shift rows between pages nor surface new ones
    mid-walk - ES's documented reason PIT exists. Page mechanics are
    es_search_page's strictly-after cursor + TakeOrderedAndProject."""
    return es_search_page(table.read(version=pit_id), query, sort,
                          search_after=search_after, size=size)


@register("a3dd_es_point_in_time", "A3+A7", """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 250000
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 384
""", "ES point_in_time pagination with DISCRIMINATING writes landing "
     "mid-walk: open a PIT over the ACID store, walk 6 search_after "
     "pages of 64, and - between pages 1 and 2 - a concurrent "
     "transaction inserts a row that would be page 2's FIRST row "
     "under live reads (cursor-price, larger key: strictly after the "
     "cursor) and deletes the live table's ACTUAL next unread row. "
     "Were the pages live reads, page 2 would gain the insert and "
     "lose the victim - the oracle hash would fail both ways; under "
     "the PIT (= pinned snapshot version; each page a time-travel "
     "read whose manifest never lists post-PIT files) the walk "
     "equals the pinned top-384 exactly. Stability is the commit "
     "protocol's immutability, not a server-side search context; the "
     "fixed page budget keeps the walk constant-cost at any corpus "
     "size (the full-corpus walk is the caller's loop, not the "
     "operator's).")
def a3dd_es_point_in_time(spark, sf_dir):
    import shutil
    import tempfile

    from cassandra_elasticsearch_sync_spark.sources.acid import (
        AcidParquetTable,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus")
    root = tempfile.mkdtemp(prefix="ces_a3dd_pit_")
    try:
        t = AcidParquetTable(spark, root)
        t.init(o)
        pit = es_open_pit(t)
        query = {"bool": {"filter": [
            {"term": {"o_orderstatus": "F"}},
            {"range": {"o_totalprice": {"gte": 250000}}},
        ]}}
        sort = [("o_totalprice", "desc"), ("o_orderkey", "asc")]
        pages, cursor = [], None
        for pageno in range(6):
            page = es_pit_search_page(t, pit, query, sort,
                                      search_after=cursor, size=64)
            rows = page.collect()
            if not rows:
                break
            pages.extend(rows)
            last = rows[-1]
            cursor = [last["o_totalprice"], last["o_orderkey"]]
            if pageno == 0:
                # the concurrent writer. Victim: the LIVE table's next
                # unread row (first row strictly after the cursor) -
                # a live page 2 would lose it; the PIT page must still
                # serve it. Insert: cursor-price with a larger-than-
                # corpus key - strictly after the cursor, so a live
                # page 2 would LEAD with it; the PIT must never see it.
                nxt = es_search_page(t.read(), query, sort,
                                     search_after=cursor, size=1).collect()
                if nxt:
                    t.delete_where(
                        F.col("o_orderkey") == F.lit(nxt[0]["o_orderkey"]))
                t.merge_into(
                    local_relation(
                        spark,
                        [(900000901, float(last["o_totalprice"]),
                          "1-URGENT", "F")],
                        "o_orderkey long, o_totalprice double, "
                        "o_orderpriority string, o_orderstatus string",
                    ).withColumn(
                        "o_totalprice",
                        F.col("o_totalprice").cast(
                            o.schema["o_totalprice"].dataType)),
                    ["o_orderkey"], assume_unique_keys=True)
        out = local_relation(
            spark, pages, es_pit_search_page(t, pit, query, sort).schema)
        return (out.select("o_orderkey", "o_totalprice", "o_orderpriority")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round 10 wave two: the remaining named search APIs a production ES
# client uses - terms_enum, field_caps, rank_eval
# ---------------------------------------------------------------------------


def es_terms_enum(df: DataFrame, field: str, *, string: str = "",
                  size: int = 10, case_insensitive: bool = False,
                  search_after: str | None = None) -> DataFrame:
    """ES ``_terms_enum``: the distinct index terms of a field that
    start with ``string``, ascending, capped at ``size`` - the API
    behind autocomplete pickers and index exploration. ES walks the
    term dictionary shard-locally and merges; the relational twin is
    a distinct + prefix filter + TakeOrdered page, with the same
    ``search_after`` cursor the hits API uses (terms strictly after
    the cursor term, for paging a long term list).

    Scale shape: the prefix filter pushes to the scan, distinct is a
    map-side-partial hash aggregate on the single term column, and
    the page is TakeOrderedAndProject - the term dictionary never
    materializes anywhere. ES's response is terms only (no counts) -
    so is this."""
    c = F.col(field)
    pred = F.lit(True)
    if string:
        pred = (F.lower(c).startswith(string.lower())
                if case_insensitive else c.startswith(string))
    if search_after is not None:
        pred = pred & (c > F.lit(search_after))
    return (df.filter(pred)
            .select(c.alias("term"))
            .distinct()
            .orderBy(F.asc("term"))
            .limit(int(size)))


@register("a3de_es_terms_enum", "A3+B5", """
SELECT DISTINCT p_name AS term
FROM part
WHERE p_name LIKE 'b%'
ORDER BY term ASC
LIMIT 6
""", "ES _terms_enum: the distinct part names starting 'b', "
     "ascending, capped at 6 (more exist - the cap is live) - the "
     "autocomplete/index-exploration API. Prefix filter pushed to "
     "the scan, map-side-partial distinct, TakeOrderedAndProject "
     "page; the term dictionary never materializes. search_after "
     "cursor paging and case_insensitive matching are hand-tested.")
def a3de_es_terms_enum(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return es_terms_enum(p, "p_name", string="b", size=6)


# Spark simpleString -> ES field_caps type, the type bridge a real
# field_caps response reports for a parquet-backed index. decimal maps
# to scaled_float (ES's fixed-scale numeric); both timestamp flavors
# map to date (ES dates are epoch-millis either way).
_SPARK_TO_ES_TYPE = {
    "string": "keyword", "bigint": "long", "int": "integer",
    "smallint": "short", "tinyint": "byte", "double": "double",
    "float": "float", "boolean": "boolean", "binary": "binary",
    "date": "date", "timestamp": "date", "timestamp_ntz": "date",
}

# the SAME bridge rendered as a DuckDB CASE over DESCRIBE output, so
# the oracle derives the expected caps from ITS OWN native schema of
# the same parquet - a genuine cross-engine check of the type bridge,
# generated from one constant table (the geo_shape/geohash discipline)
_DUCK_TO_ES_CASE = """CASE column_type
  WHEN 'VARCHAR' THEN 'keyword' WHEN 'BIGINT' THEN 'long'
  WHEN 'INTEGER' THEN 'integer' WHEN 'SMALLINT' THEN 'short'
  WHEN 'TINYINT' THEN 'byte' WHEN 'DOUBLE' THEN 'double'
  WHEN 'FLOAT' THEN 'float' WHEN 'BOOLEAN' THEN 'boolean'
  WHEN 'BLOB' THEN 'binary' WHEN 'DATE' THEN 'date'
  WHEN 'TIMESTAMP' THEN 'date'
  ELSE 'scaled_float' END"""


def es_field_caps(spark, tables: dict[str, DataFrame]) -> DataFrame:
    """ES ``_field_caps``: per-index field capabilities - the schema
    API every client library calls before building a query UI. Each
    (index, field) row reports the ES type via the pinned Spark->ES
    bridge plus searchable/aggregatable flags (keyword/numeric/date
    parquet columns are all both, exactly what a parquet-backed index
    would report; ES 'text' - the one unsearchable-for-aggs type -
    does not arise from a parquet schema).

    Pure metadata: the capabilities table is built from the ALREADY
    LOADED schemas (no data scan, no job until the result is read) as
    a createDataFrame of |indices| x |fields| rows - constant-size at
    any corpus size, the cheapest query in the registry."""
    rows = []
    for index in sorted(tables):
        for f in tables[index].schema.fields:
            s = f.dataType.simpleString()
            es_t = ("scaled_float" if s.startswith("decimal(")
                    else _SPARK_TO_ES_TYPE.get(s))
            if es_t is None:
                raise ValueError(f"field_caps has no ES mapping for "
                                 f"{index}.{f.name}: {s}")
            rows.append((index, f.name, es_t, True, True))
    return local_relation(
        spark, rows, "index string, field string, es_type string, "
                     "searchable boolean, aggregatable boolean")


@register("a3df_es_field_caps", "A3+B4", """
SELECT idx AS index, column_name AS field,
       """ + _DUCK_TO_ES_CASE + """ AS es_type,
       TRUE AS searchable, TRUE AS aggregatable
FROM (
  SELECT 'customer' AS idx, column_name, column_type
  FROM (DESCRIBE SELECT * FROM customer)
  UNION ALL
  SELECT 'events', column_name, column_type
  FROM (DESCRIBE SELECT * FROM events)
  UNION ALL
  SELECT 'orders', column_name, column_type
  FROM (DESCRIBE SELECT * FROM orders)
)
""", "ES _field_caps over three indices: every (index, field) with "
     "its ES type and searchable/aggregatable flags - the schema API "
     "client libraries call first. BOTH engines derive the answer "
     "from their OWN native read of the same parquet (Spark schema "
     "-> pinned Spark->ES bridge; DuckDB DESCRIBE -> the same bridge "
     "as a generated CASE), so the hash match proves the two type "
     "systems land on identical ES capabilities - the type bridge "
     "(B4) checked end-to-end. Pure metadata: constant rows, no "
     "corpus scan.")
def a3df_es_field_caps(spark, sf_dir):
    return es_field_caps(spark, {
        t: load_table(spark, sf_dir, t)
        for t in ("customer", "events", "orders")})


def es_rank_eval(df: DataFrame, *, requests: list[dict], k: int,
                 relevant: dict, sort: list[tuple[str, str]]) -> DataFrame:
    """ES ``_rank_eval``: grade a set of ranked queries against rated
    documents - precision@k, MRR (reciprocal rank of the first
    relevant hit), and DCG@k per request, the offline search-quality
    harness. Two adaptations keep it exact and SF-independent: the
    ranking is the caller's explicit total-order ``sort`` (ES's BM25
    ordering is not reproducible - the house function_score rule),
    and ratings come from a RATING PREDICATE (query DSL) rather than
    enumerated doc ids, which would pin one scale factor.

    Each request is {"id": str, "query": <DSL>}; ``relevant`` is the
    DSL predicate marking a hit as rated-relevant. Compilation: one
    scan stacks the per-request filters via explode (n requests, one
    pass), the per-request top-k is a rank window Spark lowers to
    WindowGroupLimit (per-partition partial top-k - no single
    partition sees a request's full corpus), and the metrics fold in
    one grouped aggregate: precision = relevant_retrieved/RETRIEVED
    (ES's own denominator - a request retrieving fewer than k hits
    divides by what it retrieved, not by k; ADVICE r10), MRR =
    1/min(rank of relevant) else 0, DCG = sum(rel / log2(rank+1)).
    A request whose query matches ZERO documents still emits a row
    with zero metrics, exactly as ES reports it - the request list
    left-joins the per-request aggregate (both sides are
    request-bounded, so the join is free at any corpus size)."""
    from pyspark.sql import Window

    rel = compile_query(relevant)
    # Request ids ride as STRINGS on both the tag column and the
    # padding frame below, whatever Python type the caller used -
    # otherwise a non-string id (int request numbering is common)
    # would hit createDataFrame('request string') with a type error
    # or a join-type mismatch (ADVICE r11).
    tagged = df.withColumn("__req", F.explode(F.array_compact(F.array(*[
        F.when(compile_query(r["query"]), F.lit(str(r["id"])))
        for r in requests]))))
    w = Window.partitionBy("__req").orderBy(*_sort_spec_columns(sort))
    topk = (tagged.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= int(k)))
    is_rel = F.when(rel, 1).otherwise(0)
    metrics = (topk.groupBy(F.col("__req").alias("request"))
               .agg(
                   F.round(F.sum(is_rel) / F.count(F.lit(1)), 6)
                   .alias(f"precision_at_{k}"),
                   F.round(F.coalesce(
                       F.lit(1.0) / F.min(F.when(rel, F.col("__rank"))),
                       F.lit(0.0)), 6).alias("mrr"),
                   F.round(F.sum(
                       is_rel.cast("double")
                       / F.log2(F.col("__rank") + F.lit(1.0))), 6)
                   .alias(f"dcg_at_{k}")))
    req = local_relation(
        df.sparkSession, [(str(r["id"]),) for r in requests],
        "request string")
    return (req.join(metrics, "request", "left")
            .select(
                "request",
                F.coalesce(F.col(f"precision_at_{k}"), F.lit(0.0))
                .alias(f"precision_at_{k}"),
                F.coalesce(F.col("mrr"), F.lit(0.0)).alias("mrr"),
                F.coalesce(F.col(f"dcg_at_{k}"), F.lit(0.0))
                .alias(f"dcg_at_{k}"))
            .orderBy("request"))


@register("a3dg_es_rank_eval", "A3+E4+D5", """
WITH reqs AS (SELECT UNNEST(['F', 'O', 'P', 'X']) AS request),
ranked AS (
  SELECT o_orderstatus AS request, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rnk
  FROM orders
),
m AS (
  SELECT request,
         ROUND(SUM(CASE WHEN o_orderpriority LIKE '1-%' THEN 1
                        ELSE 0 END) * 1.0 / COUNT(*), 6)
           AS precision_at_10,
         ROUND(COALESCE(1.0 / MIN(CASE WHEN o_orderpriority LIKE '1-%'
                                       THEN rnk END), 0.0), 6) AS mrr,
         ROUND(SUM(CASE WHEN o_orderpriority LIKE '1-%'
                        THEN 1.0 / LOG2(rnk + 1.0) ELSE 0.0 END), 6)
           AS dcg_at_10
  FROM ranked
  WHERE rnk <= 10
  GROUP BY request
)
SELECT r.request,
       COALESCE(m.precision_at_10, 0.0) AS precision_at_10,
       COALESCE(m.mrr, 0.0) AS mrr,
       COALESCE(m.dcg_at_10, 0.0) AS dcg_at_10
FROM reqs r LEFT JOIN m ON m.request = r.request
ORDER BY r.request
""", "ES _rank_eval: four ranked requests (one per order status plus "
     "the deliberately-empty status 'X', ranked by totalprice under "
     "the explicit total order) graded precision@10 / MRR / DCG@10 "
     "against the 'urgent priority' rating predicate - the offline "
     "search-quality harness. ES semantics exactly: precision "
     "divides by the RETRIEVED count (not k) and a zero-hit request "
     "still emits a zero-metric row (ADVICE r10 - both edges now "
     "exercised in-registry). One scan stacks the request filters, "
     "the per-request top-10 lowers to WindowGroupLimit partial "
     "top-k, metrics fold in one grouped aggregate, and the 4-row "
     "request list left-joins the 4-row aggregate (request-bounded, "
     "free at any scale). Ratings are a predicate, not doc-id "
     "literals, so the query is scale-factor-independent.")
def a3dg_es_rank_eval(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_rank_eval(
        o,
        requests=[
            {"id": s, "query": {"term": {"o_orderstatus": s}}}
            for s in ("F", "O", "P", "X")
        ],
        k=10,
        relevant={"prefix": {"o_orderpriority": "1-"}},
        sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")])


# ---------------------------------------------------------------------------
# Round 10 wave three: span containment pair - span_containing /
# span_within, the two remaining span-family members
# ---------------------------------------------------------------------------

_SPAN_POS_SQL = """
WITH pos AS (
  SELECT doc_id, w, ord
  FROM (SELECT doc_id,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(LOWER(text), ' ')) + 1))
                 AS ord
        FROM documents)
)"""


@register("a3dh_es_span_containing", "A3+K4", _SPAN_POS_SQL + """,
hits AS (
  SELECT DISTINCT m.doc_id
  FROM pos m JOIN pos j
    ON j.doc_id = m.doc_id AND m.w = 'merge' AND j.w = 'join'
   AND j.ord > m.ord AND j.ord - m.ord - 1 <= 4
  WHERE EXISTS (SELECT 1 FROM pos s
                WHERE s.doc_id = m.doc_id AND s.w = 'sort'
                  AND s.ord >= m.ord AND s.ord <= j.ord)
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
""", "span_containing: BIG spans (merge .. join within 4 gaps, in "
     "order) that CONTAIN a little span ('sort') - 'a merge-join "
     "phrase that mentions sorting inside it', the enclosing side of "
     "Lucene's containment pair. Compiles to filter(big, exists("
     "little, enclosed)) over the same one-split interval algebra as "
     "the rest of the span family - JVM lambdas, no explode, no "
     "shuffle, per-document work bounded by term frequency. The "
     "oracle restates containment as a position self-join + EXISTS.")
def a3dh_es_span_containing(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = {"span_containing": {
        "big": {"span_near": {"clauses": [
            {"span_term": {"text": "merge"}},
            {"span_term": {"text": "join"}},
        ], "slop": 4, "in_order": True}},
        "little": {"span_term": {"text": "sort"}},
    }}
    return es_search(d, q).select("doc_id", "source", "n_chars")


@register("a3di_es_span_within", "A3+K4", _SPAN_POS_SQL + """,
hits AS (
  SELECT DISTINCT s.doc_id
  FROM pos s
  WHERE s.w = 'slow'
    AND EXISTS (SELECT 1 FROM pos m JOIN pos j
                  ON j.doc_id = m.doc_id AND m.w = 'data'
                 AND j.w = 'line' AND j.ord > m.ord
                 AND j.ord - m.ord - 1 <= 6
                WHERE m.doc_id = s.doc_id
                  AND m.ord <= s.ord AND s.ord <= j.ord)
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
""", "span_within: LITTLE spans ('slow') ENCLOSED by a big span "
     "(data .. line within 6 gaps, in order) - the little side of "
     "the containment pair ('slow mentioned inside a data-line "
     "passage'). Same interval algebra, mirrored filter direction: "
     "filter(little, exists(big, encloses)). Oracle: position EXISTS "
     "over the enclosing pair.")
def a3di_es_span_within(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = {"span_within": {
        "little": {"span_term": {"text": "slow"}},
        "big": {"span_near": {"clauses": [
            {"span_term": {"text": "data"}},
            {"span_term": {"text": "line"}},
        ], "slop": 6, "in_order": True}},
    }}
    return es_search(d, q).select("doc_id", "source", "n_chars")


@register("a3dj_es_combined_fields", "A3+H1", """
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE (' ' || LOWER(text) || ' ' LIKE '% merge %'
       OR ' ' || LOWER(source) || ' ' LIKE '% merge %')
  AND (' ' || LOWER(text) || ' ' LIKE '% src1 %'
       OR ' ' || LOWER(source) || ' ' LIKE '% src1 %')
""", "ES combined_fields with operator=and: the query terms 'merge "
     "src1' must EACH match somewhere across the combined (text, "
     "source) fields - 'merge' matches in the body, 'src1' in the "
     "source tag, and the document qualifies; multi_match "
     "best_fields would demand both terms in ONE field and find "
     "nothing. Boolean context per the house BM25F rule; compiles to "
     "an AND-of-OR containment grid in whole-stage codegen. The "
     "oracle is the word-boundary padded-LIKE restatement.")
def a3dj_es_combined_fields(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_search(d, {"combined_fields": {
        "query": "merge src1",
        "fields": ["text", "source"],
        "operator": "and",
    }}).select("doc_id", "source", "lang", "n_chars")


# ---------------------------------------------------------------------------
# Round 10 wave four: the small search APIs - _count, _geo_distance
# sort, _search/template
# ---------------------------------------------------------------------------


def es_count(df: DataFrame, query: dict | None = None) -> DataFrame:
    """ES ``_count``: the number of documents matching a query - the
    cheapest and most-called API a client library exposes. One
    filtered COUNT (map-side partial, no shuffle of rows, one long
    back); ES's response field name ``count`` kept."""
    out = df if query is None else es_search(df, query)
    return out.agg(F.count("*").alias("count"))


@register("a3dk_es_count", "A3+D2", """
SELECT COUNT(*) AS count
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice >= 150000
""", "ES _count: open orders at or above 150k - the API every "
     "dashboard tile and client health-check calls. Filtered "
     "map-side-partial count; the filter pushes to the scan, one "
     "number moves.")
def a3dk_es_count(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_count(o, {"bool": {"filter": [
        {"term": {"o_orderstatus": "O"}},
        {"range": {"o_totalprice": {"gte": 150000}}},
    ]}})


def es_geo_distance_sort(df: DataFrame, query: dict, *,
                         field: str, origin: tuple, tiebreak: str,
                         size: int = 10) -> DataFrame:
    """ES sort-by-``_geo_distance``: hits ordered by distance from an
    origin point, nearest first - the store-locator page. The
    distance rides along in meters (ES returns it as the hit's sort
    value) rounded 6 dp; ordering uses the RAW double with the
    caller's unique tiebreak (the house total-order rule), and the
    page is one TakeOrderedAndProject over the filtered scan - no
    global sort."""
    lat, lon = float(origin[0]), float(origin[1])
    dist = _haversine_m(F.col(f"{field}.lat"), F.col(f"{field}.lon"),
                        F.lit(lat), F.lit(lon))
    return (es_search(df, query)
            .withColumn("_dist_m", dist)
            .orderBy(F.col("_dist_m").asc(), F.col(tiebreak).asc())
            .limit(int(size))
            .withColumn("sort_dist_m", F.round(F.col("_dist_m"), 6))
            .drop("_dist_m"))


@register("a3dl_es_geo_distance_sort", "A3+F3", _GEO_SQL_PREFIX + """,
d AS (
  SELECT c_custkey, c_nationkey,
         2.0 * 6371008.7714 * ASIN(SQRT(
           SIN(RADIANS(40.7128 - lat) / 2) * SIN(RADIANS(40.7128 - lat) / 2)
           + COS(RADIANS(lat)) * COS(RADIANS(40.7128))
             * SIN(RADIANS(-74.006 - lon) / 2)
             * SIN(RADIANS(-74.006 - lon) / 2))) AS dist_m
  FROM geo
  WHERE c_nationkey < 10
)
SELECT c_custkey, c_nationkey, ROUND(dist_m, 6) AS sort_dist_m
FROM d
ORDER BY dist_m ASC, c_custkey ASC
LIMIT 15
""", "ES sort by _geo_distance: the 15 customers nearest NYC among "
     "nations 0-9, each hit carrying its distance as the sort value "
     "- the store-locator response. Same in-plan haversine as "
     "a3ad/a3ag (cross-engine agreement established there; ordering "
     "on the raw double with the custkey tiebreak, distance rounded "
     "6 dp for the hash); one TakeOrderedAndProject, no global "
     "sort.")
def a3dl_es_geo_distance_sort(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    return es_geo_distance_sort(
        g, {"range": {"c_nationkey": {"lt": 10}}},
        field="location", origin=(40.7128, -74.006),
        tiebreak="c_custkey", size=15,
    ).select("c_custkey", "c_nationkey", "sort_dist_m")


def es_render_search_template(source: dict, params: dict) -> dict:
    """ES ``_render/template`` (and the ``_search/template`` body
    step): substitute ``{{param}}`` placeholders into a query
    template. The mustache subset real templates use for VALUES -
    ``{{name}}`` only; sections/partials/defaults (``{{#..}}``,
    ``{{>..}}``) are REJECTED loudly (they generate structure, not
    values, and a silent partial render is a wrong query). A missing
    parameter is an error, ES's own behavior. Rendering happens ONCE
    at compile time - zero query-time cost.

    Substitution walks the PARSED structure, never re-serialized
    text (ADVICE r10): a parameter VALUE is data, full stop - a
    value that happens to contain ``{{other}}`` stays literal
    instead of being re-expanded, and embedded quotes/backslashes
    cannot corrupt the rendered query, because no JSON text is ever
    rebuilt and re-scanned after parameter data enters it."""
    import re as _re

    ph = _re.compile(r"\{\{([#^/>&]?)(\w+)\}\}")

    def lookup(name: str):
        if name not in params:
            raise ValueError(f"search_template parameter {name!r} "
                             "missing")
        return params[name]

    def render_str(s: str, *, typed: bool):
        for m in ph.finditer(s):
            if m.group(1):
                raise ValueError(
                    "search_template supports value placeholders "
                    "({{name}}) only; mustache sections/partials "
                    "are rejected, not partially rendered")
        whole = ph.fullmatch(s)
        if whole and typed:
            # a placeholder that IS the whole string value takes the
            # param's JSON type (list -> array, number -> number)
            return lookup(whole.group(2))
        # embedded in a longer string (or a dict key): stringify;
        # the substituted value is NOT rescanned for placeholders
        return ph.sub(lambda m: str(lookup(m.group(2))), s)

    def render(node):
        if isinstance(node, dict):
            return {
                (render_str(k, typed=False) if isinstance(k, str) else k):
                render(v)
                for k, v in node.items()}
        if isinstance(node, list):
            return [render(v) for v in node]
        if isinstance(node, str):
            return render_str(node, typed=True)
        return node

    return render(source)


@register("a3dm_es_search_template", "A3+B3", """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 300000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 12
""", "ES _search/template: the stored-search idiom - a query "
     "template with {{status}}/{{floor}}/{{priorities}} value "
     "placeholders rendered ONCE at compile time (typed: a list "
     "param lands as a JSON array, a number as a number), then "
     "compiled like any query. Sections/partials and missing params "
     "reject loudly - a partially-rendered query is a wrong query. "
     "Plan identical to the hand-written equivalent: one filtered "
     "scan + TakeOrderedAndProject.")
def a3dm_es_search_template(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    template = {"bool": {"filter": [
        {"term": {"o_orderstatus": "{{status}}"}},
        {"range": {"o_totalprice": {"gte": "{{floor}}"}}},
        {"terms": {"o_orderpriority": "{{priorities}}"}},
    ]}}
    q = es_render_search_template(
        template, {"status": "F", "floor": 300000,
                   "priorities": ["1-URGENT", "2-HIGH"]})
    return (es_search(o, q)
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(12))


def es_mget(df: DataFrame, ids: list, id_col: str,
            source_cols: list[str]) -> DataFrame:
    """ES ``_mget``: fetch a batch of documents by id in ONE call -
    the point-lookup batch every sync/cache layer issues. ES answers
    EVERY requested id, present or not (``found``: true/false with
    null _source for misses) - so the request list, not the corpus,
    drives the output. Two joins, both broadcast-bounded by the
    REQUEST size: (1) corpus INNER-join the broadcast id set - the
    only scan-sized step, a BroadcastHashJoin with zero shuffle (an
    outer join here would force the corpus to the build side, which
    is exactly backwards at 100 TB); (2) the request list LEFT-joins
    the <= |ids| found rows (also broadcast) to pad misses with
    found=false. Duplicate requested ids are rejected (ES returns one
    doc entry per request slot; a set keeps the relational shape
    exact). ES preserves REQUEST-SLOT order in the response, so the
    result carries an explicit sort on the request index (ADVICE
    r10: a caller zipping rows against their id list must not
    mis-pair) - sorting <= |ids| rows is free at any corpus size."""
    if len(set(ids)) != len(ids):
        raise ValueError("_mget request ids must be unique here "
                         "(one output row per id)")
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    req = local_relation(
        spark, [(slot, i) for slot, i in enumerate(ids)],
        f"__slot int, {id_col} {id_type}")
    found = (df.select(id_col, *source_cols)
             .join(F.broadcast(req.select(id_col)), id_col, "inner")
             .withColumn("__present", F.lit(True)))
    return (req.join(F.broadcast(found), id_col, "left")
            .orderBy("__slot")
            .select(id_col,
                    F.coalesce(F.col("__present"), F.lit(False))
                    .alias("found"),
                    *source_cols))


_MGET_IDS = [1, 2, 3, 7, 32, 900000901, 900000902, 38]


@register("a3dn_es_mget", "A3+C2", """
WITH req AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey
             FROM (VALUES """
           + ", ".join(f"({i})" for i in _MGET_IDS)
           + """) AS t(o_orderkey))
SELECT r.o_orderkey,
       o.o_orderkey IS NOT NULL AS found,
       o.o_orderstatus, o.o_totalprice
FROM req r LEFT JOIN orders o ON r.o_orderkey = o.o_orderkey
""", "ES _mget: eight requested order ids fetched in one call, two "
     "of them absent from any corpus (the 9e8 range) - ES answers "
     "every slot with found true/false and null _source for misses, "
     "exactly this LEFT-JOIN-from-the-request shape. The request "
     "list broadcasts (8-row hash table), the corpus streams: no "
     "shuffle at any size. The id list is a shared literal so the "
     "oracle VALUES and the Spark request cannot drift.")
def a3dn_es_mget(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_mget(o, _MGET_IDS, "o_orderkey",
                   ["o_orderstatus", "o_totalprice"])


# ---------------------------------------------------------------------------
# Round 11: the last named ES family members - span_multi (the span
# wrapper around multi-term queries), ip_range (the IP-typed range
# agg), geohex_grid (the hexagonal geo-grid)
# ---------------------------------------------------------------------------

@register("a3dp_es_span_multi", "A3+K4", _SPAN_POS_SQL + """,
hits AS (
  SELECT DISTINCT m.doc_id
  FROM pos m JOIN pos j
    ON j.doc_id = m.doc_id AND m.w = 'hash' AND j.w LIKE 's%'
   AND j.ord > m.ord AND j.ord - m.ord - 1 <= 2
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
""", "ES span_multi: 'hash' followed within 2 gaps (in order) by ANY "
     "token starting with 's' - the span wrapper around a prefix "
     "query, Lucene's SpanMultiTermQueryWrapper composed inside "
     "span_near. Every token the wrapped multi-term leaf matches "
     "becomes a zero-length span in the SAME one-split interval "
     "algebra as the rest of the span family: JVM lambdas, no "
     "explode, no shuffle, per-document work bounded by term "
     "frequency. The oracle restates the wrapped prefix as LIKE "
     "'s%' over the position self-join. Expansion is unbounded (a "
     "recall superset of ES's capped rewrite - the "
     "match_phrase_prefix discipline); an explicit rewrite "
     "parameter is rejected loudly.")
def a3dp_es_span_multi(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = {"span_near": {"clauses": [
        {"span_term": {"text": "hash"}},
        {"span_multi": {"match": {"prefix": {"text": "s"}}}},
    ], "slop": 2, "in_order": True}}
    return es_search(d, q).select("doc_id", "source", "n_chars")


# --- ip_range ---------------------------------------------------------------

def _ip_to_long(col: Column) -> Column:
    """Dotted-quad IPv4 string -> uint32 as BIGINT, pure JVM string
    split + integer arithmetic (no UDF, codegen-friendly)."""
    p = F.split(col, r"\.")
    return (p[0].cast("long") * 16777216 + p[1].cast("long") * 65536
            + p[2].cast("long") * 256 + p[3].cast("long"))


def _ip_bucket_bounds(ranges: list[dict]) -> list[tuple]:
    """Resolve ES ip_range bucket specs to (key, from_ip, to_ip, lo,
    hi) - from inclusive, to EXCLUSIVE (ES's rule), CIDR masks
    expanded to [network, broadcast+1). Driver-side, stdlib only."""
    import ipaddress

    out = []
    for r in ranges:
        if "mask" in r:
            net = ipaddress.ip_network(r["mask"], strict=True)
            lo = int(net.network_address)
            hi = lo + net.num_addresses
            key = r.get("key", r["mask"])
            fr = str(net.network_address)
            to = str(ipaddress.ip_address(hi)) if hi <= 0xFFFFFFFF else None
        else:
            if "from" not in r and "to" not in r:
                raise ValueError("ip_range bucket needs from/to or mask")
            fr = r.get("from")
            to = r.get("to")
            lo = int(ipaddress.ip_address(fr)) if fr is not None else None
            hi = int(ipaddress.ip_address(to)) if to is not None else None
            key = r.get("key", f"{fr or '*'}-{to or '*'}")
        out.append((key, fr, to, lo, hi))
    return out


def es_ip_range_agg(df: DataFrame, field: str,
                    ranges: list[dict]) -> DataFrame:
    """ES ``ip_range`` aggregation: doc counts per IP range bucket,
    buckets given as explicit from/to bounds (from INCLUSIVE, to
    EXCLUSIVE - ES's half-open rule) or CIDR masks. Every requested
    bucket is answered, zero-count included, in request order - ES's
    response shape. Buckets may overlap; a doc counts in each bucket
    it falls into. ``from``/``to`` come back as ``from_ip``/``to_ip``
    string columns (NULL for unbounded) - renamed because bare
    ``from`` is an SQL keyword in every downstream engine.

    Compilation: the dotted-quad parses to uint32 JVM-side (one
    split, integer arithmetic), each bucket is one conditional-sum in
    a SINGLE global aggregate - map-side partials, one scan, no
    shuffle of data rows, then the 1-row aggregate explodes into the
    n-bucket response (bucket list is request-bounded). Scale-safe by
    construction."""
    buckets = _ip_bucket_bounds(ranges)
    ipl = _ip_to_long(F.col(field))
    aggs = []
    for i, (_, _, _, lo, hi) in enumerate(buckets):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (ipl >= F.lit(lo))
        if hi is not None:
            cond = cond & (ipl < F.lit(hi))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"__b{i}"))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(i).alias("__slot"),
                 F.lit(key).alias("key"),
                 F.lit(fr).cast("string").alias("from_ip"),
                 F.lit(to).cast("string").alias("to_ip"),
                 F.col(f"__b{i}").alias("doc_count"))
        for i, (key, fr, to, _, _) in enumerate(buckets)])
    return (one.select(F.explode(rows).alias("b"))
            .select("b.*").orderBy("__slot").drop("__slot"))


def _ip_range_oracle(ranges: list[dict]) -> str:
    """Generated DuckDB twin for the registered ip_range query: the
    SAME Python-resolved bounds (shared literals - the _MGET_IDS
    discipline) over the same derived-IP fixture."""
    buckets = _ip_bucket_bounds(ranges)
    parts = []
    for key, fr, to, lo, hi in buckets:
        conds = ["TRUE"]
        if lo is not None:
            conds.append(f"ipl >= {lo}")
        if hi is not None:
            conds.append(f"ipl < {hi}")
        fr_sql = f"'{fr}'" if fr is not None else "CAST(NULL AS VARCHAR)"
        to_sql = f"'{to}'" if to is not None else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{key}' AS key, {fr_sql} AS from_ip, {to_sql} AS to_ip,\n"
            f"       CAST(SUM(CASE WHEN {' AND '.join(conds)} THEN 1 ELSE 0 "
            f"END) AS BIGINT) AS doc_count FROM ip")
    return ("WITH ip AS (\n"
            "  SELECT 10 * 16777216 + (c_custkey * 7 % 256) * 65536\n"
            "         + (c_custkey * 13 % 256) * 256 + c_custkey % 256\n"
            "         AS ipl\n"
            "  FROM customer\n"
            ")\n" + "\nUNION ALL\n".join(parts))


def _customer_ip(spark, sf_dir) -> DataFrame:
    """Customers with a deterministic synthetic IPv4 string: octets
    are integer-arithmetic derivations of the key (the _customer_geo
    precedent), all inside 10.0.0.0/8, so both engines reconstruct
    the identical address space without an IP-typed column in the
    corpus."""
    c = load_table(spark, sf_dir, "customer")
    ip = F.concat_ws(
        ".", F.lit(10).cast("string"),
        (F.col("c_custkey") * 7 % 256).cast("string"),
        (F.col("c_custkey") * 13 % 256).cast("string"),
        (F.col("c_custkey") % 256).cast("string"))
    return c.withColumn("client_ip", ip)


_IP_RANGES = [
    {"key": "low-quarter", "from": "10.0.0.0", "to": "10.64.0.0"},
    {"mask": "10.64.0.0/10"},
    {"from": "10.128.0.0"},
    {"to": "10.0.4.0"},
    {"key": "empty-slice", "from": "10.255.255.0", "to": "10.255.255.16"},
]


@register("a3dq_es_ip_range", "A3+D5", _ip_range_oracle(_IP_RANGES),
          "ES ip_range aggregation over a derived client-IP column "
          "(the _customer_geo fixture precedent - octets from integer "
          "key arithmetic, so no IP-typed corpus column is needed): "
          "five buckets covering explicit from/to (half-open - from "
          "inclusive, to EXCLUSIVE), a CIDR mask, both unbounded "
          "directions, and a deliberately-EMPTY slice proving "
          "zero-count buckets still answer (ES's response shape). "
          "One scan, one global aggregate of conditional sums "
          "(map-side partials, no shuffle of data rows); the bucket "
          "bounds resolve ONCE driver-side via stdlib ipaddress and "
          "the oracle is GENERATED from the same resolved literals, "
          "so the two sides cannot drift.")
def a3dq_es_ip_range(spark, sf_dir):
    g = _customer_ip(spark, sf_dir)
    return es_ip_range_agg(g, "client_ip", _IP_RANGES)


# --- geohex_grid -------------------------------------------------------------
#
# DOCUMENTED DIVERGENCE (the BM25 / variable_width_histogram
# discipline, stated loudly): real ES geohex_grid returns Uber H3
# cell ids - an icosahedral gnomonic projection with aperture-7
# hierarchical indexing and 12 pentagon cells. The H3 cell math is
# unrepresentable here without adopting the H3 library (not in this
# environment) or reimplementing the icosahedron face tables, and a
# from-scratch reimplementation could not be oracle-checked by an
# independent engine anyway. This implements the SEMANTICS of the
# aggregation - hexagonal-lattice binning of geo_points with
# aperture-7 area refinement per precision step (cell area shrinks
# 7x per +1 precision, H3's ratio) - on a deterministic pointy-top
# axial hex lattice over equirectangular lon/lat degrees. Cell keys
# are 'precision/q/r' axial coordinates, not H3 ids; cells are true
# hexagons in degree space (ground area varies with latitude, where
# H3 is near-equal-area). Every arithmetic step is plain IEEE
# double +-*/, floor, abs with Python-computed shared literals - no
# libm transcendentals - so both engines compute bit-identical cell
# assignments and the oracle is GENERATED from the same formula.

_SQRT3_3 = 0.5773502691896258   # sqrt(3)/3, shared literal
_ONE_3 = 0.3333333333333333     # 1/3
_TWO_3 = 0.6666666666666666     # 2/3


def _geohex_size(precision: int) -> float:
    """Hex circumradius in degrees at ``precision``: 36deg at 0,
    shrinking by sqrt(7) per step so cell AREA refines by 7x - H3's
    aperture. Computed once driver-side; the resulting double is the
    shared literal both engines bin with."""
    if not 0 <= int(precision) <= 15:
        raise ValueError("geohex_grid precision must be 0..15")
    return 36.0 / (7.0 ** (precision / 2.0))


def _geohex_qr(lat: Column, lon: Column, size: float) -> tuple:
    """Axial (q, r) of the pointy-top hex containing (lat, lon):
    fractional axial coords then cube rounding (round each of
    x/y/z = q/-q-r/r to the nearest integer, then repair the one
    with the largest rounding error so x+y+z stays 0 - the standard
    nearest-hex-center assignment). round(v) is floor(v + 0.5) in
    BOTH engines (no banker's rounding ambiguity)."""
    qf = (F.lit(_SQRT3_3) * lon - F.lit(_ONE_3) * lat) / F.lit(size)
    rf = (F.lit(_TWO_3) * lat) / F.lit(size)
    yf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    ry = F.floor(yf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    dq = F.abs(rq.cast("double") - qf)
    dy = F.abs(ry.cast("double") - yf)
    dr = F.abs(rr.cast("double") - rf)
    fix_q = (dq > dy) & (dq > dr)
    fix_r = (~fix_q) & (dr > dy)
    q = F.when(fix_q, -ry - rr).otherwise(rq)
    r = F.when(fix_r, -rq - ry).otherwise(rr)
    return q, r


def _geohex_qr_sql(lat_expr: str, lon_expr: str, size: float) -> str:
    """The SAME hex assignment as _geohex_qr, generated as a DuckDB
    scalar-subquery-free CTE chain (identical literals, identical
    operation order - bit-identical doubles)."""
    s = repr(size)
    return f"""
  SELECT *, CASE WHEN fix_q THEN -ry - rr ELSE rq END AS hq,
         CASE WHEN (NOT fix_q) AND dr > dy THEN -rq - ry ELSE rr END AS hr
  FROM (
    SELECT *, (dq > dy AND dq > dr) AS fix_q
    FROM (
      SELECT *, ABS(rq - qf) AS dq, ABS(ry - yf) AS dy, ABS(rr - rf) AS dr
      FROM (
        SELECT *, CAST(FLOOR(qf + 0.5) AS BIGINT) AS rq,
               CAST(FLOOR(yf + 0.5) AS BIGINT) AS ry,
               CAST(FLOOR(rf + 0.5) AS BIGINT) AS rr
        FROM (
          SELECT *, -qf - rf AS yf
          FROM (
            SELECT *,
                   ({_SQRT3_3!r} * ({lon_expr}) - {_ONE_3!r} * ({lat_expr}))
                     / {s} AS qf,
                   ({_TWO_3!r} * ({lat_expr})) / {s} AS rf
            FROM geo
          )
        )
      )
    )
  )"""


def es_geohex_grid(df: DataFrame, field: str, precision: int,
                   size: int = 40) -> DataFrame:
    """ES ``geohex_grid`` aggregation (divergence note above): bucket
    geo_points into hexagonal cells at ``precision``, count per cell,
    top ``size`` cells by doc_count - geotile_grid's hexagonal
    sibling. The cell key is computed map-side from plain arithmetic
    (no UDF, whole-stage codegen), then ONE hash aggregate - scales
    exactly like any groupBy: shuffle is |cells|-bounded, never
    |rows|-bounded."""
    hex_size = _geohex_size(precision)
    q, r = _geohex_qr(F.col(f"{field}.lat"), F.col(f"{field}.lon"),
                      hex_size)
    cell = F.concat_ws("/", F.lit(int(precision)).cast("string"),
                       q.cast("string"), r.cast("string"))
    return (df.select(cell.alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("cell"))
            .limit(int(size)))


_GEOHEX_PRECISION = 2


@register("a3do_es_geohex_grid", "A3+D1", _GEO_SQL_PREFIX + """
, hx AS (""" + _geohex_qr_sql("lat", "lon", _geohex_size(_GEOHEX_PRECISION))
          + """
)
SELECT CONCAT('""" + str(_GEOHEX_PRECISION) + """/', CAST(hq AS VARCHAR),
              '/', CAST(hr AS VARCHAR)) AS cell,
       COUNT(*) AS doc_count
FROM hx GROUP BY hq, hr
ORDER BY doc_count DESC, cell ASC LIMIT 40
""", "ES geohex_grid at precision 2: customers bucketed into "
     "hexagonal lattice cells (pointy-top axial grid, cube-rounded "
     "nearest-center assignment, aperture-7 area refinement per "
     "precision step), top-40 cells by doc_count - geotile_grid's "
     "hexagonal sibling. DOCUMENTED DIVERGENCE: keys are "
     "'precision/q/r' axial coordinates on an equirectangular "
     "lattice, not H3 icosahedral cell ids (see the module note). "
     "All arithmetic is shared-literal IEEE +-*/, floor, abs - no "
     "libm - so the GENERATED oracle bins bit-identically. One "
     "map-side cell key + one hash aggregate: |cells|-bounded "
     "shuffle at any corpus size.")
def a3do_es_geohex_grid(spark, sf_dir):
    g = _customer_geo(spark, sf_dir)
    return es_geohex_grid(g, "location", _GEOHEX_PRECISION, size=40)


def _long_to_ip(col: Column) -> Column:
    """uint32 BIGINT -> dotted-quad string, pure JVM arithmetic."""
    return F.concat_ws(
        ".",
        (col / 16777216).cast("long").cast("string"),
        ((col / 65536).cast("long") % 256).cast("string"),
        ((col / 256).cast("long") % 256).cast("string"),
        (col % 256).cast("string"))


def es_ip_prefix_agg(df: DataFrame, field: str, prefix_length: int,
                     min_doc_count: int = 1) -> DataFrame:
    """ES ``ip_prefix`` aggregation (8.x): bucket IP addresses by
    their /``prefix_length`` network - ip_range's self-organizing
    sibling (no bucket list in the request; the data's own networks
    become the buckets). Response shape mirrors ES: ``key`` is the
    network address, plus ``prefix_length``, ``netmask`` and
    ``doc_count``, buckets ordered by key. ``min_doc_count`` prunes
    sparse networks post-aggregate (ES's parameter; default 1 = only
    occupied networks, exactly what one hash aggregate yields).

    The network id is integer arithmetic on the parsed address
    (floor-divide by 2^(32-p), re-multiply) computed map-side, so the
    plan is the standard partial->final HashAggregate with a
    |networks|-bounded shuffle - a groupBy at any corpus size, no
    UDF."""
    p = int(prefix_length)
    if not 0 <= p <= 32:
        raise ValueError("ip_prefix prefix_length must be 0..32")
    block = 2 ** (32 - p)
    ipl = _ip_to_long(F.col(field))
    net = (ipl / F.lit(block)).cast("long") * F.lit(block)
    mask = (2 ** 32 - block) if p else 0
    mask_str = ".".join(str((mask >> s) & 255) for s in (24, 16, 8, 0))
    return (df.select(net.alias("__net"))
            .groupBy("__net")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") >= int(min_doc_count))
            .select(_long_to_ip(F.col("__net")).alias("key"),
                    F.lit(p).alias("prefix_length"),
                    F.lit(mask_str).alias("netmask"),
                    "doc_count",
                    F.col("__net").alias("__ord"))
            .orderBy("__ord").drop("__ord"))


_IP_PREFIX_LEN = 18


@register("a3dr_es_ip_prefix", "A3+D1", f"""
WITH ip AS (
  SELECT 10 * 16777216 + (c_custkey * 7 % 256) * 65536
         + (c_custkey * 13 % 256) * 256 + c_custkey % 256 AS ipl
  FROM customer
), net AS (
  SELECT CAST(FLOOR(ipl / {2 ** (32 - _IP_PREFIX_LEN)}.0) AS BIGINT)
         * {2 ** (32 - _IP_PREFIX_LEN)} AS n, COUNT(*) AS doc_count
  FROM ip GROUP BY 1
)
SELECT CONCAT(CAST(CAST(FLOOR(n / 16777216.0) AS BIGINT) AS VARCHAR), '.',
              CAST(CAST(FLOOR(n / 65536.0) AS BIGINT) % 256 AS VARCHAR), '.',
              CAST(CAST(FLOOR(n / 256.0) AS BIGINT) % 256 AS VARCHAR), '.',
              CAST(n % 256 AS VARCHAR)) AS key,
       {_IP_PREFIX_LEN} AS prefix_length,
       '255.255.192.0' AS netmask,
       doc_count
FROM net
ORDER BY n
""", "ES ip_prefix aggregation at /18: the derived client-IP space "
     "bucketed by its own /18 networks (ip_range's self-organizing "
     "sibling - no request-side bucket list), each bucket carrying "
     "key/prefix_length/netmask/doc_count exactly as ES responds, "
     "ordered by network. The network id is floor-divide integer "
     "arithmetic computed map-side; the plan is one partial->final "
     "hash aggregate with a |networks|-bounded shuffle.")
def a3dr_es_ip_prefix(spark, sf_dir):
    g = _customer_ip(spark, sf_dir)
    return es_ip_prefix_agg(g, "client_ip", _IP_PREFIX_LEN)


# --- _termvectors / sparse_vector --------------------------------------------

def es_termvectors(df: DataFrame, doc_id, *, id_col: str,
                   text_col: str, term_statistics: bool = False
                   ) -> DataFrame:
    """ES ``_termvectors``: per-term statistics for ONE document -
    term_freq and the position list (joined to a '|' string: the
    driver-safe flattening rule), plus corpus-wide doc_freq and ttf
    (total term frequency) when ``term_statistics`` is requested,
    exactly the response clients use for keyword extraction and
    more-like-this debugging.

    Scale shape: the document side is ONE point lookup (partition-
    prunable scan + explode of one token list). The corpus statistics
    never aggregate the full vocabulary: the corpus token stream
    inner-joins the BROADCAST distinct terms of the one document
    first, so the grouped count is |doc's terms|-bounded, not
    |vocab|-bounded - the request bounds the work, the ES discipline
    everywhere in this module (_mget, rank_eval)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    doc = (df.filter(F.col(id_col) == F.lit(doc_id))
           .select(F.posexplode(toks).alias("pos", "term")))
    tv = (doc.groupBy("term")
          .agg(F.count(F.lit(1)).alias("term_freq"),
               F.array_join(F.transform(
                   F.array_sort(F.collect_list("pos")),
                   lambda p: p.cast("string")), "|").alias("positions")))
    if not term_statistics:
        return tv.orderBy("term")
    corpus = df.select(F.col(id_col).alias("__doc"),
                       F.explode(toks).alias("term"))
    stats = (corpus.join(F.broadcast(tv.select("term")), "term", "inner")
             .groupBy("term")
             .agg(F.count_distinct("__doc").alias("doc_freq"),
                  F.count(F.lit(1)).alias("ttf")))
    return (tv.join(stats, "term", "left")
            .select("term", "term_freq", "positions", "doc_freq", "ttf")
            .orderBy("term"))


@register("a3ds_es_termvectors", "A3+K4", """
WITH doc AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term,
         UNNEST(RANGE(0, LEN(STRING_SPLIT(LOWER(text), ' ')))) AS pos
  FROM documents WHERE doc_id = 42
), tv AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_freq,
         STRING_AGG(CAST(pos AS VARCHAR), '|' ORDER BY pos) AS positions
  FROM doc GROUP BY term
), corpus AS (
  SELECT doc_id AS __doc,
         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
), stats AS (
  SELECT c.term, CAST(COUNT(DISTINCT c.__doc) AS BIGINT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS ttf
  FROM corpus c JOIN (SELECT DISTINCT term FROM tv) t ON c.term = t.term
  GROUP BY c.term
)
SELECT tv.term, tv.term_freq, tv.positions, s.doc_freq, s.ttf
FROM tv LEFT JOIN stats s ON s.term = tv.term
ORDER BY tv.term
""", "ES _termvectors with term_statistics for document 42: per-term "
     "term_freq + position list (array_sort'd, '|'-joined - the "
     "driver-safe flattening), corpus doc_freq and total term "
     "frequency. The corpus stats join the BROADCAST one-document "
     "term set BEFORE grouping, so the aggregate is bounded by the "
     "document's own vocabulary, never the corpus's. Positions sort "
     "NUMERICALLY before stringifying in both engines.")
def a3ds_es_termvectors(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_termvectors(d, 42, id_col="doc_id", text_col="text",
                          term_statistics=True)


def es_sparse_vector_query(df: DataFrame, *, text_col: str,
                           query_vector: dict, id_cols: list[str],
                           size: int) -> DataFrame:
    """ES ``sparse_vector`` query with an explicit ``query_vector``
    (the learned-sparse-retrieval shape - ELSER et al. - when the
    client supplies pre-computed token weights instead of calling an
    inference endpoint): score = sum over query tokens of
    query_weight x doc token frequency, top ``size`` by score.

    DOCUMENTED DIVERGENCE: the document-side weights here are raw
    term frequencies (this corpus carries no learned rank_features
    field); real ES multiplies stored per-token model weights. The
    SCORING ALGEBRA - sparse dot product, query-side expansion
    bounded by |query_vector| - is exact, which is what the operator
    contributes at 100 TB: each query token is one array-count over
    the split token stream (JVM lambdas, no explode of the corpus,
    no shuffle before the top-k), then one TakeOrderedAndProject."""
    if not query_vector:
        raise ValueError("sparse_vector needs a non-empty query_vector")
    toks = F.split(F.lower(F.col(text_col)), " ")
    score = None
    for term, w in sorted(query_vector.items()):
        tf = F.size(F.filter(toks, lambda t: t == str(term).lower()))
        part = F.lit(float(w)) * tf.cast("double")
        score = part if score is None else score + part
    return (df.select(*id_cols, F.round(score, 6).alias("score"))
            .filter(F.col("score") > 0)
            .orderBy(F.desc("score"), *[F.asc(c) for c in id_cols])
            .limit(int(size)))


_SPARSE_QV = {"merge": 2.5, "join": 1.8, "sort": 1.2, "vector": 0.7}


@register("a3dt_es_sparse_vector", "A3+K3", """
WITH scored AS (
  SELECT doc_id, source,
         ROUND(
           2.5 * CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      t -> t = 'merge')) AS DOUBLE)
         + 1.8 * CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      t -> t = 'join')) AS DOUBLE)
         + 1.2 * CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      t -> t = 'sort')) AS DOUBLE)
         + 0.7 * CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      t -> t = 'vector')) AS DOUBLE),
           6) AS score
  FROM documents
)
SELECT doc_id, source, score FROM scored
WHERE score > 0
ORDER BY score DESC, doc_id ASC LIMIT 20
""", "ES sparse_vector query with an explicit query_vector (the "
     "learned-sparse / ELSER request shape): four weighted query "
     "tokens dot-producted against document token frequencies, "
     "top-20 by score. Document weights are raw term frequencies - "
     "divergence documented (no learned rank_features field in this "
     "corpus); the sparse-dot algebra and the "
     "|query_vector|-bounded expansion are exact. Per-token counts "
     "are JVM array lambdas over ONE split - the corpus is never "
     "exploded - and the only ordering is TakeOrderedAndProject.")
def a3dt_es_sparse_vector(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_sparse_vector_query(
        d, text_col="text", query_vector=_SPARSE_QV,
        id_cols=["doc_id", "source"], size=20)


def es_analyze(df: DataFrame, doc_id, *, id_col: str,
               text_col: str) -> DataFrame:
    """ES ``_analyze`` applied to one stored document's field: the
    token stream the analysis chain produces - token, position,
    start_offset/end_offset into the ORIGINAL text - the API clients
    call to debug why a query does(n't) match. Analyzer is the house
    whitespace+lowercase chain (single-space separators, the corpus
    contract); lowercasing preserves lengths, so offsets index the
    original text exactly.

    Offsets are computed with pure array lambdas (aggregate over the
    token prefix - O(tokens^2) on ONE document's tokens, all
    JVM-side): no window function, no explode before the per-document
    struct array is built, one point-lookup scan."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    entries = F.transform(
        toks,
        lambda t, i: F.struct(
            t.alias("token"),
            i.alias("position"),
            F.aggregate(F.slice(toks, F.lit(1), i), F.lit(0),
                        lambda acc, x: acc + F.length(x) + F.lit(1))
            .alias("start_offset")))
    return (df.filter(F.col(id_col) == F.lit(doc_id))
            .select(F.explode(entries).alias("e"))
            .select(F.col("e.token").alias("token"),
                    F.col("e.position").cast("int").alias("position"),
                    F.col("e.start_offset").alias("start_offset"),
                    (F.col("e.start_offset")
                     + F.length("e.token")).alias("end_offset"))
            .orderBy("position"))


@register("a3du_es_analyze", "A3+K4", """
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token,
         UNNEST(RANGE(0, LEN(STRING_SPLIT(LOWER(text), ' ')))) AS position
  FROM documents WHERE doc_id = 7
)
SELECT token, CAST(position AS INTEGER) AS position,
       CAST(COALESCE(SUM(LEN(token) + 1) OVER (
         ORDER BY position
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
         AS start_offset,
       CAST(COALESCE(SUM(LEN(token) + 1) OVER (
         ORDER BY position
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        + LEN(token) AS INTEGER) AS end_offset
FROM toks
ORDER BY position
""", "ES _analyze over document 7's text: the token stream with "
     "position and start/end offsets into the original text - the "
     "analysis-chain debugging API. Spark computes offsets with "
     "prefix-aggregate array lambdas (no window, no shuffle - one "
     "point lookup); the oracle restates them as a running window "
     "sum. Lowercasing preserves lengths so offsets index the "
     "original text; single-space separators are the corpus "
     "contract.")
def a3du_es_analyze(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_analyze(d, 7, id_col="doc_id", text_col="text")


def es_mtermvectors(df: DataFrame, doc_ids: list, *, id_col: str,
                    text_col: str, term_statistics: bool = False
                    ) -> DataFrame:
    """ES ``_mtermvectors``: _termvectors for a BATCH of documents in
    one call - per (doc, term) rows. Same request-bounded discipline:
    the document side is an isin point-lookup over |ids| documents,
    and corpus statistics join the BROADCAST union of the requested
    documents' terms before grouping, so the corpus aggregate stays
    bounded by the request's vocabulary."""
    if len(set(doc_ids)) != len(doc_ids):
        raise ValueError("_mtermvectors ids must be unique")
    toks = F.split(F.lower(F.col(text_col)), " ")
    doc = (df.filter(F.col(id_col).isin(*doc_ids))
           .select(F.col(id_col).alias("doc"),
                   F.posexplode(toks).alias("pos", "term")))
    tv = (doc.groupBy("doc", "term")
          .agg(F.count(F.lit(1)).alias("term_freq"),
               F.array_join(F.transform(
                   F.array_sort(F.collect_list("pos")),
                   lambda p: p.cast("string")), "|").alias("positions")))
    if not term_statistics:
        return tv.orderBy("doc", "term")
    corpus = df.select(F.col(id_col).alias("__doc"),
                       F.explode(toks).alias("term"))
    stats = (corpus.join(F.broadcast(tv.select("term").distinct()),
                         "term", "inner")
             .groupBy("term")
             .agg(F.count_distinct("__doc").alias("doc_freq"),
                  F.count(F.lit(1)).alias("ttf")))
    return (tv.join(F.broadcast(stats), "term", "left")
            .select("doc", "term", "term_freq", "positions",
                    "doc_freq", "ttf")
            .orderBy("doc", "term"))


_MTV_IDS = [3, 11, 42]


@register("a3dv_es_mtermvectors", "A3+K4", """
WITH doc AS (
  SELECT doc_id AS doc,
         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term,
         UNNEST(RANGE(0, LEN(STRING_SPLIT(LOWER(text), ' ')))) AS pos
  FROM documents WHERE doc_id IN (3, 11, 42)
), tv AS (
  SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS term_freq,
         STRING_AGG(CAST(pos AS VARCHAR), '|' ORDER BY pos) AS positions
  FROM doc GROUP BY doc, term
), corpus AS (
  SELECT doc_id AS __doc,
         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
), stats AS (
  SELECT c.term, CAST(COUNT(DISTINCT c.__doc) AS BIGINT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS ttf
  FROM corpus c JOIN (SELECT DISTINCT term FROM tv) t ON c.term = t.term
  GROUP BY c.term
)
SELECT tv.doc, tv.term, tv.term_freq, tv.positions, s.doc_freq, s.ttf
FROM tv LEFT JOIN stats s ON s.term = tv.term
ORDER BY tv.doc, tv.term
""", "ES _mtermvectors with term_statistics for three documents: per "
     "(doc, term) term_freq + numeric-ordered positions, corpus "
     "doc_freq/ttf joined against the BROADCAST union of the "
     "requested documents' terms - the batch form of _termvectors "
     "under the same request-bounded discipline (the corpus "
     "aggregate is bounded by the request's vocabulary, never the "
     "corpus's).")
def a3dv_es_mtermvectors(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return es_mtermvectors(d, _MTV_IDS, id_col="doc_id",
                           text_col="text", term_statistics=True)


def es_categorize_text(df: DataFrame, field: str, *,
                       size: int) -> DataFrame:
    """ES ``categorize_text`` aggregation: group semi-structured log
    messages by their TOKEN PATTERN - the ML-tier agg ops teams run
    over error logs. DOCUMENTED DIVERGENCE (the variable_width /
    BM25 discipline, stated loudly): real ES categorizes with an
    incremental drain-style clusterer whose categories depend on
    shard iteration order - unreproducible by construction; this is
    the deterministic exact-pattern REFERENCE: the category key IS
    the message's token sequence after dropping every token that
    contains a digit (ES's categorization analyzer likewise strips
    numeric/hex tokens so '42', 'k=69', 'a3f0' never split
    categories). Deterministic, order-free, and the 'similar
    messages bucket together' contract holds exactly for
    template-generated logs - the workload the agg exists for.

    One map-side key projection (split + filter + array_join JVM
    lambdas) + one hash aggregate: |categories|-bounded shuffle,
    terms-agg cost at any corpus size."""
    toks = F.split(F.col(field), " ")
    key = F.array_join(
        F.filter(toks, lambda t: ~t.rlike("[0-9]")), " ")
    return (df.select(key.alias("category"))
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("category"))
            .limit(int(size)))


@register("a3dw_es_categorize_text", "A3+K4", """
WITH msg AS (
  SELECT CONCAT(event_type, ' k=', CAST(props::JSON->>'k' AS VARCHAR),
                CASE WHEN value > 30.0 THEN ' retry scheduled'
                     ELSE ' completed ok' END) AS line
  FROM events
), cat AS (
  SELECT ARRAY_TO_STRING(LIST_FILTER(STRING_SPLIT(line, ' '),
                                     t -> NOT regexp_matches(t, '[0-9]')),
                         ' ') AS category
  FROM msg
)
SELECT category, COUNT(*) AS doc_count
FROM cat GROUP BY category
ORDER BY doc_count DESC, category ASC LIMIT 10
""", "ES categorize_text over a derived event-log line ('<type> "
     "k=<n> retry scheduled' / '... completed ok'): the ten "
     "categories left after the digit-bearing tokens drop - per-type "
     "retry/ok patterns, each with its doc_count, exactly the "
     "error-log triage view the agg exists for. Deterministic "
     "exact-pattern reference for ES's shard-order-dependent "
     "clusterer (divergence documented in the compiler). Category "
     "key is a map-side JVM lambda; one |categories|-bounded hash "
     "aggregate.")
def a3dw_es_categorize_text(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.col("event_type"), F.lit(" k="),
        F.get_json_object("props", "$.k"),
        F.when(F.col("value") > 30.0, F.lit(" retry scheduled"))
        .otherwise(F.lit(" completed ok")))
    return es_categorize_text(ev.select(line.alias("line")), "line",
                              size=10)


@register("a3dx_es_extended_stats_bucket", "A3+D5", """
WITH buckets AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS key,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
)
SELECT COUNT(*) AS n_buckets,
       MIN(rev) AS min_bucket, MAX(rev) AS max_bucket,
       ROUND(CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             / COUNT(*), 6) AS avg_bucket,
       CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE) AS sum_bucket,
       printf('%.10e',
              CAST(SUM(CAST(rev AS DECIMAL(28,2)) * CAST(rev AS
                       DECIMAL(28,2))) AS DOUBLE)) AS sum_of_squares,
       printf('%.10e',
              CAST(SUM(CAST(rev AS DECIMAL(28,2)) * CAST(rev AS
                       DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
              - POW(CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
                    / COUNT(*), 2)) AS variance_population,
       printf('%.10e',
              SQRT(CAST(SUM(CAST(rev AS DECIMAL(28,2)) * CAST(rev AS
                           DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
                   - POW(CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
                         / COUNT(*), 2))) AS std_deviation
FROM buckets
""", "ES extended_stats_bucket over the monthly-revenue bucket table "
     "- stats_bucket's big sibling (a3ao), adding sum_of_squares / "
     "population variance / std_deviation. The order-sensitivity "
     "trap: summing 1e17-scale squares as doubles is "
     "reorder-divergent across engines, so SUM and SUM-of-squares "
     "fold as DECIMALS (exact, order-free - bucket revenues are "
     "2-dp-exact doubles; operands widened to DECIMAL(28,2) so "
     "DuckDB's int64 fast path cannot overflow the square). The "
     "three 1e15+-magnitude outputs render as 10-significant-digit "
     "scientific STRINGS: the engines' decimal->double casts differ "
     "by one ulp at that magnitude (observed) and 6-dp rounding "
     "cannot absorb it - fixed-significant-digit formatting is the "
     "magnitude-proof form of the house float rule. Everything after the one fact aggregate is a "
     "bucket-count-sized fold - free at any scale.")
def a3dx_es_extended_stats_bucket(spark, sf_dir):
    from cassandra_elasticsearch_sync_spark.parity import dsum

    o = load_table(spark, sf_dir, "orders")
    buckets = (o.groupBy(F.date_trunc("month", "o_orderdate")
                         .cast("date").alias("key"))
               .agg(dsum("o_totalprice", 2).alias("rev")))
    d = F.col("rev").cast("decimal(28,2)")
    n = F.count(F.lit(1))
    dec_sum = F.sum(d)
    dec_sos = F.sum(d * d)
    avg = dec_sum.cast("double") / n
    var = dec_sos.cast("double") / n - avg * avg
    return buckets.agg(
        n.alias("n_buckets"),
        F.min("rev").alias("min_bucket"),
        F.max("rev").alias("max_bucket"),
        F.round(avg, 6).alias("avg_bucket"),
        dec_sum.cast("double").alias("sum_bucket"),
        F.format_string("%.10e", dec_sos.cast("double"))
        .alias("sum_of_squares"),
        F.format_string("%.10e", var).alias("variance_population"),
        F.format_string("%.10e", F.sqrt(var)).alias("std_deviation"))


# ---------------------------------------------------------------------------
# _explain: per-document relevance debugging (round 12)
# ---------------------------------------------------------------------------

def _explain_clauses(query: dict) -> list[tuple[str, int, dict]]:
    """Decompose a query into its top-level explainable clauses.

    A ``bool`` query explains one row per sub-clause in the ES
    explanation's order (must, filter, should, must_not); any other
    query is a single clause. Each clause re-enters ``compile_query``
    whole, so every leaf the compiler supports explains for free."""
    if "bool" in query and isinstance(query["bool"], dict):
        out = []
        for kind in ("must", "filter", "should", "must_not"):
            sub = query["bool"].get(kind, [])
            if isinstance(sub, dict):
                sub = [sub]
            out.extend((kind, i, c) for i, c in enumerate(sub))
        if out:
            return out
    return [("query", 0, query)]


def _clause_label(kind: str, i: int, clause: dict) -> str:
    """Deterministic clause description: ``kind[i] leaf(field)``."""
    leaf, body = next(iter(clause.items()))
    if isinstance(body, dict) and "field" in body:
        field = body["field"]
    elif isinstance(body, dict):
        field = next(iter(body.keys()), "")
    else:
        field = ""
    return f"{kind}[{i}] {leaf}({field})"


def es_explain(df: DataFrame, *, id_field: str, id_value, query: dict,
               functions: list[dict] | None = None,
               score_mode: str = "sum") -> DataFrame:
    """ES ``GET index/_explain/<id>``: why did (or didn't) ONE document
    match ``query``, and what is its score - the API a client hits
    constantly when debugging relevance. Returns the explanation tree
    FLATTENED to driver-safe scalar rows, ordered by ``ord``:

    - one row per top-level clause (``_explain_clauses``): ``matched``
      is that clause's own verdict on the doc (must_not rows show the
      sub-query's match, exactly like ES's explanation detail);
      ``value`` is the clause's score contribution,
    - one row per scoring function when ``functions`` is given (the
      es_function_score algebra verbatim): ``matched`` is the
      function's own applicability (a filter function's filter), and
      ``value`` its raw contribution on this doc,
    - a final ``total`` row: ``matched`` is the WHOLE query's verdict
      and ``value`` the doc's score - ZERO whenever the doc does not
      match, however the sub-rows land (the ES contract).

    Scoring follows the house deterministic model (BM25 divergence
    documented at es_function_score / the module scoring notes):
    without ``functions``, each matched must/should clause scores a
    constant 1.0 (constant_score semantics - ES's BM25 term weights
    are not reproducible without index statistics); with
    ``functions``, the function_score replace model applies and the
    clause rows score 0.0 (their relevance score is replaced).

    Plan shape: ONE point lookup (the ``id_field == id_value``
    predicate pushes to the scan) + a generate over a literal-built
    struct array - request-bounded at any corpus size. A missing doc
    raises loudly, ES's 404."""
    matched = F.coalesce(compile_query(query), F.lit(False))
    entries = []
    total_terms = []
    ord_n = 0
    for kind, i, clause in _explain_clauses(query):
        cm = F.coalesce(compile_query(clause), F.lit(False))
        if functions is None and kind in ("must", "should", "query"):
            val = F.when(cm, F.lit(1.0)).otherwise(F.lit(0.0))
            total_terms.append(val)
        else:
            val = F.lit(0.0)
        entries.append(F.struct(
            F.lit(ord_n).alias("ord"),
            F.lit(_clause_label(kind, i, clause)).alias("clause"),
            cm.alias("matched"), val.alias("value")))
        ord_n += 1
    fn_terms = []
    for i, fn in enumerate(functions or []):
        if "field_value_factor" in fn:
            body = fn["field_value_factor"]
            term = (F.col(body["field"]).cast("double")
                    * F.lit(float(body.get("factor", 1.0))))
            fm = F.lit(True)
            label = (f"function[{i}] field_value_factor"
                     f"({body['field']} x {float(body.get('factor', 1.0))})")
        elif "filter" in fn:
            fm = F.coalesce(compile_query(fn["filter"]), F.lit(False))
            w = float(fn.get("weight", 1.0))
            term = F.when(fm, F.lit(w)).otherwise(F.lit(0.0))
            label = f"function[{i}] filter(weight={w})"
        else:
            raise ValueError(f"unsupported scoring function {fn!r}")
        fn_terms.append(term)
        entries.append(F.struct(
            F.lit(ord_n).alias("ord"), F.lit(label).alias("clause"),
            fm.alias("matched"), term.alias("value")))
        ord_n += 1
    if functions is not None:
        if not fn_terms:
            raise ValueError("functions must hold at least one function")
        score = fn_terms[0]
        for t in fn_terms[1:]:
            score = (score * t) if score_mode == "multiply" else (score + t)
    else:
        score = total_terms[0] if total_terms else F.lit(0.0)
        for t in total_terms[1:]:
            score = score + t
    entries.append(F.struct(
        F.lit(ord_n).alias("ord"), F.lit("total").alias("clause"),
        matched.alias("matched"),
        F.when(matched, score).otherwise(F.lit(0.0)).alias("value")))
    point = df.filter(F.col(id_field) == F.lit(id_value))
    if point.limit(1).count() == 0:
        raise ValueError(
            f"document {id_field}={id_value!r} not found (ES's 404)")
    return (point.select(F.explode(F.array(*entries)).alias("e"))
            .select(F.col("e.ord").alias("ord"),
                    F.col("e.clause").alias("clause"),
                    F.col("e.matched").alias("matched"),
                    F.round(F.col("e.value"), 6).alias("value"))
            .orderBy("ord"))


@register("a3ea_es_explain", "A3", """
WITH d AS (SELECT * FROM orders WHERE o_orderkey = 1)
SELECT * FROM (
  SELECT 0 AS ord, 'must[0] term(o_orderstatus)' AS clause,
         (o_orderstatus = 'F') AS matched, 0.0 AS value FROM d
  UNION ALL
  SELECT 1, 'should[0] prefix(o_orderpriority)',
         (o_orderpriority LIKE '1-%'), 0.0 FROM d
  UNION ALL
  SELECT 2, 'must_not[0] range(o_totalprice)',
         (o_totalprice < 1000.0), 0.0 FROM d
  UNION ALL
  SELECT 3, 'function[0] field_value_factor(o_totalprice x 0.5)',
         TRUE, ROUND(o_totalprice * 0.5, 6) FROM d
  UNION ALL
  SELECT 4, 'function[1] filter(weight=1000.0)',
         (o_orderpriority LIKE '1-%'),
         CASE WHEN o_orderpriority LIKE '1-%' THEN 1000.0 ELSE 0.0 END
  FROM d
  UNION ALL
  SELECT 5, 'total',
         (o_orderstatus = 'F' AND NOT coalesce(o_totalprice < 1000.0,
                                               FALSE)),
         CASE WHEN o_orderstatus = 'F'
                   AND NOT coalesce(o_totalprice < 1000.0, FALSE)
              THEN ROUND(o_totalprice * 0.5
                         + CASE WHEN o_orderpriority LIKE '1-%'
                                THEN 1000.0 ELSE 0.0 END, 6)
              ELSE 0.0 END
  FROM d
) ORDER BY ord
""", "ES _explain for one document (es_explain): order #1 explained "
     "against a bool query (must term, should prefix, must_not "
     "range) under a function_score scoring model - one row per "
     "clause with its own matched verdict and contribution, one row "
     "per scoring function, and a total row whose value is ZERO "
     "unless the whole query matches. The per-clause rows are what a "
     "relevance engineer reads to see WHICH leg failed. House "
     "deterministic scoring (constant_score / function_score "
     "replace; the BM25 divergence is documented on the scoring "
     "module notes). One point-pruned scan + a literal struct-array "
     "generate: request-bounded at any corpus size.")
def a3ea_es_explain(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return es_explain(
        o, id_field="o_orderkey", id_value=1,
        query={"bool": {
            "must": [{"term": {"o_orderstatus": "F"}}],
            "should": [{"prefix": {"o_orderpriority": "1-"}}],
            # ES's default when must is present: should is OPTIONAL
            # (the house compiler's bare-should default is mandatory,
            # so the ES default is spelled out)
            "minimum_should_match": 0,
            "must_not": [{"range": {"o_totalprice": {"lt": 1000.0}}}],
        }},
        functions=[
            {"field_value_factor": {"field": "o_totalprice",
                                    "factor": 0.5}},
            {"filter": {"prefix": {"o_orderpriority": "1-"}},
             "weight": 1000.0},
        ])


# ---------------------------------------------------------------------------
# parent aggregation + terms_set per-doc threshold (round 12)
# ---------------------------------------------------------------------------

def es_parent_agg(parent_df: DataFrame, child_df: DataFrame, *,
                  parent_key: str, child_key: str, bucket_field: str,
                  parent_aggs: dict, size: int = 10) -> DataFrame:
    """ES ``parent`` aggregation: buckets over a CHILD field whose
    sub-aggs run over each bucket's PARENTS - the child-to-parent
    reverse of ``es_children_agg`` (a3ce), completing the join-field
    agg family. ES semantics pinned here: ``doc_count`` is the number
    of DISTINCT parents the bucket's children reach (a parent with
    many children in the bucket counts ONCE - what distinguishes this
    agg from a plain join-and-group), and sub-aggs fold PARENT
    fields.

    Compilation follows reverse_nested's discipline - the grouped
    partial comes BEFORE the co-keyed join: the child scan reduces to
    DISTINCT (bucket, parent_key) pairs (map-side partial distinct,
    |buckets x parents|-bounded shuffle), the parent relation projects
    to key + referenced fields only, the equi-join is
    AQE-broadcastable when the parent projection is small, and ONE
    grouped aggregate folds the parent metrics per bucket. The child
    scan is never widened and no step grows faster than the scans.
    ``parent_aggs``: {name: (kind, parent_field)} with kind in
    sum|avg|min|max|count (sums/avgs decimal-exact via dsum/davg)."""
    from cassandra_elasticsearch_sync_spark.parity import davg, dsum

    pairs = (child_df
             .select(F.col(bucket_field).alias("key"),
                     F.col(child_key).alias(parent_key))
             .distinct())
    fields = sorted({f for _, f in parent_aggs.values()})
    proj = parent_df.select(parent_key, *fields)
    joined = pairs.join(proj, parent_key, "inner")
    aggs = [F.count("*").alias("doc_count")]
    for name, (kind, field) in parent_aggs.items():
        if kind == "sum":
            aggs.append(dsum(F.col(field)).alias(name))
        elif kind == "avg":
            aggs.append(F.round(davg(F.col(field)), 6).alias(name))
        elif kind == "min":
            aggs.append(F.min(field).alias(name))
        elif kind == "max":
            aggs.append(F.max(field).alias(name))
        elif kind == "count":
            aggs.append(F.count(field).alias(name))
        else:
            raise ValueError(f"unsupported parent sub-agg {kind!r}")
    return (joined.groupBy("key").agg(*aggs)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(int(size)))


@register("a3ec_es_parent_agg", "A3+D1+C1", """
WITH pairs AS (
  SELECT DISTINCT l_returnflag AS key, l_orderkey FROM lineitem
)
SELECT p.key, COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,10)))
                 AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
       MAX(o.o_orderpriority) AS max_priority
FROM pairs p JOIN orders o ON p.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 5
""", "ES parent aggregation - the child-to-parent REVERSE of the "
     "children agg (a3ce), completing the join-field agg family: "
     "CHILD lineitems bucket by return flag, and each bucket's "
     "sub-aggs fold its DISTINCT PARENT orders (revenue sum "
     "decimal-exact, max priority). doc_count is the distinct-parent "
     "count - an order with five 'R' lines counts once - which is "
     "what separates this agg from a plain join-and-group. The "
     "grouped partial (DISTINCT bucket/parent-key pairs) comes "
     "BEFORE the co-keyed join, reverse_nested's discipline, so the "
     "child scan reduces map-side and the join is "
     "|buckets x parents|-bounded at any corpus size.")
def a3ec_es_parent_agg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return es_parent_agg(
        o, li, parent_key="o_orderkey", child_key="l_orderkey",
        bucket_field="l_returnflag",
        parent_aggs={"revenue": ("sum", "o_totalprice"),
                     "max_priority": ("max", "o_orderpriority")},
        size=5)


@register("a3eb_es_terms_set_field", "A3+B3", """
SELECT doc_id, lang, n_chars
FROM documents
WHERE LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(text, ' '),
          x -> x IN ('key', 'agg', 'row')))) >= (doc_id % 3)
""", "ES terms_set with minimum_should_match_FIELD - the per-document "
     "threshold form (a required_matches column written at index "
     "time, ES's canonical pattern): each document requires its OWN "
     "count of matching terms, here doc_id % 3 in {0, 1, 2}, so "
     "zero-threshold always-match, single-term, and multi-term "
     "requirements are all driver-visible in one result. Compiles to "
     "the same JVM array_intersect as the constant form compared "
     "against the threshold column - one scan, no explode, no "
     "shuffle; minimum_should_match_script is rejected loudly.")
def a3eb_es_terms_set_field(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    d = (d.withColumn("tokens", F.split(F.col("text"), " "))
         .withColumn("required", (F.col("doc_id") % 3).cast("int")))
    return (es_search(d, {"terms_set": {"tokens": {
                "terms": ["key", "agg", "row"],
                "minimum_should_match_field": "required"}}})
            .select("doc_id", "lang", "n_chars"))


# ---------------------------------------------------------------------------
# TSDB tail: time_series + change_point aggs, span_field_masking (round 12)
# ---------------------------------------------------------------------------

def es_time_series(df: DataFrame, *, dimensions: list[str],
                   metrics: dict | None = None,
                   size: int = 10) -> DataFrame:
    """ES TSDB ``time_series`` aggregation: one bucket per time-series
    id (the tuple of DIMENSION field values), doc_count plus metric
    sub-aggs per series - what a metrics UI calls to enumerate
    series. The tsid key is returned FLATTENED to one output column
    per dimension (driver-safe scalars; ES's key object carries the
    same pairs), ordered by the dimension tuple ascending - ES's tsid
    ordering - with the size cap as a total-ordered limit
    (TakeOrderedAndProject). One hash aggregate with map-side
    partials; |series|-bounded shuffle at any corpus size.
    ``metrics``: {name: (kind, field)}, kind in sum|avg|min|max|count
    (sums/avgs decimal-exact via dsum/davg)."""
    from cassandra_elasticsearch_sync_spark.parity import davg, dsum

    if not dimensions:
        raise ValueError("time_series needs at least one dimension")
    aggs = [F.count("*").alias("doc_count")]
    for name, (kind, field) in (metrics or {}).items():
        if kind == "sum":
            aggs.append(dsum(F.col(field)).alias(name))
        elif kind == "avg":
            aggs.append(F.round(davg(F.col(field)), 6).alias(name))
        elif kind == "min":
            aggs.append(F.min(field).alias(name))
        elif kind == "max":
            aggs.append(F.max(field).alias(name))
        elif kind == "count":
            aggs.append(F.count(field).alias(name))
        else:
            raise ValueError(f"unsupported time_series metric {kind!r}")
    return (df.groupBy(*dimensions).agg(*aggs)
            .orderBy(*[F.asc(d) for d in dimensions])
            .limit(int(size)))


_CHANGE_POINT_MIN_BUCKETS = 22   # ES's documented minimum


def es_change_point(buckets: DataFrame, *, series_col: str,
                    key_col: str, value_col: str) -> DataFrame:
    """ES ``change_point`` sibling pipeline agg: where did each
    bucketed metric series most likely shift - the 'when did this
    regress' primitive. Input is a BUCKET table (one row per
    series/key, e.g. a date_histogram output - calendar-bounded
    cardinality, the window-safety argument), ``value_col`` must be
    an exact INTEGER metric (a count, or a caller-scaled fixed-point
    value - k7o's cents discipline).

    DOCUMENTED DIVERGENCE (the geohex/categorize_text style): ES
    change_point runs a battery of ML tests (step_change, spike, dip,
    trend_change, distribution_change) with simulation-based
    p-values - not reproducible on any deterministic engine. This
    compiler is the deterministic CUSUM step-change REFERENCE: the
    change point is the key t* maximizing |n*S_t - t*S_n| (the
    cross-multiplied CUSUM form - every quantity an exact integer,
    bit-deterministic argmax, earliest-key tiebreak), `type` is
    'step_change', and `score` is that max deviation in place of ES's
    p_value. Series shorter than ES's documented 22-bucket minimum
    answer type='indeterminable' with NULL change point and score,
    exactly as ES reports too-short input.

    One pass of partitioned windows over the bounded bucket series +
    one grouped argmax - nothing scales with the RAW corpus, only
    with |series x buckets|."""
    from pyspark.sql import Window

    w = (Window.partitionBy(series_col).orderBy(key_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wp = Window.partitionBy(series_col)
    v = F.col(value_col).cast("bigint")
    cum = buckets.select(
        F.col(series_col).alias("series"), F.col(key_col).alias("key"),
        F.sum(v).over(w).alias("s_t"),
        F.row_number().over(
            Window.partitionBy(series_col).orderBy(key_col)).alias("t"),
        F.sum(v).over(wp).alias("s_n"),
        F.count("*").over(wp).alias("n"))
    dev = cum.select(
        "series", "key", "n",
        F.abs(F.col("n") * F.col("s_t") - F.col("t") * F.col("s_n"))
         .alias("dev"))
    ok = F.col("n") >= _CHANGE_POINT_MIN_BUCKETS
    return (dev.groupBy("series").agg(
                F.max("n").alias("n"),
                F.min_by("key", F.struct(F.negate(F.col("dev")),
                                         F.col("key"))).alias("cp"),
                F.max("dev").alias("max_dev"))
            .select(
                "series",
                F.when(ok, F.lit("step_change"))
                 .otherwise(F.lit("indeterminable")).alias("type"),
                F.when(ok, F.col("cp")).alias("change_point"),
                F.when(ok, F.col("max_dev")).alias("score"),
                F.col("n").alias("n_buckets"))
            .orderBy("series"))


@register("a3ed_es_change_point", "A3+K7", """
WITH daily AS (
  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, day, cnt,
         SUM(cnt) OVER w AS s_t,
         ROW_NUMBER() OVER w AS t,
         SUM(cnt) OVER (PARTITION BY event_type) AS s_n,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)
),
dev AS (
  SELECT event_type, day, n, ABS(n * s_t - t * s_n) AS dev FROM cum
)
SELECT event_type AS series,
       CASE WHEN n >= 22 THEN 'step_change'
            ELSE 'indeterminable' END AS type,
       CASE WHEN n >= 22
            THEN MIN(day) FILTER (WHERE dev = max_dev) END AS change_point,
       CASE WHEN n >= 22 THEN CAST(max_dev AS BIGINT) END AS score,
       n AS n_buckets
FROM (SELECT *, MAX(dev) OVER (PARTITION BY event_type) AS max_dev
      FROM dev)
GROUP BY event_type, n, max_dev
ORDER BY series
""", "ES change_point agg over each event type's daily doc-count "
     "series (the agg's canonical input: a date_histogram count) - "
     "the deterministic CUSUM step-change reference for ES's "
     "simulation-based detector, divergence documented on "
     "es_change_point: argmax |n*S_t - t*S_n| in exact integers, "
     "earliest-day tiebreak, series under ES's 22-bucket minimum "
     "answer 'indeterminable' with NULL change point. The named ES "
     "API over k7o's proven math; windows partition by series over "
     "the calendar-bounded day table, never the raw scan.")
def a3ed_es_change_point(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
                "event_type",
                F.to_date(F.date_trunc("day", "ts")).alias("day"))
             .agg(F.count("*").alias("cnt")))
    return es_change_point(daily, series_col="event_type",
                           key_col="day", value_col="cnt")


@register("a3ee_es_time_series", "A3+D1", """
SELECT event_type, CAST(user_id % 8 AS BIGINT) AS host,
       COUNT(*) AS doc_count,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10)))
                 AS DECIMAL(38,2)) AS DOUBLE) AS total_value,
       MAX(event_id) AS last_event
FROM events
GROUP BY 1, 2
ORDER BY event_type ASC, host ASC
LIMIT 20
""", "ES TSDB time_series aggregation: one bucket per time-series id "
     "- the (event_type, host) dimension tuple, host derived as "
     "user_id % 8 the way a TSDB route key would be - with doc_count "
     "and metric sub-aggs per series (decimal-exact sum), tsid-ASC "
     "ordering and the size cap as ES pages it. The key is flattened "
     "to one driver-safe column per dimension. ONE hash aggregate "
     "with map-side partials; |series|-bounded shuffle, "
     "TakeOrderedAndProject page at any corpus size.")
def a3ee_es_time_series(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("host", (F.col("user_id") % 8).cast("bigint"))
    return es_time_series(
        ev, dimensions=["event_type", "host"],
        metrics={"total_value": ("sum", "value"),
                 "last_event": ("max", "event_id")},
        size=20)


@register("a3ef_es_span_field_masking", "A3+B3", """
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         STRING_SPLIT(LOWER(text), ' ') AS w
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM toks
WHERE LEN(LIST_FILTER(RANGE(1, LEN(w)),
          i -> w[i] = 'merge'
               AND SUBSTRING(w[i + 1], 1, 1) = 'b')) > 0
ORDER BY doc_id
""", "ES span_field_masking: a span_near pairing span_term('merge') "
     "on text with a span clause on a DIFFERENT field - 'initials' "
     "(each token's first character, the alternate-analysis-of-the-"
     "same-text idiom that is the mask's documented use) - masked AS "
     "text so the compound's shared-field validation accepts it, "
     "while its positions come from its own field's token stream "
     "(Lucene's SpanFieldMaskingQuery). Matches documents where "
     "'merge' is immediately followed by a b-initial token. Same "
     "one-split interval algebra, one scan, no explode; ES's "
     "position-alignment caveat applies verbatim and holds here by "
     "construction.")
def a3ef_es_span_field_masking(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn(
        "initials",
        F.array_join(F.transform(F.split(F.lower(F.col("text")), " "),
                                 lambda t: F.substring(t, 1, 1)), " "))
    q = {"span_near": {"clauses": [
        {"span_term": {"text": "merge"}},
        {"span_field_masking": {
            "query": {"span_term": {"initials": "b"}},
            "field": "text"}},
    ], "slop": 0, "in_order": True}}
    return (es_search(d, q).select("doc_id", "lang", "n_chars")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# _validate/query (round 12)
# ---------------------------------------------------------------------------

def render_query(q: dict) -> str:
    """Canonical Lucene-syntax rendering of a query-DSL dict - the
    ``explanation`` string ES's ``_validate/query?explain=true``
    returns (ES renders the REWRITTEN Lucene query; this renders the
    house compiler's parse of the same clause tree, deterministically:
    clause order preserved, range bounds in Lucene's ``[lo TO hi}``
    bracket notation, bool occurs as ``+``/``-``/``#``). Leaves the
    renderer does not know fall back to ``kind(<canonical json>)``
    rather than guessing Lucene spellings."""
    import json as _json

    if not isinstance(q, dict) or len(q) != 1:
        raise ValueError(f"expected a single-clause query dict, got {q!r}")
    kind, body = next(iter(q.items()))
    if kind == "match_all":
        return "*:*"
    if kind == "match_none":
        return "-*:*"
    if kind == "term":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["value"]
        return f"{field}:{value}"
    if kind == "terms":
        (field, values), = body.items()
        return f"{field}:(" + " OR ".join(str(v) for v in values) + ")"
    if kind == "range":
        (field, conds), = body.items()
        lo = conds.get("gte", conds.get("gt"))
        hi = conds.get("lte", conds.get("lt"))
        lb = "[" if "gte" in conds or ("gt" not in conds) else "{"
        rb = "]" if "lte" in conds or ("lt" not in conds) else "}"
        return (f"{field}:{lb}{'*' if lo is None else lo} TO "
                f"{'*' if hi is None else hi}{rb}")
    if kind == "prefix":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["value"]
        return f"{field}:{value}*"
    if kind == "wildcard":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["value"]
        return f"{field}:{value}"
    if kind == "exists":
        return f"_exists_:{body['field']}"
    if kind == "ids":
        vals = body["values"]
        return "_id:(" + " OR ".join(str(v) for v in vals) + ")"
    if kind == "match_phrase":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["query"]
        return f'{field}:"{value}"'
    if kind == "match":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["query"]
        toks = str(value).split()
        if len(toks) == 1:
            return f"{field}:{toks[0]}"
        return "(" + " ".join(f"{field}:{t}" for t in toks) + ")"
    if kind == "bool":
        parts = []
        for occ, sig in (("must", "+"), ("filter", "#"),
                         ("must_not", "-"), ("should", "")):
            clauses = body.get(occ, [])
            if isinstance(clauses, dict):
                clauses = [clauses]
            for c in clauses:
                parts.append(f"{sig}({render_query(c)})")
        return "(" + " ".join(parts) + ")"
    return f"{kind}({_json.dumps(body, sort_keys=True)})"


def es_validate_query(df: DataFrame, *, query: dict,
                      explain: bool = False) -> DataFrame:
    """ES ``GET index/_validate/query[?explain=true]``: does this DSL
    body compile, without running it. ``valid`` is the house
    compiler's verdict (the same ``compile_query`` every search API
    uses - so a query this API blesses is exactly a query
    ``es_search`` will accept); on failure ``error`` carries the
    compiler's message (ES's ``explanations[0].error``), and with
    ``explain=true`` a valid query also returns the canonical Lucene
    rendering (ES returns the rewritten Lucene query; the rendering
    divergence is documented on ``render_query``). Like ES, UNKNOWN
    FIELDS do not invalidate a query - ES validates against the
    mapping leniently (an unmapped field simply matches nothing), so
    only structural/DSL errors fail. One literal row from the
    session; no scan at all - validation is metadata work, constant
    at any corpus size."""
    spark = df.sparkSession
    try:
        compile_query(query)
        valid, err = True, None
        expl = render_query(query) if explain else None
    except (ValueError, KeyError, TypeError) as e:
        valid, err, expl = False, f"{type(e).__name__}: {e}", None
    return spark.range(1).select(
        F.lit(valid).alias("valid"),
        F.lit(expl).cast("string").alias("explanation"),
        F.lit(err).cast("string").alias("error"))


@register("a3ei_es_validate_query", "A3", """
SELECT 0 AS qid, TRUE AS valid,
       CAST(NULL AS VARCHAR) AS explanation,
       CAST(NULL AS VARCHAR) AS error
UNION ALL
SELECT 1, TRUE,
       '(+(o_orderstatus:F) #(o_totalprice:[1000.0 TO *]) '
       || '-(o_orderpriority:5-LOW*) (o_comment:"quick brown"))',
       CAST(NULL AS VARCHAR)
UNION ALL
SELECT 2, FALSE, CAST(NULL AS VARCHAR),
       'ValueError: unsupported ES query clause: made_up_clause'
UNION ALL
SELECT 3, FALSE, CAST(NULL AS VARCHAR),
       'ValueError: wildcard values containing a backslash use ES '
       || 'escape semantics (''\\*'' = literal star) which this '
       || 'compiler does not implement; remove the backslash'
UNION ALL
SELECT 4, TRUE, 'o_totalprice:{500.0 TO 900.0}',
       CAST(NULL AS VARCHAR)
ORDER BY qid
""", "ES _validate/query (es_validate_query): five request bodies "
     "validated WITHOUT running them - a bare term (no explain), a "
     "four-occur bool under explain=true returning the canonical "
     "Lucene rendering (+must #filter -must_not should, phrase "
     "quoting, prefix star), an unknown clause kind and an "
     "ES-escape wildcard both INVALID with the compiler's loud "
     "message in error (the exact message every search API raises - "
     "validate and search share one compiler, so the blessing is "
     "real), and an exclusive range rendered with Lucene's curly "
     "bounds. Unknown FIELDS stay valid, ES's lenient-mapping rule. "
     "No scan: validation is metadata work, constant at any corpus "
     "size.")
def a3ei_es_validate_query(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    probes = [
        ({"term": {"o_orderstatus": "F"}}, False),
        ({"bool": {
            "must": [{"term": {"o_orderstatus": "F"}}],
            "filter": [{"range": {"o_totalprice": {"gte": 1000.0}}}],
            "must_not": [{"prefix": {"o_orderpriority": "5-LOW"}}],
            "should": [{"match_phrase": {"o_comment": "quick brown"}}],
        }}, True),
        ({"made_up_clause": {"x": 1}}, True),
        ({"wildcard": {"o_comment": "a\\*b"}}, True),
        ({"range": {"o_totalprice": {"gt": 500.0, "lt": 900.0}}}, True),
    ]
    out = None
    for i, (q, ex) in enumerate(probes):
        one = es_validate_query(o, query=q, explain=ex).select(
            F.lit(i).alias("qid"), "valid", "explanation", "error")
        out = one if out is None else out.unionByName(one)
    return out.orderBy("qid")


# ---------------------------------------------------------------------------
# _search_shards (round 12)
# ---------------------------------------------------------------------------

def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86_32 (Austin Appleby's public-domain algorithm),
    returned as Java's SIGNED 32-bit int - the hash under ES's
    Murmur3HashFunction document routing."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def es_routing_hash(routing: str) -> int:
    """ES's Murmur3HashFunction.hash(String): each UTF-16 code unit
    packed as two little-endian bytes (charAt order, no surrogate
    special-casing - Java's exact byte recipe), murmur3_32 seed 0."""
    data = bytearray()
    for ch in routing:
        c = ord(ch)
        if c > 0xFFFF:  # non-BMP: Java sees two surrogate chars
            c -= 0x10000
            for unit in (0xD800 + (c >> 10), 0xDC00 + (c & 0x3FF)):
                data += bytes((unit & 0xFF, (unit >> 8) & 0xFF))
        else:
            data += bytes((c & 0xFF, (c >> 8) & 0xFF))
    return _murmur3_32(bytes(data), 0)


def es_default_routing_shards(num_shards: int) -> int:
    """ES's calculateNumRoutingShards (indices created >= 7.0): the
    largest num_shards * 2^n <= 1024, i.e. headroom to split in
    factors of two up to 1024 shards; an index already over 1024
    shards gets no headroom."""
    if num_shards >= 1024:
        return num_shards
    log2 = (num_shards - 1).bit_length()  # ceil(log2(num_shards))
    return num_shards << (10 - log2)


def es_shard_for_routing(routing: str, num_shards: int,
                         num_routing_shards: int | None = None) -> int:
    """Which shard a routing value lands on - ES's OperationRouting:
    ``floorMod(murmur3(routing), num_routing_shards) /
    routing_factor`` with routing_factor = num_routing_shards /
    num_shards. Python's % on a positive modulus IS floorMod."""
    nrs = (es_default_routing_shards(num_shards)
           if num_routing_shards is None else num_routing_shards)
    if nrs % num_shards != 0:
        raise ValueError(
            f"num_routing_shards {nrs} must be a multiple of "
            f"num_shards {num_shards} (ES's factor-of-two split rule)")
    return (es_routing_hash(routing) % nrs) // (nrs // num_shards)


def es_search_shards(spark, *, index: str, num_shards: int,
                     routings: list[str],
                     num_routing_shards: int | None = None) -> DataFrame:
    """ES ``GET index/_search_shards?routing=...``: the shard each
    routing value addresses - the API an operator uses to see where a
    custom-routed document lives (and the math the ``_bulk`` sink
    would partition by against a real cluster). The routing list is
    the REQUEST - bounded by construction; the computation is the
    exact Java byte-for-byte recipe (UTF-16LE code units, murmur3_32
    seed 0, floorMod then routing-factor division), hand-tested
    against the public murmurhash3 reference vectors. One literal
    DataFrame; no scan at any corpus size."""
    rows = [(index, r, es_shard_for_routing(r, num_shards,
                                            num_routing_shards))
            for r in routings]
    return local_relation(
        spark, rows, "index string, routing string, shard int")


_SEARCH_SHARDS_ROUTINGS = [str(k) for k in range(1, 21)] + [
    "user_a", "user_b", "tenant-1", "tenant-2"]


def _search_shards_oracle() -> str:
    """GENERATED shared-literal oracle (the geohash a3cl discipline):
    the expected rows come from the same pure routing function the
    query calls, itself pinned to the public murmur3 reference
    vectors in the hand tests."""
    rows = ", ".join(
        f"('orders', '{r}', {es_shard_for_routing(r, 5)})"
        for r in _SEARCH_SHARDS_ROUTINGS)
    return ("SELECT * FROM (VALUES " + rows +
            ') AS t("index", routing, shard)')


@register("a3ej_es_search_shards", "A3", _search_shards_oracle(),
          "ES _search_shards: shard placement for 24 routing values "
          "on a five-shard index under the default "
          "number_of_routing_shards (5*128=640, ES's factor-of-two "
          "split headroom) - the exact Murmur3HashFunction recipe "
          "(UTF-16LE code-unit bytes, seed 0, floorMod, routing "
          "factor). The oracle is GENERATED from the same pure "
          "function (the geohash shared-literal discipline) and the "
          "hash itself is pinned to the public murmur3 reference "
          "vectors in the hand tests; a routing value's shard is an "
          "ES-portable fact a client can verify against a real "
          "cluster. Request-bounded: no scan.")
def a3ej_es_search_shards(spark, sf_dir):
    return es_search_shards(spark, index="orders", num_shards=5,
                            routings=_SEARCH_SHARDS_ROUTINGS)


# ---------------------------------------------------------------------------
# rule query (query rules, round 12)
# ---------------------------------------------------------------------------

def _rule_criterion_matches(criterion: dict, match_criteria: dict) -> bool:
    """One query-rules criterion against the request's
    ``match_criteria``. Public criterion types: ``always`` plus
    metadata comparators, each matching when the request value matches
    ANY of the criterion's values (ES's any-of rule). The fuzzy
    criterion types are rejected loudly - ES's fuzzy uses
    Damerau-Levenshtein with AUTO fuzziness, which this engine does
    not reproduce (the same no-transpositions caution documented on
    the fuzzy query leaves)."""
    ctype = criterion.get("type")
    if ctype == "always":
        return True
    if ctype in ("fuzzy", "exact_fuzzy"):
        raise ValueError(
            f"query-rules criterion type {ctype!r} (Damerau-Levenshtein "
            "AUTO fuzziness) is not implemented; use exact/prefix/"
            "suffix/contains")
    meta = criterion["metadata"]
    if meta not in match_criteria:
        return False
    got = match_criteria[meta]
    values = criterion["values"]
    if ctype == "exact":
        return any(got == v for v in values)
    if ctype == "prefix":
        return any(str(got).startswith(str(v)) for v in values)
    if ctype == "suffix":
        return any(str(got).endswith(str(v)) for v in values)
    if ctype == "contains":
        return any(str(v) in str(got) for v in values)
    if ctype in ("lt", "lte", "gt", "gte"):
        import operator as _op
        cmp = {"lt": _op.lt, "lte": _op.le,
               "gt": _op.gt, "gte": _op.ge}[ctype]
        return any(cmp(float(got), float(v)) for v in values)
    raise ValueError(f"unsupported query-rules criterion type {ctype!r}")


def es_rule_query(df: DataFrame, *, id_col: str, organic: dict,
                  rulesets: list[dict], match_criteria: dict,
                  sort: list[tuple[str, str]], size: int = 10) -> DataFrame:
    """ES ``rule`` query (query rules): a curated layer over an
    organic query - rules whose criteria ALL match the request's
    ``match_criteria`` fire their actions: ``pinned`` ids rank first
    (rule order, then id order - ES's processing order), ``exclude``
    ids drop from the results entirely. The ruleset is search
    CONFIGURATION (request-bounded by construction), so criteria
    evaluate driver-side exactly like ES's coordinator does, and the
    result compiles to the SAME one-scan plan as the pinned query
    (organic-or-pinned filter, array_position rank, one
    TakeOrderedAndProject) with the exclusion folded into the scan
    filter. An id both pinned and excluded by matching rules is
    rejected loudly - ES's interplay there is unspecified, and this
    engine does not guess."""
    pinned: list = []
    excluded: list = []
    for ruleset in rulesets:
        for rule in ruleset["rules"]:
            crits = rule.get("criteria", [])
            if not all(_rule_criterion_matches(c, match_criteria)
                       for c in crits):
                continue
            ids = rule["actions"]["ids"]
            bucket = {"pinned": pinned, "exclude": excluded}.get(
                rule["type"])
            if bucket is None:
                raise ValueError(
                    f"unsupported query-rules rule type {rule['type']!r}")
            bucket.extend(i for i in ids if i not in bucket)
    both = [i for i in pinned if i in excluded]
    if both:
        raise ValueError(
            f"ids {both} are pinned and excluded by matching rules; "
            "ES leaves this interplay unspecified - fix the ruleset")
    base = (df.filter(~F.col(id_col).isin(*excluded))
            if excluded else df)
    if pinned:
        return es_pinned_search(base, id_col, pinned, organic, sort,
                                size)
    order = [(F.col(c).desc() if d == "desc" else F.col(c).asc())
             for c, d in sort]
    return (base.filter(compile_query(organic))
            .orderBy(*order).limit(int(size)))


@register("a3ek_es_rule_query", "A3+F3", """
WITH pins AS (
  SELECT CAST(k AS BIGINT) AS o_orderkey, pin
  FROM (VALUES (11, 1), (7, 2), (4, 3)) AS t(k, pin)
),
hits AS (
  SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
         COALESCE(p.pin, 4) AS pin
  FROM orders o LEFT JOIN pins p ON o.o_orderkey = p.o_orderkey
  WHERE ((o.o_orderstatus = 'F' AND o.o_totalprice > 350000)
         OR p.pin IS NOT NULL)
    AND o.o_orderkey NOT IN (32, 33)
)
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM hits
ORDER BY pin ASC, o_totalprice DESC, o_orderkey ASC
LIMIT 10
""", "ES rule query (query rules): the curated search layer - an "
     "exact user_query criterion pins orders 11 and 7, a contains "
     "criterion on the same request pins 4 behind them (rule order = "
     "pin order, ES's processing order), a gte criterion on the "
     "request's price_floor metadata fires an EXCLUDE dropping "
     "orders 32 and 33 from the organic results, and a non-matching "
     "rule provably contributes nothing. Criteria evaluate on the "
     "request's match_criteria driver-side (the ruleset is search "
     "config, request-bounded) and the result is the SAME one-scan "
     "pinned plan with the exclusion folded into the filter; "
     "fuzzy criteria and pin/exclude collisions are rejected loudly.")
def a3ek_es_rule_query(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    rulesets = [{"rules": [
        {"rule_id": "promote-favorites", "type": "pinned",
         "criteria": [{"type": "exact", "metadata": "user_query",
                       "values": ["best orders", "top orders"]}],
         "actions": {"ids": [11, 7]}},
        {"rule_id": "promote-on-orders", "type": "pinned",
         "criteria": [{"type": "contains", "metadata": "user_query",
                       "values": ["orders"]}],
         "actions": {"ids": [4]}},
        {"rule_id": "hide-recalled", "type": "exclude",
         "criteria": [{"type": "gte", "metadata": "price_floor",
                       "values": [100000]}],
         "actions": {"ids": [32, 33]}},
        {"rule_id": "never-fires", "type": "pinned",
         "criteria": [{"type": "prefix", "metadata": "user_query",
                       "values": ["zzz"]}],
         "actions": {"ids": [999]}},
    ]}]
    return es_rule_query(
        o, id_col="o_orderkey",
        organic={"bool": {"filter": [
            {"term": {"o_orderstatus": "F"}},
            {"range": {"o_totalprice": {"gt": 350000}}},
        ]}},
        rulesets=rulesets,
        match_criteria={"user_query": "best orders",
                        "price_floor": 250000},
        sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        size=10,
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
